"""PageRank / degree stats vs an independent numpy power iteration."""

import numpy as np
import pytest

from sema_spark.operators.graph import degree_stats, pagerank, triangles

EDGES = [
    ("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"),
    ("d", "c"),  # d has no in-edges
    ("c", "e"),  # e is dangling (no out-edges)
    ("a", "b"),  # parallel edge — must count once
]


def _numpy_pagerank(edges, iterations=10, damping=0.85):
    nodes = sorted({x for e in edges for x in e})
    idx = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    dedup = sorted(set(edges))
    outdeg = np.zeros(n)
    for s, _ in dedup:
        outdeg[idx[s]] += 1
    r = np.full(n, 1.0 / n)
    for _ in range(iterations):
        flowed = np.zeros(n)
        for s, d in dedup:
            flowed[idx[d]] += r[idx[s]] / outdeg[idx[s]]
        dangling = r[outdeg == 0].sum()
        r = (1 - damping) / n + damping * (flowed + dangling / n)
    return {v: r[idx[v]] for v in nodes}


@pytest.fixture()
def edges_df(spark):
    return spark.createDataFrame(EDGES, "src string, dst string")


def test_pagerank_matches_numpy(spark, edges_df):
    got = {r.id: r.rank for r in pagerank(edges_df, iterations=10).collect()}
    expect = _numpy_pagerank(EDGES, iterations=10)
    assert set(got) == set(expect)
    for k in expect:
        assert got[k] == pytest.approx(expect[k], abs=1e-12), k
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)  # mass conserved
    # c receives from a, b, d → highest rank
    assert max(got, key=got.get) == "c"


def test_degree_stats(spark, edges_df):
    got = {r.id: (r.out_degree, r.in_degree) for r in degree_stats(edges_df).collect()}
    # parallel edge a→b counts twice here (degree is over the multiset)
    assert got["a"] == (3, 1)
    assert got["e"] == (0, 1)
    assert got["d"] == (1, 0)


def _py_triangles(edges):
    """Independent reference: brute-force triangle enumeration."""
    und = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
    nodes = sorted({x for e in und for x in e})
    out = set()
    for i, a in enumerate(nodes):
        for b in nodes[i + 1:]:
            if (a, b) not in und:
                continue
            for c in nodes[nodes.index(b) + 1:]:
                if (b, c) in und and (a, c) in und:
                    out.add((a, b, c))
    return out


def test_triangles_matches_bruteforce(spark):
    edges = [
        ("a", "b"), ("b", "c"), ("c", "a"),        # triangle abc
        ("c", "d"), ("d", "a"),                     # triangle acd
        ("b", "a"),                                 # reverse duplicate
        ("e", "e"),                                 # self loop: ignored
        ("d", "e"),                                 # dangling edge
        ("a", "b"),                                 # parallel duplicate
    ]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {(r.a, r.b, r.c) for r in triangles(df).collect()}
    assert got == _py_triangles(edges) == {("a", "b", "c"), ("a", "c", "d")}


def test_triangles_each_emitted_once(spark):
    # K4: 4 triangles, each exactly once despite 6 edges in both directions
    nodes = ["w", "x", "y", "z"]
    edges = [(u, v) for u in nodes for v in nodes if u != v]
    df = spark.createDataFrame(edges, "src string, dst string")
    rows = triangles(df).collect()
    assert len(rows) == 4 == len({(r.a, r.b, r.c) for r in rows})
    assert all(r.a < r.b < r.c for r in rows)


def test_k_hop_min_distance(spark):
    # chain a->b->c->d plus shortcut a->c: dist(c) must be 1, not 2
    edges = [("a", "b"), ("b", "c"), ("c", "d"), ("a", "c")]
    df = spark.createDataFrame(edges, "src string, dst string")
    seeds = spark.createDataFrame([("a",)], "node string")
    from sema_spark.operators.graph import k_hop

    got = {r.node: r.dist for r in k_hop(df, seeds, k=2).collect()}
    assert got == {"a": 0, "b": 1, "c": 1, "d": 2}
    # k=1 must not reach d
    got1 = {r.node: r.dist for r in k_hop(df, seeds, k=1).collect()}
    assert got1 == {"a": 0, "b": 1, "c": 1}


def test_k_hop_cycle_terminates_with_min_dist(spark):
    edges = [("x", "y"), ("y", "x"), ("y", "z")]
    df = spark.createDataFrame(edges, "src string, dst string")
    seeds = spark.createDataFrame([("x",)], "node string")
    from sema_spark.operators.graph import k_hop

    got = {r.node: r.dist for r in k_hop(df, seeds, k=3).collect()}
    assert got == {"x": 0, "y": 1, "z": 2}


def _py_kcore(edges, k):
    # DELIBERATELY independent of corpus.expected_kcore (the oracle's
    # peeler): this copy validates Spark k_core on adversarial graphs,
    # so a bug in the oracle implementation cannot mask itself here
    und = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
    adj = {}
    for a, b in und:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    changed = True
    while changed:
        changed = False
        for n in list(adj):
            if len(adj[n]) < k:
                for m in adj[n]:
                    adj[m].discard(n)
                del adj[n]
                changed = True
    return set(adj)


def test_k_core_matches_python_peel(spark):
    # K4 (a 3-core) with a pendant chain that must peel away in cascade
    nodes = ["a", "b", "c", "d"]
    edges = [(u, v) for u in nodes for v in nodes if u < v]
    edges += [("d", "e"), ("e", "f"), ("f", "g")]  # chain peels: g,f,e
    from sema_spark.operators.graph import k_core

    df = spark.createDataFrame(edges, "src string, dst string")
    for k in (2, 3, 4):
        got = {r.id for r in k_core(df, k=k).collect()}
        assert got == _py_kcore(edges, k), k
    # the 3-core is exactly K4; the 4-core is empty
    assert {r.id for r in k_core(df, k=3).collect()} == {"a", "b", "c", "d"}
    assert k_core(df, k=4).count() == 0


def test_k_core_cascade_requires_iteration(spark):
    # triangle + tail x-y: y peels first (deg 1), THEN x (deg drops to 2 -> still 2)
    edges = [("p", "q"), ("q", "r"), ("r", "p"), ("p", "x"), ("x", "y")]
    from sema_spark.operators.graph import k_core

    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r.id for r in k_core(df, k=2).collect()}
    assert got == {"p", "q", "r"} == _py_kcore(edges, 2)


def _py_lpa(edges, iterations):
    """Independent reference: fixed-round synchronous LPA, ties→min label."""
    from collections import Counter

    und = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
    adj = {}
    for a, b in und:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    labels = {v: v for v in adj}
    for _ in range(iterations):
        labels = {
            v: min(
                Counter(labels[nb] for nb in adj[v]).items(),
                key=lambda kv: (-kv[1], kv[0]),
            )[0]
            for v in adj
        }
    return labels


def test_label_propagation_two_cliques(spark):
    # two K4 cliques joined by one bridge edge: LPA should settle each
    # clique on its min member label, bridge notwithstanding
    left = ["a", "b", "c", "d"]
    right = ["w", "x", "y", "z"]
    edges = [(u, v) for u in left for v in left if u < v]
    edges += [(u, v) for u in right for v in right if u < v]
    edges += [("d", "w"), ("b", "a")]  # bridge + a parallel/reversed dup
    from sema_spark.operators.graph import label_propagation

    df = spark.createDataFrame(edges, "src string, dst string")
    for it in (1, 3, 5):
        got = {r.id: r.label for r in label_propagation(df, iterations=it).collect()}
        assert got == _py_lpa(edges, it), it
    final = {r.id: r.label for r in label_propagation(df, iterations=5).collect()}
    assert {final[n] for n in left} == {"a"}
    assert {final[n] for n in right} <= {"a", "w"}  # bridge may leak "a" to w


def test_label_propagation_matches_corpus_oracle(spark):
    # the xs expected-edge graph: Spark LPA == the pure-Python oracle
    # that writes lpa5.parquet (the driver gate's comparison, in-process)
    from sema_spark.corpus import expected_edges, expected_label_propagation
    from sema_spark.operators.graph import label_propagation

    pairs = [(s, d) for s, _, d in expected_edges("xs")]
    df = spark.createDataFrame(pairs, "src string, dst string")
    got = {r.id: r.label for r in label_propagation(df, iterations=5).collect()}
    assert got == expected_label_propagation("xs", iterations=5)
