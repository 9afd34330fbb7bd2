import pytest
from pyspark.sql import functions as F

from sema_spark.corpus import corpus_df
from sema_spark.operators.canonicalize import (
    canonical_edges,
    canonicalize_nodes,
    connected_components,
)
from sema_spark.operators.linking import build_nodes, link_triples
from sema_spark.operators.mentions import extract_triples


def _cc(spark, pairs):
    edges = spark.createDataFrame(pairs, "a string, b string")
    return {r.id: r.component for r in connected_components(edges).collect()}


def test_cc_chain(spark):
    comp = _cc(spark, [("a", "b"), ("b", "c"), ("c", "d"), ("x", "y")])
    assert comp["a"] == comp["b"] == comp["c"] == comp["d"] == "a"
    assert comp["x"] == comp["y"] == "x"


def test_cc_star_and_merge(spark):
    comp = _cc(spark, [("hub", "s1"), ("hub", "s2"), ("s2", "t"), ("t", "a0")])
    assert len(set(comp.values())) == 1
    assert set(comp.values()) == {"a0"}  # min id wins, found across the chain


def test_cc_row_order_invariance(spark):
    pairs = [("a", "b"), ("b", "c"), ("p", "q")]
    c1 = _cc(spark, pairs)
    c2 = _cc(spark, list(reversed(pairs)))
    assert c1 == c2


@pytest.mark.parametrize("id_type", ["string", "long"])
@pytest.mark.parametrize("driver_max_edges", [None, 0], ids=["driver", "distributed"])
def test_cc_empty_edges(spark, id_type, driver_max_edges):
    edges = spark.createDataFrame([], f"a {id_type}, b {id_type}")
    out = connected_components(edges, driver_max_edges=driver_max_edges)
    assert out.collect() == []
    t = edges.schema["a"].dataType
    assert [(f.name, f.dataType) for f in out.schema] == [("id", t), ("component", t)]


def test_canonicalize_merges_identical_files(spark):
    """dup_shared.py is byte-identical in repos 0 and 3 → one canonical
    file entity and one canonical dup_fn symbol entity."""
    triples = extract_triples(corpus_df(spark, "xs"))
    nodes = canonicalize_nodes(build_nodes(triples))
    dup_files = nodes.filter("path = 'src/dup_shared.py' and kind = 'file'").collect()
    assert len(dup_files) == 2
    assert len({r.canonical_id for r in dup_files}) == 1
    dup_syms = nodes.filter("symbol = 'dup_fn'").collect()
    assert len(dup_syms) == 2
    assert len({r.canonical_id for r in dup_syms}) == 1
    # distinct contents stay distinct
    m0 = nodes.filter("path = 'src/m0.py' and kind = 'file'").collect()
    assert len({r.canonical_id for r in m0}) == len(m0)


def test_canonicalize_idempotent(spark):
    triples = extract_triples(corpus_df(spark, "xs"))
    nodes = build_nodes(triples)
    once = canonicalize_nodes(nodes)
    twice = canonicalize_nodes(once.drop("canonical_id"))
    a = {(r.entity_id, r.canonical_id) for r in once.collect()}
    b = {(r.entity_id, r.canonical_id) for r in twice.collect()}
    assert a == b


def test_canonical_edges_referential_integrity(spark):
    triples = extract_triples(corpus_df(spark, "xs"))
    linked = link_triples(triples)
    nodes = canonicalize_nodes(build_nodes(triples))
    edges = canonical_edges(linked, nodes)
    canon_ids = {r.canonical_id for r in nodes.select("canonical_id").distinct().collect()}
    for r in edges.select("src", "dst").collect():
        assert r.src in canon_ids
        assert r.dst in canon_ids or r.dst.startswith("ext:")
    # edges on merged nodes collapse: dup_fn defines edge appears once per repo file but
    # dst canonical is shared
    dup = edges.filter("pred='defines' and dst like '%dup_fn'").select("dst").distinct().collect()
    assert len(dup) == 1
