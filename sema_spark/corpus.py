"""Deterministic synthetic source-repo corpus + exact triple oracle.

Generates the pipeline input table ``(repo, path, commit, lang, content)``
(BASELINE.json input_hint) as a pure function of ``scale`` — no RNG, no
external data.  Contents are rendered from templates whose parameters
also produce the exact expected ``(subj, pred, obj)`` triple set, so
extraction precision/recall is measured against construction-time truth,
not a second parser.

Languages mirror the reference's extension allow-list families
(/root/reference/src/config/mod.rs:30-102): py, js, rs.

Entity-id convention (north_star): ``<repo>/<path>`` for file entities,
``<repo>/<path>#<symbol>`` for symbol entities.  Raw (unlinked) objects —
imported module names, called function names — are emitted as bare
symbols and resolved in stage 2.
"""

from __future__ import annotations

import functools
import hashlib
from dataclasses import dataclass

LANGS = ("py", "js", "rs", "go", "java")
EXT = {"py": "py", "js": "js", "rs": "rs", "go": "go", "java": "java"}

# Files shorter than this produce no triples — generalizes the
# reference's MIN_CHUNK_SIZE guard (/root/reference/src/storage/processor.rs:8).
MIN_CONTENT_CHARS = 50

SCALES = {
    # scale: (n_repos, base_modules_per_repo, monorepo_factor, body_factor)
    # body_factor multiplies functions/methods per module so bench files
    # are KB-sized — small enough to generate fast, big enough that the
    # scaling run measures compute, not scheduler overhead
    "xs": (5, 16, 1, 1),
    "s": (30, 64, 4, 1),
    "bench": (100, 200, 150, 6),
    # XL: ~10KB files / ~310MB content — the scaling-efficiency run needs
    # enough compute to amortize per-stage fixed costs (scheduling, codegen
    # compile), exactly as a real cluster claim would
    "benchxl": (100, 200, 150, 24),
}


@dataclass(frozen=True)
class FileRow:
    repo: str
    path: str
    commit: str
    lang: str
    content: str


def _commit_of(repo: str) -> str:
    return hashlib.sha1(repo.encode()).hexdigest()


def _render_py(repo: str, path: str, j: int, imports: list[int], nf: int, nm: int):
    fp = f"{repo}/{path}"
    lines = [f'"""{repo} module m{j}."""', "import os"]
    triples = {(fp, "imports", "os")}
    for t in imports:
        lines.append(f"import m{t}")
        triples.add((fp, "imports", f"m{t}"))
    lines.append("")
    callees = [f"f{t}_0" for t in imports] or [f"f{j}_0"]
    for k in range(nf):
        callee = callees[k % len(callees)]
        lines += ["", f"def f{j}_{k}(x):", f"    y = {callee}(x)", "    return y"]
        triples.add((fp, "defines", f"{fp}#f{j}_{k}"))
        triples.add((fp, "calls", callee))
    lines += ["", "", f"class C{j}:"]
    triples.add((fp, "defines", f"{fp}#C{j}"))
    for k in range(nm):
        lines += [f"    def m{k}(self):", f"        v = f{j}_0(self)", "        return v"]
        triples.add((f"{fp}#C{j}", "contains", f"{fp}#m{k}"))
        triples.add((fp, "calls", f"f{j}_0"))
    return "\n".join(lines) + "\n", triples


def _render_js(repo: str, path: str, j: int, imports: list[int], nf: int, nm: int):
    fp = f"{repo}/{path}"
    lines = [f"// {repo} module m{j}"]
    triples = set()
    for t in imports:
        lines.append(f"import {{ f{t}_0 }} from './m{t}.js';")
        triples.add((fp, "imports", f"m{t}"))
    callees = [f"f{t}_0" for t in imports] or [f"f{j}_0"]
    for k in range(nf):
        callee = callees[k % len(callees)]
        lines += ["", f"function f{j}_{k}(x) {{", f"  const y = {callee}(x);", "  return y;", "}"]
        triples.add((fp, "defines", f"{fp}#f{j}_{k}"))
        triples.add((fp, "calls", callee))
    lines += ["", f"class C{j} {{"]
    triples.add((fp, "defines", f"{fp}#C{j}"))
    for k in range(nm):
        lines += [f"  m{k}(a) {{", f"    const v = f{j}_0(a);", "    return v;", "  }"]
        triples.add((f"{fp}#C{j}", "contains", f"{fp}#m{k}"))
        triples.add((fp, "calls", f"f{j}_0"))
    lines.append("}")
    return "\n".join(lines) + "\n", triples


def _render_rs(repo: str, path: str, j: int, imports: list[int], nf: int, nm: int):
    fp = f"{repo}/{path}"
    lines = [f"// {repo} module m{j}"]
    triples = set()
    for t in imports:
        lines.append(f"use crate::m{t};")
        triples.add((fp, "imports", f"m{t}"))
    callees = [f"f{t}_0" for t in imports] or [f"f{j}_0"]
    for k in range(nf):
        callee = callees[k % len(callees)]
        lines += [
            "",
            f"fn f{j}_{k}(x: i64) -> i64 {{",
            f"    let y = {callee}(x);",
            "    y",
            "}",
        ]
        triples.add((fp, "defines", f"{fp}#f{j}_{k}"))
        triples.add((fp, "calls", callee))
    lines += ["", f"struct C{j} {{}}", f"impl C{j} {{"]
    triples.add((fp, "defines", f"{fp}#C{j}"))
    for k in range(nm):
        lines += [f"    fn m{k}(&self) -> i64 {{", f"        let v = f{j}_0(0);", "        v", "    }"]
        triples.add((f"{fp}#C{j}", "contains", f"{fp}#m{k}"))
        triples.add((fp, "calls", f"f{j}_0"))
    lines.append("}")
    return "\n".join(lines) + "\n", triples


def _render_go(repo: str, path: str, j: int, imports: list[int], nf: int, nm: int):
    fp = f"{repo}/{path}"
    lines = [f"// {repo} module m{j}", f"package m{j}", ""]
    triples = set()
    for t in imports:
        lines.append(f'import "repo/m{t}"')
        triples.add((fp, "imports", f"m{t}"))
    callees = [f"f{t}_0" for t in imports] or [f"f{j}_0"]
    for k in range(nf):
        callee = callees[k % len(callees)]
        lines += ["", f"func f{j}_{k}(x int) int {{", f"\ty := {callee}(x)", "\treturn y", "}"]
        triples.add((fp, "defines", f"{fp}#f{j}_{k}"))
        triples.add((fp, "calls", callee))
    lines += ["", f"type C{j} struct {{}}"]
    triples.add((fp, "defines", f"{fp}#C{j}"))
    for k in range(nm):
        lines += [f"func (c C{j}) m{k}() int {{", f"\tv := f{j}_0(0)", "\treturn v", "}"]
        triples.add((f"{fp}#C{j}", "contains", f"{fp}#m{k}"))
        triples.add((fp, "calls", f"f{j}_0"))
    return "\n".join(lines) + "\n", triples


def _render_java(repo: str, path: str, j: int, imports: list[int], nf: int, nm: int):
    fp = f"{repo}/{path}"
    lines = [f"// {repo} module m{j}"]
    triples = set()
    for t in imports:
        lines.append(f"import repo.m{t};")
        triples.add((fp, "imports", f"m{t}"))
    callees = [f"f{t}_0" for t in imports] or [f"f{j}_0"]
    lines += ["", f"public class C{j} {{"]
    triples.add((fp, "defines", f"{fp}#C{j}"))
    for k in range(nf):
        callee = callees[k % len(callees)]
        lines += [f"  static int f{j}_{k}(int x) {{", f"    int y = {callee}(x);", "    return y;", "  }"]
        triples.add((fp, "defines", f"{fp}#f{j}_{k}"))
        triples.add((fp, "calls", callee))
    for k in range(nm):
        lines += [f"  int m{k}() {{", f"    int v = f{j}_0(0);", "    return v;", "  }"]
        triples.add((f"{fp}#C{j}", "contains", f"{fp}#m{k}"))
        triples.add((fp, "calls", f"f{j}_0"))
    lines.append("}")
    return "\n".join(lines) + "\n", triples


_RENDER = {
    "py": _render_py,
    "js": _render_js,
    "rs": _render_rs,
    "go": _render_go,
    "java": _render_java,
}

# Chunker / guard edge-case files (FIXTURES.md §1), added to repo 0.
# All are constructed to yield zero triples: the first two are under the
# 50-char guard, the others contain no extractable patterns except
# notrail.py which defines one function and lacks a trailing newline.
_EDGE_FILES = [
    ("src/tiny.py", "import os\n# pad\n"),  # <50 chars => guard drops it
    ("src/ws.py", " " * 60 + "\n"),  # whitespace only
    ("src/exact1000.py", "# pad\n" + "#" + "x" * 992 + "\n"),  # exactly 1000 chars
    ("src/multibyte.py", "# 日本語テキスト" + "é" * 1200 + "\n"),  # multi-byte straddle
    (
        "src/notrail.py",
        '"""no trailing newline, over fifty chars of content."""\ndef f_nt(x):\n    return x',
    ),
]

_DUP_CONTENT = '"""shared vendored util (identical across repos)."""\n\n\ndef dup_fn(x):\n    return x\n'


def _edge_triples(repo: str):
    out = set()
    fp = f"{repo}/src/notrail.py"
    out.add((fp, "defines", f"{fp}#f_nt"))
    return out


@functools.lru_cache(maxsize=4)
def _generated(scale: str):
    """Memoized corpus (render + sha of a bench-scale corpus is seconds
    of driver CPU; expected_edges and write_expected_tables would
    otherwise regenerate it back to back).  Treat the returned
    structures as READ-ONLY — they are shared across callers."""
    return generate_corpus(scale)


def generate_corpus(scale: str = "xs") -> tuple[list[FileRow], set[tuple[str, str, str]]]:
    """Return (file rows, exact expected triple set) for a scale."""
    n_repos, base_modules, mono_factor, body_factor = SCALES[scale]
    rows: list[FileRow] = []
    expected: set[tuple[str, str, str]] = set()
    for i in range(n_repos):
        repo = f"org{i % 7}/proj{i}"
        lang = LANGS[i % len(LANGS)]
        commit = _commit_of(repo)
        n_modules = base_modules * (mono_factor if i == 0 else 1)
        for j in range(n_modules):
            path = f"src/m{j}.{EXT[lang]}"
            imports = sorted({(j + 1) % n_modules, (j * 2 + 3) % n_modules} - {j}) if n_modules > 1 else []
            nf = (2 + (j % 3)) * body_factor
            nm = (1 + (j % 2)) * body_factor
            content, triples = _RENDER[lang](repo, path, j, imports, nf, nm)
            rows.append(FileRow(repo, path, commit, lang, content))
            expected |= triples
        if i == 0:
            for path, content in _EDGE_FILES:
                rows.append(FileRow(repo, path, commit, "py", content))
            expected |= _edge_triples(repo)
        if i % 3 == 0:
            rows.append(FileRow(repo, "src/dup_shared.py", commit, "py", _DUP_CONTENT))
            fp = f"{repo}/src/dup_shared.py"
            expected.add((fp, "defines", f"{fp}#dup_fn"))
    return rows, expected


def corpus_df(spark, scale: str = "xs"):
    from sema_spark.schemas import REPOS

    rows, _ = _generated(scale)
    return spark.createDataFrame([r.__dict__ for r in rows], REPOS)


def expected_edges(scale: str = "xs") -> set[tuple[str, str, str]]:
    """Construction-time truth for stages 2+3: the exact (src, pred, dst)
    edge set the pipeline must emit for a scale, computed by an
    INDEPENDENT pure-Python implementation of linking + canonicalization
    (no Spark, no shared code with the operators).  Used as the driver
    oracle for ``kg_pipeline_edges`` and by tests.

    Replicates the documented operator semantics exactly:

    * entities: every triple's file + defines/contains objects +
      '#'-containing contains subjects (operators/linking.build_nodes);
    * alias dict: symbol name for symbol entities, filename stem for
      file entities (build_alias_dict);
    * resolution for calls/imports: exact (repo, alias) match with
      kind preference (imports→file, calls→symbol) then lexicographic
      min entity id (_pick_best_alias); tier-1 normalized match
      (lower, strip [_-]) if no exact; else ``ext:<sym>``.  The LSH
      tier-2 is NOT modeled — a guard raises if any unresolved symbol
      has candidates in its tier-2 prefix block, which this corpus
      never produces;
    * canonicalization: merge keys sha256(content) for files,
      sha#lower(strip _)(symbol) for symbols; canonical id =
      lexicographic min entity id per merge group
      (operators/canonicalize.merge_key/canonicalize_nodes).
    """
    rows, triples = _generated(scale)
    sha = {f"{r.repo}/{r.path}": hashlib.sha256(r.content.encode()).hexdigest() for r in rows}

    def file_of(entity: str) -> str:
        return entity.split("#", 1)[0]

    def repo_of(fp: str) -> str:
        return "/".join(fp.split("/")[:2])

    files: set[str] = set()
    symbols: set[str] = set()
    for s, p, o in triples:
        files.add(file_of(s))
        if p in ("defines", "contains"):
            symbols.add(o)
        if p == "contains" and "#" in s:
            symbols.add(s)

    alias: dict[tuple[str, str], list[tuple[str, str]]] = {}
    for e in symbols:
        alias.setdefault((repo_of(e), e.rsplit("#", 1)[1]), []).append((e, "symbol"))
    for fp in files:
        name = fp.rsplit("/", 1)[-1]
        if "." in name:
            alias.setdefault((repo_of(fp), name.rsplit(".", 1)[0]), []).append((fp, "file"))

    norm = lambda s: s.lower().replace("_", "").replace("-", "")
    norm_alias: dict[tuple[str, str], list[str]] = {}
    prefix_blocks: dict[tuple[str, str], int] = {}
    for (repo, a), cands in alias.items():
        norm_alias.setdefault((repo, norm(a)), []).extend(e for e, _ in cands)
        prefix_blocks[(repo, norm(a)[:2])] = 1

    def resolve(repo: str, pred: str, obj: str) -> str:
        cands = alias.get((repo, obj))
        if cands:
            want = "file" if pred == "imports" else "symbol"
            return min(cands, key=lambda c: (0 if c[1] == want else 1, c[0]))[0]
        t1 = norm_alias.get((repo, norm(obj)))
        if t1:
            return min(t1)
        if (repo, norm(obj)[:2]) in prefix_blocks:
            raise AssertionError(
                f"expected_edges cannot model LSH tier-2 linking; {obj!r} has "
                f"candidates in its prefix block — extend the oracle first"
            )
        return f"ext:{obj}"

    merge: dict[str, list[str]] = {}
    for fp in files:
        merge.setdefault(sha[fp], []).append(fp)
    for e in symbols:
        fp, name = e.split("#", 1)
        merge.setdefault(sha[fp] + "#" + name.lower().replace("_", ""), []).append(e)
    canon = {e: min(group) for group in merge.values() for e in group}

    edges: set[tuple[str, str, str]] = set()
    for s, p, o in triples:
        obj_id = o if p in ("defines", "contains") else resolve(repo_of(file_of(s)), p, o)
        edges.add((canon.get(s, s), p, canon.get(obj_id, obj_id)))
    return edges


def expected_pagerank(
    scale: str = "xs", iterations: int = 5, damping: float = 0.85
) -> dict[str, float]:
    """Independent numpy power iteration over the expected edge set —
    the same semantics as operators/graph.pagerank (distinct edges,
    nodes = src ∪ dst, uniform dangling-mass redistribution) but a
    dense float64 implementation with none of the Spark code paths.
    Driver oracle for ``kg_pagerank`` (expected_edges is itself proven
    equal to the pipeline's canonical edges by the kg_pipeline_edges
    gate, so ranking over it is ranking over the pipeline output)."""
    import numpy as np

    pairs = sorted({(s, d) for s, _, d in expected_edges(scale)})
    nodes = sorted({x for e in pairs for x in e})
    ix = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    src = np.array([ix[s] for s, _ in pairs])
    dst = np.array([ix[d] for _, d in pairs])
    deg = np.bincount(src, minlength=n).astype(np.float64)
    rank = np.full(n, 1.0 / n)
    for _ in range(iterations):
        contrib = np.where(deg > 0, rank / np.where(deg > 0, deg, 1.0), 0.0)
        flowed = np.zeros(n)
        np.add.at(flowed, dst, contrib[src])
        m = rank[deg == 0].sum()
        rank = (1.0 - damping) / n + damping * (flowed + m / n)
    return {v: float(rank[ix[v]]) for v in nodes}


def expected_kcore(scale: str = "xs") -> set[str]:
    """Independent pure-Python 3-core: iteratively peel nodes of
    undirected degree < 3 from the expected edge set (self-loops and
    direction dropped, parallel edges collapsed — the same normalization
    operators/graph.k_core applies).  Driver oracle for ``kg_kcore``."""
    import collections

    und = {tuple(sorted((s, d))) for s, _, d in expected_edges(scale) if s != d}
    adj: dict[str, set[str]] = collections.defaultdict(set)
    for a, b in und:
        adj[a].add(b)
        adj[b].add(a)
    changed = True
    while changed:
        changed = False
        for node in list(adj):
            if len(adj[node]) < 3:
                for nb in adj[node]:
                    adj[nb].discard(node)
                del adj[node]
                changed = True
    return set(adj)


def expected_label_propagation(
    scale: str = "xs", iterations: int = 5
) -> dict[str, str]:
    """Independent pure-Python synchronous LPA over the expected edge
    set — same semantics as operators/graph.label_propagation (undirected
    simple graph, label = own id initially, each round every node
    simultaneously adopts its neighbors' most frequent label, ties to the
    lexicographically smallest, exactly ``iterations`` rounds).  Driver
    oracle for ``kg_label_propagation``."""
    import collections

    und = {tuple(sorted((s, d))) for s, _, d in expected_edges(scale) if s != d}
    adj: dict[str, set[str]] = collections.defaultdict(set)
    for a, b in und:
        adj[a].add(b)
        adj[b].add(a)
    labels = {v: v for v in adj}
    for _ in range(iterations):
        nxt = {}
        for v in adj:
            counts = collections.Counter(labels[nb] for nb in adj[v])
            # (count desc, label asc) — min over (-count, label) avoids
            # the negate-a-string trap a max-key would need
            nxt[v] = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        labels = nxt
    return labels


def write_expected_tables(out_dir: str, scale: str = "xs") -> None:
    """Materialize the construction-time expected triple + edge sets —
    plus the numpy pagerank over those edges — as parquet (pyarrow, no
    Spark) so the DuckDB oracle can diff the pipeline output against
    them (driver gate for kg_pipeline_* / kg_pagerank)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    _, triples = _generated(scale)

    def write_table(name: str, table) -> None:
        # write-to-temp + atomic rename: concurrent harness processes
        # regenerate the same deterministic files and must never read a
        # half-written parquet
        tmp = f"{out_dir}/.tmp-{os.getpid()}-{name}.parquet"
        pq.write_table(table, tmp)
        os.replace(tmp, f"{out_dir}/{name}.parquet")

    def write(name: str, cols: tuple[str, str, str], data: set[tuple[str, str, str]]) -> None:
        rows = sorted(data)
        write_table(name, pa.table({c: [r[i] for r in rows] for i, c in enumerate(cols)}))

    write("triples", ("subj", "pred", "obj"), triples)
    write("edges", ("src", "pred", "dst"), expected_edges(scale))
    write_table(
        "kcore3", pa.table({"id": sorted(expected_kcore(scale))})
    )
    lpa = expected_label_propagation(scale, iterations=5)
    lpa_ids = sorted(lpa)
    write_table(
        "lpa5",
        pa.table({"id": lpa_ids, "label": [lpa[i] for i in lpa_ids]}),
    )
    from sema_spark.functions.bpe import _WORD_RE, apply_merges
    from sema_spark.oracles import bpe_python

    rows, _ = _generated(scale)
    bm = bpe_python([r.content for r in rows], 20)

    def write_merges(name: str, table) -> None:
        write_table(
            name,
            pa.table(
                {
                    "rank": [m[0] for m in table],
                    "left": [m[1] for m in table],
                    "right": [m[2] for m in table],
                    "merged": [m[3] for m in table],
                    "pair_count": [m[4] for m in table],
                }
            ),
        )

    write_merges("bpe_merges", bm)
    # batched-mode twin (top-4 non-conflicting merges per round): gates
    # bpe_train(batch_m=4) against the identically-batched python BPE
    write_merges("bpe_merges_m4", bpe_python([r.content for r in rows], 20, batch_m=4))
    # tokens-per-character compression ratios (bpe_compression_score
    # oracle): same merge table, ratio rounded like Spark F.round
    from decimal import ROUND_HALF_UP as _RHU
    from decimal import Decimal as _D

    def _ratio6(x: float) -> float:
        return float(_D(repr(float(x))).quantize(_D("0.000001"), _RHU))

    comp = []
    for r in rows:
        toks = sum(
            len(apply_merges(w, bm)) for w in _WORD_RE.findall(r.content.lower())
        )
        comp.append((f"{r.repo}/{r.path}", toks, len(r.content)))
    write_table(
        "bpe_compression",
        pa.table(
            {
                "id": [c[0] for c in comp],
                "n_tokens": [c[1] for c in comp],
                "chars": [c[2] for c in comp],
                "ratio": [_ratio6(c[1] / c[2]) for c in comp],
            }
        ),
    )
    # top-50 token frequencies of the merges applied back to the corpus
    # (count desc, token asc) — oracle for the encode side
    from collections import Counter

    tok_counts: Counter = Counter()
    for r in rows:
        for w in _WORD_RE.findall(r.content.lower()):
            tok_counts.update(apply_merges(w, bm))
    top = sorted(tok_counts.items(), key=lambda kv: (-kv[1], kv[0]))[:50]
    write_table(
        "bpe_token_counts",
        pa.table(
            {"token": [t for t, _ in top], "n": [c for _, c in top]}
        ),
    )
    from decimal import ROUND_HALF_UP, Decimal

    def r6(x: float) -> float:
        # Spark's F.round is HALF_UP on the shortest decimal repr;
        # Python round() is half-even on the true binary value — they
        # disagree exactly on reprs ending in '5' at the 7th place
        # (e.g. 0.0078125), so mirror Spark here
        return float(
            Decimal(repr(float(x))).quantize(Decimal("0.000001"), ROUND_HALF_UP)
        )

    pr = expected_pagerank(scale, iterations=5)
    write_table(
        "pagerank",
        pa.table(
            {
                "id": list(pr.keys()),
                # round(6) here AND on the Spark side: the two float64
                # iterations agree to ~1e-12, far inside the rounding
                "rank": [r6(v) for v in pr.values()],
            }
        ),
    )


def write_corpus(spark, out_dir: str, scale: str = "xs") -> None:
    """Materialize the corpus as a parquet table laid out like the real
    input would be: many files, rows hash-spread so a monorepo doesn't
    own a contiguous region (parquet splits can't go below row-group /
    file granularity, so file count bounds scan parallelism)."""
    from pyspark.sql import functions as F

    df = corpus_df(spark, scale)
    n_repos, base_modules, mono, body = SCALES[scale]
    approx_rows = n_repos * base_modules + base_modules * (mono - 1)
    num_files = max(8, min(128, approx_rows // 400))
    df.repartition(num_files, F.xxhash64("repo", "path")).write.mode("overwrite").parquet(out_dir)
