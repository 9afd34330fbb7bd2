"""The two workloads.  Each returns ``(end_to_end, per_layer)`` metric
dicts and counts every timed operation in ``Ops``: one that raised or
whose output failed its check is a failed op.

``kg_build_refresh``: cold ``run_pipeline`` → unchanged pass → seeded
``who_imports`` reads, all on one base; the traced run adds a
~1%-change pass (edits, deletes and adds) on the same base.

``search_dedup``: ``build_semantic_index`` → unchanged appends → query
stream (semantic and keyword, interleaved) with a seeded append midway
→ dedup/curation registry entries (three untraced, all seven traced).

Each workload has a ``prepare`` step (pure Python, timed as set-up
before the Spark session starts) and a ``run`` step.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time

import inputs
from checks import (
    bm25_oracle,
    duckdb_rows,
    minhash_survivors_ok,
    oracle_sql,
    rowset,
    sha256,
)

STAGES = ("triples", "linked", "nodes", "edges")
SPARK_SPANS = (
    "triples", "linked", "nodes", "edges",
    "index_build", "index_append", "semantic_query", "keyword_query", "dedup",
)
DEDUP_OPS = (
    ("dedup_exact", "dedup.exact"),
    ("dedup_minhash", "dedup.minhash"),
    ("dedup_simhash", "dedup.simhash"),
    ("ngram_jaccard_pairs", "dedup.ngram_jaccard"),
    ("embedding_dedup_lsh", "dedup.embedding_lsh"),
    ("dedup_passages", "curation.passages"),
    ("curation_v2", "curation.chain"),
)
NOOP_REPEATS = 3
DEDUP_UNTRACED = ("dedup_exact", "dedup_minhash", "dedup_passages")


class Ops:
    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def record(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"check failed: {what}", flush=True)


def mark(what: str, t0=[None]) -> None:
    """Progress line on stderr: seconds since the first mark."""
    now = time.perf_counter()
    t0[0] = t0[0] or now
    print(f"[{now - t0[0]:7.1f}s] {what}", file=sys.stderr, flush=True)


def settle(spark) -> None:
    """Untimed pause before a small timed operation: a full GC and a
    second for the JIT's compiler threads, so the previous operation's
    background work is not charged to the next one's CPU time."""
    spark._jvm.System.gc()
    time.sleep(1.0)


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (q in [0, 1])."""
    v = sorted(values)
    pos = q * (len(v) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def per_layer_names() -> list[str]:
    names = []
    for prefix in ("pipeline", "noop", "refresh"):
        names += [f"{prefix}.{s}_s" for s in (*STAGES, "other")]
    names += [
        "mentions.files_in", "mentions.triples_out", "mentions.triples_per_s",
        "checkpoint.pending_files", "checkpoint.pending_ratio",
        "checkpoint.bytes_written_mb", "checkpoint.write_amplification",
        "linking.relinked_files", "linking.relink_amplification", "linking.mode_delta",
        "linking.alias_share", "linking.fuzzy_share", "linking.unresolved_share",
        "canonicalize.nodes", "canonicalize.canonical_ratio",
        "edges.refreshed_files", "edges.rows_written",
        "materialize.cuts", "materialize.cut_s",
    ]
    for span in SPARK_SPANS:
        names += [
            f"spark.{span}.{m}"
            for m in ("tasks", "executor_cpu_s", "cpu_ratio", "slot_util", "shuffle_write_mb", "spill_mb")
        ]
    names += [
        "ann_index.chunks", "ann_index.build_chunks_per_s", "ann_index.append_files", "ann_index.append_s",
        "search.semantic_plan_ms", "search.semantic_exec_ms",
        "search.keyword_plan_ms", "search.keyword_exec_ms",
        "search.semantic_jobs_per_query", "search.keyword_jobs_per_query",
        "search.append_slowdown",
        "search.semantic_p50_ms", "search.keyword_p50_ms", "graph.read_p50_ms",
        "search.semantic_samples", "search.keyword_samples",
        "wall.build_s", "wall.noop_s", "wall.query_p50_ms", "wall.batch_s",
        "cpu.build_s", "cpu.noop_s", "cpu.query_ms",
    ]
    for _, m in DEDUP_OPS:
        names += [f"{m}_s", f"{m}_rows"]
    names += ["session.peak_rss_mb", "host.steal_pct", "trace.overhead_pct"]
    return names


def _du(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


# ---------------------------------------------------------------- KG
def kg_prepare(seed: int, size, work: str):
    kg_size, search_size, _ = size
    kg = inputs.kg_inputs(seed, kg_size)
    inputs.write_rows(kg.rows, f"{work}/src.parquet")
    inputs.write_rows(kg.mutated, f"{work}/mut.parquet")
    return kg, inputs.import_targets(seed, kg, search_size.graph_reads)


def kg_build_refresh(ctx, ops: Ops, prepared):
    from pyspark.sql import functions as F

    from sema_spark.operators import canonicalize, linking
    from sema_spark.plans import materialize as mat
    from sema_spark.plans import pipeline as P
    from sema_spark.sources.checkpoint import delete_files

    spark, tr, work = ctx.spark, ctx.tracer, ctx.work
    kg, reads = prepared
    ctx.context["corpus"] = {
        "files": len(kg.rows),
        "content_bytes": sum(len(r.content.encode()) for r in kg.rows),
        "triples": len(kg.expected(kg.rows)),
    }

    # the stage entry points run_pipeline resolves from its module globals
    for name, fn in zip(STAGES, ("run_incremental_stage", "_run_linked_stage", "run_snapshot_stage", "_run_edges_stage")):
        tr.wrap(P, fn, name, only_under="pipeline")
    for m in (linking, canonicalize, mat):
        tr.wrap(m, "materialize", "materialize")

    base = f"{work}/base"
    layer = {}

    def stage_split(prefix: str, span) -> None:
        parts = {s: sum(c.seconds for c in span.children if c.name == s) for s in STAGES}
        for s, v in parts.items():
            layer[f"{prefix}.{s}_s"] = v
        layer[f"{prefix}.other_s"] = span.seconds - sum(parts.values())

    def triples_ok(rows) -> bool:
        got = P.read_triples(spark, base)
        have = {tuple(r) for r in got.select("subj", "pred", "obj").distinct().collect()}
        shas = {(r.repo, r.path): sha256(r.content) for r in rows}
        bad_sha = [
            r for r in got.select("repo", "path", "content_sha").distinct().collect()
            if shas.get((r.repo, r.path)) != r.content_sha
        ]
        want = kg.expected(rows)
        if have != want or bad_sha:
            print(
                f"triples: {len(have - want)} unexpected, {len(want - have)} missing, "
                f"{len(bad_sha)} content_sha mismatches; e.g. {sorted(have ^ want)[:3]}",
                file=sys.stderr,
            )
        return have == want and not bad_sha

    def edges_by_file():
        out = {}
        for r in P.read_edges(spark, base).select("src", "pred", "dst", "repo", "path").collect():
            out.setdefault((r.repo, r.path), set()).add((r.src, r.pred, r.dst))
        return out

    # cold build
    src = spark.read.parquet(f"{work}/src.parquet")
    with tr.span("pipeline") as cold_span:
        cold = P.run_pipeline(spark, src, base, incremental_link=True)
    build_s = cold_span.seconds
    stage_split("pipeline", cold_span)
    ops.record(triples_ok(kg.rows), "cold build triples / content_sha")
    cold_edges = edges_by_file() if tr.enabled else None
    mark("cold build + checks done")
    linked = P.read_linked(spark, base).filter(F.col("pred").isin(*linking.LINK_PREDS))
    methods = {r[0]: r[1] for r in linked.groupBy("link_method").count().collect()}
    n_link = sum(methods.values()) or 1
    if tr.enabled:
        nodes = P.read_nodes(spark, base)
        n_nodes = nodes.count()
        layer["canonicalize.nodes"] = n_nodes
        layer["canonicalize.canonical_ratio"] = nodes.select("canonical_id").distinct().count() / max(n_nodes, 1)
    layer.update({
        "mentions.files_in": cold.triples.input_files,
        "mentions.triples_out": cold.triples.output_rows,
        "mentions.triples_per_s": cold.triples.output_rows / layer["pipeline.triples_s"] if tr.enabled else 0.0,
        "linking.alias_share": (methods.get("exact", 0) + methods.get("alias", 0)) / n_link,
        "linking.fuzzy_share": methods.get("cosine", 0) / n_link,
        "linking.unresolved_share": methods.get("unresolved", 0) / n_link,
    })
    ctx.context["corpus"].update({k: layer[k] for k in ("linking.alias_share", "linking.fuzzy_share", "linking.unresolved_share")})

    if tr.enabled:
        # graph reads (per-layer only), after one untimed read that
        # compiles the plan shape
        P.who_imports(spark, base, reads[0][0]).collect()
        settle(spark)
        read_ms, read_cpu_ms = [], []
        for target, importers in reads:
            with tr.span("graph_read") as s:
                got = {r.src for r in P.who_imports(spark, base, target).collect()}
            read_ms.append(s.seconds * 1e3)
            read_cpu_ms.append(s.cpu_seconds * 1e3)
            ops.record(got == importers, f"who_imports({target})")
        layer["cpu.query_ms"] = quantile(read_cpu_ms, 0.5)
        layer["wall.query_p50_ms"] = quantile(read_ms, 0.5)

        layer["graph.read_p50_ms"] = quantile(read_ms, 0.5)
        mark("reads done")

    # unchanged pass
    settle(spark)
    with tr.span("pipeline") as noop_span:
        noop = P.run_pipeline(spark, src, base, incremental_link=True)
    noop_s = noop_span.seconds
    stage_split("noop", noop_span)
    ops.record(not noop.any_work, "unchanged pass did work")

    mark("noop done")
    if tr.enabled:
        # the ~1%-change pass runs in the traced run only: with the cold
        # build it needs, it does not fit the untraced runs' time budget
        before = _du(base)
        mut = spark.read.parquet(f"{work}/mut.parquet")
        gone = spark.createDataFrame(sorted(kg.deleted), "repo string, path string")
        with tr.span("pipeline") as delta_span:
            # deletions reach the pipeline as stage-1 tombstones (the
            # caller's part of a change pass); the run picks up the rest
            delete_files(spark, base, P.STAGE_TRIPLES, gone)
            delta = P.run_pipeline(spark, mut, base, incremental_link=True)
        stage_split("refresh", delta_span)
        ok = triples_ok(kg.mutated) and _edges_after_change_ok(kg, cold_edges, edges_by_file())
        ops.record(ok, "change pass triples / edges")
        changed = len(kg.edited) + len(kg.deleted) + len(kg.added)
        changed_bytes = sum(len(r.content.encode()) for r in kg.mutated if (r.repo, r.path) in kg.edited | kg.added)
        written = _du(base) - before
        layer.update({
            "checkpoint.pending_files": delta.triples.input_files,
            "checkpoint.pending_ratio": delta.triples.input_files / len(kg.mutated),
            "checkpoint.bytes_written_mb": written / 2**20,
            "checkpoint.write_amplification": written / max(changed_bytes, 1),
            "linking.relinked_files": delta.linked.input_files,
            "linking.relink_amplification": delta.linked.input_files / changed,
            "linking.mode_delta": 1.0 if delta.link_mode == "delta" else 0.0,
            "edges.refreshed_files": delta.edges.input_files,
            "edges.rows_written": delta.edges.output_rows,
        })
        mark("change pass done")
    layer.update({
        "materialize.cuts": len(tr.named("materialize")),
        "materialize.cut_s": tr.seconds("materialize"),
    })
    layer.update({
        "wall.build_s": build_s,
        "wall.noop_s": noop_s,
        "wall.batch_s": build_s + noop_s,
    })
    layer["cpu.noop_s"] = noop_span.cpu_seconds
    layer["cpu.build_s"] = cold_span.cpu_seconds
    e2e = {"batch_cpu_s": cold_span.cpu_seconds + noop_span.cpu_seconds}
    return e2e, layer


def _edges_after_change_ok(kg, cold: dict, after: dict) -> bool:
    """Edges after the change pass, compared file by file with the cold
    build.  Deleted files must have no edges and added files some; every
    other file must keep exactly its cold edges unless they mention an
    entity of a deleted file (before) or of an added file (after) —
    those files' links legitimately move.  Edits only append a comment,
    so they change no edge."""
    if any(k in after for k in kg.deleted) or not all(after.get(k) for k in kg.added):
        print("edges: deleted file kept edges or added file has none", file=sys.stderr)
        return False
    gone = tuple(f"{r}/{p}" for r, p in kg.deleted)
    new = tuple(f"{r}/{p}" for r, p in kg.added)

    def mentions(edges, prefixes):
        return any(s.startswith(prefixes) or d.startswith(prefixes) for s, _, d in edges)

    for r in kg.mutated:
        k = (r.repo, r.path)
        if k in kg.added:
            continue
        before, now = cold.get(k, set()), after.get(k, set())
        if (gone and mentions(before, gone)) or (new and mentions(now, new)):
            continue
        if before != now:
            print(f"edges of {k} moved: -{sorted(before - now)[:3]} +{sorted(now - before)[:3]}", file=sys.stderr)
            return False
    return True


# ---------------------------------------------------------------- search + dedup
def _write_docs(rows, path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table({
            "repo": [r.repo for r in rows], "path": [r.path for r in rows],
            "content": [r.content for r in rows],
            "doc_id": pa.array(range(len(rows)), pa.int64()),
            "text": [r.content for r in rows],
        }),
        path,
    )


def search_prepare(seed: int, size, work: str):
    kg_size, search_size, doc_size = size
    rows = inputs.kg_inputs(seed, kg_size).rows
    app = inputs.append_rows(seed, rows, search_size, kg_size.scale)
    live = {(r.repo, r.path): r for r in rows}
    live.update({(r.repo, r.path): r for r in app})
    live = list(live.values())
    _write_docs(rows, f"{work}/corpus.parquet")
    _write_docs(app, f"{work}/append.parquet")
    _write_docs(live, f"{work}/live.parquet")
    dd = f"{work}/docs"
    shutil.rmtree(dd, ignore_errors=True)
    os.makedirs(dd)
    inputs.dedup_tables(seed, doc_size, dd)
    return rows, app, live


def dedup_ops(traced: bool):
    """The untraced runs time the three operators that cover
    ``operators.dedup``, ``functions.minhash`` and ``operators.curation``;
    the traced run times all seven registry entries."""
    return DEDUP_OPS if traced else tuple(o for o in DEDUP_OPS if o[0] in DEDUP_UNTRACED)


def search_oracles(work: str, traced: bool) -> dict:
    """DuckDB answers of the timed dedup entries — a function of the
    generated tables only, so it runs while the Spark session starts."""
    import __spark_entry__ as entry

    sqls = oracle_sql(entry)
    dd = f"{work}/docs"
    return {name: duckdb_rows(sqls[name], dd) for name, _ in dedup_ops(traced) if name in sqls}


def search_dedup(ctx, ops: Ops, prepared):
    import __spark_entry__ as entry

    from sema_spark.operators.chunker import chunk_and_embed
    from sema_spark.operators.search import bm25_search
    from sema_spark.plans.pipeline import semantic_search
    from sema_spark.sources import ann_index as A

    spark, tr, work = ctx.spark, ctx.tracer, ctx.work
    search_size = ctx.size[1]
    dd = f"{work}/docs"
    rows, app, live = prepared
    ctx.context["corpus"] = {"files": len(rows), "content_bytes": sum(len(r.content.encode()) for r in rows)}
    idx = f"{work}/index"
    corpus_df = spark.read.parquet(f"{work}/corpus.parquet")
    layer = {}

    # untimed: a tiny index first starts the Python workers and loads the
    # encoder, whose CPU time varies run to run and is not index building
    A.build_semantic_index(corpus_df.limit(3).select("repo", "path", "content"), f"{work}/warm")
    oracles = ctx.oracles.result()  # nothing else may use CPU while timing
    settle(spark)
    with tr.span("index_build") as s:
        A.build_semantic_index(corpus_df.select("repo", "path", "content"), idx)
    build_s = s.seconds
    batch = [s]
    n_chunks = A.live_chunks(spark, idx).count()
    ops.record(n_chunks > 0, "index has chunks")
    mark("index build done")

    # query stream (traced run only: its numbers are per-layer); the
    # append runs once half of the time box is spent
    stream = inputs.search_queries(ctx.seed, rows, 100000)
    half = ctx.seconds / 2 if tr.enabled else 0.0
    min_queries = search_size.min_queries if tr.enabled else 0
    kw_docs = spark.read.parquet(f"{work}/corpus.parquet").select("doc_id", "text")
    lat = {"semantic": [[], []], "keyword": [[], []]}
    cpu_ms = {"semantic": [], "keyword": []}
    plan_ms = {"semantic": [], "keyword": []}
    jobs = {"semantic": [], "keyword": []}
    checked = {"semantic": [], "keyword": []}
    pos = 0
    refresh_s = 0.0
    for phase in (0, 1):
        if phase == 1:
            app_df = spark.read.parquet(f"{work}/append.parquet").select("repo", "path", "content")
            with tr.span("index_append") as s:
                n_app = A.semantic_index_append(app_df, idx)
            refresh_s = s.seconds
            batch.append(s)
            ops.record(n_app == len(app), "append indexed files")
            kw_docs = spark.read.parquet(f"{work}/live.parquet").select("doc_id", "text")
        if tr.enabled:
            settle(spark)
        t_phase = time.perf_counter()
        while (
            time.perf_counter() - t_phase < half
            or min(len(lat[k][phase]) for k in lat) < min_queries
        ):
            kind, q = stream[pos]
            pos += 1
            with tr.span(f"{kind}_query") as s:
                t = time.perf_counter()
                df = A.semantic_search_stored(spark, idx, q, 10) if kind == "semantic" else bm25_search(kw_docs, q, 10)
                plan_ms[kind].append((time.perf_counter() - t) * 1e3)
                res = df.collect()
            lat[kind][phase].append(s.seconds * 1e3)
            cpu_ms[kind].append(s.cpu_seconds * 1e3)
            jobs[kind].append(s)
            if phase == 1 and len(checked[kind]) < search_size.checked_queries:
                checked[kind].append((q, res))
            ops.attempted += 1  # checked below

    mark("queries done")
    # unchanged appends of the live corpus, after the stream: by now the
    # JIT has settled, and the first repeats no longer pay its compiles
    live_df = spark.read.parquet(f"{work}/live.parquet").select("repo", "path", "content")
    noops = []
    settle(spark)
    for _ in range(NOOP_REPEATS):
        with tr.span("index_append") as s:
            n_noop = A.semantic_index_append(live_df, idx)
        noops.append(s)
        ops.record(n_noop == 0, "unchanged append indexed files")
    batch += noops
    # query checks (untimed): stored semantic top-k == in-plan search over
    # freshly chunked live docs; keyword top-k == pure-Python BM25
    fresh = chunk_and_embed(live_df).localCheckpoint() if checked["semantic"] else None
    for q, res in checked["semantic"]:
        want = semantic_search(spark, fresh, q, k=10).collect()
        ok = [(r.id, r.score, r.matches_in_file) for r in res] == [(r.id, r.score, r.matches_in_file) for r in want]
        _fail_if(ops, ok, f"semantic query {q!r}")
    live_docs = [(i, r.content) for i, r in enumerate(live)]
    for q, res in checked["keyword"]:
        ok = [(r.doc_id, r.score) for r in res] == bm25_oracle(live_docs, q, 10)
        _fail_if(ops, ok, f"keyword query {q!r}")

    mark("query checks done")
    # dedup / curation registry entries over the seeded document tables
    texts = {d: t for d, t in spark.read.parquet(f"{dd}/documents.parquet").select("doc_id", "text").collect()}
    for name, metric in dedup_ops(tr.enabled):
        with tr.span("dedup") as s:
            pdf = entry._REGISTRY[name](spark, dd).toPandas()
        batch.append(s)
        mark(f"{name} {s.seconds:.2f}s")
        layer[f"{metric}_s"] = s.seconds
        layer[f"{metric}_rows"] = len(pdf)
        if name == "dedup_minhash":
            ok = minhash_survivors_ok([int(x) for x in pdf["doc_id"]], texts)
        else:
            ok = rowset(pdf) == oracles[name]
        ops.record(ok, name)

    mark("dedup done")
    layer.update({
        "ann_index.chunks": n_chunks,
        "ann_index.build_chunks_per_s": n_chunks / build_s,
        "ann_index.append_files": n_app,
        "ann_index.append_s": refresh_s,
        "wall.build_s": build_s,
        "wall.noop_s": statistics.median(s.seconds for s in noops),
        "wall.batch_s": sum(s.seconds for s in batch),
        "cpu.noop_s": statistics.median(s.cpu_seconds for s in noops),
    })
    if tr.enabled:
        sem = lat["semantic"][0] + lat["semantic"][1]
        kw = lat["keyword"][0] + lat["keyword"][1]
        pre = lat["semantic"][0] + lat["keyword"][0]
        post = lat["semantic"][1] + lat["keyword"][1]
        layer.update({
            "search.semantic_plan_ms": statistics.median(plan_ms["semantic"]),
            "search.semantic_exec_ms": statistics.median(sem) - statistics.median(plan_ms["semantic"]),
            "search.keyword_plan_ms": statistics.median(plan_ms["keyword"]),
            "search.keyword_exec_ms": statistics.median(kw) - statistics.median(plan_ms["keyword"]),
            "search.semantic_jobs_per_query": tr.job_count(jobs["semantic"]) / len(sem),
            "search.keyword_jobs_per_query": tr.job_count(jobs["keyword"]) / len(kw),
            "search.append_slowdown": statistics.median(post) / statistics.median(pre),
            "search.semantic_p50_ms": quantile(sem, 0.5),
            "search.keyword_p50_ms": quantile(kw, 0.5),
            "search.semantic_samples": len(sem),
            "search.keyword_samples": len(kw),
            # per-kind medians, averaged: the two kinds form two clusters,
            # and a pooled median would sit on their edges
            "wall.query_p50_ms": (quantile(sem, 0.5) + quantile(kw, 0.5)) / 2,
            "cpu.query_ms": (quantile(cpu_ms["semantic"], 0.5) + quantile(cpu_ms["keyword"], 0.5)) / 2,
        })
    layer["cpu.build_s"] = batch[0].cpu_seconds
    e2e = {"batch_cpu_s": sum(s.cpu_seconds for s in batch)}
    return e2e, layer


def _fail_if(ops: Ops, ok: bool, what: str) -> None:
    """A query was already counted as attempted when it ran."""
    if not ok:
        ops.failed += 1
        print(f"check failed: {what}", flush=True)


WORKLOADS = {
    # name: (prepare, oracles started during session start-up or None, run)
    "kg_build_refresh": (kg_prepare, None, kg_build_refresh),
    "search_dedup": (search_prepare, search_oracles, search_dedup),
}
