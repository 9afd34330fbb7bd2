"""The four-stage knowledge-graph construction pipeline (north_star).

    repos (repo, path, commit, lang, content)
      │  stage 1 — triples      incremental  (per-file checkpoint, J1)
      ▼
    triples (subj, pred, obj, provenance, content_sha)
      │  stage 2 — linked       incremental  (alias join J3 + LSH/cosine J2;
      ▼                                       per-file supersede, delta re-link r6)
    linked_triples (+ obj_id, link_method, link_score)
      │  stage 3 — nodes        snapshot     (connected components J4)
      ▼
    canonical nodes (entity_id, canonical_id, …)
      │  stage 4 — edges        snapshot     (canonical rewrite of every
      ▼                                       linked row, partitioned by pred)
    edges (src, pred, dst, provenance)

Stage 1 carries the content-bytes cost and is per-file incremental with
crash-safe resume.  Stage 2 is 1:1 with the triples and is stored as
per-file increments, maintained by delta when ``incremental_link`` is
set (_run_linked_stage).  Stages 3 and 4 are snapshots:
canonicalization is a global fixpoint (one changed file can merge or
split components anywhere), and every edge row carries canonical ids,
so a change to either input rewrites stage 4 whole.  Fingerprint/params
skips make no-op runs cheap (see sources/checkpoint.py).  Before the
heavy extraction scan the input is salted-repartitioned on
(repo, xxhash64 % SALT) so a monorepo cannot pin a single task (north
rule: explicit skew handling; AQE skew-join remains on as backstop).

Each ``run_*`` returns StageRun metrics and appends per-partition
lineage rows — `graph_stats` aggregates headline metrics per run.
"""

from __future__ import annotations

from dataclasses import dataclass, replace

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sema_spark.operators.canonicalize import canonical_edges, canonicalize_nodes
from sema_spark.operators.linking import (
    LINK_PREDS,
    _block_expr,
    build_nodes,
    changed_alias_blocks,
    link_triples,
)
from sema_spark.operators.mentions import (
    extract_triples,
    salted_repartition,
    with_content_sha,
)
from sema_spark.schemas import EDGES, LINKED_TRIPLES, NODES, TRIPLES
from sema_spark.sources.checkpoint import (
    StageRun,
    current_checkpoint,
    fingerprint_rows,
    input_fingerprint,
    latest_params,
    local_frame,
    logged_keys,
    read_snapshot,
    read_snapshot_run,
    read_stage_output,
    run_forced_incremental_stage,
    run_incremental_stage,
    run_snapshot_stage,
    stage_rows_for_keys,
)

STAGE_TRIPLES = "triples"
STAGE_LINKED = "linked"
STAGE_NODES = "nodes"
STAGE_EDGES = "edges"


@dataclass
class PipelineRun:
    triples: StageRun
    linked: StageRun
    nodes: StageRun
    edges: StageRun
    # how stage 2 was produced: "full" re-link, "delta" (re-link of
    # the changed and alias-affected files only, see _run_linked_stage),
    # or "full" for a skip
    link_mode: str = "full"

    @property
    def any_work(self) -> bool:
        return any(not s.skipped for s in (self.triples, self.linked, self.nodes, self.edges))


def run_pipeline(
    spark: SparkSession,
    src: DataFrame,
    base: str,
    fuzzy: bool = True,
    salt_partitions: int | None = None,
    incremental_link: bool = False,
) -> PipelineRun:
    """Execute (or resume) the full pipeline against the current source.

    ``incremental_link``: maintain stage 2 by DELTA — re-link only
    changed files plus alias-delta-affected files — instead of a full
    re-link of every file (see :func:`_run_linked_stage`; the stored
    form is per-file increments either way).  Output is identical by
    construction; the flag only changes the amount of work.  Falls back
    to the full re-link when the stored linked state cannot be trusted
    (params flip, compaction pruned the history the delta needs).

    Change detection hashes every source byte per run (the stage-1
    anti-join) UNLESS ``src`` already carries a ``content_sha`` column —
    ship one from source metadata (git commit trees, Iceberg manifests)
    to make the steady-state scan metadata-sized too."""
    src = src if "content_sha" in src.columns else with_content_sha(src)

    r1 = run_incremental_stage(
        spark,
        src,
        STAGE_TRIPLES,
        base,
        lambda pending: extract_triples(salted_repartition(pending, salt_partitions)),
    )
    triples = read_stage_output(spark, base, STAGE_TRIPLES, schema=TRIPLES)
    # snapshot-skip fingerprints key on the checkpoint LOG's file state
    # (one row per file), not a distinct over the triple data: cheaper,
    # and the SAME source the incremental-link branch reconstructs its
    # pre-run state from — mixing the two sources would differ on
    # zero-triple files (processed and logged, but contributing no data
    # rows) and spuriously fail the delta path's trust check
    key_cols = ["repo", "path", "content_sha"]
    keys = current_checkpoint(spark, base, STAGE_TRIPLES).select(*key_cols)
    # one fingerprint job per run, shared by stages 2 and 3
    fp_keys = input_fingerprint(keys)

    r2, link_mode = _run_linked_stage(
        spark, base, triples, keys, fp_keys, fuzzy, incremental_link
    )
    linked = read_stage_output(spark, base, STAGE_LINKED, schema=LINKED_TRIPLES)

    # params fold non-key dependencies into each skip fingerprint:
    # stage 4 keys on the FINGERPRINTS of the states it derives from
    # (content-stable: a skipped upstream keeps its fingerprint, so
    # downstream stays skippable; a regenerated upstream changes it and
    # forces the derivation to re-run; a compacted upstream keeps it, so
    # compaction does not trigger spurious downstream regeneration)
    r3 = run_snapshot_stage(
        spark, fp_keys, STAGE_NODES, base, lambda: canonicalize_nodes(build_nodes(triples)),
        partition_cols=["kind"],
    )
    # the run id the stage just committed (or skipped at) is the latest
    # commit: no second log read
    nodes = read_snapshot_run(spark, base, STAGE_NODES, r3.run_id, NODES)

    r4 = _run_edges_stage(spark, base, linked, nodes, r2.fingerprint, r3.fingerprint)
    return PipelineRun(r1, r2, r3, r4, link_mode=link_mode)


def _run_edges_stage(
    spark: SparkSession,
    base: str,
    linked: DataFrame,
    nodes: DataFrame,
    fp_linked: str,
    fp_nodes: str,
) -> StageRun:
    """Stage 4, a snapshot like stage 3: the canonical rewrite of every
    linked row, keyed on the fingerprints of the two states it derives
    from and partitioned by pred, so predicate reads (`who_imports`)
    prune.  An edge row depends on its file's linked rows AND the
    canonical map, and one changed file can flip canonical ids anywhere,
    so any change to either input regenerates the whole stage."""
    return run_snapshot_stage(
        spark, f"{fp_linked}|{fp_nodes}", STAGE_EDGES, base,
        lambda: canonical_edges(linked, nodes), partition_cols=["pred"],
    )


def _gone_paths(old_keys: DataFrame, keys: DataFrame) -> DataFrame | None:
    """(repo, path) of ``old_keys`` with no live version in ``keys`` —
    the paths a derived stage tombstones; None when there are none."""
    gone = (
        old_keys.select("repo", "path")
        .distinct()
        .join(keys.select("repo", "path").distinct(), ["repo", "path"], "left_anti")
    )
    return gone if gone.count() else None


def _run_linked_stage(
    spark: SparkSession,
    base: str,
    triples: DataFrame,
    keys: DataFrame,
    fp_keys: str,
    fuzzy: bool,
    incremental_link: bool,
) -> tuple[StageRun, str]:
    """Stage 2, stored LOG-STRUCTURED — per-file increments with
    ``max_by(run_id)`` supersede — instead of a monolithic snapshot.

    The r6 measurement that motivated this: a 1%-changed re-run of the
    50k-file corpus spent its stage-2 time on the full 5.7M-row
    snapshot REWRITE even after the delta re-link landed, so "stage 2
    is incremental" was only true of the compute, not the I/O.  Here
    both are ∝ the delta:

    * diff the triples log against the linked log (file-key level, one
      row per file on each side) in ONE materialized full-outer join:
      ``changed`` = versions not yet linked, ``gone`` = linked versions
      no longer live, both counted by one aggregate;
    * ``delta`` mode narrows the re-link to changed files plus files
      whose triples reference an alias block the change touched
      (operators/linking.changed_alias_blocks — the old side reads the
      superseded triples via checkpoint.stage_rows_for_keys, possible
      because the log is append-only until compaction; if compaction
      already pruned that history, fall back to ``full``);
    * re-linked rows COMMIT as a forced increment for exactly those
      files (checkpoint.run_forced_incremental_stage) — supersede works
      even at an unchanged content_sha, which is what lets a derived
      stage refresh a file the user never touched;
    * vanished paths get stage-2 tombstones;
    * a params row pins the fuzzy flag — committed INSIDE the same
      checkpoint append as the increment (never a sidecar file: that
      would open a crash window where a later run skip-serves rows
      computed under the other setting).  A flag flip forces a full
      re-link.

    The returned fingerprint is ``<keys-fp>:fuzzy=<f>`` (``fp_keys`` is
    :func:`input_fingerprint` of ``keys``), the first half of stage 4's
    skip key."""
    from sema_spark.plans.materialize import materialize

    key_cols = ["repo", "path", "content_sha"]
    fp = f"{fp_keys}:fuzzy={fuzzy}"
    want_params = f"fuzzy={fuzzy}"
    lkeys = current_checkpoint(spark, base, STAGE_LINKED).select(*key_cols)
    params_ok = latest_params(spark, base, STAGE_LINKED) == want_params

    # keys and lkeys are unique per file, so a key without a partner on
    # the other side is exactly one of the two left-anti differences
    diff = materialize(
        keys.withColumn("_live", F.lit(True))
        .join(lkeys.withColumn("_linked", F.lit(True)), key_cols, "full_outer")
        .where(F.col("_live").isNull() | F.col("_linked").isNull())
    )
    n_changed, n_gone = diff.agg(F.count("_live"), F.count("_linked")).collect()[0]
    changed = diff.where(F.col("_live").isNotNull()).select(*key_cols)
    gone = diff.where(F.col("_linked").isNotNull()).select(*key_cols)
    if n_changed == 0 and n_gone == 0 and (params_ok or fingerprint_rows(fp_keys) == 0):
        # params_ok guards against skip-serving rows computed under a
        # different fuzzy flag; an empty stage over an empty corpus has
        # no rows to mis-serve (no diff: the stage is empty iff the
        # corpus is)
        return StageRun(STAGE_LINKED, "", 0, 0, skipped=True, fingerprint=fp), "full"

    mode = "full"
    if incremental_link and params_ok:
        # the delta needs the OLD triples of gone versions; compaction
        # may have pruned that history — verify before trusting it
        unlogged = gone.join(logged_keys(spark, base, STAGE_TRIPLES), key_cols, "left_anti")
        if n_gone == 0 or unlogged.count() == 0:
            mode = "delta"

    if mode == "delta":
        old_changed_t = stage_rows_for_keys(spark, base, STAGE_TRIPLES, gone, schema=TRIPLES)
        new_changed_t = triples.join(changed, key_cols, "left_semi").transform(materialize)
        blocks = changed_alias_blocks(new_changed_t, old_changed_t)
        affected = (
            triples.filter(F.col("pred").isin(*LINK_PREDS))
            .withColumn("_p", _block_expr(F.col("obj")))
            .join(blocks, ["repo", "_p"], "left_semi")
            .select(*key_cols)
            .distinct()
            .join(changed, key_cols, "left_anti")
        )
        relink_files = changed.unionByName(affected).transform(materialize)
        to_link = triples.join(relink_files, key_cols, "left_semi")
    else:
        relink_files = keys
        to_link = triples

    rows = link_triples(to_link, nodes=build_nodes(triples), fuzzy=fuzzy)
    # tombstones + params ride the increment's OWN checkpoint append —
    # a separate tombstone write before a crashed commit would erase
    # the `gone` state-diff this very function needs to recover (the
    # r6 second-review finding), and one after it would strand deleted
    # paths behind an already-current params row.  A pure-deletion run
    # or a bare params refresh commits them alone.
    rf = run_forced_incremental_stage(
        spark, relink_files, rows, STAGE_LINKED, base, params=want_params,
        tombstone_paths=_gone_paths(gone, keys) if n_gone else None,
    )
    return replace(rf, fingerprint=fp), mode


def read_triples(spark: SparkSession, base: str) -> DataFrame:
    return read_stage_output(spark, base, STAGE_TRIPLES, schema=TRIPLES)


def read_linked(spark: SparkSession, base: str) -> DataFrame:
    return read_stage_output(spark, base, STAGE_LINKED, schema=LINKED_TRIPLES)


def read_nodes(spark: SparkSession, base: str) -> DataFrame:
    return read_snapshot(spark, base, STAGE_NODES, schema=NODES)


def read_edges(spark: SparkSession, base: str) -> DataFrame:
    return read_snapshot(spark, base, STAGE_EDGES, schema=EDGES)


def graph_stats(spark: SparkSession, base: str) -> DataFrame:
    """Headline per-repo metrics over the materialized graph."""
    edges = read_edges(spark, base)
    nodes = read_nodes(spark, base)
    per_repo = edges.groupBy("repo").agg(
        F.count("*").alias("n_edges"),
        F.countDistinct("src").alias("n_src_entities"),
    )
    node_counts = (
        nodes.groupBy("repo").agg(
            F.count("*").alias("n_nodes"),
            F.countDistinct("canonical_id").alias("n_canonical"),
        )
    )
    return per_repo.join(node_counts, "repo", "full")


# Result-shaping queries mirroring the reference's search entry points ----

def who_imports(spark: SparkSession, base: str, module_entity: str) -> DataFrame:
    """'Which files import X' — flagship lineage query."""
    return (
        read_edges(spark, base)
        .filter((F.col("pred") == "imports") & (F.col("dst") == module_entity))
        .select("src", "repo", "path")
        .distinct()
    )


def semantic_search(
    spark: SparkSession,
    chunks_with_embeddings: DataFrame,
    query: str,
    k: int = 50,
) -> DataFrame:
    """Reference entry point B (src/tui/engine.rs:102-154): encode the
    query driver-side, cosine against the embedding column, top-k, then
    the A1 per-file dedup+count window.  Unlike the reference we keep the
    real cosine score (it hardcodes 1.0, src/storage/mod.rs:123).

    Scoring is one Arrow cosine fold (:func:`cosine_literal_fold`,
    bit-identical to the ``cosine`` HOF): the dot and the chunk norm
    fold per row, the query norm once driver-side.  The stored indexes
    score the same way and keep no per-chunk norm; the encoder's
    vectors are L2-normalized, so such a column would hold only 1.0 or
    0.0, and reading it measured slower than folding the norm."""
    from pyspark.sql import Window

    from sema_spark.functions.encoder import encode_query
    from sema_spark.functions.vector import cosine_literal_fold

    if len(query.strip()) <= 2:
        # F5 min-query-length guard (reference clears results instead of
        # searching, /root/reference/src/tui/app.rs:164-168).  Build a
        # FRESH StructType: StructType.add mutates in place, and
        # df.schema returns the cached object — adding to it would
        # permanently append phantom fields to the caller's DataFrame
        # schema (duplicated on every guarded call).
        from pyspark.sql.types import DoubleType, LongType, StructField, StructType

        empty_schema = StructType(
            list(chunks_with_embeddings.schema.fields)
            + [StructField("score", DoubleType()), StructField("matches_in_file", LongType())]
        )
        return local_frame(spark, [], empty_schema)
    scored = chunks_with_embeddings.withColumn(
        "score", cosine_literal_fold(F.col("embedding"), encode_query(query))
    )
    # the cut needs a TOTAL order: bit-identical scores (duplicate
    # chunks) straddling rank k would otherwise pick partition-order
    # rows — nondeterministic run-to-run and divergent from any oracle
    topk = scored.orderBy(
        F.desc_nulls_last("score"), "repo", "path", "chunk_idx"
    ).limit(k)
    # per-FILE windows: (repo, path) — path alone would merge same-named
    # files across repos (README.md, src/main.py) into one "file".
    # chunk_idx breaks start_line ties deterministically: a file shorter
    # than CHUNK+OVERLAP yields two chunks that BOTH start on line 1
    # (main window + overlap tail), and row_number over a tied sort
    # would keep an arbitrary one (different score per run).
    w_rank = Window.partitionBy("repo", "path").orderBy("start_line", "chunk_idx")
    w_count = Window.partitionBy("repo", "path")
    return (
        topk.withColumn("rn", F.row_number().over(w_rank))
        .withColumn("matches_in_file", F.count("*").over(w_count))
        .filter(F.col("rn") == 1)
        .drop("rn")
        .orderBy(F.desc_nulls_last("score"))
    )
