"""Checkpointed incremental stage execution (SURVEY J1/S5/S7/S8).

Generalizes the reference's incremental indexing loop
(/root/reference/src/storage/mod.rs:30-52): per file, compare the stored
content hash; unchanged → skip, changed → supersede old output, new →
process.  The reference does this as N sequential point lookups; we do
ONE left-anti join against the current checkpoint.

Crash-safety contract (reference ordering, /root/reference/src/storage/mod.rs:59-67):
**data lands before its checkpoint row.**  We make that scale-safe with a
log-structured layout — every write is append-only, never a rewrite:

    <base>/<stage>/data/run_id=<rid>/*.parquet     (appends)
    <base>/<stage>/checkpoint/*.parquet            (appends)
    <base>/<stage>/lineage/*.parquet               (appends)

A data row is *visible* only if the current checkpoint references its
``(repo, path, content_sha, run_id)``.  Consequences:

* crash after data write but before checkpoint append → orphan rows are
  invisible; the rerun re-processes those files (re-process, never skip);
* a changed file gets a new checkpoint row from a later run which wins
  ``max_by(run_id)`` → old output rows become invisible (upsert S8);
* deletion (S7) is a tombstone checkpoint row, no data touched.

Every commit goes through ONE write tail (``_commit_increment``), four
Spark actions in this order:

1. the data write (the rows are persisted for the next action);
2. one collect of the per-partition row counts — the lineage rows,
   whose sum is the commit's row count (no separate count);
3. the lineage append (a zero-row commit has no lineage row and skips
   it);
4. one checkpoint append that carries the increment's per-file rows
   together with its params and tombstone rows, or a snapshot's single
   commit mark.

An increment over an empty file set that still has params or
tombstones to record commits them alone, in one standalone append.
Every driver-built frame — lineage rows, marker rows, the empty frame
of an absent path — is one Arrow batch (:func:`local_frame`): it plans
as a ``LocalTableScan``, so no Python worker unpickles its rows.

Absent-log rule: a path that does not exist yet reads as the empty
local frame of its schema (``_read_or_empty``).  Spark's optimizer
folds a filter/sort/limit collect over that frame without running a
job, so :func:`latest_params` and ``_latest_commit`` of a stage with no
log yet answer ``None`` at no job cost.

This is Iceberg snapshot semantics hand-rolled over plain parquet; on a
cluster with an Iceberg catalog the same API maps onto MERGE INTO +
snapshot reads, but nothing here requires it.
"""

from __future__ import annotations

import itertools
import time
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sema_spark.schemas import CHECKPOINT, LINEAGE

TOMBSTONE = "__DELETED__"
# marker repos in the checkpoint log (never real files): snapshot commit
# marks and per-stage params rows (the params a stage's stored rows were
# computed under — committed ATOMICALLY with the increment's checkpoint
# append, so a crash can never leave data claiming the wrong params)
COMMIT_MARK = "__SNAPSHOT__"
PARAMS_MARK = "__PARAMS__"


_RUN_COUNTER = itertools.count()


def new_run_id() -> str:
    """Sortable run id: UTC second prefix + nanosecond fraction +
    process-monotonic counter + entropy.

    last-writer-wins resolution is ``max_by(run_id)`` string order, so
    same-SECOND runs must still sort in creation order — a bare
    second-resolution timestamp left consecutive streaming microbatches
    randomly ordered (50% chance the older content won).  The '.' after
    the seconds sorts above the old format's '-', so new ids always
    supersede old-format ids from the same second."""
    ns = time.time_ns()
    frac = ns % 1_000_000_000
    stamp = time.strftime("%Y%m%dT%H%M%S", time.gmtime(ns // 1_000_000_000))
    return f"{stamp}.{frac:09d}-{next(_RUN_COUNTER):08d}-{uuid.uuid4().hex[:6]}"


def _ckpt_dir(base: str, stage: str) -> str:
    return f"{base}/{stage}/checkpoint"


def _data_dir(base: str, stage: str) -> str:
    return f"{base}/{stage}/data"


def _lineage_dir(base: str, stage: str) -> str:
    return f"{base}/{stage}/lineage"


def local_frame(spark: SparkSession, rows: list, schema) -> DataFrame:
    """A driver-side frame of ``rows`` (tuples in ``schema`` field order)
    built from ONE Arrow batch.  It plans as a ``LocalTableScan``, which
    every action reads in the JVM; ``createDataFrame(<list>)`` plans as
    a scan over a ``PythonRDD`` instead, and Python workers unpickle its
    rows again on every action.  ``schema`` is kept exactly,
    nullability included."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    table = pa.Table.from_pylist(
        [dict(zip(schema.names, r)) for r in rows], schema=to_arrow_schema(schema)
    )
    return spark.createDataFrame(table, schema)


_ABSENT = ("PATH_NOT_FOUND",)
_ABSENT_OR_EMPTY = ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA")


def _read_parquet(
    spark: SparkSession,
    path: str,
    *,
    read_schema=None,
    empty_schema=None,
    codes=_ABSENT,
    merge_schema: bool = False,
) -> DataFrame:
    """Read parquet; an AnalysisException matching ``codes`` returns an
    empty frame when ``empty_schema`` is given, otherwise propagates.
    The ONE place the absent-vs-broken policy lives: anything outside
    ``codes`` (corruption, permissions, transient storage errors) always
    propagates — swallowing it would silently reprocess and re-append
    every file on the next incremental run."""
    from pyspark.errors import AnalysisException

    try:
        reader = spark.read.schema(read_schema) if read_schema is not None else spark.read
        if merge_schema:
            reader = reader.option("mergeSchema", "true")
        return reader.parquet(path)
    except AnalysisException as e:
        if empty_schema is not None and any(c in str(e) for c in codes):
            return local_frame(spark, [], empty_schema)
        raise


def _read_or_empty(spark: SparkSession, path: str, schema) -> DataFrame:
    """Empty frame ONLY for a genuinely absent path ('no checkpoint yet')."""
    return _read_parquet(spark, path, read_schema=schema, empty_schema=schema)


def read_checkpoint_log(spark: SparkSession, base: str, stage: str) -> DataFrame:
    return _read_or_empty(spark, _ckpt_dir(base, stage), _with_run_id(CHECKPOINT))


def has_checkpoint_log(spark: SparkSession, base: str, stage: str) -> bool:
    """Whether the stage has a checkpoint log yet — a driver-side file-
    system check, no Spark job."""
    path = _ckpt_dir(base, stage)
    fs, hpath = _fs(spark, path)
    return fs.exists(hpath(path))


def current_checkpoint(spark: SparkSession, base: str, stage: str) -> DataFrame:
    """Latest (content_sha, run_id) per file — last writer wins by sortable
    run_id.  One row per live file; tombstones excluded.

    Marker rows (snapshot commit marks, params rows) are not files and
    are excluded here; read them from :func:`read_checkpoint_log` /
    :func:`latest_params`.  Superseded versions stay readable through
    :func:`stage_rows_for_keys` until compaction.
    """
    log = read_checkpoint_log(spark, base, stage)
    latest = file_rows(log).groupBy(
        "stage", "repo", "path"
    ).agg(
        F.max_by(F.struct("content_sha", "run_id"), F.col("run_id")).alias("cur")
    )
    return latest.select(
        "stage", "repo", "path", F.col("cur.content_sha").alias("content_sha"), F.col("cur.run_id").alias("run_id")
    ).filter(F.col("content_sha") != TOMBSTONE)


def pending_files(src: DataFrame, ckpt_current: DataFrame) -> DataFrame:
    """J1: source rows not yet processed at their current content.

    left-anti on (repo, path, content_sha) — covers both brand-new files
    (no checkpoint row) and changed files (sha mismatch).  Unchanged
    files drop out, which is the reference's 'skip' branch
    (/root/reference/src/storage/mod.rs:40-41).
    """
    keys = ["repo", "path", "content_sha"]
    return src.join(ckpt_current.select(*keys), on=keys, how="left_anti")


@dataclass
class StageRun:
    stage: str
    run_id: str
    input_files: int
    output_rows: int
    skipped: bool
    # snapshot stages: the committed input fingerprint (stable across
    # compaction, unlike run_id) — downstream stages key their skip
    # fingerprints on this
    fingerprint: str | None = None


def run_incremental_stage(
    spark: SparkSession,
    src: DataFrame,
    stage: str,
    base: str,
    transform,
    run_id: str | None = None,
) -> StageRun:
    """Execute one checkpointed stage increment.

    ``src`` must carry (repo, path, content_sha) plus whatever
    ``transform`` needs; ``transform(pending_df)`` must return rows that
    keep (repo, path, content_sha), and is called only when some file is
    pending.  Write order: data → lineage → checkpoint (crash between any
    two is safe, see module docstring).
    """
    pending = pending_files(src, current_checkpoint(spark, base, stage))
    return _run_files(spark, base, stage, pending, lambda: transform(pending), run_id)


def file_rows(log: DataFrame) -> DataFrame:
    """The log restricted to REAL per-file rows — marker rows (snapshot
    commit marks, params rows) excluded.  The one place the marker
    predicate lives; every consumer filters through here so a future
    marker kind cannot silently leak into file-level logic."""
    return log.filter(~F.col("repo").isin(COMMIT_MARK, PARAMS_MARK))


def _mark_row(spark: SparkSession, stage: str, mark: str, value: str, run_id: str) -> DataFrame:
    """One marker row of the checkpoint log (snapshot commit or params)."""
    return local_frame(spark, [(stage, mark, mark, value, run_id)], _with_run_id(CHECKPOINT))


def _log_entry_rows(
    spark: SparkSession,
    stage: str,
    run_id: str,
    files: DataFrame | None = None,
    params: str | None = None,
    tombstone_paths: DataFrame | None = None,
) -> DataFrame | None:
    """The checkpoint rows of one commit: a row per (repo, path,
    content_sha) of ``files``, a tombstone per (repo, path) of
    ``tombstone_paths`` and the ``params`` marker — None when there are
    none."""
    parts = []
    if files is not None:
        parts.append(
            files.select(
                F.lit(stage).alias("stage"), "repo", "path", "content_sha", F.lit(run_id).alias("run_id")
            )
        )
    if tombstone_paths is not None:
        parts.append(
            tombstone_paths.select(
                F.lit(stage).alias("stage"),
                "repo",
                "path",
                F.lit(TOMBSTONE).alias("content_sha"),
                F.lit(run_id).alias("run_id"),
            )
        )
    if params is not None:
        parts.append(_mark_row(spark, stage, PARAMS_MARK, params, run_id))
    if not parts:
        return None
    df = parts[0]
    for p in parts[1:]:
        df = df.unionByName(p)
    return df


def run_forced_incremental_stage(
    spark: SparkSession,
    files: DataFrame,
    rows: DataFrame,
    stage: str,
    base: str,
    run_id: str | None = None,
    partition_cols: list[str] | None = None,
    params: str | None = None,
    tombstone_paths: DataFrame | None = None,
) -> StageRun:
    """Commit an increment for an EXPLICIT file set — no anti-join: the
    caller decides which files to (re)process.  ``rows`` replace those
    files' previous output via the ordinary per-file supersede
    (``max_by(run_id)``), which works even when a file's content_sha is
    UNCHANGED — the lever behind derived stages whose output for an
    untouched file can still change because a neighbor changed (the
    incremental stage-2 maintenance re-links alias-delta-affected
    files).  Same write order and crash contract as
    :func:`run_incremental_stage`.

    ``params``: the parameter string the rows were computed under.
    ``tombstone_paths``: (repo, path) rows to mark deleted in the same
    commit.  BOTH ride the increment's own checkpoint append — params,
    tombstones, and the file rows become visible in one atomic-per-
    reader write, so no crash ordering can leave the log claiming the
    wrong parameters or (the r6 review's scenario) consume the
    state-diff a rerun needs to recover: tombstones appended SEPARATELY
    before a crashed commit would erase the ``gone`` diff while the
    re-link they travelled with never landed.  With an EMPTY file set
    (a pure-deletion run, a bare params refresh) no data is written and
    the params and tombstone rows commit alone, in one standalone
    append; the run reports ``skipped`` only when there was nothing at
    all to commit.  Read params back with :func:`latest_params`."""
    return _run_files(
        spark, base, stage, files, lambda: rows, run_id, partition_cols, params, tombstone_paths
    )


def _run_files(
    spark: SparkSession,
    base: str,
    stage: str,
    files: DataFrame,
    rows,
    run_id: str | None,
    partition_cols: list[str] | None = None,
    params: str | None = None,
    tombstone_paths: DataFrame | None = None,
) -> StageRun:
    """The shared body of both increment kinds: count the file set,
    then commit ``rows()`` for it (``rows`` is called only for a
    non-empty set) with the params and tombstone rows in the same
    checkpoint append."""
    run_id = run_id or new_run_id()
    # The checkpoint keys of this increment (small: one row per file).
    # Persisted: unpersisted, the count here and the checkpoint append
    # would EACH re-evaluate the file set (for run_incremental_stage the
    # anti-join rescans and rehashes the full content) — and the
    # committed keys must come from the same evaluation the count saw.
    files = files.select("repo", "path", "content_sha").distinct().persist()
    try:
        n_files = files.count()
        entries = _log_entry_rows(
            spark, stage, run_id, files if n_files else None, params, tombstone_paths
        )
        if entries is None:
            return StageRun(stage, run_id, 0, 0, skipped=True)
        if n_files == 0:  # no data: the params and tombstones commit alone
            entries.write.mode("append").parquet(_ckpt_dir(base, stage))
            return StageRun(stage, run_id, 0, 0, skipped=False)
        n_rows = _commit_increment(spark, base, stage, rows(), entries, run_id, partition_cols)
    finally:
        files.unpersist()
    return StageRun(stage, run_id, n_files, n_rows, skipped=False)


def latest_params(spark: SparkSession, base: str, stage: str) -> str | None:
    """The params string of the stage's most recent committed increment
    (None when the stage has never committed one)."""
    rows = (
        read_checkpoint_log(spark, base, stage)
        .filter(F.col("repo") == PARAMS_MARK)
        .orderBy(F.desc("run_id"))
        .limit(1)
        .collect()
    )
    return rows[0].content_sha if rows else None


def _commit_increment(
    spark: SparkSession,
    base: str,
    stage: str,
    rows: DataFrame,
    ckpt_rows: DataFrame,
    run_id: str,
    partition_cols: list[str] | None = None,
) -> int:
    """The one write tail: data → lineage → checkpoint (commit LAST; see
    module docstring for the crash contract).  ``ckpt_rows`` are the
    checkpoint rows that make the data visible: an increment's per-file
    rows plus its params and tombstones, or a snapshot's commit mark.
    Returns the data row count: the sum of the lineage rows, so the
    write tail runs no separate count."""
    out = rows.withColumn("run_id", F.lit(run_id)).persist()
    try:
        out.write.mode("append").partitionBy("run_id", *(partition_cols or [])).parquet(
            _data_dir(base, stage)
        )
        # Per-partition lineage rows (A3 generalized; north rule).
        counts = (
            out.groupBy(F.spark_partition_id().alias("partition_id"))
            .agg(F.count("*").alias("rows"))
            .collect()
        )
        n_rows = sum(r.rows for r in counts)
        if counts:
            local_frame(
                spark, [(stage, r.partition_id, r.rows, run_id) for r in counts], LINEAGE
            ).write.mode("append").parquet(_lineage_dir(base, stage))
        # Checkpoint LAST — only now do this run's rows become visible.
        ckpt_rows.write.mode("append").parquet(_ckpt_dir(base, stage))
    finally:
        out.unpersist()
    return n_rows


def read_stage_output(spark: SparkSession, base: str, stage: str, schema=None) -> DataFrame:
    """Current snapshot: data rows referenced by the live checkpoint.

    left-semi on (repo, path, content_sha, run_id) — orphans from
    crashed runs and superseded rows from re-indexed files vanish here.

    ``schema``: expected data schema (without run_id).  A stage whose
    every run produced ZERO rows writes no parquet footers, so schema
    inference fails on a legitimately-empty stage; with ``schema`` the
    caller gets an empty DataFrame instead of an error (an empty or
    fully-filtered source is a valid pipeline state, not a crash).

    When ``schema`` is given the scan uses it EXPLICITLY (plus run_id):
    a stage dir can mix file generations with different column sets
    (e.g. snapshot-format edges without content_sha), and inferred-schema
    reads would nondeterministically adopt whichever footer Spark
    samples — with the declared schema, columns missing from old files
    read as null and the liveness join filters those rows out anyway.
    """
    data = _read_parquet(
        spark,
        _data_dir(base, stage),
        read_schema=_with_run_id(schema),
        empty_schema=schema,
        codes=_ABSENT_OR_EMPTY,
    )
    if "run_id" not in data.columns:
        return data  # legitimately-empty stage: nothing to join
    ckpt = current_checkpoint(spark, base, stage)
    keys = ["repo", "path", "content_sha", "run_id"]
    return data.join(ckpt.select(*keys), on=keys, how="left_semi").drop("run_id")


def _with_run_id(schema):
    """Declared data schema + the run_id partition column (None → None)."""
    if schema is None:
        return None
    from pyspark.sql.types import StringType, StructField, StructType

    return StructType(list(schema.fields) + [StructField("run_id", StringType(), False)])


def stage_rows_for_keys(
    spark: SparkSession, base: str, stage: str, keys: DataFrame, schema=None
) -> DataFrame:
    """Data rows for an EXPLICIT (repo, path, content_sha) key set —
    including versions superseded in the live state: data and log are
    append-only until compaction, so any previously-LOGGED version
    remains readable (a crashed run's orphans were never logged and
    stay invisible; per key the latest logged run wins).  Callers that
    depend on historical versions must first check the log still has
    them (see :func:`logged_keys`) — compaction prunes superseded
    entries."""
    key_cols = ["repo", "path", "content_sha"]
    log = read_checkpoint_log(spark, base, stage).filter(F.col("content_sha") != TOMBSTONE)
    latest = (
        log.join(keys.select(*key_cols).distinct(), key_cols, "left_semi")
        .groupBy(*key_cols)
        .agg(F.max("run_id").alias("run_id"))
    )
    data = _read_parquet(
        spark,
        _data_dir(base, stage),
        read_schema=_with_run_id(schema),
        empty_schema=schema,
        codes=_ABSENT_OR_EMPTY,
    )
    if "run_id" not in data.columns:
        return data
    return data.join(latest, key_cols + ["run_id"], "left_semi").drop("run_id")


def logged_keys(spark: SparkSession, base: str, stage: str) -> DataFrame:
    """Every (repo, path, content_sha) the stage's log has EVER recorded
    (tombstones excluded) — superset of the live state until compaction
    prunes history."""
    return (
        file_rows(read_checkpoint_log(spark, base, stage))
        .filter(F.col("content_sha") != TOMBSTONE)
        .select("repo", "path", "content_sha")
        .distinct()
    )


def delete_files(
    spark: SparkSession, base: str, stage: str, paths: DataFrame, run_id: str | None = None
) -> None:
    """S7 delete-by-predicate as tombstone appends; no data rewrite.

    ``paths``: DataFrame with (repo, path).
    """
    run_id = run_id or new_run_id()
    _log_entry_rows(spark, stage, run_id, tombstone_paths=paths).write.mode("append").parquet(
        _ckpt_dir(base, stage)
    )


# ---------------------------------------------------------------------------
# Snapshot stages (derived tables).  Only the pipeline's stage 3
# (canonical nodes) is one: canonicalization is a global fixpoint, so one
# changed file can merge or split components anywhere.  Each run writes
# a complete snapshot and commits it with the *input fingerprint*; an
# unchanged fingerprint skips the run entirely.  Stages 2 and 4 are 1:1
# with the triples and are stored as per-file increments instead
# (plans/pipeline.py).


def input_fingerprint(keys: DataFrame) -> str:
    """Order-independent fingerprint of a (repo, path, content_sha) set.

    Distinct-ed here, not trusted from the caller: xor lets duplicate
    rows cancel (A⊕A⊕B == C⊕C⊕B), so a multiset input could fingerprint
    equal across genuinely different inputs and skip a stale snapshot."""
    row = (
        keys.select("repo", "path", "content_sha")
        .distinct()
        .select(
            F.count("*").alias("n"),
            # bit_xor not sum: order-independent and safe under ANSI overflow
            F.bit_xor(F.xxhash64("repo", "path", "content_sha")).alias("s"),
        )
        .collect()[0]
    )
    return f"{row.n}:{row.s}"


def fingerprint_rows(fp: str) -> int:
    """The distinct key count an :func:`input_fingerprint` carries."""
    return int(fp.split(":", 1)[0])


def _latest_commit(spark: SparkSession, base: str, stage: str):
    """The stage's latest snapshot commit mark row (None when it has none)."""
    log = read_checkpoint_log(spark, base, stage)
    rows = (
        log.filter(F.col("repo") == COMMIT_MARK)
        .orderBy(F.desc("run_id"))
        .limit(1)
        .collect()
    )
    return rows[0] if rows else None


def run_snapshot_stage(
    spark: SparkSession,
    input_fp: str,
    stage: str,
    base: str,
    producer,
    run_id: str | None = None,
    partition_cols: list[str] | None = None,
    params: str = "",
) -> StageRun:
    """Full-snapshot stage with fingerprint skip + commit-last visibility.

    ``input_fp`` is :func:`input_fingerprint` of the stage's input keys
    (the pipeline computes it once per run and shares it between stages
    2 and 3).  ``producer()`` → the complete output DataFrame for this
    snapshot.  Crash before the commit row → snapshot invisible, rerun
    regenerates.

    ``params``: everything BEYOND the input keys that the output depends
    on — pipeline flags, upstream snapshot run_ids — folded into the
    skip fingerprint.  Without it, rerunning with a changed parameter
    (e.g. fuzzy=False) or after an upstream regeneration would silently
    return the stale snapshot.
    """
    run_id = run_id or new_run_id()
    fp = f"{input_fp}:{params}" if params else input_fp
    last = _latest_commit(spark, base, stage)
    if last is not None and last.content_sha == fp:
        return StageRun(stage, last.run_id, 0, 0, skipped=True, fingerprint=fp)
    n_rows = _commit_increment(
        spark, base, stage, producer(), _mark_row(spark, stage, COMMIT_MARK, fp, run_id), run_id,
        partition_cols,
    )
    return StageRun(stage, run_id, -1, n_rows, skipped=False, fingerprint=fp)


def read_snapshot(spark: SparkSession, base: str, stage: str, schema=None) -> DataFrame:
    """Rows of the latest committed snapshot run.  ``schema`` handles the
    legitimately-empty committed snapshot (see read_stage_output)."""
    last = _latest_commit(spark, base, stage)
    if last is None:
        raise FileNotFoundError(f"no committed snapshot for stage {stage!r} under {base}")
    return read_snapshot_run(spark, base, stage, last.run_id, schema)


def read_committed_snapshot(
    spark: SparkSession, base: str, stage: str, fingerprint: str, schema
) -> DataFrame | None:
    """Rows of the latest snapshot run committed under ``fingerprint``
    (an older snapshot stays readable until compaction) — None when
    that history is gone: no such commit is logged, or the data dir is
    absent or the run has no rows.  Every other read error propagates
    (the :func:`_read_parquet` policy)."""
    rid = (
        read_checkpoint_log(spark, base, stage)
        .filter((F.col("repo") == COMMIT_MARK) & (F.col("content_sha") == fingerprint))
        .agg(F.max("run_id"))
        .collect()[0][0]
    )
    if rid is None:
        return None
    rows = read_snapshot_run(spark, base, stage, rid, schema)
    return rows if rows.limit(1).count() > 0 else None


def read_snapshot_run(spark: SparkSession, base: str, stage: str, run_id: str, schema) -> DataFrame:
    """Rows of the snapshot committed as ``run_id`` (e.g. the run id a
    :func:`run_snapshot_stage` call returned)."""
    data = _read_parquet(
        spark, _data_dir(base, stage), empty_schema=schema, codes=_ABSENT_OR_EMPTY
    )
    if "run_id" not in data.columns:
        return data  # legitimately-empty snapshot
    return data.filter(F.col("run_id") == run_id).drop("run_id")


def read_lineage(spark: SparkSession, base: str, stage: str) -> DataFrame:
    return _read_or_empty(spark, _lineage_dir(base, stage), LINEAGE)


def _fs(spark: SparkSession, path: str):
    hpath = spark._jvm.org.apache.hadoop.fs.Path
    return hpath(path).getFileSystem(spark._jsc.hadoopConfiguration()), hpath


def _list_children(spark: SparkSession, path: str) -> list[str]:
    fs, hpath = _fs(spark, path)
    if not fs.exists(hpath(path)):
        return []
    return [s.getPath().toString() for s in fs.listStatus(hpath(path))]


def _partition_cols_of(spark: SparkSession, data_dir: str) -> list[str]:
    """Partition columns BELOW run_id, inferred from the directory
    layout of an existing run — compact must write the same layout or
    the data dir would mix partition depths and become unreadable."""
    cols: list[str] = []
    rundirs = [
        p for p in _list_children(spark, data_dir) if p.rsplit("/", 1)[-1].startswith("run_id=")
    ]
    if not rundirs:
        return cols
    cur = rundirs[0]
    while True:
        subs = [
            p
            for p in _list_children(spark, cur)
            if "=" in p.rsplit("/", 1)[-1] and not p.rsplit("/", 1)[-1].startswith("_")
        ]
        if not subs:
            return cols
        cols.append(subs[0].rsplit("/", 1)[-1].split("=", 1)[0])
        cur = subs[0]


def compact(spark: SparkSession, base: str, stage: str) -> str:
    """Maintenance: rewrite the live rows into ONE new run and garbage-
    collect everything older (Iceberg's rewrite_data_files + snapshot
    expiry, expressed in the log's own append-then-GC terms).

    Crash-safe AT EVERY POINT under the existing read rules — no
    directory swap, no window where the checkpoint is absent:

    1. append compacted data under ``run_id=<rid>`` — invisible until
       referenced (crash here: harmless orphan, next compact re-runs);
    2. append checkpoint rows with ``run_id=<rid>`` for every live file
       — ``max_by(run_id)`` makes the compacted rows the current ones
       and supersedes every older row atomically-per-reader;
    3. delete pre-existing data run directories and checkpoint files —
       all unreferenced after (2), so a crash mid-delete just leaves
       garbage for the next compact.

    Tombstoned files get no new checkpoint row: if their old tombstone
    row survives a partial GC it still reads as deleted; once GC'd the
    file has no row at all — also deleted.  Returns the new run_id.

    SINGLE-WRITER maintenance op: crash-safe against itself, but do not
    run it concurrently with ingest into the same stage — a writer whose
    data landed before compact's GC listing but whose checkpoint row
    landed after step (2) would have its data collected while its
    checkpoint row survives (the optimistic-commit protection a real
    catalog provides is exactly what plain directories lack).

    READERS need exclusion too: a reader that resolved the checkpoint
    before step (2) and is still scanning the prior snapshot's parquet
    when step (3) deletes it fails mid-scan (FileNotFound).  Step (3) is
    immediate GC with no grace period — Iceberg separates these as
    rewrite (safe under readers) vs expire_snapshots (run after in-flight
    reads drain); here both happen in one call, so schedule compact()
    in a maintenance window with no concurrent reads, or read through
    ``materialize``/collected results rather than live scans."""
    rid = new_run_id()
    last = _latest_commit(spark, base, stage)
    if not any(
        "run_id=" in p.rsplit("/", 1)[-1] for p in _list_children(spark, _data_dir(base, stage))
    ):
        # legitimately-empty stage (zero-row runs write no files): nothing
        # to rewrite and no schema to infer — no-op
        return rid
    # a stage with ANY per-file or params row is incremental, even if a
    # snapshot commit mark lingers from the snapshot storage format
    # that stages 2 and 4 had before r6: preferring the mark would
    # rewrite the stage back to the stale snapshot and GC the live
    # increments.  file_rows() is not enough here: it excludes the
    # params marker, and a stage whose whole per-file state is one
    # params row must stay incremental too
    has_new_rows = (
        read_checkpoint_log(spark, base, stage)
        .filter(F.col("repo") != COMMIT_MARK)
        .limit(1)
        .count()
        > 0
    )
    # preserve the stage's partition layout below run_id — writing a
    # different depth would make the directory unreadable mid-GC
    extra_parts = _partition_cols_of(spark, _data_dir(base, stage))
    old_data = [
        p for p in _list_children(spark, _data_dir(base, stage)) if f"run_id={rid}" not in p
    ]
    old_ckpt = list(_list_children(spark, _ckpt_dir(base, stage)))
    if last is not None and not has_new_rows:  # snapshot stage
        live = read_snapshot(spark, base, stage).withColumn("run_id", F.lit(rid))
        ckpt_new = _mark_row(spark, stage, COMMIT_MARK, last.content_sha, rid)
    else:  # incremental stage: keep rows referenced by the live checkpoint
        # merge footers: a migrated dir can mix file generations with
        # different column sets, and compact has no declared schema to
        # read under (maintenance op — the footer-listing cost is fine)
        data = _read_parquet(
            spark, _data_dir(base, stage), merge_schema=True, codes=_ABSENT_OR_EMPTY
        )
        ckpt = current_checkpoint(spark, base, stage)
        jk = ["repo", "path", "content_sha", "run_id"]
        live = (
            data.join(ckpt.select(*jk), on=jk, how="left_semi")
            .drop("run_id")
            .withColumn("run_id", F.lit(rid))
        )
        # the params marker must survive compaction or the next
        # maintenance run would needlessly distrust the stored rows
        ckpt_new = _log_entry_rows(spark, stage, rid, ckpt, latest_params(spark, base, stage))
    # (1) data append: read of the old state completes while writing
    live.write.mode("append").partitionBy("run_id", *extra_parts).parquet(_data_dir(base, stage))
    # (2) checkpoint append: the compacted run becomes current
    ckpt_new.write.mode("append").parquet(_ckpt_dir(base, stage))
    # (3) GC the superseded files (anything that existed before (2)) —
    # CHECKPOINT rows first, data dirs second (r7 ADVICE fix): a crash
    # mid-GC then leaves dangling DATA (a harmless orphan later GC'd)
    # instead of dangling LOG rows whose data is gone — the delta
    # path's trust check (logged_keys ⊇ gone) would accept those rows
    # while stage_rows_for_keys returns nothing, silently committing an
    # incomplete old-side alias delta
    fs, hpath = _fs(spark, base)
    for p in old_ckpt + old_data:
        fs.delete(hpath(p), True)
    return rid
