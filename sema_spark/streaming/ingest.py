"""Structured Streaming ingestion paths.

The reference is strictly batch (one index pass at startup,
/root/reference/src/tui/app.rs:72-86), and the KG pipeline's incremental
story is the checkpoint anti-join (sources/checkpoint.py).  This module
adds the *streaming-native* alternative for deployments where repo
snapshots land continuously: stage-1 triple extraction is stateless
(filter → posexplode → regexp → project), so the exact same operator
graph runs under ``readStream`` unchanged — one definition, two
execution modes.  Spark's streaming file source tracks processed files
in its own checkpoint, giving exactly-once extraction per input file.

Also includes a watermarked tumbling-window event aggregation as the
canonical stateful-streaming pattern (late data tolerated up to the
watermark).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sema_spark.schemas import REPOS
from sema_spark.operators.mentions import extract_triples


def stream_repo_source(spark: SparkSession, src_dir: str) -> DataFrame:
    """Streaming source over a directory where repo-snapshot parquet
    files land (schema fixed up front — streaming requires it)."""
    return spark.readStream.schema(REPOS).parquet(src_dir)


def stream_triples(spark: SparkSession, src_dir: str) -> DataFrame:
    """Streaming stage-1: identical operator graph as batch (dedup is
    per-microbatch scope here; global dedup stays the batch job's role)."""
    return extract_triples(stream_repo_source(spark, src_dir), dedup=False)


def run_triples_stream(
    spark: SparkSession,
    src_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Write streaming triples to parquet; ``available_now`` drains the
    current backlog then stops (the batch-parity mode used in tests)."""
    writer = (
        stream_triples(spark, src_dir)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def run_triples_stream_to_log(
    spark: SparkSession,
    src_dir: str,
    base: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Streaming ingest THROUGH the log-structured checkpoint store:
    every microbatch executes the same ``run_incremental_stage`` the
    batch pipeline uses (``foreachBatch`` is the bridge — inside it the
    microbatch is a plain DataFrame).

    Exactly-once at two independent levels: the file-source checkpoint
    dedupes INPUT FILES across restarts, and the content-sha anti-join
    dedupes WORK — a microbatch replayed after a crash (foreachBatch is
    at-least-once) finds its files already checkpointed and skips them
    instead of appending duplicate rows.  Readers see each increment
    atomically via the data-before-checkpoint commit order."""
    from sema_spark.operators.mentions import with_content_sha
    from sema_spark.sources.checkpoint import run_incremental_stage

    def handle(batch_df, batch_id: int) -> None:
        run_incremental_stage(
            spark,
            with_content_sha(batch_df),
            "triples",
            base,
            lambda pending: extract_triples(pending, dedup=True),
        )

    writer = (
        stream_repo_source(spark, src_dir)
        .writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def windowed_event_counts(
    events: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Watermarked tumbling-window counts — works on both batch and
    streaming DataFrames (watermark is a no-op in batch)."""
    src = events
    if events.isStreaming:
        src = events.withWatermark("ts", watermark)
    return (
        src.groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "sum_value")
    )


def run_semantic_index_stream(
    spark: SparkSession,
    src_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Streaming maintenance of the STORED semantic index — the
    reference's watcher loop (/root/reference/src/storage/mod.rs:30-52
    watches the directory, hashes content, and re-indexes changed files
    incrementally) as Structured Streaming: every microbatch of
    newly-landed repo files flows through ``semantic_index_append``,
    whose (repo, path, CONTENT-sha) anti-join makes replayed
    microbatches no-ops while a file re-landing with NEW content commits
    a new run that supersedes its old chunks in the index's checkpoint
    log — the same two-level exactly-once story as
    ``run_triples_stream_to_log``
    (file-source checkpoint dedupes input files, the anti-join dedupes
    work).  Note the file source only surfaces newly-ARRIVED files: an
    in-place mtime-only edit is invisible to Spark's file source, so
    changed content must land as a new file (the append handles the
    rest); deletions are batch-side (``semantic_index_remove``).  The
    index must exist (``build_semantic_index``, possibly over an empty
    frame) before the stream starts."""
    from sema_spark.sources.ann_index import semantic_index_append

    def handle(batch_df, batch_id: int) -> None:
        semantic_index_append(
            batch_df.select("repo", "path", "content"), index_dir
        )

    writer = (
        stream_repo_source(spark, src_dir)
        .writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
