"""Pluggable materialization primitive for iterative / branch-shared plans.

Catalyst does not share common subtrees across a union-of-branches DAG
and iterative plans (connected components) grow lineage without bound,
so the pipeline cuts plans at explicit points.  HOW the cut happens is a
deployment decision, not an algorithm decision:

* ``local``    — ``DataFrame.localCheckpoint``: fastest (executor-local
  blocks, no lineage), the right call in local mode and for short jobs.
  NOT resilient: localCheckpoint blocks are unrecoverable after executor
  loss, so a 1000-executor job would die mid-stage on one lost node.
* ``reliable`` — ``DataFrame.checkpoint`` to a durable checkpoint dir
  (``SPARK_GRAFT_CHECKPOINT_DIR``; HDFS/object-store path on a cluster).
  Survives executor loss; costs a write+read of the cut dataset.
* ``persist``  — ``persist(MEMORY_AND_DISK)`` + eager count.  Blocks are
  RE-COMPUTABLE from lineage on executor loss (Spark's native resilience)
  and stay in memory when they fit — the default we'd ship on a cluster.
  Two documented limits vs the checkpoint modes: (a) persist cuts
  RECOMPUTATION (downstream reads InMemoryTableScan) but not the
  LOGICAL plan — which is why loop-internal cuts pass
  ``truncate=True`` (see :func:`materialize`): a round that references
  the previous round's result more than once grows the plan
  exponentially, and pagerank@10 OOMed the driver under plain persist; (b) cached blocks live until the
  session ends or ``spark.catalog.clearCache()`` — call it between
  pipelines when running many in one session.

Select with ``set_materialize_mode()`` or ``$SPARK_GRAFT_MATERIALIZE``.
All call sites use ``df.transform(materialize)`` so the mode is a pure
runtime switch; the e2e pipeline test runs in every mode.

Note: every mode preserves attribute exprIds, so joining a materialized
derivative back against its source still needs physically renamed
columns (the ambiguous-self-join caveat documented in linking.py).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

MODES = ("local", "reliable", "persist")
_mode_override: str | None = None
_DEFAULT_CKPT_DIR = "/tmp/sema_spark_reliable_ckpt"


def set_materialize_mode(mode: str | None) -> None:
    """Process-wide override; ``None`` returns control to the env var."""
    global _mode_override
    if mode is not None and mode not in MODES:
        raise ValueError(f"materialize mode must be one of {MODES}, got {mode!r}")
    _mode_override = mode


def materialize_mode() -> str:
    mode = _mode_override or os.environ.get("SPARK_GRAFT_MATERIALIZE", "local")
    if mode not in MODES:
        raise ValueError(f"$SPARK_GRAFT_MATERIALIZE must be one of {MODES}, got {mode!r}")
    return mode


def materialize(df: DataFrame, truncate: bool = False) -> DataFrame:
    """Cut the logical plan here, per the configured mode (eager).

    ``truncate=True`` is for INSIDE iterative loops and demands a real
    lineage cut every call: persist alone leaves the logical plan
    intact, and a loop whose next round references this round's result
    more than once (pagerank's ranks feed contribs AND the dangling
    probe AND the rebuild) grows the un-truncated plan EXPONENTIALLY
    with iteration count — measured: pagerank@10 iterations OOMs the
    driver on plan stringification under plain persist.  In persist
    mode, truncating calls therefore fall back to localCheckpoint; a
    production cluster runs iterative algorithms with
    ``SPARK_GRAFT_MATERIALIZE=reliable`` (durable checkpoints), which
    truncates natively.  Loop-external stage boundaries (bounded cut
    count) keep persist's recomputable-lineage semantics."""
    mode = materialize_mode()
    if mode == "local" or (mode == "persist" and truncate):
        return df.localCheckpoint(eager=True)
    if mode == "reliable":
        sc = df.sparkSession.sparkContext
        if sc.getCheckpointDir() is None:
            sc.setCheckpointDir(
                os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR", _DEFAULT_CKPT_DIR)
            )
        return df.checkpoint(eager=True)
    out = df.persist(StorageLevel.MEMORY_AND_DISK)
    out.count()
    return out


def materialize_lazy(df: DataFrame) -> DataFrame:
    """Cut the plan WITHOUT running a job now (r7): the cut subtree
    computes once on the FIRST action and is reused by every branch /
    later action — for multi-consumer subtrees inside queries whose
    construction must stay action-free (bm25_search's per-doc frame:
    tests/test_plans.py forbids driver actions at build time, and an
    eager cut would execute a job per query construction).  Same
    mode dispatch as :func:`materialize`; local-checkpoint blocks are
    released by the ContextCleaner when the DataFrame is GC'd, so
    per-query cuts do not accumulate across a long session the way
    CacheManager-tracked persists would."""
    mode = materialize_mode()
    if mode == "reliable":
        sc = df.sparkSession.sparkContext
        if sc.getCheckpointDir() is None:
            sc.setCheckpointDir(
                os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR", _DEFAULT_CKPT_DIR)
            )
        return df.checkpoint(eager=False)
    return df.localCheckpoint(eager=False)


def spread(df: DataFrame, *cols: str) -> DataFrame:
    """Repartition to 2× the session's cores before a CPU-heavy per-row
    phase (regex banks, interpreted HOFs, sketches, encoders, Python
    UDFs): a parquet file below row-group size arrives as ONE split, so
    that phase would otherwise run on one core.  ``cols`` hash-partition
    on them; none is a round-robin exchange.

    Unconditional explicit-numPartitions repartition: AQE does not
    coalesce a user-specified partition count, so the phase gets its
    parallelism whether the input is an under-split scan or a
    post-shuffle exchange.  (A partition-count probe was tried and
    rejected: the pre-runtime count is AQE-blind — it reports the
    static shuffle partitions exactly where AQE then coalesces them.)
    Value-neutral: every consumer is order-insensitive or re-sorts."""
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism * 2, *cols)
