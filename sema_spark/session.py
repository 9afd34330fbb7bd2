"""SparkSession factory with scale-oriented defaults.

Defaults mirror what we would ship for a 1000-executor cluster run via
``spark-submit --py-files``: AQE on (runtime re-plan + skew-join
splitting), Arrow exchange for pandas UDFs, sensible shuffle
parallelism.  In the sandbox we run ``local[N]`` but nothing here is
local-mode-specific.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Tuned for the sandbox (local[32], 128 GiB). On a real cluster these
# come from spark-submit conf; shuffle.partitions should be ~2-3x total
# cores and is superseded by AQE coalescing anyway.
_DEFAULTS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Arrow batch size for pandas UDFs: big enough to amortize the
    # Python round-trip, small enough to bound executor memory.
    "spark.sql.execution.arrow.maxRecordsPerBatch": "4096",
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    # r7 (guide §3.1/§9): let the planner pick shuffled-hash join when
    # its size conditions hold — the LSH band self-joins build small
    # per-partition hash tables and skip SMJ's sorts (A/B at sf1.0:
    # dedup_minhash 4.1→3.3s, embedding_dedup_lsh 4.1→3.4s, ngram
    # 7.7→7.2s).  Not local-mode-specific; AQE still splits skewed
    # partitions before the join builds.
    "spark.sql.join.preferSortMergeJoin": "false",
    # Parquet scan sizing: 128 MB splits keep ~100TB / 1000 executors at
    # a healthy ~800k tasks; at sandbox scale it's irrelevant but harmless.
    "spark.sql.files.maxPartitionBytes": "134217728",
    "spark.ui.enabled": "false",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
}

def _want_tmpfs_local_dir(local_master: bool, extra_conf: dict[str, str]) -> bool:
    """Shuffle/spill on tmpfs ONLY for local-mode runs (or when forced via
    SPARK_GRAFT_TMPFS_SHUFFLE=1): the sandbox's /tmp is a slow virtual disk
    whose serial bandwidth caps shuffle scaling.  On a real cluster the
    local dirs come from spark-submit / the node manager (NVMe-backed) and
    silently overriding them with RAM-backed tmpfs would defeat spill."""
    if "spark.local.dir" in extra_conf or "SPARK_LOCAL_DIRS" in os.environ:
        return False
    if os.environ.get("SPARK_GRAFT_TMPFS_SHUFFLE") == "1":
        return True
    return local_master and os.environ.get("SPARK_GRAFT_TMPFS_SHUFFLE") != "0"


def get_spark(
    app_name: str = "sema_spark",
    cores: int | str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores`` sets the local master parallelism; default comes from
    ``$SPARK_GRAFT_CPUS`` (driver contract) or ``*``.  On a cluster this
    function is still valid: ``master`` is only set when not already
    configured by spark-submit.  ``_DEFAULTS`` apply only when this call
    creates the session; ``extra_conf`` applies either way.
    """
    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS", "*")
    # Executor Python workers must import sema_spark regardless of the
    # driver's cwd.  On a cluster this is `spark-submit --py-files`; in
    # local mode we put the repo root on the workers' PYTHONPATH.
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    prev = os.environ.get("PYTHONPATH", "")
    if repo_root not in prev.split(os.pathsep):
        os.environ["PYTHONPATH"] = f"{repo_root}{os.pathsep}{prev}" if prev else repo_root
    builder = SparkSession.builder.appName(app_name)
    builder = builder.config("spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"])
    local_master = not os.environ.get("SPARK_MASTER_SET")
    if local_master:
        builder = builder.master(f"local[{cores}]")
    extra_conf = extra_conf or {}
    if os.path.isdir("/dev/shm") and _want_tmpfs_local_dir(local_master, extra_conf):
        builder = builder.config("spark.local.dir", "/dev/shm/spark-local")
    # getOrCreate applies every builder option to a live session's
    # runtime conf: the defaults go only to a session this call creates,
    # or a second call would reset what its creator configured
    defaults = _DEFAULTS if SparkSession.getActiveSession() is None else {}
    for k, v in {**defaults, **extra_conf}.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()

