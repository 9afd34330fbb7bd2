"""Per-query isolation bench (guide §1.4) — bench.py stays FROZEN.

Times a chosen subset of bench line items with the noop sink, N repeats,
reporting every sample + the min, plus the CPU-steal fraction over the
window so contention-dominated numbers are self-diagnosing.

Usage:
  SPARK_GRAFT_SF_DIR=/root/testdata/sf1.0 python bench_extra.py q1 q2 ...
  (no args = the full bench.BENCH_QUERIES list)

Env: SPARK_GRAFT_BENCH_REPEATS (default 3), SPARK_GRAFT_CPUS (default:
the host's core count).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench import _consume, _cpu_steal  # noqa: E402


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count()))
    repeats = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3"))

    import __spark_entry__ as E
    from sema_spark.session import get_spark

    spark = get_spark(app_name="sema_spark-bench-extra", cores=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    qs = E.queries()
    names = sys.argv[1:] or __import__("bench").BENCH_QUERIES

    # same warm-up discipline as bench.py
    from pyspark.sql import functions as F

    from sema_spark.functions.encoder import encode_text

    _consume(qs["w4_topk"](spark, sf_dir))
    n_workers = spark.sparkContext.defaultParallelism * 2
    _consume(
        spark.range(n_workers * 4, numPartitions=n_workers).select(
            encode_text(F.col("id").cast("string")).alias("v")
        )
    )

    st0, tt0 = _cpu_steal()
    out: dict[str, dict] = {}
    for name in names:
        samples = []
        for _ in range(repeats):
            spark.sparkContext.setJobDescription(f"bench_extra:{name}")
            t0 = time.time()
            _consume(qs[name](spark, sf_dir))
            samples.append(round(time.time() - t0, 3))
        spark.sparkContext.setJobDescription(None)
        out[name] = {"min": min(samples), "samples": samples}
        print(f"{name}: min={min(samples)} samples={samples}", file=sys.stderr)
    st1, tt1 = _cpu_steal()
    print(
        json.dumps(
            {
                "queries": out,
                "steal_pct": round(100.0 * (st1 - st0) / max(tt1 - tt0, 1), 1),
                "sf_dir": sf_dir,
                "cpus": cpus,
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
