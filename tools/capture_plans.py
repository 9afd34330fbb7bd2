"""Dump .explain("formatted") for named registry queries to plans/<tag>/.

Usage: python tools/capture_plans.py <tag> <suffix> [query ...]
Writes plans/<tag>/<query>_<suffix>.txt for each query (default: all
bench queries).  Used for the r07 optimization evidence files
(plans/r07/<query>_before.txt / _after.txt).

Expression ids (``#123``) and ``plan_id=`` tags are per-session
counters, so they are stripped: two captures of an unchanged plan diff
empty, which makes ``diff -r`` a plan-identity check for refactors.
"""

from __future__ import annotations

import os
import re
import sys

_VOLATILE = re.compile(r"#\d+L?|,? ?plan_id=\d+")


def normalize(plan: str) -> str:
    """Drop the session-local expression ids and plan ids."""
    return _VOLATILE.sub("", plan)

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    tag, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    import __spark_entry__ as E
    from sema_spark.session import get_spark

    spark = get_spark(app_name="capture-plans")
    spark.sparkContext.setLogLevel("ERROR")
    qs = E.queries()
    if not names:
        names = list(qs)
    out_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", tag)
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        try:
            df = qs[name](spark, sf_dir)
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
            )
        except Exception as e:  # capture the failure instead of dying
            plan = f"EXPLAIN FAILED: {e!r}"
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(normalize(plan))
        print(f"wrote {name}_{suffix}.txt")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
