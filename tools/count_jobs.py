"""Spark job count of the KG pipeline and the stored semantic index,
per pass, on the benchmark corpus.

    python tools/count_jobs.py --seed 7 [--part kg|semantic|all]

``kg`` builds the seeded ``full`` KG slice with perfbench's own
``workloads.kg_prepare`` and runs the three passes of perfbench's
``kg_build_refresh``: a cold ``run_pipeline``, an unchanged re-run, and
the ~1%-change pass (stage-1 tombstones for the deleted files, then
``run_pipeline`` over the mutated source), all with
``incremental_link=True``.  Then ``change_full`` runs the same change
pass with ``incremental_link=False`` (a full stage-2 re-link) on a
copy of the base taken before the change pass, so the delta and the
full path are compared on one seed and one state.

``semantic`` builds the inputs of perfbench's ``search_dedup`` with
``workloads.search_prepare`` and runs its index operations:
``build_semantic_index`` over the corpus, the seeded changed append
(edited and new files), then an unchanged append of the live corpus.
An untimed three-file build starts the Python workers first, as
perfbench does.

Both run in one ``local[4]`` session (``all``, the default, runs ``kg``
first).  Per pass it prints one line: Spark jobs (the pass runs under
its own job group, counted with ``statusTracker().getJobIdsForGroup``),
wall seconds and process-tree CPU seconds (driver, JVM and Python
workers); KG passes add ``link_mode``, relinked files and stage 4's
input file count, index passes the indexed file count.  After each
part one line holds the sha256 of its sorted final rows — linked and
edge rows (after ``change`` and again after ``change_full``), or the
live chunk rows without their ``run_id``/``_gen`` bookkeeping columns
— hashed with columns in name order, so two trees whose reads order
columns differently (a liveness join puts its keys first, a snapshot
read puts partition columns last) can still be compared for
bit-identical output.  Everything is written under ``--work``, or under a fresh
temporary directory that is removed at the end.
"""

from __future__ import annotations

import argparse
import hashlib
import os
import shutil
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

CORES = 4


def rows_sha256(df) -> str:
    """sha256 over the sorted rows of ``df``, columns in name order (a
    read's column order depends on the store's layout, not its rows)."""
    lines = sorted("\t".join(repr(v) for v in r) for r in df.select(*sorted(df.columns)).collect())
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--part", choices=("kg", "semantic", "all"), default="all")
    ap.add_argument("--work", default=None, help="scratch directory (default: a new temp dir)")
    args = ap.parse_args(argv)

    import inputs
    import workloads
    from spans import tree_cpu_seconds

    from sema_spark.plans import pipeline as P
    from sema_spark.session import get_spark
    from sema_spark.sources import ann_index as A
    from sema_spark.sources.checkpoint import delete_files

    work = args.work or tempfile.mkdtemp(prefix="count_jobs-")
    os.makedirs(work, exist_ok=True)
    spark = get_spark(
        app_name="count-jobs",
        cores=CORES,
        extra_conf={
            "spark.local.dir": f"{work}/spark-local",
            "spark.driver.memory": "2g",
            "spark.sql.shuffle.partitions": str(CORES),
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    print(f"seed {args.seed}: materialize mode "
          f"{os.environ.get('SPARK_GRAFT_MATERIALIZE', 'local')}")

    def run_pass(name: str, body, describe):
        group = f"count-jobs-{name}"
        sc.setJobGroup(group, name)
        t0, c0 = time.perf_counter(), tree_cpu_seconds()
        run = body()
        wall, cpu = time.perf_counter() - t0, tree_cpu_seconds() - c0
        sc.setLocalProperty("spark.jobGroup.id", None)
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        print(
            f"{name:16s} jobs={jobs:4d} wall_s={wall:6.1f} cpu_s={cpu:6.1f} {describe(run)}",
            flush=True,
        )

    def kg_part():
        kg, _ = workloads.kg_prepare(args.seed, inputs.SIZES["full"], work)
        base = f"{work}/base"
        src = spark.read.parquet(f"{work}/src.parquet")
        print(f"kg: {len(kg.rows)} files", flush=True)

        def change_pass(at: str, incremental_link: bool):
            def body():
                gone = spark.createDataFrame(sorted(kg.deleted), "repo string, path string")
                delete_files(spark, at, P.STAGE_TRIPLES, gone)
                mut = spark.read.parquet(f"{work}/mut.parquet")
                return P.run_pipeline(spark, mut, at, incremental_link=incremental_link)

            return body

        def describe(run):
            return (
                f"link_mode={run.link_mode} relinked_files={run.linked.input_files} "
                f"edge_refreshed_files={run.edges.input_files}"
            )

        def pipeline():
            return P.run_pipeline(spark, src, base, incremental_link=True)

        def print_sha(at: str, label: str):
            print(
                f"sha256 {label}linked={rows_sha256(P.read_linked(spark, at))} "
                f"edges={rows_sha256(P.read_edges(spark, at))}",
                flush=True,
            )

        run_pass("cold", pipeline, describe)
        run_pass("unchanged", pipeline, describe)
        full_base = f"{work}/base_full"
        shutil.copytree(base, full_base)
        run_pass("change", change_pass(base, True), describe)
        print_sha(base, "")
        run_pass("change_full", change_pass(full_base, False), describe)
        print_sha(full_base, "change_full ")

    def semantic_part():
        rows, app, live = workloads.search_prepare(args.seed, inputs.SIZES["full"], work)
        idx = f"{work}/index"
        print(f"semantic: {len(rows)} files, {len(app)} appended, {len(live)} live", flush=True)

        def docs(name):
            return spark.read.parquet(f"{work}/{name}.parquet").select("repo", "path", "content")

        A.build_semantic_index(docs("corpus").limit(3), f"{work}/warm")
        run_pass("index_build", lambda: A.build_semantic_index(docs("corpus"), idx), lambda n: "")
        indexed = "indexed_files={}".format
        run_pass("changed_append", lambda: A.semantic_index_append(docs("append"), idx), indexed)
        run_pass("unchanged_append", lambda: A.semantic_index_append(docs("live"), idx), indexed)
        chunks = A.live_chunks(spark, idx)
        print(f"sha256 live_chunks={rows_sha256(chunks.drop('run_id', '_gen'))}", flush=True)

    try:
        if args.part in ("kg", "all"):
            kg_part()
        if args.part in ("semantic", "all"):
            semantic_part()
    finally:
        spark.stop()
        if args.work is None:
            shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
