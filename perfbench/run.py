"""sema_spark benchmark: one workload per invocation, from a seed.

    python3 perfbench/run.py --workload kg_build_refresh --seed 1 --seconds 8 --trace 0

Run from the repository root.  Everything the run writes stays under
``.perfbench_work/`` in that root (Spark local dirs and JVM temp files
included) and is removed at the end.  The last line of standard output
is the result object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` wraps the
layer entry points (see ``spans.py``) and reports the per-layer ones.
``--smoke`` runs the same code on the tiny ``xs`` corpus and tables.
The run context (host, session conf, corpus shape) is printed as the
line before the result.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

from spans import Tracer, process_tree

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
CORES = 4
SETUP_REPEATS = 15

UNITS = {"setup_s": "s", "batch_cpu_s": "s"}


def _proc_stat() -> tuple[int, int]:
    """(total, steal) jiffies of all CPUs."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return sum(vals), vals[7] if len(vals) > 7 else 0


class RssSampler(threading.Thread):
    """High-water mark of resident memory of a process tree (the driver
    JVM and the Python workers it forks), sampled every 0.5 s."""

    def __init__(self, root_pid: int):
        super().__init__(daemon=True)
        self.root = root_pid
        self.peak = 0
        self._stop_evt = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree_rss(self) -> int:
        total = 0
        for pid in process_tree(self.root):
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                pass
        return total

    def run(self):
        while not self._stop_evt.wait(0.5):
            self.peak = max(self.peak, self._tree_rss())

    def stop(self) -> float:
        self._stop_evt.set()
        self.join()
        self.peak = max(self.peak, self._tree_rss())
        return self.peak / 2**20


class Ctx:
    def __init__(self, **kw):
        self.__dict__.update(kw)


def _git_commit() -> str:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10)
        return out.stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args(argv)

    # the program under test must be present: fail before touching anything
    sys.path.insert(0, str(ROOT))
    sys.path.insert(0, str(HERE))
    import __spark_entry__  # noqa: F401
    import sema_spark  # noqa: F401

    import inputs
    import workloads

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; choose from {', '.join(workloads.WORKLOADS)}")
    prepare, oracles, run = workloads.WORKLOADS[args.workload]
    size = inputs.SIZES["smoke" if args.smoke else "full"]

    from sema_spark.plans.materialize import materialize_mode
    from sema_spark.session import get_spark

    work = ROOT / ".perfbench_work" / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    conf = {
        "spark.local.dir": str(work / "spark-local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'}",
        "spark.driver.memory": "2g",
        "spark.sql.shuffle.partitions": str(CORES),
        "spark.ui.showConsoleProgress": "false",
    }
    if args.trace:
        # keep every job/stage of the run in the status store
        conf.update({"spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000"})
    stat0 = _proc_stat()
    spark = sampler = None
    pool = ThreadPoolExecutor(max_workers=1)
    try:
        # set-up: generate the seeded inputs several times; report the median
        setup_times = []
        for _ in range(SETUP_REPEATS):
            t = time.perf_counter()
            prepared = prepare(args.seed, size, str(work))
            setup_times.append(time.perf_counter() - t)
        # oracle answers that depend on the inputs only are computed while
        # the Spark session starts
        answers = pool.submit(oracles, str(work), bool(args.trace)) if oracles else None
        spark = get_spark(app_name="perfbench", cores=CORES, extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
        sampler = RssSampler(spark.sparkContext._gateway.proc.pid)
        sampler.start()
        tracer = Tracer(spark, enabled=bool(args.trace))
        ctx = Ctx(
            spark=spark, tracer=tracer, seed=args.seed, seconds=args.seconds, work=str(work),
            size=size, oracles=answers,
            context={
                "workload": args.workload, "seed": args.seed, "nproc": os.cpu_count(),
                "git_commit": _git_commit(), "materialize_mode": materialize_mode(),
                "spark_conf": dict(spark.sparkContext.getConf().getAll()),
            },
        )
        ops = workloads.Ops()
        t_run = time.perf_counter()
        e2e, layer = run(ctx, ops, prepared)
        run_s = time.perf_counter() - t_run
        e2e["setup_s"] = statistics.median(setup_times)
        ctx.context["wall"] = {k: v for k, v in layer.items() if k.startswith(("wall.", "cpu."))}
        layer["session.peak_rss_mb"] = sampler.stop()
        stat1 = _proc_stat()
        steal_pct = 100.0 * (stat1[1] - stat0[1]) / max(stat1[0] - stat0[0], 1)
        with open("/proc/meminfo") as f:
            mem = {line.split(":")[0]: line.split()[1] for line in f}
        ctx.context.update({"steal_pct": steal_pct, "mem_available_kb": int(mem.get("MemAvailable", 0))})
        if args.trace:
            for span in workloads.SPARK_SPANS:
                for k, v in tracer.spark_metrics(span, CORES).items():
                    layer[f"spark.{span}.{k}"] = v
            layer["host.steal_pct"] = steal_pct
            layer["trace.overhead_pct"] = 100.0 * tracer.overhead_s / run_s
            wanted = workloads.per_layer_names()
            metrics = {n: {"value": float(layer.get(n, 0.0)), "unit": _layer_unit(n)} for n in wanted}
        else:
            metrics = {n: {"value": float(e2e[n]), "unit": u} for n, u in UNITS.items()}
        tracer.unwrap_all()
    finally:
        pool.shutdown(wait=True)
        if sampler is not None and sampler.is_alive():
            sampler.stop()
        if spark is not None:
            gateway = spark.sparkContext._gateway
            jvm = gateway.proc
            spark.stop()
            gateway.shutdown()
            # the JVM is a child of this process and exits when its stdin
            # closes: wait until it has
            jvm.stdin.close()
            try:
                jvm.wait(timeout=60)
            except subprocess.TimeoutExpired:
                jvm.kill()
                jvm.wait()
        shutil.rmtree(work, ignore_errors=True)
        try:
            (ROOT / ".perfbench_work").rmdir()
        except OSError:
            pass
    print(json.dumps({"context": ctx.context}, default=str))
    result = {
        "correct": ops.failed == 0,
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": metrics,
    }
    print(json.dumps(result), flush=True)
    return 0


def _layer_unit(name: str) -> str:
    if name.endswith("per_s"):
        return "1/s"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_pct"):
        return "%"
    if name.endswith(("ratio", "share", "amplification", "slowdown", "util", "mode_delta")):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
