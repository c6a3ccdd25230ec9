"""Benchmark entry point.

    python3 perfbench/run.py --workload mixed_rw --seed 1 --seconds 16 --trace 0

Run from the repository root. It builds nothing: it imports
``sifts_spark`` from the checkout, starts one ``local[nproc/2]`` Spark
session, runs the workload, checks every answer against the
benchmark's own oracle, and prints one JSON object as its last stdout
line: ``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0``
reports the end-to-end metrics, ``--trace 1`` the per-layer ones (see
README.md). A diagnostics line (host steal, core counts, versions) is
printed just before it. Scratch files live under ``.perfbench/`` in
the working directory and are removed at exit; ``--trace 1`` also
keeps its spans under ``.perfbench/traces/``.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)


def process_age_s() -> float:
    """Seconds since this process started, from the kernel's clock."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def steal_jiffies() -> int:
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) if len(fields) > 8 else 0


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def file_sizes(path: str) -> dict[str, int]:
    return {
        os.path.join(d, f): os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
    }


def dir_bytes(path: str) -> int:
    return sum(file_sizes(path).values())


class Bench:
    """One run's shared state: session, scratch dir, timings, checks."""

    def __init__(self, args, spark, work: str, tracer):
        self.seed = args.seed
        self.seconds = args.seconds
        self.spark = spark
        self.work = work
        self.tracer = tracer
        self.attempted = 0
        self.failures: list[str] = []
        self.diag: dict = {}

    def setup_s(self, standups: list[float]) -> float:
        """Process start to now, with the repeated stand-ups counted
        once, at their median."""
        return process_age_s() - sum(standups) + median(standups)

    def collect_garbage(self) -> None:
        """Full GC in the driver and the JVM before a timed phase, so a
        collection owed to set-up garbage does not land in a timed call."""
        gc.collect()
        self.spark._jvm.java.lang.System.gc()

    def mark(self, name: str) -> None:
        """Note the process age at a phase boundary (diagnostics)."""
        self.diag.setdefault("marks_s", {})[name] = round(process_age_s(), 2)

    def check(self, problem: str | None) -> None:
        self.attempted += 1
        if problem:
            self.failures.append(problem)

    def timed(self, kind: str, fn, traced: bool = False):
        """Run one op; return (result, seconds). An op that raises
        counts as failed and returns FAILED."""
        tr = self.tracer if traced else None
        if tr is not None:
            tr.active = True
            tr.begin(kind)
        t0 = time.perf_counter()
        try:
            out, err = fn(), None
        except Exception as e:  # the op failed; record it and go on
            out, err = FAILED, f"{kind}: {type(e).__name__}: {e}"[:300]
        dt = time.perf_counter() - t0
        if tr is not None:
            tr.end(dt)
            tr.active = False
        if err:
            self.attempted += 1
            self.failures.append(err)
        return out, dt


FAILED = object()  # what Bench.timed returns for an op that raised


def median(xs):
    return statistics.median(xs) if xs else 0.0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=16)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.path.dirname(HERE)
    sys.path.insert(0, root)
    try:
        import sifts_spark  # noqa: F401  -- the program under test
    except ImportError as e:
        print(f"perfbench: cannot import sifts_spark from {root}: {e}",
              file=sys.stderr)
        return 2
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(os.getcwd(), ".perfbench", f"work-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    steal0 = steal_jiffies()
    spark = None
    try:
        spark = start_spark(work, args.trace)
        tracer = None
        if args.trace:
            from tracing import Tracer

            tracer = Tracer(spark)
            tracer.session_s = process_age_s()
        bench = Bench(args, spark, work, tracer)
        bench.mark("session")
        metrics = workloads.WORKLOADS[args.workload](bench)
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        peak_rss = vm_hwm_mb(jvm_pid) + vm_hwm_mb(os.getpid())
        bench.diag["peak_rss_mb"] = peak_rss
        if args.trace:
            metrics["spark.peak_rss_mb"] = (peak_rss, "MB")
            tracer.write(os.path.join(
                os.getcwd(), ".perfbench", "traces",
                f"{args.workload}-seed{args.seed}-{os.getpid()}.json"))
        import pyspark

        bench.diag.update(
            age_s=process_age_s(),
            steal_jiffies=steal_jiffies() - steal0,
            nproc=os.cpu_count(),
            affinity=len(os.sched_getaffinity(0)),
            default_parallelism=spark.sparkContext.defaultParallelism,
            pyspark=pyspark.__version__,
            failures=bench.failures[:5],
        )
        bench.mark("stop")
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only if no traces were kept
        except OSError:
            pass
    bench.mark("end")
    print(json.dumps({"diagnostics": bench.diag}))
    print(json.dumps({
        "correct": not bench.failures,
        "attempted": max(1, bench.attempted),
        "failed": len(bench.failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def start_spark(work: str, trace: int):
    """``local[nproc/2]`` with the library's defaults (8g heap included);
    only scratch locations, the UI and status-store retention are set.
    Half the cores run tasks, so the JIT and GC threads, the Python
    workers and this driver do not queue behind them on a shared host."""
    from sifts_spark import get_spark

    cores = max(1, len(os.sched_getaffinity(0)) // 2)
    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }
    if trace:
        # keep every job, stage and SQL execution of the run readable
        for k in ("spark.ui.retainedJobs", "spark.ui.retainedStages",
                  "spark.sql.ui.retainedExecutions"):
            conf[k] = "100000"
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    spark = get_spark("perfbench", master=f"local[{cores}]",
                      shuffle_partitions=cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit: it leaves when its
    stdin pipe from this process closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


if __name__ == "__main__":
    sys.exit(main())
