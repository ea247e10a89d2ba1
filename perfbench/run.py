"""Benchmark of the genomics pipeline and its layers.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. The seed makes the inputs (perfbench/gen.py);
the program sees only the generated files. The set-up is what a pipeline
run pays at launch: `session.get_spark` in a fresh JVM plus WARMUPS runs
on the workload's own input; setup_s is its length. Then runs repeat in
a closed loop for S seconds, each checked against a DuckDB oracle or a
closed-form answer outside its timed window. The last stdout line is one
JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones (wall_s, cpu_s,
peak_rss_mb, setup_s); with --trace 1, half the time runs untraced and
half runs the workload's traced variant, and the metrics are the
per-layer ones (workloads.LAYER_METRICS). Spans are written to
.perfbench_work/traces/. Everything the run writes stays under
.perfbench_work/ in the current directory.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
WARMUPS = 2  # runs in the set-up; the first in a fresh JVM takes ~4x a steady one
MIN_RUNS = 3  # timed runs at least, so the median outvotes one slow run
DRIVER_MEM = "2g"  # fits beside other work on a 15 GB host


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def pin_env(root: str, work: str) -> dict[str, str]:
    """The environment the program reads, fixed before Spark starts: all
    cores of this process, a Spark driver heap that fits the host, workers that
    can import the program, and scratch space inside the work directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "PYTHONPATH": root,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": tmp,
        "TMPDIR": tmp,
        # no JVM perf-data file under /tmp, for the launcher or the driver
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        # the heap is committed up front (-Xms = -Xmx, pre-touched): left to
        # grow, its size follows GC timing, and peak_rss_mb spread 15-25%
        # (quartile range over median) across ten seeds. So peak_rss_mb
        # moves with memory outside the heap (Python workers, Arrow and
        # other off-heap buffers); the heap's use is the traced
        # jvm.heap_live_mb
        "PYSPARK_SUBMIT_ARGS": shlex.join([
            "--conf", f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} "
            f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch -XX:-UsePerfData",
            "--conf", "spark.ui.showConsoleProgress=false",
            "pyspark-shell",
        ]),
    }
    os.environ.update(env)
    return env


def one_run(fn, spark) -> tuple[float, object, str | None]:
    """Time fn(spark); return (seconds, result, error or None)."""
    t0 = time.perf_counter()
    try:
        res = fn(spark)
    except Exception:  # a failed run is counted, not fatal
        return time.perf_counter() - t0, None, traceback.format_exc(limit=4)
    return time.perf_counter() - t0, res, None


class Bench:
    def __init__(self, wl, procstat):
        self.wl = wl
        self.ps = procstat
        self.attempted = 0
        self.failed = 0
        self.setup_failed = False

    def finish(self, spark, fn, measured: bool = True, rss=None):
        """One run of fn with its check and reset; returns (wall, cpu, ok),
        ok False if the run raised or its output was wrong. `rss` samples
        the run only, not its check or reset."""
        c0 = self.ps.cpu_seconds()
        with rss or contextlib.nullcontext():
            wall, res, err = one_run(fn, spark)
        cpu = self.ps.cpu_seconds() - c0
        if err is None:
            err = self.wl.check(res)
        self.wl.reset()
        if measured:
            self.attempted += 1
        if err is not None:
            log(f"run failed: {err}")
            if measured:
                self.failed += 1
            else:
                self.setup_failed = True
        return wall, cpu, err is None

    def setup(self, get_spark):
        """The cold set-up: `get_spark` in a fresh JVM, then WARMUPS runs
        on the workload's own input. Returns the session, the set-up's
        seconds and the session start's seconds; checks and resets
        between the warm-up runs are not counted."""
        t0 = time.perf_counter()
        spark = get_spark("perfbench")
        start = time.perf_counter() - t0
        walls = [self.finish(spark, self.wl.run, measured=False)[0] for _ in range(WARMUPS)]
        log(f"setup s: start {start:.3f}, warm-up runs "
            + " ".join(f"{w:.3f}" for w in walls))
        return spark, start + sum(walls), start

    def measure(self, spark, seconds: float, rss=None, min_runs: int = MIN_RUNS):
        walls, cpus, spent, n = [], [], 0.0, 0
        while spent < seconds or n < min_runs:
            n += 1
            wall, cpu, ok = self.finish(spark, self.wl.run, rss=rss)
            spent += wall
            if ok:
                walls.append(wall)
                cpus.append(cpu)
        log("timed s: " + " ".join(f"{w:.3f}" for w in walls))
        return walls, cpus


def traced_runs(bench, spark, seconds: float, name: str, seed: int, trace_dir: str):
    """Traced runs for `seconds` (at least one); per-layer metrics of each
    run that passed its check. Spans are written once, at the end."""
    from tracing import Tracer
    from workloads import layer_metrics

    tr = Tracer(spark)
    per_run, spent, i = [], 0.0, 0
    while spent < seconds or i < 1:
        tr.run_id = f"{name}-{seed}-{i}"
        i += 1
        wall, _, ok = bench.finish(spark, lambda s: bench.wl.traced(s, tr))
        spent += wall
        if ok:
            m = layer_metrics(tr, tr.run_id)
            m["trace.traced_wall_s"] = wall
            per_run.append(m)
    os.makedirs(trace_dir, exist_ok=True)
    tr.write(os.path.join(trace_dir, f"{name}-seed{seed}.json"))
    return per_run


def shutdown(spark, procstat) -> None:
    """Stop Spark, end the JVM and wait until every process this run
    started (JVM, Python workers) has exited."""
    from pyspark import SparkContext

    ours = procstat.identities(p for p in procstat.tree() if p != os.getpid())
    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on EOF
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 20
    while procstat.alive(ours) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid, _ in procstat.alive(ours):
        os.kill(pid, signal.SIGKILL)
    deadline = time.monotonic() + 10
    while procstat.alive(ours) and time.monotonic() < deadline:
        time.sleep(0.1)


def median(xs):
    # 0 only when every run failed, and then "correct" is false
    return statistics.median(xs) if xs else 0.0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.path.dirname(HERE)
    sys.path.insert(0, root)
    import procstat
    from sparkga1_spark.session import get_spark  # fails fast without the program
    from workloads import LAYER_METRICS, WORKLOADS

    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
        return 2
    base = os.path.join(root, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    env = pin_env(root, work)
    log("env: " + " ".join(f"{k}={env[k]}" for k in
                           ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM", "PYTHONPATH")))
    wl = WORKLOADS[args.workload](work, args.seed)
    t0 = time.perf_counter()
    wl.prepare()
    prep_s = time.perf_counter() - t0

    bench = Bench(wl, procstat)
    rss = procstat.PeakRss()
    spark = None
    try:
        spark, setup_s, start_s = bench.setup(get_spark)
        if args.trace:
            walls, _ = bench.measure(spark, args.seconds / 2, min_runs=1)
            per_run = traced_runs(bench, spark, args.seconds / 2, args.workload,
                                  args.seed, os.path.join(base, "traces"))
            values = {k: median([m[k] for m in per_run]) for k in LAYER_METRICS}
            values["session.start_s"] = start_s
            values["trace.untraced_wall_s"] = median(walls)
            values["trace.overhead_s"] = (
                values["trace.traced_wall_s"] - values["trace.untraced_wall_s"]
            )
            metrics = {k: {"value": values[k], "unit": u} for k, u in LAYER_METRICS.items()}
        else:
            walls, cpus = bench.measure(spark, args.seconds, rss)
            metrics = {
                "wall_s": {"value": median(walls), "unit": "s"},
                "cpu_s": {"value": median(cpus), "unit": "s"},
                "peak_rss_mb": {"value": rss.peak / 2**20, "unit": "MB"},
                "setup_s": {"value": setup_s, "unit": "s"},
            }
    finally:
        rss.close()
        shutdown(spark, procstat)
        shutil.rmtree(work, ignore_errors=True)

    # failed_frac is never a JSON metric: it is 0 whenever the program
    # works, and attempted/failed carry it
    summary = " ".join(f"{k}={v['value']:.4g} {v['unit']}" for k, v in metrics.items())
    print(f"{args.workload} seed={args.seed}: {summary} "
          f"failed_frac={bench.failed / bench.attempted:.3g} "
          f"(runs={bench.attempted}, inputs_and_oracle_s={prep_s:.3f})")
    print(json.dumps({
        "correct": bench.failed == 0 and not bench.setup_failed,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
