"""SparkSession factory.

The reference (SparkGA1.scala:995-1022) builds a SparkContext per "part"
with hand-tuned executor shapes; here one session serves every plan and
Catalyst/AQE own the physical tuning (SURVEY.md §4).

Scale posture: the defaults fit the host the session starts on — one
local core per CPU (or $SPARK_GRAFT_CPUS) and a driver heap of half
its memory (or $SPARK_GRAFT_DRIVER_MEM). On a real cluster the same
code runs unchanged — only master/memory/shuffle partition count move
to spark-submit conf. AQE handles partition coalescing and skew
splitting at runtime, so shuffle.partitions is a ceiling, not a tuning
knob that must be exact.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# SQL confs that are safe (and required) to set on an externally-created
# session too — e.g. the driver harness passes us its own SparkSession.
RUNTIME_CONFS: dict[str, str] = {
    # deterministic oracle comparison vs DuckDB (naive-UTC timestamps)
    "spark.sql.session.timeZone": "UTC",
    # runtime re-planning: partition coalescing + skew-join splitting
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow transfer for the pandas-UDF operator surface
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to an existing session (driver's or ours)."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # immutable in this build — startup conf must cover it
    return spark


def _default_driver_memory() -> str:
    """Half the memory this process can use (physical RAM, or the
    cgroup limit when lower), in whole GiB between 1g and 16g: the rest
    is left to Python workers, off-heap buffers and the OS."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    try:
        with open("/sys/fs/cgroup/memory.max") as f:
            total = min(total, int(f.read()))
    except (OSError, ValueError):  # no cgroup v2 limit ("max" or absent)
        pass
    return f"{max(1, min(16, total // 2**31))}g"


def get_spark(app_name: str = "sparkga1_spark") -> SparkSession:
    """Build (or reuse) the engine session.

    local[$SPARK_GRAFT_CPUS], or one core per CPU this process may run
    on when it is unset; shuffle partitions sized to the same core
    count (the reference's analogous knob is numRegions≈300 at
    cluster scale, README.md:94-95 — on a 1000-executor cluster this
    becomes a spark-submit conf, not code). Session confs are applied
    here once; `apply_runtime_confs` is for sessions created elsewhere.
    """
    cpus = int(
        os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
    )
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Long-session hygiene (r10, the bench-drift investigation):
        # a session that runs hundreds of queries accumulates state
        # that is only reclaimed on driver GC or not at all —
        # (a) broadcast/localCheckpoint/shuffle blocks are freed by
        #     ContextCleaner via WEAK references, so cleanup waits for
        #     a driver major GC; the default periodicGC.interval of
        #     30min means a 40-min bench session gets ONE sweep. 2min
        #     bounds the block-manager working set round-over-round.
        # (b) AppStatusListener retains up to 100k task rows + 1000
        #     jobs/stages/SQL executions EVEN WITH THE UI DISABLED —
        #     measured as monotone heap growth across the 69-query
        #     bench (late-position queries read 1.5-3x slower in the
        #     same session while flat when run first). Bound them.
        # Same knobs a production long-running driver (Thriftserver /
        # streaming) ships with; they change no query result.
        .config("spark.cleaner.periodicGC.interval", "2min")
        .config("spark.ui.retainedJobs", "100")
        .config("spark.ui.retainedStages", "100")
        .config("spark.ui.retainedTasks", "2000")
        .config("spark.sql.ui.retainedExecutions", "50")
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
