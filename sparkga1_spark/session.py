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

Long sessions: bounded status retention, a 2-min cleaner sweep and a
codegen cache that holds a session's recurring plans (1000 classes,
against 109 for the region queries, 31 for the genome run, 2986 for
one full-registry pass and 4571 for a tier-1 session; ~7 MB of
Metaspace over Spark's 100) keep a session that runs hundreds of
queries from growing or recompiling. All three are static confs: a
session created elsewhere (the one handed to `__spark_entry__`) gets
only `RUNTIME_CONFS` and keeps Spark's defaults.
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


def session_confs() -> dict[str, str]:
    """Every conf `get_spark` starts a session with.

    local[$SPARK_GRAFT_CPUS], or one core per CPU this process may run
    on when it is unset; shuffle partitions sized to the same core
    count (the reference's analogous knob is numRegions≈300 at
    cluster scale, README.md:94-95 — on a 1000-executor cluster this
    becomes a spark-submit conf, not code).
    """
    cpus = int(
        os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
    )
    return {
        "spark.master": f"local[{cpus}]",
        "spark.sql.shuffle.partitions": str(cpus),
        "spark.driver.memory": (
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_memory()
        ),
        "spark.ui.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
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
        "spark.cleaner.periodicGC.interval": "2min",
        "spark.ui.retainedJobs": "100",
        "spark.ui.retainedStages": "100",
        "spark.ui.retainedTasks": "2000",
        "spark.sql.ui.retainedExecutions": "50",
        # (c) Spark keeps each compiled whole-stage/projection class in
        #     an LRU cache keyed by its generated source, 100 entries by
        #     default. A session that repeats a mix of more classes
        #     than that evicts each one before its next use and
        #     compiles it again (Janino, then HotSpot's JIT). Measured
        #     working sets on 4 vCPUs: the six region_queries of the
        #     benchmark 109 classes (80 recompiled per warm run at
        #     100), wgs_hotspot 31, one full-registry pass at sf0.01
        #     2986 (4467 compiles at 100, 3243 at 1000), a tier-1
        #     session 4571 (9971 compiles at 100, 6688 at 1000).
        #     1000 entries cost ~7 MB of Metaspace over 100 (202 vs 195
        #     MB after that pass; holding all 2986 took 219 MB). The
        #     conf is static: a foreign session handed to
        #     __spark_entry__ keeps Spark's 100, since
        #     apply_runtime_confs cannot set it.
        "spark.sql.codegen.cache.maxEntries": "1000",
        **RUNTIME_CONFS,
    }


def get_spark(app_name: str = "sparkga1_spark") -> SparkSession:
    """Build (or reuse) the engine session with `session_confs()`.

    Session confs are applied here once; `apply_runtime_confs` is for
    sessions created elsewhere.
    """
    builder = SparkSession.builder.appName(app_name)
    for k, v in session_confs().items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
