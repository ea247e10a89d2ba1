"""Per-stage / per-operator empirical profile of headline queries (r13
optimization round; guide §1.1/§7.1 "start with the UI").

Sessions from `get_spark` run with the UI disabled, so timings say
WHICH query is slow but not WHERE the time goes. This tool re-runs
selected queries in such a session with the UI enabled and scrapes the
REST API
(/api/v1) for:

  - per-STAGE wall time, task time, executor CPU, input / shuffle bytes
    (Jobs+Stages tabs — shuffle-bound vs compute-bound, guide §2.1)
  - per-OPERATOR metrics from the SQL tab (nodeName + metrics — where
    inside one stage the time sits: scan, exchange, Python eval, join)

Methodology: `get_spark`'s confs (`session.session_confs`) with the UI
on, 2 warm-up passes at sf0.001, N timed runs at the chosen sf with
release_tracked() between runs; the profile is read AFTER the timed
runs so listener overhead sits outside the reported wall times (the UI
listener itself adds a few percent — numbers here are for attribution;
`perfbench/run.py` is the benchmark).

Usage:
    python tools/stage_profile.py <query> [query ...] [--runs N] [--sf DIR]

Prints one JSON line per query: {query, wall_s: [..], stages: [...],
sql: [...]} sorted by stage task time.
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

UI_PORT = 4049


def _api(path: str):
    url = f"http://127.0.0.1:{UI_PORT}/api/v1/{path}"
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.loads(r.read().decode())


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    runs = 3
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    argv = sys.argv[1:]
    for i, a in enumerate(argv):
        if a == "--runs":
            runs = int(argv[i + 1])
            args.remove(argv[i + 1])
        if a == "--sf":
            sf_dir = argv[i + 1]
            args.remove(argv[i + 1])
    if not args:
        print("usage: stage_profile.py <query> [...] [--runs N] [--sf DIR]")
        sys.exit(2)

    from sparkga1_spark.operators.cache import release_tracked
    from sparkga1_spark.plans.registry import all_queries
    from sparkga1_spark.session import session_confs

    from pyspark.sql import SparkSession

    # the session get_spark builds, with the UI (and its REST API) on
    confs = {**session_confs(), "spark.ui.enabled": "true", "spark.ui.port": str(UI_PORT)}
    builder = SparkSession.builder.appName("stage-profile")
    for k, v in confs.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    app_id = spark.sparkContext.applicationId

    queries = all_queries()
    warm = "/root/testdata/sf0.001"
    warm = warm if os.path.isdir(warm) else sf_dir

    for name in args:
        fn = queries[name]
        for _ in range(2):
            try:
                fn(spark, warm).count()
            except Exception:
                pass
        walls = []
        spark.sparkContext.setJobDescription(f"profile:{name}")
        # job/stage ids before the timed window so only its work is attributed
        jobs_before = {j["jobId"] for j in _api(f"applications/{app_id}/jobs")}
        sql_before = {e["id"] for e in _api(f"applications/{app_id}/sql?length=1000")}
        for _ in range(runs):
            release_tracked()
            t0 = time.time()
            fn(spark, sf_dir).count()
            walls.append(round(time.time() - t0, 3))
        spark.sparkContext.setJobDescription(None)

        stage_ids = set()
        for j in _api(f"applications/{app_id}/jobs"):
            if j["jobId"] not in jobs_before:
                stage_ids.update(j["stageIds"])
        stages = []
        for s in _api(f"applications/{app_id}/stages?status=complete"):
            if s["stageId"] not in stage_ids:
                continue
            stages.append(
                {
                    "stage": s["stageId"],
                    "tasks": s["numTasks"],
                    "task_time_s": round(s["executorRunTime"] / 1000, 2),
                    "cpu_s": round(s["executorCpuTime"] / 1e9, 2),
                    "input_mb": round(s["inputBytes"] / 1e6, 1),
                    "sh_read_mb": round(s["shuffleReadBytes"] / 1e6, 1),
                    "sh_write_mb": round(s["shuffleWriteBytes"] / 1e6, 1),
                    "name": s["name"].split("\n")[0][:120],
                }
            )
        stages.sort(key=lambda r: -r["task_time_s"])

        sql = []
        for e in _api(f"applications/{app_id}/sql?details=true&length=1000"):
            if e["id"] in sql_before:
                continue
            nodes = []
            for nd in e.get("nodes", []):
                interesting = {
                    m["name"]: m["value"]
                    for m in nd.get("metrics", [])
                    if any(
                        k in m["name"]
                        for k in (
                            "time total",
                            "total time",
                            "time to",
                            "rows output",
                            "number of output rows",
                            "data size",
                            "shuffle bytes written",
                            "records read",
                        )
                    )
                }
                if interesting:
                    nodes.append({"node": nd["nodeName"], **interesting})
            sql.append({"sql_id": e["id"], "duration_ms": e.get("duration"), "nodes": nodes})

        print(
            json.dumps(
                {"query": name, "wall_s": walls, "stages": stages[:12], "sql": sql},
                default=str,
            )
        )
        sys.stdout.flush()


if __name__ == "__main__":
    main()
