"""Local replica of the driver's correctness gate.

Runs every registered query on Spark and its oracle on DuckDB over the
same parquet tables, then compares row count, column names, and
order-insensitive values (floats with tolerance). Usage:

    python tools/check.py [sf_dir] [name ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

import duckdb

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        path = f"{sf_dir}/{t}.parquet"
        # Spark-written tables (the /tmp/scaleNx replicas) are parquet
        # DIRECTORIES — glob their part files so the oracle can run at
        # replica scale too (r9: 10x correctness points)
        if os.path.isdir(path):
            path = f"{path}/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def normalize(rows, cols):
    """Sort columns by name, round floats, stringify, sort rows."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if isinstance(v, float):
                if math.isnan(v):
                    vals.append("nan")
                else:
                    # Full precision: the driver hashes exact values, so
                    # the local gate must be at least as strict (a %.6g
                    # normalization here masked the tpch_q3 one-cent
                    # summation-order flip in round 1).
                    vals.append(repr(v))
            elif v is None:
                vals.append("NULL")
            else:
                vals.append(str(v))
        out.append(tuple(vals))
    out.sort()
    return out


def compare(name, spark_df, con, sql) -> str:
    s_cols = spark_df.columns
    s_rows = [tuple(r) for r in spark_df.collect()]
    res = con.execute(sql)
    d_cols = [c[0] for c in res.description]
    d_rows = res.fetchall()
    if sorted(s_cols) != sorted(d_cols):
        return f"SCHEMA MISMATCH spark={sorted(s_cols)} duck={sorted(d_cols)}"
    if len(s_rows) != len(d_rows):
        return f"ROWCOUNT MISMATCH spark={len(s_rows)} duck={len(d_rows)}"
    sn, dn = normalize(s_rows, s_cols), normalize(d_rows, d_cols)
    if sn != dn:
        diffs = [(a, b) for a, b in zip(sn, dn) if a != b][:3]
        return f"VALUE MISMATCH e.g. {diffs}"
    return "OK"


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    from sparkga1_spark.plans.registry import all_oracles, all_queries
    from sparkga1_spark.session import get_spark

    # Python workers import the program too, and do not inherit sys.path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (_REPO, os.environ.get("PYTHONPATH")) if p
    )
    spark = get_spark("oracle-check")
    con = duck_connection(sf_dir)
    queries, oracles = all_queries(), all_oracles()
    failed = []
    from sparkga1_spark.operators.cache import release_tracked

    n_run = 0
    for name, fn in queries.items():
        if only and name not in only:
            continue
        n_run += 1
        t0 = time.time()
        release_tracked()  # previous query's action is done; free its caches
        try:
            df = fn(spark, sf_dir)
            if name in oracles:
                verdict = compare(name, df, con, oracles[name])
            else:
                n = df.count()
                verdict = f"rows-only ({n} rows)" if n >= 0 else "EMPTY"
        except Exception as e:  # noqa: BLE001
            verdict = f"ERROR {type(e).__name__}: {e}"
        dt = time.time() - t0
        status = "PASS" if verdict.startswith(("OK", "rows-only")) else "FAIL"
        if status == "FAIL":
            failed.append(name)
        print(f"[{status}] {name:40s} {dt:6.2f}s  {verdict[:300]}")
    print(f"\n{n_run - len(failed)}/{n_run} passed")
    if only and n_run < len(only):
        missing = sorted(only - set(queries))
        print(f"WARNING: {len(only) - n_run} requested names not in the "
              f"registry: {missing}")
        return 1
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
