"""Order-independence guarantees of the money/rank primitives — the
properties that make results reproducible across partitionings (and
thus across cluster sizes, AQE decisions, and engines)."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_dsum_is_partitioning_invariant(spark, sf_dir):
    """sum(double) changes with partial-aggregate order; dsum must not.
    Same rows, 1 vs 32 partitions, every group's dsum bit-identical
    (this is exactly the tpch_q3 round-1 failure mode)."""
    from sparkga1_spark.functions.numeric import dsum

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    money = F.col("l_extendedprice") * (1 - F.col("l_discount"))

    def sums(df):
        return {
            r.k: r.s
            for r in df.groupBy((F.col("l_orderkey") % 97).alias("k"))
            .agg(dsum(money).alias("s"))
            .collect()
        }

    a = sums(li.repartition(1))
    b = sums(li.repartition(32, "l_discount"))
    assert a == b  # exact ==, not approx: decimal accumulation is exact

    # control: the same comparison over raw float sums is ALLOWED to
    # differ (if it never did, this test would prove nothing); don't
    # assert inequality — just document the contrast exists.


def test_global_rank_matches_sorted_enumeration(spark, sf_dir):
    """global_rank must equal the rank a single-node sort would assign,
    for any partition count, over a unique total order. The shuffled
    case runs at 3 partitions, where the range-bound sample is only
    part of the input (sf0.001 has 1 500 orders): two evaluations of
    the range exchange would draw two different samples, so it holds
    only while both passes read one persisted exchange."""
    from sparkga1_spark.operators.windows import global_rank

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    for src, nparts in ((orders, 7), (orders.repartition(5, "o_totalprice"), 3)):
        od = src.select("o_orderkey", "o_custkey", "o_totalprice")
        ranked = global_rank(
            od, order_cols=[F.desc("o_totalprice"), "o_orderkey"],
            rank_col="r", num_partitions=nparts,
        ).collect()
        want = sorted(ranked, key=lambda x: (-x.o_totalprice, x.o_orderkey))
        assert [r.o_orderkey for r in sorted(ranked, key=lambda x: x.r)] == [
            r.o_orderkey for r in want
        ]
        rs = sorted(r.r for r in ranked)
        assert rs == list(range(1, len(ranked) + 1))  # a permutation of 1..N


def test_dsum_davg_cross_engine_on_boundary_values(spark):
    """Adversarial cent-boundary parity: money values engineered to sit
    near .xx5 rounding boundaries (the exact class that flipped tpch_q3
    in round 1), summed per group on BOTH engines through dsum/davg and
    their SQL mirrors — results must be string-identical at full
    precision."""
    import duckdb
    import pandas as pd

    from sparkga1_spark.functions.numeric import (
        davg, davg_sql, dsum, dsum_sql,
    )

    rows = []
    for i in range(4000):
        # many .xx5-adjacent values: k + 0.005, 0.015, ... plus ulp noise
        v = (i % 997) + ((i * 7) % 100) / 100.0 + 0.005
        v += (i % 3 - 1) * 5e-15  # ±ulp-scale perturbation
        rows.append((i % 13, v))
    pdf = pd.DataFrame(rows, columns=["k", "v"])

    sdf = spark.createDataFrame(pdf)
    got = {
        r.k: (r.s, r.a)
        for r in sdf.groupBy("k")
        .agg(dsum("v").alias("s"), davg("v").alias("a"))
        .collect()
    }

    con = duckdb.connect()
    con.register("t", pdf)
    want = {
        k: (s, a)
        for k, s, a in con.execute(
            f"SELECT k, {dsum_sql('v')} AS s, {davg_sql('v')} AS a "
            "FROM t GROUP BY k"
        ).fetchall()
    }
    assert set(got) == set(want)
    for k in got:
        assert repr(got[k][0]) == repr(want[k][0]), (k, got[k], want[k])
        assert repr(got[k][1]) == repr(want[k][1]), (k, got[k], want[k])


def test_grouped_cumsum_matches_naive_window(spark, sf_dir):
    """grouped_cumsum must equal the single-task-per-group naive window
    cumsum exactly (integer values), at any partition count. The
    shuffled case runs at 3 partitions, where the range-bound sample is
    only part of the input, and carries o_totalprice, which the
    per-partition sums do not read — so after column pruning the two
    passes' range exchanges differ and Spark cannot reuse one for the
    other. Two evaluations would draw two different samples: the case
    holds only while both passes read one persisted exchange."""
    from pyspark.sql import Window

    from sparkga1_spark.operators.windows import grouped_cumsum

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")

    def with_v(src, *carried):
        return src.select("o_orderstatus", "o_orderkey", *carried).withColumn(
            "v", (F.col("o_orderkey") % 100).cast("long")
        )

    od = with_v(orders)
    w = (
        Window.partitionBy("o_orderstatus")
        .orderBy("o_orderkey")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    want = {
        (r.o_orderstatus, r.o_orderkey): r.c
        for r in od.withColumn("c", F.sum("v").over(w)).collect()
    }
    shuffled = with_v(orders.repartition(5, "o_totalprice"), "o_totalprice")
    for src, nparts in ((od, 3), (od, 7), (shuffled, 3)):
        got = {
            (r.o_orderstatus, r.o_orderkey): r.c
            for r in grouped_cumsum(
                src,
                group_cols=["o_orderstatus"],
                order_cols=["o_orderkey"],
                value_col="v",
                out_col="c",
                num_partitions=nparts,
            ).collect()
        }
        assert got == want, f"nparts={nparts}"


def test_grouped_cumsum_empty_group_cols_is_global_running_sum(spark, sf_dir):
    """group_cols=[] (the gini/KM/Heaps tail shape) must equal a plain
    global running sum — including with rows split across many range
    partitions and with NULL values (SQL window sums skip NULLs; a row
    whose local-prefix is all-NULL while the global prefix is not must
    still pick up the cross-partition offset)."""
    from sparkga1_spark.operators.windows import grouped_cumsum

    od = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .select("o_orderkey")
        .withColumn(
            "v",
            F.when(F.col("o_orderkey") % 5 == 0, None).otherwise(
                (F.col("o_orderkey") % 100).cast("long")
            ),
        )
    )
    rows = sorted(
        (r.o_orderkey, r.v) for r in od.collect()
    )
    want, run, seen = {}, 0, False
    for k, v in rows:
        if v is not None:
            run += v
            seen = True
        want[k] = run if seen else None
    for nparts in (3, 16):
        got = {
            r.o_orderkey: r.c
            for r in grouped_cumsum(
                od,
                group_cols=[],
                order_cols=["o_orderkey"],
                value_col="v",
                out_col="c",
                num_partitions=nparts,
            ).collect()
        }
        assert got == want, f"nparts={nparts}"


def test_persist_input_is_result_invariant(spark, sf_dir):
    """persist_input=True (r13: share one input evaluation between the
    range-boundary sample job and the persisted-slice fill) must be a
    pure execution-strategy change: grouped_cumsum results identical
    to the default path, and the input must actually land in a cache
    (an InMemoryTableScan under the range exchange)."""
    from sparkga1_spark.operators.windows import grouped_cumsum

    od = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .select("o_orderstatus", "o_orderkey")
        .withColumn("v", (F.col("o_orderkey") % 97).cast("long"))
    )
    kw = dict(
        group_cols=["o_orderstatus"],
        order_cols=["o_orderkey"],
        value_col="v",
        out_col="c",
        num_partitions=7,
    )
    base = {
        (r.o_orderstatus, r.o_orderkey): r.c
        for r in grouped_cumsum(od, **kw).collect()
    }
    cached_df = grouped_cumsum(od, persist_input=True, **kw)
    cached = {
        (r.o_orderstatus, r.o_orderkey): r.c for r in cached_df.collect()
    }
    assert cached == base
    assert "InMemoryTableScan" in cached_df._jdf.queryExecution().executedPlan().toString()
