"""True Structured Streaming path (readStream → availableNow → memory
sink), validated against the batch twins that the DuckDB oracle already
gates — SURVEY.md §7.4 hard part (c): deterministic streaming tests."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def event_stream_schema(spark, sf_dir):
    # raw physical schema (ts is timestamp_ntz: TIMESTAMP(MICROS) on disk)
    from sparkga1_spark.session import apply_runtime_confs

    apply_runtime_confs(spark)
    return spark.read.parquet(f"{sf_dir}/events.parquet").schema


@pytest.fixture(scope="module")
def events_dir(sf_dir, tmp_path_factory):
    # the file stream source requires a DIRECTORY; testdata is read-only,
    # so stage a symlink into a temp dir
    import os

    d = tmp_path_factory.mktemp("events_stream")
    os.symlink(f"{sf_dir}/events.parquet", d / "events.parquet")
    return str(d)


def test_stream_tumbling_matches_batch(spark, sf_dir, event_stream_schema, events_dir):
    from sparkga1_spark.sources.catalog import load_table
    from sparkga1_spark.streaming.ingest import run_complete_to_memory, stream_events
    from sparkga1_spark.streaming.windows import tumbling_counts

    stream = stream_events(
        spark, events_dir, event_stream_schema
    )
    agg = tumbling_counts(stream, width_s=300)
    run_complete_to_memory(agg, "t_tumbling")
    got = {tuple(r) for r in spark.sql("SELECT * FROM t_tumbling").collect()}
    want = {
        tuple(r)
        for r in tumbling_counts(load_table(spark, sf_dir, "events"), width_s=300).collect()
    }
    assert got == want


def test_stream_passthrough_append(spark, sf_dir, event_stream_schema, events_dir):
    from sparkga1_spark.streaming.ingest import run_available_now, stream_events

    stream = stream_events(
        spark, events_dir, event_stream_schema,
        max_files_per_trigger=1,
    )
    sel = stream.select("event_id", "user_id", "ts")
    run_available_now(sel, "t_pass")
    n_stream = spark.sql("SELECT count(*) AS n FROM t_pass").collect()[0].n
    n_batch = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert n_stream == n_batch


def test_stream_dedup_within_watermark(spark, sf_dir, event_stream_schema, events_dir):
    """dropDuplicatesWithinWatermark over a duplicated source: each
    event_id arrives twice (union of the source with itself) and must
    come out once."""
    from sparkga1_spark.streaming.ingest import stream_events

    s1 = stream_events(spark, events_dir, event_stream_schema)
    dup = s1.select("event_id", "ts").unionByName(s1.select("event_id", "ts"))
    dedup = dup.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    q = (
        dedup.writeStream.outputMode("append")
        .format("memory")
        .queryName("t_dedup")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    n = spark.sql("SELECT count(DISTINCT event_id) AS n, count(*) AS total FROM t_dedup").collect()[0]
    n_batch = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert n.n == n_batch
    assert n.total == n_batch  # no event emitted twice


def test_stream_watermark_late_drop_semantics(spark, sf_dir, event_stream_schema, events_dir):
    """Append-mode windowed agg with a watermark emits only finalized
    windows; every emitted window must match the batch result for that
    window (prefix-correctness — late-data semantics)."""
    from sparkga1_spark.sources.catalog import load_table
    from sparkga1_spark.streaming.ingest import stream_events
    from sparkga1_spark.streaming.windows import tumbling_counts

    stream = stream_events(spark, events_dir, event_stream_schema)
    agg = tumbling_counts(stream, width_s=300, watermark="10 minutes")
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("t_wm")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    emitted = spark.sql("SELECT * FROM t_wm").collect()
    batch = {
        (r.win_start, r.event_type): (r.n, r.sum_value)
        for r in tumbling_counts(load_table(spark, sf_dir, "events"), width_s=300).collect()
    }
    assert emitted, "append-mode query emitted nothing"
    for r in emitted:
        assert batch[(r.win_start, r.event_type)] == (r.n, r.sum_value)


def test_stateful_running_totals(spark, sf_dir, event_stream_schema, events_dir):
    """applyInPandasWithState: per-user running totals across
    micro-batches must converge to the batch aggregate."""
    from sparkga1_spark.streaming.ingest import stream_events
    from sparkga1_spark.streaming.stateful import running_user_totals

    stream = stream_events(spark, events_dir, event_stream_schema)
    out = running_user_totals(stream)
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName("t_state")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # last emitted row per user == full batch aggregate
    got = {
        r.user_id: (r.n_events, r.sum_value)
        for r in spark.sql("SELECT * FROM t_state").collect()
    }
    batch = {
        r.user_id: (r.n, round(r.s, 2))
        for r in spark.read.parquet(f"{sf_dir}/events.parquet")
        .groupBy("user_id")
        .agg(F.count("*").alias("n"), F.sum("value").alias("s"))
        .collect()
    }
    assert set(got) == set(batch)
    for uid, (n, s) in batch.items():
        gn, gs = got[uid]
        assert gn == n and abs(gs - s) < 0.02, f"user {uid}: {got[uid]} != {(n, s)}"


def test_stream_session_window_native(spark, sf_dir, event_stream_schema, events_dir):
    """F.session_window on the true streaming path: session row counts
    must match the batch gaps-and-islands construction
    (streaming/windows.py session_windows)."""
    from sparkga1_spark.sources.catalog import load_table
    from sparkga1_spark.streaming.ingest import stream_events
    from sparkga1_spark.streaming.windows import session_windows

    stream = stream_events(spark, events_dir, event_stream_schema)
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count("*").alias("n_events"))
    )
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("t_sess")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.user_id, r.n_events)
        for r in spark.sql("SELECT user_id, n_events FROM t_sess").collect()
    }
    want = {
        (r.user_id, r.n_events)
        for r in session_windows(
            load_table(spark, sf_dir, "events"), gap_s=1800
        ).collect()
    }
    # session-window semantics: same multiset of (user, session size).
    # (native session_window closes at gap from LAST event — identical
    # to the gaps-and-islands construction)
    assert got == want


def test_micro_batch_grouping(spark, sf_dir, tmp_path):
    """maxFilesPerTrigger ≙ the reference's chunkerGroupSize
    (SparkGA1.scala:1050-1081): a 4-file source drained with
    maxFilesPerTrigger=2 must take exactly 2 micro-batches."""
    from sparkga1_spark.streaming.ingest import stream_events

    src = str(tmp_path / "chunks")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev.repartition(4).write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = stream_events(spark, src, schema, max_files_per_trigger=2)
    q = (
        stream.select("event_id").writeStream.outputMode("append")
        .format("memory").queryName("t_groups")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
    assert len(batches) == 2, [p["numInputRows"] for p in q.recentProgress]
    assert spark.sql("SELECT count(*) n FROM t_groups").collect()[0].n == ev.count()


def test_foreach_batch_sink(spark, sf_dir, events_dir, event_stream_schema, tmp_path):
    """foreachBatch: per-micro-batch parquet writes (the exactly-once
    sink pattern) — total written rows equal the source."""
    from sparkga1_spark.streaming.ingest import stream_events

    out = str(tmp_path / "sink")
    stream = stream_events(spark, events_dir, event_stream_schema)

    def write_batch(df, epoch_id):
        df.select("event_id", "user_id", "value").write.mode("append").parquet(out)

    q = (
        stream.writeStream.foreachBatch(write_batch)
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination()
    n = spark.read.parquet(out).count()
    assert n == spark.read.parquet(f"{sf_dir}/events.parquet").count()


def test_stream_static_join(spark, sf_dir, event_stream_schema, events_dir):
    """J-4 generalization: stream ⋈ static dimension (events enriched
    with the user's market segment from the static customer table)."""
    from sparkga1_spark.sources.catalog import load_table
    from sparkga1_spark.streaming.ingest import run_available_now, stream_events

    stream = stream_events(spark, events_dir, event_stream_schema)
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    enriched = stream.select("event_id", "user_id").join(cust, "user_id", "left")
    run_available_now(enriched, "t_enrich")
    got = spark.sql(
        "SELECT count(*) AS n, count(c_mktsegment) AS matched FROM t_enrich"
    ).collect()[0]
    n_events = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert got.n == n_events
    assert 0 < got.matched <= n_events


def test_stream_flagship_matches_batch(spark, sf_dir, tmp_path):
    """The reference's Part-1 STREAMING mode (SparkGA1.scala:1050-1081):
    chunks arrive over time, per-region stats accumulate. Streamed
    flagship aggregation (complete mode over micro-batches) must equal
    the batch flagship query."""
    from sparkga1_spark.operators import binning, filters
    from sparkga1_spark.plans.registry import all_queries
    from sparkga1_spark.sources import fixtures
    from sparkga1_spark.sources.catalog import load_table
    from sparkga1_spark.functions.numeric import hround

    # stage lineitem as 3 "chunks" arriving via the file source
    src = str(tmp_path / "chunks")
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").repartition(3).write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream_li = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    al = filters.filter_unmapped(fixtures.alignments(stream_li))
    sd = fixtures.sequence_dict(load_table(spark, sf_dir, "nation"))
    binned = binning.bin_by_region(al, sd)
    agg = binned.groupBy("chr_index", "reg").agg(
        F.count("*").alias("n_reads"),
        F.min("pos").alias("min_pos"),
        F.max("pos").alias("max_pos"),
        hround(F.sum("weight"), 2).alias("sum_weight"),
    )
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory").queryName("t_flagship")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = {tuple(r) for r in spark.sql("SELECT * FROM t_flagship").collect()}
    want = {
        tuple(r)
        for r in all_queries()["flagship_region_stats"](spark, sf_dir).collect()
    }
    assert got == want


def test_stream_checkpoint_recovery(spark, sf_dir, tmp_path):
    """Kill-and-resume semantics (SURVEY.md §2.9): a file-source stream
    stopped mid-ingest and restarted from the SAME checkpoint must end
    exactly-once — the offset log replays nothing, loses nothing. The
    reference restarts its polling driver loop ad hoc
    (SparkGA1.scala:1050-1081); Structured Streaming's checkpoint is the
    principled replacement, and this is the one behavior a production
    user always ends up depending on."""
    import shutil
    from pathlib import Path

    from sparkga1_spark.session import apply_runtime_confs
    from sparkga1_spark.streaming.ingest import stream_events

    apply_runtime_confs(spark)
    src = spark.read.parquet(f"{sf_dir}/events.parquet")
    staged = tmp_path / "staged"
    src.repartition(4).write.parquet(str(staged))
    parts = sorted(Path(staged).glob("part-*.parquet"))
    assert len(parts) == 4
    schema = spark.read.parquet(str(staged)).schema

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def drain():
        q = (
            stream_events(spark, str(in_dir), schema, max_files_per_trigger=1)
            .select("event_id", "user_id", "ts")
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # ingest the first half, then the query terminates ("crash" point:
    # the sink and offset log hold a consistent prefix)
    for p in parts[:2]:
        shutil.copy(p, in_dir / p.name)
    drain()
    n_first = spark.read.parquet(out_dir).count()
    assert 0 < n_first < src.count()

    # the remaining files arrive; RESTART from the same checkpoint
    for p in parts[2:]:
        shutil.copy(p, in_dir / p.name)
    drain()

    out = spark.read.parquet(out_dir)
    assert out.count() == src.count()  # nothing lost, nothing doubled
    got = {r.event_id for r in out.select("event_id").collect()}
    want = {r.event_id for r in src.select("event_id").collect()}
    assert got == want


def test_stream_stream_join_matches_batch(spark, sf_dir, event_stream_schema, events_dir):
    """Stream-stream inner join with watermarks + event-time range
    constraint (the §2.9 shape the reference never had but any streaming
    engine user expects): each click joins views by the same user within
    the preceding 10 minutes. Drained AvailableNow and compared against
    the identical batch join."""
    from sparkga1_spark.sources.catalog import load_table
    from sparkga1_spark.streaming.ingest import stream_events

    stream = stream_events(spark, events_dir, event_stream_schema)
    clicks = (
        stream.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "30 minutes")
    )
    views = (
        stream_events(spark, events_dir, event_stream_schema)
        .filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", "30 minutes")
    )
    joined = clicks.join(
        views,
        (clicks.user_id == views.user_id)
        & (F.col("view_ts") >= F.col("click_ts") - F.expr("INTERVAL 10 MINUTES"))
        & (F.col("view_ts") <= F.col("click_ts")),
        "inner",
    ).select("click_id", "view_id")
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName("t_ss_join")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {tuple(r) for r in spark.sql("SELECT * FROM t_ss_join").collect()}

    ev = load_table(spark, sf_dir, "events")
    bc = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", F.col("ts").alias("click_ts")
    )
    bv = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"), "user_id", F.col("ts").alias("view_ts")
    )
    want = {
        tuple(r)
        for r in bc.join(
            bv,
            (bc.user_id == bv.user_id)
            & (F.col("view_ts") >= F.col("click_ts") - F.expr("INTERVAL 10 MINUTES"))
            & (F.col("view_ts") <= F.col("click_ts")),
            "inner",
        ).select("click_id", "view_id").collect()
    }
    assert got == want and len(want) > 0


def test_stateful_event_time_timeout_closes_sessions(spark, tmp_path):
    """applyInPandasWithState + EventTimeTimeout: sessions are emitted
    exactly once, only when the watermark passes last_seen + gap —
    including timers restored from the checkpoint across a query
    restart. Phase A ingests 5 users' events (sessions stay open, no
    output); phase B's late traffic advances the watermark past their
    timers and the restart fires the close events."""
    import datetime as dt

    import pandas as pd

    from sparkga1_spark.session import apply_runtime_confs
    from sparkga1_spark.streaming.stateful import session_finalize_on_timeout

    apply_runtime_confs(spark)
    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows_a = []
    for u in range(1, 6):
        for k in range(u):  # user u has u events
            rows_a.append((u * 100 + k, base + dt.timedelta(minutes=2 * k), u))
    rows_b = [(9990, base + dt.timedelta(hours=3), 999)]

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    schema = "event_id long, ts timestamp, user_id long"

    def write_file(rows, name):
        spark.createDataFrame(
            pd.DataFrame(rows, columns=["event_id", "ts", "user_id"]), schema
        ).coalesce(1).write.mode("append").parquet(str(in_dir))

    def drain():
        stream = spark.readStream.schema(
            spark.read.parquet(str(in_dir)).schema
        ).parquet(str(in_dir))
        closed = session_finalize_on_timeout(
            stream.withWatermark("ts", "5 minutes"), gap_minutes=10
        )

        def sink(batch_df, batch_id):
            if batch_df.count():
                batch_df.write.mode("append").parquet(out_dir)

        q = (
            closed.writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    write_file(rows_a, "a")
    drain()
    import os

    n_after_a = (
        spark.read.parquet(out_dir).count() if os.path.exists(out_dir) else 0
    )
    assert n_after_a == 0  # sessions still open — nothing emitted

    write_file(rows_b, "b")
    drain()  # restart from checkpoint; watermark jumps past every timer
    got = {
        (r.user_id, r.n_events, r.last_epoch_s)
        for r in spark.read.parquet(out_dir).collect()
    }
    want = set()
    for u in range(1, 6):
        last = base + dt.timedelta(minutes=2 * (u - 1))
        want.add((u, u, int(last.replace(tzinfo=dt.timezone.utc).timestamp())))
    assert got == want  # exactly the 5 closed sessions, once each; 999 open


def test_stream_incremental_dedup_triage(spark, sf_dir, tmp_path):
    """Streaming ingest × dedup: each arriving micro-batch of documents
    is triaged against the STANDING corpus inside foreachBatch — exact
    copies dropped via content-hash anti-join, survivors appended.
    After draining a source that is half corpus-duplicates, the sink
    must hold exactly the non-duplicate docs (batch boundaries must
    not change the outcome)."""
    import os

    from pyspark.sql import functions as F

    from sparkga1_spark.functions.hashing import stable_hash64

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = docs.filter(F.col("doc_id") % 3 != 0)
    corpus_path = str(tmp_path / "corpus")
    corpus.write.parquet(corpus_path)

    # arriving stream: the OTHER third, plus exact copies of corpus docs
    dup_half = corpus.filter(F.col("doc_id") % 2 == 0).withColumn(
        "doc_id", F.col("doc_id") + 10_000_000
    )
    arriving = docs.filter(F.col("doc_id") % 3 == 0).unionByName(dup_half)
    src = str(tmp_path / "incoming")
    os.makedirs(src)
    arriving.coalesce(4).write.mode("overwrite").parquet(src)

    sink = str(tmp_path / "admitted")
    corpus_h = spark.read.parquet(corpus_path).select(
        stable_hash64(F.col("text")).alias("_h")
    )

    def admit(batch_df, epoch_id):
        fresh = (
            batch_df.withColumn("_h", stable_hash64(F.col("text")))
            .join(corpus_h, "_h", "left_anti")
            .drop("_h")
        )
        fresh.write.mode("append").parquet(sink)

    stream = (
        spark.readStream.schema(arriving.schema)
        .option("maxFilesPerTrigger", 1)  # several micro-batches
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(admit)
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination()

    admitted = spark.read.parquet(sink)
    want = docs.filter(F.col("doc_id") % 3 == 0).count()
    assert admitted.count() == want  # every duplicate dropped
    assert admitted.filter(F.col("doc_id") >= 10_000_000).count() == 0


def test_foreach_batch_upsert_exactly_once(
    spark, sf_dir, events_dir, event_stream_schema, tmp_path
):
    """Exactly-once MERGE sink (streaming/sinks.py): streaming the
    events source through foreach_batch_upsert yields one row per key;
    REDELIVERING an already-committed batch (the at-least-once crash
    window) leaves the table byte-identical instead of double-applying
    or clobbering newer versions."""
    from sparkga1_spark.streaming.ingest import stream_events
    from sparkga1_spark.streaming.sinks import (
        committed_batches,
        foreach_batch_upsert,
    )

    table = str(tmp_path / "latest_by_user")
    sink = foreach_batch_upsert(table, keys=["user_id"])
    # keep-latest-per-user upsert: reduce each micro-batch to one row
    # per key first (updates win per key across batches)
    stream = stream_events(spark, events_dir, event_stream_schema)
    reduced = lambda df: (  # noqa: E731
        df.groupBy("user_id").agg(
            F.max("event_id").alias("last_event_id"),
            F.count("*").alias("n_in_batch"),
        )
    )
    q = (
        stream.writeStream.foreachBatch(lambda df, bid: sink(reduced(df), bid))
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination()
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    got = spark.read.parquet(table)
    assert got.count() == ev.select("user_id").distinct().count()
    # every key holds a real event id (MERGE applied, not appended)
    assert got.filter(F.col("last_event_id").isNull()).count() == 0
    before = sorted(map(tuple, got.collect()))
    ledger = committed_batches(table)
    assert ledger, "no batch ids recorded"
    # simulate at-least-once redelivery of an old batch: stale content
    # for every key, already-committed batch id -> must be skipped
    stale = reduced(ev).withColumn("last_event_id", F.lit(-1).cast("long"))
    sink(stale, min(ledger))
    after = sorted(map(tuple, spark.read.parquet(table).collect()))
    assert after == before, "replayed batch was re-applied"
    # a genuinely NEW batch still merges
    new_id = max(ledger) + 1
    sink(
        stale.filter(F.col("user_id") == before[0][0]).limit(1), new_id
    )
    upd = spark.read.parquet(table)
    assert upd.filter(F.col("last_event_id") == -1).count() == 1
    assert upd.count() == len(before)
    assert new_id in committed_batches(table)


def test_foreach_batch_upsert_survives_mid_swap_crash(spark, tmp_path):
    """The review-caught data-loss window: upsert_parquet crashes
    BETWEEN its two phase-2 renames (base dir gone, merged table
    stranded at __tmp_<token>); the replayed batch must RECOVER the
    stranded table and re-merge — never take the bootstrap-overwrite
    branch and clobber committed history with its own rows."""
    import os
    import shutil

    import pytest as _pytest

    from sparkga1_spark.streaming.sinks import (
        committed_batches,
        foreach_batch_upsert,
    )

    table = str(tmp_path / "t")
    sink = foreach_batch_upsert(table, keys=["k"])
    b0 = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    b1 = spark.createDataFrame([(3, "c")], "k int, v string")
    sink(b0, 0)
    sink(b1, 1)
    assert committed_batches(table) == {0, 1}

    # simulate the mid-swap crash of a THIRD batch's upsert: base
    # renamed away (phase 2a), merged result stranded at __tmp (phase
    # 2b never ran), ledger not yet written for batch 2
    b2_rows = [(2, "B2"), (4, "d")]
    merged = {(1, "a"), (2, "B2"), (3, "c"), (4, "d")}
    os.rename(table, table + "__old_deadbeef")
    spark.createDataFrame(sorted(merged), "k int, v string").write.parquet(
        table + "__tmp_deadbeef"
    )

    # redelivery of batch 2 must recover + merge, not overwrite
    sink(spark.createDataFrame(b2_rows, "k int, v string"), 2)
    got = {tuple(r) for r in spark.read.parquet(table).collect()}
    assert got == merged, got
    assert not os.path.isdir(table + "__tmp_deadbeef")
    assert not os.path.isdir(table + "__old_deadbeef")
    assert committed_batches(table) == {0, 1, 2}

    # ledger non-empty + table gone + NOTHING recoverable -> refuse
    shutil.rmtree(table)
    with _pytest.raises(RuntimeError, match="refusing to re-bootstrap"):
        sink(spark.createDataFrame([(9, "z")], "k int, v string"), 3)


def test_foreach_batch_upsert_rejects_remote_paths(spark):
    """The ledger is driver-local-filesystem only: a URI-scheme path
    must be rejected at sink CONSTRUCTION (review finding: os.path on
    's3://...' always says 'missing table, empty ledger', so the
    bootstrap branch would overwrite an existing remote table)."""
    import pytest as _pytest

    from sparkga1_spark.sources.sinks import recover_interrupted_upsert
    from sparkga1_spark.streaming.sinks import foreach_batch_upsert

    for bad in ("s3://bucket/table", "hdfs://nn/warehouse/t", "s3a://b/t"):
        with _pytest.raises(NotImplementedError, match="driver-local"):
            foreach_batch_upsert(bad, keys=["k"])
        with _pytest.raises(NotImplementedError, match="driver-local"):
            recover_interrupted_upsert(spark, bad)
    # plain local paths still construct fine
    assert callable(foreach_batch_upsert("/tmp/ok_table", keys=["k"]))


def test_fastq_tolerates_corrupt_deflate_body(spark):
    """zlib.error (valid gzip magic, corrupted deflate stream) must be
    swallowed like OSError/EOFError — a bit-flipped chunk is skipped,
    not a job-killer."""
    import gzip

    from sparkga1_spark.sources.fastq import parse_fastq_bytes

    good = gzip.compress(b"@r1\nACGT\n+\nIIII\n" * 4)
    mid = 10 + (len(good) - 18) // 2  # inside the deflate body
    corrupt = good[:mid] + bytes([good[mid] ^ 0xFF]) + good[mid + 1:]
    import zlib

    try:
        gzip.decompress(corrupt)
        raise AssertionError("bit flip did not corrupt the stream")
    except (zlib.error, EOFError, OSError):
        pass
    out = parse_fastq_bytes(corrupt, "c0")
    assert len(out) == 0
    assert len(parse_fastq_bytes(good, "c0")) == 4


def test_foreach_batch_two_writers_no_silent_drop(spark, tmp_path):
    """MULTI-WRITER merge (r5 VERDICT #7): two streaming queries —
    each numbering its batches from 0 — target the same keyed table.
    The writer-scoped ledger must apply BOTH writers' batch 0 (an
    unscoped batch-id ledger silently drops the second as a 'replay'),
    converge overlapping keys to last-MERGE-wins, and keep each
    writer's replay skip confined to its own ledger slice."""
    from sparkga1_spark.streaming.sinks import (
        committed_batches,
        foreach_batch_upsert,
    )

    table = str(tmp_path / "shared")
    a = foreach_batch_upsert(table, keys=["k"], writer_id="wa")
    b = foreach_batch_upsert(table, keys=["k"], writer_id="wb")

    def df(rows):
        return spark.createDataFrame(rows, "k long, v string")

    a(df([(1, "a0"), (2, "a0")]), 0)
    # writer B's batch 0: same batch_id, different writer — MUST apply
    b(df([(2, "b0"), (3, "b0")]), 0)
    got = {r.k: r.v for r in spark.read.parquet(table).collect()}
    assert got == {1: "a0", 2: "b0", 3: "b0"}, got
    # replay of A's batch 0 with stale content: skipped via A's slice
    a(df([(1, "STALE"), (2, "STALE")]), 0)
    got = {r.k: r.v for r in spark.read.parquet(table).collect()}
    assert got == {1: "a0", 2: "b0", 3: "b0"}, got
    # A's NEXT batch still merges (its slice has 0, not 1)
    a(df([(2, "a1")]), 1)
    got = {r.k: r.v for r in spark.read.parquet(table).collect()}
    assert got == {1: "a0", 2: "a1", 3: "b0"}, got
    assert committed_batches(table, "wa") == {0, 1}
    assert committed_batches(table, "wb") == {0}
    assert committed_batches(table, "default") == set()


def test_foreach_batch_concurrent_writers_serialize(spark, tmp_path):
    """Interleaved applies from two threads (two in-driver streaming
    queries) must serialize on the table lock: with disjoint key
    ranges every written row survives — a lost-update race inside
    upsert_parquet's read-merge-swap would drop whole batches."""
    import threading

    from sparkga1_spark.streaming.sinks import foreach_batch_upsert

    table = str(tmp_path / "conc")
    # bootstrap so both threads exercise the merge path, not overwrite
    spark.createDataFrame([(-1, "seed")], "k long, v string").write.parquet(
        table
    )
    errs = []

    def writer(wid, base):
        try:
            sink = foreach_batch_upsert(table, keys=["k"], writer_id=wid)
            for i in range(4):
                rows = [(base + 2 * i + j, f"{wid}:{i}") for j in range(2)]
                sink(
                    spark.createDataFrame(rows, "k long, v string"), i
                )
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    t1 = threading.Thread(target=writer, args=("w1", 100))
    t2 = threading.Thread(target=writer, args=("w2", 200))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert not errs, errs
    got = spark.read.parquet(table)
    assert got.count() == 1 + 8 + 8
    assert got.filter("k >= 100 and k < 200").count() == 8
    assert got.filter("k >= 200").count() == 8


def test_foreach_batch_torn_tmp_never_counts_as_committed(spark, tmp_path):
    """Review-caught bootstrap-guard regression: a torn `.<entry>.tmp`
    ledger file (crash between create and rename) must NOT count as
    committed evidence — with only torn tmps on record and no table,
    the sink must bootstrap cleanly instead of wedging on 'ledger
    records committed batches but no table exists'."""
    import os

    from sparkga1_spark.streaming.sinks import (
        _any_committed_batches,
        _ledger_dir,
        committed_batches,
        foreach_batch_upsert,
    )

    table = str(tmp_path / "t")
    d = _ledger_dir(table)
    os.makedirs(d)
    open(os.path.join(d, ".wa.0.tmp"), "w").close()  # torn rename
    open(os.path.join(d, ".3.tmp"), "w").close()  # torn legacy rename
    assert not _any_committed_batches(table)
    assert committed_batches(table, "wa") == set()
    sink = foreach_batch_upsert(table, keys=["k"], writer_id="wa")
    sink(spark.createDataFrame([(1, "v")], "k long, v string"), 0)
    got = {(r.k, r.v) for r in spark.read.parquet(table).collect()}
    assert got == {(1, "v")}
    assert committed_batches(table, "wa") == {0}
    # a real entry from ANY writer now counts for the bootstrap guard
    assert _any_committed_batches(table)


def test_stream_cms_cells_match_batch(spark, sf_dir, event_stream_schema, events_dir):
    """Streaming count-min sketch: because CMS cells merge by SUM, the
    sketch built incrementally over micro-batches (complete-mode
    aggregate) must equal the batch sketch EXACTLY, cell for cell —
    the property that lets a 1000-executor stream maintain a 2048-cell
    heavy-hitter summary with no reconciliation step."""
    from sparkga1_spark.operators.sketches import cms_cells, cms_sketch
    from sparkga1_spark.sources.catalog import load_table
    from sparkga1_spark.streaming.ingest import run_complete_to_memory, stream_events

    def sketch_of(df):
        # ONE stateful aggregate: every event feeds its 4 cells with
        # cnt=1 (a pre-count stage would chain two stateful aggs, which
        # Spark's streaming correctness check rejects)
        rows = df.select(
            F.col("event_type").alias("k"), F.lit(1).cast("long").alias("cnt")
        )
        return cms_sketch(cms_cells(rows, "k", "cnt"), "cnt")

    stream = stream_events(spark, events_dir, event_stream_schema)
    run_complete_to_memory(sketch_of(stream), "t_cms")
    got = {
        (r.depth, r.bucket): r.bc
        for r in spark.sql("SELECT * FROM t_cms").collect()
    }
    want = {
        (r.depth, r.bucket): r.bc
        for r in sketch_of(load_table(spark, sf_dir, "events")).collect()
    }
    assert got == want and got


def test_merge_upsert_versioned_keeps_greatest(spark):
    """Versioned MERGE: matched keys keep the greater version, ties
    keep the BASE row (replay idempotence), a duplicate-keyed updates
    frame reduces to its greatest-version row first, inserts pass."""
    from sparkga1_spark.sources.sinks import merge_upsert

    base = spark.createDataFrame(
        [(1, 5, "b5"), (2, 1, "b1"), (4, 3, "b3")], "k long, ver long, v string"
    )
    upd = spark.createDataFrame(
        [(1, 4, "stale"),          # older than base: dropped
         (2, 2, "u2"), (2, 7, "u7"),  # dup key: greatest wins, then beats base
         (3, 1, "new"),            # insert
         (4, 3, "tie")],           # equal version: base row kept
        "k long, ver long, v string",
    )
    got = {
        r.k: (r.ver, r.v)
        for r in merge_upsert(base, upd, keys=["k"], version_col="ver").collect()
    }
    assert got == {1: (5, "b5"), 2: (7, "u7"), 3: (1, "new"), 4: (3, "b3")}, got


def test_foreach_batch_versioned_merge_closes_replay_window(spark, tmp_path):
    """The cross-writer replay window: writer A commits its upsert but
    crashes BEFORE its ledger write; writer B then commits a newer
    version of the same key; A's batch is redelivered. Without a
    version column the replay re-merges A's older rows over B's (the
    documented last-MERGE-wins contract — pinned here so the hazard
    stays visible); with version_col the replay is a no-op by value
    and B's newer row survives."""
    import os

    from sparkga1_spark.streaming.sinks import foreach_batch_upsert

    def run(version_col):
        table = str(tmp_path / f"t_{version_col or 'none'}")
        a = foreach_batch_upsert(
            table, keys=["k"], writer_id="wa", version_col=version_col
        )
        b = foreach_batch_upsert(
            table, keys=["k"], writer_id="wb", version_col=version_col
        )

        def df(rows):
            return spark.createDataFrame(rows, "k long, ver long, v string")

        a(df([(1, 1, "a.v1")]), 0)          # bootstrap
        a(df([(1, 2, "a.v2")]), 1)          # A's batch 1 commits...
        os.remove(os.path.join(table + "__batches", "wa.1"))  # ...crash
        b(df([(1, 3, "b.v3")]), 0)          # B commits a NEWER version
        a(df([(1, 2, "a.v2")]), 1)          # A's replay after restart
        return {r.k: (r.ver, r.v) for r in spark.read.parquet(table).collect()}

    # unversioned: replay clobbers B's newer row — the documented window
    assert run(None) == {1: (2, "a.v2")}
    # versioned: stale replay is a value-level no-op
    assert run("ver") == {1: (3, "b.v3")}


def test_merge_upsert_versioned_rejects_null_versions(spark):
    """NULL versions must raise in-plan, not silently duplicate or
    vanish a key under three-valued comparison logic."""
    import pytest as _pytest

    from sparkga1_spark.sources.sinks import merge_upsert

    base = spark.createDataFrame([(1, 5, "b")], "k long, ver long, v string")
    upd_null = spark.createDataFrame(
        [(1, None, "u")], "k long, ver long, v string"
    )
    with _pytest.raises(Exception, match="non-null"):
        merge_upsert(base, upd_null, keys=["k"], version_col="ver").collect()
    base_null = spark.createDataFrame(
        [(1, None, "b")], "k long, ver long, v string"
    )
    upd = spark.createDataFrame([(1, 2, "u")], "k long, ver long, v string")
    with _pytest.raises(Exception, match="non-null"):
        merge_upsert(base_null, upd, keys=["k"], version_col="ver").collect()


def test_foreach_batch_state_merge_exactly_once(spark, tmp_path):
    """The ADDITIVE state-merge sink (streaming/sinks.py
    foreach_batch_state_merge): counts would double on replay, so the
    ledger is CO-COMMITTED inside the published table dir. Pins: (a)
    merging batches equals the single-pass aggregate exactly; (b)
    redelivering a committed batch changes nothing; (c) a mid-swap
    crash recovers to a consistent state+ledger pair from EITHER
    stranded candidate — the new dir skips the replay, the old dir
    re-merges it — with identical final state either way."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from sparkga1_spark.operators.incremental import (
        aggregate_state,
        finalize_state,
        merge_states,
    )
    from sparkga1_spark.streaming.sinks import (
        foreach_batch_state_merge,
        state_committed_batches,
    )

    full = spark.range(900).select(
        (F.col("id") % 5).alias("k"),
        ((F.col("id") % 97).cast("double") / 7.0).alias("v"),
        (F.col("id") % 53).alias("u"),
    )
    batches = [full.filter(F.col("id") % 3 == i) for i in range(3)]

    def final_rows(path):
        return sorted(
            tuple(r)
            for r in finalize_state(spark.read.parquet(path), ["k"]).collect()
        )

    expected = sorted(
        tuple(r)
        for r in finalize_state(
            aggregate_state(full, ["k"], "v", distinct_col="u"), ["k"]
        ).collect()
    )

    table = str(tmp_path / "state")
    sink = foreach_batch_state_merge(
        table, keys=["k"], value_col="v", distinct_col="u"
    )
    for i, b in enumerate(batches):
        sink(b, i)
    assert state_committed_batches(table) == {0, 1, 2}
    assert final_rows(table) == expected

    # (b) replay any batch: additive merge would double counts; the
    # co-committed ledger must make it a no-op
    for i, b in enumerate(batches):
        sink(b, i)
    assert final_rows(table) == expected

    # (c) crash between the two swap renames while applying batch 3:
    # base gone, old table stranded WITHOUT the marker, staged table
    # stranded WITH it. Recovery prefers the staged (tmp) dir — its
    # co-committed marker makes the replay skip.
    extra = spark.createDataFrame([(1, 7.5, 999), (9, 1.0, 999)], "k long, v double, u long")
    with_extra = sorted(
        tuple(r)
        for r in finalize_state(
            merge_states(
                [
                    aggregate_state(full, ["k"], "v", distinct_col="u"),
                    aggregate_state(extra, ["k"], "v", distinct_col="u"),
                ],
                ["k"],
            ),
            ["k"],
        ).collect()
    )
    staged = str(tmp_path / "staged")
    merged_df = merge_states(
        [
            spark.read.parquet(table),
            aggregate_state(extra, ["k"], "v", distinct_col="u"),
        ],
        ["k"],
    )
    merged_df.write.parquet(staged)
    shutil.copytree(os.path.join(table, "_state_commits"),
                    os.path.join(staged, "_state_commits"))
    open(os.path.join(staged, "_state_commits", "default.3"), "w").close()
    os.rename(table, table + "__old_cafe")
    os.rename(staged, table + "__tmp_cafe")

    sink(extra, 3)  # redelivery after the simulated crash
    assert final_rows(table) == with_extra
    assert state_committed_batches(table) == {0, 1, 2, 3}
    assert not os.path.isdir(table + "__tmp_cafe")
    assert not os.path.isdir(table + "__old_cafe")

    # and replaying batch 3 once more is still a no-op
    sink(extra, 3)
    assert final_rows(table) == with_extra

    # crash flavor 2: only the OLD dir survives (tmp lost before any
    # marker) — its ledger lacks batch 4, so redelivery re-merges
    more = spark.createDataFrame([(2, 3.25, 1000)], "k long, v double, u long")
    os.rename(table, table + "__old_beef")
    sink(more, 4)
    with_more = sorted(
        tuple(r)
        for r in finalize_state(
            merge_states(
                [
                    aggregate_state(full, ["k"], "v", distinct_col="u"),
                    aggregate_state(extra, ["k"], "v", distinct_col="u"),
                    aggregate_state(more, ["k"], "v", distinct_col="u"),
                ],
                ["k"],
            ),
            ["k"],
        ).collect()
    )
    assert final_rows(table) == with_more
    assert state_committed_batches(table) == {0, 1, 2, 3, 4}


def test_foreach_batch_state_merge_two_writers(spark, tmp_path):
    """Two streaming queries maintaining ONE state table: additive
    merges commute, the per-table lock serializes the swap, and the
    writer-scoped co-committed ledger keeps each writer's replays
    independent — writer B's batch 0 must not be mistaken for a replay
    of writer A's batch 0, and a replay of either writer's batch must
    not double counts after the other writer has committed since."""
    from pyspark.sql import functions as F

    from sparkga1_spark.operators.incremental import (
        aggregate_state,
        finalize_state,
    )
    from sparkga1_spark.streaming.sinks import (
        foreach_batch_state_merge,
        state_committed_batches,
    )

    full = spark.range(600).select(
        (F.col("id") % 4).alias("k"),
        (F.col("id") % 31).cast("double").alias("v"),
        (F.col("id") % 17).alias("u"),
    )
    a_rows = full.filter(F.col("id") % 2 == 0)
    b_rows = full.filter(F.col("id") % 2 == 1)

    table = str(tmp_path / "shared_state")
    sink_a = foreach_batch_state_merge(
        table, keys=["k"], value_col="v", distinct_col="u", writer_id="qa"
    )
    sink_b = foreach_batch_state_merge(
        table, keys=["k"], value_col="v", distinct_col="u", writer_id="qb"
    )

    # interleaved batches, both writers numbering from 0
    sink_a(a_rows.filter(F.col("u") < 9), 0)
    sink_b(b_rows.filter(F.col("u") < 9), 0)   # NOT a replay of qa's 0
    sink_a(a_rows.filter(F.col("u") >= 9), 1)
    sink_b(b_rows.filter(F.col("u") >= 9), 1)
    assert state_committed_batches(table, "qa") == {0, 1}
    assert state_committed_batches(table, "qb") == {0, 1}

    expected = sorted(
        tuple(r)
        for r in finalize_state(
            aggregate_state(full, ["k"], "v", distinct_col="u"), ["k"]
        ).collect()
    )

    def final_rows():
        return sorted(
            tuple(r)
            for r in finalize_state(spark.read.parquet(table), ["k"]).collect()
        )

    assert final_rows() == expected

    # replays from BOTH writers, after the other has committed since:
    # each must skip via its own ledger slice
    sink_a(a_rows.filter(F.col("u") < 9), 0)
    sink_b(b_rows.filter(F.col("u") >= 9), 1)
    assert final_rows() == expected


def test_foreach_batch_state_merge_real_stream(
    spark, sf_dir, events_dir, event_stream_schema, tmp_path
):
    """End-to-end through a REAL Structured Streaming query (not direct
    apply calls): streaming the events source into
    foreach_batch_state_merge must leave a state table whose finalized
    metrics equal the batch aggregate over the whole source — the
    continuous-aggregate maintenance contract under the actual
    foreachBatch execution path (checkpointing, batch-id assignment,
    micro-batch partitioning)."""
    from sparkga1_spark.operators.incremental import (
        aggregate_state,
        finalize_state,
    )
    from sparkga1_spark.sources.catalog import load_table
    from sparkga1_spark.streaming.ingest import stream_events
    from sparkga1_spark.streaming.sinks import (
        foreach_batch_state_merge,
        state_committed_batches,
    )

    table = str(tmp_path / "type_state")
    sink = foreach_batch_state_merge(
        table, keys=["event_type"], value_col="value", distinct_col="user_id"
    )
    stream = stream_events(spark, events_dir, event_stream_schema)
    q = (
        stream.writeStream.foreachBatch(sink)
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination()
    assert state_committed_batches(table), "no batch ids co-committed"

    got = sorted(
        tuple(r)
        for r in finalize_state(
            spark.read.parquet(table), ["event_type"]
        ).collect()
    )
    ev = load_table(spark, sf_dir, "events")
    want = sorted(
        tuple(r)
        for r in finalize_state(
            aggregate_state(ev, ["event_type"], "value", distinct_col="user_id"),
            ["event_type"],
        ).collect()
    )
    assert got == want


def test_foreach_batch_dedup_admit_bucketed(spark, sf_dir, tmp_path):
    """First-class streaming admission gate (foreach_batch_dedup_admit):
    micro-batches triage against the STANDING BUCKETED index (exact
    hash + LSH bands, zero corpus-side shuffle) AND against this
    stream's own admission history, then MERGE survivors exactly-once.
    Pins: corpus exact copies never admitted; a near-variant's fate
    matches the band join's batch-mode verdict; fresh docs admitted
    once each including a cross-batch exact duplicate pair; replaying
    a committed batch leaves the table byte-identical."""
    import os

    from pyspark.sql import functions as F

    from sparkga1_spark.functions.hashing import stable_hash64
    from sparkga1_spark.functions.text import shingle_hash_rows
    from sparkga1_spark.operators.dedup import minhash_band_keys
    from sparkga1_spark.plans.queries import _standing_dedup_index
    from sparkga1_spark.streaming.sinks import (
        committed_batches,
        foreach_batch_dedup_admit,
    )

    hash_idx, band_idx = _standing_dedup_index(spark, sf_dir)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = docs.filter(F.col("doc_id") % 3 != 0)

    # arriving data: 3 corpus exact copies, 1 near variant of a corpus
    # doc, 5 fully-distinct fresh docs, and one fresh text arriving
    # TWICE across batches under different ids
    copies = [
        (10_000_000 + i, r["text"])
        for i, r in enumerate(corpus.select("text").limit(3).collect())
    ]
    base_text = corpus.select("text").limit(1).collect()[0]["text"]
    near_id, near_text = 11_000_000, base_text + " zzzuniquetail"
    fresh = [
        (12_000_000 + i, " ".join(f"tok{i}x{j}" for j in range(30)))
        for i in range(5)
    ]
    dup_text = " ".join(f"dupword{j}" for j in range(30))
    batch1 = copies[:2] + fresh[:3] + [(20_000_000, dup_text)]
    batch2 = (
        copies[2:] + [(near_id, near_text)] + fresh[3:] + [(20_000_001, dup_text)]
    )

    src = str(tmp_path / "incoming")
    os.makedirs(src)
    schema = "doc_id long, text string"
    spark.createDataFrame(batch1, schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    spark.createDataFrame(batch2, schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    admitted_path = str(tmp_path / "admitted")
    # the table names used by _standing_dedup_index for this sf_dir
    import hashlib

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    sink = foreach_batch_dedup_admit(
        admitted_path,
        hash_table=f"dedup_hash_idx_{tag}",
        band_table=f"dedup_band_idx_{tag}",
    )
    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(sink)
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination()

    adm = spark.read.parquet(admitted_path)
    texts = {r["text"] for r in adm.collect()}
    # corpus exact copies: never admitted
    for _id, t in copies:
        assert t not in texts
    # near variant: the stream's verdict must MATCH the batch-mode band
    # join's verdict (seeded hashes make it deterministic)
    nv = spark.createDataFrame([(near_id, near_text)], schema)
    collides = (
        minhash_band_keys(shingle_hash_rows(nv), id_col="doc_id")
        .join(band_idx.select("band", "key"), ["band", "key"], "left_semi")
        .count()
        > 0
    )
    assert (near_text in texts) == (not collides)
    # fresh docs all admitted; cross-batch duplicate admitted exactly once
    for _id, t in fresh:
        assert t in texts
    assert adm.filter(F.col("text") == dup_text).count() == 1

    # replay a committed batch: table must stay byte-identical
    before = sorted(map(tuple, adm.collect()))
    ledger = committed_batches(admitted_path)
    assert ledger
    replay = spark.createDataFrame(batch1, schema)
    sink(replay, min(ledger))
    after = sorted(map(tuple, spark.read.parquet(admitted_path).collect()))
    assert after == before


def test_crawl_ingest_matches_oracle_at_sf0001(spark):
    """s_crawl_ingest_incremental vs its 4-round unrolled oracle at
    sf0.001 — chosen because THIS fixture carries 3 arriving-vs-
    arriving LSH near pairs, so the oracle's cross-batch near-dup
    rejection rounds (the part the driver's sf0.01 gate may not
    exercise) are live here. Full-precision value compare via the
    driver-strength tools.check machinery."""
    from tools.check import compare, duck_connection

    from sparkga1_spark.plans.registry import all_oracles, all_queries

    sf = "/root/testdata/sf0.001"
    d = all_queries()["s_crawl_ingest_incremental"](spark, sf)
    verdict = compare(
        "s_crawl_ingest_incremental", d, duck_connection(sf),
        all_oracles()["s_crawl_ingest_incremental"],
    )
    assert str(verdict).startswith("OK"), verdict


def test_crawl_ingest_stream_checkpoint_recovery(spark, sf_dir, tmp_path):
    """s_crawl_ingest_incremental's streaming leg recovers from a
    checkpoint: phase 1 drains the first two WARC chunk files
    (availableNow terminates), phase 2 restarts on the SAME checkpoint
    after two more files land — the final admitted table equals a
    fresh single-pass run over all four files, and replayed batches
    are visible in the ledger exactly once."""
    import os
    import shutil

    from sparkga1_spark.plans.queries import (
        _crawl_ingest_stream,
        _plant_warc_chunk_files,
        _standing_dedup_index,
    )
    from sparkga1_spark.streaming.sinks import committed_batches

    _standing_dedup_index(spark, sf_dir)

    full = str(tmp_path / "full_incoming")
    _plant_warc_chunk_files(spark, sf_dir, full, n_files=4)
    files = sorted(os.listdir(full))
    assert len(files) == 4

    # single-pass reference run
    ref_admitted = str(tmp_path / "ref_admitted")
    _crawl_ingest_stream(spark, full, ref_admitted,
                         str(tmp_path / "ref_ckpt"), sf_dir)
    want = sorted(
        r.doc_id for r in spark.read.parquet(ref_admitted).collect()
    )

    # phased run: 2 files, stop, then all 4 on the same checkpoint
    phased = str(tmp_path / "phased_incoming")
    os.makedirs(phased)
    for f in files[:2]:
        shutil.copy2(os.path.join(full, f), os.path.join(phased, f))
    adm = str(tmp_path / "phased_admitted")
    ckpt = str(tmp_path / "phased_ckpt")
    _crawl_ingest_stream(spark, phased, adm, ckpt, sf_dir)
    mid = set(r.doc_id for r in spark.read.parquet(adm).collect())
    # phase 1 must have ADMITTED something (review-caught: the former
    # `a and b or c` form reduced to `mid <= want`, true for empty mid)
    assert mid, "phase 1 admitted nothing"
    assert mid <= set(want)

    for f in files[2:]:
        shutil.copy2(os.path.join(full, f), os.path.join(phased, f))
    _crawl_ingest_stream(spark, phased, adm, ckpt, sf_dir)
    got = sorted(r.doc_id for r in spark.read.parquet(adm).collect())
    assert got == want
    ledger = committed_batches(adm)
    assert len(ledger) >= 2  # batches from both phases, committed once


def test_dedup_admit_two_writers_serialize(spark, sf_dir, tmp_path):
    """Two admission writers targeting ONE admitted table must hold the
    table lock across the WHOLE classify+merge body (review-caught:
    with only the inner upsert serialized, writer B could read the
    admitted path during writer A's two-rename swap — path briefly
    missing — and treat committed history as empty, or classify a text
    as new concurrently with A admitting the same text; either way a
    duplicate lands). Two threads alternate batches of overlapping
    texts; the final table must hold each text exactly once and both
    writers' ledgers must be disjointly scoped."""
    import threading

    from sparkga1_spark.plans.queries import _standing_dedup_index
    from sparkga1_spark.streaming.sinks import (
        committed_batches,
        foreach_batch_dedup_admit,
    )

    import hashlib

    _standing_dedup_index(spark, sf_dir)  # registers the catalog tables
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    hash_tab, band_tab = f"dedup_hash_idx_{tag}", f"dedup_band_idx_{tag}"
    adm_path = str(tmp_path / "admitted_two_writers")

    texts = [
        " ".join(f"w{i}t{j}xq" for j in range(25)) for i in range(12)
    ]
    a_batches = [
        [(i, texts[i]) for i in range(b * 4, b * 4 + 4)] for b in range(3)
    ]
    b_batches = [
        [(100 + i, texts[i]) for i in range(b * 4, b * 4 + 4)]
        for b in range(3)
    ]

    def run(writer_id, batches, errs):
        try:
            sink = foreach_batch_dedup_admit(
                adm_path, hash_table=hash_tab, band_table=band_tab,
                writer_id=writer_id,
            )
            for bid, rows in enumerate(batches):
                df = spark.createDataFrame(rows, "doc_id long, text string")
                sink(df, bid)
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    errs: list = []
    ta = threading.Thread(target=run, args=("wa", a_batches, errs))
    tb = threading.Thread(target=run, args=("wb", b_batches, errs))
    ta.start(); tb.start(); ta.join(); tb.join()
    assert not errs, errs

    final = spark.read.parquet(adm_path).select("doc_id", "_h").collect()
    hs = [r["_h"] for r in final]
    assert len(hs) == len(set(hs)) == 12, (
        f"duplicate admissions: {len(hs)} rows, {len(set(hs))} hashes"
    )
    led_a = committed_batches(adm_path, "wa")
    led_b = committed_batches(adm_path, "wb")
    # each writer's non-empty merges are ledgered in its own slice only
    assert led_a <= {0, 1, 2} and led_b <= {0, 1, 2}
    assert led_a | led_b, "no batch committed by either writer"
