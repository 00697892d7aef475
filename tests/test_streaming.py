"""Structured Streaming operator tests: file source → transform → memory
sink, with batch-vs-stream result parity for the tumbling windows and a
known-session fixture for the stateful sessionizer."""

from __future__ import annotations

import json
import os
import re
import time
from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

from inbev_data_engineering_case_spark.streaming.events import (
    stream_sessionize,
    stream_tumbling_counts,
)


def wait_done(query, timeout=60):
    query.processAllAvailable()
    query.stop()

def stage_batches(spark, src, batches, ddl):
    """Stage each batch as one parquet file with strictly increasing
    mtimes (the file source processes in mtime order) and return a
    readStream with maxFilesPerTrigger=1, so each staged file forms its
    own micro-batch."""
    import os

    src.mkdir(exist_ok=True)
    for bi, rows in enumerate(batches):
        spark.createDataFrame(rows, ddl).coalesce(1).write.parquet(
            str(src / f"b{bi}")
        )
        (f,) = (src / f"b{bi}").glob("*.parquet")
        dst = src / f"file_{bi}.parquet"
        os.rename(f, dst)
        os.utime(dst, (1_000_000 + bi * 1000, 1_000_000 + bi * 1000))
    schema = spark.createDataFrame([], ddl).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )


@pytest.fixture(autouse=True)
def recorded_schemas_match_inference(spark, tmp_path):
    """After each test: every parquet table under ``tmp_path`` that the
    reader's schema memo holds (the library recorded it at write time, or
    read it) must carry exactly the schema Spark infers from its footers,
    made nullable as every parquet read is. A memo entry that drifted from
    the files would hand later reads a wrong schema without a job."""
    import os

    from inbev_data_engineering_case_spark.sources import readers

    yield
    memo = readers._schema_memo(spark)
    for d, dirs, names in os.walk(tmp_path):
        dirs[:] = [n for n in dirs if not readers._hidden(n)]
        if not any(n.endswith(".parquet") for n in names):
            continue
        key = readers._schema_key(spark, (d,))
        if key in memo:
            inferred = readers._nullable(spark.read.parquet(d).schema)
            assert memo[key] == inferred, d


@pytest.fixture()
def event_dir(spark, tmp_path):
    t0 = datetime(2024, 1, 1)
    rows = []
    # user 1: two sessions (gap 45 min between event 2 and 3)
    for i, mins in enumerate([0, 10, 55, 60]):
        rows.append((i, t0 + timedelta(minutes=mins), 1, "click", 1.0))
    # user 2: one session
    for i, mins in enumerate([5, 15]):
        rows.append((10 + i, t0 + timedelta(minutes=mins), 2, "view", 2.0))
    df = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value"]
    )
    path = str(tmp_path / "events_in")
    df.coalesce(1).write.parquet(path)
    return path


def test_stream_tumbling_matches_batch(spark, event_dir, tmp_path):
    schema = spark.read.parquet(event_dir).schema
    stream = spark.readStream.schema(schema).parquet(event_dir)
    out = stream_tumbling_counts(stream, window="1 hour", watermark="2 hours")
    q = (
        out.writeStream.format("memory")
        .queryName("tumbling_test")
        .outputMode("complete")
        .start()
    )
    wait_done(q)
    got = {
        (r["window_start"].isoformat(), r["event_type"]): (
            r["n_events"],
            r["total_value"],
        )
        for r in spark.sql("select * from tumbling_test").collect()
    }
    # batch twin over the same files
    batch = (
        spark.read.parquet(event_dir)
        .groupBy(F.date_trunc("hour", "ts").alias("ws"), "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("v"))
    )
    want = {
        (r["ws"].isoformat(), r["event_type"]): (r["n"], float(r["v"]))
        for r in batch.collect()
    }
    assert got == want
    assert len(got) == 3  # (h0 click), (h1 click), (h0 view)


def test_stream_sessionize_closes_on_gap(spark, event_dir):
    schema = spark.read.parquet(event_dir).schema
    stream = spark.readStream.schema(schema).parquet(event_dir)
    out = stream_sessionize(stream)
    # Poll-then-stop (not processAllAvailable / availableNow): with
    # ProcessingTimeTimeout the stream keeps firing timeout-check
    # micro-batches forever, so a drain-style wait never settles.
    q = (
        out.writeStream.format("memory")
        .queryName("session_test")
        .outputMode("append")
        .start()
    )
    deadline = time.time() + 120
    while (
        time.time() < deadline
        and spark.sql("select count(*) from session_test").first()[0] < 1
    ):
        time.sleep(1)
    q.stop()
    q.awaitTermination(60)
    rows = spark.sql("select * from session_test").collect()
    # Only CLOSED sessions are emitted: user 1's first session (2 events,
    # closed by the 45-min gap). Open sessions live in the state store.
    assert len(rows) == 1
    r = rows[0]
    assert r["user_id"] == 1
    assert r["n_events"] == 2
    assert r["session_start"] == datetime(2024, 1, 1, 0, 0)
    assert r["session_end"] == datetime(2024, 1, 1, 0, 10)


MIN_US = 60 * 1_000_000


def test_advance_session_pure_logic():
    from inbev_data_engineering_case_spark.streaming.events import (
        advance_session,
    )

    # in-order: 45-min gap closes the first session
    closed, state = advance_session(
        0, 0, 0, [0, 10 * MIN_US, 55 * MIN_US, 60 * MIN_US]
    )
    assert closed == [(0, 10 * MIN_US, 2)]
    assert state == (55 * MIN_US, 60 * MIN_US, 2)


def test_advance_session_out_of_order_never_regresses():
    from inbev_data_engineering_case_spark.streaming.events import (
        advance_session,
    )

    # batch 1 leaves an open session ending at t=20min
    closed, state = advance_session(0, 0, 0, [0, 20 * MIN_US])
    assert closed == []
    # batch 2 delivers a LATE event at t=5min: it must fold into the open
    # session without moving last_us backwards...
    closed, state = advance_session(*state, [5 * MIN_US])
    assert closed == []
    assert state == (0, 20 * MIN_US, 3)
    # ...so a later event 25 min after the true session end still closes
    # the session at 20min (with the regression bug, last_us=5min would
    # misread the 45-min gap and also corrupt session_end)
    closed, state = advance_session(*state, [51 * MIN_US])
    assert closed == [(0, 20 * MIN_US, 3)]
    assert state == (51 * MIN_US, 51 * MIN_US, 1)


def test_advance_session_late_event_extends_start():
    from inbev_data_engineering_case_spark.streaming.events import (
        advance_session,
    )

    closed, state = advance_session(
        10 * MIN_US, 12 * MIN_US, 2, [3 * MIN_US]
    )
    assert closed == []
    assert state == (3 * MIN_US, 12 * MIN_US, 3)


def test_advance_session_properties():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from inbev_data_engineering_case_spark.streaming.events import (
        advance_session,
    )

    GAP = 30 * 60 * 1_000_000

    @settings(max_examples=200, deadline=None)
    @given(
        st.lists(
            st.lists(
                st.integers(min_value=0, max_value=10**12), min_size=0,
                max_size=8,
            ),
            min_size=1,
            max_size=6,
        )
    )
    def run(batches):
        state = (0, 0, 0)
        all_closed = []
        total = 0
        prev_last = None
        for batch in batches:
            ts = sorted(batch)  # each micro-batch arrives sorted
            total += len(ts)
            closed, state = advance_session(*state, ts)
            all_closed.extend(closed)
            # last_us never regresses across batches once a session is open
            if prev_last is not None and state[2] > 0:
                assert state[1] >= prev_last
            if state[2] > 0:
                prev_last = state[1]
        # event conservation: every event is in a closed or the open session
        assert sum(n for _, _, n in all_closed) + state[2] == total
        for start, end, n in all_closed:
            assert start <= end and n >= 1
        # NOTE: consecutive closed sessions are NOT guaranteed >GAP apart
        # across micro-batches — a late event may fold into the open
        # session and pull its start before an earlier close (by design;
        # the upstream watermark bounds how late such events can be).

    run()


def test_stream_dedup_crash_recovery_exactly_once(spark, tmp_path):
    """Crash-recovery, not just batch replay: the dedup query FAILS after
    its sink write but before the checkpoint commit (the real crash
    window), is restarted from the same checkpoint, and then processes a
    second feed containing cross-restart duplicates. Exactly-once means
    the replayed batch rewrites instead of appending AND the restored
    state store still drops ids first seen before the crash — output must
    hash-match the batch-distinct oracle over everything ever fed."""
    import glob as g
    import shutil

    from pyspark.errors import StreamingQueryException

    from inbev_data_engineering_case_spark.streaming.events import (
        stream_dedup_events,
    )

    t0 = datetime(2024, 1, 1)
    landing = tmp_path / "landing"
    landing.mkdir()
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    marker = tmp_path / "crashed_once"

    def mk(ids):
        return spark.createDataFrame(
            [
                (i, t0 + timedelta(minutes=int(i) % 70), 1, "click", 1.0)
                for i in ids
            ],
            ["event_id", "ts", "user_id", "event_type", "value"],
        )

    def feed(ids, name):
        stage = tmp_path / f"stage_{name}"
        mk(ids).coalesce(1).write.parquet(str(stage))
        src = g.glob(str(stage / "part-*.parquet"))[0]
        shutil.copy(src, str(landing / f"{name}.parquet"))

    schema = mk([0]).schema

    def start():
        stream = spark.readStream.schema(schema).parquet(str(landing))
        out = stream_dedup_events(stream).select("event_id")

        def write_batch(batch_df, batch_id):
            batch_df.write.mode("overwrite").parquet(
                f"{out_dir}/batch_id={batch_id}"
            )
            if not marker.exists():
                marker.write_text("crashed")
                raise RuntimeError(
                    "injected crash: sink written, offset not committed"
                )

        return (
            out.writeStream.foreachBatch(write_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    # feed 1 carries in-batch duplicates (at-least-once source) and the
    # first run dies mid-feed, after writing but before committing
    feed([*range(10), 3, 7], "p1")
    with pytest.raises(StreamingQueryException):
        start().awaitTermination(120)
    assert marker.exists()

    # feed 2 arrives while the query is down: duplicates of pre-crash ids
    # (3, 7, 9) plus new ones — only state recovery can drop the former
    feed([3, 7, 9, *range(10, 15)], "p2")
    q = start()
    assert q.awaitTermination(120)

    got = sorted(
        r["event_id"] for r in spark.read.parquet(out_dir).collect()
    )
    want = sorted(
        r["event_id"]
        for r in spark.read.parquet(str(landing))
        .select("event_id")
        .distinct()
        .collect()
    )
    assert got == want  # equal as MULTISETS: no duplicate survived


def test_stream_sessionize_crash_recovery(spark, tmp_path):
    """Crash-recovery for the applyInPandasWithState sessionizer — the
    user-managed state store, the riskier recovery path. The query dies
    in the sink-written/offset-uncommitted window, restarts from the
    checkpoint, and a post-crash feed closes a session whose START lives
    only in pre-crash state: the emitted sessions must match the batch
    lag-window sessionization of everything ever fed (open sessions
    excluded), which is only possible if the open-session state survived
    the crash."""
    import glob as g
    import shutil

    from pyspark.errors import StreamingQueryException
    from pyspark.sql import Window

    t0 = datetime(2024, 1, 1)
    landing = tmp_path / "landing"
    landing.mkdir()
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    marker = tmp_path / "crashed_once"

    def feed(rows, name):
        stage = tmp_path / f"stage_{name}"
        spark.createDataFrame(
            [(u, t0 + timedelta(minutes=m)) for u, m in rows],
            ["user_id", "ts"],
        ).coalesce(1).write.parquet(str(stage))
        shutil.copy(
            g.glob(str(stage / "part-*.parquet"))[0],
            str(landing / f"{name}.parquet"),
        )

    def start():
        stream = (
            spark.readStream.schema("user_id long, ts timestamp")
            .parquet(str(landing))
        )
        out = stream_sessionize(stream, flush_timeout=False)

        def write_batch(batch_df, batch_id):
            batch_df.write.mode("overwrite").parquet(
                f"{out_dir}/batch_id={batch_id}"
            )
            if not marker.exists():
                marker.write_text("crashed")
                raise RuntimeError(
                    "injected crash: sink written, offset not committed"
                )

        return (
            out.writeStream.foreachBatch(write_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    # feed 1: u1 closes one session in-batch ([0,5] by the 55-min gap to
    # 60) and leaves one open at 60; u2 leaves one open at 0
    feed([(1, 0), (1, 5), (1, 60), (2, 0)], "p1")
    with pytest.raises(StreamingQueryException):
        start().awaitTermination(120)
    assert marker.exists()

    # feed 2 arrives while the query is down: u1's 65 folds into the open
    # session and 120 closes [60,65] — a session whose start exists ONLY
    # in recovered state; u2's 45 closes [0,0] the same way
    feed([(1, 65), (1, 120), (2, 45)], "p2")
    q = start()
    assert q.awaitTermination(120)

    got = sorted(
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in spark.read.parquet(out_dir)
        .select("user_id", "session_start", "session_end", "n_events")
        .collect()
    )

    # batch oracle: lag-window sessionization over everything fed, minus
    # each user's final (still-open) session
    ev = spark.read.parquet(str(landing))
    w = Window.partitionBy("user_id").orderBy("ts")
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sessions = (
        ev.select(
            "user_id",
            "ts",
            F.when(
                F.lag("ts").over(w).isNull()
                | (
                    F.unix_micros("ts")
                    - F.unix_micros(F.lag("ts").over(w))
                    > 1_800_000_000
                ),
                1,
            )
            .otherwise(0)
            .alias("new_session"),
        )
        .withColumn("session_id", F.sum("new_session").over(wrun))
        .groupBy("user_id", "session_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count("*").alias("n_events"),
        )
    )
    last = sessions.groupBy("user_id").agg(
        F.max("session_id").alias("session_id")
    )
    want = sorted(
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in sessions.join(
            last, on=["user_id", "session_id"], how="left_anti"
        ).collect()
    )
    assert got == want
    assert len(got) == 3  # [0,5]@u1 pre-crash, [60,65]@u1, [0,0]@u2


def test_stream_static_enrichment_join(spark, event_dir, tmp_path):
    from inbev_data_engineering_case_spark.streaming.events import (
        run_stream_to_table,
        stream_enrich,
    )

    # static dimension: user attributes (user 2 missing -> left join nulls)
    dim = spark.createDataFrame(
        [(1, "pro"), (3, "free")], ["user_id", "tier"]
    )
    schema = spark.read.parquet(event_dir).schema
    stream = spark.readStream.schema(schema).parquet(event_dir)
    out = stream_enrich(
        stream.select("event_id", "user_id", "value"), dim, on="user_id"
    )
    run_stream_to_table(out, "enrich_test", "append")
    rows = {r["event_id"]: r for r in spark.table("enrich_test").collect()}
    assert len(rows) == 6  # left join keeps every event
    assert rows[0]["tier"] == "pro"  # user 1 enriched
    assert rows[10]["tier"] is None  # user 2 has no dim row


def test_stream_enrich_broadcast_gate(spark):
    """broadcast=True forces the hint, broadcast=False guarantees no
    broadcast even for a tiny dim, None defers to the planner. Plan shape is
    checked on the batch form — stream_enrich is a plain join, identical in
    each micro-batch."""
    from inbev_data_engineering_case_spark.streaming.events import (
        stream_enrich,
    )

    facts = spark.range(1000).withColumnRenamed("id", "user_id")
    dim = spark.createDataFrame([(1, "pro")], ["user_id", "tier"])

    forced = stream_enrich(facts, dim, on="user_id", broadcast=True)
    assert "BroadcastHashJoin" in forced._jdf.queryExecution().executedPlan().toString()

    never = stream_enrich(facts, dim, on="user_id", broadcast=False)
    assert "BroadcastHashJoin" not in never._jdf.queryExecution().executedPlan().toString()


def test_merge_upsert_snapshot_replaces_keys_and_replays_idempotently(
    spark, tmp_path
):
    """Keyed MERGE steps: batch 2 updates key 1 and inserts key 3;
    replaying batch 2 (crash between sink write and checkpoint commit)
    rebuilds the identical snapshot — merge(merge(S,B),B) == merge(S,B).
    Within a batch the highest order_col wins per key."""
    from inbev_data_engineering_case_spark.layers import latest_snapshot
    from inbev_data_engineering_case_spark.streaming.events import (
        merge_upsert_snapshot,
    )

    base = str(tmp_path / "profiles")
    b1 = spark.createDataFrame(
        [(1, 10, "a"), (2, 11, "b"), (1, 12, "a2")],  # key 1 twice: 12 wins
        "user_id long, seq long, v string",
    )
    merge_upsert_snapshot(spark, b1, 0, base, ["user_id"], "seq")
    s1 = {
        r["user_id"]: (r["seq"], r["v"])
        for r in spark.read.parquet(
            latest_snapshot(base, prefix="merge=")
        ).collect()
    }
    assert s1 == {1: (12, "a2"), 2: (11, "b")}

    b2 = spark.createDataFrame(
        [(1, 20, "a3"), (3, 21, "c")], "user_id long, seq long, v string"
    )
    merge_upsert_snapshot(spark, b2, 1, base, ["user_id"], "seq")
    want = {1: (20, "a3"), 2: (11, "b"), 3: (21, "c")}
    got = lambda: {  # noqa: E731
        r["user_id"]: (r["seq"], r["v"])
        for r in spark.read.parquet(
            latest_snapshot(base, prefix="merge=")
        ).collect()
    }
    assert got() == want
    # replay batch 1 (same id): rewrites merge=...1 from the same
    # predecessor (merge=...0 still present) -> state unchanged
    merge_upsert_snapshot(spark, b2, 1, base, ["user_id"], "seq")
    assert got() == want


def test_run_stream_upsert_parquet_end_to_end(spark, tmp_path):
    """The streaming MERGE sink drains a duplicated events stream into a
    keyed snapshot holding exactly one (latest) row per event_id."""
    from inbev_data_engineering_case_spark.layers import latest_snapshot
    from inbev_data_engineering_case_spark.streaming.events import (
        read_events_stream,
        run_stream_upsert_parquet,
    )

    src = read_events_stream(spark, "/root/testdata/sf0.001")
    doubled = src.unionByName(src)
    base = str(tmp_path / "events_upsert")
    run_stream_upsert_parquet(
        doubled.select("event_id", "ts", "event_type", "value"),
        base,
        str(tmp_path / "ckpt"),
        key_cols=["event_id"],
        order_col="ts",
    )
    snap = spark.read.parquet(latest_snapshot(base, prefix="merge="))
    n_events = spark.read.parquet(
        "/root/testdata/sf0.001/events.parquet"
    ).count()
    assert snap.count() == n_events
    assert snap.select("event_id").distinct().count() == n_events


def test_stream_sketch_partials_append_emits_closed_buckets(spark, tmp_path):
    """Append-mode sketch maintenance: only watermark-closed day buckets
    land in the partial table (bounded state), and each landed sketch is
    BIT-IDENTICAL to the batch-built partial for that bucket — so the
    streamed table composes with rollup_estimate exactly like a batch
    rebuild."""
    from inbev_data_engineering_case_spark.operators.sketches import (
        sketch_partials,
    )
    from inbev_data_engineering_case_spark.streaming.events import (
        stream_sketch_partials,
    )

    t0 = datetime(2024, 1, 1)
    rows = []
    # day 1: users 1..5 / day 2: users 4..9 / day 3 (open): users 100..101
    for i, u in enumerate(range(1, 6)):
        rows.append((i, t0 + timedelta(hours=6), u, "click", 1.0))
    for i, u in enumerate(range(4, 10)):
        rows.append((10 + i, t0 + timedelta(days=1, hours=6), u, "click", 1.0))
    # 03:00 puts the watermark (max_ts - 2h) past day-2's close but
    # before day-3's own close, so exactly two buckets emit
    for i, u in enumerate(range(100, 102)):
        rows.append((20 + i, t0 + timedelta(days=2, hours=3), u, "click", 1.0))
    df = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value"]
    )
    src = str(tmp_path / "sketch_events")
    df.coalesce(1).write.parquet(src)

    stream = spark.readStream.schema(df.schema).parquet(src)
    out = stream_sketch_partials(stream, watermark="2 hours")
    q = (
        out.writeStream.format("memory")
        .queryName("sketch_append_test")
        .outputMode("append")
        .start()
    )
    wait_done(q)
    got = {
        (r["bucket_ts"].isoformat(), r["event_type"]): bytes(r["sketch"])
        for r in spark.sql("select * from sketch_append_test").collect()
    }
    # the final-day bucket stays open (watermark = max_ts - 2h < day-3
    # close), so exactly days 1 and 2 emit
    assert len(got) == 2

    batch = {
        (r["bucket_ts"].isoformat(), r["event_type"]): bytes(r["sketch"])
        for r in sketch_partials(df).collect()
    }
    for key, sketch in got.items():
        assert sketch == batch[key]  # bit-identical partials


def test_stream_cms_partials_bit_identical_and_replay_safe(spark, tmp_path):
    """Append-mode CMS maintenance: only watermark-closed buckets emit
    (bounded state), every landed (bucket, r, c, cnt) row is IDENTICAL
    to the batch-built partial — exact counts over deterministic
    hashes, so the identity is bitwise, not statistical — and estimates
    from streamed partials match estimates from batch partials."""
    from inbev_data_engineering_case_spark.operators.sketches import (
        cms_estimate,
        cms_partials,
    )
    from inbev_data_engineering_case_spark.streaming.events import (
        stream_cms_partials,
    )

    t0 = datetime(2024, 1, 1)
    rows = []
    # day 1: users 1..5 (user 1 three times) / day 2: users 4..9 /
    # day 3 (open): users 100..101
    for i, u in enumerate([1, 1, 1, 2, 3, 4, 5]):
        rows.append((i, t0 + timedelta(hours=6), u, "click", 1.0))
    for i, u in enumerate(range(4, 10)):
        rows.append((10 + i, t0 + timedelta(days=1, hours=6), u, "click", 1.0))
    for i, u in enumerate(range(100, 102)):
        rows.append((20 + i, t0 + timedelta(days=2, hours=3), u, "click", 1.0))
    df = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value"]
    )
    src = str(tmp_path / "cms_events")
    df.coalesce(1).write.parquet(src)

    stream = spark.readStream.schema(df.schema).parquet(src)
    out = stream_cms_partials(stream, watermark="2 hours")
    q = (
        out.writeStream.format("memory")
        .queryName("cms_append_test")
        .outputMode("append")
        .start()
    )
    wait_done(q)
    streamed = spark.sql("select * from cms_append_test")
    got = {
        (r["bucket_ts"].isoformat(), r["r"], r["c"]): r["cnt"]
        for r in streamed.collect()
    }
    # the day-3 bucket stays open, so only days 1 and 2 emitted
    assert len({k[0] for k in got}) == 2
    batch = {
        (r["bucket_ts"].isoformat(), r["r"], r["c"]): r["cnt"]
        for r in cms_partials(df).collect()
        if not r["bucket_ts"].isoformat().startswith("2024-01-03")
    }
    assert got == batch  # bit-identical closed-bucket partials
    # estimates compose unchanged across the boundary (user 1 counted
    # 3x on day 1; day-3 users absent from the closed buckets)
    items = df.filter("user_id < 20").select("user_id").distinct()
    est = {
        r["item"]: r["est_count"]
        for r in cms_estimate(streamed, items).collect()
    }
    assert est[1] >= 3  # one-sided guarantee holds through the stream
    assert est[4] >= 2  # present in both closed days


def test_lateness_metrics_report_watermark_drops(spark, tmp_path):
    """Deliberately-late fixture through the dedup operator: batch 0
    advances the watermark past the late rows in batches 1 and 2. The
    runner's metrics must report the watermark drops — without this
    counter a too-tight watermark looks like missing data, not dropped
    data. Pins the measured engine semantics the query_metrics docstring
    documents: the late filter engages one batch after the watermark-
    advancing commit (batch 1's late rows slip through; batch 2's are
    dropped and counted), and the counter exactly accounts for the rows
    missing from the output."""
    from inbev_data_engineering_case_spark.streaming.events import (
        run_stream_to_table,
        stream_dedup_events,
    )

    t0 = datetime(2024, 1, 1, 12, 0)
    batches = [
        # batch 0: on-time, advances the watermark to max_ts - 1h
        [(i, t0 + timedelta(minutes=i), 1, "click", 1.0) for i in range(20)],
        # batches 1-2: a day older than the watermark (all unique ids, so
        # any row missing from the output was watermark-dropped, not
        # deduped)
        [(100 + i, t0 - timedelta(days=1), 2, "view", 1.0) for i in range(5)],
        [(200 + i, t0 - timedelta(days=1), 3, "view", 1.0) for i in range(3)],
    ]
    # file-source processes in modification-time order: stage_batches
    # forces the on-time file to form micro-batch 0 and set the watermark
    stream = stage_batches(
        spark, tmp_path / "late_events", batches,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double",
    )
    out = stream_dedup_events(stream, watermark="1 hour")
    metrics = run_stream_to_table(
        out, "lateness_metrics_test", "append", timeout=120
    )
    emitted = spark.sql(
        "select count(*) c from lateness_metrics_test"
    ).first()["c"]
    assert metrics["batches"] == 3
    assert metrics["input_rows"] == 28
    # one-batch propagation lag: batch 1's 5 late rows slip through;
    # batch 2's 3 late rows are dropped AND counted
    assert metrics["dropped_rows_by_watermark"] == 3
    # the counter exactly explains the missing rows
    assert metrics["input_rows"] - emitted == (
        metrics["dropped_rows_by_watermark"]
    )
    assert metrics["peak_state_rows"] >= 20


def test_stream_heartbeat_gaps_matches_batch_and_spans_batches(spark, tmp_path):
    """The streaming gap detector's drained output equals the batch
    operator's on the same data, INCLUDING a gap whose two sides arrive
    in different micro-batches (the 8-byte cursor carries across), and
    state never moves backwards on a late duplicate."""
    from inbev_data_engineering_case_spark.operators.timeseries import (
        heartbeat_gaps,
    )
    from inbev_data_engineering_case_spark.streaming.events import (
        run_stream_to_table,
        stream_heartbeat_gaps,
    )

    t0 = datetime(2024, 1, 1)
    batch1 = [(1, t0, 1), (2, t0 + timedelta(hours=1), 1),
              (10, t0, 2)]
    # batch 2 starts 9h after user 1's last event -> the gap spans the
    # batch boundary; user 2 stays quiet 30h
    batch2 = [(3, t0 + timedelta(hours=10), 1),
              (11, t0 + timedelta(hours=30), 2),
              (4, t0 + timedelta(hours=10), 1)]  # same-ts duplicate
    src = tmp_path / "gap_stream"
    stream = stage_batches(
        spark, src, [batch1, batch2],
        "event_id long, ts timestamp, user_id long",
    )
    metrics = run_stream_to_table(
        stream_heartbeat_gaps(stream, max_gap_s=6 * 3600),
        "stream_gaps_sink",
        "append",
        timeout=120,
    )
    assert metrics["batches"] >= 2
    got = {
        (r["user_id"], r["gap_s"])
        for r in spark.sql("select * from stream_gaps_sink").collect()
    }
    batch_df = spark.read.parquet(*[str(src / f"file_{i}.parquet")
                                    for i in range(2)])
    want = {
        (r["user_id"], r["gap_s"])
        for r in heartbeat_gaps(batch_df, max_gap_s=6 * 3600).collect()
    }
    assert got == want == {(1, 9 * 3600), (2, 30 * 3600)}


def test_stream_detectors_tolerate_null_timestamps(spark, tmp_path):
    """A NULL ts would astype to the int64 NaT sentinel and poison the
    gap cursor / CUSUM ordering (the emit would then overflow
    pd.Timestamp and fail the whole drain); both detectors must drop
    such rows like the batch twins' NULL arithmetic does."""
    from inbev_data_engineering_case_spark.streaming.events import (
        run_stream_to_table,
        stream_cusum,
        stream_heartbeat_gaps,
    )

    t0 = datetime(2024, 1, 1)
    src = tmp_path / "nat_stream"
    spark.createDataFrame(
        [
            (1, t0, 1, 12.0),
            (2, None, 1, 12.0),  # NULL ts
            (3, t0 + timedelta(hours=30), 1, 12.0),
        ],
        "event_id long, ts timestamp, user_id long, value double",
    ).write.parquet(str(src))
    schema = spark.createDataFrame(
        [], "event_id long, ts timestamp, user_id long, value double"
    ).schema
    stream = spark.readStream.schema(schema).parquet(str(src))
    run_stream_to_table(
        stream_heartbeat_gaps(stream, max_gap_s=6 * 3600),
        "nat_gaps_sink",
        "append",
        timeout=120,
    )
    gaps = spark.sql("select * from nat_gaps_sink").collect()
    assert [(r["user_id"], r["gap_s"]) for r in gaps] == [(1, 30 * 3600)]

    stream2 = spark.readStream.schema(schema).parquet(str(src))
    run_stream_to_table(
        stream_cusum(stream2, target_milli=10_000, slack_milli=100,
                     threshold_milli=15_000),
        "nat_cusum_sink",
        "append",
        timeout=120,
    )
    scored = spark.sql("select * from nat_cusum_sink").collect()
    assert sorted(r["event_id"] for r in scored) == [1, 3]


def test_stream_cusum_matches_batch_and_carries_state(spark, tmp_path):
    """The streaming CUSUM equals the batch explicit-target operator on
    the same data, including sums that accumulate ACROSS micro-batches
    (the 16-byte state carries), and the alarm fires mid-stream the
    moment the threshold is crossed."""
    from inbev_data_engineering_case_spark.operators.timeseries import (
        cusum_changepoints,
    )
    from inbev_data_engineering_case_spark.streaming.events import (
        run_stream_to_table,
        stream_cusum,
    )

    t0 = datetime(2024, 1, 1)
    # a persistent +2 drift over target 10.0 accumulates 1.9 units/event
    # after slack 0.1; threshold 15 units crosses at the 8th drifted event
    batch1 = [(i, t0 + timedelta(minutes=i), 1, 12.0) for i in range(5)]
    batch2 = [(10 + i, t0 + timedelta(minutes=10 + i), 1, 12.0)
              for i in range(5)]
    src = tmp_path / "cusum_stream"
    stream = stage_batches(
        spark, src, [batch1, batch2],
        "event_id long, ts timestamp, user_id long, value double",
    )
    metrics = run_stream_to_table(
        stream_cusum(stream, target_milli=10_000, slack_milli=100,
                     threshold_milli=15_000),
        "stream_cusum_sink",
        "append",
        timeout=120,
    )
    assert metrics["batches"] >= 2
    got = sorted(
        (
            (r["event_id"], r["cusum_up_milli"], r["is_change"])
            for r in spark.sql("select * from stream_cusum_sink").collect()
        )
    )
    batch_df = spark.read.parquet(*[str(src / f"file_{i}.parquet")
                                    for i in range(2)])
    want = sorted(
        (r["event_id"], r["cusum_up_milli"], r["is_change"])
        for r in cusum_changepoints(
            batch_df, slack_milli=100, threshold_milli=15_000,
            target_milli=10_000,
        ).collect()
    )
    assert got == want
    # drift accumulates 1900 milli/event; the 8th event (id 12, in
    # BATCH 2 — state carried) is the first past 15000
    by_id = {e: (u, c) for e, u, c in got}
    assert by_id[11] == (13_300, False)
    assert by_id[12] == (15_200, True)
    assert all(c for e, (u, c) in by_id.items() if e >= 12)


def test_stream_pit_enrich_probes_closed_and_open_versions(spark, tmp_path):
    """Stream-static PIT enrichment: events arriving across micro-batches
    pick the SCD2 version valid at their own event time — a fact inside
    a CLOSED interval gets the old version even though a newer one is
    current, and a pre-history fact drops."""
    from inbev_data_engineering_case_spark.operators.scd import (
        point_in_time_join,
        scd2_from_log,
    )
    from inbev_data_engineering_case_spark.streaming.events import (
        run_stream_to_table,
    )

    d = lambda day: datetime(2024, 1, day)  # noqa: E731
    log = spark.createDataFrame(
        [(1, "bronze", d(10), 100), (1, "gold", d(20), 101)],
        "cust long, tier string, obs_ts timestamp, obs_id long",
    )
    hist = scd2_from_log(log, "cust", ["tier"], "obs_ts", "obs_id")
    batches = [
        [(1, d(15), 1)],            # closed bronze interval
        [(2, d(25), 1), (3, d(5), 1)],  # open gold; pre-history drops
    ]
    stream = stage_batches(
        spark, tmp_path / "pit_stream", batches,
        "event_id long, ts timestamp, cust long",
    )
    metrics = run_stream_to_table(
        point_in_time_join(stream, hist, "cust", "ts"),
        "stream_pit_sink",
        "append",
        timeout=120,
    )
    assert metrics["batches"] >= 2
    got = {
        r["event_id"]: r["tier"]
        for r in spark.sql("select * from stream_pit_sink").collect()
    }
    assert got == {1: "bronze", 2: "gold"}  # 3 dropped (pre-history)


def test_stream_drift_partials_merge_equals_batch(spark, tmp_path):
    """The streamed ECDF partials are IDENTICAL to batch-computed
    counts over the same rows (indicator counts are exact sums), so
    drift_from_partials over the drained windows reproduces batch
    distribution_drift row-for-row; a partial probed against different
    boundaries (wrong n_cuts) raises in-plan at merge rather than
    fabricating a CDF."""
    from inbev_data_engineering_case_spark.operators.quality import (
        distribution_drift,
        drift_bound_values,
        drift_from_partials,
    )
    from inbev_data_engineering_case_spark.streaming.events import (
        run_stream_to_table,
        stream_drift_partials,
    )

    t0 = datetime(2024, 1, 1, 12, 0)
    ref = spark.createDataFrame(
        [(float(i % 17),) for i in range(200)], "value double"
    )
    cur_rows = [
        (i, t0 + timedelta(hours=6 * i), float((i * 7) % 23))
        for i in range(80)
    ]
    cur = spark.createDataFrame(
        cur_rows, "event_id long, ts timestamp, value double"
    )
    src = str(tmp_path / "drift_feed")
    cur.coalesce(2).write.parquet(src)
    stream = spark.readStream.schema(cur.schema).parquet(src)

    n_cuts = 7
    bounds = drift_bound_values(ref, "value", n_cuts=n_cuts)
    out = stream_drift_partials(
        stream.select("value", "ts"), bounds, window="1 day"
    )
    run_stream_to_table(out, "drift_partial_sink", "complete")
    partials = spark.table("drift_partial_sink")
    # windows partition the feed: totals must reconcile exactly
    agg = partials.agg(F.sum("n").alias("n")).collect()[0]
    assert agg["n"] == 80

    streamed = sorted(
        map(
            tuple,
            drift_from_partials(
                ref, partials, "value", n_cuts=n_cuts
            ).collect(),
        )
    )
    batch = sorted(
        map(
            tuple,
            distribution_drift(
                ref, cur.select("value"), "value", n_cuts=n_cuts
            ).collect(),
        )
    )
    assert streamed == batch  # lossless merge, not approximately equal

    # wrong-geometry partial: in-plan raise, the CMS guard discipline
    bad = partials.withColumn("n_cuts", F.lit(n_cuts + 1))
    with pytest.raises(Exception, match="n_cuts"):
        drift_from_partials(ref, bad, "value", n_cuts=n_cuts).collect()


@pytest.mark.slow
def test_stream_classifier_counts_maintenance(spark, tmp_path):
    """Streaming maintenance of the classifier's additive count
    statistics: a two-batch drain equals train_bow_counts over every
    streamed doc (counts are additive — merge parity is exact), the
    derived weights equal the batch-trained model byte for byte, a
    FRESH checkpoint against existing state raises (batch ids restart
    at 0 — the replay guard would silently skip new batches), and a
    mismatched n_buckets raises before anything commits."""
    import pytest
    from pyspark.sql import functions as F

    from inbev_data_engineering_case_spark.operators.classify import (
        bow_weights_from_counts,
        train_bow_classifier,
        train_bow_counts,
    )
    from inbev_data_engineering_case_spark.streaming.events import (
        read_classifier_counts,
        run_stream_classifier_update,
    )

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text", (F.col("lang") == "en").alias("label"))
        .filter(F.col("doc_id") < 120)
        .localCheckpoint(eager=True)
    )
    d1 = docs.filter(F.col("doc_id") < 60)
    d2 = docs.filter(F.col("doc_id") >= 60)
    state = str(tmp_path / "clf_state")
    src = str(tmp_path / "clf_feed")
    ckpt = str(tmp_path / "clf_ckpt")
    d1.coalesce(1).write.parquet(src)

    def stream():
        return (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )

    run_stream_classifier_update(
        stream(), state, ckpt, n_buckets=1 << 12
    )
    got1 = sorted(
        map(tuple, read_classifier_counts(spark, state).collect())
    )
    want1 = sorted(
        map(tuple, train_bow_counts(d1, n_buckets=1 << 12).collect())
    )
    assert got1 == want1

    # second batch through the SAME checkpoint: counts over the union
    d2.coalesce(1).write.mode("append").parquet(src)
    run_stream_classifier_update(
        stream(), state, ckpt, n_buckets=1 << 12
    )
    got2 = sorted(
        map(tuple, read_classifier_counts(spark, state).collect())
    )
    want2 = sorted(
        map(tuple, train_bow_counts(docs, n_buckets=1 << 12).collect())
    )
    assert got2 == want2

    # weights from streamed counts == the batch-trained model
    inc_model = sorted(
        map(
            tuple,
            bow_weights_from_counts(
                read_classifier_counts(spark, state)
            ).collect(),
        )
    )
    batch_model = sorted(
        map(
            tuple,
            train_bow_classifier(docs, n_buckets=1 << 12).collect(),
        )
    )
    assert inc_model == batch_model

    # fresh checkpoint against existing state: loud refusal, not a
    # silent skip of new batches
    with pytest.raises(Exception, match="checkpoint"):
        run_stream_classifier_update(
            stream(), state, str(tmp_path / "clf_ckpt_fresh"),
            n_buckets=1 << 12,
        )

    # geometry mismatch on resume: loud refusal before commit
    d1.limit(5).select(
        (F.col("doc_id") + 9000).alias("doc_id"), "text", "label"
    ).coalesce(1).write.mode("append").parquet(src)
    with pytest.raises(Exception, match="n_buckets"):
        run_stream_classifier_update(
            stream(), state, ckpt, n_buckets=1 << 13
        )

    # geometry mismatch must surface even when every batch is a
    # REPLAY (checkpoint committed offsets, state already folded): the
    # check runs before the batch-id skip, so the misconfiguration
    # raises on restart rather than lying dormant until new data
    import time

    def wait_queries_drained():
        # a query that terminated WITH an exception releases its
        # checkpoint lock asynchronously; starting the next run over
        # the same checkpoint too early trips Spark's concurrent-use
        # guard
        for _ in range(100):
            if not spark.streams.active:
                return
            time.sleep(0.1)

    wait_queries_drained()
    run_stream_classifier_update(  # drain the pending batch cleanly
        stream(), state, ckpt, n_buckets=1 << 12
    )
    _drop_last_commit(ckpt)  # force a replay
    with pytest.raises(Exception, match="n_buckets"):
        run_stream_classifier_update(
            stream(), state, ckpt, n_buckets=1 << 13
        )
    # and a correct-geometry run over the same replay is a no-op skip
    wait_queries_drained()
    before = sorted(
        map(tuple, read_classifier_counts(spark, state).collect())
    )
    run_stream_classifier_update(
        stream(), state, ckpt, n_buckets=1 << 12
    )
    after = sorted(
        map(tuple, read_classifier_counts(spark, state).collect())
    )
    assert after == before


@pytest.mark.slow
def test_stream_multiclass_counts_maintenance(spark, tmp_path):
    """Streaming maintenance of the MULTI-CLASS count statistics
    (shares the binary twin's guard chain — _run_stream_counts_update
    is defined once, so the replay-deletion machinery is pinned by the
    binary test): a two-batch drain equals multiclass_bow_counts over
    every streamed doc, the derived model equals train_bow_multiclass
    byte for byte, a class UNSEEN in batch one simply appears as new
    (class, bucket) rows in the fold (K is data, not geometry), a
    fresh checkpoint against existing state raises, and a mismatched
    n_buckets raises before anything commits."""
    import pytest
    from pyspark.sql import functions as F

    from inbev_data_engineering_case_spark.operators.classify import (
        multiclass_bow_counts,
        multiclass_bow_weights_from_counts,
        train_bow_multiclass,
    )
    from inbev_data_engineering_case_spark.streaming.events import (
        read_multiclass_counts,
        run_stream_multiclass_update,
    )

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text", F.col("lang").alias("label"))
        .filter(F.col("doc_id") < 120)
        .localCheckpoint(eager=True)
    )
    # batch 1 sees only two classes; the rest debut in batch 2
    langs = sorted(
        r["label"] for r in docs.select("label").distinct().collect()
    )
    assert len(langs) >= 3, "fixture needs 3+ classes"
    first_two = langs[:2]
    d1 = docs.filter(
        (F.col("doc_id") < 60) & F.col("label").isin(*first_two)
    )
    d2 = docs.join(d1.select("doc_id"), "doc_id", "left_anti")
    state = str(tmp_path / "mclf_state")
    src = str(tmp_path / "mclf_feed")
    ckpt = str(tmp_path / "mclf_ckpt")
    d1.coalesce(1).write.parquet(src)

    def stream():
        return (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )

    # META rows carry a NULL class — sort None-safely
    def key(t):
        return (t[0] is None, t[0] or "") + tuple(t[1:])

    run_stream_multiclass_update(stream(), state, ckpt, n_buckets=1 << 12)
    got1 = sorted(
        map(tuple, read_multiclass_counts(spark, state).collect()), key=key
    )
    want1 = sorted(
        map(tuple, multiclass_bow_counts(d1, n_buckets=1 << 12).collect()),
        key=key,
    )
    assert got1 == want1

    # second batch through the SAME checkpoint: counts over the union,
    # the new classes' rows folded in additively
    d2.coalesce(1).write.mode("append").parquet(src)
    run_stream_multiclass_update(stream(), state, ckpt, n_buckets=1 << 12)
    stored = read_multiclass_counts(spark, state)
    got2 = sorted(map(tuple, stored.collect()), key=key)
    want2 = sorted(
        map(
            tuple, multiclass_bow_counts(docs, n_buckets=1 << 12).collect()
        ),
        key=key,
    )
    assert got2 == want2
    streamed_classes = {
        r["class"]
        for r in stored.filter(F.col("class").isNotNull())
        .select("class")
        .distinct()
        .collect()
    }
    assert streamed_classes == set(langs)  # late classes present

    # model from streamed counts == full retrain, byte for byte
    inc_model = sorted(
        map(
            tuple,
            multiclass_bow_weights_from_counts(stored).collect(),
        ),
        key=key,
    )
    batch_model = sorted(
        map(tuple, train_bow_multiclass(docs, n_buckets=1 << 12).collect()),
        key=key,
    )
    assert inc_model == batch_model

    # maintained-counts TAGGER == full-retrain tagger, composed
    # through the class router (q_daily_tagger's drained-stream twin,
    # r15): identical argmax tags/scores, identical routed mixture
    from inbev_data_engineering_case_spark.operators.classify import (
        mixture_sample_by_class,
        score_bow_multiclass,
    )

    inc_m = multiclass_bow_weights_from_counts(stored)
    full_m = train_bow_multiclass(docs, n_buckets=1 << 12)
    corpus = docs.select("doc_id", "text")

    def tags(model):
        return {
            (r["doc_id"], r["pred_class"], r["score_micro"])
            for r in score_bow_multiclass(corpus, model).collect()
        }

    assert tags(inc_m) == tags(full_m)
    ppm = {c: 1_000_000 // len(langs) for c in langs}

    def routed(model):
        return {
            (r["doc_id"], r["pred_class"])
            for r in mixture_sample_by_class(
                corpus, model, ppm, salt=5
            ).collect()
        }

    routed_inc = routed(inc_m)
    assert routed_inc and routed_inc == routed(full_m)

    # fresh checkpoint against existing state: loud refusal
    with pytest.raises(Exception, match="checkpoint"):
        run_stream_multiclass_update(
            stream(), state, str(tmp_path / "mclf_ckpt_fresh"),
            n_buckets=1 << 12,
        )

    # geometry mismatch on resume: loud refusal before commit (the
    # multiclass META row records n_buckets in its c column)
    import time

    for _ in range(100):
        if not spark.streams.active:
            break
        time.sleep(0.1)
    d1.limit(5).select(
        (F.col("doc_id") + 9000).alias("doc_id"), "text", "label"
    ).coalesce(1).write.mode("append").parquet(src)
    with pytest.raises(Exception, match="n_buckets"):
        run_stream_multiclass_update(
            stream(), state, ckpt, n_buckets=1 << 13
        )


@pytest.mark.parametrize("policy", ["local", "checkpoint_dir"])
def test_stream_counts_state_matches_batch_twins(spark, tmp_path, policy):
    """The binary and multiclass count streams share one loop
    (``_run_stream_counts_update``). Under either materialize policy the
    drained state equals the batch twin over every non-null streamed doc,
    row for row. The middle micro-batch holds only NULL-text docs, so the
    loop's observed row count reads 0 and the batch commits nothing."""
    from inbev_data_engineering_case_spark.operators.classify import (
        multiclass_bow_counts,
        train_bow_counts,
    )
    from inbev_data_engineering_case_spark.session import (
        cleanup_scratch_tables,
    )
    from inbev_data_engineering_case_spark.streaming.events import (
        read_classifier_counts,
        read_multiclass_counts,
        run_stream_classifier_update,
        run_stream_multiclass_update,
    )

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .filter(F.col("doc_id") < 80)
        .select("doc_id", "text", "lang")
    )
    rows = sorted(map(tuple, docs.collect()))
    batches = [
        rows[:40],
        [(9000 + i, None, "en") for i in range(3)],
        rows[40:],
    ]
    ddl = "doc_id bigint, text string, lang string"

    def rows_of(df):
        return sorted(map(tuple, df.collect()), key=repr)

    buckets = 1 << 10
    sc = spark.sparkContext
    if policy == "checkpoint_dir":
        sc.setCheckpointDir(str(tmp_path / "scratch"))
    try:
        src = stage_batches(spark, tmp_path / "feed", batches, ddl)
        metrics = run_stream_classifier_update(
            src.select("doc_id", "text", (F.col("lang") == "en").alias("label")),
            str(tmp_path / "clf"), str(tmp_path / "clf_ckpt"),
            n_buckets=buckets,
        )
        assert metrics["batches"] == 3
        run_stream_multiclass_update(
            src.select("doc_id", "text", F.col("lang").alias("label")),
            str(tmp_path / "mclf"), str(tmp_path / "mclf_ckpt"),
            n_buckets=buckets,
        )
        clf = rows_of(read_classifier_counts(spark, str(tmp_path / "clf")))
        mclf = rows_of(read_multiclass_counts(spark, str(tmp_path / "mclf")))
    finally:
        sc.setCheckpointDir(None)
        cleanup_scratch_tables(spark)
    snaps = [n for n in os.listdir(tmp_path / "clf") if n.startswith("clfart")]
    assert len(snaps) == 2, snaps  # the all-NULL batch committed nothing
    labeled = docs.select("doc_id", "text", (F.col("lang") == "en").alias("label"))
    assert clf == rows_of(train_bow_counts(labeled, n_buckets=buckets))
    classed = docs.select("doc_id", "text", F.col("lang").alias("label"))
    assert mclf == rows_of(multiclass_bow_counts(classed, n_buckets=buckets))


def _last_job_id(spark) -> int:
    """The newest job id Spark has recorded, once the listener bus has
    delivered every event; the difference of two readings counts every
    job in between, a streaming query's micro-batch jobs included."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    jobs = sc.statusStore().jobsList(None)  # newest first
    return jobs.apply(0).jobId() if jobs.size() else -1


def _drop_last_commit(ckpt) -> None:
    """Force the stream to replay its newest micro-batch on restart:
    remove the newest commit marker and its checksum sidecar (an orphaned
    .crc makes Spark's checksum filesystem treat the next commit write as
    a concurrent query)."""
    commits = os.path.join(ckpt, "commits")
    newest = max(
        (f for f in os.listdir(commits) if not f.startswith(".")), key=int
    )
    os.remove(os.path.join(commits, newest))
    crc = os.path.join(commits, f".{newest}.crc")
    if os.path.exists(crc):
        os.remove(crc)


def test_stream_counts_guards_launch_no_job(spark, tmp_path):
    """The count stream's lineage, geometry and replay guards read the
    parent snapshot's meta.json sidecar on the driver and run before the
    batch is cut: a micro-batch that merges into existing state stays
    within 8 jobs (cut, train, merge and the counts write), and a replayed
    micro-batch launches no Spark job at all."""
    from inbev_data_engineering_case_spark.streaming.events import (
        read_classifier_counts,
        run_stream_classifier_update,
    )

    rows = [(i, f"tok{i % 5} word{i % 3}", i % 2 == 0) for i in range(20)]
    feed = tmp_path / "feed"
    src = stage_batches(
        spark, feed, [rows[:10], rows[10:]],
        "doc_id bigint, text string, label boolean",
    )
    held = tmp_path / "held.parquet"
    os.rename(feed / "file_1.parquet", held)
    state, ckpt = str(tmp_path / "clf"), tmp_path / "clf_ckpt"

    def run() -> int:
        before = _last_job_id(spark)
        run_stream_classifier_update(src, state, str(ckpt), n_buckets=64)
        return _last_job_id(spark) - before

    run()  # the first generation
    os.rename(held, feed / "file_1.parquet")
    assert run() <= 8  # one micro-batch merged into the stored counts
    snap = max(n for n in os.listdir(state) if n.startswith("clfart"))
    with open(os.path.join(state, snap, "meta.json")) as f:
        assert json.load(f) == {
            "batch_id": 1, "checkpoint": str(ckpt), "n_buckets": 64,
        }
    counts = sorted(map(tuple, read_classifier_counts(spark, state).collect()))

    _drop_last_commit(ckpt)
    assert run() == 0  # the replayed batch is skipped before its cut
    assert sorted(
        map(tuple, read_classifier_counts(spark, state).collect())
    ) == counts


def test_stream_counts_refuse_state_without_sidecar(spark, tmp_path):
    """A state dir whose latest snapshot has no meta.json (the older
    layout kept batch_id/checkpoint in a ``meta`` parquet table) raises a
    ValueError naming the dir before the stream starts. Taking it for a
    first generation would silently restart the counts from zero."""
    from inbev_data_engineering_case_spark.streaming.events import (
        run_stream_classifier_update,
    )

    ddl = "doc_id bigint, text string, label boolean"
    src = stage_batches(
        spark, tmp_path / "feed", [[(1, "a b", True), (2, "c", False)]], ddl
    )
    state, ckpt = str(tmp_path / "clf"), str(tmp_path / "clf_ckpt")
    run_stream_classifier_update(src, state, ckpt, n_buckets=64)
    (snap,) = [n for n in os.listdir(state) if n.startswith("clfart")]
    os.remove(os.path.join(state, snap, "meta.json"))
    spark.createDataFrame(
        [(0, ckpt)], "batch_id bigint, checkpoint string"
    ).write.parquet(os.path.join(state, snap, "meta"))
    with pytest.raises(ValueError, match=re.escape(repr(state))):
        run_stream_classifier_update(src, state, ckpt, n_buckets=64)
    assert not spark.streams.active
