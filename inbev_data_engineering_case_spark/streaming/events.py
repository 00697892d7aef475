"""Structured Streaming operators over the events stream (SURVEY.md §2.6
"streaming: absent in reference" → engine extension).

Each operator is the streaming twin of a batch query in the catalog, built
on the standard readStream → transform → writeStream shape:

- ``stream_tumbling_counts`` ⇔ ``q_window_events``: 1-hour tumbling windows
  with a watermark so state for closed windows is dropped (bounded state at
  any scale; without the watermark a 100 TB stream accretes state forever).
- ``stream_sessionize`` ⇔ ``q_sessionize``: custom stateful operator via
  ``applyInPandasWithState`` — per-user session accumulation with a
  processing-timeout flush, the canonical "operator Spark lacks, built on
  the state-store API" example.

Scale notes: streaming aggregations shuffle on (window, keys) exactly like
their batch twins; state lives in the state store partitioned the same way,
so hot users/keys can be salted upstream if needed. Sinks should be
idempotent (Delta/Kafka-transactional) for exactly-once; the tests use the
memory sink.
"""

from __future__ import annotations

import json
import os
from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from inbev_data_engineering_case_spark.functions import dsum
from inbev_data_engineering_case_spark.session import materialize
from inbev_data_engineering_case_spark.sources.readers import (
    pin_event_confs,
    read_parquet,
    surface_event_ts,
    write_parquet,
)


_CLEANUP_REGISTERED: set[str] = set()


def _cleanup_stage_dirs_at_exit(app_id: str) -> None:
    """Remove this application's symlink stage dirs at interpreter exit so
    /tmp doesn't accumulate one dir per app run. Registered once per app;
    other (possibly live) apps' dirs are never touched."""
    if app_id in _CLEANUP_REGISTERED:
        return
    _CLEANUP_REGISTERED.add(app_id)
    import atexit
    import glob
    import shutil

    def _cleanup() -> None:
        for d in glob.glob(f"/tmp/spark_graft_stream_src_{app_id}*"):
            shutil.rmtree(d, ignore_errors=True)

    atexit.register(_cleanup)


def read_events_stream(spark, sf_dir: str) -> DataFrame:
    """Streaming twin of ``sources.readers.read_events``: file-source
    readStream over the events parquet with the nanosecond timestamp
    surfaced as a proper (microsecond) TimestampType column. A streaming
    source needs an explicit schema; it comes from ``read_parquet``'s
    memo, so only the first read of the file in a session launches a
    footer-inference job."""
    import os

    pin_event_confs(spark)
    # Stateful streaming parallelism = spark.sql.shuffle.partitions at the
    # stream's FIRST run (state-store layout persists in the checkpoint).
    # AQE does not coalesce stateful exchanges, so an untuned session's 200
    # partitions means 200 state stores + 200 Python state workers per
    # micro-batch (3-6x slower on a vanilla local[8] session). Size it to
    # the machine before the stream starts — but only when the current
    # value looks untuned (well above core count); a deliberate setting
    # near the machine size is respected. Batch queries are unaffected
    # either way (AQE coalesces their shuffles at runtime).
    cores = spark.sparkContext.defaultParallelism
    try:
        current = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    except ValueError:
        # non-numeric value (e.g. Databricks' 'auto') — a platform is
        # already managing shuffle parallelism; don't fight it
        current = None
    if current is not None and current > max(4 * cores, 64):
        spark.conf.set("spark.sql.shuffle.partitions", str(max(cores, 8)))
    path = f"{sf_dir}/events.parquet"
    schema = read_parquet(spark, path).schema
    # The file-stream source only monitors directories; the table is a
    # single read-only parquet file, so stage a symlink directory for it
    # (a real deployment streams from a landing directory anyway). The
    # stage dir is scoped per Spark application so concurrent sessions
    # don't race on one path, and the link is recreated via lexists +
    # unlink: a stale symlink (target moved) fails os.path.exists but
    # still blocks os.symlink.
    app_id = spark.sparkContext.applicationId
    stage = (
        f"/tmp/spark_graft_stream_src_{app_id}" + sf_dir.replace("/", "_")
    )
    _cleanup_stage_dirs_at_exit(app_id)
    os.makedirs(stage, exist_ok=True)
    link = f"{stage}/events.parquet"
    if os.path.lexists(link):
        os.unlink(link)
    try:
        os.symlink(path, link)
    except FileExistsError:
        pass  # concurrent creator within the same app won the race; same target
    return surface_event_ts(spark.readStream.schema(schema).parquet(stage))


def _cut_nonempty(
    batch_df: DataFrame, id_col: str, *non_null: str
) -> DataFrame | None:
    """A micro-batch's ``id_col`` and ``non_null`` columns, rows with a
    NULL in any ``non_null`` column dropped and duplicate ids collapsed,
    cut once (a foreachBatch file-source batch re-scans its input files
    on every action otherwise), or None when no row is left. The row
    count is an observed metric of the eager cut's own job, so the
    emptiness check launches no job of its own.

    NULLs drop rather than raise: inside a replaying stream one bad row
    would fail the batch before its offset commit, and every restart
    would replay it — a permanent poison pill. For conflicting rows
    under one id in one batch the survivor is arbitrary."""
    keep = F.lit(True)
    for c in non_null:
        keep = keep & F.col(c).isNotNull()
    rows = Observation("stream_batch_rows")
    batch = materialize(
        batch_df.select(id_col, *non_null)
        .filter(keep)
        .dropDuplicates([id_col])
        .observe(rows, F.count(F.lit(1)).alias("n")),
        eager=True,
    )
    return batch if rows.get["n"] else None


def _drain(writer, timeout: int, what: str) -> dict[str, int]:
    """Run a configured ``DataStreamWriter`` to completion — an
    ``availableNow`` trigger processes everything currently in the
    source, then stops — and return its ``query_metrics``. A drain that
    outlasts ``timeout`` seconds is stopped and raises ``TimeoutError``
    naming ``what``. Every stream runner of this module drains here."""
    q = writer.trigger(availableNow=True).start()
    if not q.awaitTermination(timeout):
        q.stop()
        raise TimeoutError(f"{what} did not drain in {timeout}s")
    return query_metrics(q)


def query_metrics(q) -> dict[str, int]:
    """Observability counters aggregated from a query's progress history
    (``recentProgress``): total input rows, rows SILENTLY dropped for
    arriving later than the watermark, and peak state size.

    ``dropped_rows_by_watermark`` is the alarm the watermarked operators
    otherwise hide: a nonzero (or rising) count means the horizon is too
    tight for the source's real disorder, and the "missing" aggregates
    aren't missing — they were late and discarded. Feed it to the same
    day-over-day drift surface as ``curation_report`` stage counts.

    Works on completed availableNow drains (every batch is still in
    ``recentProgress``, capped at
    ``spark.sql.streaming.numRecentProgressUpdates`` = 100 by default);
    a long-running production query should attach a
    ``StreamingQueryListener`` and export the same fields per batch
    instead of sampling the tail.

    Two measured-on-this-engine caveats the reader of the counter must
    know (pinned by ``tests/test_streaming.py``'s lateness test):

    - the late-row filter engages one batch AFTER the watermark-advancing
      data's batch commits, so the first late batch after a jump slips
      through uncounted — the counter is an alarm level, not an exact
      ledger at batch granularity;
    - windowed AGGREGATIONS in this Spark version absorb too-late rows
      into (re-created) state rather than dropping them — the counter
      registers on the row-wise stateful operators (dedup variants,
      stream-stream joins). Compose a dedup stage upstream of an
      aggregation if dropped-late accounting of it is required."""
    metrics = {
        "batches": 0,
        "input_rows": 0,
        "dropped_rows_by_watermark": 0,
        "peak_state_rows": 0,
    }
    for p in q.recentProgress:
        metrics["batches"] += 1
        metrics["input_rows"] += int(p.numInputRows or 0)
        for op in p.stateOperators or []:
            metrics["dropped_rows_by_watermark"] += int(
                op.numRowsDroppedByWatermark or 0
            )
            metrics["peak_state_rows"] = max(
                metrics["peak_state_rows"], int(op.numRowsTotal or 0)
            )
    return metrics


def run_stream_to_table(
    out: DataFrame, name: str, output_mode: str, timeout: int = 300
) -> dict[str, int]:
    """Execute a streaming DataFrame to completion into an in-memory table
    (availableNow trigger: process everything currently in the source, then
    stop). In production the sink would be Delta/Kafka; the memory sink is
    the harness for batch-parity checks. Returns ``query_metrics`` for the
    drained query — lateness drops included."""
    return _drain(
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode),
        timeout,
        f"stream {name}",
    )


def run_stream_to_parquet_idempotent(
    out: DataFrame, path: str, checkpoint: str, timeout: int = 300
) -> dict[str, int]:
    """Drain a streaming DataFrame into parquet with replay-safe writes:
    each micro-batch lands in its own ``batch_id=<id>`` directory in
    overwrite mode, via ``foreachBatch``.

    This is the standard exactly-once recipe for sinks without
    transactions: if the job dies between writing a batch and committing
    the checkpoint offset, the replayed batch REWRITES the same directory
    instead of appending duplicates — write idempotency + checkpointed
    offsets = effectively-once output. (With a transactional sink — Delta,
    Kafka EOS — use the native writer instead; this is the escape hatch
    for plain object-store parquet.) Readers see the union of batch
    directories; the ``batch_id`` partition column also gives downstream
    incremental consumers a cursor.

    For APPEND-shaped streams (projections/filters — e.g. cleansed event
    landing). Watermarked aggregations run here under append semantics
    too: a window's row lands only in the batch where the watermark
    passes it, so drain-style single runs emit nothing — aggregations
    want the memory/complete harness (``run_stream_to_table``) or a
    merge-capable sink. Returns ``query_metrics`` for the drained
    query."""
    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(
            f"{path}/batch_id={batch_id}"
        )

    return _drain(
        out.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint),
        timeout,
        f"stream to {path}",
    )


def stream_tumbling_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Tumbling-window count/sum per event type with late-data bound.

    Output columns mirror q_window_events (window_start, event_type,
    n_events, total_value) so batch and streaming results are directly
    comparable."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), dsum("value", "total_value"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def stream_dedup_events(
    events: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """Exactly-once event feed from an at-least-once source: drop repeated
    ``event_id``s inside the watermark horizon.

    ``dropDuplicatesWithinWatermark`` (not ``dropDuplicates``) is the only
    form that survives an unbounded stream: state for an id is evicted
    once the watermark passes it, so the state store holds ~one watermark
    window of ids instead of every id ever seen. The trade is the
    at-least-once source contract every real bus (Kafka) gives anyway:
    a duplicate arriving later than the watermark is no longer caught."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def stream_click_view_join(
    events: DataFrame,
    max_gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream inner join: each click matched to the same user's
    views within ``max_gap`` AFTER the click.

    Both sides carry watermarks and the join condition bounds view_ts
    relative to click_ts — that bound is what lets Spark evict join state
    (without it, both sides' state grows forever; Spark would reject the
    append-mode query). State is keyed by user_id in the state store,
    partitioned like any shuffle."""
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", watermark)
    )
    views = (
        events.filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", watermark)
    )
    joined = clicks.join(
        views,
        (F.col("c_user") == F.col("v_user"))
        & (F.col("view_ts") >= F.col("click_ts"))
        & (F.col("view_ts") <= F.col("click_ts") + F.expr(f"INTERVAL {max_gap}")),
    )
    return joined.select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "view_id",
        "click_ts",
        "view_ts",
    )


def stream_enrich(
    stream: DataFrame,
    dim: DataFrame,
    on: str,
    how: str = "left",
    broadcast: bool | None = None,
) -> DataFrame:
    """Stream-static enrichment join: each micro-batch of the stream joins
    against the (batch) dimension table — the standard pattern for
    attaching slowly-changing reference data to an event stream.

    The static side is re-planned per micro-batch (so a Delta/parquet dim
    picks up updates between batches) — no watermark needed because the
    static side holds no streaming state. Left join keeps unmatched events
    (enrichment, not filtering); pass ``how='inner'`` to drop them.

    ``broadcast=None`` (default) lets the planner decide from the dim's
    size estimate vs ``spark.sql.autoBroadcastJoinThreshold`` — the safe
    call at the 100 TB design point, where an unconditionally-hinted huge
    dimension would OOM executors; ``True`` forces the broadcast hint for
    a dim known to be small (skips the stats dependence); ``False``
    guarantees a shuffle join."""
    if broadcast is True:
        dim = F.broadcast(dim)
    elif broadcast is False:
        dim = dim.hint("shuffle_hash")
    return stream.join(dim, on=on, how=how)


SESSION_STATE_SCHEMA = T.StructType(
    [
        T.StructField("session_start_us", T.LongType()),
        T.StructField("last_ts_us", T.LongType()),
        T.StructField("n_events", T.LongType()),
    ]
)

SESSION_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("session_start", T.TimestampType()),
        T.StructField("session_end", T.TimestampType()),
        T.StructField("n_events", T.LongType()),
    ]
)

SESSION_GAP_US = 30 * 60 * 1_000_000


def advance_session(
    start_us: int, last_us: int, n: int, ts_us: list[int]
) -> tuple[list[tuple[int, int, int]], tuple[int, int, int]]:
    """Advance one user's open session ``(start_us, last_us, n)`` (n == 0
    means no open session) over event timestamps, returning the sessions
    closed by a >30-min gap and the new open-session state.

    Out-of-order events (t <= last_us — possible ACROSS micro-batches even
    though each batch is sorted) fold into the open session's bounds
    instead of advancing it: ``last_us`` never moves backwards, so
    session_end and subsequent gap computations stay correct. Events older
    than the watermark should be dropped upstream; anything that reaches
    here is treated as late data for the open session."""
    closed: list[tuple[int, int, int]] = []
    for t in ts_us:
        if n == 0:
            start_us, last_us, n = t, t, 1
        elif t <= last_us:
            start_us, n = min(start_us, t), n + 1
        elif t - last_us > SESSION_GAP_US:
            closed.append((start_us, last_us, n))
            start_us, last_us, n = t, t, 1
        else:
            last_us, n = t, n + 1
    return closed, (start_us, last_us, n)


def _make_sessionizer(flush_timeout: bool):
    """Build the per-user stateful sessionizer: accumulate events into the
    open session, emit a row whenever a 30-min gap closes one, keep the open
    session in the state store; optionally flush idle users on processing
    timeout."""

    def sessionize_group(
        key: tuple[Any, ...],
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        closed: list[tuple[int, int, int]] = []

        if flush_timeout and state.hasTimedOut:
            if state.exists:
                start_us, last_us, n = state.get
                closed.append((start_us, last_us, n))
                state.remove()
        else:
            ts_us = sorted(
                int(t)
                for batch in batches
                for t in (batch["ts"].astype("int64") // 1000)
            )
            if state.exists:
                start_us, last_us, n = state.get
            else:
                start_us, last_us, n = 0, 0, 0
            newly_closed, (start_us, last_us, n) = advance_session(
                start_us, last_us, n, ts_us
            )
            closed.extend(newly_closed)
            if n > 0:
                state.update((start_us, last_us, n))
                if flush_timeout:
                    state.setTimeoutDuration(60 * 60 * 1000)  # idle flush

        if closed:
            yield pd.DataFrame(
                {
                    "user_id": [user_id] * len(closed),
                    "session_start": [
                        pd.Timestamp(s, unit="us") for s, _, _ in closed
                    ],
                    "session_end": [
                        pd.Timestamp(e, unit="us") for _, e, _ in closed
                    ],
                    "n_events": [n for _, _, n in closed],
                }
            )

    return sessionize_group


def stream_sessionize(
    events: DataFrame, flush_timeout: bool = True
) -> DataFrame:
    """Custom stateful streaming operator: 30-min-gap sessionization via
    applyInPandasWithState (state = the open session per user).

    ``flush_timeout=True`` (production) registers a processing-time timer
    that flushes idle users' open sessions hourly — note the timer keeps
    the query triggering micro-batches even when no data arrives, so a
    drain-and-stop run (availableNow) never terminates. Pass ``False`` for
    drain-style runs: only gap-closed sessions are emitted; open sessions
    stay in the state store."""
    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if flush_timeout
        else GroupStateTimeout.NoTimeout
    )
    return (
        events.select("user_id", "ts")
        .groupBy("user_id")
        .applyInPandasWithState(
            _make_sessionizer(flush_timeout),
            outputStructType=SESSION_OUTPUT_SCHEMA,
            stateStructType=SESSION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=timeout,
        )
    )


GAP_STATE_SCHEMA = T.StructType([T.StructField("last_us", T.LongType())])

GAP_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("gap_start", T.TimestampType()),
        T.StructField("gap_end", T.TimestampType()),
        T.StructField("gap_s", T.LongType()),
    ]
)


def _make_gap_detector(max_gap_s: int):
    """Per-user stateful gap detector: state is the newest timestamp
    seen; each arriving event whose distance to it exceeds the threshold
    emits a gap row. Late events (t <= last) never move the cursor
    backwards and emit nothing — a late arrival can only SHRINK a true
    gap, so silence is the conservative alarm behavior; the batch twin
    (``timeseries.heartbeat_gaps``) remains the exact replay."""
    max_gap_us = max_gap_s * 1_000_000

    def detect(
        key: tuple[Any, ...],
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        # NaT would astype to the int64 sentinel (~-9.2e18) and poison
        # the cursor; drop NULL timestamps like the batch twin's NULL
        # arithmetic does
        ts_us = sorted(
            int(t)
            for batch in batches
            for t in (
                batch["ts"][batch["ts"].notna()].astype("int64") // 1000
            )
        )
        if not ts_us:
            return
        last = state.get[0] if state.exists else None
        gaps: list[tuple[int, int]] = []
        for t in ts_us:
            if last is not None and t - last > max_gap_us:
                gaps.append((last, t))
            if last is None or t > last:
                last = t
        state.update((last,))
        if gaps:
            yield pd.DataFrame(
                {
                    "user_id": [user_id] * len(gaps),
                    "gap_start": [
                        pd.Timestamp(s, unit="us") for s, _ in gaps
                    ],
                    "gap_end": [pd.Timestamp(e, unit="us") for _, e in gaps],
                    "gap_s": [(e - s) // 1_000_000 for s, e in gaps],
                }
            )

    return detect


def stream_heartbeat_gaps(
    events: DataFrame, max_gap_s: int = 86_400
) -> DataFrame:
    """Streaming twin of ``timeseries.heartbeat_gaps``: the
    missing-heartbeat alarm maintained INCREMENTALLY — each arriving
    event checks its distance to the user's stored last-seen timestamp
    (one long per user in the state store) and emits the gap row the
    moment the silence breaks, instead of a daily batch rescan of the
    full history.

    Arrival-triggered by design (no processing-time timer): a gap is
    reported when the key wakes up, which keeps drain-style availableNow
    runs terminating and makes the output an exact function of the data
    — the batch operator replays it (the oracle relation for
    ``q_stream_gaps``). A production variant that must page on STILL-
    silent sources adds a ProcessingTimeTimeout flush like
    ``stream_sessionize``'s, trading replayability for liveness.

    State is one 8-byte cursor per key — bounded by the key domain, not
    event volume."""
    return (
        events.select("user_id", "ts")
        .groupBy("user_id")
        .applyInPandasWithState(
            _make_gap_detector(max_gap_s),
            outputStructType=GAP_OUTPUT_SCHEMA,
            stateStructType=GAP_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# pandas maps NaT to this int64 value under .astype("int64")
_NAT_SENTINEL = -(2**63)

CUSUM_STATE_SCHEMA = T.StructType(
    [
        T.StructField("su", T.LongType()),
        T.StructField("sd", T.LongType()),
    ]
)

CUSUM_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("cusum_up_milli", T.LongType()),
        T.StructField("cusum_down_milli", T.LongType()),
        T.StructField("is_change", T.BooleanType()),
    ]
)


def _make_cusum(
    target_milli: int, slack_milli: int, threshold_milli: int, scale: int
):
    """Per-key stateful CUSUM: state is the pair of cumulative sums;
    the textbook recursion S = max(0, S + drift) runs natively here —
    streaming IS sequential per key, so no closed form is needed (the
    batch twin uses the prefix-sum identity instead). Exact integer
    milli-unit arithmetic, identical to
    ``timeseries.cusum_changepoints(target_milli=...)``."""

    import math

    def half_up(x: float) -> int:
        # Spark's round() is HALF_UP (away from zero), Python's round()
        # is half-even — replicate Spark's so batch/stream agree on the
        # .5 boundary exactly
        return (
            math.floor(x + 0.5) if x >= 0 else math.ceil(x - 0.5)
        )

    def score(
        key: tuple[Any, ...],
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        # NULL readings are never scored; NaT timestamps would astype
        # to the int64 sentinel and poison the ordering/emit, so they
        # are dropped the same way
        rows = sorted(
            (int(ts_ns) // 1000, int(eid), float(val))
            for batch in batches
            for ts_ns, eid, val in zip(
                batch["ts"].astype("int64"),
                batch["event_id"],
                batch["value"],
            )
            if not (pd.isna(val) or ts_ns == _NAT_SENTINEL)
        )
        if not rows:
            return
        su, sd = state.get if state.exists else (0, 0)
        out: list[tuple[int, int, float, int, int, bool]] = []
        for ts_us, eid, val in rows:
            v = half_up(val * scale)
            su = max(0, su + (v - target_milli - slack_milli))
            sd = max(0, sd + (target_milli - v - slack_milli))
            out.append(
                (
                    ts_us,
                    eid,
                    val,
                    su,
                    sd,
                    su > threshold_milli or sd > threshold_milli,
                )
            )
        state.update((su, sd))
        yield pd.DataFrame(
            {
                "user_id": [user_id] * len(out),
                "ts": [pd.Timestamp(r[0], unit="us") for r in out],
                "event_id": [r[1] for r in out],
                "value": [r[2] for r in out],
                "cusum_up_milli": [r[3] for r in out],
                "cusum_down_milli": [r[4] for r in out],
                "is_change": [r[5] for r in out],
            }
        )

    return score


def stream_cusum(
    events: DataFrame,
    target_milli: int,
    slack_milli: int = 25_000,
    threshold_milli: int = 250_000,
    scale: int = 1000,
) -> DataFrame:
    """Streaming twin of ``timeseries.cusum_changepoints`` in its
    explicit-target mode: the small-persistent-drift alarm maintained
    INCREMENTALLY — two int64 cumulative sums per key in the state
    store, advanced by each arriving reading against the known baseline
    ``target_milli`` (an SLO, yesterday's level), alarming the moment
    either crosses the threshold instead of at the next batch rescan.

    Arrival-triggered and timer-free like ``stream_heartbeat_gaps``, so
    a drained run is an exact function of the data and the batch
    operator's SQL replay is the oracle (``q_stream_cusum``). In-order
    sources replay exactly; an out-of-order event across micro-batches
    folds into the running sums at arrival position (bounded by the
    upstream watermark), where the batch twin would re-sort globally.

    State: 16 bytes per key, independent of event volume."""
    return (
        events.select("user_id", "ts", "event_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _make_cusum(target_milli, slack_milli, threshold_milli, scale),
            outputStructType=CUSUM_OUTPUT_SCHEMA,
            stateStructType=CUSUM_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def merge_upsert_snapshot(
    spark,
    batch_df: DataFrame,
    batch_id: int,
    base_dir: str,
    key_cols: list[str],
    order_col: str,
) -> str:
    """One keyed MERGE step for the plain-parquet upsert sink: dedupe the
    batch per key (highest ``order_col`` wins, deterministic), anti-join
    the previous snapshot on the keys (old rows for re-sent keys drop),
    union, and write snapshot ``merge=<batch_id>``. Returns the written
    path.

    Idempotent by construction: the snapshot directory name is the batch
    id, so a REPLAYED batch (crash between sink write and checkpoint
    commit) rewrites the same directory from the same predecessor state
    (`latest_snapshot` orders by id and gates on ``_SUCCESS``, so a torn
    write is invisible and the replay rebuilds it) — merge(merge(S, B),
    B) == merge(S, B)."""
    import os

    from pyspark.sql.window import Window

    from inbev_data_engineering_case_spark.layers import latest_snapshot

    w = Window.partitionBy(*key_cols).orderBy(F.col(order_col).desc())
    latest_batch = (
        batch_df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    try:
        prev = read_parquet(
            spark, latest_snapshot(base_dir, prefix="merge=")
        )
    except (FileNotFoundError, ValueError):
        prev = None
    merged = (
        latest_batch
        if prev is None
        else prev.join(
            latest_batch.select(*key_cols), key_cols, "left_anti"
        ).unionByName(latest_batch)
    )
    out = os.path.join(base_dir, f"merge={batch_id:020d}")
    write_parquet(merged, out, "overwrite")
    return out


def run_stream_upsert_parquet(
    out: DataFrame,
    base_dir: str,
    checkpoint: str,
    key_cols: list[str],
    order_col: str,
    timeout: int = 300,
) -> dict[str, int]:
    """Streaming MERGE (upsert) into a keyed parquet snapshot — the
    poor-man's Delta MERGE for sinks without transactions: each
    micro-batch replaces its keys' previous rows and appends new keys,
    so re-delivered events and key updates both land exactly once in the
    final state (``merge_upsert_snapshot`` carries the idempotency
    argument). Readers resolve ``latest_snapshot(base_dir,
    prefix='merge=')``.

    Scale contract: each merge rewrites the FULL snapshot, so this sink
    is for DIMENSION-scale keyed state (user profiles, device registry —
    the stream-static enrich side), not fact tables; at fact scale use a
    transactional sink's native MERGE. The rewrite itself is one
    broadcast-or-shuffle anti-join keyed like the stream, and snapshots
    double as a per-batch history for debugging/time travel (compact old
    ones with ``layers.compact_parquet``).

    One writer per (base_dir, checkpoint): the checkpoint makes restarts
    of THIS query replay-idempotent, but a second concurrent query over
    the same base_dir would interleave snapshot advancement — publish
    competing batch writers through ``layers.advance_snapshot`` (the
    optimistic expected-parent commit) instead."""
    spark = out.sparkSession

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        merge_upsert_snapshot(
            spark, batch_df, batch_id, base_dir, key_cols, order_col
        )

    return _drain(
        out.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint),
        timeout,
        f"upsert stream to {base_dir}",
    )


def stream_sketch_partials(
    events: DataFrame,
    group_col: str = "event_type",
    key_col: str = "user_id",
    ts_col: str = "ts",
    window: str = "1 day",
    watermark: str = "2 hours",
    lg_k: int | None = None,
) -> DataFrame:
    """Streaming twin of ``operators.sketches.sketch_partials``: maintain
    the per-(group, day) HLL distinct-count sketches INCREMENTALLY from
    the event stream instead of rebuilding them from raw history.

    Append-mode windowed aggregation: each day's sketch row emits once
    the watermark closes the window, landing in the same partial table
    the batch rollup reads — so the arbitrary-range distinct-count
    answers (``rollup_estimate``) stay current with no daily batch job
    and no raw-event rescan. Watermark bounds the aggregation state to
    ~one window+horizon of open sketches per group, each a fixed
    ~2^lg_k bytes — state is (groups x open windows) sketches
    regardless of event volume, the same mergeability argument as the
    stored table.

    Output: ``(bucket_ts, group_col, sketch)`` — schema-compatible with
    the batch partials (window start == ``date_trunc`` of the bucket).
    Keep ``window`` in sync with the batch twin's ``unit`` (``1 day`` ↔
    ``day``) when both feed one partial table — the columns line up
    regardless, but mixed granularities would interleave buckets.
    """
    from inbev_data_engineering_case_spark.operators.sketches import (
        DEFAULT_LG_K,
    )

    if lg_k is None:
        lg_k = DEFAULT_LG_K  # one constant with the batch twin: merged
        # streamed partials must be bit-compatible with batch sketches
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("_w"), F.col(group_col))
        .agg(F.hll_sketch_agg(F.col(key_col), F.lit(lg_k)).alias("sketch"))
        .select(
            F.col("_w.start").alias("bucket_ts"), group_col, "sketch"
        )
    )


def stream_cms_partials(
    events: DataFrame,
    item_col: str = "user_id",
    ts_col: str = "ts",
    window: str = "1 day",
    watermark: str = "2 hours",
    depth: int | None = None,
    width: int | None = None,
) -> DataFrame:
    """Streaming twin of ``operators.sketches.cms_partials``: maintain
    the per-bucket count-min FREQUENCY sketches incrementally from the
    event stream — live hot-key detection over the event feed, with
    batch ``cms_estimate`` answering "how often did item X occur in the
    last N buckets" from the stored partials, no raw-event rescan.

    Same append-mode watermarked-window shape as
    ``stream_sketch_partials`` (HLL's maintenance pattern applied to
    the counting sketch): cells explode IN-ROW, the windowed
    aggregation's state is at most (open windows × depth × width)
    int64 counters regardless of event volume, and each closed
    window's rows land in the same partial table the batch build
    writes. Because a cell count is an exact ``count(*)`` over a
    deterministic hash, the streamed rows for a closed bucket are
    IDENTICAL (not just statistically equivalent) to the batch-built
    partials — so ``cms_estimate`` and the range-merge SUM compose
    unchanged, and the oracle replay is the batch replay.

    Output: ``(bucket_ts, r, c, cnt, depth, width)`` — the
    ``cms_partials`` schema, geometry columns included so
    ``cms_estimate``'s wrong-geometry guard works on streamed
    partials too.
    """
    from inbev_data_engineering_case_spark.operators.sketches import (
        CMS_DEPTH,
        CMS_WIDTH,
        _cms_cells,
    )

    if depth is None:
        depth = CMS_DEPTH  # one constant with the batch twin — the
    if width is None:  # bit-identity claim needs the SAME geometry
        width = CMS_WIDTH
    if depth < 1 or width < 1:
        raise ValueError("stream_cms_partials: depth and width must be >= 1")
    return (
        events.withWatermark(ts_col, watermark)
        .select(
            F.col(ts_col),
            F.explode(
                _cms_cells(F.col(item_col), depth, width)
            ).alias("rc"),
        )
        .groupBy(
            F.window(ts_col, window).alias("_w"),
            F.col("rc.r").alias("r"),
            F.col("rc.c").alias("c"),
        )
        .agg(F.count("*").alias("cnt"))
        .select(
            F.col("_w.start").alias("bucket_ts"),
            "r",
            "c",
            "cnt",
            F.lit(depth).alias("depth"),
            F.lit(width).alias("width"),
        )
    )


def stream_drift_partials(
    events: DataFrame,
    bounds: list[float],
    value_col: str = "value",
    ts_col: str = "ts",
    window: str = "1 day",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming twin of the CURRENT side of
    ``quality.distribution_drift``: maintain per-window ECDF indicator
    counts against FIXED reference probe boundaries — live
    distribution-drift monitoring over the event feed, with
    ``quality.drift_from_partials`` answering "how far has the live
    distribution moved from the reference" from the stored partials,
    no raw-event rescan.

    ``bounds`` are plain floats embedded as plan literals
    (``quality.drift_bound_values``): the reference boundaries are
    fixed for the stream's lifetime, so re-deriving them per
    micro-batch would re-scan the reference every trigger for the
    same row. Because an indicator count is an exact SUM of
    deterministic comparisons, the streamed rows for a closed window
    are IDENTICAL to batch-computed counts over the same rows — the
    ``stream_cms_partials`` bit-identity discipline applied to the
    ECDF — so the merge is lossless and the oracle replay is the
    batch replay. State per open window is one count + n_cuts int64
    sums regardless of event volume.

    Output: ``(bucket_ts, n, le, n_cuts)`` — ``le[i]`` counts values
    ≤ ``bounds[i]``; ``n_cuts`` rides along so the merge's
    wrong-geometry guard works on streamed partials too.
    """
    if not bounds:
        raise ValueError("stream_drift_partials: bounds must be non-empty")
    le = [
        F.sum(
            F.when(F.col(value_col) <= F.lit(b), 1).otherwise(0)
        ).cast("bigint").alias(f"_le{i}")
        for i, b in enumerate(bounds)
    ]
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("_w"))
        .agg(F.count(value_col).alias("n"), *le)
        .select(
            F.col("_w.start").alias("bucket_ts"),
            "n",
            F.array(*[F.col(f"_le{i}") for i in range(len(bounds))]).alias(
                "le"
            ),
            F.lit(len(bounds)).alias("n_cuts"),
        )
    )


def run_stream_index_update(
    docs_stream: DataFrame,
    index_dir: str,
    checkpoint: str,
    timeout: int = 300,
    id_col: str = "doc_id",
    text_col: str = "text",
    keep_snapshots: int | None = 2,
) -> dict[str, int]:
    """Streaming maintenance of the SERVING text index: each arriving
    micro-batch of new/changed documents applies to the committed
    ``build_text_index`` snapshot chain through ``update_text_index`` —
    the curation loop's index stays current with the crawl instead of
    waiting for a nightly rebuild, and readers keep resolving committed
    generations mid-stream (every batch publishes atomically).

    Replay idempotence WITHOUT a dedup marker: ``update_text_index`` is
    a keyed MERGE (a doc's stale tf/doclen rows anti-join out before
    its re-tokenized rows union in), so a REPLAYED batch — crash
    between the index commit and the checkpoint write — re-applies to
    the exact same final contents, just as one more snapshot
    generation (``merge_upsert_snapshot``'s argument, applied to the
    index). Duplicate ids WITHIN a batch collapse via dropDuplicates
    on the key first (an at-least-once source may re-deliver a doc
    into the same batch; for conflicting texts under one id in one
    batch the survivor is arbitrary — feed a keyed, deduped stream for
    deterministic results). NULL-text docs are DROPPED per batch
    rather than raised: the batch operator's fail-loud indexability
    guard would otherwise turn one bad doc into a permanently
    replaying failed stream — quarantine upstream if unindexable docs
    need accounting.

    One writer per (index_dir, checkpoint): concurrent batch writers
    would conflict on ``expected_parent`` (the loser raises
    ``SnapshotConflictError`` rather than losing a delta — rebuilds
    belong in a quiet window). Returns ``query_metrics``.

    ``keep_snapshots`` passes through to ``update_text_index``: the
    stream publishes ONE generation per micro-batch, so the default
    of 2 prunes a resolved snapshot out from under a serving reader's
    lazy scan after just two batches (FileNotFoundError mid-scan).
    For serving deployments set it above the number of batches that
    can land within the longest reader's lifetime, or ``None`` to
    keep all and compact offline (``prune_snapshots``' own caveat).
    """
    from inbev_data_engineering_case_spark.operators.relevance import (
        update_text_index,
    )

    spark = docs_stream.sparkSession

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        # cut the micro-batch ONCE: the delta update runs several
        # actions over it (overlap probe, tf/doclen/stats writes,
        # audits). NULL-text docs drop here rather than meet
        # update_text_index's fail-loud indexability guard, which is
        # right for a batch caller who can fix the input but a poison
        # pill inside a replaying stream (the doc simply isn't
        # searchable; route a quarantine stream upstream if those docs
        # need accounting).
        batch = _cut_nonempty(batch_df, id_col, text_col)
        if batch is None:
            return
        update_text_index(spark, index_dir, batch, id_col=id_col,
                          text_col=text_col,
                          keep_snapshots=keep_snapshots)

    return _drain(
        docs_stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint),
        timeout,
        f"index-update stream to {index_dir}",
    )


def _parent_snapshot(state_dir: str, prefix: str) -> str | None:
    """The latest committed ``prefix`` snapshot under ``state_dir``, or
    None before the first commit."""
    from inbev_data_engineering_case_spark.layers import latest_snapshot

    try:
        return latest_snapshot(state_dir, prefix)
    except FileNotFoundError:  # first generation ever
        return None


def _publish(
    state_dir: str,
    prefix: str,
    parent_snap: str | None,
    tables: dict[str, Any],
    keep_snapshots: int | None = None,
) -> str:
    """Publish ``tables`` as the generation after ``parent_snap`` through
    ``layers.advance_snapshot``: each DataFrame is written as a parquet
    table under its name, any other value as a JSON file (the counts
    streams' ``meta.json`` sidecar). One rename publishes them all, so a
    crash never leaves two tables at different generations."""
    from inbev_data_engineering_case_spark.layers import advance_snapshot

    def write_all(staging: str) -> None:
        os.makedirs(staging)
        for name, table in tables.items():
            path = os.path.join(staging, name)
            if isinstance(table, DataFrame):
                write_parquet(table, path)
            else:
                with open(path, "w") as f:
                    json.dump(table, f)

    return advance_snapshot(
        state_dir, prefix, parent_snap, write_all, keep_snapshots
    )


def _run_state_stream(
    stream: DataFrame,
    state_dir: str,
    checkpoint: str,
    timeout: int,
    prefix: str,
    advance,
    keep_snapshots: int | None,
    what: str,
) -> dict[str, int]:
    """The state streams' one loop (artifact, embedding and both count
    streams). Per micro-batch: resolve the parent snapshot, then
    ``advance(batch_df, batch_id, parent_snap)`` — which runs the
    stream's guards, cuts the batch (``_cut_nonempty``) and returns the
    named tables of the next generation, or None to commit nothing (an
    empty or replayed batch) — then ``_publish`` them from that parent.
    The commit's expected parent is the snapshot the batch READ, so an
    interleaved writer makes it raise ``SnapshotConflictError`` instead
    of silently losing a delta. One writer per ``(state_dir,
    checkpoint)``; one generation per micro-batch, pruned to
    ``keep_snapshots`` (None keeps all). Returns ``query_metrics``."""

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        parent_snap = _parent_snapshot(state_dir, prefix)
        tables = advance(batch_df, batch_id, parent_snap)
        if tables is not None:
            _publish(state_dir, prefix, parent_snap, tables, keep_snapshots)

    return _drain(
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint),
        timeout,
        f"{what} to {state_dir}",
    )


CORPUS_ARTIFACT_PREFIX = "corpusart"


def read_corpus_artifacts(
    spark: SparkSession,
    state_dir: str,
    with_grams: bool = False,
    with_components: bool = False,
    with_halo: bool = False,
):
    """``(signatures, fingerprints)`` — plus the containment gram
    table when ``with_grams=True``, plus the connected-components
    label table when ``with_components=True``, plus the halo state
    ``(hpairs, hdist, hmeta)`` when ``with_halo=True`` (in that order)
    — from the latest committed corpus-artifact snapshot (the set
    ``run_stream_artifact_update`` maintains): signatures as
    ``(id, sig)``, fingerprints as ``(fp, keep_id)``, grams as
    ``build_gram_table`` output, components as ``(node, comp)``, halo
    as the ``(id_a, id_b)`` edge artifact + ``(node, dist)`` distance
    table — exactly the stored-state inputs ``curate_incremental``,
    ``advance_corpus_artifacts``, ``incremental_containment_pairs``,
    and ``advance_halo_artifacts`` consume. Raises
    ``FileNotFoundError`` when no snapshot has ever committed, and a
    clear error when grams/components/halo are requested from a
    stream that was not maintaining them."""
    from inbev_data_engineering_case_spark.layers import latest_snapshot

    snap = latest_snapshot(state_dir, CORPUS_ARTIFACT_PREFIX)
    out = (
        read_parquet(spark, os.path.join(snap, "sigs")),
        read_parquet(spark, os.path.join(snap, "fps")),
    )
    if with_grams:
        gram_dir = os.path.join(snap, "grams")
        if not os.path.isdir(gram_dir):
            raise FileNotFoundError(
                f"no gram table in snapshot {snap} — the maintaining "
                "stream ran with gram_n=None; backfill once with "
                "backfill_gram_table(corpus, state_dir), then re-run "
                "the stream with gram_n set to keep maintaining it"
            )
        out = (*out, read_parquet(spark, gram_dir))
    if with_components:
        comps_dir = os.path.join(snap, "comps")
        if not os.path.isdir(comps_dir):
            raise FileNotFoundError(
                f"no comps table in snapshot {snap} — the maintaining "
                "stream ran with components=False; backfill once with "
                "backfill_components_table(corpus, state_dir), then "
                "re-run the stream with components=True to keep "
                "maintaining it"
            )
        out = (*out, read_parquet(spark, comps_dir))
    if with_halo:
        hdist_dir = os.path.join(snap, "hdist")
        if not os.path.isdir(hdist_dir):
            raise FileNotFoundError(
                f"no halo tables in snapshot {snap} — the maintaining "
                "stream ran without halo_benchmark; backfill once "
                "with backfill_halo_tables(corpus, state_dir, "
                "benchmark), then re-run the stream with "
                "halo_benchmark set to keep maintaining them"
            )
        # the hmeta geometry row rides along so downstream consumers
        # (curate_incremental stored_halo=) can refuse a mismatch the
        # same way the maintaining stream does
        out = (
            *out,
            read_parquet(spark, os.path.join(snap, "hpairs")),
            read_parquet(spark, hdist_dir),
            read_parquet(spark, os.path.join(snap, "hmeta")),
        )
    return out


def _backfill_open(
    corpus: DataFrame,
    state_dir: str,
    fn_name: str,
    marker: str,
    marker_what: str,
    resume_hint: str,
    id_col: str,
    coverage_consequence: str,
) -> tuple[str, dict[str, DataFrame]]:
    """The one-time backfills' shared scaffold (grams / components /
    halo — one definition, so a guard fix lands in all three): resolve
    the latest snapshot, refuse if it already carries ``marker``, read
    EVERY parent table so the new generation carries the whole set
    forward (a backfill that rewrote only sigs/fps would silently shed
    a sibling artifact), and enforce the full-corpus-coverage guard on
    the stored sig ids. Returns ``(snap, tables)``."""
    from inbev_data_engineering_case_spark.layers import latest_snapshot

    spark = corpus.sparkSession
    snap = latest_snapshot(state_dir, CORPUS_ARTIFACT_PREFIX)
    if os.path.isdir(os.path.join(snap, marker)):
        raise ValueError(
            f"snapshot {snap} already carries {marker_what} — nothing"
            f" to backfill; {resume_hint}"
        )
    tables = {
        name: read_parquet(spark, os.path.join(snap, name))
        for name in sorted(os.listdir(snap))
        if os.path.isdir(os.path.join(snap, name))
    }
    missing = (
        tables["sigs"]
        .select(F.col("id"))
        .distinct()
        .join(
            corpus.select(F.col(id_col).cast("long").alias("id")),
            on="id",
            how="left_anti",
        )
        .count()
    )
    if missing:
        raise ValueError(
            f"{fn_name}: {missing} stored document id(s) are"
            f" missing from the supplied corpus — {coverage_consequence};"
            " pass the FULL stored corpus text"
        )
    return snap, tables


def _stored_sig_pair_kw(
    sigs: DataFrame,
    fn_name: str,
    num_hashes: int | None,
    shingle_words: int | None,
) -> dict:
    """Derive the pair-graph hash geometry from the stored sig rows
    (``size(sig)``) and refuse an explicit mismatch — a pair graph
    from a different geometry than the one the stream maintains would
    break the union-parity contract. ``shingle_words`` is NOT recorded
    in the sig values and stays the caller's contract to match."""
    shead = sigs.select(F.size("sig").alias("_n")).first()
    stored_hashes = None if shead is None else int(shead["_n"])
    if (
        stored_hashes is not None
        and num_hashes is not None
        and num_hashes != stored_hashes
    ):
        raise ValueError(
            f"{fn_name}: stored sigs carry"
            f" num_hashes={stored_hashes} but this backfill is"
            f" configured num_hashes={num_hashes} — match the"
            " geometry (or omit num_hashes to derive it)"
        )
    pair_kw = {}
    if stored_hashes is not None:
        pair_kw["num_hashes"] = stored_hashes
    elif num_hashes is not None:
        pair_kw["num_hashes"] = num_hashes
    if shingle_words is not None:
        pair_kw["shingle_words"] = shingle_words
    return pair_kw


def backfill_gram_table(
    corpus: DataFrame,
    state_dir: str,
    gram_n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    gram_portable: bool = True,
) -> str:
    """One-time gram-table backfill for a corpus-artifact lineage that
    was maintained WITHOUT ``gram_n``: builds ``build_gram_table``
    output over the full stored corpus's text and commits it as the
    ``grams`` table of a NEW snapshot generation alongside the parent's
    sigs/fps — atomically, through the same optimistic
    ``layers.advance_snapshot`` the stream uses, so a concurrently-advancing
    stream loses the race loudly (``SnapshotConflictError``) instead of
    interleaving. After the backfill, restart the stream with
    ``gram_n`` set (and the SAME ``gram_portable``) and it advances the
    grams incrementally from there.

    ``corpus`` must carry the text of every stored document — the
    whole reason the stream refuses to seed grams mid-lineage is that
    a partial table makes containment pairs against pre-upgrade docs
    silently vanish, so this guard is load-bearing: any stored sig id
    missing from ``corpus`` raises. (Append-mode lineages keep an
    UPDATED doc's old-text sig rows; old text that no longer exists
    anywhere cannot be re-grammed — the same append-only memory caveat
    ``advance_corpus_artifacts`` documents. The guard keys on ids.)

    Returns the committed snapshot path. One corpus scan + one
    pair of parent-table rewrites — a one-time cost, never part of the
    steady-state loop."""
    from inbev_data_engineering_case_spark.operators.dedup import (
        build_gram_table,
    )

    snap, tables = _backfill_open(
        corpus,
        state_dir,
        "backfill_gram_table",
        marker="grams",
        marker_what="a grams table",
        resume_hint="run the stream with gram_n set to keep"
        " maintaining it",
        id_col=id_col,
        coverage_consequence="a partial gram table would silently drop"
        " containment pairs against those docs",
    )
    tables["grams"] = build_gram_table(
        corpus, gram_n, id_col, text_col, gram_portable
    ).dropDuplicates([id_col, "gram_h"])
    return _publish(state_dir, CORPUS_ARTIFACT_PREFIX, snap, tables)


def backfill_components_table(
    corpus: DataFrame,
    state_dir: str,
    near_dup_threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int | None = None,
    shingle_words: int | None = None,
) -> str:
    """One-time connected-components backfill for a corpus-artifact
    lineage that was maintained WITHOUT ``components=True``: computes
    the near-dup pair graph over the full stored corpus
    (``dedup.minhash_dedup_pairs`` at ``near_dup_threshold``) and the
    CONVERGED label closure, committing it as the ``comps`` table of a
    NEW snapshot generation alongside the parent's sigs/fps (and
    grams, when present) — atomically, through the same optimistic
    ``layers.advance_snapshot`` the stream uses. After the backfill, restart
    the stream with ``components=True`` (and the same banding
    geometry) and it advances the labels incrementally from there.

    Convergence matters here: a stored label must BE the minimum node
    id of its component — that is what makes
    ``dedup_components_incremental``'s contraction correct — so this
    runs ``require_convergence=True``. The same full-corpus-coverage
    guard as the gram backfill applies: any stored sig id missing from
    ``corpus`` raises (a label table that missed history's edges would
    silently mislabel every future merge through a historical
    cluster).

    Returns the committed snapshot path. One corpus banding pass +
    one closure — a one-time cost, never part of the steady-state
    loop."""
    from inbev_data_engineering_case_spark.operators.dedup import (
        dedup_components,
        minhash_dedup_pairs,
    )

    snap, tables = _backfill_open(
        corpus,
        state_dir,
        "backfill_components_table",
        marker="comps",
        marker_what="a comps table",
        resume_hint="run the stream with components=True to keep"
        " maintaining it",
        id_col=id_col,
        coverage_consequence="a label table that missed history's"
        " edges would silently mislabel future merges",
    )
    pair_kw = _stored_sig_pair_kw(
        tables["sigs"], "backfill_components_table",
        num_hashes, shingle_words,
    )
    tables["comps"] = dedup_components(
        minhash_dedup_pairs(
            corpus, text_col, id_col,
            threshold=near_dup_threshold, **pair_kw,
        ),
        require_convergence=True,
    )
    return _publish(state_dir, CORPUS_ARTIFACT_PREFIX, snap, tables)


def backfill_halo_tables(
    corpus: DataFrame,
    state_dir: str,
    benchmark: DataFrame,
    max_hops: int = 2,
    ngram: int = 8,
    near_dup_threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int | None = None,
    shingle_words: int | None = None,
) -> str:
    """One-time contamination-halo backfill for a corpus-artifact
    lineage that was maintained WITHOUT ``halo_benchmark``: computes
    the near-dup pair graph over the full stored corpus, flags it
    against ``benchmark`` (``decontaminate.contamination_report`` at
    ``ngram``), walks the batch multi-source BFS to ``max_hops``, and
    commits ``hpairs``/``hdist``/``hmeta`` as a NEW snapshot
    generation alongside the parent's tables — atomically, through
    the same optimistic ``layers.advance_snapshot`` the stream uses. After
    the backfill, restart the stream with ``halo_benchmark`` (and the
    same geometry — the ``hmeta`` row records ``max_hops``, ``ngram``,
    ``near_dup_threshold``, the effective shingle size, AND the
    effective banding hash count ``num_hashes``, and the stream
    refuses a mismatch on any of them).

    Same guards as the components backfill (one shared scaffold): the
    full-corpus-coverage check, the stored-sig geometry derivation
    (``num_hashes`` defaults to ``size(sig)``, explicit mismatch
    raises), and the already-present refusal; every parent table is
    carried forward. Returns the committed snapshot path."""
    from inbev_data_engineering_case_spark.operators.decontaminate import (
        contamination_report,
    )
    from inbev_data_engineering_case_spark.operators.dedup import (
        DEFAULT_NUM_HASHES,
        DEFAULT_SHINGLE_WORDS,
        minhash_dedup_pairs,
    )
    from inbev_data_engineering_case_spark.operators.graph import (
        multi_source_bfs,
    )

    spark = corpus.sparkSession
    snap, tables = _backfill_open(
        corpus,
        state_dir,
        "backfill_halo_tables",
        marker="hdist",
        marker_what="halo tables",
        resume_hint="run the stream with halo_benchmark to keep"
        " maintaining them",
        id_col=id_col,
        coverage_consequence="halo state that missed history's edges"
        " would silently under-reach",
    )
    pair_kw = _stored_sig_pair_kw(
        tables["sigs"], "backfill_halo_tables", num_hashes, shingle_words
    )
    # two consumers (the BFS walk and the parquet write) — pay the
    # full-corpus banding pass once
    hpairs = materialize(
        minhash_dedup_pairs(
            corpus, text_col, id_col,
            threshold=near_dup_threshold, **pair_kw,
        )
        .select("id_a", "id_b"),
        eager=True,
    )
    seeds = contamination_report(
        corpus, benchmark, n=ngram, id_col=id_col, text_col=text_col
    ).select(id_col)
    tables["hpairs"] = hpairs
    tables["hdist"] = multi_source_bfs(
        hpairs, seeds, max_hops=max_hops,
        src_col="id_a", dst_col="id_b",
    )
    tables["hmeta"] = spark.createDataFrame(
        [(
            int(max_hops),
            int(ngram),
            float(near_dup_threshold),
            int(pair_kw.get("shingle_words", DEFAULT_SHINGLE_WORDS)),
            int(pair_kw.get("num_hashes", DEFAULT_NUM_HASHES)),
        )],
        "max_hops int, ngram int, threshold double, shingle_words int,"
        " num_hashes int",
    )
    return _publish(state_dir, CORPUS_ARTIFACT_PREFIX, snap, tables)


def run_stream_artifact_update(
    docs_stream: DataFrame,
    state_dir: str,
    checkpoint: str,
    timeout: int = 300,
    id_col: str = "doc_id",
    text_col: str = "text",
    mode: str = "append",
    num_hashes: int | None = None,
    shingle_words: int | None = None,
    keep_snapshots: int | None = None,
    gram_n: int | None = None,
    gram_portable: bool = True,
    components: bool = False,
    near_dup_threshold: float = 0.5,
    halo_benchmark: DataFrame | None = None,
    halo_hops: int = 2,
    halo_ngram: int = 8,
) -> dict[str, int]:
    """Streaming maintenance of the DEDUP STATE the daily-crawl loop
    reads: each micro-batch of kept documents advances the stored
    minhash-signature and fingerprint tables through
    ``curate.advance_corpus_artifacts``, publishing BOTH under one
    atomic snapshot generation — so tomorrow's
    ``curate_incremental`` (or the next micro-batch) dedups against
    everything emitted so far without ever re-hashing history, and a
    crash can never leave the two tables at different generations.

    Replay idempotence without a marker: a REPLAYED batch (crash
    between the snapshot commit and the checkpoint write) re-applies
    to the exact same final contents — fingerprints dedup on
    ``(fp, keep_id)`` inside ``advance_corpus_artifacts`` and
    signatures dedup on ``(id, sig)`` here (same id + same text ⇒ same
    sig row; same id + NEW text is genuinely new state and appends
    under ``mode='append'`` / replaces under ``'replace'``, exactly as
    the batch operator defines). Duplicate ids within a batch collapse
    via ``dropDuplicates`` on the key first; NULL-text docs are
    DROPPED per batch (the index-updater's poison-pill rationale: one
    bad doc must not turn into a permanently replaying failed batch).

    Snapshot discipline (``_run_state_stream``, the loop the embedding
    and count streams share): each generation publishes through
    ``layers.advance_snapshot`` from the snapshot path the batch READ,
    so an interleaved writer makes the commit raise
    ``SnapshotConflictError`` instead of silently losing a delta. One
    writer per ``(state_dir, checkpoint)``; the stream publishes one
    generation per micro-batch, so ``keep_snapshots`` follows
    ``run_stream_index_update``'s serving contract (None = keep all).

    ``gram_n`` (default None = off) additionally maintains the
    containment gram table (``build_gram_table`` output, the stored
    state ``incremental_containment_pairs`` joins a new crawl
    against) in the SAME atomic snapshot — with it, every
    signature-backed dedup family's stored state advances from the
    stream: minhash sigs, exact fingerprints, and containment grams,
    all at one consistent generation. Gram rows dedup on
    ``(id, gram_h)`` for replay idempotence (a re-applied batch's
    grams are identical); under ``mode='replace'`` a changed doc's
    stale gram rows anti-join out first. ``gram_portable`` follows
    ``build_gram_table``'s hash-kind contract and rides the state.

    ``components=True`` additionally maintains the connected-
    components LABEL table (``(node, comp)`` — the near-dup cluster
    membership of everything ever emitted) in the same atomic
    snapshot: each batch's pair delta
    (``curate.incremental_minhash_pairs`` against the parent sigs at
    ``near_dup_threshold``) contracts through the stored labels via
    ``dedup.dedup_components_incremental`` — the closure runs on the
    batch-sized meta-graph, never the full pair graph, and the result
    is row-identical to re-closing the union graph (the operator's
    parity contract). Replay idempotence is structural: a re-applied
    batch's pairs are already reflected in the labels, so the
    contraction maps every edge endpoint into its own component and
    the relabel is a no-op. Like the gram table, enabling components
    on an existing lineage requires a one-time
    ``backfill_components_table`` (a label table that missed
    history's edges would silently mislabel every future merge
    through a historical cluster). The label table is append-only
    graph memory regardless of ``mode`` — un-knowing an edge would
    take a full re-closure, so ``'replace'`` never sheds label rows.

    ``halo_benchmark`` (default None = off) additionally maintains
    the CONTAMINATION-HALO state pair in the same atomic snapshot —
    the last daily artifact that only had a batch advance: per batch,
    the day's direct flags (``decontaminate.contamination_report``
    over the batch against the broadcast benchmark at ``halo_ngram``)
    and the SAME pair delta the components branch bands (one hashing
    pass when both are on) feed ``curate.advance_halo_artifacts`` —
    the stored ``hpairs`` edge artifact grows by a distinct union and
    the stored ``hdist`` distance table relaxes change-sized
    (``graph.multi_source_bfs_incremental``), row-identical to the
    from-scratch BFS over the union graph + union seeds (the
    operator's parity contract; chained-parity-tested). A 1-row
    ``hmeta`` table rides the state with the full walk/banding
    geometry ``(max_hops, ngram, near_dup_threshold, shingle_words,
    num_hashes)`` and a resume with different values RAISES before
    commit (a dist table mixes reaches — or the pair artifact mixes
    graph geometries — silently otherwise; the gram-geometry
    discipline); independently, every resume checks the stored sig
    rows' ``size(sig)`` against the configured ``num_hashes`` so even
    a halo-less lineage refuses a banding-hash-count change. Disabling a
    maintained artifact is refused as loudly as enabling one
    mid-lineage: a restart missing ``gram_n``/``components``/
    ``halo_benchmark`` on a lineage that carries the corresponding
    table raises instead of silently shedding append-only state.
    Enabling the halo on an existing lineage requires the one-time
    ``backfill_halo_tables`` (state seeded mid-lineage would miss
    every historical edge and flag). Replay idempotence is
    structural: a re-applied batch's edges are already in the
    distinct union and its flags already hold their minimal
    distances, so the relaxation is a no-op. Like the labels, halo
    state is append-only graph memory regardless of ``mode`` (an
    emitted document's contamination never un-happens). Halo state is
    externally pinned by q_daily_loop, which composes the identical
    ``advance_halo_artifacts`` with a union-parity oracle in the
    driver window.

    Returns ``query_metrics``.
    """
    from inbev_data_engineering_case_spark.operators.curate import (
        advance_corpus_artifacts,
    )
    from inbev_data_engineering_case_spark.operators.dedup import (
        DEFAULT_NUM_HASHES,
        DEFAULT_SHINGLE_WORDS,
        build_gram_table,
    )

    spark = docs_stream.sparkSession
    adv_kw = {}
    if num_hashes is not None:
        adv_kw["num_hashes"] = num_hashes
    if shingle_words is not None:
        adv_kw["shingle_words"] = shingle_words
    # the EFFECTIVE banding hash count this stream signs/bands with
    # (the operators' default when the param is omitted) — guarded
    # per batch against the stored sig rows' size(sig), so a resume
    # with a different count refuses instead of silently appending
    # mixed-geometry signatures that match nothing historical
    eff_num_hashes = (
        int(num_hashes) if num_hashes is not None else DEFAULT_NUM_HASHES
    )
    if halo_benchmark is not None:
        # the EFFECTIVE halo geometry this stream would band/walk
        # with — recorded in hmeta on every commit and compared
        # against the stored row before any commit
        halo_geo = (
            int(halo_hops),
            int(halo_ngram),
            float(near_dup_threshold),
            int(shingle_words or DEFAULT_SHINGLE_WORDS),
            eff_num_hashes,
        )

    def advance(batch_df: DataFrame, batch_id: int, parent_snap):
        batch = _cut_nonempty(batch_df, id_col, text_col)
        if batch is None:
            return None
        stored_grams = None
        stored_comps = None
        stored_hpairs = None
        stored_hdist = None
        if parent_snap is not None:
            stored_sigs = read_parquet(
                spark, os.path.join(parent_snap, "sigs")
            )
            stored_fps = read_parquet(
                spark, os.path.join(parent_snap, "fps")
            )
            # signature-geometry refusal (the gram/comps/halo guards'
            # sibling — previously only a caller contract): stored
            # sig rows carry their hash count as size(sig), so a
            # resume configured with a different num_hashes is caught
            # BEFORE it appends signatures that band in a different
            # space (they would silently match nothing historical)
            shead = stored_sigs.select(F.size("sig").alias("_n")).first()
            if shead is not None and int(shead["_n"]) != eff_num_hashes:
                raise ValueError(
                    "run_stream_artifact_update: stored sigs carry"
                    f" num_hashes={int(shead['_n'])} but this stream"
                    f" is configured num_hashes={eff_num_hashes} — a"
                    " silent mismatch would append mixed-geometry"
                    " signatures and band a different pair graph;"
                    " match the geometry or start a fresh state_dir"
                )
            if gram_n is not None:
                grams_dir = os.path.join(parent_snap, "grams")
                if not os.path.isdir(grams_dir):
                    # seeding the gram table from this batch onward
                    # would permanently omit every historical doc's
                    # grams while read_corpus_artifacts(with_grams=
                    # True) succeeded as if complete — containment
                    # pairs against pre-upgrade docs would silently
                    # vanish. Require an explicit backfill instead.
                    raise ValueError(
                        "run_stream_artifact_update: gram_n is set but"
                        f" the parent snapshot {parent_snap} has no"
                        " grams table — enabling gram maintenance on"
                        " an existing stream needs a one-time"
                        " backfill: run backfill_gram_table(corpus,"
                        " state_dir) over the FULL stored corpus (it"
                        " commits the grams alongside the stored"
                        " sigs/fps in one snapshot), then restart the"
                        " stream (or start a fresh state_dir)"
                    )
                stored_grams = read_parquet(spark, grams_dir)
                # geometry refusal before commit (the embedding/
                # classifier streams' discipline): build_gram_table
                # rides (n, portable) as state columns, and a resume
                # with different geometry would union mixed-space
                # rows — old-geometry docs then silently match
                # nothing in future containment joins
                ghead = stored_grams.select("n", "portable").first()
                if ghead is not None and (
                    ghead["n"] != gram_n
                    or ghead["portable"] != gram_portable
                ):
                    raise ValueError(
                        "run_stream_artifact_update: stored gram table"
                        f" was built with n={ghead['n']},"
                        f" portable={ghead['portable']} but this stream"
                        f" is configured gram_n={gram_n},"
                        f" gram_portable={gram_portable} — a silent"
                        " mismatch would leave historical docs"
                        " unmatched in every future containment join;"
                        " match the geometry or rebuild via"
                        " backfill_gram_table on a fresh state_dir"
                    )
            if components:
                comps_dir = os.path.join(parent_snap, "comps")
                if not os.path.isdir(comps_dir):
                    # same reasoning as the gram guard: a label table
                    # seeded mid-lineage misses every historical edge,
                    # so a future batch merging through a historical
                    # cluster would silently take the wrong label —
                    # require the explicit one-time backfill instead
                    raise ValueError(
                        "run_stream_artifact_update: components=True"
                        f" but the parent snapshot {parent_snap} has"
                        " no comps table — enabling label maintenance"
                        " on an existing stream needs a one-time"
                        " backfill: run backfill_components_table("
                        "corpus, state_dir) over the FULL stored"
                        " corpus (it commits the labels alongside the"
                        " stored sigs/fps in one snapshot), then"
                        " restart the stream (or start a fresh"
                        " state_dir)"
                    )
                stored_comps = read_parquet(spark, comps_dir)
            if halo_benchmark is not None:
                hdist_dir = os.path.join(parent_snap, "hdist")
                if not os.path.isdir(hdist_dir):
                    # same reasoning as the gram/comps guards: halo
                    # state seeded mid-lineage misses every historical
                    # edge and flag — a later near-dup of an old
                    # contaminated doc would silently stay out of the
                    # dist table. Require the explicit backfill.
                    raise ValueError(
                        "run_stream_artifact_update: halo_benchmark is"
                        f" set but the parent snapshot {parent_snap}"
                        " has no halo tables — enabling halo"
                        " maintenance on an existing stream needs a"
                        " one-time backfill: run backfill_halo_tables("
                        "corpus, state_dir, benchmark) over the FULL"
                        " stored corpus, then restart the stream (or"
                        " start a fresh state_dir)"
                    )
                stored_hpairs = read_parquet(
                    spark, os.path.join(parent_snap, "hpairs")
                )
                stored_hdist = read_parquet(spark, hdist_dir)
                from inbev_data_engineering_case_spark.operators.curate import (  # noqa: E501
                    unpack_halo_meta,
                )

                stored_geo = unpack_halo_meta(
                    read_parquet(spark, os.path.join(parent_snap, "hmeta")),
                    "run_stream_artifact_update",
                )
                if stored_geo != halo_geo:
                    raise ValueError(
                        "run_stream_artifact_update: stored halo state"
                        " was built with (max_hops, ngram, threshold,"
                        " shingle_words,"
                        f" num_hashes)={stored_geo} but this stream"
                        f" is configured {halo_geo} — a silent"
                        " mismatch would mix reaches (or pair-graph"
                        " geometries) in the append-only state; match"
                        " the geometry or rebuild via"
                        " backfill_halo_tables on a fresh state_dir"
                    )
            # DISABLING a maintained artifact must be as loud as
            # enabling one: a restart without the option would write
            # the next generation without its table, silently shedding
            # append-only graph memory that can only be recovered by a
            # full-corpus backfill
            for opt_off, table, flag in (
                (gram_n is None, "grams", "gram_n"),
                (not components, "comps", "components=True"),
                (halo_benchmark is None, "hdist", "halo_benchmark"),
            ):
                if opt_off and os.path.isdir(
                    os.path.join(parent_snap, table)
                ):
                    raise ValueError(
                        "run_stream_artifact_update: the parent"
                        f" snapshot {parent_snap} carries a {table}"
                        f" table but this stream runs without {flag} —"
                        " committing a generation without it would"
                        " silently shed append-only state that only a"
                        " full-corpus backfill can rebuild; pass"
                        f" {flag} (or deliberately start a fresh"
                        " state_dir)"
                    )
        else:  # first generation ever
            stored_sigs = spark.createDataFrame(
                [], "id long, sig array<bigint>"
            )
            stored_fps = spark.createDataFrame([], "fp long, keep_id long")
            if components:
                stored_comps = spark.createDataFrame(
                    [], "node long, comp long"
                )
            if halo_benchmark is not None:
                stored_hpairs = spark.createDataFrame(
                    [], "id_a long, id_b long"
                )
                stored_hdist = spark.createDataFrame(
                    [], "node long, dist int"
                )
        batch_sigs = None
        if components or halo_benchmark is not None:
            # the batch is hashed ONCE: these signatures feed both the
            # sig-artifact advance and the pair delta below. The
            # parallelism guard matters here exactly as in the pairs
            # path it replaces — a 1-2-split micro-batch would pin the
            # compute-bound shingle+hash stage to 1-2 cores
            from inbev_data_engineering_case_spark.operators.dedup import (
                _ensure_parallelism,
                minhash_signatures,
            )

            batch_sigs = materialize(
                minhash_signatures(
                    _ensure_parallelism(batch), text_col, id_col, **adv_kw
                ),
                eager=True,
            )
        sigs, fps = advance_corpus_artifacts(
            batch, stored_sigs, stored_fps,
            text_col=text_col, id_col=id_col, mode=mode,
            kept_sigs=batch_sigs, **adv_kw,
        )
        # replay safety for append mode: an identical re-applied batch
        # contributes only rows that already exist — drop them here
        # (fps already dedup on (fp, keep_id) inside the operator)
        tables = {"sigs": sigs.dropDuplicates(["id", "sig"]), "fps": fps}
        if gram_n is not None:
            new_grams = build_gram_table(
                batch, gram_n, id_col, text_col, gram_portable
            )
            if stored_grams is None:
                grams = new_grams
            else:
                old = stored_grams
                if mode == "replace":
                    old = old.join(
                        batch.select(F.col(id_col)), id_col, "left_anti"
                    )
                grams = old.unionByName(new_grams)
            tables["grams"] = grams.dropDuplicates([id_col, "gram_h"])
        if components or halo_benchmark is not None:
            from inbev_data_engineering_case_spark.operators.curate import (
                incremental_minhash_pairs,
            )

            # the batch's pair delta against the PARENT sigs (the
            # batch's own sigs are not in them yet; on a replay they
            # are, and the self-pair guard + distinct make the pair
            # set identical either way — the idempotence argument in
            # the docstring). new_sigs reuses the one hashing pass
            # already paid for the sig advance above; the label
            # contraction and the halo advance consume the SAME delta.
            pairs = incremental_minhash_pairs(
                batch,
                stored_sigs,
                text_col=text_col,
                id_col=id_col,
                threshold=near_dup_threshold,
                new_sigs=batch_sigs,
                **adv_kw,
            )
            # the iterative consumers (the label contraction's closure
            # loop, the BFS relaxation's two eagerly-truncated edge
            # reads) each re-evaluate their input per reference —
            # materialize the delta-sized table once, unconditionally
            pairs = materialize(pairs, eager=True)
        if components:
            from inbev_data_engineering_case_spark.operators.dedup import (
                dedup_components_incremental,
            )

            tables["comps"] = dedup_components_incremental(
                stored_comps, pairs
            )
        if halo_benchmark is not None:
            from inbev_data_engineering_case_spark.operators.curate import (
                advance_halo_artifacts,
            )
            from inbev_data_engineering_case_spark.operators.decontaminate import (  # noqa: E501
                contamination_report,
            )

            new_seeds = contamination_report(
                batch,
                halo_benchmark,
                n=halo_ngram,
                id_col=id_col,
                text_col=text_col,
            ).select(id_col)
            tables["hpairs"], tables["hdist"] = advance_halo_artifacts(
                stored_hpairs,
                stored_hdist,
                pairs,
                new_seeds,
                max_hops=halo_hops,
            )
            tables["hmeta"] = spark.createDataFrame(
                [halo_geo],
                "max_hops int, ngram int, threshold double,"
                " shingle_words int, num_hashes int",
            )
        return tables

    return _run_state_stream(
        docs_stream, state_dir, checkpoint, timeout,
        CORPUS_ARTIFACT_PREFIX, advance, keep_snapshots,
        "artifact-update stream",
    )


EMBEDDING_ARTIFACT_PREFIX = "embart"


def read_embedding_artifacts(spark: SparkSession, state_dir: str):
    """``(vectors, buckets)`` — the NORMALIZED sign-LSH state pair
    (``build_embedding_sig_tables_normalized`` shape) from the latest
    committed embedding-artifact snapshot, exactly what
    ``incremental_embedding_near_dup_normalized`` consumes. Raises
    ``FileNotFoundError`` when no snapshot has ever committed."""
    from inbev_data_engineering_case_spark.layers import latest_snapshot

    snap = latest_snapshot(state_dir, EMBEDDING_ARTIFACT_PREFIX)
    return (
        read_parquet(spark, os.path.join(snap, "vectors")),
        read_parquet(spark, os.path.join(snap, "buckets")),
    )


def run_stream_embedding_update(
    emb_stream: DataFrame,
    state_dir: str,
    checkpoint: str,
    timeout: int = 300,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    mode: str = "append",
    num_planes: int = 8,
    n_probes: int = 1,
    keep_snapshots: int | None = None,
) -> dict[str, int]:
    """Streaming maintenance of the EMBEDDING dedup state — the last
    signature-backed family whose stored tables weren't
    stream-advanced (``run_stream_artifact_update`` covers minhash
    sigs, exact fingerprints, and containment grams): each micro-batch
    of vectors hashes through
    ``build_embedding_sig_tables_normalized`` and advances the
    NORMALIZED ``(vectors, buckets)`` pair, publishing both under one
    atomic snapshot generation — so the next crawl's
    ``incremental_embedding_near_dup_normalized`` runs against
    everything streamed so far without ever re-hashing history, and a
    crash can never leave the two tables at different generations.

    The disciplines — and the loop, ``_run_state_stream`` — are
    ``run_stream_artifact_update``'s:
    replay idempotence without a marker (vectors dedup on ``(id, v)``,
    buckets on their full row — a re-applied batch recreates identical
    rows; a same-id different-vector row is genuinely new state under
    ``'append'`` and replaces under ``'replace'``, the batch
    operator's delete+insert contract); duplicate ids within a batch
    collapse first; NULL-vector rows drop per batch (the poison-pill
    rationale); each generation publishes from the snapshot actually
    READ (the TOCTOU rule — an interleaved writer raises
    ``SnapshotConflictError`` instead of losing a delta). The build
    geometry rides the bucket rows; resuming a stream with DIFFERENT
    ``num_planes``/``n_probes`` than the stored state raises before
    anything commits (a silent mismatch would mis-bucket every stored
    row and lose recall with no error — the CMS wrong-geometry
    discipline).

    Returns ``query_metrics``.
    """
    from inbev_data_engineering_case_spark.operators.dedup import (
        build_embedding_sig_tables_normalized,
    )

    if mode not in ("append", "replace"):
        # the artifact twin gets this check from advance_corpus_
        # artifacts; a typo'd mode here would otherwise silently run
        # as append and accumulate stale rows for re-embedded docs
        raise ValueError(
            f"run_stream_embedding_update: mode must be 'append' or"
            f" 'replace', got {mode!r}"
        )

    spark = emb_stream.sparkSession

    def advance(batch_df: DataFrame, batch_id: int, parent_snap):
        batch = _cut_nonempty(batch_df, id_col, vec_col)
        if batch is None:
            return None
        vectors, buckets = build_embedding_sig_tables_normalized(
            batch, num_planes, n_probes, id_col, vec_col
        )
        if parent_snap is not None:
            old_v = read_parquet(spark, os.path.join(parent_snap, "vectors"))
            old_b = read_parquet(spark, os.path.join(parent_snap, "buckets"))
            head = old_b.select("num_planes", "n_probes").first()
            if head is not None and (
                head["num_planes"] != num_planes
                or head["n_probes"] != n_probes
            ):
                raise ValueError(
                    "run_stream_embedding_update: stored state was built"
                    f" with num_planes={head['num_planes']},"
                    f" n_probes={head['n_probes']} but this stream is"
                    f" configured num_planes={num_planes},"
                    f" n_probes={n_probes} — a silent mismatch would"
                    " mis-bucket every stored row; rebuild the state or"
                    " match the geometry"
                )
            if mode == "replace":
                ids = batch.select(F.col(id_col).alias("id"))
                old_v = old_v.join(ids, "id", "left_anti")
                old_b = old_b.join(ids, "id", "left_anti")
            vectors = old_v.unionByName(vectors)
            buckets = old_b.unionByName(buckets)
        # replay safety: a re-applied batch contributes only rows that
        # already exist — drop them here
        return {
            "vectors": vectors.dropDuplicates(["id", "v"]),
            "buckets": buckets.dropDuplicates(["seed", "id", "bucket"]),
        }

    return _run_state_stream(
        emb_stream, state_dir, checkpoint, timeout,
        EMBEDDING_ARTIFACT_PREFIX, advance, keep_snapshots,
        "embedding-artifact stream",
    )


CLASSIFIER_ARTIFACT_PREFIX = "clfart"


def read_classifier_counts(spark: SparkSession, state_dir: str) -> DataFrame:
    """The classifier's additive count statistics
    (``classify.train_bow_counts`` shape) from the latest committed
    classifier-artifact snapshot — feed to
    ``classify.bow_weights_from_counts`` to derive the scoring model
    in one model-sized pass. Raises ``FileNotFoundError`` when no
    snapshot has ever committed. The stream loop records the schema of
    the counts it writes (``write_parquet``), so in the session that
    committed the snapshot this read launches no Spark job."""
    from inbev_data_engineering_case_spark.layers import latest_snapshot

    snap = latest_snapshot(state_dir, CLASSIFIER_ARTIFACT_PREFIX)
    return read_parquet(spark, os.path.join(snap, "counts"))


def run_stream_classifier_update(
    labeled_stream: DataFrame,
    state_dir: str,
    checkpoint: str,
    timeout: int = 300,
    label_col: str = "label",
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int | None = None,
    keep_snapshots: int | None = None,
) -> dict[str, int]:
    """Streaming maintenance of the hashed-BOW classifier's COUNT
    STATISTICS: each micro-batch of labeled documents trains
    ``classify.train_bow_counts`` on the batch alone and
    ``merge_bow_counts``-folds it into the stored table, publishing
    one atomic snapshot generation per batch — so the
    scoring model re-derives from the latest snapshot at any time
    (``bow_weights_from_counts``, model-sized) while historical text
    is never re-tokenized. The last signature-backed artifact family
    to go stream-maintained, joining minhash sigs, fingerprints,
    containment grams, and the embedding pair.

    Replay discipline DIFFERS from the other artifact streams and is
    the reason for the ``meta.json`` sidecar: counts are ADDITIVE, so a
    replayed batch (crash between snapshot commit and checkpoint write)
    cannot be made idempotent by row-level dedup — re-merging would
    double-count every token. Each snapshot therefore records the
    ``batch_id`` that produced it — together with the CHECKPOINT
    string (as passed, verbatim — keep one stable spelling across
    runs), which is thereby part of the state's lineage, and
    ``n_buckets`` — in a ``meta.json`` file beside ``counts``, published
    by the same atomic rename. The guards read that file on the
    driver, so they launch no Spark job: a replayed batch is skipped
    before its input is even cut. A batch at or below the recorded id
    under the SAME checkpoint is SKIPPED (its counts are already folded in); a
    DIFFERENT checkpoint against existing state RAISES, because a
    fresh checkpoint restarts batch ids at 0 and the skip guard would
    otherwise silently drop genuinely new batches (the other artifact
    streams tolerate checkpoint swaps only because their states dedup
    on natural keys, which additive counts cannot). Keep one
    checkpoint for the life of the ``state_dir``; ``availableNow``
    re-runs through it pick up exactly the new files. Duplicate ids
    within a batch collapse first; NULL-text/label rows drop per
    batch (poison-pill rationale).

    Geometry refusal before commit (the embedding stream's
    discipline): ``n_buckets`` defaults to the sidecar's value
    when state exists (``classify.DEFAULT_N_BUCKETS`` on the first
    generation); passing a different explicit value raises — a silent
    mismatch would hash every future token into the wrong space. A
    state dir whose latest snapshot has no ``meta.json`` (the older
    ``meta`` parquet layout) raises ``ValueError`` naming the dir.

    One-class batches are fine at the counts level (the priors row
    simply accumulates one side); ``bow_weights_from_counts`` raises
    only if the TOTAL history is still one-class. Returns
    ``query_metrics``."""
    from inbev_data_engineering_case_spark.operators.classify import (
        merge_bow_counts,
        train_bow_counts,
    )

    def train(batch: DataFrame, buckets: int) -> DataFrame:
        return train_bow_counts(
            batch, label_col, text_col, id_col, n_buckets=buckets
        )

    return _run_stream_counts_update(
        labeled_stream,
        state_dir,
        checkpoint,
        timeout=timeout,
        fn_name="run_stream_classifier_update",
        prefix=CLASSIFIER_ARTIFACT_PREFIX,
        text_col=text_col,
        label_col=label_col,
        id_col=id_col,
        train=train,
        merge=merge_bow_counts,
        n_buckets=n_buckets,
        keep_snapshots=keep_snapshots,
    )


COUNTS_META = "meta.json"


def _counts_meta(snap: str, state_dir: str, fn_name: str) -> dict:
    """The ``{"batch_id", "checkpoint", "n_buckets"}`` sidecar of a
    committed counts snapshot, read as a plain file (no Spark job). A
    snapshot without it was written by the older layout (a 1-row
    ``meta`` parquet table); it raises rather than passing for a first
    generation, which would silently restart the counts from zero."""
    try:
        with open(os.path.join(snap, COUNTS_META)) as f:
            return json.load(f)
    except FileNotFoundError:
        raise ValueError(
            f"{fn_name}: state dir {state_dir!r} holds snapshot"
            f" {os.path.basename(snap)!r} without a {COUNTS_META} sidecar"
            " (the older layout recorded batch_id/checkpoint in a meta"
            " parquet table); start a fresh state_dir and re-stream the"
            " labeled history"
        ) from None


def _run_stream_counts_update(
    labeled_stream: DataFrame,
    state_dir: str,
    checkpoint: str,
    timeout: int,
    fn_name: str,
    prefix: str,
    text_col: str,
    label_col: str,
    id_col: str,
    train,
    merge,
    n_buckets: int | None,
    keep_snapshots: int | None,
) -> dict[str, int]:
    """The additive-count artifact streams' ONE guard chain (binary and
    multiclass twins delegate here, so checkpoint lineage, replay skip
    and geometry refusal are defined once), run on ``_run_state_stream``.
    Per batch: checkpoint-lineage refusal → geometry refusal → replay
    skip, all read from the parent snapshot's ``meta.json`` sidecar (a
    file read, no Spark job, so a replayed batch launches none) →
    null-filter + per-batch id dedup, cut once with its row count
    observed (an empty batch stops here) → train-on-batch → additive
    merge → one snapshot holding ``counts`` and the sidecar."""
    from inbev_data_engineering_case_spark.operators.classify import (
        DEFAULT_N_BUCKETS,
    )

    spark = labeled_stream.sparkSession

    def advance(batch_df: DataFrame, batch_id: int, parent_snap):
        # the RAW checkpoint string is the lineage key: abspath would
        # make it cwd-dependent for relative paths and mangle URI
        # checkpoints (s3a://...), spuriously refusing valid resumes.
        # Pass the same spelling across runs — the refusal message
        # shows both strings when they differ.
        if parent_snap is None:
            stored = None
            buckets = n_buckets or DEFAULT_N_BUCKETS
        else:
            meta = _counts_meta(parent_snap, state_dir, fn_name)
            if meta["checkpoint"] != checkpoint:
                raise ValueError(
                    f"{fn_name}: stored counts were"
                    f" maintained under checkpoint"
                    f" {meta['checkpoint']!r} but this stream runs"
                    f" under {checkpoint!r} — batch ids from a fresh"
                    " checkpoint restart at 0, so the replay guard"
                    " would silently skip new batches; keep the"
                    " original checkpoint (availableNow re-runs pick"
                    " up new files) or start a fresh state_dir"
                )
            # geometry check BEFORE the replay-skip: a stream restarted
            # with a mismatched explicit n_buckets must raise on its
            # very first (possibly replayed) batch, not only once a
            # genuinely new batch arrives
            buckets = int(meta["n_buckets"])
            if n_buckets is not None and n_buckets != buckets:
                raise ValueError(
                    f"{fn_name}: stored counts were"
                    f" hashed into n_buckets={buckets} but this stream"
                    f" is configured n_buckets={n_buckets} — a silent"
                    " mismatch would hash every future token into the"
                    " wrong space; match the geometry or start a fresh"
                    " state_dir"
                )
            if batch_id <= meta["batch_id"]:
                return None  # replayed: its counts are already folded in
            stored = read_parquet(
                spark, os.path.join(parent_snap, "counts")
            )
        # id nulls are legal to the hash; text/label nulls are not
        batch = _cut_nonempty(batch_df, id_col, text_col, label_col)
        if batch is None:
            return None
        delta = train(batch, buckets)
        return {
            "counts": merge(stored, delta) if stored is not None else delta,
            COUNTS_META: {
                "batch_id": int(batch_id),
                "checkpoint": checkpoint,
                "n_buckets": buckets,
            },
        }

    # refuse an older-layout state dir before the stream starts
    parent_snap = _parent_snapshot(state_dir, prefix)
    if parent_snap is not None:
        _counts_meta(parent_snap, state_dir, fn_name)
    return _run_state_stream(
        labeled_stream, state_dir, checkpoint, timeout, prefix, advance,
        keep_snapshots, f"counts-artifact stream ({prefix})",
    )


MULTICLASS_ARTIFACT_PREFIX = "mclfart"


def read_multiclass_counts(
    spark: SparkSession, state_dir: str
) -> DataFrame:
    """The multi-class classifier's additive count statistics
    (``classify.multiclass_bow_counts`` shape) from the latest
    committed snapshot — feed to
    ``classify.multiclass_bow_weights_from_counts`` to derive the
    K-class scoring model in one model-sized pass. Raises
    ``FileNotFoundError`` when no snapshot has ever committed. Like
    ``read_classifier_counts``, it infers no schema in the session that
    committed the snapshot."""
    from inbev_data_engineering_case_spark.layers import latest_snapshot

    snap = latest_snapshot(state_dir, MULTICLASS_ARTIFACT_PREFIX)
    return read_parquet(spark, os.path.join(snap, "counts"))


def run_stream_multiclass_update(
    labeled_stream: DataFrame,
    state_dir: str,
    checkpoint: str,
    timeout: int = 300,
    class_col: str = "label",
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int | None = None,
    keep_snapshots: int | None = None,
) -> dict[str, int]:
    """Streaming maintenance of the MULTI-CLASS classifier's count
    statistics — the binary twin's discipline applied to the
    per-(class, bucket) table (``classify.multiclass_bow_counts`` /
    ``merge_multiclass_bow_counts``), so a daily-loop K-class tagger
    advances from each labeled micro-batch instead of retraining from
    scratch (the r13 VERDICT gap): each batch trains its own delta
    and folds it into the stored counts under one atomic snapshot
    generation; ``multiclass_bow_weights_from_counts`` re-derives the
    argmax model from the latest snapshot at any time, byte-identical
    to full retraining over every streamed document (the additive
    contract, parity-tested).

    Shares the binary twin's ENTIRE guard chain
    (``_run_stream_counts_update`` — defined once): additive counts
    cannot row-dedup a replay, so each snapshot records its producing
    ``(batch_id, checkpoint)`` and a batch at or below the recorded id
    under the SAME checkpoint is skipped, while a different checkpoint
    against existing state raises; the sidecar's ``n_buckets`` pins the
    hash geometry and an explicit mismatch raises before any commit
    (the guards read ``meta.json``, not a Spark table, and launch no
    job); NULL-text/label rows drop per batch and
    duplicate ids within a batch collapse first. New classes simply
    appear as new (class, bucket) rows in the fold — K is data, not
    geometry. One-class history is fine at the counts level;
    ``multiclass_bow_weights_from_counts`` raises on fewer than two
    classes at derive time. Returns ``query_metrics``."""
    from inbev_data_engineering_case_spark.operators.classify import (
        merge_multiclass_bow_counts,
        multiclass_bow_counts,
    )

    def train(batch: DataFrame, buckets: int) -> DataFrame:
        return multiclass_bow_counts(
            batch, class_col, text_col, id_col, n_buckets=buckets
        )

    return _run_stream_counts_update(
        labeled_stream,
        state_dir,
        checkpoint,
        timeout=timeout,
        fn_name="run_stream_multiclass_update",
        prefix=MULTICLASS_ARTIFACT_PREFIX,
        text_col=text_col,
        label_col=class_col,
        id_col=id_col,
        train=train,
        merge=merge_multiclass_bow_counts,
        n_buckets=n_buckets,
        keep_snapshots=keep_snapshots,
    )
