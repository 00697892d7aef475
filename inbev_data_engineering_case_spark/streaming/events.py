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
- ``run_stream_classifier_update`` / ``run_stream_multiclass_update`` ⇔
  ``classify.train_bow_counts`` / ``multiclass_bow_counts``: the module's
  snapshot-chain writers — each micro-batch folds its counts into the
  stored table and publishes one generation through
  ``layers.advance_snapshot``.

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
    double as a per-batch history for debugging/time travel.

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


def _parent_snapshot(state_dir: str, prefix: str) -> str | None:
    """The latest committed ``prefix`` snapshot under ``state_dir``, or
    None before the first commit."""
    from inbev_data_engineering_case_spark.layers import latest_snapshot

    try:
        return latest_snapshot(state_dir, prefix)
    except FileNotFoundError:  # first generation ever
        return None


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
    is never re-tokenized.

    The ``meta.json`` sidecar carries the replay discipline: counts are
    ADDITIVE, so a replayed batch (crash between snapshot commit and
    checkpoint write) cannot be made idempotent by row-level dedup —
    re-merging would double-count every token. Each snapshot therefore
    records the ``batch_id`` that produced it — together with the
    CHECKPOINT string (as passed, verbatim — keep one stable spelling
    across runs), which is thereby part of the state's lineage, and
    ``n_buckets`` — in a ``meta.json`` file beside ``counts``, published
    by the same atomic rename. The guards read that file on the driver,
    so they launch no Spark job: a replayed batch is skipped before its
    input is even cut. A batch at or below the recorded id under the
    SAME checkpoint is SKIPPED (its counts are already folded in); a
    DIFFERENT checkpoint against existing state RAISES, because a fresh
    checkpoint restarts batch ids at 0 and the skip guard would
    otherwise silently drop genuinely new batches (a state that dedups
    on natural keys could tolerate a checkpoint swap; additive counts
    cannot). Keep one checkpoint for the life of the ``state_dir``;
    ``availableNow`` re-runs through it pick up exactly the new files.
    Duplicate ids within a batch collapse first; NULL-text/label rows
    drop per batch (poison-pill rationale).

    Geometry refusal before commit: ``n_buckets`` defaults to the
    sidecar's value when state exists (``classify.DEFAULT_N_BUCKETS`` on
    the first generation); passing a different explicit value raises — a
    silent mismatch would hash every future token into the wrong space.
    A state dir whose latest snapshot has no ``meta.json`` (the older
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
    """The additive-count artifact streams' ONE loop (binary and
    multiclass twins delegate here, so checkpoint lineage, replay skip
    and geometry refusal are defined once). Per micro-batch: resolve the
    parent snapshot → checkpoint-lineage refusal → geometry refusal →
    replay skip, all read from the parent snapshot's ``meta.json``
    sidecar (a file read, no Spark job, so a replayed batch launches
    none) → null-filter + per-batch id dedup, cut once with its row
    count observed (an empty batch stops here) → train-on-batch →
    additive merge → one snapshot holding ``counts`` and the sidecar,
    published through ``layers.advance_snapshot`` from the snapshot the
    batch READ, so an interleaved writer makes it raise
    ``SnapshotConflictError`` instead of silently losing a delta. One
    writer per ``(state_dir, checkpoint)``; one generation per
    micro-batch, pruned to ``keep_snapshots`` (None keeps all). Returns
    ``query_metrics``."""
    from inbev_data_engineering_case_spark.layers import advance_snapshot
    from inbev_data_engineering_case_spark.operators.classify import (
        DEFAULT_N_BUCKETS,
    )

    spark = labeled_stream.sparkSession

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        parent_snap = _parent_snapshot(state_dir, prefix)
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
                return  # replayed: its counts are already folded in
            stored = read_parquet(
                spark, os.path.join(parent_snap, "counts")
            )
        # id nulls are legal to the hash; text/label nulls are not
        batch = _cut_nonempty(batch_df, id_col, text_col, label_col)
        if batch is None:
            return
        delta = train(batch, buckets)
        counts = merge(stored, delta) if stored is not None else delta
        sidecar = {
            "batch_id": int(batch_id),
            "checkpoint": checkpoint,
            "n_buckets": buckets,
        }

        def write_all(staging: str) -> None:
            # one rename publishes both, so a crash never leaves the
            # counts and their sidecar at different generations
            os.makedirs(staging)
            write_parquet(counts, os.path.join(staging, "counts"))
            with open(os.path.join(staging, COUNTS_META), "w") as f:
                json.dump(sidecar, f)

        advance_snapshot(
            state_dir, prefix, parent_snap, write_all, keep_snapshots
        )

    # refuse an older-layout state dir before the stream starts
    parent_snap = _parent_snapshot(state_dir, prefix)
    if parent_snap is not None:
        _counts_meta(parent_snap, state_dir, fn_name)
    return _drain(
        labeled_stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint),
        timeout,
        f"counts-artifact stream ({prefix}) to {state_dir}",
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
