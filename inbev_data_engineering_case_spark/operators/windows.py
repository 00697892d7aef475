"""Window-function and event-time-window operators.

Absent from the reference (SURVEY.md §2.6); added per the §7 build plan:
ranking windows for "top category per group" gold views and tumbling
event-time windows over the ``events`` table (batch form here; the streaming
twin lives in ``streaming/events.py``).

Scale notes:
- A ranking window shuffles once on its partition key, same as a groupBy.
  Always rank with a deterministic tiebreak column — nondeterministic row
  order under retries/AQE otherwise changes results between runs.
- Tumbling windows via ``date_trunc``/``window`` are pure projection —
  **no shuffle** until the downstream aggregation, and the aggregation
  shuffles on (bucket, key) which is naturally well-distributed over time.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def top_k_per_group(
    df: DataFrame,
    partition_keys: list[str],
    order_by: list[Column],
    k: int,
    rank_alias: str = "rank",
) -> DataFrame:
    """row_number() ranking within each partition, keep rows with rank<=k.
    ``order_by`` must end with a unique tiebreak column for determinism."""
    w = Window.partitionBy(*partition_keys).orderBy(*order_by)
    return (
        df.withColumn(rank_alias, F.row_number().over(w))
        .filter(F.col(rank_alias) <= k)
    )


def tumbling_window_agg(
    events: DataFrame,
    ts_col: str,
    duration: str,
    keys: list[str],
    aggs: list[Column],
    bucket_alias: str = "window_start",
) -> DataFrame:
    """Batch tumbling window: truncate the timestamp to its bucket, then
    groupBy (bucket, keys). ``duration`` is a date_trunc unit ('hour', 'day',
    'week', ...). Equivalent to ``F.window(ts, '1 hour').start`` for
    unit-aligned tumbling windows, but cheaper to express and to oracle."""
    bucketed = events.withColumn(bucket_alias, F.date_trunc(duration, F.col(ts_col)))
    return bucketed.groupBy(bucket_alias, *keys).agg(*aggs)


def sliding_window_agg(
    events: DataFrame,
    ts_col: str,
    window_duration: str,
    slide_duration: str,
    keys: list[str],
    aggs: list[Column],
) -> DataFrame:
    """Sliding window via ``F.window`` (each row lands in window/slide
    buckets); exposes window start/end as columns."""
    w = F.window(F.col(ts_col), window_duration, slide_duration)
    return (
        events.groupBy(w.alias("w"), *keys)
        .agg(*aggs)
        .withColumn("window_start", F.col("w.start"))
        .withColumn("window_end", F.col("w.end"))
        .drop("w")
    )
