"""Probe: range distinct-counts from stored sketch partials cost
O(buckets), not O(events).

The sketch-rollup design (operators/sketches.py) writes one fixed-size
HLL sketch row per (group, day) and answers any date-range distinct
count by union-merging the covered sketch rows. This probe quantifies
the claim at sf0.1: answer a set of rolling range queries (a) the naive
way — exact count(DISTINCT) re-scanning raw events per range — and
(b) from a stored partial table, and report the stored-state size the
partials actually occupy.

At this toy scale both paths are fast; the structural numbers are the
point: the partial table is a few hundred KB regardless of event volume,
and the rollup path's input rows per query = covered buckets (tens),
versus the raw path's full event scan per query. At 100 TB those scans
ARE the cost, and the partial path's per-query work is unchanged.

Usage: python tools/sketch_scale_probe.py [n_range_queries]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    import datetime

    from pyspark.sql import functions as F

    from inbev_data_engineering_case_spark.operators.sketches import (
        rollup_estimate,
        sketch_partials,
    )
    from inbev_data_engineering_case_spark.session import get_spark
    from inbev_data_engineering_case_spark.sources.readers import read_events

    n_queries = int(sys.argv[1]) if len(sys.argv) > 1 else 8
    spark = get_spark("sketch-probe")
    spark.sparkContext.setLogLevel("ERROR")

    events = read_events(spark, "/root/testdata/sf0.1")
    n_events = events.count()

    # build + store the partials once (the daily-append step)
    t0 = time.perf_counter()
    partials = sketch_partials(events).cache()
    n_buckets = partials.count()
    build_s = time.perf_counter() - t0
    state_bytes = sum(
        len(r["sketch"]) for r in partials.select("sketch").collect()
    )

    # rolling 7-day windows, one per query
    base = datetime.datetime(2024, 1, 1)
    ranges = [
        (base + datetime.timedelta(days=i), base + datetime.timedelta(days=i + 7))
        for i in range(n_queries)
    ]

    t0 = time.perf_counter()
    for lo, hi in ranges:
        events.filter((F.col("ts") >= lo) & (F.col("ts") < hi)).agg(
            F.countDistinct("user_id", "event_type")
        ).collect()
    raw_s = time.perf_counter() - t0

    t0 = time.perf_counter()
    for lo, hi in ranges:
        rollup_estimate(
            partials.filter(
                (F.col("bucket_ts") >= lo) & (F.col("bucket_ts") < hi)
            )
        ).collect()
    partial_s = time.perf_counter() - t0

    print(
        f"sketch-probe sf0.1: events={n_events} partial_rows={n_buckets} "
        f"partial_state_bytes={state_bytes} build_once={build_s:.2f}s | "
        f"{n_queries} range queries: raw_rescan={raw_s:.2f}s "
        f"from_partials={partial_s:.2f}s "
        f"(per-query input: {n_events} rows vs <= {n_buckets} sketch rows)"
    )


if __name__ == "__main__":
    main()
