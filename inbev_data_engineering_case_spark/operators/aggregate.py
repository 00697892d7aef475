"""Aggregation operators: the money-safe aggregate family the extension
queries use (the reference's group-count, OP-17, is
``operators.medallion.silver_to_gold``).

Scale notes:
- Every groupBy here compiles to partial+final HashAggregate — map-side
  combine cuts shuffle volume by the group cardinality ratio, which is the
  difference between shuffling 100 TB and shuffling megabytes.
- Money aggregates go through ``decimal(18,2)`` (see ``functions.dsum``):
  float partial-aggregation order is nondeterministic under AQE/speculation,
  decimal is exact and therefore stable run-to-run and engine-to-engine.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from inbev_data_engineering_case_spark.functions import (
    charge,
    davg,
    disc_price,
    dsum,
    xsum,
)


def pricing_summary(lineitem: DataFrame, ship_before: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary over lineitem — the canonical
    "aggregate 100 TB down to a screenful" query. Single shuffle over a
    4-value key space; virtually all work happens map-side."""
    return (
        lineitem.filter(F.col("l_shipdate") <= F.lit(ship_before).cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", "sum_qty"),
            dsum("l_extendedprice", "sum_base_price"),
            xsum(disc_price(), "sum_disc_price"),
            xsum(charge(), "sum_charge"),
            davg("l_quantity", "avg_qty"),
            davg("l_extendedprice", "avg_price"),
            davg("l_discount", "avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def grouped_stats(
    df: DataFrame, keys: list[str], value: str | Column, prefix: str
) -> DataFrame:
    """min/max/sum/avg/count bundle for a numeric column per key tuple."""
    c = F.col(value) if isinstance(value, str) else value
    return df.groupBy(*keys).agg(
        F.count("*").alias(f"{prefix}_count"),
        F.min(c).alias(f"{prefix}_min"),
        F.max(c).alias(f"{prefix}_max"),
        dsum(c, f"{prefix}_sum"),
        davg(c, f"{prefix}_avg"),
    )
