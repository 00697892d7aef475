"""The reference's analytical payload as composable DataFrame transforms:
bronze→silver cleansing (OP-10..OP-16) and silver→gold aggregation (OP-17).

Each function is ``DataFrame -> DataFrame`` — pure logical-plan construction.
Catalyst collapses the chained projections into a single Project over the
scan (CollapseProject) and prunes unread columns into the scan (SURVEY.md
§3.2-3.3, §4.2). Silver and gold each run one exchange: silver's write
repartitions by (country, state); gold clusters its input by country
(``pipeline.run_gold``), which serves both the aggregate and the write.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from inbev_data_engineering_case_spark.operators.normalize import (
    MOJIBAKE_RULES,
    clean_text,
    normalize_location,
    repair_mojibake,
)
from inbev_data_engineering_case_spark.schemas import SILVER_COLUMNS

LOCATION_KEYS = ["city", "state", "country"]


def bronze_to_silver(bronze: DataFrame, cast_coordinates: bool = True) -> DataFrame:
    """The full silver cleansing chain, in the reference's exact order
    (reference data_transformations_bronze_to_silver.py:86-110):

    1. project to the 8 silver columns (OP-10),
    2. trim/lower/dash the location keys (OP-11, OP-16),
    3. apply the mojibake repair rule table (OP-12),
    4. clean_text (strip ``\\p{Pc}``, fold accents) on the location keys (OP-14).

    Engine upgrade: longitude/latitude cast to double (SURVEY.md §1.4) unless
    ``cast_coordinates=False`` (exact reference parity).
    """
    df = bronze.select(SILVER_COLUMNS)
    for key in LOCATION_KEYS:
        df = df.withColumn(key, normalize_location(key))
    for col_name, rules in MOJIBAKE_RULES.items():
        df = df.withColumn(col_name, repair_mojibake(col_name, rules))
    for key in LOCATION_KEYS:
        df = df.withColumn(key, clean_text(key))
    if cast_coordinates:
        # try_cast, not cast: under Spark 4's default ANSI mode a single
        # malformed coordinate string would fail the whole job; a bad cell
        # must become null, not kill a 100 TB run.
        df = df.withColumn("longitude", F.col("longitude").try_cast("double"))
        df = df.withColumn("latitude", F.col("latitude").try_cast("double"))
    return df


def silver_to_gold(silver: DataFrame) -> DataFrame:
    """OP-17, the flagship query: breweries per (type, country, state)
    (reference gold_data_aggregation.py:49-50). Over an input already
    hash-partitioned on any subset of the keys (the pipeline clusters by
    country) it plans no exchange of its own; otherwise one, after a
    map-side partial aggregate."""
    return silver.groupBy("brewery_type", "country", "state").agg(
        F.count("*").alias("brewery_count")
    )
