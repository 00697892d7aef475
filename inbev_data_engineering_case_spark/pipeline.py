"""Plain-Python pipeline driver replacing the reference's three Airflow DAGs
(OP-18..OP-21, SURVEY.md §2.5).

``run_pipeline`` executes bronze → silver → gold sequentially with the same
stage contract the DAG chain enforced (TriggerRule.ALL_SUCCESS → here simply
exceptions propagating), the same filesystem handoff (each stage resolves its
input via the latest-snapshot rule, OP-08), and a structured metrics dict in
place of XCom progress pushes (OP-20). Run-ids are caller-supplied — no
wall-clock in library code, so runs are deterministic and replayable
(OP-21 engine mapping).

One shared SparkSession serves the whole run (the reference cold-starts a JVM
per stage — SURVEY.md §4.3-5).
"""

from __future__ import annotations

import os
import shutil
import time
import uuid
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

from inbev_data_engineering_case_spark import layers
from inbev_data_engineering_case_spark.operators.medallion import (
    bronze_to_silver,
    silver_to_gold,
)
from inbev_data_engineering_case_spark.schemas import (
    BREWERY_BRONZE,
    BREWERY_SILVER,
    GOLD_PARTITION_KEYS,
    SILVER_PARTITION_KEYS,
)
from inbev_data_engineering_case_spark.sources.readers import read_bronze_csv
from inbev_data_engineering_case_spark.sources.rest import PagedRestSource


@dataclass
class PipelineResult:
    run_id: str
    bronze_path: str | None
    silver_path: str
    gold_path: str
    views: list[str]
    metrics: dict[str, float] = field(default_factory=dict)


def run_ingest(
    spark: SparkSession, source: PagedRestSource, bronze_dir: str, run_id: str
) -> str:
    """API → bronze, validated before visible. The raw zone stays
    CSV-per-page for audit parity with the reference (OP-02).

    The page fetch runs inside the CSV write's own job, which lands in a
    hidden staging dir (``_resolve_snapshot`` only sees ``brewery_data_*``
    folders). The source's completeness check then reads the page count
    that job observed, and only a complete landing is renamed into place,
    replacing an earlier snapshot of the same run id. Any failure removes
    the staging dir, so an incomplete fetch never becomes the latest
    bronze snapshot."""
    path = layers.snapshot_path(bronze_dir, run_id)
    staging = os.path.join(
        bronze_dir, f".staging_{os.path.basename(path)}_{uuid.uuid4().hex[:8]}"
    )
    try:
        source.to_dataframe(spark).write.option("header", True).csv(staging)
        source.check_complete()
        shutil.rmtree(path, ignore_errors=True)
        os.rename(staging, path)
    except BaseException:
        shutil.rmtree(staging, ignore_errors=True)
        raise
    return path


def run_silver(
    spark: SparkSession, bronze_dir: str, silver_dir: str, run_id: str
) -> str:
    bronze_path = layers.latest_snapshot(
        bronze_dir, require_success=False, data_suffix=".csv"
    )
    bronze = read_bronze_csv(spark, f"{bronze_path}/*.csv", BREWERY_BRONZE)
    silver = bronze_to_silver(bronze.drop("_corrupt_record"))
    out = layers.snapshot_path(silver_dir, run_id)
    layers.write_layer(silver, out, SILVER_PARTITION_KEYS)
    return out


def run_gold(
    spark: SparkSession, silver_dir: str, gold_dir: str, run_id: str
) -> tuple[str, list[str]]:
    silver_path = layers.latest_snapshot(silver_dir, require_success=True)
    # The pinned schema skips the footer-inference job and keeps partition
    # values typed as silver wrote them (``state=01`` stays the string '01').
    silver = spark.read.schema(BREWERY_SILVER).parquet(silver_path)
    # One exchange: hash(country) satisfies the group-by, and the write's
    # own repartition by country is dropped as redundant. It carries pruned
    # silver rows, not partial aggregates; a country meets in one task.
    gold = silver_to_gold(silver.repartition(*GOLD_PARTITION_KEYS))
    views = layers.publish_view(spark, gold, "brewery_counts")
    out = layers.snapshot_path(gold_dir, run_id)
    layers.write_layer(gold, out, GOLD_PARTITION_KEYS)
    return out, views


def run_pipeline(
    spark: SparkSession,
    lake_dir: str,
    run_id: str,
    source: PagedRestSource | None = None,
) -> PipelineResult:
    """Full medallion run. ``source=None`` skips ingestion and cleans the
    latest existing bronze snapshot (the reference's recovery mode)."""
    bronze_dir = os.path.join(lake_dir, "bronze")
    silver_dir = os.path.join(lake_dir, "silver")
    gold_dir = os.path.join(lake_dir, "gold")
    for d in (silver_dir, gold_dir):
        os.makedirs(d, exist_ok=True)

    metrics: dict[str, float] = {}
    bronze_path = None
    if source is not None:
        os.makedirs(bronze_dir, exist_ok=True)
        t0 = time.perf_counter()
        bronze_path = run_ingest(spark, source, bronze_dir, run_id)
        metrics["ingest_sec"] = time.perf_counter() - t0

    t0 = time.perf_counter()
    silver_path = run_silver(spark, bronze_dir, silver_dir, run_id)
    metrics["silver_sec"] = time.perf_counter() - t0

    t0 = time.perf_counter()
    gold_path, views = run_gold(spark, silver_dir, gold_dir, run_id)
    metrics["gold_sec"] = time.perf_counter() - t0

    return PipelineResult(run_id, bronze_path, silver_path, gold_path, views, metrics)
