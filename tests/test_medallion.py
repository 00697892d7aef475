"""Golden end-to-end test: brewery-shaped fixture → bronze → silver → gold
(SURVEY.md §5.2), with the reference's invariants asserted:
- silver row count == bronze row count (cleansing is row-preserving),
- gold sum(brewery_count) == silver row count,
- silver partition layout is country=/state=/ (Hive-style),
- gold silver schema matches the pinned StructTypes;
plus the per-stage Spark job budget of a REST-sourced run."""

from __future__ import annotations

import csv
import os

from pyspark.sql import functions as F

from inbev_data_engineering_case_spark import layers
from inbev_data_engineering_case_spark.operators.medallion import (
    bronze_to_silver,
    silver_to_gold,
)
from inbev_data_engineering_case_spark.pipeline import (
    run_gold,
    run_ingest,
    run_pipeline,
    run_silver,
)
from inbev_data_engineering_case_spark.schemas import (
    BREWERY_BRONZE,
    BREWERY_GOLD,
    BREWERY_SILVER,
    SILVER_COLUMNS,
    SILVER_PARTITION_KEYS,
)
from inbev_data_engineering_case_spark.sources.rest import PagedRestSource

BRONZE_COLUMNS = [f.name for f in BREWERY_BRONZE.fields]

FIXTURE_ROWS = [
    # id, name, type, city, state, country (+ nulls elsewhere)
    ("b1", "Cafe Okei", "micro", "Klagenfurt am W�rthersee", "K�rnten", "Austria"),
    ("b2", "Wimitzbr�u", "micro", "Wien", "Wien", "Austria"),
    ("b3", "Plain Brew", "brewpub", "New York", "New York", " United States"),
    ("b4", "Under_Score", "brewpub", "São Paulo", "São Paulo", "Brazil"),
    ("b5", "Dup Brew", "micro", "New York", "New York", "United States"),
]


def write_bronze_fixture(base_dir: str, run_id: str) -> str:
    folder = os.path.join(base_dir, "bronze", f"brewery_data_{run_id}")
    os.makedirs(folder, exist_ok=True)
    path = os.path.join(folder, "page_0.csv")
    with open(path, "w", newline="") as fh:
        w = csv.writer(fh)
        w.writerow(BRONZE_COLUMNS)
        for bid, name, btype, city, state, country in FIXTURE_ROWS:
            record = dict.fromkeys(BRONZE_COLUMNS, "")
            record.update(
                id=bid, name=name, brewery_type=btype,
                city=city, state=state, country=country,
                longitude="-47.9", latitude="15.8",
            )
            w.writerow([record[c] for c in BRONZE_COLUMNS])
    return folder


def test_pipeline_end_to_end(spark, tmp_path):
    lake = str(tmp_path / "lake")
    write_bronze_fixture(lake, "2024-01-01-00-00")
    result = run_pipeline(spark, lake, "2024-01-01-00-01")

    silver = spark.read.parquet(result.silver_path)
    gold = spark.read.parquet(result.gold_path)

    # Row-preserving cleanse; counts add up.
    assert silver.count() == len(FIXTURE_ROWS)
    assert gold.agg(F.sum("brewery_count")).first()[0] == len(FIXTURE_ROWS)

    # Partition layout: country=/state=/ under silver, country= under gold.
    countries = {d for d in os.listdir(result.silver_path) if d.startswith("country=")}
    assert countries == {"country=austria", "country=united-states", "country=brazil"}
    state_dirs = os.listdir(os.path.join(result.silver_path, "country=austria"))
    assert sorted(d for d in state_dirs if d.startswith("state=")) == [
        "state=karnten", "state=wien"
    ]
    silver_rows = {r["id"]: r for r in silver.collect()}
    assert silver_rows["b3"]["country"] == "united-states"
    assert silver_rows["b5"]["country"] == "united-states"  # trim dup collapsed
    assert silver_rows["b1"]["state"] == "karnten"  # mojibake repaired
    assert silver_rows["b1"]["city"] == "klagenfurt-am-worthersee"
    assert silver_rows["b4"]["city"] == "sao-paulo"  # accents folded
    assert silver_rows["b4"]["name"] == "Under_Score"  # name keeps \p{Pc}
    assert silver_rows["b2"]["name"] == "Wimitzbrau"

    # Engine upgrade: coordinates are doubles now.
    assert dict(silver.dtypes)["longitude"] == "double"
    assert sorted(silver.columns) == sorted(SILVER_COLUMNS)

    # Gold view was registered in the global temp catalog.
    assert "brewery_counts" in result.views

    # Latest-snapshot resolution finds what we just wrote.
    assert layers.latest_snapshot(
        os.path.join(lake, "silver"), require_success=True
    ) == result.silver_path


def test_gold_agg_shape(spark):
    df = spark.createDataFrame(
        [("micro", "at", "wien"), ("micro", "at", "wien"), ("nano", "br", "sp")],
        ["brewery_type", "country", "state"],
    )
    out = {tuple(r) for r in silver_to_gold(df).collect()}
    assert out == {("micro", "at", "wien", 2), ("nano", "br", "sp", 1)}


def test_gold_keeps_numeric_looking_partition_values_as_strings(spark, tmp_path):
    # Silver partition directories country=1/state=01 and state=02: read
    # back with partition-type inference they would turn into ints (and
    # '01' into 1). Gold must see the strings silver wrote.
    silver_dir, gold_dir = str(tmp_path / "silver"), str(tmp_path / "gold")
    rows = [
        ("b1", "One", "micro", "x", "01", "1", None, None),
        ("b2", "Two", "micro", "y", "01", "1", None, None),
        ("b3", "Three", "nano", "z", "02", "1", None, None),
    ]
    silver = spark.createDataFrame(rows, BREWERY_SILVER)
    layers.write_layer(
        silver, layers.snapshot_path(silver_dir, "2024-01-01-00-00"),
        SILVER_PARTITION_KEYS,
    )
    run_gold(spark, silver_dir, gold_dir, "2024-01-01-00-00")

    gold = spark.table("global_temp.brewery_counts")
    assert [(f.name, f.dataType) for f in gold.schema] == [
        (f.name, f.dataType) for f in BREWERY_GOLD
    ]
    assert {tuple(r) for r in gold.collect()} == {
        ("micro", "1", "01", 2), ("nano", "1", "02", 1),
    }


def test_publish_view_lists_like_catalog_without_a_job(spark):
    sc = spark.sparkContext
    spark.range(1).createOrReplaceTempView("publish_view_local_extra")
    try:
        sc.setJobGroup("publish_view", "publish_view listing")
        views = layers.publish_view(spark, spark.range(2), "publish_view_probe")
        jobs = len(sc.statusTracker().getJobIdsForGroup("publish_view"))
        expected = {t.name for t in spark.catalog.listTables("global_temp")}
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        spark.catalog.dropTempView("publish_view_local_extra")
        spark.catalog.dropGlobalTempView("publish_view_probe")
    assert jobs == 0
    assert {"publish_view_probe", "publish_view_local_extra"} <= expected
    assert sorted(views) == sorted(expected)


def test_pipeline_stage_job_budget(spark, tmp_path):
    """Per-stage Spark job budget of a REST-sourced run under the default
    (executor-local) materialize policy: ingest 1 (the CSV write, which
    runs the page fetch and carries the page-count metric), silver 2,
    gold 2 (one exchange by country feeds both the aggregate and the
    write). Jobs that do no data work — a fetch cut, a page-id shuffle, a
    second gold exchange, a completeness query, a footer probe, a catalog
    listing — fail this budget."""
    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None

    def transport(page: int) -> list[dict]:
        return [
            {
                "id": f"{page}-{i}", "name": f"brew {page} {i}",
                "brewery_type": "micro", "city": "wien", "state": "wien",
                "country": "Austria" if i % 2 else "Brazil",
            }
            for i in range(2)
        ]

    source = PagedRestSource(
        transport=transport, schema=BREWERY_BRONZE, n_pages=3, per_page=2,
        expected_total=6,
    )
    dirs = {d: str(tmp_path / d) for d in ("bronze", "silver", "gold")}
    run_id = "2024-01-01-00-00"
    stages = {
        "ingest": lambda: run_ingest(spark, source, dirs["bronze"], run_id),
        "silver": lambda: run_silver(spark, dirs["bronze"], dirs["silver"], run_id),
        "gold": lambda: run_gold(spark, dirs["silver"], dirs["gold"], run_id),
    }
    jobs, out = {}, {}
    try:
        for name, stage in stages.items():
            group = f"job_budget_{name}"
            sc.setJobGroup(group, f"medallion {name}")
            out[name] = stage()
            jobs[name] = len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert jobs["ingest"] <= 1, jobs
    assert jobs["silver"] <= 2, jobs
    assert jobs["gold"] <= 2, jobs
    gold_path, _ = out["gold"]
    gold = spark.read.parquet(gold_path).agg(F.sum("brewery_count"))
    assert gold.first()[0] == 6


def _data_files_per_leaf(root: str) -> dict[str, int]:
    """Parquet data files in each leaf partition directory under ``root``,
    keyed by the partition path relative to ``root``."""
    return {
        os.path.relpath(d, root): sum(f.endswith(".parquet") for f in files)
        for d, subdirs, files in os.walk(root)
        if not subdirs and d != root
    }


def test_layer_writes_keep_one_file_per_partition(spark, tmp_path):
    """The small-file contract of a REST-sourced pass: every silver
    ``country=/state=`` and every gold ``country=`` directory holds
    exactly one data file, also when a gold country spans several
    aggregate groups, and gold counts every record."""

    def transport(page: int) -> list[dict]:
        return [
            {
                "id": f"{page}-{i}", "name": f"brew {page} {i}",
                "brewery_type": "micro" if page % 2 else "brewpub",
                "city": "x", "state": f"state {i // 2 % 2}",
                "country": "Austria" if i % 2 else "Brazil",
            }
            for i in range(8)
        ]

    source = PagedRestSource(
        transport=transport, schema=BREWERY_BRONZE, n_pages=4, per_page=8,
        expected_total=32,
    )
    dirs = {d: str(tmp_path / d) for d in ("bronze", "silver", "gold")}
    run_id = "2024-01-01-00-00"
    run_ingest(spark, source, dirs["bronze"], run_id)
    silver_path = run_silver(spark, dirs["bronze"], dirs["silver"], run_id)
    gold_path, _ = run_gold(spark, dirs["silver"], dirs["gold"], run_id)

    silver_files = _data_files_per_leaf(silver_path)
    assert len(silver_files) == 4, silver_files
    assert all(p.count("=") == 2 for p in silver_files), silver_files
    assert set(silver_files.values()) == {1}, silver_files
    gold_files = _data_files_per_leaf(gold_path)
    assert sorted(gold_files) == ["country=austria", "country=brazil"]
    assert set(gold_files.values()) == {1}, gold_files
    gold = spark.read.parquet(gold_path)
    assert gold.count() == 8  # 2 types x 2 countries x 2 states
    assert gold.agg(F.sum("brewery_count")).first()[0] == 32


def test_rest_ingest_keeps_records_with_null_required_keys(spark, tmp_path):
    """The source turns missing JSON keys into nulls, including keys the
    bronze schema declares required: the raw zone keeps the record, and
    every stage downstream counts it."""

    def transport(page: int) -> list[dict]:
        records = [
            {
                "id": f"{page}-{i}", "name": f"brew {page} {i}",
                "brewery_type": "micro", "city": "wien", "state": "wien",
                "country": "Austria",
            }
            for i in range(2)
        ]
        if page == 0:
            records[0]["city"] = None
            del records[1]["state"]
        return records

    source = PagedRestSource(
        transport=transport, schema=BREWERY_BRONZE, n_pages=3, per_page=2,
        expected_total=6,
    )
    dirs = {d: str(tmp_path / d) for d in ("bronze", "silver", "gold")}
    run_id = "2024-01-01-00-00"
    run_ingest(spark, source, dirs["bronze"], run_id)
    run_silver(spark, dirs["bronze"], dirs["silver"], run_id)
    gold_path, _ = run_gold(spark, dirs["silver"], dirs["gold"], run_id)
    gold = spark.read.parquet(gold_path).agg(F.sum("brewery_count"))
    assert gold.first()[0] == 6
