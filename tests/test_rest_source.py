"""Paginated REST source (OP-01) with an injected mock transport: parallel
executor-side fetch, schema typing, missing-key → null, and the ingestion
completeness invariant (README.md:84 made into a real assert), checked in
the bronze write's own job before the snapshot is published."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import types as T

from inbev_data_engineering_case_spark import layers
from inbev_data_engineering_case_spark.pipeline import run_ingest
from inbev_data_engineering_case_spark.session import (
    cleanup_scratch_tables,
    scratch_table_paths,
)
from inbev_data_engineering_case_spark.sources.rest import PagedRestSource

RUN_ID = "2024-01-01-00-00"

SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType(), True),
        T.StructField("name", T.StringType(), True),
        T.StructField("city", T.StringType(), True),
    ]
)


def make_fake_transport():
    # Defined as a closure so cloudpickle ships it by value to executors
    # (module-level test functions pickle by reference and tests aren't an
    # importable package on workers).
    def fake_transport(page: int) -> list[dict]:
        # 3 pages × 2 records; one record omits 'city' (missing key → null).
        if page >= 3:
            return []
        return [
            {"id": f"{page}-0", "name": f"brew {page} 0", "city": "x"},
            {"id": f"{page}-1", "name": f"brew {page} 1"},
        ]

    return fake_transport


def counting(spark, transport):
    """``transport`` wrapped to count its executor-side calls."""
    calls = spark.sparkContext.accumulator(0)

    def counted(page: int) -> list[dict]:
        calls.add(1)
        return transport(page)

    return counted, calls


def bronze_ids(spark, path: str) -> list[str]:
    df = spark.read.option("header", True).schema(SCHEMA).csv(f"{path}/*.csv")
    return sorted(r["id"] for r in df.collect())


def published(bronze_dir: str) -> list[str]:
    return sorted(os.listdir(bronze_dir))


def test_fetch_all_pages_parallel(spark):
    fake_transport = make_fake_transport()
    src = PagedRestSource(
        transport=fake_transport, schema=SCHEMA, n_pages=3, per_page=2,
        expected_total=6,
    )
    df = src.to_dataframe(spark)
    rows = {r["id"]: r for r in df.collect()}
    assert len(rows) == 6
    assert rows["2-1"]["city"] is None  # dict.get semantics, ref :74-76
    assert df.schema == SCHEMA


def test_each_page_fetched_exactly_once(spark, tmp_path):
    # The fetch is lazy and the bronze CSV write is its one action: the
    # transport runs once per page, and the completeness check reads the
    # page count that same job observed.
    transport, calls = counting(spark, make_fake_transport())
    src = PagedRestSource(
        transport=transport, schema=SCHEMA, n_pages=3, per_page=2,
        expected_total=6,
    )
    path = run_ingest(spark, src, str(tmp_path / "bronze"), RUN_ID)
    assert calls.value == 3
    assert len(bronze_ids(spark, path)) == 6


def test_completeness_invariant_raises(spark):
    fake_transport = make_fake_transport()
    src = PagedRestSource(
        transport=fake_transport, schema=SCHEMA, n_pages=3, per_page=2,
        expected_total=10,  # would need 5 pages
    )
    with pytest.raises(RuntimeError, match="ingestion incomplete"):
        src.to_dataframe(spark)


@pytest.fixture(params=["local", "checkpoint_dir"])
def materialize_policy(request, spark, tmp_path):
    """Both ``session.materialize`` policies: executor-local cuts (no
    checkpoint dir) and parquet scratch tables under a checkpoint dir."""
    sc = spark.sparkContext
    if request.param == "checkpoint_dir":
        sc.setCheckpointDir(str(tmp_path / "ckpt"))
    try:
        yield request.param
    finally:
        sc.setCheckpointDir(None)


@pytest.fixture(params=["local", "checkpoint_dir"])
def materialize_policy(request, spark, tmp_path):
    """Both ``session.materialize`` policies: executor-local cuts (no
    checkpoint dir) and parquet scratch tables under a checkpoint dir, the
    latter starting from an empty scratch registry."""
    sc = spark.sparkContext
    if request.param == "local":
        yield request.param
        return
    cleanup_scratch_tables(spark)
    sc.setCheckpointDir(str(tmp_path / "ckpt"))
    try:
        yield request.param
    finally:
        sc.setCheckpointDir(None)
        cleanup_scratch_tables(spark)


def test_each_page_fetched_exactly_once_per_policy(
    spark, materialize_policy, tmp_path
):
    transport, calls = counting(spark, make_fake_transport())
    src = PagedRestSource(
        transport=transport, schema=SCHEMA, n_pages=3, per_page=2,
        expected_total=6,
    )
    path = run_ingest(spark, src, str(tmp_path / "bronze"), RUN_ID)
    assert calls.value == 3
    assert bronze_ids(spark, path) == [f"{p}-{i}" for p in range(3) for i in range(2)]
    if materialize_policy == "checkpoint_dir":
        # no parquet scratch copy of the raw fetch
        assert scratch_table_paths(spark) == []


def test_completeness_invariant_raises_per_policy(spark, materialize_policy):
    src = PagedRestSource(
        transport=make_fake_transport(), schema=SCHEMA, n_pages=3, per_page=2,
        expected_total=10,
    )
    with pytest.raises(RuntimeError, match="ingestion incomplete"):
        src.to_dataframe(spark)


def test_empty_middle_page_is_incomplete(spark, materialize_policy, tmp_path):
    # Page 1 of 4 comes back empty: 3 non-empty pages for the 4 that
    # expected_total needs. The check counts pages that produced rows (the
    # page marker sits on each page's first record only), not rows.
    def full_transport(page: int) -> list[dict]:
        return [
            {"id": f"{page}-0", "name": "a", "city": "x"},
            {"id": f"{page}-1", "name": "b", "city": "y"},
        ]

    def gappy_transport(page: int) -> list[dict]:
        return [] if page == 1 else full_transport(page)

    def source(transport) -> PagedRestSource:
        return PagedRestSource(
            transport=transport, schema=SCHEMA, n_pages=4, per_page=2,
            expected_total=8,
        )

    sc = spark.sparkContext
    bronze = str(tmp_path / "bronze")
    os.makedirs(bronze)
    cached = sc._jsc.getPersistentRDDs().size()
    with pytest.raises(RuntimeError, match="fetched 3 pages, expected 4"):
        run_ingest(spark, source(gappy_transport), bronze, "2024-01-01-00-01")
    # Nothing became visible, no staging dir is left, and the failed
    # fetch holds neither executor blocks nor a scratch table.
    with pytest.raises(FileNotFoundError):
        layers.latest_snapshot(bronze, require_success=False, data_suffix=".csv")
    assert published(bronze) == []
    assert sc._jsc.getPersistentRDDs().size() == cached
    if materialize_policy == "checkpoint_dir":
        assert scratch_table_paths(spark) == []

    # An earlier run id's complete snapshot stays the latest.
    earlier = run_ingest(spark, source(full_transport), bronze, "2024-01-01-00-00")
    with pytest.raises(RuntimeError, match="fetched 3 pages, expected 4"):
        run_ingest(spark, source(gappy_transport), bronze, "2024-01-01-00-01")
    assert layers.latest_snapshot(
        bronze, require_success=False, data_suffix=".csv"
    ) == earlier
    assert published(bronze) == [os.path.basename(earlier)]


def test_rerun_replaces_the_run_ids_snapshot(spark, tmp_path):
    bronze = str(tmp_path / "bronze")

    def source(tag: str) -> PagedRestSource:
        def transport(page: int) -> list[dict]:
            return [
                {"id": f"{tag}{page}-{i}", "name": "a", "city": "x"}
                for i in range(2)
            ]

        return PagedRestSource(
            transport=transport, schema=SCHEMA, n_pages=3, per_page=2,
            expected_total=6,
        )

    first = run_ingest(spark, source("a"), bronze, RUN_ID)
    again = run_ingest(spark, source("b"), bronze, RUN_ID)
    assert again == first
    assert published(bronze) == [os.path.basename(first)]
    assert bronze_ids(spark, again) == [
        f"b{p}-{i}" for p in range(3) for i in range(2)
    ]


def test_run_ingest_calls_a_subclass_to_dataframe_once(spark, tmp_path):
    # Wrappers that override ``to_dataframe(spark)`` (the benchmark's
    # traced source) stay on the ingest path.
    class Counted(PagedRestSource):
        built = 0

        def to_dataframe(self, spark):
            Counted.built += 1
            return super().to_dataframe(spark)

    src = Counted(
        transport=make_fake_transport(), schema=SCHEMA, n_pages=3, per_page=2,
        expected_total=6,
    )
    path = run_ingest(spark, src, str(tmp_path / "bronze"), RUN_ID)
    assert Counted.built == 1
    assert len(bronze_ids(spark, path)) == 6
