"""Paginated REST source (OP-01) with an injected mock transport: parallel
executor-side fetch, schema typing, missing-key → null, and the ingestion
completeness invariant (README.md:84 made into a real assert)."""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from inbev_data_engineering_case_spark.sources.rest import PagedRestSource

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


def test_each_page_fetched_exactly_once(spark):
    # The invariant check is an action; without materialization the
    # returned (lazy) df would re-invoke the transport on the next action,
    # double-fetching every page — and validating data other than what is
    # returned. An accumulator counts executor-side transport calls.
    calls = spark.sparkContext.accumulator(0)
    inner = make_fake_transport()

    def counting_transport(page: int) -> list[dict]:
        calls.add(1)
        return inner(page)

    src = PagedRestSource(
        transport=counting_transport, schema=SCHEMA, n_pages=3, per_page=2,
        expected_total=6,
    )
    df = src.to_dataframe(spark)
    assert df.count() == 6  # downstream action after the invariant ran
    assert df.count() == 6  # and another one
    assert calls.value == 3  # one transport call per page, total


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


def test_each_page_fetched_exactly_once_per_policy(spark, materialize_policy):
    calls = spark.sparkContext.accumulator(0)
    inner = make_fake_transport()

    def counting_transport(page: int) -> list[dict]:
        calls.add(1)
        return inner(page)

    src = PagedRestSource(
        transport=counting_transport, schema=SCHEMA, n_pages=3, per_page=2,
        expected_total=6,
    )
    df = src.to_dataframe(spark)
    assert calls.value == 3  # validated eagerly, before any caller action
    assert df.count() == 6
    assert df.count() == 6
    assert df.schema == SCHEMA
    assert calls.value == 3


def test_completeness_invariant_raises_per_policy(spark, materialize_policy):
    src = PagedRestSource(
        transport=make_fake_transport(), schema=SCHEMA, n_pages=3, per_page=2,
        expected_total=10,
    )
    with pytest.raises(RuntimeError, match="ingestion incomplete"):
        src.to_dataframe(spark)


def test_empty_middle_page_is_incomplete(spark, materialize_policy):
    # Page 1 of 4 comes back empty: 3 non-empty pages for the 4 that
    # expected_total needs. The check counts pages that produced rows (the
    # page marker sits on each page's first record only), not rows.
    def gappy_transport(page: int) -> list[dict]:
        if page == 1:
            return []
        return [
            {"id": f"{page}-0", "name": "a", "city": "x"},
            {"id": f"{page}-1", "name": "b", "city": "y"},
        ]

    src = PagedRestSource(
        transport=gappy_transport, schema=SCHEMA, n_pages=4, per_page=2,
        expected_total=8,
    )
    with pytest.raises(RuntimeError, match="fetched 3 pages, expected 4"):
        src.to_dataframe(spark)
