"""Every catalog query vs its DuckDB oracle at sf0.001 (fast), replicating
the driver's row-count + column-name + value-hash gate. The driver itself
runs sf0.01; tools/check_oracle.py covers that interactively."""

from __future__ import annotations

import pytest

from inbev_data_engineering_case_spark.queries import CATALOG
from inbev_data_engineering_case_spark.testing import (
    compare_query,
    duckdb_star_connection,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def oracle_con():
    con = duckdb_star_connection(SF_DIR)
    yield con
    con.close()


# The measured >= ~6s tail of the sweep (heavy multi-stage compositions:
# the daily loop, curate variants, double-trained IVF) runs under the
# `slow` marker — still part of every full-suite run (`-m ""`), just not
# of the driver-budget default; the driver's own oracle gate covers its
# 50-entry window independently of this sweep.
_SLOW_ORACLE = {
    "q_ann_ivf_trained", "q_curate_classifier", "q_curate_corpus",
    "q_curate_halo", "q_curate_incremental", "q_curate_split",
    "q_curation_report_halo", "q_daily_budget", "q_daily_loop",
    "q_leakage_incremental", "q_random_projection", "q_simhash_incremental",
}


@pytest.mark.parametrize(
    "name",
    [
        pytest.param(n, marks=pytest.mark.slow) if n in _SLOW_ORACLE else n
        for n in CATALOG
    ],
)
def test_query_matches_oracle(spark, oracle_con, name):
    msg = compare_query(CATALOG[name], spark, oracle_con, SF_DIR)
    assert msg is None, f"{name}: {msg}"


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert set(e.queries()) == set(CATALOG)
    for name, sql in e.oracle_sql().items():
        assert isinstance(sql, str) and sql.strip().upper().startswith("SELECT") or "WITH" in sql.upper()


def _last_job_id(spark) -> int:
    """The newest job id Spark has recorded, once the listener bus has
    delivered every event. Job ids are sequential across threads, so the
    difference of two readings counts every job in between, including a
    streaming query's micro-batch jobs (they run under the stream's own
    job group, out of reach of a caller's)."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    jobs = sc.statusStore().jobsList(None)  # newest first
    return jobs.apply(0).jobId() if jobs.size() else -1


def test_catalog_build_job_budget(spark):
    """Spark jobs launched while a benchmark catalog line BUILDS, the
    second time it is built in a session. The scan lines read parquet
    through the reader's schema memo, so they launch none: a footer probe,
    a guard count or any other eager action fails this budget.
    q_stream_classifier drains a file stream while it builds; 7 is its
    measured count with no footer-inference job, no separate emptiness
    probe (the micro-batch cut carries the batch's row count), no meta
    table write (the snapshot's guards read a meta.json sidecar) and one
    aggregation exchange for the bucket and prior rows."""
    budget = {
        "q_gold_agg": 0,
        "q_window_events": 0,
        "q_heavy_hitters": 0,
        "q_tfidf_topk": 0,
        "q_stream_classifier": 5,
    }
    jobs = {}
    for name in budget:
        CATALOG[name].fn(spark, SF_DIR)  # the first build may infer schemas
        before = _last_job_id(spark)
        CATALOG[name].fn(spark, SF_DIR)
        jobs[name] = _last_job_id(spark) - before
    assert all(jobs[n] <= b for n, b in budget.items()), jobs


def test_catalog_exec_job_budget(spark):
    """Spark jobs launched by each benchmark catalog line's final plan, run
    as a ``noop`` write (AQE submits each shuffle stage as its own job).
    q_tfidf_topk's document-frequency aggregate reuses the term-frequency
    exchange instead of shuffling a second (doc, term) table; an added
    exchange or an eager action in the final plan fails this budget."""
    budget = {
        "q_gold_agg": 3,
        "q_window_events": 2,
        "q_heavy_hitters": 6,
        "q_tfidf_topk": 7,
        "q_stream_classifier": 1,
    }
    jobs = {}
    for name in budget:
        df = CATALOG[name].fn(spark, SF_DIR)
        before = _last_job_id(spark)
        df.write.format("noop").mode("overwrite").save()
        jobs[name] = _last_job_id(spark) - before
    assert all(jobs[n] <= b for n, b in budget.items()), jobs
