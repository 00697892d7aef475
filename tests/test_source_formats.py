"""Source-format coverage for the parquet read path: the events reader
adapts to the timestamp encoding, and the schema memo re-infers exactly
when a file or a conf changes."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest


def test_read_events_adapts_to_nanos_and_micros(spark, tmp_path):
    """The fixture has shipped events.ts as TIMESTAMP(NANOS) in some
    rounds and TIMESTAMP(MICROS) in others; read_events must surface the
    identical TimestampType micros column from either encoding."""
    from inbev_data_engineering_case_spark.sources.readers import (
        read_events,
    )

    base_us = 1_700_000_000_000_000  # 2023-11-14T22:13:20Z, in micros
    rows = {
        "event_id": [1, 2, 3],
        "user_id": [10, 11, 12],
        "event_type": ["click", "view", "click"],
        "value": [1.5, 2.5, 3.5],
    }
    for unit, mult in (("ns", 1000), ("us", 1)):
        d = tmp_path / unit
        d.mkdir()
        table = pa.table(
            {
                **rows,
                "ts": pa.array(
                    [(base_us + i) * mult for i in range(3)],
                    type=pa.timestamp(unit),
                ),
            }
        )
        # version 2.6 keeps ns as parquet TIMESTAMP(NANOS) instead of
        # silently coercing to micros
        pq.write_table(table, d / "events.parquet", version="2.6")

    got = {}
    for unit in ("ns", "us"):
        df = read_events(spark, str(tmp_path / unit))
        assert str(df.schema["ts"].dataType) == "TimestampType()"
        got[unit] = sorted(
            (r["event_id"], r["ts"].isoformat()) for r in df.collect()
        )
    assert got["ns"] == got["us"]
    assert got["us"][0][1].startswith("2023-11-14T22:13:20")


def _jobs_in(spark, fn):
    """(fn(), number of Spark jobs it launched on this thread)."""
    sc = spark.sparkContext
    sc.setJobGroup("reader_memo_probe", "reader memo probe")
    try:
        out = fn()
        return out, len(sc.statusTracker().getJobIdsForGroup("reader_memo_probe"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def _write_events(path, unit: str) -> None:
    base_us = 1_700_000_000_000_000
    mult = {"ns": 1000, "us": 1}[unit]
    table = pa.table(
        {
            "event_id": [1, 2, 3],
            "ts": pa.array(
                [(base_us + i) * mult for i in range(3)],
                type=pa.timestamp(unit),
            ),
        }
    )
    pq.write_table(table, path, version="2.6")


def test_read_events_reinfers_a_rewritten_path(spark, tmp_path):
    """The schema memo keys on each file's size and mtime: rewriting
    events.parquet from TIMESTAMP(NANOS) to TIMESTAMP(MICROS) in place, in
    one session, must re-infer (a stale LongType ts would misread the
    micros), while a repeat read of unchanged files launches no job."""
    from inbev_data_engineering_case_spark.sources.readers import (
        read_events,
    )

    path = tmp_path / "events.parquet"
    _write_events(path, "ns")
    size_ns = path.stat().st_size
    first = read_events(spark, str(tmp_path))
    want = sorted((r["event_id"], r["ts"]) for r in first.collect())
    _, jobs = _jobs_in(spark, lambda: read_events(spark, str(tmp_path)))
    assert jobs == 0

    _write_events(path, "us")
    assert path.stat().st_size != size_ns
    again = read_events(spark, str(tmp_path))
    assert str(again.schema["ts"].dataType) == "TimestampType()"
    assert sorted((r["event_id"], r["ts"]) for r in again.collect()) == want


def test_flipping_nanos_as_long_reinfers(spark, tmp_path):
    """spark.sql.legacy.parquet.nanosAsLong is part of the memo key: with
    it off, a TIMESTAMP(NANOS) file is unreadable, so the read after the
    flip must infer again and fail rather than reuse the LongType schema
    memoized under the conf's other value."""
    from pyspark.errors import AnalysisException

    from inbev_data_engineering_case_spark.sources.readers import (
        read_parquet,
    )

    conf = "spark.sql.legacy.parquet.nanosAsLong"
    path = str(tmp_path / "events.parquet")
    _write_events(path, "ns")
    before = spark.conf.get(conf, None)
    spark.conf.set(conf, "true")
    try:
        assert str(read_parquet(spark, path).schema["ts"].dataType) == "LongType()"
        _, jobs = _jobs_in(spark, lambda: read_parquet(spark, path))
        assert jobs == 0
        spark.conf.set(conf, "false")
        with pytest.raises(AnalysisException, match="PARQUET_TYPE_ILLEGAL"):
            read_parquet(spark, path)
    finally:
        if before is None:
            spark.conf.unset(conf)
        else:
            spark.conf.set(conf, before)


def test_snapshot_read_after_commit_launches_no_job(spark, tmp_path):
    """write_parquet records the schema it wrote under the files'
    table-relative names, sizes and mtimes, which commit_snapshot's
    rename of the staging dir keeps: the first read of the committed
    table, and of a partitioned table after its first read, infers
    nothing."""
    from inbev_data_engineering_case_spark.layers import commit_snapshot
    from inbev_data_engineering_case_spark.sources.readers import (
        read_parquet,
        write_parquet,
    )

    counts = spark.createDataFrame(
        [(1, 2, [0.5]), (3, 4, None)],
        "bucket bigint not null, cp bigint, v array<double>",
    )
    snap = commit_snapshot(
        str(tmp_path / "state"),
        "r0001",
        lambda staging: write_parquet(counts, f"{staging}/counts"),
        expected_parent=None,
        prefix="t",
    )
    df, jobs = _jobs_in(spark, lambda: read_parquet(spark, f"{snap}/counts"))
    assert jobs == 0
    assert df.schema == spark.read.parquet(f"{snap}/counts").schema
    assert sorted(df.collect()) == sorted(counts.collect())

    parted = str(tmp_path / "parted")
    counts.write.partitionBy("cp").parquet(parted)
    inferred = read_parquet(spark, parted).schema
    df, jobs = _jobs_in(spark, lambda: read_parquet(spark, parted))
    assert jobs == 0 and df.schema == inferred
