"""Source-format coverage: JSONL and ORC round-trips preserve the documents
table exactly; JSONL quarantines corrupt records instead of dropping them."""

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

from pyspark.sql import functions as F

from inbev_data_engineering_case_spark.sources.readers import (
    read_jsonl,
    read_orc,
    read_parquet_table,
)

SF = "/root/testdata/sf0.001"


def _docs(spark):
    return read_parquet_table(spark, SF, "documents")


def test_jsonl_round_trip(spark, tmp_path):
    docs = _docs(spark)
    path = str(tmp_path / "docs_jsonl")
    docs.write.json(path)
    back = read_jsonl(spark, path, docs.schema).drop("_corrupt_record")
    assert back.schema == docs.schema
    assert back.exceptAll(docs).count() == 0
    assert docs.exceptAll(back).count() == 0


def test_jsonl_quarantines_corrupt_records(spark, tmp_path):
    docs = _docs(spark)
    path = str(tmp_path / "docs_bad")
    docs.write.json(path)
    (tmp_path / "docs_bad" / "bad.json").write_text(
        '{"doc_id": 1, "text": "ok"}\n{not json at all\n'
    )
    # Spark disallows queries touching ONLY _corrupt_record on raw JSON
    # (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN) — cache the
    # parsed result first, as its own error message prescribes.
    back = read_jsonl(spark, str(path), docs.schema).cache()
    try:
        bad = back.filter(F.col("_corrupt_record").isNotNull())
        assert bad.count() == 1
        assert "not json" in bad.first()["_corrupt_record"]
        good = back.filter(F.col("_corrupt_record").isNull())
        assert good.count() == docs.count() + 1
    finally:
        back.unpersist()


def test_orc_round_trip(spark, tmp_path):
    docs = _docs(spark)
    path = str(tmp_path / "docs_orc")
    docs.write.orc(path)
    back = read_orc(spark, path)
    assert back.schema == docs.schema
    assert back.exceptAll(docs).count() == 0
    assert docs.exceptAll(back).count() == 0


def test_read_parquet_evolving_reconciles_drift(spark, tmp_path):
    """Two snapshots with drifted schemas (grown column, dropped column,
    widened type) reconcile onto the expected schema: missing -> typed
    nulls, extra -> dropped, type drift -> try_cast; the report names
    the drift per path."""
    from pyspark.sql import types as T

    from inbev_data_engineering_case_spark.sources.readers import (
        read_parquet_evolving,
    )

    old = str(tmp_path / "day1")
    new = str(tmp_path / "day2")
    spark.createDataFrame(
        [(1, "a", 10)], "id long, name string, score int"
    ).write.parquet(old)
    # day2: dropped `score`, added `lang`, `id` arrives as string
    spark.createDataFrame(
        [("2", "b", "en")], "id string, name string, lang string"
    ).write.parquet(new)

    expected = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("name", T.StringType()),
            T.StructField("score", T.IntegerType()),
        ]
    )
    df, report = read_parquet_evolving(spark, [old, new], expected)
    assert [f.dataType for f in df.schema.fields] == [
        T.LongType(), T.StringType(), T.IntegerType()
    ]
    rows = {r["id"]: r for r in df.collect()}
    assert rows[1]["score"] == 10
    assert rows[2]["score"] is None  # missing column -> typed null
    assert rows[2]["name"] == "b"
    by_path = {r["path"]: r for r in report}
    assert by_path[old] == {"path": old, "extra": [], "missing": []}
    assert by_path[new]["extra"] == ["lang"]
    assert by_path[new]["missing"] == ["score"]

    # a malformed value under try_cast lands as null, not a job failure
    bad = str(tmp_path / "bad")
    spark.createDataFrame(
        [("not-a-number", "c")], "id string, name string"
    ).write.parquet(bad)
    df2, _ = read_parquet_evolving(spark, [bad], expected)
    row = df2.first()
    assert row["id"] is None and row["name"] == "c"
