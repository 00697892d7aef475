"""Typed readers (OP-03/04/05) over the lake and the synthetic star schema.

CSV reads take an explicit schema: inferring one is an extra full pass and
a type-drift hazard (SURVEY.md §4.3-3). They use PERMISSIVE mode with a
corrupt-record column, so bad rows are quarantined, not dropped silently.

Parquet carries its schema in the file footers, and Spark reads one footer
in a job of its own each time a table is opened without a schema. Every
parquet read in the package goes through ``read_parquet``, which keeps a
schema memo on the SparkContext. The key is each data file's table-relative
name, size and ``mtime_ns`` (a driver-side ``stat``, no job) plus the
session confs that change what inference returns. The first read of a
table infers; every later read of the same files passes the memoized
schema to ``spark.read.schema(...)`` and launches no job. ``write_parquet``
records the schema of an unpartitioned library write under the same key,
so even the first read of a state or snapshot table infers nothing, and
because the key is table-relative it survives ``commit_snapshot``'s rename
of the staging dir. A rewritten file changes size or ``mtime_ns`` and a
flipped conf changes the key, so both re-infer. Paths on other file
systems (``hdfs://``, ``s3a://``) and globs are read without the memo.
"""

from __future__ import annotations

import os
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def read_bronze_csv(
    spark: SparkSession, path_glob: str, schema: T.StructType
) -> DataFrame:
    """OP-04 with the engine upgrade: explicit schema + quarantine column
    (the reference reads header-only, all-string —
    reference data_transformations_bronze_to_silver.py:84)."""
    schema_with_corrupt = T.StructType(
        [*schema.fields, T.StructField("_corrupt_record", T.StringType(), True)]
    )
    return spark.read.csv(
        path_glob,
        header=True,
        schema=schema_with_corrupt,
        mode="PERMISSIVE",
        columnNameOfCorruptRecord="_corrupt_record",
    )


# Session confs that change what parquet schema inference returns. Their
# values are part of the memo key, so flipping one re-infers.
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
)
# Oldest entries are dropped past this size: a long-running stream commits
# a new snapshot (a new key) per micro-batch.
_MEMO_MAX_ENTRIES = 4096


def _hidden(name: str) -> bool:
    """Spark's file-index rule: ``_``/``.`` names are not listed, except
    partition directories such as ``_col=1`` and the parquet summary files
    (``_metadata``, ``_common_metadata``), which inference may read."""
    if name.startswith(("_metadata", "_common_metadata")):
        return False
    return (name.startswith("_") and "=" not in name) or name.startswith(".")


def _data_files(path: str) -> tuple | None:
    """Sorted ``(table-relative name, size, mtime_ns)`` of the data files
    under a local ``path`` (a file or a table directory), or None when the
    path is not local, not there, or holds no data files."""
    url = urlparse(path)
    if url.scheme not in ("", "file"):
        return None
    root = url.path if url.scheme else path
    try:
        if os.path.isfile(root):
            st = os.stat(root)
            return ((os.path.basename(root), st.st_size, st.st_mtime_ns),)
        files = []
        for d, dirs, names in os.walk(root, followlinks=True):
            dirs[:] = [n for n in dirs if not _hidden(n)]
            for n in names:
                if not _hidden(n):
                    full = os.path.join(d, n)
                    st = os.stat(full)
                    rel = os.path.relpath(full, root)
                    files.append((rel, st.st_size, st.st_mtime_ns))
    except OSError:  # a file vanished mid-listing: read without the memo
        return None
    return tuple(sorted(files)) or None


def _schema_key(spark: SparkSession, paths: tuple[str, ...]) -> tuple | None:
    tables = tuple(_data_files(p) for p in paths)
    if not tables or None in tables:
        return None
    return tables, tuple(spark.conf.get(c, None) for c in _INFERENCE_CONFS)


def _schema_memo(spark: SparkSession) -> dict:
    """The schema memo, on the SparkContext like ``scratch_table_paths``,
    so reads through a streaming micro-batch's cloned session share it."""
    sc = spark.sparkContext
    if not hasattr(sc, "_graft_parquet_schemas"):
        sc._graft_parquet_schemas = {}
    return sc._graft_parquet_schemas


def _remember(spark: SparkSession, key: tuple, schema: T.StructType) -> None:
    memo = _schema_memo(spark)
    memo[key] = schema
    while len(memo) > _MEMO_MAX_ENTRIES:
        del memo[next(iter(memo))]


def _nullable(dt: T.DataType) -> T.DataType:
    """``dt`` as a parquet read returns it: every field, element and value
    nullable."""
    if isinstance(dt, T.StructType):
        return T.StructType(
            [
                T.StructField(f.name, _nullable(f.dataType), True, f.metadata)
                for f in dt.fields
            ]
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_nullable(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(_nullable(dt.keyType), _nullable(dt.valueType), True)
    return dt


def read_parquet(spark: SparkSession, *paths: str) -> DataFrame:
    """Parquet scan of one table (or the union of ``paths``) whose schema
    is inferred at most once per set of files in this SparkContext: a
    memo hit reads with ``spark.read.schema(...)`` and launches no
    footer-inference job (see the module docstring for the key)."""
    key = _schema_key(spark, paths)
    schema = _schema_memo(spark).get(key) if key is not None else None
    if schema is not None:
        return spark.read.schema(schema).parquet(*paths)
    df = spark.read.parquet(*paths)
    if key is not None:
        _remember(spark, key, df.schema)
    return df


def write_parquet(df: DataFrame, path: str, mode: str = "errorifexists") -> None:
    """Unpartitioned parquet write that records the schema it wrote, so the
    first ``read_parquet`` of the new files infers nothing. Appends are not
    recorded: the table then mixes files of two writes."""
    df.write.mode(mode).parquet(path)
    key = _schema_key(df.sparkSession, (path,)) if mode != "append" else None
    if key is not None:
        _remember(df.sparkSession, key, _nullable(df.schema))


def read_parquet_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """OP-05: parquet scan of one synthetic table (Hive partition discovery
    applies automatically when the path is a partitioned tree); its schema
    is inferred once per session (``read_parquet``)."""
    return read_parquet(spark, f"{sf_dir}/{name}.parquet")


def pin_event_confs(spark: SparkSession) -> None:
    """The runtime confs the events readers rely on, set here so a vanilla
    driver session works too: ``nanosAsLong`` makes a TIMESTAMP(NANOS)
    ``ts`` readable (as int64 nanos), and the UTC zone makes NTZ<->TZ
    conversions the identity."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def surface_event_ts(events: DataFrame) -> DataFrame:
    """``events`` (batch or stream, as read under ``pin_event_confs``) with
    ``ts`` as a microsecond TimestampType column, whatever the file
    encodes: int64 nanos (TIMESTAMP(NANOS) under ``nanosAsLong``) are
    floored to micros; TIMESTAMP(MICROS) arrives as TIMESTAMP_NTZ and is
    cast to the session-zone TimestampType."""
    if isinstance(events.schema["ts"].dataType, T.LongType):
        # Integer `div`, NOT float division: int64 nanos exceed double's
        # 53-bit mantissa, so `/ 1000` would round the low microseconds.
        return events.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000"))
        )
    return events.withColumn("ts", F.col("ts").cast("timestamp"))


def read_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events table with its timestamp surfaced as a proper (microsecond)
    TimestampType column, whatever the file encodes.

    The fixture has shipped ``ts`` as parquet TIMESTAMP(NANOS) in some
    versions and TIMESTAMP(MICROS) in others, so this reader adapts to the
    file instead of assuming (``surface_event_ts``). Either way downstream
    sees the same TimestampType micros column, and oracles compare via
    ``CAST(ts AS TIMESTAMP)`` or bucket-truncated values. The schema memo
    keys on the file's size and mtime and on ``nanosAsLong``, so a file
    rewritten in the other encoding is re-inferred.
    """
    pin_event_confs(spark)
    return surface_event_ts(read_parquet(spark, f"{sf_dir}/events.parquet"))
