"""SparkSession factory with scale-aware defaults.

The reference builds bare sessions with no tuning at all
(``SparkSession.builder.appName(...).getOrCreate()`` —
reference dags/data_transformations_bronze_to_silver.py:76,
dags/gold_data_aggregation.py:44) and pays a JVM cold start per pipeline
stage (SURVEY.md §4.3-5). Here a single shared session is built once per
pipeline run with the configuration that matters at the 100 TB design point:

- **AQE on** (runtime re-plan: shuffle coalescing, skew-join splitting,
  broadcast demotion/promotion from real statistics).
- **Shuffle partitions** sized to the environment, not the 200 default —
  on a real cluster this should be ~2-3× total executor cores; AQE then
  coalesces small post-shuffle partitions so overshooting is cheap.
- **Arrow enabled** so any Pandas-UDF path transfers columns in batches.
- **Dynamic partition overwrite** so ``mode("overwrite")`` on a partitioned
  table replaces only the partitions being written — the reference is safe
  only because every run writes a fresh snapshot folder (SURVEY.md §7.3).

Session-level intent also covers lineage cuts: ``materialize`` is the one
place the engine checkpoints an intermediate, and its policy follows the
checkpoint dir Spark already has (``sc.setCheckpointDir``) — no extra
setting.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Tuned for the local[N] test harness; on a cluster these are overridden by
# spark-submit conf. Kept here as the single place that states intent.
_DEFAULTS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.sources.partitionOverwriteMode": "dynamic",
    "spark.sql.session.timeZone": "UTC",
    # events.parquet has carried TIMESTAMP(NANOS) in some fixture rounds,
    # which Spark's vectorized reader rejects; this conf surfaces it as
    # int64 nanos (no-op for MICROS fixtures) and the readers adapt either
    # way (sources.readers.read_events / streaming read_events_stream).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.parquet.compression.codec": "snappy",
    "spark.ui.enabled": "false",
}


def get_spark(
    app_name: str = "inbev-data-engineering-case-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the shared SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32) so
    tests and bench share one code path; on a cluster pass ``master=None``
    after spark-submit has set it, or an explicit URL.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)

    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_DEFAULTS)
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def materialize(df: DataFrame, *, eager: bool) -> DataFrame:
    """Cut ``df``'s lineage: compute it once and share it with every
    downstream consumer. Every operator that shares an intermediate and
    every iterative loop go through here, so the cluster-safety trade is
    one deployment setting, not a per-call knob.

    The policy follows the session's checkpoint dir:

    - **unset** (local runs, tests): ``localCheckpoint(eager=eager)`` —
      executor-block storage, fastest, but lost with its executor.
      ``eager=False`` is right only when a single-reference action runs
      right after and materializes the blocks for every later consumer;
      under AQE each reference of a not-yet-materialized lazy checkpoint
      recomputes the subtree, so an intermediate a plan reads twice
      before any action must be cut eagerly.
    - **set** (``sc.setCheckpointDir`` on HDFS/object store): write
      parquet under ``<checkpointDir>/mat_<uuid>`` and read it back —
      fault-tolerant (survives executor loss), spillable, and the rescan
      gets a fresh file-source plan with size statistics for AQE and
      broadcast decisions. Always eager.

    Scratch tables are CALLER-owned: a composed pipeline may still be
    reading an earlier one when a later one is written, so nothing here
    deletes them. Every path is recorded in ``scratch_table_paths(spark)``;
    call ``cleanup_scratch_tables(spark)`` after the job's terminal action,
    or let the orchestrator delete the checkpoint dir."""
    spark = df.sparkSession
    ckpt = spark.sparkContext.getCheckpointDir()
    if ckpt is None:
        return df.localCheckpoint(eager=eager)
    target = f"{ckpt.rstrip('/')}/mat_{uuid.uuid4().hex}"
    df.write.parquet(target)
    scratch_table_paths(spark).append(target)
    # the known schema spares the read-back a footer-inference job
    return spark.read.schema(df.schema).parquet(target)


# Ceiling of ``broadcast_if_small``: 2M (node, label) long pairs ≈ 32 MB
# framed, half the 64 MB ``autoBroadcastJoinThreshold`` set above.
BROADCAST_ROW_LIMIT = 2_000_000


def broadcast_if_small(df: DataFrame, n_rows: int | None) -> DataFrame:
    """``F.broadcast(df)`` when its exact row count ``n_rows`` (measured by
    the caller's own actions) is within ``min(BROADCAST_ROW_LIMIT,
    autoBroadcastJoinThreshold // 32)`` — 32 bytes is the framed size of
    a two-long row — else ``df`` unchanged, and always unchanged when the
    threshold is negative (broadcasting switched off). For
    checkpoint-backed frames, which carry no size statistics for the
    planner to decide from; a hint bypasses the threshold, so this is
    where the session's setting is honoured. Reads the conf; runs no
    job."""
    threshold = int(
        df.sparkSession._jsparkSession.sessionState().conf()
        .autoBroadcastJoinThreshold()
    )
    if (
        n_rows is not None
        and threshold >= 0
        and n_rows <= min(BROADCAST_ROW_LIMIT, threshold // 32)
    ):
        return F.broadcast(df)
    return df


def scratch_table_paths(spark: SparkSession) -> list[str]:
    """The registry of scratch tables written by ``materialize`` (oldest
    first). It lives on the SparkContext, like the checkpoint dir, so
    tables written through a cloned session (a streaming micro-batch's
    ``foreachBatch`` frame) are registered too. Mutating it is allowed —
    cleanup removes entries it deletes."""
    sc = spark.sparkContext
    if not hasattr(sc, "_graft_scratch_tables"):
        sc._graft_scratch_tables = []
    return sc._graft_scratch_tables


def cleanup_scratch_tables(spark: SparkSession) -> list[str]:
    """Delete every registered scratch table and return the paths removed.
    Uses the Hadoop FileSystem API so it works on whatever store the
    checkpoint dir lives on (local, HDFS, s3a, ...). Call only after the
    job's terminal action — scratch tables back live plans."""
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    registry = scratch_table_paths(spark)
    removed = []
    for target in list(registry):
        p = jvm.org.apache.hadoop.fs.Path(target)
        p.getFileSystem(hconf).delete(p, True)
        registry.remove(target)
        removed.append(target)
    return removed
