"""Medallion layer sinks and the snapshot catalog (OP-02/06/07/08/09).

The reference materializes every pipeline run as a fresh timestamped folder
``brewery_data_{YYYY-MM-DD-HH-MM}`` and downstream stages resolve their input
by latest-snapshot discovery — reverse-lexicographic folder sort, first folder
holding data files (``.csv`` for bronze, a ``_SUCCESS`` marker for silver)
(reference dags/data_transformations_bronze_to_silver.py:52-63,
dags/gold_data_aggregation.py:19-30). That contract is kept: it gives
full-reload snapshot semantics with idempotent overwrite and a natural
retry/recovery joint (SURVEY.md §1.1, §3.4).

Scale notes (100 TB design point):
- ``write_layer`` repartitions by the partition keys so each Hive
  partition is written by one task — the reference's
  ``partitionBy('country','state')`` over default shuffle partitions sprays
  hundreds of tiny files (SURVEY.md §4.3-2). The price is that a hot
  partition is written by a single task: AQE does not split skew in a
  ``repartition(cols)`` shuffle.
- Run-ids are caller-supplied (no wall-clock in library code) so runs are
  deterministic and replayable.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

SNAPSHOT_PREFIX = "brewery_data"
SUCCESS_MARKER = "_SUCCESS"


def snapshot_path(base_dir: str, run_id: str, prefix: str = SNAPSHOT_PREFIX) -> str:
    """``{base}/{prefix}_{run_id}`` — run_id is the caller's timestamp string
    (the reference uses ``%Y-%m-%d-%H-%M`` in America/Sao_Paulo; any
    lexicographically-chronological id works)."""
    return os.path.join(base_dir, f"{prefix}_{run_id}")


def _resolve_snapshot(
    base_dir: str,
    prefix: str,
    require_success: bool,
    data_suffix: str | None,
    cutoff: str | None,
) -> str | None:
    """Shared committed-snapshot walk: newest folder (optionally <=
    ``cutoff``) that passes the ``_SUCCESS``/data gates, or None. ONE
    copy of the publish-gating contract so the latest and as-of readers
    can never diverge."""
    if not os.path.isdir(base_dir):
        raise FileNotFoundError(f"layer directory does not exist: {base_dir}")
    folders = sorted(
        (
            f
            for f in os.listdir(base_dir)
            if f.startswith(prefix) and (cutoff is None or f <= cutoff)
        ),
        reverse=True,
    )
    for folder in folders:
        path = os.path.join(base_dir, folder)
        if not os.path.isdir(path):
            continue
        names = os.listdir(path)
        if require_success and SUCCESS_MARKER not in names:
            continue
        if data_suffix is not None and not any(
            n.endswith(data_suffix) for n in names
        ):
            continue
        return path
    return None


def latest_snapshot(
    base_dir: str,
    prefix: str = SNAPSHOT_PREFIX,
    require_success: bool = True,
    data_suffix: str | None = None,
) -> str:
    """OP-08: newest snapshot folder that actually contains data.

    ``require_success=True`` gates on Spark's committed-output ``_SUCCESS``
    marker (the silver/gold rule); ``data_suffix='.csv'`` replicates the
    bronze rule (any page file present). Raises if nothing qualifies.
    """
    path = _resolve_snapshot(
        base_dir, prefix, require_success, data_suffix, cutoff=None
    )
    if path is None:
        raise FileNotFoundError(
            f"no valid '{prefix}_*' snapshot under {base_dir} "
            f"(require_success={require_success}, data_suffix={data_suffix})"
        )
    return path


def snapshot_as_of(
    base_dir: str,
    as_of_run_id: str,
    prefix: str = SNAPSHOT_PREFIX,
    require_success: bool = True,
    data_suffix: str | None = None,
) -> str:
    """Time travel over the snapshot layout: the newest committed
    snapshot whose run id is <= ``as_of_run_id`` — "the table as the
    pipeline published it at that moment". Works because run ids are
    lexicographically chronological (the reference's timestamp format,
    ``snapshot_path``); same ``_SUCCESS``/data gates as
    ``latest_snapshot`` (one shared walk, ``_resolve_snapshot``), so an
    uncommitted write can never be selected by a historical read either.
    This is the poor-man's Delta time travel: reproduce any day's gold
    numbers, or pin a training run's input to the snapshot it started
    from while the daily pipeline keeps publishing."""
    path = _resolve_snapshot(
        base_dir,
        prefix,
        require_success,
        data_suffix,
        cutoff=f"{prefix}_{as_of_run_id}",
    )
    if path is None:
        raise FileNotFoundError(
            f"no committed '{prefix}_*' snapshot at or before "
            f"{as_of_run_id!r} under {base_dir}"
        )
    return path


class SnapshotConflictError(RuntimeError):
    """Another writer published a snapshot after this writer read its
    parent — the staged delta was computed against a stale base and must
    be recomputed against the new latest snapshot, then retried."""


def _parent_run_id(path: str | None, prefix: str) -> str | None:
    return (
        None
        if path is None
        else os.path.basename(path).removeprefix(f"{prefix}_")
    )


def commit_snapshot(
    base_dir: str,
    run_id: str,
    write_fn,
    expected_parent: str | None,
    prefix: str = SNAPSHOT_PREFIX,
    lock_timeout_s: float = 60.0,
) -> str:
    """Optimistic-concurrency snapshot publish for the read-modify-write
    artifact loops (``advance_corpus_artifacts`` writers, ``scd2_merge``,
    ``run_stream_upsert_parquet`` snapshots): two overlapping runs — a
    retry racing its original is the realistic case — must not interleave
    snapshot advancement and silently lose one delta.

    The primitive under ``advance_snapshot``, which every package
    writer publishes through. Protocol:

    1. The caller reads the CURRENT latest snapshot, computes its new
       state from it, and passes that snapshot's run id as
       ``expected_parent`` (None for the first snapshot ever) —
       ``advance_snapshot`` derives it, and the next run id, from the
       path the writer read.
    2. ``write_fn(staging_dir)`` creates and fills the hidden staging
       dir — a Spark write does both (its default ErrorIfExists mode is
       why the dir is NOT pre-created); plain-file writers
       ``os.makedirs`` it first. A ``_SUCCESS`` marker is added if the
       writer didn't.
    3. The commit: under an ``flock``-held lock file, re-check that the
       latest committed snapshot is still ``expected_parent`` and the
       target doesn't exist, then one atomic ``os.rename`` publishes the
       staging dir. Any other outcome raises ``SnapshotConflictError``
       and the staging dir is cleaned up — the loser recomputes from the
       NEW latest (both deltas survive) and retries with a fresh,
       HIGHER-SORTING run id (enforced: a run id that doesn't sort after
       its parent would publish invisibly under the newest-first reader
       and silently lose its delta).

    The lock guards only the check+rename critical section
    (microseconds; Spark writes happen before, unlocked, so writers
    stage in parallel). flock is released by the kernel when the holder
    dies — there is no stale-lock state to break, and
    ``lock_timeout_s`` bounds only how long a waiter queues. On a
    local/NFSv4/HDFS-fuse filesystem this is correct as-is; on S3-style
    stores swap the lock+rename for the store's conditional-put (the
    protocol shape is unchanged — this function is the one place to do
    it).
    """
    import fcntl
    import shutil
    import time
    import uuid

    if expected_parent is not None and run_id <= expected_parent:
        raise ValueError(
            f"commit_snapshot: run_id {run_id!r} does not sort after the "
            f"expected parent {expected_parent!r} — readers resolve the "
            "lexicographically NEWEST snapshot, so a lower-sorting commit "
            "would publish successfully yet stay permanently invisible "
            "(and its delta would be silently lost)"
        )
    os.makedirs(base_dir, exist_ok=True)
    final = snapshot_path(base_dir, run_id, prefix)
    staging = os.path.join(
        base_dir, f".staging_{prefix}_{run_id}_{uuid.uuid4().hex[:8]}"
    )
    # the lock file is a tiny permanent sentinel per table dir, held via
    # flock: the kernel releases it when the holder dies, so there is no
    # stale-lock state and no break-the-lock race (an unlink-based
    # existence lock can be "broken" twice, letting two writers into the
    # critical section). The file is deliberately never unlinked —
    # unlinking a live flock target is the classic lock-split bug.
    lock = os.path.join(base_dir, f".{prefix}.commit_lock")
    try:
        # write_fn owns staging creation: Spark's default ErrorIfExists
        # save mode refuses a pre-created directory, so plain-file
        # writers os.makedirs(staging) themselves
        write_fn(staging)
        if not os.path.isdir(staging):
            raise ValueError(
                "commit_snapshot: write_fn produced no staging directory "
                f"at {staging}"
            )
        marker = os.path.join(staging, SUCCESS_MARKER)
        if not os.path.exists(marker):
            open(marker, "w").close()

        lock_fd = os.open(lock, os.O_CREAT | os.O_RDWR)
        try:
            deadline = time.monotonic() + lock_timeout_s
            while True:
                try:
                    fcntl.flock(lock_fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
                    break
                except BlockingIOError:
                    if time.monotonic() > deadline:
                        raise TimeoutError(
                            f"commit lock {lock} not acquired within "
                            f"{lock_timeout_s}s"
                        ) from None
                    time.sleep(0.02)
            current = _resolve_snapshot(base_dir, prefix, True, None, None)
            current_id = _parent_run_id(current, prefix)
            if current_id != expected_parent:
                raise SnapshotConflictError(
                    f"latest snapshot is {current_id!r}, not the expected "
                    f"parent {expected_parent!r} — recompute against it "
                    "and retry"
                )
            if os.path.exists(final):
                raise SnapshotConflictError(
                    f"snapshot {run_id!r} already published — retry with "
                    "a fresh run id"
                )
            os.rename(staging, final)  # atomic publish
        finally:
            os.close(lock_fd)  # drops the flock
    except BaseException:
        shutil.rmtree(staging, ignore_errors=True)
        raise
    return final


def advance_snapshot(
    base_dir: str,
    prefix: str,
    parent_snap: str | None,
    write_fn,
    keep_snapshots: int | None = None,
) -> str:
    """Advance a delta-maintained snapshot chain by one generation — the
    one place the classifier counts streams publish through.

    ``parent_snap`` is the snapshot path the writer READ (None for the
    first generation ever). The expected parent and the next run id both
    derive from that path, never from a second directory walk: a commit
    landing between the read and a re-walk would otherwise pass the
    expected-parent check against a generation this delta was NOT
    computed from, silently dropping the interleaved writer's delta.
    A stale ``parent_snap`` (or None on a non-empty chain) therefore
    raises ``SnapshotConflictError`` — recompute against the new latest
    and retry. On success, all but the newest ``keep_snapshots``
    generations are pruned (None keeps all). Run ids are zero-padded
    integers, so lexicographic snapshot order == commit order with no
    wall-clock dependence. Returns the published path."""
    parent = _parent_run_id(parent_snap, prefix)
    path = commit_snapshot(
        base_dir,
        f"{(int(parent) if parent else 0) + 1:012d}",
        write_fn,
        expected_parent=parent,
        prefix=prefix,
    )
    if keep_snapshots:
        prune_snapshots(base_dir, prefix, keep_snapshots)
    return path


def commit_snapshot_with_retry(
    base_dir: str,
    prefix: str,
    write_fn,
    attempts: int = 3,
    keep_snapshots: int | None = None,
) -> str:
    """``advance_snapshot`` for PARENT-INDEPENDENT publishes (full
    rebuilds): on a lost race the staged state is still valid against
    the new parent, so just re-resolve the latest snapshot and retry.
    The only path that re-resolves; delta writers must NOT use it —
    their state depends on the parent they read, so a conflict means
    recompute, not retry."""
    for _attempt in range(attempts):
        try:
            parent_snap = latest_snapshot(base_dir, prefix)
        except FileNotFoundError:
            parent_snap = None
        try:
            return advance_snapshot(
                base_dir, prefix, parent_snap, write_fn, keep_snapshots
            )
        except SnapshotConflictError:
            continue
    raise SnapshotConflictError(
        f"lost the '{prefix}' commit race {attempts} times under "
        f"{base_dir}"
    )


def prune_snapshots(base_dir: str, prefix: str, keep: int) -> None:
    """Drop all but the newest ``keep`` committed snapshots — bounds
    disk growth across repeated rebuilds of a derived artifact.

    Pruning does NOT synchronize with readers: a reader that resolved
    generation N and is still scanning (or lazily holds a DataFrame
    over it) fails with FileNotFoundError if ``keep`` newer publishes
    land first and N is deleted. The default ``keep=2`` in the index
    builders tolerates one overlapping rebuild; in a serving deployment
    set ``keep`` above the number of publishes that can occur within
    the longest reader's lifetime (or ``None`` to keep all — required
    if readers pin old snapshots via ``snapshot_as_of``) and compact
    offline."""
    import shutil

    snaps = sorted(
        d for d in os.listdir(base_dir) if d.startswith(f"{prefix}_")
    )
    for d in snaps[:-keep] if keep else []:
        shutil.rmtree(os.path.join(base_dir, d), ignore_errors=True)


def write_layer(
    df: DataFrame,
    path: str,
    partition_keys: list[str] | None = None,
    mode: str = "overwrite",
    fmt: str = "parquet",
) -> None:
    """OP-06/OP-07: partitioned columnar sink.

    Repartitions by the partition keys first so each Hive partition is
    produced by a single task (small-file fix, SURVEY.md §4.3-2). AQE does
    not split a skewed partition of this shuffle (it splits skew only in
    ``rebalance`` shuffles), so a hot key is one file written by one task.
    Spark drops this repartition when ``df`` is already so partitioned.
    """
    writer = df
    if partition_keys:
        writer = df.repartition(*partition_keys)
    w = writer.write.mode(mode).format(fmt)
    if partition_keys:
        w = w.partitionBy(*partition_keys)
    w.save(path)
    # Dynamic-partition overwrite commits without a _SUCCESS marker; the
    # marker is this engine's snapshot-validity contract (OP-08), so write it
    # explicitly once the save has committed. (Local FS here; on object
    # stores the equivalent is the job-commit marker of the committer in use.)
    marker = os.path.join(path, SUCCESS_MARKER)
    if not os.path.exists(marker):
        open(marker, "w").close()


def add_zorder_key(
    df: DataFrame,
    dims: list[str],
    bits: int = 16,
    key_col: str = "zkey",
) -> DataFrame:
    """Append a Morton (Z-order) key interleaving ``dims`` — integer
    columns (pre-quantize money/decimals exactly, e.g. cents) scaled to
    ``[0, 2^bits)`` against their GLOBAL min/max, bits interleaved so
    rows close in every dimension get close keys.

    The bounds are a broadcast 1-row aggregate (one extra pass over the
    scan's min/max — at 100 TB, read them from table statistics
    instead); scaling and interleaving are pure int64 expressions, so
    the key is deterministic and engine-portable."""
    from inbev_data_engineering_case_spark.functions import (
        bit_interleave,
        morton_bucket_expr,
    )

    aggs = []
    for c in dims:
        aggs += [F.min(c).alias(f"_lo_{c}"), F.max(c).alias(f"_hi_{c}")]
    bounds = df.agg(*aggs)
    buckets = [
        morton_bucket_expr(c, f"_lo_{c}", f"_hi_{c}", bits) for c in dims
    ]
    drop = [f"_lo_{c}" for c in dims] + [f"_hi_{c}" for c in dims]
    return (
        df.join(F.broadcast(bounds))
        .withColumn(key_col, bit_interleave(buckets, bits))
        .drop(*drop)
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str],
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """Change-data-capture between two snapshots of the same table:
    returns ``key_cols + (change)`` with change ∈ {insert, update,
    delete} — the feed an incremental downstream (gold refresh, index
    update, cache invalidation) consumes instead of re-reading the whole
    new snapshot.

    One full-outer shuffle join on the keys; change detection compares a
    single xxhash64 over ``compare_cols`` (default: all non-key columns,
    sorted for stability), so the exchange carries key + 8-byte hash per
    side regardless of row width — the same narrow-shuffle discipline as
    exact dedup. Unchanged rows are filtered out before anything
    downstream."""
    compare_cols = compare_cols or sorted(
        c for c in new.columns if c not in key_cols
    )

    def hashed(df: DataFrame, alias: str) -> DataFrame:
        cols = [F.col(c).cast("string") for c in compare_cols]
        return df.select(
            *key_cols, F.xxhash64(*cols).alias(f"{alias}_h")
        )

    joined = hashed(old, "old").join(
        hashed(new, "new"), on=key_cols, how="full_outer"
    )
    change = (
        F.when(F.col("old_h").isNull(), F.lit("insert"))
        .when(F.col("new_h").isNull(), F.lit("delete"))
        .when(F.col("old_h") != F.col("new_h"), F.lit("update"))
    )
    return (
        joined.withColumn("change", change)
        .filter(F.col("change").isNotNull())
        .select(*key_cols, "change")
    )


def publish_view(spark: SparkSession, df: DataFrame, name: str) -> list[str]:
    """OP-09: register as a global temp view and return the catalog listing
    (reference gold_data_aggregation.py:53-56): the names
    ``spark.catalog.listTables("global_temp")`` gives, local temp views
    included. ``SHOW TABLES`` is a driver-side command whose result is
    collected without a Spark job; ``listTables`` runs jobs to collect it."""
    df.createOrReplaceGlobalTempView(name)
    return [r.tableName for r in spark.sql("SHOW TABLES IN global_temp").collect()]
