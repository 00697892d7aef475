"""Snapshot catalog (OP-08) unit tests: latest-folder resolution,
_SUCCESS gating, data-suffix gating, and failure when nothing qualifies."""

from __future__ import annotations

import os

import pytest

from inbev_data_engineering_case_spark.layers import (
    latest_snapshot,
    snapshot_path,
    write_layer,
)


def mkdir_snapshot(base, run_id, files=()):
    p = snapshot_path(str(base), run_id)
    os.makedirs(p, exist_ok=True)
    for f in files:
        open(os.path.join(p, f), "w").close()
    return p


def test_latest_prefers_newest_valid(tmp_path):
    mkdir_snapshot(tmp_path, "2024-01-01-00-00", ["_SUCCESS", "x.parquet"])
    newest = mkdir_snapshot(tmp_path, "2024-06-01-00-00", ["_SUCCESS", "y.parquet"])
    mkdir_snapshot(tmp_path, "2024-12-01-00-00")  # newer but no _SUCCESS
    assert latest_snapshot(str(tmp_path)) == newest


def test_latest_bronze_rule_csv_suffix(tmp_path):
    mkdir_snapshot(tmp_path, "2024-01-01-00-00", ["page_0.csv"])
    newest = mkdir_snapshot(tmp_path, "2024-02-01-00-00", ["page_0.csv"])
    mkdir_snapshot(tmp_path, "2024-03-01-00-00", ["notes.txt"])  # no csv
    got = latest_snapshot(str(tmp_path), require_success=False, data_suffix=".csv")
    assert got == newest


def test_latest_raises_when_empty(tmp_path):
    mkdir_snapshot(tmp_path, "2024-01-01-00-00")  # invalid: no marker
    with pytest.raises(FileNotFoundError):
        latest_snapshot(str(tmp_path))
    with pytest.raises(FileNotFoundError):
        latest_snapshot(str(tmp_path / "missing"))


def test_write_layer_partitions_and_success(spark, tmp_path):
    df = spark.createDataFrame(
        [("a", "x", 1), ("a", "y", 2), ("b", "x", 3)], ["country", "state", "v"]
    )
    out = str(tmp_path / "out")
    write_layer(df, out, ["country", "state"])
    names = os.listdir(out)
    assert "_SUCCESS" in names
    assert {"country=a", "country=b"} <= set(names)
    # Small-file fix: repartition by keys → one file per leaf partition.
    leaf = os.path.join(out, "country=a", "state=x")
    assert len([f for f in os.listdir(leaf) if f.endswith(".parquet")]) == 1
    back = spark.read.parquet(out)
    assert back.count() == 3


def test_snapshot_diff_cdc_known_answer(spark):
    from inbev_data_engineering_case_spark.layers import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0), (4, "d", 40.0)],
        "k long, name string, v double",
    )
    new = spark.createDataFrame(
        [(1, "a", 10.0),          # unchanged -> absent from the diff
         (2, "b", 21.0),          # value update
         (4, "D", 40.0),          # non-key column update
         (5, "e", 50.0)],         # insert; 3 deleted
        "k long, name string, v double",
    )
    diff = {
        r["k"]: r["change"]
        for r in snapshot_diff(old, new, key_cols=["k"]).collect()
    }
    assert diff == {2: "update", 3: "delete", 4: "update", 5: "insert"}

    # compare_cols narrows change detection: name-only edits vanish
    vdiff = {
        r["k"]: r["change"]
        for r in snapshot_diff(
            old, new, key_cols=["k"], compare_cols=["v"]
        ).collect()
    }
    assert vdiff == {2: "update", 3: "delete", 5: "insert"}


def test_snapshot_as_of_time_travel(tmp_path):
    from inbev_data_engineering_case_spark.layers import snapshot_as_of

    jan = mkdir_snapshot(tmp_path, "2024-01-01-00-00", ["_SUCCESS", "a.parquet"])
    mkdir_snapshot(tmp_path, "2024-03-01-00-00")  # uncommitted (no _SUCCESS)
    jun = mkdir_snapshot(tmp_path, "2024-06-01-00-00", ["_SUCCESS", "b.parquet"])

    # historical read: the March cut resolves to January — the newest
    # COMMITTED snapshot at that moment (the uncommitted one is skipped)
    assert snapshot_as_of(str(tmp_path), "2024-03-15-00-00") == jan
    # an as-of on the exact run id is inclusive
    assert snapshot_as_of(str(tmp_path), "2024-01-01-00-00") == jan
    # a future as-of sees the latest
    assert snapshot_as_of(str(tmp_path), "2025-01-01-00-00") == jun
    # before the first commit: nothing existed
    with pytest.raises(FileNotFoundError):
        snapshot_as_of(str(tmp_path), "2023-12-31-23-59")


# ---------------------------------------------------------------------------
# optimistic-concurrency snapshot commit
# ---------------------------------------------------------------------------


def _read_corpus(base):
    """Current corpus state: the id set stored in the latest snapshot."""
    from inbev_data_engineering_case_spark.layers import (
        SNAPSHOT_PREFIX,
        _parent_run_id,
        _resolve_snapshot,
    )

    latest = _resolve_snapshot(str(base), SNAPSHOT_PREFIX, True, None, None)
    if latest is None:
        return None, set()
    with open(os.path.join(latest, "ids.txt")) as f:
        return _parent_run_id(latest, SNAPSHOT_PREFIX), {
            int(x) for x in f.read().split()
        }


def _advance(base, run_id, delta, barrier=None):
    """One read-modify-write advance: read latest, union the delta,
    commit against the observed parent. Returns the conflict if it lost."""
    from inbev_data_engineering_case_spark.layers import (
        SnapshotConflictError,
        commit_snapshot,
    )

    parent, ids = _read_corpus(base)
    merged = ids | set(delta)
    if barrier is not None:
        barrier.wait()  # both writers observed the SAME parent

    def write(staging):
        os.makedirs(staging)  # write_fn owns staging creation
        with open(os.path.join(staging, "ids.txt"), "w") as f:
            f.write(" ".join(str(x) for x in sorted(merged)))

    try:
        commit_snapshot(str(base), run_id, write, parent)
        return None
    except SnapshotConflictError as e:
        return e


def test_commit_snapshot_exactly_one_winner_loser_retry_keeps_both(tmp_path):
    """Two concurrent advances race from the same parent: exactly one
    publishes; the loser gets SnapshotConflictError, recomputes against
    the winner's snapshot, and its retry preserves BOTH deltas. No
    staging or lock litter survives."""
    import threading

    assert _advance(tmp_path, "2024-01-01-00-00", {1, 2}) is None  # seed

    barrier = threading.Barrier(2)
    results = {}

    def run(name, run_id, delta):
        results[name] = _advance(tmp_path, run_id, delta, barrier)

    t_a = threading.Thread(target=run, args=("a", "2024-01-02-00-00", {10}))
    t_b = threading.Thread(target=run, args=("b", "2024-01-02-00-01", {20}))
    t_a.start(); t_b.start(); t_a.join(); t_b.join()

    losers = [k for k, v in results.items() if v is not None]
    assert len(losers) == 1  # exactly one winner, one conflict
    _parent, ids = _read_corpus(tmp_path)
    winner_delta = {10} if losers == ["b"] else {20}
    assert ids == {1, 2} | winner_delta  # loser's delta NOT silently lost

    # loser retries from the new latest with a fresh run id
    loser_delta = {20} if losers == ["b"] else {10}
    assert _advance(tmp_path, "2024-01-02-00-05", loser_delta) is None
    _parent, ids = _read_corpus(tmp_path)
    assert ids == {1, 2, 10, 20}  # both deltas survived the race

    # no staging litter; the flock sentinel is the one deliberate dotfile
    litter = [n for n in os.listdir(tmp_path) if n.startswith(".")]
    assert litter == [".brewery_data.commit_lock"]


def test_commit_snapshot_rejects_duplicate_run_id_and_breaks_stale_lock(
    tmp_path,
):
    """A non-advancing run id is rejected up front (it would publish
    invisibly under the newest-first reader), an uncommitted leftover
    dir with the target name conflicts instead of being overwritten, a
    lock file left by a dead process doesn't block (flock died with it),
    and a lock HELD by a live writer times out rather than deadlocking."""
    import fcntl

    from inbev_data_engineering_case_spark.layers import (
        SNAPSHOT_PREFIX,
        SnapshotConflictError,
        commit_snapshot,
        snapshot_path,
    )

    assert _advance(tmp_path, "2024-01-01-00-00", {1}) is None
    # replayed / lower-sorting run id: rejected before any work
    with pytest.raises(ValueError, match="sort after"):
        commit_snapshot(
            str(tmp_path),
            "2024-01-01-00-00",
            lambda staging: None,
            "2024-01-01-00-00",
        )
    # an uncommitted leftover dir with the target name conflicts
    os.makedirs(snapshot_path(str(tmp_path), "2024-01-02-00-00"))
    with pytest.raises(SnapshotConflictError, match="already published"):
        commit_snapshot(
            str(tmp_path),
            "2024-01-02-00-00",
            lambda staging: os.makedirs(staging),
            "2024-01-01-00-00",
        )

    # a lock FILE left behind by a dead process carries no flock: the
    # next commit proceeds immediately
    lock = os.path.join(tmp_path, f".{SNAPSHOT_PREFIX}.commit_lock")
    open(lock, "w").close()
    assert _advance(tmp_path, "2024-01-03-00-00", {2}) is None
    _parent, ids = _read_corpus(tmp_path)
    assert ids == {1, 2}

    # a lock HELD by a live process makes a second writer time out
    holder = os.open(lock, os.O_RDWR)
    fcntl.flock(holder, fcntl.LOCK_EX)
    try:
        with pytest.raises(TimeoutError, match="commit lock"):
            commit_snapshot(
                str(tmp_path),
                "2024-01-04-00-00",
                lambda staging: os.makedirs(staging),
                "2024-01-03-00-00",
                lock_timeout_s=0.3,
            )
    finally:
        os.close(holder)
    # released: the same commit succeeds now
    assert _advance(tmp_path, "2024-01-05-00-00", {3}) is None


def _write_marker(text):
    """A plain-file ``write_fn`` staging one ``ids.txt``."""

    def write(staging):
        os.makedirs(staging)
        with open(os.path.join(staging, "ids.txt"), "w") as f:
            f.write(text)

    return write


def test_advance_snapshot_first_generation_and_prune(tmp_path):
    """Parent None on an empty dir publishes run 000000000001; each
    advance from the snapshot it read takes the next zero-padded run id,
    and ``keep_snapshots`` prunes all but the newest generations."""
    from inbev_data_engineering_case_spark.layers import (
        advance_snapshot,
        latest_snapshot,
    )

    base = str(tmp_path / "chain")
    first = advance_snapshot(base, "idx", None, _write_marker("1"))
    assert os.path.basename(first) == "idx_000000000001"
    snap = first
    for i in range(2, 5):
        snap = advance_snapshot(
            base, "idx", snap, _write_marker(str(i)), keep_snapshots=2
        )
    assert os.path.basename(snap) == "idx_000000000004"
    assert latest_snapshot(base, "idx") == snap
    assert sorted(n for n in os.listdir(base) if n.startswith("idx_")) == [
        "idx_000000000003", "idx_000000000004",
    ]


def test_advance_snapshot_refuses_a_stale_parent(tmp_path):
    """A writer that read a generation another writer has since advanced
    past raises SnapshotConflictError and publishes nothing: the newer
    generation stays latest. Parent None on a non-empty chain is stale
    the same way."""
    from inbev_data_engineering_case_spark.layers import (
        SnapshotConflictError,
        advance_snapshot,
        latest_snapshot,
    )

    base = str(tmp_path / "chain")
    read = advance_snapshot(base, "idx", None, _write_marker("1"))
    newer = advance_snapshot(base, "idx", read, _write_marker("2"))
    with pytest.raises(SnapshotConflictError, match="expected parent"):
        advance_snapshot(base, "idx", read, _write_marker("stale"))
    with pytest.raises(SnapshotConflictError, match="expected parent"):
        advance_snapshot(base, "idx", None, _write_marker("stale"))
    assert latest_snapshot(base, "idx") == newer
    with open(os.path.join(newer, "ids.txt")) as f:
        assert f.read() == "2"
    assert not [n for n in os.listdir(base) if n.startswith(".staging")]
