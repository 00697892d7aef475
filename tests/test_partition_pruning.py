"""Partition pruning: a filter on the partition key must prune directories
at planning time (PartitionFilters + PartitionCount), not scan-and-discard.
This is the data-skipping lever the silver layer's country=/state= layout
exists for (SURVEY.md §1.1, §4.2) — at 100 TB it is the difference between
reading one partition and reading the lake."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from inbev_data_engineering_case_spark.layers import write_layer


@pytest.fixture(scope="module")
def partitioned_events(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("lake") / "events_by_type")
    from inbev_data_engineering_case_spark.sources.readers import read_events

    write_layer(
        read_events(spark, "/root/testdata/sf0.001"),
        path,
        partition_keys=["event_type"],
    )
    return path


def test_partition_filter_prunes_directories(spark, partitioned_events):
    df = spark.read.parquet(partitioned_events)
    n_types = df.select("event_type").distinct().count()
    assert n_types > 1  # layout actually fans out

    q = df.filter(F.col("event_type") == "click")
    plan = q._jdf.queryExecution().executedPlan().toString()
    # attribute names carry expression ids in the plan string (event_type#14)
    assert re.search(r"PartitionFilters: \[.*event_type#\d+ = click\)", plan), plan
    # proof of pruning: execute, then read the scan's numFiles metric —
    # exactly one of the N partition directories' files was opened
    # (DataFrame.inputFiles() would NOT show this: it ignores the filter)
    assert len(q.collect()) > 0
    scan = q._jdf.queryExecution().executedPlan().collectLeaves().head()
    n_read = scan.metrics().apply("numFiles").value()
    assert n_read == 1, n_read
    assert len(df.inputFiles()) > 1  # while the table has several files


def test_non_partition_filter_pushes_to_scan(spark, partitioned_events):
    df = spark.read.parquet(partitioned_events)
    q = df.filter(F.col("user_id") == 3)
    plan = q._jdf.queryExecution().executedPlan().toString()
    # data filter reaches the parquet reader (row-group min/max skipping)
    assert "PushedFilters: [IsNotNull(user_id), EqualTo(user_id,3)]" in plan, plan


def test_morton_key_properties(spark):
    """Morton key invariants (hypothesis over random int grids): the key
    is monotone in each dimension with the other fixed at equal buckets,
    round-trips the bucket bits exactly (de-interleave == bucket), and
    stays within 2*bits width."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    import pyspark.sql.functions as F  # noqa: F811

    from inbev_data_engineering_case_spark.functions import (
        bit_interleave,
        morton_bucket_expr,
    )

    bits = 8

    @given(
        st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=10_000),
                st.integers(min_value=-500, max_value=500),
            ),
            min_size=2,
            max_size=20,
            unique=True,
        )
    )
    @settings(max_examples=8, deadline=None)
    def check(rows):
        df = spark.createDataFrame(
            [(i, a, b) for i, (a, b) in enumerate(rows)],
            "rid long, a long, b long",
        )
        aggs = [
            F.min("a").alias("_lo_a"), F.max("a").alias("_hi_a"),
            F.min("b").alias("_lo_b"), F.max("b").alias("_hi_b"),
        ]
        out = (
            df.join(F.broadcast(df.agg(*aggs)))
            .withColumn("ba", morton_bucket_expr("a", "_lo_a", "_hi_a", bits))
            .withColumn("bb", morton_bucket_expr("b", "_lo_b", "_hi_b", bits))
            .withColumn(
                "z", bit_interleave([F.col("ba"), F.col("bb")], bits)
            )
            .collect()
        )
        for r in out:
            assert 0 <= r["ba"] < (1 << bits) and 0 <= r["bb"] < (1 << bits)
            assert 0 <= r["z"] < (1 << (2 * bits))
            # de-interleave recovers the buckets exactly
            da = sum(((r["z"] >> (2 * i)) & 1) << i for i in range(bits))
            db = sum(((r["z"] >> (2 * i + 1)) & 1) << i for i in range(bits))
            assert (da, db) == (r["ba"], r["bb"])
        # monotone per dimension at fixed other-bucket
        by_bb = {}
        for r in out:
            by_bb.setdefault(r["bb"], []).append((r["ba"], r["z"]))
        for group in by_bb.values():
            group.sort()
            zs = [z for _, z in group]
            assert zs == sorted(zs)

    check()


def test_dynamic_partition_pruning_from_dim_filter(spark, partitioned_events):
    """Dynamic partition pruning: when the partition-key predicate lives
    on the DIM side of a join (not as a literal on the fact), Spark
    broadcasts the filtered dim keys as a runtime subquery and prunes
    fact partitions with them — the star-schema twin of the static case
    above, and at 100 TB the difference between scanning one
    event_type's directories and the whole lake. (Same family as the
    runtime Bloom filter in test_plans.py, but at FILE granularity.)"""
    fact = spark.read.parquet(partitioned_events)
    dim = spark.createDataFrame(
        [(t, t[:1]) for t in ("click", "view", "purchase", "signup", "error")],
        "event_type string, label string",
    )
    # Force the standalone-subquery DPP path so the pruning is
    # observable in this toy layout: AQE off (its query stages hide the
    # scan metrics from collectLeaves) and reuseBroadcastOnly/useStats
    # off (the benefit heuristics skip the subquery when the table is
    # KB-sized — at cluster scale the default broadcast-reuse path
    # prunes identically at zero extra cost).
    confs = {
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly":
            "false",
        "spark.sql.optimizer.dynamicPartitionPruning.useStats": "false",
    }
    saved = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        q = fact.join(
            F.broadcast(dim.filter(F.col("label") == "c")), "event_type"
        )
        plan = q._jdf.queryExecution().executedPlan().toString()
        assert "dynamicpruning" in plan.lower(), plan
        # executing proves the pruning monetizes: one of the five
        # partition directories opened, only its rows scanned
        assert len(q.collect()) > 0
        stats = None
        scans = q._jdf.queryExecution().executedPlan().collectLeaves()
        for i in range(scans.size()):
            m = scans.apply(i).metrics()
            if m.contains("numFiles"):
                stats = (
                    m.apply("numFiles").value(),
                    m.apply("numPartitions").value(),
                )
        assert stats == (1, 1), stats
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
