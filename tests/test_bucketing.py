"""Bucketed co-located join: pre-bucketing both sides of a repeated
fact-fact join on the join key removes the shuffle entirely — at 100 TB
the single biggest cost lever for recurring joins (operators/joins.py
module docstring). This test proves the plan property: a join of two
tables bucketed by the same key into the same bucket count contains NO
shuffle exchange."""

from __future__ import annotations

import pytest


@pytest.fixture()
def bucketed_pair(spark):
    # saveAsTable writes to the session warehouse dir (static conf, set at
    # session build); tables are dropped in teardown
    orders = spark.range(0, 1000).selectExpr(
        "id AS o_orderkey", "id % 7 AS o_custkey"
    )
    items = spark.range(0, 5000).selectExpr(
        "id % 1000 AS l_orderkey", "id AS l_item", "id * 1.5 AS l_price"
    )
    for name, df, key in [
        ("t_orders_b", orders, "o_orderkey"),
        ("t_items_b", items, "l_orderkey"),
    ]:
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        (
            df.write.bucketBy(8, key)
            .sortBy(key)
            .format("parquet")
            .mode("overwrite")
            .saveAsTable(name)
        )
    yield "t_orders_b", "t_items_b"
    spark.sql("DROP TABLE IF EXISTS t_orders_b")
    spark.sql("DROP TABLE IF EXISTS t_items_b")


def test_bucketed_join_has_no_shuffle(spark, bucketed_pair):
    t_orders, t_items = bucketed_pair
    # disable auto-broadcast: at test scale the planner would broadcast
    # (and rightly skip the bucketed path); the property under test is the
    # big-big join shape, where both sides exceed any broadcast threshold
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table(t_items).join(
            spark.table(t_orders),
            spark.table(t_items)["l_orderkey"]
            == spark.table(t_orders)["o_orderkey"],
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan, plan
        assert "Exchange" not in plan, plan  # co-located: zero shuffles
        # sanity: the join actually computes
        assert joined.count() == 5000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


@pytest.mark.slow
def test_bloom_semi_join_identity_and_no_false_negatives(spark):
    """bloom_semi_join must be EXACTLY the plain left-semi join (false
    positives die in the real join), the prefilter must be a superset
    of the true matches at ANY geometry — false negatives are
    impossible by construction, pinned over random key sets and
    deliberately tiny (high-fp) filters — and a geometry-mismatched
    probe raises in-plan rather than silently dropping matches."""
    import pytest
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from inbev_data_engineering_case_spark.operators.joins import (
        bloom_filter_build,
        bloom_might_contain,
        bloom_semi_join,
    )

    li = (
        spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
        .select("l_orderkey", "l_quantity")
        .localCheckpoint(eager=True)
    )

    @settings(max_examples=6, deadline=None)
    @given(
        keys=st.lists(
            st.integers(0, 6000), unique=True, min_size=0, max_size=40
        ),
        num_bits=st.sampled_from([64, 512, 1 << 14]),
        num_hashes=st.integers(1, 6),
        # None = the 1-row fast path; 64 stresses the banked path at
        # its finest geometry (up to 256 single-word banks); 384 does
        # NOT divide the sampled num_bits — the ragged-final-bank case
        # (and exceeds num_bits=64 entirely — the one-short-bank case)
        bank_bits=st.sampled_from([None, 64, 384]),
    )
    def prop(keys, num_bits, num_hashes, bank_bits):
        dim = spark.createDataFrame(
            [(k,) for k in keys], "l_orderkey long"
        )
        want = sorted(
            map(tuple, li.join(dim, "l_orderkey", "left_semi").collect())
        )
        got = sorted(
            map(
                tuple,
                bloom_semi_join(
                    li, dim, "l_orderkey", num_bits, num_hashes, bank_bits
                ).collect(),
            )
        )
        assert got == want
        if keys:
            bloom = bloom_filter_build(
                dim, "l_orderkey", num_bits, num_hashes, bank_bits
            )
            kept = bloom_might_contain(
                li, bloom, "l_orderkey", num_bits, num_hashes, bank_bits
            ).count()
            assert kept >= len(want)  # superset: no false negatives

    prop()

    dim = spark.createDataFrame([(7,), (9,)], "l_orderkey long")
    bloom = bloom_filter_build(dim, "l_orderkey", 1 << 10, 3)
    with pytest.raises(Exception, match="geometry"):
        bloom_might_contain(li, bloom, "l_orderkey", 1 << 11, 3).count()
    with pytest.raises(Exception, match="geometry"):
        # same bit width, different banking — offsets into the bank
        # arrays would not line up
        bloom_might_contain(
            li, bloom, "l_orderkey", 1 << 10, 3, bank_bits=64
        ).count()
    with pytest.raises(ValueError, match="num_bits"):
        bloom_filter_build(dim, "l_orderkey", 100, 3)  # not a mult of 64
    with pytest.raises(ValueError, match="bank_bits"):
        bloom_filter_build(dim, "l_orderkey", 1 << 10, 3, bank_bits=96)
    # a CORRUPT banked table mixing two geometries must raise the
    # geometry error even when the probe's claim matches SOME rows —
    # the guard is folded into the map key, so every bank row is
    # checked during assembly and one wrong row can't hide
    mixed = bloom_filter_build(
        dim, "l_orderkey", 1 << 10, 3, bank_bits=128
    ).unionByName(
        bloom_filter_build(dim, "l_orderkey", 1 << 10, 4, bank_bits=128)
    )
    with pytest.raises(Exception, match="geometry"):
        bloom_might_contain(
            li, mixed, "l_orderkey", 1 << 10, 3, bank_bits=128
        ).count()
    # duplicated SAME-geometry bank rows under mapKeyDedupPolicy=
    # LAST_WIN (a common global workaround) would silently merge,
    # dropping one row's set bits — the size guard must raise instead
    good = bloom_filter_build(dim, "l_orderkey", 1 << 10, 3, bank_bits=128)
    doubled = good.unionByName(good)
    old_policy = spark.conf.get("spark.sql.mapKeyDedupPolicy", "EXCEPTION")
    spark.conf.set("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
    try:
        with pytest.raises(Exception, match="bank rows"):
            bloom_might_contain(
                li, doubled, "l_orderkey", 1 << 10, 3, bank_bits=128
            ).count()
    finally:
        spark.conf.set("spark.sql.mapKeyDedupPolicy", old_policy)
    # a MISSING bank row would NULL out element_at — silent false
    # negatives; the same completeness guard catches it
    with pytest.raises(Exception, match="bank rows"):
        bloom_might_contain(
            li, good.filter("bank != 1"), "l_orderkey", 1 << 10, 3,
            bank_bits=128,
        ).count()
    # past the broadcastable ceiling the probe no longer raises — it
    # routes to the bank-partitioned shuffle probe (never assembling
    # the bitmap into one row), so planning succeeds and the mismatch
    # between this filter's real geometry and the claimed one is
    # caught in-plan at execution, exactly like the broadcast paths
    past = bloom_might_contain(
        li, good, "l_orderkey", 1 << 34, 3, bank_bits=1 << 20
    )
    plan = past._jdf.queryExecution().executedPlan().toString()
    assert "map_from_entries" not in plan, plan
    with pytest.raises(Exception, match="geometry"):
        past.count()


def test_bloom_banked_build_has_no_single_task_densify(spark):
    """At the 1e9-key regime (num_bits past _SINGLE_ROW_MAX_BITS) the
    build must densify per BANK — a hash exchange on the bank id, one
    bounded collect_list per bank — never the single global aggregate
    that would pull every word struct into one task. Pinned on the
    physical plan: no SinglePartition exchange anywhere in the banked
    build, and exactly num_bits/bank_bits bank rows of bank_bits/64
    words each."""
    from pyspark.sql import functions as F

    from inbev_data_engineering_case_spark.operators.joins import (
        _DEFAULT_BANK_BITS,
        _SINGLE_ROW_MAX_BITS,
        bloom_filter_build,
    )

    dim = spark.range(100).select(F.col("id").alias("k"))
    num_bits = _SINGLE_ROW_MAX_BITS * 2  # auto-banks
    bloom = bloom_filter_build(dim, "k", num_bits, 3)
    plan = bloom._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan, plan
    rows = bloom.collect()
    assert len(rows) == num_bits // _DEFAULT_BANK_BITS
    assert sorted(r["bank"] for r in rows) == list(range(len(rows)))
    assert all(len(r["bf"]) == _DEFAULT_BANK_BITS // 64 for r in rows)
    assert all(
        (r["num_bits"], r["num_hashes"], r["bank_bits"])
        == (num_bits, 3, _DEFAULT_BANK_BITS)
        for r in rows
    )
    # and the small default geometry keeps the classic 1-row form
    small = bloom_filter_build(dim, "k", 1 << 20, 3)
    assert small.count() == 1

    # documented sizing num_bits ~ 10*|keys| is rarely a bank multiple:
    # the final bank is simply SHORTER and the semi join stays exact
    from inbev_data_engineering_case_spark.operators.joins import (
        bloom_semi_join,
    )

    li = spark.read.parquet(
        "/root/testdata/sf0.001/lineitem.parquet"
    ).select("l_orderkey", "l_quantity")
    keep = spark.createDataFrame(
        [(7,), (9,), (4000,)], "l_orderkey long"
    )
    ragged_bits = _SINGLE_ROW_MAX_BITS + (3 << 18)  # 2^23 + 768K: ragged
    ragged = bloom_filter_build(keep, "l_orderkey", ragged_bits, 5)
    rows = sorted(ragged.collect(), key=lambda r: r["bank"])
    assert len(rows) == -(-ragged_bits // _DEFAULT_BANK_BITS)
    assert len(rows[-1]["bf"]) == (ragged_bits % _DEFAULT_BANK_BITS) // 64
    want = sorted(
        map(tuple, li.join(keep, "l_orderkey", "left_semi").collect())
    )
    got = sorted(
        map(
            tuple,
            bloom_semi_join(li, keep, "l_orderkey", ragged_bits, 5)
            .collect(),
        )
    )
    assert got == want and got


def test_bloom_banked_probe_ships_the_bitmap_once(spark):
    """The banked probe must broadcast the bitmap exactly ONCE — as
    the assembled one-row map<bank, bf> frame — with all num_hashes
    lookups pure Column expressions: no per-hash join of the banks
    table (which would ship the full bitmap num_hashes times at the
    motivating 1e10-bit regime), no fact-side shuffle."""
    from pyspark.sql import functions as F

    from inbev_data_engineering_case_spark.operators.joins import (
        bloom_filter_build,
        bloom_might_contain,
    )

    li = spark.read.parquet(
        "/root/testdata/sf0.001/lineitem.parquet"
    ).select("l_orderkey", "l_quantity")
    dim = li.select("l_orderkey").filter(F.col("l_orderkey") % 7 == 0)
    num_bits, num_hashes, bank_bits = 1 << 14, 5, 64  # 256 banks
    bloom = bloom_filter_build(
        dim, "l_orderkey", num_bits, num_hashes, bank_bits
    )
    pruned = bloom_might_contain(
        li, bloom, "l_orderkey", num_bits, num_hashes, bank_bits
    )
    assert pruned.count() > 0
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    # exactly one BNLJ carries the 1-row probe frame onto the fact;
    # the only other broadcast is INSIDE the bitmap build (the word
    # agg joined to spark.range), which executes once
    assert plan.count("BroadcastNestedLoopJoin") == 1, plan
    assert plan.count("BroadcastExchange") <= 2, plan
    # the fact side reaches the filter unshuffled
    assert "Exchange rangepartitioning" not in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_bloom_prefilter_rides_the_scan(spark):
    """Plan shape: the probe is a broadcast of ONE bloom row into the
    fact scan (no shuffle of the fact side before the filter, no
    cartesian beyond the 1-row BNLJ), and the filter prunes before the
    exact join's exchange."""
    from pyspark.sql import functions as F

    from inbev_data_engineering_case_spark.operators.joins import (
        bloom_semi_join,
    )

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    dim = (
        spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
        .filter(F.col("o_totalprice") > 450000)
        .select(F.col("o_orderkey").alias("l_orderkey"))
    )
    df = bloom_semi_join(li, dim, "l_orderkey")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "Exchange rangepartitioning" not in plan, plan
    # the 1-row bloom joins as a broadcast
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


@pytest.mark.slow
def test_bloom_shuffle_probe_past_ceiling_is_exact(spark, monkeypatch):
    """Past _PROBE_MAX_BITS the probe must AUTOMATICALLY fall back to
    the bank-partitioned shuffle probe — same answers (semi-join
    identity incl. duplicate fact rows, no-false-negative superset) at
    every geometry the broadcast paths are pinned at, including the
    ragged final bank and the explicit single-bank bank_bits=num_bits
    form that used to bypass the ceiling — while NO row of the plan
    assembles the whole bitmap (no one-row map frame, no BNLJ; with
    auto-broadcast off, the bank rows join distributed)."""
    from pyspark.sql import functions as F

    from inbev_data_engineering_case_spark.operators import joins

    monkeypatch.setattr(joins, "_PROBE_MAX_BITS", 1 << 10)

    li = (
        spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
        .select("l_orderkey", "l_quantity")
        .localCheckpoint(eager=True)
    )
    dim = li.select("l_orderkey").filter(F.col("l_orderkey") % 7 == 0)
    want = sorted(
        map(tuple, li.join(dim, "l_orderkey", "left_semi").collect())
    )
    assert want  # non-vacuous: lineitem has duplicate keys to preserve

    num_bits = 1 << 14
    # (bank_bits, label): fine banks, ragged final bank, and the
    # explicit single-bank geometry that must not dodge the ceiling
    for bank_bits in (64, 384, num_bits):
        got = sorted(
            map(
                tuple,
                joins.bloom_semi_join(
                    li, dim, "l_orderkey", num_bits, 5, bank_bits
                ).collect(),
            )
        )
        assert got == want, bank_bits
        bloom = joins.bloom_filter_build(
            dim, "l_orderkey", num_bits, 5, bank_bits
        )
        pruned = joins.bloom_might_contain(
            li, bloom, "l_orderkey", num_bits, 5, bank_bits
        )
        assert pruned.count() >= len(want), bank_bits  # superset

    # plan shape with auto-broadcast off: distributed bank join, no
    # single-row bitmap assembly anywhere
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        bloom = joins.bloom_filter_build(dim, "l_orderkey", num_bits, 5, 64)
        pruned = joins.bloom_might_contain(
            li, bloom, "l_orderkey", num_bits, 5, 64
        )
        assert pruned.count() >= len(want)
        plan = pruned._jdf.queryExecution().executedPlan().toString()
        assert "map_from_entries" not in plan, plan
        assert "BroadcastNestedLoopJoin" not in plan, plan
        assert "CartesianProduct" not in plan, plan
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)

    # geometry mismatch raises in-plan on the fallback path too
    bloom = joins.bloom_filter_build(dim, "l_orderkey", num_bits, 5, 64)
    with pytest.raises(Exception, match="geometry"):
        joins.bloom_might_contain(
            li, bloom, "l_orderkey", num_bits, 3, 64
        ).count()
    # a duplicated bank row inflates the per-row probe count -> raise
    with pytest.raises(Exception, match="duplicated bank rows"):
        joins.bloom_might_contain(
            li, bloom.unionAll(bloom), "l_orderkey", num_bits, 5, 64
        ).count()


def test_bloom_single_bank_duplicate_row_raises(spark):
    """The single-bank BROADCAST path (below the ceiling) must guard
    the bank-row count like the banked path does: a filter carrying a
    duplicate of its one row would otherwise silently duplicate every
    probed fact row through the cross-join."""
    from inbev_data_engineering_case_spark.operators import joins

    li = spark.read.parquet(
        "/root/testdata/sf0.001/lineitem.parquet"
    ).select("l_orderkey", "l_quantity")
    dim = spark.createDataFrame([(7,), (14,)], "l_orderkey long")
    bloom = joins.bloom_filter_build(dim, "l_orderkey", 1 << 10, 3)
    ok = joins.bloom_might_contain(li, bloom, "l_orderkey", 1 << 10, 3)
    n_ok = ok.count()
    assert n_ok > 0
    with pytest.raises(Exception, match="bank rows, expected 1"):
        joins.bloom_might_contain(
            li, bloom.unionAll(bloom), "l_orderkey", 1 << 10, 3
        ).count()


@pytest.mark.slow
def test_bloom_anti_join_identity_and_partition(spark, monkeypatch):
    """bloom_anti_join must be EXACTLY the plain left-anti join at any
    geometry (false negatives impossible ⇒ a cleared row is proof of
    absence; false positives die in the exact anti join), NULL keys —
    which a left-anti always keeps — must survive on the cleared
    branch in BOTH probe regimes, and the two probe directions must
    PARTITION the fact exactly (cleared + might == fact, row for
    row)."""
    from pyspark.sql import functions as F

    from inbev_data_engineering_case_spark.operators import joins

    li = (
        spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
        .select("l_orderkey", "l_quantity")
        .limit(2000)
        .unionByName(
            spark.createDataFrame(
                [(None, 1.0), (None, 2.0)],
                "l_orderkey long, l_quantity double",
            )
        )
        .localCheckpoint(eager=True)
    )
    drop = li.select("l_orderkey").filter(F.col("l_orderkey") % 5 == 0)

    def k(t):  # None-safe sort key
        return tuple((x is None, 0 if x is None else x) for x in t)

    want = sorted(
        map(tuple, li.join(drop, "l_orderkey", "left_anti").collect()),
        key=k,
    )
    assert any(t[0] is None for t in want)  # nulls are kept rows

    for bank_bits in (None, 64, 384):
        got = sorted(
            map(
                tuple,
                joins.bloom_anti_join(
                    li, drop, "l_orderkey", 1 << 14, 5, bank_bits
                ).collect(),
            ),
            key=k,
        )
        assert got == want, bank_bits

    # partition property: the two directions of one probe cover fact
    # exactly once
    bloom = joins.bloom_filter_build(drop, "l_orderkey", 1 << 14, 5, 64)
    might = joins.bloom_might_contain(li, bloom, "l_orderkey", 1 << 14, 5, 64)
    cleared = joins.bloom_might_contain(
        li, bloom, "l_orderkey", 1 << 14, 5, 64, negate=True
    )
    both = sorted(map(tuple, might.unionByName(cleared).collect()), key=k)
    assert both == sorted(map(tuple, li.collect()), key=k)

    # DENSE filter: Spark's xxhash64 ignores NULL inputs (a null key
    # hashes to a REAL value), so an unpinned null would probe real
    # bit positions and — in a saturated filter — test positive,
    # landing on the might side. The explicit isNotNull pin must keep
    # BOTH null rows on the cleared side at any density, and the anti
    # identity must hold
    dense = joins.bloom_filter_build(drop, "l_orderkey", 64, 3)
    might_d = joins.bloom_might_contain(li, dense, "l_orderkey", 64, 3)
    cleared_d = joins.bloom_might_contain(
        li, dense, "l_orderkey", 64, 3, negate=True
    )
    assert not any(r["l_orderkey"] is None for r in might_d.collect())
    assert (
        sum(1 for r in cleared_d.collect() if r["l_orderkey"] is None) == 2
    )
    got_d = sorted(
        map(
            tuple,
            joins.bloom_anti_join(li, drop, "l_orderkey", 64, 3).collect(),
        ),
        key=k,
    )
    assert got_d == want

    # past the broadcast ceiling the anti join routes to the PLAIN
    # left-anti (a twice-run shuffle probe would out-cost the join it
    # prefilters): identity must hold and the plan must contain no
    # bloom probe machinery at all
    monkeypatch.setattr(joins, "_PROBE_MAX_BITS", 1 << 10)
    past = joins.bloom_anti_join(li, drop, "l_orderkey", 1 << 14, 5, 64)
    got = sorted(map(tuple, past.collect()), key=k)
    assert got == want
    plan = past._jdf.queryExecution().executedPlan().toString()
    assert "_bloom_" not in plan

    # the negate shuffle probe itself (reachable via bloom_might_contain
    # direct callers past the ceiling) still partitions fact exactly,
    # nulls routed around the missing-bank guard onto the cleared side
    might_p = joins.bloom_might_contain(
        li, bloom, "l_orderkey", 1 << 14, 5, 64
    )
    cleared_p = joins.bloom_might_contain(
        li, bloom, "l_orderkey", 1 << 14, 5, 64, negate=True
    )
    both_p = sorted(
        map(tuple, might_p.unionByName(cleared_p).collect()), key=k
    )
    assert both_p == sorted(map(tuple, li.collect()), key=k)
    assert any(t[0] is None for t in map(tuple, cleared_p.collect()))


def test_bloom_trusted_build_skips_count_guard_in_plan(spark):
    """bloom_semi_join/bloom_anti_join build their filter in the same
    call, where a duplicate bank row is impossible by construction —
    their plans must NOT carry the single-bank count-guard aggregation
    (a second exchange + stage barrier per action, measured ~16% of
    q_bloom_join's wall clock). The public bloom_might_contain keeps
    the guard for caller-supplied frames."""
    from pyspark.sql import functions as F

    from inbev_data_engineering_case_spark.operators import joins

    li = spark.read.parquet(
        "/root/testdata/sf0.001/lineitem.parquet"
    ).select("l_orderkey", "l_quantity")
    dim = li.select("l_orderkey").filter(F.col("l_orderkey") % 7 == 0)

    semi = joins.bloom_semi_join(li, dim, "l_orderkey", 1 << 14, 5)
    anti = joins.bloom_anti_join(li, dim, "l_orderkey", 1 << 14, 5)
    for df in (semi, anti):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "_bloom_nrows" not in plan
    bloom = joins.bloom_filter_build(dim, "l_orderkey", 1 << 14, 5)
    probed = joins.bloom_might_contain(li, bloom, "l_orderkey", 1 << 14, 5)
    plan = probed._jdf.queryExecution().executedPlan().toString()
    assert "_bloom_nrows" in plan  # public path stays guarded


def test_bloom_anti_join_pin_lineage_guard(spark, monkeypatch):
    """bloom_anti_join evaluates fact TWICE (cleared + might branches);
    nondeterministic lineage could hand each branch different rows —
    the pin_lineage guard must localCheckpoint such a fact ('auto'
    detects rand()-derived plans; True always pins; False never), and
    the pinned path must still produce the exact anti-join result."""
    from pyspark.sql import functions as F

    from inbev_data_engineering_case_spark.operators import joins

    li = spark.read.parquet(
        "/root/testdata/sf0.001/lineitem.parquet"
    ).select("l_orderkey", "l_quantity")
    drop = li.select("l_orderkey").filter(F.col("l_orderkey") % 5 == 0)

    # the detector itself: deterministic scan vs rand()-derived filter
    assert joins._plan_is_deterministic(li)
    nondet = li.filter(F.rand(seed=7) < 2.0)  # always-true, but flagged
    assert not joins._plan_is_deterministic(nondet)

    pinned = []
    # patch the RUNTIME class (pyspark.sql.classic.dataframe.DataFrame
    # here) — the pyspark.sql.DataFrame facade dispatches to it, so
    # patching the base would never intercept the call
    cls = type(li)
    real = cls.localCheckpoint

    def spy(self, eager=True):
        pinned.append(eager)
        return real(self, eager=eager)

    monkeypatch.setattr(cls, "localCheckpoint", spy)

    # auto + deterministic fact: no pin (pre-guard plan, zero cost)
    joins.bloom_anti_join(li, drop, "l_orderkey", 1 << 14, 5)
    assert pinned == []
    # auto + nondeterministic fact: lazily pinned
    joins.bloom_anti_join(nondet, drop, "l_orderkey", 1 << 14, 5)
    assert pinned == [False]
    # explicit True: always pinned; False: caller's responsibility
    joins.bloom_anti_join(li, drop, "l_orderkey", 1 << 14, 5,
                          pin_lineage=True)
    assert pinned == [False, False]
    joins.bloom_anti_join(nondet, drop, "l_orderkey", 1 << 14, 5,
                          pin_lineage=False)
    assert pinned == [False, False]
    monkeypatch.setattr(cls, "localCheckpoint", real)

    # the pinned path end-to-end: exact left-anti identity holds
    def key(t):
        return tuple((x is None, 0 if x is None else x) for x in t)

    want = sorted(
        map(tuple, li.join(drop, "l_orderkey", "left_anti").collect()),
        key=key,
    )
    got = sorted(
        map(
            tuple,
            joins.bloom_anti_join(
                li, drop, "l_orderkey", 1 << 14, 5, pin_lineage=True
            ).collect(),
        ),
        key=key,
    )
    assert got == want
