"""Known-answer tests for the iterative graph operators."""

import pytest

from inbev_data_engineering_case_spark.operators.graph import pagerank


def _ranks(df):
    return {r["node"]: r["rank_ppm"] for r in df.collect()}


def test_pagerank_cycle_fixed_point(spark):
    """A symmetric 2-cycle is a fixed point: both nodes hold exactly
    half the mass through every iteration."""
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "a")], "src string, dst string"
    )
    got = _ranks(pagerank(edges, n_iter=8))
    assert got == {"a": 500_000, "b": 500_000}


def test_pagerank_star_hand_computed_iteration(spark):
    """One iteration of a->c, b->c, c->a, hand-computed in exact ppm
    floor arithmetic; after any number of iterations the in-degree-0
    node stays the minimum and mass never exceeds the budget (the a<->c
    cycle oscillates between even/odd iterations, so no a-vs-c ordering
    is asserted)."""
    edges = spark.createDataFrame(
        [("a", "c"), ("b", "c"), ("c", "a")], "src string, dst string"
    )
    # init 333333 each; base = (1e6-850000) div 3 = 50000
    # r1(c) = 50000 + (850000*666666) div 1e6 = 616666
    # r1(a) = 50000 + (850000*333333) div 1e6 = 333333
    # r1(b) = 50000 (no in-edges)
    assert _ranks(pagerank(edges, n_iter=1)) == {
        "a": 333_333,
        "b": 50_000,
        "c": 616_666,
    }
    got = _ranks(pagerank(edges, n_iter=8))
    assert got["b"] < min(got["a"], got["c"])
    assert sum(got.values()) <= 1_000_000


def test_pagerank_dangling_mass_is_dropped(spark):
    """A sink with no out-edges loses its mass: ranks no longer sum to
    1e6 ppm — the documented large-graph simplification."""
    edges = spark.createDataFrame([("a", "b")], "src string, dst string")
    got = _ranks(pagerank(edges, n_iter=1))
    # base = 150000 div 2 = 75000; contrib(b) = 500000 ->
    # r(b) = 75000 + 425000
    assert got == {"a": 75_000, "b": 500_000}
    assert sum(got.values()) < 1_000_000


def test_pagerank_teleport_conserves_mass_hand_computed(spark):
    """redistribute_dangling=True hand-checked on a->b (b is a sink):
    iteration 1 shares b's full previous rank uniformly — dm=500000,
    dm div N = 250000 — and total mass stays EXACTLY 1e6 ppm here;
    the same graph without redistribution leaks 425000 ppm."""
    edges = spark.createDataFrame([("a", "b")], "src string, dst string")
    got = _ranks(pagerank(edges, n_iter=1, redistribute_dangling=True))
    # base = 150000 div 2 = 75000
    # r(a) = 75000 + (850000*(0      + 250000)) div 1e6 = 287500
    # r(b) = 75000 + (850000*(500000 + 250000)) div 1e6 = 712500
    assert got == {"a": 287_500, "b": 712_500}
    assert sum(got.values()) == 1_000_000


@pytest.mark.slow
def test_pagerank_teleport_mass_property_on_sink_graph(spark):
    """Property (the VERDICT-asked invariant): on a graph WITH sinks,
    8 redistributed iterations keep the total rank within N-floor
    error of 1e6 ppm, while the default drop variant ends strictly
    lower; a graph with NO sinks is unchanged by the flag."""
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "c"), ("d", "a")],
        "src string, dst string",
    )  # c is a sink; d has no in-edges
    n_nodes, n_iter = 4, 8
    kept = _ranks(
        pagerank(edges, n_iter=n_iter, redistribute_dangling=True)
    )
    dropped = _ranks(pagerank(edges, n_iter=n_iter))
    # each iteration floors at most 3 divisions per node -> a loose
    # N*(3+n_iter) bound comfortably covers accumulated floor error
    assert 1_000_000 - n_nodes * (3 + n_iter) <= sum(kept.values())
    assert sum(kept.values()) <= 1_000_000
    assert sum(dropped.values()) < sum(kept.values())
    # no sinks -> the dangling sum is 0 every iteration and the flag
    # is a no-op (bit-identical ranks)
    cyc = spark.createDataFrame(
        [("a", "b"), ("b", "a")], "src string, dst string"
    )
    assert _ranks(pagerank(cyc, n_iter=5, redistribute_dangling=True)) == (
        _ranks(pagerank(cyc, n_iter=5))
    )


def test_pagerank_weights_and_parallel_edges(spark):
    """Parallel edges sum into one weighted edge; a 3x-heavier edge
    gets 3x the ppm share (750000 vs 250000)."""
    edges = spark.createDataFrame(
        [("a", "b", 3), ("a", "c", 1)],
        "src string, dst string, weight long",
    )
    got = pagerank(edges, n_iter=1, weight_col="weight")
    unweighted = spark.createDataFrame(
        [("a", "b"), ("a", "b"), ("a", "b"), ("a", "c")],
        "src string, dst string",
    )
    assert _ranks(got) == _ranks(pagerank(unweighted, n_iter=1))
    # wppm(a->b)=750000: contrib(b) = (333333*750000) div 1e6 = 249999
    r = _ranks(got)
    assert r["b"] == 50_000 + (850_000 * 249_999) // 1_000_000


def test_pagerank_rejects_nonpositive_weights(spark):
    """The exact-replay contract (truncating div == flooring //) only
    holds for non-negative operands; a zero/negative/NULL weight fails
    loudly inside the plan instead of silently skewing the shares."""
    import pytest

    edges = spark.createDataFrame(
        [("a", "b", -1)], "src string, dst string, weight long"
    )
    with pytest.raises(Exception, match="must be positive"):
        pagerank(edges, n_iter=1, weight_col="weight").collect()


def test_pagerank_invariants_on_generated_graphs(spark):
    """Structural invariants on three deterministic hash-wired graphs:
    every node appears exactly once; every rank is at least the
    teleport base and the total never exceeds the 1e6 ppm budget
    (dangling mass can only LOWER the total, never raise it)."""
    from pyspark.sql import functions as F

    for n, fanout in [(50, 2), (120, 3), (300, 1)]:
        edges = (
            spark.range(n)
            .select(
                F.col("id").alias("src"),
                F.explode(
                    F.transform(
                        F.sequence(F.lit(0), F.lit(fanout - 1)),
                        lambda j: F.pmod(
                            F.xxhash64(F.col("id"), j), F.lit(n)
                        ),
                    )
                ).alias("dst"),
            )
            .filter(F.col("src") != F.col("dst"))
        )
        ranks = _ranks(pagerank(edges, n_iter=6))
        n_nodes = edges.select(
            F.col("src").alias("n")
        ).union(edges.select("dst")).distinct().count()
        assert len(ranks) == n_nodes
        base = (1_000_000 - 850_000) // n_nodes
        assert all(r >= base for r in ranks.values())
        assert sum(ranks.values()) <= 1_000_000


@pytest.mark.slow
def test_multi_source_bfs_hand_graph(spark):
    """Path graph 1-2-3-4-5 plus isolated seed 9: distances are
    minimal hops to the NEAREST seed, seeds report 0 whether or not
    they touch an edge, max_hops bounds the halo, and a node is never
    revisited at a longer distance (two seeds, overlapping halos)."""
    from pyspark.sql import functions as F

    from inbev_data_engineering_case_spark.operators.graph import (
        multi_source_bfs,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "src long, dst long"
    )
    seeds = spark.createDataFrame([(1,), (9,)], "node long")

    got = {
        r["node"]: r["dist"]
        for r in multi_source_bfs(edges, seeds, max_hops=2).collect()
    }
    assert got == {1: 0, 9: 0, 2: 1, 3: 2}

    # unbounded enough: the whole path resolves; 5 is 4 hops out
    got4 = {
        r["node"]: r["dist"]
        for r in multi_source_bfs(edges, seeds, max_hops=10).collect()
    }
    assert got4 == {1: 0, 9: 0, 2: 1, 3: 2, 4: 3, 5: 4}

    # overlapping halos take the MIN: seeds at both path ends
    both = spark.createDataFrame([(1,), (5,)], "node long")
    got_min = {
        r["node"]: r["dist"]
        for r in multi_source_bfs(edges, both, max_hops=10).collect()
    }
    assert got_min == {1: 0, 5: 0, 2: 1, 4: 1, 3: 2}

    # max_hops=0: seeds only
    got0 = {
        r["node"]: r["dist"]
        for r in multi_source_bfs(edges, seeds, max_hops=0).collect()
    }
    assert got0 == {1: 0, 9: 0}

    # directed: 1->2->3 reaches forward only
    dgot = {
        r["node"]: r["dist"]
        for r in multi_source_bfs(
            edges, spark.createDataFrame([(3,)], "n long"),
            max_hops=5, directed=True,
        ).collect()
    }
    assert dgot == {3: 0, 4: 1, 5: 2}

    # duplicate / parallel edges change nothing
    dup = edges.unionByName(edges).unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    got_dup = {
        r["node"]: r["dist"]
        for r in multi_source_bfs(dup, seeds, max_hops=2).collect()
    }
    assert got_dup == got

    import pytest

    with pytest.raises(ValueError, match="max_hops"):
        multi_source_bfs(edges, seeds, max_hops=-1)


@pytest.mark.slow
def test_multi_source_bfs_matches_python_reference_on_random_graphs(
    spark,
):
    """Deterministic random graphs vs an in-memory reference BFS: the
    distributed frontier iteration must agree exactly on the (node ->
    min hops to nearest seed) map, undirected and directed, at several
    hop bounds."""
    import random
    from collections import deque

    from inbev_data_engineering_case_spark.operators.graph import (
        multi_source_bfs,
    )

    def ref_bfs(edge_list, seed_set, max_hops, directed):
        adj = {}
        for s, d in edge_list:
            adj.setdefault(s, set()).add(d)
            if not directed:
                adj.setdefault(d, set()).add(s)
        dist = {s: 0 for s in seed_set}
        q = deque(seed_set)
        while q:
            u = q.popleft()
            if dist[u] >= max_hops:
                continue
            for v in adj.get(u, ()):
                if v not in dist:
                    dist[v] = dist[u] + 1
                    q.append(v)
        return dist

    rng = random.Random(0xBF5)
    for trial, (n, m, n_seeds) in enumerate(
        [(12, 18, 2), (30, 45, 3), (60, 60, 4), (25, 100, 1)]
    ):
        edge_list = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(m)
        ]
        edge_list = [(s, d) for s, d in edge_list if s != d]
        seed_set = set(rng.sample(range(n), n_seeds))
        edges = spark.createDataFrame(edge_list, "src long, dst long")
        seeds = spark.createDataFrame(
            [(s,) for s in sorted(seed_set)], "node long"
        )
        for directed in (False, True):
            for max_hops in (0, 1, 3):
                got = {
                    r["node"]: r["dist"]
                    for r in multi_source_bfs(
                        edges, seeds, max_hops=max_hops,
                        directed=directed,
                    ).collect()
                }
                want = ref_bfs(edge_list, seed_set, max_hops, directed)
                assert got == want, (trial, directed, max_hops)


@pytest.mark.slow
def test_multi_source_bfs_incremental_matches_batch(spark):
    """Delta maintenance parity: starting from a stored batch-BFS
    result, folding in new edges + new seeds via min-relaxation from
    the change frontier must equal re-running the batch BFS over the
    union graph + union seeds — on random graphs/deltas (including
    old-old delta edges, which the frontier handles even though a real
    delta pair pass cannot emit them), with re-flagged old nodes, and
    for the empty delta (no work, unchanged result)."""
    import random

    from inbev_data_engineering_case_spark.operators.graph import (
        multi_source_bfs,
        multi_source_bfs_incremental,
    )

    def df_edges(pairs):
        return spark.createDataFrame(pairs, "src long, dst long")

    rng = random.Random(0x1BF5)
    for trial, (n_old, m_old, n_new, m_new) in enumerate(
        [(20, 30, 6, 10), (40, 50, 10, 25), (15, 15, 1, 2)]
    ):
        old_nodes = range(n_old)
        base = list(
            {
                (rng.randrange(n_old), rng.randrange(n_old))
                for _ in range(m_old)
            }
        )
        base = [(s, d) for s, d in base if s != d]
        old_seeds = sorted(rng.sample(range(n_old), 3))
        # delta: new nodes n_old..n_old+n_new-1; edges mix
        # new-involving and old-old
        all_n = n_old + n_new
        delta = list(
            {
                (rng.randrange(all_n), rng.randrange(all_n))
                for _ in range(m_new)
            }
        )
        delta = [
            (s, d) for s, d in delta if s != d and (s, d) not in set(base)
        ]
        # one new seed among new nodes + one RE-FLAGGED old node
        new_seeds = sorted(
            {n_old + rng.randrange(n_new), rng.randrange(n_old)}
        )
        for max_hops in (0, 2, 4):
            stored = multi_source_bfs(
                df_edges(base),
                spark.createDataFrame(
                    [(s,) for s in old_seeds], "node long"
                ),
                max_hops=max_hops,
            ).localCheckpoint(eager=True)
            got = {
                r["node"]: r["dist"]
                for r in multi_source_bfs_incremental(
                    df_edges(base + delta),
                    df_edges(delta),
                    stored,
                    spark.createDataFrame(
                        [(s,) for s in new_seeds], "node long"
                    ),
                    max_hops=max_hops,
                ).collect()
            }
            want = {
                r["node"]: r["dist"]
                for r in multi_source_bfs(
                    df_edges(base + delta),
                    spark.createDataFrame(
                        [(s,) for s in sorted(set(old_seeds) | set(new_seeds))],
                        "node long",
                    ),
                    max_hops=max_hops,
                ).collect()
            }
            assert got == want, (trial, max_hops)

    # empty delta: the stored table comes back unchanged
    base_df = spark.createDataFrame(
        [(1, 2), (2, 3)], "src long, dst long"
    )
    seeds_df = spark.createDataFrame([(1,)], "node long")
    stored = multi_source_bfs(base_df, seeds_df, max_hops=2)
    unchanged = {
        r["node"]: r["dist"]
        for r in multi_source_bfs_incremental(
            base_df,
            base_df.limit(0),
            stored,
            seeds_df.limit(0),
            max_hops=2,
        ).collect()
    }
    assert unchanged == {1: 0, 2: 1, 3: 2}


def test_multi_source_bfs_incremental_superset_contract_self_enforcing(
    spark,
):
    """The documented contract is ``all_edges ⊇ new_edges``, but the
    plausible caller mistake — passing yesterday's stored pair
    artifact ALONE as ``all_edges`` — must not silently return stale
    distances: the operator unions the delta into its relaxation edge
    set, so the result still equals the batch walk over the union
    graph (r12 ADVICE item)."""
    from inbev_data_engineering_case_spark.operators.graph import (
        multi_source_bfs,
        multi_source_bfs_incremental,
    )

    base = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    # the delta attaches node 4 to the seed side: it MUST get dist 1
    delta = spark.createDataFrame([(1, 4), (4, 5)], "src long, dst long")
    seeds = spark.createDataFrame([(1,)], "node long")
    stored = multi_source_bfs(base, seeds, max_hops=3)

    got = {
        r["node"]: r["dist"]
        for r in multi_source_bfs_incremental(
            base,  # caller mistake: stored artifact only, delta missing
            delta,
            stored,
            seeds.limit(0),
            max_hops=3,
        ).collect()
    }
    want = {
        r["node"]: r["dist"]
        for r in multi_source_bfs(
            base.unionByName(delta), seeds, max_hops=3
        ).collect()
    }
    assert got == want == {1: 0, 2: 1, 3: 2, 4: 1, 5: 2}
