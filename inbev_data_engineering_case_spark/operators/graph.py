"""Iterative graph algorithms over DataFrame edge lists.

PageRank is the page-importance signal web-corpus curation pipelines
attach to crawled documents (rank the crawl frontier, weight quality
scores by link authority) — and the canonical iterative algorithm that
stresses an engine's loop discipline: each iteration is two exchanges
(edge-partitioned contribution join, node-keyed aggregation) over a
rank table that stays node-sized while the edge list can be 100 TB.

Spark-first shape (vs the reference's single-process Python DAGs,
`/root/reference/dags/*.py`, which have no graph surface at all):

- the edge list is normalized ONCE (parallel edges summed, per-source
  weight shares precomputed in integer ppm) so the loop body touches
  only ``(src, dst, wppm)`` — one narrow table, re-used every
  iteration;
- ranks never leave the cluster: N rides as a broadcast 1-row
  aggregate and every per-iteration scalar is a Column expression, so
  there is NO driver-side ``collect``/``count`` anywhere;
- all arithmetic is exact int64 ppm with explicit floor steps
  (``div``), so sums are order-free and a DuckDB replay matches
  hash-for-hash: ``r·wppm ≤ 1e12`` and ``d·Σcontrib ≤ 8.5e11`` both
  sit far inside int64 — no float summation anywhere;
- lineage is bounded: with ``checkpoint_every`` set, the node-sized
  rank table is materialized every k iterations (``session.materialize``),
  the standard guard against O(iterations) plan growth on long runs.

Dangling nodes (no out-edges) lose their mass by default — ranks then
sum to less than 1e6 ppm; this is the common large-graph
simplification. ``redistribute_dangling=True`` adds the full teleport
redistribution: one more broadcast 1-row aggregate per iteration (the
summed rank of the dangling set, shared uniformly), still exact
int64-ppm, still zero driver actions, and still exactly replayable in
the unrolled-CTE oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from inbev_data_engineering_case_spark.session import (
    broadcast_if_small,
    materialize,
)


def pagerank(
    edges: DataFrame,
    n_iter: int = 8,
    damping_ppm: int = 850_000,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str | None = None,
    redistribute_dangling: bool = False,
) -> DataFrame:
    """Weighted PageRank over an edge list, exact integer-ppm.

    ``r₀(v) = 1e6 div N``; each iteration::

        contrib(v) = Σ_{(u,v)∈E} (r(u) · wppm(u,v)) div 1e6
        r'(v)      = (1e6 − d) div N + (d · contrib(v)) div 1e6

    with ``wppm(u,v) = (w(u,v) · 1e6) div Σ_x w(u,x)`` precomputed once
    and ``d = damping_ppm``. Every division is an explicit int64 floor
    (non-negative operands, so Spark's truncating ``div`` and DuckDB's
    flooring ``//`` agree), which makes ``n_iter`` iterations bit-
    reproducible across engines and partitionings.

    ``redistribute_dangling=True`` conserves the mass of sink nodes
    (no out-edges) instead of dropping it: each iteration the dangling
    set's summed rank ``dm`` rides in as ONE more broadcast 1-row
    aggregate and every node's contribution becomes
    ``contrib(v) + dm div N`` — ranks then stay ~1e6 ppm total (floor
    error only). The dangling node SET is loop-invariant and
    materializes once with the other invariants; the per-iteration
    cost is a left-semi filter of the node-sized rank table plus the
    broadcast — no driver action, oracle replay still exact.

    ``weight_col=None`` treats every edge as weight 1 (parallel edges
    still sum). Returns ``(node, rank_ppm)``.

    RESOLUTION — ranks live on an integer grid of 1e6 steps, so N must
    stay well below 1e6: on a 100k-node graph every rank quantizes to a
    handful of steps and per-edge floor loss dominates the mass budget
    (ranks collapse to ~1 step each and the teleport redistribution
    becomes a no-op — ``dm div N`` floors to 0).
    """
    if n_iter < 0:
        raise ValueError("pagerank: n_iter must be >= 0")
    if not 0 <= damping_ppm <= 1_000_000:
        raise ValueError("pagerank: damping_ppm must be in [0, 1e6]")
    w = (
        F.col(weight_col).cast("bigint")
        if weight_col is not None
        else F.lit(1).cast("bigint")
    )
    # declarative input validation (no driver-side action): the exact-
    # replay contract relies on truncating `div` == flooring `//`, which
    # only holds for non-negative operands, and a NULL/zero/negative
    # weight would otherwise silently skew or NULL the ppm shares
    w = F.when(
        w.isNull() | (w <= 0),
        F.raise_error(
            F.concat(
                F.lit("pagerank: edge weights must be positive, got "),
                w.cast("string"),
            )
        ).cast("bigint"),
    ).otherwise(w)
    e = (
        edges.select(
            F.col(src_col).alias("src"), F.col(dst_col).alias("dst"), w.alias("w")
        )
        .groupBy("src", "dst")
        .agg(F.sum("w").alias("w"))
    )
    wout = e.groupBy("src").agg(F.sum("w").alias("wout"))
    # per-source weight share in ppm, precomputed once; wppm <= 1e6 so
    # the loop's r*wppm product is bounded by 1e12
    wppm = (
        e.join(wout, "src")
        .select("src", "dst", F.expr("(w * 1000000) div wout").alias("wppm"))
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    dang = (
        nodes.join(
            e.select(F.col("src").alias("node")).distinct(),
            "node",
            "left_anti",
        )
        if redistribute_dangling
        else None
    )
    if n_iter >= 2:
        # materialize the loop-invariant side once: every iteration
        # references wppm and nodes, and without this each action
        # re-derives them from the raw edges (a groupBy + join +
        # distinct per iteration per reference)
        wppm = materialize(wppm, eager=True)
        nodes = materialize(nodes, eager=True)
        if dang is not None:
            dang = materialize(dang, eager=True)
    n_agg = nodes.agg(F.count("*").alias("_n"))
    ranks = nodes.join(F.broadcast(n_agg)).select(
        "node", F.expr("1000000 div _n").alias("r")
    )
    base = F.expr(f"{1_000_000 - damping_ppm} div _n")
    for i in range(n_iter):
        if dang is not None and i > 0 and i % 2 == 0:
            # the teleport variant reads the previous rank table TWICE
            # per iteration (contribution join + dangling sum): without
            # materializing it, each consumer re-derives the full prior
            # lineage and the plan doubles per iteration (2^n blowup —
            # measured 253s unguarded vs 4.5s warm with this guard at 8
            # iterations on the event graph (plain loop: 1.7s);
            # a .cache() alternative OOMs the driver generating the
            # shared-subtree plan string). Materializing EVERY OTHER
            # iteration caps the blowup at 4 reads of a 2-level plan
            # while halving the per-iteration job overhead; the rank
            # table is node-sized, so each job is tiny, and this is
            # lineage truncation, not a driver data path.
            ranks = materialize(ranks, eager=True)
        contrib = (
            wppm.join(ranks, wppm["src"] == ranks["node"])
            .select(
                F.col("dst").alias("node"),
                F.expr("(r * wppm) div 1000000").alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("c"))
        )
        updated = nodes.join(contrib, "node", "left").join(
            F.broadcast(n_agg)
        )
        if dang is not None:
            # the dangling set's PREVIOUS-iteration rank sum as a
            # broadcast 1-row aggregate (coalesce covers the no-sinks
            # graph); shared uniformly — dm div N floors, so the
            # replay stays exact
            dm_agg = ranks.join(dang, "node", "left_semi").agg(
                F.coalesce(F.sum("r"), F.lit(0)).alias("_dm")
            )
            ranks = updated.join(F.broadcast(dm_agg)).select(
                "node",
                (
                    base
                    + F.expr(
                        f"({damping_ppm} * (coalesce(c, 0) + _dm div _n))"
                        " div 1000000"
                    )
                ).alias("r"),
            )
        else:
            ranks = updated.select(
                "node",
                (
                    base
                    + F.expr(
                        f"({damping_ppm} * coalesce(c, 0)) div 1000000"
                    )
                ).alias("r"),
            )
    return ranks.select("node", F.col("r").alias("rank_ppm"))


def multi_source_bfs(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
    directed: bool = False,
) -> DataFrame:
    """Level-synchronous multi-source BFS → ``(node, dist)`` for every
    node within ``max_hops`` of ANY seed (``dist`` = hops to the
    nearest seed; seeds themselves at 0, whether or not they appear in
    the edge list).

    The curation use case this exists for: the CONTAMINATION HALO —
    seeds are documents known to overlap an eval set, edges are a
    near-dup pair graph, and the result flags documents within k
    near-dup hops of a contaminated document (a paraphrase of a
    paraphrase), the transitive guard a direct n-gram/semantic flag
    misses. Equally: crawl-frontier distance from trusted domains,
    blast-radius of a poisoned-source takedown.

    Scale shape: classic frontier iteration — each round is ONE
    frontier×edges equi-join (shuffle sized by the frontier's
    adjacency, not the graph) plus an anti-join against the visited
    set (node-sized); the visited table is the only state that grows,
    and lineage is truncated per round (``session.materialize`` —
    executor-local by default, a fault-tolerant scratch table when a
    checkpoint dir is set, the components loop's discipline). Rounds
    are bounded by ``max_hops`` with early exit on an empty frontier (one
    ``take(1)`` driver action per round, the same per-round action
    budget as the components loop's convergence aggregate). BFS level
    order IS minimal distance, so no min-relaxation pass is needed —
    a node is visited exactly once, at its first (= shortest) level.

    ``directed=False`` (default) symmetrizes the edge list once up
    front — pair graphs (id_a < id_b canonical) are undirected.
    """
    if max_hops < 0:
        raise ValueError("multi_source_bfs: max_hops must be >= 0")
    sym = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    )
    if not directed:
        sym = sym.unionByName(
            sym.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
    # parallel edges would multiply frontier join output rows for zero
    # information; dedup once so every round joins a clean adjacency.
    #
    # r16 action-count restructure (the components loop's discipline —
    # ONE action per hop instead of three): the adjacency and every
    # per-hop frontier are LAZY cuts materialized by the hop's single
    # emptiness/count action; only the seed distances stay an EAGER cut,
    # because hop 1's plan references them twice (frontier + visited
    # anti-join) and a lazily-cut double reference recomputes its
    # subtree per reference under AQE (the r15 measured 2× loss — the
    # seed lineage here can be a whole contamination gram pass). The
    # per-hop action is a ``count()`` rather than ``take(1)``: the
    # count fully materializes the frontier's blocks, so the next hop's
    # two references (frontier join + dist union) read blocks instead
    # of racing to recompute straggler partitions.
    sym = materialize(sym.distinct(), eager=False)

    # Deliberate join strategy (guide §3.1, the components loop's gate):
    # the frontier and visited tables are checkpoint-backed (no size
    # stats), but the loop MEASURES their exact row counts with the
    # actions it already pays — within the session's broadcast row limit
    # the frontier side of the adjacency join and the visited side of
    # the anti-join broadcast, so the (at scale, huge) edge table is
    # never shuffled per hop; above it the shuffle plans are untouched.
    seed_col = seeds.columns[0]
    dist = materialize(
        seeds.select(F.col(seed_col).cast("long").alias("node"))
        .distinct()
        .withColumn("dist", F.lit(0)),
        eager=True,
    )
    # one count over the just-materialized seed blocks: the size fact
    # both hop-1 join gates need
    dist_n = frontier_n = dist.count()
    frontier = dist.select("node")
    for hop in range(1, max_hops + 1):
        f = broadcast_if_small(frontier, frontier_n)
        reached = (
            sym.join(f, f["node"] == sym["src"])
            .select(F.col("dst").alias("node"))
            .distinct()
        )
        new = materialize(
            reached.join(
                broadcast_if_small(dist.select("node"), dist_n),
                on="node",
                how="left_anti",
            ).withColumn("dist", F.lit(hop)),
            eager=False,
        )
        frontier_n = new.count()  # the hop's one action; materializes `new`
        if frontier_n == 0:
            break
        dist_n += frontier_n
        dist = materialize(dist.unionByName(new), eager=False)
        frontier = new.select("node")
    return dist


def multi_source_bfs_incremental(
    all_edges: DataFrame,
    new_edges: DataFrame,
    stored_dist: DataFrame,
    new_seeds: DataFrame,
    max_hops: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
    directed: bool = False,
) -> DataFrame:
    """Delta maintenance of a ``multi_source_bfs`` result → the full
    updated ``(node, dist)`` table, row-identical to re-running the
    batch BFS over the union graph + union seeds (parity-tested).

    The delta-crawl story (the ``dedup.py:1150`` normalized-state
    discipline, applied to the halo): yesterday's run stored
    ``(node, dist)`` over pair graph G with seed set S, both bounded at
    ``max_hops``. A new crawl contributes ``new_edges`` (near-dup pairs
    involving at least one new document — a delta pair pass can emit no
    old-old edge, since old-old pairs were already present) and
    ``new_seeds`` (newly flagged documents at distance 0). Distances
    can only DECREASE, and every improvement propagates from a new
    seed or across a new edge — so instead of re-walking every seed's
    neighborhood, relaxation starts from the change set alone:

    - ``dist₀`` = stored ∪ (new seeds at 0), min per node;
    - initial frontier = the new seeds plus every new-edge endpoint
      that already has a distance (its known distance may now travel
      across the new edge);
    - each round: frontier×``all_edges`` equi-join → candidate
      ``dist+1`` → keep strict improvements ≤ ``max_hops`` → merge
      (min) into the dist table; the improved set IS the next
      frontier. Early exit on no improvements (one ``take(1)`` per
      round, the batch loop's action budget).

    An improvement chain lengthens distance by 1 per hop and distances
    live in [0, max_hops], so ``max_hops`` rounds always suffice —
    same bound as the batch walk, but the frontier is change-sized
    (typically the delta's neighborhood), not seed-neighborhood-sized.
    ``all_edges`` is the STORED pair artifact plus the delta — state
    that already exists; it is joined per round against the (small)
    frontier, never re-derived. The superset contract is
    SELF-ENFORCING: ``new_edges`` is unioned into the relaxation edge
    set (one cheap union before the distinct), so a caller that passes
    yesterday's stored pair artifact alone as ``all_edges`` still gets
    correct distances instead of silently stale ones.

    Unlike the batch BFS, a frontier row carries its current ``dist``
    (improvements re-visit nodes, so level order alone no longer
    encodes distance — this is unit-weight min-relaxation, the
    textbook incremental-BFS shape)."""
    if max_hops < 0:
        raise ValueError(
            "multi_source_bfs_incremental: max_hops must be >= 0"
        )

    def _raw(edges: DataFrame) -> DataFrame:
        return edges.select(
            F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
        )

    def _symmetrize(e: DataFrame) -> DataFrame:
        if not directed:
            e = e.unionByName(
                e.select(
                    F.col("dst").alias("src"), F.col("src").alias("dst")
                )
            )
        return e

    # union the delta in before dedup: makes the "all_edges ⊇
    # new_edges" contract self-enforcing (a caller passing only the
    # stored artifact would otherwise get silently stale distances).
    # ONE distinct over the raw union — the stored edge set (the big
    # side) is shuffled exactly once, not once per symmetrized input
    sym = materialize(
        _symmetrize(
            _raw(all_edges).unionByName(_raw(new_edges))
        ).distinct(),
        eager=True,
    )
    seed_col = new_seeds.columns[0]
    seeds0 = (
        new_seeds.select(F.col(seed_col).cast("long").alias("node"))
        .distinct()
        .withColumn("dist", F.lit(0))
    )
    stored = stored_dist.select(
        F.col("node").cast("long").alias("node"),
        F.col("dist").cast("int").alias("dist"),
    )
    # dist₀: stored ∪ new seeds, min per node (a re-flagged old node
    # takes 0). One node-sized aggregation.
    dist = materialize(
        stored.unionByName(seeds0)
        .groupBy("node")
        .agg(F.min("dist").alias("dist")),
        eager=True,
    )
    # change frontier: new seeds + new-edge endpoints that already
    # carry a distance (their dist may now propagate across the delta)
    touched = (
        _symmetrize(_raw(new_edges))
        .select(F.col("src").alias("node"))
        .distinct()
        .join(dist, on="node")
    )
    frontier = materialize(
        seeds0.unionByName(touched)
        .groupBy("node")
        .agg(F.min("dist").alias("dist")),
        eager=True,
    )
    for _ in range(max_hops):
        cand = (
            frontier.join(sym, frontier["node"] == sym["src"])
            .select(
                F.col("dst").alias("node"),
                (F.col("dist") + 1).alias("_cand"),
            )
            .filter(F.col("_cand") <= max_hops)
            .groupBy("node")
            .agg(F.min("_cand").alias("_cand"))
        )
        improved = materialize(
            cand.join(dist, on="node", how="left")
            .filter(
                F.col("dist").isNull() | (F.col("_cand") < F.col("dist"))
            )
            .select("node", F.col("_cand").alias("dist")),
            eager=True,
        )
        if not improved.take(1):
            break
        dist = materialize(
            dist.join(improved.select("node"), on="node", how="left_anti")
            .unionByName(improved),
            eager=True,
        )
        frontier = improved
    return dist
