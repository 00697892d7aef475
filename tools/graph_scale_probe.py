"""Probe: PageRank iterations stay edge-linear and lineage-bounded.

The pagerank design (operators/graph.py) claims (a) per-iteration cost
is two exchanges over the edge table with a node-sized rank table, so
wall time scales ~linearly in edges, and (b) without lineage control an
N-iteration loop pays O(N)-deep plans, which `checkpoint_every` bounds.
This probe quantifies both on a synthetic hash-wired graph (no RNG —
node i points at 8 hash-derived targets, so the graph is identical on
every run and every engine):

- scale: run 8 iterations at 1x and 4x edges; report the wall-time
  ratio (expect ~linear, i.e. well under the 16x of a quadratic shape);
- lineage: run 16 iterations with and without `checkpoint_every=4`;
  report both wall times (the unchecked plan's analysis/codegen cost
  grows with depth, the checkpointed one stays flat).

The ranks themselves are also asserted identical between the
checkpointed and plain runs — the lineage bound must not change a
single ppm.

Usage: python tools/graph_scale_probe.py [n_nodes]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _edges(spark, n_nodes: int):
    from pyspark.sql import functions as F

    # deterministic 8-regular-out graph: targets via xxhash64 of (i, j)
    return (
        spark.range(n_nodes)
        .select(
            F.col("id").alias("src"),
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(7)),
                    lambda j: F.pmod(
                        F.xxhash64(F.col("id"), j), F.lit(n_nodes)
                    ),
                )
            ).alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
    )


def main() -> None:
    from inbev_data_engineering_case_spark.operators.graph import pagerank
    from inbev_data_engineering_case_spark.session import get_spark

    n = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000

    # the engine's own session defaults carry no driver-memory setting
    # (the catalog never needs one); this probe caches a 6.4M-edge graph
    # across 32 local threads, so size the heap explicitly
    spark = get_spark(
        "graph-scale-probe", extra_conf={"spark.driver.memory": "12g"}
    )

    def timed(label, fn):
        t0 = time.perf_counter()
        out = fn()
        dt = time.perf_counter() - t0
        print(f"{label}: {dt:.2f}s", flush=True)
        return out, dt

    # --- edge-scale: 8 iterations at 1x and 4x ---------------------------
    e1 = _edges(spark, n).cache()
    e4 = _edges(spark, 4 * n).cache()
    print(f"edges 1x: {e1.count():,}   edges 4x: {e4.count():,}")
    _, t1 = timed(
        f"pagerank 8 iter @ {n:,} nodes",
        lambda: pagerank(e1, n_iter=8).count(),
    )
    _, t4 = timed(
        f"pagerank 8 iter @ {4 * n:,} nodes",
        lambda: pagerank(e4, n_iter=8).count(),
    )
    print(f"4x-edges wall ratio: {t4 / t1:.1f}x (linear ~4x, quadratic 16x)")

    # --- lineage bound: 16 iterations, plain vs checkpointed -------------
    plain, tp = timed(
        "16 iter, no checkpoint",
        lambda: sorted(
            (r["node"], r["rank_ppm"])
            for r in pagerank(e1, n_iter=16).collect()
        ),
    )
    ckpt, tc = timed(
        "16 iter, checkpoint_every=4",
        lambda: sorted(
            (r["node"], r["rank_ppm"])
            for r in pagerank(e1, n_iter=16, checkpoint_every=4).collect()
        ),
    )
    assert plain == ckpt, "checkpointing changed ranks"
    print(
        f"ranks identical ({len(plain):,} nodes); "
        f"plain {tp:.2f}s vs checkpointed {tc:.2f}s"
    )

    # --- teleport: dangling redistribution at scale ----------------------
    # make 10% of nodes real sinks (drop their out-edges), then compare
    # the plain loop against redistribute_dangling=True (which reads
    # the prev rank table twice per iteration and therefore
    # materializes it every other iteration — the 2^n-blowup guard).
    # RESOLUTION matters here: at unit=1e6 a 100k-node graph quantizes
    # every rank to a handful of integer steps and floor loss swallows
    # the whole mass budget (measured: both variants collapse to ~N
    # total and redistribution is a no-op) — so the at-scale run uses
    # unit=1e12, the documented large-graph setting.
    from pyspark.sql import functions as F

    unit = 1_000_000_000_000
    es = e1.filter(F.pmod(F.col("src"), F.lit(10)) != 0).cache()
    es.count()
    drop, td = timed(
        "8 iter with 10% sinks, mass dropped (unit=1e12)",
        lambda: pagerank(es, n_iter=8, unit=unit).agg(
            F.sum("rank_ppm").alias("s"), F.count("*").alias("n")
        ).first(),
    )
    keep, tk = timed(
        "8 iter with 10% sinks, teleport redistribution (unit=1e12)",
        lambda: pagerank(
            es, n_iter=8, redistribute_dangling=True, unit=unit
        ).agg(F.sum("rank_ppm").alias("s"), F.count("*").alias("n")).first(),
    )
    print(
        f"mass: dropped-variant {drop['s'] / unit:.4f} vs teleport "
        f"{keep['s'] / unit:.4f} of 1.0 over {keep['n']:,} nodes; "
        f"teleport overhead {tk / td:.2f}x"
    )
    assert keep["s"] > drop["s"]
    assert keep["s"] <= unit
    # 0.1% conservation tolerance: per-edge/per-iteration floors lose
    # well under this (measured loss ~0 at 800k edges x 8 iter), while
    # the resolution-collapse regression this probe exists to catch
    # loses >30% — a meaningful, never-flaky bound
    assert keep["s"] >= unit - unit // 1000
    spark.stop()


if __name__ == "__main__":
    main()
