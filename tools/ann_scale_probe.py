"""ANN scale probe: measure whether the bucketed ANN paths survive corpus
growth the way the design claims.

Expands the sf0.1 embeddings deterministically (replica r = base vector
rotated by r positions — rotation preserves norms but decorrelates
directions, so the corpus grows without inflating true-neighbor density),
then reports for each size:

- sign-LSH: bucket-count / max-bucket-size (degeneration check — the
  failure mode that turns bucketed ANN into all-pairs) and candidate rows
  per query;
- IVF: cell balance (max/min cell size) for first-N vs Lloyd-trained
  centroids, and per-query candidate rows at n_probe=2 — trained cells
  should bound the worst-case scan per probe;
- wall time of the bucketed ANN query itself.

Usage: python tools/ann_scale_probe.py [multiplier ...]   (default: 1 4 10)
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from pyspark.sql import functions as F

    from inbev_data_engineering_case_spark.operators.similarity import (
        ann_bucketed_topk,
        ivf_assign,
        signlsh_bucket,
        train_ivf_centroids,
    )
    from inbev_data_engineering_case_spark.session import get_spark

    multipliers = [int(a) for a in sys.argv[1:]] or [1, 4, 10]
    spark = get_spark("ann-scale-probe")
    spark.sparkContext.setLogLevel("ERROR")

    emb = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
    dim = len(emb.first()["embedding"])

    for mult in multipliers:
        corpus = None
        for r in range(mult):
            # rotate the vector by r positions: same norm, decorrelated
            # direction — deterministic corpus growth
            rotated = F.concat(
                F.slice("embedding", r % dim + 1, dim - r % dim),
                F.slice("embedding", 1, r % dim),
            )
            rep = emb.select(
                (F.col("vec_id") + r * 10_000_000).alias("vec_id"),
                (rotated if r else F.col("embedding")).alias("embedding"),
            )
            corpus = rep if corpus is None else corpus.unionByName(rep)
        path = f"/tmp/ann_scale_probe_x{mult}"
        corpus.write.mode("overwrite").parquet(path)
        big = spark.read.parquet(path)
        n = big.count()
        queries = big.filter(F.col("vec_id") < 10)

        # sign-LSH bucket shape
        buckets = (
            big.select(signlsh_bucket("embedding", 8).alias("b"))
            .groupBy("b")
            .count()
            .agg(
                F.count("*").alias("n_buckets"),
                F.max("count").alias("max_bucket"),
            )
            .first()
        )

        # IVF cell balance: first-N vs trained
        def cell_stats(cents):
            c = ivf_assign(
                big.select(F.col("vec_id").alias("id"),
                           F.col("embedding").alias("v")),
                cents, 1, "id", "v",
            )
            s = c.groupBy("cent_id").count().agg(
                F.min("count"), F.max("count")
            ).first()
            return s[0], s[1]

        firstn = big.filter(F.col("vec_id") < 16).select(
            F.col("vec_id").alias("cent_id"),
            F.transform("embedding", lambda x: x.cast("double")).alias("cv"),
        )
        fn_min, fn_max = cell_stats(firstn)
        trained = train_ivf_centroids(big, n_centroids=16, n_iter=2)
        tr_min, tr_max = cell_stats(trained)

        t0 = time.perf_counter()
        ann_bucketed_topk(big, queries, k=5).write.format("noop").mode(
            "overwrite"
        ).save()
        t_ann = time.perf_counter() - t0

        print(
            f"x{mult}: vecs={n} signlsh_buckets={buckets['n_buckets']} "
            f"max_bucket={buckets['max_bucket']} "
            f"ivf_cells firstN=[{fn_min},{fn_max}] "
            f"trained=[{tr_min},{tr_max}] "
            f"bucketed_ann={t_ann:.1f}s",
            flush=True,
        )

    spark.stop()


if __name__ == "__main__":
    main()
