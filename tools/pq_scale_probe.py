"""PQ scale probe: measure what product quantization buys and costs on the
fixture embeddings.

Reports:
- compression: bytes/vector raw (float32·d) vs PQ (m codes);
- fixture geometry: within-cluster spread vs label-centroid offset — the
  sf embeddings are near-iid gaussian (offset ~0.07 vs spread ~1.0), the
  regime where DISTANCE CONCENTRATION bounds every ANN method's recall,
  PQ included. The probe therefore reports measured recall rather than
  gating on a threshold (same policy as tools/ann_scale_probe.py);
- recall@10 vs brute-force SQUARED-L2 ground truth (the metric PQ
  approximates; for cosine retrieval, L2-normalize first — then L2 order
  == cosine order) for the sampled codebook and the Lloyd-trained one;
- wall time per search (median of 3).

On real embedding corpora (which cluster heavily — that is why they
embed), trained-codebook PQ recall rises with structure; on this fixture
it lands ~0.2 at 8 B/vec, consistent with gaussian concentration.

Usage: python tools/pq_scale_probe.py [m k ...]   (default: "4 16 8 64")
"""

from __future__ import annotations

import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from inbev_data_engineering_case_spark.functions import sqdist
    from inbev_data_engineering_case_spark.operators.similarity import (
        ann_pq_topk,
        pq_adc_topk,
        pq_encode,
        train_pq_codebooks,
    )
    from inbev_data_engineering_case_spark.session import get_spark

    args = [int(a) for a in sys.argv[1:]]
    configs = list(zip(args[::2], args[1::2])) or [(4, 16), (8, 64)]
    spark = get_spark("pq-scale-probe")
    spark.sparkContext.setLogLevel("ERROR")

    emb = spark.read.parquet(
        "/root/testdata/sf0.1/embeddings.parquet"
    ).localCheckpoint()
    dim = len(emb.first()["embedding"])
    queries = emb.filter(F.col("vec_id") < 20)

    import numpy as np

    rows = emb.limit(2000).collect()
    x = np.array([r["embedding"] for r in rows])
    lab = np.array([r["label"] for r in rows])
    labels = sorted(set(lab.tolist()))
    within = float(
        np.mean(
            [
                np.linalg.norm(
                    x[lab == c] - x[lab == c].mean(0), axis=1
                ).mean()
                for c in labels
            ]
        )
    )
    between = float(
        np.mean(
            [np.linalg.norm(x[lab == c].mean(0) - x.mean(0)) for c in labels]
        )
    )
    print(
        f"fixture geometry: within-cluster spread {within:.3f}, "
        f"label-centroid offset {between:.3f} "
        f"({'near-iid gaussian — concentration-bound regime' if between < 0.2 * within else 'clustered'})"
    )

    def l2_truth(k: int = 10) -> set:
        q = queries.select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
        )
        c = emb.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("embedding").alias("cv"),
        )
        s = c.join(
            F.broadcast(q), F.col("query_id") != F.col("neighbor_id")
        ).select(
            "query_id",
            "neighbor_id",
            F.round(sqdist("qv", "cv"), 6).alias("d"),
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col("d").asc(), "neighbor_id"
        )
        return {
            (r["query_id"], r["neighbor_id"])
            for r in s.withColumn("rk", F.row_number().over(w))
            .filter("rk <= 10")
            .collect()
        }

    truth = l2_truth()

    def measure(fn, label: str) -> None:
        times, got = [], None
        for _ in range(3):
            t0 = time.perf_counter()
            got = {(r["query_id"], r["neighbor_id"]) for r in fn().collect()}
            times.append(time.perf_counter() - t0)
        rec = len(got & truth) / len(truth)
        print(
            f"  {label}: recall@10={rec:.3f} "
            f"median={statistics.median(times):.2f}s"
        )

    for m, k in configs:
        print(
            f"m={m} k={k}: raw {4 * dim} B/vec -> {m} B/vec "
            f"({4 * dim // m}x compression)"
        )
        measure(
            lambda m=m, k=k: ann_pq_topk(
                emb, queries, k_neighbors=10, m=m, k=k
            ),
            "sampled codebook",
        )
        book = train_pq_codebooks(emb, m=m, k=k, n_iter=3)
        codes = pq_encode(emb, book, m=m, k=k)
        measure(
            lambda m=m, k=k, codes=codes, book=book: pq_adc_topk(
                codes, book, queries, k_neighbors=10, m=m, k=k
            ),
            "Lloyd-trained codebook (3 iters)",
        )


if __name__ == "__main__":
    main()
