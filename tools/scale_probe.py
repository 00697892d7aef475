"""Scale probe: measure the LSH dedup pipeline's scaling behavior on
corpora 10-40x larger than the bench fixture.

Builds a deterministic expanded corpus in /tmp by replicating the sf0.1
documents with id offsets and per-replica token rotation (so replicas are
NOT near-dups of each other — corpus grows without inflating true-pair
density), then times minhash signatures, band join, and pair verification,
and reports the candidate-pair count and the largest band-bucket size — the
two quantities that decide whether LSH survives a 100 TB corpus.

Usage: python tools/scale_probe.py [multiplier ...]   (default: 1 4 10 20)
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from pyspark.sql import functions as F

    from inbev_data_engineering_case_spark.operators.dedup import (
        minhash_dedup_pairs,
        minhash_signatures,
        _band_keys,
        _ensure_parallelism,
    )
    from inbev_data_engineering_case_spark.session import get_spark

    multipliers = [int(a) for a in sys.argv[1:]] or [1, 4, 10, 20]
    spark = get_spark("scale-probe")
    spark.sparkContext.setLogLevel("ERROR")

    docs = spark.read.parquet("/root/testdata/sf0.1/documents.parquet").select(
        "doc_id", "text"
    )

    for mult in multipliers:
        # replica r: ids shifted and EVERY token suffixed with the replica
        # number, so replicas of the same doc share no shingles at all —
        # corpus grows without inflating true-pair density
        corpus = None
        for r in range(mult):
            text = (
                F.col("text")
                if r == 0
                else F.regexp_replace("text", r"(\S+)", f"$1{r}")
            )
            rep = docs.select(
                (F.col("doc_id") + r * 1_000_000).alias("doc_id"),
                text.alias("text"),
            )
            corpus = rep if corpus is None else corpus.unionByName(rep)
        # add one near-dup per base doc so recall stays observable
        corpus = corpus.unionByName(
            docs.select(
                (F.col("doc_id") + 900_000_000).alias("doc_id"),
                F.concat("text", F.lit(" the end")).alias("text"),
            )
        )
        path = f"/tmp/scale_probe_docs_x{mult}"
        corpus.write.mode("overwrite").parquet(path)
        big = spark.read.parquet(path)
        n = big.count()

        t0 = time.perf_counter()
        sigs = minhash_signatures(_ensure_parallelism(big))
        bands = sigs.select(
            "id", F.posexplode(_band_keys("sig", 2)).alias("bi", "bk")
        )
        bucket_stats = (
            bands.groupBy("bi", "bk")
            .count()
            .agg(
                F.max("count").alias("max_bucket"),
                F.count("*").alias("n_buckets"),
            )
            .first()
        )
        t_sig = time.perf_counter() - t0

        t0 = time.perf_counter()
        n_pairs = minhash_dedup_pairs(big).count()
        t_pairs = time.perf_counter() - t0

        print(
            f"x{mult}: docs={n} sig+bucket_scan={t_sig:.1f}s "
            f"full_pipeline={t_pairs:.1f}s pairs={n_pairs} "
            f"max_bucket={bucket_stats['max_bucket']} "
            f"buckets={bucket_stats['n_buckets']}",
            flush=True,
        )

    # hot-bucket guard probe: a template-heavy corpus (every doc = one
    # shared boilerplate block + unique tail) drives every band bucket to
    # corpus size. Uncapped, the bucket-local join is quadratic; with the
    # cap, hot buckets star-link to their representative and the pair
    # count (and wall time) collapses to linear.
    n_hot = 3000
    boiler = " ".join(f"tok{i}" for i in range(60))
    hot_corpus = spark.range(n_hot).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit(boiler + " tail"), F.col("id").cast("string")).alias(
            "text"
        ),
    )
    t0 = time.perf_counter()
    uncapped = minhash_dedup_pairs(hot_corpus, max_bucket_size=None).count()
    t_uncapped = time.perf_counter() - t0
    t0 = time.perf_counter()
    capped = minhash_dedup_pairs(hot_corpus, max_bucket_size=500).count()
    t_capped = time.perf_counter() - t0
    print(
        f"hot-bucket guard: docs={n_hot} uncapped_pairs={uncapped} "
        f"({t_uncapped:.1f}s) capped_pairs={capped} ({t_capped:.1f}s) "
        f"[cap=500 engaged: {capped < uncapped}]",
        flush=True,
    )

    spark.stop()


if __name__ == "__main__":
    main()
