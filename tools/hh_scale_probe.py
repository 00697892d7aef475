"""Heavy-hitters scale probe: quantify what sample-then-verify saves
over the naive full-distinct groupBy as the DISTINCT-ITEM domain grows.

The claim (operators/quality.py:heavy_hitters): the naive plan's
exchange carries one row per distinct item — almost all cold — while
sample-then-verify's exchanges carry (a) the sampled stream's distinct
items and (b) exact counts for the tiny candidate set only. This probe
builds streams with a fixed hot set and an exploding cold tail
(distinct "URLs" scaling 1x-100x), runs both plans, and reports wall
time plus the decisive quantity: the distinct-item row count each
plan's exchange must carry, which is the 100 TB cost driver.

Usage: python tools/hh_scale_probe.py [multiplier ...] (default 1 10 50)
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from pyspark.sql import functions as F

    from inbev_data_engineering_case_spark.functions import portable_hash64
    from inbev_data_engineering_case_spark.operators.quality import (
        heavy_hitters,
    )
    from inbev_data_engineering_case_spark.session import get_spark

    multipliers = [int(a) for a in sys.argv[1:]] or [1, 10, 50]
    spark = get_spark("hh-probe")
    spark.sparkContext.setLogLevel("ERROR")

    base_rows = 2_000_000
    for mult in multipliers:
        n_cold = 50_000 * mult
        # 20 hot items at ~2% each (40% of stream), cold tail uniform
        # over n_cold distinct items on the rest
        df = (
            spark.range(base_rows)
            .withColumn(
                "term",
                F.when(
                    F.col("id") % 5 < 2,
                    F.concat(F.lit("hot"), (F.col("id") % 20)),
                ).otherwise(
                    F.concat(
                        F.lit("cold"),
                        portable_hash64(F.col("id").cast("string"))
                        % n_cold,
                    )
                ),
            )
            .select(F.col("id").alias("doc_id"), "term")
        )
        df = df.persist()
        df.count()

        t0 = time.perf_counter()
        naive = (
            df.groupBy("term")
            .count()
            .join(F.broadcast(df.agg(F.count("*").alias("_n"))))
            .filter(F.col("count") * 1_000_000 > 10_000 * F.col("_n"))
        )
        n_naive = naive.count()
        t_naive = time.perf_counter() - t0
        # the naive exchange carries every distinct item
        naive_exchange = df.select("term").distinct().count()

        t0 = time.perf_counter()
        hh = heavy_hitters(
            df, "term", "doc_id", phi_ppm=10_000, sample_ppm=100_000
        )
        n_hh = hh.count()
        t_hh = time.perf_counter() - t0
        # sample-then-verify's exchanges: sampled distinct + candidates
        sampled_distinct = (
            df.filter(
                portable_hash64(
                    F.concat(F.lit("hh"), F.col("doc_id").cast("string"))
                )
                % 1_000_000
                < 100_000
            )
            .select("term")
            .distinct()
            .count()
        )
        print(
            f"mult={mult:3d} distinct={naive_exchange:>9,} | "
            f"naive {t_naive:5.2f}s ({n_naive} hitters, exchange rows = "
            f"all {naive_exchange:,} distinct) | "
            f"sample+verify {t_hh:5.2f}s ({n_hh} hitters, stage-1 "
            f"exchange {sampled_distinct:,} rows, stage-2 candidate-"
            f"sized)",
            flush=True,
        )
        df.unpersist()
    spark.stop()


if __name__ == "__main__":
    main()
