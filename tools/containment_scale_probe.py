"""Probe: the containment join's hot-gram cap is the all-pairs guard.

`containment_pairs`' candidate generation is a self-join of the
(doc, gram-hash) stream on the gram key: every gram with document
frequency df contributes df² ordered pairs, so a handful of corpus-hot
grams (boilerplate phrases) can push the join toward all-pairs — the
same degeneration mode the minhash banded join guards against with the
hot-bucket cap. `max_gram_df` excludes grams with df > cap from BOTH
the numerator and the denominator (the measure stays well-defined over
informative grams). This probe quantifies the trade at sf0.1: for a
range of caps, the candidate-pair count (threshold_ppm=1, i.e. every
surviving pair), the number of excluded grams, and the wall time.

Usage: python tools/containment_scale_probe.py [sf_dir]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from pyspark.sql import functions as F

    from inbev_data_engineering_case_spark.functions import (
        portable_hash64,
        word_ngrams,
    )
    from inbev_data_engineering_case_spark.operators.dedup import (
        containment_pairs,
    )
    from inbev_data_engineering_case_spark.session import get_spark
    from inbev_data_engineering_case_spark.sources.readers import (
        read_parquet_table,
    )

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark("containment-probe")
    docs = read_parquet_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    n_docs = docs.count()
    grams = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(word_ngrams(F.lower(F.col("text")), 5))
        ).alias("gram"),
    ).select("doc_id", portable_hash64(F.col("gram")).alias("gram_h"))
    df_hist = grams.groupBy("gram_h").count().cache()
    n_grams = df_hist.count()
    print(f"{n_docs:,} docs, {n_grams:,} distinct 5-grams")

    containment_pairs(docs, max_gram_df=100).count()  # warm-up
    for cap in (None, 1000, 100, 20):
        excluded = (
            0
            if cap is None
            else df_hist.filter(F.col("count") > cap).count()
        )
        t0 = time.perf_counter()
        pairs = containment_pairs(
            docs, threshold_ppm=1, max_gram_df=cap
        ).count()
        dt = time.perf_counter() - t0
        label = "uncapped" if cap is None else f"cap {cap}"
        print(
            f"{label:>9}: {pairs:,} candidate pairs, "
            f"{excluded:,} hot grams excluded, {dt:.2f}s"
        )

    # the natural corpus has no hot grams (cap verified free above) —
    # now PLANT the degeneration: one shared boilerplate sentence on
    # 1,000 docs makes each of its grams df=1000, so the uncapped join
    # must emit ~1e6 pairs per hot gram while the capped join stays at
    # the informative-pair count
    boiler = docs.limit(1000).select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" subscribe to our newsletter for updates today"),
        ).alias("text"),
    ).cache()
    boiler.count()
    for cap in (100, None):
        t0 = time.perf_counter()
        pairs = containment_pairs(
            boiler, threshold_ppm=1, max_gram_df=cap
        ).count()
        dt = time.perf_counter() - t0
        label = "uncapped" if cap is None else f"cap {cap}"
        print(
            f"templated 1k docs, {label}: {pairs:,} pairs, {dt:.2f}s"
        )
    spark.stop()


if __name__ == "__main__":
    main()
