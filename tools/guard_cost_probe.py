"""Measure the hot-bucket guard's cost on a corpus with NO hot buckets.

The guard (`dedup._split_hot_buckets`) adds one counting job per banded
self-join — the "near-free when no bucket is hot" claim (the bench corpus
has none at the default cap). This probe times the full minhash and
simhash pipelines on the bench corpus guard-on (default cap) vs guard-off
(``max_bucket_size=None``) and prints the delta, plus the actual hot-bucket
count at the default cap so the empty-fast-path precondition is verified
rather than assumed.

Usage: python tools/guard_cost_probe.py [sf_dir]   (default /root/testdata/sf0.1)
"""

from __future__ import annotations

import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

RUNS = 5


def main() -> None:
    from pyspark.sql import functions as F

    from inbev_data_engineering_case_spark.operators.dedup import (
        DEFAULT_BAND_SIZE,
        DEFAULT_MAX_BUCKET_SIZE,
        _band_keys,
        minhash_dedup_pairs,
        minhash_signatures,
        simhash,
        simhash_near_pairs,
    )
    from inbev_data_engineering_case_spark.queries import _corpus_near
    from inbev_data_engineering_case_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark("guard-cost-probe")
    spark.sparkContext.setLogLevel("ERROR")
    corpus = _corpus_near(spark, sf_dir)

    # precondition check: how hot IS the bench corpus at the default cap?
    mh_bands = minhash_signatures(corpus).select(
        "id", F.posexplode(_band_keys("sig", DEFAULT_BAND_SIZE)).alias(
            "band_idx", "band_key"
        )
    )
    mh_hot = (
        mh_bands.groupBy("band_idx", "band_key")
        .count()
        .filter(F.col("count") > DEFAULT_MAX_BUCKET_SIZE)
        .count()
    )
    sh_hot = (
        corpus.select(
            F.shiftright(simhash("text", 60), 60 - 8).alias("bucket")
        )
        .groupBy("bucket")
        .count()
        .filter(F.col("count") > DEFAULT_MAX_BUCKET_SIZE)
        .count()
    )
    print(
        f"hot buckets at cap={DEFAULT_MAX_BUCKET_SIZE}: "
        f"minhash={mh_hot} simhash={sh_hot}"
    )

    def timed(fn) -> float:
        fn().write.format("noop").mode("overwrite").save()  # warm-up
        ts = []
        for _ in range(RUNS):
            t0 = time.perf_counter()
            fn().write.format("noop").mode("overwrite").save()
            ts.append(time.perf_counter() - t0)
        return statistics.median(ts)

    def mh(**kw):
        return minhash_dedup_pairs(corpus, **kw)

    def sh(**kw):
        return simhash_near_pairs(
            corpus, max_hamming=6, bits=60, bucket_bits=8, **kw
        )

    for name, fn in [("minhash", mh), ("simhash", sh)]:
        on = timed(lambda: fn())
        off = timed(lambda: fn(max_bucket_size=None))
        print(
            f"{name}: guard_on={on:.3f}s guard_off={off:.3f}s "
            f"delta={on - off:+.3f}s ({(on / off - 1) * 100:+.1f}%)"
        )

    spark.stop()


if __name__ == "__main__":
    main()
