"""Decontamination scale probe: measure ``contamination_report`` /
``decontaminate`` on corpora 1-10x the bench fixture against a fixed
benchmark set.

The question it answers: does the scan-dominated decontamination pass
scale linearly with corpus size while the benchmark side stays a constant
broadcast — or does anything degenerate (broadcast re-built per run,
match-side shuffle growing with the corpus rather than with the
contamination rate)?

Corpus construction mirrors tools/curate_scale_probe.py: replicas rotate
5+-char words so they share no 8-grams with the base corpus or each other
(corpus grows without inflating the contamination rate), and each
multiplier plants one contaminated copy per benchmark doc so the match
path is exercised at every scale.

Reported per multiplier:
- docs in / docs flagged (flagged count should track the planted copies,
  not the corpus size)
- wall time for the portable (md5, oracle-parity) and production
  (xxhash64) hash paths — the ratio is the price of oracle parity on the
  hot pass
- matched-gram total (constant by construction)

Usage: python tools/decon_scale_probe.py [multiplier ...]  (default: 1 4 10)
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from pyspark.sql import functions as F

    from inbev_data_engineering_case_spark.operators.decontaminate import (
        contamination_report,
    )
    from inbev_data_engineering_case_spark.session import get_spark

    multipliers = [int(a) for a in sys.argv[1:]] or [1, 4, 10]
    spark = get_spark("decon-scale-probe")
    spark.sparkContext.setLogLevel("ERROR")

    docs = spark.read.parquet(
        "/root/testdata/sf0.1/documents.parquet"
    ).select("doc_id", "text")
    benchmark = docs.filter(F.col("doc_id") % 40 == 0).localCheckpoint()
    n_bench = benchmark.count()

    for mult in multipliers:
        corpus = None
        for r in range(mult):
            text = (
                F.col("text")
                if r == 0
                else F.regexp_replace("text", r"(\w{5,})", f"$1{r}")
            )
            rep = docs.filter(F.col("doc_id") % 40 != 0).select(
                (F.col("doc_id") + r * 1_000_000).alias("doc_id"),
                text.alias("text"),
            )
            corpus = rep if corpus is None else corpus.unionByName(rep)
        corpus = corpus.unionByName(
            benchmark.select(
                (F.col("doc_id") + 900_000_000).alias("doc_id"),
                F.concat(F.lit("copied verbatim: "), "text").alias("text"),
            )
        ).localCheckpoint()  # freeze the input so build cost isn't timed
        n_in = corpus.count()

        timings = {}
        for label, portable in (("md5", True), ("xxh", False)):
            t0 = time.perf_counter()
            report = contamination_report(
                corpus, benchmark, portable=portable
            )
            agg = report.agg(
                F.count("*").alias("flagged"),
                F.sum("matched_ngrams").alias("grams"),
            ).first()
            timings[label] = time.perf_counter() - t0
            flagged, grams = agg["flagged"], agg["grams"]

        print(
            f"mult={mult}: docs_in={n_in} bench={n_bench} "
            f"flagged={flagged} matched_grams={grams} "
            f"md5={timings['md5']:.1f}s xxh={timings['xxh']:.1f}s "
            f"(portable-parity cost {timings['md5'] / timings['xxh']:.2f}x)",
            flush=True,
        )

    spark.stop()


if __name__ == "__main__":
    main()
