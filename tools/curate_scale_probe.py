"""Curation scale probe: measure the end-to-end ``curate_corpus``
composition and ``pack_sequences`` on corpora 1-10x the bench fixture.

The question it answers: does the composition's runtime track corpus size
~linearly (scan-bound stages + uniformly-hashed shuffles), or does any
stage degenerate super-linearly (an LSH bucket blowing up, the components
loop needing more rounds, a skewed packer stream)?

Corpus construction follows tools/scale_probe.py — replicas get
per-replica token rotation so they are NOT near-dups of each other (corpus
grows without inflating true-pair density) — with one twist: only words of
5+ chars are rotated, so stopwords survive and every replica still passes
the language/quality filter (rotating every token turns the text 'und' and
the filter would delete the extra scale before the dedup stages see it).
One real near-dup per base doc keeps the dedup stages honest at every
multiplier.

Reported per multiplier:
- docs in / docs kept (kept fraction should stay ~flat: the filter and
  dup density are scale-invariant by construction)
- wall time for the full curate composition and for pack_sequences
- components rounds (via dedup_components_with_stats on the same pairs) —
  must stay flat (cluster diameter doesn't grow with corpus size)
- max docs in any packer bin's stream (packer skew indicator)

Usage: python tools/curate_scale_probe.py [multiplier ...]  (default: 1 4 10)
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from pyspark.sql import functions as F

    from inbev_data_engineering_case_spark.operators.curate import (
        curate_corpus,
        pack_sequences,
    )
    from inbev_data_engineering_case_spark.operators.dedup import (
        dedup_components_with_stats,
        minhash_dedup_pairs,
    )
    from inbev_data_engineering_case_spark.session import get_spark

    multipliers = [int(a) for a in sys.argv[1:]] or [1, 4, 10]
    spark = get_spark("curate-scale-probe")
    spark.sparkContext.setLogLevel("ERROR")

    docs = spark.read.parquet(
        "/root/testdata/sf0.1/documents.parquet"
    ).select("doc_id", "text")

    for mult in multipliers:
        corpus = None
        for r in range(mult):
            text = (
                F.col("text")
                if r == 0
                else F.regexp_replace("text", r"(\w{5,})", f"$1{r}")
            )
            rep = docs.select(
                (F.col("doc_id") + r * 1_000_000).alias("doc_id"),
                text.alias("text"),
            )
            corpus = rep if corpus is None else corpus.unionByName(rep)
        corpus = corpus.unionByName(
            docs.select(
                (F.col("doc_id") + 900_000_000).alias("doc_id"),
                F.concat("text", F.lit(" and so it ends")).alias("text"),
            )
        ).localCheckpoint()  # freeze the input so build cost isn't timed
        n_in = corpus.count()

        t0 = time.perf_counter()
        kept = curate_corpus(corpus).count()
        t_curate = time.perf_counter() - t0

        _, rounds = dedup_components_with_stats(
            minhash_dedup_pairs(corpus)
        )

        t0 = time.perf_counter()
        packed = pack_sequences(corpus).groupBy("packer").agg(
            F.count("*").alias("n")
        )
        max_packer = packed.agg(F.max("n")).first()[0]
        avg_packer = packed.agg(F.avg("n")).first()[0]
        t_pack = time.perf_counter() - t0

        print(
            f"mult={mult}: docs_in={n_in} kept={kept} "
            f"({kept / n_in:.1%}) curate={t_curate:.1f}s "
            f"components_rounds={rounds} pack={t_pack:.1f}s "
            f"packer_skew={max_packer / avg_packer:.2f}x",
            flush=True,
        )

    spark.stop()


if __name__ == "__main__":
    main()
