"""Probe: incremental curation cost tracks the DELTA, not the corpus.

The whole point of curate_incremental is that a daily crawl over a 100 TB
corpus pays for the new documents only — the history is represented by its
stored signature/fingerprint tables and never re-read, re-scored, or
re-hashed. This probe measures that claim at sf0.1: one full-batch
curation of corpus+delta versus an incremental run of just the delta
against precomputed artifacts, at several delta sizes.

Default: one realistic case — a ~1% delta (daily crawl growth against an
accumulated corpus). Full-batch pays the whole corpus scan+hash again;
incremental pays the delta plus narrow artifact joins. The speedup at
this toy scale is bounded by per-job fixed overhead; at a real
corpus/delta ratio the win approaches that ratio (the corpus-side work
incremental skips is linear in corpus text bytes).

Usage: python tools/incremental_scale_probe.py [delta_docs ...]
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
        curate_incremental,
    )
    from inbev_data_engineering_case_spark.operators.dedup import (
        exact_dedup,
        minhash_signatures,
    )
    from inbev_data_engineering_case_spark.session import get_spark

    deltas = [int(a) for a in sys.argv[1:]] or [100]
    spark = get_spark("incremental-probe")
    spark.sparkContext.setLogLevel("ERROR")

    # The fixture's documents are a few hundred bytes — toy-sized next to
    # real crawl pages, so per-job fixed overhead would swamp the signal.
    # Inflate to ~realistic page weight (the shingle/minhash work the
    # incremental design avoids re-doing is linear in text size).
    docs = (
        spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
        .select(
            "doc_id",
            F.concat_ws(
                " ", F.array_repeat(F.col("text"), 8)
            ).alias("text"),
        )
    )
    # spread the inflated corpus across all cores before the
    # compute-bound hashing (the fixture is a single parquet split)
    corpus = (
        docs.unionByName(
            docs.select(
                (F.col("doc_id") + 200000).alias("doc_id"),
                F.concat("text", F.lit(" archival copy")).alias("text"),
            )
        )
        .repartition(spark.sparkContext.defaultParallelism)
        .localCheckpoint()
    )
    n_corpus = corpus.count()

    # yesterday's artifacts, computed once (in production: read from their
    # stored tables)
    sigs = minhash_signatures(corpus).localCheckpoint()
    sigs.count()
    fps = exact_dedup(corpus).localCheckpoint()
    fps.count()

    print(f"corpus: {n_corpus} docs")
    for n_delta in deltas:
        # delta: half near-dup re-posts of corpus docs, half fresh-ish
        # (suffix-mangled beyond the 0.5 threshold)
        half = n_delta // 2
        near = docs.limit(half).select(
            (F.col("doc_id") + 500000).alias("doc_id"),
            F.concat("text", F.lit(" the end")).alias("text"),
        )
        fresh = docs.limit(n_delta - half).select(
            (F.col("doc_id") + 600000).alias("doc_id"),
            F.concat(
                F.lit("entirely new draft with rewritten phrasing "),
                F.reverse("text"),
            ).alias("text"),
        )
        delta = near.unionByName(fresh).localCheckpoint()
        delta.count()
        snap_new = corpus.unionByName(delta)

        t0 = time.perf_counter()
        n_full = curate_corpus(snap_new).count()
        t_full = time.perf_counter() - t0

        t0 = time.perf_counter()
        n_incr = curate_incremental(corpus, snap_new, sigs, fps).count()
        t_incr = time.perf_counter() - t0

        print(
            f"delta={n_delta:5d}  full-batch: {t_full:6.2f}s "
            f"({n_full} kept)  incremental: {t_incr:6.2f}s "
            f"({n_incr} newly kept)  speedup: {t_full / t_incr:4.1f}x"
        )
    spark.stop()


if __name__ == "__main__":
    main()
