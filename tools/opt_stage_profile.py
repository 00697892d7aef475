"""Stage-level wall-clock breakdown of the expensive curation-family
bench lines at sf0.1 — the r15 optimization round's measurement harness
(guide §1: measure first, isolate with the noop sink, label jobs).

Times each *cumulative prefix* of the composition (so stage cost =
difference of adjacent lines) plus a few standalone pieces, each via the
noop sink after one untimed warm-up, and counts the Spark jobs each
prefix launches (``statusTracker`` job-id delta — at bench scale the
fixture is ~5k docs, so job/action/round COUNT is the cost model, and a
job saved locally is a cluster-wide barrier saved at 100 TB).

Usage: python tools/opt_stage_profile.py [runs]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> int:
    from pyspark.sql import functions as F

    from inbev_data_engineering_case_spark.operators.curate import (
        curate_corpus,
    )
    from inbev_data_engineering_case_spark.operators.decontaminate import (
        contamination_report,
    )
    from inbev_data_engineering_case_spark.operators.dedup import (
        dedup_components_with_stats,
        exact_dedup,
        minhash_dedup_pairs,
        minhash_signatures,
    )
    from inbev_data_engineering_case_spark.operators.textops import (
        score_documents,
    )
    from inbev_data_engineering_case_spark.queries import CATALOG, _corpus_near
    from inbev_data_engineering_case_spark.session import (
        get_spark,
        materialize,
    )

    runs = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    spark = get_spark("opt-stage-profile")
    spark.sparkContext.setLogLevel("ERROR")
    tracker = spark.sparkContext.statusTracker()

    def jobs() -> int:
        ids = tracker.getJobIdsForGroup(None)
        return max(ids) if ids else 0

    def timed(label: str, fn) -> None:
        spark.sparkContext.setJobDescription(label)
        fn().write.format("noop").mode("overwrite").save()  # warm-up
        best = None
        j0 = jobs()
        for _ in range(runs):
            t0 = time.perf_counter()
            fn().write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        n_jobs = (jobs() - j0) / runs
        print(f"{label:48s} min={best:7.3f}s jobs/run~{n_jobs:.0f}",
              flush=True)
        spark.sparkContext.setJobDescription(None)

    corpus = _corpus_near(spark, SF_DIR)
    bench_docs = corpus.filter(
        (F.col("doc_id") % 40 == 0) & (F.col("doc_id") < 200000)
    )

    # --- cumulative prefixes of curate_corpus (plain) ---
    timed("scan+score+filter (eligible)", lambda: score_documents(
        corpus, "text", "doc_id"
    ).filter(F.col("lang").isin("en") & (F.col("quality") >= 0.3)))

    def elig():
        return materialize(
            score_documents(corpus, "text", "doc_id").filter(
                F.col("lang").isin("en") & (F.col("quality") >= 0.3)
            ),
            eager=False,
        )

    timed("eligible materialized", elig)
    timed("+ exact_dedup keep list", lambda: exact_dedup(
        elig(), "text", "doc_id"
    ))
    timed("+ minhash signatures (on eligible)", lambda: minhash_signatures(
        elig(), "text", "doc_id"
    ))
    timed("+ minhash pairs (banded join)", lambda: minhash_dedup_pairs(
        elig(), "text", "doc_id"
    ))

    def comps():
        pairs = minhash_dedup_pairs(elig(), "text", "doc_id")
        labels, rounds = dedup_components_with_stats(pairs)
        print(f"    [components rounds={rounds}]", flush=True)
        return labels

    timed("+ components over pairs", comps)
    timed("curate_corpus (full)", lambda: curate_corpus(corpus))
    timed("curate_halo (full)", lambda: curate_corpus(
        corpus, benchmark=bench_docs, halo_hops=2
    ))
    timed("contamination_report standalone", lambda: contamination_report(
        corpus, bench_docs, n=8
    ))

    # --- other heavy headline lines, end to end for reference ---
    for q in ("q_boilerplate", "q_containment", "q_bow_multiclass",
              "q_stratum_budget", "q_dedup_simhash", "q_decontaminate"):
        timed(q, lambda q=q: CATALOG[q].fn(spark, SF_DIR))

    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
