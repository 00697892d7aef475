"""Probe: repeated BM25 queries amortize against a materialized index.

The scan path (`bm25_topk`) re-tokenizes the corpus on EVERY query; the
index path (`build_text_index` once + `bm25_from_index` per query)
pays the tokenize scan once and then answers each query from the stored
tf/doclen/stats tables with the term filter pushed to the tf scan.
This probe runs Q distinct queries both ways at sf0.1 and reports
build cost, per-query cost, and the break-even query count.

At this toy scale the corpus scan is milliseconds, so the structural
numbers are the point: the index path's per-query input is the
term-filtered tf relation (PushedFilters carries the IN-list), while
the scan path's is the full document table — at 100 TB that scan IS
the cost and the index's per-query work is independent of corpus size.

Usage: python tools/index_probe.py [sf_dir] [n_queries]
"""

from __future__ import annotations

import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

QUERIES = [
    ["customer", "order"],
    ["stream", "window"],
    ["vector", "join"],
    ["table", "scan"],
    ["dup", "merge"],
    ["query", "agg"],
]


def main() -> None:
    from inbev_data_engineering_case_spark.operators.relevance import (
        bm25_from_index,
        bm25_topk,
        build_text_index,
    )
    from inbev_data_engineering_case_spark.session import get_spark
    from inbev_data_engineering_case_spark.sources.readers import (
        read_parquet_table,
    )

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    n_q = int(sys.argv[2]) if len(sys.argv) > 2 else len(QUERIES)
    queries = (QUERIES * ((n_q // len(QUERIES)) + 1))[:n_q]

    spark = get_spark("index-probe")
    docs = read_parquet_table(spark, sf_dir, "documents")

    # warm-up (codegen + file listing)
    bm25_topk(docs, queries[0], k=10).count()

    t0 = time.perf_counter()
    for q in queries:
        bm25_topk(docs, q, k=10).count()
    scan_total = time.perf_counter() - t0

    t0 = time.perf_counter()
    index_dir = tempfile.mkdtemp(prefix="bm25_probe_")
    import atexit
    import shutil

    atexit.register(shutil.rmtree, index_dir, True)
    audit = build_text_index(docs, index_dir)
    build_s = time.perf_counter() - t0
    bm25_from_index(spark, index_dir, queries[0], k=10).count()  # warm-up

    t0 = time.perf_counter()
    for q in queries:
        bm25_from_index(spark, index_dir, q, k=10).count()
    idx_total = time.perf_counter() - t0

    per_scan = scan_total / n_q
    per_idx = idx_total / n_q
    print(f"corpus: {audit['doclen_rows']:,} docs, tf rows {audit['tf_rows']:,}")
    print(f"scan path:  {per_scan * 1000:.0f} ms/query ({n_q} queries)")
    print(
        f"index path: build {build_s:.2f}s once, "
        f"then {per_idx * 1000:.0f} ms/query"
    )
    if per_scan > per_idx:
        be = build_s / (per_scan - per_idx)
        print(f"break-even at ~{be:.0f} queries")
    else:
        print(
            "index per-query not faster at this scale (scan is "
            "milliseconds locally); the structural win is the "
            "term-filtered tf input vs the full-corpus tokenize"
        )
    spark.stop()


if __name__ == "__main__":
    main()
