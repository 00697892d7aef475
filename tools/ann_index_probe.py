"""Probe: repeated ANN query batches amortize against a materialized
IVF-PQ index.

The direct path (`ann_ivf_pq_topk`) re-derives the model on EVERY call:
cell assignment of the whole corpus, codebook sampling, and PQ encoding
all rerun per query batch. The index path (`build_ann_index` once +
`ann_from_index` per batch) pays training/assignment/encoding once and
answers each batch from the stored centroids/cells/codebook/codes with
only the query-side probe + LUT computed fresh. This probe runs Q query
batches both ways at sf0.1 and reports build cost, per-batch cost, and
the break-even batch count.

At this toy scale the corpus encode is fractions of a second, so the
structural numbers are the point: the index path's per-batch corpus
input is the stored code table (already quantized, 64x smaller than the
raw vectors) joined cell-locally, while the direct path re-encodes the
full embedding table — at billions of vectors that encode IS the cost
and the index's per-batch work is independent of it.

Usage: python tools/ann_index_probe.py [sf_dir] [n_batches]
"""

from __future__ import annotations

import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from pyspark.sql import functions as F

    from inbev_data_engineering_case_spark.operators.similarity import (
        ann_from_index,
        ann_ivf_pq_topk,
        build_ann_index,
    )
    from inbev_data_engineering_case_spark.session import get_spark
    from inbev_data_engineering_case_spark.sources.readers import (
        read_parquet_table,
    )

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    n_b = int(sys.argv[2]) if len(sys.argv) > 2 else 6
    spark = get_spark("ann-index-probe")
    emb = read_parquet_table(spark, sf_dir, "embeddings")
    # Q disjoint 8-query batches (different ids per batch so neither
    # path can cache a batch's answer)
    batches = [
        emb.filter(
            (F.col("vec_id") >= i * 8) & (F.col("vec_id") < (i + 1) * 8)
        )
        for i in range(n_b)
    ]

    ann_ivf_pq_topk(emb, batches[0], k_neighbors=10).count()  # warm-up
    t0 = time.perf_counter()
    for qb in batches:
        ann_ivf_pq_topk(emb, qb, k_neighbors=10).count()
    direct_total = time.perf_counter() - t0

    t0 = time.perf_counter()
    index_dir = tempfile.mkdtemp(prefix="ann_probe_")
    import atexit
    import shutil

    atexit.register(shutil.rmtree, index_dir, True)
    audit = build_ann_index(emb, index_dir)
    build_s = time.perf_counter() - t0
    ann_from_index(spark, index_dir, batches[0], k_neighbors=10).count()

    t0 = time.perf_counter()
    for qb in batches:
        ann_from_index(spark, index_dir, qb, k_neighbors=10).count()
    idx_total = time.perf_counter() - t0

    per_direct = direct_total / n_b
    per_idx = idx_total / n_b
    print(
        f"corpus: {audit['cells_rows']:,} vectors, "
        f"code rows {audit['codes_rows']:,}"
    )
    print(
        f"direct path: {per_direct * 1000:.0f} ms/batch ({n_b} batches)"
    )
    print(
        f"index path:  build {build_s:.2f}s once, "
        f"then {per_idx * 1000:.0f} ms/batch"
    )
    if per_direct > per_idx:
        be = build_s / (per_direct - per_idx)
        print(f"break-even at ~{be:.0f} batches")
    else:
        print(
            "index per-batch not faster at this scale (encode is "
            "sub-second locally); the structural win is probing stored "
            "codes vs re-encoding the corpus per batch"
        )
    spark.stop()


if __name__ == "__main__":
    main()
