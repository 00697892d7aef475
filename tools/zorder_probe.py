"""Z-order probe: measure what Morton clustering actually skips.

Rewrites the sf0.1 orders table two ways — plain compaction and
``zorder_compact`` on (o_custkey, cents) — then runs the same selective
two-dimensional box predicate against both and reports, from the scan's
executed metrics, how many files each layout actually opened
(``numFiles``) plus the per-file bounding-box tightness the file-stats
test asserts qualitatively. The parquet reader prunes row groups with
min/max stats, so tight per-file boxes turn directly into skipped IO.

Usage: python tools/zorder_probe.py [n_files]   (default 16)
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _scan_output_rows(df) -> int:
    """Rows the parquet scan EMITTED — i.e. rows in the row groups that
    survived min/max pruning against the pushed filters (the reader then
    refines row-by-row). Tight per-file stats -> fewer surviving groups
    -> fewer emitted rows: the direct IO measure of clustering."""
    df.collect()
    scan = df._jdf.queryExecution().executedPlan().collectLeaves().head()
    return scan.metrics().apply("numOutputRows").value()


def main() -> None:
    from pyspark.sql import functions as F

    from inbev_data_engineering_case_spark.layers import (
        compact_parquet,
        zorder_compact,
    )
    from inbev_data_engineering_case_spark.session import get_spark

    n_files = int(sys.argv[1]) if len(sys.argv) > 1 else 16
    spark = get_spark("zorder-probe")
    spark.sparkContext.setLogLevel("ERROR")

    work = tempfile.mkdtemp(prefix="zorder_probe_")
    try:
        src = f"{work}/src"
        (
            spark.read.parquet("/root/testdata/sf0.1/orders.parquet")
            .select(
                "o_orderkey",
                "o_custkey",
                F.round(F.col("o_totalprice") * 100)
                .cast("bigint")
                .alias("cents"),
            )
            .repartition(8)  # scatter: no accidental clustering
            .write.parquet(src)
        )
        total = sum(
            f.stat().st_size
            for f in __import__("pathlib").Path(src).glob("*.parquet")
        )
        target = max(1, total // n_files)

        plain, zed = f"{work}/plain", f"{work}/zorder"
        compact_parquet(spark, src, plain, target_file_bytes=target)
        zorder_compact(
            spark, src, zed, ["o_custkey", "cents"], target_file_bytes=target
        )

        bounds = spark.read.parquet(src).agg(
            F.min("o_custkey"), F.max("o_custkey"),
            F.min("cents"), F.max("cents"),
        ).collect()[0]
        lo_c, hi_c, lo_v, hi_v = bounds
        # a ~12.5% x 12.5% box in the middle of both ranges
        c0 = lo_c + (hi_c - lo_c) * 4 // 10
        c1 = lo_c + (hi_c - lo_c) * 525 // 1000
        v0 = lo_v + (hi_v - lo_v) * 4 // 10
        v1 = lo_v + (hi_v - lo_v) * 525 // 1000

        n_total = spark.read.parquet(src).count()
        for label, path in (("plain", plain), ("zorder", zed)):
            df = spark.read.parquet(path).filter(
                (F.col("o_custkey").between(c0, c1))
                & (F.col("cents").between(v0, v1))
            )
            rows = df.count()
            emitted = _scan_output_rows(df)
            print(
                f"{label}: scan emitted {emitted}/{n_total} rows "
                f"after row-group pruning -> {rows} matched "
                f"({100 * emitted / n_total:.1f}% of the table read)"
            )
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
