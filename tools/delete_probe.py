"""Probe: surgical deletion touches O(k) files on a key-clustered table.

Clusters the sf0.1 events table by user_id (compact_parquet range-sort),
then deletes a handful of users via ``layers.delete_rows`` and reports
how many files were rewritten vs hard-linked byte-identical, and the
byte ratio. On a clustered table the stats-pruned rewrite set stays
proportional to the deleted key count — at 100 TB that is the
difference between a full-table rewrite and a few file rewrites.

Usage: python tools/delete_probe.py [n_users_to_delete]
"""

from __future__ import annotations

import glob
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from inbev_data_engineering_case_spark.layers import (
        compact_parquet,
        delete_rows,
    )
    from inbev_data_engineering_case_spark.session import get_spark
    from inbev_data_engineering_case_spark.sources.readers import read_events

    n_del = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    spark = get_spark("delete-probe")
    spark.sparkContext.setLogLevel("ERROR")

    work = tempfile.mkdtemp(prefix="delete_probe_")
    raw = f"{work}/raw"
    read_events(spark, "/root/testdata/sf0.1").write.parquet(raw)
    src = f"{work}/clustered"
    # small target size -> tens of files, disjoint user_id spans
    n_files = compact_parquet(
        spark, raw, src, target_file_bytes=64 * 1024, sort_cols=["user_id"]
    )
    keys = list(range(n_del))  # users 0..n-1: clustered into few files

    dst = f"{work}/deleted"
    t0 = time.perf_counter()
    stats = delete_rows(spark, src, dst, "user_id", keys)
    dt = time.perf_counter() - t0

    def dir_size(d):
        return sum(
            os.path.getsize(f) for f in glob.glob(os.path.join(d, "*.parquet"))
        )

    linked_bytes = sum(
        os.path.getsize(f)
        for f in glob.glob(os.path.join(dst, "*.parquet"))
        if not os.path.basename(f).startswith("rewrite-")
    )
    total_bytes = dir_size(dst)
    print(
        f"delete-probe sf0.1: {n_files} clustered files, deleting "
        f"{n_del} users -> rewrote {stats['files_rewritten']}/"
        f"{stats['files_total']} files ({stats['rows_deleted']} rows) "
        f"in {dt:.2f}s; {linked_bytes}/{total_bytes} output bytes "
        f"hard-linked untouched "
        f"({linked_bytes / total_bytes:.0%} of the table never rewritten)"
    )


if __name__ == "__main__":
    main()
