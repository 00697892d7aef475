"""Local replica of the driver's correctness gate.

Runs every catalog query on Spark and its oracle on DuckDB at the given
scale factor, comparing row count, column names, and an order-insensitive
value hash. Usage:

    python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time

# check the checkout this script lives in, whatever the working dir: the
# driver imports it from here, and the Python workers the session starts
# inherit PYTHONPATH (UDF lines import the package on the executors)
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
)


def main() -> int:
    from inbev_data_engineering_case_spark.queries import CATALOG
    from inbev_data_engineering_case_spark.session import get_spark
    from inbev_data_engineering_case_spark.testing import (
        compare_query,
        duckdb_star_connection,
    )

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    names = sys.argv[2:] or list(CATALOG)

    spark = get_spark("check-oracle")
    con = duckdb_star_connection(sf_dir)

    failures = []
    for name in names:
        spec = CATALOG[name]
        t0 = time.perf_counter()
        try:
            msg = compare_query(spec, spark, con, sf_dir)
        except Exception as e:  # noqa: BLE001
            msg = f"error: {e}"
        dt = time.perf_counter() - t0
        if msg is None:
            kind = "rows-only" if spec.oracle is None else "match"
            print(f"ok   {name}: {kind} ({dt:.1f}s)", flush=True)
        else:
            print(f"FAIL {name}: {msg}", flush=True)
            failures.append(name)
    spark.stop()
    if failures:
        print(f"\n{len(failures)} FAILURES: {failures}")
        return 1
    print(f"\nall {len(names)} queries match")
    return 0


if __name__ == "__main__":
    sys.exit(main())
