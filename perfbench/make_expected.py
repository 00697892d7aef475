"""Regenerate ``expected_catalog.json``: the (row_count, md5) of every catalog
operation the benchmark runs, computed by each query's DuckDB oracle over
``data/sf0.01`` and hashed with ``testing.table_hash``.

    python3 perfbench/make_expected.py

The benchmark compares its warm-up outputs against this table instead of
running the oracles on every run. The seeded row permutation leaves table
contents unchanged, so one table serves every seed.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from inbev_data_engineering_case_spark.queries import CATALOG  # noqa: E402
from inbev_data_engineering_case_spark.testing import (  # noqa: E402
    duckdb_star_connection,
    table_hash,
)

from run import CATALOG_OPS, DATA_DIR, EXPECTED_PATH  # noqa: E402


def main() -> None:
    con = duckdb_star_connection(DATA_DIR)
    expected = {}
    for op in CATALOG_OPS:
        res = con.execute(CATALOG[op].oracle)
        cols = [d[0] for d in res.description]
        expected[op] = list(table_hash(cols, res.fetchall()))
        print(op, expected[op], flush=True)
    with open(EXPECTED_PATH, "w") as fh:
        json.dump(expected, fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    main()
