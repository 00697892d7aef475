"""Exact, no-tolerance comparison of a catalog query against its oracle.

Unlike testing.canon (which rounds floats to 1e-9 and collapses whole
floats to ints), this prints raw ``repr`` + Python type for every cell, so
cross-engine representation divergences the driver's stricter hasher sees
reproduce locally. Usage:

    python tools/strict_diff.py <sf_dir> <query> [query ...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def strict_canon(v: object) -> str:
    if isinstance(v, float):
        return repr(v)  # full double repr, no rounding
    return f"{type(v).__name__}:{v!r}"


def main() -> int:
    from inbev_data_engineering_case_spark.queries import CATALOG
    from inbev_data_engineering_case_spark.session import get_spark
    from inbev_data_engineering_case_spark.testing import duckdb_star_connection

    sf_dir = sys.argv[1]
    names = sys.argv[2:]
    spark = get_spark("strict-diff")
    con = duckdb_star_connection(sf_dir)
    rc = 0
    for name in names:
        spec = CATALOG[name]
        sdf = spec.fn(spark, sf_dir)
        scols = sdf.columns
        srows = [tuple(r) for r in sdf.collect()]
        res = con.execute(spec.oracle)
        ocols = [d[0] for d in res.description]
        orows = res.fetchall()
        print(f"== {name}")
        print(f"   spark schema: {sdf.schema.simpleString()}")
        print(f"   duckdb types: {[(d[0], d[1]) for d in res.description]}")
        order = sorted(range(len(scols)), key=lambda i: scols[i])
        oorder = sorted(range(len(ocols)), key=lambda i: ocols[i])
        sl = sorted(
            "\x1f".join(strict_canon(r[i]) for i in order) for r in srows
        )
        ol = sorted(
            "\x1f".join(strict_canon(r[i]) for i in oorder) for r in orows
        )
        ndiff = 0
        for a, b in zip(sl, ol):
            if a != b:
                ndiff += 1
                if ndiff <= 5:
                    print(f"   spark:  {a[:300]}")
                    print(f"   oracle: {b[:300]}")
        if len(sl) != len(ol):
            print(f"   ROWCOUNT spark={len(sl)} oracle={len(ol)}")
            ndiff += 1
        print(f"   {'EXACT MATCH' if ndiff == 0 else f'{ndiff} differing rows'}")
        rc |= 1 if ndiff else 0
    spark.stop()
    return rc


if __name__ == "__main__":
    sys.exit(main())
