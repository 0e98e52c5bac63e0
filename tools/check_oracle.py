"""Oracle parity from the command line.

Runs every __spark_entry__.queries() entry on Spark and its oracle_sql()
on DuckDB at the given sf dir and compares them with
gdal_spark.oracle.frame_mismatches (the same check as
tests/test_oracle_parity.py). Usage:
    python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as E  # noqa: E402
from gdal_spark import oracle as OR  # noqa: E402
from gdal_spark.session import get_spark  # noqa: E402


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark("oracle-check")
    con = OR.duckdb_views(sf_dir)
    qs, os_ = E.queries(), E.oracle_sql()
    failed = []
    for name in sorted(qs.keys() | os_.keys()):
        if only and name not in only:
            continue
        try:
            got = qs[name](spark, sf_dir).toPandas()
            exp = con.execute(os_[name]).fetchdf()
            bad = OR.frame_mismatches(got, exp)
        except Exception as ex:  # noqa: BLE001
            bad = [f"{type(ex).__name__}: {ex}"]
        if bad:
            print(f"FAIL {name}: " + "\n".join(bad))
            failed.append(name)
        else:
            print(f"OK   {name}: rows={len(got)}")
    print("FAILED:", failed if failed else "none")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
