"""Pinned expected outputs of the query registry, and the digest they use.

Each query's expected value is the row count and an order-independent
digest of its DuckDB `oracle_sql()` result over the benchmark's registry
tables (`datagen.write_tables`, fixed seed). The benchmark digests the
Spark result the same way and counts a mismatch as a failed op.

Re-pin after changing the generator or an oracle:

    python3 perfbench/registry_pins.py
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import json
import math
import os
import sys

import numpy as np
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
PINS = os.path.join(HERE, "registry_expected.json")
TABLE_SEED = 42


def _norm(v):
    """One canonical Python value per SQL value, so a DuckDB and a Spark
    result that compare equal cell by cell also hash equal."""
    if v is None or v is pd.NaT or v is pd.NA:
        return None
    if isinstance(v, (bool, np.bool_)):
        return int(v)
    if isinstance(v, (int, np.integer)):
        return int(v)
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, (float, np.floating)):
        v = float(v)
        if math.isnan(v):
            return None
        return int(v) if v.is_integer() and abs(v) < 2**63 else repr(v)
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    if isinstance(v, (pd.Timestamp, dt.datetime, np.datetime64)):
        return pd.Timestamp(v).isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if hasattr(v, "asDict"):  # pyspark Row (a struct)
        v = v.asDict()
    if isinstance(v, dict):
        return tuple(sorted((str(k), _norm(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_norm(x) for x in v)
    return str(v)


def digest(pdf: pd.DataFrame) -> tuple[int, str]:
    """(rows, hex digest): sum of per-row hashes mod 2^64 over the columns
    in name order, so row order does not matter but multiplicity does."""
    cols = sorted(pdf.columns)
    total = int.from_bytes(
        hashlib.blake2b(repr(cols).encode(), digest_size=8).digest(), "big"
    )
    for row in pdf[cols].itertuples(index=False, name=None):
        h = hashlib.blake2b(repr(tuple(_norm(x) for x in row)).encode(), digest_size=8)
        total = (total + int.from_bytes(h.digest(), "big")) % (1 << 64)
    return len(pdf), f"{total:016x}"


def load() -> dict[str, dict]:
    with open(PINS) as fh:
        return json.load(fh)


def main() -> int:
    import duckdb

    root = os.getcwd()
    sys.path.insert(0, root)
    sys.path.insert(0, HERE)
    import __spark_entry__ as E
    import datagen

    data_dir = os.path.join(HERE, ".run", "pin-tables")
    datagen.write_tables(data_dir, TABLE_SEED)
    con = duckdb.connect()
    for f in sorted(os.listdir(data_dir)):
        con.execute(
            f"CREATE VIEW {f[:-len('.parquet')]} AS SELECT * FROM read_parquet('{data_dir}/{f}')"
        )
    pins = {}
    for name, sql in sorted(E.oracle_sql().items()):
        rows, dig = digest(con.execute(sql).fetchdf())
        pins[name] = {"rows": rows, "digest": dig}
    with open(PINS, "w") as fh:
        json.dump(pins, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"pinned {len(pins)} queries -> {PINS}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
