"""Deterministic input tables for the benchmark.

`write_tables` writes the ten tables the query registry reads (a TPC-H-like
star schema plus `events`, `documents` and `embeddings`) at the shape of the
engine's sf0.01 test data. `write_documents` writes a large `documents`
table for the page pipeline: `operators.pages.pages_from_documents` turns it
into geotagged pages, so the page set is fixed by the doc ids chosen here.

Everything is pandas + numpy from one seeded generator; no Spark.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _cents(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(start: str, rng, span: int, n: int) -> pd.Series:
    return pd.Series(
        pd.Timestamp(start) + pd.to_timedelta(rng.integers(0, span, n), unit="D")
    ).astype("datetime64[us]")


def _texts(rng, n: int) -> list[str]:
    out = []
    for _ in range(n):
        k = int(rng.integers(10, 100))
        out.append(" ".join(WORDS[i] for i in rng.integers(0, len(WORDS), k)))
    # 5% near-duplicates: another document's text plus one marker word
    for i in rng.choice(n, n // 20, replace=False):
        out[i] = out[int(rng.integers(0, n))] + " dup"
    return out


def _write(df: pd.DataFrame, out_dir: str, name: str) -> None:
    df.to_parquet(os.path.join(out_dir, f"{name}.parquet"), index=False)


def write_tables(out_dir: str, seed: int = 42, sf: float = 0.01) -> None:
    """The registry's input tables (row counts scale with `sf` like the
    engine's test data; documents and embeddings stay at 500 rows)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_ord, n_line = int(150_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)
    n_part, n_supp, n_ev = int(200_000 * sf), int(10_000 * sf), int(1_000_000 * sf)

    _write(pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS,
    }), out_dir, "region")
    _write(pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    }), out_dir, "nation")
    _write(pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _cents(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
        ),
    }), out_dir, "customer")
    _write(pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _cents(rng, -999.99, 9999.99, n_supp),
    }), out_dir, "supplier")
    _write(pd.DataFrame({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in rng.integers(0, 8, (n_part, 2))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + rng.integers(0, 1000, n_part) / 10.0, 1),
    }), out_dir, "part")
    _write(pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": np.concatenate(
            [np.arange(n_cust), rng.integers(0, n_cust, n_ord - n_cust)]
        )[rng.permutation(n_ord)].astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _cents(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days("1995-01-01", rng, 2400, n_ord),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
        ),
    }), out_dir, "orders")
    _write(pd.DataFrame({
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _cents(rng, 900.0, 105000.0, n_line),
        "l_discount": np.round(rng.uniform(0.0, 0.1, n_line), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, n_line), 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _days("1995-01-02", rng, 2500, n_line),
    }), out_dir, "lineitem")
    gaps = rng.exponential(259.0, n_ev)
    _write(pd.DataFrame({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pd.Series(
            pd.Timestamp("2024-01-01") + pd.to_timedelta(np.round(np.cumsum(gaps), 6), unit="s")
        ).astype("datetime64[us]"),
        "user_id": rng.integers(0, 150, n_ev).astype(np.int64),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n_ev),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    }), out_dir, "events")
    n_doc = 500
    texts = _texts(rng, n_doc)
    _write(pd.DataFrame({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_doc, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }), out_dir, "documents")
    emb = rng.standard_normal((n_doc, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    _write(pd.DataFrame({
        "vec_id": np.arange(n_doc, dtype=np.int64),
        "embedding": list(emb),
        "label": rng.integers(0, 10, n_doc).astype(np.int32),
    }), out_dir, "embeddings")


def write_documents(out_dir: str, seed: int, n_docs: int, n_files: int = 16) -> str:
    """A `documents` table of `n_docs` rows whose doc ids are a seeded
    sample of [0, 64 * n_docs): the pages derived from them (geotags come
    from a hash of doc_id) differ from seed to seed. Written as `n_files`
    Parquet files under <out_dir>/documents.parquet/, so Spark reads it in
    that many even splits. Returns that directory."""
    rng = np.random.default_rng(seed)
    ids = np.sort(rng.choice(64 * n_docs, n_docs, replace=False)).astype(np.int64)
    body = " lorem ipsum dolor sit amet" * 8
    texts = [f"page body {i}{body}" for i in ids]
    df = pd.DataFrame({
        "doc_id": ids,
        "text": texts,
        "lang": np.array(LANGS)[ids % 5],
        "source": [f"src{i % 1000}" for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    path = os.path.join(out_dir, "documents.parquet")
    os.makedirs(path, exist_ok=True)
    for k, part in enumerate(np.array_split(np.arange(n_docs), n_files)):
        df.iloc[part].to_parquet(os.path.join(path, f"part-{k:03d}.parquet"), index=False)
    return path
