"""Seeded synthetic tables for the benchmark.

Writes the ten tables the engine's queries read (``region nation
customer supplier part orders lineitem events documents embeddings``),
one snappy parquet file each, with the column names, types and value
domains of the engine's test tables: a TPC-H-like star schema with
uniform foreign keys, an ``events`` stream ordered by ``event_id`` with
exponential inter-arrival gaps and values, a 30-token-vocabulary
``documents`` corpus in which 5% of documents are a near-duplicate of an
earlier one (its text plus `` dup``), and unit-norm 64-dimensional
``embeddings``.

Row counts scale linearly with ``sf`` (``sf=0.01`` gives 60,000
``lineitem`` rows). The same ``(seed, sf)`` always writes the same
values.

Usage: python3 perfbench/datagen.py OUT_DIR [--seed N] [--sf SF]
"""

from __future__ import annotations

import argparse
import os

import numpy as np
import pandas as pd

TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events", "documents", "embeddings")

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
DIM = 64


def _dates(rng: np.random.Generator, lo: str, hi: str, n: int) -> pd.Series:
    days = (pd.Timestamp(hi) - pd.Timestamp(lo)).days
    return pd.Series(pd.Timestamp(lo) + pd.to_timedelta(rng.integers(0, days + 1, n), unit="D")).astype(
        "datetime64[us]"
    )


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator, n: int) -> pd.DataFrame:
    """Every 20th document copies a random earlier original. Copies are
    never copied again, so near-duplicate groups are stars and the
    dedup work does not depend on chains that only some seeds draw."""
    texts: list[str] = []
    originals: list[int] = []
    for i in range(n):
        if i % 20 == 19:
            texts.append(texts[originals[int(rng.integers(0, len(originals)))]] + " dup")
        else:
            originals.append(i)
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 101)))))
    ids = np.arange(n, dtype=np.int64)
    return pd.DataFrame(
        {
            "doc_id": ids,
            "text": texts,
            "lang": rng.choice(LANGS, n, p=LANG_P),
            "source": [f"src{i % 20}" for i in ids],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def tables(seed: int, sf: float) -> dict[str, pd.DataFrame]:
    """All ten tables as pandas frames, generated from ``seed``."""
    rng = np.random.default_rng(seed)
    n_cust = max(30, int(150_000 * sf))
    n_supp = max(5, int(10_000 * sf))
    n_part = max(40, int(200_000 * sf))
    n_ord = max(300, int(1_500_000 * sf))
    n_line = max(1_200, int(6_000_000 * sf))
    n_ev = max(600, int(1_000_000 * sf))
    n_users = max(10, n_ev * 3 // 200)
    n_docs = max(100, int(50_000 * sf))
    n_vecs = max(100, int(50_000 * sf))

    out: dict[str, pd.DataFrame] = {}
    out["region"] = pd.DataFrame({"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS})
    nk = np.arange(25, dtype=np.int32)
    out["nation"] = pd.DataFrame({"n_nationkey": nk, "n_name": [f"NATION_{i}" for i in nk], "n_regionkey": nk % 5})
    ck = np.arange(n_cust, dtype=np.int64)
    out["customer"] = pd.DataFrame(
        {
            "c_custkey": ck,
            "c_name": [f"Customer#{i:09d}" for i in ck],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust),
        }
    )
    sk = np.arange(n_supp, dtype=np.int64)
    out["supplier"] = pd.DataFrame(
        {
            "s_suppkey": sk,
            "s_name": [f"Supplier#{i:09d}" for i in sk],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    pk = np.arange(n_part, dtype=np.int64)
    out["part"] = pd.DataFrame(
        {
            "p_partkey": pk,
            "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, n_part), rng.choice(PART_NOUN, n_part))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(PART_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 2),
        }
    )
    out["orders"] = pd.DataFrame(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": _dates(rng, "1995-01-01", "2001-08-01", n_ord),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord),
        }
    )
    out["lineitem"] = pd.DataFrame(
        {
            "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_line),
            "l_linestatus": rng.choice(["F", "O"], n_line),
            "l_shipdate": _dates(rng, "1995-01-02", "2001-11-04", n_line),
        }
    )
    span_us = 30 * 86_400 * 1_000_000
    gaps = rng.exponential(span_us / n_ev, n_ev).astype(np.int64)
    ts = pd.Timestamp("2024-01-01") + pd.to_timedelta(np.cumsum(gaps), unit="us")
    out["events"] = pd.DataFrame(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": pd.Series(ts).astype("datetime64[us]"),
            "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
            "event_type": rng.choice(EVENT_TYPES, n_ev),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    out["documents"] = _documents(rng, n_docs)
    vecs = rng.standard_normal((n_vecs, DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pd.DataFrame(
        {
            "vec_id": np.arange(n_vecs, dtype=np.int64),
            "embedding": list(vecs),
            "label": rng.integers(0, 10, n_vecs).astype(np.int32),
        }
    )
    return out


def write(out_dir: str, seed: int, sf: float) -> None:
    """Write every table to ``out_dir/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, pdf in tables(seed, sf).items():
        pdf.to_parquet(os.path.join(out_dir, f"{name}.parquet"), index=False, compression="snappy")


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out_dir")
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--sf", type=float, default=0.01)
    a = ap.parse_args()
    write(a.out_dir, a.seed, a.sf)
