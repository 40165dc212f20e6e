"""Seeded generator for the declared queries' input tables.

Writes the ten tables the declared queries read (``region`` ...
``embeddings``) as parquet under one directory, with the column names,
types and value domains of the repository's testdata (TESTDATA.md), so
every declared query and its DuckDB oracle run unchanged on the result.
The same ``(seed, sf)`` always writes the same rows.  Row counts scale with ``sf`` like
the TPC-H-style testdata (``lineitem`` = 6e6 * sf rows).
"""

from __future__ import annotations

import datetime as _dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["blue", "green", "large", "red", "shiny", "small", "steel", "tiny"]
_PART_NOUN = ["anvil", "bolt", "gear", "nut", "ring", "spring", "valve", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["de", "en", "es", "fr", "zh"]
_WORDS = (
    "a the data table row column key value join scan filter sort group "
    "agg hash merge window stream batch query spark part line order "
    "customer fast slow big small vector max"
).split()
_EMBED_DIM = 64


def _days(rng, n, start: _dt.date, end: _dt.date) -> np.ndarray:
    span = (end - start).days
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]").astype(
        "timedelta64[us]"
    )


def _money(rng, lo, hi, n) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def generate(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write every table under ``out_dir``; return ``{table: rows}``."""
    rng = np.random.default_rng(seed)
    n_cust = max(10, int(150_000 * sf))
    n_supp = max(5, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(50, int(1_500_000 * sf))
    n_line = max(200, int(6_000_000 * sf))
    n_evt = max(100, int(1_000_000 * sf))
    n_doc = max(20, int(50_000 * sf))
    n_vec = max(20, int(50_000 * sf))
    n_user = max(10, int(15_000 * sf))

    tables: dict[str, dict] = {}
    tables["region"] = {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    }
    tables["nation"] = {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }
    tables["customer"] = {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -1000, 10000, n_cust),
        "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
    }
    tables["supplier"] = {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -1000, 10000, n_supp),
    }
    pk = np.arange(n_part, dtype=np.int64)
    tables["part"] = {
        "p_partkey": pk,
        "p_name": [
            f"{a} {b}"
            for a, b in zip(rng.choice(_PART_ADJ, n_part), rng.choice(_PART_NOUN, n_part))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(_PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2),
    }
    tables["orders"] = {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": _days(rng, n_ord, _dt.date(1995, 1, 1), _dt.date(2001, 8, 1)),
        "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
    }
    tables["lineitem"] = {
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _days(rng, n_line, _dt.date(1995, 1, 2), _dt.date(2001, 11, 4)),
    }
    # events: a time-ordered stream over January 2024 (the window the
    # engine-on-txn and streaming queries split on)
    month_us = 30 * 86400 * 1_000_000
    offs = np.sort(rng.integers(0, month_us, n_evt))
    tables["events"] = {
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": np.datetime64("2024-01-01T00:00:00", "us") + offs.astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_user, n_evt).astype(np.int64),
        "event_type": rng.choice(_EVENT_TYPES, n_evt),
        "value": np.round(rng.gamma(2.0, 25.0, n_evt), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
    }
    lens = rng.integers(8, 90, n_doc)
    texts = [" ".join(rng.choice(_WORDS, int(m))) for m in lens]
    tables["documents"] = {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, n_doc),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }
    labels = rng.integers(0, 10, n_vec).astype(np.int32)
    centers = rng.normal(0.0, 1.0, (10, _EMBED_DIM))
    vecs = centers[labels] + rng.normal(0.0, 0.6, (n_vec, _EMBED_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = {
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(
            list(vecs.astype(np.float32)), pa.list_(pa.float32())
        ),
        "label": labels,
    }

    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name in TABLES:
        tbl = pa.table(tables[name])
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = tbl.num_rows
    return rows
