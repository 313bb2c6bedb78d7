"""Deterministic synthetic warehouse for the benchmark.

Writes the ten tables the catalog reads (``region nation customer
supplier part orders lineitem events documents embeddings``) as one
parquet file each, with the same column names, types and value
distributions as the engine's TPC-H-shaped test data: uniform keys with
full referential integrity, uniform categorical columns, timestamps at
day grain for orders/lineitem, an exponential-gap event stream over 30
days, documents drawn from a 30-word vocabulary with about 5 % exact
"... dup" copies of earlier documents, and unit-norm 64-d embeddings
around 10 labelled centres.

The same ``(scale, seed)`` always gives byte-identical values, so the
oracle digests in ``expected/`` stay valid. Usage:

    python3 perfbench/gen_data.py OUT_DIR [SCALE]
"""

from __future__ import annotations

import datetime as dt
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Scale the benchmark runs at (lineitem rows = 6,000,000 x SCALE).
SCALE = 0.01
#: The warehouse is fixed: the workload seed drives op order and the
#: swell input, never these tables, so committed digests stay valid.
DATA_SEED = 20261017

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJECTIVES = ["blue", "old", "small", "new", "hot", "large", "cold", "red"]
NOUNS = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
WORDS = (
    "a the big small fast slow data table column row key value part line "
    "order customer join scan filter group agg sort hash merge window "
    "stream batch query spark vector"
).split()
LANGS = ["en", "es", "fr", "de", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]


def _days(rng, start: dt.date, n_days: int, size: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, n_days, size).astype("timedelta64[D]")


def _money(rng, lo: float, hi: float, size: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size), 2)


def _write(out_dir: str, name: str, table: pa.Table) -> None:
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def generate(out_dir: str, scale: float = SCALE, seed: int = DATA_SEED) -> dict:
    """Write every table under ``out_dir``; returns ``{table: rows}``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = int(150_000 * scale)
    n_supp = max(10, int(10_000 * scale))
    n_part = int(200_000 * scale)
    n_ord = int(1_500_000 * scale)
    n_line = int(6_000_000 * scale)
    n_event = int(1_000_000 * scale)
    n_user = max(50, int(15_000 * scale))
    n_doc = max(500, int(50_000 * scale))
    n_vec = max(500, int(20_000 * scale))
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()

    _write(out_dir, "region", pa.table({
        "r_regionkey": pa.array(range(5), i32), "r_name": pa.array(REGIONS, s)}))
    _write(out_dir, "nation", pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], s),
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)}))

    def people(prefix: str, key: str, n: int, extra: dict) -> pa.Table:
        p = key[0]
        cols = {
            key: pa.array(np.arange(n), i64),
            f"{p}_name": pa.array([f"{prefix}#{i:09d}" for i in range(n)], s),
            f"{p}_nationkey": pa.array(rng.integers(0, 25, n), i32),
            f"{p}_acctbal": pa.array(_money(rng, -999.99, 9999.99, n), f64),
        }
        cols.update(extra)
        return pa.table(cols)

    _write(out_dir, "customer", people("Customer", "c_custkey", n_cust, {
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust), s)}))
    _write(out_dir, "supplier", people("Supplier", "s_suppkey", n_supp, {}))

    pk = np.arange(n_part)
    _write(out_dir, "part", pa.table({
        "p_partkey": pa.array(pk, i64),
        "p_name": pa.array(
            [f"{a} {b}" for a, b in zip(rng.choice(ADJECTIVES, n_part),
                                        rng.choice(NOUNS, n_part))], s),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)], s),
        "p_type": pa.array(rng.choice(PART_TYPES, n_part), s),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": pa.array(np.round(900 + (pk % 1000) / 10, 1), f64),
    }))

    _write(out_dir, "orders", pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord), s),
        "o_totalprice": pa.array(_money(rng, 1000, 500_000, n_ord), f64),
        "o_orderdate": pa.array(_days(rng, dt.date(1995, 1, 1), 2400, n_ord),
                                pa.timestamp("us")),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord), s),
    }))

    _write(out_dir, "lineitem", pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(float), f64),
        "l_extendedprice": pa.array(_money(rng, 900, 105_000, n_line), f64),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100, f64),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100, f64),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line), s),
        "l_linestatus": pa.array(rng.choice(["O", "F"], n_line), s),
        "l_shipdate": pa.array(_days(rng, dt.date(1995, 1, 2), 2499, n_line),
                               pa.timestamp("us")),
    }))

    gap_us = 30 * 86_400e6 / n_event
    offsets = np.cumsum(rng.exponential(gap_us, n_event)).astype(np.int64)
    _write(out_dir, "events", pa.table({
        "event_id": pa.array(np.arange(n_event), i64),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + offsets.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_user, n_event), i64),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_event), s),
        "value": pa.array(np.maximum(0.01, np.round(rng.exponential(50, n_event), 2)), f64),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_event)], s),
    }))

    texts: list[str] = []
    for i in range(n_doc):
        if i >= 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 100)))))
    _write(out_dir, "documents", pa.table({
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": pa.array(texts, s),
        "lang": pa.array(rng.choice(LANGS, n_doc, p=LANG_P), s),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)], s),
        "n_chars": pa.array([len(t) for t in texts], i64),
    }))

    centres = rng.normal(size=(10, 64))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    labels = rng.integers(0, 10, n_vec)
    vecs = 0.15 * centres[labels] + rng.normal(scale=0.125, size=(n_vec, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", pa.table({
        "vec_id": pa.array(np.arange(n_vec), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, i32),
    }))
    return {"customer": n_cust, "supplier": n_supp, "part": n_part,
            "orders": n_ord, "lineitem": n_line, "events": n_event,
            "documents": n_doc, "embeddings": n_vec}


if __name__ == "__main__":
    if len(sys.argv) < 2:
        raise SystemExit("usage: gen_data.py OUT_DIR [SCALE]")
    print(generate(sys.argv[1], float(sys.argv[2]) if len(sys.argv) > 2 else SCALE))
