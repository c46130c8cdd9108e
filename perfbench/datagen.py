"""Seeded generator for the engine's TPC-H-shaped input tables.

Writes one parquet file per table (``region nation customer supplier
part orders lineitem events documents embeddings``) with the column
names, Arrow types and value distributions of the fixed test tables the
engine's queries and oracles are written against: uniform keys and
measures, day-granular order/ship dates, a time-sorted event stream,
30-word documents of which 5% are near-duplicates (another document's
text plus `` dup``), and unit-norm 64-d embeddings with 10 labels.
Row counts scale with ``sf`` the same way (``lineitem`` = 6M x sf).

The same ``(sf, seed)`` always writes the same rows.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.40, 0.15, 0.15, 0.15, 0.15]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EMB_DIM = 64
N_LABELS = 10

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def _days(rng, start: str, n_days: int, n: int) -> np.ndarray:
    return np.datetime64(start, "us") + rng.integers(0, n_days, n).astype(
        "timedelta64[D]"
    )


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values: list[str], n: int, p=None) -> np.ndarray:
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]


def _documents(rng, n: int) -> dict:
    lengths = rng.integers(10, 101, n)
    words = np.asarray(VOCAB, dtype=object)
    text = [" ".join(words[rng.integers(0, len(VOCAB), k)]) for k in lengths]
    # 5% near-duplicates: another document's text with one extra token
    dups = rng.choice(n, n // 20, replace=False)
    for i in sorted(dups):
        text[i] = text[int(rng.integers(0, n))] + " dup"
    return {
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(text, pa.string()),
        "lang": pa.array(_pick(rng, LANGS, n, LANG_P), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in text], pa.int64()),
    }


def _embeddings(rng, n: int) -> dict:
    x = rng.standard_normal((n, EMB_DIM)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return {
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, N_LABELS, n), pa.int32()),
    }


def tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """Build every table in memory; one child generator per table so a
    table's rows do not depend on the sizes of the tables before it."""
    rngs = dict(
        zip(TABLES, (np.random.default_rng(s) for s in np.random.SeedSequence(seed).spawn(len(TABLES))))
    )
    n_cust = max(10, int(150_000 * sf))
    n_supp = max(5, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(100, int(1_500_000 * sf))
    n_line = max(400, int(6_000_000 * sf))
    n_evt = max(100, int(1_000_000 * sf))
    n_user = max(10, int(15_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))

    out: dict[str, dict] = {}
    out["region"] = {
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": pa.array(REGIONS, pa.string()),
    }
    out["nation"] = {
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    }
    r = rngs["customer"]
    out["customer"] = {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], pa.string()),
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(_money(r, -999.99, 9999.99, n_cust), pa.float64()),
        "c_mktsegment": pa.array(_pick(r, SEGMENTS, n_cust), pa.string()),
    }
    r = rngs["supplier"]
    out["supplier"] = {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], pa.string()),
        "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(_money(r, -999.99, 9999.99, n_supp), pa.float64()),
    }
    r = rngs["part"]
    keys = np.arange(n_part)
    out["part"] = {
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": pa.array(
            [f"{a} {b}" for a, b in zip(_pick(r, PART_ADJ, n_part), _pick(r, PART_NOUN, n_part))],
            pa.string(),
        ),
        "p_brand": pa.array([f"Brand#{b}" for b in r.integers(1, 26, n_part)], pa.string()),
        "p_type": pa.array(_pick(r, PART_TYPES, n_part), pa.string()),
        "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(np.round(900.0 + (keys % 1000) / 10.0, 1), pa.float64()),
    }
    r = rngs["orders"]
    out["orders"] = {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pa.array(_pick(r, ["F", "O", "P"], n_ord), pa.string()),
        "o_totalprice": pa.array(_money(r, 1000.0, 500000.0, n_ord), pa.float64()),
        "o_orderdate": pa.array(_days(r, "1995-01-01", 2405, n_ord), pa.timestamp("us")),
        "o_orderpriority": pa.array(_pick(r, PRIORITIES, n_ord), pa.string()),
    }
    r = rngs["lineitem"]
    out["lineitem"] = {
        "l_orderkey": pa.array(r.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(r.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, n_line), pa.int32()),
        "l_quantity": pa.array(r.integers(1, 51, n_line).astype(np.float64), pa.float64()),
        "l_extendedprice": pa.array(_money(r, 900.0, 105000.0, n_line), pa.float64()),
        "l_discount": pa.array(r.integers(0, 11, n_line) / 100.0, pa.float64()),
        "l_tax": pa.array(r.integers(0, 9, n_line) / 100.0, pa.float64()),
        "l_returnflag": pa.array(_pick(r, ["A", "N", "R"], n_line), pa.string()),
        "l_linestatus": pa.array(_pick(r, ["F", "O"], n_line), pa.string()),
        "l_shipdate": pa.array(_days(r, "1995-01-02", 2499, n_line), pa.timestamp("us")),
    }
    r = rngs["events"]
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(r.integers(0, span_us, n_evt)) + np.datetime64("2024-01-01", "us").astype(np.int64)
    out["events"] = {
        "event_id": pa.array(np.arange(n_evt), pa.int64()),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, n_user, n_evt), pa.int64()),
        "event_type": pa.array(_pick(r, EVENT_TYPES, n_evt), pa.string()),
        "value": pa.array(np.round(r.exponential(50.0, n_evt), 2), pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, n_evt)], pa.string()),
    }
    out["documents"] = _documents(rngs["documents"], n_doc)
    out["embeddings"] = _embeddings(rngs["embeddings"], n_emb)
    return {name: pa.table(cols) for name, cols in out.items()}


def write(sf_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write every table under ``sf_dir``; returns rows per table."""
    os.makedirs(sf_dir, exist_ok=True)
    rows = {}
    for name, table in tables(sf, seed).items():
        pq.write_table(table, os.path.join(sf_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows
