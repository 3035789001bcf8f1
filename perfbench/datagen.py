"""Seeded synthetic catalog for the benchmark.

Writes the ten tables the engine's catalog knows (``region`` ...
``embeddings``), one ``<name>.parquet`` each, with the schemas, value
domains and row counts of the engine's TPC-H-ish test star schema at
scale factor ``sf``.  The same ``(seed, sf)`` always gives byte-identical
tables, so a benchmark run is reproducible from its ``--seed`` alone.

Row counts per scale factor: lineitem 6e6*sf, orders 1.5e6*sf,
part 2e5*sf, customer 1.5e5*sf, supplier 1e4*sf, events 1e6*sf,
documents max(500, 5e4*sf), embeddings max(500, 2e4*sf).

Usage: python3 perfbench/datagen.py <out_dir> <sf> [seed]
"""

from __future__ import annotations

import datetime as dt
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["small", "large", "red", "blue", "hot", "cold", "old", "new"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod"]
PART_TYPES = ["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
VOCAB = (
    "a the data spark query table column row key value join group agg sort "
    "filter scan hash merge window stream batch vector line order customer "
    "part small big fast slow"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
EMBED_DIM = 64
N_LABELS = 10

_DAY_US = 86_400 * 1_000_000


def _epoch_us(year: int, month: int, day: int) -> int:
    delta = dt.datetime(year, month, day) - dt.datetime(1970, 1, 1)
    return delta.days * _DAY_US


def _days(rng, n: int, start: tuple, end: tuple) -> pa.Array:
    lo, hi = _epoch_us(*start) // _DAY_US, _epoch_us(*end) // _DAY_US
    return pa.array(rng.integers(lo, hi + 1, n) * _DAY_US, pa.timestamp("us"))


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(sf: float, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust = max(10, int(150_000 * sf))
    n_supp = max(5, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(100, int(1_500_000 * sf))
    n_line = 4 * n_ord
    n_events = max(100, int(1_000_000 * sf))
    n_users = max(5, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_vecs = max(500, int(20_000 * sf))
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    })
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
    })
    part_names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    out["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": rng.choice(part_names, n_part),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2),
    })
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, n_ord, 1000.0, 500_000.0),
        "o_orderdate": _days(rng, n_ord, (1995, 1, 1), (2001, 8, 1)),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord),
    })
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, n_line, 900.0, 105_000.0),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _days(rng, n_line, (1995, 1, 2), (2001, 11, 4)),
    })
    span_us = 30 * _DAY_US
    ts = np.sort(rng.integers(0, span_us, n_events)) + _epoch_us(2024, 1, 1)
    out["events"] = pa.table({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_events),
        "event_type": rng.choice(EVENT_TYPES, n_events),
        "value": np.round(rng.exponential(50.0, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })
    # The seed draws words and order; sizes are fixed per scale factor, so
    # every seed gives the same amount of work: lengths are a permutation
    # of an even spread over 10..99 words, and every 20th document is a
    # near-duplicate (an earlier document plus one or two markers).
    lengths = rng.permutation(10 + np.arange(n_docs) * 90 // n_docs)
    texts = []
    for i in range(n_docs):
        if i % 20 == 19:
            base = texts[int(rng.integers(0, i))]
            texts.append(base + " dup" * (1 + i // 20 % 2))
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(lengths[i]))))
    langs = np.repeat(LANGS, np.round(np.array(LANG_P) * n_docs).astype(int))
    out["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.permutation(np.resize(langs, n_docs)),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    centroids = rng.normal(size=(N_LABELS, EMBED_DIM))
    centroids /= np.linalg.norm(centroids, axis=1, keepdims=True)
    labels = rng.permutation(np.arange(n_vecs) % N_LABELS)
    vecs = rng.normal(size=(n_vecs, EMBED_DIM)) / np.sqrt(EMBED_DIM)
    vecs += 0.15 * centroids[labels]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })
    return out


def write_catalog(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write every table under ``out_dir``; return row counts by name."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in tables(sf, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts


if __name__ == "__main__":
    if len(sys.argv) not in (3, 4):
        print(__doc__.strip().splitlines()[-1], file=sys.stderr)
        raise SystemExit(2)
    seed = int(sys.argv[3]) if len(sys.argv) == 4 else 0
    print(write_catalog(sys.argv[1], float(sys.argv[2]), seed))
