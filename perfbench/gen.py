"""Seeded input generator for the benchmark.

Every table is drawn from one ``np.random.default_rng(seed)``, so the same
seed writes byte-identical parquet. The engine under test only ever sees
the written files.

- Documents and embeddings come from ``scripts/gen_scale_fixture``
  (``gen_documents`` with the Heaps-law vocabulary, ``gen_embeddings``),
  driven by the benchmark's own generator instead of the script's fixed
  seed.
- The star schema (region, nation, customer, supplier, part, orders,
  lineitem, events) has the column names, types and value ranges of the
  engine's reference test data: uniform keys, six ``(returnflag,
  linestatus)`` pairs, 1995-2001 order/ship dates, five event types over
  January 2024.
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_EPOCH_2024 = np.datetime64("2024-01-01", "us")
_DAY_US = 86_400 * 10**6


def _write(out_dir: str, name: str, table: pa.Table) -> None:
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def _ts(base: np.datetime64, offsets_us: np.ndarray) -> pa.Array:
    return pa.array(base + offsets_us.astype("timedelta64[us]"), type=pa.timestamp("us"))


def gen_star(out_dir: str, rng: np.random.Generator, sf: float) -> None:
    """Star schema + events at scale factor ``sf`` (lineitem = 6M x sf rows)."""
    n_cust = max(10, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(10, int(200_000 * sf))
    n_ord = max(10, int(1_500_000 * sf))
    n_li = max(10, int(6_000_000 * sf))
    n_ev = max(10, int(1_000_000 * sf))

    _write(out_dir, "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    }))
    _write(out_dir, "nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }))
    _write(out_dir, "customer", pa.table({
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust)),
    }))
    _write(out_dir, "supplier", pa.table({
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)),
    }))
    names = [f"{a} {n}" for a in PART_ADJ for n in PART_NOUN]
    _write(out_dir, "part", pa.table({
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": pa.array(rng.choice(names, n_part)),
        "p_brand": pa.array([f"Brand#{int(b)}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(PART_TYPES, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)),
    }))
    # orders and lineitem share one date span: 1995-01-01 .. 2001-08-01
    span_days = 2404
    _write(out_dir, "orders", pa.table({
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord)),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, n_ord), 2)),
        "o_orderdate": _ts(_EPOCH_1995, rng.integers(0, span_days, n_ord) * _DAY_US),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord)),
    }))
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    _write(out_dir, "lineitem", pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(rng.uniform(900.0, 105000.0, n_li), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_li)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_li)),
        "l_shipdate": _ts(_EPOCH_1995, rng.integers(1, span_days + 95, n_li) * _DAY_US),
    }))
    ev_us = np.sort(rng.integers(0, 30 * _DAY_US, n_ev))
    _write(out_dir, "events", pa.table({
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": _ts(_EPOCH_2024, ev_us),
        "user_id": pa.array(rng.integers(0, 150, n_ev), pa.int64()),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_ev)),
        "value": pa.array(np.round(rng.uniform(0.01, 490.0, n_ev), 2)),
        "props": [f'{{"k": {int(k)}}}' for k in rng.integers(0, 100, n_ev)],
    }))


def gen_corpus(out_dir: str, rng: np.random.Generator, n_docs: int) -> None:
    """Heaps-law documents plus their 64-dim embeddings (2 per 5 docs)."""
    sys.path.insert(0, os.path.join(ROOT, "scripts"))
    from gen_scale_fixture import build_vocab, gen_documents, gen_embeddings

    vocab = build_vocab(n_docs, vocab_growth=True)
    _write(out_dir, "documents", gen_documents(n_docs, rng, vocab))
    _write(out_dir, "embeddings", gen_embeddings(n_docs * 2 // 5, rng))


def generate(out_dir: str, seed: int, *, sf: float | None, n_docs: int) -> dict:
    """Write one input set; return {table: {"rows", "bytes"}}."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    if sf is not None:
        gen_star(out_dir, rng, sf)
    gen_corpus(out_dir, rng, n_docs)
    sizes = {}
    for f in sorted(os.listdir(out_dir)):
        if f.endswith(".parquet"):
            path = os.path.join(out_dir, f)
            sizes[f[: -len(".parquet")]] = {
                "rows": pq.ParquetFile(path).metadata.num_rows,
                "bytes": os.path.getsize(path),
            }
    return sizes


def fresh_copy(src: str, dst: str) -> str:
    """Expose the input set under a new path without copying bytes.

    The engine memoizes per input path (row counts, signature stores,
    flag tables), so each timed iteration reads a path no earlier
    iteration in the process used; hard links keep that free.
    """
    os.makedirs(dst)
    for f in os.listdir(src):
        s, d = os.path.join(src, f), os.path.join(dst, f)
        try:
            os.link(s, d)
        except OSError:
            import shutil

            shutil.copyfile(s, d)
    return dst
