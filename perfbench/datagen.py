"""Seeded input generators for the benchmark.

``write_tables`` writes the catalog's star schema (region, nation, customer,
supplier, part, orders, lineitem, events, documents, embeddings) as one
parquet file per table. Column names and types, row counts, key ranges and
cardinalities, date ranges, value distributions, events per user, document
lengths, vocabulary and near-duplicate share follow the seed-42 reference
tables the catalog queries and their DuckDB oracles are written against
(perfbench/README.md records the comparison). Row counts scale with ``sf``
(lineitem ~ 6M x sf). The same (seed, sf) gives byte-identical values.

``write_etl_inputs`` derives the pipeline workload's dirty JSON feed from the
generated orders and returns the counts it injected, which the benchmark
checks every ``RunResult`` against.
"""

from __future__ import annotations

import datetime as dt
import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events", "documents", "embeddings"]

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["small", "large", "red", "blue", "hot", "cold", "new", "old"]
_NOUN = ["ring", "widget", "bolt", "gear", "plate", "rod", "anvil", "gizmo"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_STATUS = ["F", "O", "P"]
_PRIORITY = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]

_EPOCH_DAY = np.datetime64("1970-01-01", "D")
_D0 = (np.datetime64("1995-01-01", "D") - _EPOCH_DAY).astype(np.int64)
_ORDER_DAYS = 2405  # order dates 1995-01-01 .. 2001-08-01
_SHIP_DAYS = 2499  # ship dates 1995-01-02 .. 2001-11-04, drawn apart from the order date
_EVENTS_T0_US = int((dt.datetime(2024, 1, 1) - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000


def _ts(days: np.ndarray) -> pa.Array:
    """Naive microsecond timestamps (what the catalog reads as TIMESTAMP_NTZ)."""
    return pa.array(days.astype(np.int64) * 86_400_000_000, type=pa.timestamp("us"))


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), size=n, p=p)], type=pa.string())


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _sizes(sf: float) -> dict[str, int]:
    return {
        "customer": max(150, int(150_000 * sf)),
        "supplier": max(10, int(10_000 * sf)),
        "part": max(200, int(200_000 * sf)),
        "orders": max(1_500, int(1_500_000 * sf)),
        "lineitem": max(6_000, int(6_000_000 * sf)),
        "events": max(1_000, int(1_000_000 * sf)),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _orders(rng: np.random.Generator, n_orders: int, n_cust: int) -> dict[str, np.ndarray]:
    return {
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_orders, dtype=np.int64),
        "o_orderstatus": rng.choice(len(_STATUS), n_orders),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_orders),
        "o_orderdate": rng.integers(_D0, _D0 + _ORDER_DAYS, n_orders),
        "o_orderpriority": rng.choice(len(_PRIORITY), n_orders),
    }


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    lengths = rng.integers(10, 100, n)
    words = np.asarray(_VOCAB, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(_VOCAB), k)]) for k in lengths]
    # ~5% near-duplicates: a copy of another document with one token
    # appended, which is what the near-dup and cluster queries look for
    for i in np.flatnonzero(rng.random(n) < 0.05):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    ids = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": ids,
            "text": pa.array(texts, type=pa.string()),
            "lang": _pick(rng, _LANGS, n, _LANG_P),
            "source": pa.array([f"src{i % 20}" for i in ids], type=pa.string()),
            "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    x = rng.standard_normal((n, 64)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    flat = pa.array(x.reshape(-1), type=pa.float32())
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.ListArray.from_arrays(pa.array(np.arange(0, 64 * n + 1, 64, dtype=np.int32)), flat),
            "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
        }
    )


def _events(rng: np.random.Generator, n: int, n_users: int) -> pa.Table:
    gaps = rng.exponential(30 * 86_400 * 1_000_000 / n, n)  # ~30 days at any scale
    ts = _EVENTS_T0_US + np.cumsum(gaps).astype(np.int64)
    return pa.table(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": rng.integers(0, n_users, n, dtype=np.int64),
            "event_type": _pick(rng, _EVENT_TYPES, n),
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], type=pa.string()),
        }
    )


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write every catalog table under ``out_dir``; returns row counts."""
    rng = np.random.default_rng([seed, 1])
    n = _sizes(sf)
    os.makedirs(out_dir, exist_ok=True)
    nc, ns, npart, no, nl = n["customer"], n["supplier"], n["part"], n["orders"], n["lineitem"]
    o = _orders(rng, no, nc)
    partkey = np.arange(npart, dtype=np.int64)
    names = [f"{a} {b}" for a in _ADJ for b in _NOUN]
    tables = {
        "region": pa.table({"r_regionkey": pa.array(np.arange(5, dtype=np.int32)), "r_name": _REGIONS}),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": np.arange(nc, dtype=np.int64),
                "c_name": [f"Customer#{i:09d}" for i in range(nc)],
                "c_nationkey": pa.array(rng.integers(0, 25, nc).astype(np.int32)),
                "c_acctbal": _money(rng, -999.99, 9999.99, nc),
                "c_mktsegment": _pick(rng, _SEGMENTS, nc),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": np.arange(ns, dtype=np.int64),
                "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
                "s_nationkey": pa.array(rng.integers(0, 25, ns).astype(np.int32)),
                "s_acctbal": _money(rng, -999.99, 9999.99, ns),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": partkey,
                "p_name": _pick(rng, names, npart),
                "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, npart)], type=pa.string()),
                "p_type": _pick(rng, _PTYPES, npart),
                "p_size": pa.array(rng.integers(1, 51, npart).astype(np.int32)),
                "p_retailprice": np.round(900.0 + (partkey % 1000) / 10.0, 1),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": o["o_orderkey"],
                "o_custkey": o["o_custkey"],
                "o_orderstatus": pa.array(np.asarray(_STATUS, dtype=object)[o["o_orderstatus"]], type=pa.string()),
                "o_totalprice": o["o_totalprice"],
                "o_orderdate": _ts(o["o_orderdate"]),
                "o_orderpriority": pa.array(np.asarray(_PRIORITY, dtype=object)[o["o_orderpriority"]], type=pa.string()),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": rng.integers(0, no, nl, dtype=np.int64),
                "l_partkey": rng.integers(0, npart, nl, dtype=np.int64),
                "l_suppkey": rng.integers(0, ns, nl, dtype=np.int64),
                "l_linenumber": pa.array(rng.integers(1, 8, nl).astype(np.int32)),
                "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
                "l_extendedprice": _money(rng, 900.0, 105_000.0, nl),
                "l_discount": np.round(rng.uniform(0.0, 0.10, nl), 2),
                "l_tax": np.round(rng.uniform(0.0, 0.08, nl), 2),
                "l_returnflag": _pick(rng, ["A", "N", "R"], nl),
                "l_linestatus": _pick(rng, ["F", "O"], nl),
                "l_shipdate": _ts(rng.integers(_D0 + 1, _D0 + 1 + _SHIP_DAYS, nl)),
            }
        ),
        "events": _events(rng, n["events"], max(1, nc // 10)),
        "documents": _documents(rng, n["documents"]),
        "embeddings": _embeddings(rng, n["embeddings"]),
    }
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


@dataclass(frozen=True)
class EtlInputs:
    """Where the dirty feed landed and what was injected into it.

    ``clean_glob`` matches the well-formed part files only; ``all_glob``
    also matches the file of malformed lines."""

    clean_glob: str
    all_glob: str
    rows: int  # well-formed JSON lines
    null_keys: int  # well-formed lines whose order or customer id is null
    malformed: int  # lines that are not JSON objects
    key_sum: int  # sum of the order ids that must survive the required filter


def write_etl_inputs(out_dir: str, seed: int, sf: float, n_parts: int = 4, malformed: int = 5) -> EtlInputs:
    """Write the orders feed as JSON lines with the dirt a raw API landing
    carries: ~2% null required keys, padded strings, numerics as strings,
    and ``malformed`` truncated lines in a separate part file."""
    rng = np.random.default_rng([seed, 2])
    n = _sizes(sf)
    o = _orders(rng, n["orders"], n["customer"])
    rows = len(o["o_orderkey"])
    null_order = rng.random(rows) < 0.01
    null_cust = rng.random(rows) < 0.01
    pad = rng.integers(0, 3, (rows, 2))
    days = (_EPOCH_DAY + o["o_orderdate"]).astype(str)
    os.makedirs(out_dir, exist_ok=True)
    bounds = np.linspace(0, rows, n_parts + 1).astype(int)
    for part in range(n_parts):
        with open(os.path.join(out_dir, f"part-{part:03d}.json"), "w", encoding="utf-8") as fh:
            for i in range(bounds[part], bounds[part + 1]):
                rec = {
                    "id": None if null_order[i] else str(o["o_orderkey"][i]),
                    "cust": None if null_cust[i] else int(o["o_custkey"][i]),
                    "status": " " * pad[i, 0] + _STATUS[o["o_orderstatus"][i]] + " " * pad[i, 1],
                    "amount": f"{o['o_totalprice'][i]:.2f}",
                    "order_date": days[i],
                    "priority": _PRIORITY[o["o_orderpriority"][i]] + " " * pad[i, 0],
                }
                fh.write(json.dumps(rec) + "\n")
    with open(os.path.join(out_dir, "bad-000.json"), "w", encoding="utf-8") as fh:
        for k in range(malformed):
            fh.write(f'{{"id": "{rows + k}", "cust": 1, "status": "F", "amount": \n')
    keep = ~(null_order | null_cust)
    return EtlInputs(
        clean_glob=os.path.join(out_dir, "part-*.json"),
        all_glob=os.path.join(out_dir, "*.json"),
        rows=rows,
        null_keys=int((~keep).sum()),
        malformed=malformed,
        key_sum=int(o["o_orderkey"][keep].sum()),
    )
