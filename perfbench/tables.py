"""Seeded tables for the query workload.

The scan queries read a TPC-H-like star schema plus an ``events`` stream,
one parquet file per table. This module writes the tables they read with
the same column names, types and value domains the registry's queries and
oracles expect, at a given scale factor, from a seed. The same (seed, sf)
writes byte-identical files.

Row counts follow the usual scale: lineitem 6M x sf, orders 1.5M x sf,
customer 150k x sf and events 1M x sf over 30 days; lineitem's part and
supplier keys range over 200k x sf and 10k x sf.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "orders", "lineitem", "events")

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

_DAY_US = 86_400_000_000


def _epoch_us(date: str) -> int:
    return int(np.datetime64(date, "us").astype(np.int64))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(values_us: np.ndarray) -> pa.Array:
    return pa.array(values_us, pa.timestamp("us"))


def generate(seed: int, sf: float, out_dir: str) -> None:
    """Write every table in :data:`TABLES` as ``{out_dir}/{name}.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = int(150_000 * sf)
    n_supp = max(10, int(10_000 * sf))
    n_part = int(200_000 * sf)
    n_orders = int(1_500_000 * sf)
    n_items = int(6_000_000 * sf)
    n_events = int(1_000_000 * sf)
    n_users = max(50, int(15_000 * sf))

    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": _REGIONS,
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(range(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": [_SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(range(n_orders), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
            "o_orderstatus": [("F", "O", "P")[s] for s in rng.integers(0, 3, n_orders)],
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_orders),
            "o_orderdate": _ts(
                _epoch_us("1995-01-01")
                + rng.integers(0, 2404, n_orders) * _DAY_US
            ),
            "o_orderpriority": [_PRIORITIES[p] for p in rng.integers(0, 5, n_orders)],
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_orders, n_items), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_items), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_items), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_items), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_items).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_items),
            "l_discount": rng.integers(0, 11, n_items) / 100.0,
            "l_tax": rng.integers(0, 9, n_items) / 100.0,
            "l_returnflag": [("A", "N", "R")[f] for f in rng.integers(0, 3, n_items)],
            "l_linestatus": [("F", "O")[s] for s in rng.integers(0, 2, n_items)],
            "l_shipdate": _ts(
                _epoch_us("1995-01-02")
                + rng.integers(0, 2498, n_items) * _DAY_US
            ),
        }),
        "events": pa.table({
            "event_id": pa.array(range(n_events), pa.int64()),
            "ts": _ts(
                _epoch_us("2024-01-01")
                + np.sort(rng.integers(0, 30 * _DAY_US, n_events))
            ),
            "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
            "event_type": [_EVENT_TYPES[t] for t in rng.integers(0, 5, n_events)],
            "value": np.round(np.maximum(0.01, rng.exponential(50.0, n_events)), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
        }),
    }
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
