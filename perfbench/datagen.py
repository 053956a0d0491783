"""Seeded synthetic inputs in the engine's table layout.

Every table is one parquet file ``<dir>/<name>.parquet`` with the
columns, types and value domains the query builders read (the
TPC-H-ish star schema plus ``events``). Rows come from ``numpy.random.default_rng(seed)``, so
one seed always gives byte-identical inputs and the program under test
only ever sees the files.

``scale`` follows the TPC-H convention: at scale 0.01 there are 60,000
lineitem rows, 15,000 orders, 1,500 customers, 2,000 parts and 100
suppliers.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

_US_PER_DAY = 86_400_000_000


def _ts(start: str, days: np.ndarray) -> pa.Array:
    """Midnight timestamps ``start + days`` as timestamp[us]."""
    base = np.datetime64(start, "us").astype(np.int64)
    return pa.array(base + days.astype(np.int64) * _US_PER_DAY, pa.timestamp("us"))


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _days_between(a: str, b: str) -> int:
    return (dt.date.fromisoformat(b) - dt.date.fromisoformat(a)).days


def write_star(out_dir: str, seed: int, scale: float, n_events: int,
               tables: tuple[str, ...]) -> None:
    """Write those of region, nation, customer, supplier, part, orders,
    lineitem and events that ``tables`` names. A table's rows depend on
    the seed and on which tables come before it in that list."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(10, int(150_000 * scale))
    n_supp = max(5, int(10_000 * scale))
    n_part = max(10, int(200_000 * scale))
    n_ord = max(10, int(1_500_000 * scale))
    n_line = 4 * n_ord
    if "region" in tables:
        _write(out_dir, "region", {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS,
        })
    if "nation" in tables:
        _write(out_dir, "nation", {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        })
    if "customer" in tables:
        _write(out_dir, "customer", {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
        })
    if "supplier" in tables:
        _write(out_dir, "supplier", {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
        })
    pk = np.arange(n_part, dtype=np.int64)
    if "part" in tables:
        _write(out_dir, "part", {
            "p_partkey": pk,
            "p_name": np.char.add(
                np.char.add(np.array(PART_ADJ)[rng.integers(0, 8, n_part)], " "),
                np.array(PART_NOUN)[rng.integers(0, 8, n_part)],
            ),
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
            "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
            "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
            "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1),
        })
    if "orders" in tables:
        _write(out_dir, "orders", {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n_ord), 2),
            "o_orderdate": _ts(
                "1995-01-01",
                rng.integers(0, _days_between("1995-01-01", "2001-08-01") + 1, n_ord),
            ),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
        })
    if "lineitem" in tables:
        _write(out_dir, "lineitem", {
            "l_orderkey": rng.integers(0, n_ord, n_line, dtype=np.int64),
            "l_partkey": rng.integers(0, n_part, n_line, dtype=np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_line, dtype=np.int64),
            "l_linenumber": rng.integers(1, 8, n_line, dtype=np.int32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900.0, 105_000.0, n_line), 2),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
            "l_shipdate": _ts(
                "1995-01-02",
                rng.integers(0, _days_between("1995-01-02", "2001-11-04") + 1, n_line),
            ),
        })
    if "events" in tables:
        ts_us = np.sort(rng.integers(0, 30 * _US_PER_DAY, n_events))
        _write(out_dir, "events", {
            "event_id": np.arange(n_events, dtype=np.int64),
            "ts": pa.array(
                np.datetime64("2024-01-01", "us").astype(np.int64) + ts_us,
                pa.timestamp("us"),
            ),
            "user_id": rng.integers(0, 150, n_events, dtype=np.int64),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_events)],
            "value": np.round(0.01 + rng.exponential(50.0, n_events), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
        })
