"""Seeded TPC-H-ish star schema plus the ``events`` stream table for the
``star_queries`` workload.

The tables have the schemas, value domains and size ratios the
program's relational and event operators are written against (the
sf0.1 shape: 600k lineitem rows at ``scale=1.0``). Every column is
drawn from ``numpy.random.default_rng(seed)``, so the same seed gives
the same tables. ``events.ts`` is stored as ``timestamp[us]``, as in the
repository's sf0.001-sf0.1 test data, so ``catalog.load_tables`` reads
it as a timestamp and its nanosecond branch (for files written with
``timestamp[ns]``) does not run.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

STAR_TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events",
)
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PART_WORDS = ["large", "hot", "small", "red", "ring", "bolt", "nut", "gear"]
_EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]

_DAY_US = 86_400_000_000
_T1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_T2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def write_star(seed: int, out_dir: str, scale: float = 1.0) -> None:
    """Write the eight star tables as ``<out_dir>/<table>.parquet``."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(15_000 * scale), int(1_000 * scale), int(20_000 * scale)
    n_ord, n_line, n_users = int(150_000 * scale), int(600_000 * scale), 1_500
    n_events = int(100_000 * scale)

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    words = np.array(_PART_WORDS)
    _write(out_dir, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.char.add(
            np.char.add(words[rng.integers(0, 4, n_part)], " "),
            words[rng.integers(4, 8, n_part)],
        ),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(_PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2),
    })
    order_days = rng.integers(0, 2405, n_ord)  # 1995-01-01 .. 2001-08-01
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": pa.array(_T1995 + order_days * _DAY_US, pa.timestamp("us")),
        "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    l_order = np.sort(rng.integers(0, n_ord, n_line)).astype(np.int64)
    # line numbers restart at 1 within each order
    starts = np.r_[0, np.flatnonzero(np.diff(l_order)) + 1]
    run_len = np.diff(np.r_[starts, n_line])
    linenumber = np.arange(n_line) - np.repeat(starts, run_len) + 1
    quantity = rng.integers(1, 51, n_line).astype(np.float64)
    ship_days = order_days[l_order] + rng.integers(1, 122, n_line)
    _write(out_dir, "lineitem", {
        "l_orderkey": l_order,
        "l_partkey": rng.integers(0, n_part, n_line, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line, dtype=np.int64),
        "l_linenumber": linenumber.astype(np.int32),
        "l_quantity": quantity,
        "l_extendedprice": np.round(quantity * rng.uniform(900.0, 2100.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": pa.array(_T1995 + ship_days * _DAY_US, pa.timestamp("us")),
    })
    ts = np.sort(_T2024 + rng.integers(0, 30 * _DAY_US, n_events))
    _write(out_dir, "events", {
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_events, dtype=np.int64),
        "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n_events)],
        "value": _money(rng, 0.0, 560.0, n_events),
        "props": np.char.add(
            np.char.add('{"k": ', rng.integers(0, 100, n_events).astype(str)), "}"
        ),
    })
