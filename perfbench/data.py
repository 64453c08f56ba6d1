"""Seeded generator of the benchmark's input tables.

Writes the TPC-H-like star schema (region, nation, customer, supplier,
part, orders, lineitem) and the ``events`` table as one parquet file each,
with the column names, types and value domains of the fixtures the gate
queries were written against. The same ``(seed, sf)`` always gives the same
rows; ``sf`` scales row counts the way TPC-H does (lineitem has
about 6,000,000 x sf rows).
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PTYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
ADJ = ("blue", "hot", "large", "new", "old", "red", "small", "tiny")
NOUN = ("anvil", "bolt", "gear", "nut", "plate", "ring", "rod", "spring")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")

ORDER_DAY0 = np.datetime64("1995-01-01", "us")
ORDER_DAYS = 2405  # 1995-01-01 .. 2001-08-01, as in the fixtures
EVENT_T0 = np.datetime64("2024-01-01", "us")
EVENT_SPAN_US = 30 * 86_400 * 1_000_000


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, choices, n):
    return np.asarray(choices, dtype=object)[rng.integers(0, len(choices), n)]


def make_tables(seed: int, sf: float) -> dict[str, pd.DataFrame]:
    """All tables as pandas frames, a pure function of (seed, sf)."""
    rng = np.random.default_rng([seed, 20240101])
    n_cust = max(int(150_000 * sf), 50)
    n_supp = max(int(10_000 * sf), 10)
    n_part = max(int(200_000 * sf), 64)
    n_ord = max(int(1_500_000 * sf), 100)
    n_line = 4 * n_ord
    n_ev = max(int(1_000_000 * sf), 100)
    n_users = max(int(15_000 * sf), 10)

    region = pd.DataFrame(
        {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": list(REGIONS)}
    )
    nation = pd.DataFrame(
        {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }
    )
    customer = pd.DataFrame(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
        }
    )
    supplier = pd.DataFrame(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    pkeys = np.arange(n_part, dtype=np.int64)
    retail = np.round(900.0 + (pkeys % 1000) / 10.0, 2)
    part = pd.DataFrame(
        {
            "p_partkey": pkeys,
            "p_name": _pick(rng, ADJ, n_part) + " " + _pick(rng, NOUN, n_part),
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": _pick(rng, PTYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": retail,
        }
    )
    odate = ORDER_DAY0 + rng.integers(0, ORDER_DAYS, n_ord) * np.timedelta64(1, "D")
    orders = pd.DataFrame(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": _pick(rng, ("F", "O", "P"), n_ord),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": odate.astype("datetime64[us]"),
            "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
        }
    )
    l_order = rng.integers(0, n_ord, n_line).astype(np.int64)
    l_part = rng.integers(0, n_part, n_line).astype(np.int64)
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    ship = odate[l_order] + rng.integers(1, 95, n_line) * np.timedelta64(1, "D")
    lineitem = pd.DataFrame(
        {
            "l_orderkey": l_order,
            "l_partkey": l_part,
            "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * retail[l_part] * rng.uniform(1.0, 1.05, n_line), 2),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": _pick(rng, ("A", "N", "R"), n_line),
            "l_linestatus": _pick(rng, ("F", "O"), n_line),
            "l_shipdate": ship.astype("datetime64[us]"),
        }
    )
    ts = EVENT_T0 + np.sort(rng.integers(0, EVENT_SPAN_US, n_ev)) * np.timedelta64(1, "us")
    events = pd.DataFrame(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": ts.astype("datetime64[us]"),
            "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
            "event_type": _pick(rng, EVENT_TYPES, n_ev),
            "value": np.round(rng.exponential(40.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    return {
        "region": region,
        "nation": nation,
        "customer": customer,
        "supplier": supplier,
        "part": part,
        "orders": orders,
        "lineitem": lineitem,
        "events": events,
    }


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, pd.DataFrame]:
    """Write every table to ``out_dir/<name>.parquet`` and return them."""
    os.makedirs(out_dir, exist_ok=True)
    tables = make_tables(seed, sf)
    for name, df in tables.items():
        df.to_parquet(os.path.join(out_dir, f"{name}.parquet"), index=False)
    return tables
