"""Seeded generator for the TPC-H-shaped corpus the query plans read.

The plans in ``bigdata_spark.plans`` are written against a synthetic
star schema (``NATION_<k>`` names, six one-word part types, keys from
0, independent uniform columns) rather than dbgen output, so this
module reproduces that corpus's schema, value domains and row ratios
from a seed. Rows per table at scale factor ``sf``: customer 150k,
supplier 10k, part 200k, orders 1.5M and lineitem 6M, each times
``sf``; lineitem keys are drawn uniformly, so some orders have none.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
_TYPES = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_NAMES = np.array([f"{a} {n}" for a in _ADJ for n in _NOUN])
_BRANDS = np.array([f"Brand#{k}" for k in range(1, 26)])
_STATUS = np.array(["F", "O", "P"])
_PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
_FLAGS = np.array(["A", "N", "R"])
_LINESTATUS = np.array(["F", "O"])

_ORDER_DAYS = (np.datetime64("1995-01-01"), np.datetime64("2001-08-01"))
_SHIP_DAYS = (np.datetime64("1995-01-02"), np.datetime64("2001-11-04"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Uniform amounts with two decimals (drawn as whole cents)."""
    return rng.integers(round(lo * 100), round(hi * 100) + 1, size=n) / 100.0


def _days(rng: np.random.Generator, bounds, n: int) -> pa.Array:
    lo, hi = bounds
    span = int((hi - lo).astype(int))
    d = lo + rng.integers(0, span + 1, size=n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"))


def _keys(n: int) -> pa.Array:
    return pa.array(np.arange(n, dtype=np.int64))


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{k:09d}" for k in range(n)]


def make_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed % 2**32)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    i32 = pa.int32()
    return {
        "region": pa.table(
            {"r_regionkey": pa.array(range(5), i32), "r_name": _REGIONS}
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), i32),
                "n_name": [f"NATION_{k}" for k in range(25)],
                "n_regionkey": pa.array([k % 5 for k in range(25)], i32),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": _keys(n_cust),
                "c_name": _names("Customer", n_cust),
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
                "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": _keys(n_supp),
                "s_name": _names("Supplier", n_supp),
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
                "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": _keys(n_part),
                "p_name": rng.choice(_NAMES, n_part),
                "p_brand": rng.choice(_BRANDS, n_part),
                "p_type": rng.choice(_TYPES, n_part),
                "p_size": pa.array(rng.integers(1, 51, n_part), i32),
                "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10.0,
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": _keys(n_ord),
                "o_custkey": rng.integers(0, n_cust, n_ord),
                "o_orderstatus": rng.choice(_STATUS, n_ord),
                "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
                "o_orderdate": _days(rng, _ORDER_DAYS, n_ord),
                "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": rng.integers(0, n_ord, n_line),
                "l_partkey": rng.integers(0, n_part, n_line),
                "l_suppkey": rng.integers(0, n_supp, n_line),
                "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
                "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
                "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
                "l_discount": rng.integers(0, 11, n_line) / 100.0,
                "l_tax": rng.integers(0, 9, n_line) / 100.0,
                "l_returnflag": rng.choice(_FLAGS, n_line),
                "l_linestatus": rng.choice(_LINESTATUS, n_line),
                "l_shipdate": _days(rng, _SHIP_DAYS, n_line),
            }
        ),
    }


def write_corpus(out_dir: str, sf: float, seed: int) -> None:
    """Write one ``<table>.parquet`` per table into ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in make_tables(sf, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
