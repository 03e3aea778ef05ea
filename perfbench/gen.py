"""Deterministic benchmark inputs in the shape of the engine's fixtures.

Writes ``region nation customer supplier part orders lineitem events``
as one single-row-group parquet file each, with the column names, types
and value domains the package's queries expect (FIXTURES.md §B): fixture
dates span 1995-2001 as TIMESTAMP, ``l_discount`` is a fraction
0.00-0.10, nations are ``NATION_<k>``, events fall in January 2024.

Row counts scale like TPC-H: ``sf=1`` is 6 M lineitem rows, 1.5 M
orders, 150 k customers, 10 k suppliers, 200 k parts and 1 M events.
The same ``(sf, seed)`` always yields byte-identical values.

Usage: python3 perfbench/gen.py OUT_DIR SF
"""

from __future__ import annotations

import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events",
)
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_ORDER_DAYS = 2404  # 1995-01-01 .. 2001-08-01
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _pick(rng: np.random.Generator, values: tuple[str, ...], n: int) -> pa.Array:
    idx = rng.integers(0, len(values), n).astype(np.int32)
    return pa.DictionaryArray.from_arrays(idx, list(values)).cast(pa.string())


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{k:09d}" for k in range(n)])


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), pa.timestamp("us"))


def tables(sf: float) -> dict[str, pa.Table]:
    """Every input table at scale ``sf``."""
    rng = np.random.default_rng(DATA_SEED)
    n_cust = max(int(150_000 * sf), 10)
    n_supp = max(int(10_000 * sf), 5)
    n_part = max(int(200_000 * sf), 10)
    n_ord = max(int(1_500_000 * sf), 10)
    n_li = max(int(6_000_000 * sf), 10)
    n_ev = max(int(1_000_000 * sf), 10)
    n_users = max(int(15_000 * sf), 5)
    i32 = pa.int32()

    out = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), i32),
            "r_name": pa.array(REGIONS),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), i32),
            "n_name": pa.array([f"NATION_{k}" for k in range(25)]),
            "n_regionkey": pa.array([k % 5 for k in range(25)], i32),
        }),
        "customer": pa.table({
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": _names("Customer", n_cust),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
        }),
        "supplier": pa.table({
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": _names("Supplier", n_supp),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }),
    }
    adj = rng.integers(0, len(ADJ), n_part)
    noun = rng.integers(0, len(NOUN), n_part)
    out["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": pa.array([f"{ADJ[a]} {NOUN[b]}" for a, b in zip(adj, noun)]),
        "p_brand": pa.array(
            [f"Brand#{k}" for k in rng.integers(1, 26, n_part)]
        ),
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(
            900.0 + (np.arange(n_part) % 200) * 0.1, 2
        ),
    })
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": _pick(rng, ("F", "O", "P"), n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts(
            _EPOCH_1995 + rng.integers(0, _ORDER_DAYS, n_ord) * _DAY_US
        ),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    })
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li, dtype=np.int64),
        "l_partkey": rng.integers(0, n_part, n_li, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li, dtype=np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": _pick(rng, ("A", "N", "R"), n_li),
        "l_linestatus": _pick(rng, ("F", "O"), n_li),
        "l_shipdate": _ts(
            _EPOCH_1995 + rng.integers(1, _ORDER_DAYS + 90, n_li) * _DAY_US
        ),
    })
    out["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(
            _EPOCH_2024
            + np.sort(rng.integers(0, 30 * _DAY_US, n_ev))
        ),
        "user_id": rng.integers(0, n_users, n_ev, dtype=np.int64),
        "event_type": _pick(rng, EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": pa.array(
            [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]
        ),
    })
    return out


def generate(out_dir: str, sf: float) -> None:
    """Write every table to ``out_dir/<name>.parquet``, unless
    ``out_dir`` already exists.  Tables are written to a sibling
    directory that is renamed into place last, so an interrupted
    generation never leaves a partial ``out_dir``."""
    if os.path.isdir(out_dir):
        return
    tmp = f"{out_dir}.partial"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in tables(sf).items():
        pq.write_table(table, f"{tmp}/{name}.parquet", row_group_size=len(table))
    os.replace(tmp, out_dir)


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    generate(sys.argv[1], float(sys.argv[2]))
