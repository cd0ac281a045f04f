"""Seeded input generator.

Every input the benchmark feeds the program is made here from ``--seed``
alone: the same seed gives byte-identical parquet files, and nothing is
read from outside the run directory.  Sizes are fixed; the seed varies
only the values, the rows and row counts of the injected defects, and
the day slices.

- ``tpch_tables``: ``customer`` (15k), ``orders`` (150k) and
  ``lineitem`` (600k) in the TPC-H shape the engine's tests use, plus
  the defects injected into them: nulls, out-of-range values, foreign-key
  orphans and a price mismatch, each with a seeded row count.  Each
  injected kind breaks exactly one constraint of the validate suite, so
  every constraint's expected status follows from ``DEFECT_KINDS``.
- ``write_days``: the monitor workload's daily batches, seeded slices
  of ``lineitem``.
"""

from __future__ import annotations

import os
from typing import Dict, List, Tuple

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_CUSTOMER = 15_000
N_ORDERS = 150_000
N_LINEITEM = 600_000

#: defect kind -> injected (the seed draws the row count and the rows).
#: The set is fixed so that every seed takes the same code paths: a
#: failing foreign key or join coverage runs an extra example scan.
#: The validate workload maps each kind to the one constraint it breaks.
DEFECT_KINDS = {"null_partkey": True, "null_suppkey": True,
                "quantity_low": True, "quantity_high": True,
                "discount_range": True, "bad_returnflag": True,
                "negative_tax": True, "orphan_lineitem": False,
                "orphan_orders": True, "price_mismatch": True}

_EPOCH_1992_US = 694_224_000_000_000  # 1992-01-01 in microseconds


def _line_counts(rng: np.random.Generator) -> np.ndarray:
    """Lines per order in 1..7 that sum to exactly N_LINEITEM."""
    counts = np.full(N_ORDERS, N_LINEITEM // N_ORDERS, dtype=np.int64)
    perm = rng.permutation(N_ORDERS)
    half = N_ORDERS // 2
    shift = rng.integers(0, 4, half)
    counts[perm[:half]] += shift
    counts[perm[half:2 * half]] -= shift
    return counts


def _write(table: pa.Table, path: str) -> None:
    # one row group per file, like the engine's reference test data
    pq.write_table(table, path, row_group_size=len(table))


def tpch_tables(seed: int) -> Tuple[Dict[str, pa.Table], Dict[str, int]]:
    """customer/orders/lineitem tables and {defect kind: rows injected}
    (0 for a kind that is not injected)."""
    rng = np.random.default_rng([seed, 1])
    defects = {kind: int(rng.integers(5, 400)) if on else 0
               for kind, on in DEFECT_KINDS.items()}

    custkey = np.arange(1, N_CUSTOMER + 1, dtype=np.int64)
    customer = pa.table({
        "c_custkey": custkey,
        "c_name": [f"Customer#{k:09d}" for k in custkey],
        "c_nationkey": rng.integers(0, 25, N_CUSTOMER).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, N_CUSTOMER), 2),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
            N_CUSTOMER),
    })

    orderkey = np.arange(N_ORDERS, dtype=np.int64) * 4 + 1
    counts = _line_counts(rng)
    l_orderkey = np.repeat(orderkey, counts)
    starts = np.cumsum(counts) - counts
    l_linenumber = (np.arange(N_LINEITEM) - np.repeat(starts, counts) + 1)
    quantity = rng.integers(1, 51, N_LINEITEM).astype(np.float64)
    price = np.round(quantity * rng.uniform(900.0, 2100.0, N_LINEITEM), 2)
    discount = rng.integers(0, 11, N_LINEITEM) / 100.0
    tax = rng.integers(0, 9, N_LINEITEM) / 100.0
    partkey = rng.integers(1, 20_001, N_LINEITEM).astype(np.float64)
    suppkey = rng.integers(1, 1_001, N_LINEITEM).astype(np.float64)
    returnflag = rng.choice(np.array(["R", "A", "N"]), N_LINEITEM)
    linestatus = rng.choice(np.array(["O", "F"]), N_LINEITEM)
    shipdate = _EPOCH_1992_US + rng.integers(0, 2_400, N_LINEITEM) * 86_400_000_000

    # o_totalprice reconciles with the lineitem prices of its order
    o_total = np.add.reduceat(price, starts)
    o_custkey = rng.integers(1, N_CUSTOMER + 1, N_ORDERS).astype(np.int64)

    def rows(kind: str, n: int) -> np.ndarray:
        return rng.choice(n, defects[kind], replace=False)

    partkey[rows("null_partkey", N_LINEITEM)] = np.nan
    suppkey[rows("null_suppkey", N_LINEITEM)] = np.nan
    quantity[rows("quantity_low", N_LINEITEM)] = 0.0
    hi = rows("quantity_high", N_LINEITEM)
    quantity[hi] = rng.integers(51, 61, len(hi))
    dr = rows("discount_range", N_LINEITEM)
    discount[dr] = rng.integers(11, 21, len(dr)) / 100.0
    returnflag[rows("bad_returnflag", N_LINEITEM)] = "X"
    tax[rows("negative_tax", N_LINEITEM)] = -0.01
    # orphans get fresh even keys (real keys are odd), so they stay
    # unique per (l_orderkey, l_linenumber) and never hit a parent
    ol = rows("orphan_lineitem", N_LINEITEM)
    l_orderkey[ol] = orderkey[-1] + 1 + 2 * np.arange(len(ol))
    oo = rows("orphan_orders", N_ORDERS)
    o_custkey[oo] = N_CUSTOMER + 1 + np.arange(len(oo))
    pm = rows("price_mismatch", N_ORDERS)
    o_total[pm] += rng.uniform(1.0, 100.0, len(pm))

    orders = pa.table({
        "o_orderkey": orderkey,
        "o_custkey": o_custkey,
        "o_orderstatus": rng.choice(["F", "O", "P"], N_ORDERS),
        "o_totalprice": o_total,
        "o_orderdate": pa.array(
            _EPOCH_1992_US + rng.integers(0, 2_400, N_ORDERS) * 86_400_000_000,
            pa.timestamp("us")),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
            N_ORDERS),
    })
    lineitem = pa.table({
        "l_orderkey": l_orderkey,
        "l_partkey": pa.array(partkey, from_pandas=True).cast(pa.int64()),
        "l_suppkey": pa.array(suppkey, from_pandas=True).cast(pa.int64()),
        "l_linenumber": l_linenumber.astype(np.int32),
        "l_quantity": quantity,
        "l_extendedprice": price,
        "l_discount": discount,
        "l_tax": tax,
        "l_returnflag": returnflag,
        "l_linestatus": linestatus,
        "l_shipdate": pa.array(shipdate, pa.timestamp("us")),
    })
    return ({"customer": customer, "orders": orders, "lineitem": lineitem},
            defects)


def write_tables(tables: Dict[str, pa.Table], out_dir: str) -> Dict[str, str]:
    """One parquet file per table; returns {name: path}."""
    os.makedirs(out_dir, exist_ok=True)
    paths = {}
    for name, table in tables.items():
        paths[name] = os.path.join(out_dir, f"{name}.parquet")
        _write(table, paths[name])
    return paths


def write_days(lineitem: pa.Table, out_dir: str, seed: int, n_days: int,
               rows: int) -> List[str]:
    """``n_days`` daily batches of ``rows`` lineitem rows each, cut at
    seeded offsets; returns their paths in day order."""
    rng = np.random.default_rng([seed, 4])
    starts = rng.choice(len(lineitem) // rows, n_days, replace=False) * rows
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for day, start in enumerate(starts):
        paths.append(os.path.join(out_dir, f"day{day:03d}.parquet"))
        _write(lineitem.slice(int(start), rows), paths[-1])
    return paths
