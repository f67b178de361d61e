"""Seeded TPC-H-shaped tables for the benchmark.

Writes ``region nation customer supplier part orders lineitem`` as one
parquet file each, with the column names and types the demo model
(``cubes_spark.demo.TPCH_MODEL``) maps.  Row counts follow TPC-H ratios
at scale factor ``sf`` (``sf=0.1`` gives 150,000 orders and about
600,000 line items).  Ship dates span 1995-01-02 .. 2001-11-04, so the
month grain runs 1995-01 .. 2001-11.  Money columns hold whole cents,
so the model's decimal casts are exact.
"""

from __future__ import annotations

import datetime
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
N_NATIONS = 25
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
N_BRANDS = 25
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
RETURNFLAGS = ["A", "N", "R"]
LINESTATUSES = ["F", "O"]
FIRST_DAY = datetime.date(1995, 1, 2)
LAST_DAY = datetime.date(2001, 11, 4)
WORDS = ["almond", "anvil", "blue", "copper", "frosted", "ivory", "lace",
         "metal", "navy", "plum", "rose", "steel", "widget", "wire"]


def nation_region(nation_key: int) -> int:
    """Region of a nation: nations are dealt round-robin to regions."""
    return nation_key % len(REGIONS)


def _money(rng: np.random.Generator, low: int, high: int, n: int):
    """Whole-cent amounts in [low, high) dollars, as float64."""
    return rng.integers(low * 100, high * 100, n) / 100.0


def _pick(rng: np.random.Generator, values, n: int):
    return pa.array(np.asarray(values, dtype=object)[rng.integers(
        0, len(values), n)], pa.string())


def _days(rng: np.random.Generator, n: int):
    span = (LAST_DAY - FIRST_DAY).days
    epoch_day = (FIRST_DAY - datetime.date(1970, 1, 1)).days
    days = epoch_day + rng.integers(0, span + 1, n)
    return pa.array(days.astype("int64") * 86_400_000_000,
                    pa.timestamp("us"))


def generate(out_dir: str, seed: int, sf: float) -> dict:
    """Write the tables under ``out_dir``; return {table: row count}."""
    rng = np.random.default_rng(seed)
    n_customer = max(int(150_000 * sf), 50)
    n_supplier = max(int(10_000 * sf), 20)
    n_part = max(int(200_000 * sf), 50)
    n_orders = max(int(1_500_000 * sf), 100)

    nation_keys = np.arange(N_NATIONS, dtype="int32")
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(len(REGIONS)), pa.int32()),
            "r_name": pa.array(REGIONS, pa.string()),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(nation_keys, pa.int32()),
            "n_name": pa.array([f"NATION_{k}" for k in nation_keys],
                               pa.string()),
            "n_regionkey": pa.array(
                [nation_region(int(k)) for k in nation_keys], pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_customer), pa.int64()),
            "c_name": pa.array([f"Customer#{k:09d}"
                                for k in range(n_customer)], pa.string()),
            "c_nationkey": pa.array(
                rng.integers(0, N_NATIONS, n_customer), pa.int32()),
            "c_acctbal": pa.array(_money(rng, -999, 9999, n_customer)),
            "c_mktsegment": _pick(rng, SEGMENTS, n_customer),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supplier), pa.int64()),
            "s_name": pa.array([f"Supplier#{k:09d}"
                                for k in range(n_supplier)], pa.string()),
            "s_nationkey": pa.array(
                rng.integers(0, N_NATIONS, n_supplier), pa.int32()),
            "s_acctbal": pa.array(_money(rng, -999, 9999, n_supplier)),
        }),
    }
    words = rng.integers(0, len(WORDS), (n_part, 2))
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": pa.array([f"{WORDS[a]} {WORDS[b]}" for a, b in words],
                           pa.string()),
        "p_brand": _pick(rng, [f"Brand#{b}" for b in range(1, N_BRANDS + 1)],
                         n_part),
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(_money(rng, 900, 2100, n_part)),
    })
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_customer, n_orders),
                              pa.int64()),
        "o_orderstatus": _pick(rng, STATUSES, n_orders),
        "o_totalprice": pa.array(_money(rng, 800, 500_000, n_orders)),
        "o_orderdate": _days(rng, n_orders),
        "o_orderpriority": _pick(rng, PRIORITIES, n_orders),
    })

    lines = rng.integers(1, 8, n_orders)
    n_lines = int(lines.sum())
    order_keys = np.repeat(np.arange(n_orders), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(order_keys, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_lines), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supplier, n_lines),
                              pa.int64()),
        "l_linenumber": pa.array(np.arange(n_lines) - starts + 1,
                                 pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n_lines)
                               .astype("float64")),
        "l_extendedprice": pa.array(_money(rng, 900, 105_000, n_lines)),
        "l_discount": pa.array(rng.integers(0, 11, n_lines) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_lines) / 100.0),
        "l_returnflag": _pick(rng, RETURNFLAGS, n_lines),
        "l_linestatus": _pick(rng, LINESTATUSES, n_lines),
        "l_shipdate": _days(rng, n_lines),
    })

    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: table.num_rows for name, table in tables.items()}
