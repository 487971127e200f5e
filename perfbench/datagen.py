"""Deterministic synthetic tables for the benchmark.

Writes the seven catalog tables the benchmark's keys read (``region``,
``nation``, ``customer``, ``supplier``, ``orders``, ``lineitem``, ``events``)
as one parquet file each, with the column names and types the operators and
their DuckDB oracles expect, at roughly scale factor 0.01 (60 000
``lineitem`` rows). Everything derives from ``numpy`` generators with a
fixed seed, so two checkouts produce byte-identical inputs; the
benchmark's ``--seed`` only orders work, it does not change the tables.

``event_rows`` is shared with the ingest generator: the Kafka-shaped
records it lands are ``events`` rows.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: the tables never change between runs or checkouts
TABLE_SEED = 42

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "signup", "purchase", "error"]

#: row counts at the benchmark's scale (sf0.01-shaped); ``part`` is not
#: written, only its keys and retail prices feed ``lineitem``
SIZES = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
}

_DAY_US = 86_400_000_000
_EPOCH_1995_DAYS = 9131  # 1995-01-01
_EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z


def _cents(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100), n) / 100.0


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def event_rows(n: int, rng: np.random.Generator) -> dict[str, np.ndarray]:
    """``n`` events rows over 30 days of January 2024, ids from 0.

    ``ts_us`` is microseconds since the epoch; values carry two decimals.
    """
    return {
        "event_id": np.arange(n, dtype=np.int64),
        "ts_us": _EPOCH_2024_US + np.sort(rng.integers(0, 30 * _DAY_US, n)),
        "user_id": rng.integers(0, 150, n).astype(np.int64),
        "event_type": np.asarray(EVENT_TYPES, dtype=object)[rng.integers(0, 5, n)],
        "value": _cents(rng, 0.01, 490.0, n),
        "props": np.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], dtype=object),
    }


def _tables(rng: np.random.Generator) -> dict[str, pa.Table]:
    n = SIZES
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": np.arange(n["customer"], dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
            "c_nationkey": rng.integers(0, 25, n["customer"]).astype(np.int32),
            "c_acctbal": _cents(rng, -999.99, 9999.99, n["customer"]),
            "c_mktsegment": _pick(rng, SEGMENTS, n["customer"]),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
            "s_nationkey": rng.integers(0, 25, n["supplier"]).astype(np.int32),
            "s_acctbal": _cents(rng, -999.99, 9999.99, n["supplier"]),
        }
    )
    retail = np.round(900.0 + np.arange(n["part"]) % 1000 / 10.0, 2)
    orderdate_days = _EPOCH_1995_DAYS + rng.integers(0, 2404, n["orders"])
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n["orders"], dtype=np.int64),
            "o_custkey": rng.integers(0, n["customer"], n["orders"]).astype(np.int64),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n["orders"]),
            "o_totalprice": _cents(rng, 1000.0, 500000.0, n["orders"]),
            "o_orderdate": pa.array(orderdate_days * 86_400_000, pa.timestamp("ms")),
            "o_orderpriority": _pick(rng, PRIORITIES, n["orders"]),
        }
    )
    # 1..7 lines per order, numbered from 1, until the lineitem size is met
    per_order = rng.integers(1, 8, n["orders"])
    okeys = np.repeat(np.arange(n["orders"]), per_order)[: n["lineitem"]]
    starts = np.concatenate([[0], np.cumsum(per_order)[:-1]])
    linenos = (np.arange(per_order.sum()) - np.repeat(starts, per_order) + 1)[: len(okeys)]
    m = len(okeys)
    partkeys = rng.integers(0, n["part"], m)
    qty = rng.integers(1, 51, m).astype(np.float64)
    ship_days = orderdate_days[okeys] + rng.integers(1, 122, m)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": okeys.astype(np.int64),
            "l_partkey": partkeys.astype(np.int64),
            "l_suppkey": rng.integers(0, n["supplier"], m).astype(np.int64),
            "l_linenumber": linenos.astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * retail[partkeys], 2),
            "l_discount": rng.integers(0, 11, m) / 100.0,
            "l_tax": rng.integers(0, 9, m) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], m),
            "l_linestatus": _pick(rng, ["F", "O"], m),
            "l_shipdate": pa.array(ship_days * 86_400_000, pa.timestamp("ms")),
        }
    )
    ev = event_rows(n["events"], rng)
    t["events"] = pa.table(
        {
            "event_id": ev["event_id"],
            # the catalog normalises TIMESTAMP(NANOS), as the fixture stores it
            "ts": pa.array(ev["ts_us"] * 1000, pa.timestamp("ns")),
            "user_id": ev["user_id"],
            "event_type": pa.array(ev["event_type"]),
            "value": ev["value"],
            "props": pa.array(ev["props"]),
        }
    )
    return t


def write_tables(out_dir: str) -> list[str]:
    """Write every table to ``out_dir/<name>.parquet``; returns the names."""
    os.makedirs(out_dir, exist_ok=True)
    tables = _tables(np.random.default_rng(TABLE_SEED))
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return list(tables)
