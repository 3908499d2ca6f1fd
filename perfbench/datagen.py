"""Seeded synthetic tables in the schema of the engine's fixture parquet
(TESTDATA.md): the three edge-bearing tables (orders, events, lineitem) and
the dimension tables they reference.  Sizes follow the fixtures' sf0.01
shape, so every seed yields the same row counts and distributions and only
the values move.  One row group per table, like the fixture files."""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: rows per table at the generated scale (the fixtures' sf0.01 counts)
SIZES = {
    "customer": 1_500,
    "supplier": 100,
    "part": 2_000,
    "orders": 15_000,
    "lineitem": 60_000,
    "events": 10_000,
    "users": 150,
}

_US = 1_000_000
_DAY_US = 86_400 * _US
_ORDER_EPOCH = np.datetime64("1995-01-01", "us").astype(np.int64)
_ORDER_DAYS = 2_404  # 1995-01-01 .. 2001-08-01
_EVENT_EPOCH = np.datetime64("2024-01-01", "us").astype(np.int64)
_EVENT_SPAN_US = 30 * _DAY_US


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _write(out: Path, name: str, cols: dict) -> None:
    table = pa.table(cols)
    pq.write_table(table, out / f"{name}.parquet", row_group_size=len(table) or 1)


def generate(out: Path, seed: int) -> dict[str, int]:
    """Write every table under ``out``; returns the row counts."""
    out.mkdir(parents=True, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = SIZES

    _write(out, "region", {
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _write(out, "nation", {
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    _write(out, "customer", {
        "c_custkey": np.arange(n["customer"], dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n["customer"]), 2),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n["customer"]
        ).tolist(),
    })
    _write(out, "supplier", {
        "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999, 9999, n["supplier"]), 2),
    })
    _write(out, "part", {
        "p_partkey": np.arange(n["part"], dtype=np.int64),
        "p_name": rng.choice(["large ring", "hot bolt", "small nut", "blue pipe"], n["part"]).tolist(),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n["part"])],
        "p_type": rng.choice(["LARGE", "ECONOMY", "STANDARD", "PROMO"], n["part"]).tolist(),
        "p_size": pa.array(rng.integers(1, 51, n["part"]), pa.int32()),
        "p_retailprice": np.round(900 + np.arange(n["part"]) * 0.1, 2),
    })

    o_days = rng.integers(0, _ORDER_DAYS, n["orders"])
    _write(out, "orders", {
        "o_orderkey": np.arange(n["orders"], dtype=np.int64),
        "o_custkey": rng.integers(0, n["customer"], n["orders"]).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n["orders"]).tolist(),
        "o_totalprice": np.round(rng.uniform(900, 500_000, n["orders"]), 2),
        "o_orderdate": _ts(_ORDER_EPOCH + o_days * _DAY_US),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n["orders"]
        ).tolist(),
    })

    ship_days = np.minimum(o_days[rng.integers(0, n["orders"], n["lineitem"])] + rng.integers(1, 122, n["lineitem"]), _ORDER_DAYS + 95)
    _write(out, "lineitem", {
        "l_orderkey": rng.integers(0, n["orders"], n["lineitem"]).astype(np.int64),
        "l_partkey": rng.integers(0, n["part"], n["lineitem"]).astype(np.int64),
        "l_suppkey": rng.integers(0, n["supplier"], n["lineitem"]).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, n["lineitem"]), pa.int32()),
        "l_quantity": rng.integers(1, 51, n["lineitem"]).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 100_000, n["lineitem"]), 2),
        "l_discount": np.round(rng.integers(0, 11, n["lineitem"]) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, n["lineitem"]) / 100, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n["lineitem"]).tolist(),
        "l_linestatus": rng.choice(["F", "O"], n["lineitem"]).tolist(),
        "l_shipdate": _ts(_ORDER_EPOCH + ship_days * _DAY_US),
    })

    # sorted draws plus their rank: distinct timestamps, like the fixtures
    ev_us = np.sort(rng.integers(0, _EVENT_SPAN_US - n["events"], n["events"])) + np.arange(n["events"])
    _write(out, "events", {
        "event_id": np.arange(n["events"], dtype=np.int64),
        "ts": _ts(_EVENT_EPOCH + ev_us),
        "user_id": rng.integers(0, n["users"], n["events"]).astype(np.int64),
        "event_type": rng.choice(["signup", "click", "error", "view", "purchase"], n["events"]).tolist(),
        "value": np.round(rng.uniform(0, 200, n["events"]), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n["events"])],
    })
    return {k: v for k, v in n.items() if k != "users"}
