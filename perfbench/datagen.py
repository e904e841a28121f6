"""Seeded synthetic inputs for the benchmark.

Writes one parquet file per table (the TPC-H-shaped star schema the
Delta workloads read, and the ``events`` table they append to) with the
same column names, types and value domains as the engine's test
fixtures, so the registry's TPC-H SQL runs unchanged over them. Everything is
drawn from one ``numpy`` generator seeded by ``--seed``: the same seed
and scale give byte-identical tables.

Row counts scale with ``sf`` like TPC-H (``lineitem`` ~ 6M x sf).
``lineitem`` and ``orders`` are emitted in key order, the layout a
TPC-H loader produces, so Delta per-file min/max stats on the order key
are tight and key-range reads can skip files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]

# Days since 1970-01-01 of the order-date window [1995-01-01, 2001-08-01).
_DAY0 = 9131
_NDAYS = 2404
_US_PER_DAY = 86_400_000_000


def table_rows(sf: float) -> dict[str, int]:
    """Row counts per table at scale ``sf`` (lineitem is derived: 1-7
    lines per order, ~4 on average; ``part`` is only a key domain)."""
    return {
        "customer": max(30, int(150_000 * sf)),
        "supplier": max(10, int(10_000 * sf)),
        "part": max(40, int(200_000 * sf)),
        "orders": max(100, int(1_500_000 * sf)),
        "events": max(200, int(1_000_000 * sf)),
    }


def _ts(days: np.ndarray) -> pa.Array:
    return pa.array(days.astype(np.int64) * _US_PER_DAY, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def make_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = table_rows(sf)
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    nc = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, nc)],
    })
    ns = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    })
    no = n["orders"]
    odays = _DAY0 + rng.integers(0, _NDAYS, no)
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
        "o_totalprice": _money(rng, 1000, 500_000, no),
        "o_orderdate": _ts(odays),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, no)],
    })
    lines = rng.integers(1, 8, no)
    # One order in a thousand is a bulk order: 7 lines of 44-50 units, so
    # tpch_q18's HAVING sum(l_quantity) > 300 selects a few orders at every
    # seed (with uniform quantities it is empty or not by chance, and an
    # empty result lets the planner skip most of the query).
    bulk = rng.choice(no, max(1, no // 1000), replace=False)
    lines[bulk] = 7
    nl = int(lines.sum())
    okey = np.repeat(np.arange(no), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    in_bulk = np.isin(okey, bulk)
    qty[in_bulk] = rng.integers(44, 51, int(in_bulk.sum()))
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n["part"], nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(np.arange(nl) - starts + 1, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
        "l_shipdate": _ts(odays[okey] + rng.integers(1, 122, nl)),
    })
    out["events"] = make_events(rng, 0, n["events"])
    return out


def make_events(
    rng: np.random.Generator, first_id: int, count: int, n_users: int = 1500
) -> pa.Table:
    """``count`` events with ids ``first_id..`` over January 2024."""
    ts0 = 19723 * _US_PER_DAY  # 2024-01-01
    ts = np.sort(rng.integers(0, 30 * _US_PER_DAY, count)) + ts0
    return pa.table({
        "event_id": pa.array(np.arange(first_id, first_id + count), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, count), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, count)],
        "value": np.round(rng.exponential(50.0, count), 2),
        "props": np.char.add(
            np.char.add('{"k": ', rng.integers(0, 100, count).astype(str)), "}"
        ),
    })


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> dict[str, str]:
    os.makedirs(out_dir, exist_ok=True)
    paths = {}
    for name, t in tables.items():
        paths[name] = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(t, paths[name])
    return paths
