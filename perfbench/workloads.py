"""Workload definitions: seeded op sequences and how each op is run.

An op is a plain dict, so a sequence can be compared and printed without
Spark. ``ops(workload, seed, rows)`` yields the same list for the same
seed. The first cycle of every sequence is the warm-up: it runs every op
shape, inside set-up, before the clock starts.

``Runner`` executes one op through the engine's public API and returns
what the output checks need.
"""

from __future__ import annotations

import os
import random
import time

import numpy as np

from . import datagen
from .oracle import checksum_fields, spark_checksum

WORKLOADS = ("delta_olap", "delta_ingest")

# Registry query ids whose SQL the Delta workloads run (the oracle SQL
# string: plain ANSI SQL that both Spark and DuckDB accept).
TPCH = ("agg_basic", "tpch_q3", "tpch_q5", "tpch_q12", "tpch_q18")
# Registry query ids whose Python function (``fn(spark, sf_dir)``)
# ``delta_olap`` calls over the generated parquet, so that some frames are
# built by the registry's own code: ``events_sessionize`` is a pipeline
# id, and ``join_interval_overlap`` launches a Spark job while its frame
# is built (a driver-side scalar).
FN = ("events_sessionize", "join_interval_overlap")
QUERY_TABLES = {
    "agg_basic": ("lineitem",),
    "tpch_q3": ("customer", "orders", "lineitem"),
    "tpch_q5": ("customer", "orders", "lineitem", "supplier", "nation", "region"),
    "tpch_q12": ("orders", "lineitem"),
    "tpch_q18": ("customer", "orders", "lineitem"),
    "events_sessionize": ("events",),
    "join_interval_overlap": ("events",),
}
STAR = ("region", "nation", "customer", "supplier", "orders", "lineitem")
FIXTURE = {"delta_olap": STAR, "delta_ingest": ("orders", "lineitem", "events")}
# The read-after-write query of every ingest cycle: the join of the two
# tables the cycle's merge and DV DML mutate.
INGEST_QUERY = "tpch_q12"
# Files per fixture table, each one commit of a key range, so per-file
# min/max stats can prune key-range predicates. Four events commits put
# the events table's tenth commit, an automatic checkpoint, inside the
# second measured ingest cycle.
FIXTURE_FILES = {"lineitem": 4, "orders": 2, "events": 4}

APPEND_ROWS = 400
MERGE_MATCHED = 100
MERGE_NEW = 100
OPTIMIZE_EVERY = 3
MAX_CYCLES = 400
# Measured cycles per run, at the least: an ingest cycle holds one op of
# most shapes, so two cycles give each shape's median two samples.
MIN_CYCLES = {"delta_olap": 1, "delta_ingest": 2}


def ops(workload: str, seed: int, rows: dict[str, int]) -> list[dict]:
    """The full op sequence (more than any run can finish), in cycles.
    Every cycle holds the workload's whole op mix and the window runs
    whole cycles; cycle 0 is the warm-up and keeps one op of each shape."""
    rng = random.Random(f"{workload}:{seed}")
    make = {"delta_olap": _olap_cycle, "delta_ingest": _ingest_cycle}[workload]
    out: list[dict] = []
    for cycle in range(MAX_CYCLES):
        seen = set()
        for op in make(rng, cycle, rows, seed):
            op["shape"] = _shape(op)
            if cycle == 0 and op["shape"] in seen:
                continue
            seen.add(op["shape"])
            op["i"] = len(out)
            op["cycle"] = cycle
            op["warmup"] = cycle == 0
            out.append(op)
    return out


def _shape(op: dict) -> str:
    """The op's shape: what it runs, not its parameters."""
    if op["type"] in ("sql", "fn"):
        return op["type"] + ":" + op["name"]
    if op["type"] == "read":
        return "read:" + ("skip" if op["skip"] else "full")
    return op["type"]


def _olap_cycle(rng: random.Random, _cycle: int, rows: dict, _seed: int):
    """In a seeded order: each TPC-H query twice, four selective and four
    full reads, and each registry function once."""
    n_orders = rows["orders"]
    width = max(10, n_orders // 50)
    shapes = ([("sql", q) for q in TPCH] + [("read", True)] * 2 + [("read", False)] * 2) * 2
    shapes += [("fn", q) for q in FN]
    rng.shuffle(shapes)
    for kind, arg in shapes:
        if kind in ("sql", "fn"):
            yield {"kind": "query", "type": kind, "name": arg}
        elif arg:
            lo = rng.randrange(0, n_orders - width)
            yield {"kind": "query", "type": "read", "table": "lineitem", "skip": True,
                   "where": f"l_orderkey BETWEEN {lo} AND {lo + width}"}
        else:
            lo = rng.randint(1, 40)
            yield {"kind": "query", "type": "read", "table": "lineitem", "skip": False,
                   "where": f"l_quantity BETWEEN {lo} AND {lo + 10}"}


def _ingest_cycle(rng: random.Random, cycle: int, rows: dict, seed: int):
    n_orders = rows["orders"]
    first_event = rows["events"] + cycle * 2 * APPEND_ROWS
    for k in range(2):
        yield {"kind": "write", "type": "append", "table": "events",
               "first_id": first_event + k * APPEND_ROWS, "rows": APPEND_ROWS,
               "seed": [seed, cycle, k]}
    yield {"kind": "write", "type": "merge", "table": "orders",
           "first_new": n_orders + cycle * MERGE_NEW, "seed": [seed, cycle, 2],
           "set_cols": ["o_totalprice", "o_orderstatus"]}
    lo = rng.randrange(0, n_orders - 5)
    yield {"kind": "write", "type": "delete", "table": "lineitem",
           "where": f"l_orderkey BETWEEN {lo} AND {lo + 4}"}
    lo = rng.randrange(0, n_orders - 5)
    yield {"kind": "write", "type": "update", "table": "lineitem",
           "where": f"l_orderkey BETWEEN {lo} AND {lo + 4}",
           "set": {"l_quantity": "l_quantity + 1", "l_tax": "0.0"}}
    yield {"kind": "query", "type": "sql", "name": INGEST_QUERY,
           "fresh": ["orders", "lineitem"]}
    yield {"kind": "stream", "type": "stream", "table": "events", "sink": "sink"}
    if cycle == 0 or cycle % OPTIMIZE_EVERY == 1:
        yield {"kind": "write", "type": "optimize", "table": "events"}


def payload(op: dict, rows: dict[str, int]):
    """The Arrow rows an append or merge op writes (naive UTC timestamps)."""
    rng = np.random.default_rng(op["seed"])
    if op["type"] == "append":
        return datagen.make_events(rng, op["first_id"], op["rows"])
    n_orders = rows["orders"]
    matched = rng.choice(n_orders, MERGE_MATCHED, replace=False)
    keys = np.concatenate([np.sort(matched), op["first_new"] + np.arange(MERGE_NEW)])
    n = len(keys)
    import pyarrow as pa

    return pa.table({
        "o_orderkey": pa.array(keys, pa.int64()),
        "o_custkey": pa.array(rng.integers(0, rows["customer"], n), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n)],
        "o_totalprice": np.round(rng.uniform(1000, 500_000, n), 2),
        "o_orderdate": datagen._ts(datagen._DAY0 + rng.integers(0, datagen._NDAYS, n)),
        "o_orderpriority": np.array(datagen.PRIORITIES)[rng.integers(0, 5, n)],
    })


def input_rows(op: dict, rows: dict[str, int]) -> int:
    """Logical input rows of an op: the rows it reads or writes, before
    any file skipping (skipping is what makes a read cheaper, not
    smaller)."""
    t = op["type"]
    if t in ("sql", "fn"):
        return sum(rows[n] for n in QUERY_TABLES[op["name"]])
    if t == "append":
        return op["rows"]
    if t == "merge":
        return MERGE_MATCHED + MERGE_NEW
    return rows[op["table"]]


def _utc(table):
    """Arrow timestamps -> tz-aware UTC, so Spark reads TIMESTAMP (not
    TIMESTAMP_NTZ) with unchanged values."""
    import pyarrow as pa

    cols = []
    for f, col in zip(table.schema, table.columns):
        if pa.types.is_timestamp(f.type) and f.type.tz is None:
            col = col.cast(pa.timestamp(f.type.unit, tz="UTC"))
        cols.append(col)
    return pa.table(cols, names=table.column_names)


class Runner:
    """Runs ops against one Spark session and one Delta fixture."""

    def __init__(self, spark, tracer, probe, tables: dict[str, str], work: str,
                 rows: dict[str, int], src_dir: str):
        from ballista_delta_spark.queries import all_queries

        self.spark, self.tracer, self.probe = spark, tracer, probe
        self.tables, self.work, self.rows = tables, work, rows
        self.src_dir = src_dir
        registry = all_queries()
        self.sql_text = {q: registry[q][1] for q in TPCH + FN}
        self.fns = {q: registry[q][0] for q in FN}
        self.tables["sink"] = os.path.join(os.path.dirname(tables["orders"]), "sink")
        self.checkpoint = os.path.join(work, "stream_ckpt")
        self.stream_progress: list[dict] = []

    # Resolved at call time so the traced run sees wrapped functions.
    @staticmethod
    def _delta():
        from ballista_delta_spark.sources import delta

        return delta

    @staticmethod
    def _dml():
        from ballista_delta_spark.sources import delta_dml

        return delta_dml

    def run(self, op: dict):
        """Execute ``op``; returns ``(checksum row or None, fields)``."""
        t = op["type"]
        if t in ("sql", "read", "fn"):
            return self._query(op)
        getattr(self, "_" + t)(op)
        return None, None

    def _build(self, op: dict):
        from ballista_delta_spark import session

        if op["type"] == "fn":
            return self.fns[op["name"]](self.spark, self.src_dir)
        delta = self._delta()
        if op["type"] == "read":
            return delta.read_delta(self.spark, self.tables[op["table"]], where=op["where"])
        for name in op.get("fresh", ()):
            delta.read_delta(self.spark, self.tables[name]).createOrReplaceTempView(name)
        return session.sql(self.spark, self.sql_text[op["name"]])

    def _query(self, op: dict):
        tr = self.tracer
        if tr.enabled:
            p0 = time.perf_counter()
            jobs0 = self.probe.job_ids()
            tr.count("probe_s", time.perf_counter() - p0)
        with tr.span("queries.build"):
            df = self._build(op)
            cs = spark_checksum(df)
        if tr.enabled:
            p0 = time.perf_counter()
            tr.count("queries.build_jobs", len(self.probe.job_ids() - jobs0))
            tr.count("probe_s", time.perf_counter() - p0)
        with tr.span("queries.plan"):
            cs._jdf.queryExecution().executedPlan()
        with tr.span("queries.exec"):
            row = cs.collect()[0]
        return tuple(row), checksum_fields(df.dtypes)

    def _frame(self, op: dict):
        """The op's payload as a DataFrame, read from a parquet file
        staged in the run's landing directory (the way batch ingest
        lands data before committing it)."""
        import pyarrow.parquet as pq

        path = os.path.join(self.work, "landing", f"op-{op['i']}.parquet")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pq.write_table(_utc(payload(op, self.rows)), path)
        return self.spark.read.parquet(path)

    def _append(self, op: dict) -> None:
        self._delta().write_delta(self._frame(op), self.tables[op["table"]], mode="append")

    def _merge(self, op: dict) -> None:
        src = self._frame(op)
        self._dml().merge_delta(
            self.spark, self.tables[op["table"]], src,
            on="t.o_orderkey = s.o_orderkey",
            matched_update={c: f"s.{c}" for c in op["set_cols"]},
            not_matched_insert=True,
        )

    def _delete(self, op: dict) -> None:
        self._dml().delete_delta(
            self.spark, self.tables[op["table"]], op["where"], mode="dv"
        )

    def _update(self, op: dict) -> None:
        self._dml().update_delta(
            self.spark, self.tables[op["table"]], op["where"], op["set"], mode="dv"
        )

    def _optimize(self, op: dict) -> None:
        self._delta().optimize(self.spark, self.tables[op["table"]])

    def _stream(self, op: dict) -> None:
        from ballista_delta_spark.sources import delta_stream

        src = (
            self.spark.readStream.format("delta_stream")
            .option("path", self.tables[op["table"]]).load()
        )
        q = delta_stream.write_stream_to_delta(
            src, self.tables[op["sink"]], self.checkpoint, available_now=True
        )
        with self.tracer.span("stream.drain"):
            q.awaitTermination()
        err = q.exception()
        if err is not None:
            raise RuntimeError(f"stream drain failed: {err}")
        self.stream_progress.append({"op": op["i"], "progress": list(q.recentProgress)})


def build_fixture(spark, src_paths: dict[str, str], names, out_dir: str,
                  register: bool) -> dict[str, str]:
    """Write ``names`` from the generated parquet as Delta tables under
    ``out_dir`` and, if ``register``, register each through the engine's
    SQL DDL. A table
    with several files is loaded as that many appends of consecutive key
    ranges, the way a table fills batch by batch, so each file's min/max
    stats cover one key range."""
    from pyspark.sql import functions as F

    from ballista_delta_spark import session
    from ballista_delta_spark.sources import delta

    paths = {}
    for name in names:
        df = spark.read.parquet(src_paths[name])
        df = df.select(*[
            F.col(f.name).cast("timestamp").alias(f.name)
            if f.dataType.typeName() == "timestamp_ntz" else F.col(f.name)
            for f in df.schema.fields
        ])
        key = df.columns[0]
        nfiles = FIXTURE_FILES.get(name, 1)
        n_keys = _key_count(src_paths[name], key)
        paths[name] = os.path.join(out_dir, name)
        for k in range(nfiles):
            lo, hi = n_keys * k // nfiles, n_keys * (k + 1) // nfiles
            part = df.filter((F.col(key) >= lo) & (F.col(key) < hi)) if nfiles > 1 else df
            delta.write_delta(part.coalesce(1), paths[name], mode="append")
        if register:
            session.sql(
                spark,
                f"CREATE EXTERNAL TABLE {name} STORED AS DELTA LOCATION '{paths[name]}'",
            )
    return paths


def _key_count(path: str, key: str) -> int:
    """1 + the largest value of the (dense, 0-based) leading key column."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    return int(pc.max(pq.read_table(path, columns=[key])[key]).as_py()) + 1
