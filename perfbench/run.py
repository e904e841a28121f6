#!/usr/bin/env python3
"""Closed-loop benchmark of the engine's Delta read and write paths.

    python3 perfbench/run.py --workload delta_olap --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. One process, one ``SparkSession`` from
``session.get_spark()`` at ``local[nproc]``, one client: each op is
issued when the previous one has returned. ``--seed`` fixes the
generated tables and the op sequence. Set-up (session boot, Delta
fixture written and registered, one warm-up pass over every op shape)
is timed apart from the ``--seconds`` measuring window. After the
window every query output and the final table state are checked
against DuckDB; a failed op or a mismatch is counted, never fatal.

The last stdout line is the result: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``). The line before it is the
full report: every named metric, sample counts, failures, mismatches
and the pinned environment. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import collections
import json
import math
import os
import platform
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Input scale: lineitem ~60k rows. Ops stay interactive (0.3-3 s, the
# stream drain ~4-8 s), so one run, set-up included, takes 45-75 s on
# 4 cores and a regression check can afford twenty runs per workload.
SF = 0.01
DRIVER_MEM = "2g"
DUCKDB_THREADS = 2

END_TO_END_UNITS = {
    "setup_s": "s", "op_geomean_s": "s", "rows_per_s": "1/s", "space_amp": "ratio",
}

LAYER_UNITS = {
    "session.boot_s": "s", "session.sql_s": "s",
    "queries.build_s": "s", "queries.build_jobs": "count",
    "queries.plan_s": "s", "queries.exec_s": "s",
    "spark.jobs_per_op": "count", "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count", "spark.failed_tasks": "count",
    "jvm.gc_s": "s", "jvm.jit_s": "s",
    "delta.snapshot_s": "s", "delta.read_build_s": "s", "delta.files_kept_frac": "ratio",
    "delta.commit_s": "s", "delta.optimize_s": "s", "delta.log_files": "count",
    "delta.log_bytes": "B", "delta.checkpoints": "count", "delta.data_files": "count",
    "dml.merge_s": "s", "dml.update_s": "s", "dml.delete_s": "s",
    "dml.rows_changed_per_file_rewritten": "ratio",
    "dv.files_with_dv": "count", "dv.deleted_rows": "count",
    "stream.batches": "count", "stream.rows": "count",
    "stream.latest_offset_ms": "ms", "stream.get_batch_ms": "ms", "stream.add_batch_ms": "ms",
    "trace.coverage": "ratio", "trace.spans_per_op": "count", "trace.overhead_frac": "ratio",
}


def _pin_env(work: str) -> dict[str, str]:
    """Environment the engine reads at session build, fixed here so runs
    on one host are comparable: all cores, a heap well under physical
    RAM, workers able to import the package, scratch inside the run's
    own directory."""
    ncpu = len(os.sched_getaffinity(0))
    for key in ("SPARK_GRAFT_MASTER", "SPARK_GRAFT_INITIAL_PARTS", "SPARK_GRAFT_SF_DIR"):
        os.environ.pop(key, None)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    pinned = {
        "SPARK_GRAFT_CPUS": str(ncpu),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        ),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": tmp,
    }
    os.environ.update(pinned)
    return pinned


def _pct(values: list[float], p: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[max(0, math.ceil(p / 100 * len(s)) - 1)]


def _tail(values: list[float]) -> dict | None:
    """The highest of p99.9/p99/p95/p90/p75/p50 with at least 10 samples
    beyond it."""
    n = len(values)
    for p in (99.9, 99, 95, 90, 75, 50):
        if n - math.ceil(p / 100 * n) >= 10:
            return {"pct": p, "value": _pct(values, p), "samples": n}
    return None


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(root, n))
               for root, _dirs, names in os.walk(path) for n in names)


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers)
    to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


class Bench:
    def __init__(self, args, work: str):
        from perfbench import datagen, workloads
        from perfbench.trace import Tracer

        self.args, self.work = args, work
        self.workload = args.workload
        self.tracer = Tracer(bool(args.trace))
        tables = datagen.make_tables(args.seed, SF)
        self.rows = {n: t.num_rows for n, t in tables.items()}
        self.src = datagen.write_tables(tables, os.path.join(work, "src"))
        self.ops = workloads.ops(self.workload, args.seed, self.rows)
        self.records: list[dict] = []
        self.mismatches: list[dict] = []
        self.probe = None
        self.layer = {"gc_s": 0.0, "jit_s": 0.0, "jobs": 0, "stages": 0,
                      "tasks": 0, "failed_tasks": 0, "probe_s": 0.0}

    # -- set-up --------------------------------------------------------
    def setup(self) -> dict:
        import ballista_delta_spark.queries  # noqa: F401  (load before wrapping)
        import ballista_delta_spark.sources.delta_dml  # noqa: F401
        import ballista_delta_spark.sources.delta_stream  # noqa: F401
        import ballista_delta_spark.sources.dv  # noqa: F401
        from ballista_delta_spark import session
        from perfbench import workloads

        self.tracer.install()
        t0 = time.perf_counter()
        self.tracer.begin_op(-1)
        # JVM scratch stays in the run directory too: temp files, and no
        # hsperfdata file under the system temp directory.
        jvm_opts = (f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')} "
                    "-XX:+PerfDisableSharedMem")
        self.spark = session.get_spark(
            "perfbench", conf={"spark.driver.extraJavaOptions": jvm_opts})
        self.tracer.end_op()
        boot_s = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        if self.tracer.enabled:
            from perfbench.trace import RuntimeProbe

            self.probe = RuntimeProbe(self.spark)
        t1 = time.perf_counter()
        self.tracer.begin_op(-1)
        paths = workloads.build_fixture(
            self.spark, self.src, workloads.FIXTURE[self.workload],
            os.path.join(self.work, "fixture"),
            register=self.workload == "delta_olap",
        )
        self.tracer.end_op()
        fixture_s = time.perf_counter() - t1
        if self.workload == "delta_ingest":
            from ballista_delta_spark.sources.delta_stream import register_delta_stream_source

            register_delta_stream_source(self.spark)
        self.runner = workloads.Runner(
            self.spark, self.tracer, self.probe, paths, self.work, self.rows,
            os.path.dirname(self.src["lineitem"]),
        )
        t2 = time.perf_counter()
        for op in self.ops:
            if not op["warmup"]:
                break
            self._execute(op, timed=False)
        warmup_s = time.perf_counter() - t2
        return {
            "boot_s": boot_s, "fixture_s": fixture_s, "warmup_s": warmup_s,
            "setup_s": boot_s + fixture_s + warmup_s,
        }

    # -- the closed loop -----------------------------------------------
    def _execute(self, op: dict, timed: bool) -> None:
        from perfbench import workloads

        rec = {"i": op["i"], "type": op["type"], "kind": op["kind"],
               "shape": op["shape"], "timed": timed,
               "ok": True, "rows": workloads.input_rows(op, self.rows)}
        traced = self.probe is not None
        if traced:
            p0 = time.perf_counter()
            jobs0 = self.probe.job_ids()
            gc0, jit0 = self.probe.jvm_times()
            if timed:
                self.layer["probe_s"] += time.perf_counter() - p0
        self.tracer.begin_op(op["i"])
        t0 = time.perf_counter()
        try:
            rec["checksum"], rec["fields"] = self.runner.run(op)
        except Exception as exc:  # recorded per op; the loop goes on
            rec["ok"] = False
            first = str(exc).splitlines()[0][:300] if str(exc) else ""
            rec["error"] = f"{type(exc).__name__}: {first}"
            rec["traceback"] = traceback.format_exc()[-2000:]
        rec["latency"] = time.perf_counter() - t0
        rec["end"] = time.perf_counter()
        self.tracer.end_op()
        if traced and timed:
            p0 = time.perf_counter()
            gc1, jit1 = self.probe.jvm_times()
            new_jobs = self.probe.job_ids() - jobs0
            stages, tasks, failed = self.probe.job_shape(new_jobs)
            for k, v in (("gc_s", gc1 - gc0), ("jit_s", jit1 - jit0), ("jobs", len(new_jobs)),
                         ("stages", stages), ("tasks", tasks), ("failed_tasks", failed)):
                self.layer[k] += v
            self.layer["probe_s"] += time.perf_counter() - p0
        self.records.append(rec)

    def measure(self, seconds: float) -> float:
        """Run whole cycles until ``seconds`` have passed and the
        workload's least number of cycles is done: every window holds
        the same op mix, whatever the speed of the ops."""
        from perfbench.workloads import MIN_CYCLES

        self.tracer.counters.clear()  # per-layer counts cover the window only
        start = time.perf_counter()
        deadline = start + seconds
        cycle, done = None, 0
        for op in self.ops:
            if op["warmup"]:
                continue
            if op["cycle"] != cycle:
                if done >= MIN_CYCLES[self.workload] and time.perf_counter() >= deadline:
                    break
                cycle, done = op["cycle"], done + 1
            self._execute(op, timed=True)
        return time.perf_counter() - start

    # -- output checks -------------------------------------------------
    def check(self) -> None:
        from perfbench import oracle, workloads

        con = oracle.connect(DUCKDB_THREADS)
        names = workloads.FIXTURE[self.workload]
        replay = None
        if self.workload == "delta_ingest":
            replay = oracle.Replay(con, self.src, names)
        else:
            oracle.register_sources(con, self.src, list(self.src), as_tables=False)
        memo: dict[str, tuple] = {}
        for rec in self.records:
            op = self.ops[rec["i"]]
            if not rec["ok"]:
                continue
            if replay is not None:
                replay.apply(op, workloads.payload(op, self.rows)
                             if op["type"] in ("append", "merge") else None)
            if rec.get("checksum") is None:
                continue
            sql = (self.runner.sql_text[op["name"]] if op["type"] in ("sql", "fn")
                   else f"SELECT * FROM {op['table']} WHERE {op['where']}")
            if replay is not None or sql not in memo:
                memo[sql] = oracle.duck_checksum(con, sql, rec["fields"])
            if not oracle.matches(rec["checksum"], memo[sql], oracle.kinds(rec["fields"])):
                self.mismatches.append({"op": rec["i"], "type": op["type"],
                                        "got": list(rec["checksum"]),
                                        "want": list(memo[sql])})
        if replay is not None:
            self._check_final(con)

    def _check_final(self, con) -> None:
        """Final row count and checksum of every mutated table against
        the replayed op sequence."""
        from ballista_delta_spark.sources.delta import read_delta
        from perfbench import oracle

        tables = ["orders", "lineitem", "events"]
        if any(r["ok"] and r["type"] == "stream" for r in self.records):
            tables.append("sink")
        for name in tables:
            try:
                df = read_delta(self.spark, self.runner.tables[name])
                got = tuple(oracle.spark_checksum(df).collect()[0])
                fields = oracle.checksum_fields(df.dtypes)
                want = oracle.duck_checksum(con, f"SELECT * FROM {name}", fields)
                ok = oracle.matches(got, want, oracle.kinds(fields))
            except Exception as exc:
                got, want, ok = (f"{type(exc).__name__}: {exc}"[:300],), (), False
            if not ok:
                self.mismatches.append({"op": "final", "type": name,
                                        "got": list(got), "want": list(want)})

    # -- metrics -------------------------------------------------------
    def end_to_end(self, setup: dict, window_s: float) -> tuple[dict, dict]:
        timed = [r for r in self.records if r["timed"]]
        inf = float("inf")

        def lat(kinds=None, types=None):
            return [r["latency"] if r["ok"] else inf for r in timed
                    if (kinds is None or r["kind"] in kinds)
                    and (types is None or r["type"] in types)]

        def p50(vals):
            return min(_pct(vals, 50), window_s) if vals else None

        wall = (max(r["end"] for r in timed) - min(r["end"] - r["latency"] for r in timed)
                if timed else window_s)
        rows = sum(r["rows"] for r in timed if r["ok"])
        jvm_pid = self.spark._jvm.ProcessHandle.current().pid()
        rss = _vm_hwm_mb("self") + _vm_hwm_mb(jvm_pid)
        gated = {
            "setup_s": setup["setup_s"],
            "op_geomean_s": _shape_geomean(timed, window_s),
            "rows_per_s": rows / wall if wall > 0 else 0.0,
            "space_amp": self._space_amp(),
        }
        writes = ("append", "merge", "delete", "update", "optimize")
        failed = sum(1 for r in self.records if not r["ok"]) + len(self.mismatches)
        report = dict(gated)
        report.update({
            "op_p50_s": p50(lat()),
            "op_mean_s": statistics.fmean(lat()) if timed else None,
            "peak_rss_mb": rss,
            "query_p50_s": p50(lat(kinds=("query",))),
            "query_tail_s": _tail(lat(kinds=("query",))),
            "write_p50_s": p50(lat(types=writes)),
            "write_tail_s": _tail(lat(types=writes)),
            "stream_p50_s": p50(lat(kinds=("stream",))),
            "failed_frac": failed / max(1, len(self.records)),
            "op_tail_s": _tail(lat()),
            "ops_timed": len(timed),
            "latencies": [(r["shape"], round(r["latency"], 4), r["timed"], r["ok"])
                          for r in self.records],
            "ops_by_shape": dict(collections.Counter(r["shape"] for r in timed)),
            "window_s": window_s,
        })
        return gated, report

    def _space_amp(self) -> float | None:
        """Bytes on disk under the table directories over the live bytes
        of their snapshots (the ``sizeInBytes`` of ``describe_detail``)."""
        from ballista_delta_spark.sources.delta import DeltaTable

        disk = live = 0
        for path in self.runner.tables.values():
            if not os.path.isdir(path):
                continue
            disk += _dir_bytes(path)
            live += sum(int(a.get("size") or 0)
                        for a in DeltaTable(path).snapshot.files.values())
        return disk / live if live else None

    def per_layer(self, setup: dict) -> dict:
        tr = self.tracer
        timed_ids = {r["i"] for r in self.records if r["timed"]}
        n_ops = max(1, len(timed_ids))
        selfs = tr.self_times()
        per_name: dict[str, list[float]] = {}
        covered = 0.0
        for (name, _t0, _t1, _parent, op), st in zip(tr.spans, selfs):
            if op not in timed_ids:
                continue
            if name == "op":
                continue
            per_name.setdefault(name, []).append(st)
            covered += st

        def mean_self(name):
            v = per_name.get(name, [])
            return sum(v) / len(v) if v else 0.0

        boot = [st for (name, *_rest), st in zip(tr.spans, selfs) if name == "session.boot"]
        total_latency = sum(r["latency"] for r in self.records if r["timed"])
        c = tr.counters
        progress = [p for d in self.runner.stream_progress if d["op"] in timed_ids
                    for p in d["progress"]]
        drains = max(1, sum(1 for d in self.runner.stream_progress if d["op"] in timed_ids))

        def duration(key):
            vals = [p.get("durationMs", {}).get(key, 0) for p in progress]
            return sum(vals) / len(vals) if vals else 0.0

        log = self._log_shape()
        dv_files, dv_rows = self._dv_shape()
        spans_per_op = sum(len(v) for v in per_name.values()) / n_ops
        metrics = {
            "session.boot_s": boot[0] if boot else setup["boot_s"],
            "session.sql_s": mean_self("session.sql"),
            "queries.build_s": mean_self("queries.build"),
            "queries.build_jobs": c.get("queries.build_jobs", 0.0) / n_ops,
            "queries.plan_s": mean_self("queries.plan"),
            "queries.exec_s": mean_self("queries.exec"),
            "spark.jobs_per_op": self.layer["jobs"] / n_ops,
            "spark.stages_per_op": self.layer["stages"] / n_ops,
            "spark.tasks_per_op": self.layer["tasks"] / n_ops,
            "spark.failed_tasks": float(self.layer["failed_tasks"]),
            "jvm.gc_s": self.layer["gc_s"] / n_ops,
            "jvm.jit_s": self.layer["jit_s"] / n_ops,
            "delta.snapshot_s": mean_self("delta.snapshot"),
            "delta.read_build_s": mean_self("delta.read_build"),
            "delta.files_kept_frac": (c["delta.files_kept"] / c["delta.files_total"]
                                      if c.get("delta.files_total") else 0.0),
            "delta.commit_s": mean_self("delta.commit"),
            "delta.optimize_s": mean_self("delta.optimize"),
            "delta.log_files": float(log["log_files"]),
            "delta.log_bytes": float(log["log_bytes"]),
            "delta.checkpoints": float(log["checkpoints"]),
            "delta.data_files": float(log["data_files"]),
            "dml.merge_s": mean_self("dml.merge"),
            "dml.update_s": mean_self("dml.update"),
            "dml.delete_s": mean_self("dml.delete"),
            "dml.rows_changed_per_file_rewritten": (
                c["dml.rows_changed"] / c["dml.files_rewritten"]
                if c.get("dml.files_rewritten") else 0.0),
            "dv.files_with_dv": float(dv_files),
            "dv.deleted_rows": float(dv_rows),
            "stream.batches": sum(1 for p in progress if p.get("numInputRows", 0) > 0) / drains,
            "stream.rows": sum(p.get("numInputRows", 0) for p in progress) / drains,
            "stream.latest_offset_ms": duration("latestOffset"),
            "stream.get_batch_ms": duration("getBatch"),
            "stream.add_batch_ms": duration("addBatch"),
            "trace.coverage": covered / total_latency if total_latency else 0.0,
            "trace.spans_per_op": spans_per_op,
            "trace.overhead_frac": self._overhead(spans_per_op, n_ops, total_latency),
        }
        return metrics

    def _overhead(self, spans_per_op: float, n_ops: int, total_latency: float) -> float:
        """Time the traced run spends on tracing, per second of op
        latency: probe calls (between ops, and the job listing around
        each frame build) plus span bookkeeping."""
        from perfbench.trace import Tracer

        t = Tracer(True)
        t.begin_op(0)
        t0 = time.perf_counter()
        for _ in range(2000):
            with t.span("x"):
                pass
        per_span = (time.perf_counter() - t0) / 2000
        cost = (self.layer["probe_s"] + self.tracer.counters.get("probe_s", 0.0)
                + per_span * spans_per_op * n_ops)
        return cost / total_latency if total_latency else 0.0

    def _log_shape(self) -> dict:
        out = {"log_files": 0, "log_bytes": 0, "checkpoints": 0, "data_files": 0}
        for path in self.runner.tables.values():
            log = os.path.join(path, "_delta_log")
            if not os.path.isdir(log):
                continue
            for n in os.listdir(log):
                out["log_files"] += 1
                out["log_bytes"] += os.path.getsize(os.path.join(log, n))
                out["checkpoints"] += ".checkpoint" in n and n.endswith(".parquet")
            for root, dirs, names in os.walk(path):
                dirs[:] = [d for d in dirs if d != "_delta_log"]
                out["data_files"] += sum(n.endswith(".parquet") for n in names)
        return out

    def _dv_shape(self) -> tuple[int, int]:
        from ballista_delta_spark.sources.delta import DeltaTable

        files = rows = 0
        for path in self.runner.tables.values():
            if not os.path.isdir(os.path.join(path, "_delta_log")):
                continue
            for add in DeltaTable(path).snapshot.files.values():
                dv = add.get("deletionVector")
                if dv:
                    files += 1
                    rows += int(dict(dv).get("cardinality") or 0)
        return files, rows

    def environment(self, pinned: dict) -> dict:
        import pyspark

        with open("/proc/loadavg") as fh:
            load = fh.read().split()[:3]
        return {
            "nproc": len(os.sched_getaffinity(0)),
            "loadavg": [float(x) for x in load],
            "pyspark": pyspark.__version__,
            "java": self.spark._jvm.System.getProperty("java.version"),
            "python": platform.python_version(),
            "sf": SF, "rows": self.rows, "pinned": pinned,
        }


def _shape_geomean(timed: list[dict], cap: float) -> float:
    """Geometric mean over op shapes of each shape's median latency. Every
    shape weighs the same, whichever ops are fast or slow and however many
    cycles fit the window; a failed op counts as the whole window."""
    by_shape: dict[str, list[float]] = {}
    for r in timed:
        by_shape.setdefault(r["shape"], []).append(r["latency"] if r["ok"] else cap)
    if not by_shape:
        return cap
    logs = [math.log(max(statistics.median(v), 1e-9)) for v in by_shape.values()]
    return math.exp(statistics.fmean(logs))


def main(argv=None) -> int:
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "ballista_delta_spark", "session.py")):
        print("perfbench: ballista_delta_spark/ not found next to perfbench/; "
              "run from a full checkout", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    pinned = _pin_env(work)
    bench = None
    phases = {}
    t_start = time.perf_counter()
    try:
        bench = Bench(args, work)
        phases["inputs_s"] = time.perf_counter() - t_start
        setup = bench.setup()
        window_s = bench.measure(args.seconds)
        t0 = time.perf_counter()
        bench.check()
        phases["check_s"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        gated, report = bench.end_to_end(setup, window_s)
        layers = bench.per_layer(setup) if args.trace else None
        env = bench.environment(pinned)
        phases["report_s"] = time.perf_counter() - t0
        if args.trace:
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            bench.tracer.dump(os.path.join(
                out_dir, f"spans-{args.workload}-{args.seed}.jsonl"))
    finally:
        t0 = time.perf_counter()
        if bench is not None and getattr(bench, "spark", None) is not None:
            _stop_spark(bench.spark)
        shutil.rmtree(work, ignore_errors=True)
        phases["stop_s"] = time.perf_counter() - t0
    phases["total_s"] = time.perf_counter() - t_start

    failures = [{"op": r["i"], "shape": r["shape"], "error": r["error"],
                 "traceback": r["traceback"]}
                for r in bench.records if not r["ok"]]
    attempted = len(bench.records)
    failed = len(failures) + len(bench.mismatches)
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "setup": setup, "phases": phases, "report": report, "per_layer": layers,
        "failures": failures, "mismatches": bench.mismatches, "environment": env,
    }, default=str))
    if args.trace:
        metrics = {k: {"value": v, "unit": LAYER_UNITS[k]} for k, v in layers.items()}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in gated.items()}
    print(json.dumps({"correct": not bench.mismatches, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
