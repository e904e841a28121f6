"""The benchmark's own tests, at sf0.001 with the shortest window.

Run from the repository root: ``python -m pytest perfbench/tests -q``.
Full benchmark runs happen in subprocesses (each boots its own JVM);
the scale is lowered there by patching ``run.SF``.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import datagen, oracle, run, workloads  # noqa: E402

TEST_SF = 0.001
BENCHMARK = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def _run(argv: list[str], prelude: str = "") -> tuple[dict, dict]:
    """Run the benchmark at TEST_SF in a subprocess; returns the report
    line and the result line."""
    code = (
        "import sys; sys.path.insert(0, %r)\n"
        "import perfbench.run as r\n"
        "r.SF = %r\n%s\n"
        "sys.exit(r.main(%r))\n" % (ROOT, TEST_SF, prelude, argv)
    )
    proc = subprocess.run(
        [sys.executable, "-c", code], cwd=ROOT, capture_output=True, text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


def _args(workload: str, trace: int) -> list[str]:
    return ["--workload", workload, "--seed", "3", "--seconds", "0.1",
            "--trace", str(trace)]


def test_benchmark_json_matches_the_program():
    assert BENCHMARK["command"] == ["python3", "perfbench/run.py"]
    assert {w["name"] for w in BENCHMARK["workloads"]} == set(workloads.WORKLOADS)
    assert {m["name"]: m["unit"] for m in BENCHMARK["end_to_end"]} == run.END_TO_END_UNITS
    assert {m["name"]: m["unit"] for m in BENCHMARK["per_layer"]} == run.LAYER_UNITS


@pytest.mark.parametrize("workload", workloads.WORKLOADS)
def test_same_seed_same_inputs_and_ops(workload):
    rows = datagen.table_rows(TEST_SF)
    a = workloads.ops(workload, 5, rows)
    assert a == workloads.ops(workload, 5, rows)
    assert a != workloads.ops(workload, 6, rows)
    for op in a[:20]:
        if op["type"] in ("append", "merge"):
            assert workloads.payload(op, rows).equals(workloads.payload(op, rows))
    t1, t2 = datagen.make_tables(5, TEST_SF), datagen.make_tables(5, TEST_SF)
    assert all(t1[n].equals(t2[n]) for n in t1)


def test_end_to_end_metrics_emitted_with_units():
    report, result = _run(_args("delta_olap", 0))
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    assert set(result["metrics"]) == set(run.END_TO_END_UNITS)
    for name, m in result["metrics"].items():
        assert m["unit"] == run.END_TO_END_UNITS[name]
        assert isinstance(m["value"], float) and m["value"] > 0
    assert report["report"]["failed_frac"] == 0.0
    assert report["environment"]["pinned"]["SPARK_GRAFT_CPUS"] == str(
        len(os.sched_getaffinity(0)))


def test_traced_run_emits_per_layer_metrics():
    report, result = _run(_args("delta_ingest", 1))
    assert result["correct"] is True and result["failed"] == 0
    assert set(result["metrics"]) == set(run.LAYER_UNITS)
    for name, m in result["metrics"].items():
        assert m["unit"] == run.LAYER_UNITS[name]
    m = {k: v["value"] for k, v in result["metrics"].items()}
    # every ingest op type ran and reached its layer
    for name in ("dml.merge_s", "dml.update_s", "dml.delete_s", "delta.commit_s",
                 "delta.optimize_s", "session.boot_s", "queries.exec_s"):
        assert m[name] > 0, name
    assert m["stream.batches"] >= 1 and m["stream.rows"] > 0
    assert m["dv.files_with_dv"] >= 1 and m["dv.deleted_rows"] >= 1
    # layer spans account for the op latency, never more
    assert 0.5 < m["trace.coverage"] <= 1.0 + 1e-9
    assert set(report["report"]) >= set(run.END_TO_END_UNITS)


def test_traced_olap_run_reaches_the_read_and_query_layers():
    _report, result = _run(_args("delta_olap", 1))
    assert result["correct"] is True and result["failed"] == 0
    m = {k: v["value"] for k, v in result["metrics"].items()}
    for name in ("session.sql_s", "queries.build_s", "queries.plan_s", "queries.exec_s",
                 "delta.read_build_s", "spark.jobs_per_op"):
        assert m[name] > 0, name
    # join_interval_overlap launches a job while its frame is built
    assert m["queries.build_jobs"] > 0
    # selective reads skip files, full reads keep them all
    assert 0 < m["delta.files_kept_frac"] < 1
    assert m["delta.commit_s"] == 0 and m["dml.merge_s"] == 0
    assert 0 < m["trace.overhead_frac"] < 1


def test_output_check_catches_a_corrupted_expected_hash():
    corrupt = (
        "import perfbench.oracle as o\n"
        "_orig = o.duck_checksum\n"
        "o.duck_checksum = lambda *a: (lambda t: (t[0] + 1,) + t[1:])(_orig(*a))\n"
    )
    report, result = _run(_args("delta_olap", 0), prelude=corrupt)
    assert result["correct"] is False
    queries = sum(1 for r in report["report"]["latencies"]
                  if r[0].split(":")[0] in ("sql", "read", "fn"))
    assert result["failed"] == len(report["mismatches"]) == queries
    assert report["report"]["failed_frac"] == 1.0


def test_checksum_agrees_with_duckdb_on_every_column_kind():
    con = oracle.connect(1)
    sql = ("SELECT 1::BIGINT AS i, 2.5::DOUBLE AS f, 'x' AS s, "
           "TIMESTAMP '2024-01-01 00:00:01.5' AS t, DATE '2024-01-02' AS d")
    fields = [("i", "int"), ("f", "float"), ("s", "str"), ("t", "ts"), ("d", "date")]
    want = oracle.duck_checksum(con, sql, fields)
    kinds = oracle.kinds(fields)
    assert oracle.matches(want, want, kinds)
    assert not oracle.matches((want[0] + 1,) + want[1:], want, kinds)
    # 'x' -> md5 prefix 9dd4e461 -> 2648999009
    assert int(want[6]) == 0x9DD4E461


def test_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", *_args("delta_olap", 0)],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
