"""Span recorder for the traced run (``--trace 1``).

Spans are recorded from the benchmark's side of each layer boundary: the
harness opens one root span per op, and :meth:`Tracer.install` wraps the
public entry points of the engine's modules (plus the Delta commit, the
one private seam every write goes through) so each call becomes a child
span. Spans live in memory as ``(name, start, end, parent, op_id)``
tuples and are written out once, at exit.

A span's self time is its duration minus the part of its interval that
its children cover, so the self times along one op sum to the op's
latency. A span opened on another thread (the stream sink's
``foreachBatch`` runs on a py4j callback thread) nests under the
innermost span open on the op's own thread.
"""

from __future__ import annotations

import functools
import json
import sys
import threading
import time
from collections import defaultdict

# (module, attribute, span name). ``DeltaTable.__init__`` is a method;
# everything else is a module-level function, re-bound in every loaded
# engine module that imported it by name.
WRAPPED = [
    ("ballista_delta_spark.session", "get_spark", "session.boot"),
    ("ballista_delta_spark.session", "sql", "session.sql"),
    ("ballista_delta_spark.sources.delta", "DeltaTable.__init__", "delta.snapshot"),
    ("ballista_delta_spark.sources.delta", "read_delta", "delta.read_build"),
    ("ballista_delta_spark.sources.delta", "skip_files", "delta.skip"),
    ("ballista_delta_spark.sources.delta", "write_delta", "delta.write"),
    ("ballista_delta_spark.sources.delta", "_try_commit", "delta.commit"),
    ("ballista_delta_spark.sources.delta", "create_checkpoint", "delta.checkpoint"),
    ("ballista_delta_spark.sources.delta", "optimize", "delta.optimize"),
    ("ballista_delta_spark.sources.delta_dml", "merge_delta", "dml.merge"),
    ("ballista_delta_spark.sources.delta_dml", "update_delta", "dml.update"),
    ("ballista_delta_spark.sources.delta_dml", "delete_delta", "dml.delete"),
    ("ballista_delta_spark.sources.dv", "write_deletion_vectors", "dv.write"),
    ("ballista_delta_spark.sources.delta_stream", "write_stream_to_delta", "stream.start"),
]


class Tracer:
    """Collects spans and counters. Disabled tracers cost one attribute
    check per harness span and wrap nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[tuple[str, float, float, int, int]] = []
        self.counters: dict[str, float] = defaultdict(float)
        self.op_id = -1
        self._op_stack: list[int] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    # -- spans ---------------------------------------------------------
    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _open(self, name: str) -> int:
        st = self._stack()
        # A span on a thread with nothing open (a callback thread) nests
        # under the innermost span open on the op's own thread.
        parent = st[-1] if st else (self._op_stack[-1] if self._op_stack else -1)
        with self._lock:
            idx = len(self.spans)
            self.spans.append((name, time.perf_counter(), 0.0, parent, self.op_id))
        st.append(idx)
        return idx

    def _close(self, idx: int) -> None:
        self._stack().pop()
        name, t0, _, parent, op = self.spans[idx]
        self.spans[idx] = (name, t0, time.perf_counter(), parent, op)

    def span(self, name: str):
        return _Span(self, name)

    def begin_op(self, op_id: int) -> None:
        self.op_id = op_id
        if self.enabled:
            self._op_stack = self._stack()
            self._open("op")

    def end_op(self) -> None:
        if self.enabled:
            self._close(self._op_stack[-1])
        self._op_stack = []
        self.op_id = -1

    def count(self, name: str, value: float = 1.0) -> None:
        if self.enabled:
            self.counters[name] += value

    # -- wrapping the engine's entry points ----------------------------
    def install(self) -> None:
        if not self.enabled:
            return
        import importlib

        for mod_name, attr, span_name in WRAPPED:
            mod = importlib.import_module(mod_name)
            if "." in attr:
                cls_name, meth = attr.split(".")
                cls = getattr(mod, cls_name)
                setattr(cls, meth, self._wrap(getattr(cls, meth), span_name))
                continue
            orig = getattr(mod, attr)
            wrapped = self._wrap(orig, span_name)
            for m in list(sys.modules.values()):
                if getattr(m, "__name__", "").startswith("ballista_delta_spark"):
                    if getattr(m, attr, None) is orig:
                        setattr(m, attr, wrapped)

    def _wrap(self, fn, span_name: str):
        tracer = self
        on_result = _RESULT_HOOKS.get(span_name)

        @functools.wraps(fn)
        def inner(*args, **kwargs):
            idx = tracer._open(span_name)
            try:
                out = fn(*args, **kwargs)
            finally:
                tracer._close(idx)
            if on_result is not None:
                on_result(tracer, args, out)
            return out

        return inner

    # -- derived numbers -----------------------------------------------
    def self_times(self) -> list[float]:
        """Self time of every span: duration minus the union of its
        children's intervals (children of one parent may overlap when
        they ran on different threads)."""
        children: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for name, t0, t1, parent, _op in self.spans:
            if parent >= 0:
                children[parent].append((t0, t1))
        out = []
        for i, (name, t0, t1, _p, _op) in enumerate(self.spans):
            covered, cur_s, cur_e = 0.0, None, None
            for s, e in sorted(children.get(i, ())):
                s, e = max(s, t0), min(e, t1)
                if e <= s:
                    continue
                if cur_e is None or s > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = s, e
                else:
                    cur_e = max(cur_e, e)
            if cur_e is not None:
                covered += cur_e - cur_s
            out.append(max(0.0, (t1 - t0) - covered))
        return out

    def dump(self, path: str) -> None:
        selfs = self.self_times()
        with open(path, "w") as fh:
            for (name, t0, t1, parent, op), st in zip(self.spans, selfs):
                fh.write(json.dumps({
                    "name": name, "start": t0, "end": t1, "parent": parent,
                    "op": op, "self": st,
                }) + "\n")


class _Span:
    __slots__ = ("tracer", "name", "idx")

    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name, self.idx = tracer, name, -1

    def __enter__(self):
        if self.tracer.enabled:
            self.idx = self.tracer._open(self.name)
        return self

    def __exit__(self, *exc):
        if self.idx >= 0:
            self.tracer._close(self.idx)
        return False


def _on_skip(tracer: Tracer, args, kept) -> None:
    tracer.count("delta.files_total", len(args[0].files))
    tracer.count("delta.files_kept", len(kept))


def _on_dml(tracer: Tracer, _args, metrics) -> None:
    rows = sum(
        int(v) for k, v in metrics.items()
        if k in ("numDeletedRows", "numUpdatedRows", "numTargetRowsUpdated",
                 "numTargetRowsDeleted", "numTargetRowsInserted")
    )
    files = int(metrics.get("numRemovedFiles", metrics.get("numRewrittenFiles", 0)))
    tracer.count("dml.rows_changed", rows)
    tracer.count("dml.files_rewritten", files)


_RESULT_HOOKS = {
    "delta.skip": _on_skip,
    "dml.merge": _on_dml,
    "dml.update": _on_dml,
    "dml.delete": _on_dml,
}


class RuntimeProbe:
    """Spark status-tracker and JVM MXBean readings taken around each op
    in the traced run: jobs/stages/tasks launched, failed tasks, GC and
    JIT time."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        mf = spark._jvm.java.lang.management.ManagementFactory
        self._gcs = list(mf.getGarbageCollectorMXBeans())
        self._jit = mf.getCompilationMXBean()

    def job_ids(self) -> set[int]:
        return set(self.tracker.getJobIdsForGroup(None))

    def jvm_times(self) -> tuple[float, float]:
        gc = sum(max(0, b.getCollectionTime()) for b in self._gcs) / 1e3
        return gc, self._jit.getTotalCompilationTime() / 1e3

    def job_shape(self, job_ids) -> tuple[int, int, int]:
        """(stages, tasks, failed tasks) over ``job_ids``."""
        stages = tasks = failed = 0
        for j in job_ids:
            info = self.tracker.getJobInfo(j)
            if info is None:
                continue
            for sid in info.stageIds:
                si = self.tracker.getStageInfo(sid)
                if si is None:
                    continue
                stages += 1
                tasks += si.numTasks
                failed += si.numFailedTasks
        return stages, tasks, failed
