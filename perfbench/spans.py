"""Layer tracing from outside the engine.

The traced run swaps the engine's public layer functions for timed wrappers
(:func:`instrument`), wraps the injected transports with accumulator
counters, and reads Spark's own bookkeeping: the application status store
(stages, tasks, shuffle, spill), the SQL status store (executions) and, for
streaming drains, ``StreamingQuery.recentProgress``.  Spans live in memory
(:class:`Tracer`) and are written once at the end of the run.  Nothing in
``engine`` is modified on disk.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from collections import defaultdict

from pyspark.accumulators import AccumulatorParam


class Tracer:
    """In-memory spans: (id, name, start, end, parent, run).  Driver-side
    work is sequential (the streaming ``foreachBatch`` callback runs while
    the main thread waits), so one stack gives every span its parent."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def wrap(self, name: str, fn):
        def wrapped(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return wrapped

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def total(self, name: str) -> float:
        return sum(self.durations(name))

    def self_times(self) -> dict[str, float]:
        """Per span name: duration minus the part its child spans cover."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s["name"]] += s["end"] - s["start"] - child[s["id"]]
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            json.dump({"spans": self.spans, "self_s": self.self_times()}, f)


@contextlib.contextmanager
def patched(module, name: str, replacement):
    orig = getattr(module, name)
    setattr(module, name, replacement)
    try:
        yield
    finally:
        setattr(module, name, orig)


@contextlib.contextmanager
def instrument(tracer: Tracer):
    """Time the mode-graph builds as ``engine.app`` looks them up, and the
    session key fold as ``engine.pipeline`` looks it up.  Yields a dict that
    holds the last key set the fold returned."""
    import engine.app as app
    import engine.pipeline as pipeline

    accumulate_keys = pipeline.accumulate_keys
    last_seen: dict = {}

    def fold(seen, keys):
        with tracer.span("dedup.accumulate_keys"):
            last_seen["df"] = accumulate_keys(seen, keys)
        return last_seen["df"]

    with contextlib.ExitStack() as stack:
        for graph in ("new_patrons_graph", "updated_patrons_graph", "deleted_patrons_graph"):
            stack.enter_context(
                patched(app, graph, tracer.wrap("pipeline.graph_build", getattr(app, graph)))
            )
        stack.enter_context(patched(pipeline, "accumulate_keys", fold))
        yield last_seen


def plan_nodes(df) -> int:
    """Node count of a DataFrame's analyzed logical plan."""
    return len(df._jdf.queryExecution().analyzed().treeString().strip().splitlines())


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and every
    process under it: the Spark JVM, the Python daemon and its workers.
    Each live process adds its own time and that of the children it has
    reaped, so a worker that exits stays counted in its parent.  Time spent
    waiting for a core is not CPU time, so other tenants of the host move
    this clock far less than the wall clock; slower cores (a busy sibling
    thread, cold caches) still move it."""
    stats, children = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", "rb") as f:
                fields = f.read().rsplit(b")", 1)[1].split()
        except OSError:
            continue  # exited between listing and reading
        stats[int(d)] = fields
        children.setdefault(int(fields[1]), []).append(int(d))
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        todo += children.get(pid, [])
        if pid in stats:
            total += sum(int(x) for x in stats[pid][11:15])  # utime stime cutime cstime
    return total / _TICK


class TimedStateStore:
    """Delegating watermark store that timestamps every get/set.  Commit
    wall and CPU clocks are the batch boundaries of the closed loop (the
    runner commits once per batch), so they are kept in untraced runs too."""

    def __init__(self, inner, tracer: Tracer | None = None):
        self.inner = inner
        self.tracer = tracer
        self.commits: list[float] = []
        self.commit_cpu: list[float] = []

    def get(self) -> dict:
        with self.tracer.span("state.get") if self.tracer else contextlib.nullcontext():
            return self.inner.get()

    def set(self, state: dict) -> None:
        with self.tracer.span("state.set") if self.tracer else contextlib.nullcontext():
            self.inner.set(state)
        self.commits.append(time.perf_counter())
        self.commit_cpu.append(tree_cpu_s())


# -- transport counters (executor side, via accumulators) ---------------------

#: slots of the geocode counter vector
GEO_SLOTS = ("census_calls", "census_rows", "census_hits", "nyc_rows", "nyc_hits", "transport_s")


class _VectorParam(AccumulatorParam):
    def zero(self, value):
        return [0.0] * len(value)

    def addInPlace(self, a, b):
        return [x + y for x, y in zip(a, b)]


def geo_accumulator(sc):
    return sc.accumulator([0.0] * len(GEO_SLOTS), _VectorParam())


def counted_census(inner, acc):
    def transport(batch):
        t0 = time.perf_counter()
        out = inner(batch)
        acc.add([1.0, float(len(batch)), float(out.notna().sum()), 0.0, 0.0, time.perf_counter() - t0])
        return out

    return transport


def counted_geosupport(inner, acc):
    def geocode(house, street, zip_code):
        t0 = time.perf_counter()
        out = inner(house, street, zip_code)
        acc.add([0.0, 0.0, 0.0, 1.0, float(out is not None), time.perf_counter() - t0])
        return out

    return geocode


# -- Spark's own bookkeeping ----------------------------------------------------


def spark_snapshot(spark) -> dict:
    """Cumulative stage/task/shuffle/spill totals from the application status
    store, job and SQL-execution counts, generated classes compiled, and the
    JVM's JIT-compilation and GC times, keyed for :func:`spark_delta`."""
    sc = spark.sparkContext
    jvm = sc._jvm
    mx = jvm.java.lang.management.ManagementFactory
    store = sc._jsc.sc().statusStore()
    gw = sc._gateway
    stages = store.stageList(None, False, False, gw.new_array(gw.jvm.double, 0), None)
    snap = {"stage_ids": set(), "tasks": 0, "shuffle_read": 0, "shuffle_write": 0, "spill": 0}
    for i in range(stages.size()):
        s = stages.apply(i)
        if s.status().toString() == "SKIPPED":
            continue
        snap["stage_ids"].add((s.stageId(), s.attemptId()))
        snap["tasks"] += s.numTasks()
        snap["shuffle_read"] += s.shuffleReadBytes()
        snap["shuffle_write"] += s.shuffleWriteBytes()
        snap["spill"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
    snap["jobs"] = store.jobsList(None).size()
    snap["sql_executions"] = spark._jsparkSession.sharedState().statusStore().executionsCount()
    snap["codegen_compiles"] = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()
    snap["jit_ms"] = mx.getCompilationMXBean().getTotalCompilationTime()
    gcs = mx.getGarbageCollectorMXBeans()
    snap["gc_ms"] = sum(gcs.get(i).getCollectionTime() for i in range(gcs.size()))
    return snap


def spark_delta(before: dict, after: dict) -> dict:
    return {
        "spark.stages": len(after["stage_ids"] - before["stage_ids"]),
        "spark.tasks": after["tasks"] - before["tasks"],
        "spark.shuffle_read_bytes": after["shuffle_read"] - before["shuffle_read"],
        "spark.shuffle_write_bytes": after["shuffle_write"] - before["shuffle_write"],
        "spark.spill_bytes": after["spill"] - before["spill"],
        "spark.jobs": after["jobs"] - before["jobs"],
        "spark.sql_executions": after["sql_executions"] - before["sql_executions"],
        "codegen.compiles": after["codegen_compiles"] - before["codegen_compiles"],
        "jvm.jit_s": (after["jit_ms"] - before["jit_ms"]) / 1000,
        "jvm.gc_s": (after["gc_ms"] - before["gc_ms"]) / 1000,
    }


def stream_progress(query) -> dict:
    """Per-trigger figures from ``StreamingQuery.recentProgress``."""
    prog = [p for p in query.recentProgress if p.numInputRows > 0]
    trig = sorted(p.durationMs.get("triggerExecution", 0) for p in prog)
    state = [op for p in prog[-1:] for op in p.stateOperators]
    return {
        "triggers": len(prog),
        "trigger_ms": [p.durationMs.get("triggerExecution", 0) for p in prog],
        "rows": [p.numInputRows for p in prog],
        "stream.trigger_p50_ms": trig[len(trig) // 2] if trig else 0,
        "stream.add_batch_ms": sum(p.durationMs.get("addBatch", 0) for p in prog),
        "stream.query_planning_ms": sum(p.durationMs.get("queryPlanning", 0) for p in prog),
        "stream.wal_commit_ms": sum(
            p.durationMs.get("walCommit", 0) + p.durationMs.get("commitOffsets", 0) for p in prog
        ),
        "stream.state_rows": sum(op.numRowsTotal for op in state),
        "stream.state_bytes": sum(op.memoryUsedBytes for op in state),
    }
