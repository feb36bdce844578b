"""The workloads.  Each one is built in steps: ``setup()`` writes the
seeded inputs and opens them as DataFrames (the timed set-up), ``warm()``
runs the same code paths once, untimed, so JIT, codegen and Python workers
are hot, and every ``run_pass()`` drains the whole input in a closed loop:
the runner starts the next batch only after the previous commit.

A pass returns its wall and CPU time, the source rows it drained, its
per-batch wall and CPU times, the output-check failures and, when traced,
the per-layer figures.  CPU time is :func:`perfbench.spans.tree_cpu_s`: the
whole process tree's, read at the same boundaries as the wall clock.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from engine.app import make_avro_kinesis_sink, run_all_modes
from engine.ops.geocode import fake_census_transport, fake_geosupport
from engine.ops.state import LocalJsonStateStore
from engine.pipeline import PipelineConfig, new_patrons_graph
from engine.schemas import SINK_RECORD
from engine.streaming.incremental import parquet_stream, run_available_now
from perfbench import data, spans
from perfbench.outputs import FilePutTransport, check_records, decode_all, read_puts, self_test

@dataclass
class PassResult:
    wall_s: float
    cpu_s: float
    rows: int
    batch_s: list[float]
    batch_cpu_s: list[float]
    attempted: int
    failures: list[str]
    layers: dict = field(default_factory=dict)
    #: output figures the check measured (per-mode counts, memo hit share)
    measured: dict = field(default_factory=dict)


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def _seeded_state(path: str) -> LocalJsonStateStore:
    store = LocalJsonStateStore(path)
    store.set(
        {
            "creation_dt": data.WATERMARK_TS,
            "update_dt": data.WATERMARK_TS,
            "deletion_date": data.WATERMARK_DATE,
        }
    )
    return store


#: the fake census API misses one address in four, so every tier of the
#: cascade (census, re-parse + census, Geosupport) sees rows
CENSUS_MISS_MOD = 4


def _transports(spark, tracer):
    census, geo = fake_census_transport(match_rate_mod=CENSUS_MISS_MOD), fake_geosupport()
    if tracer is None:
        return census, geo, None
    acc = spans.geo_accumulator(spark.sparkContext)
    return spans.counted_census(census, acc), spans.counted_geosupport(geo, acc), acc


def _geo_layers(acc) -> dict:
    v = dict(zip(spans.GEO_SLOTS, acc.value))
    return {
        "geocode.census_calls": v["census_calls"],
        "geocode.census_rows": v["census_rows"],
        "geocode.census_hit_share": v["census_hits"] / v["census_rows"] if v["census_rows"] else 0.0,
        "geocode.nyc_rows": v["nyc_rows"],
        "geocode.nyc_hit_share": v["nyc_hits"] / v["nyc_rows"] if v["nyc_rows"] else 0.0,
        "geocode.transport_s": v["transport_s"],
    }


def _sink_layers(tracer, puts) -> dict:
    return {
        "sink.call_s": tracer.total("sink.call"),
        "sink.put_calls": len(puts.sizes),
        "sink.put_s": puts.put_s,
        "sink.records": len(puts.records),
        "sink.bytes": puts.bytes,
        "sink.max_put_records": max(puts.sizes, default=0),
    }


def _growth(batch_s: list[float]) -> float:
    """Mean of the last quartile of batches ÷ mean of the first, over one
    mode's full pages (its last batch is the partial one that ends it)."""
    batch_s = batch_s[:-1]
    if not batch_s:
        return 0.0
    q = max(1, len(batch_s) // 4)
    return statistics.fmean(batch_s[-q:]) / statistics.fmean(batch_s[:q])


def _check(puts, expected, reported, memo) -> tuple[list[str], dict]:
    decoded, failures = decode_all(puts.records)
    more, measured = check_records(decoded, puts.sizes, expected, reported, memo)
    return failures + more + self_test(decoded, puts.sizes, expected, reported, memo), measured


#: NEW rows go to the streaming drain as this many ordered parquet files
STREAM_FILES = 3
#: page of the traced small-page drain: NEW (about 6 100 rows) runs 3
#: batches and UPDATED (every active row, about 15 400) 7, 6 of them full.
#: Each batch costs about 3 s of fixed work on a 4-core host, so a page that
#: gives NEW and UPDATED eight batches each (750: 31 batches, 118 s) does
#: not fit in a run
TRACE_PAGE = 2_500


class PollDrain:
    """``engine.app.run_all_modes`` over the backlog at the production page
    size into the Avro sink (executor mode), with the fake census and
    Geosupport transports.

    The traced pass also drains the same backlog three more ways, so one
    trace shows where per-batch time goes: with one batch per mode (the
    backfill shape, per-batch overhead near zero), at the small
    ``TRACE_PAGE`` (many batches per mode), and, for the NEW rows, through
    Structured Streaming (``run_available_now`` + ``stream_dedup`` +
    ``new_patrons_graph``, one parquet file per trigger)."""

    #: a pass is four batches of about 3 s each; a second timed pass would
    #: take a run past a minute
    min_passes = 1

    def __init__(self, spark, seed, work):
        self.spark, self.seed, self.work = spark, seed, work
        self.cfg = PipelineConfig(salt=data.SALT)

    def setup(self) -> None:
        """Seeded order/customer tables through ``_sierra_from_orders``, with
        the pre-existing patrons' creation re-timed before the seeded
        watermark, materialized as the parquet table the runner pages (the
        poller's source is a database table, not a Spark join)."""
        from queries.pipeline_modes import _sierra_from_orders

        spark, d = self.spark, fresh_dir(os.path.join(self.work, "input"))
        self.backlog = data.write_patron_backlog(d, self.seed)
        self.expected = self.backlog.expected_mode_of()
        self.memo = self.backlog.memo_hits()
        sierra = _sierra_from_orders(spark, d)
        roles = spark.createDataFrame(self.backlog.roles)
        active_path = os.path.join(d, "active")
        (
            sierra.join(F.broadcast(roles), sierra.patron_id_plaintext == roles.custkey)
            .withColumn(
                "creation_timestamp",
                F.when(F.col("is_new"), F.col("creation_timestamp")).otherwise(
                    F.col("creation_timestamp") - F.expr("INTERVAL 20 YEARS")
                ),
            )
            .drop("custkey", "is_new")
            .write.parquet(active_path)
        )
        self.active = spark.read.parquet(active_path)
        self.deleted = spark.read.parquet(os.path.join(d, "deleted.parquet"))
        self.patron_info = spark.read.schema(SINK_RECORD).parquet(os.path.join(d, "patron_info.parquet"))

    def summary(self) -> dict:
        return self.backlog.summary()

    def warm(self) -> tuple[int, list[str]]:
        """One full production pass, checked like every other: after a
        shorter warm-up the first pass still spends a third more CPU on JIT
        compilation than the passes after it."""
        res = self.run_pass()
        return res.attempted, res.failures

    def _drain(self, cfg, tracer, out):
        store = spans.TimedStateStore(_seeded_state(os.path.join(fresh_dir(out), "state", "s.json")), tracer)
        transport = FilePutTransport(fresh_dir(os.path.join(out, "puts")))
        sink = make_avro_kinesis_sink(transport)
        census, geo, acc = _transports(self.spark, tracer)
        if tracer is not None:
            sink = tracer.wrap("sink.call", sink)
        with spans.instrument(tracer) if tracer else contextlib.nullcontext() as inst:
            t0, c0 = time.perf_counter(), spans.tree_cpu_s()
            with tracer.span("pipeline.drain") if tracer else contextlib.nullcontext():
                report = run_all_modes(
                    self.spark, cfg, store,
                    active_source=self.active, deleted_source=self.deleted, patron_info=self.patron_info,
                    sink=sink, census=census, geosupport=geo, now=data.RUN_NOW,
                )
            wall, cpu = time.perf_counter() - t0, spans.tree_cpu_s() - c0
        modes = {"new": report.new, "updated": report.updated, "deleted": report.deleted}
        puts = read_puts(transport.out_dir)
        failures, measured = _check(puts, self.expected, {m: s.rows_out for m, s in modes.items()}, self.memo)
        failures += [f"{m}: read 0 rows" for m, s in modes.items() if s.rows_in == 0]
        marks, cpu_marks = [t0] + store.commits, [c0] + store.commit_cpu
        batch_s = [b - a for a, b in zip(marks, marks[1:])]
        batch_cpu_s = [b - a for a, b in zip(cpu_marks, cpu_marks[1:])]
        res = PassResult(
            wall, cpu, sum(s.rows_in for s in modes.values()), batch_s, batch_cpu_s,
            len(batch_s) + 1, failures, measured=measured,
        )
        if tracer is not None:
            rows_out = sum(s.rows_out for s in modes.values())
            res.layers.update(
                {
                    "pipeline.batches": len(batch_s),
                    "pipeline.graph_build_s": tracer.total("pipeline.graph_build"),
                    "pipeline.runner_self_s": tracer.self_times().get("pipeline.drain", 0.0),
                    # within UPDATED, the mode that reads every active row
                    "pipeline.batch_growth_ratio": _growth(
                        batch_s[report.new.batches : report.new.batches + report.updated.batches]
                    ),
                    "dedup.accumulate_keys_s": tracer.total("dedup.accumulate_keys"),
                    "dedup.seen_plan_nodes": spans.plan_nodes(inst["df"]),
                    "dedup.drop_share": 1 - rows_out / res.rows,
                    "memo.hit_share": measured["memo_hit_share"],
                    "state.get_s": tracer.total("state.get"),
                    "state.set_s": tracer.total("state.set"),
                    "state.commits": len(store.commits),
                    **_geo_layers(acc),
                    **_sink_layers(tracer, puts),
                }
            )
        return res

    def run_pass(self, tracer=None) -> PassResult:
        if tracer is None:
            res = self._drain(self.cfg, None, os.path.join(self.work, "pass"))
            self.untraced_wall = res.wall_s
            return res
        snap = spans.spark_snapshot(self.spark)
        res = self._drain(self.cfg, tracer, os.path.join(self.work, "pass"))
        res.layers.update(spans.spark_delta(snap, spans.spark_snapshot(self.spark)))
        res.layers["pipeline.spark_jobs_per_batch"] = res.layers["spark.jobs"] / len(res.batch_s)

        # The same rows as one batch per mode (the backfill shape) and at
        # the small TRACE_PAGE.  Wall time against batch count at fixed rows
        # gives the per-batch fixed cost; its share of the production drain
        # is the part a per-batch fix can remove.  The small-page drain has
        # a tracer of its own, so its spans stay out of the production totals.
        one = self._drain(PipelineConfig(salt=data.SALT, batch_size=10 * res.rows), None,
                          os.path.join(self.work, "one_batch"))
        small = self._drain(PipelineConfig(salt=data.SALT, batch_size=TRACE_PAGE),
                            spans.Tracer(f"{tracer.run_id}-small"), os.path.join(self.work, "small_page"))
        for extra in (one, small):
            res.failures += extra.failures
            res.attempted += extra.attempted
        # key-set size and in-mode growth need many folds: the production
        # drain has four batches, the small-page drain about eleven
        for k in ("pipeline.batch_growth_ratio", "dedup.seen_plan_nodes"):
            res.layers[k] = small.layers[k]
        res.layers["pipeline.small_page_batches"] = len(small.batch_s)
        per_batch = (small.wall_s - one.wall_s) / (len(small.batch_s) - len(one.batch_s))
        res.layers["pipeline.one_batch_wall_s"] = one.wall_s
        res.layers["pipeline.batch_fixed_s"] = per_batch
        res.layers["pipeline.fixed_share"] = len(res.batch_s) * per_batch / self.untraced_wall

        stream_layers, stream_failures = self._stream()
        res.layers.update(stream_layers)
        res.failures += stream_failures
        res.attempted += 1
        return res

    def _stream(self) -> tuple[dict, list[str]]:
        """Drain the NEW rows as ordered parquet files through the engine's
        Structured Streaming path into the same sink, one file per trigger."""
        new = (
            self.active.filter(F.col("creation_timestamp") >= F.lit(data.WATERMARK_TS))
            .orderBy("creation_timestamp", "display_order")
            .toArrow()
        )
        src = fresh_dir(os.path.join(self.work, "stream", "src"))
        _write_split(new, src, STREAM_FILES)
        transport = FilePutTransport(fresh_dir(os.path.join(self.work, "stream", "puts")))
        engine_sink = make_avro_kinesis_sink(transport)
        emitted = []

        def sink(df, batch_id):
            emitted.append(engine_sink(df, batch_id))

        census, geo, _ = _transports(self.spark, None)
        query = run_available_now(
            parquet_stream(self.spark, src, self.spark.read.parquet(src).schema, max_files_per_trigger=1),
            lambda batch: new_patrons_graph(batch, self.cfg, census=census, geosupport=geo),
            sink,
            os.path.join(self.work, "stream", "checkpoint"),
            dedup_keys=["patron_id_plaintext"],
            ts_col="creation_timestamp",
        )
        prog = spans.stream_progress(query)
        puts = read_puts(transport.out_dir)
        expected = {data.sha_hex(str(i)): "new" for i in self.backlog.new_ids}
        failures, _ = _check(puts, expected, {"new": sum(emitted)}, set())
        if prog["triggers"] != STREAM_FILES:
            failures.append(f"{prog['triggers']} triggers for {STREAM_FILES} files")
        layers = {k: v for k, v in prog.items() if k.startswith("stream.")}
        layers["stream.triggers"] = prog["triggers"]
        layers["stream.rows"] = sum(prog["rows"])
        return layers, [f"stream: {f}" for f in failures]


def _write_split(table, out_dir: str, parts: int) -> None:
    """Write ``table`` (sorted by creation time) as ``parts`` files, cutting
    only where the timestamp changes so a patron's repeat rows share a file.
    Files are written in order, so modification time follows event time."""
    # keep the timestamps instants (Spark TIMESTAMP, not TIMESTAMP_NTZ)
    table = table.cast(
        pa.schema(
            [
                pa.field(f.name, pa.timestamp("us", tz="UTC")) if pa.types.is_timestamp(f.type) else f
                for f in table.schema
            ]
        )
    )
    ts = table["creation_timestamp"].to_numpy()
    cuts = [0]
    for k in range(1, parts):
        i = int(len(ts) * k / parts)
        while 0 < i < len(ts) and ts[i] == ts[i - 1]:
            i += 1
        cuts.append(i)
    cuts.append(len(ts))
    for k, (a, b) in enumerate(zip(cuts, cuts[1:])):
        pq.write_table(table.slice(a, b - a), os.path.join(out_dir, f"part-{k:04d}.parquet"))


class OperatorPack:
    """The frozen ``bench.HEADLINE`` queries, each collected to the driver
    (``toPandas``, Arrow-backed) with driver-side build, Catalyst planning
    (forced ``executedPlan``) and execution timed apart.  After its timer
    stops, every result of every pass is compared with its DuckDB twin."""

    #: each query is timed in at least this many passes and its cost is the
    #: least it took: every pass compiles a few hundred new classes, and a
    #: stretch of one warm pass can run a fifth slower than in the next
    min_passes = 2

    def __init__(self, spark, seed, work):
        self.spark, self.seed = spark, seed
        self.dir = fresh_dir(os.path.join(work, "tables"))

    def setup(self) -> None:
        from bench import HEADLINE
        from queries import SPARK_QUERIES

        self.rows = data.write_pack_tables(self.dir, self.seed)
        self.queries = {name: SPARK_QUERIES[name] for name in HEADLINE}

    def summary(self) -> dict:
        return {"table_rows": self.rows, "queries": len(self.queries), "sf": data.PACK_SF}

    def warm(self) -> tuple[int, list[str]]:
        """Run every DuckDB twin once, then one checked pass."""
        from queries import ORACLE_SQL
        from tools.check_oracle import duck_con

        con = duck_con(self.dir)
        try:
            self.expected = {n: con.execute(ORACLE_SQL[n]).df() for n in self.queries if n in ORACLE_SQL}
        finally:
            con.close()
        res = self.run_pass()
        return res.attempted, res.failures

    def run_pass(self, tracer=None) -> PassResult:
        """Every query once; each query execution is a batch."""
        from tools.check_oracle import compare

        snap = spans.spark_snapshot(self.spark) if tracer else None
        span = tracer.span if tracer else (lambda name: contextlib.nullcontext())
        batch_s, batch_cpu_s, failures = [], [], []
        for name, fn in self.queries.items():
            t0, c0 = time.perf_counter(), spans.tree_cpu_s()
            with span(f"pack.{name}"):
                with span(f"pack.{name}.build"):
                    df = fn(self.spark, self.dir)
                with span(f"pack.{name}.plan"):
                    df._jdf.queryExecution().executedPlan()
                with span(f"pack.{name}.exec"):
                    got = df.toPandas()
            batch_s.append(time.perf_counter() - t0)
            batch_cpu_s.append(spans.tree_cpu_s() - c0)
            self.spark.catalog.clearCache()
            if name in self.expected:
                ok, msg = compare(name, got, self.expected[name])
                if not ok:
                    failures.append(f"{name}: {msg}")
        # the pass is its queries: the result checks run outside their clocks
        res = PassResult(
            sum(batch_s), sum(batch_cpu_s), self.rows, batch_s, batch_cpu_s, len(batch_s), failures
        )
        if tracer is None:
            return res
        for name in self.queries:
            parts = [tracer.total(f"pack.{name}.{p}") for p in ("build", "plan", "exec")]
            res.layers.update({f"pack.{name}.{p}_s": v for p, v in zip(("build", "plan", "exec"), parts)})
            whole = tracer.total(f"pack.{name}")
            if abs(sum(parts) - whole) > 0.05 * whole:
                failures.append(f"{name}: build+plan+exec {sum(parts):.3f}s vs wall {whole:.3f}s")
        res.layers.update(spans.spark_delta(snap, spans.spark_snapshot(self.spark)))
        return res


#: Sizes keep one run of each workload near 55 s on a 4-core host: the
#: poll drain is four production batches (NEW 1, UPDATED 2, DELETED 1).
WORKLOADS = {"poll_drain": PollDrain, "operator_pack": OperatorPack}
