"""The workloads: ingest (backlog export, then incremental runs) and lake queries.

Each workload drives the package only through its public entry points
(`Collector.run`, `QUERIES[name]`, the `reader` API, `sources.parquet`)
and checks every operation's output independently (see `checks`).

Protocol, shared by all: `setup(rep)` builds fresh inputs and state and
is repeated (the last repetition is kept); `warm()` runs one untimed,
checked operation so JIT compilation and Python-worker start-up are not
timed; `op(i, traced)` runs one timed operation and checks it.
"""

from __future__ import annotations

import glob
import os
import shutil
import statistics
import time

import numpy as np
import pyarrow as pa

from checks import check_topic, duck_connection, files_size, matches_oracle, topic_files
from spool import (
    ENVELOPE_DDL,
    JSON_TOPIC,
    MSGPACK_TOPIC,
    EventSource,
    TopicStream,
    write_spool_file,
)
from tracing import ProgressListener, SqlMetrics, install_ingest_spans, install_source_spans, job_counts

FORMATS = {JSON_TOPIC: "json", MSGPACK_TOPIC: "msgpack"}


class Workload:
    name = ""
    min_ops = 1  # timed operations per run, at the least

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.bytes_per_row: list[float] = []
        self.layer_sums: dict[str, float] = {}
        self.traced_ops = 0

    def collector(self, root: str, skip_dedup: bool, spool="spool", ckpt="ckpt", sink="sink"):
        """A Collector over a file-stream spool (`<root>/<spool>/<topic>`)
        writing to `<root>/<sink>`, checkpointing in `<root>/<ckpt>`."""
        from redpanda_to_parquet_writer_spark.collector import Collector
        from redpanda_to_parquet_writer_spark.config import EngineConfig

        cfg = EngineConfig(
            output_dir=f"{root}/{sink}",
            checkpoint_dir=f"{root}/{ckpt}",
            skip_dedup=skip_dedup,
            skip_validation=False,
            master=self.ctx.master,
            shuffle_partitions=self.ctx.nproc,
        )

        def source(topic, resume_offsets):
            return self.spark.readStream.schema(ENVELOPE_DDL).parquet(f"{root}/{spool}/{topic}")

        return Collector(self.spark, cfg, source)

    def record(self, problems: list[str]) -> None:
        """One checked operation: failed when any check found a problem."""
        self.attempted += 1
        if problems:
            self.failed += 1
            self.problems.extend(problems)

    def add(self, name: str, value: float) -> None:
        self.layer_sums[name] = self.layer_sums.get(name, 0.0) + value

    def streams(self, topics) -> dict[str, TopicStream]:
        rng = np.random.default_rng(self.ctx.seed)
        src = EventSource(self.ctx.data_dir)
        return {t: TopicStream(t, FORMATS[t], src, rng) for t in topics}

    def layers(self) -> dict[str, float]:
        """Per-layer values per traced operation."""
        n = max(self.traced_ops, 1)
        return {k: v / n for k, v in self.layer_sums.items()}

    def e2e(self) -> dict[str, float]:
        return {"sink_bytes_per_row": statistics.median(self.bytes_per_row)}


class IngestIncremental(Workload):
    """The reference's lifecycle on one sink. Set-up is the one-time
    export: a JSON backlog drained by one `Collector.run` with the default
    config (dedup off). The timed loop is incremental mode, closed loop,
    one caller: append a small increment to each of two skewed topics
    (JSON, and a smaller MessagePack one), a seed-chosen share of it
    re-delivered, then run a second collector, dedup and validation on,
    against the growing sink."""

    name = "ingest_incremental"
    min_ops = 3
    topics = (JSON_TOPIC, MSGPACK_TOPIC)
    HISTORY = {JSON_TOPIC: 10_000}
    INCREMENT = {JSON_TOPIC: 2_000, MSGPACK_TOPIC: 500}

    def setup(self, rep: int) -> None:
        self.root = f"{self.ctx.work}/setup{rep}"
        self.stream = self.streams(self.INCREMENT)
        # fixed for the run, drawn from the seed
        self.share = float(np.random.default_rng(self.ctx.seed + 1).uniform(0.05, 0.2))
        for topic, rows in self.HISTORY.items():
            write_spool_file(self.stream[topic].rows(rows), f"{self.root}/backlog/{topic}", "history")
        export = self.collector(self.root, skip_dedup=True, spool="backlog", ckpt="ckpt-backlog")
        export.run(list(self.HISTORY), samples=self.samples())
        self.coll = self.collector(self.root, skip_dedup=False)
        self.step = 0

    def samples(self) -> dict[str, list[bytes]]:
        return {t: s.samples() for t, s in self.stream.items()}

    def _increment(self, i: int, traced: bool) -> float:
        self.step += 1
        redelivered = 0
        for topic, rows in self.INCREMENT.items():
            s = self.stream[topic]
            committed = s.produced
            batch = [s.rows(rows), s.redeliver(round(rows * self.share), committed)]
            redelivered += batch[1].num_rows
            write_spool_file(pa.concat_tables(batch), f"{self.root}/spool/{topic}", f"inc{self.step:05d}")
        sink = f"{self.root}/sink"
        before = {f for t in self.topics for f in topic_files(sink, t)}
        dt = self.run_collector(self.coll, i, traced)
        # every produced key in the sink exactly once: re-deliveries dropped
        self.record([p for t, s in self.stream.items() for p in check_topic(sink, t, s.keys())])
        new = sorted({f for t in self.topics for f in topic_files(sink, t)} - before)
        nbytes, rows = files_size(new)
        self.bytes_per_row.append(nbytes / max(rows, 1))
        if traced:
            self.add("streaming.sink.files_written", len(new))
            self.add("streaming.sink.bytes_written", nbytes)
            self.add("streaming.sink.rows_dropped_dedup", redelivered)
        return dt

    def run_collector(self, collector, i: int, traced: bool) -> float:
        """One timed `Collector.run`; when traced, also the layer counters."""
        sc = self.spark.sparkContext
        samples = self.samples()
        if not traced:
            t0 = time.perf_counter()
            collector.run(list(self.topics), samples=samples)
            return time.perf_counter() - t0
        tracer = self.ctx.tracer
        tracer.run_id = i
        install_ingest_spans(tracer)
        listener = ProgressListener()
        self.spark.streams.addListener(listener)
        sql = SqlMetrics(self.spark)
        group = f"perfbench-op{i}"
        sc.setJobGroup(group, f"perfbench {self.name} op {i}")
        try:
            t0 = time.perf_counter()
            collector.run(list(self.topics), samples=samples)
            dt = time.perf_counter() - t0
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            tracer.uninstall()
            listener.settle()
            self.spark.streams.removeListener(listener)
        batches, runs = listener.drain()
        self.traced_ops += 1
        phases = {
            "add_batch_ms": "addBatch",
            "trigger_ms": "triggerExecution",
            "latest_offset_ms": "latestOffset",
            "query_planning_ms": "queryPlanning",
            "wal_commit_ms": "walCommit",
            "commit_offsets_ms": "commitOffsets",
        }
        self.add("streaming.ingest.batches", len(batches))
        self.add("streaming.sink.rows_in", sum(b["rows"] for b in batches))
        for metric, key in phases.items():
            self.add(f"streaming.ingest.{metric}", sum(b["duration_ms"].get(key, 0) for b in batches))
        totals = tracer.totals({i})
        span = lambda name, field="s": totals.get(name, {}).get(field, 0.0)  # noqa: E731
        self.add("streaming.ingest.prepare_s", span("streaming.ingest.prepare"))
        self.add("streaming.ingest.batch_self_s", span("streaming.ingest.batch", "self_s"))
        self.add("operators.decode.infer_schema_s", span("operators.decode.infer_schema"))
        self.add("streaming.sink.write_s", span("streaming.sink.write"))
        self.add("streaming.sink.merge_dedup_s", span("streaming.sink.merge_dedup"))
        self.add("streaming.sink.dedup_frame_s", span("streaming.sink.dedup_frame"))
        self.add("streaming.sink.resume_scan_s", span("streaming.sink.resume_scan"))
        self.add(
            "collector.self_s",
            span("collector.run", "self_s") + span("collector.run_topic", "self_s"),
        )
        self.add("collector.quiesce_wait_s", span("collector.quiesce_wait"))
        self.add("operators.validate.consistency_s", span("operators.validate.consistency"))
        for k, v in job_counts(sc, [group, *runs]).items():
            self.add(f"spark.{k}", v)
        udf = sql.collect()
        self.add("python_udf.rows", udf["python_rows"])
        self.add("python_udf.bytes", udf["python_bytes"])
        return dt

    def warm(self) -> None:
        self._increment(-1, False)
        self.bytes_per_row.clear()

    def op(self, i: int, traced: bool) -> float:
        return self._increment(i, traced)

    def describe(self) -> dict:
        return {
            "history_rows": sum(self.HISTORY.values()),
            "rows_per_op": sum(self.INCREMENT.values()),
            "redelivered_share": round(self.share, 4),
        }


# -- lake queries ---------------------------------------------------------------
FAMILIES = {
    "relational": ["pricing_summary", "revenue_by_region", "offset_gap_check"],
    "text": ["docs_dedup_clusters"],
    "ann": ["ann_pq_adc_topk"],
    "media": ["multimodal_jpeg_baseline_roundtrip"],
}
FAMILY_ORDER = ["reader", *FAMILIES]


def _call(_key, fn, *args, **kwargs):
    """The untraced `phase`: just the call."""
    return fn(*args, **kwargs)


class LakeQueries(Workload):
    """The reader program plus analytics: a fixed, ordered list of five
    query families per pass, closed loop with one client."""

    name = "lake_queries"
    LAKE_ROWS = 4_000
    RESENT = 200  # content duplicates in the lake (fresh offsets)
    TYPED = 1_000  # rows typed_rows materialises

    def __init__(self, ctx):
        super().__init__(ctx)
        self.family_s: dict[str, list[float]] = {}
        self._planning_ms = 0.0  # Catalyst time of the traced family so far

    def setup(self, rep: int) -> None:
        root = f"{self.ctx.work}/setup{rep}"
        s = self.streams([JSON_TOPIC])[JSON_TOPIC]
        rows = pa.concat_tables([s.rows(self.LAKE_ROWS), s.resend(self.RESENT)])
        write_spool_file(rows, f"{root}/spool/{JSON_TOPIC}", "lake")
        self.lake = f"{root}/lake"
        self.collector(root, skip_dedup=True, sink="lake").run([JSON_TOPIC], samples={JSON_TOPIC: s.samples()})
        self.rows_by_date = self._rows_by_date(f"{root}/spool/{JSON_TOPIC}/lake.parquet")
        self.date = sorted(self.rows_by_date)[self.ctx.seed % len(self.rows_by_date)]

    @staticmethod
    def _rows_by_date(spool_file: str) -> dict[str, int]:
        """Rows per event date (UTC) in a spool file, counted with pyarrow."""
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        t = pq.read_table(spool_file)
        days = pc.cast(pc.cast(t["kafka_timestamp"], pa.timestamp("ms")), pa.date32())
        counts = pc.value_counts(days).to_pylist()
        return {str(c["values"]): c["counts"] for c in counts}

    # -- one pass ---------------------------------------------------------------
    def reader_family(self, phase, check: bool) -> None:
        """The reader program: batch loading by date and for all dates,
        profiling, typed rows, and a content dedup that writes a snapshot."""
        from redpanda_to_parquet_writer_spark import reader

        by_date = phase("load_topics_batch", reader.load_topics_batch, self.spark, self.lake, date=self.date)
        day = phase("analyze_table", reader.analyze_table, by_date[JSON_TOPIC].dataframe)
        every = phase("load_topics_batch", reader.load_topics_batch, self.spark, self.lake)
        whole = phase("analyze_table", reader.analyze_table, every[JSON_TOPIC].dataframe)
        typed = phase(
            "typed_rows", reader.typed_rows, every[JSON_TOPIC].dataframe, every[JSON_TOPIC].sec_type,
            limit=self.TYPED, required=("symbol",),
        )
        dedup = phase("deduplicate_table", reader.deduplicate_table, self.spark, self.lake, JSON_TOPIC)
        if check:
            total = sum(self.rows_by_date.values())
            expect = {
                "analyze_table(date)": (day.n_rows, self.rows_by_date[self.date]),
                "analyze_table(all)": (whole.n_rows, total),
                "typed_rows": (len(typed), self.TYPED),
                "deduplicate_table": (
                    dedup,
                    {"before": total, "after": total - self.RESENT, "removed": self.RESENT},
                ),
            }
            for what, (got, want) in expect.items():
                self.record([] if got == want else [f"reader {what}: {got} != {want}"])

    def drop_snapshot(self) -> None:
        """Record the dedup snapshot's bytes per row, then delete it, so
        every pass sees the same lake."""
        (snapshot,) = glob.glob(f"{self.lake}/{JSON_TOPIC}__dedup_*")
        nbytes, rows = files_size(topic_files(self.lake, os.path.basename(snapshot)))
        self.bytes_per_row.append(nbytes / max(rows, 1))
        shutil.rmtree(snapshot)

    def warm(self) -> None:
        """The check pass: every reader call against pyarrow counts and
        every registry query against its DuckDB oracle (untimed)."""
        from redpanda_to_parquet_writer_spark.plans import ORACLES, QUERIES

        self.reader_family(_call, check=True)
        self.drop_snapshot()
        duck = duck_connection(self.ctx.data_dir)
        try:
            for name in (n for names in FAMILIES.values() for n in names):
                try:
                    diff = matches_oracle(QUERIES[name](self.spark, self.ctx.data_dir), duck, ORACLES[name])
                except Exception as exc:  # noqa: BLE001 - a failing query is a failed check
                    diff = f"{type(exc).__name__}: {str(exc).splitlines()[0][:200]}"
                self.record([] if diff is None else [f"{name}: {diff}"])
        finally:
            duck.close()
        self.bytes_per_row.clear()

    def op(self, i: int, traced: bool) -> float:
        total = 0.0
        for fam in FAMILY_ORDER:
            if traced:
                dt = self._traced_family(i, fam)
            else:
                dt = self._family(fam, _call)
                self.family_s.setdefault(fam, []).append(dt)
            if fam == "reader":
                self.drop_snapshot()
            total += dt
        self.attempted += 1
        return total

    def _family(self, fam: str, phase) -> float:
        t0 = time.perf_counter()
        if fam == "reader":
            self.reader_family(phase, check=False)
        else:
            for name in FAMILIES[fam]:
                self._query(name, phase)
        return time.perf_counter() - t0

    def _query(self, name: str, phase) -> None:
        """Build the plan and run it into the noop sink; build-time jobs
        are inside the timing."""
        from redpanda_to_parquet_writer_spark.plans import QUERIES

        df = phase("build", QUERIES[name], self.spark, self.ctx.data_dir)
        if phase is not _call:
            phase("plan", self._plan, df)
        phase("exec", lambda: df.write.mode("overwrite").format("noop").save())

    def _plan(self, df) -> None:
        """Plan the query and add its Catalyst phase times (analysis,
        optimization, planning) from its own QueryExecution's tracker."""
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        conv = self.spark._jvm.scala.jdk.javaapi.CollectionConverters
        phases = conv.asJava(qe.tracker().phases())
        self._planning_ms += float(sum(phases[k].durationMs() for k in phases.keySet()))

    def _traced_family(self, i: int, fam: str) -> float:
        """Run one family with spans, job groups and SQL metrics on;
        returns its time, excluding the counter read-out after it."""
        sc = self.spark.sparkContext
        tracer = self.ctx.tracer
        tracer.run_id = f"{i}:{fam}"
        groups = {k: f"perfbench-op{i}-{fam}-{k}" for k in ("build", "exec")}
        reader_phases = {"load_topics_batch": "build"}

        def phase(key, fn, *args, **kwargs):
            kind = reader_phases.get(key, "exec") if fam == "reader" else key
            sc.setJobGroup(groups["build" if kind == "build" else "exec"], f"perfbench {fam} {kind}")
            with tracer.span(f"{fam}.{kind if fam != 'reader' else key}"):
                return fn(*args, **kwargs)

        install_source_spans(tracer)
        sql = SqlMetrics(self.spark)
        self._planning_ms = 0.0
        try:
            dt = self._family(fam, phase)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            tracer.uninstall()
        totals = tracer.totals({tracer.run_id})
        span = lambda name: totals.get(name, {}).get("s", 0.0)  # noqa: E731
        if fam == "reader":
            for key in ("load_topics_batch", "analyze_table", "typed_rows", "deduplicate_table"):
                self.add(f"reader.{key}_s", span(f"reader.{key}"))
            build_s = span("reader.load_topics_batch")
            exec_s = sum(span(f"reader.{k}") for k in ("analyze_table", "typed_rows", "deduplicate_table"))
        else:
            build_s, exec_s = span(f"{fam}.build"), span(f"{fam}.exec")
        self.add(f"plans.build_s.{fam}", build_s)
        self.add(f"exec.s.{fam}", exec_s)
        self.add(f"sources.load_s.{fam}", span("sources.load_table"))
        self.add(f"catalyst.planning_ms.{fam}", self._planning_ms)
        self.add(f"plans.build_jobs.{fam}", job_counts(sc, [groups["build"]])["jobs"])
        for k, v in job_counts(sc, [groups["exec"]]).items():
            self.add(f"exec.{k}.{fam}", v)
        metrics = sql.collect()
        self.add(f"exec.shuffle_bytes.{fam}", metrics["shuffle_bytes"])
        self.add(f"python_udf.rows.{fam}", metrics["python_rows"])
        self.add(f"python_udf.bytes.{fam}", metrics["python_bytes"])
        if fam == FAMILY_ORDER[-1]:
            self.traced_ops += 1
        return dt

    def layers(self) -> dict[str, float]:
        out = super().layers()
        for fam, times in self.family_s.items():
            out[f"lake.{fam}_s"] = statistics.median(times)
        return out

    def describe(self) -> dict:
        return {
            "lake_rows": sum(self.rows_by_date.values()),
            "queries": sum(len(v) for v in FAMILIES.values()),
            "family_median_s": {f: round(statistics.median(t), 4) for f, t in self.family_s.items()},
        }
