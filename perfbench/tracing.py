"""Layer tracing for the traced run.

Spans are recorded from the benchmark's side only: `Tracer.wrap`
replaces a public function of the package with a timing wrapper in the
module (or class) where its caller looks the name up, and `uninstall`
puts the original back. The package itself is never edited.

Counters come from three public surfaces of Spark:
  - `ProgressListener`: the streaming `durationMs` phase map per batch;
  - `StatusTracker`: jobs, stages and tasks per job group;
  - the SQL status store: shuffle bytes and Python-worker rows/bytes
    from the SQL metrics of each execution's plan graph.
"""

from __future__ import annotations

import functools
import json
import sys
import threading
import time
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener

PACKAGE = "redpanda_to_parquet_writer_spark"


class Tracer:
    """In-memory span recorder: (name, start, end, parent, run id).

    Parents are tracked per thread, so a span opened inside a
    `foreachBatch` callback (Spark's stream thread) nests under other
    spans of that callback, not under the caller blocked in
    `awaitTermination`."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.run_id = 0
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        with self._lock:
            sid = len(self.spans)
            rec = {
                "id": sid,
                "name": name,
                "parent": stack[-1] if stack else None,
                "run": self.run_id,
                "thread": threading.get_ident(),
                "start": time.perf_counter(),
                "end": None,
            }
            self.spans.append(rec)
        stack.append(sid)
        try:
            yield
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()

    def traced(self, name: str, fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return wrapper

    def patch(self, owner, attr: str, wrapper) -> None:
        self._patches.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, wrapper)

    def wrap(self, owner, attr: str, name: str) -> None:
        self.patch(owner, attr, self.traced(name, owner.__dict__[attr]))

    def wrap_everywhere(self, fn, name: str) -> None:
        """Wrap `fn` in every package module that imported it by name."""
        wrapper = self.traced(name, fn)
        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith(PACKAGE) and mod.__dict__.get(
                fn.__name__
            ) is fn:
                self.patch(mod, fn.__name__, wrapper)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # -- aggregation ------------------------------------------------------
    def totals(self, runs: set | None = None) -> dict[str, dict[str, float]]:
        """name -> {"s": total span seconds, "self_s": self seconds};
        self time is span time minus the time its child spans cover."""
        spans = [s for s in self.spans if s["end"] is not None and (runs is None or s["run"] in runs)]
        child_time: dict[int, float] = {}
        for s in spans:
            if s["parent"] is not None:
                child_time[s["parent"]] = child_time.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, dict[str, float]] = {}
        for s in spans:
            dur = s["end"] - s["start"]
            agg = out.setdefault(s["name"], {"s": 0.0, "self_s": 0.0})
            agg["s"] += dur
            agg["self_s"] += max(0.0, dur - child_time.get(s["id"], 0.0))
        return out

    def dump(self, path: str) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        with open(path, "w") as f:
            for s in self.spans:
                rec = dict(s, start=s["start"] - t0, end=(s["end"] or s["start"]) - t0)
                f.write(json.dumps(rec) + "\n")


def install_ingest_spans(tracer: Tracer) -> None:
    """Spans around the collector's calls into each ingest layer."""
    from redpanda_to_parquet_writer_spark import collector
    from redpanda_to_parquet_writer_spark.streaming import ingest, metrics, sink

    tracer.wrap(collector.Collector, "run", "collector.run")
    tracer.wrap(collector.Collector, "run_topic", "collector.run_topic")
    tracer.wrap(collector, "existing_max_offsets", "streaming.sink.resume_scan")
    tracer.wrap(collector, "ingest_available_now", "streaming.ingest.available_now")
    tracer.wrap(collector, "internal_consistency", "operators.validate.consistency")
    tracer.wrap(metrics.IngestMetricsListener, "wait_quiesce", "collector.quiesce_wait")
    tracer.wrap(ingest, "prepare_envelope_batch", "streaming.ingest.prepare")
    tracer.wrap(ingest, "infer_json_schema", "operators.decode.infer_schema")
    tracer.wrap(ingest, "write_date_partitioned", "streaming.sink.write")
    tracer.wrap(ingest, "merge_dedup_append", "streaming.sink.merge_dedup")
    tracer.wrap(sink, "dedup_frame_for_merge", "streaming.sink.dedup_frame")
    tracer.wrap(sink, "write_date_partitioned", "streaming.sink.write")

    make_writer = ingest.__dict__["make_merge_batch_writer"]

    def make_traced_writer(*args, **kwargs):
        return tracer.traced("streaming.ingest.batch", make_writer(*args, **kwargs))

    tracer.patch(ingest, "make_merge_batch_writer", make_traced_writer)


def install_source_spans(tracer: Tracer) -> None:
    from redpanda_to_parquet_writer_spark.sources import parquet

    tracer.wrap_everywhere(parquet.load_table, "sources.load_table")


class ProgressListener(StreamingQueryListener):
    """Keeps every progress event's `durationMs` map, input rows and the
    run id (Spark runs a query's jobs in a job group named by it)."""

    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.batches: dict[tuple[str, int], dict] = {}
        self.started: set[str] = set()
        self.terminated: set[str] = set()

    def onQueryStarted(self, event) -> None:
        with self.lock:
            self.started.add(str(event.runId))

    def onQueryProgress(self, event) -> None:
        p = event.progress
        with self.lock:
            self.batches[(str(p.runId), p.batchId)] = {
                "duration_ms": dict(p.durationMs),
                "rows": p.numInputRows,
            }

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        with self.lock:
            self.terminated.add(str(event.runId))

    def settle(self, timeout: float = 5.0) -> None:
        """Wait until every started query's termination event arrived
        (the listener bus delivers a query's events in order)."""
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            with self.lock:
                if self.started <= self.terminated:
                    return
            time.sleep(0.02)

    def drain(self) -> tuple[list[dict], set[str]]:
        with self.lock:
            batches = list(self.batches.values())
            runs = set(self.started)
            self.batches.clear()
            self.started.clear()
            self.terminated.clear()
        return batches, runs


def job_counts(sc, groups) -> dict[str, int]:
    """Jobs, stages and tasks of the given job groups (StatusTracker)."""
    tracker = sc.statusTracker()
    jobs = stages = tasks = 0
    for group in groups:
        for jid in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(jid)
            jobs += 1
            for sid in info.stageIds if info else ():
                st = tracker.getStageInfo(sid)
                if st and st.numCompletedTasks:
                    stages += 1
                    tasks += st.numCompletedTasks
    return {"jobs": jobs, "stages": stages, "tasks": tasks}


_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def _metric_value(text: str | None) -> float:
    """Parse a formatted SQL metric ("1,234", "4.2 MiB", or the
    "total (min, med, max ...)\\n<total> (...)" form) to a number."""
    if not text:
        return 0.0
    line = text.split("\n")[-1].strip()
    parts = line.replace(",", "").split()
    try:
        value = float(parts[0])
    except (IndexError, ValueError):
        return 0.0
    return value * _UNITS.get(parts[1], 1) if len(parts) > 1 else value


class SqlMetrics:
    """Sums SQL metrics over the executions that ran since `mark()`."""

    def __init__(self, spark) -> None:
        self.store = spark._jsparkSession.sharedState().statusStore()
        self.conv = spark._jvm.scala.jdk.javaapi.CollectionConverters
        self.last_id = -1
        self.mark()

    def _executions(self, since: int) -> list:
        count = self.store.executionsCount()
        # executions are kept in id order; the tail holds everything newer
        # than `since` unless old ones were evicted meanwhile
        tail = self.conv.asJava(self.store.executionsList(max(0, int(count) - 400), 400))
        return [e for e in tail if e.executionId() > since]

    def mark(self) -> None:
        execs = self._executions(-1)
        if execs:
            self.last_id = max(self.last_id, max(e.executionId() for e in execs))

    def collect(self, timeout: float = 5.0) -> dict[str, float]:
        deadline = time.monotonic() + timeout
        execs = self._executions(self.last_id)
        while time.monotonic() < deadline and not all(
            e.completionTime().isDefined() for e in execs
        ):
            time.sleep(0.05)
            execs = self._executions(self.last_id)
        out = {"shuffle_bytes": 0.0, "python_rows": 0.0, "python_bytes": 0.0, "executions": len(execs)}
        for e in execs:
            eid = e.executionId()
            values = self.conv.asJava(self.store.executionMetrics(eid))
            for node in self.conv.asJava(self.store.planGraph(eid).allNodes()):
                metrics = {m.name(): values.get(m.accumulatorId()) for m in self.conv.asJava(node.metrics())}
                if "shuffle bytes written" in metrics:
                    out["shuffle_bytes"] += _metric_value(metrics["shuffle bytes written"])
                if "data sent to Python workers" in metrics:
                    out["python_rows"] += _metric_value(metrics.get("number of output rows"))
                    out["python_bytes"] += _metric_value(
                        metrics["data sent to Python workers"]
                    ) + _metric_value(metrics.get("data returned from Python workers"))
        if execs:
            self.last_id = max(e.executionId() for e in execs)
        return out
