"""Collector orchestration — the reference's main() lifecycle, Spark-first.

Reference flow (SURVEY 3.1, collector:1583-1789): discover topics ->
per-topic {format detect, offset calc, consume, convert, write} ->
merge -> summary -> validation -> optional retention trim.

Spark shape per topic:
    source = sources.kafka.stream_reader(topic, resume_offsets)
    ingest_available_now(source, <out>/<topic>, <ckpt>/<topic>)
then validation (operators.validate) and the retention trim hook.

Per-run contract: a run does work in proportion to its increment.
  - The checkpoint is the offset store. `resume_offsets` is derived from
    the sink (`existing_max_offsets`) only when the checkpoint holds no
    offsets (first run, or checkpoint lost); otherwise it is `{}`, since
    Spark ignores starting offsets when it resumes from a checkpoint.
  - `TopicRunReport.rows_written` counts the rows THIS run committed to
    the topic's base table (counted by the write itself), not the sink's
    total; a re-run with nothing new reports 0. Batch count, rate and
    the `durationMs` phase map come from the query's own progress.
  - V1 compares the sink's count after the run with its count before
    the run plus the rows committed, so lost or duplicated files show
    up as ERROR / WARNING. Both counts run only when validation is on.

Collapsed phases (built-in, SURVEY 4): offset calculation -> checkpoint;
batching -> micro-batches; parallel date writes -> task parallelism;
atomic writes -> commit protocol; merge/staging -> checkpointed sink +
anti-join backstop.

Kept phases (this module): topic discovery/fan-out, format verdict
caching, post-run validation, retention trim, run summary.

At scale: one streaming query per topic, each with its own checkpoint.
The queries share nothing, so `Collector.run` drains topics side by side
on at most `defaultParallelism` threads and one run costs about
its slowest topic rather than the sum of all of them. A deployment with
far more topics than cores can instead group small topics via
subscribePattern on one query partitioned by topic.
"""

from __future__ import annotations

import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.sql import SparkSession
from pyspark.util import inheritable_thread_target

from redpanda_to_parquet_writer_spark.config import EngineConfig
from redpanda_to_parquet_writer_spark.operators.decode import detect_format
from redpanda_to_parquet_writer_spark.operators.validate import (
    CountReport,
    external_completeness,
    internal_consistency,
    sink_row_count,
)
from redpanda_to_parquet_writer_spark.streaming.ingest import ingest_available_now
from redpanda_to_parquet_writer_spark.streaming.sink import (
    checkpoint_has_offsets,
    existing_max_offsets,
)


@dataclass
class TopicRunReport:
    """Per-topic summary, the TimingTracker/FileTracker parity
    (collector:110-165)."""

    topic: str
    fmt: str
    seconds: float
    #: rows this run committed to the topic's base table
    rows_written: int
    validation: CountReport | None = None
    #: micro-batches this run executed, their input rows and ingest rate
    #: (0 for an already-drained topic)
    n_batches: int = 0
    rows_in: int = 0
    rows_per_sec: float = 0.0
    #: every streaming `durationMs` phase, summed over this run's triggers
    duration_ms: dict[str, int] = field(default_factory=dict)
    #: rows this run committed per table: the base root plus any
    #: `<root>_v<fingerprint>` table a drifted batch was routed to
    committed: dict[str, int] = field(default_factory=dict)


@dataclass
class CollectorRun:
    reports: list[TopicRunReport] = field(default_factory=list)
    #: topic -> per-partition completeness rows (V2), when watermarks given
    completeness: dict[str, list[dict]] = field(default_factory=dict)

    @property
    def total_rows(self) -> int:
        return sum(r.rows_written for r in self.reports)


class Collector:
    """Multi-topic ingest driver.

    `source_factory(topic, resume_offsets) -> streaming DataFrame` decouples
    orchestration from the source (Kafka in production via
    sources.kafka.stream_reader; file streams in tests), keeping every
    phase testable without a broker.
    """

    def __init__(self, spark: SparkSession, cfg: EngineConfig, source_factory):
        self.spark = spark
        self.cfg = cfg
        self.source_factory = source_factory
        self._format_cache: dict[str, str] = {}  # S5 verdict cache (collector:18)

    def topic_format(self, topic: str, sample: list[bytes]) -> str:
        if topic not in self._format_cache:
            self._format_cache[topic] = detect_format(sample)
        return self._format_cache[topic]

    def output_root(self, topic: str) -> str:
        return f"{self.cfg.output_dir}/{topic}"

    def run_topic(self, topic: str, sample: list[bytes] | None = None) -> TopicRunReport:
        """One topic end-to-end: resume -> drain -> report this run."""
        t0 = time.monotonic()
        fmt = self.topic_format(topic, sample or [])
        root = self.output_root(topic)
        checkpoint = f"{self.cfg.checkpoint_dir}/{topic}"
        # the checkpoint is the progress store; the Parquet-derived
        # offsets (T1 backstop) are only worth a scan when it has none
        if checkpoint_has_offsets(self.spark, checkpoint):
            resume = {}
        else:
            resume = existing_max_offsets(self.spark, root)
        drain = ingest_available_now(
            self.spark,
            self.source_factory(topic, resume),
            root,
            checkpoint,
            self.cfg,
            query_name=f"ingest-{topic}",
            fmt=fmt,
        )
        return TopicRunReport(
            topic=topic,
            fmt=fmt,
            seconds=time.monotonic() - t0,
            rows_written=drain.committed.get(root, 0),
            n_batches=len(drain.batches),
            rows_in=drain.rows_in,
            rows_per_sec=drain.rows_per_sec,
            duration_ms=drain.duration_ms,
            committed=drain.committed,
        )

    def run(
        self,
        topics: list[str],
        samples: dict[str, list[bytes]] | None = None,
        high_watermarks: dict[str, dict[int, int]] | None = None,
    ) -> CollectorRun:
        """Drain every topic concurrently, then validate V2 when enabled.

        Each topic's unit of work (V1's count before the run, `run_topic`,
        then V1) runs on its own thread, at most `defaultParallelism` at
        once. Topics share no state: each has its own query, checkpoint
        and sink. Threads inherit the caller's job group and local
        properties, so their Spark jobs carry the caller's tags.
        Reports come back in input topic order.

        V1 per topic: the sink's row count before the run plus the rows
        the run committed must equal its count after the run.

        A failing topic never cuts another topic's drain short: every
        topic runs to its end, then the first error in input topic order
        is raised.
        """
        if len(set(topics)) != len(topics):
            # two drains of one topic would share its checkpoint
            raise ValueError(f"duplicate topics in {topics}")
        samples = samples or {}
        workers = max(1, min(len(topics), self.spark.sparkContext.defaultParallelism))
        with ThreadPoolExecutor(workers, thread_name_prefix="collector") as pool:
            # wrap once per topic: each wrapper holds its own copy of the
            # caller's local properties, and one copy shared by threads
            # would leak each SQL execution id into the other threads
            futures = [
                pool.submit(
                    inheritable_thread_target(self.spark)(self._run_validated),
                    topic,
                    samples.get(topic),
                )
                for topic in topics
            ]
        run = CollectorRun(reports=[f.result() for f in futures])
        if high_watermarks and not self.cfg.skip_validation:
            for topic, marks in high_watermarks.items():
                # per-partition external completeness report (V2)
                report = external_completeness(
                    self.spark, self.output_root(topic), marks
                )
                run.completeness[topic] = [r.asDict() for r in report.collect()]
        return run

    def _run_validated(self, topic: str, sample: list[bytes] | None) -> TopicRunReport:
        """`run_topic` between V1's two counts (when validation is on)."""
        validate = not self.cfg.skip_validation
        root = self.output_root(topic)
        before = sink_row_count(self.spark, root) if validate else 0
        report = self.run_topic(topic, sample)
        if validate:
            report.validation = internal_consistency(
                self.spark, root, before + report.rows_written
            )
        return report


def trim_kafka_retention(
    bootstrap_servers: str, processed_offsets: dict[str, dict[int, int]]
) -> None:
    """T8: delete Kafka records up to the processed offsets, post-commit
    (the reference's `rpk topic trim`, collector:1098-1151).

    Driver-side AdminClient.delete_records; import-gated — requires a
    Kafka client library, absent in this container.
    """
    try:
        from confluent_kafka.admin import AdminClient  # type: ignore
        from confluent_kafka import TopicPartition  # type: ignore
    except ImportError as e:
        raise ImportError(
            "confluent-kafka is required for retention trimming"
        ) from e
    admin = AdminClient({"bootstrap.servers": bootstrap_servers})
    tps = [
        TopicPartition(topic, int(p), int(offset) + 1)
        for topic, parts in processed_offsets.items()
        for p, offset in parts.items()
    ]
    admin.delete_records(tps)


if __name__ == "__main__":  # python -m redpanda_to_parquet_writer_spark.collector
    from redpanda_to_parquet_writer_spark.cli import collector_main

    raise SystemExit(collector_main())
