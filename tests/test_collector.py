"""Collector orchestration: multi-topic end-to-end run with validation."""

from __future__ import annotations

import pytest

from redpanda_to_parquet_writer_spark.collector import Collector
from redpanda_to_parquet_writer_spark.config import EngineConfig
from redpanda_to_parquet_writer_spark.operators.validate import ERROR, PASS, WARNING

from tests.test_streaming_ingest import ENVELOPE_COLS, _envelope_df


@pytest.fixture
def collector(spark, tmp_path):
    cfg = EngineConfig(
        output_dir=str(tmp_path / "out"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        skip_validation=False,
    )
    sources = {}

    def factory(topic, resume_offsets):
        return spark.readStream.schema(ENVELOPE_COLS).parquet(sources[topic])

    c = Collector(spark, cfg, factory)
    c._test_sources = sources
    return c


def test_multi_topic_run(spark, tmp_path, collector):
    for i, topic in enumerate(("topic_a", "topic_b")):
        src = str(tmp_path / f"src_{topic}")
        _envelope_df(spark, n=30 + i * 10).write.parquet(src)
        collector._test_sources[topic] = src

    run = collector.run(["topic_a", "topic_b"])
    assert [r.topic for r in run.reports] == ["topic_a", "topic_b"]
    assert [r.rows_written for r in run.reports] == [30, 40]
    assert run.total_rows == 70
    assert _sink_counts(spark, collector, ["topic_a", "topic_b"]) == [30, 40]
    assert all(r.validation.status == PASS for r in run.reports)
    assert [(r.validation.expected, r.validation.actual) for r in run.reports] == [
        (30, 30),
        (40, 40),
    ]
    assert all(r.fmt == "json" for r in run.reports)  # JSON payloads -> json verdict
    # progress-fed throughput: every fresh topic saw >= 1 micro-batch
    assert all(r.n_batches >= 1 and r.rows_per_sec > 0 for r in run.reports)
    assert [r.rows_in for r in run.reports] == [30, 40]
    # the full durationMs phase map, not a 3-key subset
    for r in run.reports:
        assert {"addBatch", "triggerExecution", "latestOffset", "walCommit"} <= set(
            r.duration_ms
        )

    # re-run: checkpointed -> this run commits nothing, sink unchanged,
    # V1 still PASS (before 30/40 + 0 committed == after)
    run2 = collector.run(["topic_a", "topic_b"])
    assert [r.rows_written for r in run2.reports] == [0, 0]
    assert run2.total_rows == 0
    assert _sink_counts(spark, collector, ["topic_a", "topic_b"]) == [30, 40]
    assert all(r.validation.status == PASS for r in run2.reports)
    assert all(r.n_batches == 0 for r in run2.reports)


def _sink_counts(spark, collector, topics):
    return [spark.read.parquet(collector.output_root(t)).count() for t in topics]


def test_incremental_run_reports_only_its_rows(spark, tmp_path, collector):
    """A second run over a grown source commits, and reports, only the
    new rows; V1 checks them against the count before the run."""
    src = str(tmp_path / "src_inc")
    _envelope_df(spark, n=30).write.parquet(src)
    collector._test_sources["inc"] = src
    assert collector.run(["inc"]).total_rows == 30

    _envelope_df(spark, n=12, start_offset=30).write.mode("append").parquet(src)
    (report,) = collector.run(["inc"]).reports
    assert report.rows_written == 12 and report.rows_in == 12
    assert _sink_counts(spark, collector, ["inc"]) == [42]
    assert (report.validation.status, report.validation.expected) == (PASS, 42)


@pytest.mark.parametrize(
    "damage, status",
    [("delete", ERROR), ("duplicate", WARNING)],
)
def test_v1_flags_sink_damaged_between_drain_and_validation(
    spark, tmp_path, collector, monkeypatch, damage, status
):
    """V1 can fail: a committed sink file removed (or copied) after the
    drain and before validation shows as ERROR (WARNING), off by exactly
    that file's rows."""
    import glob
    import os
    import shutil

    import pyarrow.parquet as pq

    from redpanda_to_parquet_writer_spark import collector as collector_mod

    src = str(tmp_path / "src_v1")
    _envelope_df(spark, n=48).write.parquet(src)
    collector._test_sources["v1"] = src
    assert collector.run(["v1"]).reports[0].validation.status == PASS

    _envelope_df(spark, n=24, start_offset=48).write.mode("append").parquet(src)
    root = collector.output_root("v1")
    damaged = {}
    drain = collector_mod.ingest_available_now

    def drain_then_damage(*args, **kwargs):
        result = drain(*args, **kwargs)
        victim = sorted(glob.glob(f"{root}/date=*/*.parquet"))[0]
        damaged["rows"] = pq.ParquetFile(victim).metadata.num_rows
        if damage == "delete":
            os.remove(victim)
        else:
            shutil.copy(victim, victim.replace(".parquet", "-copy.parquet"))
        return result

    monkeypatch.setattr(collector_mod, "ingest_available_now", drain_then_damage)
    (report,) = collector.run(["v1"]).reports
    assert report.rows_written == 24
    v1 = report.validation
    assert v1.status == status, v1
    assert v1.expected == 72
    assert abs(v1.expected - v1.actual) == damaged["rows"] > 0


def _sink_keys(spark, root):
    return sorted(
        tuple(r)
        for r in spark.read.parquet(root).select("kafka_partition", "kafka_offset").collect()
    )


def _source_keys(n, start=0):
    """The fixture's (partition, offset) keys: offsets round-robin over
    partitions 0..3."""
    return sorted((o % 4, o) for o in range(start, start + n))


def test_concurrent_topic_drains(spark, tmp_path, collector, monkeypatch):
    """`Collector.run` drains its topics side by side: each drain waits
    on a two-party barrier, so a one-topic-at-a-time loop breaks it.
    Separate checkpoints keep the drains apart, and each query's own
    progress keeps its report to its own batches."""
    import threading

    from redpanda_to_parquet_writer_spark import collector as collector_mod

    counts = {"topic_x": 30, "topic_y": 50}
    starts = {"topic_x": 0, "topic_y": 100}
    for topic, n in counts.items():
        src = str(tmp_path / f"src_{topic}")
        _envelope_df(spark, n=n, start_offset=starts[topic]).write.parquet(src)
        collector._test_sources[topic] = src

    both_in_flight = threading.Barrier(2, timeout=60)
    drain = collector_mod.ingest_available_now

    def drain_together(*args, **kwargs):
        both_in_flight.wait()
        return drain(*args, **kwargs)

    monkeypatch.setattr(collector_mod, "ingest_available_now", drain_together)
    reports = collector.run(list(counts)).reports

    assert [r.topic for r in reports] == list(counts)
    for r, (topic, n) in zip(reports, counts.items()):
        assert r.rows_written == n
        assert _sink_counts(spark, collector, [topic]) == [n]
        assert _sink_keys(spark, collector.output_root(topic)) == _source_keys(n, starts[topic])
        assert r.n_batches >= 1
        assert r.rows_in == n
        assert r.rows_per_sec > 0
        assert (r.validation.status, r.validation.expected, r.validation.actual) == (PASS, n, n)


def test_failing_topic_waits_for_the_others(spark, tmp_path, collector):
    """A topic's error is raised only after every other topic ran to its
    end; with several failures, the first in input topic order wins. The
    healthy topic's drain is complete, so a re-run commits nothing."""
    import time

    src = str(tmp_path / "src_healthy")
    _envelope_df(spark, n=40).write.parquet(src)
    collector._test_sources["healthy"] = src
    factory = collector.source_factory

    def flaky_factory(topic, resume_offsets):
        if topic == "broken_late":
            time.sleep(0.5)  # fails after broken_early, yet comes first in input order
            raise RuntimeError("broken_late: no source")
        if topic == "broken_early":
            raise RuntimeError("broken_early: no source")
        return factory(topic, resume_offsets)

    collector.source_factory = flaky_factory
    with pytest.raises(RuntimeError, match="broken_late"):
        collector.run(["broken_late", "healthy", "broken_early"])

    assert _sink_keys(spark, collector.output_root("healthy")) == _source_keys(40)
    (report,) = collector.run(["healthy"]).reports
    assert report.rows_written == 0 and report.n_batches == 0
    assert (report.validation.status, report.validation.actual) == (PASS, 40)


def test_topic_threads_inherit_the_callers_job_group(spark, tmp_path, collector, monkeypatch):
    """Topic threads carry the caller's job group, so V1's count jobs on
    them are tagged with it (a plain thread in pinned-thread mode would
    leave them untagged)."""
    import threading
    import time

    from redpanda_to_parquet_writer_spark import collector as collector_mod

    for topic in ("group_a", "group_b"):
        src = str(tmp_path / f"src_{topic}")
        _envelope_df(spark, n=20).write.parquet(src)
        collector._test_sources[topic] = src

    threads = []
    v1 = collector_mod.internal_consistency

    def v1_on_thread(*args, **kwargs):
        threads.append(threading.current_thread())
        return v1(*args, **kwargs)

    monkeypatch.setattr(collector_mod, "internal_consistency", v1_on_thread)
    sc = spark.sparkContext
    group = "collector-test"
    sc.setJobGroup(group, "collector job-group propagation")
    try:
        run = collector.run(["group_a", "group_b"])
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(prop, None)

    assert [r.validation.status for r in run.reports] == [PASS, PASS]
    assert len(threads) == 2 and threading.main_thread() not in threads
    # the status store is fed by the listener bus: give it time to catch up
    tracker = sc.statusTracker()
    deadline = time.monotonic() + 30
    while not tracker.getJobIdsForGroup(group) and time.monotonic() < deadline:
        time.sleep(0.1)
    # streaming jobs run in their query's own group and the caller's
    # thread runs none, so every job here came from a topic thread
    assert tracker.getJobIdsForGroup(group)


def test_duplicate_topics_are_rejected(collector):
    with pytest.raises(ValueError, match="duplicate topics"):
        collector.run(["t", "u", "t"])


def test_topic_fan_out_is_capped_at_default_parallelism(spark, tmp_path, monkeypatch):
    """More topics than `defaultParallelism`: at most that many drains
    are ever in flight at once, and the cap is reached."""
    import threading

    from redpanda_to_parquet_writer_spark import collector as collector_mod

    topics = [f"t{i}" for i in range(6)]
    for topic in topics:
        _envelope_df(spark, n=4).write.parquet(str(tmp_path / "src" / topic))
    cfg = EngineConfig(
        output_dir=str(tmp_path / "out"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        skip_validation=True,
    )
    c = Collector(
        spark,
        cfg,
        lambda topic, resume: spark.readStream.schema(ENVELOPE_COLS).parquet(
            str(tmp_path / "src" / topic)
        ),
    )
    cap = min(len(topics), spark.sparkContext.defaultParallelism)
    lock = threading.Lock()
    full = threading.Event()
    state = {"in_flight": 0, "peak": 0}
    drain = collector_mod.ingest_available_now

    def counted_drain(*args, **kwargs):
        with lock:
            state["in_flight"] += 1
            state["peak"] = max(state["peak"], state["in_flight"])
            if state["in_flight"] >= cap:
                full.set()
        try:
            full.wait(timeout=60)  # hold until the cap is reached once
            return drain(*args, **kwargs)
        finally:
            with lock:
                state["in_flight"] -= 1

    monkeypatch.setattr(collector_mod, "ingest_available_now", counted_drain)
    run = c.run(topics)
    assert [r.topic for r in run.reports] == topics
    assert [r.rows_written for r in run.reports] == [4] * len(topics)
    assert state["peak"] == cap


def test_drift_table_rows_are_reported_per_run(spark, tmp_path, collector, capsys):
    """Rows a drifted batch routes to `<root>_v<fingerprint>` show up in
    `committed` (and in the CLI), while `rows_written` and V1 stay on the
    base table."""
    from redpanda_to_parquet_writer_spark.cli import collector_main

    src = tmp_path / "src" / "ticks"
    _envelope_df(spark, n=20).write.parquet(str(src))
    argv = [
        "--file-source", str(tmp_path / "src"),
        "--output-dir", collector.cfg.output_dir,
        "--checkpoint-dir", collector.cfg.checkpoint_dir,
    ]
    assert collector_main(argv) == 0
    capsys.readouterr()

    _envelope_df(spark, n=12, start_offset=20, extra_field=True).write.mode(
        "append"
    ).parquet(str(src))
    collector._test_sources["ticks"] = str(src)
    (report,) = collector.run(["ticks"]).reports
    root = collector.output_root("ticks")
    (versioned,) = [t for t in report.committed if t != root]
    assert versioned.startswith(f"{root}_v")
    assert report.committed == {versioned: 12}
    assert report.rows_written == 0
    assert (report.validation.status, report.validation.actual) == (PASS, 20)
    assert spark.read.parquet(versioned).count() == 12

    _envelope_df(spark, n=5, start_offset=32, extra_field=True).write.mode(
        "append"
    ).parquet(str(src))
    assert collector_main(argv) == 0
    out = capsys.readouterr().out.splitlines()
    assert f"ticks: drift table {versioned} rows=5" in out
    (line,) = [ln for ln in out if ln.startswith("ticks: rows=")]
    assert "rows=0 rows_in=5 " in line


def test_checkpoint_loss_recovery_via_offset_backstop(spark, tmp_path):
    """T1 backstop end-to-end: checkpoint DELETED between runs, yet no
    duplicates — run_topic hands the parquet-derived per-partition max
    offsets to the source factory (the reference's resume recovery,
    collector:468-530), and a resume-aware source skips everything at or
    below them."""
    import shutil
    from functools import reduce
    from operator import or_

    from pyspark.sql import functions as F

    cfg = EngineConfig(
        output_dir=str(tmp_path / "out"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        skip_validation=True,
    )
    src = str(tmp_path / "src")
    _envelope_df(spark, n=40).write.parquet(src)

    def factory(topic, resume_offsets):
        stream = spark.readStream.schema(ENVELOPE_COLS).parquet(src)
        if resume_offsets:
            keep = reduce(
                or_,
                [
                    (F.col("kafka_partition") == p) & (F.col("kafka_offset") > o)
                    for p, o in resume_offsets.items()
                ],
            )
            stream = stream.filter(keep)
        return stream

    c = Collector(spark, cfg, factory)
    assert c.run(["t"]).total_rows == 40
    assert spark.read.parquet(c.output_root("t")).count() == 40

    shutil.rmtree(str(tmp_path / "ckpt"))  # simulate checkpoint loss
    run2 = c.run(["t"])
    # backstop resumed past everything written: nothing new committed,
    # and the sink still holds exactly the first run's rows
    assert run2.total_rows == 0
    assert spark.read.parquet(c.output_root("t")).count() == 40


def test_resume_map_is_a_checkpoint_loss_backstop_only(spark, tmp_path):
    """The source factory gets `{}` while the topic's checkpoint holds
    offsets (Spark resumes from it and would ignore starting offsets),
    and the sink-derived per-partition max offsets once it is gone."""
    import shutil

    cfg = EngineConfig(
        output_dir=str(tmp_path / "out"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        skip_validation=True,
    )
    src = str(tmp_path / "src")
    _envelope_df(spark, n=40).write.parquet(src)
    seen = []

    def factory(topic, resume_offsets):
        seen.append(dict(resume_offsets))
        return spark.readStream.schema(ENVELOPE_COLS).parquet(src)

    c = Collector(spark, cfg, factory)
    c.run(["t"])  # first run: no checkpoint, no sink
    c.run(["t"])  # checkpoint with offsets: no resume scan
    shutil.rmtree(str(tmp_path / "ckpt" / "t"))
    c.run(["t"])  # checkpoint lost: the parquet-derived map
    # partitions 0..3 round-robin over offsets 0..39: max is 36+p
    assert seen == [{}, {}, {0: 36, 1: 37, 2: 38, 3: 39}]


def _part_rows(partition: int, offsets: list[int]) -> list[tuple]:
    """Envelope rows with PER-PARTITION offset sequences (real Kafka
    semantics — offsets are per partition, may have gaps after
    compaction/trim, and arrive in any order)."""
    import json

    rows = []
    for off in offsets:
        payload = {
            "event_type": "market_data",
            "source": "ibkr",
            "data": {"symbol": f"SYM{off % 5}", "price": 100.0 + off, "volume": off},
            "metadata": {"exchange": "NASDAQ", "seq": off},
        }
        rows.append(
            (
                "md_topic",
                partition,
                off,
                1704067200000 + off * 3_600_000,
                f"k{partition}-{off}",
                json.dumps(payload).encode("utf-8"),
            )
        )
    return rows


def test_collector_partition_replay_with_gaps_and_trim_cycle(spark, tmp_path):
    """Reference collector:341-376 semantics over the broker-less twin
    (VERDICT r5 #7): >=3 partitions with injected per-partition offset
    GAPS (compaction/trim leaves holes), OUT-OF-ORDER delivery within
    the spool, then a trim-then-resume cycle — the second segment starts
    at last+1 per partition, a replayed tail below the resume map must
    be skipped, and the recovered resume map (existing_max_offsets,
    streaming/sink.py) plus the synthetic high-watermark completeness
    report (operators/validate.py) pin the result."""
    import random
    import shutil
    from functools import reduce
    from operator import or_

    from pyspark.sql import functions as F

    from redpanda_to_parquet_writer_spark.operators.validate import (
        external_completeness,
    )
    from redpanda_to_parquet_writer_spark.streaming.sink import existing_max_offsets

    cfg = EngineConfig(
        output_dir=str(tmp_path / "out"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        skip_validation=True,
    )
    src = str(tmp_path / "spool")

    # segment 1: leading trim on p1, interior gaps on all three
    seg1 = {0: [0, 1, 2, 5, 6, 9], 1: [10, 11, 14, 15], 2: [0, 3, 4, 8]}
    rows = [r for p, offs in seg1.items() for r in _part_rows(p, offs)]
    random.Random(7).shuffle(rows)  # out-of-order delivery
    spark.createDataFrame(rows, ENVELOPE_COLS).coalesce(1).write.parquet(src)

    def factory(topic, resume_offsets):
        # the resume-aware source twin: start at last+1 per partition,
        # drain to EOF (reference consume_topic_streaming semantics)
        stream = spark.readStream.schema(ENVELOPE_COLS).parquet(src)
        if resume_offsets:
            keep = reduce(
                or_,
                [
                    (F.col("kafka_partition") == p) & (F.col("kafka_offset") > o)
                    for p, o in resume_offsets.items()
                ],
            )
            stream = stream.filter(keep)
        return stream

    c = Collector(spark, cfg, factory)
    run1 = c.run(["md"])
    n1 = sum(len(o) for o in seg1.values())
    assert run1.total_rows == n1
    root = c.output_root("md")
    assert spark.read.parquet(root).count() == n1
    # the resume map recovers the per-partition MAX, gaps and disorder
    # notwithstanding — this is what the next cycle starts from
    assert existing_max_offsets(spark, root) == {0: 9, 1: 15, 2: 8}

    # trim-then-resume cycle: checkpoint lost (trim implies the broker
    # state moved on; the parquet-derived backstop is the only memory),
    # spool now holds a replayed tail BELOW the resume map plus new
    # records strictly after it
    shutil.rmtree(str(tmp_path / "ckpt"))
    seg2_new = {0: [10, 11], 1: [16], 2: [9, 10, 12]}
    seg2_replayed = {0: [5, 6, 9], 1: [15], 2: [8]}  # must all be skipped
    rows2 = [
        r
        for seg in (seg2_new, seg2_replayed)
        for p, offs in seg.items()
        for r in _part_rows(p, offs)
    ]
    random.Random(11).shuffle(rows2)
    spark.createDataFrame(rows2, ENVELOPE_COLS).coalesce(1).write.parquet(
        src, mode="append"
    )

    run2 = c.run(["md"])
    n2 = sum(len(o) for o in seg2_new.values())
    # per run: exactly the new records; the sink holds both segments once
    assert run2.total_rows == n2, "replayed tail leaked past the resume map"
    assert spark.read.parquet(root).count() == n1 + n2
    assert existing_max_offsets(spark, root) == {0: 11, 1: 16, 2: 12}

    # synthetic high watermarks = per-partition expected counts: exact
    # counts PASS, an inflated watermark must flag ERROR with the gap
    expected = {p: len(seg1[p]) + len(seg2_new[p]) for p in seg1}
    report = {
        r["kafka_partition"]: r
        for r in external_completeness(
            spark, root, {**expected, 1: expected[1] + 3}
        ).collect()
    }
    assert report[0]["status"] == PASS and report[2]["status"] == PASS
    assert report[1]["status"] == "ERROR" and report[1]["missing"] == 3


def test_trim_requires_kafka_lib():
    from redpanda_to_parquet_writer_spark.collector import trim_kafka_retention

    with pytest.raises(ImportError, match="confluent-kafka"):
        trim_kafka_retention("localhost:9092", {"t": {0: 10}})


def test_run_with_high_watermarks(spark, tmp_path, collector):
    """V2 path: the run carries per-partition completeness reports.
    Fixture offsets round-robin over partitions 0..3, so 40 rows = 10
    per partition; a watermark of 12 on partition 1 must flag ERROR with
    2 missing."""
    src = str(tmp_path / "src_wm")
    _envelope_df(spark, n=40).write.parquet(src)
    collector._test_sources["topic_wm"] = src

    run = collector.run(
        ["topic_wm"],
        high_watermarks={"topic_wm": {0: 10, 1: 12, 2: 10, 3: 10}},
    )
    rows = {r["kafka_partition"]: r for r in run.completeness["topic_wm"]}
    assert rows[0]["status"] == PASS and rows[0]["missing"] == 0
    assert rows[1]["status"] == "ERROR" and rows[1]["missing"] == 2
    assert rows[2]["status"] == PASS and rows[3]["status"] == PASS


def test_trim_with_fake_admin(monkeypatch):
    """T8 trim hook end-to-end against an in-process fake AdminClient:
    delete_records must receive offset+1 per processed partition (the
    reference trims up to AND INCLUDING the processed offset,
    collector:1098-1151)."""
    import sys
    import types

    calls = {}

    class FakeTopicPartition:
        def __init__(self, topic, partition, offset):
            self.topic, self.partition, self.offset = topic, partition, offset

    class FakeAdminClient:
        def __init__(self, conf):
            calls["conf"] = conf

        def delete_records(self, tps):
            calls["tps"] = tps

    fake_ck = types.ModuleType("confluent_kafka")
    fake_ck.TopicPartition = FakeTopicPartition
    fake_admin = types.ModuleType("confluent_kafka.admin")
    fake_admin.AdminClient = FakeAdminClient
    fake_ck.admin = fake_admin
    monkeypatch.setitem(sys.modules, "confluent_kafka", fake_ck)
    monkeypatch.setitem(sys.modules, "confluent_kafka.admin", fake_admin)

    from redpanda_to_parquet_writer_spark.collector import trim_kafka_retention

    trim_kafka_retention("broker:9092", {"t1": {0: 10, 1: 20}, "t2": {0: 5}})
    assert calls["conf"] == {"bootstrap.servers": "broker:9092"}
    got = sorted((tp.topic, tp.partition, tp.offset) for tp in calls["tps"])
    assert got == [("t1", 0, 11), ("t1", 1, 21), ("t2", 0, 6)]
