"""CLI entry points: collector ingest then reader analyze/dedup over a
temp warehouse — the reference's two executables end-to-end
(redpanda_to_parquet_collector.py:1583-1789, parquet_to_polars.py:908-997).

Runs in-process (reusing the session fixture) rather than via
subprocess: `python -m` would build a second JVM per test.
"""

from __future__ import annotations

import pytest

from redpanda_to_parquet_writer_spark.cli import collector_main, reader_main

from tests.test_streaming_ingest import _envelope_df


@pytest.fixture
def warehouse(spark, tmp_path):
    """File-source topics drained into an output warehouse via the
    collector CLI (no broker needed)."""
    src = tmp_path / "src"
    for topic, n in (("topic_a", 24), ("topic_b", 36)):
        _envelope_df(spark, n=n).write.parquet(str(src / topic))
    out = tmp_path / "out"
    rc = collector_main(
        [
            "--file-source", str(src),
            "--output-dir", str(out),
            "--checkpoint-dir", str(tmp_path / "ckpt"),
        ]
    )
    assert rc == 0
    return out


def test_collector_cli_writes_topics(spark, warehouse, capsys):
    for topic, n in (("topic_a", 24), ("topic_b", 36)):
        assert spark.read.parquet(str(warehouse / topic)).count() == n


def test_collector_cli_reports_per_run_rows_and_v1(spark, tmp_path, capsys):
    """The summary line per topic carries this run's committed rows, the
    full durationMs phase map and V1's expected/actual counts; a re-run
    with nothing new commits 0 and still passes V1."""
    src = tmp_path / "src"
    _envelope_df(spark, n=24).write.parquet(str(src / "topic_a"))
    argv = [
        "--file-source", str(src),
        "--output-dir", str(tmp_path / "out"),
        "--checkpoint-dir", str(tmp_path / "ckpt"),
    ]
    assert collector_main(argv) == 0
    (line,) = [ln for ln in capsys.readouterr().out.splitlines() if ln.startswith("topic_a:")]
    assert "rows=24 rows_in=24 " in line
    assert "addBatch:" in line and "triggerExecution:" in line
    assert "validation=PASS(expected=24,actual=24)" in line

    assert collector_main(argv) == 0
    (line,) = [ln for ln in capsys.readouterr().out.splitlines() if ln.startswith("topic_a:")]
    assert "rows=0 rows_in=0 " in line
    assert "validation=PASS(expected=24,actual=24)" in line


def test_reader_cli_analyze(warehouse, capsys):
    rc = reader_main(["--base-dir", str(warehouse)])
    assert rc == 0
    out = capsys.readouterr().out
    assert "topic_a" in out and "topic_b" in out
    assert "rows=24" in out and "rows=36" in out


def test_reader_cli_date_filter(warehouse, capsys):
    # fixture events start 2024-01-01 and step one hour per offset, so
    # the first day holds exactly 24 of topic_a's rows
    rc = reader_main(["--base-dir", str(warehouse), "2024/01/01", "--topic", "topic_a"])
    assert rc == 0
    assert "rows=24" in capsys.readouterr().out


def test_reader_cli_deduplicate(spark, warehouse, tmp_path, capsys):
    rc = reader_main(["--base-dir", str(warehouse), "--deduplicate", "--topic", "topic_a"])
    assert rc == 0
    out = capsys.readouterr().out
    # fixture rows are all distinct -> nothing removed, snapshot written
    assert "removed=0" in out
    snapshots = [p for p in warehouse.iterdir() if p.name.startswith("topic_a__dedup_")]
    assert len(snapshots) == 1
    assert spark.read.parquet(str(snapshots[0])).count() == 24


def test_reader_cli_missing_base_dir(tmp_path, capsys):
    rc = reader_main(["--base-dir", str(tmp_path / "nope")])
    assert rc == 2


def test_collector_cli_kafka_requires_topics(capsys):
    rc = collector_main([])
    assert rc == 2
