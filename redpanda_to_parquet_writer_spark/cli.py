"""Command-line entry points, mirroring the reference's two executables.

Reader CLI (parquet_to_polars.py:908-997 parity):

    python -m redpanda_to_parquet_writer_spark.reader [date|today]
        [--base-dir PATH] [--deduplicate] [--topic NAME]

    - no args: load every topic table, print a summary/profile per topic
    - date (YYYY-MM-DD, or the reference's YYYY/MM/DD): restrict to that
      date partition; `today` resolves to the current UTC date
    - --deduplicate: content-hash dedup per topic, snapshot-written (S17)

Collector CLI (redpanda_to_parquet_collector.py:1583-1789 parity):

    python -m redpanda_to_parquet_writer_spark.collector
        [--topics a,b,c] [--file-source DIR]
        [--output-dir PATH] [--checkpoint-dir PATH] [--skip-validation]

    - default source is Kafka (sources.kafka.stream_reader) using the
      EngineConfig env surface (KAFKA_BOOTSTRAP_SERVERS etc.)
    - --file-source DIR swaps in a file-stream source per topic
      (DIR/<topic>/ of envelope-shaped parquet) — same downstream
      pipeline, runs without a broker (how the sandbox/tests drive it)
"""

from __future__ import annotations

import argparse
import os
import sys

from redpanda_to_parquet_writer_spark.config import EngineConfig


def _get_spark(app_name: str):
    from redpanda_to_parquet_writer_spark.session import get_spark

    return get_spark(EngineConfig(), app_name)


def _normalize_date(date: str | None) -> str | None:
    # accept the reference's YYYY/MM/DD path form as well as ISO
    if date and date != "today":
        return date.replace("/", "-")
    return date


# --------------------------------------------------------------------------
# reader


def reader_main(argv: list[str] | None = None) -> int:
    from redpanda_to_parquet_writer_spark import reader as R

    p = argparse.ArgumentParser(
        prog="redpanda_to_parquet_writer_spark.reader",
        description="Read/validate/deduplicate the engine's parquet tables.",
    )
    p.add_argument("date", nargs="?", default=None,
                   help="date filter: YYYY-MM-DD, YYYY/MM/DD, or 'today'")
    p.add_argument("--base-dir", "-b", default=None,
                   help="table root (default: $ENGINE_OUTPUT_DIR or ./data/redpanda_parquet)")
    p.add_argument("--deduplicate", "-d", action="store_true",
                   help="content-hash dedup per topic (snapshot write, original kept)")
    p.add_argument("--topic", default=None, help="restrict to one topic table")
    p.add_argument("--preview-rows", type=int, default=5)
    args = p.parse_args(argv)

    base = args.base_dir or os.environ.get("ENGINE_OUTPUT_DIR", "./data/redpanda_parquet")
    date = _normalize_date(args.date)
    if not os.path.isdir(base):
        print(f"base directory not found: {base}", file=sys.stderr)
        return 2

    spark = _get_spark("reader-cli")
    topics = [args.topic] if args.topic else (
        R.get_topics_for_date(base, date) if date else R.get_available_topics(base)
    )
    if not topics:
        print(f"no topic tables under {base}" + (f" for date {date}" if date else ""))
        return 0

    if args.deduplicate:
        total_removed = 0
        for t in topics:
            result = R.deduplicate_table(spark, base, t)
            total_removed += result["removed"]
            print(f"{t}: before={result['before']} after={result['after']} "
                  f"removed={result['removed']}")
        print(f"deduplication complete: {total_removed} duplicate rows removed "
              f"across {len(topics)} topic(s)")
        return 0

    bundles = R.load_topics_batch(spark, base, date, topics)
    for name, bundle in bundles.items():
        summary = R.analyze_table(bundle.dataframe, preview_rows=args.preview_rows)
        print(f"== {name} (sec_type={bundle.sec_type}) rows={summary.n_rows}")
        print("   columns:", ", ".join(f"{c}:{t}" for c, t in summary.columns))
        nonzero_nulls = {c: n for c, n in summary.null_counts.items() if n}
        if nonzero_nulls:
            print("   nulls:", nonzero_nulls)
        for row in summary.numeric_profile:
            print(f"   {row['column']}: min={row['min']} max={row['max']} "
                  f"mean={row['mean']} std={row['std']}")
    print(f"loaded {len(bundles)} topic(s) from {base}"
          + (f" for date {date}" if date else ""))
    return 0


# --------------------------------------------------------------------------
# collector


def collector_main(argv: list[str] | None = None) -> int:
    from redpanda_to_parquet_writer_spark.collector import Collector

    p = argparse.ArgumentParser(
        prog="redpanda_to_parquet_writer_spark.collector",
        description="Drain topics into date-partitioned parquet tables.",
    )
    p.add_argument("--topics", default=None,
                   help="comma-separated topic list (required for the Kafka source)")
    p.add_argument("--file-source", default=None,
                   help="directory of <topic>/ envelope parquet dirs; replaces Kafka")
    p.add_argument("--output-dir", default=None)
    p.add_argument("--checkpoint-dir", default=None)
    p.add_argument("--skip-validation", action="store_true")
    args = p.parse_args(argv)

    cfg = EngineConfig()
    if args.output_dir:
        cfg.output_dir = args.output_dir
    if args.checkpoint_dir:
        cfg.checkpoint_dir = args.checkpoint_dir
    if args.skip_validation:
        cfg.skip_validation = True

    spark = _get_spark("collector-cli")

    if args.file_source:
        root = args.file_source
        topics = (
            args.topics.split(",")
            if args.topics
            else sorted(
                d for d in os.listdir(root)
                if os.path.isdir(os.path.join(root, d)) and not d.startswith((".", "_"))
            )
        )
        if not topics:
            print(f"no topic directories under {root}", file=sys.stderr)
            return 2

        def source_factory(topic: str, resume_offsets: dict[int, int]):
            path = os.path.join(root, topic)
            schema = spark.read.parquet(path).schema
            return spark.readStream.schema(schema).parquet(path)

    else:
        if not args.topics:
            print("--topics is required with the Kafka source "
                  "(no AdminClient topic discovery in this build)", file=sys.stderr)
            return 2
        topics = args.topics.split(",")

        def source_factory(topic: str, resume_offsets: dict[int, int]):
            from redpanda_to_parquet_writer_spark.sources.kafka import stream_reader

            starting = (
                {topic: {p: o + 1 for p, o in resume_offsets.items()}}
                if resume_offsets
                else "earliest"
            )
            return stream_reader(spark, cfg, topics=topic, starting_offsets=starting)

    collector = Collector(spark, cfg, source_factory)
    run = collector.run(topics)
    for r in run.reports:
        v = r.validation
        status = f"{v.status}(expected={v.expected},actual={v.actual})" if v else "skipped"
        phases = ",".join(f"{k}:{ms}" for k, ms in sorted(r.duration_ms.items()))
        print(f"{r.topic}: rows={r.rows_written} rows_in={r.rows_in} "
              f"duration_ms={phases or '-'} fmt={r.fmt} "
              f"sec={r.seconds:.2f} batches={r.n_batches} "
              f"rows_per_sec={r.rows_per_sec} validation={status}")
        base = collector.output_root(r.topic)
        for table, rows in sorted(r.committed.items()):
            if table != base:  # a drifted batch's `<root>_v<fingerprint>` table
                print(f"{r.topic}: drift table {table} rows={rows}")
    print(f"total rows committed this run across {len(run.reports)} topic(s): "
          f"{run.total_rows}")
    return 0
