"""Structured-Streaming ingest pipeline (the collector, Spark-first).

Reference lifecycle (SURVEY 3.1): Kafka -> decode -> flatten -> envelope
-> null-ts filter -> date-partitioned parquet, with exactly-once/dedup
guarantees. Spark shape:

    source (Kafka readStream / file stream)
      -> prepare_envelope_batch   (decode + flatten + date column)
      -> writeStream.foreachBatch(merge)  OR  .partitionBy("date").parquet
      -> Trigger.AvailableNow     (drain-then-stop, T2)
      -> checkpointLocation       (progress/WAL, T1)

Exactly-once strategy (T5, SURVEY 7.3 risk 2): the parquet streaming
sink's commit log gives exactly-once within a checkpoint lineage; the
anti-join merge (`merge_dedup_append`) is the cross-run backstop when
checkpoints are lost — both are kept, like the reference keeps staging
AND anti-join.

Dynamic schema (SURVEY 7.3 risk 1): a streaming query's schema is fixed,
so the stream carries the permissive envelope (raw value bytes/string);
`foreachBatch` re-infers the payload schema per micro-batch, flattens,
and routes schema versions — each micro-batch may differ, the stream
never has to restart.

Per-run contract: a micro-batch converts its payloads once, reads the
sink once (drift fingerprint and anti-join share that frame) and counts
the rows it commits as part of the write. `ingest_available_now` returns
those counts with the query's own progress (`recentProgress`), so a
caller learns what this run did without re-reading the sink or waiting
on listener events.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from redpanda_to_parquet_writer_spark.config import EngineConfig
from redpanda_to_parquet_writer_spark.functions.hashing import schema_fingerprint
from redpanda_to_parquet_writer_spark.operators.decode import decode_json, infer_json_schema
from redpanda_to_parquet_writer_spark.operators.flatten import (
    flatten_struct_columns,
    project_kafka_envelope,
)
from redpanda_to_parquet_writer_spark.streaming.sink import (
    merge_dedup_append,
    read_sink,
    with_event_date,
    write_date_partitioned,
)


#: payloads sampled per micro-batch to infer its schema
SCHEMA_SAMPLE_ROWS = 50


def envelope_values(batch_df: DataFrame, fmt: str = "json") -> DataFrame:
    """Kafka-shaped batch -> envelope whose `value` holds JSON text or
    bytes: MessagePack payloads (`fmt == "msgpack"`) are converted to
    JSON strings through the Arrow-batched UDF (C msgpack when installed,
    the pure-stdlib codec otherwise)."""
    env = project_kafka_envelope(batch_df) if "topic" in batch_df.columns else batch_df
    if fmt == "msgpack":
        from redpanda_to_parquet_writer_spark.operators.decode import (
            msgpack_to_json_udf,
        )

        env = env.withColumn("value", msgpack_to_json_udf()(F.col("value")))
    return env


def prepare_envelope_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    payload_schema: StructType | None = None,
    fmt: str = "json",
) -> DataFrame:
    """Kafka-shaped batch -> flat, dated, reference-schema frame.

    decode (P1) -> flatten (P2) -> envelope columns first (P3) -> drop
    null timestamps (P5) -> event-date partition column (F1/T4).

    When `payload_schema` is None it is inferred from at most
    `SCHEMA_SAMPLE_ROWS` non-null payloads of this batch (the
    per-micro-batch dynamic schema path). `fmt` is the topic's sampled
    verdict (S5): MessagePack payloads convert to JSON strings first
    (`envelope_values`), then share the JSON inference/decode path — one
    decoder per topic, never a per-row format cascade (collector:223-256).
    """
    env = envelope_values(batch_df, fmt)
    if payload_schema is None:
        sample = [
            r["value"]
            for r in env.select(F.col("value").cast("string").alias("value"))
            .filter(F.col("value").isNotNull())
            .limit(SCHEMA_SAMPLE_ROWS)
            .collect()
        ]
        if not sample:
            return with_event_date(env.drop("value"))
        payload_schema = infer_json_schema(spark, sample)
    decoded = decode_json(env, payload_schema).drop("value")
    # the decoded payload IS the record's top level (collector:259-284);
    # expand it before flattening so the `data` hoist rule applies
    others = [F.col(c) for c in decoded.columns if c != "decoded"]
    expanded = decoded.select(*others, F.col("decoded.*"))
    flat = flatten_struct_columns(expanded)
    return with_event_date(flat)


def make_merge_batch_writer(
    spark: SparkSession,
    output_root: str,
    cfg: EngineConfig,
    fmt: str = "json",
    committed: dict[str, int] | None = None,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch body: prepare + schema-version routing + dedup merge.

    Schema drift handling (1.4): each micro-batch's flattened schema is
    fingerprinted (F5); a batch whose fingerprint differs from the base
    table's goes to `<root>_v<fingerprint>` — versioned tables instead of
    corrupting the base, exactly the reference's `topic_v{N}.parquet`
    fallback (collector:435-465, 795-819). Readers union versions with
    mergeSchema (U1).

    The base table is read once per batch and that frame serves both the
    fingerprint and the anti-join. Rows each batch commits are added to
    `committed` (target table -> rows) when given.
    """

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        # convert payloads before persisting: the batch is read more
        # than once (schema sample, the anti-join's distinct dates, the
        # write), and each read then hits the cached, already-converted
        # rows instead of re-running the source and UDF
        env = envelope_values(batch_df, fmt).persist()
        try:
            prepared = prepare_envelope_batch(spark, env)
            if not prepared.columns:
                return
            target = output_root
            existing = read_sink(spark, output_root)
            if existing is not None:
                ours = schema_fingerprint(prepared.drop("date").schema)
                if schema_fingerprint(existing.drop("date").schema) != ours:
                    target = f"{output_root}_v{ours}"
                    existing = read_sink(spark, target)
            if cfg.skip_dedup:
                rows = write_date_partitioned(prepared, target, cfg, mode="append")
            else:
                rows = merge_dedup_append(
                    spark, prepared, target, cfg=cfg, existing=existing
                )
            if committed is not None:
                committed[target] = committed.get(target, 0) + rows
        finally:
            env.unpersist()

    return write_batch


@dataclass
class DrainReport:
    """What one `ingest_available_now` drain did."""

    #: rows committed per target table: the base root, plus any
    #: `<root>_v<fingerprint>` table a drifted batch was routed to
    committed: dict[str, int]
    #: the query's `recentProgress`, one entry per trigger
    progress: list

    @property
    def batches(self) -> list:
        """Progress of the triggers that ran a micro-batch, one per batch
        id (a trigger that found no new data has no `addBatch` phase)."""
        by_id = {p.batchId: p for p in self.progress if "addBatch" in p.durationMs}
        return [by_id[b] for b in sorted(by_id)]

    @property
    def rows_in(self) -> int:
        return sum(p.numInputRows for p in self.batches)

    @property
    def duration_ms(self) -> dict[str, int]:
        """Every `durationMs` phase, summed over the drain's triggers."""
        out: dict[str, int] = {}
        for p in self.progress:
            for phase, ms in p.durationMs.items():
                out[phase] = out.get(phase, 0) + int(ms)
        return out

    @property
    def rows_per_sec(self) -> float:
        ms = sum(p.durationMs.get("triggerExecution", 0) for p in self.batches)
        return round(self.rows_in / (ms / 1000.0), 1) if ms else 0.0


def ingest_available_now(
    spark: SparkSession,
    source: DataFrame,
    output_root: str,
    checkpoint_dir: str,
    cfg: EngineConfig | None = None,
    query_name: str | None = None,
    fmt: str = "json",
) -> DrainReport:
    """Drain everything available from a streaming source into the
    date-partitioned table, then stop (T1+T2+T5).

    `source` is any streaming DataFrame (Kafka via sources.kafka, or a
    file stream in tests) already in (or convertible to) envelope shape.
    `query_name` labels the streaming query (progress events, metrics
    listener, Spark UI).

    Returns what this drain committed and the query's progress. Both
    belong to this query alone, so concurrent per-topic drains never see
    each other's numbers, and `recentProgress` is complete once
    `awaitTermination` returns — no listener wait.
    """
    cfg = cfg or EngineConfig()
    committed: dict[str, int] = {}
    writer = make_merge_batch_writer(
        spark, output_root, cfg, fmt=fmt, committed=committed
    )
    stream = source.writeStream.foreachBatch(writer)
    if query_name:
        stream = stream.queryName(query_name)
    query = (
        stream.option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return DrainReport(committed=committed, progress=query.recentProgress)


def dedup_stream(
    df: DataFrame,
    keys: list[str] | None = None,
    ts_col: str = "event_time",
    watermark: str = "1 hour",
) -> DataFrame:
    """In-flight streaming dedup on the envelope key (T5 complement).

    `dropDuplicatesWithinWatermark` keeps per-key state only until the
    watermark passes — bounded state, unlike plain dropDuplicates on a
    stream (which accumulates keys forever). Use for at-least-once
    sources where the same (partition, offset) may be redelivered within
    the watermark window; the anti-join merge remains the cross-run
    backstop.
    """
    keys = keys or ["kafka_partition", "kafka_offset"]
    if not df.isStreaming:
        return df.dropDuplicates(keys)
    return df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)
