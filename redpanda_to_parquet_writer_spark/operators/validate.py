"""Count-validation operators (V1/V2, collector:1398-1502).

The reference's post-run validation:
  - internal: records the writer claims == count(*) re-read from Parquet
  - external: Parquet per-partition counts == Kafka high watermarks,
    with PASS / WARNING / ERROR statuses per partition

Spark-side, the writer's claim is per run: the sink's count before the
run plus the rows the run's writes committed (counted by an observed
metric on each write, `streaming.sink.write_date_partitioned`). V1
compares it with the count after the run, so a file lost or duplicated
between write and validation shows as ERROR / WARNING. The
high-watermark map comes from the broker admin API (driver-side). Both
checks are single projected-scan aggregations.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from redpanda_to_parquet_writer_spark.streaming.sink import read_sink

PASS = "PASS"
WARNING = "WARNING"  # sink has MORE than source claims (dupes suspected)
ERROR = "ERROR"  # sink has FEWER than source claims (data loss)


@dataclass
class CountReport:
    status: str
    expected: int
    actual: int

    @property
    def ok(self) -> bool:
        return self.status == PASS


def sink_row_count(spark: SparkSession, root: str) -> int:
    """Rows in the sink at `root`; 0 while it holds no data file."""
    df = read_sink(spark, root)
    return 0 if df is None else df.count()


def internal_consistency(spark: SparkSession, root: str, written_count: int) -> CountReport:
    """V1: writer-claimed count vs re-read count (collector:1479-1480).

    `written_count` is the rows the sink should hold: for a collector
    run, its count before the run plus the rows the run committed.
    """
    actual = sink_row_count(spark, root)
    if actual == written_count:
        status = PASS
    elif actual > written_count:
        status = WARNING
    else:
        status = ERROR
    return CountReport(status=status, expected=written_count, actual=actual)


def external_completeness(
    spark: SparkSession,
    root: str,
    high_watermarks: dict[int, int],
    partition_col: str = "kafka_partition",
) -> DataFrame:
    """V2: per-partition sink counts vs source high watermarks
    (collector:1433-1472). Returns a report frame
    (partition, expected, actual, missing, status).

    One projected scan + group-by count (A2); the watermark map is tiny
    and broadcast as a literal frame.
    """
    counts = (
        spark.read.parquet(root)
        .select(partition_col)
        .groupBy(partition_col)
        .agg(F.count("*").alias("actual"))
    )
    expected = spark.createDataFrame(
        [(int(p), int(h)) for p, h in sorted(high_watermarks.items())],
        f"{partition_col} long, expected long",
    )
    joined = expected.join(F.broadcast(counts), partition_col, "left").withColumn(
        "actual", F.coalesce(F.col("actual"), F.lit(0))
    )
    status = (
        F.when(F.col("actual") == F.col("expected"), F.lit(PASS))
        .when(F.col("actual") > F.col("expected"), F.lit(WARNING))
        .otherwise(F.lit(ERROR))
    )
    return joined.withColumn("missing", F.col("expected") - F.col("actual")).withColumn(
        "status", status
    )
