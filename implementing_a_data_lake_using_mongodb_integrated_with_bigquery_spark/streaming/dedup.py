"""Streaming deduplication with watermark-bounded state (SURVEY §2.7
T-family extension).

The reference achieves effectively-once by making every merge
idempotent against the TARGET (PK anti-join — ``streaming/
cdc_merge.py``). The complementary Spark-native primitive dedups
INSIDE the stream: ``dropDuplicatesWithinWatermark`` keeps a keyed
state store of seen keys and evicts entries older than the watermark,
so state stays bounded while duplicates delivered within the lateness
window are suppressed — at-least-once transport becomes exactly-once
arithmetic without touching the sink.
"""

from __future__ import annotations

import itertools
import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.streaming.phasing import (
    scoped_conf,
)

_SINK_SEQ = itertools.count()


def stream_dedup_once(
    spark: SparkSession,
    events_path: str,
    key_cols: list[str],
    ts_col: str = "ts",
    lateness: str = "10 minutes",
    group_cols: list[str] | None = None,
    aggs: list[Column] | None = None,
    state_partitions: int | None = 8,
) -> DataFrame:
    """Prove stream-side dedup end-to-end on a bounded replay: read the
    events table as TWO unioned file streams (every event delivered
    exactly twice — a worst-case at-least-once transport), apply
    ``dropDuplicatesWithinWatermark`` on ``key_cols``, aggregate, and
    return the finalized result batch-side. The caller oracles it
    against batch SQL over the ORIGINAL (single-delivery) table: a
    match proves the duplicate deliveries were fully suppressed.

    Same NTZ/nanos event-time handling as ``windowed.windowed_counts_once``.

    ``state_partitions`` sizes the stateful shuffle (dedup buffer +
    aggregation stores): per-partition store open/commit costs are paid
    per micro-batch regardless of data volume, so the count should
    track the key cardinality, not the CPU count — the session's normal
    shuffle setting is restored after the run (see
    ``streaming/joins.py`` for the same discipline).
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
    raw_schema = spark.read.parquet(events_path).schema
    base = os.path.dirname(events_path.rstrip("/")) or "."
    glob = events_path + "*" if not any(c in events_path for c in "*?[{") else events_path

    def one_stream() -> DataFrame:
        s = (
            spark.readStream.schema(raw_schema)
            .option("basePath", base)
            .parquet(glob)
        )
        if isinstance(raw_schema[ts_col].dataType, T.LongType):
            s = s.withColumn(ts_col, F.timestamp_micros(F.expr(f"{ts_col} div 1000")))
        if isinstance(raw_schema[ts_col].dataType, T.TimestampNTZType):
            s = s.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
        return s

    doubled = one_stream().union(one_stream())
    deduped = doubled.withWatermark(ts_col, lateness).dropDuplicatesWithinWatermark(
        key_cols
    )
    group_cols = group_cols or []
    aggs = aggs or [F.count(F.lit(1)).alias("n_events")]
    out = deduped.groupBy(*group_cols).agg(*aggs) if (group_cols or aggs) else deduped
    sink = f"stream_dedup_once_{next(_SINK_SEQ)}"
    with scoped_conf(spark, {"spark.sql.shuffle.partitions": state_partitions}):
        q = (
            out.writeStream.format("memory")
            .queryName(sink)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(sink)
