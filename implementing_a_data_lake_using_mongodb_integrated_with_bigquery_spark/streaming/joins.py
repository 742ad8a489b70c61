"""Stream-stream joins with watermark-bounded state (SURVEY §2.7
T-family extension).

The reference's pipeline only ever joins a stream against a STATIC dim
(places). The missing Structured Streaming capability is joining two
streams — e.g. click-to-purchase attribution — where BOTH sides buffer
in the state store and the time-range join condition plus watermarks
bound how long either side waits for its match.
"""

from __future__ import annotations

import itertools
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.streaming.phasing import (
    check_admission_log,
    check_batch_structure,
    scoped_conf,
    stage_phase_files,
)

_SINK_SEQ = itertools.count()


def _event_stream(
    spark: SparkSession, events_path: str, ts_col: str = "ts"
) -> DataFrame:
    """File stream over one lake table with the engine's standard
    NTZ/nanos event-time normalization (cast to TIMESTAMP for
    watermarking; see streaming/windowed.py)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
    raw_schema = spark.read.parquet(events_path).schema
    base = os.path.dirname(events_path.rstrip("/")) or "."
    glob = events_path + "*" if not any(c in events_path for c in "*?[{") else events_path
    s = spark.readStream.schema(raw_schema).option("basePath", base).parquet(glob)
    if isinstance(raw_schema[ts_col].dataType, T.LongType):
        s = s.withColumn(ts_col, F.timestamp_micros(F.expr(f"{ts_col} div 1000")))
    if isinstance(raw_schema[ts_col].dataType, T.TimestampNTZType):
        s = s.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return s


def _watermarked_pair(
    spark: SparkSession,
    events_path: str,
    key_col: str,
    left_type: str,
    right_type: str,
    lateness: str,
) -> tuple[DataFrame, DataFrame]:
    """The left/right watermarked event streams every stream-stream
    join here starts from — ONE implementation of the column contract
    (k/left_id/left_ts vs k2/right_id/right_ts/right_value) and the
    lateness wiring, so the inner, outer, and chained variants can
    never drift apart."""
    left = (
        _event_stream(spark, events_path)
        .filter(F.col("event_type") == left_type)
        .select(
            F.col(key_col).alias("k"),
            F.col("event_id").alias("left_id"),
            F.col("ts").alias("left_ts"),
        )
        .withWatermark("left_ts", lateness)
    )
    right = (
        _event_stream(spark, events_path)
        .filter(F.col("event_type") == right_type)
        .select(
            F.col(key_col).alias("k2"),
            F.col("event_id").alias("right_id"),
            F.col("ts").alias("right_ts"),
            F.col("value").alias("right_value"),
        )
        .withWatermark("right_ts", lateness)
    )
    return left, right


def _interval_join(
    left: DataFrame, right: DataFrame, horizon: str, how: str
) -> DataFrame:
    """Key-equal + right-within-[left, left+horizon] interval join."""
    return left.join(
        right,
        (F.col("k") == F.col("k2"))
        & (F.col("right_ts") >= F.col("left_ts"))
        & (F.col("right_ts") <= F.col("left_ts") + F.expr(f"INTERVAL {horizon}")),
        how,
    )


def _attribution_once(
    spark: SparkSession,
    events_path: str,
    key_col: str,
    left_type: str,
    right_type: str,
    horizon: str,
    lateness: str,
    state_partitions: int | None,
    how: str,
    sink_tag: str,
) -> DataFrame:
    left, right = _watermarked_pair(
        spark, events_path, key_col, left_type, right_type, lateness
    )
    joined = _interval_join(left, right, horizon, how)
    sink = f"{sink_tag}_{next(_SINK_SEQ)}"
    with scoped_conf(spark, {"spark.sql.shuffle.partitions": state_partitions}):
        q = (
            joined.select(
                "k", "left_id", "right_id", "left_ts", "right_ts", "right_value"
            )
            .writeStream.format("memory")
            .queryName(sink)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(sink)


def attribution_join_once(
    spark: SparkSession,
    events_path: str,
    key_col: str = "user_id",
    left_type: str = "click",
    right_type: str = "purchase",
    horizon: str = "30 minutes",
    lateness: str = "2 hours",
    state_partitions: int | None = 8,
) -> DataFrame:
    """Run a stream-stream INNER join end-to-end on a bounded replay:
    ``left_type`` events join ``right_type`` events of the same key
    when the right event lands within ``[left.ts, left.ts + horizon]``.
    Both sides are watermarked (state for either side is evicted once
    the other side's watermark passes the join horizon) and the joined
    rows land in an append-mode memory sink; the finalized table is
    returned batch-side for oracle comparison against the equivalent
    batch interval join.

    Inner joins emit eagerly on match — the watermark bounds STATE, not
    emission — so the bounded replay yields every match whose pair was
    co-resident within the lateness budget (all of them, here: the lake
    table is one file ⇒ one micro-batch).

    ``state_partitions`` sizes the stateful shuffle: each partition
    owns four state stores (left/right × keyed buffers), and store
    open/commit cost is per-store per-batch — so the partition count
    should track the join KEYSPACE, not the CPU count (a 32-way
    stateful shuffle over a small keyspace pays 128 store commits for
    no parallelism gain). The session's normal shuffle setting is
    restored after the run; a production deployment sizes this once
    against its key cardinality since it is pinned by the checkpoint.
    """
    return _attribution_once(
        spark, events_path, key_col, left_type, right_type, horizon,
        lateness, state_partitions, "inner", "attribution_join_once",
    )


def stream_static_enrich_once(
    spark: SparkSession,
    events_path: str,
    dim: DataFrame,
    key_col: str = "user_id",
    dim_key: str = "c_custkey",
    dim_attr: str = "c_mktsegment",
) -> DataFrame:
    """Stream-static enrichment join, run end-to-end on a bounded
    replay: the event stream joins a STATIC dimension (the reference's
    only join shape — stream of weather readings × places lookup,
    ``src/process_insert_update_weather_data.py:63-74``), then
    aggregates per dim attribute in complete mode.

    The static side is broadcast per micro-batch — no state store is
    involved for the dim (unlike stream-stream joins), so the join
    costs what a batch broadcast join costs, every batch. Complete-mode
    aggregation makes the final table replay-deterministic: it equals
    the batch join+agg over the same files, which is exactly what the
    DuckDB oracle computes."""
    stream = _event_stream(spark, events_path)
    enriched = stream.join(
        F.broadcast(dim.select(F.col(dim_key).alias(key_col), dim_attr)),
        key_col,
        "inner",
    )
    aggd = enriched.groupBy(dim_attr).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.round(F.col("value") * 10000).cast("long")).alias("_sv"),
    )
    sink = f"stream_static_enrich_once_{next(_SINK_SEQ)}"
    q = (
        aggd.writeStream.format("memory")
        .queryName(sink)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(sink).select(
        dim_attr,
        "n_events",
        (F.col("_sv") / 10000.0).alias("sum_value"),
    )


def attribution_outer_join_once(
    spark: SparkSession,
    events_path: str,
    key_col: str = "user_id",
    left_type: str = "click",
    right_type: str = "purchase",
    horizon: str = "30 minutes",
    lateness: str = "2 hours",
    state_partitions: int | None = 8,
) -> DataFrame:
    """LEFT OUTER stream-stream join on a bounded replay — the
    semantics inner joins don't have: an unmatched left row emits its
    null-padded result only when the global watermark proves no
    matching right event can still arrive (watermark > left_ts +
    horizon, the row's state-eviction point). Until then the row sits
    in the state store as a pending candidate; on an unbounded stream
    this is the click-with-no-purchase feed, emitted with exactly one
    row per click, attribution horizon honored.

    Bounded-replay emission rule (what the DuckDB oracle models):
    every co-resident match emits eagerly, plus the null-padded left
    rows whose eviction point lies strictly below the FINAL global
    watermark — min of the two sides' (ms-truncated max event time −
    lateness), Spark's multiple-watermark min policy. Trailing
    unmatched clicks inside the horizon of the stream's end are
    withheld: correct streaming behavior, asserted by the oracle cut.
    """
    return _attribution_once(
        spark, events_path, key_col, left_type, right_type, horizon,
        lateness, state_partitions, "left_outer",
        "attribution_outer_join_once",
    )


def chained_join_window_once(
    spark: SparkSession,
    events_path: str,
    key_col: str = "user_id",
    left_type: str = "click",
    right_type: str = "purchase",
    horizon: str = "30 minutes",
    lateness: str = "2 hours",
    duration: str = "1 hour",
    state_partitions: int | None = 8,
) -> DataFrame:
    """MULTIPLE STATEFUL OPERATORS in one streaming query (Spark ≥3.5
    watermark propagation, SPARK-42376): a stream-stream interval join
    feeding a tumbling-window aggregation — attribution followed by
    hourly attributed-volume rollup, one query, two state stores.

    The semantics the oracle must model: the join's output can carry
    event times up to ``horizon`` OLDER than the global watermark (a
    purchase emitted when its click finally arrives), so Spark
    propagates watermark − horizon to the downstream aggregation. On
    a bounded replay the emitted set is every window with end ≤
    W − horizon, W = min over both sides of (ms-truncated max event
    time − lateness) — pinned empirically with 15-minute windows
    against a dense synthetic stream (the hour-coarse real replay
    cannot discriminate W from W − horizon)."""
    left, right = _watermarked_pair(
        spark, events_path, key_col, left_type, right_type, lateness
    )
    joined = _interval_join(left, right, horizon, "inner")
    aggd = joined.groupBy(F.window("right_ts", duration).alias("w")).agg(
        F.count(F.lit(1)).cast("long").alias("n_attributed"),
        F.sum(F.round(F.col("right_value") * 10000).cast("long")).alias("_sv"),
    )
    sink = f"chained_join_window_once_{next(_SINK_SEQ)}"
    with scoped_conf(spark, {"spark.sql.shuffle.partitions": state_partitions}):
        q = (
            aggd.select(
                F.col("w.start").alias("window_start"),
                "n_attributed",
                (F.col("_sv") / 10000.0).alias("attributed_value"),
            )
            .writeStream.format("memory")
            .queryName(sink)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(sink)


def attribution_full_outer_join_once(
    spark: SparkSession,
    events_path: str,
    key_col: str = "user_id",
    left_type: str = "click",
    right_type: str = "purchase",
    horizon: str = "30 minutes",
    lateness: str = "2 hours",
    state_partitions: int | None = 8,
) -> DataFrame:
    """FULL OUTER stream-stream join on a bounded replay — the
    two-sided completion of the join family (inner:
    ``attribution_join_once``, left outer:
    ``attribution_outer_join_once``, left semi:
    ``attribution_semi_join_once``): unmatched rows on EITHER side emit
    null-padded once the global watermark proves their match can no
    longer arrive. On an unbounded stream this is the full attribution
    ledger — every click and every purchase appears exactly once,
    matched or not (purchases with no preceding click are the organic /
    untracked-campaign feed the one-sided joins silently drop).

    Bounded-replay emission rule (empirically pinned in
    ``tests/test_round9.py``, W = min over both sides of (ms-truncated
    max event time − lateness), Spark's multiple-watermark min policy):
    matches emit eagerly; a null-padded LEFT row emits iff its
    state-eviction point ``left_ts + horizon`` < W (same as left
    outer); a null-padded RIGHT row emits iff ``right_ts`` < W — the
    right side's eviction point is its own event time, because a right
    row at t can only match left rows with ``left_ts ∈ [t − horizon,
    t]`` and left arrivals below the watermark are inadmissible, so
    once W passes t no future left can reach it. Both cuts are STRICT
    (a row exactly at W is withheld — probed at the boundary).

    Output carries both keys (``k`` null on right-only rows, ``k2``
    null on left-only rows) so callers can group on
    ``coalesce(k, k2)``.
    """
    left, right = _watermarked_pair(
        spark, events_path, key_col, left_type, right_type, lateness
    )
    joined = _interval_join(left, right, horizon, "full_outer")
    sink = f"attribution_full_outer_{next(_SINK_SEQ)}"
    with scoped_conf(spark, {"spark.sql.shuffle.partitions": state_partitions}):
        q = (
            joined.select(
                "k", "k2", "left_id", "right_id", "left_ts", "right_ts",
                "right_value",
            )
            .writeStream.format("memory")
            .queryName(sink)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(sink)


def restart_attribution_join(
    spark: SparkSession,
    phase1: DataFrame,
    phase2: DataFrame,
    key_col: str = "user_id",
    left_type: str = "click",
    right_type: str = "purchase",
    horizon: str = "30 minutes",
    lateness: str = "2 hours",
    state_partitions: int | None = 8,
) -> tuple[DataFrame, dict]:
    """Stream-stream INNER interval join across a checkpoint RESTART
    with a genuinely advancing watermark — the join-buffer twin of
    ``streaming.windowed.restart_append_counts``: two ``availableNow``
    runs over ONE checkpoint and a fault-tolerant parquet sink.

    Run 1 processes ``phase1``'s file: co-resident matches emit, the
    checkpoint persists BOTH sides' join state and watermark
    W1 = min over both types of (ms-truncated max phase-1 event time)
    − lateness. ``phase2`` then lands as a new file and the query
    restarts: phase-2 rows at or below W1 are dropped as late
    (empirically: kept iff ``ts > W1`` — a row exactly at W1 is
    DROPPED; strict admission pinned in tests/test_round9.py together
    with the state-eviction boundaries), surviving phase-2 rows match
    against the RESTORED phase-1 buffers (minus rows W1 already
    evicted: clicks with left_ts + horizon < W1, purchases with
    right_ts < W1) and against each other. The union of both runs'
    emissions is returned with a stats dict of per-run progress facts.
    """
    with tempfile.TemporaryDirectory(
        prefix="restart_join_", ignore_cleanup_errors=True
    ) as root, scoped_conf(
        spark, {"spark.sql.shuffle.partitions": state_partitions}
    ):
        input_dir = os.path.join(root, "input")
        ckpt = os.path.join(root, "ckpt")
        out_dir = os.path.join(root, "out")

        def run_phase() -> list:
            left, right = _watermarked_pair(
                spark, input_dir + "/", key_col, left_type, right_type, lateness
            )
            joined = _interval_join(left, right, horizon, "inner").select(
                "k", "left_id", "right_id", "left_ts", "right_ts", "right_value"
            )
            q = (
                joined.writeStream.format("parquet")
                .option("path", out_dir)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            return list(q.recentProgress)

        progress = []
        for i, phase in enumerate((phase1, phase2)):
            counts = stage_phase_files([phase], input_dir, start=i)
            progress.append(run_phase())
            # both join sides stream the same file, so a batch's
            # numInputRows counts every phase row twice
            check_batch_structure(
                progress[i], [2 * n for n in counts],
                f"restart_attribution_join run {i + 1}",
            )
        prog1, prog2 = progress
        check_admission_log(ckpt, 2, "restart_attribution_join")
        result = spark.read.parquet(out_dir).localCheckpoint(eager=True)

    def facts(progress: list) -> dict:
        data = [p for p in progress if p["numInputRows"] > 0]
        dropped = sum(
            op.get("numRowsDroppedByWatermark", 0)
            for p in progress
            for op in p.get("stateOperators", [])
        )
        return {"data_batches": len(data), "rows_dropped": dropped}

    return result, {"phase1": facts(prog1), "phase2": facts(prog2)}


def attribution_semi_join_once(
    spark: SparkSession,
    events_path: str,
    key_col: str = "user_id",
    left_type: str = "click",
    right_type: str = "purchase",
    horizon: str = "30 minutes",
    lateness: str = "2 hours",
    state_partitions: int | None = 8,
) -> DataFrame:
    """LEFT SEMI stream-stream join on a bounded replay — the
    existence-only member of the join family (inner:
    ``attribution_join_once``, outer: ``attribution_outer_join_once``):
    each left event is emitted AT MOST ONCE, when a matching right
    event within ``[left_ts, left_ts + horizon]`` is first seen, and
    its state is dropped immediately on emission — the semi join's
    state advantage over inner (a matched left row never lingers
    waiting for more matches it would only duplicate).

    Bounded-replay emission (single data micro-batch here — the lake
    table is one file): every left row with ≥1 co-resident match
    emits, i.e. exactly the batch EXISTS semantics the oracle runs.
    Output carries only left columns, the semi contract.
    """
    left, right = _watermarked_pair(
        spark, events_path, key_col, left_type, right_type, lateness
    )
    joined = _interval_join(left, right, horizon, "left_semi")
    sink = f"attribution_semi_{next(_SINK_SEQ)}"
    with scoped_conf(spark, {"spark.sql.shuffle.partitions": state_partitions}):
        q = (
            joined.select("k", "left_id", "left_ts")
            .writeStream.format("memory")
            .queryName(sink)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(sink)
