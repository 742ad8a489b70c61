"""Streaming windowed aggregation with watermarks (SURVEY §2.7 T4/T5).

The reference's hourly cadence + freshness rejection is, in Spark
terms, a 1-hour tumbling window with a short allowed lateness
(reference: Lambda deadline ≈ 5 min, ``README.md:13,74``): rows older
than the watermark are dropped, exactly like the reference's
``last_updated == expected`` predicate discarding stale observations.
"""

from __future__ import annotations

import itertools
import os
import tempfile
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.streaming.phasing import (
    check_admission_log,
    check_batch_structure,
    scoped_conf,
    stage_phase_files,
)

_SINK_SEQ = itertools.count()


def _open_event_stream(
    spark: SparkSession,
    events_path: str,
    ts_col: str,
    max_files_per_trigger: int | None = None,
) -> tuple[DataFrame, bool]:
    """File-stream over a lake parquet table with the event-time column
    normalized to TIMESTAMP. Returns (stream, had_ntz_event_time).

    Same nanos-parquet handling as ``sources/tables.py:load_table``:
    TIMESTAMP(NANOS) columns stream in as raw longs and are rebuilt as
    microsecond timestamps. TIMESTAMP_NTZ event time (what Spark ≥3.4
    infers for parquet micros with ``isAdjustedToUTC=false``, the
    lake's layout) is cast to TIMESTAMP — ``withWatermark`` rejects NTZ
    outright (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE); the session
    timezone is pinned UTC so the cast is value-identical. Callers cast
    emitted bounds back to NTZ for oracle schema parity.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
    raw_schema = spark.read.parquet(events_path).schema
    # the lake table may be a single parquet FILE. The file-stream
    # source force-sets basePath to the source path UNLESS the path is
    # a glob, and a file-valued basePath is rejected — so feed it a
    # glob for the same file plus an explicit directory basePath
    base = os.path.dirname(events_path.rstrip("/")) or "."
    reader = spark.readStream.schema(raw_schema).option("basePath", base)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    stream = reader.parquet(
        events_path + "*" if not any(c in events_path for c in "*?[{") else events_path
    )
    if isinstance(raw_schema[ts_col].dataType, T.LongType):
        stream = stream.withColumn(
            ts_col, F.timestamp_micros(F.expr(f"{ts_col} div 1000"))
        )
    ntz_event_time = isinstance(raw_schema[ts_col].dataType, T.TimestampNTZType)
    if ntz_event_time:
        stream = stream.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return stream, ntz_event_time


def windowed_counts(
    stream: DataFrame,
    ts_col: str,
    duration: str = "1 hour",
    lateness: str = "5 minutes",
    group_cols: list[str] | None = None,
    aggs: list[Column] | None = None,
    slide: str | None = None,
) -> DataFrame:
    """Watermarked tumbling-window aggregation over an unbounded
    stream (sliding when ``slide`` < ``duration`` is given: each event
    then feeds duration/slide concurrent windows — state stays bounded
    because the watermark still evicts finalized windows). State is
    bounded: windows older than the watermark are finalized and
    evicted."""
    group_cols = group_cols or []
    aggs = aggs or [F.count(F.lit(1)).alias("n_events")]
    win = F.window(ts_col, duration, slide) if slide else F.window(ts_col, duration)
    return (
        stream.withWatermark(ts_col, lateness)
        .groupBy(win.alias("w"), *group_cols)
        .agg(*aggs)
        .withColumn("window_start", F.col("w.start"))
        .withColumn("window_end", F.col("w.end"))
        .drop("w")
    )


def windowed_counts_once(
    spark: SparkSession,
    events_path: str,
    ts_col: str = "ts",
    duration: str = "1 hour",
    lateness: str = "5 minutes",
    group_cols: list[str] | None = None,
    aggs: list[Column] | None = None,
    slide: str | None = None,
) -> DataFrame:
    """Run ``windowed_counts`` over the lake's events parquet as an
    actual Structured Streaming job (file stream, ``availableNow``
    trigger) and return the finalized aggregation as a batch DataFrame.

    Exists to make streaming semantics DRIVER-verifiable: the caller
    oracles this result against the equivalent batch SQL, pinning
    stream-executed == batch-executed for the same window spec.
    Output mode is ``complete`` into a named memory sink — append mode
    would withhold the trailing windows the final watermark hasn't
    passed, which is correct for an unbounded stream but would break
    equivalence on a bounded replay. The memory sink holds only the
    aggregated windows (not the input), so its driver footprint is the
    result size; an unbounded production pipeline would instead run
    append mode into a partitioned parquet sink and tolerate the
    open-window lag.

    Same nanos-parquet handling as ``sources/tables.py:load_table``:
    TIMESTAMP(NANOS) columns stream in as raw longs and are rebuilt as
    microsecond timestamps.

    TIMESTAMP_NTZ event time (what Spark ≥3.4 infers for parquet
    micros with ``isAdjustedToUTC=false``, the lake's layout) is cast
    to TIMESTAMP before watermarking — ``withWatermark`` rejects NTZ
    outright (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE). The session
    timezone is pinned UTC, so the cast is value-identical; the window
    bounds are cast back to NTZ afterwards so the output schema matches
    the batch-read (NTZ) formulation the oracles compare against.
    """
    stream, ntz_event_time = _open_event_stream(spark, events_path, ts_col)
    out = windowed_counts(stream, ts_col, duration, lateness, group_cols, aggs, slide)
    sink = f"windowed_counts_once_{next(_SINK_SEQ)}"
    q = (
        out.writeStream.format("memory")
        .queryName(sink)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    result = spark.table(sink)
    if ntz_event_time:
        result = result.withColumn(
            "window_start", F.col("window_start").cast("timestamp_ntz")
        ).withColumn("window_end", F.col("window_end").cast("timestamp_ntz"))
    return result


ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def windowed_counts_once_rocksdb(
    spark: SparkSession,
    events_path: str,
    ts_col: str = "ts",
    duration: str = "1 hour",
    lateness: str = "5 minutes",
    group_cols: list[str] | None = None,
    aggs: list[Column] | None = None,
) -> DataFrame:
    """:func:`windowed_counts_once` executed under the **RocksDB state
    store provider** — the large-state scale path. The default
    HDFS-backed provider keeps every state key in executor HEAP, so at
    100 TB-stream state sizes (billions of open windows/keys) it OOMs
    or thrashes GC; RocksDB (bundled with Spark — ``rocksdbjni``)
    holds state in native memory + local disk with incremental
    changelog checkpointing, bounding heap by block cache, not
    keyspace. Results must be IDENTICAL — the provider is a physical
    layout choice, not a semantics choice — which is exactly what the
    caller's relational oracle pins.

    The provider conf is read at QUERY start, so it is set just for
    this bounded run and restored after; the run asserts RocksDB
    actually engaged by reading the state operator's RocksDB-specific
    custom metrics from the final progress (a silently ignored conf
    must fail loudly, not 'pass' on the default provider)."""
    with scoped_conf(
        spark, {"spark.sql.streaming.stateStore.providerClass": ROCKSDB_PROVIDER}
    ):
        stream, ntz_event_time = _open_event_stream(spark, events_path, ts_col)
        out = windowed_counts(stream, ts_col, duration, lateness, group_cols, aggs)
        sink = f"windowed_counts_rocksdb_{next(_SINK_SEQ)}"
        q = (
            out.writeStream.format("memory")
            .queryName(sink)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        rocks_metrics = [
            m
            for p in q.recentProgress
            for op in p.get("stateOperators", [])
            for m in (op.get("customMetrics") or {})
            if "rocksdb" in m.lower()
        ]
        if not rocks_metrics:
            raise RuntimeError(
                "windowed_counts_once_rocksdb: no RocksDB custom metrics in "
                "the state operator progress — the provider conf did not "
                "engage (default provider answered instead)"
            )
        result = spark.table(sink)
        if ntz_event_time:
            result = result.withColumn(
                "window_start", F.col("window_start").cast("timestamp_ntz")
            ).withColumn("window_end", F.col("window_end").cast("timestamp_ntz"))
        # pin rows before the conf (and the memory sink's registration)
        # can change under a later query in the same session
        return result.localCheckpoint(eager=True)


def session_windows_once(
    spark: SparkSession,
    events_path: str,
    ts_col: str = "ts",
    gap: str = "30 minutes",
    lateness: str = "5 minutes",
    group_cols: list[str] | None = None,
    aggs: list[Column] | None = None,
    state_partitions: int | None = 16,
) -> DataFrame:
    """Watermarked streaming session windows (``F.session_window``) over
    the lake's events parquet, run as an actual Structured Streaming
    job (availableNow) and returned as a batch DataFrame.

    The streaming twin of the batch gap-sessionization the engine
    already oracles: events merge into one session while each arrives
    strictly within ``gap`` of the previous (the session window is
    half-open — an event exactly at prev_ts+gap starts a NEW session),
    and the watermark both drops late events and bounds state: a
    session is finalized and evicted once no in-gap continuation can
    arrive.

    Session windows support only append/update output, never complete
    (merging sessions can retract rows), so unlike
    ``windowed_counts_once`` this runs APPEND mode: the emitted set is
    exactly the sessions whose ``session_end`` (last event + gap) is ≤
    the final watermark (global max event time − ``lateness``). On a
    bounded replay the trailing open sessions are therefore withheld —
    correct streaming semantics, and the DuckDB oracle applies the same
    ``session_end <= max(ts) - lateness`` cut so stream-executed ==
    batch-SQL holds exactly. State is per (group, open session): at
    1000 executors it shards by group key and the watermark evicts
    every closed session, so state size tracks ACTIVE sessions only.
    """
    group_cols = group_cols if group_cols is not None else ["user_id"]
    aggs = aggs or [F.count(F.lit(1)).cast("long").alias("n_events")]
    stream, ntz_event_time = _open_event_stream(spark, events_path, ts_col)
    aggd = (
        stream.withWatermark(ts_col, lateness)
        .groupBy(F.session_window(ts_col, gap).alias("w"), *group_cols)
        .agg(*aggs)
    )
    agg_names = [c for c in aggd.columns if c != "w" and c not in group_cols]
    out = aggd.select(
        *group_cols,
        F.col("w.start").alias("session_start"),
        F.col("w.end").alias("session_end"),
        *agg_names,
    )
    sink = f"session_windows_once_{next(_SINK_SEQ)}"
    # state-partition sizing, same reasoning as streaming/joins.py:
    # per-partition store open/commit cost dominates over a small
    # keyspace, so size to the group-key cardinality, not the CPU
    # count; restored after the bounded run (a production deployment
    # pins this once via its checkpoint).
    with scoped_conf(spark, {"spark.sql.shuffle.partitions": state_partitions}):
        q = (
            out.writeStream.format("memory")
            .queryName(sink)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        # The batch-SQL oracle models the emission rule for a
        # SINGLE-data-micro-batch replay: watermark still at 0 while all
        # rows arrive, so no late rows are dropped and the only cut is
        # the final-watermark withholding. If the replay ever splits
        # (maxFilesPerTrigger set, or a multi-file events table at
        # larger SF), rows arriving after batch 1 would face a nonzero
        # watermark and the stream would diverge from the oracle — fail
        # loudly instead of silently diverging.
        data_batches = [
            p for p in q.recentProgress if p["numInputRows"] > 0
        ]
        if len(data_batches) > 1:
            raise RuntimeError(
                f"session_windows_once replayed {len(data_batches)} data "
                "micro-batches; the bounded-replay oracle assumes exactly "
                "one (watermark still 0 on arrival). Coalesce the input "
                "or extend the oracle to model per-batch watermarks."
            )
    result = spark.table(sink)
    if ntz_event_time:
        result = result.withColumn(
            "session_start", F.col("session_start").cast("timestamp_ntz")
        ).withColumn("session_end", F.col("session_end").cast("timestamp_ntz"))
    return result


def _restart_run(
    run_phase: Callable[[], list], phase: DataFrame, input_dir: str, i: int, where: str
) -> list:
    """One run of a two-run checkpoint restart: stage ``phase`` as file
    ``i`` of ``input_dir`` (after run ``i`` − 1 committed its offsets),
    run the query once more on the shared checkpoint, and guard that
    the run admitted the whole phase as exactly one data micro-batch.
    Returns the run's progress."""
    counts = stage_phase_files([phase], input_dir, start=i)
    progress = run_phase()
    check_batch_structure(progress, counts, f"{where} run {i + 1}")
    return progress


def restart_session_windows(
    spark: SparkSession,
    phase1: DataFrame,
    phase2: DataFrame,
    ts_col: str = "ts",
    gap: str = "30 minutes",
    lateness: str = "1 hour",
    group_cols: list[str] | None = None,
    state_partitions: int | None = 16,
) -> tuple[DataFrame, dict]:
    """Session windows across a checkpoint RESTART — the third stateful
    family to get the two-run/one-checkpoint treatment (aggregates:
    ``restart_append_counts``; joins: ``joins.restart_attribution_join``).

    Run 1 sessionizes ``phase1``: sessions with end ≤ W1 (ms-truncated
    max phase-1 event time − lateness) EMIT and evict; open sessions
    (end > W1) persist in the checkpointed state. ``phase2`` lands and
    the query restarts: a phase-2 row is admitted iff its provisional
    session end ``ts + gap`` exceeds W1 (empirically pinned, strict —
    the SESSION-WINDOW end is what the late filter tests, not the raw
    event time), admitted rows MERGE with restored open sessions when
    in-gap (a session genuinely spanning the restart) but can NEVER
    re-merge with an already-emitted session (its state is gone — the
    stream emits two sessions where batch sessionization would emit
    one; the oracle must model exactly that), and the final watermark
    W2 emits every session it passes. Returns (emissions-union, stats).
    """
    group_cols = group_cols if group_cols is not None else ["user_id"]
    ntz_event_time = False
    with tempfile.TemporaryDirectory(
        prefix="restart_sessions_", ignore_cleanup_errors=True
    ) as root, scoped_conf(
        spark, {"spark.sql.shuffle.partitions": state_partitions}
    ):
        input_dir = os.path.join(root, "input")
        ckpt = os.path.join(root, "ckpt")
        out_dir = os.path.join(root, "out")

        def run_phase() -> list:
            nonlocal ntz_event_time
            stream, ntz_event_time = _open_event_stream(spark, input_dir, ts_col)
            aggd = (
                stream.withWatermark(ts_col, lateness)
                .groupBy(F.session_window(ts_col, gap).alias("w"), *group_cols)
                .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
            )
            out = aggd.select(
                *group_cols,
                F.col("w.start").alias("session_start"),
                F.col("w.end").alias("session_end"),
                "n_events",
            )
            q = (
                out.writeStream.format("parquet")
                .option("path", out_dir)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            return list(q.recentProgress)

        prog1 = _restart_run(run_phase, phase1, input_dir, 0, "restart_session_windows")
        prog2 = _restart_run(run_phase, phase2, input_dir, 1, "restart_session_windows")
        check_admission_log(ckpt, 2, "restart_session_windows")
        result = spark.read.parquet(out_dir)
        if ntz_event_time:
            result = result.withColumn(
                "session_start", F.col("session_start").cast("timestamp_ntz")
            ).withColumn(
                "session_end", F.col("session_end").cast("timestamp_ntz")
            )
        result = result.localCheckpoint(eager=True)

    def facts(progress: list) -> dict:
        data = [p for p in progress if p["numInputRows"] > 0]
        dropped = sum(
            op.get("numRowsDroppedByWatermark", 0)
            for p in progress
            for op in p.get("stateOperators", [])
        )
        return {"data_batches": len(data), "rows_dropped": dropped}

    return result, {"phase1": facts(prog1), "phase2": facts(prog2)}


def restart_stream_dedup(
    spark: SparkSession,
    phase1: DataFrame,
    phase2: DataFrame,
    key_cols: list[str] | None = None,
    ts_col: str = "ts",
    delay: str = "1 hour",
    state_partitions: int | None = 16,
) -> tuple[DataFrame, dict]:
    """``dropDuplicatesWithinWatermark`` across a checkpoint RESTART —
    the fourth stateful family restarted (aggregates, joins, sessions:
    see the sibling restart_* operators). Run 1 emits each key's first
    occurrence and checkpoints the dedup state (per-key expiry = the
    FIRST-processed occurrence's event time + delay, NOT extended by
    later duplicates — empirically pinned in tests/test_round9.py;
    since first-processed is partition-order-nondeterministic for
    multi-timestamp keys, oracle-able restart keys must be
    single-timestamp, e.g. event_id); run 2
    admits phase-2 rows above the restored watermark, suppresses keys
    whose state is still alive, and RE-EMITS keys whose state W1
    already evicted — the documented within-the-delay guarantee
    boundary, observable only across a restart. Returns
    (emissions-union, stats); emitted ROW choice within a batch is
    partition-order-nondeterministic, so callers must aggregate to
    per-key emission counts (deterministic under the rules above)."""
    key_cols = key_cols or ["user_id", "event_type"]
    with tempfile.TemporaryDirectory(
        prefix="restart_dedup_", ignore_cleanup_errors=True
    ) as root, scoped_conf(
        spark, {"spark.sql.shuffle.partitions": state_partitions}
    ):
        input_dir = os.path.join(root, "input")
        ckpt = os.path.join(root, "ckpt")
        out_dir = os.path.join(root, "out")

        def run_phase() -> list:
            stream, _ntz = _open_event_stream(spark, input_dir, ts_col)
            deduped = stream.withWatermark(
                ts_col, delay
            ).dropDuplicatesWithinWatermark(key_cols)
            q = (
                deduped.select(*key_cols)
                .writeStream.format("parquet")
                .option("path", out_dir)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            return list(q.recentProgress)

        prog1 = _restart_run(run_phase, phase1, input_dir, 0, "restart_stream_dedup")
        prog2 = _restart_run(run_phase, phase2, input_dir, 1, "restart_stream_dedup")
        check_admission_log(ckpt, 2, "restart_stream_dedup")
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


def restart_append_counts(
    spark: SparkSession,
    phase1: DataFrame,
    phase2: DataFrame,
    ts_col: str = "ts",
    duration: str = "1 hour",
    lateness: str = "30 minutes",
    group_cols: list[str] | None = None,
    aggs: list[Column] | None = None,
    state_partitions: int | None = 16,
) -> tuple[DataFrame, dict]:
    """APPEND-mode windowed aggregation across a REAL advancing
    watermark: two ``availableNow`` runs over ONE checkpoint.

    Run 1 processes ``phase1``'s file and stops — the checkpoint now
    holds the file-source offsets, the unemitted open-window state,
    and watermark W1 = floor_ms(max event time of phase1) − lateness.
    ``phase2``'s file then lands in the source directory and the query
    RESTARTS from the checkpoint: phase-2 rows whose window end ≤ W1
    are dropped as late (``numRowsDroppedByWatermark``), survivors
    merge into the restored state, and the final watermark W2 emits
    every window with end ≤ W2. The returned result is the union of
    both runs' emissions — exactly what a downstream consumer of the
    append stream would have seen across the restart.

    This is the semantics ``session_windows_once``'s single-batch
    assert deliberately excludes: here the watermark genuinely
    advances between arrivals, the state store survives a stop/start,
    and the oracle must model the per-phase emission rule
    (phase-2 late drop against W1, final cut against W2 — both
    ms-truncated, the session-oracle convention).

    Returns (result, stats) where stats carries the per-run progress
    facts the caller should assert (data-batch counts, late-drop
    count) — kept out of the operator so data-dependent expectations
    live with the data that justifies them.
    """
    group_cols = group_cols or []
    ntz_event_time = False
    with tempfile.TemporaryDirectory(
        prefix="restart_stream_", ignore_cleanup_errors=True
    ) as root, scoped_conf(
        spark, {"spark.sql.shuffle.partitions": state_partitions}
    ):
        input_dir = os.path.join(root, "input")
        ckpt = os.path.join(root, "ckpt")
        out_dir = os.path.join(root, "out")

        def run_phase() -> list:
            # the memory sink cannot recover from a checkpoint — the
            # restart needs a fault-tolerant sink, and the parquet file
            # sink (with its own transactional _spark_metadata log) is
            # exactly what a production append stream lands in
            nonlocal ntz_event_time
            stream, ntz_event_time = _open_event_stream(spark, input_dir, ts_col)
            out = windowed_counts(
                stream, ts_col, duration, lateness, group_cols, aggs
            )
            q = (
                out.writeStream.format("parquet")
                .option("path", out_dir)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            return list(q.recentProgress)

        # phase 2 lands as a NEW file in the same source directory
        prog1 = _restart_run(run_phase, phase1, input_dir, 0, "restart_append_counts")
        prog2 = _restart_run(run_phase, phase2, input_dir, 1, "restart_append_counts")
        check_admission_log(ckpt, 2, "restart_append_counts")
        # both runs' emissions accumulate in the file sink's log
        result = spark.read.parquet(out_dir)
        if ntz_event_time:
            result = result.withColumn(
                "window_start", F.col("window_start").cast("timestamp_ntz")
            ).withColumn("window_end", F.col("window_end").cast("timestamp_ntz"))
        result = result.localCheckpoint(eager=True)

    def facts(progress: list) -> dict:
        data = [p for p in progress if p["numInputRows"] > 0]
        dropped = sum(
            op.get("numRowsDroppedByWatermark", 0)
            for p in progress
            for op in p.get("stateOperators", [])
        )
        # which state store backed the run (rocksdb* custom metrics
        # present ⇔ RocksDB provider engaged) — callers that pin the
        # provider assert this instead of trusting the conf took
        rocksdb = any(
            "rocksdb" in m.lower()
            for p in progress
            for op in p.get("stateOperators", [])
            for m in (op.get("customMetrics") or {})
        )
        return {
            "data_batches": len(data),
            "rows_dropped": dropped,
            "rocksdb": rocksdb,
        }

    return result, {"phase1": facts(prog1), "phase2": facts(prog2)}


def update_merge_counts_once(
    spark: SparkSession,
    events_path: str,
    ts_col: str = "ts",
    duration: str = "1 hour",
    lateness: str = "5 minutes",
    group_cols: list[str] | None = None,
    max_files_per_trigger: int | None = None,
    state_partitions: int | None = 16,
) -> DataFrame:
    """UPDATE-output-mode windowed aggregation materialized through a
    ``foreachBatch`` keyed MERGE — the third output-mode surface beside
    complete (``windowed_counts_once``) and append
    (``session_windows_once``). Update mode re-emits a window each
    micro-batch its count changes; the sink must therefore be a keyed
    MERGE, not an appender. The final store equals the batch
    aggregation for any micro-batch split PROVIDED the lateness covers
    the cross-batch disorder — an event older than the watermark a
    previous batch advanced is dropped (correct streaming semantics,
    pinned by the multi-batch unit test with a lateness larger than
    the replay's disorder, and oracled with a genuinely advancing
    watermark by ``update_merge_phased`` / the registry's
    ``stream_update_merge_hourly``).

    The sink is the K4 machinery end-to-end: each micro-batch's changed
    windows (|windows × groups| rows, never events) MERGE into a
    key-hash-bucket-partitioned parquet store via the partition-scoped
    last-write-wins merge of ``streaming/cdc_merge.py`` — no rows ever
    land on the driver. The merge key is (window_start, *group_cols),
    serialized into one string column so the bucket layout and
    anti-join machinery apply unchanged. The bounded run reads the
    store back, eagerly localCheckpoints it (so the temp store can be
    deleted), and returns the result; a production deployment keeps the
    store as the serving table.
    """
    result, _progress = _update_merge_run(
        spark,
        events_path,
        ts_col,
        duration,
        lateness,
        group_cols or [],
        max_files_per_trigger,
        state_partitions,
    )
    return result


def _update_merge_run(
    spark: SparkSession,
    events_path: str,
    ts_col: str,
    duration: str,
    lateness: str,
    group_cols: list[str],
    max_files_per_trigger: int | None,
    state_partitions: int | None,
    checkpoint_dir: str | None = None,
) -> tuple[DataFrame, list]:
    """Shared run loop behind ``update_merge_counts_once`` and
    ``update_merge_phased``: open the file stream, aggregate in update
    mode, land every micro-batch through the keyed K4 MERGE, read the
    final store back. Returns (result, recentProgress list) so phased
    callers can assert the micro-batch structure."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.streaming import (
        cdc_merge,
    )

    stream, ntz_event_time = _open_event_stream(
        spark, events_path, ts_col, max_files_per_trigger
    )
    out = windowed_counts(
        stream, ts_col, duration, lateness, group_cols, None
    ).select("window_start", "window_end", *group_cols, "n_events")
    out_cols = out.columns

    def merge(batch_df: DataFrame, _batch_id: int) -> None:
        sp = batch_df.sparkSession
        keyed = batch_df.withColumn(
            "_merge_key",
            F.concat_ws(
                "\x1f",
                F.col("window_start").cast("string"),
                *[F.col(c).cast("string") for c in group_cols],
            ),
        )
        # pin the changed-windows batch ONCE: the merge path consumes it
        # twice (touched-bucket collect + the upsert/write), and each
        # reference re-executes the stateful batch plan — the
        # foreachBatch multi-reference class (scd2_stream/apply_cdc_batch
        # precedent, CLAUDE.md)
        keyed = keyed.localCheckpoint(eager=True)
        # the first batch merges into the missing (empty) store
        cdc_merge._merge_touched_partitions(sp, store, keyed, "_merge_key")

    # state-partition sizing, same reasoning as session_windows_once:
    # per-partition state-store open/commit cost dominates over a small
    # keyspace; restored after the bounded run
    with scoped_conf(
        spark, {"spark.sql.shuffle.partitions": state_partitions}
    ), tempfile.TemporaryDirectory(
        prefix="update_merge_store_", ignore_cleanup_errors=True
    ) as store:
        writer = (
            out.writeStream.foreachBatch(merge)
            .outputMode("update")
            .trigger(availableNow=True)
        )
        if checkpoint_dir is not None:
            writer = writer.option("checkpointLocation", checkpoint_dir)
        q = writer.start()
        q.awaitTermination()
        final = cdc_merge.read_target(spark, store)
        if final is None:
            result = spark.createDataFrame([], out.schema)
        else:
            result = final.select(*out_cols).localCheckpoint(eager=True)
    if ntz_event_time:
        result = result.withColumn(
            "window_start", F.col("window_start").cast("timestamp_ntz")
        ).withColumn("window_end", F.col("window_end").cast("timestamp_ntz"))
    return result, list(q.recentProgress)


def update_merge_phased(
    spark: SparkSession,
    phases: list[DataFrame],
    ts_col: str = "ts",
    duration: str = "1 hour",
    lateness: str = "2 hours",
    group_cols: list[str] | None = None,
    state_partitions: int | None = 16,
) -> tuple[DataFrame, dict]:
    """UPDATE-mode merge replay across a REAL advancing watermark:
    each phase lands as its own file (strictly increasing mtimes, so
    the file source's oldest-first ordering is deterministic) and
    ``maxFilesPerTrigger=1`` makes one micro-batch per phase in a
    single ``availableNow`` run.

    Cross-batch semantics this pins (and the caller's oracle must
    model) — empirically verified against Spark 4.1, see the probe
    test: the late-data filter for windowed aggregation is
    window-granular (drops a row iff its ``window.end`` ≤ the filter
    watermark) and uses the watermark LAGGED BY ONE BATCH —
    SPARK-24634's two-watermark split makes batch i filter with the
    watermark that was in effect DURING batch i−1, i.e.
    ``floor_ms(max event time of batches 0..i−2) − lateness`` — while
    state EVICTION uses the batch's own in-effect watermark
    (batches 0..i−1). Consequence: a TWO-phase replay never drops
    anything (batch 1 filters against the pre-run watermark 0);
    demonstrating a real cross-batch drop needs ≥3 phases, where
    batch 2 filters against the phase-0 watermark. Survivors merge
    into the restored window state and update mode re-emits every
    changed window into the K4 keyed store, so the final store =
    aggregate over exactly the never-dropped rows (an evicted window
    keeps its last emitted count in the store).

    Returns (result, stats): stats holds per-batch input-row and
    late-drop counts, asserted against the constructed phases (one
    data batch per phase, arrival in phase order) so a silent
    file-ordering or admission-control change fails loudly instead of
    hash-mismatching the oracle. Phase sizes come free from the staged
    files' parquet footers — no extra Spark jobs.
    """
    with tempfile.TemporaryDirectory(
        prefix="update_merge_phased_", ignore_cleanup_errors=True
    ) as root:
        input_dir = os.path.join(root, "input")
        ckpt = os.path.join(root, "ckpt")
        phase_counts = stage_phase_files(phases, input_dir)
        result, progress = _update_merge_run(
            spark,
            input_dir,
            ts_col,
            duration,
            lateness,
            group_cols or [],
            1,  # one file per micro-batch
            state_partitions,
            ckpt,
        )  # result is already eagerly checkpointed off the temp store
        # path-exact phase→batch guard (counts can collide across
        # equal-sized phases; the checkpoint's source log cannot)
        check_admission_log(ckpt, len(phases), "update_merge_phased")

    data = check_batch_structure(progress, phase_counts, "update_merge_phased")
    stats = {
        "data_batches": len(data),
        "rows_per_batch": [p["numInputRows"] for p in data],
        "rows_dropped": [
            sum(
                op.get("numRowsDroppedByWatermark", 0)
                for op in p.get("stateOperators", [])
            )
            for p in data
        ],
    }
    return result, stats


def dedup_then_window_phased(
    spark: SparkSession,
    phases: list[DataFrame],
    dedup_keys: list[str],
    ts_col: str = "ts",
    duration: str = "1 hour",
    lateness: str = "1 hour",
    group_cols: list[str] | None = None,
    state_partitions: int | None = 16,
) -> tuple[DataFrame, dict]:
    """CHAINED stateful streaming — ``dropDuplicatesWithinWatermark``
    feeding an APPEND-mode windowed aggregation in one query (two
    state stores, Spark ≥3.5 multiple-stateful-operator support) —
    replayed deterministically phase-per-micro-batch.

    Semantics the caller's oracle can rely on, PROVIDED the phases are
    event-time-monotone (every phase's non-duplicate rows ≥ all
    earlier phases') and duplicate copies arrive within ``lateness``
    of their original: (1) an in-batch duplicate dies in the dedup
    store the batch it arrives; (2) a CROSS-batch duplicate still dies
    because its original's dedup state outlives the eviction watermark
    (original ts > max(prev phase) − lateness by the monotonicity
    assumption); (3) nothing is ever late at either operator, so the
    lagged-filter trap (SPARK-24634, see ``update_merge_phased``)
    never fires; (4) append mode emits exactly the windows whose end ≤
    the final watermark, floor_ms(global max ts) − lateness. Net
    oracle: windowed counts over the DISTINCT row set, cut at the
    final watermark.

    Returns (result, stats); stats carries the count and path-exact
    batch-structure guards.
    """
    group_cols = group_cols or []
    sink = f"dedup_then_window_{next(_SINK_SEQ)}"
    with tempfile.TemporaryDirectory(
        prefix="dedup_then_window_", ignore_cleanup_errors=True
    ) as root:
        input_dir = os.path.join(root, "input")
        ckpt = os.path.join(root, "ckpt")
        phase_counts = stage_phase_files(phases, input_dir)
        stream, ntz_event_time = _open_event_stream(
            spark, input_dir, ts_col, max_files_per_trigger=1
        )
        deduped = stream.withWatermark(ts_col, lateness).dropDuplicatesWithinWatermark(
            dedup_keys
        )
        out = (
            deduped.groupBy(F.window(ts_col, duration).alias("w"), *group_cols)
            .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
            .select(
                F.col("w.start").alias("window_start"),
                F.col("w.end").alias("window_end"),
                *group_cols,
                "n_events",
            )
        )
        with scoped_conf(
            spark, {"spark.sql.shuffle.partitions": state_partitions}
        ):
            q = (
                out.writeStream.format("memory")
                .queryName(sink)
                .outputMode("append")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        data = check_batch_structure(
            list(q.recentProgress), phase_counts, "dedup_then_window_phased"
        )
        check_admission_log(ckpt, len(phase_counts), "dedup_then_window_phased")
        # the memory sink's rows survive the temp-dir cleanup; pin them
        result = spark.table(sink).localCheckpoint(eager=True)
    if ntz_event_time:
        result = result.withColumn(
            "window_start", F.col("window_start").cast("timestamp_ntz")
        ).withColumn("window_end", F.col("window_end").cast("timestamp_ntz"))
    stats = {
        "data_batches": len(data),
        "rows_per_batch": [p["numInputRows"] for p in data],
        "dedup_dropped": [
            sum(
                op.get("numRowsDroppedByWatermark", 0)
                for op in p.get("stateOperators", [])
            )
            for p in data
        ],
    }
    return result, stats


def union_windowed_once(
    spark: SparkSession,
    paths: list[str],
    ts_col: str = "ts",
    duration: str = "1 hour",
    lateness: str = "5 minutes",
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Windowed aggregation over the UNION of several file-stream
    sources in one streaming query — the fan-in topology (N landing
    feeds, one rollup). Each source keeps its own offset log in the
    checkpoint and advances independently; the union'd watermark is
    the MIN across sources, so one stalled feed correctly holds back
    finalization for all (the semantics a multi-feed pipeline must
    have). Bounded replay into a complete-mode memory sink, same
    equivalence argument as ``windowed_counts_once``."""
    from functools import reduce

    opened = [_open_event_stream(spark, p, ts_col) for p in paths]
    ntz_event_time = any(flag for _, flag in opened)
    stream = reduce(lambda a, b: a.unionByName(b), [s for s, _ in opened])
    out = windowed_counts(stream, ts_col, duration, lateness, group_cols)
    sink = f"union_windowed_once_{next(_SINK_SEQ)}"
    q = (
        out.writeStream.format("memory")
        .queryName(sink)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    result = spark.table(sink)
    if ntz_event_time:
        result = result.withColumn(
            "window_start", F.col("window_start").cast("timestamp_ntz")
        ).withColumn("window_end", F.col("window_end").cast("timestamp_ntz"))
    return result


def two_level_windowed_counts_once(
    spark: SparkSession,
    events_path: str,
    ts_col: str = "ts",
    quarter: str = "15 minutes",
    hour: str = "1 hour",
    lateness: str = "10 minutes",
    group_cols: list[str] | None = None,
) -> DataFrame:
    """CHAINED time-window aggregations in ONE streaming query
    (SPARK-40925, Spark ≥3.4): quarter-hour counts roll up into hourly
    totals through ``F.window(window_time(qw), hour)`` — two stateful
    operators back to back, the pre-aggregation topology a 100 TB
    metrics pipeline wants (the fine windows absorb the raw event
    volume near the source; only ≤4 rows/hour/key reach the second
    operator). Multiple stateful operators require APPEND output mode,
    so a bounded replay emits exactly the hourly windows whose end ≤
    the final watermark W (max event time truncated to milliseconds
    minus the lateness — the `session_windows_once` emission rule):
    level 1 finalizes quarters with q_end ≤ W, level 2 then emits
    hours with h_end ≤ W, and h_end ≤ W subsumes its quarters'
    finalization, so emitted = hourly aggregates over all events in
    fully-watermarked hours. ``n_quarters`` counts the non-empty
    level-1 windows feeding each hour — observable proof the rollup
    really ran through the intermediate state, which a single-level
    agg cannot produce."""
    group_cols = group_cols or []
    stream, ntz_event_time = _open_event_stream(spark, events_path, ts_col)
    lvl1 = (
        stream.withWatermark(ts_col, lateness)
        .groupBy(F.window(ts_col, quarter).alias("qw"), *group_cols)
        .agg(F.count(F.lit(1)).cast("long").alias("qn"))
    )
    lvl2 = (
        lvl1.groupBy(
            F.window(F.window_time("qw"), hour).alias("hw"), *group_cols
        )
        .agg(
            F.sum("qn").cast("long").alias("n_events"),
            F.count(F.lit(1)).cast("long").alias("n_quarters"),
        )
    )
    out = (
        lvl2.withColumn("window_start", F.col("hw.start"))
        .withColumn("window_end", F.col("hw.end"))
        .drop("hw")
    )
    sink = f"two_level_windowed_{next(_SINK_SEQ)}"
    q = (
        out.writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    result = spark.table(sink)
    if ntz_event_time:
        result = result.withColumn(
            "window_start", F.col("window_start").cast("timestamp_ntz")
        ).withColumn("window_end", F.col("window_end").cast("timestamp_ntz"))
    return result


def restart_two_level_counts(
    spark: SparkSession,
    phase1: DataFrame,
    phase2: DataFrame,
    ts_col: str = "ts",
    quarter: str = "15 minutes",
    hour: str = "1 hour",
    lateness: str = "20 minutes",
    group_cols: list[str] | None = None,
    state_partitions: int | None = 16,
) -> tuple[DataFrame, dict]:
    """CHAINED two-level windowed aggregation across a checkpoint
    RESTART — the sixth restart-family member, and the only one where
    TWO stateful operators must both restore (level-1 open quarters
    AND level-2 open hours survive the stop/start, each with its own
    state store). Same two-runs/one-checkpoint machinery as
    :func:`restart_append_counts` (file source, parquet sink, union
    of both runs' emissions).

    Semantics, composed from the pinned single-level rules: W1 =
    floor_ms(max phase-1 event time) − lateness; at restart, phase-2
    rows are dropped at LEVEL 1 iff their QUARTER end ≤ W1, and since
    q_end ≤ h_end, no surviving quarter can belong to an hour already
    emitted in run 1 — the level-2 late filter is unreachable by
    construction, which is exactly why the chained topology restarts
    cleanly. Final emission: hours with end ≤ W2 over kept rows
    (phase1 ∪ admitted phase2); ``n_quarters`` counts kept-row
    quarters, proving the rollup rebuilt through restored
    intermediate state."""
    group_cols = group_cols or []
    ntz_event_time = False
    with tempfile.TemporaryDirectory(
        prefix="restart_two_level_", ignore_cleanup_errors=True
    ) as root, scoped_conf(
        spark, {"spark.sql.shuffle.partitions": state_partitions}
    ):
        input_dir = os.path.join(root, "input")
        ckpt = os.path.join(root, "ckpt")
        out_dir = os.path.join(root, "out")

        def run_phase() -> list:
            nonlocal ntz_event_time
            stream, ntz_event_time = _open_event_stream(spark, input_dir, ts_col)
            lvl1 = (
                stream.withWatermark(ts_col, lateness)
                .groupBy(F.window(ts_col, quarter).alias("qw"), *group_cols)
                .agg(F.count(F.lit(1)).cast("long").alias("qn"))
            )
            out = (
                lvl1.groupBy(
                    F.window(F.window_time("qw"), hour).alias("hw"), *group_cols
                )
                .agg(
                    F.sum("qn").cast("long").alias("n_events"),
                    F.count(F.lit(1)).cast("long").alias("n_quarters"),
                )
                .withColumn("window_start", F.col("hw.start"))
                .withColumn("window_end", F.col("hw.end"))
                .drop("hw")
            )
            q = (
                out.writeStream.format("parquet")
                .option("path", out_dir)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            return list(q.recentProgress)

        prog1 = _restart_run(run_phase, phase1, input_dir, 0, "restart_two_level_counts")
        prog2 = _restart_run(run_phase, phase2, input_dir, 1, "restart_two_level_counts")
        check_admission_log(ckpt, 2, "restart_two_level_counts")
        result = spark.read.parquet(out_dir)
        if ntz_event_time:
            result = result.withColumn(
                "window_start", F.col("window_start").cast("timestamp_ntz")
            ).withColumn("window_end", F.col("window_end").cast("timestamp_ntz"))
        result = result.localCheckpoint(eager=True)

    def facts(progress: list) -> dict:
        data = [p for p in progress if p["numInputRows"] > 0]
        dropped = sum(
            op.get("numRowsDroppedByWatermark", 0)
            for p in progress
            for op in p.get("stateOperators", [])
        )
        n_state_ops = max(
            (len(p.get("stateOperators", [])) for p in progress), default=0
        )
        return {
            "data_batches": len(data),
            "rows_dropped": dropped,
            "n_state_ops": n_state_ops,
        }

    return result, {"phase1": facts(prog1), "phase2": facts(prog2)}
