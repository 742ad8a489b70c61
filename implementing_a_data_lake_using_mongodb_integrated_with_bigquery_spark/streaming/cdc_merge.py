"""Structured Streaming CDC consumption — the reference's daemon leg.

Re-expresses ``src/process_insert_update_weather_data.py:166-187`` (the
change-stream loop) as ``readStream → foreachBatch(merge)``, one pass
and ONE target commit per micro-batch:

- T1 dispatch: one batch split by ``operation_type`` instead of a
  per-event ``if`` ladder; unknown ops go to a dead-letter sink instead
  of ``os._exit(1)`` (the reference's poison-event halt, ``:184-187``).
- FK tag: the batch is left-joined ONCE to the places dim's distinct
  key set and pinned with an ``__orphan`` flag; every FK decision of
  both paths (reference ``check_foreign_key``, ``:66-79``) is a filter
  on that flag, and FK violations go to a dead-letter sink.
- insert path (``insert_row``, ``:97-127``): within-batch dedup → PK
  anti-join vs target → FK-orphans dead-lettered. 2-3 RPCs/record
  become one joined batch.
- update path (``update_row``, ``:131-162``): last-write-wins collapse
  of the FK-valid updates. Updates whose key is absent are inserts
  (the reference's upsert fallback, ``:133-136``), and an update in the
  same batch as an insert of the same key wins.
- both paths land in one upsert merge scoped to the hive partitions
  that contain an inserted or updated key, committed with one dynamic
  partition overwrite — a failure before that commit leaves the target
  untouched (the commit's per-bucket directory swap is not atomic).
- delete path: deliberately ignored (``README.md:15`` — lake cleanup
  must not delete warehouse rows).
- T3 effectively-once: the PK anti-join makes re-delivered inserts
  no-ops, so at-least-once delivery + idempotent merge ≡ exactly-once
  on the target (plus Structured Streaming checkpointing for source
  offsets).

State lives in the target table itself (as in the reference, where
BigQuery was the state store) — no driver-side state, so a 1000-way
parallel ``foreachBatch`` works unchanged.

**Physical layout (100 TB design).** The target is hive-partitioned by
``part_bucket = pmod(xxhash64(id), N_BUCKETS)`` (:func:`bucket_expr`) —
a deterministic function of the merge key. A micro-batch with k
inserted or updated keys therefore touches at most min(k, N_BUCKETS)
partitions; the merge reads ONLY those partitions (partition-pruned
scan) and rewrites ONLY those partitions (dynamic partition
overwrite), one file per bucket. A lakehouse table format would turn
the per-partition file swap into a metadata-only MERGE commit; the
partition scoping logic is identical. The bucket column is physical
layout, not schema: ``read_target`` drops it, and the write path
recomputes it from ``id``.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.dedup import (
    dedup_against_target,
)
from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.flatten import (
    flatten_weather,
)

# not called here (every FK decision is a filter on the pinned batch's
# __orphan flag); kept importable from this module, where tracing tools
# look them up by name
from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.integrity import (  # noqa: F401
    fk_filter,
    fk_violations,
)

KNOWN_OPS = ("insert", "update", "delete", "replace")

# physical layout: key-hash partition count of the fact target. Sized so
# one partition holds ~1/N of the table (at 100 TB with N=64 that's
# ~1.5 TB per bucket — a real deployment composes this with a date
# partition, part_date/part_bucket, to bound rewrite units further).
N_BUCKETS = 64
PART_COL = "part_bucket"


def bucket_expr(key: Column) -> Column:
    """The partition bucket of a merge key — the ONE definition shared
    by the write path (:func:`with_bucket`) and the batch probe's
    touched-bucket sets. xxhash64 is stable across runs/sessions, so
    re-delivered events land in the same partition — required for
    idempotent merges."""
    return F.pmod(F.xxhash64(key), F.lit(N_BUCKETS)).cast("int")


def with_bucket(df: DataFrame, key_col: str = "id") -> DataFrame:
    """Attach the deterministic partition bucket for ``key_col``."""
    return df.withColumn(PART_COL, bucket_expr(F.col(key_col)))


def _has_parquet(path: str) -> bool:
    for _root, _dirs, files in os.walk(path):
        if any(f.endswith(".parquet") for f in files):
            return True
    return False


def read_target(spark: SparkSession, path: str) -> DataFrame | None:
    """Logical view of the fact target: partition discovery over the
    hive layout, with the physical bucket column dropped."""
    if not os.path.exists(path) or not _has_parquet(path):
        return None
    df = spark.read.parquet(path)
    return df.drop(PART_COL) if PART_COL in df.columns else df


def _merge_touched_partitions(
    spark: SparkSession,
    target_path: str,
    newest: DataFrame | None,
    key_col: str = "id",
    touched: list[int] | None = None,
    inserts: DataFrame | None = None,
) -> None:
    """Partition-scoped MERGE, landed as ONE commit: the stored rows
    ``T`` of the buckets holding a changed key become ``upsert(T ∪
    dedup_against_target(inserts, T), newest)`` — an update (``newest``,
    one row per key) replaces or adds its key's row; an insert is added
    once per key, and only if that key is neither stored nor updated.
    The buckets are then rewritten with one dynamic partition overwrite
    (untouched partitions' files are never read or rewritten).

    ``touched`` (≤ N_BUCKETS small ints) may be precomputed by the
    caller — e.g. folded into an already-running probe — to skip the
    discovery job here; discovery covers ``newest`` only, so a call
    with ``inserts`` must pass it. A missing store is an empty one."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.merge import (
        upsert,
    )

    if _has_parquet(target_path):
        if touched is None:
            if inserts is not None:
                raise ValueError("a merge with inserts needs its touched buckets")
            # ≤ N_BUCKETS small ints — a bounded metadata collect, not a
            # data collect (the driver holds partition IDs, never rows)
            touched = [
                r[0]
                for r in with_bucket(newest.select(key_col), key_col)
                .select(PART_COL)
                .distinct()
                .collect()
            ]
        base = (
            spark.read.parquet(target_path)
            .filter(F.col(PART_COL).isin(touched))
            .drop(PART_COL)
        )
    else:
        base = (newest if newest is not None else inserts).limit(0)
    if inserts is not None:
        base = base.unionByName(dedup_against_target(inserts, base, key_col))
    merged = upsert(base, newest, key_col) if newest is not None else base
    # one shuffle on the bucket column → ONE file per touched bucket
    # per commit: without it every task writes into every touched
    # bucket dir — tasks × buckets small files per batch that every
    # LATER batch's target read must list and open again
    merged = with_bucket(merged, key_col).repartition(F.col(PART_COL))
    # localCheckpoint truncates lineage so the write no longer reads the
    # path it overwrites; it materializes only the touched partitions
    # (a lakehouse MERGE makes this a metadata-only commit instead)
    merged = merged.localCheckpoint(eager=True)
    (
        merged.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(PART_COL)
        .parquet(target_path)
    )


def split_by_operation(batch: DataFrame) -> dict[str, DataFrame]:
    """T1 dispatch: partition one CDC micro-batch by operation type.
    ``unknown`` collects events whose op is not in KNOWN_OPS."""
    return {
        "insert": batch.filter(F.col("operation_type").isin("insert", "replace")),
        "update": batch.filter(F.col("operation_type") == "update"),
        "delete": batch.filter(F.col("operation_type") == "delete"),
        # null-safe: a NULL op matches neither branch of isin, so it must
        # be routed to the DLQ explicitly, not silently dropped
        "unknown": batch.filter(
            F.col("operation_type").isNull()
            | ~F.col("operation_type").isin(*KNOWN_OPS)
        ),
    }


def _pin(df: DataFrame, *aggs: Column) -> tuple[DataFrame, dict]:
    """Eager ``localCheckpoint`` of ``df`` that also evaluates ``aggs``
    over its rows — observed metrics ride the checkpoint job, so a
    gate on the pinned rows costs no job of its own."""
    seen = Observation()
    pinned = df.observe(seen, *aggs).localCheckpoint(eager=True)
    return pinned, seen.get


def _tag_and_probe(batch: DataFrame, places_dim: DataFrame) -> tuple[DataFrame, dict]:
    """Tag, pin and probe one CDC micro-batch in ONE job.

    Tag: a left join to the distinct (domain-bounded, broadcast) dim
    key set flags as ``__orphan`` every row whose FK has no dim match —
    NULL fk included, ``fk_violations``' left-anti semantics — without
    duplicating batch rows; every later FK decision is a filter on the
    flag. Pin: every branch then reads the checkpoint — a foreachBatch
    plan that references the batch N times re-scans the source N times
    (and multiplies numInputRows N-fold, breaking the replay
    batch-structure guard), the scd2_stream.py precedent. Probe: the
    per-batch gates — unknown ops ``u``, insert / update FK orphans
    ``io`` / ``po`` — and the merge's touched buckets, those of the
    FK-valid insert keys ``ib`` and update keys ``tb``. Dedup, the PK
    anti-join and the LWW collapse only drop rows or keep the key set,
    so these cover every key the merge writes; ≤ N_BUCKETS small ints
    each, bounded metadata."""
    dim_keys = places_dim.select(F.col("place_id").alias("__dim_pid")).distinct()
    tagged = (
        batch.join(
            F.broadcast(dim_keys),
            F.col("full_document.place_id") == F.col("__dim_pid"),
            "left",
        )
        .withColumn("__orphan", F.col("__dim_pid").isNull())
        .drop("__dim_pid")
    )
    op = F.col("operation_type")
    orphan = F.col("__orphan")
    is_ins = op.isin("insert", "replace")
    is_upd = op == "update"
    # the bucket of the key the flattened row will carry (flatten casts
    # _id to string), by the same expression the write path uses
    key_bucket = bucket_expr(F.col("full_document._id").cast("string"))

    def n(cond: Column) -> Column:
        return F.coalesce(F.sum(cond.cast("long")), F.lit(0))

    def buckets(cond: Column) -> Column:
        return F.sort_array(F.collect_set(F.when(cond, key_bucket)))

    return _pin(
        tagged,
        n(op.isNull() | ~op.isin(*KNOWN_OPS)).alias("u"),
        n(is_ins & orphan).alias("io"),
        n(is_upd & orphan).alias("po"),
        buckets(is_ins & ~orphan).alias("ib"),
        buckets(is_upd & ~orphan).alias("tb"),
    )


def apply_cdc_batch(
    batch: DataFrame,
    batch_id: int,
    target_path: str,
    places_dim: DataFrame,
    dlq_path: str,
) -> None:
    """The foreachBatch body: idempotent CDC merge of one micro-batch
    into the parquet fact target, landed as ONE commit. Update events
    must carry the full post-image in ``full_document`` (design choice
    per SURVEY.md §7 risk 3 — avoids the reference's per-event re-fetch
    RPC)."""
    spark = batch.sparkSession
    batch, probe = _tag_and_probe(batch, places_dim)
    parts = split_by_operation(batch)
    orphan = F.col("__orphan")

    def dead_letter(df: DataFrame, sub: str) -> None:
        df.withColumn("batch_id", F.lit(batch_id)).write.mode("append").json(
            os.path.join(dlq_path, sub)
        )

    def fk_rejects(docs: DataFrame) -> DataFrame:
        # the orphan rows in fk_violations' column order (FK first)
        rest = [c for c in docs.columns if c not in ("place_id", "__orphan")]
        return docs.filter(orphan).select("place_id", *rest)

    # poison events → DLQ (instead of the reference's os._exit(1))
    if probe["u"]:
        dead_letter(parts["unknown"].drop("__orphan"), "unknown_ops")

    # ---- insert path: dedup → PK anti-join → FK orphans to the DLQ
    ins_docs = parts["insert"].select("full_document.*", "__orphan")
    if probe["io"]:
        target = read_target(spark, target_path)
        if target is not None:
            deduped = dedup_against_target(
                ins_docs, target.selectExpr("id as _id"), "_id"
            )
        else:
            deduped = ins_docs.dropDuplicates(["_id"])
        # rejects are taken AFTER dedup and the PK anti-join (an orphan
        # re-insert of a stored key is ignored, not dead-lettered), so
        # the probe's raw count is only an upper bound: pin them and
        # count in the same job — an empty JSON append would corrupt
        # the DLQ read-back
        rejected, seen = _pin(fk_rejects(deduped), F.count(F.lit(1)).alias("n"))
        if seen["n"]:
            dead_letter(rejected, "fk_violations")

    # ---- update path: FK orphans to the DLQ — pre-collapse rows, so
    # the probe's count IS the emptiness decision
    upd_docs = parts["update"].select("ts", "full_document.*", "__orphan")
    if probe["po"]:
        dead_letter(fk_rejects(upd_docs), "fk_violations")

    # ---- one merge, one commit over the insert ∪ update buckets
    touched = sorted(set(probe["ib"]) | set(probe["tb"]))
    if touched:
        from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.merge import (
            last_write_wins,
        )

        inserts = newest = None
        if probe["ib"]:
            # dedup BEFORE the FK filter, as on the DLQ side: which
            # duplicate survives must not depend on its FK validity
            inserts = flatten_weather(
                ins_docs.dropDuplicates(["_id"]).filter(~orphan).drop("__orphan")
            )
        if probe["tb"]:
            # ts rides THROUGH the flatten projection (passthrough) — a
            # re-join by id cross-paired post-images with timestamps
            # when one batch carried two updates for one key, making the
            # LWW pick nondeterministic (regression-pinned in
            # tests/test_round10.py)
            flat_upd = flatten_weather(
                upd_docs.filter(~orphan).drop("__orphan"), passthrough=["ts"]
            )
            newest = last_write_wins(flat_upd, "id", "ts").drop("ts")
        _merge_touched_partitions(
            spark, target_path, newest, "id", touched=touched, inserts=inserts
        )

    # ---- delete path: intentionally a no-op (README.md:15)


def cdc_foreach_batch(target_path: str, places_dim: DataFrame, dlq_path: str):
    """Bind configuration → the (batch_df, batch_id) callable for
    ``writeStream.foreachBatch``."""

    def _body(batch_df: DataFrame, batch_id: int) -> None:
        apply_cdc_batch(batch_df, batch_id, target_path, places_dim, dlq_path)

    return _body


def cdc_merge_replay(
    spark: SparkSession,
    phases: list[DataFrame],
    places_dim: DataFrame,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Deterministic phased replay of the FULL CDC merge — the
    reference's daemon loop (T1 dispatch → insert path → LWW update
    path → delete no-op → unknown-op DLQ,
    ``src/process_insert_update_weather_data.py:166-187``) executed as
    real micro-batches: each phase lands as one parquet file with
    strictly increasing mtimes (``streaming/phasing.py``), and
    ``maxFilesPerTrigger=1`` maps phase i → micro-batch i, so the
    cross-batch state (the target table itself — inserts in batch 0
    are update targets in batch 1) is a pure function of the phase
    construction and hence relationally oracle-able.

    Returns (fact, dlq_fk, dlq_unknown) as batch DataFrames read back
    from the target and dead-letter sinks, each eagerly
    localCheckpoint-ed so the temp stores can be deleted. The
    phase→batch mapping is guarded both by row counts
    (``check_batch_structure``) and by file paths
    (``check_admission_log``)."""
    return _replay(spark, [phases], places_dim, "cdc_merge_replay")


def cdc_merge_restart(
    spark: SparkSession,
    phase1: DataFrame,
    phase2: DataFrame,
    places_dim: DataFrame,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """CDC merge across a checkpoint RESTART — the foreachBatch-sink
    member of the restart matrix (aggregates, joins, sessions, dedup:
    see the ``restart_*`` siblings in ``streaming/windowed.py`` /
    ``joins.py``). Run 1 consumes the phase-1 file (``availableNow``)
    and terminates; the phase-2 file then lands and a NEW query on the
    SAME checkpoint consumes ONLY it — restored source offsets must
    skip the already-committed file, which the dead-letter sinks make
    observable: re-processing phase 1 would append its FK rejects a
    second time (the target alone cannot tell — the merge is
    idempotent by design, reference T3). Admission is path-guarded
    per run and across the restart. Returns (fact, dlq_fk,
    dlq_unknown) like :func:`cdc_merge_replay`."""
    return _replay(spark, [[phase1], [phase2]], places_dim, "cdc_merge_restart")


def _replay(
    spark: SparkSession,
    runs: list[list[DataFrame]],
    places_dim: DataFrame,
    name: str,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Shared body of the two CDC replays: each entry of ``runs`` is
    one ``availableNow`` query over one checkpoint (its phases staged
    after the previous run committed), so ``[[p1, p2, p3]]`` is a
    phased replay and ``[[p1], [p2]]`` a checkpoint restart. Reads
    back (fact, dlq_fk, dlq_unknown), pinned off the temp root."""
    import tempfile

    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.streaming.phasing import (
        check_admission_log,
        check_batch_structure,
        foreach_phase,
        stage_phase_files,
    )

    with tempfile.TemporaryDirectory(
        prefix=f"{name}_", ignore_cleanup_errors=True
    ) as root:
        target = os.path.join(root, "fact")
        dlq = os.path.join(root, "dlq")
        body = cdc_foreach_batch(target, places_dim, dlq)
        staged = 0
        for i, phases in enumerate(runs, 1):
            counts = stage_phase_files(
                phases, os.path.join(root, "input"), start=staged
            )
            staged += len(phases)
            where = name if len(runs) == 1 else f"{name} run {i}"
            check_batch_structure(
                foreach_phase(spark, root, body, name), counts, where
            )
        check_admission_log(os.path.join(root, "ckpt"), staged, name)

        fact = read_target(spark, target)
        fact = fact.localCheckpoint(eager=True) if fact is not None else None

        def _read_dlq(sub: str, schema: str) -> DataFrame:
            path = os.path.join(dlq, sub)
            if _has_json(path):
                return spark.read.json(path).localCheckpoint(eager=True)
            return spark.createDataFrame([], schema)

        dlq_fk = _read_dlq(
            "fk_violations",
            "_id string, place_id string, "
            "current struct<temp_c: double>, batch_id long",
        )
        dlq_unknown = _read_dlq(
            "unknown_ops", "operation_type string, batch_id long"
        )
        return fact, dlq_fk, dlq_unknown


def _has_json(path: str) -> bool:
    for _root, _dirs, files in os.walk(path):
        if any(f.endswith(".json") for f in files):
            return True
    return False


def start_cdc_stream(
    spark: SparkSession,
    events_dir: str,
    target_path: str,
    places_dim: DataFrame,
    dlq_path: str,
    checkpoint_dir: str,
):
    """Wire the file-based CDC source (JSON events with the CDC_EVENT
    schema) through the merge. ``availableNow`` in tests; a real
    deployment uses a continuous trigger + Kafka/CDC-log source."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.schemas import (
        CDC_EVENT,
    )

    stream = (
        spark.readStream.schema(CDC_EVENT)
        .option("maxFilesPerTrigger", 16)
        .json(events_dir)
    )
    return (
        stream.writeStream.foreachBatch(
            cdc_foreach_batch(target_path, places_dim, dlq_path)
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
