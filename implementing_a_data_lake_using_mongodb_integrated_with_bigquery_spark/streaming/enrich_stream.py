"""Stream enrichment against an EVOLVING dimension.

``stream_static_enrich`` joins each micro-batch to a dim that never
changes; the production reality is a dim that is maintained while the
stream runs (the SCD2 loop next door), so batch i must see the dim
version in effect AT BATCH i — re-reading the dim per batch, not
capturing it once at query start. Spark's stream-static join does
re-evaluate the static side every micro-batch; this harness pins that
contract end-to-end with a deterministic dim-version function so the
bounded replay has an exact oracle: enriched(batch i) == phase i
joined to dim_version(i).

Scale shape: the dim is re-derived/broadcast per batch (|dim|-sized
work per trigger — the stream-static join cost model); each batch's
enriched aggregate appends one partition directory keyed by batch id
(no read-modify-write of previous output). Same staged-phase
discipline as the other bounded replays (`streaming.phasing`).
"""

from __future__ import annotations

import os
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.streaming.phasing import (
    check_admission_log,
    check_batch_structure,
    foreach_phase,
    scoped_conf,
    stage_phase_files,
)


def evolving_dim_enrich_phased(
    spark: SparkSession,
    phases: list[DataFrame],
    dim_builder: Callable[[SparkSession, int], DataFrame],
    join_col: str,
    agg_cols: Callable[[], list],
    group_cols: list[str],
    shuffle_partitions: int | None = 8,
) -> tuple[DataFrame, dict]:
    """Replay ``phases`` one micro-batch each; batch ``i`` is
    broadcast-joined to ``dim_builder(spark, i)`` (the dim version in
    effect at that batch), aggregated by ``group_cols`` +
    ``agg_cols()``, stamped with ``batch_id`` and appended to the
    output store. Returns (output DataFrame, stats)."""
    with tempfile.TemporaryDirectory(
        prefix="enrich_stream_", ignore_cleanup_errors=True
    ) as root:
        out_dir = os.path.join(root, "out")
        phase_counts = stage_phase_files(phases, os.path.join(root, "input"))
        os.makedirs(out_dir, exist_ok=True)

        def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
            sp = batch_df.sparkSession
            dim = dim_builder(sp, batch_id)
            enriched = (
                batch_df.join(F.broadcast(dim), join_col)
                .groupBy(*group_cols)
                .agg(*agg_cols())
                .withColumn("batch_id", F.lit(batch_id).cast("long"))
            )
            # one directory per batch: append-only, never a
            # read-and-overwrite of earlier batches' output
            enriched.write.parquet(os.path.join(out_dir, f"batch={batch_id}"))

        with scoped_conf(
            spark, {"spark.sql.shuffle.partitions": shuffle_partitions}
        ):
            progress = foreach_phase(spark, root, apply_batch, "enrich_stream")
        data = check_batch_structure(progress, phase_counts, "evolving_dim_enrich")
        check_admission_log(
            os.path.join(root, "ckpt"), len(phase_counts), "evolving_dim_enrich"
        )
        parts = [
            spark.read.parquet(os.path.join(out_dir, d))
            for d in sorted(os.listdir(out_dir))
        ]
        result = parts[0]
        for p in parts[1:]:
            result = result.unionByName(p)
        result = result.localCheckpoint(eager=True)
    stats = {
        "data_batches": len(data),
        "rows_per_batch": [p["numInputRows"] for p in data],
    }
    return result, stats
