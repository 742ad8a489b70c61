"""Streaming-native incremental near-duplicate dedup.

The batch ``operators.dedup_near.incremental_dedup`` screens ONE new
batch against a fixed corpus; a live ingestion pipeline instead sees an
unbounded stream of batches whose accepted documents must immediately
join the dedup index — otherwise two near-identical documents arriving
in consecutive micro-batches both pass. This module runs exactly that:
a Structured Streaming query whose ``foreachBatch`` bands each
micro-batch against a PERSISTED band index (banded-MinHash rows +
shingle table in parquet), exact-Jaccard-verifies candidates, appends
the verdicts, and admits the batch's novel documents into the stored
index before the next batch runs — the streaming face of the reference's
effectively-once ingestion contract (T3, ``SURVEY.md §2.7``; reference
anti-join dedup: ``src/process_insert_places_data.py:30-49``).

Scale shape: the corpus is banded ONCE (the stored index is exactly
what ``incremental_dedup``'s docstring promises "at real scale");
per batch, only the incoming micro-batch is shingled/banded (map-only)
and candidates come from a band equi-join — the corpus² mass never
enters any join, and the index grows by |novel| rows per batch.
Within-batch pairs are deliberately out of scope, same as the batch
operator (they are the ordinary ``minhash_banded_pairs`` run).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.dedup_near import (
    _shingle_table,
    band_table,
)
from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.sources.maintenance import (
    compact_store,
)
from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.streaming.phasing import (
    check_admission_log,
    check_batch_structure,
    foreach_phase,
    stage_phase_files,
)


def incremental_dedup_stream(
    spark: SparkSession,
    corpus: DataFrame,
    phases: list[DataFrame],
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 16,
    threshold: float = 0.5,
) -> tuple[DataFrame, dict]:
    """Replay ``phases`` as one micro-batch each (one file per phase,
    ``maxFilesPerTrigger=1``, mtime-ordered) through the accreting
    dedup: batch i is screened against corpus ∪ (novel docs admitted in
    batches < i); its novel docs' band rows and shingles append to the
    stored index before batch i+1.

    Output: one row per streamed doc with ≥ ``n`` tokens —
    ``(id_col, is_novel, dup_of, jaccard)``, ``dup_of`` the smallest
    matching index doc id (deterministic tiebreak), null for novel
    docs. A doc that duplicates a REJECTED earlier doc is still novel
    (rejected docs never enter the index) — the semantics the
    sequential-replay oracle must model phase by phase.

    Same r=2/b=16 recall-≈1 banding argument as the batch operator, so
    the exact-Jaccard sequential SQL twin is the oracle. Returns
    (result, stats); stats carries the per-batch structure guard."""
    with tempfile.TemporaryDirectory(
        prefix="stream_dedup_", ignore_cleanup_errors=True
    ) as root:
        bands_dir = os.path.join(root, "bands")
        sh_dir = os.path.join(root, "shingles")
        results_dir = os.path.join(root, "results")
        # corpus index persisted ONCE: shingle table + band rows
        ex = _shingle_table(corpus, id_col, text_col, n)
        ex.write.parquet(sh_dir)
        band_table(ex, num_hashes, bands).write.parquet(bands_dir)
        ex.unpersist()

        phase_counts = stage_phase_files(
            [p.select(id_col, text_col) for p in phases], os.path.join(root, "input")
        )

        def screen(batch_df: DataFrame, _batch_id: int) -> None:
            sp = batch_df.sparkSession
            inc = _shingle_table(batch_df, id_col, text_col, n)
            idx_sh = sp.read.parquet(sh_dir)
            cand = (
                band_table(inc, num_hashes, bands, "d1")
                .join(sp.read.parquet(bands_dir).withColumnRenamed("doc", "d2"),
                      "band_val")
                .select("d1", "d2")
                .dropDuplicates(["d1", "d2"])
            )
            verified = (
                cand.join(
                    inc.select(F.col("doc").alias("d1"), F.col("sh").alias("_sh1")),
                    "d1",
                )
                .join(
                    idx_sh.select(
                        F.col("doc").alias("d2"), F.col("sh").alias("_sh2")
                    ),
                    "d2",
                )
                .select(
                    "d1",
                    "d2",
                    F.size(F.array_intersect("_sh1", "_sh2"))
                    .cast("long")
                    .alias("shared"),
                    F.size("_sh1").cast("long").alias("n1"),
                    F.size("_sh2").cast("long").alias("n2"),
                )
                .withColumn(
                    "jaccard",
                    F.round(
                        F.col("shared")
                        / (F.col("n1") + F.col("n2") - F.col("shared")),
                        6,
                    ),
                )
                .filter(F.col("jaccard") >= threshold)
            )
            best = verified.groupBy("d1").agg(F.min("d2").alias("dup_of"))
            best = best.join(
                verified.select("d1", F.col("d2").alias("dup_of"), "jaccard"),
                ["d1", "dup_of"],
            )
            # verdict feeds both the results append and the index
            # admission — materialize once
            verdict = (
                inc.select(F.col("doc").alias(id_col))
                .join(best.withColumnRenamed("d1", id_col), id_col, "left")
                .select(
                    id_col,
                    F.col("dup_of").isNull().alias("is_novel"),
                    "dup_of",
                    "jaccard",
                )
                .localCheckpoint(eager=True)
            )
            verdict.write.mode("append").parquet(results_dir)
            novel = inc.join(
                verdict.filter("is_novel").select(F.col(id_col).alias("doc")),
                "doc",
            )
            novel.write.mode("append").parquet(sh_dir)
            band_table(novel, num_hashes, bands).write.mode("append").parquet(
                bands_dir
            )
            inc.unpersist()

        progress = foreach_phase(spark, root, screen, "incremental_dedup_stream")
        data = check_batch_structure(progress, phase_counts, "incremental_dedup_stream")
        # path-exact phase→batch guard (counts can collide across
        # equal-sized phases; the checkpoint's source log cannot)
        check_admission_log(
            os.path.join(root, "ckpt"), len(phase_counts), "incremental_dedup_stream"
        )
        compaction = None
        if os.path.isdir(results_dir):
            # the accreting index (shingles + band rows) and the
            # verdict log each appended one file-set per batch —
            # compact all three under the footer-count invariant so a
            # follow-on ingest session (or the readout below) opens
            # scanner-sized files; the band index clusters on its
            # bucket key, the probe side of every future banding join
            compaction = {
                "results": compact_store(spark, results_dir),
                "shingles": compact_store(spark, sh_dir),
                "bands": compact_store(spark, bands_dir, cluster_by=["band_val"])
                if os.path.isdir(bands_dir)
                else None,
            }
            result = spark.read.parquet(results_dir).localCheckpoint(eager=True)
        else:
            # no phase held a single >= n-token doc: nothing was
            # screened (id type derived from the caller's schema — the
            # packing-operator lesson)
            id_t = corpus.schema[id_col].dataType.simpleString()
            result = spark.createDataFrame(
                [],
                f"{id_col} {id_t}, is_novel boolean, dup_of {id_t}, "
                "jaccard double",
            )
    stats = {
        "data_batches": len(data),
        "rows_per_batch": [p["numInputRows"] for p in data],
        "compaction": compaction,
    }
    return result, stats
