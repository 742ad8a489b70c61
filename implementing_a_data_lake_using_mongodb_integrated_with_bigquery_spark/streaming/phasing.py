"""Deterministic multi-micro-batch replay staging.

A bounded streaming query is only oracle-able if the micro-batch
structure is a pure function of the data: each logical phase lands as
exactly ONE parquet file with strictly increasing mtimes, so the file
source's oldest-first ordering replays phase i as micro-batch i under
``maxFilesPerTrigger=1``. Shared by every phased replay and
checkpoint-restart harness in ``streaming/``.

A ``foreachBatch`` replay is: a ``tempfile.TemporaryDirectory`` root,
``stage_phase_files`` into ``root/input``, ``foreach_phase`` (one
``availableNow`` query, checkpoint at ``root/ckpt``), then both guards
(``check_batch_structure`` and ``check_admission_log``). Session conf
a bounded run needs (shuffle/state partitions, state-store provider)
is set with ``scoped_conf``, which restores it on any exit.
"""

from __future__ import annotations

import contextlib
import itertools
import os
from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame, SparkSession

_SEQ = itertools.count()


@contextlib.contextmanager
def scoped_conf(
    spark: SparkSession, conf: dict[str, str | int | None]
) -> Iterator[None]:
    """Set each key of ``conf`` for the ``with`` body and restore it on
    exit, normal or exceptional. A ``None`` value leaves that key
    untouched (callers pass an optional partition count straight
    through); a key that was unset before is unset again."""
    prev: dict[str, str | None] = {}
    try:
        for key, value in conf.items():
            if value is None:
                continue
            prev[key] = spark.conf.get(key, None)
            spark.conf.set(key, str(value))
        yield
    finally:
        for key, value in prev.items():
            if value is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, value)


def foreach_phase(
    spark: SparkSession,
    root: str,
    body: Callable[[DataFrame, int], None],
    name: str,
) -> list[dict]:
    """Run ``body`` as the ``foreachBatch`` sink of ONE ``availableNow``
    query over the phase files staged in ``root/input`` (schema read
    from the staged files, ``maxFilesPerTrigger=1`` so phase i is
    micro-batch i), checkpointed at ``root/ckpt``. A second call on the
    same root resumes from that checkpoint (restart replays). Returns
    the query's ``recentProgress`` for the caller's guards."""
    input_dir = os.path.join(root, "input")
    q = (
        spark.readStream.schema(spark.read.parquet(input_dir).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(input_dir)
        .writeStream.foreachBatch(body)
        .option("checkpointLocation", os.path.join(root, "ckpt"))
        .trigger(availableNow=True)
        .queryName(f"{name}_{next(_SEQ)}")
        .start()
    )
    q.awaitTermination()
    return list(q.recentProgress)


def stage_phase_files(
    phases: list[DataFrame], input_dir: str, start: int = 0
) -> list[int]:
    """Write each phase as one parquet file in ``input_dir`` with
    fixed, strictly increasing mtimes (the file source sorts unread
    files oldest-first, so phase order == batch order). Returns the
    per-phase row counts read from the parquet footers — free, no
    Spark jobs — for the caller's batch-structure guard.

    ``start`` offsets the phase numbering (file names AND mtimes), so
    checkpoint-RESTART replays can stage later phases after an earlier
    run already consumed phases ``0..start-1`` from the same dir.

    Staging is ONE Spark job for any phase count (r14 optimization):
    each phase is tagged with a ``__phase`` literal, the tagged union
    is written once with ``partitionBy("__phase")``, and
    ``coalesce(1)`` keeps the whole write a single task — the same
    serial per-phase compute the old one-job-PER-phase loop did, minus
    N−1 job schedulings and write commits (the replay pre-start was
    3–5s of which staging jobs were the bulk; guide §2.4 remove whole
    jobs). Dynamic partitioning yields exactly one part file per phase
    value, which the hardlink step below renames into the flat
    ``phase-NNN.parquet`` layout the admission-log guard expects —
    invariants (one file per phase, fixed mtimes, footer counts,
    loud empty-phase reject) unchanged."""
    import tempfile

    import pyarrow.parquet as pq

    from pyspark.sql import functions as F

    os.makedirs(input_dir, exist_ok=True)
    parent = os.path.dirname(input_dir)
    idx = list(range(start, start + len(phases)))

    # checked on BOTH paths: a single-phase restart staging that let
    # the column through would land a file whose schema differs from
    # the earlier multi-phase files mid-replay
    for ph in phases:
        if "__phase" in ph.columns:
            raise ValueError(
                "phase schema must not contain a '__phase' column "
                "(reserved by stage_phase_files)"
            )
    if len(phases) == 1:
        # restart staging / single phase: the direct one-job write
        stage = tempfile.mkdtemp(prefix=f"phase{idx[0]}_", dir=parent)
        phases[0].coalesce(1).write.mode("overwrite").parquet(stage)
        src_dirs = {idx[0]: stage}
    else:
        tagged = None
        for i, ph in zip(idx, phases):
            t = ph.withColumn("__phase", F.lit(i))
            tagged = t if tagged is None else tagged.unionByName(t)
        stage = tempfile.mkdtemp(prefix=f"phases{idx[0]}_", dir=parent)
        (
            tagged.coalesce(1)
            .write.mode("overwrite")
            .partitionBy("__phase")
            .parquet(stage)
        )
        src_dirs = {i: os.path.join(stage, f"__phase={i}") for i in idx}

    counts = []
    for i in idx:
        pdir = src_dirs[i]
        parts = (
            [f for f in os.listdir(pdir) if f.endswith(".parquet")]
            if os.path.isdir(pdir)
            else []
        )
        if not parts:
            # a 0-row phase writes no partition directory at all — the
            # same construction-time loud reject as the footer check
            raise ValueError(
                f"phase {i} is empty: a 0-row phase produces no data "
                "micro-batch and cannot participate in a deterministic "
                "phase-per-batch replay"
            )
        if len(parts) != 1:
            raise RuntimeError(f"phase {i}: expected 1 part file, got {parts}")
        dest = os.path.join(input_dir, f"phase-{i:03d}.parquet")
        os.link(os.path.join(pdir, parts[0]), dest)
        t = 1_600_000_000 + 60 * i
        os.utime(dest, (t, t))
        n = pq.ParquetFile(dest).metadata.num_rows
        if n == 0:
            # a 0-row file admits a 0-row micro-batch that the
            # batch-structure guard filters out of the progress list,
            # silently desynchronizing phase i ↔ batch i for every
            # later phase — reject at construction, loudly
            raise ValueError(
                f"phase {i} is empty: a 0-row phase produces no data "
                "micro-batch and cannot participate in a deterministic "
                "phase-per-batch replay"
            )
        counts.append(n)
    return counts


def check_batch_structure(progress: list, phase_counts: list[int], where: str) -> list:
    """Assert one data micro-batch per phase, arriving in phase order
    (by input-row counts) — a silent file-ordering or admission-control
    change must fail loudly, not hash-mismatch the oracle. Counts alone
    cannot distinguish two equal-sized phases swapped in flight; pair
    with ``check_admission_log`` (path-exact) when the checkpoint is
    available. Returns the data-batch progress entries."""
    data = [p for p in progress if p["numInputRows"] > 0]
    got = [p["numInputRows"] for p in data]
    if got != phase_counts:
        raise RuntimeError(
            f"{where}: batches saw {got} input rows but phases hold "
            f"{phase_counts} — file ordering or admission control diverged "
            "from the phase construction."
        )
    return data


def check_admission_log(checkpoint_dir: str, n_phases: int, where: str) -> None:
    """Path-exact phase→batch guard: read the file source's metadata
    log under ``<checkpoint>/sources/0/<batchId>`` and assert batch i
    admitted exactly ``phase-{i:03d}.parquet``. Row counts can collide
    (two equal-sized phases replayed out of order pass the count
    guard); file paths cannot. Free — the checkpoint already holds the
    log; this only parses it."""
    import json

    src = os.path.join(checkpoint_dir, "sources", "0")
    for i in range(n_phases):
        log = os.path.join(src, str(i))
        if not os.path.isfile(log):
            raise RuntimeError(
                f"{where}: checkpoint has no source log for batch {i} "
                f"(expected {n_phases} batches)"
            )
        with open(log) as f:
            entries = [json.loads(ln) for ln in f if ln.startswith("{")]
        got = sorted(os.path.basename(e["path"]) for e in entries)
        want = [f"phase-{i:03d}.parquet"]
        if got != want:
            raise RuntimeError(
                f"{where}: batch {i} admitted {got}, expected {want} — "
                "phases replayed out of order."
            )
