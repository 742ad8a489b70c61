"""Failure paths of the shared replay helpers (``streaming/phasing.py``):
a raising phase write or ``foreachBatch`` body must leave the session
conf and the temp root as they were, and no module may hand-roll the
conf save/set/restore that ``scoped_conf`` owns."""

from __future__ import annotations

import os
import re
import tempfile

import pytest
from pyspark.sql import functions as F

from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.streaming import (
    sketch_stream,
)
from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.streaming.phasing import (
    scoped_conf,
)
from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.streaming.windowed import (
    restart_append_counts,
)

PARTS = "spark.sql.shuffle.partitions"
PKG = os.path.join(
    os.path.dirname(os.path.abspath(__file__)),
    "..",
    "implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark",
)


def test_scoped_conf_restores_unset_keys_skips_none_and_survives_raise(spark):
    unset_key = "spark.lakeflow.test.scopedConf"
    assert spark.conf.get(unset_key, None) is None
    parts = spark.conf.get(PARTS)

    with scoped_conf(spark, {unset_key: "on", PARTS: 3}):
        assert spark.conf.get(unset_key) == "on"
        assert spark.conf.get(PARTS) == "3"
    assert spark.conf.get(unset_key, None) is None  # unset again, not ""
    assert spark.conf.get(PARTS) == parts

    # None leaves the key alone: not set on entry, not restored on exit
    with scoped_conf(spark, {PARTS: None}):
        assert spark.conf.get(PARTS) == parts
        spark.conf.set(PARTS, "5")
    assert spark.conf.get(PARTS) == "5"
    spark.conf.set(PARTS, parts)

    with pytest.raises(RuntimeError, match="body failed"):
        with scoped_conf(spark, {unset_key: "on", PARTS: 3}):
            raise RuntimeError("body failed")
    assert spark.conf.get(unset_key, None) is None
    assert spark.conf.get(PARTS) == parts


def test_restart_failed_phase1_write_leaks_no_temp_root(spark, tmp_path, monkeypatch):
    """The phase-1 write happens inside the harness's temp root: a
    failing write must still remove the root and restore the conf."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    parts = spark.conf.get(PARTS)
    bad = spark.range(3).select(
        F.col("id").alias("user_id"),
        F.raise_error(F.lit("phase-1 write failed")).cast("timestamp").alias("ts"),
    )
    good = spark.range(3).select(
        F.col("id").alias("user_id"), F.current_timestamp().alias("ts")
    )
    with pytest.raises(Exception, match="phase-1 write failed"):
        restart_append_counts(spark, bad, good)
    assert os.listdir(tmp_path) == []
    assert spark.conf.get(PARTS) == parts


def test_phased_replay_raising_body_restores_conf_and_temp(spark, tmp_path, monkeypatch):
    """A foreachBatch body that raises mid-replay: the query fails, and
    the scoped shuffle-partition count and the temp root are undone."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))

    def broken_build(*_a, **_k):
        raise RuntimeError("cms_build exploded")

    monkeypatch.setattr(sketch_stream, "cms_build", broken_build)
    parts = spark.conf.get(PARTS)
    assert parts != "3"
    phases = [spark.range(a, a + 5).select(F.col("id").alias("k")) for a in (0, 5)]
    with pytest.raises(Exception, match="cms_build exploded"):
        sketch_stream.cms_stream_phased(spark, phases, "k", shuffle_partitions=3)
    assert spark.conf.get(PARTS) == parts
    assert os.listdir(tmp_path) == []
    assert not spark.streams.active


def test_no_hand_rolled_conf_restores_outside_the_helpers():
    """Session-conf save/set/restore is ``phasing.scoped_conf``'s job;
    only it (and the session factory) may set shuffle partitions or
    unset a key directly."""
    allowed = {
        os.path.join("streaming", "phasing.py"),
        "session.py",
    }
    pattern = re.compile(
        r"""conf\.set\(\s*["']spark\.sql\.shuffle\.partitions["']|conf\.unset\("""
    )
    offenders = []
    for dirpath, _dirs, files in os.walk(PKG):
        for name in files:
            if not name.endswith(".py"):
                continue
            path = os.path.join(dirpath, name)
            rel = os.path.relpath(path, PKG)
            if rel in allowed:
                continue
            with open(path) as f:
                for lineno, line in enumerate(f, 1):
                    if pattern.search(line):
                        offenders.append(f"{rel}:{lineno}: {line.strip()}")
    assert not offenders, "use streaming.phasing.scoped_conf:\n" + "\n".join(offenders)
