"""Round-14 optimization pins.

1. `stage_phase_files` single-pass staging (one tagged union write)
   must preserve every replay invariant of the old one-job-per-phase
   loop: one part file per phase, exact per-phase contents, fixed
   strictly-increasing mtimes, loud empty-phase reject, and the new
   reserved-column guard.
2. The CDC probe fold (one aggregate answering branch gates, BOTH
   FK-violation gates and the touched-bucket set) must replicate
   `fk_violations`' left-anti NULL semantics: an update with a NULL fk
   is a violation (dead-lettered), and an orphan-free update batch
   writes no FK DLQ while still merging correctly.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark import schemas
from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.streaming.cdc_merge import (
    apply_cdc_batch,
    read_target,
)
from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.streaming.phasing import (
    stage_phase_files,
)


def test_stage_phase_files_single_pass_invariants(spark, tmp_path):
    input_dir = str(tmp_path / "input")
    phases = [
        spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"),
        spark.createDataFrame([(3, "c")], "k int, v string"),
        spark.createDataFrame([(4, "d"), (5, "e"), (6, "f")], "k int, v string"),
    ]
    counts = stage_phase_files(phases, input_dir)
    assert counts == [2, 1, 3]
    files = sorted(f for f in os.listdir(input_dir) if f.endswith(".parquet"))
    assert files == ["phase-000.parquet", "phase-001.parquet", "phase-002.parquet"]
    mtimes = [os.path.getmtime(os.path.join(input_dir, f)) for f in files]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == 3
    # per-file contents == the exact phase rows, no __phase column
    for i, ph in enumerate(phases):
        got = spark.read.parquet(os.path.join(input_dir, f"phase-{i:03d}.parquet"))
        assert set(got.columns) == {"k", "v"}
        assert sorted(map(tuple, got.collect())) == sorted(map(tuple, ph.collect()))


def test_stage_phase_files_restart_offset(spark, tmp_path):
    input_dir = str(tmp_path / "input")
    p1 = spark.createDataFrame([(1,)], "k int")
    p2 = spark.createDataFrame([(2,)], "k int")
    assert stage_phase_files([p1], input_dir) == [1]
    assert stage_phase_files([p2], input_dir, start=1) == [1]
    files = sorted(f for f in os.listdir(input_dir) if f.endswith(".parquet"))
    assert files == ["phase-000.parquet", "phase-001.parquet"]
    m0, m1 = (os.path.getmtime(os.path.join(input_dir, f)) for f in files)
    assert m0 < m1


def test_stage_phase_files_rejects_empty_phase(spark, tmp_path):
    phases = [
        spark.createDataFrame([(1,)], "k int"),
        spark.createDataFrame([], "k int"),
        spark.createDataFrame([(2,)], "k int"),
    ]
    with pytest.raises(ValueError, match="phase 1 is empty"):
        stage_phase_files(phases, str(tmp_path / "input"))


def test_stage_phase_files_rejects_reserved_column(spark, tmp_path):
    ph = spark.createDataFrame([(1, 0)], "k int, __phase int")
    with pytest.raises(ValueError, match="__phase"):
        stage_phase_files([ph, ph], str(tmp_path / "input"))


def test_stage_phase_files_single_phase_rejects_reserved_column(spark, tmp_path):
    ph = spark.createDataFrame([(1, 0)], "k int, __phase int")
    with pytest.raises(ValueError, match="__phase"):
        stage_phase_files([ph], str(tmp_path / "input"), start=1)


def _doc(_id, place_id, temp_c=20.0):
    return {
        "_id": _id,
        "place_id": place_id,
        "location": None,
        "current": {
            "last_updated_epoch": 1700000000,
            "last_updated": "2023-11-14 15:00",
            "temp_c": temp_c, "temp_f": temp_c * 1.8 + 32,
            "is_day": 1,
            "condition": {"text": "Sunny", "icon": "i", "code": 1000},
            "wind_mph": 5.0, "wind_kph": 8.0, "wind_degree": 90,
            "wind_dir": "E", "pressure_mb": 1010.0, "pressure_in": 29.8,
            "precip_mm": 0.0, "precip_in": 0.0, "humidity": 60, "cloud": 10,
            "feelslike_c": 21.0, "feelslike_f": 70.0, "vis_km": 10.0,
            "vis_miles": 6.0, "uv": 5.0, "gust_mph": 7.0, "gust_kph": 11.0,
        },
    }


def _event(op, doc=None, key=None, ts=None):
    from datetime import datetime, timezone

    return {
        "operation_type": op,
        "ns_db": "lake",
        "ns_coll": "weather",
        "full_document": doc,
        "document_key": key,
        "ts": ts or datetime(2023, 11, 14, 15, 0, tzinfo=timezone.utc),
    }


@pytest.fixture()
def places_dim(spark):
    return spark.createDataFrame(
        [("hanoi", None, None, "VN", "21.0N", "105.8E", "Hanoi", None, None)],
        schemas.PLACES_DIM,
    )


def _batch(spark, events):
    return spark.createDataFrame(events, schemas.CDC_EVENT)


def test_cdc_probe_fk_orphan_update_is_violation(spark, tmp_path, places_dim):
    """Orphan parity of the probe fold: the update path's FK check is
    pre-collapse, so the folded orphan count must be the EXACT
    emptiness decision — an update whose place_id is absent from the
    dim dead-letters, the valid update in the same batch still merges.
    (A NULL place_id is unreachable: WEATHER_RAW declares the field
    non-nullable, so the absent-key case is the whole orphan domain.)"""
    target = str(tmp_path / "fact")
    dlq = str(tmp_path / "dlq")
    ins = [_event("insert", _doc("w1", "hanoi", 10.0))]
    apply_cdc_batch(_batch(spark, ins), 0, target, places_dim, dlq)
    from datetime import datetime, timezone

    t16 = datetime(2023, 11, 14, 16, 0, tzinfo=timezone.utc)
    upd = [
        _event("update", _doc("w1", "hanoi", 30.0), key="w1", ts=t16),
        _event("update", _doc("w9", "nowhere", 99.0), key="w9", ts=t16),
    ]
    apply_cdc_batch(_batch(spark, upd), 1, target, places_dim, dlq)
    fk_dir = os.path.join(dlq, "fk_violations")
    rej = spark.read.json(fk_dir)
    assert [r["_id"] for r in rej.collect()] == ["w9"]
    fact = read_target(spark, target)
    rows = {r["id"]: r["temp_c"] for r in fact.collect()}
    assert rows == {"w1": 30.0}  # valid update merged, orphan kept out


def test_cdc_probe_orphan_free_update_writes_no_dlq(spark, tmp_path, places_dim):
    target = str(tmp_path / "fact")
    dlq = str(tmp_path / "dlq")
    ins = [_event("insert", _doc("w1", "hanoi", 10.0))]
    apply_cdc_batch(_batch(spark, ins), 0, target, places_dim, dlq)
    from datetime import datetime, timezone

    upd = [
        _event("update", _doc("w1", "hanoi", 31.0), key="w1",
               ts=datetime(2023, 11, 14, 16, 0, tzinfo=timezone.utc)),
    ]
    apply_cdc_batch(_batch(spark, upd), 1, target, places_dim, dlq)
    assert not os.path.isdir(os.path.join(dlq, "fk_violations"))
    fact = read_target(spark, target)
    assert {r["id"]: r["temp_c"] for r in fact.collect()} == {"w1": 31.0}
