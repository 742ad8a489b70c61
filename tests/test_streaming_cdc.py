"""End-to-end Structured Streaming CDC tests (SURVEY §2.7 T1-T3, §5).

Drives the file-based CDC source through foreachBatch merge with the
exact event mix FIXTURES.md A4 prescribes: fresh inserts, duplicate
re-insert, FK-orphan insert, update-to-existing, update-to-missing
(upsert), delete (no-op), unknown op (poison → DLQ).
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark import schemas
from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.streaming.cdc_merge import (
    N_BUCKETS,
    PART_COL,
    read_target,
    start_cdc_stream,
)
from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.streaming.windowed import (
    windowed_counts,
)


def _doc(_id, place_id, temp_c=20.0, last_updated="2023-11-14 15:00"):
    return {
        "_id": _id,
        "place_id": place_id,
        "location": None,
        "current": {
            "last_updated_epoch": 1700000000,
            "last_updated": last_updated,
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


def _event(op, doc=None, key=None, ts="2023-11-14T15:00:00.000Z"):
    return {
        "operation_type": op,
        "ns_db": "lake",
        "ns_coll": "weather",
        "full_document": doc,
        "document_key": key,
        "ts": ts,
    }


@pytest.fixture()
def places_dim(spark):
    return spark.createDataFrame(
        [("hanoi", None, None, "VN", "21.0N", "105.8E", "Hanoi", None, None),
         ("hue", None, None, "VN", "16.4N", "107.5E", "Hue", None, None)],
        schemas.PLACES_DIM,
    )


def _write_events(path, events, name="batch0.json"):
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, name), "w") as f:
        for e in events:
            f.write(json.dumps(e) + "\n")


def _run(spark, events_dir, target, dim, dlq, ckpt):
    q = start_cdc_stream(spark, events_dir, target, dim, dlq, ckpt)
    q.awaitTermination(120)


def test_cdc_merge_full_event_mix(spark, places_dim, tmp_path):
    events_dir = str(tmp_path / "events")
    target = str(tmp_path / "fact")
    dlq = str(tmp_path / "dlq")
    events = [
        _event("insert", doc=_doc("w1", "hanoi", 20.0)),
        _event("insert", doc=_doc("w2", "hue", 25.0)),
        _event("insert", doc=_doc("w2", "hue", 25.0)),          # duplicate PK
        _event("insert", doc=_doc("w3", "nowhere", 30.0)),       # FK orphan
        _event("update", doc=_doc("w1", "hanoi", 99.0), key="w1"),
        _event("update", doc=_doc("w9", "hue", 12.0), key="w9"), # upsert-missing
        _event("delete", key="w2"),                               # no-op
        _event("drop_collection"),                                # poison
    ]
    _write_events(events_dir, events)
    _run(spark, events_dir, target, places_dim, dlq, str(tmp_path / "ckpt"))

    fact = read_target(spark, target)
    rows = {r.id: r for r in fact.collect()}
    # w1 inserted then updated; w2 inserted once despite dup; w3 rejected;
    # w9 upserted via update-to-missing; delete left w2 alone.
    assert set(rows) == {"w1", "w2", "w9"}
    assert rows["w1"].temp_c == 99.0
    assert rows["w2"].temp_c == 25.0
    assert rows["w9"].temp_c == 12.0
    assert len(fact.columns) == 25  # warehouse DDL shape preserved

    fk_dlq = spark.read.json(os.path.join(dlq, "fk_violations"))
    assert [r._id for r in fk_dlq.collect()] == ["w3"]
    poison = spark.read.json(os.path.join(dlq, "unknown_ops"))
    assert [r.operation_type for r in poison.collect()] == ["drop_collection"]


def test_cdc_merge_is_idempotent_across_redelivery(spark, places_dim, tmp_path):
    """At-least-once delivery: replaying the same events (fresh
    checkpoint) must not change the target — reference T3 semantics."""
    events_dir = str(tmp_path / "events")
    target = str(tmp_path / "fact")
    dlq = str(tmp_path / "dlq")
    events = [
        _event("insert", doc=_doc("w1", "hanoi", 20.0)),
        _event("update", doc=_doc("w1", "hanoi", 50.0), key="w1"),
        _event("insert", doc=_doc("w2", "hue", 25.0)),
    ]
    _write_events(events_dir, events)
    _run(spark, events_dir, target, places_dim, dlq, str(tmp_path / "ckpt1"))
    first = sorted(map(str, spark.read.parquet(target).collect()))
    # replay with a NEW checkpoint → source re-delivers everything
    _run(spark, events_dir, target, places_dim, dlq, str(tmp_path / "ckpt2"))
    second = sorted(map(str, spark.read.parquet(target).collect()))
    assert first == second


def test_partition_scoped_merge_leaves_untouched_partitions_alone(
    spark, places_dim, tmp_path
):
    """The 100 TB guarantee of the partitioned CDC target: an update
    batch rewrites ONLY the key-hash partitions containing updated
    keys — every other partition's files stay byte-identical."""
    events_dir = str(tmp_path / "events")
    target = str(tmp_path / "fact")
    dlq = str(tmp_path / "dlq")
    inserts = [
        _event("insert", doc=_doc(f"w{i}", "hanoi", 20.0 + i)) for i in range(8)
    ]
    _write_events(events_dir, inserts)
    _run(spark, events_dir, target, places_dim, dlq, str(tmp_path / "ck1"))

    def snapshot():
        out = {}
        for root, _dirs, files in os.walk(target):
            for f in files:
                if f.endswith(".parquet"):
                    p = os.path.join(root, f)
                    with open(p, "rb") as fh:
                        out[os.path.relpath(p, target)] = fh.read()
        return out

    before = snapshot()
    bucket = (
        spark.range(1)
        .select(
            F.pmod(F.xxhash64(F.lit("w3")), F.lit(N_BUCKETS)).cast("int").alias("b")
        )
        .collect()[0]
        .b
    )
    ev2 = str(tmp_path / "events2")
    _write_events(ev2, [_event("update", doc=_doc("w3", "hanoi", 77.0), key="w3")])
    _run(spark, ev2, target, places_dim, dlq, str(tmp_path / "ck2"))
    after = snapshot()

    touched_prefix = f"{PART_COL}={bucket}"
    untouched_before = {
        p: b for p, b in before.items() if not p.startswith(touched_prefix)
    }
    untouched_after = {
        p: b for p, b in after.items() if not p.startswith(touched_prefix)
    }
    assert untouched_before, "fixture must span more than one partition"
    assert untouched_before == untouched_after  # byte-identical files
    # and the touched partition did absorb the update
    fact = read_target(spark, target)
    assert [r.temp_c for r in fact.filter(F.col("id") == "w3").collect()] == [77.0]
    assert fact.count() == 8


def _store_files(path):
    """Relative path -> bytes of every file under the store."""
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, path)] = fh.read()
    return out


def _mixed_batch(b):
    """Batch ``b``: 24 fresh inserts, a re-delivered insert, an FK-orphan
    insert and updates to every sixth key of batch ``b - 1``."""
    events = [
        _event("insert", doc=_doc(f"b{b}k{i}", "hanoi", 20.0 + i))
        for i in range(24)
    ]
    events.append(_event("insert", doc=_doc(f"b{b}k0", "hanoi", 20.0)))
    events.append(_event("insert", doc=_doc(f"b{b}x", "nowhere", 1.0)))
    if b > 0:
        events += [
            _event("update", doc=_doc(f"b{b - 1}k{i}", "hue", 90.0 + b), key=f"b{b - 1}k{i}",
                   ts="2023-11-14T16:00:00.000Z")
            for i in range(0, 24, 6)
        ]
    return events


def test_probe_bucket_sets_match_write_path_buckets(spark, places_dim, tmp_path):
    """The probe's touched-bucket sets decide which partitions the
    dynamic overwrite replaces, so they must equal the buckets the
    write path computes for the same rows — a bucket missing from the
    set would drop its stored rows. Parity on a batch spanning many
    buckets, FK orphans included."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.flatten import (
        flatten_weather,
    )
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.streaming.cdc_merge import (
        _tag_and_probe,
        with_bucket,
    )

    events = _mixed_batch(1) + [
        _event("update", doc=_doc(f"u{i}", "nowhere", 5.0), key=f"u{i}") for i in range(3)
    ]
    events_dir = str(tmp_path / "events")
    _write_events(events_dir, events)
    batch = spark.read.schema(schemas.CDC_EVENT).json(events_dir)
    _pinned, probe = _tag_and_probe(batch, places_dim)

    def write_buckets(ops):
        docs = (
            batch.filter(F.col("operation_type").isin(*ops))
            .select("full_document.*")
            .join(places_dim.select("place_id"), "place_id", "left_semi")
        )
        rows = with_bucket(flatten_weather(docs)).select(PART_COL).distinct().collect()
        return sorted(r[0] for r in rows)

    assert probe["ib"] == write_buckets(["insert", "replace"])
    assert probe["tb"] == write_buckets(["update"])
    assert len(probe["ib"]) > 8 and len(probe["tb"]) > 1
    assert (probe["io"], probe["po"], probe["u"]) == (1, 3, 0)


def test_every_touched_bucket_holds_one_file(spark, places_dim, tmp_path):
    """One commit per batch writes ONE file per touched bucket: after
    several mixed insert+update batches no bucket directory has picked
    up a second file (a separate insert append would leave one in every
    bucket that got inserts but no update)."""
    events_dir = str(tmp_path / "events")
    target = str(tmp_path / "fact")
    dlq = str(tmp_path / "dlq")
    ckpt = str(tmp_path / "ckpt")
    for b in range(3):
        _write_events(events_dir, _mixed_batch(b), name=f"batch{b}.json")
        _run(spark, events_dir, target, places_dim, dlq, ckpt)
    per_bucket = {}
    for root, _dirs, files in os.walk(target):
        if os.path.basename(root).startswith(f"{PART_COL}="):
            per_bucket[root] = sum(f.endswith(".parquet") for f in files)
    assert len(per_bucket) > 16
    assert set(per_bucket.values()) == {1}
    fact = read_target(spark, target)
    assert fact.count() == 72
    assert fact.filter(F.col("temp_c") == 92.0).count() == 4


def test_failed_commit_leaves_store_untouched(spark, places_dim, tmp_path, monkeypatch):
    """A batch lands in one commit: when the target write fails before
    its job commit, the store keeps every file byte for byte (no
    half-applied batch), and a restart on the same checkpoint
    converges to the clean run. A crash inside the commit's per-bucket
    rename is not covered."""
    from pyspark.sql.readwriter import DataFrameWriter

    def run_batches(root, fail_second=False):
        events_dir = os.path.join(root, "events")
        target = os.path.join(root, "fact")
        dlq = os.path.join(root, "dlq")
        ckpt = os.path.join(root, "ckpt")
        _write_events(events_dir, _mixed_batch(0), name="batch0.json")
        _run(spark, events_dir, target, places_dim, dlq, ckpt)
        _write_events(events_dir, _mixed_batch(1), name="batch1.json")
        if fail_second:
            before = _store_files(target)
            failed = []
            set_mode, write_parquet = DataFrameWriter.mode, DataFrameWriter.parquet

            def mode(self, save_mode):
                self.save_mode = save_mode
                return set_mode(self, save_mode)

            def failing(self, path, *args, **kwargs):
                # the merge commit: the overwrite of the target, once
                merge_commit = getattr(self, "save_mode", None) == "overwrite"
                if merge_commit and os.path.abspath(path) == os.path.abspath(target) and not failed:
                    failed.append(path)
                    raise RuntimeError("injected target write failure")
                return write_parquet(self, path, *args, **kwargs)

            monkeypatch.setattr(DataFrameWriter, "mode", mode)
            monkeypatch.setattr(DataFrameWriter, "parquet", failing)
            q = start_cdc_stream(spark, events_dir, target, places_dim, dlq, ckpt)
            with pytest.raises(Exception, match="injected target write failure"):
                q.awaitTermination(120)
            monkeypatch.undo()
            assert failed
            assert _store_files(target) == before
        _run(spark, events_dir, target, places_dim, dlq, ckpt)
        return sorted(map(tuple, read_target(spark, target).collect()))

    restarted = run_batches(str(tmp_path / "restarted"), fail_second=True)
    clean = run_batches(str(tmp_path / "clean"))
    assert restarted == clean and len(clean) == 48


def test_windowed_counts_streaming(spark, tmp_path):
    events_dir = str(tmp_path / "ev")
    os.makedirs(events_dir)
    rows = [
        {"event_id": 1, "ts": "2024-01-01T00:10:00.000Z", "event_type": "click"},
        {"event_id": 2, "ts": "2024-01-01T00:50:00.000Z", "event_type": "click"},
        {"event_id": 3, "ts": "2024-01-01T01:05:00.000Z", "event_type": "view"},
    ]
    with open(os.path.join(events_dir, "e.json"), "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    schema = "event_id long, ts timestamp, event_type string"
    stream = spark.readStream.schema(schema).json(events_dir)
    agg = windowed_counts(stream, "ts", "1 hour", "5 minutes", ["event_type"])
    q = (
        agg.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.window_start.isoformat(), r.event_type): r.n_events
        for r in spark.sql("select * from win_counts").collect()
    }
    # Watermark = max(ts) - lateness = 01:00 → the [00:00,01:00) window is
    # finalized and emitted; the [01:00,02:00) window is still open, so
    # its rows are correctly withheld in append mode.
    assert got == {("2024-01-01T00:00:00", "click"): 2}


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """T3 streaming-native form: dropDuplicatesWithinWatermark drops
    re-delivered ids without unbounded state."""
    import json as _json

    ev_dir = str(tmp_path / "dups")
    os.makedirs(ev_dir)
    rows = [
        {"id": "a", "ts": "2024-01-01T00:00:00.000Z", "v": 1},
        {"id": "a", "ts": "2024-01-01T00:00:30.000Z", "v": 2},  # duplicate id
        {"id": "b", "ts": "2024-01-01T00:01:00.000Z", "v": 3},
    ]
    with open(os.path.join(ev_dir, "e.json"), "w") as f:
        for r in rows:
            f.write(_json.dumps(r) + "\n")
    stream = spark.readStream.schema("id string, ts timestamp, v long").json(ev_dir)
    deduped = stream.withWatermark("ts", "10 minutes").dropDuplicatesWithinWatermark(["id"])
    out: list = []
    q = (
        deduped.writeStream.foreachBatch(lambda df, _id: out.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert sorted(r.id for r in out) == ["a", "b"]


def test_session_window_streaming_agg(spark, tmp_path):
    """Spark's built-in session windows (gap-close semantics) over a
    stream — the streaming twin of operators.sessions."""
    import json as _json

    ev_dir = str(tmp_path / "sw")
    os.makedirs(ev_dir)
    rows = [
        {"user_id": 1, "ts": "2024-01-01T00:00:00.000Z"},
        {"user_id": 1, "ts": "2024-01-01T00:03:00.000Z"},   # same session
        {"user_id": 1, "ts": "2024-01-01T01:00:00.000Z"},   # new session
        {"user_id": 9, "ts": "2024-01-01T02:00:00.000Z"},   # watermark pusher
    ]
    with open(os.path.join(ev_dir, "e.json"), "w") as f:
        for r in rows:
            f.write(_json.dumps(r) + "\n")
    stream = spark.readStream.schema("user_id long, ts timestamp").json(ev_dir)
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", "5 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    out: list = []
    q = (
        agg.writeStream.foreachBatch(lambda df, _id: out.extend(df.collect()))
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    closed = {(r.user_id, r.w.start.isoformat()): r.n for r in out}
    # user 1's first session (2 events, closes at 00:08) and second
    # session (closes 01:05) are both behind the 01:50 watermark
    assert closed[(1, "2024-01-01T00:00:00")] == 2
    assert closed[(1, "2024-01-01T01:00:00")] == 1


def test_pipeline_monitor_listener(spark, tmp_path):
    """StreamingQueryListener surface (reference monitor.sh / T8)."""
    import json as _json

    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.streaming.listeners import (
        PipelineMonitor,
    )

    mon = PipelineMonitor()
    spark.streams.addListener(mon)
    try:
        ev_dir = str(tmp_path / "mon")
        os.makedirs(ev_dir)
        with open(os.path.join(ev_dir, "e.json"), "w") as f:
            f.write(_json.dumps({"v": 1}) + "\n")
        stream = spark.readStream.schema("v long").json(ev_dir)
        q = (
            stream.writeStream.format("noop")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        import time

        for _ in range(20):  # listener callbacks are async
            if mon.progress:
                break
            time.sleep(0.5)
        assert any(p["num_input_rows"] == 1 for p in mon.progress)
    finally:
        spark.streams.removeListener(mon)


def test_stream_stream_interval_join(spark, tmp_path):
    """Stream-stream join with watermarks: purchases joined to clicks
    by the same user within the preceding hour — both sides unbounded,
    state bounded by the watermark + interval condition."""
    import json as _json

    cdir, pdir = str(tmp_path / "clicks"), str(tmp_path / "purch")
    os.makedirs(cdir); os.makedirs(pdir)
    with open(os.path.join(cdir, "c.json"), "w") as f:
        for eid, ts in [(1, "00:10"), (2, "01:30"), (3, "05:00")]:
            f.write(_json.dumps({"user_id": 1, "click_id": eid,
                                 "cts": f"2024-01-01T{ts}:00.000Z"}) + "\n")
    with open(os.path.join(pdir, "p.json"), "w") as f:
        f.write(_json.dumps({"user_id": 1, "purchase_id": 100,
                             "pts": "2024-01-01T01:45:00.000Z"}) + "\n")
    clicks = spark.readStream.schema("user_id long, click_id long, cts timestamp").json(cdir).withWatermark("cts", "10 minutes")
    purch = spark.readStream.schema("user_id long, purchase_id long, pts timestamp").json(pdir).withWatermark("pts", "10 minutes")
    joined = purch.join(
        clicks,
        (purch["user_id"] == clicks["user_id"])
        & (clicks["cts"] >= purch["pts"] - F.expr("INTERVAL 1 HOUR"))
        & (clicks["cts"] <= purch["pts"]),
    )
    out: list = []
    q = (
        joined.writeStream.foreachBatch(lambda df, _id: out.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # only click 2 (01:30) falls within [00:45, 01:45] of the purchase
    assert [(r.purchase_id, r.click_id) for r in out] == [(100, 2)]


def test_windowed_counts_once_equals_batch(spark):
    """stream-executed tumbling agg == batch tumbling agg on the same
    lake table (the driver-oracled stream_batch_hourly equivalence,
    asserted engine-side here)."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.windows import (
        tumbling_agg,
    )
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.sources.tables import (
        load_table,
    )
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.streaming.windowed import (
        windowed_counts_once,
    )

    sf = "/root/testdata/sf0.001"
    aggs = [F.count(F.lit(1)).alias("n_events")]
    streamed = windowed_counts_once(
        spark, os.path.join(sf, "events.parquet"),
        group_cols=["event_type"], aggs=aggs,
    )
    batch = tumbling_agg(
        load_table(spark, sf, "events"), "ts", "1 hour", ["event_type"], aggs
    )
    key = lambda r: (r.window_start, r.event_type)  # noqa: E731
    s = {key(r): r.n_events for r in streamed.collect()}
    b = {key(r): r.n_events for r in batch.collect()}
    assert s == b and len(s) > 0


def test_listener_alert_hook_fires_on_stream_failure(spark, tmp_path):
    """K7/T8 e2e: a crashing stream must invoke the alert hook
    (reference monitor.sh:15 publishes to SNS when the daemon dies
    unexpectedly) — not just record progress."""
    import json as _json
    import time

    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.streaming.listeners import (
        PipelineMonitor,
    )

    alerts: list = []
    mon = PipelineMonitor(on_failure=alerts.append)
    spark.streams.addListener(mon)
    try:
        ev_dir = str(tmp_path / "boom")
        os.makedirs(ev_dir)
        with open(os.path.join(ev_dir, "e.json"), "w") as f:
            f.write(_json.dumps({"v": 1}) + "\n")

        def poison(df, _bid):
            raise ValueError("poison batch: simulated daemon crash")

        q = (
            spark.readStream.schema("v long").json(ev_dir)
            .writeStream.foreachBatch(poison)
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True)
            .start()
        )
        with pytest.raises(Exception, match="poison batch"):
            q.awaitTermination(120)
        for _ in range(40):  # listener callbacks are async
            if alerts:
                break
            time.sleep(0.5)
        assert alerts and "poison batch" in alerts[0]
    finally:
        spark.streams.removeListener(mon)
