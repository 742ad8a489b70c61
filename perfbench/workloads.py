"""The benchmark's three workloads, driven through the package's public
functions by one closed-loop client.

- ``cdc_upsert``: CDC batches (a day of hourly observations each) landed
  as JSON and each consumed by one ``streaming.cdc_merge.start_cdc_stream``
  call on a shared checkpoint, into a fact store pre-seeded with 53,613
  rows. One op is one scheduled run, land -> terminated.
- ``warehouse_queries``: a fixed pool of registry queries in a
  seed-shuffled order, whole passes only, after one warm-up pass on
  1%-sized tables. One op is one query, call -> fully collected.
- ``curation_stream``: ``streaming.dedup_stream.incremental_dedup_stream``
  calls over a seeded corpus and micro-batches. One op is one dedup
  micro-batch (its trigger duration from Spark's streaming progress).

Only ``--trace 1`` runs install wrappers and read Spark's status stores.
"""

from __future__ import annotations

import itertools
import json
import os
import random
import re
import time
from concurrent.futures import ThreadPoolExecutor

import check
import gen
import probes
from probes import median, window_stats

PKG = "implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark"

WAREHOUSE_POOL = (
    "pricing_summary", "star_revenue", "dedup_load", "duplicate_audit",
    "orders_without_lineitems", "fk_semi_urgent", "fuzzy_best_match",
    "cdc_last_write_wins", "hourly_event_stats", "json_props_extract",
    "minhash_lsh_pairs", "ann_ivf_topk", "ivf_pq_search",
)
WAREHOUSE_TABLES = ("region", "nation", "customer", "orders", "lineitem",
                    "events", "documents", "embeddings")

# curation sizes: per call one corpus and CURATION_BATCHES micro-batches
CURATION_CORPUS = 1000
CURATION_BATCHES = 5
CURATION_BATCH_DOCS = 150

END_TO_END_UNITS = {"setup_s": "s", "items_per_s": "1/s", "op_p50_s": "s"}
PER_LAYER_UNITS = {
    "session.start_s": "s",
    "registry.build_s": "s",
    **{f"registry.{q}.p50_s": "s" for q in WAREHOUSE_POOL},
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.driver_s": "s", "exec.task_s": "s", "exec.shuffle_bytes": "bytes",
    "exec.skew": "ratio", "exec.spill_bytes": "bytes", "exec.gc_s": "s",
    "exec.input_bytes": "bytes", "exec.output_bytes": "bytes",
    "streaming.start_s": "s", "streaming.add_batch_s": "s",
    "streaming.wal_commit_s": "s", "streaming.commit_offsets_s": "s",
    "streaming.latest_offset_s": "s", "streaming.query_planning_s": "s",
    "streaming.batches": "count",
    "cdc_merge.apply_cdc_batch_s": "s", "cdc_merge.read_target_s": "s",
    "cdc_merge.read_target_calls": "count",
    "layout.files_scanned": "count", "layout.buckets_rewritten": "count",
    "layout.store_files": "count", "layout.store_bytes": "bytes",
    "integrity.dlq_rows": "count",
    "dedup.candidate_pairs": "count", "dedup.verified_ratio": "ratio",
    "dedup.index_rows_scanned": "count",
    "maintenance.compact_s": "s",
    "store.write_amp": "ratio", "store.bytes_per_row": "bytes",
    "trace.overhead_s": "s",
}


class Bench:
    """One run: session, set-up accounting, op records and tracing."""

    def __init__(self, args, root: str, work: str) -> None:
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.workload = args.workload
        self.root, self.work = root, work
        self.tracer = probes.Tracer()
        self.setup: dict[str, float] = {}
        self.ops: list[dict] = []
        self.wrappers: list[tuple] = []  # Tracer.wrap arguments
        self.layer: dict[str, float] = {k: 0.0 for k in PER_LAYER_UNITS}
        self.detail: dict = {}
        self.spark = None
        self.created = time.time()
        self.first_op = None
        self._execs = None

    # ---------------------------------------------------------- set-up

    def start_session(self) -> None:
        from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark import get_spark

        t = time.time()
        with self.tracer.span("session.get_spark"):
            self.spark = get_spark("lakeflow-perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        self.status = probes.StatusProbe(self.spark)
        self.progress = probes.ProgressLog()
        self.spark.streams.addListener(self.progress)
        self.setup["session"] = time.time() - t
        self.layer["session.start_s"] = self.setup["session"]

    def warm(self, fn) -> None:
        t = time.time()
        fn()
        self.setup["warm_engine"] = time.time() - t

    def setup_s(self) -> float:
        """Wall time from the start of the run to its first timed op."""
        end = self.first_op if self.first_op is not None else time.time()
        return end - self.created

    # -------------------------------------------------------------- ops

    def run_op(self, fn, **info):
        """Time one op; returns fn's result, or None if it raised."""
        rec = {"k": len(self.ops), **info}
        if self.trace:
            for w in self.wrappers:
                self.tracer.wrap(*w)
        self.tracer.op = rec["k"]
        out = None
        t0 = time.time()
        if self.first_op is None:
            self.first_op = t0
        try:
            with self.tracer.span("op"):
                out = fn()
            rec["ok"] = True
        except Exception as exc:  # noqa: BLE001 - a failed op is counted, the run goes on
            rec["ok"] = False
            rec["error"] = f"{type(exc).__name__}: {exc}"[:400]
        t1 = time.time()
        self.tracer.op = None
        self.tracer.unwrap_all()
        rec.update(t0=t0, t1=t1, wall=t1 - t0)
        self.ops.append(rec)
        return out

    def op_progress(self, rec: dict) -> list[dict]:
        """Streaming progress of the data micro-batches inside one op."""
        self.progress.drain()
        return [p for p in self.progress.progress
                if p.get("numInputRows", 0) > 0
                and rec["t0"] - 0.01 <= probes.progress_start(p) <= rec["t1"]]

    # ---------------------------------------------------------- results

    def collect_exec_layers(self) -> None:
        """exec.* per op (medians over ops), layout.files_scanned and
        the trace attribution, all read after the timed loop."""
        jobs, stages = self.status.jobs(), self.status.stages()
        per_op = [window_stats(jobs, stages, r["t0"], r["t1"]) for r in self.ops]
        for k in ("jobs", "stages", "tasks", "driver_s", "task_s", "shuffle_bytes", "skew",
                  "spill_bytes", "gc_s", "input_bytes", "output_bytes"):
            self.layer[f"exec.{k}"] = median(s[k] for s in per_op)
        for r, s in zip(self.ops, per_op):
            r["exec"] = s
        files = []
        for r in self.ops:
            n = 0.0
            for e in self._executions(r["t0"], r["t1"]):
                for _name, _desc, m in self.status.plan_metrics(e["executionId"]):
                    n += probes.metric_number(m.get("number of files read"))
            files.append(n)
        self.layer["layout.files_scanned"] = median(files)
        for r in self.ops:
            self.tracer.attribute(
                r["k"], [j for j in jobs if r["t0"] <= j["submissionTime"] / 1000 <= r["t1"]], stages)

    def _executions(self, t0: float, t1: float) -> list[dict]:
        """SQL executions submitted in [t0, t1], read once after the loop."""
        if self._execs is None:
            self._execs = self.status.executions()
        return [e for e in self._execs if t0 <= e["submissionTime"] / 1000.0 <= t1]

    def span_median(self, name: str, agg=sum) -> float:
        """Median over ops of ``agg`` of the named spans' durations."""
        return median(agg([s["end"] - s["start"] for s in self.tracer.op_spans(r["k"], name)])
                      for r in self.ops)

    def streaming_layers(self, batches: list[dict], starts: list[float], per_op: list[int]) -> None:
        keys = {"add_batch_s": "addBatch", "wal_commit_s": "walCommit",
                "commit_offsets_s": "commitOffsets", "latest_offset_s": "latestOffset",
                "query_planning_s": "queryPlanning"}
        for name, k in keys.items():
            self.layer[f"streaming.{name}"] = median(p["durationMs"].get(k, 0) / 1000.0 for p in batches)
        self.layer["streaming.start_s"] = median(starts)
        self.layer["streaming.batches"] = median(per_op)

    def finish(self, items: float, op_samples: list[float], problems: list[str]) -> dict:
        failed = sum(1 for r in self.ops if not r["ok"])
        attempted = len(self.ops)
        timed = sum(r["wall"] for r in self.ops)
        e2e = {
            "setup_s": self.setup_s(),
            "items_per_s": items / timed if timed > 0 else 0.0,
            "op_p50_s": median(op_samples),
        }
        self.detail.update({
            "setup_breakdown_s": self.setup,
            "ops": attempted,
            "op_samples": len(op_samples),
            "op_tail_s": "omitted: fewer than 11 op samples beyond any percentile above p50"
            if len(op_samples) < 21 else None,
            "timed_s": timed,
            "problems": problems[:10],
            "errors": [r["error"] for r in self.ops if "error" in r][:5],
        })
        if self.trace:
            per_op = [sum(1 for s in self.tracer.spans if s["op"] == r["k"]) for r in self.ops]
            self.detail["spans_per_op"] = median(per_op)
            self.layer["trace.overhead_s"] = median(per_op) * self.tracer.span_cost()
            self.detail["trace_file"] = self._write_trace()
            metrics = {k: {"value": float(self.layer[k]), "unit": u} for k, u in PER_LAYER_UNITS.items()}
        else:
            metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in END_TO_END_UNITS.items()}
        return {"correct": failed == 0 and not problems, "attempted": attempted,
                "failed": failed, "metrics": metrics, "detail": self.detail}

    def _write_trace(self) -> str:
        self.tracer.self_times()
        out_dir = os.path.join(self.root, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"trace-{self.workload}-seed{self.seed}.json")
        with open(path, "w", encoding="utf-8") as fh:
            json.dump({"workload": self.workload, "seed": self.seed,
                       "ops": self.ops, "spans": self.tracer.spans,
                       "per_layer": self.layer}, fh, indent=1, default=str)
        return os.path.relpath(path, self.root)


def _listing(path: str) -> dict[str, int]:
    """Relative path -> size of every regular file under ``path``."""
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            out[os.path.relpath(p, path)] = os.path.getsize(p)
    return out


def _written(before: dict[str, int], after: dict[str, int]) -> dict[str, int]:
    return {p: s for p, s in after.items() if before.get(p) != s}


# ------------------------------------------------------------ cdc_upsert


def cdc_upsert(b: Bench) -> dict:
    from pyspark.sql import functions as F

    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark import schemas
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.flatten import (
        flatten_weather,
    )
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.streaming import cdc_merge

    m = f"{PKG}.streaming.cdc_merge"
    b.wrappers = [
        (m, "apply_cdc_batch", "cdc_merge.apply_cdc_batch"),
        (m, "read_target", "cdc_merge.read_target"),
        (m, "_merge_touched_partitions", "cdc_merge.merge_touched_partitions"),
        (m, "split_by_operation", "cdc_merge.split_by_operation"),
        (m, "dedup_against_target", "dedup.dedup_against_target"),
        (m, "fk_filter", "integrity.fk_filter"),
        (m, "fk_violations", "integrity.fk_violations"),
        (m, "flatten_weather", "flatten.flatten_weather"),
        (f"{PKG}.operators.merge", "last_write_wins", "merge.last_write_wins"),
        (f"{PKG}.operators.merge", "upsert", "merge.upsert"),
    ]
    d = os.path.join(b.work, "cdc")
    os.makedirs(os.path.join(d, "events"))

    def generate() -> list[dict]:
        t = time.time()
        docs = gen.seed_docs(b.seed)
        gen.write_jsonl(os.path.join(d, "places.json"), gen.places(b.seed))
        gen.write_parquet(os.path.join(d, "seed_docs.parquet"), docs, schemas.WEATHER_RAW)
        b.setup["generate"] = time.time() - t
        return docs

    with ThreadPoolExecutor(max_workers=1) as background:
        generated = background.submit(generate)
        b.start_session()
        seed_docs = generated.result()
    spark = b.spark
    dim = spark.read.schema(schemas.PLACES_DIM).json(os.path.join(d, "places.json")).cache()
    dim.count()

    t = time.time()
    fact = os.path.join(d, "fact")
    raw = spark.read.parquet(os.path.join(d, "seed_docs.parquet"))
    (cdc_merge.with_bucket(flatten_weather(raw))
     .repartition(F.col(cdc_merge.PART_COL))
     .write.partitionBy(cdc_merge.PART_COL).parquet(fact))
    b.setup["seed_store"] = time.time() - t
    dlq, ckpt, events = (os.path.join(d, x) for x in ("dlq", "ckpt", "events"))
    replay = check.CdcReplay(gen.N_PLACES, seed_docs)
    batches = gen.cdc_batches(b.seed)
    landed = itertools.count()

    def stage(evs: list[dict]) -> str:
        staged = os.path.join(d, f"batch-{next(landed):05d}.json")
        gen.write_jsonl(staged, evs)
        return staged

    def land_and_merge(staged: str) -> float:
        t_call = time.time()
        # land: the batch file appears atomically in the watched directory
        os.rename(staged, os.path.join(events, os.path.basename(staged)))
        with b.tracer.span("cdc_merge.start_cdc_stream"):
            q = cdc_merge.start_cdc_stream(spark, events, fact, dim, dlq, ckpt)
            q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        return t_call

    # the first scheduled run after deployment is set-up: it pays the
    # cold merge path (class loading, codegen) once
    warm_events = next(batches)

    def warm() -> None:
        land_and_merge(stage(warm_events))
        replay.apply(warm_events, 0)

    b.warm(warm)

    def store_files() -> dict[str, int]:
        return _listing(fact) | {f"dlq/{k}": v for k, v in _listing(dlq).items()}

    before = store_files() if b.trace else {}
    written, buckets, dlq_rows, starts, all_batches, n_batches = 0, [], [], [], [], []
    items = 0
    t_start = time.time()
    while time.time() - t_start < b.seconds or not b.ops:
        evs = next(batches)
        staged = stage(evs)
        t_call = b.run_op(lambda: land_and_merge(staged), events=len(evs))
        replay.apply(evs, len(b.ops))
        items += len(evs)
        if b.trace:
            after = store_files()
            new = _written(before, after)
            before = after
            written += sum(new.values())
            buckets.append(len({os.path.dirname(p) for p in new if p.startswith(cdc_merge.PART_COL)}))
            dlq_rows.append(sum(_count_lines(os.path.join(dlq, p[4:])) for p in new
                                if p.startswith("dlq/") and p.endswith(".json")))
            prog = b.op_progress(b.ops[-1])
            all_batches += prog
            n_batches.append(len(prog))
            if prog and t_call:
                starts.append(probes.progress_start(prog[0]) - t_call)
        if len(b.ops) >= 3 and not any(r["ok"] for r in b.ops[-3:]):
            break

    t = time.time()
    fact_rows = check.read_fact_store(fact)
    problems = check.check_cdc(replay, fact_rows, *check.read_dlq(dlq))
    b.detail["check_s"] = time.time() - t
    if problems:
        for r in b.ops:
            r["ok"] = False
    b.detail["store_rows"] = len(fact_rows)
    if b.trace:
        fact_files = {p: s for p, s in _listing(fact).items() if p.endswith(".parquet")}
        b.collect_exec_layers()
        b.streaming_layers(all_batches, starts, n_batches)
        b.layer.update({
            "cdc_merge.apply_cdc_batch_s": b.span_median("cdc_merge.apply_cdc_batch"),
            "cdc_merge.read_target_s": b.span_median("cdc_merge.read_target"),
            "cdc_merge.read_target_calls": b.span_median("cdc_merge.read_target", len),
            "layout.buckets_rewritten": median(buckets),
            "layout.store_files": float(len(fact_files)),
            "layout.store_bytes": float(sum(fact_files.values())),
            "integrity.dlq_rows": median(dlq_rows),
            "store.write_amp": written / max(1, sum(store_files().values())),
            "store.bytes_per_row": sum(fact_files.values()) / max(1, len(fact_rows)),
        })
    return b.finish(items, [r["wall"] for r in b.ops], problems)


def _count_lines(path: str) -> int:
    with open(path, "rb") as fh:
        return sum(1 for line in fh if line.strip())


# ----------------------------------------------------- warehouse_queries


def warehouse_queries(b: Bench) -> dict:
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark import registry

    b.wrappers = [
        (f"{PKG}.registry", "load_table", "sources.load_table"),
        (f"{PKG}.registry", "parallelize", "sources.parallelize"),
    ]
    data_dir = os.path.join(b.work, "lake")

    warm_dir = os.path.join(b.work, "lake-warm")

    def generate() -> str:
        t = time.time()
        gen.warehouse_tables(b.seed, data_dir)
        gen.warehouse_tables(b.seed, warm_dir, scale=0.01)
        b.setup["generate"] = time.time() - t
        return data_dir

    with ThreadPoolExecutor(max_workers=1) as background:
        # the tables are generated, then the DuckDB oracles run, while
        # the session starts and warms up; all is done before the first
        # timed query
        generated = background.submit(generate)
        oracle = background.submit(lambda: check.oracle_digests(
            generated.result(), WAREHOUSE_TABLES,
            {q: registry.ORACLES[q] for q in WAREHOUSE_POOL}))
        b.start_session()
        spark = b.spark
        generated.result()
        # every pool query once on 1%-sized tables: the timed pass then
        # finds each plan's code generated and compiled. With only one
        # warm-up query, op_p50_s spread to IQR/median 0.18 over ten
        # seeds at 4 cores; with this warm-up, 0.10 over six
        b.warm(lambda: [registry.QUERIES[q](spark, warm_dir).collect() for q in WAREHOUSE_POOL])
        expected = oracle.result()

    digests: list[tuple[str, tuple[int, str]]] = []
    builds: list[float] = []

    def query(name: str):
        with b.tracer.span(f"registry.{name}"):
            t = time.time()
            with b.tracer.span("registry.build"):
                df = registry.QUERIES[name](spark, data_dir)
            builds.append(time.time() - t)
            with b.tracer.span("exec.collect"):
                rows = df.collect()
        return df.columns, rows

    t_start = time.time()
    for n_pass in itertools.count():
        if time.time() - t_start >= b.seconds and n_pass:
            break
        order = list(WAREHOUSE_POOL)
        random.Random(f"{b.seed}:{n_pass}").shuffle(order)
        for name in order:
            out = b.run_op(lambda: query(name), query=name)
            if out is not None:
                digests.append((name, check.result_digest(*out)))
            else:
                digests.append((name, None))
    b.detail["passes"] = n_pass

    problems = []
    for rec, (name, got) in zip(b.ops, digests):
        if got != expected[name]:
            rec["ok"] = False
            problems.append(f"{name}: got {got}, expected {expected[name]}")

    if b.trace:
        b.collect_exec_layers()
        b.layer["registry.build_s"] = median(builds)
        for q in WAREHOUSE_POOL:
            b.layer[f"registry.{q}.p50_s"] = median(r["wall"] for r in b.ops if r["query"] == q)
    return b.finish(len(b.ops), [r["wall"] for r in b.ops], problems)


# ------------------------------------------------------- curation_stream


def curation_stream(b: Bench) -> dict:
    import pyarrow as pa
    import pyarrow.parquet as pq

    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.streaming import dedup_stream

    stores: dict[str, tuple[int, int]] = {}

    def store_size(args, result) -> None:
        """After each store compaction: (bytes, rows) of the live store."""
        path = args[1]
        stores[os.path.basename(path)] = (sum(_listing(path).values()), result["rows"])

    m = f"{PKG}.streaming.dedup_stream"
    b.wrappers = [
        (m, "_shingle_table", "dedup_near.shingle_table"),
        (m, "band_table", "dedup_near.band_table"),
        (m, "compact_store", "maintenance.compact_store", store_size),
        (m, "stage_phase_files", "phasing.stage_phase_files"),
        (m, "check_batch_structure", "phasing.check_batch_structure"),
        (m, "check_admission_log", "phasing.check_admission_log"),
    ]
    b.start_session()
    spark = b.spark
    d = os.path.join(b.work, "docs")
    os.makedirs(d)

    def write_call(call: int) -> tuple[list[str], list[dict], list[list[dict]]]:
        corpus, batches = gen.curation_inputs(
            b.seed, CURATION_CORPUS, CURATION_BATCHES, CURATION_BATCH_DOCS, part=call)
        schema = pa.schema([("doc_id", pa.int64()), ("text", pa.string())])
        paths = []
        for k, rows in enumerate([corpus] + batches):
            paths.append(os.path.join(d, f"call{call}-{k}.parquet"))
            pq.write_table(pa.Table.from_pylist(rows, schema), paths[-1])
        return paths, corpus, batches

    first_call = write_call(0)

    def dedup_call(paths: list[str]) -> list[tuple]:
        corpus = spark.read.parquet(paths[0])
        phases = [spark.read.parquet(p) for p in paths[1:]]
        with b.tracer.span("dedup_stream.incremental_dedup_stream"):
            out, _stats = dedup_stream.incremental_dedup_stream(spark, corpus, phases, threshold=0.5)
        return [tuple(r) for r in out.select("doc_id", "is_novel", "dup_of", "jaccard").collect()]

    # No engine warm-up call: every incremental_dedup_stream call pays
    # ~20 s of fixed cost at 4 cores whatever its size, which a run
    # cannot afford twice. The ops are the call's micro-batches, so the
    # median sits past the call's cold start.
    problems: list[str] = []
    batch_times, all_batches, starts, n_batches, items = [], [], [], [], 0
    t_start = time.time()
    for call in itertools.count():
        if time.time() - t_start >= b.seconds and b.ops:
            break
        paths, corpus, batches = write_call(call) if call else first_call
        t_call = time.time()
        out = b.run_op(lambda: dedup_call(paths), call=call)
        rec = b.ops[-1]
        prog = b.op_progress(rec)
        all_batches += prog
        n_batches.append(len(prog))
        batch_times += [p["durationMs"]["triggerExecution"] / 1000.0 for p in prog]
        if prog:
            starts.append(probes.progress_start(prog[0]) - t_call)
        items += sum(len(x) for x in batches)
        if out is not None:
            bad = check.check_curation(check.curation_replay(corpus, batches), out)
            if bad:
                rec["ok"] = False
                problems += [f"call {call}: {p}" for p in bad]
        if len(b.ops) >= 3 and not any(r["ok"] for r in b.ops[-3:]):
            break

    if b.trace:
        b.collect_exec_layers()
        b.streaming_layers(all_batches, starts, n_batches)
        counters = [_dedup_counters(b, p) for p in all_batches]
        index_rows, cand, verified = ([c[i] for c in counters] for i in range(3))
        b.layer.update({
            "maintenance.compact_s": b.span_median("maintenance.compact_store"),
            "dedup.index_rows_scanned": median(index_rows),
            "dedup.candidate_pairs": median(cand),
            "dedup.verified_ratio": sum(verified) / sum(cand) if sum(cand) else 0.0,
            # a call writes its whole store afresh, then deletes it
            "store.write_amp": sum(r["exec"]["output_bytes"] for r in b.ops)
            / max(1, len(b.ops) * sum(v[0] for v in stores.values())),
            "store.bytes_per_row": stores["bands"][0] / max(1, stores["bands"][1])
            if "bands" in stores else 0.0,
        })
    return b.finish(items, batch_times, problems)


def _dedup_counters(b: Bench, prog: dict) -> tuple[float, float, float]:
    """(band-index rows scanned, candidate pairs, verified pairs) of one
    dedup micro-batch, read from the SQL plan metrics of the executions
    that ran inside it."""
    t0 = probes.progress_start(prog)
    t1 = t0 + prog["durationMs"]["triggerExecution"] / 1000.0
    rows = cand = ver = 0.0
    for e in b._executions(t0, t1):
        c, v = [], []
        for name, desc, m in b.status.plan_metrics(e["executionId"]):
            n = probes.metric_number(m.get("number of output rows"))
            if name.startswith("Scan") and "band_val" in desc:
                rows += n
            elif _CANDIDATES.match(desc):
                c.append(n)
            elif "array_intersect" in desc and ">= 0.5" in desc:
                v.append(n)
        # the verdict plan evaluates the candidate/verify subplan more
        # than once, and partial aggregates precede final ones: the
        # smallest reading is the distinct pair count
        cand += min(c, default=0.0)
        ver += min(v, default=0.0)
    return rows, cand, ver


# distinct (d1, d2) candidate pairs: the dropDuplicates aggregate
_CANDIDATES = re.compile(r"HashAggregate\(keys=\[d1#\d+L?, d2#\d+L?\], functions=\[\]\)")


RUNNERS = {
    "cdc_upsert": cdc_upsert,
    "warehouse_queries": warehouse_queries,
    "curation_stream": curation_stream,
}
