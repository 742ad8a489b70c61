"""Measurement from outside the package: spans, Spark's status stores
and streaming progress.

Everything here reads what Spark already records (the application
status store, the SQL status store, ``StreamingQueryProgress``) or
times calls the benchmark itself makes; nothing inside the package is
modified except, in traced runs only, module attributes replaced by
timing wrappers (restored when the run ends).
"""

from __future__ import annotations

import functools
import importlib
import json
import statistics
import threading
import time
from contextlib import contextmanager
from datetime import datetime, timezone

from pyspark.sql.streaming import StreamingQueryListener


def median(values, default=0.0) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else default


# ----------------------------------------------------------------- spans


class Tracer:
    """In-memory spans: name, start, end, parent and op id. One
    closed-loop client drives the engine, so while a streaming query
    runs its ``foreachBatch`` thread is the only one making calls; a
    single stack therefore nests spans correctly across that thread
    hand-off."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []
        self.op: int | None = None

    @contextmanager
    def span(self, name: str):
        with self._lock:
            rec = {"id": len(self.spans), "name": name, "start": time.time(),
                   "end": None, "parent": self._stack[-1] if self._stack else None,
                   "op": self.op}
            self.spans.append(rec)
            self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            with self._lock:
                rec["end"] = time.time()
                self._stack.pop()

    def wrap(self, module: str, attr: str, name: str, after=None) -> None:
        """Replace ``module.attr`` with a wrapper that records a span
        named ``name`` around every call; ``after(args, result)``, if
        given, runs once the call returned, outside the span."""
        mod = importlib.import_module(module)
        fn = getattr(mod, attr)

        @functools.wraps(fn)
        def traced(*a, **kw):
            with self.span(name):
                out = fn(*a, **kw)
            if after is not None:
                after(a, out)
            return out

        setattr(mod, attr, traced)
        self._patched.append((mod, attr, fn))

    def unwrap_all(self) -> None:
        while self._patched:
            mod, attr, fn = self._patched.pop()
            setattr(mod, attr, fn)

    def span_cost(self, n: int = 20000) -> float:
        """Measured seconds one span adds (open + close, no work)."""
        saved = (self.spans, self.op)
        self.spans, self.op = [], None
        t = time.perf_counter()
        for _ in range(n):
            with self.span("probe"):
                pass
        cost = (time.perf_counter() - t) / n
        self.spans, self.op = saved
        return cost

    def op_spans(self, op: int, name: str) -> list[dict]:
        return [s for s in self.spans if s["op"] == op and s["name"] == name]

    def attribute(self, op: int, jobs: list[dict], stages: dict) -> None:
        """Charge each Spark job (and its stages) of ``op`` to the
        innermost span open at the job's submission."""
        spans = [s for s in self.spans if s["op"] == op and s["end"] is not None]
        for j in jobs:
            t = j["submissionTime"] / 1000.0
            open_ = [s for s in spans if s["start"] <= t <= s["end"]]
            if not open_:
                continue
            inner = max(open_, key=lambda s: s["start"])
            inner["jobs"] = inner.get("jobs", 0) + 1
            inner["stages"] = inner.get("stages", 0) + sum(
                1 for sid in j["stageIds"] if stages.get(sid, {}).get("status") == "COMPLETE")

    def self_times(self) -> None:
        """Self time = span duration minus the part covered by children."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        for s in self.spans:
            covered = _union([(c["start"], c["end"]) for c in kids.get(s["id"], [])
                              if c["end"] is not None], s["start"], s["end"] or s["start"])
            s["self_s"] = (s["end"] or s["start"]) - s["start"] - covered


def _union(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# ----------------------------------------------------------- status store


class StatusProbe:
    """Reads Spark's application and SQL status stores (populated with
    the web UI disabled) as JSON, one py4j call per collection."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        jvm = sc._jvm
        scala_mod = getattr(jvm.com.fasterxml.jackson.module.scala,
                            "DefaultScalaModule$").__getattr__("MODULE$")
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper().registerModule(scala_mod)
        self._app = sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._jvm = jvm
        q = sc._gateway.new_array(jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        self._quantiles = q

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def jobs(self) -> list[dict]:
        return [j for j in self._json(self._app.jobsList(None)) if j.get("submissionTime")]

    def stages(self) -> dict[int, dict]:
        """Last attempt of every stage, with task-time quantiles."""
        out: dict[int, dict] = {}
        for s in self._json(self._app.stageList(
                None, False, True, self._quantiles, self._jvm.java.util.ArrayList())):
            prev = out.get(s["stageId"])
            if prev is None or s["attemptId"] > prev["attemptId"]:
                out[s["stageId"]] = s
        return out

    def executions(self) -> list[dict]:
        return self._json(self._sql.executionsList())

    def plan_metrics(self, execution_id: int) -> list[tuple[str, str, dict]]:
        """(node name, node description, {metric name: value}) for every
        plan node of one SQL execution, codegen stages flattened."""
        values = self._json(self._sql.executionMetrics(execution_id))
        out = []

        def visit(nodes):
            for n in nodes:
                if "nodes" in n:
                    visit(n["nodes"])
                m = {x["name"]: values.get(str(x["accumulatorId"])) for x in n["metrics"]}
                out.append((n["name"], n["desc"], m))

        visit(self._json(self._sql.planGraph(execution_id).nodes()))
        return out


def metric_number(text: str | None) -> float:
    """Numeric value of a formatted SQL 'sum' metric ("1,234")."""
    if not text:
        return 0.0
    try:
        return float(text.replace(",", ""))
    except ValueError:
        return 0.0


def window_stats(jobs: list[dict], stages: dict[int, dict], t0: float, t1: float) -> dict:
    """Execution counters of the jobs submitted in [t0, t1] (seconds)."""
    js = [j for j in jobs if t0 <= j["submissionTime"] / 1000.0 <= t1]
    sids = {sid for j in js for sid in j["stageIds"]}
    done = [stages[s] for s in sids if stages.get(s, {}).get("status") == "COMPLETE"]
    skew = 1.0
    for s in done:
        dist = s.get("taskMetricsDistributions") or {}
        med, mx = (dist.get("executorRunTime") or [0.0, 0.0])[:2]
        if s["numTasks"] >= 2 and med >= 1.0:
            skew = max(skew, mx / med)
    busy = _union([(j["submissionTime"] / 1000.0, (j.get("completionTime") or j["submissionTime"]) / 1000.0)
                   for j in js], t0, t1)
    return {
        "jobs": len(js),
        "stages": len(done),
        "tasks": sum(s["numCompleteTasks"] for s in done),
        "task_s": sum(s["executorRunTime"] for s in done) / 1000.0,
        "shuffle_bytes": sum(s["shuffleWriteBytes"] for s in done),
        "spill_bytes": sum(s["diskBytesSpilled"] + s["memoryBytesSpilled"] for s in done),
        "gc_s": sum(s["jvmGcTime"] for s in done) / 1000.0,
        "input_bytes": sum(s["inputBytes"] for s in done),
        "output_bytes": sum(s["outputBytes"] for s in done),
        "skew": skew,
        "driver_s": max(0.0, (t1 - t0) - busy),
    }


# ------------------------------------------------------ streaming progress


class ProgressLog(StreamingQueryListener):
    """Collects every streaming progress event of the session."""

    def __init__(self) -> None:
        self.progress: list[dict] = []
        self.started = 0
        self.terminated = 0
        self._cv = threading.Condition()

    def onQueryStarted(self, event) -> None:
        with self._cv:
            self.started += 1

    def onQueryProgress(self, event) -> None:
        with self._cv:
            self.progress.append(json.loads(event.progress.json))

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        with self._cv:
            self.terminated += 1
            self._cv.notify_all()

    def drain(self, timeout: float = 30.0) -> None:
        """Wait until every started query's termination was seen, so all
        of its progress events have been delivered."""
        deadline = time.time() + timeout
        with self._cv:
            while self.terminated < self.started and time.time() < deadline:
                self._cv.wait(0.05)


def progress_start(p: dict) -> float:
    """Trigger start of one progress record, epoch seconds."""
    return datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=timezone.utc).timestamp()
