"""Correctness checks, run outside the timed loop.

Each checker computes the expected result independently of the engine
(a Python last-write-wins replay, an exact-Jaccard DuckDB replay, the
registry's DuckDB oracle SQL) and returns a list of mismatch strings;
an empty list means the engine's output is correct.
"""

from __future__ import annotations

import calendar
import hashlib
import json
import math
import os
import time
from collections import Counter

from gen import KNOWN_OPS, place_id

# ------------------------------------------------------------------ CDC

FACT_COLUMNS = (
    "id", "place_id", "last_updated_epoch", "last_updated", "temp_c", "temp_f",
    "is_day", "condition", "wind_mph", "wind_kph", "wind_degree", "wind_dir",
    "pressure_mb", "pressure_in", "precip_mm", "precip_in", "humidity", "cloud",
    "feelslike_c", "feelslike_f", "vis_km", "vis_miles", "uv", "gust_mph", "gust_kph",
)


def flat_row(doc: dict) -> dict:
    """The warehouse row a raw document flattens to (``last_updated``
    as UTC epoch microseconds)."""
    cur = doc["current"]
    row = {"id": doc["_id"], "place_id": doc["place_id"]}
    for k, v in cur.items():
        row[k] = v
    row["condition"] = cur["condition"]["text"]
    row["is_day"] = bool(cur["is_day"])
    row["last_updated"] = calendar.timegm(
        time.strptime(cur["last_updated"] + ":00", "%Y-%m-%d %H:%M:%S")) * 1_000_000
    return row


class CdcReplay:
    """Expected store state, replayed batch by batch in Python.

    Per batch: inserts are deduplicated by key, keys already stored are
    ignored and FK orphans dead-lettered, the rest appended; then
    FK-valid updates collapse to the newest ``ts`` per key and replace
    (or insert) the stored row, while every FK-orphan update is
    dead-lettered; deletes are ignored; unknown ops are dead-lettered."""

    def __init__(self, n_places: int, seed_docs: list[dict]) -> None:
        self.dim = {place_id(p) for p in range(n_places)}
        self.fact = {d["_id"]: flat_row(d) for d in seed_docs}
        self.fk_dlq: Counter = Counter()
        self.unknown: Counter = Counter()

    def apply(self, events: list[dict], batch_id: int) -> None:
        ins: dict[str, dict] = {}
        upd: dict[str, tuple[str, dict]] = {}
        for e in events:
            op = e["operation_type"]
            if op not in KNOWN_OPS:
                self.unknown[(op, batch_id)] += 1
            elif op in ("insert", "replace"):
                ins.setdefault(e["full_document"]["_id"], e["full_document"])
        for key, doc in ins.items():
            if key in self.fact:
                continue
            if doc["place_id"] not in self.dim:
                self.fk_dlq[(key, batch_id, "insert")] += 1
            else:
                self.fact[key] = flat_row(doc)
        for e in events:
            if e["operation_type"] != "update":
                continue
            doc = e["full_document"]
            if doc["place_id"] not in self.dim:
                self.fk_dlq[(doc["_id"], batch_id, "update")] += 1
            elif doc["_id"] not in upd or e["ts"] > upd[doc["_id"]][0]:
                upd[doc["_id"]] = (e["ts"], doc)
        for key, (_ts, doc) in upd.items():
            self.fact[key] = flat_row(doc)


def read_fact_store(path: str) -> list[dict]:
    """Every row of the engine's hive-partitioned parquet fact store,
    read with pyarrow (timestamps as epoch microseconds)."""
    import pyarrow as pa
    import pyarrow.dataset as ds

    table = ds.dataset(path, format="parquet", partitioning="hive").to_table()
    cols = []
    for name in FACT_COLUMNS:
        col = table.column(name)
        if pa.types.is_timestamp(col.type):
            col = col.cast(pa.timestamp("us", tz=col.type.tz)).cast(pa.int64())
        cols.append(col.to_pylist())
    return [dict(zip(FACT_COLUMNS, vals)) for vals in zip(*cols)]


def _json_lines(path: str):
    for root, _dirs, files in os.walk(path):
        for f in sorted(files):
            if f.endswith(".json"):
                with open(os.path.join(root, f), encoding="utf-8") as fh:
                    for line in fh:
                        if line.strip():
                            yield json.loads(line)


def read_dlq(dlq_dir: str) -> tuple[Counter, Counter]:
    fk = Counter((r["_id"], r["batch_id"], "update" if "ts" in r else "insert")
                 for r in _json_lines(os.path.join(dlq_dir, "fk_violations")))
    unknown = Counter((r.get("operation_type"), r["batch_id"])
                      for r in _json_lines(os.path.join(dlq_dir, "unknown_ops")))
    return fk, unknown


def check_cdc(expected: CdcReplay, fact_rows: list[dict], fk: Counter,
              unknown: Counter) -> list[str]:
    exp_fact, exp_fk, exp_unknown = expected.fact, expected.fk_dlq, expected.unknown
    problems = []
    got: dict[str, dict] = {}
    for r in fact_rows:
        if r["id"] in got:
            problems.append(f"duplicate key {r['id']} in fact store")
        got[r["id"]] = r
    if len(got) != len(exp_fact):
        problems.append(f"fact rows: got {len(got)}, expected {len(exp_fact)}")
    for key in sorted(set(exp_fact) ^ set(got))[:5]:
        problems.append(f"key {key} {'missing' if key in exp_fact else 'unexpected'}")
    wrong = [k for k in exp_fact.keys() & got.keys()
             if any(exp_fact[k][c] != got[k][c] for c in FACT_COLUMNS)]
    if wrong:
        k = sorted(wrong)[0]
        diff = {c: (got[k][c], exp_fact[k][c]) for c in FACT_COLUMNS if got[k][c] != exp_fact[k][c]}
        problems.append(f"{len(wrong)} rows differ, e.g. {k}: {diff}")
    if fk != exp_fk:
        problems.append(f"FK dead letters differ: extra {list((fk - exp_fk).items())[:3]}, "
                        f"missing {list((exp_fk - fk).items())[:3]}")
    if unknown != exp_unknown:
        problems.append(f"unknown-op dead letters differ: extra {list((unknown - exp_unknown).items())[:3]}, "
                        f"missing {list((exp_unknown - unknown).items())[:3]}")
    return problems


# -------------------------------------------------------------- curation

_SHINGLE_PAIRS_SQL = """
WITH toks AS (SELECT doc_id, phase, string_split(text, ' ') AS t FROM docs),
sh AS (
  SELECT DISTINCT doc_id, phase, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
  FROM toks, LATERAL (SELECT unnest(generate_series(1, greatest(len(t) - 2, 0))) AS i) g
),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
shared AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS shared
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND b.phase < a.phase
  WHERE a.phase >= 0
  GROUP BY 1, 2
)
SELECT d1, d2, round(shared / (s1.n_sh + s2.n_sh - shared), 6) AS jaccard
FROM shared JOIN sizes s1 ON d1 = s1.doc_id JOIN sizes s2 ON d2 = s2.doc_id
WHERE round(shared / (s1.n_sh + s2.n_sh - shared), 6) >= ?
"""


def curation_replay(corpus: list[dict], batches: list[list[dict]], threshold: float = 0.5,
                    n: int = 3) -> dict[int, tuple]:
    """Expected verdict per screened document: batch k is screened
    against the corpus plus the novel documents of batches < k, by
    exact 3-shingle Jaccard in DuckDB; ``dup_of`` is the smallest
    matching index id. Documents under ``n`` tokens are never screened
    and never indexed (the ``stream_incremental_dedup`` oracle's
    semantics)."""
    import duckdb
    import pyarrow as pa

    docs = pa.table({
        "doc_id": [d["doc_id"] for d in corpus] + [d["doc_id"] for b in batches for d in b],
        "phase": [-1] * len(corpus) + [k for k, b in enumerate(batches) for _ in b],
        "text": [d["text"] for d in corpus] + [d["text"] for b in batches for d in b],
    })
    con = duckdb.connect()
    try:
        con.register("docs", docs)
        matches: dict[int, list[tuple[int, float]]] = {}
        for d1, d2, j in con.execute(_SHINGLE_PAIRS_SQL, [threshold]).fetchall():
            matches.setdefault(d1, []).append((d2, j))
    finally:
        con.close()
    index = {d["doc_id"] for d in corpus if len(d["text"].split(" ")) >= n}
    verdict: dict[int, tuple] = {}
    for batch in batches:
        novel = []
        for d in batch:
            if len(d["text"].split(" ")) < n:
                continue
            hits = [(d2, j) for d2, j in matches.get(d["doc_id"], []) if d2 in index]
            if hits:
                d2, j = min(hits)
                verdict[d["doc_id"]] = (False, d2, j)
            else:
                verdict[d["doc_id"]] = (True, None, None)
                novel.append(d["doc_id"])
        index.update(novel)
    return verdict


def check_curation(expected: dict[int, tuple], rows: list[tuple]) -> list[str]:
    """``rows``: the engine's (doc_id, is_novel, dup_of, jaccard)."""
    problems = []
    got = {}
    for doc, novel, dup, j in rows:
        if doc in got:
            problems.append(f"doc {doc} has two verdicts")
        got[doc] = (bool(novel), dup, j)
    if set(got) != set(expected):
        problems.append(f"screened docs differ: {len(got)} vs {len(expected)} expected")
    bad = [d for d in expected.keys() & got.keys()
           if got[d][:2] != expected[d][:2]
           or (expected[d][2] is not None and (got[d][2] is None
                                               or abs(got[d][2] - expected[d][2]) > 1e-9))]
    if bad:
        d = min(bad)
        problems.append(f"{len(bad)} verdicts differ, e.g. doc {d}: got {got[d]}, expected {expected[d]}")
    return problems


# ------------------------------------------------------------- warehouse


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.10g}"
    return v


def result_digest(columns: list[str], rows) -> tuple[int, str]:
    """(row count, order-insensitive hash) of a result, columns sorted
    by name and floats compared to 10 significant digits."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    keys = sorted(repr(tuple(_norm(r[i]) for i in order)) for r in rows)
    h = hashlib.sha256()
    h.update(repr(sorted(columns)).encode())
    for k in keys:
        h.update(k.encode())
        h.update(b"\n")
    return len(keys), h.hexdigest()


def oracle_digests(data_dir: str, tables, oracles: dict[str, str]) -> dict[str, tuple[int, str]]:
    """Run each oracle SQL in DuckDB over the generated tables."""
    import duckdb

    con = duckdb.connect()
    try:
        for t in tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(data_dir, t)}.parquet')")
        out = {}
        for name, sql in oracles.items():
            res = con.execute(sql)
            cols = [c[0] for c in res.description]
            out[name] = result_digest(cols, res.fetchall())
        return out
    finally:
        con.close()
