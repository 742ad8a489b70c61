"""Seeded input generators for the three benchmark workloads.

Pure Python (plus numpy/pyarrow for the columnar warehouse tables),
single process. The same seed always yields byte-identical files; the
engine under test only ever receives the files written here.

- ``cdc_upsert``: a 63-place dimension, a 53,613-document seed store
  (63 places x 851 hourly observations, the reference's production
  row count) and hourly CDC batches, one simulated day per batch.
- ``curation_stream``: a document corpus plus micro-batches with
  planted near-duplicates of the corpus and of earlier batches' novel
  documents, exact duplicates, too-short documents and novel documents.
- ``warehouse_queries``: the lake tables the registry queries read, at
  the row counts of the repository's sf0.1 test data.
"""

from __future__ import annotations

import itertools
import json
import os
import random
import time

N_PLACES = 63
SEED_HOURS = 851  # 63 x 851 = 53,613 seed documents
BASE_EPOCH = 1_698_796_800  # 2023-11-01 00:00:00 UTC
KNOWN_OPS = ("insert", "update", "delete", "replace")
POISON_OPS = ("drop", "invalidate", "rename", "dropDatabase")
CONDITIONS = ("Sunny", "Partly cloudy", "Overcast", "Light rain", "Mist",
              "Patchy rain possible", "Moderate rain", "Clear")
WIND_DIRS = ("N", "NE", "E", "SE", "S", "SW", "W", "NW")

# per-batch CDC mix, as counts on top of the 24 x 63 hourly inserts
CDC_MIX = {
    "corrections": 120,    # FK-valid updates, biased toward recent keys
    "repeat_corrections": 20,  # second update of a corrected key, ts just before or after
    "upsert_missing": 10,  # updates to keys not yet inserted
    "redelivered": 45,     # byte-identical copies of recent inserts
    "orphan_inserts": 15,  # inserts whose place_id is not in the dim
    "orphan_updates": 8,   # updates whose place_id is not in the dim
    "deletes": 15,         # ignored by design
    "poison": 5,           # unknown operation types
}


# ------------------------------------------------------------------ CDC


def places(seed: int) -> list[dict]:
    """The 63-row places dimension (PLACES_DIM shape)."""
    rng = random.Random(f"places:{seed}")
    out = []
    for p in range(N_PLACES):
        lat = 8.5 + rng.random() * 15.0
        lon = 102.2 + rng.random() * 7.2
        out.append({
            "place_id": place_id(p),
            "adm_area1": f"Province {p}",
            "adm_area2": None,
            "country": "Socialist Republic of Vietnam",
            "lat": f"{lat:.4f}N",
            "lon": f"{lon:.4f}E",
            "name": f"Place {p}",
            "timezone": "Asia/Ho_Chi_Minh",
            "type": "administrative_area_level_1",
        })
    return out


def place_id(p: int) -> str:
    """Dimension key of place ``p``; indices >= N_PLACES are orphans."""
    return f"place-{p:03d}" if p < N_PLACES else f"ghost-{p:03d}"


def doc_id(place: int, hour: int) -> str:
    """ObjectId-shaped key: observation epoch (8 hex) + place (16 hex)."""
    return f"{BASE_EPOCH + 3600 * hour:08x}{place:016x}"


def _iso(epoch_s: int) -> str:
    return time.strftime("%Y-%m-%dT%H:%M:%S.000Z", time.gmtime(epoch_s))


def weather_doc(rng: random.Random, place: int, hour: int) -> dict:
    """One raw nested weather document (WEATHER_RAW shape)."""
    epoch = BASE_EPOCH + 3600 * hour
    temp_c = round(18.0 + rng.random() * 18.0, 1)
    wind_kph = round(rng.random() * 40.0, 1)
    precip = round(rng.random() * 4.0, 2) if rng.random() < 0.3 else 0.0
    return {
        "_id": doc_id(place, hour),
        "place_id": place_id(place),
        "location": {
            "name": f"Place {place}", "region": "", "country": "Vietnam",
            "lat": 10.0, "lon": 106.0, "tz_id": "Asia/Ho_Chi_Minh",
            "localtime": time.strftime("%Y-%m-%d %H:%M", time.gmtime(epoch + 7 * 3600)),
        },
        "current": {
            "last_updated_epoch": epoch,
            "last_updated": time.strftime("%Y-%m-%d %H:%M", time.gmtime(epoch)),
            "temp_c": temp_c,
            "temp_f": round(temp_c * 1.8 + 32.0, 1),
            "is_day": 1 if 6 <= (hour + 7) % 24 < 18 else 0,
            "condition": {"text": rng.choice(CONDITIONS), "icon": "//cdn/x.png",
                          "code": 1000 + rng.randrange(200)},
            "wind_mph": round(wind_kph / 1.609, 1),
            "wind_kph": wind_kph,
            "wind_degree": rng.randrange(360),
            "wind_dir": rng.choice(WIND_DIRS),
            "pressure_mb": float(1000 + rng.randrange(25)),
            "pressure_in": round(29.5 + rng.random(), 2),
            "precip_mm": precip,
            "precip_in": round(precip / 25.4, 2),
            "humidity": 40 + rng.randrange(60),
            "cloud": rng.randrange(101),
            "feelslike_c": round(temp_c + rng.random() * 4.0, 1),
            "feelslike_f": round((temp_c + 2.0) * 1.8 + 32.0, 1),
            "vis_km": float(rng.choice((2, 5, 8, 10))),
            "vis_miles": float(rng.choice((1, 3, 5, 6))),
            "uv": float(rng.randrange(12)),
            "gust_mph": round(rng.random() * 30.0, 1),
            "gust_kph": round(rng.random() * 48.0, 1),
        },
    }


def _corrected(rng: random.Random, doc: dict) -> dict:
    """A post-image of ``doc`` with re-measured values (same key)."""
    new = json.loads(json.dumps(doc))
    cur = new["current"]
    cur["temp_c"] = round(cur["temp_c"] + rng.uniform(-3.0, 3.0), 1)
    cur["humidity"] = 40 + rng.randrange(60)
    cur["condition"]["text"] = rng.choice(CONDITIONS)
    cur["precip_mm"] = round(rng.random() * 4.0, 2)
    return new


def _event(op, doc=None, key=None, ts=0) -> dict:
    return {"operation_type": op, "ns_db": "weather_lake", "ns_coll": "weather",
            "full_document": doc, "document_key": key, "ts": _iso(ts)}


def seed_docs(seed: int) -> list[dict]:
    """The store's pre-seeded rows: every place's first 851 hours."""
    rng = random.Random(f"seed-docs:{seed}")
    return [weather_doc(rng, p, h) for h in range(SEED_HOURS) for p in range(N_PLACES)]


def cdc_batches(seed: int):
    """Endless CDC batches; batch b carries day b's 24 x 63 hourly
    inserts after the seeded hours, plus the CDC_MIX extras, shuffled
    so late corrections arrive out of timestamp order."""
    rng = random.Random(f"cdc:{seed}")
    prev_inserts: list[dict] = []
    orphan_seq = 0
    for b in itertools.count():
        h0 = SEED_HOURS + 24 * b
        ev: list[dict] = []
        inserts = []
        for h in range(h0, h0 + 24):
            for p in range(N_PLACES):
                doc = weather_doc(rng, p, h)
                inserts.append(_event("insert", doc=doc, ts=BASE_EPOCH + 3600 * h + 60))
        ev += inserts
        # corrections land hours after the observation; biased toward recent
        # keys (mean four days back), at most one base + one repeat per key
        corrected: dict[str, int] = {}
        while len(corrected) < CDC_MIX["corrections"]:
            h = max(0, h0 + 23 - int(rng.expovariate(1 / 96)))
            p = rng.randrange(N_PLACES)
            key = doc_id(p, h)
            if key in corrected:
                continue
            ts = BASE_EPOCH + 3600 * (h0 + 24) + 10 * len(corrected)
            corrected[key] = ts
            doc = _corrected(rng, weather_doc(rng, p, h))
            ev.append(_event("update", doc=doc, key=key, ts=ts))
        for key in rng.sample(sorted(corrected), CDC_MIX["repeat_corrections"]):
            p, h = int(key[8:], 16), (int(key[:8], 16) - BASE_EPOCH) // 3600
            doc = _corrected(rng, weather_doc(rng, p, h))
            # half carry an earlier timestamp than the first correction:
            # arriving late, they must lose the last-write-wins collapse
            late = rng.random() < 0.5
            ts = corrected[key] + (-5 if late else 5)
            ev.append(_event("update", doc=doc, key=key, ts=ts))
        for _ in range(CDC_MIX["upsert_missing"]):
            h, p = h0 + 24 + rng.randrange(24), rng.randrange(N_PLACES)
            key = doc_id(p, h)
            if key in corrected:
                continue
            corrected[key] = 0
            doc = weather_doc(rng, p, h)
            ev.append(_event("update", doc=doc, key=key, ts=BASE_EPOCH + 3600 * h + 7))
        pool = prev_inserts + inserts
        for e in rng.sample(pool, CDC_MIX["redelivered"]):
            ev.append(json.loads(json.dumps(e)))
        for _ in range(CDC_MIX["orphan_inserts"]):
            orphan_seq += 1
            doc = weather_doc(rng, N_PLACES + orphan_seq % 7, 100_000 + orphan_seq)
            ev.append(_event("insert", doc=doc, ts=BASE_EPOCH + 3600 * h0 + orphan_seq))
        for _ in range(CDC_MIX["orphan_updates"]):
            h, p = rng.randrange(h0), rng.randrange(N_PLACES)
            doc = weather_doc(rng, p, h)
            doc["place_id"] = place_id(N_PLACES + rng.randrange(7))
            ev.append(_event("update", doc=doc, key=doc["_id"],
                             ts=BASE_EPOCH + 3600 * (h0 + 24) + rng.randrange(600)))
        for _ in range(CDC_MIX["deletes"]):
            key = doc_id(rng.randrange(N_PLACES), rng.randrange(h0))
            ev.append(_event("delete", key=key, ts=BASE_EPOCH + 3600 * (h0 + 24)))
        for i in range(CDC_MIX["poison"]):
            ev.append(_event(rng.choice(POISON_OPS), ts=BASE_EPOCH + 3600 * h0 + i))
        rng.shuffle(ev)
        yield ev
        prev_inserts = inserts


def write_jsonl(path: str, rows: list[dict]) -> None:
    """Write one JSON document per line."""
    with open(path, "w", encoding="utf-8") as fh:
        fh.write("".join(json.dumps(r, separators=(",", ":")) + "\n" for r in rows))


def write_parquet(path: str, rows: list[dict], spark_schema) -> None:
    """Write rows as one parquet file typed by a Spark StructType."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.Table.from_pylist(rows, _arrow_schema(spark_schema)), path)


def _arrow_schema(st):
    import pyarrow as pa

    def conv(t):
        name = t.typeName()
        if name == "struct":
            return pa.struct([pa.field(f.name, conv(f.dataType), f.nullable) for f in t.fields])
        return {"string": pa.string(), "long": pa.int64(), "integer": pa.int32(),
                "double": pa.float64()}[name]

    return pa.schema([pa.field(f.name, conv(f.dataType), f.nullable) for f in st.fields])


# -------------------------------------------------------------- curation

CURATION_VOCAB = tuple(
    a + b for a in ("ka", "lo", "mi", "nu", "pe", "ri", "sa", "tu", "vo", "ze",
                    "bra", "cho", "dri", "fle", "gru", "shi")
    for b in ("n", "t", "ll", "rk", "sh", "x", "m", "de", "ro", "ve", "z", "p")
)  # 192 words: random 3-shingles are effectively unique


def _text(rng: random.Random, lo: int, hi: int) -> list[str]:
    return [rng.choice(CURATION_VOCAB) for _ in range(rng.randint(lo, hi))]


def _near(rng: random.Random, toks: list[str]) -> list[str]:
    """One interior token substituted: with >= 40 tokens the 3-shingle
    Jaccard stays >= 35/41, far above the 0.5 threshold, so banded
    MinHash (r=2, b=16) misses such a pair with probability < 1e-8."""
    out = list(toks)
    i = rng.randrange(3, len(out) - 3)
    out[i] = rng.choice([w for w in CURATION_VOCAB if w != out[i]])
    return out


def curation_inputs(seed: int, n_corpus: int, n_batches: int, batch_size: int,
                    part: int = 0) -> tuple[list[dict], list[list[dict]]]:
    """(corpus, batches) of ``{"doc_id", "text"}`` rows. Per batch:
    15% near-dups and 10% exact dups of corpus documents, 10% near-dups
    of earlier batches' novel documents, 3% two-token documents (never
    screened), the rest novel. ``part`` selects an independent input
    set for the same seed."""
    rng = random.Random(f"curation:{seed}:{part}")
    corpus = [{"doc_id": i, "text": " ".join(_text(rng, 40, 90))} for i in range(n_corpus)]
    next_id = n_corpus
    novel_pool: list[list[str]] = []
    batches = []
    for b in range(n_batches):
        rows, new_novel = [], []
        for _ in range(batch_size):
            u = rng.random()
            if u < 0.15:
                toks = _near(rng, corpus[rng.randrange(n_corpus)]["text"].split(" "))
            elif u < 0.25:
                toks = corpus[rng.randrange(n_corpus)]["text"].split(" ")
            elif u < 0.35 and novel_pool:
                toks = _near(rng, rng.choice(novel_pool))
            elif u < 0.38:
                toks = _text(rng, 2, 2)
            else:
                toks = _text(rng, 40, 90)
                new_novel.append(toks)
            rows.append({"doc_id": next_id, "text": " ".join(toks)})
            next_id += 1
        novel_pool += new_novel
        batches.append(rows)
    return corpus, batches


# ------------------------------------------------------------- warehouse

WAREHOUSE_ROWS = {"customer": 15_000, "orders": 150_000, "lineitem": 600_000,
                  "events": 100_000, "documents": 5_000, "embeddings": 2_000}
DOC_VOCAB = ("batch", "part", "spark", "line", "column", "order", "small", "sort",
             "fast", "value", "scan", "a", "hash", "slow", "group", "agg", "filter",
             "query", "big", "key", "window", "row", "table", "stream", "merge",
             "data", "vector", "customer", "join", "index", "file")


def warehouse_tables(seed: int, out_dir: str, scale: float = 1.0) -> None:
    """Write the lake tables the warehouse query pool reads, one
    parquet file each (schemas of the repository's TPC-H-ish test
    data), with the sf0.1 row counts times ``scale``."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n = {t: max(20, int(rows * scale)) for t, rows in WAREHOUSE_ROWS.items()}

    def write(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    def day_ts(start: str, days, size) -> pa.Array:
        base = np.datetime64(start, "us")
        off = rng.integers(0, days, size).astype("timedelta64[D]")
        return pa.array(base + off.astype("timedelta64[us]"), pa.timestamp("us"))

    def money(lo, hi, size) -> np.ndarray:
        return np.round(rng.uniform(lo, hi, size), 2)

    write("region", {"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    write("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    nc = n["customer"]
    segs = np.array(["MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING"])
    write("customer", {
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, nc),
        "c_mktsegment": segs[rng.integers(0, 5, nc)]})
    no = n["orders"]
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    write("orders", {
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
        "o_totalprice": money(1000.0, 500000.0, no),
        "o_orderdate": day_ts("1995-01-01", 2404, no),
        "o_orderpriority": prio[rng.integers(0, 5, no)]})
    nl = n["lineitem"]
    qty = rng.integers(1, 51, nl).astype("float64")
    write("lineitem", {
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, 20000, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, 1000, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": money(900.0, 105000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
        "l_shipdate": day_ts("1995-01-02", 2498, nl)})
    ne = n["events"]
    ev_ts = np.sort(rng.integers(0, 30 * 86400 * 10**6, ne)) + np.datetime64("2024-01-01", "us").astype(np.int64)
    write("events", {
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": pa.array(ev_ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, ne), pa.int64()),
        "event_type": np.array(["signup", "click", "error", "view", "purchase"])[rng.integers(0, 5, ne)],
        "value": np.round(rng.exponential(60.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})
    nd = n["documents"]
    texts: list[str] = []
    for i in range(nd):
        u = rng.random()
        if u < 0.06 and texts:
            # planted near-duplicate of a long earlier document (one
            # substitution keeps 3-shingle Jaccard >= 0.85) or exact copy
            src = texts[int(rng.integers(0, len(texts)))].split(" ")
            if len(src) >= 40 and u < 0.04:
                j = int(rng.integers(3, len(src) - 3))
                src[j] = DOC_VOCAB[(DOC_VOCAB.index(src[j]) + 1) % len(DOC_VOCAB)]
            texts.append(" ".join(src))
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(DOC_VOCAB[t] for t in rng.integers(0, len(DOC_VOCAB), k)))
    write("documents", {
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": texts,
        "lang": np.array(["en", "de", "fr", "es", "zh"])[rng.integers(0, 5, nd)],
        "source": [f"src{s}" for s in rng.integers(0, 20, nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    nv = n["embeddings"]
    labels = rng.integers(0, 10, nv)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = centers[labels] + rng.normal(0.0, 0.8, (nv, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    write("embeddings", {
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
