"""Tests of the benchmark itself (no Spark session is started).

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import copy
import hashlib
import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402


def _digest(obj) -> str:
    return hashlib.sha256(json.dumps(obj, sort_keys=True).encode()).hexdigest()


def _batches(seed: int, n: int) -> list[list[dict]]:
    it = gen.cdc_batches(seed)
    return [next(it) for _ in range(n)]


# ------------------------------------------------------------ generators


@pytest.mark.parametrize("seed", [0, 1, 7])
def test_cdc_generator_is_deterministic(seed, tmp_path):
    a, b = _batches(seed, 2), _batches(seed, 2)
    assert _digest(a) == _digest(b)
    assert _digest(gen.places(seed)) == _digest(gen.places(seed))
    p1, p2 = tmp_path / "a.json", tmp_path / "b.json"
    gen.write_jsonl(str(p1), a[1])
    gen.write_jsonl(str(p2), b[1])
    assert p1.read_bytes() == p2.read_bytes()


def test_cdc_generator_differs_across_seeds_and_has_the_mix():
    a, b = _batches(1, 1)[0], _batches(2, 1)[0]
    assert _digest(a) != _digest(b)
    ops = [e["operation_type"] for e in a]
    assert ops.count("insert") == 24 * gen.N_PLACES + gen.CDC_MIX["redelivered"] \
        + gen.CDC_MIX["orphan_inserts"]
    assert ops.count("delete") == gen.CDC_MIX["deletes"]
    assert sum(op not in gen.KNOWN_OPS for op in ops) == gen.CDC_MIX["poison"]
    assert len(gen.seed_docs(1)) == 53_613


@pytest.mark.parametrize("seed", [0, 3])
def test_curation_generator_is_deterministic(seed):
    a = gen.curation_inputs(seed, 200, 3, 50, part=1)
    assert _digest(a) == _digest(gen.curation_inputs(seed, 200, 3, 50, part=1))
    assert _digest(a) != _digest(gen.curation_inputs(seed + 1, 200, 3, 50, part=1))
    assert _digest(a) != _digest(gen.curation_inputs(seed, 200, 3, 50, part=2))


def test_warehouse_generator_is_byte_identical(tmp_path):
    gen.warehouse_tables(5, str(tmp_path / "a"))
    gen.warehouse_tables(5, str(tmp_path / "b"))
    gen.warehouse_tables(6, str(tmp_path / "c"))
    for t in ("lineitem", "documents", "embeddings"):
        a = (tmp_path / "a" / f"{t}.parquet").read_bytes()
        assert a == (tmp_path / "b" / f"{t}.parquet").read_bytes()
        assert a != (tmp_path / "c" / f"{t}.parquet").read_bytes()


# -------------------------------------------------------------- checkers


@pytest.fixture(scope="module")
def cdc_state():
    docs = gen.seed_docs(4)
    batches = _batches(4, 2)
    replay = check.CdcReplay(gen.N_PLACES, docs)
    for i, evs in enumerate(batches):
        replay.apply(evs, i)
    return replay, batches


def test_cdc_checker_accepts_the_replayed_state(cdc_state):
    replay, _ = cdc_state
    rows = [dict(r) for r in replay.fact.values()]
    assert check.check_cdc(replay, rows, replay.fk_dlq.copy(), replay.unknown.copy()) == []
    assert replay.fk_dlq and replay.unknown


def test_cdc_checker_rejects_a_dropped_row(cdc_state):
    replay, _ = cdc_state
    rows = [dict(r) for r in replay.fact.values()][1:]
    assert check.check_cdc(replay, rows, replay.fk_dlq.copy(), replay.unknown.copy())


def test_cdc_checker_rejects_a_flipped_lww_winner(cdc_state):
    replay, batches = cdc_state
    # a key corrected twice in one batch: store the losing post-image
    updates: dict[str, list[dict]] = {}
    for e in batches[1]:
        if e["operation_type"] == "update" and e["full_document"]["place_id"].startswith("place-"):
            updates.setdefault(e["full_document"]["_id"], []).append(e)
    key, evs = next((k, v) for k, v in sorted(updates.items()) if len(v) == 2)
    loser = min(evs, key=lambda e: e["ts"])["full_document"]
    assert check.flat_row(loser) != replay.fact[key]
    rows = [dict(r) for r in replay.fact.values()]
    rows = [check.flat_row(loser) if r["id"] == key else r for r in rows]
    assert check.check_cdc(replay, rows, replay.fk_dlq.copy(), replay.unknown.copy())


def test_cdc_checker_rejects_a_lost_dead_letter(cdc_state):
    replay, _ = cdc_state
    fk = replay.fk_dlq.copy()
    fk[next(iter(fk))] -= 1
    rows = [dict(r) for r in replay.fact.values()]
    assert check.check_cdc(replay, rows, +fk, replay.unknown.copy())


@pytest.fixture(scope="module")
def curation_state():
    corpus, batches = gen.curation_inputs(2, 300, 3, 60)
    return check.curation_replay(corpus, batches), corpus, batches


def test_curation_replay_sees_planted_duplicates(curation_state):
    verdict, corpus, batches = curation_state
    dups = [v for v in verdict.values() if not v[0]]
    assert dups and any(v[2] == 1.0 for v in dups) and any(v[2] < 1.0 for v in dups)
    # accretion: some doc of a later batch duplicates an earlier batch's novel doc
    first_batch = {d["doc_id"] for d in batches[0]}
    assert any(v[1] in first_batch for v in dups)
    # two-token documents are never screened
    short = [d["doc_id"] for b in batches for d in b if len(d["text"].split(" ")) < 3]
    assert short and not set(short) & set(verdict)


def _rows(verdict):
    return [(d, *v) for d, v in sorted(verdict.items())]


def test_curation_checker_accepts_and_rejects(curation_state):
    verdict = curation_state[0]
    assert check.check_curation(verdict, _rows(verdict)) == []
    assert check.check_curation(verdict, _rows(verdict)[1:])
    flipped = copy.deepcopy(verdict)
    doc = next(d for d, v in sorted(flipped.items()) if not v[0])
    flipped[doc] = (True, None, None)
    assert check.check_curation(verdict, _rows(flipped))
    winner = copy.deepcopy(verdict)
    winner[doc] = (False, verdict[doc][1] + 1, verdict[doc][2])
    assert check.check_curation(verdict, _rows(winner))


def test_result_digest_is_order_insensitive_and_rejects_a_dropped_row():
    cols = ["b", "a"]
    rows = [(1, 2.5), (3, 4.0), (5, None)]
    n, h = check.result_digest(cols, rows)
    assert (n, h) == check.result_digest(["a", "b"], [(4.0, 3), (None, 5), (2.5, 1)])
    assert check.result_digest(cols, rows[1:]) != (n, h)
    assert check.result_digest(cols, [(1, 2.5), (3, 4.0), (5, 0.0)])[1] != h


def test_warehouse_oracles_reject_a_dropped_row(tmp_path):
    gen.warehouse_tables(8, str(tmp_path))
    sql = "SELECT l_returnflag, COUNT(*) AS n FROM lineitem GROUP BY 1"
    got = check.oracle_digests(str(tmp_path), ["lineitem"], {"q": sql})["q"]
    dropped = check.oracle_digests(
        str(tmp_path), ["lineitem"], {"q": sql + " HAVING l_returnflag <> 'A'"})["q"]
    assert got[0] == 3 and dropped[0] == 2 and got[1] != dropped[1]


# ----------------------------------------------------- contract and names


def _benchmark_json() -> dict:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)


def test_printed_metric_names_match_benchmark_json():
    import workloads

    spec = _benchmark_json()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == workloads.END_TO_END_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == workloads.PER_LAYER_UNITS
    assert [w["name"] for w in spec["workloads"]] == list(workloads.RUNNERS)


def test_runner_fails_without_the_package(tmp_path):
    shutil.copy(os.path.join(os.path.dirname(HERE), "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "cdc_upsert",
                        "--seed", "1", "--seconds", "1", "--trace", "0"],
                       cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert p.returncode != 0
    assert p.stdout.strip() == ""
