"""Tests of the benchmark itself (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import curation  # noqa: E402
import gen  # noqa: E402
import harness  # noqa: E402
import report  # noqa: E402
import stats  # noqa: E402
import stream  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _shingles(text: str, k: int = 3) -> set:
    w = re.sub(r"\s+", " ", text.lower()).strip().split(" ")
    return {tuple(w[i:i + k]) for i in range(len(w) - k + 1)}


def _jaccard(a: str, b: str) -> float:
    sa, sb = _shingles(a), _shingles(b)
    return len(sa & sb) / len(sa | sb)


# -- seeded generators --------------------------------------------------------

def test_generators_are_deterministic_per_seed():
    a, ta = gen.curation_corpus(7, 50, 5, 5, 5, 4)
    b, tb = gen.curation_corpus(7, 50, 5, 5, 5, 4)
    c, _ = gen.curation_corpus(8, 50, 5, 5, 5, 4)
    assert a.equals(b) and ta == tb
    assert not a.equals(c)
    s1, s2 = gen.stream_inputs(7, 3, 20, 4, 5, 30), gen.stream_inputs(7, 3, 20, 4, 5, 30)
    assert all(x.equals(y) for x, y in zip(s1[0], s2[0]))
    assert all(np.array_equal(x, y) for x, y in zip(s1[1:4], s2[1:4])) and s1[4] == s2[4]


# -- ground truth behind dup_recall and ann_recall ---------------------------

def test_planted_duplicates_are_what_the_truth_says():
    table, truth = gen.curation_corpus(11, 200, 10, 10, 20, 6)
    text = dict(zip(table.column("doc_id").to_pylist(), table.column("text").to_pylist()))
    norm = lambda s: re.sub(r"\s+", " ", s.lower()).strip()  # noqa: E731
    for src, copy in truth["exact_pairs"]:
        assert src < copy and text[src] != text[copy] and norm(text[src]) == norm(text[copy])
    for src, copy in truth["near_pairs"]:
        assert src < copy and text[src] != text[copy]
        assert _jaccard(text[src], text[copy]) >= 0.7  # the verify threshold in curation.conf
    for src, copy in truth["related_pairs"]:
        # a MinHash candidate (16 bands x 4 rows: ~50% similar) that
        # verification must reject
        assert src < copy and 0.45 <= _jaccard(text[src], text[copy]) < 0.65
    for i in truth["low_quality"]:
        t = text[i]
        assert len(t.split()) < 10 or sum(not c.isalnum() and not c.isspace() for c in t) / len(t) > 0.3
    base = truth["survivors"][:200]
    assert base == list(range(200))
    assert truth["survivors"][200:] == [c for _s, c in truth["related_pairs"]]
    rng = np.random.default_rng(0)
    for a, b in rng.choice(base, (50, 2)):
        if a != b:
            assert _jaccard(text[a], text[b]) < 0.2


def test_stream_planted_pairs_are_near_duplicates():
    batches, X, T, Q, pairs = gen.stream_inputs(5, 4, 25, 6, 3, 40)
    text = {}
    for b in batches:
        text.update(zip(b.column("doc_id").to_pylist(), b.column("text").to_pylist()))
    assert len(pairs) == 6
    for s, c in pairs:
        assert s < c and _jaccard(text[s], text[c]) >= 0.7
    assert X.shape == (100, gen.EMB_DIM) and T.shape == (40, gen.EMB_DIM) and Q.shape[0] == 3


def test_exact_topk_is_brute_force_cosine_with_low_index_ties():
    rng = np.random.default_rng(1)
    X = rng.normal(size=(40, 8)).astype(np.float32)
    X[7] = X[3] * 2.0  # same direction: a cosine tie, the lower index wins
    Q = np.vstack([X[3], rng.normal(size=(2, 8))]).astype(np.float32)
    got = gen.exact_topk(X, Q, 5)
    for qi, q in enumerate(Q):
        sims = [(-float(np.dot(q, x) / np.linalg.norm(q) / np.linalg.norm(x)), i)
                for i, x in enumerate(X)]
        assert got[qi].tolist() == [i for _s, i in sorted(sims)[:5]]
    assert got[0].tolist()[:2] == [3, 7]


# -- the percentile / sample-count rule --------------------------------------

def test_percentile_needs_ten_samples_beyond_it():
    assert stats.supported(50, 20) and not stats.supported(50, 19)
    assert stats.supported(75, 40) and not stats.supported(75, 39)
    s = stats.summarize([float(i) for i in range(25)])
    assert s["n"] == 25 and "p50" in s and "p75" not in s
    assert stats.summarize([1.0, 2.0]) == {"n": 2}
    assert stats.percentile([1.0, 2.0, 3.0, 4.0], 50) == 2.5


# -- printed metric names equal BENCHMARK.json's ------------------------------

class _FakeWorkload:
    unit_seconds = 1

    def __init__(self, failed_at=()):
        self.failed_at = set(failed_at)

    def unit(self, i):
        return {"attempted": 4, "failed": int(i in self.failed_at)}

    def summarize(self, units):
        return {}


def _measure(tmp_path, wl, seconds=3, warm=None):
    ctx = harness.Context(str(tmp_path), str(tmp_path), seconds, 4)
    return harness.measure(ctx, wl, warm)


def test_end_to_end_names_are_the_measured_keys(tmp_path):
    r = _measure(tmp_path, _FakeWorkload())
    r["setup_s"] = 1.0
    for m in SPEC["end_to_end"]:
        assert isinstance(r[m["name"]], float), m["name"]
    assert r["n_units"] == 3 and r["error_rate"] == 0.0


def _unit_trace(r, covered):
    """A unit span with one child covering ``covered`` of its time."""
    u = r["units"][0]
    root = {"id": 1, "name": "unit[0]", "layer": "bench", "parent": None,
            "start": u["start"], "end": u["end"]}
    kid = {"id": 2, "name": "plans.run", "layer": "plans", "parent": 1,
           "start": u["start"], "end": u["start"] + covered * u["wall_s"]}
    for s in (root, kid):
        s["self_s"] = s["end"] - s["start"]
    root["self_s"] -= kid["self_s"]
    return dict(r, trace={"spans": [root, kid], "spark": {}, "post": {}})


def test_per_layer_names_are_the_traced_metrics(tmp_path):
    r = _measure(tmp_path, _FakeWorkload(), seconds=1)
    layers = report.layers(r, _unit_trace(r, 1.0))
    assert list(layers["metrics"]) == [m["name"] for m in SPEC["per_layer"]]
    assert layers["reconcile"]["ok"]


def test_reconcile_fails_when_the_layers_miss_wall_time(tmp_path):
    r = _measure(tmp_path, _FakeWorkload(), seconds=1)
    r["units"][0].update(end=r["units"][0]["start"] + 1.0, wall_s=1.0)
    good, bad = (report.layers(r, _unit_trace(r, c)) for c in (0.995, 0.9))
    assert good["reconcile"]["ok"] and good["self_time_s"] == {"plans": pytest.approx(0.995)}
    assert not bad["reconcile"]["ok"] and bad["reconcile"]["error"] == pytest.approx(0.1)


def test_spec_is_within_the_contract():
    assert set(SPEC) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    names = [w["name"] for w in SPEC["workloads"]] + [m["name"] for m in SPEC["end_to_end"]
                                                      + SPEC["per_layer"]]
    assert len(names) == len(set(names))
    assert all(re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", n) for n in names)
    assert {"name": "setup_s", "unit": "s", "better": "lower",
            "bound": max(m["bound"] for m in SPEC["end_to_end"])} in SPEC["end_to_end"]
    assert all(0 < m["bound"] <= 0.25 for m in SPEC["end_to_end"])
    assert {w["name"] for w in SPEC["workloads"]} == set(
        __import__("run").WORKLOADS)


# -- a wrong result raises error_rate -----------------------------------------

def test_a_failed_unit_raises_error_rate(tmp_path):
    r = _measure(tmp_path, _FakeWorkload(failed_at={1}))
    assert r["failed"] == 1 and r["error_rate"] == pytest.approx(1 / 12)
    r = _measure(tmp_path, _FakeWorkload(), warm={"attempted": 4, "failed": 1})
    assert r["failed"] == 1 and r["error_rate"] == pytest.approx(1 / 16)


class _Comp:
    def __init__(self, name):
        self.name, self.duration_s = name, 0.1
        self.status = type("S", (), {"value": "success"})()


def _curation_sinks(root, ids, truth, drop_one=False):
    ids = list(ids)[1:] if drop_one else list(ids)
    os.makedirs(os.path.join(root, "split", "split=train"))
    pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64())}),
                   os.path.join(root, "split", "split=train", "part-0.parquet"))
    os.makedirs(os.path.join(root, "packed"))
    pq.write_table(pa.table({
        "doc_id": pa.array(ids, pa.int64()), "shard": pa.array([0] * len(ids), pa.int32()),
        "pack_id": pa.array(range(len(ids)), pa.int64()),
        "n_tokens": pa.array([truth["n_tokens"][str(i)] for i in ids], pa.int32()),
    }), os.path.join(root, "packed", "part-0.parquet"))


def test_a_wrong_curation_output_is_counted(tmp_path):
    _table, truth = gen.curation_corpus(2, 30, 2, 2, 2, 2)
    truth = json.loads(json.dumps(truth))  # as read back from disk
    result = type("R", (), {"components": [_Comp(c) for c in report.COMPONENTS]})()
    good, bad = tmp_path / "good", tmp_path / "bad"
    _curation_sinks(str(good), truth["survivors"], truth)
    _curation_sinks(str(bad), truth["survivors"], truth, drop_one=True)
    ok = curation.Curation._check(str(good), result, truth)
    assert ok["failed"] == 0 and ok["dup_recall"] == 1.0
    wrong = curation.Curation._check(str(bad), result, truth)
    assert wrong["failed"] == 2 and set(wrong["failed_components"]) == {"save_split",
                                                                        "save_packed"}


def test_a_wrong_search_result_is_counted():
    wl = stream.StreamIngest.__new__(stream.StreamIngest)
    wl.truth = {"n_batches": 1, "docs_per_batch": 20, "query_ids": [100],
                "topk": [[list(range(10))]], "pairs": [[0, 1]]}

    progress = [{"batchId": 0, "durationMs": {"triggerExecution": 1000}}]
    right = [{"batch": 0, "s": 0.1, "rows": [(100, v, v + 1) for v in range(10)]}]
    fewer = [{"batch": 0, "s": 0.1, "rows": [(100, v, v + 1) for v in range(9)]}]
    dup = [{"batch": 0, "s": 0.1, "rows": [(100, v // 2, v + 1) for v in range(10)]}]
    outside = [{"batch": 0, "s": 0.1,
                "rows": [(100, v, v + 1) for v in range(9)] + [(100, 25, 10)]}]
    assert wl._check({(0, 1)}, progress, right)["failed"] == 0
    assert wl._check({(0, 1)}, progress, fewer)["failed"] == 0
    assert wl._check({(0, 1)}, progress, dup)["failed"] == 1
    assert wl._check({(0, 1)}, progress, outside)["failed"] == 1


# -- the command refuses to run without the program ---------------------------

def test_run_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "curation_batch",
                        "--seed", "1", "--seconds", "20", "--trace", "0"],
                       cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert p.returncode != 0 and p.stdout == ""
