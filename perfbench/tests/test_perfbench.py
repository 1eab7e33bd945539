"""Tests of the benchmark's own code (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import math
from pathlib import Path

import numpy as np
import pytest

from perfbench import gen, metrics, procfs, reference, stats, trace

ROOT = Path(__file__).resolve().parents[2]


def _all_inputs(seed: int) -> list[np.ndarray]:
    out = []
    for wl in gen.WORKLOADS:
        sz = gen.SIZES[wl]
        rng = gen.rng_for(wl, seed, "history")
        h = gen.history(rng, 5_000, 500, 0.02, 1.1)
        out += [h[k] for k in ("entity_id", "ts", "f1", "f2", "f3", "is_dup")]
        sp = gen.spine(gen.rng_for(wl, seed, "spine"), h, 1_000, 0.1, 500, 1.1)
        out += [sp["entity_id"], sp["ts"]]
        for p in gen.pushes(gen.rng_for(wl, seed, "pushes"), 2, 300, 500, 3600, 1.1):
            out += [p["entity_id"], p["ts"], p["f3"]]
        req = gen.read_requests(gen.rng_for(wl, seed, "reads"), 50, 8, 500, 1.1)
        out += [req["ids"], req["cut_frac"]]
        docs = gen.corpus(gen.rng_for(wl, seed, "corpus"), 50, 300, (10, 20))
        b = gen.dedup_batch(gen.rng_for(wl, seed, "batch"), docs, 40, 0.1, 0.1, 300, (10, 20), (1, 3))
        out += [np.array(docs), np.array(b["text"]), b["kind"], b["src"]]
        v = gen.vectors(gen.rng_for(wl, seed, "vectors"), 200, 8, 4)
        out += [v["vec"], gen.queries(gen.rng_for(wl, seed, "vectors"), v["centers"], 5)]
        assert sz  # every workload has a size table
    return out


def test_generators_are_deterministic_per_seed():
    a, b, c = _all_inputs(7), _all_inputs(7), _all_inputs(8)
    assert len(a) == len(b) == len(c)
    for x, y in zip(a, b):
        assert np.array_equal(x, y)
    assert sum(np.array_equal(x, z) for x, z in zip(a, c)) < len(a) // 4


def test_streams_are_independent():
    one = gen.rng_for("online_mixed", 3, "reads").random(5)
    gen.rng_for("online_mixed", 3, "history").random(100)
    assert np.array_equal(one, gen.rng_for("online_mixed", 3, "reads").random(5))
    assert not np.array_equal(one, gen.rng_for("offline_batch", 3, "reads").random(5))


def test_planted_duplicates():
    rng = np.random.default_rng(0)
    docs = gen.corpus(rng, 30, 200, (12, 20))
    b = gen.dedup_batch(rng, docs, 100, 0.1, 0.2, 200, (12, 20), (1, 3))
    for text, kind, src in zip(b["text"], b["kind"], b["src"]):
        if kind == 1:
            assert text == docs[src]
        elif kind == 2:
            a, d = text.split(" "), docs[src].split(" ")
            assert len(a) == len(d) and 1 <= sum(x != y for x, y in zip(a, d)) <= 3
        else:
            assert src == -1
    assert (b["kind"] == 1).sum() == 10 and (b["kind"] == 2).sum() == 20


def test_history_duplicates_follow_their_original():
    h = gen.history(np.random.default_rng(1), 2_000, 100, 0.05, 1.1)
    dup = np.flatnonzero(h["is_dup"])
    assert len(dup) == 100
    assert np.array_equal(h["entity_id"][dup], h["entity_id"][dup - 1])
    assert np.array_equal(h["ts"][dup], h["ts"][dup - 1])


def test_top_share():
    ids = np.array([0] * 90 + list(range(1, 11)))
    assert gen.top_share(ids, 100) == 0.9
    assert gen.top_share(ids, 100, share=0.02) == 0.91


# -- the percentile rule ----------------------------------------------------

@pytest.mark.parametrize("n, tail_p", [(5, None), (39, None), (40, 75), (99, 75), (100, 90), (200, 95),
                                       (1000, 99)])
def test_tail_has_ten_samples_beyond(n, tail_p):
    xs = list(np.random.default_rng(n).random(n))
    t = stats.timing(xs)
    assert t["n"] == n and t["tail_p"] == tail_p
    assert t["p50"] == pytest.approx(float(np.median(xs)))
    if tail_p is not None:
        assert sum(x > t["tail"] for x in xs) >= stats.MIN_BEYOND
        higher = [p for p in stats.TAILS if p > tail_p]
        assert all(stats.nearest_rank(sorted(xs), p)[1] < stats.MIN_BEYOND for p in higher)


def test_nearest_rank():
    xs = [float(i) for i in range(1, 101)]
    assert stats.nearest_rank(xs, 90) == (90.0, 10)
    assert stats.nearest_rank(xs, 50) == (50.0, 50)


def test_verdict():
    base = [10.0, 10.2, 9.9, 10.1, 10.0, 10.3, 9.8, 10.1, 10.0, 10.2]
    faster = [b * 0.8 for b in base]
    assert stats.verdict(base, faster, "lower")["verdict"] == "better"
    assert stats.verdict(faster, base, "lower")["verdict"] == "worse"
    assert stats.verdict(base, faster, "higher")["verdict"] == "worse"
    noisy = [8.0, 12.0, 9.0, 11.0, 10.0, 10.5, 9.5, 10.2, 9.8, 10.1]
    assert stats.verdict(base, noisy, "lower")["verdict"] == "unresolved"
    # 9/10 wins but a gap inside the base's interquartile distance
    near = [b - 0.01 for b in base]
    near[0] += 0.05
    assert stats.verdict(base, near, "lower")["verdict"] == "unresolved"


# -- span arithmetic --------------------------------------------------------

def test_covered_merges_and_clips():
    assert trace.covered([], 0, 10) == 0
    assert trace.covered([(1, 3), (2, 5), (8, 9)], 0, 10) == 5
    assert trace.covered([(-5, 2), (9, 20)], 0, 10) == 3
    assert trace.covered([(3, 3), (6, 4)], 0, 10) == 0


def _span(uid, name, parent, start, end, **kw):
    return {"uid": uid, "name": name, "parent": parent, "start": start, "end": end,
            "phase": "cycle", "cycle": 1, **kw}


def test_self_and_driver_time():
    stage = {"id": 1, "start": 4.0, "end": 6.0, "tasks": 4, "run_ms": 1, "executor_cpu_ms": 7.0,
             "shuffle_write_bytes": 10, "spill_bytes": 0, "input_records": 100}
    spans = [
        _span("a", "store.push", None, 0.0, 10.0, jobs=1, stages=[]),
        _span("b", "store.append", "a", 1.0, 3.0, jobs=0, stages=[]),
        _span("c", "registry.write_version", "a", 2.0, 7.0, jobs=2, stages=[stage]),
        _span("d", "registry.meta", "c", 2.5, 2.6, jobs=0, stages=[]),
    ]
    rows = {r["name"]: r for r in trace.span_rows(spans)}
    push, wv = rows["store.push"], rows["registry.write_version"]
    assert push["wall_ms"] == pytest.approx(10_000)
    assert push["self_ms"] == pytest.approx(10_000 - 6_000)  # children cover 1..7
    assert push["driver_ms"] == pytest.approx(10_000 - 2_000)  # stage runs 4..6
    assert push["jobs"] == 3 and push["tasks"] == 4 and push["input_records"] == 100
    assert wv["self_ms"] == pytest.approx(5_000 - 100)
    assert wv["driver_ms"] == pytest.approx(3_000)
    assert rows["store.append"]["tasks"] == 0
    means = trace.span_means(trace.span_rows(spans))
    assert means["store.push"]["calls"] == 1 and means["store.push"]["jobs"] == 3


def test_disabled_tracer_records_nothing():
    t = trace.Tracer()
    with t.span("store.get.plan") as rec:
        assert rec is None
    t.enabled = True
    with t.span("store.push"):
        with t.span("store.append"):
            pass
    assert [s["name"] for s in t.spans] == ["store.append", "store.push"]
    assert t.spans[0]["parent"] == t.spans[1]["uid"]


# -- /proc readings ----------------------------------------------------------

def test_cpu_clock_counts_busy_time():
    import os
    import time

    clock = procfs.CpuClock([os.getpid()])
    assert clock.jit == []  # a Python process has no JIT compiler threads
    c0, t0 = clock(), time.process_time()
    while time.process_time() - t0 < 0.3:
        pass
    assert 0.2 <= clock() - c0 <= 0.5
    assert procfs.steal_s() >= 0 and procfs.peak_rss_mb([os.getpid()]) > 0


# -- references -------------------------------------------------------------

def _brute(rows, ent, cut):
    best = None
    for pos, (e, t) in enumerate(rows):
        if e == ent and t <= cut and (best is None or t > rows[best][1]):
            best = pos
    return best


def test_pit_index_matches_brute_force_with_ties():
    rng = np.random.default_rng(5)
    n = 400
    ent = rng.integers(0, 20, n)
    ts = gen.T0 + rng.integers(0, 50, n)  # dense: many (entity, ts) ties
    cols = {"entity_id": ent, "ts": ts, "f1": rng.random(n), "f2": rng.random(n), "f3": np.arange(n)}
    idx = reference.PitIndex()
    idx.add({k: v[:300] for k, v in cols.items()})
    idx.add({k: v[300:] for k, v in cols.items()})
    rows = list(zip(ent.tolist(), ts.tolist()))
    q_ent = rng.integers(0, 22, 500)
    q_cut = gen.T0 + rng.integers(-5, 60, 500)
    q_cut = np.maximum(q_cut, gen.T0)
    ans = idx.lookup(q_ent, q_cut)
    for i in range(500):
        want = _brute(rows, int(q_ent[i]), int(q_cut[i]))
        assert bool(ans["found"][i]) == (want is not None)
        if want is not None:
            assert ans["f3"][i] == want and ans["ts"][i] == ts[want]
    latest = idx.latest(np.arange(20))
    for e in range(20):
        assert latest["f3"][e] == _brute(rows, e, gen.T0 + 10**6)


def test_jaccard_matches_the_store_shingling():
    assert reference.shingle_set("a b") == {"a b"}
    assert reference.shingle_set("a b c d") == {"a b c", "b c d"}
    assert reference.jaccard_e6("a b c d", "a b c d") == 1_000_000
    assert reference.jaccard_e6("a b c d", "a b c e") == round(1 / 3 * 1_000_000)


def test_exact_topk():
    v = np.array([[1.0, 0.0], [0.0, 1.0], [1.0, 1.0]])
    top, sims = reference.exact_topk(v, np.array([[1.0, 0.1]]), 2)
    assert top.tolist() == [[0, 2]]
    assert sims[0, 0] == pytest.approx(1 / math.sqrt(1.01))


# -- the contract file --------------------------------------------------------

def test_metric_names_match_benchmark_json():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    e2e = {m["name"]: (m["unit"], m["better"]) for m in spec["end_to_end"]}
    assert e2e == metrics.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == metrics.per_layer()
    assert len(spec["per_layer"]) <= 128
    assert [w["name"] for w in spec["workloads"]] == list(gen.WORKLOADS)
    assert spec["command"] == ["python3", "perfbench/run.py"] and spec["paths"] == ["perfbench"]
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])
    assert max(m["bound"] for m in spec["end_to_end"]) == next(
        m["bound"] for m in spec["end_to_end"] if m["name"] == "setup_s")
