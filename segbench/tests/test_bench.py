"""Tests of the benchmark itself: generator determinism, declared metric
names, and that every output check rejects a corrupted output.

    python3 -m pytest segbench/tests -q
"""

from __future__ import annotations

import csv
import json
import os
import re
import sys

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, BENCH)

import checks  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402

NAME_RE = re.compile(r"[A-Za-z0-9_.-]+")


def _files(d):
    return {n: open(os.path.join(d, n), "rb").read() for n in sorted(os.listdir(d))}


@pytest.mark.parametrize("family,size", [("corpus", 400), ("reference", 60)])
def test_generator_is_byte_deterministic_per_seed(tmp_path, family, size):
    a, plan_a = gen.ensure_inputs(str(tmp_path / "a"), family, size, 7)
    b, plan_b = gen.ensure_inputs(str(tmp_path / "b"), family, size, 7)
    c, _ = gen.ensure_inputs(str(tmp_path / "c"), family, size, 8)
    assert _files(a) == _files(b) and plan_a == plan_b
    fa, fc = _files(a), _files(c)
    assert fa.keys() == fc.keys()
    assert all(fa[n] != fc[n] for n in fa if n != "plan.json")


def test_corpus_plants_the_same_shares_for_every_seed(tmp_path):
    n = 2000
    n_batch = len(range(0, n, gen.BATCH_MOD))
    want = {"exact": gen.SHARE_EXACT, "exact_batch": gen.SHARE_EXACT_BATCH,
            "near": gen.SHARE_NEAR, "semantic": gen.SHARE_SEMANTIC}
    plans = [gen.ensure_inputs(str(tmp_path), "corpus", n, s)[1] for s in (1, 2)]
    assert plans[0] != plans[1]
    for plan in plans:
        for kind, share in want.items():
            assert all(d % gen.BATCH_MOD == 0 for d in plan[kind])
            assert abs(len(plan[kind]) / n_batch - share) < 0.06, kind


def test_reference_inputs_carry_every_edge_case(tmp_path):
    for seed in (1, 2):
        _, plan = gen.ensure_inputs(str(tmp_path), "reference", 400, seed)
        assert all(v > 0 for v in plan["edge_cases"].values()), plan["edge_cases"]


def test_inputs_cache_serves_the_same_directory(tmp_path):
    d1, _ = gen.ensure_inputs(str(tmp_path), "reference", 50, 3)
    mtime = os.path.getmtime(os.path.join(d1, "users.csv"))
    d2, _ = gen.ensure_inputs(str(tmp_path), "reference", 50, 3)
    assert d1 == d2 and os.path.getmtime(os.path.join(d2, "users.csv")) == mtime


def _declared():
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
        return json.load(f)


def test_every_printed_name_is_declared():
    spec = _declared()
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)
    fake = {"passes": [{"wall": 2.0, "cpu": 3.0}], "setup_s": 1.0, "peak_rss_mb": 9.0}
    e2e = run.end_to_end(fake, items=10)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == {k: u for k, (_, u) in e2e.items()}
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == layers.metric_names()
    for name in [*e2e, *layers.metric_names()]:
        assert NAME_RE.fullmatch(name) and len(name) <= 64, name
    for w in workloads.WORKLOADS.values():
        assert set(w.wrapped) <= set(layers.LAYERS)
    with open(os.path.join(BENCH, "layer_map.json")) as f:
        mapped = [n for e in json.load(f)["map"] for n in e["layer"] if "*" not in n]
    assert set(mapped) <= set(layers.metric_names())


def _segment_csv(path, rows=None, header=None):
    header = header or ["k", "cluster", "score", *checks.SEGMENT_FEATURES]
    if rows is None:
        rows = [[k, c, 0.1 * k, *[float(c + i) for i in range(7)]]
                for k in range(2, 7) for c in range(k)]
    with open(path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(header)
        w.writerows(rows)
    return str(path)


def test_segment_check_accepts_good_and_rejects_corrupted(tmp_path):
    good = [[k, c, 0.1 * k, *[float(c + i) for i in range(7)]]
            for k in range(2, 7) for c in range(k)]
    assert checks.check_segment(_segment_csv(tmp_path / "ok.csv"), 2, 6, best_k=6)
    corrupt = {
        "missing row": good[:-1],
        "score out of range": [r[:2] + [1.5] + r[3:] if r[0] == 4 else r for r in good],
        "two scores for one k": [r[:2] + [0.01 * r[1]] + r[3:] for r in good],
        "non-finite center": [r[:3] + [float("nan")] + r[4:] for r in good],
    }
    for what, rows in corrupt.items():
        with pytest.raises(checks.CheckFailed):
            checks.check_segment(_segment_csv(tmp_path / "bad.csv", rows), 2, 6, best_k=6)
    with pytest.raises(checks.CheckFailed):
        checks.check_segment(_segment_csv(tmp_path / "ok.csv"), 2, 6, best_k=2)
    with pytest.raises(checks.CheckFailed):
        checks.check_segment(
            _segment_csv(tmp_path / "hdr.csv", header=["k", "score", *checks.SEGMENT_FEATURES,
                                                      "extra"]), 2, 6, best_k=6)


def _split_report(doc_ids, pairs):
    rep = checks.components(doc_ids, pairs)
    out = {}
    for d in doc_ids:
        s = checks.split_of(rep[d])
        r = out.setdefault(s, {"split": s, "n_docs": 0, "groups": set(), "n_docs_moved": 0})
        r["n_docs"] += 1
        r["groups"].add(rep[d])
        r["n_docs_moved"] += checks.split_of(d) != s
    return [{"split": r["split"], "n_docs": r["n_docs"], "n_groups": len(r["groups"]),
             "n_docs_moved": r["n_docs_moved"]} for r in out.values()]


def test_split_check_rejects_a_split_that_ignores_components():
    doc_ids = list(range(200))
    pairs = [(i, i + 1) for i in range(0, 200, 7)] + [(3, 150), (150, 199)]
    report = _split_report(doc_ids, pairs)
    assert checks.check_split(report, doc_ids, pairs)
    naive = _split_report(doc_ids, [])  # every doc on its own: pairs straddle
    with pytest.raises(checks.CheckFailed):
        checks.check_split(naive, doc_ids, pairs)
    shifted = [dict(r, n_docs=r["n_docs"] + (r["split"] == "train")) for r in report]
    with pytest.raises(checks.CheckFailed):
        checks.check_split(shifted, doc_ids, pairs)


def test_kept_and_topk_checks_reject_corrupted_counts():
    assert checks.check_kept(900, 1000, 123, planted_dups=50)
    for n_kept in (0, 951, 1001):
        with pytest.raises(checks.CheckFailed):
            checks.check_kept(n_kept, 1000, 123, planted_dups=50)
    assert checks.check_topk(500, 100, 100, 5, 0, 7)
    for args in [(500, 99, 100, 5, 0, 7), (501, 100, 100, 5, 0, 7), (500, 100, 100, 5, 1, 7)]:
        with pytest.raises(checks.CheckFailed):
            checks.check_topk(*args)


def test_self_time_subtracts_the_union_of_children():
    tracer = spans.Tracer.__new__(spans.Tracer)
    tracer._stage_cache = {1: {"executor_s": 2.0}}
    rec = {"id": 1, "start": 0.0, "end": 10.0, "jobs": [5], "stages": [1]}
    kids = [{"start": 1.0, "end": 4.0}, {"start": 3.0, "end": 5.0}, {"start": 8.0, "end": 12.0}]
    m = tracer.self_measures(rec, kids)
    assert m["self_s"] == pytest.approx(10.0 - 4.0 - 2.0)
    assert m["jobs"] == 1 and m["executor_s"] == 2.0 and m["gc_s"] == 0.0
