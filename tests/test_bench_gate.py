"""Bench regression gate (VERDICT r4 task 7): the r3->r4 webops drift
(3-10x wall moves on unchanged code) reached the judge before the builder.
bench.py now diffs every fresh run against the committed BENCH_DETAIL.json
and keeps a fingerprint-keyed best-of record; these tests pin that logic
(no Spark session — pure dict arithmetic)."""

from __future__ import annotations

import json
import os

import bench

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _tier(queries, **extra):
    return {"queries": queries, **extra}


def test_compare_flags_only_3x_moves():
    old = {"base": _tier({"q1": 1.0, "q2": 2.0, "fast": 0.01})}
    new = {"base": _tier({"q1": 3.5, "q2": 2.1, "fast": 0.5, "newq": 9.0})}
    got = bench.compare_details(old, new)
    # q1 regressed 3.5x; q2 is steady; 'fast' is under the 50 ms noise
    # floor; 'newq' has no committed twin — none of those may fire
    assert got == {"base": {"q1": 3.5}}


def test_compare_is_quiet_when_steady():
    old = {"base": _tier({"q1": 1.0}), "sf1": _tier({"q1": 10.0})}
    new = {"base": _tier({"q1": 2.9}), "sf1": _tier({"q1": 12.0})}
    assert bench.compare_details(old, new) == {}


def test_merge_best_takes_elementwise_minima():
    fp = {"base": 5000}
    best = bench.merge_best({}, {"base": _tier({"q1": 2.0, "q2": 1.0})}, fp)
    best = bench.merge_best(best, {"base": _tier({"q1": 1.5, "q2": 4.0})},
                            fp)
    assert best["tiers"]["base"]["q1"] == 1.5
    assert best["tiers"]["base"]["q2"] == 1.0
    assert best["tiers"]["base"]["_total"] == 2.5


def test_merge_best_resets_on_new_data_fingerprint():
    best = bench.merge_best({}, {"base": _tier({"q1": 0.5})},
                            {"base": 5000})
    best = bench.merge_best(best, {"base": _tier({"q1": 3.0})},
                            {"base": 9999})  # regenerated corpus
    assert best["tiers"]["base"]["q1"] == 3.0  # NOT min across corpora


def test_merge_best_resets_on_other_nproc(monkeypatch):
    detail = {"base": _tier({"q1": 0.5}, n_docs=5000)}
    fp32 = bench.fingerprint(detail)
    best = bench.merge_best({}, detail, fp32)
    monkeypatch.setattr(bench.os, "sched_getaffinity",
                        lambda _pid: set(range(fp32["nproc"] + 4)))
    fp = bench.fingerprint(detail)
    assert fp["nproc"] == fp32["nproc"] + 4 and fp["base"] == 5000
    assert fp["mem_bytes"] == fp32["mem_bytes"] > 0
    # the same data on another core count: a fresh record, not a minimum
    best = bench.merge_best(best, {"base": _tier({"q1": 3.0})}, fp)
    assert best["tiers"]["base"]["q1"] == 3.0
    assert best["fingerprint"] == fp


def test_committed_detail_parses_and_has_all_tiers():
    with open(os.path.join(REPO, "BENCH_DETAIL.json")) as fh:
        d = json.load(fh)
    for tier in ("base", "sf1", "sf10"):
        assert tier in d and d[tier].get("queries"), tier
        assert all(v >= 0 for v in d[tier]["queries"].values())
