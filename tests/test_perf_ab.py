"""tools/perf_ab.py's per-metric summary: the pairs head won and the
base's quartiles, the claim rule they decide (at least 10 pairs run, at
least 9 in 10 of them won, medians further apart than the base's
interquartile range) and the unresolved mark (base interquartile range
wider than the bound, head and base runs not separated); and one
invocation over several workloads, each with its own rows."""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))

from perf_ab import collect, report, summarize  # noqa: E402

LOWER = {"name": "build_s", "better": "lower", "bound": 0.25}
HIGHER = {"name": "requests_per_s", "better": "higher", "bound": 0.25}
BASE = [float(x) for x in range(10, 20)]  # median 14.5, quartiles 12.25-16.75


def test_quartiles_and_wins():
    r = summarize(LOWER, BASE, [0.6 * x for x in BASE])
    assert (r["base_q1"], r["base_q3"]) == (12.25, 16.75)
    assert (r["wins"], r["pairs"]) == (10, 10)
    assert r["base"] == 14.5 and abs(r["ratio"] - 0.6) < 1e-12
    assert r["claim"] and not r["worse"] and r["flag"] == "better past 0.25"


def test_claim_needs_a_gap_past_the_base_iqr():
    # every pair won, but the medians are 4.35 apart and the IQR is 4.5
    r = summarize(LOWER, BASE, [0.7 * x for x in BASE])
    assert r["wins"] == 10 and not r["claim"]


def test_claim_needs_nine_in_ten_wins_ties_for_neither():
    head = [0.5 * x for x in BASE]
    head[0] = BASE[0]  # a tie
    head[1] = BASE[1] + 1  # a loss
    r = summarize(LOWER, BASE, head)
    assert r["wins"] == 8 and not r["claim"]
    head[1] = 0.5 * BASE[1]
    assert summarize(LOWER, BASE, head)["claim"]


def test_higher_is_better_and_worse_past_bound():
    r = summarize(HIGHER, BASE, [0.7 * x for x in BASE])
    assert r["wins"] == 0 and r["worse"] and not r["claim"]
    assert r["flag"] == "WORSE past 0.25"
    r = summarize(HIGHER, BASE, [x + 10 for x in BASE])
    assert r["wins"] == 10 and r["claim"] and not r["worse"]


def test_single_pair():
    r = summarize(LOWER, [10.0], [9.0])
    assert (r["base_q1"], r["base_q3"]) == (10.0, 10.0)
    assert r["wins"] == 1 and not r["claim"] and r["flag"] == ""


def test_claim_needs_ten_pairs():
    r = summarize(LOWER, [10.0, 11.0, 12.0], [5.0, 5.5, 6.0])
    assert r["wins"] == 3 and r["pairs"] == 3 and not r["claim"]


def test_unresolved_when_base_spread_exceeds_bound():
    # IQR 4.5 > 0.25 * 14.5: the runs spread wider than the bound
    r = summarize(LOWER, BASE, [x - 0.1 for x in BASE])
    assert r["unresolved"] and not r["worse"]
    # unless every head run beats every base run
    assert not summarize(LOWER, BASE, [x - 10 for x in BASE])["unresolved"]
    assert not summarize(HIGHER, BASE, [x + 10 for x in BASE])["unresolved"]
    assert summarize(HIGHER, BASE, [x + 5 for x in BASE])["unresolved"]
    # a tight base resolves
    tight = [100.0 + 0.1 * i for i in range(10)]
    assert not summarize(LOWER, tight, tight)["unresolved"]


def test_several_workloads_each_get_their_own_rows(capsys):
    """Workloads run one after the other, the first side alternating per
    seed; each prints its own rows, and only a regression in one of them
    reports worse."""
    bench = {"end_to_end": [LOWER, HIGHER]}
    seeds = list(range(1, 11))
    calls = []

    def fake_run(tree, workload, seed, seconds):
        calls.append((workload, tree, seed))
        base = tree == "b"
        scale = 1.0 if base or workload == "analytics" else 0.5
        return {"metrics": {"build_s": {"value": scale * (10 + seed)},
                            "requests_per_s": {"value": 1.0 if base or workload == "dashboard" else 0.5}}}

    results = collect({"base": "b", "head": "h"}, ["dashboard", "analytics"], seeds, 10, run=fake_run)
    assert [c[0] for c in calls] == ["dashboard"] * 20 + ["analytics"] * 20
    assert [c[1] for c in calls[:4]] == ["b", "h", "h", "b"]
    assert not report(bench, "dashboard", seeds, results["dashboard"])
    assert report(bench, "analytics", seeds, results["analytics"])
    out = capsys.readouterr().out.splitlines()
    rows = {line.split(",")[0]: i for i, line in enumerate(out) if line.endswith("[per seed base/head]")}
    assert list(rows) == ["dashboard", "analytics"]
    dash, ana = out[rows["dashboard"] + 1:rows["analytics"]], out[rows["analytics"] + 1:]
    assert dash[0].startswith("build_s") and dash[0].endswith("claim")
    assert ana[1].startswith("requests_per_s") and "WORSE past 0.25" in ana[1]
    assert collect({"base": "b", "head": "h"}, ["dashboard"], seeds, 10, run=lambda *a: None) is None
