"""A/B the benchmark between two revisions, interleaved seed by seed.

    python3 tools/perf_ab.py --base <rev> --workload dashboard analytics --seeds 1 2 3

Exports ``<rev>`` and HEAD with ``git archive`` into a temp dir and
runs ``perfbench/run.py`` for BENCHMARK.json's ``run_seconds`` on each
for every workload and seed, alternating which side goes first so host
speed drift falls on both. Prints, per workload, each end-to-end
metric's per-seed values, medians and head/base ratio, the pairs head
won and the base's quartiles, and flags every move past its bound. A
gain may be claimed (marked ``claim``) when at least 10 pairs ran, head
won at least 9 in 10 of them, ties counting for neither, and the
medians differ by more than the base's interquartile range. A metric is
marked ``unresolved`` when the base's interquartile range is wider than
its bound times the base median, unless every head run beats every base
run: its runs spread too widely to call it unchanged. Exits 1 when a
run fails a correctness gate or a metric gets worse past its bound.
Nothing is written inside the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile


def git(*args: str) -> str:
    return subprocess.run(["git", *args], check=True, capture_output=True, text=True).stdout.strip()


def run(tree: str, workload: str, seed: int, seconds: float) -> dict | None:
    """The result line of one untraced run, or None if a gate failed."""
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        cwd=tree, capture_output=True, text=True,
    )
    last = (p.stdout.strip().splitlines() or [""])[-1]
    result = json.loads(last) if last.startswith("{") else {}
    if p.returncode or not result.get("correct"):
        print("\n".join(p.stderr.strip().splitlines()[-5:]), file=sys.stderr)
        return None
    return result


def summarize(metric: dict, base: list[float], head: list[float]) -> dict:
    """Compare one end-to-end ``metric`` (a BENCHMARK.json entry) over
    paired runs: ``base[i]`` and ``head[i]`` ran on the same seed."""
    lower = metric["better"] == "lower"
    b, h = statistics.median(base), statistics.median(head)
    ratio = h / b
    gain = 1 - ratio if lower else ratio - 1
    q1, _, q3 = statistics.quantiles(base, n=4, method="inclusive") if len(base) > 1 else base * 3
    wins = sum((y < x) if lower else (y > x) for x, y in zip(base, head))
    separated = max(head) < min(base) if lower else min(head) > max(base)
    return {
        "name": metric["name"], "base": b, "head": h, "ratio": ratio,
        "wins": wins, "pairs": len(base), "base_q1": q1, "base_q3": q3,
        "claim": gain > 0 and len(base) >= 10 and 10 * wins >= 9 * len(base) and abs(h - b) > q3 - q1,
        "unresolved": q3 - q1 > metric["bound"] * b and not separated,
        "worse": gain < -metric["bound"],
        "flag": "" if abs(gain) <= metric["bound"] else ("better" if gain > 0 else "WORSE") + f" past {metric['bound']}",
    }


def collect(trees: dict[str, str], workloads: list[str], seeds: list[int], seconds: float, run=run) -> dict | None:
    """``{workload: {"base": [result], "head": [result]}}`` over the
    seeds, one workload after the other; within a workload the side that
    runs first alternates per seed. None once a run fails a gate."""
    results = {w: {"base": [], "head": []} for w in workloads}
    for w in workloads:
        for i, seed in enumerate(seeds):
            for side in ("base", "head")[:: 1 if i % 2 == 0 else -1]:
                result = run(trees[side], w, seed, seconds)
                print(f"{w} {side} seed {seed}: {'ok' if result else 'FAILED'}", flush=True)
                if result is None:
                    return None
                results[w][side].append(result)
    return results


def report(bench: dict, workload: str, seeds: list[int], runs: dict) -> bool:
    """Print one workload's row per end-to-end metric; True if one got
    worse past its bound."""
    worse = False
    print(f"{workload}, seeds {seeds}: median base, median head, head/base, "
          "pairs head won, base q1-q3 [per seed base/head]")
    for m in bench["end_to_end"]:
        b, h = ([r["metrics"][m["name"]]["value"] for r in runs[s]] for s in ("base", "head"))
        r = summarize(m, b, h)
        worse |= r["worse"]
        per_seed = " ".join(f"{x:.4g}/{y:.4g}" for x, y in zip(b, h))
        print(f"{m['name']:16s} {r['base']:9.4g} {r['head']:9.4g} {r['ratio']:6.3f} "
              f"{r['wins']:2d}/{r['pairs']} {r['base_q1']:.4g}-{r['base_q3']:.4g} [{per_seed}] "
              f"{r['flag']}{' claim' if r['claim'] else ''}{' unresolved' if r['unresolved'] else ''}")
    return worse


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="perf_ab")
    p.add_argument("--base", required=True)
    p.add_argument("--workload", required=True, nargs="+")
    p.add_argument("--seeds", type=int, nargs="+", default=[1, 2, 3])
    a = p.parse_args(argv)

    with open(os.path.join(git("rev-parse", "--show-toplevel"), "BENCHMARK.json")) as f:
        bench = json.load(f)
    tmp = tempfile.mkdtemp(prefix="perf_ab-")
    try:
        for side, rev in (("base", a.base), ("head", "HEAD")):
            os.makedirs(os.path.join(tmp, side))
            archive = subprocess.Popen(["git", "archive", rev], stdout=subprocess.PIPE)
            subprocess.run(["tar", "-x", "-C", os.path.join(tmp, side)], stdin=archive.stdout, check=True)
            if archive.wait():
                return 2
            print(f"{side}: {rev} = {git('rev-parse', '--short', rev)}", flush=True)
        trees = {side: os.path.join(tmp, side) for side in ("base", "head")}
        results = collect(trees, a.workload, a.seeds, bench["run_seconds"])
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    if results is None:
        return 1
    worse = [report(bench, w, a.seeds, results[w]) for w in a.workload]
    return 1 if any(worse) else 0


if __name__ == "__main__":
    sys.exit(main())
