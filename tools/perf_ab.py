"""A/B the benchmark between two revisions, interleaved seed by seed.

    python3 tools/perf_ab.py --base <rev> --workload dashboard --seeds 1 2 3

Exports ``<rev>`` and HEAD with ``git archive`` into a temp dir and
runs ``perfbench/run.py`` for BENCHMARK.json's ``run_seconds`` on each
for every seed, alternating which side goes first so host speed drift
falls on both. Prints each end-to-end metric's per-seed values, medians
and head/base ratio, and flags every move past its bound. Exits 1 when
a run fails a correctness gate or a metric gets worse past its bound.
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


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="perf_ab")
    p.add_argument("--base", required=True)
    p.add_argument("--workload", required=True)
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
        results: dict[str, list[dict]] = {"base": [], "head": []}
        for i, seed in enumerate(a.seeds):
            for side in ("base", "head")[:: 1 if i % 2 == 0 else -1]:
                result = run(os.path.join(tmp, side), a.workload, seed, bench["run_seconds"])
                print(f"{side} seed {seed}: {'ok' if result else 'FAILED'}", flush=True)
                if result is None:
                    return 1
                results[side].append(result)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    worse = False
    print(f"{a.workload}, seeds {a.seeds}: median base, median head, head/base [per seed base/head]")
    for m in bench["end_to_end"]:
        b, h = ([r["metrics"][m["name"]]["value"] for r in results[s]] for s in ("base", "head"))
        ratio = statistics.median(h) / statistics.median(b)
        gain = 1 - ratio if m["better"] == "lower" else ratio - 1
        flag = "" if abs(gain) <= m["bound"] else ("better" if gain > 0 else "WORSE") + f" past {m['bound']}"
        worse |= gain < -m["bound"]
        seeds = " ".join(f"{x:.4g}/{y:.4g}" for x, y in zip(b, h))
        print(f"{m['name']:16s} {statistics.median(b):9.4g} {statistics.median(h):9.4g} {ratio:6.3f} [{seeds}] {flag}")
    return 1 if worse else 0


if __name__ == "__main__":
    sys.exit(main())
