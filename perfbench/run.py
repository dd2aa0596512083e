"""Benchmark entry point; run it from the root of a checkout:

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 20 --trace 0

Runs one workload (``dashboard`` or ``analytics``) in this process on a
fresh ``local[4]`` Spark session. It prints the workload's figures under
their own names (one JSON line), then the result line: the end-to-end
metrics, or with ``--trace 1`` the per-layer metrics of a traced run.
Exits 1 when a correctness gate failed and 2 when the directory holds
no engine to measure.
"""

from __future__ import annotations

import argparse
import os
import sys

WORKLOADS = ("dashboard", "analytics")


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="perfbench")
    p.add_argument("--workload", choices=WORKLOADS, required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "calaveras_uniteus_etl_spark", "etl.py")):
        print("perfbench: no engine here; run from the root of a checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    from perfbench import harness

    if a.workload == "dashboard":
        from perfbench.dashboard import main as workload
    else:
        from perfbench.analytics import main as workload
    with harness.Run(a.workload, a.seed, a.seconds, bool(a.trace)) as run:
        result = workload(run)
    result.emit(a.workload, bool(a.trace))
    return 0 if result.correct else 1


if __name__ == "__main__":
    sys.exit(main())
