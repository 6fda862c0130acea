#!/usr/bin/env python3
"""Run the benchmark over several seeds and record one set of runs.

Usage, from the repository root::

    python3 perfbench/sweep.py runs.jsonl --seeds 1-10 [--workloads ts_prep_fit,...]

Each run appends ``{"workload", "seed", "wall_s", "result"}`` to the output
file (``result`` is the JSON line ``run.py`` printed, or null if it printed
none). At the end the script prints, per workload and end-to-end metric,
the median and the quartile spread as a share of the median, next to the
metric's bound from ``BENCHMARK.json``. Compare two such files with
``perfbench/compare.py``.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.compare import load_runs  # noqa: E402
from perfbench.stats import quartiles  # noqa: E402


def seeds(text: str) -> list[int]:
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def main(argv=None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("out")
    ap.add_argument("--seeds", type=seeds, default=seeds("1-10"))
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--seconds", type=int, default=spec["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    workloads = args.workloads.split(",")
    for seed in args.seeds:
        for w in workloads:
            t0 = time.perf_counter()
            p = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                 "--seed", str(seed), "--seconds", str(args.seconds),
                 "--trace", str(args.trace)],
                cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=600)
            lines = p.stdout.strip().splitlines()
            result = json.loads(lines[-1]) if p.returncode == 0 and lines else None
            wall = time.perf_counter() - t0
            with open(args.out, "a") as f:
                f.write(json.dumps({"workload": w, "seed": seed, "wall_s": wall,
                                    "result": result}) + "\n")
            print(f"{w} seed {seed}: {wall:.1f} s, "
                  f"{'correct' if result and result['correct'] else 'NOT CORRECT'}",
                  file=sys.stderr)
    if args.trace:
        return 0
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    for w, runs in sorted(load_runs(args.out).items()):
        print(f"{w} (n={len(runs)})")
        for name, bound in bounds.items():
            vals = [m[name] for _, m in runs if name in m]
            if not vals:
                continue
            q1, med, q3 = quartiles(vals)
            spread = (q3 - q1) / med if med else float("inf")
            print(f"  {name:14s} median {med:10.4g}  spread {spread:6.1%}"
                  f"  bound {bound:.0%}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
