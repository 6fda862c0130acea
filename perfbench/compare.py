#!/usr/bin/env python3
"""Compare two sets of benchmark runs, workload by workload.

Usage, from the repository root::

    python3 perfbench/compare.py parent.jsonl change.jsonl

Each file holds one JSON object per line, ``{"workload", "seed", "result"}``
with ``result`` the line ``perfbench/run.py`` printed (``perfbench/sweep.py``
writes such files). For every workload and end-to-end metric the script
prints both medians and quartiles, the share of pairs the change won (runs
paired by seed, else by order; ties count for neither side), and a verdict:

- ``improved``: the change won at least 9 of 10 pairs and its median beats
  the parent's by more than the parent's own quartile spread;
- ``no worse``: the change's median is within the metric's bound of the
  parent's, and the parent's spread is within the bound too;
- ``worse``: the change's median is worse by more than the bound while the
  parent's spread is within it;
- ``unresolved``: anything else, such as a spread wider than the bound or a
  zero median.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench.stats import quartiles  # noqa: E402


def load_runs(path: str) -> dict[str, list[tuple[int, dict]]]:
    """workload → [(seed, metrics)] of the runs that checked correct."""
    runs: dict[str, list[tuple[int, dict]]] = {}
    with open(path) as f:
        for line in f:
            if not line.strip():
                continue
            rec = json.loads(line)
            res = rec["result"]
            if not res.get("correct"):
                continue
            runs.setdefault(rec["workload"], []).append(
                (rec.get("seed"), {k: v["value"] for k, v in res["metrics"].items()}))
    return runs


def pair_up(a: list[tuple[int, float]], b: list[tuple[int, float]]):
    """Pairs of values: by seed where seeds match, else by order."""
    bs = dict(b)
    if any(s in bs for s, _ in a):
        return [(va, bs[s]) for s, va in a if s in bs]
    return list(zip([v for _, v in a], [v for _, v in b]))


def verdict(a: list[float], b: list[float], pairs, better: str, bound: float):
    """→ (verdict, share of pairs the change won)."""
    sign = 1.0 if better == "higher" else -1.0
    wins = sum(1 for x, y in pairs if sign * (y - x) > 0)
    share = wins / len(pairs) if pairs else 0.0
    qa1, ma, qa3 = quartiles(a)
    _, mb, _ = quartiles(b)
    if ma == 0:
        return "unresolved", share
    gain = sign * (mb - ma)
    spread = (qa3 - qa1) / abs(ma)
    if pairs and share >= 0.9 and gain > qa3 - qa1:
        return "improved", share
    if spread > bound:
        if pairs and all(sign * (y - x) > 0 for x in a for y in b):
            return "improved", share
        return "unresolved", share
    if gain >= -bound * abs(ma):
        return "no worse", share
    return "worse", share


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--benchmark", default=os.path.join(os.path.dirname(HERE),
                                                         "BENCHMARK.json"))
    args = ap.parse_args(argv)
    with open(args.benchmark) as f:
        spec = {m["name"]: m for m in json.load(f)["end_to_end"]}
    pa, ch = load_runs(args.parent), load_runs(args.change)
    workloads = sorted(set(pa) & set(ch))
    if not workloads:
        print("no workload has correct runs on both sides", file=sys.stderr)
        return 1
    shown = 0
    for w in workloads:
        names = sorted(set.intersection(*[set(m) for _, m in pa[w] + ch[w]])
                       & set(spec))
        if not names:
            print(f"{w}: no end-to-end metric common to both sides")
            continue
        print(f"{w}  (parent n={len(pa[w])}, change n={len(ch[w])})")
        for name in names:
            a = [(s, m[name]) for s, m in pa[w]]
            b = [(s, m[name]) for s, m in ch[w]]
            va, vb = [v for _, v in a], [v for _, v in b]
            m = spec[name]
            v, share = verdict(va, vb, pair_up(a, b), m["better"], m["bound"])
            qa, qb = quartiles(va), quartiles(vb)
            rel = f"{(qb[1] - qa[1]) / abs(qa[1]):+.1%}" if qa[1] else "n/a"
            print(f"  {name:14s} parent {qa[1]:.4g} [{qa[0]:.4g}, {qa[2]:.4g}]"
                  f"  change {qb[1]:.4g} [{qb[0]:.4g}, {qb[2]:.4g}]  {rel:>7s}"
                  f"  won {share:.0%}  {v}")
            shown += 1
    return 0 if shown else 1


if __name__ == "__main__":
    sys.exit(main())
