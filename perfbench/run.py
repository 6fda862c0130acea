#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics as one JSON line.

Usage, from the repository root::

    python3 perfbench/run.py --workload ts_prep_fit --seed 1 --seconds 15 --trace 0

One client runs requests in a closed loop on ``local[nproc]``, after the
workload's warm-up rotations, until the requests have taken ``--seconds``
seconds, checking every output outside the timed region. ``--trace 0``
prints the end-to-end metrics; ``--trace 1`` runs the same untraced loop,
then a traced loop with job groups on, both with the event log on, and
prints the per-layer table instead. The last line of standard output is
``{"correct", "attempted", "failed", "metrics"}``; diagnostics go to
standard error. Everything the run writes stays under ``.perfbench-work/``
in the repository root.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import sys
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench-work")
SETUPS = 3

sys.path.insert(0, ROOT)
from perfbench import stats  # noqa: E402


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


class RssSampler:
    """Peak resident memory of a process tree (the driver JVM and the
    Python workers it forks), sampled from /proc in a background thread."""

    def __init__(self, pid: int, interval: float = 0.2):
        self.pid, self.interval, self.peak = pid, interval, 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    @staticmethod
    def _tree_rss(root: int) -> int:
        parent: dict[int, int] = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    with open(f"/proc/{d}/stat") as f:
                        parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
                except (OSError, IndexError, ValueError):
                    pass
        tree, frontier = {root}, [root]
        while frontier:
            p = frontier.pop()
            kids = [c for c, pp in parent.items() if pp == p and c not in tree]
            tree.update(kids)
            frontier.extend(kids)
        total = 0
        for p in tree:
            try:
                with open(f"/proc/{p}/statm") as f:
                    total += int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
            except (OSError, IndexError, ValueError):
                pass
        return total

    def _run(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, self._tree_rss(self.pid))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


class LoopResult:
    def __init__(self):
        self.latencies: list[float] = []
        #: request name → latencies of its correct requests, and its items
        self.by_name: dict[str, list[float]] = {}
        self.items_of: dict[str, int] = {}
        self.items = 0
        self.attempted = 0
        self.failed = 0

    def record(self, name: str, seconds: float, items: int,
               problems: list[str]) -> None:
        """Count one request; a request with problems is a failed one."""
        self.attempted += 1
        if problems:
            self.failed += 1
        else:
            self.latencies.append(seconds)
            self.by_name.setdefault(name, []).append(seconds)
            self.items_of[name] = items
            self.items += items

    @property
    def items_per_s(self) -> float:
        """The items of one request of each kind over the sum of each
        kind's median latency: the throughput of a rotation made of median
        requests, so one slow request moves it no more than it moves the
        median."""
        busy = sum(stats.median(v) for v in self.by_name.values())
        return sum(self.items_of.values()) / busy if busy > 0 else 0.0


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the machine so far, from /proc/stat: the
    share of steal during a loop says how much the host took away."""
    try:
        with open("/proc/stat") as f:
            vals = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return 0, 0
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def warm_up(wl, ctx, rotations: int) -> None:
    """Whole rotations, or with ``rotations`` 0 only the first request of
    one; untimed and unchecked."""
    for _ in range(max(rotations, 1)):
        reqs = wl.rotation()
        for req in reqs if rotations else reqs[:1]:
            req.run(ctx)
            wl.after_request(ctx)


def timed_loop(wl, ctx, seconds: float) -> LoopResult:
    """Whole rotations until the requests have taken ``seconds``."""
    res = LoopResult()
    spent = 0.0
    while spent < seconds:
        for req in wl.rotation():
            err = None
            with ctx.tracer.request():
                t0 = time.perf_counter()
                try:
                    out = req.run(ctx)
                except Exception as e:  # a failed request is counted, not fatal
                    err = e
                    traceback.print_exc(file=sys.stderr)
                dt = time.perf_counter() - t0
            spent += dt
            if err is None:
                try:
                    problems = req.check(ctx, out)
                except Exception as e:
                    traceback.print_exc(file=sys.stderr)
                    problems = [f"check raised {type(e).__name__}: {e}"]
            else:
                problems = [f"raised {type(err).__name__}: {err}"]
            for p in problems:
                log(f"{wl.name}/{req.name}: {p}")
            res.record(req.name, dt, req.items, problems)
            wl.after_request(ctx)
    return res


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # the Python workers Spark forks import the library too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    try:
        import __spark_entry__  # noqa: F401
        import spark_timeseries_spark  # noqa: F401
        import tools.check_correctness  # noqa: F401
    except ImportError as e:
        log(f"the library is not importable from {ROOT}: {e}")
        return 2

    from perfbench.eventlog import read_groups
    from perfbench.layers import END_TO_END, PER_LAYER, layer_table
    from perfbench.session import BenchSession
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS, Ctx

    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
        return 2
    run_dir = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)
    wl = WORKLOADS[args.workload](args.seed, os.path.join(run_dir, "data"))
    sess = None
    try:
        # set up SETUPS times on one live session. Each set-up generates the
        # inputs; the first also starts the session and runs the workload's
        # warm-up rotations (every plan compiled, the JIT past its ramp, the
        # Python workers started), the later ones the first request of a
        # rotation. A traced run keeps the event log on from the start, so
        # its untraced and traced loops share one warm session.
        elog = os.path.join(run_dir, "eventlog") if args.trace else None
        setups = []
        for i in range(SETUPS):
            t0 = time.perf_counter()
            if sess is None:
                sess = BenchSession(run_dir, event_log_dir=elog)
            wl.generate()
            warm_up(wl, Ctx(sess.spark, Tracer(False), sess.cores),
                    wl.WARM_ROTATIONS if i == 0 else 0)
            setups.append(time.perf_counter() - t0)
        wl.prepare_checks()
        log(f"{wl.name} gates: {json.dumps(wl.gates())}")

        ctx = Ctx(sess.spark, Tracer(False), sess.cores)
        # memory does not repeat within a tenth from run to run, so it is
        # sampled (during the untraced loop) only for the traced table
        rss = RssSampler(sess.jvm_pid()) if args.trace else contextlib.nullcontext()
        ticks0 = cpu_ticks()
        with rss:
            plain = timed_loop(wl, ctx, args.seconds)
        steal = [b - a for a, b in zip(ticks0, cpu_ticks())]
        lat_ms = [x * 1000 for x in plain.latencies] or [0.0]
        tail = stats.tail(lat_ms)
        log(f"{wl.name}: {plain.attempted} requests, {plain.failed} failed, "
            f"{plain.items} {wl.items}, "
            f"p50 {stats.median(lat_ms):.1f} ms"
            + (f", p{tail[0]:.1f} {tail[1]:.1f} ms" if tail else
               f", no tail percentile with {stats.MIN_BEYOND} samples beyond")
            + f" (n={len(lat_ms)}); latencies {[round(x) for x in lat_ms]} ms;"
            f" setups {[round(s, 3) for s in setups]} s;"
            f" steal {steal[0] / max(steal[1], 1):.1%} of CPU time in the loop")
        attempted, failed = plain.attempted, plain.failed

        if not args.trace:
            values = {
                "setup_s": stats.median(setups),
                "items_per_s": plain.items_per_s,
                "call_p50_ms": stats.median(lat_ms),
            }
            units = END_TO_END
        else:
            tracer = Tracer(True, set_group=sess.set_group)
            tctx = Ctx(sess.spark, tracer, sess.cores)
            traced = timed_loop(wl, tctx, args.seconds)
            walls = dict(tracer.request_walls)
            extras = wl.traced_extras(tctx)
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            tracer.dump(os.path.join(
                WORK, "traces", f"{wl.name}-seed{args.seed}.json"))
            sess.close()
            sess = None
            (log_file,) = [os.path.join(elog, f) for f in os.listdir(elog)]
            values = layer_table(tracer.spans, walls, read_groups(log_file),
                                 tctx.cores, extras)
            attempted += traced.attempted
            failed += traced.failed
            c = tctx.counters
            values["models.fit_failures"] = (
                c.get("fit_failures", 0) / max(c.get("fit_requests", 0), 1))
            fits = c.get("fit_series", 0) + ctx.counters.get("fit_series", 0)
            bad = c.get("fit_failures", 0) + ctx.counters.get("fit_failures", 0)
            values["fit_fail_ratio"] = bad / fits if fits else 0.0
            values["pipeline.persisted_bytes"] = float(c.get("persisted_bytes", 0))
            values["op_fail_ratio"] = failed / attempted
            values["trace.overhead"] = (
                traced.items_per_s / plain.items_per_s if plain.items_per_s else 0.0)
            values["peak_rss_mb"] = rss.peak / 2**20
            units = PER_LAYER
    finally:
        if sess is not None:
            sess.close()
        shutil.rmtree(run_dir, ignore_errors=True)

    metrics = {k: {"value": float(values[k]), "unit": u} for k, u in units.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
