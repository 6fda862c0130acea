import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import checks, inputs
from perfbench.run import LoopResult, timed_loop
from perfbench.trace import Tracer
from perfbench.workloads import Ctx, Request


def test_ts_prep_replay_accepts_itself_and_rejects_a_corrupted_value(tmp_path):
    ev = inputs.events_table(2, 10, 600, 20.0).to_pandas()
    ref = checks.ts_prep_reference(ev)
    keys = sorted(ref)
    out = tmp_path / "out"
    out.mkdir()

    def write(series):
        pq.write_table(pa.table({"key": keys, "series": [series[k].tolist() for k in keys]}),
                       out / "part-0.parquet")

    write(ref)
    assert checks.check_ts_prep(str(out), ref) == []
    bad = {k: v.copy() for k, v in ref.items()}
    k = keys[0]
    bad[k][np.flatnonzero(np.isfinite(bad[k]))[0]] += 1e-6
    write(bad)
    assert checks.check_ts_prep(str(out), ref) == ["1 series differ from the numpy replay"]


def test_fill_replay_interpolates_interior_gaps_only():
    ev = pd.DataFrame({
        "user_id": [0, 0, 0],
        "ts": pd.to_datetime(["2024-01-01 00:10", "2024-01-01 04:00", "2024-01-01 08:30"]),
        "value": [1.0, 5.0, 3.0],
    })
    r = checks.ts_prep_reference(ev)["0"]
    # differences of a line with slope 1 are 1, then slope -0.5; the 24-wide
    # windows reach the NaN tail past hour 8, so every window is NaN
    assert r.shape == (inputs.HOURS - checks.ROLL,) and np.isnan(r).all()


def test_entry_compare_flags_a_corrupted_frame():
    want = pd.DataFrame({"key": ["0", "1"], "n": [3, 4], "ok": [True, True]})
    assert checks.check_certificate(want.copy(), want) == []
    got = want.copy()
    got.loc[1, "ok"] = False
    assert checks.check_certificate(got, want) != []


def _dedup_case():
    texts = ["a b c d e f", "a b c d e g", "p q r s t u", "x y z w v u"]
    sets = [checks.shingle_set(t) for t in texts]
    cluster = np.array([0, 0, -1, -1])
    j = checks.jaccard(sets[0], sets[1])
    pairs = pd.DataFrame({"id_a": [0], "id_b": [1], "jaccard": [j]})
    comp = pd.DataFrame({"id": [0, 1], "component": [0, 0]})
    kept = np.array([0, 2, 3])
    return pairs, comp, kept, sets, cluster


def test_dedup_check_accepts_the_truth_and_rejects_corruptions():
    pairs, comp, kept, sets, cluster = _dedup_case()
    must = checks.planted_pairs(sets, cluster, 0.5)
    assert must == {(0, 1)}
    assert checks.check_dedup(pairs, comp, kept, sets, cluster, 0.5, must) == []
    bad = pairs.assign(jaccard=pairs["jaccard"] + 0.01)
    assert checks.check_dedup(bad, comp, kept, sets, cluster, 0.5, must)
    assert checks.check_dedup(pairs, comp, np.array([0, 1, 2, 3]), sets, cluster, 0.5, must)
    empty = pairs.iloc[:0]
    assert any("recall" in p for p in checks.check_dedup(
        empty, comp.iloc[:0], np.arange(4), sets, cluster, 0.5, must))


def test_union_find_takes_the_min_id():
    assert checks.components([(3, 5), (5, 9), (1, 2)]) == {3: 3, 5: 3, 9: 3, 1: 1, 2: 1}


def test_failed_checks_count_in_the_fail_ratio():
    r = LoopResult()
    r.record("fit", 0.5, 10, [])
    r.record("fit", 0.7, 10, ["col x: 1 mismatches"])
    assert (r.attempted, r.failed, r.items) == (2, 1, 10)
    assert r.items_per_s == 20.0


def test_items_per_s_is_a_rotation_of_median_requests():
    r = LoopResult()
    for s in (1.0, 1.2, 9.0):  # one stalled prep moves the median, not the mean
        r.record("prep", s, 100, [])
    for s in (0.4, 0.6):
        r.record("fit", s, 50, [])
    assert r.items_per_s == (100 + 50) / (1.2 + 0.5)


class _Corrupting:
    name = "fake"

    def __init__(self):
        self.n = 0

    def rotation(self):
        self.n += 1
        good = pd.DataFrame({"key": ["0"], "n": [1], "ok": [True]})

        def run(ctx):
            return good.assign(ok=self.n % 2 == 0)  # every other output is corrupt

        return [Request("fit", 1, run,
                        lambda ctx, out: checks.check_certificate(out, good))]

    def after_request(self, ctx):
        pass


def test_timed_loop_counts_corrupted_outputs_as_failed():
    ctx = Ctx(None, Tracer(False), 1)
    res = timed_loop(_Corrupting(), ctx, seconds=1e-12)
    assert (res.attempted, res.failed) == (1, 1)
    assert res.latencies == [] and res.items == 0
