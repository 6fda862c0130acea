import json

from perfbench.compare import load_runs, main, pair_up, verdict


def test_verdicts():
    a = [100.0, 101.0, 99.0, 100.0, 102.0, 98.0, 100.0, 101.0, 99.0, 100.0]
    faster = [x * 1.2 for x in a]
    pairs = list(zip(a, faster))
    assert verdict(a, faster, pairs, "higher", 0.1)[0] == "improved"
    assert verdict(a, a, list(zip(a, a)), "higher", 0.1) == ("no worse", 0.0)
    slower = [x * 0.8 for x in a]
    assert verdict(a, slower, list(zip(a, slower)), "higher", 0.1)[0] == "worse"
    wide = [50.0, 150.0, 100.0, 60.0, 140.0]
    assert verdict(wide, wide, list(zip(wide, wide)), "higher", 0.1)[0] == "unresolved"
    # a zero median gives no ratio to judge by
    zeros = [0.0, 0.0, 0.0]
    assert verdict(zeros, [1.0, 1.0, 1.0], [], "lower", 0.1) == ("unresolved", 0.0)


def test_pairs_by_seed_else_by_order():
    assert pair_up([(1, 1.0), (2, 2.0)], [(2, 20.0), (1, 10.0)]) == [(1.0, 10.0), (2.0, 20.0)]
    assert pair_up([(1, 1.0)], [(7, 9.0)]) == [(1.0, 9.0)]


def _write(path, workload, metrics, correct=True):
    with open(path, "a") as f:
        f.write(json.dumps({"workload": workload, "seed": 1, "result": {
            "correct": correct, "attempted": 1, "failed": 0,
            "metrics": {k: {"value": v, "unit": "s"} for k, v in metrics.items()}}}) + "\n")


def test_incorrect_runs_are_ignored(tmp_path):
    p = tmp_path / "a.jsonl"
    _write(p, "w", {"setup_s": 1.0}, correct=False)
    assert load_runs(str(p)) == {}


def test_empty_intersection_is_an_error_not_a_crash(tmp_path, capsys):
    a, b = tmp_path / "a.jsonl", tmp_path / "b.jsonl"
    _write(a, "ts_prep", {"setup_s": 1.0})
    _write(b, "model_fit", {"setup_s": 1.0})
    assert main([str(a), str(b)]) == 1
    _write(b, "ts_prep", {"not_declared": 1.0})
    assert main([str(a), str(b)]) == 1
    assert "no end-to-end metric" in capsys.readouterr().out


def test_compare_prints_every_shared_metric(tmp_path, capsys):
    a, b = tmp_path / "a.jsonl", tmp_path / "b.jsonl"
    _write(a, "ts_prep", {"setup_s": 2.0, "items_per_s": 0.0})
    _write(b, "ts_prep", {"setup_s": 2.0, "items_per_s": 5.0})
    assert main([str(a), str(b)]) == 0
    out = capsys.readouterr().out
    assert "setup_s" in out and "no worse" in out
    assert "items_per_s" in out and "n/a" in out and "unresolved" in out
