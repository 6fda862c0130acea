"""tools.compare_bench: inputs with no ratio to form exit non-zero with a
message instead of a ZeroDivisionError traceback."""

import json
import os
import subprocess
import sys

import pytest

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(tmp_path, before, after):
    paths = []
    for name, doc in (("before.json", before), ("after.json", after)):
        p = tmp_path / name
        p.write_text(json.dumps(doc))
        paths.append(str(p))
    return subprocess.run(
        [sys.executable, "-m", "tools.compare_bench", *paths],
        cwd=_ROOT, capture_output=True, text=True, timeout=60,
    )


@pytest.mark.parametrize(
    "before, after",
    [
        # no rows in common
        ({"value": 3.0, "queries": {"a": 1.0}},
         {"value": 2.0, "queries": {"b": 1.0}}),
        # a zero reported total
        ({"value": 3.0, "queries": {"a": 1.0}},
         {"value": 0.0, "queries": {"a": 1.0}}),
        # common rows that sum to zero
        ({"value": 3.0, "queries": {"a": 1.0, "b": 2.0}},
         {"value": 2.0, "queries": {"a": 0.0, "b": 0.0}}),
    ],
    ids=["no_common_rows", "zero_total", "zero_common_sum"],
)
def test_compare_bench_degenerate_inputs_exit_cleanly(tmp_path, before, after):
    r = _run(tmp_path, before, after)
    assert r.returncode != 0
    assert r.stderr.startswith("compare_bench: "), r.stderr
    assert "Traceback" not in r.stderr


def test_compare_bench_reports_common_rows(tmp_path):
    r = _run(
        tmp_path,
        {"value": 4.0, "queries": {"a": 2.0, "b": 2.0, "c": 1.0}},
        {"value": 2.0, "queries": {"a": 1.0, "b": 1.0}},
    )
    assert r.returncode == 0, r.stderr
    assert "common rows: 2  sum 4.0 -> 2.0 (2.000x)  geomean 2.000x" in r.stdout
