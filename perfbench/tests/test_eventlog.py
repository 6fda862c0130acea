"""The event-log reader against a small recorded log: one parquet write
under one job group, one aggregation read under another, and one untagged
count (recorded from Spark 4.1 at local[4], trimmed to the events and
fields the reader uses)."""

import os

import pytest

from perfbench.eventlog import GroupStats, read_groups

LOG = os.path.join(os.path.dirname(__file__), "data", "eventlog_small.json")


@pytest.fixture(scope="module")
def groups():
    return read_groups(LOG)


def test_groups_are_the_job_groups_set_by_the_caller(groups):
    assert set(groups) == {"r0.s0.sources.write.action",
                           "r0.s1.operators.agg.action", ""}


def test_counts_per_group(groups):
    w = groups["r0.s0.sources.write.action"]
    assert (w.jobs, w.stages, w.tasks) == (1, 1, 2)
    assert w.output_bytes == 5665 and w.input_bytes == 0
    a = groups["r0.s1.operators.agg.action"]
    assert (a.jobs, a.stages, a.tasks) == (3, 3, 4)
    assert a.input_bytes == 2194
    # what the aggregation's map side wrote is what its reduce side read
    assert a.shuffle_write_bytes == a.shuffle_read_bytes == 461


def test_times_and_python_share(groups):
    w = groups["r0.s0.sources.write.action"]
    assert w.run_ms == 1986 and w.cpu_ms == pytest.approx(881.5, abs=0.1)
    assert w.python_ms == pytest.approx(w.run_ms - w.cpu_ms - w.deser_ms, abs=1e-6)
    assert w.task_seconds == pytest.approx(sum(w.task_ms[0]) / 1000)


def test_max_over_median_uses_the_heaviest_stage():
    g = GroupStats(task_ms={1: [10.0, 10.0, 40.0], 2: [1.0, 1.0]})
    assert g.max_over_median() == 4.0
    assert GroupStats().max_over_median() == 0.0


def test_add_sums_counts_and_merges_stages():
    a = GroupStats(jobs=1, tasks=2, task_ms={1: [1.0, 2.0]})
    a.add(GroupStats(jobs=2, tasks=1, task_ms={1: [3.0], 2: [4.0]}))
    assert (a.jobs, a.tasks) == (3, 3)
    assert a.task_ms == {1: [1.0, 2.0, 3.0], 2: [4.0]}
