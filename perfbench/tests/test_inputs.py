import numpy as np
import pyarrow.compute as pc

from perfbench import inputs
from perfbench.inputs import JAN_START_US, JAN_US


def test_events_same_seed_same_table_other_seed_other_table():
    a = inputs.events_table(7, 30, 900, 20.0)
    assert a.equals(inputs.events_table(7, 30, 900, 20.0))
    assert not a.equals(inputs.events_table(8, 30, 900, 20.0))


def test_events_follow_the_fixture_schema_and_calendar():
    t = inputs.events_table(3, 40, 2000, 20.0)
    assert t.column_names == ["event_id", "ts", "user_id", "event_type", "value", "props"]
    assert t.num_rows == 2000
    users = set(t.column("user_id").to_pylist())
    assert {0, 1, 2} <= users and len(users) == 40
    us = t.column("ts").cast("int64").to_numpy()
    assert us.min() >= JAN_START_US and us.max() < JAN_START_US + JAN_US
    assert (np.diff(us) >= 0).all()


def test_per_key_counts_vary_but_their_multiset_does_not():
    def counts(seed):
        vc = pc.value_counts(inputs.events_table(seed, 50, 5000, 20.0).column("user_id"))
        return sorted(vc.field("counts").to_pylist())
    c1 = counts(1)
    assert c1 == counts(2)
    assert c1[-1] >= 10 * c1[0]


def test_documents_plant_clusters_deterministically():
    t, cl = inputs.documents_table(5, 300, 20, 4)
    t2, cl2 = inputs.documents_table(5, 300, 20, 4)
    assert t.equals(t2) and (cl == cl2).all()
    t3, _ = inputs.documents_table(6, 300, 20, 4)
    assert not t.equals(t3)
    assert t.column_names == ["doc_id", "text", "lang", "source", "n_chars"]
    sizes = np.bincount(cl[cl >= 0])
    assert len(sizes) == 20 and (sizes == 4).all()


def test_series_lengths_are_stratified_and_keyed_independently_of_the_seed():
    def lengths(seed):
        t = inputs.series_table(seed, 12, 48, 480)
        return [int(np.isfinite(np.array(s)).sum()) for s in t.column("series").to_pylist()]
    def cells(seed):
        return np.array(inputs.series_table(seed, 12, 48, 480).column("series").to_pylist())
    assert np.array_equal(cells(4), cells(4), equal_nan=True)
    assert not np.array_equal(cells(4), cells(5), equal_nan=True)
    assert lengths(4) == lengths(5)
    lo, hi = min(lengths(4)), max(lengths(4))
    assert 48 <= lo and hi <= 480 and hi >= 8 * lo
