"""Correctness checks, run on each request's output outside the timed region.

Each check returns a list of problems; an empty list is a pass. Where a
call mirrors an entry query, the expected frame is that query's
``oracle_sql()`` run through DuckDB over the same generated parquet, and
the comparison is ``tools.check_correctness.compare`` in strict mode. The
time-series chain of ``ts_prep`` is replayed in numpy, dedup is checked
against exact Jaccard recomputed in Python and the planted clusters, and
fits against the ``fit_improvement`` certificate.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from .inputs import HOURS, JAN_START_US


def duckdb_con(table_dir: str, series_path: str | None = None):
    """DuckDB connection with a view per generated table. A dense series
    table is exposed as an ``events`` view (one row per non-NaN cell,
    hourly timestamps), so the entry oracles over ``events`` apply to it."""
    import duckdb

    con = duckdb.connect()
    for t in ("events", "documents"):
        p = os.path.join(table_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    if series_path is not None:
        con.sql(f"""
            CREATE VIEW events AS
            SELECT CAST(key AS BIGINT) AS user_id,
                   TIMESTAMP '2024-01-01' + to_hours(CAST(i - 1 AS BIGINT)) AS ts,
                   v AS value
            FROM (SELECT key, unnest(series) AS v,
                         generate_subscripts(series, 1) AS i
                  FROM '{series_path}')
            WHERE NOT isnan(v)
        """)
    return con


def oracle(con, name: str) -> pd.DataFrame:
    import __spark_entry__ as entry

    return con.sql(entry.oracle_sql()[name]).df()


def compare_frames(name: str, got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    from tools.check_correctness import compare

    problems, _ = compare(name, got, want, strict=True)
    return problems


def stable_round(x, digits: int):
    """numpy twin of the entry queries' ``_stable_round``."""
    s = float(10 ** digits)
    return np.floor(np.asarray(x, dtype=float) * s + 0.500001) / s


# -- ts_prep -----------------------------------------------------------------

ROLL = 24


def ts_prep_reference(events: pd.DataFrame) -> dict[str, np.ndarray]:
    """Replay resample(hourly avg) → fill_linear → differences(1) →
    roll_mean(24, right) → to_series in numpy: key → series over locations
    24..743 (NaN where undefined)."""
    us = events["ts"].astype("datetime64[us]").astype(np.int64).to_numpy()
    loc = (us - JAN_START_US) // 3_600_000_000
    keys = events["user_id"].to_numpy()
    vals = events["value"].to_numpy(dtype=float)
    out = {}
    n_keys = int(keys.max()) + 1
    sums = np.zeros((n_keys, HOURS))
    cnts = np.zeros((n_keys, HOURS))
    np.add.at(sums, (keys, loc), vals)
    np.add.at(cnts, (keys, loc), 1)
    with np.errstate(invalid="ignore", divide="ignore"):
        grid = sums / cnts
    idx = np.arange(HOURS, dtype=float)
    for k in np.unique(keys):
        v = grid[k]
        ok = ~np.isnan(v)
        pos = np.flatnonzero(ok)
        filled = v.copy()
        if len(pos) >= 2:
            inner = (idx > pos[0]) & (idx < pos[-1]) & ~ok
            j = np.searchsorted(pos, idx[inner])
            pi, ni = pos[j - 1], pos[j]
            frac = (idx[inner] - pi) / (ni - pi)
            filled[inner] = v[pi] + (v[ni] - v[pi]) * frac
        d = filled[1:] - filled[:-1]  # locations 1..743
        win = np.lib.stride_tricks.sliding_window_view(d, ROLL)
        out[str(k)] = win.mean(axis=1)  # NaN when any cell is NaN
    return out


def check_ts_prep(out_dir: str, ref: dict[str, np.ndarray]) -> list[str]:
    t = pq.read_table(out_dir).to_pydict()
    got = dict(zip(t["key"], t["series"]))
    problems = []
    if set(got) != set(ref):
        problems.append(
            f"keys: {len(set(got) - set(ref))} unexpected, "
            f"{len(set(ref) - set(got))} missing")
    bad = 0
    for k in set(got) & set(ref):
        g = np.asarray(got[k], dtype=float)
        w = ref[k]
        if g.shape != w.shape or not np.allclose(
                g, w, rtol=1e-9, atol=1e-9, equal_nan=True):
            bad += 1
    if bad:
        problems.append(f"{bad} series differ from the numpy replay")
    return problems


# -- model_fit ---------------------------------------------------------------

def check_certificate(got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    """Every series comes back with its observation count and ok = true
    (the entry oracle of the ``*_fit`` certificate queries)."""
    return compare_frames("fit_improvement", got, want)


def check_tests(got: pd.DataFrame, adf_want: pd.DataFrame) -> list[str]:
    """ADF statistic against the ``adf_test`` oracle; KPSS and Ljung-Box
    must be finite with p in [0, 1] where a p is defined."""
    adf = pd.DataFrame({
        "key": got["key"],
        "adf_stat": stable_round(got["adf_stat"], 4),
    })
    problems = compare_frames("adf_test", adf, adf_want)
    for col in ("kpss_stat", "lb_stat"):
        if not np.isfinite(got[col].to_numpy(dtype=float)).all():
            problems.append(f"{col}: non-finite values")
    p = got["lb_p"].to_numpy(dtype=float)
    if not ((p >= 0) & (p <= 1)).all():
        problems.append("lb_p outside [0, 1]")
    return problems


# -- corpus_dedup ------------------------------------------------------------

def shingle_set(text: str, n: int = 3) -> frozenset:
    w = text.split()
    if len(w) < n:
        return frozenset()
    return frozenset(" ".join(w[i:i + n]) for i in range(len(w) - n + 1))


def jaccard(a: frozenset, b: frozenset) -> float:
    u = len(a | b)
    return len(a & b) / u if u else float("nan")


def planted_pairs(sets: list[frozenset], cluster: np.ndarray, min_j: float):
    """Same-cluster pairs whose exact Jaccard is at least ``min_j``."""
    members: dict[int, list[int]] = {}
    for i, c in enumerate(cluster):
        if c >= 0:
            members.setdefault(int(c), []).append(i)
    out = set()
    for ids in members.values():
        for x in range(len(ids)):
            for y in range(x + 1, len(ids)):
                a, b = sorted((ids[x], ids[y]))
                if jaccard(sets[a], sets[b]) >= min_j:
                    out.add((a, b))
    return out


def components(pairs) -> dict[int, int]:
    """Union-find: id → min id of its component, for ids in ``pairs``."""
    parent: dict[int, int] = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def check_dedup(
    pairs: pd.DataFrame, comp: pd.DataFrame, kept: np.ndarray,
    sets: list[frozenset], cluster: np.ndarray, threshold: float,
    must_find: set, min_recall: float = 0.99,
) -> list[str]:
    problems = []
    a = pairs["id_a"].to_numpy()
    b = pairs["id_b"].to_numpy()
    j = pairs["jaccard"].to_numpy(dtype=float)
    exact = np.array([jaccard(sets[x], sets[y]) for x, y in zip(a, b)])
    if len(set(zip(a.tolist(), b.tolist()))) != len(a) or (a >= b).any():
        problems.append("pairs are not distinct ordered (id_a < id_b) pairs")
    if not np.allclose(j, exact, rtol=0, atol=1e-12):
        problems.append(f"{int((~np.isclose(j, exact, rtol=0, atol=1e-12)).sum())} "
                        "pairs report a Jaccard that differs from the exact one")
    if (exact < threshold).any():
        problems.append(f"{int((exact < threshold).sum())} pairs below threshold")
    ca, cb = cluster[a], cluster[b]
    if ((ca != cb) | (ca < 0)).any():
        problems.append(f"{int(((ca != cb) | (ca < 0)).sum())} pairs outside "
                        "the planted clusters")
    found = set(zip(a.tolist(), b.tolist()))
    if must_find:
        recall = len(found & must_find) / len(must_find)
        if recall < min_recall:
            problems.append(f"recall {recall:.4f} of planted pairs < {min_recall}")
    want = components(found)
    got = dict(zip(comp["id"].tolist(), comp["component"].tolist()))
    if got != want:
        problems.append("components differ from union-find over the pairs")
    drop = {x for x, c in want.items() if x != c}
    want_kept = np.array(sorted(set(range(len(sets))) - drop))
    if not np.array_equal(np.sort(kept), want_kept):
        problems.append("kept documents differ from the min-id representatives")
    return problems
