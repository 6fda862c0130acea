"""Seeded input generator.

Everything a workload reads is made here from the workload seed and written
as parquet under the run's work directory. The tables follow the repository
fixtures' ``events`` and ``documents`` schemas, on the January-2024 calendar
with user ids 0, 1 and 2 present, so the entry queries' DuckDB oracles apply
to them unchanged.

Sizes are fixed per workload and only the content depends on the seed: the
per-key event counts, document lengths and series lengths are stratified
quantiles of a wide distribution. Cost per key or per series then varies
widely inside a run while the total work of a run stays the same from seed
to seed.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

JAN_START_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
JAN_US = 31 * 24 * 3600 * 1_000_000
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
HOURS = 31 * 24


def stratified(n: int, lo: float, hi: float, rng: np.random.Generator) -> np.ndarray:
    """``n`` log-uniform quantiles between ``lo`` and ``hi`` in seeded order:
    the multiset is the same for every seed, the order is not."""
    q = (np.arange(n) + 0.5) / n
    vals = np.exp(np.log(lo) + q * (np.log(hi) - np.log(lo)))
    return rng.permutation(vals)


def _counts(n_keys: int, n_obs: int, spread: float,
            rng: np.random.Generator) -> np.ndarray:
    """Per-key observation counts that sum to exactly ``n_obs``, the
    largest about ``spread`` times the smallest."""
    w = stratified(n_keys, 1.0, spread, rng)
    c = np.floor(w / w.sum() * n_obs).astype(np.int64)
    c = np.maximum(c, 2)
    short = n_obs - int(c.sum())
    order = np.argsort(-w, kind="stable")
    i = 0
    while short != 0:
        k = order[i % n_keys]
        step = 1 if short > 0 else -1
        if c[k] + step >= 2:
            c[k] += step
            short -= step
        i += 1
    return c


def events_table(seed: int, n_keys: int, n_obs: int, spread: float) -> pa.Table:
    """``events(event_id, ts, user_id, event_type, value, props)``: irregular
    timestamps over January 2024, per-user counts spread over a factor of
    ``spread``, values rounded to cents like the fixtures."""
    rng = np.random.default_rng([seed, 1])
    counts = _counts(n_keys, n_obs, spread, rng)
    user = np.repeat(np.arange(n_keys, dtype=np.int64), counts)
    ts = JAN_START_US + rng.integers(0, JAN_US, size=n_obs)
    level = rng.gamma(2.0, 25.0, size=n_keys)
    value = np.round(level[user] * rng.gamma(4.0, 0.25, size=n_obs), 2)
    order = np.lexsort((user, ts))
    user, ts, value = user[order], ts[order], value[order]
    etype = np.array(EVENT_TYPES, dtype=object)[rng.integers(0, 5, size=n_obs)]
    props = np.char.add(
        np.char.add('{"k": ', rng.integers(0, 100, size=n_obs).astype(str)), "}"
    ).astype(object)
    return pa.table({
        "event_id": pa.array(np.arange(n_obs, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(user),
        "event_type": pa.array(etype, type=pa.string()),
        "value": pa.array(value),
        "props": pa.array(props, type=pa.string()),
    })


# -- documents ---------------------------------------------------------------

_LANGS = ("de", "en", "en", "en", "es", "fr", "zh")


def _vocab(size: int) -> np.ndarray:
    letters = "abcdefghijklmnopqrstuvwxyz"
    words = []
    for i in range(size):
        w, j = "", i
        for _ in range(3):
            w += letters[j % 26]
            j //= 26
        words.append(w + letters[(i * 7) % 26])
    return np.array(words, dtype=object)


def documents_table(
    seed: int, n_docs: int, n_clusters: int, cluster_size: int,
    vocab_size: int = 4000,
) -> tuple[pa.Table, np.ndarray]:
    """``documents(doc_id, text, lang, source, n_chars)`` with planted
    near-duplicate clusters → (table, cluster) where ``cluster[i]`` is the
    planted cluster of document ``i`` (-1 for singletons).

    Each cluster is a base text plus ``cluster_size - 1`` copies with a
    share of their words replaced (0, 2, 5 or 10 %; a 0 % copy is an exact
    duplicate). Singletons are independent random texts. Document ids are
    shuffled so cluster members are not adjacent."""
    rng = np.random.default_rng([seed, 2])
    vocab = _vocab(vocab_size)
    lengths = stratified(n_docs, 20, 160, rng).astype(np.int64)
    cluster = np.full(n_docs, -1, dtype=np.int64)
    texts: list[str] = [""] * n_docs
    pos = 0
    edit_rates = (0.0, 0.02, 0.05, 0.10)
    for c in range(n_clusters):
        base = vocab[rng.integers(0, vocab_size, size=max(lengths[pos], 40))]
        for m in range(cluster_size):
            words = base.copy()
            if m:
                rate = edit_rates[(c + m) % len(edit_rates)]
                hit = rng.random(len(words)) < rate
                words[hit] = vocab[rng.integers(0, vocab_size, size=int(hit.sum()))]
            texts[pos] = " ".join(words)
            cluster[pos] = c
            pos += 1
    for i in range(pos, n_docs):
        texts[i] = " ".join(vocab[rng.integers(0, vocab_size, size=lengths[i])])
    perm = rng.permutation(n_docs)
    texts = [texts[i] for i in perm]
    cluster = cluster[perm]
    lang = np.array(_LANGS, dtype=object)[rng.integers(0, len(_LANGS), size=n_docs)]
    source = np.char.add("src", (np.arange(n_docs) % 5).astype(str)).astype(object)
    table = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts, type=pa.string()),
        "lang": pa.array(lang, type=pa.string()),
        "source": pa.array(source, type=pa.string()),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    return table, cluster


# -- dense series ------------------------------------------------------------

def series_lengths(n_series: int, lo: int, hi: int) -> np.ndarray:
    """The series lengths of ``series_table``, the same for every seed."""
    return stratified(n_series, lo, hi, np.random.default_rng(0)).astype(np.int64)


def series_table(seed: int, n_series: int, lo: int, hi: int) -> pa.Table:
    """Series layout ``(key, series ARRAY<double>)`` on the hourly January
    index (744 instants). Series lengths are stratified between ``lo`` and
    ``hi`` and the cells before a series starts are NaN. Which key holds
    which length does not depend on the seed: the fits are spread over
    partitions by key, so a seeded order would change the busiest
    partition's load, and with it the wall time, from seed to seed. Values
    are a GARCH(1,1)-like return process on a level with a daily cycle, so
    every model in the workload has something to fit."""
    lengths = series_lengths(n_series, lo, hi)
    rng = np.random.default_rng([seed, 3])
    rows = []
    for n in lengths:
        z = rng.standard_normal(n)
        h = np.empty(n)
        e = np.empty(n)
        omega, alpha, beta = 0.05, rng.uniform(0.05, 0.2), rng.uniform(0.6, 0.8)
        h[0] = omega / (1 - alpha - beta)
        e[0] = np.sqrt(h[0]) * z[0]
        for t in range(1, n):
            h[t] = omega + alpha * e[t - 1] ** 2 + beta * h[t - 1]
            e[t] = np.sqrt(h[t]) * z[t]
        t = np.arange(n)
        y = 10.0 + 2.0 * np.sin(2 * np.pi * t / 24) + e
        full = np.full(HOURS, np.nan)
        full[HOURS - n:] = np.round(y, 6)
        rows.append(full.tolist())
    keys = [str(i) for i in range(n_series)]
    return pa.table({
        "key": pa.array(keys, type=pa.string()),
        "series": pa.array(rows, type=pa.list_(pa.float64())),
    })


def write(table: pa.Table, path: str) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return path
