"""Resampling with the reference's four boundary regimes, plus down/upsample.

Reference kernel: ``/root/reference/src/main/scala/com/cloudera/sparkts/Resample.scala:20-122``
— time is partitioned into non-overlapping windows, one per target-index
stamp; ``closedRight`` picks which edge is closed, ``stampRight`` whether the
stamp labels the window's end or start; empty windows yield NaN; with
``stampRight=False`` leading observations before the first window are dropped
and trailing ones all fall into the last window (ASCII spec at
``Resample.scala:62-86``, leading-skip ``:91-98``).

Spark-first design: the sequential merge of the reference reduces to a pure
**bucket formula** per observation. With ``n_lt`` = #stamps < ts and
``n_le`` = #stamps ≤ ts (target stamps sorted):

====================  =========================  ==================
regime                window per stamp           bucket loc
====================  =========================  ==================
open-R,  stamp-L      [cur, next)                n_le − 1  (drop <0)
closed-R, stamp-L     (cur, next]                n_lt − 1  (drop <0)
open-R,  stamp-R      [prev, cur)                n_le      (drop =m)
closed-R, stamp-R     (prev, cur]                n_lt      (drop =m)
====================  =========================  ==================

For uniform duration/day-frequency targets both counts are O(1) arithmetic on
epoch micros (whole-stage codegen, no join, no shuffle beyond the final
groupBy). For irregular / calendar-frequency targets the sorted stamp array is
broadcast as a literal and counted with ``F.filter``+``F.size`` — O(m) JVM
work per row, zero Python, still shuffle-free (use only when the target index
is modest; resampling targets almost always are).

The aggregation itself is one ``groupBy(key, loc)`` — a single shuffle —
followed by an optional left join from the key×stamp grid to materialize
empty windows as NULL (matching the reference's NaN).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..frequencies import DayFrequency, DurationFrequency, WeekFrequency
from ..index import DateTimeIndex, UniformDateTimeIndex

#: index-length bound for the one-pass map-based dense grid in
#: :func:`resample` / ``align.from_observations`` — one key's cell map must
#: stay row-sized; longer indices fall back to the classic key×instant
#: grid join, which scales to billions of instants.
MAP_GRID_MAX_INSTANTS = 65536


def _floordiv(a: Column, b: int) -> Column:
    return ((a - F.pmod(a, F.lit(b))) / F.lit(b)).cast("long")


def _clamp(c: Column, lo: int, hi: int) -> Column:
    return F.greatest(F.lit(lo), F.least(F.lit(hi), c))


def _uniform_step_us(index: UniformDateTimeIndex) -> int | None:
    """The index step in µs; None for calendar frequencies (no fixed
    step)."""
    f = index.freq
    if isinstance(f, DurationFrequency):
        return f.nanos // 1000
    if isinstance(f, DayFrequency):
        return f.days * 86_400_000_000
    if isinstance(f, WeekFrequency):
        return f.weeks * 7 * 86_400_000_000
    return None


def _counts_uniform(ts: Column, index: UniformDateTimeIndex):
    """(n_lt, n_le) via O(1) epoch-micros arithmetic."""
    step = _uniform_step_us(index)
    if step is None:
        return None
    m = index.size
    start_us = index.start.value // 1000
    delta = F.unix_micros(ts) - F.lit(start_us)
    n_le = _clamp(_floordiv(delta, step) + 1, 0, m)
    n_lt = _clamp(_floordiv(delta - 1, step) + 1, 0, m)
    return n_lt, n_le


def _counts_array(ts: Column, index: DateTimeIndex):
    """(n_lt, n_le) by counting over a broadcast sorted stamp-array literal."""
    stamps = [int(v) // 1000 for v in index.to_pandas().asi8]
    arr = F.array(*[F.lit(s) for s in stamps])
    us = F.unix_micros(ts)
    n_lt = F.size(F.filter(arr, lambda x: x < us))
    n_le = F.size(F.filter(arr, lambda x: x <= us))
    return n_lt, n_le


def bucket_loc(
    ts: Column,
    target_index: DateTimeIndex,
    closed_right: bool = False,
    stamp_right: bool = False,
) -> Column:
    """Target-index location for an observation timestamp under the given
    regime; NULL for observations outside every window."""
    counts = None
    if isinstance(target_index, UniformDateTimeIndex):
        counts = _counts_uniform(ts, target_index)
    if counts is None:
        counts = _counts_array(ts, target_index)
    n_lt, n_le = counts
    m = target_index.size
    if not stamp_right:
        loc = (n_lt if closed_right else n_le) - 1
        return F.when(loc >= 0, loc)
    loc = n_lt if closed_right else n_le
    return F.when(loc < m, loc)


def resample(
    df: DataFrame,
    target_index: DateTimeIndex,
    aggr: str | Column = "avg",
    closed_right: bool = False,
    stamp_right: bool = False,
    key_col: str = "key",
    ts_col: str = "ts",
    value_col: str = "value",
    dense: bool = True,
    keys_df: DataFrame | None = None,
) -> DataFrame:
    """Downsample observations onto ``target_index``.

    ``aggr``: name of a builtin aggregate ("avg","sum","min","max","count",
    "first","last", ...) or a full Column aggregate expression over
    ``value_col``. ``dense=True`` reinserts empty windows as NULL values via a
    key×stamp grid join (reference: NaN, ``Resample.scala:113-115``).

    ``keys_df``: optional cheap key universe for the dense grid — same
    escape hatch as ``align.from_observations``: the default derives keys
    from ``df`` itself, which re-executes ``df``'s whole plan a second
    time when it is an expensive pipeline.

    Returns ``(key, loc, ts, value)``.
    """
    loc = bucket_loc(F.col(ts_col), target_index, closed_right, stamp_right)
    agg_expr = (
        getattr(F, aggr)(value_col) if isinstance(aggr, str) else aggr
    ).alias(value_col)
    # caller-supplied Column aggregates take the classic dense path: they
    # may embed side-effecting expressions — raise_error validators —
    # that must not see the unfiltered loc-NULL group
    return _to_grid(
        df.withColumn("loc", loc), agg_expr, target_index, key_col,
        value_col, dense,
        None if keys_df is None
        else keys_df.select(F.col(keys_df.columns[0]).alias(key_col)),
        map_ok=isinstance(aggr, str),
    )


def _to_grid(
    located: DataFrame,
    agg: Column,
    index: DateTimeIndex,
    key_col: str,
    value_col: str,
    dense: bool,
    keys: DataFrame | None,
    map_ok: bool,
) -> DataFrame:
    """``located`` (``key_col``, ``loc`` (NULL off-index), …) aggregated
    per (key, loc) with ``agg`` (aliased ``value_col``) onto ``index`` →
    ``(key, loc, ts, value)``; the one builder behind :func:`resample`
    and ``align.from_observations``.

    ``dense=False`` keeps only the observed cells. ``dense=True`` emits
    one row per key×instant, NULL where nothing was observed, over the
    key universe ``keys`` (one column ``key_col``) or, when None, the
    keys of ``located``. A NULL key is one series like any other on
    every path. Two dense plans, the same cells:

    - **map grid** (``keys`` None, ``map_ok``, index of at most
      :data:`MAP_GRID_MAX_INSTANTS` instants): aggregate WITHOUT the loc
      filter (so a key whose observations all fall outside the index
      still owns a group and survives as an all-NULL series), fold each
      key's cells into a loc→value map, and emit per_key ×
      broadcast(index) with a map lookup — one data pass, no second
      keys scan, no (key, loc) grid join and its exchanges. A map of the
      whole index per key must stay row-sized, hence the bound.
    - **grid join** otherwise: keys × broadcast(index) left-joined to
      the binned cells, null-safe on the key; scales to billion-instant
      indices.
    """
    idx = F.broadcast(index.to_df(located.sparkSession))
    map_ok = map_ok and keys is None and len(index) <= MAP_GRID_MAX_INSTANTS
    if dense and map_ok:
        per_key = (
            located.groupBy(key_col, "loc")
            .agg(agg)
            .groupBy(key_col)
            .agg(
                F.map_from_entries(
                    F.collect_list(
                        F.when(
                            F.col("loc").isNotNull(),
                            F.struct("loc", value_col),
                        )
                    )
                ).alias("_cells")
            )
        )
        cell = F.col("_cells")[F.col("loc")].alias(value_col)
        return per_key.crossJoin(idx).select(key_col, "loc", "ts", cell)
    binned = (
        located.where(F.col("loc").isNotNull())
        .groupBy(key_col, "loc")
        .agg(agg)
    )
    if not dense:
        return binned.join(idx, "loc").select(key_col, "loc", "ts", value_col)
    keys = (keys if keys is not None else located.select(key_col)).distinct()
    cells = binned.select(
        F.col(key_col).alias("_bk"), F.col("loc").alias("_bl"), value_col
    )
    on = F.col(key_col).eqNullSafe(F.col("_bk")) & (
        F.col("loc") == F.col("_bl")
    )
    return keys.crossJoin(idx).join(cells, on, "left").select(
        key_col, "loc", "ts", value_col
    )


def downsample(
    df: DataFrame,
    n: int,
    phase: int = 0,
    key_col: str = "key",
    order_col: str = "loc",
) -> DataFrame:
    """Take every n-th element (``UnivariateTimeSeries.scala:332-345``).
    Positions are index locs, so this is a pushdown-friendly filter."""
    return df.where(F.pmod(F.col(order_col), F.lit(n)) == phase)


def upsample(
    df: DataFrame,
    n: int,
    phase: int = 0,
    use_zero: bool = False,
    key_col: str = "key",
    order_col: str = "loc",
    value_col: str = "value",
) -> DataFrame:
    """Insert missing cells around each element, reference-faithfully
    (``UnivariateTimeSeries.scala:355-373``): the new grid is the FULL
    ``[0, n·len)`` (newLen = origLen·n, trailing fillers included) with
    original values at ``i·n + phase`` — each input loc emits exactly its
    n grid cells, the value landing where the fan offset equals
    ``phase``. Row-local (one explode, no join, no global max); an
    earlier formulation truncated the grid at the last value and shifted
    it by phase, diverging from the reference for phase > 0."""
    if not 0 <= phase < n:
        raise ValueError(f"phase must be in [0, {n}), got {phase}")
    return df.select(
        key_col,
        F.explode(F.sequence(F.lit(0), F.lit(n - 1))).alias("_o"),
        (F.col(order_col) * n + F.col("_o")).alias(order_col),
        F.when(F.col("_o") == phase, F.col(value_col))
        .otherwise(F.lit(0.0) if use_zero else F.lit(None))
        .alias(value_col),
    ).select(key_col, order_col, value_col)


def ohlc(
    df: DataFrame,
    unit: str = "day",
    key_col: str = "key",
    ts_col: str = "ts",
    value_col: str = "value",
    volume_col: str | None = None,
) -> DataFrame:
    """OHLC bars per (key, ``date_trunc(unit)`` bucket) → (key, bar_ts,
    open, high, low, close, n[, vwap]): the canonical tick→bar
    downsample every market-data / metrics pipeline runs. Beyond-
    reference (the reference's resample takes ONE aggregate per call;
    bars need four positional ones).

    ``open``/``close`` are the values at the bucket's first/last
    timestamp, tie-broken by SMALLEST/LARGEST value on duplicate
    timestamps (stated: a deterministic pick, so two engines and two
    runs agree — min/max over a (ts, value) struct, which Spark
    aggregates WITHOUT a sort window). ``vwap`` = Σ v·vol / Σ vol when
    ``volume_col`` is given (NULL on zero total volume). NULL values are
    skipped; empty buckets emit no row (join a calendar for dense bars —
    the ``resample(dense=True)`` pattern).

    Plan: ONE map-side-combinable groupBy over (key, bucket) — min/max
    of structs and sums; no window, no second exchange."""
    v = F.col(value_col)
    pts = df.where(v.isNotNull())
    bar = F.date_trunc(unit, F.col(ts_col)).alias("bar_ts")
    aggs = [
        F.min(F.struct(F.col(ts_col), v)).alias("_o"),
        F.max(v).alias("high"),
        F.min(v).alias("low"),
        F.max(F.struct(F.col(ts_col), v)).alias("_c"),
        F.count(v).alias("n"),
    ]
    if volume_col is not None:
        aggs += [
            F.sum(v * F.col(volume_col)).alias("_pv"),
            F.sum(volume_col).alias("_vol"),
        ]
    out = pts.groupBy(key_col, bar).agg(*aggs)
    out = out.select(
        key_col,
        "bar_ts",
        F.col("_o")[value_col].alias("open"),
        "high",
        "low",
        F.col("_c")[value_col].alias("close"),
        "n",
        *(
            [F.try_divide(F.col("_pv"), F.col("_vol")).alias("vwap")]
            if volume_col is not None
            else []
        ),
    )
    return out


def twa(
    df: DataFrame,
    unit: str = "day",
    key_col: str = "key",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """TIME-weighted average per (key, ``date_trunc(unit)`` bucket) →
    (key, bar_ts, n, span_seconds, twa): each observation weighted by
    the seconds it "holds" — until the NEXT observation in the same
    bucket, or until the bucket's end for the bucket's last one (the
    LOCF-to-bucket-end convention every metering/billing pipeline
    uses). THE correct average for irregular gauges: a plain AVG counts
    a value sampled 100× in one minute 100× — twa counts it by its one
    minute. No carry ACROSS bucket boundaries (a bucket with no
    observations emits no row; its would-be carry value is a fill
    concern, stated). NULL values are skipped; weights are exact
    microsecond differences (both engines derive identical doubles).

    Plan: one (key, bucket)-partitioned lead window + one groupBy on
    the same key — the realized_vol single-exchange shape, all JVM."""
    v = F.col(value_col)
    pts = df.where(v.isNotNull())
    bar = F.date_trunc(unit, F.col(ts_col))
    d = pts.withColumn("_bar", bar)
    w = Window.partitionBy(key_col, "_bar").orderBy(ts_col, value_col)
    bar_end = F.col("_bar") + F.expr(f"INTERVAL 1 {unit}")
    nxt = F.coalesce(F.lead(ts_col).over(w), bar_end)
    wt = (
        F.unix_micros(nxt) - F.unix_micros(F.col(ts_col))
    ).cast("double") / 1e6
    d = d.withColumn("_w", wt)
    return d.groupBy(key_col, F.col("_bar").alias("bar_ts")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("_w").alias("span_seconds"),
        F.try_divide(F.sum(v * F.col("_w")), F.sum("_w")).alias("twa"),
    )


def count_bars(
    df: DataFrame,
    n: int = 50,
    key_col: str = "key",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Event-clock OHLC: bars of exactly ``n`` EVENTS each (the last
    bar per key may be partial) → (key, bar, start_ts, end_ts, open,
    high, low, close, n_events). The market-microstructure alternative
    to wall-clock bars — activity time instead of calendar time, so
    busy periods get more bars and quiet ones fewer, which stabilizes
    per-bar statistics. Bars are numbered 0.. per key in event order
    (ties broken by value — the :func:`ohlc` determinism convention).

    Plan: one (key, ts)-ordered row_number window + ONE map-side-
    combinable groupBy(key, bar) of struct extrema — two exchanges,
    no joins, all JVM."""
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    v = F.col(value_col)
    pts = df.where(v.isNotNull())
    w = Window.partitionBy(key_col).orderBy(ts_col, value_col)
    d = pts.withColumn(
        "bar", F.floor((F.row_number().over(w) - 1) / n)
    )
    return d.groupBy(key_col, "bar").agg(
        F.min(ts_col).alias("start_ts"),
        F.max(ts_col).alias("end_ts"),
        F.min(F.struct(F.col(ts_col), v)).getField(value_col).alias("open"),
        F.max(v).alias("high"),
        F.min(v).alias("low"),
        F.max(F.struct(F.col(ts_col), v)).getField(value_col).alias("close"),
        F.count(F.lit(1)).alias("n_events"),
    )


def bucket_cardinality(
    df: DataFrame,
    unit: str = "day",
    key_col: str = "key",
    ts_col: str = "ts",
    exact: bool = True,
    rsd: float = 0.05,
) -> DataFrame:
    """Per-time-bucket activity cardinality → (bucket, n_events,
    n_unique): events and DISTINCT entities per ``date_trunc(unit)``
    bucket — the DAU/WAU-style audience counter.

    ``exact=True`` (the oracle-replayable form) uses COUNT(DISTINCT):
    correct, but Spark plans it as a two-level aggregate with a SECOND
    shuffle keyed on (bucket, key) — fine while buckets × entities
    fits a shuffle. ``exact=False`` is the 100 TB path:
    ``approx_count_distinct`` (HyperLogLog++, relative error ``rsd``)
    — a mergeable fixed-size sketch, ONE map-side-combinable
    aggregate, no second shuffle (the ``robust_location``/
    ``embedding_dim_stats`` sketch convention; error-envelope-tested
    and plan-pinned)."""
    if unit not in ("hour", "day", "week", "month"):
        raise ValueError(
            f"unit must be one of ['day', 'hour', 'month', 'week'],"
            f" got {unit}"
        )
    bucket = F.date_trunc(unit, F.col(ts_col)).alias("bucket")
    uniq = (
        F.count_distinct(F.col(key_col))
        if exact
        else F.approx_count_distinct(key_col, rsd)
    )
    return df.groupBy(bucket).agg(
        F.count(F.lit(1)).alias("n_events"),
        uniq.alias("n_unique"),
    )


def stickiness(
    df: DataFrame,
    window_days: int = 28,
    key_col: str = "key",
    ts_col: str = "ts",
) -> DataFrame:
    """DAU/MAU engagement ratio per day → (bucket, dau, mau,
    stickiness): ``dau`` = distinct entities active that day, ``mau``
    = distinct entities active in the TRAILING ``window_days``-day
    window ending that day (inclusive), stickiness = dau/mau — the
    standard product-engagement gauge (≈ how many days of the window
    the average active user shows up). Only days with ≥ 1 event emit a
    row (stated: the trailing window is still counted over the full
    calendar, so a gap day inside the window contributes its users to
    later MAUs regardless).

    Plan: rolling COUNT(DISTINCT) has no window form, so the classic
    contribution explode: the DISTINCT (entity, day) activity table
    fans each row out to the ``window_days`` target days it supports
    (one Generate, bounded ×28), then ONE count_distinct aggregate per
    target day — two exchanges over the (entities × days) table, never
    over raw events; no self-join, no per-day re-scan."""
    if window_days < 1:
        raise ValueError(f"window_days must be >= 1, got {window_days}")
    day = F.date_trunc("day", F.col(ts_col))
    acts = df.select(
        F.col(key_col).alias("_k"), day.cast("date").alias("_d")
    ).distinct()
    dau = acts.groupBy(F.col("_d").alias("bucket")).agg(
        F.count_distinct("_k").alias("dau")
    )
    fan = acts.select(
        "_k",
        F.explode(
            F.sequence(F.lit(0), F.lit(window_days - 1))
        ).alias("_off"),
        "_d",
    ).select("_k", F.date_add(F.col("_d"), F.col("_off")).alias("bucket"))
    mau = fan.groupBy("bucket").agg(F.count_distinct("_k").alias("mau"))
    return (
        dau.join(mau, "bucket")
        .select(
            F.col("bucket").cast("timestamp").alias("bucket"),
            "dau", "mau",
            F.try_divide(
                F.col("dau").cast("double"), F.col("mau").cast("double")
            ).alias("stickiness"),
        )
    )
