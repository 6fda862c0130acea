"""Scale-adaptive parallelism helpers for CPU-bound kernel stages.

AQE's partition coalescing is BYTE-based: a shuffle whose output is a few
MB collapses to one post-shuffle partition, which is exactly right for
byte-bound JVM stages and exactly wrong for the CPU-bound Python kernel
stages this package runs downstream of those shuffles (grouped-map model
fits, sequential-posterior filters, FFT/entropy kernels, broadcast-scoring
crossJoins). On a tiny input every per-series estimator then runs
SERIALLY in one Python worker — measured 7× slowdowns at bench scale, and
on a cluster the same mismatch appears whenever an aggregated (small)
frame feeds an expensive kernel.

``spread_kernel`` is the shared fix (r9): an EXPLICIT repartition, which
AQE preserves (it only coalesces ENSURE_REQUIREMENTS exchanges), sized
from the runtime's core count, not from a constant — local[8] gets 17,
local[32] gets 65, a 400-core cluster gets 801. The odd
``2·parallelism + 1`` count deliberately differs from any usual
shuffle-partition setting so the optimizer cannot prune the repartition
as redundant against an upstream exchange (which WOULD be AQE-coalesced:
a window-fill chain over ``partitionBy(key)`` feeding a grouped-map model
fit measured 7× slower, its fits serialized), and the 2×
over-decomposition load-balances CPU-skewed groups.

``spread_rows`` is the keyless variant for row-parallel (not grouped)
kernel stages fed by a single-file scan or a coalesced exchange:
round-robin, same count. Use it before broadcast-scoring joins and
mapInPandas stages whose per-row cost, not byte volume, is the bill.

Neither changes values: grouped-map kernels receive each group WHOLE
either way and sort internally, and row-parallel stages are row-local.

``by_length`` is the one per-length router of the dual-plan operators
(Theil–Sen, Mann–Kendall, the periodogram family, coherence, sample
entropy, Kendall τ, the EMA family): ONE lazy plan in which groups of
length ≤ the operator's bound take the short (SQL-oracle-replayable)
branch and longer ones the long (in-core kernel) branch, unioned — no
driver-side probe. Each bound is a module constant of its operator
(the EMA family derives its bound from α), read when the plan is built.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def kernel_parallelism(df: DataFrame) -> int:
    """Partition count for CPU-bound kernel stages: 2·cores + 1."""
    return 2 * df.sparkSession.sparkContext.defaultParallelism + 1


def spread_kernel(df: DataFrame, *key_cols: str) -> DataFrame:
    """Repartition by the grouping key(s) with an explicit, cores-scaled
    partition count so a downstream grouped-map kernel runs parallel."""
    return df.repartition(
        kernel_parallelism(df), *[F.col(c) for c in key_cols]
    )


def spread_rows(df: DataFrame) -> DataFrame:
    """Round-robin repartition with an explicit, cores-scaled count for
    row-parallel kernel stages (broadcast scoring, mapInPandas decode)."""
    return df.repartition(kernel_parallelism(df))


def by_length(
    df: DataFrame,
    n: str,
    bound: int,
    method: str,
    short: Callable[[DataFrame], DataFrame],
    long: Callable[[DataFrame], DataFrame],
    names: tuple[str, str],
) -> DataFrame:
    """Route ``df`` between two plans of the same result by its per-group
    length column ``n``.

    ``names`` are the method names of (``short``, ``long``). A forced
    ``method`` runs its branch over all of ``df``; ``"auto"`` runs
    ``short`` on the rows with ``n <= bound`` and ``long`` on the rest and
    unions the two by name. The branches drop ``n`` themselves if their
    output must not carry it."""
    if method not in ("auto", *names):
        raise ValueError(
            f"method must be {'|'.join(('auto', *names))}, got {method}"
        )
    if method == names[0]:
        return short(df)
    if method == names[1]:
        return long(df)
    return short(df.where(F.col(n) <= bound)).unionByName(
        long(df.where(F.col(n) > bound))
    )
