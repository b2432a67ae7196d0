"""Distributed EXACT quantiles: value-grid collapse + weighted rank
selection.

The engine's exact-percentile aggregates (``percentile`` /
``percentile_approx`` at accuracy 2^31-1) are oracle-bit-exact but
funnel every value of a column through ONE TypedImperative aggregation
buffer — measured 22s for 3 columns on 6M rows, and flatly impossible
at 100 TB (the buffer is the column). The sketch path
(``percentile_approx`` at accuracy ~1000) is the usual production
answer, but when the answer must be EXACT (SLA percentiles, billing
tiers, regulatory reporting) the scalable plan is selection, not
aggregation:

1. collapse the corpus to the value GRID — ``groupBy(tag, v).count``
   — ONE map-side-combined pass whose shuffle volume is the number of
   DISTINCT values per map task, not the row count. Real columns are
   quantized (money in cents, counts, discrete rates), so the grid is
   typically 10-1000x smaller than the corpus; in the worst case
   (all-unique doubles) it degrades to exactly the row-shuffle the
   previous revision of this operator always paid.
2. one bounded collect (``local.collect_if_small(grid,
   LOCAL_MAX_GRID)``) picks the selection path, the way SystemML
   (VLDB 2016) picks single-node or distributed execution from a size
   estimate (``graph``'s connected components does the same):

   - **Local** (at most ``LOCAL_MAX_GRID`` grid rows, all columns
     together): per tag, numpy sorts the values, takes cumulative
     counts and ``searchsorted``s each needed rank. The moments come
     from the same sorted grid: mean ``fsum(v*cnt)/n``, second moment
     ``fsum(cnt*(v-mean)*(v-mean))``, min and max at its ends.
     ``math.fsum`` is correctly rounded, so the moments do not depend
     on the grid's partitioning and are the same on every run; a
     caller that plans a later pass with them as literals (the
     outlier count) reuses its generated classes. No further Spark
     job runs. Every grid at sf0.1 takes this path.
   - **Distributed** (above it): the grid's cumulative counts over
     its global ``(tag, v)`` order come from ``windows.global_cumsum``,
     the package's one range-prefix pipeline (range layout of the GRID,
     not the corpus; per-partition totals; exclusive offsets; a
     windowed running sum per partition, guarded by the layout
     witness). One weight column per tag, ``cnt`` on that tag's rows,
     makes each row's running count a rank within its tag, and a
     literal OR-predicate over the <= (2 x len(probs) + 2) x len(cols)
     needed ranks, ``cum - cnt <= r < cum``, selects the order
     statistics. The ranks are global per tag, so they do not depend
     on the range layout. The shared totals give each tag's ``n`` and
     ``sum(v*cnt)`` (a sum in partition order), min and max are ranks
     ``0`` and ``n-1``, and the second moment is a second grid-sized
     job with the mean as a literal. No Python, no Arrow transfer
     touches corpus-sized data.

   ``LOCAL_MAX_GRID`` (1M) was set by timing both paths on
   ``local[4]`` on a synthetic 4M-row parquet with a 1M-distinct
   column plus a 1k-distinct one (1.001M grid rows), four reps each
   inside one session, grid aggregate included: local 2.9-3.4 s warm
   against 5.8-6.1 s distributed. Just above the threshold the
   distributed path also pays the discarded bounded collect: 6.2-6.9 s
   against 5.4-6.7 s without it. The bound caps what the driver holds
   (1M rows of a tag, a double and a long, ~25 MB of Arrow).
3. the (<= 2 x len(probs))-value result interpolates on the driver
   with the exact ``percentile_cont`` formula in DuckDB's WEIGHTED
   form — ``v_lo*(1-f) + v_hi*f`` with ``f = (n-1)p - floor((n-1)p)``
   — NOT the algebraically-equal ``v_lo + (v_hi-v_lo)*f``, which
   differs in the last ulp and can flip a downstream round() at a .5
   boundary (observed at sf0.1). Both paths share this tail. The
   bit-exactness reference is DuckDB ``quantile_cont`` (the oracle
   engine), applied unconditionally: Spark's builtin ``percentile``
   uses the same weighted form but its value-deduplicated buffer
   short-circuits tie runs (rank_lo and rank_hi on the same unique
   value return it without arithmetic), so on ties Spark and DuckDB
   themselves differ in the last ulp — this operator sides with the
   oracle (and stays within 1 ulp of Spark, property-tested).

The selected values are the exact stored doubles at the exact global
ranks, so the grid form returns bit-identical results to the previous
row-selection form — ties simply arrive pre-merged.

Peak memory is one partition's slice of the GRID (value-domain-sized),
or the whole grid on the driver's local path; total work is one
map-side-combined corpus aggregate plus grid-sized exchanges. NULLs are excluded, matching ``percentile`` / DuckDB
``quantile_cont`` semantics.
"""

from __future__ import annotations

import math
import operator
from collections.abc import Sequence
from functools import reduce

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .caching import track_scope
from .local import collect_if_small
from .windows import _global_cumsum

# Grid rows (distinct (column, value) pairs, all columns together) at
# or under which selection runs on the driver; the module doc has the
# timing that set it.
LOCAL_MAX_GRID = 1_000_000


def exact_quantiles_multi(
    df: DataFrame,
    cols: Sequence[str],
    probs: Sequence[float],
    num_partitions: int | None = None,
    discrete: bool = False,
) -> dict[str, list[float | None]]:
    """Exact quantiles of several columns in ONE selection pass.

    ``discrete=False`` → ``percentile_cont`` (interpolated), bit-exact
    to DuckDB ``quantile_cont`` (within 1 ulp of Spark ``percentile``,
    which short-circuits tie runs — see module doc).
    ``discrete=True`` → the element at 0-based rank
    ``max(0, ceil(p*n) - 1)`` — verified identical to Spark
    ``percentile_approx(..., 2^31-1)`` AND DuckDB ``quantile_disc``
    (the [5,1] p=0.75 case disambiguates this rank formula from
    ``floor((n-1)p)``).

    Returns ``{col: [value per prob]}`` with None for empty/all-NULL
    columns.
    """
    out, _ = _exact_quantiles_impl(
        df, cols, probs, num_partitions, discrete, with_moments=False
    )
    return out


def exact_quantiles_multi_stats(
    df: DataFrame,
    cols: Sequence[str],
    probs: Sequence[float],
    num_partitions: int | None = None,
    discrete: bool = False,
) -> tuple[dict[str, list[float | None]], dict[str, dict]]:
    """:func:`exact_quantiles_multi` plus per-column moment statistics
    — count / mean / stddev (sample) / min / max — computed from the
    SAME persisted value grid, so a full numeric profile costs exactly
    one corpus pass (``describe_numeric``'s exact path previously
    re-scanned parquet for the moments).

    The mean is ``sum(v*cnt)/n`` on the grid; the variance is the
    SHIFTED second moment ``sum(cnt*(v-mean)^2)/(n-1)`` — on the
    driver over the collected grid, or in a second grid-sized job with
    the mean as a literal on the distributed path — numerically
    stable (no ``E[x^2]-E[x]^2`` cancellation), agreeing with the
    row-wise central-moment accumulators of Spark/DuckDB to ~1e-15
    relative, the same envelope those two engines already differ by.
    A single-value column gets stddev NaN (Spark's ``stddev_samp``
    convention, which the oracle replays via ``CAST('NaN' AS
    DOUBLE)``-tolerant compare).

    Returns ``({col: [value per prob]}, {col: {count, mean, stddev,
    min, max}})``; empty/all-NULL columns are absent from the moments
    dict and None-filled in the quantiles.
    """
    return _exact_quantiles_impl(
        df, cols, probs, num_partitions, discrete, with_moments=True
    )


def _rank_positions(n: int, probs: Sequence[float], discrete: bool) -> list[float]:
    """0-based rank of each prob in a column of ``n`` values: integral
    for ``discrete``, fractional (interpolated between its floor and
    ceiling) for ``percentile_cont``."""
    if discrete:
        return [float(max(0, math.ceil(p * n) - 1)) for p in probs]
    return [(n - 1) * p for p in probs]


def _needed_ranks(n: int, probs: Sequence[float], discrete: bool) -> list[int]:
    return sorted(
        {r for x in _rank_positions(n, probs, discrete) for r in (math.floor(x), math.ceil(x))}
    )


def _exact_quantiles_impl(
    df: DataFrame,
    cols: Sequence[str],
    probs: Sequence[float],
    num_partitions: int | None,
    discrete: bool,
    with_moments: bool,
) -> tuple[dict[str, list[float | None]], dict[str, dict]]:
    if any(not 0.0 <= p <= 1.0 for p in probs):
        raise ValueError(f"probs must be in [0,1], got {list(probs)}")
    if not cols or (not probs and not with_moments):
        return {c: [] for c in cols}, {}

    stack_args = ", ".join(f"'{c}', cast(`{c}` as double)" for c in cols)
    vals = df.selectExpr(f"stack({len(cols)}, {stack_args}) as (tag, v)").filter(
        F.col("v").isNotNull()
    )
    # corpus -> grid: the ONLY corpus-sized stage, map-side combined.
    # The grid itself is persisted because the bounded collect below
    # and, on the distributed path, the range layout's SAMPLING job and
    # the second-moment job would each recompute the whole corpus
    # aggregate otherwise.
    grid = vals.groupBy("tag", "v").agg(
        F.count("*").cast("long").alias("cnt")
    ).persist()
    try:
        small = collect_if_small(grid, LOCAL_MAX_GRID)
        if small is not None:
            n_by_tag, moments, got = _select_local(small, probs, discrete, with_moments)
        else:
            n_by_tag, moments, got = _select_distributed(
                grid, list(cols), num_partitions, probs, discrete, with_moments
            )
    finally:
        grid.unpersist()

    out: dict[str, list[float | None]] = {}
    for c in cols:
        if c not in n_by_tag:  # empty / all-NULL column
            out[c] = [None] * len(probs)
            continue
        vals_out = []
        for x in _rank_positions(n_by_tag[c], probs, discrete):
            if discrete:
                vals_out.append(got[(c, int(x))])
            else:
                lo, hi = math.floor(x), math.ceil(x)
                v_lo, v_hi = got[(c, lo)], got[(c, hi)]
                f = x - lo
                # weighted form — bit-identical to DuckDB
                # quantile_cont, the oracle engine (see module doc)
                vals_out.append(v_lo * (1 - f) + v_hi * f)
        out[c] = vals_out
    return out, moments


def _select_local(
    grid: pa.Table, probs: Sequence[float], discrete: bool, with_moments: bool
) -> tuple[dict[str, int], dict[str, dict], dict[tuple[str, int], float]]:
    """Driver-side selection over the collected grid: per tag, the
    values sorted with their cumulative counts, and each needed rank
    is the first value whose cumulative count exceeds it. The moments
    are correctly rounded sums (``math.fsum``) over the same sorted
    grid, so they do not depend on how Spark partitioned it."""
    tags = grid["tag"].to_numpy(zero_copy_only=False)
    v_all, cnt_all = grid["v"].to_numpy(), grid["cnt"].to_numpy()
    n_by_tag: dict[str, int] = {}
    moments: dict[str, dict] = {}
    got: dict[tuple[str, int], float] = {}
    for tag in sorted(set(tags)):
        mask = tags == tag
        order = np.argsort(v_all[mask])
        v, cnt = v_all[mask][order], cnt_all[mask][order]
        cum = np.cumsum(cnt)
        n = n_by_tag[tag] = int(cum[-1])
        ranks = _needed_ranks(n, probs, discrete)
        for r, i in zip(ranks, np.searchsorted(cum, ranks, side="right")):
            got[(tag, r)] = float(v[i])
        if with_moments:
            mean = math.fsum(v * cnt) / n
            d = v - mean
            # cnt * d * d evaluates left to right, as the Spark
            # expression of the distributed path does
            m2 = math.fsum(cnt * d * d)
            moments[tag] = {
                "count": float(n),
                "mean": mean,
                "stddev": math.sqrt(m2 / (n - 1)) if n > 1 else float("nan"),
                "min": float(v[0]),
                "max": float(v[-1]),
            }
    return n_by_tag, moments, got


def _select_distributed(
    grid: DataFrame,
    tags: Sequence[str],
    num_partitions: int | None,
    probs: Sequence[float],
    discrete: bool,
    with_moments: bool,
) -> tuple[dict[str, int], dict[str, dict], dict[tuple[str, int], float]]:
    """Selection over the grid's global ``(tag, v)`` order with
    ``windows.global_cumsum`` (module doc, step 2). One weight column
    per tag, ``cnt`` on that tag's rows, gives each row the cumulative
    count of its own tag; the row with ``cum - cnt <= r < cum`` holds
    rank ``r``, as in ``functions/metrics.auc_roc``. The grand totals
    give each tag's ``n`` and ``sum(v*cnt)``, and min and max are ranks
    ``0`` and ``n-1``. The range-partitioned grid persisted by the
    shared code is released before returning."""
    is_tag = {t: F.col("tag") == t for t in tags}
    values = {f"__w{i}": F.when(is_tag[t], F.col("cnt")) for i, t in enumerate(tags)}
    if with_moments:
        values |= {
            f"__s{i}": F.when(is_tag[t], F.col("v") * F.col("cnt"))
            for i, t in enumerate(tags)
        }
    with track_scope():
        cum, totals = _global_cumsum(grid, ["tag", "v"], values, num_partitions)
        n_by_tag = {t: int(totals[f"__w{i}"]) for i, t in enumerate(tags) if totals[f"__w{i}"]}
        ranks = {
            t: sorted({*_needed_ranks(n, probs, discrete), *((0, n - 1) if with_moments else ())})
            for t, n in n_by_tag.items()
        }
        own_cum = F.coalesce(
            *[F.when(is_tag[t], F.col(f"cum___w{i}")) for i, t in enumerate(tags)]
        )
        covers = [
            is_tag[t] & (F.col("cum") - F.col("cnt") <= r) & (F.col("cum") > r)
            for t, rs in ranks.items()
            for r in rs
        ]
        rows = (
            cum.select("tag", "v", "cnt", own_cum.alias("cum"))
            .filter(reduce(operator.or_, covers))
            .collect()
            if covers
            else []
        )
    got: dict[tuple[str, int], float] = {}
    for row in rows:
        # one tie run can cover several requested ranks
        for r in ranks[row["tag"]]:
            if row["cum"] - row["cnt"] <= r < row["cum"]:
                got[(row["tag"], r)] = row["v"]

    moments: dict[str, dict] = {}
    if with_moments and n_by_tag:
        mean_by_tag = {
            t: totals[f"__s{i}"] / n_by_tag[t] for i, t in enumerate(tags) if t in n_by_tag
        }
        # the shifted second moment: a second grid-sized job with each
        # tag's mean as a literal (<= len(cols) CASE branches)
        mean = None
        for t, m in mean_by_tag.items():
            mean = (F.when if mean is None else mean.when)(is_tag[t], F.lit(m))
        d = F.col("v") - mean
        m2 = {
            r["tag"]: r["m2"]
            for r in grid.groupBy("tag").agg(F.sum(F.col("cnt") * d * d).alias("m2")).collect()
        }
        for t, n in n_by_tag.items():
            moments[t] = {
                "count": float(n),
                "mean": mean_by_tag[t],
                "stddev": math.sqrt(m2[t] / (n - 1)) if n > 1 else float("nan"),
                "min": got[(t, 0)],
                "max": got[(t, n - 1)],
            }
    return n_by_tag, moments, got


def exact_quantiles_distributed(
    df: DataFrame,
    col: str,
    probs: Sequence[float],
    num_partitions: int | None = None,
) -> list[float | None]:
    """Exact ``percentile_cont`` values of ``df[col]`` at ``probs``.

    Returns one float per prob (None for an empty / all-NULL column),
    computed by grid-collapse weighted selection (see module doc) —
    never by a single-buffer aggregate. Single-column convenience
    wrapper over :func:`exact_quantiles_multi`.
    """
    return exact_quantiles_multi(df, [col], probs, num_partitions=num_partitions)[col]
