"""Window / sort / top-k operators (SURVEY.md §2.5).

The reference imports ``Window`` but never uses it (W-gap,
``production/data_cleaning.py:9``); its top-k needs are driver-side
(``eda.py:552-553``). Here the full window surface is first-class and
distributed: ranked top-k per group, lag/lead deltas, frequency top-N,
and event sessionization (gap > timeout -> new session), which the
engine adds as the idiomatic-Spark replacement for "days since last
event" style features.

This module also holds the package's one range-prefix pipeline
(``_range_partition_with_offsets``: range layout -> per-partition totals
-> exclusive offsets) and its layout-integrity witness
(``_witnessed``). ``global_cumsum`` and ``global_row_number`` run on it,
and so do their callers and the distributed exact-quantile selection
(``operators/quantiles.py``), so every one of them fails loudly instead
of returning a wrong prefix when the range layout shifts under it.
"""

from __future__ import annotations

import math
from collections.abc import Mapping, Sequence
from itertools import accumulate

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F

from .caching import track


def top_k_per_group(
    df: DataFrame,
    group_cols: Sequence[str],
    order_cols: Sequence,
    k: int,
    rank_col: str = "rank",
) -> DataFrame:
    """row_number()-ranked top-k rows per group; ``order_cols`` must be
    a total order for determinism. One shuffle on the group keys."""
    w = Window.partitionBy(*group_cols).orderBy(*order_cols)
    return (
        df.withColumn(rank_col, F.row_number().over(w))
        .filter(F.col(rank_col) <= k)
    )


def top_n_frequency(df: DataFrame, col: str, n: int = 20) -> DataFrame:
    """Distributed value_counts().head(n) (parity: ``eda.py:552-553``,
    ``617-625`` — there via toPandas). Ties broken by value for
    determinism."""
    return (
        df.groupBy(col)
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy(F.desc("n"), F.asc(col))
        .limit(n)
    )


def lag_delta(
    df: DataFrame,
    partition_cols: Sequence[str],
    order_col: str,
    value_col: str | None = None,
) -> DataFrame:
    """Previous-row delta per partition: adds ``prev_<order>`` and, if
    ``value_col`` given, ``delta_<value>``. The idiomatic-Spark form of
    the reference's days-since-last-event features
    (``production/feature_engineering.py:117-129``)."""
    w = Window.partitionBy(*partition_cols).orderBy(F.col(order_col).asc())
    out = df.withColumn(f"prev_{order_col}", F.lag(order_col).over(w))
    if value_col:
        out = out.withColumn(f"delta_{value_col}", F.col(value_col) - F.lag(value_col).over(w))
    return out


def _range_partition_with_offsets(
    df: DataFrame,
    order_cols: Sequence[str],
    values: Mapping[str, Column],
    num_partitions: int | None = None,
) -> tuple[DataFrame, dict[str, float]]:
    """The package's one range-prefix layout, shared by every global-order
    computation that avoids a single-partition window: range-partition on
    ``order_cols``, add the ``values`` columns (evaluated after the
    exchange, so it carries only ``df``'s columns), take each
    partition's row count and ``values`` totals (one tiny job: one row
    per partition, metadata-sized like ``approxQuantile``), and give
    every row its partition's ``__rows``, the ``__before`` rows of
    earlier partitions and the exclusive prefix ``__off_<name>`` of each
    value. Also returns each value's grand total.

    The per-partition figures reach the rows as array literals indexed
    by partition id, not as a joined frame: an array literal is a
    reference object of the generated code, so new figures reuse the
    compiled classes, and no broadcast job ships them. A partition that
    was empty in the totals job reads 0 rows.

    Rows with equal order keys never straddle a range-partition boundary
    (RangePartitioner bounds are key values), so downstream tie-group
    logic stays partition-local. The partitioned frame is persisted so
    the totals job and the consumer see the same partition assignment;
    :func:`_witnessed` makes a consumer fail loudly when they do not.
    """
    spark = df.sparkSession
    n_part = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    part = track(
        df.repartitionByRange(n_part, *[F.col(c).asc() for c in order_cols])
        .withColumns({"__pid": F.spark_partition_id(), **values})
    )
    totals = _partition_totals(part, values)
    per_part = {
        c: [totals.get(pid, {}).get(c) or 0 for pid in range(n_part)] for c in ["__rows", *values]
    }
    # exclusive prefixes over partition order; the last entry is the grand total
    prefix = {c: list(accumulate(xs, initial=0)) for c, xs in per_part.items()}
    arrays = {
        "__rows": F.lit(per_part["__rows"]).cast("array<bigint>"),
        "__before": F.lit(prefix["__rows"][:-1]).cast("array<bigint>"),
        **{f"__off_{c}": F.lit(prefix[c][:-1]).cast("array<double>") for c in values},
    }
    return (
        part.withColumns({name: a[F.col("__pid")] for name, a in arrays.items()}),
        {c: float(prefix[c][-1]) for c in values},
    )


def _partition_totals(part: DataFrame, values: Mapping[str, Column]) -> dict[int, dict]:
    """Row count ``__rows`` and the total of each of ``values`` per
    partition id of the range layout, for the non-empty partitions."""
    return {
        r["__pid"]: r.asDict()
        for r in part.groupBy("__pid")
        .agg(
            F.count(F.lit(1)).alias("__rows"),
            *[F.sum(c).cast("double").alias(c) for c in values],
        )
        .collect()
    }


def _witnessed(expr: Column, w: WindowSpec) -> Column:
    """``expr`` on a row of :func:`_range_partition_with_offsets`'s
    frame, evaluated in the same ``WindowExec`` as the partition's row
    count over ``w``'s whole frame, or a raised error when that count is
    not the recorded ``__rows``.

    The layout-integrity witness: if the persisted range-partitioned
    frame was evicted and recomputed between the totals job and the
    consumer, RangePartitioner's order-sensitive sampling can shift the
    partition bounds, and every recorded offset would then be added to
    the wrong rows — a silently wrong prefix. Range partitions are
    contiguous runs of the global order, so their row counts pin the
    whole layout: equal counts on every non-empty partition mean equal
    bounds, and any shift changes the count of some partition."""
    whole = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    shifted = (
        "range layout shifted between the totals pass and the prefix pass: a "
        "partition no longer holds the row count recorded for it. The persisted "
        "range-partitioned frame was likely evicted and recomputed with "
        "different range bounds; rerun"
    )
    return F.when(F.count(F.lit(1)).over(whole) == F.col("__rows"), expr).otherwise(
        F.raise_error(F.lit(shifted))
    )


def global_cumsum(
    df: DataFrame,
    order_col: str | Sequence[str],
    value_cols: Sequence[str],
    num_partitions: int | None = None,
) -> DataFrame:
    """Inclusive cumulative sums of ``value_cols`` over the global
    ascending order of ``order_col`` (a column name, or a list of them
    for a lexicographic order), fully distributed: range repartition +
    per-partition local windows + per-partition prefix offsets. Adds
    ``cum_<col>`` (double) per value column. The frame is the window
    default, RANGE: rows with equal order keys share their tie group's
    last running value, as under ``Window.orderBy``; NULL keys sort
    first.

    This replaces ``F.sum().over(Window.orderBy(...))`` — which moves
    ALL rows to one partition (WindowExec warning; OOM at 100 TB) —
    with one range shuffle and a partition-count-sized driver exchange.
    """
    return _global_cumsum(df, order_col, {c: F.col(c) for c in value_cols}, num_partitions)[0]


def _global_cumsum(
    df: DataFrame,
    order_col: str | Sequence[str],
    values: Mapping[str, Column],
    num_partitions: int | None,
) -> tuple[DataFrame, dict[str, float]]:
    """:func:`global_cumsum` of ``values`` (name -> column, evaluated
    after the range exchange), also returning each value's grand total."""
    keys = [order_col] if isinstance(order_col, str) else list(order_col)
    part, totals = _range_partition_with_offsets(df, keys, values, num_partitions)
    w = Window.partitionBy("__pid").orderBy(*[F.col(c).asc() for c in keys])
    out = part.withColumns(
        {
            f"cum_{c}": _witnessed(
                F.sum(F.col(c).cast("double")).over(w) + F.col(f"__off_{c}"), w
            )
            for c in values
        }
    )
    return out.drop("__pid", "__rows", "__before", *[f"__off_{c}" for c in values]), totals


def global_row_number(
    df: DataFrame,
    order_cols: Sequence,
    row_col: str = "rn",
    num_partitions: int | None = None,
) -> DataFrame:
    """Global 1-based row numbers over a total order without a
    single-partition window. ``order_cols[0]`` (a column name) drives
    the range partitioning; remaining entries refine the within-
    partition order."""
    part, _ = _range_partition_with_offsets(df, [order_cols[0]], {}, num_partitions)
    w = Window.partitionBy("__pid").orderBy(*[F.col(c).asc() if isinstance(c, str) else c for c in order_cols])
    out = part.withColumn(
        row_col, _witnessed(F.row_number().over(w) + F.col("__before"), w).cast("long")
    )
    return out.drop("__pid", "__rows", "__before")


def sessionize(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    gap_minutes: float = 30.0,
) -> DataFrame:
    """Assign session ids: a new session starts when the gap since the
    user's previous event exceeds ``gap_minutes``. Two window passes
    over ONE shuffle on the user key (both windows share partitioning).

    Adds ``session_id`` (1-based per user, long).
    """
    from classification_pyspark_spark.functions.dates import epoch_seconds_expr

    w = Window.partitionBy(user_col).orderBy(F.col(ts_col).asc())
    ts_sec = epoch_seconds_expr(ts_col)
    gap = ts_sec - F.lag(ts_sec).over(w)
    is_new = F.when(gap.isNull() | (gap > gap_minutes * 60), 1).otherwise(0)
    return df.withColumn("session_id", F.sum(is_new).over(w).cast("long"))


def time_decayed_mean(
    df: DataFrame,
    key_cols: Sequence[str],
    value_col: str,
    days_col,
    half_life_days: float = 90.0,
) -> DataFrame:
    """Exponentially time-decayed mean of ``value_col`` per key — the
    recency-weighted feature (EWMA-style) every propensity mart wants
    next to plain recency/frequency/monetary aggregates.

    The naive formulation is recursive (ewma_t from ewma_{t-1}:
    an ordered per-key scan). Factoring the decay —
    sum_i x_i·e^{-λ(T−t_i)} / sum_i e^{-λ(T−t_i)}
    = sum_i x_i·e^{λt_i} / sum_i e^{λt_i} (the e^{-λT} cancels) —
    turns it into ONE hash aggregate with map-side partials: no
    window, no ordering, no second pass. λ = ln2 / half_life.

    ``days_col``: integer day offsets from a fixed epoch; keep the
    epoch inside the data's range so e^{λt} stays far from double
    overflow (λ·Δdays ≈ 0.0077·3000 ≈ 23 → e²³ ≈ 1e10 for TPC-H-like
    7-year spans; overflow needs λ·t > 709).

    Output: key_cols + (n long, decayed_mean double rounded 4).
    """
    lam = math.log(2.0) / half_life_days
    d = days_col if not isinstance(days_col, str) else F.col(days_col)
    wgt = F.exp(F.lit(lam) * d.cast("double"))
    return df.groupBy(*key_cols).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(
            F.sum(F.col(value_col) * wgt) / F.sum(wgt), 4
        ).alias("decayed_mean"),
    )


def merge_intervals(
    df: DataFrame,
    id_col: str,
    start_col: str = "s",
    end_col: str = "e",
) -> DataFrame:
    """Union overlapping [start, end] integer intervals per id — the
    classic running-max island merge, used by the surgical curation
    funnel to combine the duplicated-span and contaminated-span cut
    lists before subtracting their covered token count.

    Strictly-overlapping intervals merge; ADJACENT intervals (next
    start == prev end + 1) deliberately do NOT — the covered LENGTH,
    which is what cut accounting consumes, is identical either way,
    and the strict rule keeps the group predicate a single comparison.
    Exact duplicates collapse into their group. One doc-partitioned
    window over the interval rows (cut-list-sized, nowhere near the
    corpus); two selects because the island flag needs the running max
    of PRIOR ends, which cannot nest inside the group-counter window.

    Output: (``id_col``, ``start_col``, ``end_col``) — the merged,
    disjoint intervals.
    """
    w = Window.partitionBy(id_col).orderBy(start_col, end_col)
    prior_max = (
        F.max(end_col).over(w.rowsBetween(Window.unboundedPreceding, -1)).alias("__pm")
    )
    flagged = df.select(id_col, start_col, end_col, prior_max)
    grp = (
        F.sum(
            F.when(
                F.col("__pm").isNull() | (F.col(start_col) > F.col("__pm")), 1
            ).otherwise(0)
        )
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("__grp")
    )
    return (
        flagged.select(id_col, start_col, end_col, grp)
        .groupBy(id_col, "__grp")
        .agg(
            F.min(start_col).alias(start_col),
            F.max(end_col).alias(end_col),
        )
        .select(id_col, start_col, end_col)
    )
