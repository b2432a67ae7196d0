"""Distributed exact quantiles: the selection plan must equal DuckDB
``quantile_cont`` bit-for-bit (the driver's oracle engine), at any
partitioning, including ties/duplicates and tiny inputs.

DuckDB is the bit-exactness reference, NOT Spark's builtin
``percentile``: both engines use the weighted interpolation form
``v_lo*(1-f) + v_hi*f``, but Spark's value-deduplicated aggregation
buffer short-circuits tie runs (rank_lo and rank_hi landing on the
same unique value returns it without arithmetic), while DuckDB always
interpolates — on ties the two engines themselves differ in the last
ulp (e.g. [3.0, 3.0] at p=0.01: Spark 3.0, DuckDB
2.9999999999999996). The oracle gate compares against DuckDB, so the
operator matches DuckDB exactly and Spark to within 1 ulp."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from classification_pyspark_spark.operators.quantiles import exact_quantiles_distributed

SETTINGS = dict(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

PROBS = [0.0, 0.01, 0.25, 0.5, 0.75, 0.99, 1.0]


@given(
    vals=st.lists(
        st.one_of(
            st.floats(min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False),
            st.integers(min_value=-5, max_value=5).map(float),  # force ties
            st.none(),
        ),
        min_size=1,
        max_size=60,
    ).filter(lambda xs: any(v is not None for v in xs)),
    nparts=st.sampled_from([1, 3, 8]),
)
@settings(**SETTINGS)
def test_equals_duckdb_quantile_cont(spark, quantile_paths, vals, nparts):
    import math

    import duckdb

    import pandas as pd

    df = spark.createDataFrame([(v,) for v in vals], "x double").repartition(nparts)
    # values go to DuckDB via Arrow, NOT as SQL literals: DuckDB's
    # literal parser is off by 1 ulp for some doubles (e.g.
    # 1.9859126702649519), while binary transfer is exact — matching
    # how the real oracle reads parquet
    vals_df = pd.DataFrame({"x": pd.array([v for v in vals if v is not None], dtype="float64")})
    con = duckdb.connect()
    con.register("vals_df", vals_df)
    want_duck = con.execute(f"select quantile_cont(x, {PROBS}) from vals_df").fetchone()[0]
    want_spark = df.agg(
        F.expr(f"percentile(x, array({', '.join(map(str, PROBS))}))")
    ).first()[0]
    for path in quantile_paths():
        got = exact_quantiles_distributed(df, "x", PROBS, num_partitions=4)
        # BIT equality vs the oracle engine: downstream round() calls can
        # flip on a 1-ulp difference, and the driver's hash compare is
        # full-precision
        assert got == [float(v) for v in want_duck], path
        # Spark's builtin percentile agrees except for its tie
        # short-circuit: never further than 1 ulp away
        for g, w in zip(got, list(want_spark)):
            assert g == w or abs(g - w) <= math.ulp(w), (path, g, w)


def test_lineitem_matches_duckdb(spark, sf_dir):
    import duckdb

    from classification_pyspark_spark.catalog import load_table

    li = load_table(spark, sf_dir, "lineitem")
    got = exact_quantiles_distributed(li, "l_extendedprice", [0.25, 0.5, 0.75])
    want = duckdb.sql(
        "select quantile_cont(l_extendedprice, [0.25, 0.5, 0.75]) "
        f"from read_parquet('{sf_dir}/lineitem.parquet')"
    ).fetchone()[0]
    assert got == [float(v) for v in want]


def test_empty_and_all_null_return_none(spark):
    empty = spark.createDataFrame([], "x double")
    assert exact_quantiles_distributed(empty, "x", [0.5]) == [None]
    nulls = spark.createDataFrame([(None,), (None,)], "x double")
    assert exact_quantiles_distributed(nulls, "x", [0.5]) == [None]
    assert exact_quantiles_distributed(nulls, "x", []) == []


def test_probs_validated(spark):
    df = spark.createDataFrame([(1.0,)], "x double")
    with pytest.raises(ValueError):
        exact_quantiles_distributed(df, "x", [1.5])


def test_no_lingering_persist(spark, quantile_paths):
    # delta-based: the shared test session may carry other tests'
    # persisted frames; the operator itself must add none
    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    df = spark.createDataFrame([(float(i),) for i in range(100)], "x double")
    for path in quantile_paths():
        exact_quantiles_distributed(df, "x", [0.5])
        assert spark.sparkContext._jsc.getPersistentRDDs().size() == before, path


def test_distributed_path_raises_on_a_shifted_layout(spark, quantile_paths, shifted_range_layout):
    """The range-prefix layout witness guards the distributed selection:
    recorded partition row counts that disagree with the grid's range
    partitions fail the call, and its persists are still released."""
    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    df = spark.createDataFrame([(float(i % 37),) for i in range(200)], "x double")
    for path in quantile_paths():
        if path == "local":
            assert exact_quantiles_distributed(df, "x", [0.5]) == [16.5]
        else:
            with pytest.raises(Exception, match="layout shifted"):
                exact_quantiles_distributed(df, "x", [0.5])
        assert spark.sparkContext._jsc.getPersistentRDDs().size() == before, path


def test_warm_rep_compiles_nothing(spark, sf_dir, quantile_paths):
    """A repeated call on the same data reuses every generated class on
    both paths: the distributed path's ranks are literals that do not
    depend on the range layout, and its per-partition offsets reach the
    rows as array literals, which the generated code takes by
    reference."""
    import bench

    from classification_pyspark_spark.operators.quantiles import exact_quantiles_multi

    df = spark.range(20_000).select(
        (F.col("id") % 503).cast("double").alias("x"),
        (F.col("id") % 17).cast("double").alias("y"),
    )

    def rep(spark, _sf_dir):
        exact_quantiles_multi(df, ["x", "y"], [0.25, 0.5, 0.75])
        return spark.range(0)

    for path in quantile_paths():
        compiles = [bench.timed_rep(spark, rep, sf_dir)[3] for _ in range(2)]
        assert compiles[-1] == 0, (path, compiles)


@given(
    vals=st.lists(
        st.integers(min_value=-8, max_value=8).map(float),
        min_size=1,
        max_size=40,
    ),
    nparts=st.sampled_from([1, 5]),
)
@settings(**SETTINGS)
def test_discrete_mode_equals_exact_approx_and_quantile_disc(
    spark, quantile_paths, vals, nparts
):
    """discrete=True must match Spark percentile_approx at exact
    accuracy AND DuckDB quantile_disc (the engines agree; the operator
    must agree with both)."""
    import duckdb

    from classification_pyspark_spark.operators.quantiles import exact_quantiles_multi

    df = spark.createDataFrame([(v,) for v in vals], "x double").repartition(nparts)
    want_spark = df.agg(
        F.expr(f"percentile_approx(x, array({', '.join(map(str, PROBS))}), 2147483647)")
    ).first()[0]
    want_duck = duckdb.sql(
        f"select quantile_disc(x, {PROBS}) from (select unnest({vals}::DOUBLE[]) x)"
    ).fetchone()[0]
    for path in quantile_paths():
        got = exact_quantiles_multi(df, ["x"], PROBS, num_partitions=3, discrete=True)["x"]
        assert got == want_spark, path
        assert got == [float(v) for v in want_duck], path


def test_multi_column_single_pass_matches_per_column(spark, sf_dir):
    from classification_pyspark_spark.catalog import load_table
    from classification_pyspark_spark.operators.quantiles import exact_quantiles_multi

    import duckdb

    li = load_table(spark, sf_dir, "lineitem")
    cols = ["l_quantity", "l_extendedprice", "l_discount"]
    multi = exact_quantiles_multi(li, cols, [0.25, 0.5, 0.75])
    for c in cols:
        want = duckdb.sql(
            f"select quantile_cont({c}, [0.25, 0.5, 0.75]) "
            f"from read_parquet('{sf_dir}/lineitem.parquet')"
        ).fetchone()[0]
        assert multi[c] == [float(v) for v in want]


@given(
    cols=st.lists(
        st.lists(
            st.one_of(
                st.floats(min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False),
                st.integers(min_value=-5, max_value=5).map(float),  # force ties
                st.none(),
            ),
            max_size=40,
        ),
        min_size=1,
        max_size=3,
    ),
    discrete=st.booleans(),
)
@settings(**SETTINGS)
def test_local_and_distributed_paths_agree(spark, quantile_paths, cols, discrete):
    """Both selection paths over several columns (ties, NULLs, and an
    always-NULL column): identical quantiles, counts, minima and
    maxima; means and standard deviations within the rounding of the
    distributed path's partition-order sums."""
    import math

    from classification_pyspark_spark.operators.quantiles import exact_quantiles_multi_stats

    names = [f"c{i}" for i in range(len(cols))] + ["empty"]
    n_rows = max(len(c) for c in cols)
    rows = [tuple(c[i] if i < len(c) else None for c in cols) + (None,) for i in range(n_rows)]
    df = spark.createDataFrame(rows, ", ".join(f"{c} double" for c in names)).repartition(3)
    res = {
        path: exact_quantiles_multi_stats(df, names, PROBS, num_partitions=4, discrete=discrete)
        for path in quantile_paths()
    }
    (q_local, m_local), (q_dist, m_dist) = res["local"], res["distributed"]
    assert q_local == q_dist
    assert q_local["empty"] == [None] * len(PROBS)
    assert m_local.keys() == m_dist.keys() == {
        n for n, c in zip(names, cols) if any(v is not None for v in c)
    }
    for name, ml in m_local.items():
        md = m_dist[name]
        assert {k: ml[k] for k in ("count", "min", "max")} == {
            k: md[k] for k in ("count", "min", "max")
        }
        vals = [v for v in cols[names.index(name)] if v is not None]
        # a floating-point sum of n terms is off by at most n/2 ulp of
        # the sum of their magnitudes, so the distributed mean is off by
        # at most half an ulp of that sum; the local sums are exact
        mean_tol = math.ulp(math.fsum(map(abs, vals))) + math.ulp(ml["mean"])
        assert abs(ml["mean"] - md["mean"]) <= mean_tol, (ml, md)
        if len(vals) == 1:
            assert math.isnan(ml["stddev"]) and math.isnan(md["stddev"])
        else:
            # the second moment's own sum, plus a shift of the mean it
            # is centred on (which moves the deviation by about as much)
            assert math.isclose(
                ml["stddev"], md["stddev"], rel_tol=len(vals) * 2**-52, abs_tol=2 * mean_tol
            ), (ml, md)
