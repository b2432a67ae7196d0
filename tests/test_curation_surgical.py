"""Tests for the curation funnels: the interval-union operator's known
answers, the surgical funnel's conservation/staging invariants, and the
three registry funnels' DuckDB oracle parity at the sf0.01 gate scale."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F


@pytest.fixture
def gate_sf(sf_dir):
    """The sf0.01 star schema next to the smoke one: the correctness
    gate's scale."""
    return os.path.join(os.path.dirname(sf_dir), "sf0.01")


def test_merge_intervals_known_answers(spark):
    """Overlap merges, containment absorbs, adjacency does NOT merge
    (covered length is identical either way), duplicates collapse,
    ids stay independent."""
    from classification_pyspark_spark.operators.windows import merge_intervals

    rows = [
        # doc 1: [1,10] + [5,20] overlap -> [1,20]; [22,30] adjacent-ish
        # (22 > 20) stays; [25,27] contained -> absorbed
        (1, 1, 10),
        (1, 5, 20),
        (1, 22, 30),
        (1, 25, 27),
        # doc 2: exact duplicates collapse; [31,40] adjacent to [21,30]
        # stays separate (strict-overlap rule)
        (2, 11, 20),
        (2, 11, 20),
        (2, 21, 30),
        (2, 31, 40),
        # doc 3: single interval passes through
        (3, 7, 7),
    ]
    df = spark.createDataFrame(rows, "doc_id long, s long, e long")
    got = {
        (r["doc_id"], r["s"], r["e"])
        for r in merge_intervals(df, "doc_id", "s", "e").collect()
    }
    # NOTE [21,30]+[31,40] and [11,20]+[21,30] are pairwise adjacent:
    # 11..40 is one contiguous run, reported as three disjoint pieces —
    # total covered length 30 either way.
    assert got == {
        (1, 1, 20),
        (1, 22, 30),
        (2, 11, 20),
        (2, 21, 30),
        (2, 31, 40),
        (3, 7, 7),
    }
    total = (
        merge_intervals(df, "doc_id", "s", "e")
        .filter("doc_id = 2")
        .agg(F.sum(F.col("e") - F.col("s") + 1))
        .collect()[0][0]
    )
    assert total == 30


def test_surgical_funnel_invariants(spark, sf_dir):
    """Per source: doc conservation across ALL stages (n_docs = every
    drop + kept), union bounds (each cut list <= union <= their sum),
    and non-negative kept tokens. At sf0.01-class data every surgical
    path fires somewhere: dup cuts, contam cuts, and a doc cut to
    zero."""
    from classification_pyspark_spark.queries import QUERIES

    rows = QUERIES["corpus_curation_surgical"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        dropped = (
            r["n_dropped_lang"]
            + r["n_dropped_gopher"]
            + r["n_dropped_ppl"]
            + r["n_dropped_exact"]
            + r["n_dropped_neardup"]
            + r["n_dropped_cut"]
        )
        assert r["n_docs"] == dropped + r["n_kept"], r
        assert max(r["tokens_cut_dup"], r["tokens_cut_contam"]) <= r["tokens_cut"], r
        assert r["tokens_cut"] <= r["tokens_cut_dup"] + r["tokens_cut_contam"], r
        assert r["kept_tokens"] >= 0 and r["n_packs_spanned"] <= max(r["n_kept"], 0) * 2


def _oracle_diff(name, sf, cols, rows):
    """Differences between a query's rows and its DuckDB oracle at
    ``sf``, by ``tools/check_oracle.frame_key`` (the registry's rule)."""
    import duckdb

    from classification_pyspark_spark.catalog import TABLES
    from classification_pyspark_spark.queries import ORACLES
    from tools.check_oracle import frame_key

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")
    res = con.execute(ORACLES[name])
    wc, wk = frame_key([c[0] for c in res.description], res.fetchall())
    gc, gk = frame_key(list(cols), [tuple(r) for r in rows])
    if gc != wc:
        return f"columns {gc}, oracle has {wc}"
    if gk != wk:
        diffs = [(a, b) for a, b in zip(gk, wk) if a != b][:3]
        return f"{len(gk)} rows, oracle has {len(wk)}; first diffs {diffs}"
    return None


@pytest.mark.parametrize("name", ["corpus_curation", "corpus_curation_full"])
def test_curation_matches_oracle_at_gate_scale(spark, gate_sf, name):
    """The curation funnels equal their DuckDB oracles at the sf0.01
    gate scale (``corpus_curation_surgical`` is checked by the
    next test, from the same run that checks its stages)."""
    from classification_pyspark_spark.queries import QUERIES

    df = QUERIES[name](spark, gate_sf)
    diff = _oracle_diff(name, gate_sf, df.columns, df.collect())
    assert diff is None, diff


def test_surgical_stages_fire_at_gate_scale(spark, gate_sf):
    """At the driver's sf0.01 gate scale, the injections make every
    surgical path non-trivial: some dup tokens cut, some contam tokens
    cut, and at least one doc cut to zero (the full-eval-clone path).
    The funnel also equals its DuckDB oracle there."""
    from classification_pyspark_spark.queries import QUERIES

    df = QUERIES["corpus_curation_surgical"](spark, gate_sf)
    rows = df.collect()
    diff = _oracle_diff("corpus_curation_surgical", gate_sf, df.columns, rows)
    assert diff is None, diff
    tot = {c: sum(r[c] for r in rows) for c in df.columns if c != "source"}
    assert tot["tokens_cut_dup"] > 0 and tot["tokens_cut_contam"] > 0
    assert tot["n_dropped_cut"] > 0 and tot["n_kept"] > 0
