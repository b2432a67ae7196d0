"""Property-based tests (hypothesis) — SURVEY.md §5 invariants:
capped values within bounds, imputation leaves no missing, dedup
idempotent, stratified split preserves class ratio, minhash containment.

Data strategy: hypothesis generates small python lists; each property
runs one Spark job on them (local[4] session reused). max_examples is
kept small — each example is a Spark round-trip.
"""

from __future__ import annotations

import math

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from classification_pyspark_spark.operators.dedup import drop_duplicates
from classification_pyspark_spark.operators.impute import Imputer
from classification_pyspark_spark.operators.outliers import CAP, DROP, IQR, OutlierTreatment

SETTINGS = dict(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

finite_doubles = st.floats(
    min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False
)


@given(vals=st.lists(finite_doubles, min_size=4, max_size=40))
@settings(**SETTINGS)
def test_outlier_cap_within_bounds(spark, vals):
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    model = OutlierTreatment(["x"], method=IQR, exact=True).fit(df)
    lo, hi = model.bounds["x"]
    capped = [r.x for r in model.transform(df, CAP).collect()]
    assert all(lo - 1e-9 <= v <= hi + 1e-9 for v in capped)
    assert len(capped) == len(vals)  # capping never drops rows
    dropped = model.transform(df, DROP).count()
    assert dropped <= len(vals)


@given(
    vals=st.lists(st.one_of(finite_doubles, st.none()), min_size=3, max_size=30).filter(
        lambda xs: any(v is not None for v in xs)
    )
)
@settings(**SETTINGS)
def test_impute_leaves_no_missing_and_preserves_present(spark, vals):
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    out = Imputer(rules={"x": "mean"}, cols=["x"]).fit(df).transform(df)
    got = [r.x for r in out.collect()]
    assert all(v is not None and not math.isnan(v) for v in got)
    present = sorted(v for v in vals if v is not None)
    mean = sum(present) / len(present)
    # non-missing values unchanged; missing ones equal the mean
    assert sorted(got) == pytest.approx(
        sorted(present + [mean] * (len(vals) - len(present))), rel=1e-9, abs=1e-9
    )


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 5), st.sampled_from(["a", "b", "c"])),
        min_size=1,
        max_size=40,
    )
)
@settings(**SETTINGS)
def test_dedup_idempotent_and_subset_of_input(spark, rows):
    df = spark.createDataFrame(rows, "k int, g string")
    once = drop_duplicates(df)
    twice = drop_duplicates(once)
    assert once.count() == twice.count() == len(set(rows))
    got = {(r.k, r.g) for r in once.collect()}
    assert got == set(rows)


@given(seed=st.integers(0, 2**31 - 1))
@settings(**SETTINGS)
def test_stratified_split_preserves_ratio(spark, seed):
    from classification_pyspark_spark.operators.sampling import stratified_split

    df = spark.range(0, 1000).withColumn("y", (F.col("id") % 5 == 0).cast("int"))
    train, test = stratified_split(df, "y", 0.3, seed=seed)
    assert train.count() + test.count() == 1000
    n_test = test.count()
    if n_test > 50:
        ratio = test.filter("y=1").count() / n_test
        assert 0.1 < ratio < 0.3  # population ratio 0.2 ± sampling noise


@given(text=st.text(alphabet="ab cd", min_size=10, max_size=60))
@settings(**SETTINGS)
def test_minhash_identical_texts_share_signature(spark, text):
    from classification_pyspark_spark.operators.dedup_fuzzy import minhash_signatures

    df = spark.createDataFrame([(0, text), (1, text), (2, text + "zzz")], "doc_id long, text string")
    rows = {r.doc_id: (r.minhash_0, r.minhash_1, r.minhash_2, r.minhash_3) for r in minhash_signatures(df, "text", "doc_id").collect()}
    assert rows[0] == rows[1]
    # containment: appending text can only keep-or-lower each min
    assert all(rows[2][i] <= rows[0][i] for i in range(4))


@settings(max_examples=20, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    st.lists(
        st.integers(min_value=-10_000_000, max_value=10_000_000),  # value in cents
        min_size=1,
        max_size=40,
    )
)
def test_money_cents_sum_exact(spark, cents_vals):
    """sum_money over LONG cents equals the decimal-exact sum for any
    2dp inputs, including negatives and sums crossing round-half
    boundaries (the case that motivated fixed point over float)."""
    from classification_pyspark_spark.functions.money import cents_expr, decimal_sum, sum_money

    rows = [(v / 100.0,) for v in cents_vals]
    df = spark.createDataFrame(rows, "x double")
    got = df.agg(
        sum_money(cents_expr("x")).alias("fixed"),
        decimal_sum(F.col("x")).alias("dec"),
    ).first()
    assert got["fixed"] == got["dec"]
    assert got["fixed"] == pytest.approx(sum(cents_vals) / 100.0, abs=0)


@settings(max_examples=20, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    st.lists(
        st.text(alphabet="ab ", min_size=0, max_size=30),
        min_size=1,
        max_size=6,
    )
)
def test_repetition_exprs_match_python_reference(spark, texts):
    """distinct_token_ratio / top_gram_fraction agree with a pure-Python
    recomputation on arbitrary low-alphabet docs (the high-collision
    regime where the sorted-array run-length fold is most stressed)."""
    import re as _re
    from collections import Counter

    from classification_pyspark_spark.operators.text import (
        distinct_token_ratio_expr,
        top_gram_fraction_expr,
    )

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.dtr, r.tbf)
        for r in df.select(
            "doc_id",
            distinct_token_ratio_expr("text").alias("dtr"),
            top_gram_fraction_expr("text").alias("tbf"),
        ).collect()
    }
    for i, t in rows:
        toks = [x for x in _re.split(r"[^0-9a-z]+", t.strip().lower()) if x]
        want_dtr = len(set(toks)) / max(len(toks), 1)
        grams = [f"{a} {b}" for a, b in zip(toks, toks[1:])]
        want_tbf = max(Counter(grams).values()) / len(grams) if grams else 0.0
        assert got[i][0] == pytest.approx(want_dtr)
        assert got[i][1] == pytest.approx(want_tbf)


@given(
    vals=st.lists(
        st.tuples(finite_doubles, st.integers(min_value=0, max_value=2000)),
        min_size=1,
        max_size=30,
    )
)
@settings(**SETTINGS)
def test_time_decayed_mean_matches_python_reference(spark, vals):
    from classification_pyspark_spark.operators.windows import time_decayed_mean

    df = spark.createDataFrame([(1, v, d) for v, d in vals], "k long, v double, days int")
    got = time_decayed_mean(df, ["k"], "v", "days", half_life_days=90.0).first()
    lam = math.log(2.0) / 90.0
    ws = [math.exp(lam * d) for _, d in vals]
    expect = sum(v * w for (v, _), w in zip(vals, ws)) / sum(ws)
    assert got["n"] == len(vals)
    assert math.isclose(got["decayed_mean"], round(expect, 4), rel_tol=1e-6, abs_tol=1e-3)
    # invariant: the decayed mean is a convex combination of the values
    # (1e-4 slack: the operator rounds to 4 decimals)
    assert min(v for v, _ in vals) - 1e-4 <= got["decayed_mean"] <= max(v for v, _ in vals) + 1e-4


@given(vals=st.lists(finite_doubles, min_size=5, max_size=40))
@settings(**SETTINGS)
def test_boxplot_stats_matches_numpy_quartiles(spark, vals):
    import numpy as np

    from classification_pyspark_spark.operators.profile import boxplot_stats

    df = spark.createDataFrame([(v,) for v in vals], "x double")
    r = boxplot_stats(df, ["x"]).first()
    q1, md, q3 = np.percentile(np.array(vals), [25, 50, 75])
    assert math.isclose(r["q1"], round(q1, 4), rel_tol=1e-9, abs_tol=2e-4)
    assert math.isclose(r["median"], round(md, 4), rel_tol=1e-9, abs_tol=2e-4)
    assert math.isclose(r["q3"], round(q3, 4), rel_tol=1e-9, abs_tol=2e-4)
    iqr = q3 - q1
    lo, hi = q1 - 1.5 * iqr, q3 + 1.5 * iqr
    inside = [v for v in vals if lo <= v <= hi]
    assert math.isclose(r["whisker_low"], round(min(inside), 4), abs_tol=2e-4)
    assert math.isclose(r["whisker_high"], round(max(inside), 4), abs_tol=2e-4)
    assert r["n_outlier_low"] == sum(1 for v in vals if v < lo)
    assert r["n_outlier_high"] == sum(1 for v in vals if v > hi)


@given(
    docs=st.lists(
        st.lists(st.sampled_from(["aa", "bb", "cc", "dd", "ee"]), min_size=1, max_size=8),
        min_size=2,
        max_size=6,
    )
)
@settings(**SETTINGS)
def test_tfidf_cosine_pairs_match_python_reference(spark, docs):
    from classification_pyspark_spark.operators.text import tfidf_cosine_pairs

    rows = [(i, "x", " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "id long, lang string, text string")
    got = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in tfidf_cosine_pairs(df, "text", "id", "lang", min_cosine=0.0).collect()
    }
    # python reference: same smoothed-idf weights, exact cosine
    n = len(docs)
    from collections import Counter

    tfs = [Counter(toks) for toks in docs]
    dfreq = Counter(t for tf in tfs for t in tf)
    w = [
        {t: c * (math.log((1.0 + n) / (1.0 + dfreq[t])) + 1.0) for t, c in tf.items()}
        for tf in tfs
    ]
    for a in range(n):
        for b in range(a + 1, n):
            shared = set(w[a]) & set(w[b])
            dot = sum(w[a][t] * w[b][t] for t in shared)
            na = math.sqrt(sum(x * x for x in w[a].values()))
            nb = math.sqrt(sum(x * x for x in w[b].values()))
            expect = round(dot / (na * nb), 4)
            if shared:
                assert (a, b) in got, (a, b, got)
                assert math.isclose(got[(a, b)], expect, abs_tol=2e-4)
            else:
                assert (a, b) not in got  # no shared term -> no posting row


# --- BM25 vs a plain-python reference on random corpora -------------------

_vocab = st.sampled_from(["hash", "join", "merge", "scan", "sort", "the", "x9"])


@given(
    docs=st.lists(
        st.lists(_vocab, min_size=0, max_size=12).map(" ".join),
        min_size=2,
        max_size=12,
    )
)
@settings(**SETTINGS)
def test_bm25_matches_python_reference_on_random_corpora(spark, docs):
    from classification_pyspark_spark.operators.ranking import bm25_topk
    from tests.test_search_ops import _py_bm25

    texts = dict(enumerate(docs))
    df = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    terms = ("hash", "join", "merge")
    got = {
        r["doc_id"]: (r["n_hit_terms"], r["bm25"])
        for r in bm25_topk(df, "text", "doc_id", terms, k=len(docs)).collect()
    }
    want = _py_bm25(texts, terms)
    # float sum order may differ in the last ulp right at the rounding
    # boundary; compare hits exactly and scores to 5 decimals
    assert got.keys() == want.keys()
    for k in got:
        assert got[k][0] == want[k][0]
        assert got[k][1] == pytest.approx(want[k][1], abs=1.5e-6)


# word-ish tokens so simhash has something to vote on
_words = st.lists(
    st.text(alphabet="abcdefgh", min_size=1, max_size=6), min_size=1, max_size=20
)


@pytest.mark.parametrize("bits", [16, 60])
@given(docs=st.lists(_words, min_size=2, max_size=12))
@settings(**SETTINGS)
def test_simhash_segment_blocking_equals_naive_property(spark, bits, docs):
    """Pigeonhole blocking is LOSSLESS for any corpus: the blocked
    operator's pairs equal a naive block self-join's, whatever the
    fingerprint collisions look like — at the portable 16-bit width AND
    the production 60-bit width the registry query runs."""
    from classification_pyspark_spark.operators.dedup_fuzzy import (
        simhash_expr,
        simhash_hamming_pairs,
    )

    rows = [(i, " ".join(ws), "en") for i, ws in enumerate(docs)]
    d = spark.createDataFrame(rows, "doc_id: long, text: string, lang: string")
    got = sorted(
        map(tuple, simhash_hamming_pairs(d, "text", "doc_id", "lang", bits=bits).collect())
    )
    sh = d.select("doc_id", "lang", simhash_expr("text", bits).alias("h"))
    a = sh.select(F.col("doc_id").alias("id_a"), "lang", F.col("h").alias("ha"))
    b = sh.select(F.col("doc_id").alias("id_b"), "lang", F.col("h").alias("hb"))
    naive = sorted(
        map(
            tuple,
            a.join(b, "lang")
            .filter(F.col("id_a") < F.col("id_b"))
            .select(
                "id_a",
                "id_b",
                F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))).cast("int").alias("hamming"),
            )
            .filter(F.col("hamming") <= 2)
            .collect(),
        )
    )
    assert got == naive


@given(docs=st.lists(_words, min_size=2, max_size=10))
@settings(**SETTINGS)
def test_edit_distance_banded_equals_unbounded_property(spark, docs):
    """The banded (3-arg) levenshtein + threshold filter must produce
    exactly the pairs the unbounded form produces, for any corpus."""
    from classification_pyspark_spark.operators.dedup_fuzzy import (
        edit_distance_head_pairs,
    )

    rows = [(i, " ".join(ws), "en") for i, ws in enumerate(docs)]
    d = spark.createDataFrame(rows, "doc_id: long, text: string, lang: string")
    got = sorted(map(tuple, edit_distance_head_pairs(d, "text", "doc_id", "lang").collect()))

    head = F.substring(F.trim(F.lower("text")), 1, 60)
    from classification_pyspark_spark.operators.text import token_count_expr

    dd = d.select(
        "doc_id",
        F.col("lang").alias("blk"),
        head.alias("head"),
        F.floor(token_count_expr("text") / 40).cast("long").alias("band"),
    )
    a = dd.select(F.col("doc_id").alias("id_a"), "blk", "band", F.col("head").alias("ha"))
    b = dd.select(F.col("doc_id").alias("id_b"), "blk", "band", F.col("head").alias("hb"))
    dist = F.levenshtein("ha", "hb")  # unbounded reference
    want = sorted(
        map(
            tuple,
            a.join(b, on=["blk", "band"])
            .filter(F.col("id_a") < F.col("id_b"))
            .filter(dist <= (0.25 * F.greatest(F.length("ha"), F.length("hb"))).cast("long"))
            .select("id_a", "id_b", dist.cast("long").alias("edit_dist"))
            .collect(),
        )
    )
    assert got == want


def test_edit_distance_adjacent_band_probe(spark):
    """probe_adjacent_bands=True must (1) recover a true near-dup pair
    that straddles a token-count band boundary (39 vs 41 tokens at
    band_tokens=40 -> bands 0 and 1: invisible to the default), and
    (2) equal the |band diff| <= 1 mirrored brute force exactly, with
    no duplicate pair rows from the 3x a-side replication."""
    from classification_pyspark_spark.operators.dedup_fuzzy import (
        edit_distance_head_pairs,
    )
    from classification_pyspark_spark.operators.text import token_count_expr

    # doc 0: 39 tokens, doc 1: same text + 2 extra tokens appended far
    # past the 60-char head -> identical heads, bands 0 vs 1.
    # docs 2/3: same-band near-dups (the default path must keep them).
    w39 = " ".join(f"t{i}" for i in range(39))
    rows = [
        (0, w39, "en"),
        (1, w39 + " x y", "en"),
        (2, "hello world example corpus", "en"),
        (3, "hello world exampel corpus", "en"),
    ]
    d = spark.createDataFrame(rows, "doc_id: long, text: string, lang: string")

    default = set(
        map(tuple, edit_distance_head_pairs(d, "text", "doc_id", "lang").collect())
    )
    probed_rows = list(
        map(
            tuple,
            edit_distance_head_pairs(
                d, "text", "doc_id", "lang", probe_adjacent_bands=True
            ).collect(),
        )
    )
    probed = set(probed_rows)
    assert len(probed_rows) == len(probed)  # replication added no dups
    assert (0, 1, 0) not in default and (0, 1, 0) in probed
    assert (2, 3, 2) in default and (2, 3, 2) in probed
    assert default <= probed

    # mirrored brute force: all within-block pairs with |band diff|<=1
    head = F.substring(F.trim(F.lower("text")), 1, 60)
    dd = d.select(
        "doc_id",
        F.col("lang").alias("blk"),
        head.alias("head"),
        F.floor(token_count_expr("text") / 40).cast("long").alias("band"),
    )
    a = dd.select(F.col("doc_id").alias("id_a"), "blk", F.col("band").alias("ba"), F.col("head").alias("ha"))
    b = dd.select(F.col("doc_id").alias("id_b"), "blk", F.col("band").alias("bb"), F.col("head").alias("hb"))
    dist = F.levenshtein("ha", "hb")
    want = set(
        map(
            tuple,
            a.join(b, on="blk")
            .filter(F.col("id_a") < F.col("id_b"))
            .filter(F.abs(F.col("ba") - F.col("bb")) <= 1)
            .filter(dist <= (0.25 * F.greatest(F.length("ha"), F.length("hb"))).cast("long"))
            .select("id_a", "id_b", dist.cast("long").alias("edit_dist"))
            .collect(),
        )
    )
    assert probed == want


def test_edit_distance_simhash_prefix_recall(spark, sf_dir):
    """The production simhash-prefix block (the registry query's
    ``simhash_prefix_bits=6``) is a pruning-only recall trade: it must
    produce a SUBSET of the unblocked pairs (an extra join key can
    never add a pair, and every surviving pair keeps its exact
    distance), and recall on the real near-dup corpus must stay high
    (measured: 7/7 at sf0.001, 5/5 at sf0.01, 76/78 at sf0.1)."""
    from classification_pyspark_spark.catalog import load_table
    from classification_pyspark_spark.operators.dedup_fuzzy import (
        edit_distance_head_pairs,
    )

    d = load_table(spark, sf_dir, "documents")
    exact = set(map(tuple, edit_distance_head_pairs(d, "text", "doc_id", "lang").collect()))
    pfx = set(
        map(
            tuple,
            edit_distance_head_pairs(
                d, "text", "doc_id", "lang", simhash_prefix_bits=6
            ).collect(),
        )
    )
    assert pfx <= exact
    assert len(pfx) >= 0.85 * len(exact)


@given(
    vals=st.lists(
        st.lists(finite_doubles, min_size=4, max_size=4), min_size=2, max_size=25
    ),
    cap=st.integers(min_value=2, max_value=8),
    k=st.integers(min_value=1, max_value=4),
)
@settings(**SETTINGS)
def test_triangle_split_invariant_under_cap_property(spark, vals, cap, k):
    """For ANY vector corpus (zero vectors, duplicates, arbitrary LSH
    bucket shapes) and ANY cap, the triangle/task-grid formulations
    must return exactly what their uncapped single-task-per-bucket
    form returns — for both the pair operator and the top-k operator."""
    from classification_pyspark_spark.operators.caching import release_tracked
    from classification_pyspark_spark.operators.similarity import (
        cosine_dup_pairs,
        knn_lsh,
    )

    rows = [(i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    try:
        pairs_unc = {
            tuple(r) for r in cosine_dup_pairs(df, "vec_id", "embedding", 4, 0.5).collect()
        }
        pairs_cap = {
            tuple(r)
            for r in cosine_dup_pairs(
                df, "vec_id", "embedding", 4, 0.5, max_bucket_size=cap
            ).collect()
        }
        assert pairs_cap == pairs_unc
        knn_unc = {
            tuple(r) for r in knn_lsh(df, "vec_id", "embedding", 4, k=k).collect()
        }
        knn_cap = {
            tuple(r)
            for r in knn_lsh(
                df, "vec_id", "embedding", 4, k=k, max_bucket_size=cap
            ).collect()
        }
        assert knn_cap == knn_unc
    finally:
        release_tracked()


@given(
    scores=st.lists(
        st.tuples(st.sampled_from(["A", "B"]), st.floats(min_value=0.0, max_value=50.0,
                                                         allow_nan=False)),
        min_size=2,
        max_size=60,
    )
)
@settings(**SETTINGS)
def test_conformal_two_pass_equals_direct_selection(spark, tmp_path_factory, scores):
    """The two-pass bucketed rank selection inside
    conformal_threshold_by_segment must equal the DIRECT k-th-smallest
    of the score multiset for arbitrary (segment, price) inputs —
    including duplicate scores and segments whose score range straddles
    bucket boundaries."""
    import math as _m

    from classification_pyspark_spark.queries import QUERIES

    out = str(tmp_path_factory.mktemp("sf_conf_prop"))
    odf = spark.createDataFrame(
        [(i % 3, i % 3) for i in range(3)], "o_orderkey long, o_custkey long"
    )
    cdf = spark.createDataFrame(
        [(i, seg) for i, seg in enumerate(["A", "B", "A"])],
        "c_custkey long, c_mktsegment string",
    )
    # route rows to segments via orderkey = i%3 -> custkey -> segment
    ldf = spark.createDataFrame(
        [(i % 3, float(p), 0.05) for i, (_, p) in enumerate(scores)],
        "l_orderkey long, l_extendedprice double, l_discount double",
    )
    ldf.write.mode("overwrite").parquet(out + "/lineitem.parquet")
    odf.write.mode("overwrite").parquet(out + "/orders.parquet")
    cdf.write.mode("overwrite").parquet(out + "/customer.parquet")
    got = {r["segment"]: r for r in QUERIES["conformal_threshold_by_segment"](spark, out).collect()}

    # direct truth per segment
    seg_of = {0: "A", 1: "B", 2: "A"}
    by_seg: dict = {}
    for i, (_, p) in enumerate(scores):
        sc = round(p * 100) * 5  # price_cents * disc_cents(=5)
        by_seg.setdefault(seg_of[i % 3], []).append(sc)
    for seg, vals in by_seg.items():
        n = len(vals)
        k = (9 * (n + 1) + 9) // 10
        if k > n:
            # rank beyond the sample: no threshold row is emitted
            assert seg not in got
            continue
        want = sorted(vals)[k - 1] / 10000.0
        r = got[seg]
        assert (r["n"], r["k"]) == (n, k)
        assert _m.isclose(r["threshold"], round(want, 4), abs_tol=1e-9), (seg, vals)


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 12), st.integers(0, 12)), max_size=25
    ),
    id_type=st.sampled_from(["bigint", "string"]),
)
@example(edges=[], id_type="bigint")
@example(edges=[], id_type="string")
@example(edges=[(3, 3), (1, 2), (2, 1), (1, 2), (10, 3), (3, 2)], id_type="string")
@settings(**SETTINGS)
def test_connected_components_local_equals_distributed(spark, cc_paths, edges, id_type):
    """The driver-side union-find and the distributed rounds label every
    graph identically: self-loops, duplicate and reversed edges, the
    empty graph, and string ids (whose minimum is lexicographic: "v10"
    sorts before "v2")."""
    from classification_pyspark_spark.operators.graph import connected_components

    rows = [(f"v{a}", f"v{b}") for a, b in edges] if id_type == "string" else edges
    df = spark.createDataFrame(rows, f"src {id_type}, dst {id_type}")
    got = {}
    for path in cc_paths():
        out = connected_components(df)
        assert out.schema.simpleString() == (
            f"struct<vertex:{id_type},component:{id_type}>"
        )
        # the local path returns a local relation: no Spark job reads it
        assert out.isLocal() == (path == "local")
        got[path] = sorted(map(tuple, out.collect()))
    assert got["local"] == got["distributed"]
    assert {v for v, _ in got["local"]} == {v for e in rows for v in e}
