"""Property tests for the span primitives: merge_intervals,
span_cut_rewrite and the islands step (gram_positions + marked_spans)
agree with straightforward Python reference implementations on
randomized inputs."""

from __future__ import annotations

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

SETTINGS = dict(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

interval = st.tuples(st.integers(1, 40), st.integers(0, 15)).map(
    lambda t: (t[0], t[0] + t[1])
)


def _ref_covered(ivs):
    """Reference: the set of integer positions covered by the union."""
    out = set()
    for s, e in ivs:
        out.update(range(s, e + 1))
    return out


@given(ivs=st.lists(interval, min_size=1, max_size=12))
@settings(**SETTINGS)
def test_merge_intervals_covers_exactly_the_union(spark, ivs):
    """Merged output: disjoint (strictly non-overlapping), covers
    exactly the same positions as the raw union, total length equals
    the union's cardinality."""
    from classification_pyspark_spark.operators.windows import merge_intervals

    df = spark.createDataFrame([(1, s, e) for s, e in ivs], "doc_id long, s long, e long")
    got = sorted(
        (r["s"], r["e"]) for r in merge_intervals(df, "doc_id", "s", "e").collect()
    )
    covered = _ref_covered(got)
    assert covered == _ref_covered(ivs)
    assert sum(e - s + 1 for s, e in got) == len(covered)  # disjoint
    for (s1, e1), (s2, e2) in zip(got, got[1:]):
        assert s2 > e1  # strictly non-overlapping, sorted


@given(
    n_tokens=st.integers(0, 60),
    spans=st.lists(st.tuples(st.integers(1, 50), st.integers(1, 20)), max_size=4),
)
@settings(**SETTINGS)
def test_span_cut_rewrite_matches_python_slicing(spark, n_tokens, spans):
    """span_cut_rewrite == Python: drop the tokens covered by the
    (possibly overlapping, possibly out-of-range) spans, join the rest.
    Out-of-range span tails are harmless — positions beyond the doc
    simply match nothing."""
    from classification_pyspark_spark.operators.dedup_fuzzy import span_cut_rewrite

    toks = ["t%d" % i for i in range(n_tokens)]
    text = " ".join(toks)
    docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
    sp = spark.createDataFrame(
        [(1, s, ln) for s, ln in spans] or [(2, 1, 1)],  # never empty frame
        "doc_id long, span_start long, span_len long",
    )
    row = span_cut_rewrite(docs, sp, "text", "doc_id").collect()[0]
    cut = set()
    for s, ln in spans:
        cut.update(range(s, s + ln))  # 1-based, inclusive of s..s+ln-1
    kept = [t for i, t in enumerate(toks, start=1) if i not in cut]
    assert row["n_tokens"] == n_tokens
    assert row["n_kept"] == len(kept)
    assert row["kept_text"] == " ".join(kept)


def _ref_islands(marked, n, min_span):
    """Reference: per doc, each maximal run of consecutive marked
    positions s..s+run-1 -> (doc, s, run + n - 1), kept when that span
    length is >= min_span."""
    out = []
    for doc, ps in marked.items():
        run_start, run = None, 0
        for p in sorted(ps) + [None]:
            if run and p == run_start + run:
                run += 1
                continue
            if run and run + n - 1 >= min_span:
                out.append((doc, run_start, run + n - 1))
            run_start, run = p, 1
    return sorted(out)


@given(
    marked=st.dictionaries(
        st.integers(1, 3), st.sets(st.integers(1, 30), max_size=30), max_size=3
    ),
    n=st.integers(2, 6),
    pick=st.integers(0, 1000),
)
@example(marked={1: {1, 2, 3, 7}, 2: {4}}, n=2, pick=0)  # min_span == n
@example(marked={1: {1, 2, 3, 7}, 2: {4}}, n=3, pick=1)  # min_span == a run's span
@settings(**SETTINGS)
def test_marked_spans_matches_python_islands(spark, marked, n, pick):
    """gram_positions + marked_spans == Python gaps-and-islands over the
    1-based positions of each doc's gram array: span_len = run + n - 1,
    kept at >= min_span. ``min_span`` is drawn from n and the span
    lengths the marked runs produce, so both boundaries are hit."""
    from pyspark.sql import functions as F

    from classification_pyspark_spark.operators.dedup_fuzzy import (
        gram_positions,
        marked_spans,
    )

    every = _ref_islands(marked, n, 0)
    choices = [n] + [ln for _, _, ln in every]
    min_span = choices[pick % len(choices)]
    # docs 1..3 of 30 grams each; gram key doc*100 + position
    docs = spark.createDataFrame(
        [(d, [d * 100 + p for p in range(1, 31)]) for d in (1, 2, 3)],
        "doc_id long, grams array<bigint>",
    )
    keys = spark.createDataFrame(
        [(d * 100 + p,) for d, ps in marked.items() for p in ps] or [(0,)], "gk bigint"
    )
    positions = gram_positions(docs, "doc_id", F.col("grams"))
    got = sorted(
        (r["doc_id"], r["span_start"], r["span_len"])
        for r in marked_spans(positions, keys, n, min_span).collect()
    )
    assert got == _ref_islands(marked, n, min_span)
