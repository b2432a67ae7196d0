"""Known-answer + invariant tests for the newest operators: PII
redaction, n-gram counts, hash-based splits, and the RANGE-frame
rolling aggregate."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_redact_pii_known_answers(spark):
    from classification_pyspark_spark.operators.text import redact_pii_expr

    rows = [
        ("reach me at bob.smith+x@example.co.uk now", "reach me at [EMAIL] now"),
        ("call 555-123-4567 or 555.1234.4567", "call [PHONE] or [PHONE]"),
        ("ssn-ish 123456789 and id 9876543210", "ssn-ish [IDNUM] and id [IDNUM]"),
        ("clean text stays clean 1234", "clean text stays clean 1234"),
    ]
    df = spark.createDataFrame(rows, "text string, expected string")
    got = df.select("expected", redact_pii_expr("text").alias("redacted")).collect()
    for r in got:
        assert r.redacted == r.expected


def test_top_ngrams_short_docs_and_counts(spark):
    from classification_pyspark_spark.operators.text import top_ngrams

    df = spark.createDataFrame(
        [("a b a b",), ("a b",), ("one",), ("",)], "text string"
    )
    out = top_ngrams(df, "text", n=2, top_k=10).collect()
    # docs shorter than n contribute nothing (the sequence() guard)
    counts = {r.gram: r.n for r in out}
    assert counts == {"a b": 3, "b a": 1}
    assert [r.rank for r in sorted(out, key=lambda r: r.rank)] == [1, 2]


def test_hash_split_deterministic_under_repartition(spark):
    from classification_pyspark_spark.operators.sampling import hash_split_expr

    df = spark.range(0, 5000).withColumnRenamed("id", "k")
    a = df.repartition(13).select("k", hash_split_expr("k", 80).alias("s"))
    b = df.repartition(3).select("k", hash_split_expr("k", 80).alias("s"))
    # identical assignment regardless of partition layout
    assert a.join(b, "k").filter(a.s != b.s).count() == 0
    frac = a.filter(F.col("s") == "train").count() / 5000
    assert 0.75 < frac < 0.85


def test_rolling_range_frame_known_answer(spark):
    from classification_pyspark_spark.queries import QUERIES  # noqa: F401  (registry import path)
    from pyspark.sql import Window

    rows = [
        (1, "2024-01-01", 10.0),
        (1, "2024-01-15", 20.0),
        (1, "2024-02-20", 40.0),  # >29d after both -> alone in frame
        (2, "2024-01-01", 5.0),
    ]
    df = spark.createDataFrame(rows, "k int, d string, v double")
    day = F.datediff(F.to_date("d"), F.lit("1970-01-01").cast("date"))
    w = Window.partitionBy("k").orderBy(day).rangeBetween(-29, 0)
    got = {
        (r.k, r.d): r.s
        for r in df.select("k", "d", F.sum("v").over(w).alias("s")).collect()
    }
    assert got[(1, "2024-01-01")] == 10.0
    assert got[(1, "2024-01-15")] == 30.0
    assert got[(1, "2024-02-20")] == 40.0
    assert got[(2, "2024-01-01")] == 5.0


def test_connected_components_known_graph(spark, cc_paths):
    from classification_pyspark_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        # chain 1-2-3-4, pair 10-11, star 20<-21,22,23, isolated self-loopless
        [(1, 2), (2, 3), (3, 4), (10, 11), (21, 20), (22, 20), (23, 20)],
        "src bigint, dst bigint",
    )
    for path in cc_paths():
        got = {r.vertex: r.component for r in connected_components(edges).collect()}
        assert got == {
            1: 1, 2: 1, 3: 1, 4: 1,
            10: 10, 11: 10,
            20: 20, 21: 20, 22: 20, 23: 20,
        }, path


def test_connected_components_reliable_checkpoint(spark, tmp_path, cc_paths):
    """checkpoint_dir= switches localCheckpoint -> reliable checkpoint
    (fault-tolerant storage; survives executor loss on a cluster):
    identical labels, and the checkpoint dir actually receives RDD
    checkpoint data."""
    import os

    from classification_pyspark_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (21, 20), (22, 20), (23, 20)],
        "src bigint, dst bigint",
    )
    for path in cc_paths():
        ckpt = str(tmp_path / f"cc_ckpt_{path}")
        got = {
            r.vertex: r.component
            for r in connected_components(edges, checkpoint_dir=ckpt).collect()
        }
        assert got == {
            1: 1, 2: 1, 3: 1, 4: 1,
            10: 10, 11: 10,
            20: 20, 21: 20, 22: 20, 23: 20,
        }, path
        # reliable checkpoints were written under the requested dir
        written = [
            os.path.join(r, f) for r, _, fs in os.walk(ckpt) for f in fs
        ]
        assert written, f"no reliable checkpoint data written ({path})"


def test_connected_components_long_chain_exercises_shortcut(spark, cc_paths):
    """A path graph whose min sits at one END forces label distance =
    path length — the worst case for plain min-label propagation and
    exactly the topology the r09 pointer-jumping rewrite (shortcut
    from round 3) accelerates. 40 hops would need ~40 plain rounds;
    with shortcutting it must still land every vertex on the chain
    min, and the python union-find ground truth pins the answer.

    Vertex ids are deliberately DESCENDING along the chain (min id at
    the far end) so each round's neighbor-min actually moves labels.
    """
    from classification_pyspark_spark.operators.graph import connected_components

    n = 41
    ids = list(range(n, 0, -1))  # chain n, n-1, ..., 1: min at the end
    chain = [(ids[i], ids[i + 1]) for i in range(n - 1)]
    extra = [(100, 200), (200, 300)]  # a second small component
    edges = spark.createDataFrame(chain + extra, "src bigint, dst bigint")
    for path in cc_paths():
        got = {
            r.vertex: r.component
            for r in connected_components(edges, max_iterations=50).collect()
        }
        assert got == {**{v: 1 for v in ids}, 100: 100, 200: 100, 300: 100}, path


def test_connected_components_shortcut_persists_round_aggregate(spark, monkeypatch):
    """r10 pin (VERDICT r09 item 2): each shortcut round must PERSIST
    the round aggregate before the pointer-jump self-join — exchange
    reuse for the aliased lookup side is canonicalization-sensitive,
    and without the persist the edge-frame join + union-aggregate
    evaluates twice per shortcut round. The pin: >= 1 persist happens
    on a shortcut-forcing chain, and every persist is released. A
    property of the distributed rounds, so that path is forced."""
    from classification_pyspark_spark.operators import graph
    from classification_pyspark_spark.operators.graph import connected_components

    monkeypatch.setattr(graph, "LOCAL_MAX_EDGES", -1)

    ids = list(range(12, 0, -1))  # descending chain: min at the far end
    chain = [(ids[i], ids[i + 1]) for i in range(len(ids) - 1)]
    edges = spark.createDataFrame(chain, "src bigint, dst bigint")
    # patch the CONCRETE DataFrame class (Spark 4: pyspark.sql.DataFrame
    # is an abstract facade; instances are the classic subclass, whose
    # own persist/unpersist would shadow a base-class patch)
    cls = type(edges)
    calls = {"persist": 0, "unpersist": 0}
    orig_p, orig_u = cls.persist, cls.unpersist

    def counting_persist(self, *a, **k):
        calls["persist"] += 1
        return orig_p(self, *a, **k)

    def counting_unpersist(self, *a, **k):
        calls["unpersist"] += 1
        return orig_u(self, *a, **k)

    monkeypatch.setattr(cls, "persist", counting_persist)
    monkeypatch.setattr(cls, "unpersist", counting_unpersist)
    got = {r.vertex: r.component for r in connected_components(edges).collect()}
    assert got == {v: 1 for v in ids}
    assert calls["persist"] >= 1, "shortcut rounds must cache the round aggregate"
    assert calls["unpersist"] == calls["persist"], "every round cache is released"
