"""Unit tests: text analysis, fuzzy dedup, similarity search,
multimodal plumbing (the LLM-pipeline extension operators)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from classification_pyspark_spark.operators.dedup_fuzzy import (
    exact_duplicate_groups,
    minhash_candidate_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash_expr,
)
from classification_pyspark_spark.operators.multimodal import (
    decode_media,
    frame_sample_plan,
    synthetic_media,
)
from classification_pyspark_spark.operators.similarity import (
    cosine_dup_pairs,
    knn_bruteforce,
    knn_lsh,
    lsh_buckets,
)
from classification_pyspark_spark.operators.text import (
    bpeish_token_count_expr,
    fingerprint_expr,
    langid_expr,
    quality_score_expr,
    token_count_expr,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog", "en"),
        (1, "the quick brown fox jumps over the lazy dog", "en"),  # exact dup of 0
        (2, "the quick brown fox jumps over a lazy cat", "en"),  # near dup
        (3, "le chat est sur la table et les livres", "fr"),
        (4, "completely different words entirely here now", "en"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_token_counts(spark, docs):
    out = {r.doc_id: r.n for r in docs.select("doc_id", token_count_expr("text").alias("n")).collect()}
    assert out[0] == 9
    bpe = docs.select(bpeish_token_count_expr("text").alias("n")).first().n
    assert bpe >= 9  # subword chunks >= whitespace tokens


def test_quality_and_langid(spark, docs):
    q = {r.doc_id: r.q for r in docs.select("doc_id", quality_score_expr("text").alias("q")).collect()}
    assert all(0.0 <= v <= 1.0 for v in q.values())
    assert q[0] > q[4]  # stopword-bearing text scores higher than stopword-free
    lang = {r.doc_id: r.lang for r in docs.select("doc_id", langid_expr("text").alias("lang")).collect()}
    assert lang[0] == "en"
    assert lang[3] == "fr"


def test_fingerprint_deterministic_and_case_insensitive(spark, docs):
    fp = docs.select("doc_id", fingerprint_expr("text").alias("fp"))
    vals = {r.doc_id: r.fp for r in fp.collect()}
    assert vals[0] == vals[1]  # identical text -> identical fingerprint
    assert vals[0] != vals[4]
    upper = docs.withColumn("text", F.upper("text"))
    uvals = {r.doc_id: r.fp for r in upper.select("doc_id", fingerprint_expr("text").alias("fp")).collect()}
    assert uvals[0] == vals[0]  # lowercased before hashing


def test_exact_and_minhash_dedup(spark, docs):
    groups = exact_duplicate_groups(docs, "text", "doc_id").collect()
    assert len(groups) == 1 and groups[0].n_docs == 2 and groups[0].min_doc_id == 0

    sig = minhash_signatures(docs, "text", "doc_id")
    s = {r.doc_id: (r.minhash_0, r.minhash_1) for r in sig.collect()}
    assert s[0] == s[1]  # identical docs share the full signature

    pairs = {(r.id_a, r.id_b): r.n_shared_bands for r in minhash_candidate_pairs(docs, "text", "doc_id").collect()}
    assert pairs[(0, 1)] == 2  # exact dups collide in both (4/2=2) bands
    assert (0, 4) not in pairs  # unrelated docs don't collide


def test_minhash_universal_engine_production_banding(spark, docs):
    """The production engine (universal hashing, wide bands): exact
    dups still collide in every band, unrelated docs collide in none,
    and signatures are a pure function of (data, seed)."""
    sig = minhash_signatures(docs, "text", "doc_id", n_hashes=16, engine="universal")
    rows = {r.doc_id: tuple(r)[1:] for r in sig.collect()}
    assert rows[0] == rows[1]  # identical docs share all 16 hashes
    assert rows[0] != rows[4]
    again = {
        r.doc_id: tuple(r)[1:]
        for r in minhash_signatures(
            docs, "text", "doc_id", n_hashes=16, engine="universal"
        ).collect()
    }
    assert again == rows  # deterministic for a given seed

    pairs = {
        (r.id_a, r.id_b): r.n_shared_bands
        for r in minhash_candidate_pairs(
            docs, "text", "doc_id", rows_per_band=8, n_hashes=16, engine="universal"
        ).collect()
    }
    assert pairs[(0, 1)] == 2  # exact dups collide in both (16/8=2) bands
    assert (0, 4) not in pairs

    with pytest.raises(ValueError, match="minhash engine"):
        minhash_signatures(docs, "text", "doc_id", engine="nope").collect()


def test_simhash_near_for_near_dups(spark, docs):
    sh = {r.doc_id: r.sh for r in docs.select("doc_id", simhash_expr("text").alias("sh")).collect()}
    assert sh[0] == sh[1]
    ham_near = bin(sh[0] ^ sh[2]).count("1")
    ham_far = bin(sh[0] ^ sh[4]).count("1")
    assert ham_near < ham_far


def test_ngram_jaccard(spark, docs):
    pairs = {(r.id_a, r.id_b): r.jaccard for r in ngram_jaccard_pairs(docs, "text", "doc_id", "lang").collect()}
    assert pairs[(0, 1)] == 1.0
    assert 0.2 <= pairs[(0, 2)] < 1.0
    assert (0, 3) not in pairs  # different lang block
    assert (0, 4) not in pairs  # below threshold


@pytest.fixture(scope="module")
def vectors(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.99, 0.1, 0.0, 0.0]),  # near 0
        (2, [0.0, 1.0, 0.0, 0.0]),
        (3, [-1.0, 0.0, 0.0, 0.0]),  # opposite of 0
        (4, [0.0, 0.0, 1.0, 1.0]),
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_knn_bruteforce(spark, vectors):
    out = knn_bruteforce(vectors, vectors.filter("vec_id = 0"), "vec_id", "embedding", k=2).collect()
    assert [r.neighbor_id for r in sorted(out, key=lambda r: r.rank)] == [1, 2]
    assert out[0].cosine == pytest.approx(0.995, abs=1e-3)


def test_lsh_buckets_and_knn(spark):
    # vectors chosen away from any hyperplane (no projection near 0)
    rows = [
        (0, [0.5, 0.5, 0.1, 0.2]),
        (1, [0.52, 0.48, 0.12, 0.19]),  # near 0 -> same signs on every plane
        (2, [-0.5, -0.5, -0.1, -0.2]),  # opposite -> all signs flip
    ]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    b = {r.vec_id: r.bucket for r in lsh_buckets(vecs, "vec_id", "embedding", 4).collect()}
    assert b[0] == b[1]
    assert bin(b[0] ^ b[2]).count("1") == 8  # every hyperplane sign flips

    nn = knn_lsh(vecs, "vec_id", "embedding", 4, k=1).collect()
    by_q = {r.query_id: r.neighbor_id for r in nn}
    assert by_q.get(0) == 1 and by_q.get(1) == 0
    assert 2 not in by_q  # alone in its bucket -> no in-bucket neighbor


def test_cosine_dup_pairs(spark):
    rows = [
        (0, [0.5, 0.5, 0.1, 0.2]),
        (1, [0.52, 0.48, 0.12, 0.19]),  # near-dup of 0, same LSH bucket
        (2, [-0.5, -0.5, -0.1, -0.2]),  # different bucket, never compared
    ]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pairs = {(r.id_a, r.id_b): r.cosine for r in cosine_dup_pairs(vecs, "vec_id", "embedding", 4, 0.9).collect()}
    assert (0, 1) in pairs and len(pairs) == 1
    assert pairs[(0, 1)] > 0.99


def test_multimodal_decode_plumbing(spark):
    media = synthetic_media(spark, 12)
    assert media.schema["bytes"].dataType.simpleString() == "binary"
    decoded = decode_media(media)
    rows = decoded.collect()
    assert len(rows) == 12
    assert all(len(r.feature) == 8 for r in rows)
    # deterministic: same bytes -> same checksum/feature
    again = {r.media_id: (r.checksum, tuple(r.feature)) for r in decode_media(media).collect()}
    first = {r.media_id: (r.checksum, tuple(r.feature)) for r in rows}
    assert again == first
    # unit-norm features
    assert sum(v * v for v in rows[0].feature) == pytest.approx(1.0, abs=1e-9)

    frames = frame_sample_plan(media, every_n_seconds=1.0)
    f = frames.groupBy("media_id").count().collect()
    assert f and all(r["count"] >= 1 for r in f)


def test_knn_degenerate_inputs(spark):
    """Review regressions: NULL vectors, zero-norm vectors, and empty
    query sets must not crash or pollute the top-k."""
    rows = [
        (0, [1.0, 0.0]),
        (1, [0.9, 0.1]),
        (2, [0.0, 0.0]),   # zero-norm: undefined cosine, excluded
        (3, None),         # NULL vector: excluded
        (4, [0.8, 0.2]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = knn_bruteforce(df, df.filter("vec_id = 0"), "vec_id", "embedding", k=2).collect()
    assert [r.neighbor_id for r in sorted(out, key=lambda r: r.rank)] == [1, 4]
    assert all(r.neighbor_id not in (2, 3) for r in out)

    nothing = knn_bruteforce(df, df.filter("vec_id = 99"), "vec_id", "embedding", k=2)
    assert nothing.count() == 0

    # tie-break determinism: exact duplicates rank by neighbor_id asc
    dups = spark.createDataFrame(
        [(i, [1.0, 0.0]) for i in range(6)], "vec_id long, embedding array<double>"
    )
    top = knn_bruteforce(dups, dups.filter("vec_id = 5"), "vec_id", "embedding", k=3).collect()
    assert [r.neighbor_id for r in sorted(top, key=lambda r: r.rank)] == [0, 1, 2]


def test_knn_ivf_full_probe_equals_bruteforce(spark):
    from classification_pyspark_spark.catalog import load_table
    from classification_pyspark_spark.operators.similarity import knn_bruteforce, knn_ivf

    e = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = e.filter("vec_id < 5")
    exact = {(r.query_id, r.rank): r.neighbor_id for r in knn_bruteforce(e, q, "vec_id", "embedding", k=3).collect()}
    # probing every cell degrades IVF to exact brute-force
    full = {(r.query_id, r.rank): r.neighbor_id for r in
            knn_ivf(e, q, "vec_id", "embedding", k=3, n_clusters=8, n_probe=8).collect()}
    assert full == exact


def test_knn_ivf_partial_probe_recall(spark):
    from classification_pyspark_spark.catalog import load_table
    from classification_pyspark_spark.operators.similarity import knn_bruteforce, knn_ivf

    e = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = e.filter("vec_id < 5")
    exact = {(r.query_id, r.neighbor_id) for r in knn_bruteforce(e, q, "vec_id", "embedding", k=3).collect()}
    approx = knn_ivf(e, q, "vec_id", "embedding", k=3, n_clusters=8, n_probe=4).collect()
    hits = {(r.query_id, r.neighbor_id) for r in approx}
    # every query answered with k rows, and recall is nontrivial
    assert len(approx) == len(exact)
    assert len(hits & exact) / len(exact) >= 0.4


def test_ivf_indexed_partition_pruning(spark, tmp_path):
    from classification_pyspark_spark.catalog import load_table
    from classification_pyspark_spark.operators.similarity import (
        build_ivf_index,
        knn_ivf,
        knn_ivf_indexed,
    )

    e = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = e.filter("vec_id < 3")
    path = str(tmp_path / "ivf_index")
    centers = build_ivf_index(e, path, "vec_id", "embedding", n_clusters=8)
    out = knn_ivf_indexed(spark, path, q, "vec_id", "embedding", centers, k=3, n_probe=8)
    expected = knn_ivf(e, q, "vec_id", "embedding", k=3, n_clusters=8, n_probe=8, centers=centers)
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, expected.collect()))
    # the cluster isin filter must reach the scan as a partition filter
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cluster" in plan.split("PartitionFilters", 1)[1][:200]


@pytest.mark.parametrize("searcher", ["bruteforce", "ivf", "ivf_indexed", "lsh"])
def test_cosine_searchers_share_degenerate_vector_rule(spark, tmp_path, searcher):
    """Every cosine searcher: NULL and zero-norm vectors are never
    neighbors, a zero-norm query returns no rows, and an empty query
    set returns an empty frame with the output schema. At full probe
    the indexed IVF search equals the in-memory one row for row."""
    from classification_pyspark_spark.operators.similarity import (
        build_ivf_index,
        knn_ivf,
        knn_ivf_indexed,
    )

    rows = [
        (0, [0.0, 0.0]),
        (1, [1.0, 0.0]),
        (2, [0.9, 0.1]),
        (3, [0.0, 0.0]),
        (4, [0.8, 0.2]),
        (5, None),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    kw = dict(id_col="vec_id", vec_col="embedding", k=4)
    path = str(tmp_path / "ivf")
    centers = build_ivf_index(df, path, "vec_id", "embedding", n_clusters=2)

    def ivf(q):
        return knn_ivf(df, q, **kw, n_clusters=2, n_probe=2, centers=centers)

    search = {
        "bruteforce": lambda q: knn_bruteforce(df, q, **kw),
        "ivf": ivf,
        "ivf_indexed": lambda q: knn_ivf_indexed(spark, path, q, **kw, centers=centers, n_probe=2),
        # LSH has no separate query set: it searches the set itself
        "lsh": lambda q: knn_lsh(q, "vec_id", "embedding", 2, k=4),
    }[searcher]
    degenerate = {0, 3, 5}

    out = search(df).collect()
    assert not degenerate & {r.neighbor_id for r in out}
    assert not degenerate & {r.query_id for r in out}
    assert all(r.cosine is not None for r in out)
    if searcher != "lsh":  # LSH compares within buckets only
        got = {}
        for r in out:
            got.setdefault(r.query_id, []).append(r.neighbor_id)
        assert {q: sorted(n) for q, n in got.items()} == {1: [2, 4], 2: [1, 4], 4: [1, 2]}

    assert search(df.filter("vec_id = 0")).count() == 0

    empty = search(df.filter("vec_id < 0"))
    assert empty.count() == 0
    assert [(f.name, f.dataType.simpleString()) for f in empty.schema] == [
        ("query_id", "bigint"),
        ("neighbor_id", "bigint"),
        ("cosine", "double"),
        ("rank", "int"),
    ]

    if searcher == "ivf_indexed":
        for q in (df, df.filter("vec_id = 0"), df.filter("vec_id < 0")):
            assert sorted(map(tuple, search(q).collect())) == sorted(map(tuple, ivf(q).collect()))


def test_minhash_hot_bucket_cap(spark):
    """max_bucket_size drops degenerate LSH buckets (the O(k^2) hot
    bucket at scale) while leaving normal pairs untouched."""
    from pyspark.sql import functions as F

    from classification_pyspark_spark.operators.dedup_fuzzy import minhash_candidate_pairs

    # 6 identical boilerplate docs (one hot bucket) + 2 near-dup docs
    boiler = [(i, "lorem ipsum dolor sit amet consectetur") for i in range(6)]
    near = [
        (100, "the quick brown fox jumps over the lazy dog today"),
        (101, "the quick brown fox jumps over the lazy dog tonight"),
    ]
    df = spark.createDataFrame(boiler + near, "doc_id long, text string")

    uncapped = minhash_candidate_pairs(df, "text", "doc_id")
    capped = minhash_candidate_pairs(df, "text", "doc_id", max_bucket_size=4)

    unc = {(r["id_a"], r["id_b"]) for r in uncapped.collect()}
    cap = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    assert (100, 101) in unc and (100, 101) in cap
    # the 15 boilerplate pairs are pruned by the cap
    assert any(a < 6 and b < 6 for a, b in unc)
    assert not any(a < 6 and b < 6 for a, b in cap)


def test_ngram_posting_cap_is_lower_bound(spark):
    """Capped postings only lower jaccard, never raise it, and true
    near-dups survive a reasonable cap."""
    from classification_pyspark_spark.operators.dedup_fuzzy import ngram_jaccard_pairs

    rows = [
        (1, "alpha beta gamma delta epsilon zeta", "en"),
        (2, "alpha beta gamma delta epsilon eta", "en"),
        (3, "unrelated words entirely different content here", "en"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    exact = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(df, "text", "doc_id", "lang", min_jaccard=0.0).collect()
    }
    capped = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(
            df, "text", "doc_id", "lang", min_jaccard=0.0, max_posting_size=10
        ).collect()
    }
    assert (1, 2) in capped
    for k, v in capped.items():
        assert v <= exact[k] + 1e-9


def test_hot_bucket_guards_default_on(spark):
    """Production posture: a degenerate boilerplate corpus (every doc
    identical) must complete with BOUNDED pair counts under the
    default guards — one hot band bucket / posting list would
    otherwise emit k*(k-1)/2 pairs. Oracle queries opt out with an
    explicit None."""
    from classification_pyspark_spark.operators.dedup_fuzzy import (
        DEFAULT_MAX_BUCKET_SIZE,
        minhash_candidate_pairs,
        ngram_jaccard_pairs,
    )

    k = DEFAULT_MAX_BUCKET_SIZE + 100
    boiler = spark.range(k).selectExpr(
        "id AS doc_id",
        "'the same boilerplate footer text appears in every scraped page' AS text",
        "'en' AS lang",
    )
    # every doc lands in the same band bucket (size k > cap) -> dropped
    assert minhash_candidate_pairs(boiler, "text", "doc_id").count() == 0
    # every posting list has length k > cap -> stop-gram removal drops all
    assert ngram_jaccard_pairs(boiler, "text", "doc_id", "lang").count() == 0


def test_minhash_star_edges_connectivity_equivalent(spark, cc_paths):
    """Star edges (bucket-min form) must yield byte-identical connected
    components to the pair form — the contract that lets CC-only
    consumers (curation near-dup collapse, production dedup) swap in
    the O(k)-per-bucket generator — while emitting FEWER edges than
    the O(k²) pair form on a multi-member bucket, and honoring the
    same hot-bucket guard."""
    from classification_pyspark_spark.operators.dedup_fuzzy import (
        minhash_candidate_pairs,
        minhash_star_edges,
    )
    from classification_pyspark_spark.operators.graph import connected_components

    rows = [
        (i, "lorem ipsum dolor sit amet the same template family body")
        for i in range(8)
    ] + [
        (100 + i, f"completely unique document number {i} carrying words {i * 7} and {i * 13}")
        for i in range(4)
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    pairs = minhash_candidate_pairs(df, "text", "doc_id", max_bucket_size=None)
    stars = minhash_star_edges(df, "text", "doc_id", max_bucket_size=None)
    # 8-member bucket: pair form emits k(k-1)/2 = 28 pairs, star form
    # k-1 = 7 edges per band (un-deduped across bands) — strictly fewer
    assert stars.count() < pairs.count()
    for path in cc_paths():
        cc_pairs = {
            r.vertex: r.component
            for r in connected_components(
                pairs.select("id_a", "id_b"), "id_a", "id_b"
            ).collect()
        }
        cc_stars = {
            r.vertex: r.component
            for r in connected_components(stars, "id_a", "id_b").collect()
        }
        assert cc_pairs and cc_stars == cc_pairs, path
        # the hot-bucket guard applies identically (8 > cap 4 -> that
        # bucket contributes no edges in either form): components still match
        capped_pairs = {
            r.vertex: r.component
            for r in connected_components(
                minhash_candidate_pairs(df, "text", "doc_id", max_bucket_size=4)
                .select("id_a", "id_b"),
                "id_a",
                "id_b",
            ).collect()
        }
        capped_stars = {
            r.vertex: r.component
            for r in connected_components(
                minhash_star_edges(df, "text", "doc_id", max_bucket_size=4),
                "id_a",
                "id_b",
            ).collect()
        }
        assert capped_stars == capped_pairs, path


def test_resize_media_budget_and_determinism(spark):
    """resize_media: every row lands exactly on the target byte
    budget, deterministically, including empty payloads."""
    from classification_pyspark_spark.operators.multimodal import (
        resize_media,
        synthetic_media,
    )

    media = synthetic_media(spark, n=12)
    out = resize_media(media, width=4, height=4, channels=3).collect()
    assert len(out) == 12
    assert all(r["n_bytes"] == 48 and r["width"] == 4 and r["height"] == 4 for r in out)
    again = {r["media_id"]: r["checksum"] for r in
             resize_media(synthetic_media(spark, n=12), width=4, height=4, channels=3).collect()}
    assert {r["media_id"]: r["checksum"] for r in out} == again

    import pandas as pd  # noqa: F401

    empty = spark.createDataFrame(
        [(1, "image", bytearray(b""))], "media_id long, media_type string, bytes binary"
    )
    r = resize_media(empty, width=2, height=2, channels=3).first()
    assert r["n_bytes"] == 12  # zero-filled, not a crash


def test_simhash_segment_blocking_equals_naive_join(spark, sf_dir):
    """Pigeonhole segment blocking is LOSSLESS for hamming <= k with
    k+1 segments: the blocked operator must return exactly the pairs a
    naive O(n^2) block self-join returns."""
    from pyspark.sql import functions as F

    from classification_pyspark_spark.catalog import load_table
    from classification_pyspark_spark.operators.dedup_fuzzy import (
        simhash_expr,
        simhash_hamming_pairs,
    )

    d = load_table(spark, sf_dir, "documents")
    got = sorted(
        map(tuple, simhash_hamming_pairs(d, "text", "doc_id", "lang").collect())
    )

    sh = d.select("doc_id", "lang", simhash_expr("text").alias("h"))
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
    assert got == naive and len(got) > 0


def test_edit_distance_prefix_blocking_subset_and_recall(spark):
    """The simhash-prefix block key is an approximation: its pairs must
    be a SUBSET of the exact operator's, and pairs with identical or
    near-identical heads (the actual near-dups) must survive — same
    head => same simhash => same prefix."""
    from classification_pyspark_spark.operators.dedup_fuzzy import (
        edit_distance_head_pairs,
    )

    base = "the quick brown fox jumps over the lazy dog again and again " * 3
    rows = [
        (1, base, "en"),
        (2, base, "en"),                      # exact dup of 1
        (3, base.replace("quick", "quack"), "en"),  # 2-char edit of 1
        (4, "completely different text about spark shuffle partitions " * 3, "en"),
        (5, "another unrelated document mentioning parquet and arrow " * 3, "en"),
    ]
    d = spark.createDataFrame(rows, "doc_id: long, text: string, lang: string")
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
    assert (1, 2, 0) in exact and (1, 2, 0) in pfx  # exact-dup pair survives
    # the near-dup pair (one edit inside the 60-char head) is in the
    # exact result; the prefix variant keeps it (few flipped chars
    # rarely flip high vote bits)
    assert (1, 3, 1) in exact and (1, 3, 1) in pfx
    # unrelated docs never pair
    assert not any(4 in p[:2] or 5 in p[:2] for p in exact)


def test_rouge_n_known_values(spark):
    """ROUGE-2 against hand-computed clipped-count references,
    including the repetition-clipping case and an empty candidate."""
    from classification_pyspark_spark.operators.text import rouge_n

    rows = [
        (0, "a b a c", "a b a"),   # matches 2: p=1, r=2/3, f=0.8
        (1, "a a a", "a a a a"),   # clipped min(2,3)=2: p=2/3, r=1, f=0.8
        (2, "a b c", "x"),         # no candidate bigrams: all 0
        (3, "", "a b"),            # no reference bigrams: p=0, r=0
    ]
    df = spark.createDataFrame(rows, "doc_id long, ref string, cand string")
    got = {
        r["id"]: (r["n_ref_grams"], r["n_cand_grams"], r["rouge_p"], r["rouge_r"], r["rouge_f"])
        for r in rouge_n(df, "ref", "cand", "doc_id", n=2).collect()
    }
    assert got[0] == (3, 2, 1.0, 0.666667, 0.8)
    assert got[1] == (2, 3, 0.666667, 1.0, 0.8)
    assert got[2] == (2, 0, 0.0, 0.0, 0.0)
    assert got[3] == (0, 1, 0.0, 0.0, 0.0)


def test_bleu_n_known_values(spark):
    """BLEU-2 against hand-computed references: clipped precisions,
    brevity penalty, geometric mean, and the empty/degenerate cases."""
    import math

    from classification_pyspark_spark.operators.text import bleu_n

    rows = [
        (0, "the cat sat on the mat", "the cat sat on the mat"),
        (1, "the cat sat on the mat", "the cat the cat"),
        (2, "a b c d", "x"),
        (3, "a b", ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, ref string, cand string")
    got = {
        r["id"]: (r["n_ref_tokens"], r["n_cand_tokens"], r["p1"], r["p2"], r["bleu"])
        for r in bleu_n(df, "ref", "cand", "doc_id", max_n=2).collect()
    }
    assert got[0] == (6, 6, 1.0, 1.0, 1.0)
    # p1 = (min(2,2)+min(2,1))/4 = 0.75 ; p2 = min(2,1)/3 = 1/3
    # bleu = exp(1 - 6/4) * sqrt(0.75/3)
    want = round(math.exp(-0.5) * math.sqrt(0.75 / 3.0), 6)
    assert got[1] == (6, 4, 0.75, 0.333333, want)
    assert got[2] == (4, 1, 0.0, 0.0, 0.0)
    assert got[3] == (2, 0, 0.0, 0.0, 0.0)
