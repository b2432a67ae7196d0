"""Query registry batch 3: LLM-data-pipeline operators over
documents + embeddings (north-star extensions).

Engine/oracle portability notes:
- md5 hex digests and their lexicographic ordering are identical in
  Spark and DuckDB -> minhash signatures use min-of-hex-digest;
- 16-bit hash ints parse as ``conv(hex,16,10)`` (Spark) and
  ``('0x'||hex)::BIGINT`` (DuckDB);
- LSH hyperplanes are derived from ``sin(p*1000+j)`` — bit-identical
  doubles in JVM and libm for these arguments;
- cosines are rounded to 4 before compare; ranks are computed on the
  raw values with id tie-breaks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .catalog import load_table, spread_for_compute
from .queries import query

EMB_DIM = 64


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------
@query(
    "text_stats",
    sql=r"""
    SELECT doc_id,
           CAST(len(string_split_regex(trim(text), '\s+')) AS INT) AS n_tokens,
           CAST(len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
                t -> t IN ('the','a','of','and','to','in','is','it'))) AS INT) AS n_stopwords,
           ROUND(len(regexp_replace(lower(text), '[0-9a-z\s]', '', 'g')) * 1.0
                 / GREATEST(len(text), 1), 8) AS punct_ratio,
           ROUND(0.4 * LEAST(len(string_split_regex(trim(text), '\s+')) / 100.0, 1.0)
               + 0.3 * (1.0 - len(regexp_replace(lower(text), '[0-9a-z\s]', '', 'g')) * 1.0
                              / GREATEST(len(text), 1))
               + 0.3 * LEAST(len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
                        t -> t IN ('the','a','of','and','to','in','is','it')))
                        / GREATEST(len(string_split_regex(trim(text), '\s+')), 1) / 0.10, 1.0),
             8) AS quality_score
    FROM documents
    """,
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token count + stopword count + punctuation ratio + composite
    quality score per document (LLM-corpus quality filtering).

    One split+fold and ONE punct regex per row: the per-expression
    form re-ran the whitespace split three times and the regex twice
    (HOF lambdas get no codegen CSE, and CollapseProject re-inlines a
    shared alias into every use), so the intermediates are evaluated
    once behind an explode(array(struct)) Generate barrier —
    CollapseProject cannot cross a Generate, making single evaluation
    structural, not an optimizer courtesy. The scan is spread to full
    core count first (single-file documents table otherwise runs the
    whole codegen stage on one task)."""
    from .catalog import spread_for_compute
    from .operators.text import ws_token_stats_expr

    d = spread_for_compute(load_table(spark, sf_dir, "documents"))
    c = F.col("text")
    mid = d.select(
        "doc_id",
        F.explode(
            F.array(
                F.struct(
                    ws_token_stats_expr("text").alias("ws"),
                    F.length(
                        F.regexp_replace(F.lower(c), r"[0-9a-z\s]", "")
                    ).alias("plen"),
                    F.length(c).alias("tlen"),
                )
            )
        ).alias("m"),
    )
    n = F.col("m.ws.n").cast("double")
    stop = F.col("m.ws.stop").cast("double")
    punct = F.col("m.plen") / F.greatest(F.col("m.tlen"), F.lit(1))
    return mid.select(
        "doc_id",
        F.col("m.ws.n").cast("int").alias("n_tokens"),
        F.col("m.ws.stop").cast("int").alias("n_stopwords"),
        F.round(punct, 8).alias("punct_ratio"),
        F.round(
            0.4 * F.least(n / 100.0, F.lit(1.0))
            + 0.3 * (1.0 - punct)
            + 0.3 * F.least(stop / F.greatest(n, F.lit(1.0)) / 0.10, F.lit(1.0)),
            8,
        ).alias("quality_score"),
    )


@query(
    "text_langid",
    sql=r"""
    WITH toks AS (
      SELECT doc_id, lang, string_split_regex(trim(lower(text)), '\s+') AS t
      FROM documents
    ),
    scores AS (
      SELECT doc_id, lang,
        [
          {hits: len(list_filter(t, x -> x IN ('the','and','of','is','to'))), lang: 'en'},
          {hits: len(list_filter(t, x -> x IN ('le','et','les','une','est'))), lang: 'fr'},
          {hits: len(list_filter(t, x -> x IN ('der','die','und','das','ist'))), lang: 'de'},
          {hits: len(list_filter(t, x -> x IN ('el','los','una','es','y'))), lang: 'es'},
          {hits: len(list_filter(t, x -> x IN ('de','shi','le','bu','zai'))), lang: 'zh'}
        ] AS s
      FROM toks
    ),
    m AS (
      SELECT doc_id, lang, s,
             list_aggregate(list_transform(s, e -> e['hits']), 'max') AS mh
      FROM scores
    )
    SELECT doc_id, lang,
           list_aggregate(
             list_transform(list_filter(s, e -> e['hits'] = mh), e -> e['lang']),
             'min') AS lang_guess
    FROM m
    """,
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-hit language-ID heuristic: (doc_id, labeled lang,
    deterministic guess). Scores per-language stopword hits, argmax
    with lexicographic tie-break."""
    from .operators.text import langid_expr

    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", "lang", langid_expr("text").alias("lang_guess"))


@query(
    "doc_fingerprint",
    sql="""
    SELECT doc_id,
           list_reduce(
             list_transform(range(1, len(lower(text)) + 1),
                            i -> ascii(substr(lower(text), i, 1))::BIGINT),
             (a, b) -> (a * 31 + b) % 1000000007
           ) AS fingerprint
    FROM documents
    """,
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling polynomial hash fingerprint (mod 1e9+7) per document."""
    from .operators.text import fingerprint_expr

    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", fingerprint_expr("text").alias("fingerprint"))


# ---------------------------------------------------------------------------
# Dedup family
# ---------------------------------------------------------------------------
@query(
    "dedup_exact_text",
    sql="""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 50 = 0
    )
    SELECT md5(text) AS digest, CAST(COUNT(*) AS BIGINT) AS n_docs,
           MIN(doc_id) AS min_doc_id
    FROM corpus GROUP BY 1 HAVING COUNT(*) > 1
    """,
)
def dedup_exact_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact text dedup via md5-groupBy. The synthetic corpus has no
    exact dups, so duplicates are injected deterministically (every
    50th doc re-added under a shifted id) to prove detection."""
    from .operators.dedup_fuzzy import exact_duplicate_groups

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    injected = d.filter(F.col("doc_id") % 50 == 0).withColumn(
        "doc_id", F.col("doc_id") + 1000000
    )
    return exact_duplicate_groups(d.unionByName(injected), "text", "doc_id")


@query(
    "minhash_signatures",
    sql="""
    WITH d AS (
      SELECT doc_id,
             list_transform(range(1, greatest(len(lower(text))-4,1)+1),
                            i -> md5(substr(lower(text), i, 5))) AS dg
      FROM documents
    )
    SELECT doc_id,
      list_aggregate(list_transform(dg, x -> substr(x, 1, 8)), 'min')  AS minhash_0,
      list_aggregate(list_transform(dg, x -> substr(x, 9, 8)), 'min')  AS minhash_1,
      list_aggregate(list_transform(dg, x -> substr(x, 17, 8)), 'min') AS minhash_2,
      list_aggregate(list_transform(dg, x -> substr(x, 25, 8)), 'min') AS minhash_3
    FROM d
    """,
)
def minhash_signatures_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures (4 seeds over 5-char shingles): the sketch
    stage of scalable near-dup detection."""
    from .operators.dedup_fuzzy import minhash_signatures

    d = spread_for_compute(load_table(spark, sf_dir, "documents"))
    return minhash_signatures(d, "text", "doc_id")


@query(
    "minhash_dup_pairs",
    sql="""
    WITH d AS (
      SELECT doc_id,
             list_transform(range(1, greatest(len(lower(text))-4,1)+1),
                            i -> md5(substr(lower(text), i, 5))) AS dg
      FROM documents
    ),
    sig AS (
      SELECT doc_id, s,
             list_aggregate(list_transform(dg, x -> substr(x, 8 * s + 1, 8)), 'min') AS h
      FROM d, (SELECT unnest([0,1,2,3]) AS s)
    ),
    banded AS (
      SELECT doc_id, s // 2 AS band, md5(string_agg(h, '|' ORDER BY s)) AS bh
      FROM sig GROUP BY doc_id, s // 2
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(COUNT(*) AS BIGINT) AS n_shared_bands
    FROM banded a JOIN banded b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    """,
)
def minhash_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup candidate pairs: docs colliding in >=1 minhash band
    (bands of 2 hashes ANDed — standard LSH banding). Pairs meet only
    inside band buckets (no cross join), the 100 TB dedup join pattern."""
    from .operators.dedup_fuzzy import minhash_candidate_pairs

    d = spread_for_compute(load_table(spark, sf_dir, "documents"))
    # oracle parity: exhaustive pairing, hot-bucket guard explicitly off
    return minhash_candidate_pairs(d, "text", "doc_id", max_bucket_size=None)


@query(
    "minhash_incremental_dedup",
    sql="""
    WITH d AS (
      SELECT doc_id,
             list_transform(range(1, greatest(len(lower(text))-4,1)+1),
                            i -> md5(substr(lower(text), i, 5))) AS dg
      FROM documents
    ),
    sig AS (
      SELECT doc_id, s,
             list_aggregate(list_transform(dg, x -> substr(x, 8 * s + 1, 8)), 'min') AS h
      FROM d, (SELECT unnest([0,1,2,3]) AS s)
    ),
    banded AS (
      SELECT doc_id, s // 2 AS band, md5(string_agg(h, '|' ORDER BY s)) AS bh
      FROM sig GROUP BY doc_id, s // 2
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(COUNT(*) AS BIGINT) AS n_shared_bands
    FROM banded a JOIN banded b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
    WHERE a.doc_id % 5 = 0 OR b.doc_id % 5 = 0
    GROUP BY 1, 2
    """,
)
def minhash_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-ingest dedup: the corpus splits into an INDEXED set
    (doc_id % 5 != 0, standing in for yesterday's corpus whose band
    index is already materialized) and a NEW batch (doc_id % 5 == 0);
    the incremental operator emits exactly the pairs a full rebuild
    would report that involve at least one new doc — while computing
    NO indexed-vs-indexed comparisons and re-signaturing nothing but
    the batch. The oracle is the full-rebuild band join filtered to
    new-involving pairs: identical by construction, value-hash-checked
    here."""
    from .operators.dedup_fuzzy import minhash_band_long, minhash_incremental_pairs

    d = spread_for_compute(load_table(spark, sf_dir, "documents"))
    indexed = minhash_band_long(
        d.filter(F.col("doc_id") % 5 != 0), "text", "doc_id"
    )
    new = d.filter(F.col("doc_id") % 5 == 0)
    return minhash_incremental_pairs(
        indexed, new, "text", "doc_id", max_bucket_size=None
    )


@query(
    "simhash_fingerprints",
    sql="""
    WITH h AS (
      SELECT doc_id,
             list_transform(string_split_regex(trim(lower(text)), '\\s+'),
                            t -> ('0x' || substr(md5(t), 1, 4))::BIGINT) AS hs
      FROM documents
    )
    SELECT doc_id,
           CAST(list_sum(list_transform(range(0, 16),
             j -> CASE WHEN list_sum(list_transform(hs, x -> ((x >> j) & 1) * 2 - 1)) > 0
                       THEN (1::BIGINT << j) ELSE 0 END)) AS BIGINT) AS simhash
    FROM h
    """,
)
def simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash per document (sign of per-bit vote over token
    hashes) — hamming-distance near-dup sketch."""
    from .operators.dedup_fuzzy import simhash_expr

    d = spread_for_compute(load_table(spark, sf_dir, "documents"))
    return d.select("doc_id", simhash_expr("text").alias("simhash"))


@query(
    "ngram_jaccard_pairs",
    sql=r"""
    WITH posting AS (
      SELECT doc_id AS id, lang AS blk, unnest(list_distinct(g)) AS gram
      FROM (
        SELECT doc_id, lang,
               list_transform(range(1, greatest(len(string_split_regex(trim(lower(text)), '\s+')) - 2, 1) + 1),
                 i -> array_to_string(list_slice(string_split_regex(trim(lower(text)), '\s+'), i, i + 2), ' ')) AS g
        FROM documents
      )
    ),
    sizes AS (SELECT id, COUNT(*) AS n_grams FROM posting GROUP BY id),
    inter AS (
      SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_common
      FROM posting a JOIN posting b ON a.blk = b.blk AND a.gram = b.gram AND a.id < b.id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           ROUND(n_common * 1.0 / (sa.n_grams + sb.n_grams - n_common), 4) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.id = id_a
    JOIN sizes sb ON sb.id = id_b
    WHERE n_common * 1.0 / (sa.n_grams + sb.n_grams - n_common) >= 0.2
    """,
)
def ngram_jaccard_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-3-gram Jaccard near-dup pairs, blocked by lang (posting-
    list self-join — the exact-similarity complement to minhash)."""
    from .operators.dedup_fuzzy import ngram_jaccard_pairs

    d = spread_for_compute(load_table(spark, sf_dir, "documents"))
    # oracle parity: exact semantics, stop-gram guard explicitly off
    return ngram_jaccard_pairs(d, "text", "doc_id", "lang", n=3, min_jaccard=0.2,
                               max_posting_size=None)


# ---------------------------------------------------------------------------
# Embedding similarity search
# ---------------------------------------------------------------------------
_COS = """ROUND(
  list_inner_product(a.v, b.v) /
  (SQRT(list_inner_product(a.v, a.v)) * SQRT(list_inner_product(b.v, b.v))), 4)"""


@query(
    "knn_bruteforce",
    sql=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    scored AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             list_inner_product(a.v, b.v) /
             (SQRT(list_inner_product(a.v, a.v)) * SQRT(list_inner_product(b.v, b.v))) AS c
      FROM e a JOIN e b ON a.vec_id < 10 AND a.vec_id <> b.vec_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, c,
             row_number() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id ASC) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, ROUND(c, 4) AS cosine, CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= 5
    """,
)
def knn_bruteforce_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-5 cosine neighbors for query vectors (vec_id < 10):
    the ANN correctness baseline. Queries broadcast; corpus scanned
    once, never shuffled."""
    from .operators.similarity import knn_bruteforce

    e = load_table(spark, sf_dir, "embeddings")
    out = knn_bruteforce(e, e.filter(F.col("vec_id") < 10), "vec_id", "embedding", k=5)
    return out.withColumn("rank", F.col("rank").cast("int"))


@query(
    "lsh_buckets",
    sql=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
    SELECT vec_id,
      CAST((
        SELECT SUM(CASE WHEN (
          SELECT SUM(v[j + 1] * SIN(p.p * 1000 + j)) FROM unnest(range(0, {EMB_DIM})) AS u(j)
        ) > 0 THEN 1 << p.p ELSE 0 END)
        FROM (SELECT unnest(range(0, 8)) AS p) p
      ) AS INT) AS bucket
    FROM e
    """,
)
def lsh_buckets_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH bucket assignment (8 deterministic
    sin-derived planes -> 256 buckets): the partitioning key that turns
    all-pairs similarity into per-bucket joins at scale."""
    from .operators.similarity import lsh_buckets

    e = load_table(spark, sf_dir, "embeddings")
    return lsh_buckets(e, "vec_id", "embedding", EMB_DIM)


@query(
    "embedding_dup_pairs",
    sql=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    b AS (
      SELECT vec_id, v,
        (SELECT SUM(CASE WHEN (
           SELECT SUM(v[j + 1] * SIN(p.p * 1000 + j)) FROM unnest(range(0, {EMB_DIM})) AS u(j)
         ) > 0 THEN 1 << p.p ELSE 0 END)
         FROM (SELECT unnest(range(0, 8)) AS p) p) AS bucket
      FROM e
    )
    SELECT a.vec_id AS id_a, b2.vec_id AS id_b, {_COS.replace('b.', 'b2.')} AS cosine
    FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id
    WHERE {_COS.replace('b.', 'b2.')} >= 0.3
    """,
)
def embedding_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs (cosine >= 0.3) within LSH buckets —
    the embedding-space dedup pattern (threshold tuned low because the
    synthetic vectors are near-orthogonal; production would use ~0.95)."""
    from .operators.similarity import cosine_dup_pairs

    e = load_table(spark, sf_dir, "embeddings")
    return cosine_dup_pairs(e, "vec_id", "embedding", EMB_DIM, min_cosine=0.3)


@query(
    "embedding_incremental_dedup",
    sql=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    b AS (
      SELECT vec_id, v,
        (SELECT SUM(CASE WHEN (
           SELECT SUM(v[j + 1] * SIN(p.p * 1000 + j)) FROM unnest(range(0, {EMB_DIM})) AS u(j)
         ) > 0 THEN 1 << p.p ELSE 0 END)
         FROM (SELECT unnest(range(0, 8)) AS p) p) AS bucket
      FROM e
    )
    SELECT a.vec_id AS id_a, b2.vec_id AS id_b, {_COS.replace('b.', 'b2.')} AS cosine
    FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id
    WHERE {_COS.replace('b.', 'b2.')} >= 0.3
      AND (a.vec_id % 5 = 0 OR b2.vec_id % 5 = 0)
    """,
)
def embedding_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-ingest dedup, embedding edition: vectors with
    vec_id % 5 != 0 stand in for the already-indexed corpus
    (``build_cosine_lsh_index``'s bucket-partitioned frame), the rest
    are the new batch. The incremental operator bucket-prunes the
    index to the batch's neighborhoods and runs the bipartite GEMM
    grid — new-vs-indexed + new-vs-new, no indexed² work — and its
    output is by construction the full rebuild restricted to
    new-involving pairs, which is exactly what the oracle computes."""
    from .operators.similarity import cosine_incremental_pairs, lsh_base_frame

    e = load_table(spark, sf_dir, "embeddings")
    indexed = lsh_base_frame(
        e.filter(F.col("vec_id") % 5 != 0), "vec_id", "embedding", EMB_DIM
    )
    new = e.filter(F.col("vec_id") % 5 == 0)
    return cosine_incremental_pairs(
        indexed, new, "vec_id", "embedding", EMB_DIM, min_cosine=0.3
    )


@query(
    "tfidf_top_terms",
    sql=r"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(lower(text)), '[^0-9a-z]+'),
                         t -> len(t) > 0) AS t
      FROM documents
    ),
    terms AS (SELECT doc_id, unnest(t) AS term FROM toks),
    tf AS (
      SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
      FROM terms GROUP BY 1, 2
    ),
    dfreq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf,
             ROUND(tf.tf * (ln((1.0 + n.n_docs) / (1.0 + dfreq.df)) + 1.0), 6) AS tfidf
      FROM tf JOIN dfreq ON tf.term = dfreq.term CROSS JOIN n
    ),
    ranked AS (
      SELECT doc_id, term, tf, tfidf,
             CAST(row_number() OVER (PARTITION BY doc_id
                                     ORDER BY tfidf DESC, term ASC) AS INT) AS rank
      FROM scored
    )
    SELECT * FROM ranked WHERE rank <= 5
    """,
)
def tfidf_top_terms_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 TF-IDF terms per document (smoothed idf) — the classic
    corpus-keyword query; tf agg combines map-side, the vocabulary-sized
    df frame joins back under AQE."""
    from .operators.text import tfidf_top_terms

    d = spread_for_compute(load_table(spark, sf_dir, "documents"))
    return tfidf_top_terms(d, "text", "doc_id", k=5)


# ---------------------------------------------------------------------------
# Multimodal binary columns (SURVEY.md §7 Phase 5d) — media bytes are
# opaque binary + typed metadata; the decode itself is the stubbed
# md5-feature step (no codec libs in this container), but the byte
# plumbing below is real and oracle-checked: documents.text utf-8 bytes
# stand in for media payloads deterministically in BOTH engines.
# ---------------------------------------------------------------------------
@query(
    "media_byte_stats",
    sql="""
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_media,
           CAST(SUM(octet_length(encode(text))) AS BIGINT) AS total_bytes,
           ROUND(AVG(octet_length(encode(text))), 4) AS avg_bytes,
           CAST(MAX(octet_length(encode(text))) AS BIGINT) AS max_bytes
    FROM documents GROUP BY source
    """,
)
def media_byte_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-size profile of a binary media column per source: the
    storage-planning query for multimodal corpora (bytes never leave
    the executors — only per-group size aggregates)."""
    d = load_table(spark, sf_dir, "documents")
    blob = F.encode(F.col("text"), "utf-8")
    n = F.length(blob)
    return d.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_media"),
        F.sum(n).cast("long").alias("total_bytes"),
        F.round(F.avg(n), 4).alias("avg_bytes"),
        F.max(n).cast("long").alias("max_bytes"),
    )


@query(
    "media_decode_features",
    sql="""
    SELECT doc_id AS media_id,
           ['image', 'audio', 'video'][CAST(doc_id % 3 AS INT) + 1] AS media_type,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           md5(text) AS checksum
    FROM documents
    """,
)
def media_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched ``mapInPandas`` media decode on the graded
    surface: documents' utf-8 bytes stand in for media payloads, typed
    image/audio/video by id. The decode stub emits (n_bytes, md5
    checksum, feature vector); the checksum column makes the Python
    batch path oracle-checkable bit-for-bit (DuckDB md5 of the same
    bytes). Raw bytes are dropped before anything shuffles."""
    from .operators.multimodal import decode_media

    d = spread_for_compute(load_table(spark, sf_dir, "documents"))
    media = d.select(
        F.col("doc_id").alias("media_id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("media_type"),
        F.encode(F.col("text"), "utf-8").alias("bytes"),
    )
    return decode_media(media).select("media_id", "media_type", "n_bytes", "checksum")


@query(
    "knn_ivf",
    sql="""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    scored AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             list_inner_product(a.v, b.v) /
             (SQRT(list_inner_product(a.v, a.v)) * SQRT(list_inner_product(b.v, b.v))) AS c
      FROM e a JOIN e b ON a.vec_id < 10 AND a.vec_id <> b.vec_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, c,
             row_number() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id ASC) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, ROUND(c, 4) AS cosine, CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= 5
    """,
)
def knn_ivf_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-5 neighbors through the full IVF machinery (16-cell
    KMeans coarse quantizer, cluster assignment, per-batch
    top-k) run at n_probe == n_clusters, where IVF is EXACT — every
    cell is probed, so the result equals brute-force and the DuckDB
    brute-force oracle checks the whole code path. The *approximate*
    scale posture (n_probe=4: scoring touches ~n_probe/n_clusters of
    the corpus; the materialized index variant ``build_ivf_index``
    prunes non-probed cells at SCAN time) is graded by
    ``knn_ivf_recall`` (rows-only + recall-floor pytest) and the
    exact-at-full-probe test in tests/test_llm_ops.py."""
    from .operators.similarity import knn_ivf

    e = load_table(spark, sf_dir, "embeddings")
    return knn_ivf(
        e, e.filter(F.col("vec_id") < 10), "vec_id", "embedding", k=5, n_clusters=16, n_probe=16
    )


@query(
    "text_redact_pii",
    sql=r"""
    WITH red AS (
      SELECT doc_id,
             regexp_replace(
               regexp_replace(
                 regexp_replace(text,
                   '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '[EMAIL]', 'g'),
                 '[0-9]{3}[-.][0-9]{3,4}[-.][0-9]{4}', '[PHONE]', 'g'),
               '[0-9]{9,}', '[IDNUM]', 'g') AS redacted,
             text
      FROM documents
    )
    SELECT doc_id, redacted,
           CAST(CASE WHEN redacted <> text THEN 1 ELSE 0 END AS INT) AS was_redacted
    FROM red
    """,
)
def text_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub (emails / phone shapes / long digit runs -> typed
    placeholders) — the pre-training privacy filter, pure codegen
    regexp chain; oracle replays the same RE2-safe patterns."""
    from .operators.text import redact_pii_expr

    d = load_table(spark, sf_dir, "documents")
    red = redact_pii_expr("text")
    return d.select(
        "doc_id",
        red.alias("redacted"),
        F.when(red != F.col("text"), 1).otherwise(0).cast("int").alias("was_redacted"),
    )


@query(
    "top_bigrams",
    sql=r"""
    WITH toks AS (
      SELECT list_filter(string_split_regex(trim(lower(text)), '[^0-9a-z]+'),
                         t -> len(t) > 0) AS t
      FROM documents
    ),
    grams AS (
      SELECT unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1])) AS gram
      FROM toks
    ),
    counts AS (
      SELECT gram, CAST(COUNT(*) AS BIGINT) AS n FROM grams GROUP BY gram
    )
    SELECT gram, n,
           CAST(row_number() OVER (ORDER BY n DESC, gram ASC) AS INT) AS rank
    FROM counts ORDER BY rank LIMIT 20
    """,
)
def top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-20 bigrams: n-gram generation in array codegen,
    counts hash-agg'ed with map-side combine (the shuffle carries
    vocabulary-sized partials, not the token stream)."""
    from .operators.text import top_ngrams

    d = spread_for_compute(load_table(spark, sf_dir, "documents"))
    return top_ngrams(d, "text", n=2, top_k=20)


@query(
    "top_bigrams_capped",
    sql=r"""
    WITH toks AS (
      SELECT list_filter(string_split_regex(trim(lower(text)), '[^0-9a-z]+'),
                         t -> len(t) > 0) AS t
      FROM documents
    ),
    grams AS (
      SELECT unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1])) AS gram
      FROM toks
    ),
    counts AS (
      SELECT gram, CAST(COUNT(*) AS BIGINT) AS n FROM grams GROUP BY gram
      HAVING COUNT(*) >= 10
    )
    SELECT gram, n,
           CAST(row_number() OVER (ORDER BY n DESC, gram ASC) AS INT) AS rank
    FROM counts ORDER BY rank LIMIT 20
    """,
)
def top_bigrams_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``top_bigrams`` with the production min_count floor enforced
    PRE-SHUFFLE (the cap variant PLANS.md's inherent-cost note
    sketches): an md5-prefix hashed-bucket candidate pass whose
    exchange is capped at 2^20 FIXED-WIDTH rows per task no matter
    how large the vocabulary grows (the uncapped twin's exchange is
    vocabulary-keyed — billions of string keys at 100 TB), and only
    grams in buckets totalling >= 10 reach the vocabulary-keyed count
    aggregate — at sf1 the gram exchange shrinks from 2.23M distinct
    bigrams to the ~1.4k qualifying ones plus collision hitchhikers.
    Measured at sf1: total shuffle bytes 61 MB -> 36 MB (the bucket
    pass pays ~35 MB of fixed-width partials on this adversarially
    flat synthetic bigram domain) at the cost of a second tokenize
    pass (string-free: rolling 64-bit gram hashes, each token hashed
    once) — fresh-session sf1 8.9s vs the uncapped 12.1s, sf10 89s vs
    73s: the byte trade a network-bound cluster wants, roughly
    wall-clock-neutral on a single CPU-bound machine. Exact over the
    floored domain (bucket total bounds member-gram counts, hash
    collisions included, so no false negatives; the recount + HAVING
    floor are exact), which is what the oracle asserts: the plain
    ``HAVING >= 10`` top-20 with no bucket machinery visible."""
    from .operators.text import top_ngrams_capped

    d = spread_for_compute(load_table(spark, sf_dir, "documents"))
    return top_ngrams_capped(d, "text", n=2, top_k=20, min_count=10)


@query(
    "embedding_centroids",
    sql="""
    SELECT label, CAST(pos AS INT) AS pos, ROUND(AVG(v), 4) AS centroid_v
    FROM (SELECT label, unnest(embedding) AS v,
                 unnest(range(len(embedding))) AS pos
          FROM embeddings)
    GROUP BY label, pos
    """,
)
def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class mean embedding (long format: label, dimension, value)
    — the centroid build used by IVF coarse quantizers and class
    prototypes. ``posexplode`` fans each vector into (pos, v) rows, but
    map-side partial aggregation condenses every task's output to at
    most labels x dim rows before the shuffle, so the exchange is
    centroid-sized, not corpus-sized, at any scale."""
    e = load_table(spark, sf_dir, "embeddings")
    return (
        e.select("label", F.posexplode("embedding").alias("pos", "v"))
        .groupBy("label", "pos")
        .agg(F.round(F.avg("v"), 4).alias("centroid_v"))
    )


@query(
    "corpus_curation",
    sql=r"""
    WITH corpus AS (
      SELECT doc_id, text, source FROM documents
      UNION ALL
      SELECT doc_id + 1000000, text, source FROM documents WHERE doc_id % 40 = 0
    ),
    scored AS (
      SELECT doc_id, source, md5(text) AS digest,
        ROUND(0.4 * LEAST(len(string_split_regex(trim(text), '\s+')) / 100.0, 1.0)
            + 0.3 * (1.0 - len(regexp_replace(lower(text), '[0-9a-z\s]', '', 'g')) * 1.0
                           / GREATEST(len(text), 1))
            + 0.3 * LEAST(len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
                     t -> t IN ('the','a','of','and','to','in','is','it')))
                     / GREATEST(len(string_split_regex(trim(text), '\s+')), 1) / 0.10, 1.0),
          8) AS q,
        (SELECT list_aggregate(
             list_transform(list_filter(s, e -> e['hits'] = list_aggregate(
                 list_transform(s, e2 -> e2['hits']), 'max')), e -> e['lang']), 'min')
         FROM (SELECT [
            {hits: len(list_filter(t, x -> x IN ('the','and','of','is','to'))), lang: 'en'},
            {hits: len(list_filter(t, x -> x IN ('le','et','les','une','est'))), lang: 'fr'},
            {hits: len(list_filter(t, x -> x IN ('der','die','und','das','ist'))), lang: 'de'},
            {hits: len(list_filter(t, x -> x IN ('el','los','una','es','y'))), lang: 'es'},
            {hits: len(list_filter(t, x -> x IN ('de','shi','le','bu','zai'))), lang: 'zh'}
          ] AS s
          FROM (SELECT string_split_regex(trim(lower(corpus.text)), '\s+') AS t))
        ) AS lg
      FROM corpus
    ),
    flags AS (
      SELECT *, (lg = 'en') AS lang_ok, (q >= 0.65) AS q_ok FROM scored
    ),
    dd AS (
      SELECT source, q,
             row_number() OVER (PARTITION BY digest ORDER BY doc_id) AS rn
      FROM flags WHERE lang_ok AND q_ok
    ),
    totals AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(COUNT(CASE WHEN NOT lang_ok THEN 1 END) AS BIGINT) AS n_dropped_lang,
             CAST(COUNT(CASE WHEN lang_ok AND NOT q_ok THEN 1 END) AS BIGINT) AS n_dropped_quality
      FROM flags GROUP BY source
    ),
    kept AS (
      SELECT source,
             CAST(COUNT(CASE WHEN rn > 1 THEN 1 END) AS BIGINT) AS n_dropped_dup,
             CAST(COUNT(CASE WHEN rn = 1 THEN 1 END) AS BIGINT) AS n_kept,
             ROUND(AVG(CASE WHEN rn = 1 THEN q END), 4) AS avg_quality_kept
      FROM dd GROUP BY source
    )
    SELECT totals.source, n_docs, n_dropped_lang, n_dropped_quality,
           COALESCE(n_dropped_dup, 0) AS n_dropped_dup,
           COALESCE(n_kept, 0) AS n_kept,
           COALESCE(avg_quality_kept, 0.0) AS avg_quality_kept
    FROM totals LEFT JOIN kept ON totals.source = kept.source
    """,
)
def corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus curation: language filter + quality filter +
    exact dedup (keep lowest doc_id), reported per source with drop
    attribution — the composed LLM training-data pipeline, proving the
    text operators chain. Exact duplicates are injected (every 40th doc
    under a shifted id) so the dedup stage provably fires.

    Scale shape: ONE linear dataflow — scoring is a single codegen
    projection evaluated once (rank-among-survivors is a window keyed
    on (digest, ok) over the same lineage, so no branch recomputes the
    expensive text exprs), one shuffle for the dedup window, then one
    dimension-sized groupBy(source). An earlier two-branch form
    (separate totals/kept aggregates joined back) evaluated the
    scoring subtree twice — 2x the heavy projection at any scale.
    """
    from pyspark.sql import Window

    from .curation import inject
    from .operators.text import langid_expr, quality_score_expr

    d = spread_for_compute(
        load_table(spark, sf_dir, "documents").select("doc_id", "text", "source")
    )
    text = F.col("text")
    corpus = inject(d, [(F.lit(True), 0, text), (F.col("doc_id") % 40 == 0, 1000000, text)])
    flags = corpus.select(
        "doc_id",
        "source",
        F.md5("text").alias("digest"),
        quality_score_expr("text").alias("q"),
        langid_expr("text").alias("lg"),
    ).select(
        "*",
        ((F.col("lg") == "en") & (F.col("q") >= 0.65)).alias("ok"),
        (F.col("lg") != "en").alias("bad_lang"),
    )
    # rank within (digest, ok): survivors get their dedup rank; rejected
    # rows rank among themselves and their rn is never consulted
    rn = F.row_number().over(Window.partitionBy("digest", "ok").orderBy("doc_id"))
    ranked = flags.withColumn("rn", rn)
    keep = F.col("ok") & (F.col("rn") == 1)
    return ranked.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.when(F.col("bad_lang"), 1).otherwise(0)).cast("long").alias("n_dropped_lang"),
        F.sum(F.when(~F.col("bad_lang") & ~F.col("ok"), 1).otherwise(0))
        .cast("long")
        .alias("n_dropped_quality"),
        F.sum(F.when(F.col("ok") & (F.col("rn") > 1), 1).otherwise(0))
        .cast("long")
        .alias("n_dropped_dup"),
        F.sum(F.when(keep, 1).otherwise(0)).cast("long").alias("n_kept"),
        F.coalesce(F.round(F.avg(F.when(keep, F.col("q"))), 4), F.lit(0.0)).alias(
            "avg_quality_kept"
        ),
    )


@query(
    "dedup_clusters",
    sql=r"""
    WITH RECURSIVE posting AS (
      SELECT doc_id AS id, lang AS blk, unnest(list_distinct(g)) AS gram
      FROM (
        SELECT doc_id, lang,
               list_transform(range(1, greatest(len(string_split_regex(trim(lower(text)), '\s+')) - 2, 1) + 1),
                 i -> array_to_string(list_slice(string_split_regex(trim(lower(text)), '\s+'), i, i + 2), ' ')) AS g
        FROM documents
      )
    ),
    sizes AS (SELECT id, COUNT(*) AS n_grams FROM posting GROUP BY id),
    inter AS (
      SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_common
      FROM posting a JOIN posting b ON a.blk = b.blk AND a.gram = b.gram AND a.id < b.id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT id_a, id_b FROM inter
      JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b
      WHERE n_common * 1.0 / (sa.n_grams + sb.n_grams - n_common) >= 0.05
    ),
    all_edges AS (
      SELECT id_a, id_b FROM pairs
      UNION
      SELECT DISTINCT id_a, id_a + 1000000 FROM pairs
    ),
    edges AS (
      SELECT id_a AS a, id_b AS b FROM all_edges
      UNION SELECT id_b, id_a FROM all_edges
    ),
    walk(node, label) AS (
      SELECT a, a FROM (SELECT DISTINCT a FROM edges)
      UNION
      SELECT e.b, w.label FROM walk w JOIN edges e ON e.a = w.node
    ),
    cc AS (SELECT node AS doc_id, MIN(label) AS cluster_id FROM walk GROUP BY node)
    SELECT doc_id, cluster_id, CAST(sz AS BIGINT) AS cluster_size
    FROM cc JOIN (SELECT cluster_id AS c2, COUNT(*) AS sz FROM cc GROUP BY 1) s
      ON cc.cluster_id = s.c2
    """,
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup PAIRS -> dedup CLUSTERS: 3-gram Jaccard pairs (plus a
    deterministic clone edge per left doc, so multi-hop components
    provably form) closed under transitivity by distributed connected
    components (min-label propagation, ``operators/graph.py``). Output:
    every clustered doc with its canonical id (= min doc_id of the
    component) and cluster size — exactly the frame you anti-join
    against a corpus to keep one representative per group. Oracle:
    recursive-CTE label walk in DuckDB."""
    from .operators.caching import track
    from .operators.dedup_fuzzy import ngram_jaccard_pairs
    from .operators.graph import connected_components

    d = spread_for_compute(load_table(spark, sf_dir, "documents"))
    # pairs feed the clone branch AND the CC edge list: persist so the
    # posting-join pipeline runs once (tracked — released by runners)
    pairs = track(
        ngram_jaccard_pairs(
            d, "text", "doc_id", "lang", n=3, min_jaccard=0.05, max_posting_size=None
        ).select("id_a", "id_b")
    )
    clones = pairs.select("id_a").distinct().select(
        F.col("id_a"), (F.col("id_a") + 1000000).alias("id_b")
    )
    edges = pairs.unionByName(clones)
    cc = connected_components(edges, "id_a", "id_b")
    sizes = cc.groupBy("component").agg(F.count(F.lit(1)).cast("long").alias("cluster_size"))
    return (
        cc.join(sizes, "component")
        .select(
            F.col("vertex").alias("doc_id"),
            F.col("component").alias("cluster_id"),
            "cluster_size",
        )
    )


@query(
    "doc_chunks",
    sql=r"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(lower(text)), '[^0-9a-z]+'),
                         t -> len(t) > 0) AS t
      FROM documents
    ),
    nz AS (SELECT doc_id, t, len(t) AS n FROM toks WHERE len(t) > 0),
    starts AS (
      SELECT doc_id, t, n, unnest(range(0, n, 40)) AS start
      FROM nz
    )
    SELECT doc_id, CAST(start // 40 AS INT) AS chunk_id,
           array_to_string(list_slice(t, start + 1, least(start + 50, n)), ' ')
             AS chunk_text,
           CAST(least(start + 50, n) - start AS INT) AS n_tokens
    FROM starts
    """,
)
def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking: split every document into 50-token
    chunks with stride 40 (10-token overlap) — the canonical
    LLM-pretraining windowing op. Pure JVM path: tokenize once,
    generate chunk starts with ``sequence`` (no per-token lambda),
    explode starts (each row fans out to ceil(n/stride) chunks, NOT
    to n tokens), slice+join per chunk. Chunks inherit the doc's
    partition — embarrassingly parallel, no shuffle at all."""
    from .operators.text import punct_tokens_expr

    d = load_table(spark, sf_dir, "documents")
    return (
        d.select("doc_id", punct_tokens_expr("text").alias("t"))
        .withColumn("n", F.size("t"))
        .filter(F.col("n") > 0)
        .select(
            "doc_id",
            "t",
            "n",
            F.explode(F.sequence(F.lit(0), F.col("n") - 1, F.lit(40))).alias("start"),
        )
        .select(
            "doc_id",
            (F.col("start") / 40).cast("int").alias("chunk_id"),
            F.array_join(
                F.slice(F.col("t"), F.col("start") + 1, F.lit(50)), " "
            ).alias("chunk_text"),
            (F.least(F.col("start") + 50, F.col("n")) - F.col("start"))
            .cast("int")
            .alias("n_tokens"),
        )
    )


@query(
    "split_leakage_audit",
    sql="""
    WITH d AS (
      SELECT doc_id,
             list_transform(range(1, greatest(len(lower(text))-4,1)+1),
                            i -> md5(substr(lower(text), i, 5))) AS dg
      FROM documents
    ),
    sig AS (
      SELECT doc_id, s,
             list_aggregate(list_transform(dg, x -> substr(x, 8 * s + 1, 8)), 'min') AS h
      FROM d, (SELECT unnest([0,1,2,3]) AS s)
    ),
    banded AS (
      SELECT doc_id, s // 2 AS band, md5(string_agg(h, '|' ORDER BY s)) AS bh
      FROM sig GROUP BY doc_id, s // 2
    ),
    pairs AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM banded a JOIN banded b ON a.band = b.band AND a.bh = b.bh
                                 AND a.doc_id < b.doc_id
    ),
    splits AS (
      SELECT doc_id,
             CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT
                       % 100 < 80
                  THEN 'train' ELSE 'test' END AS split
      FROM documents
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_neardup_pairs,
           CAST(COUNT(CASE WHEN sa.split <> sb.split THEN 1 END) AS BIGINT)
             AS n_cross_split,
           ROUND(COALESCE(COUNT(CASE WHEN sa.split <> sb.split THEN 1 END)
                          / NULLIF(CAST(COUNT(*) AS DOUBLE), 0), 0.0), 6)
             AS leak_rate
    FROM pairs
    JOIN splits sa ON pairs.id_a = sa.doc_id
    JOIN splits sb ON pairs.id_b = sb.doc_id
    """,
)
def split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test contamination audit: how many near-duplicate pairs
    (minhash-LSH candidates) straddle the deterministic 80/20 hash
    split — the leakage check an LLM data pipeline runs before
    training (near-dups of eval docs inside train inflate evals).
    Composes the LSH banding join (pairs meet only inside band
    buckets) with the md5-bucket split; the split frame is doc-keyed
    and joins the tiny pair set twice (broadcast under AQE)."""
    from .operators.dedup_fuzzy import minhash_candidate_pairs
    from .operators.sampling import hash_split_expr

    d = spread_for_compute(load_table(spark, sf_dir, "documents"))
    pairs = (
        minhash_candidate_pairs(d, "text", "doc_id", rows_per_band=2, max_bucket_size=None)
        .select("id_a", "id_b")
        .distinct()
    )
    splits = d.select(
        "doc_id", hash_split_expr("doc_id", train_pct=80).alias("split")
    )
    sa = splits.withColumnRenamed("doc_id", "id_a").withColumnRenamed("split", "split_a")
    sb = splits.withColumnRenamed("doc_id", "id_b").withColumnRenamed("split", "split_b")
    joined = pairs.join(sa, "id_a").join(sb, "id_b")
    cross = F.count(F.when(F.col("split_a") != F.col("split_b"), F.lit(1)))
    return joined.agg(
        F.count(F.lit(1)).cast("long").alias("n_neardup_pairs"),
        cross.cast("long").alias("n_cross_split"),
        F.round(
            F.coalesce(
                cross / F.nullif(F.count(F.lit(1)).cast("double"), F.lit(0.0)),
                F.lit(0.0),
            ),
            6,
        ).alias("leak_rate"),
    )


@query(
    "media_frame_sample",
    sql="""
    WITH vids AS (
      SELECT doc_id AS media_id,
             CAST(doc_id % 30 + 1 AS DOUBLE) AS duration_s
      FROM documents WHERE doc_id % 3 = 2
    )
    SELECT media_id,
           ROUND(CAST(unnest(range(0, GREATEST(CAST(FLOOR(duration_s / 2.0) AS INT), 1)))
                      * 2.0 AS DOUBLE), 2) AS frame_ts,
           CAST(GREATEST(CAST(FLOOR(duration_s / 2.0) AS INT), 1) AS INT) AS n_frames
    FROM vids
    """,
)
def media_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling fan-out on the graded surface: every
    'video' row (typed by id, duration derived deterministically)
    expands to one row per sampled timestamp (1 frame / 2 s) via a
    generated sequence — the exact plumbing a multimodal pipeline
    uses before the (stubbed) per-frame decode, with rows fanning
    out duration/interval-fold, not byte-fold. Zero shuffle: frames
    inherit the video row's partition."""
    from .operators.multimodal import frame_sample_plan

    d = load_table(spark, sf_dir, "documents")
    vids = d.filter(F.col("doc_id") % 3 == 2).select(
        F.col("doc_id").alias("media_id"),
        F.lit("video").alias("media_type"),
        (F.col("doc_id") % 30 + 1).cast("double").alias("duration_s"),
    )
    frames = frame_sample_plan(vids, every_n_seconds=2.0)
    n_frames = F.greatest((F.col("duration_s") / 2.0).cast("int"), F.lit(1))
    return (
        frames.join(vids.select("media_id", n_frames.alias("n_frames")), "media_id")
        .select(
            "media_id",
            F.round(F.col("frame_ts").cast("double"), 2).alias("frame_ts"),
            F.col("n_frames").cast("int").alias("n_frames"),
        )
    )


@query(
    "embedding_int8_quantization",
    sql="""
    WITH q AS (
      SELECT vec_id,
             list_aggregate(list_transform(embedding, x -> abs(x::DOUBLE)), 'max')
               AS scale_raw
      FROM embeddings
    ),
    s AS (
      SELECT vec_id,
             CASE WHEN scale_raw = 0 THEN 1.0 ELSE scale_raw END AS sc,
             scale_raw
      FROM q
    ),
    e AS (
      SELECT embeddings.vec_id, s.sc, s.scale_raw,
             list_transform(embedding,
                            x -> FLOOR(x::DOUBLE / s.sc * 127 + 0.5)) AS qv,
             list_transform(embedding, x -> x::DOUBLE) AS v
      FROM embeddings JOIN s ON embeddings.vec_id = s.vec_id
    )
    SELECT vec_id,
           ROUND(scale_raw, 8) AS scale,
           CAST(list_aggregate(list_transform(qv, x -> abs(x)), 'max') AS INT)
             AS max_abs_q,
           ROUND(list_aggregate(
                   list_transform(range(1, len(v) + 1),
                                  i -> abs(v[i] - qv[i] * sc / 127)),
                   'sum') / len(v), 8) AS mean_abs_err
    FROM e
    """,
)
def embedding_int8_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding column (per-vector
    max-abs scale, round-half-up) with reconstruction-error stats —
    the 4x storage compression every 100 TB embedding store applies
    before ANN serving. Rounding is FLOOR(x+0.5) in BOTH engines (the
    portable half-up; bare casts diverge: Spark truncates, DuckDB
    rounds). Per-row array fold, embarrassingly parallel, no shuffle;
    sequential left-to-right folds make the error sums bit-identical
    across engines."""
    e = load_table(spark, sf_dir, "embeddings")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    scale_raw = F.aggregate(
        v, F.lit(0.0), lambda acc, x: F.greatest(acc, F.abs(x))
    )
    d = e.select("vec_id", v.alias("v"), scale_raw.alias("scale_raw")).withColumn(
        "sc", F.when(F.col("scale_raw") == 0, F.lit(1.0)).otherwise(F.col("scale_raw"))
    )
    def quant(x):
        return F.floor(x / F.col("sc") * 127 + F.lit(0.5))

    d = d.withColumn("qv", F.transform(F.col("v"), quant))
    err_sum = F.aggregate(
        F.zip_with(F.col("v"), F.col("qv"), lambda x, q: F.abs(x - q * F.col("sc") / 127)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return d.select(
        "vec_id",
        F.round("scale_raw", 8).alias("scale"),
        F.aggregate(
            F.transform(F.col("qv"), F.abs),
            F.lit(float("-inf")),
            lambda acc, x: F.greatest(acc, x),
        )
        .cast("int")
        .alias("max_abs_q"),
        F.round(err_sum / F.size("v"), 8).alias("mean_abs_err"),
    )


@query(
    "sequence_packing",
    sql="""
    WITH toks AS (
      SELECT doc_id,
             CAST(len(list_filter(string_split_regex(trim(lower(text)), '[^0-9a-z]+'),
                                  t -> len(t) > 0)) AS BIGINT) AS n_tokens
      FROM documents
    ),
    cum AS (
      SELECT doc_id, n_tokens,
             SUM(n_tokens) OVER (ORDER BY doc_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum_tokens
      FROM toks
    )
    SELECT CAST(floor((cum_tokens - 1) / 2048) AS BIGINT) AS pack_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           ROUND(SUM(n_tokens) / 2048.0, 4) AS fill_ratio
    FROM cum
    GROUP BY 1
    """,
)
def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-sequence packing: assign documents (in stable doc_id
    order) to fixed token-budget packs of 2048 via the running token
    total — the greedy contiguous packing every LLM pre-training
    pipeline runs before batching. A doc whose running total crosses a
    pack boundary lands in the pack its END falls in, so fill_ratio
    can exceed 1.0 by at most (doc_len-1)/2048; chunk oversized docs
    first (``doc_chunks``) for strict budgets.

    Scale shape: the running total comes from
    ``windows.global_cumsum`` — range-partition on doc_id +
    per-partition local windows + broadcast prefix offsets — NOT a
    single-partition ``Window.orderBy`` (which serializes the corpus
    through one task; the classic 100 TB faceplant). Then one
    pack-sized hash agg. The oracle replays the same rule with
    DuckDB's ordered window."""
    from .operators.text import token_count_expr
    from .operators.windows import global_cumsum

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", token_count_expr("text").cast("long").alias("n_tokens")
    )
    cum = global_cumsum(d, "doc_id", ["n_tokens"])
    return (
        cum.select(
            "n_tokens",
            F.floor((F.col("cum_n_tokens") - 1) / 2048).cast("long").alias("pack_id"),
        )
        .groupBy("pack_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.round(F.sum("n_tokens") / F.lit(2048.0), 4).alias("fill_ratio"),
        )
    )


@query(
    "decontamination_ngram_overlap",
    sql=r"""
    WITH split AS (
      SELECT doc_id, text,
             CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT
                       % 100 < 80
                  THEN 'train' ELSE 'test' END AS split
      FROM documents
    ),
    grams AS (
      SELECT doc_id, split, unnest(list_distinct(g)) AS gram
      FROM (
        SELECT doc_id, split,
               list_transform(
                 range(1, greatest(len(toks) - 4, 1) + 1),
                 i -> array_to_string(list_slice(toks, i, i + 4), ' ')) AS g
        FROM (
          SELECT doc_id, split,
                 list_filter(string_split_regex(trim(lower(text)), '[^0-9a-z]+'),
                             t -> len(t) > 0) AS toks
          FROM split
        )
      )
    ),
    train_grams AS (SELECT DISTINCT gram FROM grams WHERE split = 'train'),
    eval_hits AS (
      SELECT g.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_grams,
             CAST(COUNT(t.gram) AS BIGINT) AS n_overlap
      FROM grams g LEFT JOIN train_grams t ON g.gram = t.gram
      WHERE g.split = 'test'
      GROUP BY g.doc_id
    )
    SELECT doc_id, n_grams, n_overlap,
           ROUND(n_overlap / CAST(n_grams AS DOUBLE), 6) AS contamination_ratio
    FROM eval_hits
    WHERE n_overlap > 0
    ORDER BY contamination_ratio DESC, doc_id
    """,
)
def decontamination_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval decontamination by exact token-5-gram collision — the
    GPT-3-style check: an eval document sharing 5-grams with the
    training split is flagged with its contamination ratio. The split
    is the deterministic md5-hash holdout (``hash_split_expr``), so
    both engines and any rerun see identical membership.

    Scale shape: one tokenize+explode pass produces (doc, split,
    distinct gram); the train-side gram set collapses to DISTINCT
    (vocabulary-bounded, far smaller than the corpus) before the join;
    eval grams LEFT-join it on gram (AQE broadcasts when it fits,
    hash-join otherwise) and a doc-keyed agg emits ratios. No pairwise
    doc x doc work anywhere — collisions aggregate through the gram
    key, which is what makes exact decontamination tractable at
    100 TB (pair-based jaccard would be quadratic)."""
    from .operators.sampling import hash_split_expr
    from .operators.text import rolling_gram_hash_sql, ws_tok_sql

    d = spread_for_compute(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "text", hash_split_expr("doc_id").alias("split")
    )
    # rolling 64-bit gram keys: identity is all the collision join
    # needs, the build is ~5x cheaper than concat_ws(slice) strings,
    # and the train-side DISTINCT set broadcasts 8-byte keys
    five = F.expr(rolling_gram_hash_sql(ws_tok_sql("text"), 5, pad_short=True))
    grams = d.select("doc_id", "split", F.explode(five).alias("gram"))
    train_grams = grams.filter(F.col("split") == "train").select("gram").distinct()
    ev = grams.filter(F.col("split") == "test").alias("g")
    hits = (
        ev.join(
            train_grams.select(F.col("gram").alias("tgram")),
            F.col("g.gram") == F.col("tgram"),
            "left",
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.count("tgram").cast("long").alias("n_overlap"),
        )
    )
    return (
        hits.filter(F.col("n_overlap") > 0)
        .select(
            "doc_id",
            "n_grams",
            "n_overlap",
            F.round(F.col("n_overlap") / F.col("n_grams").cast("double"), 6).alias(
                "contamination_ratio"
            ),
        )
        .orderBy(F.desc("contamination_ratio"), "doc_id")
    )


@query(
    "edit_distance_pairs",
    sql=r"""
    WITH d AS (
      SELECT doc_id, lang,
             substr(trim(lower(text)), 1, 60) AS head,
             len(list_filter(string_split_regex(trim(lower(text)), '[^0-9a-z]+'),
                             t -> len(t) > 0)) // 40 AS band
      FROM documents
    ),
    p AS (
      SELECT doc_id, lang, head, band,
             CAST(list_sum(list_transform(range(0, 16),
               j -> CASE WHEN list_sum(list_transform(
                      list_transform(string_split_regex(trim(head), '\s+'),
                                     t -> ('0x' || substr(md5(t), 1, 4))::BIGINT),
                      x -> ((x >> j) & 1) * 2 - 1)) > 0
                    THEN (1::BIGINT << j) ELSE 0 END)) AS BIGINT) >> 10 AS pfx
      FROM d
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(levenshtein(a.head, b.head) AS BIGINT) AS edit_dist
    FROM p a JOIN p b
      ON a.lang = b.lang AND a.band = b.band AND a.pfx = b.pfx
         AND a.doc_id < b.doc_id
    WHERE levenshtein(a.head, b.head)
            <= CAST(0.25 * greatest(len(a.head), len(b.head)) AS BIGINT)
    ORDER BY id_a, id_b
    """,
)
def edit_distance_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance (Levenshtein) near-dup pairs on 60-char document
    heads — the classic fuzzy-matching curation method, completing the
    dedup family (exact / minhash / simhash / n-gram Jaccard /
    embedding cosine / edit distance).

    Scale shape: levenshtein is O(m*n) per pair, but runs as banded DP
    (3-arg form, threshold 15 = the max per-pair bound for 60-char
    heads) and the self-join is BLOCKED on (lang, token-count band,
    6-bit simhash prefix of the head) — candidates only meet inside a
    block, bounding pair fan-out like the LSH band join. The simhash
    prefix is the PRODUCTION "tighten blocks at scale" knob
    (``dedup_fuzzy.edit_distance_head_pairs``) and the oracle mirrors
    it bit-for-bit, exactly as it already mirrors the token-count band
    — so the checked configuration is the deployable one. Like every
    blocked near-dup join here, blocking is a recall trade (a pair
    whose few edits flip a high vote bit lands in different prefix
    buckets); ``tests/test_properties.py`` pins the measured recall of
    the prefix block against the unblocked form."""
    from .operators.dedup_fuzzy import edit_distance_head_pairs

    d = spread_for_compute(load_table(spark, sf_dir, "documents"))
    return edit_distance_head_pairs(
        d, "text", "doc_id", "lang", head_len=60, max_rel_dist=0.25, band_tokens=40,
        simhash_prefix_bits=6,
    )


@query(
    "embedding_dedup_clusters",
    sql=f"""
    WITH RECURSIVE e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    b AS (
      SELECT vec_id, v,
        (SELECT SUM(CASE WHEN (
           SELECT SUM(v[j + 1] * SIN(p.p * 1000 + j)) FROM unnest(range(0, {EMB_DIM})) AS u(j)
         ) > 0 THEN 1 << p.p ELSE 0 END)
         FROM (SELECT unnest(range(0, 8)) AS p) p) AS bucket
      FROM e
    ),
    pairs AS (
      SELECT a.vec_id AS id_a, b2.vec_id AS id_b
      FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id
      WHERE {_COS.replace('b.', 'b2.')} >= 0.3
    ),
    edges AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ),
    walk(node, label) AS (
      SELECT a, a FROM (SELECT DISTINCT a FROM edges)
      UNION
      SELECT e2.b, w.label FROM walk w JOIN edges e2 ON e2.a = w.node
    ),
    cc AS (SELECT node AS vec_id, MIN(label) AS cluster_id FROM walk GROUP BY node)
    SELECT vec_id, cluster_id, CAST(sz AS BIGINT) AS cluster_size
    FROM cc JOIN (SELECT cluster_id AS c2, COUNT(*) AS sz FROM cc GROUP BY 1) s
      ON cc.cluster_id = s.c2
    """,
)
def embedding_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space near-dup CLUSTERS: LSH-blocked cosine pairs
    (>= 0.3) closed under transitivity by the same distributed
    min-label-propagation connected components that serves the text
    pipeline (``operators/graph.py``) — the semantic-dedup composition
    for multimodal corpora, where near-dups chain (A~B~C) and a pair
    list alone over-keeps. Output: every clustered vector with its
    canonical id and cluster size. Oracle: recursive-CTE label walk."""
    from .operators.graph import connected_components
    from .operators.similarity import cosine_dup_pairs

    e = load_table(spark, sf_dir, "embeddings")
    pairs = cosine_dup_pairs(e, "vec_id", "embedding", EMB_DIM, min_cosine=0.3).select(
        "id_a", "id_b"
    )
    cc = connected_components(pairs, "id_a", "id_b")
    sizes = cc.groupBy("component").agg(F.count(F.lit(1)).cast("long").alias("cluster_size"))
    return cc.join(sizes, "component").select(
        F.col("vertex").alias("vec_id"),
        F.col("component").alias("cluster_id"),
        "cluster_size",
    )


@query(
    "media_resize_thumbs",
    sql="""
    SELECT doc_id AS media_id,
           ['image', 'audio', 'video'][CAST(doc_id % 3 AS INT) + 1] AS media_type,
           CAST(8 AS INT) AS width, CAST(8 AS INT) AS height,
           CAST(192 AS BIGINT) AS n_bytes,
           md5(substring(repeat(lower(to_hex(encode(text))),
                                CAST(ceil(192.0 / octet_length(encode(text))) AS INT) + 2),
                         1, 384)) AS checksum
    FROM documents
    """,
)
def media_resize_thumbs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media resize on the graded surface: every payload re-rendered
    to an 8x8x3 thumbnail byte budget via the Arrow-batched
    ``resize_media`` operator (documents' utf-8 bytes stand in for
    pixels). The checksum compares in the HEX domain — repeat/truncate
    commute with hex encoding (384 hex chars == 192 bytes), so the
    oracle is byte-exact even for multi-byte characters, where a
    char-domain repeat/substr would diverge. Bytes stay executor-side;
    only (id, type, dims, checksum) leave."""
    from .operators.multimodal import resize_media

    d = spread_for_compute(load_table(spark, sf_dir, "documents"))
    media = d.select(
        F.col("doc_id").alias("media_id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("media_type"),
        F.encode(F.col("text"), "utf-8").alias("bytes"),
    )
    return resize_media(media, width=8, height=8, channels=3)


@query(
    "training_export",
    sql=r"""
    WITH toks AS (
      SELECT doc_id,
             len(list_filter(string_split_regex(trim(lower(text)), '[^0-9a-z]+'),
                             t -> len(t) > 0)) AS n
      FROM documents
    ),
    chunks AS (
      SELECT doc_id, unnest(range(0, n, 40)) AS start, n
      FROM toks WHERE n > 0
    ),
    c2 AS (
      SELECT doc_id,
             CAST(start / 40 AS BIGINT) AS chunk_idx,
             CAST(LEAST(40, n - start) AS BIGINT) AS n_tokens,
             doc_id * 1000 + start / 40 AS ord
      FROM chunks
    ),
    cum AS (
      SELECT doc_id, chunk_idx, n_tokens,
             SUM(n_tokens) OVER (ORDER BY ord
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum_t
      FROM c2
    )
    SELECT doc_id, chunk_idx, n_tokens,
           CAST(floor((cum_t - 1) / 256) AS BIGINT) AS pack_id,
           CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT
                     % 100 < 90
                THEN 'train' ELSE 'test' END AS split
    FROM cum
    """,
)
def training_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed end-of-pipeline export a pre-training run consumes:
    chunk every doc into 40-token context windows, pack the chunks (in
    stable (doc_id, chunk) order) into 256-token training sequences
    via the distributed global running total, and stamp each chunk
    with its reproducible md5-bucket train/test split — chunking,
    packing, and splitting composed in ONE dataflow.

    Scale shape: chunk fan-out is a sequence-explode (zero shuffle);
    the running total is ``windows.global_cumsum`` (range partition +
    broadcast prefix offsets — never a single-partition window); the
    split is a pure hash of doc_id. One range shuffle total; chunk
    TEXT is never materialized — only counts flow."""
    from .operators.sampling import hash_split_expr
    from .operators.text import punct_tokens_expr
    from .operators.windows import global_cumsum

    d = load_table(spark, sf_dir, "documents")
    n = F.size(punct_tokens_expr("text"))
    chunks = (
        d.select("doc_id", n.alias("n"))
        .filter(F.col("n") > 0)
        .select(
            "doc_id",
            "n",
            F.explode(F.sequence(F.lit(0), F.col("n") - 1, F.lit(40))).alias("start"),
        )
        .select(
            "doc_id",
            (F.col("start") / 40).cast("long").alias("chunk_idx"),
            F.least(F.lit(40), F.col("n") - F.col("start")).cast("long").alias("n_tokens"),
            (F.col("doc_id") * 1000 + (F.col("start") / 40).cast("long")).alias("ord"),
        )
    )
    cum = global_cumsum(chunks, "ord", ["n_tokens"])
    return cum.select(
        "doc_id",
        "chunk_idx",
        "n_tokens",
        F.floor((F.col("cum_n_tokens") - 1) / 256).cast("long").alias("pack_id"),
        hash_split_expr("doc_id", train_pct=90).alias("split"),
    )


@query(
    "knn_lsh_topk",
    sql=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    b AS (
      SELECT vec_id, v,
        (SELECT SUM(CASE WHEN (
           SELECT SUM(v[j + 1] * SIN(p.p * 1000 + j)) FROM unnest(range(0, {EMB_DIM})) AS u(j)
         ) > 0 THEN 1 << p.p ELSE 0 END)
         FROM (SELECT unnest(range(0, 8)) AS p) p) AS bucket
      FROM e
    ),
    scored AS (
      SELECT a.vec_id AS query_id, b2.vec_id AS neighbor_id,
             list_inner_product(a.v, b2.v) /
             (SQRT(list_inner_product(a.v, a.v)) * SQRT(list_inner_product(b2.v, b2.v))) AS c
      FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id <> b2.vec_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, c,
             row_number() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id ASC) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, ROUND(c, 4) AS cosine, CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= 3
    """,
)
def knn_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate in-bucket top-3 neighbors for EVERY vector — the
    LSH ANN operator under its round-5 plan (per-cell GEMM top-k on
    the triangle task grid, `similarity.py:knn_lsh`): candidates
    leaving each cell are bounded at k per query, the merge window
    sees <= k·cells rows per query, and degenerate buckets split
    exactly as cosine_dup_pairs. Fully deterministic (ties break by
    ascending neighbor id), so the oracle replays bucket assignment +
    scoring + ranking directly."""
    from .operators.similarity import knn_lsh

    e = load_table(spark, sf_dir, "embeddings")
    out = knn_lsh(e, "vec_id", "embedding", EMB_DIM, k=3)
    return out.withColumn("rank", F.col("rank").cast("int"))


@query(
    "lsh_blocking_efficiency",
    sql="""
    WITH d AS (
      SELECT doc_id,
             list_transform(range(1, greatest(len(lower(text))-4,1)+1),
                            i -> md5(substr(lower(text), i, 5))) AS dg
      FROM documents
    ),
    sig AS (
      SELECT doc_id, s,
             list_aggregate(list_transform(dg, x -> substr(x, 8 * s + 1, 8)), 'min') AS h
      FROM d, (SELECT unnest([0,1,2,3]) AS s)
    ),
    banded AS (
      SELECT doc_id, CAST(s // 2 AS VARCHAR) AS band,
             md5(string_agg(h, '|' ORDER BY s)) AS bh
      FROM sig GROUP BY doc_id, s // 2
    ),
    buckets AS (
      SELECT band, bh, CAST(COUNT(*) AS BIGINT) AS s FROM banded GROUP BY band, bh
    )
    SELECT band,
           CAST(SUM(s) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_buckets,
           CAST(MAX(s) AS BIGINT) AS max_bucket,
           CAST(SUM(s * (s - 1) // 2) AS BIGINT) AS comparison_slots,
           ROUND(1.0 - SUM(s * (s - 1) // 2) * 1.0
                 / NULLIF(SUM(s) * (SUM(s) - 1) // 2, 0), 6) AS reduction_ratio
    FROM buckets GROUP BY band ORDER BY band
    """,
)
def lsh_blocking_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking-quality audit for the minhash LSH index — per band:
    bucket count, largest bucket, the number of pairwise comparisons
    the band join will actually perform (sum of C(size,2) over its
    buckets), and the reduction ratio vs all-pairs C(n,2). THE audit
    to run before trusting a blocking scheme at 100 TB: a reduction
    ratio drifting from ~1 or a ballooning max bucket says the banding
    is degenerating toward the quadratic join it exists to avoid
    (boilerplate corpora flooding one bucket — the documented
    hot-bucket risk the `max_bucket_size` valves guard).

    Everything is counting on the band-bucket aggregate — candidate
    pairs are NEVER materialized, so the audit itself is safe to run
    on a corpus whose blocking has degenerated. Oracle replays the
    identical banded signatures (oracle-parity H=4/r=2 engine)."""
    from .operators.dedup_fuzzy import band_blocking_efficiency

    d = spread_for_compute(load_table(spark, sf_dir, "documents"))
    # oracle-parity banding here; the sf1+ sweep audits the PRODUCTION
    # banding via the same operator (tools/scale_sweep.py)
    return band_blocking_efficiency(d, "text", "doc_id")


@query(
    "dedup_cluster_size_histogram",
    sql=r"""
    WITH RECURSIVE posting AS (
      SELECT doc_id AS id, lang AS blk, unnest(list_distinct(g)) AS gram
      FROM (
        SELECT doc_id, lang,
               list_transform(range(1, greatest(len(string_split_regex(trim(lower(text)), '\s+')) - 2, 1) + 1),
                 i -> array_to_string(list_slice(string_split_regex(trim(lower(text)), '\s+'), i, i + 2), ' ')) AS g
        FROM documents
      )
    ),
    sizes AS (SELECT id, COUNT(*) AS n_grams FROM posting GROUP BY id),
    inter AS (
      SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_common
      FROM posting a JOIN posting b ON a.blk = b.blk AND a.gram = b.gram AND a.id < b.id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT id_a, id_b FROM inter
      JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b
      WHERE n_common * 1.0 / (sa.n_grams + sb.n_grams - n_common) >= 0.05
    ),
    edges AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ),
    walk(node, label) AS (
      SELECT a, a FROM (SELECT DISTINCT a FROM edges)
      UNION
      SELECT e.b, w.label FROM walk w JOIN edges e ON e.a = w.node
    ),
    cc AS (SELECT node AS doc_id, MIN(label) AS cluster_id FROM walk GROUP BY node),
    csz AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS sz FROM cc GROUP BY cluster_id),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs_total FROM documents)
    SELECT sz AS cluster_size,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(SUM(sz) AS BIGINT) AS n_docs,
           CAST(SUM(sz) - COUNT(*) AS BIGINT) AS removable_docs,
           ROUND(SUM(sz) * 1.0 / MAX(n_docs_total), 6) AS corpus_share
    FROM csz CROSS JOIN tot GROUP BY sz ORDER BY sz
    """,
)
def dedup_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-mass distribution: the near-dup components' size
    histogram — per cluster size: how many clusters, how many docs
    they hold, how many docs cluster-collapse dedup would REMOVE
    (size − 1 per cluster), and the corpus share. The one-page answer
    to "how duplicated is this corpus and what does dedup delete" —
    read next to ``triangle_count_neardup`` (dense families vs
    chains) before committing to collapse.

    Same pair graph as ``dedup_clusters`` (3-gram Jaccard >= 0.05,
    lang-blocked postings, no clone edges) closed by the distributed
    min-label connected components; the histogram is two bounded
    aggregates on the component frame. Docs with no near-dup edge
    never enter the walk; their singleton clusters are excluded (the
    histogram reports DUPLICATED mass only), so corpus_share sums to
    the duplicated fraction."""
    from .operators.caching import track
    from .operators.dedup_fuzzy import ngram_jaccard_pairs
    from .operators.graph import connected_components

    d = spread_for_compute(load_table(spark, sf_dir, "documents"))
    pairs = track(
        ngram_jaccard_pairs(
            d, "text", "doc_id", "lang", n=3, min_jaccard=0.05, max_posting_size=None
        ).select("id_a", "id_b")
    )
    cc = connected_components(pairs, "id_a", "id_b")
    csz = cc.groupBy("component").agg(F.count(F.lit(1)).cast("long").alias("sz"))
    tot = d.agg(F.count(F.lit(1)).cast("long").alias("n_docs_total"))
    return (
        csz.crossJoin(F.broadcast(tot))
        .groupBy(F.col("sz").alias("cluster_size"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_clusters"),
            F.sum("sz").cast("long").alias("n_docs"),
            (F.sum("sz") - F.count(F.lit(1))).cast("long").alias("removable_docs"),
            F.round(F.try_divide(F.sum("sz") * 1.0, F.max("n_docs_total") * 1.0), 6).alias(
                "corpus_share"
            ),
        )
        .orderBy("cluster_size")
    )


@query(
    "pmi_collocations",
    sql="""
    WITH toked AS (
      SELECT list_filter(string_split_regex(trim(lower(text)), '[^0-9a-z]+'),
                         t -> len(t) > 0) AS toks
      FROM documents
    ),
    big AS (
      SELECT toks[i] AS w1, toks[i + 1] AS w2
      FROM toked, unnest(range(1, greatest(len(toks) - 1, 0) + 1)) AS t(i)
    ),
    bc AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c_xy FROM big GROUP BY w1, w2),
    uni AS (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS c
      FROM (SELECT unnest(toks) AS tok FROM toked) GROUP BY tok
    ),
    tot AS (
      SELECT CAST(SUM(c) AS BIGINT) AS n1,
             (SELECT CAST(SUM(c_xy) AS BIGINT) FROM bc) AS n2
      FROM uni
    ),
    scored AS (
      SELECT w1, w2, c_xy,
             ROUND(LN(CAST(c_xy AS DOUBLE) * n1 * n1
                      / (CAST(n2 AS DOUBLE) * u1.c * u2.c)), 6) AS pmi
      FROM bc JOIN uni u1 ON bc.w1 = u1.tok JOIN uni u2 ON bc.w2 = u2.tok
      CROSS JOIN tot
      WHERE c_xy >= 10
    )
    SELECT w1, w2, c_xy, pmi FROM scored
    ORDER BY pmi DESC, w1, w2 LIMIT 25
    """,
)
def pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top collocations by pointwise mutual information — the classic
    corpus-linguistics signal for multiword expressions ("new york"
    scores high because its joint count dwarfs the unigram-independence
    expectation). PMI = ln(P(xy) / (P(x)P(y))) with P(xy) over bigram
    positions and P(x) over token positions; a min-count floor keeps
    the measure's known low-frequency blowup out of the top list.

    One tokenize pass feeds both count frames; unigram margins join
    back on the vocabulary-bounded bigram frame (AQE broadcasts the
    margins); ranking happens on the ROUNDED statistic with a (w1,w2)
    tie-break, so both engines pick the identical top 25 even when
    full-precision lns differ by an ulp. The only corpus-sized work is
    the explode + two hash aggregates; the top-k is a TakeOrdered, not
    a single-partition window."""
    from .operators.text import punct_tokens_expr

    d = spread_for_compute(load_table(spark, sf_dir, "documents")).select(
        punct_tokens_expr("text").alias("toks")
    )
    a = F.slice(F.col("toks"), 1, F.greatest(F.size("toks") - 1, F.lit(0)))
    b = F.slice(F.col("toks"), 2, F.greatest(F.size("toks") - 1, F.lit(0)))
    big = d.select(F.explode(F.arrays_zip(a.alias("w1"), b.alias("w2"))).alias("p")).select(
        F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2")
    )
    from .operators.caching import track

    # both count frames are vocabulary-bounded and each is consumed
    # three times (margins x2 / totals / scoring) — persist them or
    # every consumer re-runs the corpus tokenize+explode
    bc = track(big.groupBy("w1", "w2").agg(F.count(F.lit(1)).cast("long").alias("c_xy")))
    uni = track(
        d.select(F.explode("toks").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    tot = uni.agg(F.sum("c").cast("long").alias("n1")).crossJoin(
        bc.agg(F.sum("c_xy").cast("long").alias("n2"))
    )
    u1 = uni.select(F.col("tok").alias("t1"), F.col("c").alias("c1"))
    u2 = uni.select(F.col("tok").alias("t2"), F.col("c").alias("c2"))
    scored = (
        bc.filter(F.col("c_xy") >= 10)
        .join(u1, F.col("w1") == F.col("t1"))
        .join(u2, F.col("w2") == F.col("t2"))
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            "c_xy",
            F.round(
                F.log(
                    F.col("c_xy").cast("double")
                    * F.col("n1")
                    * F.col("n1")
                    / (F.col("n2").cast("double") * F.col("c1") * F.col("c2"))
                ),
                6,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(F.desc("pmi"), "w1", "w2").limit(25)
