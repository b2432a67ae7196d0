"""Query registry batch: corpus-curation depth ops (round 3).

LLM-data-pipeline operators past the round-2 surface, each a standard
technique from published pretraining pipelines re-expressed
Spark-first:

- ``lm_perplexity_filter``     — add-one bigram-LM perplexity per doc
  (the CCNet-style LM quality filter; a production pipeline scores
  against a clean-reference KenLM, but the engine mechanics — n-gram
  count tables + a score join — are identical).
- ``duplicated_ngram_spans``   — per-doc coverage by n-grams shared
  with other docs: the posting-list approximation of exact substring
  dedup (Lee et al. 2022) that needs no distributed suffix array.
- ``tfidf_cosine_pairs``       — sparse lexical cosine near-dup pairs
  via posting-list join: the no-embedding complement to
  ``embedding_dup_pairs``.
- ``corpus_mix_sample``        — the domain-mix weights materialized as
  a deterministic per-source Bernoulli sample (md5-fraction).
- ``negative_sampling_pairs``  — hash-ranked cross-source contrastive
  negatives from a fixed-size (top-50 by hash) candidate pool.

All are oracle-checked; posting-size caps exist on the operators for
production skew safety (oracle queries run exact).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .catalog import load_table, spread_for_compute
from .queries import query


@query(
    "lm_perplexity_filter",
    sql=r"""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> len(x) > 0) AS w
      FROM documents
    ),
    t2 AS (SELECT doc_id, w FROM t WHERE len(w) >= 2),
    bg AS (
      SELECT doc_id, w[i] AS w1, w[i+1] AS w2
      FROM t2, unnest(range(1, len(w))) AS g(i)
    ),
    uni AS (
      SELECT tok AS w, CAST(COUNT(*) AS BIGINT) AS c1
      FROM (SELECT unnest(w) AS tok FROM t) GROUP BY 1
    ),
    vv AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM uni),
    bgc AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS cbg FROM bg GROUP BY 1, 2),
    sc AS (
      SELECT b.doc_id, LN((bgc.cbg + 1.0) / (u.c1 + vv.v)) AS lp
      FROM bg b JOIN bgc USING (w1, w2) JOIN uni u ON b.w1 = u.w CROSS JOIN vv
    ),
    agg AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
             ROUND(EXP(-AVG(lp)), 4) AS ppl
      FROM sc GROUP BY doc_id
    )
    SELECT d.doc_id, CAST(COALESCE(a.n_bigrams, 0) AS BIGINT) AS n_bigrams, a.ppl,
           CASE WHEN a.ppl <= 31.0 THEN 1 ELSE 0 END AS keep
    FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
    """,
)
def lm_perplexity_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM perplexity quality filter over the documents table
    (keep threshold 31 ~ the corpus median on the synthetic data)."""
    from .operators.text import bigram_lm_perplexity

    d = spread_for_compute(load_table(spark, sf_dir, "documents"))
    return bigram_lm_perplexity(d, "text", "doc_id", keep_threshold=31.0)


@query(
    "duplicated_ngram_spans",
    sql=r"""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(lower(text)), '[^0-9a-z]+'),
                         x -> len(x) > 0) AS w
      FROM documents
    ),
    g AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               range(1, greatest(len(w) - 4, 0) + 1),
               i -> array_to_string(list_slice(w, i, i + 4), ' ')))) AS gram
      FROM t WHERE len(w) >= 5
    ),
    gd AS (SELECT gram, CAST(COUNT(*) AS BIGINT) AS n_docs FROM g GROUP BY 1),
    agg AS (
      SELECT g.doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
             CAST(COUNT(CASE WHEN gd.n_docs >= 2 THEN 1 END) AS BIGINT) AS n_dup_grams
      FROM g JOIN gd USING (gram)
      GROUP BY g.doc_id
    )
    SELECT t.doc_id,
           CAST(COALESCE(a.n_grams, 0) AS BIGINT) AS n_grams,
           CAST(COALESCE(a.n_dup_grams, 0) AS BIGINT) AS n_dup_grams,
           ROUND(a.n_dup_grams / CAST(a.n_grams AS DOUBLE), 6) AS dup_fraction
    FROM t LEFT JOIN agg a ON t.doc_id = a.doc_id
    """,
)
def duplicated_ngram_spans_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated 5-gram coverage per doc — the substring-
    dedup signal at n-gram granularity, zero doc-pair work."""
    from .operators.dedup_fuzzy import duplicated_ngram_spans

    d = spread_for_compute(load_table(spark, sf_dir, "documents"))
    return duplicated_ngram_spans(d, "text", "doc_id", n=5)


@query(
    "duplicated_spans_maximal",
    sql=r"""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(lower(text)), '[^0-9a-z]+'),
                         x -> len(x) > 0) AS w
      FROM documents
    ),
    g AS (
      SELECT doc_id,
             unnest(list_transform(range(1, greatest(len(w) - 9, 0) + 1),
                    i -> {'pos': i, 'gram': array_to_string(list_slice(w, i, i + 9), ' ')})) AS pg
      FROM t WHERE len(w) >= 10
    ),
    s AS (SELECT doc_id, pg['pos'] AS pos, pg['gram'] AS gram FROM g),
    cnt AS (SELECT gram, COUNT(*) AS c FROM s GROUP BY 1),
    dup AS (SELECT doc_id, pos FROM s JOIN cnt USING (gram) WHERE c >= 2),
    isl AS (
      SELECT doc_id, pos,
             pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
      FROM dup
    ),
    sp AS (
      SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS span_start,
             CAST(COUNT(*) + 9 AS BIGINT) AS span_len
      FROM isl GROUP BY doc_id, grp
    )
    SELECT doc_id, span_start, span_len FROM sp
    WHERE span_len >= 50 ORDER BY doc_id, span_start
    """,
)
def duplicated_spans_maximal_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAXIMAL duplicated token spans (Lee et al. 2022 exact-substring
    dedup at n-gram granularity): which (doc_id, span_start, span_len)
    ranges of >= 50 tokens are built entirely from 10-grams repeated
    elsewhere in the corpus — the actual cut list a Lee-style dedup
    pass removes, where ``duplicated_ngram_spans`` only scores
    coverage. The oracle replays the direct islands form (dup
    positions -> row_number gaps-and-islands); the Spark plan computes
    the identical spans as gaps between corpus-UNIQUE anchors with no
    gram-stream self-join (see operator docstring)."""
    from .operators.dedup_fuzzy import duplicated_span_extents

    d = spread_for_compute(load_table(spark, sf_dir, "documents"))
    return duplicated_span_extents(d, "text", "doc_id", n=10, min_span=50)


@query(
    "duplicated_spans_exact",
    sql=r"""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(lower(text)), '[^0-9a-z]+'),
                         x -> len(x) > 0) AS w
      FROM documents
    ),
    g AS (
      SELECT doc_id,
             unnest(list_transform(range(1, greatest(len(w) - 9, 0) + 1),
                    i -> {'pos': i, 'gram': array_to_string(list_slice(w, i, i + 9), ' ')})) AS pg
      FROM t WHERE len(w) >= 10
    ),
    s AS (SELECT doc_id, pg['pos'] AS pos, pg['gram'] AS gram FROM g),
    cnt AS (SELECT gram, COUNT(*) AS c FROM s GROUP BY 1),
    dup AS (SELECT doc_id, pos FROM s JOIN cnt USING (gram) WHERE c >= 2),
    isl AS (
      SELECT doc_id, pos,
             pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
      FROM dup
    ),
    spans AS MATERIALIZED (
      SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS span_start,
             CAST(COUNT(*) + 9 AS BIGINT) AS span_len
      FROM isl GROUP BY doc_id, grp
      HAVING COUNT(*) + 9 >= 50
    ),
    ext AS MATERIALIZED (
      SELECT spans.doc_id, span_start, span_len,
             list_slice(t.w, span_start, span_start + span_len - 1) AS etoks
      FROM spans JOIN t ON spans.doc_id = t.doc_id
    ),
    lens AS (SELECT DISTINCT span_len AS L FROM spans),
    win AS (
      SELECT L, unnest(list_transform(range(1, len(etoks) - L + 2),
                 i -> array_to_string(list_slice(etoks, i, i + L - 1), ' '))) AS wtext
      FROM ext JOIN lens ON len(etoks) >= L
    ),
    occ AS MATERIALIZED (SELECT L, wtext, COUNT(*) AS c FROM win GROUP BY 1, 2)
    SELECT e.doc_id, e.span_start, e.span_len
    FROM ext e JOIN occ ON occ.L = e.span_len
                       AND occ.wtext = array_to_string(e.etoks, ' ')
    WHERE occ.c >= 2
    ORDER BY e.doc_id, e.span_start
    """,
)
def duplicated_spans_exact_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lee-EXACT cut list: ``duplicated_spans_maximal``'s islands plus
    the span-hash verification stage — only spans whose FULL token
    sequence provably occurs >= 2 times in the corpus survive, closing
    the n-gram chaining relaxation (a chain of individually-duplicated
    10-grams need not repeat as one contiguous block). Verification
    scans only the emitted extents (every true occurrence of a
    candidate text lies inside one — see the operator docstring), so
    stage 2 costs cut-list-sized work, not a corpus pass. The oracle
    replays both stages on gram/window STRINGS where the plan uses
    64-bit hashes."""
    from .operators.dedup_fuzzy import duplicated_span_extents_exact

    d = spread_for_compute(load_table(spark, sf_dir, "documents"))
    return duplicated_span_extents_exact(d, "text", "doc_id", n=10, min_span=50)


@query(
    "duplicated_spans_cover",
    sql=r"""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(lower(text)), '[^0-9a-z]+'),
                         x -> len(x) > 0) AS w
      FROM documents
    ),
    g AS (
      SELECT doc_id,
             unnest(list_transform(range(1, greatest(len(w) - 49, 0) + 1),
                    i -> {'pos': i, 'gram': array_to_string(list_slice(w, i, i + 49), ' ')})) AS pg
      FROM t WHERE len(w) >= 50
    ),
    s AS (SELECT doc_id, pg['pos'] AS pos, pg['gram'] AS gram FROM g),
    cnt AS (SELECT gram, COUNT(*) AS c FROM s GROUP BY 1),
    dup AS (SELECT doc_id, pos FROM s JOIN cnt USING (gram) WHERE c >= 2),
    isl AS (
      SELECT doc_id, pos,
             pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
      FROM dup
    ),
    sp AS (
      SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS s, CAST(MAX(pos) + 49 AS BIGINT) AS e
      FROM isl GROUP BY doc_id, grp
    ),
    ivm AS (
      SELECT doc_id, s, e,
             SUM(CASE WHEN pm IS NULL OR s > pm THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY s, e ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
      FROM (SELECT doc_id, s, e,
                   MAX(e) OVER (PARTITION BY doc_id ORDER BY s, e ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
            FROM sp)
    )
    SELECT doc_id, CAST(MIN(s) AS BIGINT) AS span_start,
           CAST(MAX(e) - MIN(s) + 1 AS BIGINT) AS span_len
    FROM ivm GROUP BY doc_id, grp
    ORDER BY doc_id, span_start
    """,
)
def duplicated_spans_cover_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The EXACT Lee cut set, directly: detection windows AT the cut
    threshold (50 tokens) instead of 10-gram chains — a repeated
    50-token window is itself a verified repeated substring, so the
    union of duplicated window extents IS Lee's cut set (recall AND
    precision exact at coverage granularity; the chaining relaxation
    and the verification stage both dissolve). Overlapping island
    extents merge into disjoint maximal cut ranges. Same anchor-
    complement plan at n=50 (one 8-byte gram shuffle, islands on the
    anchor frame) + the cut-list-sized interval merge."""
    from .operators.dedup_fuzzy import duplicated_span_cover

    d = spread_for_compute(load_table(spark, sf_dir, "documents"))
    return duplicated_span_cover(d, "text", "doc_id", min_span=50)


@query(
    "tfidf_cosine_pairs",
    sql=r"""
    WITH toks AS (
      SELECT doc_id, lang,
             list_filter(string_split_regex(trim(lower(text)), '[^0-9a-z]+'),
                         t -> len(t) > 0) AS t
      FROM documents
    ),
    terms AS (SELECT doc_id, lang, unnest(t) AS term FROM toks),
    tf AS (
      SELECT doc_id, lang, term, CAST(COUNT(*) AS BIGINT) AS tf
      FROM terms GROUP BY 1, 2, 3
    ),
    dfreq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    wts AS (
      SELECT tf.doc_id, tf.lang, tf.term,
             tf.tf * (ln((1.0 + n.n_docs) / (1.0 + dfreq.df)) + 1.0) AS w
      FROM tf JOIN dfreq USING (term) CROSS JOIN n
    ),
    norms AS (SELECT doc_id, SQRT(SUM(w * w)) AS nrm FROM wts GROUP BY 1),
    dots AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, SUM(a.w * b.w) AS dot
      FROM wts a JOIN wts b
        ON a.term = b.term AND a.lang = b.lang AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, ROUND(dot / (na.nrm * nb.nrm), 4) AS cosine
    FROM dots JOIN norms na ON id_a = na.doc_id JOIN norms nb ON id_b = nb.doc_id
    WHERE ROUND(dot / (na.nrm * nb.nrm), 4) >= 0.85
    """,
)
def tfidf_cosine_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical near-dup pairs: TF-IDF cosine >= 0.85 inside language
    blocks, dot products via the (lang, term) posting join."""
    from .operators.text import tfidf_cosine_pairs

    d = spread_for_compute(load_table(spark, sf_dir, "documents"))
    # oracle parity: exact semantics, posting cap explicitly off
    return tfidf_cosine_pairs(d, "text", "doc_id", "lang", min_cosine=0.85,
                              max_posting_size=None)


@query(
    "corpus_mix_sample",
    sql=r"""
    WITH per_source AS (
      SELECT source,
             CAST(SUM(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source
    ),
    probs AS (
      SELECT source,
             LEAST((1.0 / COUNT(*) OVER ())
                   / (n_tokens * 1.0 / SUM(n_tokens) OVER ()), 1.0) AS keep_prob
      FROM per_source
    )
    SELECT d.doc_id, d.source
    FROM documents d JOIN probs p ON d.source = p.source
    WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 6))::BIGINT
          / 16777216.0 < p.keep_prob
    """,
)
def corpus_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialize the domain-rebalanced corpus: the
    ``domain_mix_weights`` target turned into an actual deterministic
    per-source Bernoulli sample — keep doc iff md5-fraction(doc_id) <
    keep_prob(source). Hash-based (not RNG) so the sampled corpus is
    byte-reproducible across runs, engines, and repartitioning; the
    weight table is |sources| rows broadcast onto one corpus scan.
    Downsampling only (keep_prob capped at 1; upsampling is a
    repeat-explode on the same weights, left to the training loader).
    """
    from pyspark.sql import Window

    from .operators.text import token_count_expr

    d = load_table(spark, sf_dir, "documents")
    per_source = d.groupBy("source").agg(
        F.sum(token_count_expr("text")).cast("long").alias("n_tokens")
    )
    w = Window.partitionBy()
    share = F.col("n_tokens") / F.sum("n_tokens").over(w)
    keep = F.least((F.lit(1.0) / F.count(F.lit(1)).over(w)) / share, F.lit(1.0))
    probs = per_source.select("source", keep.alias("keep_prob"))
    from .operators.sampling import md5_fraction_expr

    frac = md5_fraction_expr("doc_id")
    return (
        d.join(F.broadcast(probs), "source")
        .filter(frac < F.col("keep_prob"))
        .select("doc_id", "source")
    )


@query(
    "negative_sampling_pairs",
    sql="""
    WITH pool AS (
      SELECT doc_id AS neg_id, source AS neg_source FROM documents
      ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6))::BIGINT
               / 16777216.0, doc_id
      LIMIT 50
    ),
    ranked AS (
      SELECT d.doc_id, p.neg_id,
             CAST(row_number() OVER (
               PARTITION BY d.doc_id
               ORDER BY md5(CAST(d.doc_id AS VARCHAR) || ':' || CAST(p.neg_id AS VARCHAR)),
                        p.neg_id) AS INT) AS rank
      FROM documents d JOIN pool p
        ON p.neg_id <> d.doc_id AND p.neg_source <> d.source
    )
    SELECT doc_id, neg_id, rank FROM ranked WHERE rank <= 3
    """,
)
def negative_sampling_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling for contrastive training: each
    anchor doc gets 3 cross-source negatives chosen by hash ranking
    against a FIXED-SIZE candidate pool — the 50 docs with the
    smallest md5-fraction (TakeOrderedAndProject: each partition
    forwards its local 50, the driver merges 50, so the pool is
    parameter-sized at ANY corpus size, not a percentage that grows
    with N). The candidate join is anchors x 50 with no shuffle of
    the corpus; the per-anchor top-3 window partitions on the anchor
    key. Hash-based end to end: reproducible across runs and engines,
    unlike ``rand()``-based samplers whose output depends on
    partition layout."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    from .operators.sampling import md5_fraction_expr

    frac = md5_fraction_expr("doc_id")
    pool = (
        d.select(F.col("doc_id").alias("neg_id"), F.col("source").alias("neg_source"), frac.alias("__f"))
        .orderBy("__f", "neg_id")
        .limit(50)
        .drop("__f")
    )
    anchors = d.select("doc_id", "source")
    cand = anchors.join(
        F.broadcast(pool),
        (F.col("neg_id") != F.col("doc_id")) & (F.col("neg_source") != F.col("source")),
    )
    order_key = F.md5(
        F.concat(F.col("doc_id").cast("string"), F.lit(":"), F.col("neg_id").cast("string"))
    )
    w = Window.partitionBy("doc_id").orderBy(order_key, F.col("neg_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "neg_id", "rank")
    )


@query(
    "rouge_halves_overlap",
    sql="""
    WITH d AS (
      SELECT doc_id, text,
             substr(text, 1, CAST(floor(length(text) / 2) AS INT)) AS head
      FROM documents
    ),
    rt AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(lower(text)), '[^0-9a-z]+'),
                         x -> len(x) > 0) AS t
      FROM d
    ),
    ct AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(lower(head)), '[^0-9a-z]+'),
                         x -> len(x) > 0) AS t
      FROM d
    ),
    rg AS (
      SELECT doc_id, gram, CAST(COUNT(*) AS BIGINT) AS c_ref FROM (
        SELECT doc_id,
               unnest(CASE WHEN len(t) >= 2
                           THEN list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1])
                           ELSE []::VARCHAR[] END) AS gram
        FROM rt
      ) GROUP BY 1, 2
    ),
    cg AS (
      SELECT doc_id, gram, CAST(COUNT(*) AS BIGINT) AS c_cand FROM (
        SELECT doc_id,
               unnest(CASE WHEN len(t) >= 2
                           THEN list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1])
                           ELSE []::VARCHAR[] END) AS gram
        FROM cg_src
      ) GROUP BY 1, 2
    ),
    cg_src AS (SELECT doc_id, t FROM ct),
    m AS (
      SELECT doc_id,
             SUM(COALESCE(c_ref, 0)) AS n_ref,
             SUM(COALESCE(c_cand, 0)) AS n_cand,
             SUM(LEAST(COALESCE(c_ref, 0), COALESCE(c_cand, 0))) AS matches
      FROM rg FULL JOIN cg USING (doc_id, gram)
      GROUP BY 1
    ),
    s AS (
      SELECT d.doc_id AS id,
             CAST(COALESCE(n_ref, 0) AS BIGINT) AS n_ref_grams,
             CAST(COALESCE(n_cand, 0) AS BIGINT) AS n_cand_grams,
             CASE WHEN COALESCE(n_cand, 0) > 0
                  THEN CAST(matches AS DOUBLE) / n_cand ELSE 0.0 END AS p,
             CASE WHEN COALESCE(n_ref, 0) > 0
                  THEN CAST(matches AS DOUBLE) / n_ref ELSE 0.0 END AS r
      FROM d LEFT JOIN m USING (doc_id)
    )
    SELECT id, n_ref_grams, n_cand_grams,
           ROUND(p, 6) AS rouge_p, ROUND(r, 6) AS rouge_r,
           ROUND(CASE WHEN p + r > 0 THEN 2 * p * r / (p + r) ELSE 0.0 END, 6) AS rouge_f
    FROM s
    """,
)
def rouge_halves_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROUGE-2 of each document's first half against the full text —
    the standard generated-text eval metric (clipped n-gram
    precision/recall/F1, Lin 2004) exercised as a self-pair so the
    synthetic corpus provides both sides. Distributed shape in
    ``operators/text.py:rouge_n``: per-(id, gram) count frames over
    8-byte rolling-hash gram keys, a co-partitioned full-outer join,
    and a clipped-min sum — work linear in total grams. The oracle
    replays the identical clipping over string bigrams (hash identity
    preserves multiset counts up to the usual 2^-64 class)."""
    from .operators.text import rouge_n

    d = spread_for_compute(load_table(spark, sf_dir, "documents")).select(
        "doc_id",
        "text",
        F.expr("substring(text, 1, cast(floor(length(text) / 2) as int))").alias(
            "head"
        ),
    )
    return rouge_n(d, "text", "head", "doc_id", n=2)


@query(
    "bleu_halves_overlap",
    sql="""
    WITH d AS (
      SELECT doc_id, text,
             substr(text, 1, CAST(floor(length(text) / 2) AS INT)) AS head
      FROM documents
    ),
    rt AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(lower(text)), '[^0-9a-z]+'),
                         x -> len(x) > 0) AS t
      FROM d
    ),
    ct AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(lower(head)), '[^0-9a-z]+'),
                         x -> len(x) > 0) AS t
      FROM d
    ),
    r1 AS (SELECT doc_id, gram, CAST(COUNT(*) AS BIGINT) AS c_ref
           FROM (SELECT doc_id, unnest(t) AS gram FROM rt) GROUP BY 1, 2),
    c1 AS (SELECT doc_id, gram, CAST(COUNT(*) AS BIGINT) AS c_cand
           FROM (SELECT doc_id, unnest(t) AS gram FROM ct) GROUP BY 1, 2),
    m1 AS (SELECT doc_id,
                  SUM(COALESCE(c_cand, 0)) AS cand1,
                  SUM(LEAST(COALESCE(c_ref, 0), COALESCE(c_cand, 0))) AS match1
           FROM r1 FULL JOIN c1 USING (doc_id, gram) GROUP BY 1),
    r2 AS (SELECT doc_id, gram, CAST(COUNT(*) AS BIGINT) AS c_ref FROM (
             SELECT doc_id,
                    unnest(CASE WHEN len(t) >= 2
                                THEN list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1])
                                ELSE []::VARCHAR[] END) AS gram
             FROM rt) GROUP BY 1, 2),
    c2 AS (SELECT doc_id, gram, CAST(COUNT(*) AS BIGINT) AS c_cand FROM (
             SELECT doc_id,
                    unnest(CASE WHEN len(t) >= 2
                                THEN list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1])
                                ELSE []::VARCHAR[] END) AS gram
             FROM ct) GROUP BY 1, 2),
    m2 AS (SELECT doc_id,
                  SUM(COALESCE(c_cand, 0)) AS cand2,
                  SUM(LEAST(COALESCE(c_ref, 0), COALESCE(c_cand, 0))) AS match2
           FROM r2 FULL JOIN c2 USING (doc_id, gram) GROUP BY 1),
    s AS (
      SELECT d.doc_id AS id,
             CAST(len(rt.t) AS BIGINT) AS n_ref_tokens,
             CAST(len(ct.t) AS BIGINT) AS n_cand_tokens,
             CASE WHEN COALESCE(cand1, 0) > 0
                  THEN CAST(match1 AS DOUBLE) / cand1 ELSE 0.0 END AS p1,
             CASE WHEN COALESCE(cand2, 0) > 0
                  THEN CAST(match2 AS DOUBLE) / cand2 ELSE 0.0 END AS p2
      FROM d JOIN rt USING (doc_id) JOIN ct USING (doc_id)
             LEFT JOIN m1 USING (doc_id) LEFT JOIN m2 USING (doc_id)
    )
    SELECT id, n_ref_tokens, n_cand_tokens,
           ROUND(p1, 6) AS p1, ROUND(p2, 6) AS p2,
           ROUND(
             (CASE WHEN n_cand_tokens >= n_ref_tokens THEN 1.0
                   WHEN n_cand_tokens > 0
                   THEN EXP(1.0 - CAST(n_ref_tokens AS DOUBLE) / n_cand_tokens)
                   ELSE 0.0 END)
             * POWER(p1 * p2, 0.5), 6) AS bleu
    FROM s
    """,
)
def bleu_halves_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence-level BLEU-2 (clipped precisions + brevity penalty,
    Papineni et al. 2002) of each document's first half against its
    full text — the precision-oriented companion to
    ``rouge_halves_overlap``, same self-pair convention. Distributed
    shape in ``operators/text.py:bleu_n``: one clipped-count join per
    gram size over hashed keys, linear in total grams; the oracle
    replays the identical clipping, brevity penalty, and geometric
    mean over string grams."""
    from .operators.text import bleu_n

    d = spread_for_compute(load_table(spark, sf_dir, "documents")).select(
        "doc_id",
        "text",
        F.expr("substring(text, 1, cast(floor(length(text) / 2) as int))").alias(
            "head"
        ),
    )
    return bleu_n(d, "text", "head", "doc_id", max_n=2)


@query(
    "distinct_n_diversity",
    sql="""
    WITH t AS (
      SELECT source,
             list_filter(string_split_regex(trim(lower(text)), '[^0-9a-z]+'),
                         x -> len(x) > 0) AS t
      FROM documents
    ),
    g AS (
      SELECT source, n, gram FROM (
        SELECT source, 1 AS n, unnest(t) AS gram FROM t
        UNION ALL
        SELECT source, 2 AS n,
               unnest(CASE WHEN len(t) >= 2
                           THEN list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1])
                           ELSE []::VARCHAR[] END) AS gram
        FROM t
        UNION ALL
        SELECT source, 3 AS n,
               unnest(CASE WHEN len(t) >= 3
                           THEN list_transform(range(1, len(t) - 1),
                                               i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])
                           ELSE []::VARCHAR[] END) AS gram
        FROM t
      )
    )
    SELECT source, n,
           CAST(COUNT(*) AS BIGINT) AS total_grams,
           CAST(COUNT(DISTINCT gram) AS BIGINT) AS distinct_grams,
           ROUND(CAST(COUNT(DISTINCT gram) AS DOUBLE) / COUNT(*), 6) AS distinct_ratio
    FROM g
    GROUP BY 1, 2
    """,
)
def distinct_n_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-n diversity per corpus slice (Li et al. 2016's
    distinct-1/2 generalized to n=1..3): the standard
    mode-collapse/diversity gauge for GENERATED corpora — a synthetic
    dataset whose distinct-2 craters is recycling phrasing. One
    explode per n over 8-byte rolling-hash gram keys feeding a single
    (source, n) aggregate with an exact distinct; the shuffle carries
    hashed grams, never strings, and the result frame is
    |sources|·3 rows. Oracle replays string grams (hash distincts
    agree up to the usual 2^-64 collision class)."""
    from .operators.text import punct_tokens_expr, rolling_gram_hash_sql

    d = spread_for_compute(load_table(spark, sf_dir, "documents")).select(
        "source", punct_tokens_expr("text").alias("__toks")
    )
    parts = []
    for n in (1, 2, 3):
        grams = F.expr(rolling_gram_hash_sql("__toks", n, distinct=False))
        parts.append(
            d.select("source", F.lit(n).alias("n"), F.explode(grams).alias("gram"))
        )
    g = parts[0].unionByName(parts[1]).unionByName(parts[2])
    return g.groupBy("source", "n").agg(
        F.count(F.lit(1)).cast("long").alias("total_grams"),
        F.countDistinct("gram").cast("long").alias("distinct_grams"),
        F.round(F.countDistinct("gram") / F.count(F.lit(1)), 6).alias("distinct_ratio"),
    )


_CURATION_FULL_SQL = r"""
    WITH RECURSIVE
    split AS (
      SELECT doc_id, text, source, lang,
             CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT % 100 < 80
                  THEN 'train' ELSE 'test' END AS split
      FROM documents
    ),
    corpus AS MATERIALIZED (
      SELECT doc_id, text, source, lang FROM split WHERE split = 'train'
      UNION ALL
      SELECT doc_id + 1000000, text, source, lang FROM split WHERE split = 'train' AND doc_id % 40 = 0
      UNION ALL
      SELECT doc_id + 2000000, text, source, lang FROM split WHERE split = 'test' AND doc_id % 3 = 0
    ),
    ltoks AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t FROM corpus),
    lsc AS (
      SELECT doc_id, [
        {hits: len(list_filter(t, x -> x IN ('the','and','of','is','to'))), lang: 'en'},
        {hits: len(list_filter(t, x -> x IN ('le','et','les','une','est'))), lang: 'fr'},
        {hits: len(list_filter(t, x -> x IN ('der','die','und','das','ist'))), lang: 'de'},
        {hits: len(list_filter(t, x -> x IN ('el','los','una','es','y'))), lang: 'es'},
        {hits: len(list_filter(t, x -> x IN ('de','shi','le','bu','zai'))), lang: 'zh'}
      ] AS s FROM ltoks
    ),
    lgx AS (
      SELECT doc_id, list_aggregate(
               list_transform(list_filter(s, e -> e['hits'] = list_aggregate(
                   list_transform(s, e2 -> e2['hits']), 'max')), e -> e['lang']),
               'min') AS lg
      FROM lsc
    ),
    gop AS (
      SELECT doc_id,
             (len(wt) BETWEEN 50 AND 100000)
             AND ((CASE WHEN len(t) > 0
                   THEN list_aggregate(list_transform(t, x -> len(x)), 'sum') * 1.0 / len(t)
                   ELSE 0.0 END) BETWEEN 3.0 AND 10.0)
             AND (len(list_filter(wt, x -> x IN ('the','a','of','and','to','in','is','it'))) >= 2)
             AND (len(regexp_replace(lower(text), '[0-9a-z\s]', '', 'g')) * 1.0
                  / GREATEST(len(text), 1) <= 0.1) AS gopher_ok
      FROM (SELECT doc_id, text,
                   list_filter(string_split_regex(trim(lower(text)), '[^0-9a-z]+'), t -> len(t) > 0) AS t,
                   string_split_regex(trim(lower(text)), '\s+') AS wt
            FROM corpus)
    ),
    pt AS (SELECT doc_id, list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> len(x) > 0) AS w FROM corpus),
    pt2 AS (SELECT doc_id, w FROM pt WHERE len(w) >= 2),
    bg AS (SELECT doc_id, w[i] AS w1, w[i+1] AS w2 FROM pt2, unnest(range(1, len(w))) AS g(i)),
    uni AS (SELECT tok AS w, CAST(COUNT(*) AS BIGINT) AS c1 FROM (SELECT unnest(w) AS tok FROM pt) GROUP BY 1),
    vv AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM uni),
    bgc AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS cbg FROM bg GROUP BY 1, 2),
    sc AS (SELECT b.doc_id, LN((bgc.cbg + 1.0) / (u.c1 + vv.v)) AS lp
           FROM bg b JOIN bgc USING (w1, w2) JOIN uni u ON b.w1 = u.w CROSS JOIN vv),
    pplt AS (SELECT doc_id, ROUND(EXP(-AVG(lp)), 4) AS ppl FROM sc GROUP BY doc_id),
    flags AS MATERIALIZED (
      SELECT c.doc_id, c.source, c.text,
             (lgx.lg = c.lang) AS lang_ok, gop.gopher_ok,
             COALESCE(pplt.ppl <= 31.0, FALSE) AS ppl_ok,
             md5(c.text) AS digest
      FROM corpus c JOIN lgx USING (doc_id) JOIN gop USING (doc_id) LEFT JOIN pplt USING (doc_id)
    ),
    lq AS (
      SELECT doc_id, source, text, digest,
             row_number() OVER (PARTITION BY digest ORDER BY doc_id) AS rn
      FROM flags WHERE lang_ok AND gopher_ok AND ppl_ok
    ),
    exact AS MATERIALIZED (SELECT doc_id, source, text FROM lq WHERE rn = 1),
    md AS (SELECT doc_id, list_transform(range(1, greatest(len(lower(text))-4,1)+1),
                         i -> md5(substr(lower(text), i, 5))) AS dg FROM exact),
    sig AS (SELECT doc_id, s, list_aggregate(list_transform(dg, x -> substr(x, 8*s+1, 8)), 'min') AS h
            FROM md, (SELECT unnest([0,1,2,3]) AS s)),
    banded AS (SELECT doc_id, s // 2 AS band, md5(string_agg(h, '|' ORDER BY s)) AS bh
               FROM sig GROUP BY doc_id, s // 2),
    prs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM banded a JOIN banded b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
    edges AS (SELECT id_a AS a, id_b AS b FROM prs UNION SELECT id_b, id_a FROM prs),
    walk(node, label) AS (
      SELECT a, a FROM (SELECT DISTINCT a FROM edges)
      UNION
      SELECT e.b, w.label FROM walk w JOIN edges e ON e.a = w.node
    ),
    cc AS MATERIALIZED (SELECT node, MIN(label) AS comp FROM walk GROUP BY node),
    nd AS MATERIALIZED (SELECT e.* FROM exact e LEFT JOIN cc ON e.doc_id = cc.node
           WHERE cc.node IS NULL OR cc.comp = e.doc_id),
    ew AS (SELECT string_split_regex(trim(lower(text)), '\s+') AS w FROM split WHERE split = 'test'),
    egr AS (SELECT DISTINCT unnest(CASE WHEN len(w) >= 5
              THEN list_distinct(list_transform(range(1, greatest(len(w)-4,0)+1),
                   i -> array_to_string(list_slice(w, i, i+4), ' ')))
              ELSE [array_to_string(w, ' ')] END) AS gram FROM ew),
    ngr AS (SELECT doc_id, unnest(CASE WHEN len(w) >= 5
              THEN list_distinct(list_transform(range(1, greatest(len(w)-4,0)+1),
                   i -> array_to_string(list_slice(w, i, i+4), ' ')))
              ELSE [array_to_string(w, ' ')] END) AS gram
            FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w FROM nd)),
    contam AS (SELECT ngr.doc_id, COUNT(*) AS n_g, COUNT(t.gram) AS n_o
               FROM ngr LEFT JOIN egr t USING (gram) GROUP BY ngr.doc_id),
    dropc AS MATERIALIZED (SELECT doc_id FROM contam WHERE n_o * 1.0 / n_g >= 0.5),
    kept AS (SELECT nd.* FROM nd LEFT JOIN dropc USING (doc_id) WHERE dropc.doc_id IS NULL),
    kpack AS (
      SELECT source, doc_id, n_tokens, CAST(floor((cum - 1) / 2048) AS BIGINT) AS pack_id
      FROM (SELECT doc_id, source, n_tokens,
                   SUM(n_tokens) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
            FROM (SELECT doc_id, source,
                         CAST(len(list_filter(string_split_regex(trim(lower(text)), '[^0-9a-z]+'),
                                              t -> len(t) > 0)) AS BIGINT) AS n_tokens
                  FROM kept))
    ),
    f0 AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
                  CAST(COUNT(CASE WHEN NOT lang_ok THEN 1 END) AS BIGINT) AS n_dropped_lang,
                  CAST(COUNT(CASE WHEN lang_ok AND NOT gopher_ok THEN 1 END) AS BIGINT) AS n_dropped_gopher,
                  CAST(COUNT(CASE WHEN lang_ok AND gopher_ok AND NOT ppl_ok THEN 1 END) AS BIGINT) AS n_dropped_ppl
           FROM flags GROUP BY source),
    f1 AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_dropped_exact FROM lq WHERE rn > 1 GROUP BY source),
    f2 AS (SELECT e.source, CAST(COUNT(*) AS BIGINT) AS n_dropped_neardup
           FROM exact e JOIN cc ON e.doc_id = cc.node WHERE cc.comp <> e.doc_id GROUP BY 1),
    f3 AS (SELECT nd.source, CAST(COUNT(*) AS BIGINT) AS n_dropped_contam
           FROM nd JOIN dropc USING (doc_id) GROUP BY 1),
    f4 AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_kept, CAST(SUM(n_tokens) AS BIGINT) AS kept_tokens,
                  CAST(COUNT(DISTINCT pack_id) AS BIGINT) AS n_packs_spanned
           FROM kpack GROUP BY source)
    SELECT f0.source, n_docs, n_dropped_lang, n_dropped_gopher, n_dropped_ppl,
           COALESCE(n_dropped_exact, 0) AS n_dropped_exact,
           COALESCE(n_dropped_neardup, 0) AS n_dropped_neardup,
           COALESCE(n_dropped_contam, 0) AS n_dropped_contam,
           COALESCE(n_kept, 0) AS n_kept,
           COALESCE(kept_tokens, 0) AS kept_tokens,
           COALESCE(n_packs_spanned, 0) AS n_packs_spanned
    FROM f0 LEFT JOIN f1 USING (source) LEFT JOIN f2 ON f0.source = f2.source
    LEFT JOIN f3 ON f0.source = f3.source LEFT JOIN f4 ON f0.source = f4.source
    ORDER BY f0.source
"""


@query("corpus_curation_full", sql=_CURATION_FULL_SQL)
def corpus_curation_full(
    spark: SparkSession, sf_dir: str, max_bucket_size: int | None = None
) -> DataFrame:
    """THE end-to-end curation benchmark: langid -> Gopher rules ->
    bigram-LM perplexity -> exact dedup -> minhash near-dup (banded
    LSH + connected components) -> eval-set decontamination ->
    2048-token sequence packing, composed as ONE dataflow and reported
    as the per-source funnel (every stage's drop count, kept docs,
    kept tokens, packs spanned) — the first number a pretraining-
    pipeline user asks for. The production twin is
    ``production.curate_documents``; this registry form is fully
    DuckDB-replayable, including the recursive-CTE connected
    components and the md5 minhash bands.

    Determinism scaffolding (test-scale honesty, same pattern as
    ``corpus_curation``): the corpus is the md5-hash TRAIN split plus
    injected exact duplicates (every 40th train doc under +1e6 ids —
    the exact-dedup stage provably fires) plus injected eval clones
    (every 3rd test doc under +2e6 ids — the decontamination stage
    provably fires: their 5-gram overlap with the eval set is 1.0).

    Scale shape: injection through near-dup removal is the shared front
    in ``curation.py``, and the funnel is its one ``source_funnel``
    aggregate. The tail adds a gram-keyed decontamination join against
    the DISTINCT eval gram set and a range-partitioned packing cumsum;
    nothing is pairwise on the corpus.
    """
    from .curation import dedup_front, inject, source_funnel
    from .operators.caching import track
    from .operators.sampling import hash_split_expr
    from .operators.text import punct_tokens_expr, rolling_gram_hash_sql, ws_tok_sql
    from .operators.windows import global_cumsum

    d = spread_for_compute(
        load_table(spark, sf_dir, "documents").select("doc_id", "text", "source", "lang")
    )
    s = d.select("*", hash_split_expr("doc_id").alias("__split"))
    is_tr, text = F.col("__split") == "train", F.col("text")
    corpus = inject(
        s,
        [
            (is_tr, 0, text),
            (is_tr & (F.col("doc_id") % 40 == 0), 1000000, text),
            (~is_tr & (F.col("doc_id") % 3 == 0), 2000000, text),
        ],
    ).drop("__split")
    nd, parts = dedup_front(corpus, max_bucket_size)
    five = F.expr(rolling_gram_hash_sql(ws_tok_sql("text"), 5, pad_short=True))
    eval_grams = (
        s.filter(F.col("__split") == "test").select(F.explode(five).alias("tgram")).distinct()
    )
    ngr = nd.select("doc_id", F.explode(five).alias("gram"))
    contam = (
        ngr.join(eval_grams, F.col("gram") == F.col("tgram"), "left")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_g"), F.count("tgram").alias("n_o"))
    )
    dropc = track(
        contam.filter(F.col("n_o") * 1.0 / F.col("n_g") >= 0.5).select("doc_id")
    )
    kept = nd.join(dropc, "doc_id", "left_anti")
    ktok = kept.select(
        "doc_id",
        "source",
        F.size(punct_tokens_expr(F.col("text"))).cast("long").alias("n_tokens"),
    )
    kpack = global_cumsum(ktok, "doc_id", ["n_tokens"]).select(
        "source",
        "n_tokens",
        F.floor((F.col("cum_n_tokens") - 1) / 2048).cast("long").alias("pack_id"),
    )
    one = F.lit(1)
    return source_funnel(
        parts
        + [
            (nd.join(dropc, "doc_id"), {"n_dropped_contam": one}),
            (
                kpack,
                {
                    "n_kept": one,
                    "kept_tokens": F.col("n_tokens"),
                    "n_packs_spanned": F.col("pack_id"),
                },
            ),
        ]
    ).orderBy("source")


_CURATION_SURGICAL_SQL = r"""
    WITH RECURSIVE
    split AS (
      SELECT doc_id, text, source, lang,
             CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT % 100 < 80
                  THEN 'train' ELSE 'test' END AS split
      FROM documents
    ),
    corpus AS MATERIALIZED (
      SELECT doc_id, text, source, lang FROM split WHERE split = 'train'
      UNION ALL
      SELECT doc_id + 1000000, text, source, lang FROM split WHERE split = 'train' AND doc_id % 40 = 0
      UNION ALL
      SELECT doc_id + 2000000, text, source, lang FROM split WHERE split = 'test' AND doc_id % 6 = 0
      UNION ALL
      SELECT doc_id + 3000000, text || ' ' || substr(text, 1, 400), source, lang
      FROM split WHERE split = 'test' AND doc_id % 6 = 3
    ),
    ltoks AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t FROM corpus),
    lsc AS (
      SELECT doc_id, [
        {hits: len(list_filter(t, x -> x IN ('the','and','of','is','to'))), lang: 'en'},
        {hits: len(list_filter(t, x -> x IN ('le','et','les','une','est'))), lang: 'fr'},
        {hits: len(list_filter(t, x -> x IN ('der','die','und','das','ist'))), lang: 'de'},
        {hits: len(list_filter(t, x -> x IN ('el','los','una','es','y'))), lang: 'es'},
        {hits: len(list_filter(t, x -> x IN ('de','shi','le','bu','zai'))), lang: 'zh'}
      ] AS s FROM ltoks
    ),
    lgx AS (
      SELECT doc_id, list_aggregate(
               list_transform(list_filter(s, e -> e['hits'] = list_aggregate(
                   list_transform(s, e2 -> e2['hits']), 'max')), e -> e['lang']),
               'min') AS lg
      FROM lsc
    ),
    gop AS (
      SELECT doc_id,
             (len(wt) BETWEEN 50 AND 100000)
             AND ((CASE WHEN len(t) > 0
                   THEN list_aggregate(list_transform(t, x -> len(x)), 'sum') * 1.0 / len(t)
                   ELSE 0.0 END) BETWEEN 3.0 AND 10.0)
             AND (len(list_filter(wt, x -> x IN ('the','a','of','and','to','in','is','it'))) >= 2)
             AND (len(regexp_replace(lower(text), '[0-9a-z\s]', '', 'g')) * 1.0
                  / GREATEST(len(text), 1) <= 0.1) AS gopher_ok
      FROM (SELECT doc_id, text,
                   list_filter(string_split_regex(trim(lower(text)), '[^0-9a-z]+'), t -> len(t) > 0) AS t,
                   string_split_regex(trim(lower(text)), '\s+') AS wt
            FROM corpus)
    ),
    pt AS (SELECT doc_id, list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> len(x) > 0) AS w FROM corpus),
    pt2 AS (SELECT doc_id, w FROM pt WHERE len(w) >= 2),
    bg AS (SELECT doc_id, w[i] AS w1, w[i+1] AS w2 FROM pt2, unnest(range(1, len(w))) AS g(i)),
    uni AS (SELECT tok AS w, CAST(COUNT(*) AS BIGINT) AS c1 FROM (SELECT unnest(w) AS tok FROM pt) GROUP BY 1),
    vv AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM uni),
    bgc AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS cbg FROM bg GROUP BY 1, 2),
    sc AS (SELECT b.doc_id, LN((bgc.cbg + 1.0) / (u.c1 + vv.v)) AS lp
           FROM bg b JOIN bgc USING (w1, w2) JOIN uni u ON b.w1 = u.w CROSS JOIN vv),
    pplt AS (SELECT doc_id, ROUND(EXP(-AVG(lp)), 4) AS ppl FROM sc GROUP BY doc_id),
    flags AS MATERIALIZED (
      SELECT c.doc_id, c.source, c.text,
             (lgx.lg = c.lang) AS lang_ok, gop.gopher_ok,
             COALESCE(pplt.ppl <= 31.0, FALSE) AS ppl_ok,
             md5(c.text) AS digest
      FROM corpus c JOIN lgx USING (doc_id) JOIN gop USING (doc_id) LEFT JOIN pplt USING (doc_id)
    ),
    lq AS (
      SELECT doc_id, source, text, digest,
             row_number() OVER (PARTITION BY digest ORDER BY doc_id) AS rn
      FROM flags WHERE lang_ok AND gopher_ok AND ppl_ok
    ),
    exact AS MATERIALIZED (SELECT doc_id, source, text FROM lq WHERE rn = 1),
    md AS (SELECT doc_id, list_transform(range(1, greatest(len(lower(text))-4,1)+1),
                         i -> md5(substr(lower(text), i, 5))) AS dg FROM exact),
    sig AS (SELECT doc_id, s, list_aggregate(list_transform(dg, x -> substr(x, 8*s+1, 8)), 'min') AS h
            FROM md, (SELECT unnest([0,1,2,3]) AS s)),
    banded AS (SELECT doc_id, s // 2 AS band, md5(string_agg(h, '|' ORDER BY s)) AS bh
               FROM sig GROUP BY doc_id, s // 2),
    prs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM banded a JOIN banded b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
    edges AS (SELECT id_a AS a, id_b AS b FROM prs UNION SELECT id_b, id_a FROM prs),
    walk(node, label) AS (
      SELECT a, a FROM (SELECT DISTINCT a FROM edges)
      UNION
      SELECT e.b, w.label FROM walk w JOIN edges e ON e.a = w.node
    ),
    cc AS MATERIALIZED (SELECT node, MIN(label) AS comp FROM walk GROUP BY node),
    nd AS MATERIALIZED (SELECT e.* FROM exact e LEFT JOIN cc ON e.doc_id = cc.node
           WHERE cc.node IS NULL OR cc.comp = e.doc_id),
    eh AS (SELECT list_filter(string_split_regex(trim(lower(text)), '[^0-9a-z]+'), x -> len(x) > 0) AS w
           FROM split WHERE split = 'test' AND doc_id % 2 = 0),
    egr AS MATERIALIZED (SELECT DISTINCT unnest(CASE WHEN len(w) >= 5
              THEN list_transform(range(1, greatest(len(w)-4,0)+1),
                   i -> array_to_string(list_slice(w, i, i+4), ' '))
              ELSE [] END) AS gram FROM eh),
    ndt AS MATERIALIZED (SELECT doc_id, source,
                   list_filter(string_split_regex(trim(lower(text)), '[^0-9a-z]+'), x -> len(x) > 0) AS w
            FROM nd),
    cst AS (SELECT doc_id, unnest(list_transform(range(1, greatest(len(w)-4,0)+1),
                 i -> {'pos': i, 'gram': array_to_string(list_slice(w, i, i+4), ' ')})) AS pg
            FROM ndt WHERE len(w) >= 5),
    chit AS (SELECT doc_id, pg['pos'] AS pos FROM cst JOIN egr ON pg['gram'] = egr.gram),
    cisl AS (SELECT doc_id, pos, pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp FROM chit),
    csp AS (SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS s, CAST(MIN(pos) + COUNT(*) + 3 AS BIGINT) AS e
            FROM cisl GROUP BY doc_id, grp HAVING COUNT(*) + 4 >= 20),
    dst AS (SELECT doc_id, unnest(list_transform(range(1, greatest(len(w)-9,0)+1),
                 i -> {'pos': i, 'gram': array_to_string(list_slice(w, i, i+9), ' ')})) AS pg
            FROM ndt WHERE len(w) >= 10),
    ds AS (SELECT doc_id, pg['pos'] AS pos, pg['gram'] AS gram FROM dst),
    dcnt AS (SELECT gram, COUNT(*) AS c FROM ds GROUP BY 1),
    ddup AS (SELECT doc_id, pos FROM ds JOIN dcnt USING (gram) WHERE c >= 2),
    disl AS (SELECT doc_id, pos, pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp FROM ddup),
    dsp AS (SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS s, CAST(MIN(pos) + COUNT(*) + 8 AS BIGINT) AS e
            FROM disl GROUP BY doc_id, grp HAVING COUNT(*) + 9 >= 50),
    iv AS (SELECT doc_id, s, e FROM dsp UNION ALL SELECT doc_id, s, e FROM csp),
    ivm AS (
      SELECT doc_id, s, e,
             SUM(CASE WHEN pm IS NULL OR s > pm THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY s, e ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
      FROM (SELECT doc_id, s, e,
                   MAX(e) OVER (PARTITION BY doc_id ORDER BY s, e ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
            FROM iv)
    ),
    mrg AS (SELECT doc_id, MIN(s) AS ms, MAX(e) AS me FROM ivm GROUP BY doc_id, grp),
    cutd AS (SELECT doc_id, CAST(SUM(me - ms + 1) AS BIGINT) AS cut FROM mrg GROUP BY doc_id),
    dsum AS (SELECT doc_id, CAST(SUM(e - s + 1) AS BIGINT) AS cut_dup FROM dsp GROUP BY doc_id),
    csum AS (SELECT doc_id, CAST(SUM(e - s + 1) AS BIGINT) AS cut_contam FROM csp GROUP BY doc_id),
    perdoc AS MATERIALIZED (
      SELECT ndt.doc_id, ndt.source, CAST(len(ndt.w) AS BIGINT) AS n_tokens,
             COALESCE(cutd.cut, 0) AS cut,
             COALESCE(dsum.cut_dup, 0) AS cut_dup,
             COALESCE(csum.cut_contam, 0) AS cut_contam
      FROM ndt LEFT JOIN cutd USING (doc_id) LEFT JOIN dsum USING (doc_id) LEFT JOIN csum USING (doc_id)
    ),
    kpack AS (
      SELECT source, kt, CAST(floor((cum - 1) / 2048) AS BIGINT) AS pack_id
      FROM (SELECT doc_id, source, CAST(n_tokens - cut AS BIGINT) AS kt,
                   SUM(n_tokens - cut) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
            FROM perdoc WHERE n_tokens - cut > 0)
    ),
    f0 AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
                  CAST(COUNT(CASE WHEN NOT lang_ok THEN 1 END) AS BIGINT) AS n_dropped_lang,
                  CAST(COUNT(CASE WHEN lang_ok AND NOT gopher_ok THEN 1 END) AS BIGINT) AS n_dropped_gopher,
                  CAST(COUNT(CASE WHEN lang_ok AND gopher_ok AND NOT ppl_ok THEN 1 END) AS BIGINT) AS n_dropped_ppl
           FROM flags GROUP BY source),
    f1 AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_dropped_exact FROM lq WHERE rn > 1 GROUP BY source),
    f2 AS (SELECT e.source, CAST(COUNT(*) AS BIGINT) AS n_dropped_neardup
           FROM exact e JOIN cc ON e.doc_id = cc.node WHERE cc.comp <> e.doc_id GROUP BY 1),
    f3 AS (SELECT source, CAST(SUM(cut_dup) AS BIGINT) AS tokens_cut_dup,
                  CAST(SUM(cut_contam) AS BIGINT) AS tokens_cut_contam,
                  CAST(SUM(cut) AS BIGINT) AS tokens_cut,
                  CAST(COUNT(CASE WHEN n_tokens - cut <= 0 THEN 1 END) AS BIGINT) AS n_dropped_cut
           FROM perdoc GROUP BY source),
    f4 AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_kept, CAST(SUM(kt) AS BIGINT) AS kept_tokens,
                  CAST(COUNT(DISTINCT pack_id) AS BIGINT) AS n_packs_spanned
           FROM kpack GROUP BY source)
    SELECT f0.source, n_docs, n_dropped_lang, n_dropped_gopher, n_dropped_ppl,
           COALESCE(n_dropped_exact, 0) AS n_dropped_exact,
           COALESCE(n_dropped_neardup, 0) AS n_dropped_neardup,
           COALESCE(tokens_cut_dup, 0) AS tokens_cut_dup,
           COALESCE(tokens_cut_contam, 0) AS tokens_cut_contam,
           COALESCE(tokens_cut, 0) AS tokens_cut,
           COALESCE(n_dropped_cut, 0) AS n_dropped_cut,
           COALESCE(n_kept, 0) AS n_kept,
           COALESCE(kept_tokens, 0) AS kept_tokens,
           COALESCE(n_packs_spanned, 0) AS n_packs_spanned
    FROM f0 LEFT JOIN f1 USING (source) LEFT JOIN f2 ON f0.source = f2.source
    LEFT JOIN f3 ON f0.source = f3.source LEFT JOIN f4 ON f0.source = f4.source
    ORDER BY f0.source
"""


@query("corpus_curation_surgical", sql=_CURATION_SURGICAL_SQL)
def corpus_curation_surgical(
    spark: SparkSession, sf_dir: str, max_bucket_size: int | None = None
) -> DataFrame:
    """The SURGICAL curation funnel — ``corpus_curation_full`` with the
    doc-level decontamination drop replaced by PaLM/Lee-style span
    surgery: langid -> Gopher -> bigram-LM ppl -> exact dedup ->
    minhash near-dup CC, then CUT the offending token ranges and KEEP
    the documents. Two cut lists over the near-dup survivors —
    within-corpus maximal duplicated spans (punct 10-grams, >= 50
    tokens, the ``duplicated_spans_maximal`` operator) and cross-split
    contaminated spans (punct 5-gram membership in the eval-half gram
    set, >= 20 tokens, the ``contaminated_spans`` islands) — are
    INTERVAL-UNIONED per doc (both lists index the same punct
    tokenization), the union length is subtracted from each doc's
    token count, and 2048-token packing runs on what remains. Reported
    per source: the doc-drop funnel plus tokens_cut_dup /
    tokens_cut_contam / tokens_cut (union), n_dropped_cut (docs cut to
    zero), n_kept, kept_tokens, n_packs_spanned.

    Determinism scaffolding (every stage provably fires): the
    ``corpus_curation_full`` injections (exact dups +1e6; full eval
    clones +2e6, here every 6th test doc — cut to ZERO by the
    contamination list: the surgical analogue of dropping) plus
    self-repeat chimeras +3e6 (every test doc with id%6==3, text =
    text + its own first 400 chars): their source is out-of-corpus so
    they dodge exact/near-dup, and the repeated prefix is a >= 50-token
    within-doc duplicated span — a PARTIAL cut that keeps the doc. The
    eval gram set is the EVEN half of the test split, so clones (id%6
    ==0) are covered and chimera sources (odd ids) are not. Data
    property, not a bug: at sf0.1+ this synthetic corpus is so
    template-duplicative that the NEAR-DUP stage collapses almost
    everything into one component first (the full funnel keeps ~12 of
    4393 docs) — the chimeras CC-merge with their template-mates and
    ``tokens_cut_dup`` can read 0 there; all stages provably fire at
    the driver's sf0.01 gate scale (cut_dup 116 / cut_contam 93 /
    2 docs cut to zero), and the oracle replays whatever the data
    yields at every scale.

    Scale shape: the front and the funnel are the shared ones in
    ``curation.py``. The surgical stage adds the two audited span plans
    (anchor-complement islands, no gram self-join; a broadcastable eval
    gram semi-join), a doc-partitioned interval-union window over the
    cut lists, and the packing cumsum. The DuckDB oracle replays all of
    it, including the recursive-CTE connected components.
    """
    from .curation import dedup_front, inject, source_funnel
    from .operators.caching import track
    from .operators.dedup_fuzzy import duplicated_span_extents, gram_positions, marked_spans
    from .operators.sampling import hash_split_expr
    from .operators.text import punct_tok_sql, punct_tokens_expr, rolling_gram_hash_sql
    from .operators.windows import global_cumsum, merge_intervals

    d = spread_for_compute(
        load_table(spark, sf_dir, "documents").select("doc_id", "text", "source", "lang")
    )
    s = d.select("*", hash_split_expr("doc_id").alias("__split"))
    test = s.filter(F.col("__split") == "test").drop("__split")
    is_tr, text = F.col("__split") == "train", F.col("text")
    corpus = inject(
        s,
        [
            (is_tr, 0, text),
            (is_tr & (F.col("doc_id") % 40 == 0), 1000000, text),
            (~is_tr & (F.col("doc_id") % 6 == 0), 2000000, text),
            (
                ~is_tr & (F.col("doc_id") % 6 == 3),
                3000000,
                F.expr("concat(text, ' ', substring(text, 1, 400))"),
            ),
        ],
    ).drop("__split")
    nd, parts = dedup_front(corpus, max_bucket_size)
    # --- surgical stage: two cut lists over the same punct tokenization ---
    dspan = track(
        duplicated_span_extents(
            nd, "text", "doc_id", n=10, min_span=50, ordered=False
        )
    )
    five = rolling_gram_hash_sql(
        punct_tok_sql("text"), 5, distinct=False, pad_short=False
    )
    eg = (
        test.filter(F.col("doc_id") % 2 == 0)
        .select(F.explode(F.expr(five)).alias("gk"))
        .distinct()
    )
    cspan = track(marked_spans(gram_positions(nd, "doc_id", F.expr(five)), eg, 5, 20))
    # tag each interval with its origin so BOTH per-list sums fall out
    # of ONE aggregate over the same union that feeds the interval
    # merge (r09: was two separate aggregates + two extra doc-keyed
    # joins; span_len == e - s + 1 by construction, so the summed
    # values are identical)
    iv = (
        dspan.select("*", F.lit(True).alias("__dup"))
        .unionByName(cspan.select("*", F.lit(False).alias("__dup")))
        .select(
            "doc_id",
            F.col("span_start").alias("s"),
            (F.col("span_start") + F.col("span_len") - 1).alias("e"),
            "__dup",
        )
    )
    # interval union: running-max island merge over the CUT LISTS (two
    # rows per span, doc-partitioned)
    cutd = merge_intervals(iv.select("doc_id", "s", "e"), "doc_id", "s", "e").groupBy(
        "doc_id"
    ).agg(F.sum(F.col("e") - F.col("s") + 1).cast("long").alias("cut"))
    dcsum = iv.groupBy("doc_id").agg(
        F.sum(F.when(F.col("__dup"), F.col("e") - F.col("s") + 1))
        .cast("long")
        .alias("cut_dup"),
        F.sum(F.when(~F.col("__dup"), F.col("e") - F.col("s") + 1))
        .cast("long")
        .alias("cut_contam"),
    )
    zero = F.lit(0).cast("long")
    perdoc = track(
        nd.select(
            "doc_id",
            "source",
            F.size(punct_tokens_expr(F.col("text"))).cast("long").alias("n_tokens"),
        )
        .join(cutd, "doc_id", "left")
        .join(dcsum, "doc_id", "left")
        .select(
            "doc_id",
            "source",
            "n_tokens",
            F.coalesce("cut", zero).alias("cut"),
            F.coalesce("cut_dup", zero).alias("cut_dup"),
            F.coalesce("cut_contam", zero).alias("cut_contam"),
        )
    )
    kept = perdoc.filter(F.col("n_tokens") - F.col("cut") > 0).select(
        "doc_id", "source", (F.col("n_tokens") - F.col("cut")).cast("long").alias("kt")
    )
    kpack = global_cumsum(kept, "doc_id", ["kt"]).select(
        "source", "kt", F.floor((F.col("cum_kt") - 1) / 2048).cast("long").alias("pack_id")
    )
    return source_funnel(
        parts
        + [
            (
                perdoc,
                {
                    "tokens_cut_dup": F.col("cut_dup"),
                    "tokens_cut_contam": F.col("cut_contam"),
                    "tokens_cut": F.col("cut"),
                    "n_dropped_cut": F.when(F.col("n_tokens") - F.col("cut") <= 0, 1),
                },
            ),
            (
                kpack,
                {
                    "n_kept": F.lit(1),
                    "kept_tokens": F.col("kt"),
                    "n_packs_spanned": F.col("pack_id"),
                },
            ),
        ]
    ).orderBy("source")


@query(
    "substring_dedup_apply",
    sql=r"""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(lower(text)), '[^0-9a-z]+'),
                         x -> len(x) > 0) AS w
      FROM documents
    ),
    g AS (
      SELECT doc_id,
             unnest(list_transform(range(1, greatest(len(w) - 9, 0) + 1),
                    i -> {'pos': i, 'gram': array_to_string(list_slice(w, i, i + 9), ' ')})) AS pg
      FROM t WHERE len(w) >= 10
    ),
    s AS (SELECT doc_id, pg['pos'] AS pos, pg['gram'] AS gram FROM g),
    cnt AS (SELECT gram, COUNT(*) AS c FROM s GROUP BY 1),
    dup AS (SELECT doc_id, pos FROM s JOIN cnt USING (gram) WHERE c >= 2),
    isl AS (
      SELECT doc_id, pos,
             pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
      FROM dup
    ),
    sp AS (
      SELECT doc_id, CAST(COUNT(*) + 9 AS BIGINT) AS span_len
      FROM isl GROUP BY doc_id, grp
    ),
    cut AS (
      SELECT doc_id, CAST(SUM(span_len) AS BIGINT) AS n_removed
      FROM sp WHERE span_len >= 50 GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(len(t.w) AS BIGINT) AS n_tokens,
           CAST(COALESCE(c.n_removed, 0) AS BIGINT) AS n_removed,
           CAST(len(t.w) - COALESCE(c.n_removed, 0) AS BIGINT) AS n_kept,
           CASE WHEN len(t.w) > 0
                THEN ROUND(COALESCE(c.n_removed, 0) / CAST(len(t.w) AS DOUBLE), 6)
           END AS removed_fraction
    FROM t LEFT JOIN cut c ON t.doc_id = c.doc_id
    ORDER BY t.doc_id
    """,
)
def substring_dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPLY the Lee et al. substring-dedup cut list: per document, how
    many tokens the >= 50-token maximal duplicated spans remove and
    what remains — the before/after accounting a pipeline runs right
    after ``duplicated_spans_maximal`` produces the cut targets (its
    spans are disjoint per doc by construction, so the removed count
    is their plain sum). One row for EVERY document, clean docs
    included (n_removed 0; removed_fraction NULL only for token-less
    docs). Same plan family as the detector: one gram-keyed aggregate,
    islands on the anchor frame, then a doc-keyed sum joined back to
    the row-wise token counts."""
    from .operators.dedup_fuzzy import duplicated_span_extents
    from .operators.text import punct_tokens_expr

    d = spread_for_compute(load_table(spark, sf_dir, "documents"))
    spans = duplicated_span_extents(d, "text", "doc_id", n=10, min_span=50)
    cut = spans.groupBy("doc_id").agg(F.sum("span_len").cast("long").alias("n_removed"))
    base = d.select(
        "doc_id", F.size(punct_tokens_expr(F.col("text"))).cast("long").alias("n_tokens")
    )
    n_removed = F.coalesce("n_removed", F.lit(0).cast("long"))
    return (
        base.join(cut, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            n_removed.alias("n_removed"),
            (F.col("n_tokens") - n_removed).cast("long").alias("n_kept"),
            F.when(
                F.col("n_tokens") > 0,
                F.round(n_removed / F.col("n_tokens").cast("double"), 6),
            ).alias("removed_fraction"),
        )
        .orderBy("doc_id")
    )


@query(
    "substring_dedup_rewrite",
    sql=r"""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(lower(text)), '[^0-9a-z]+'),
                         x -> len(x) > 0) AS w
      FROM documents
    ),
    g AS (
      SELECT doc_id,
             unnest(list_transform(range(1, greatest(len(w) - 9, 0) + 1),
                    i -> {'pos': i, 'gram': array_to_string(list_slice(w, i, i + 9), ' ')})) AS pg
      FROM t WHERE len(w) >= 10
    ),
    s AS (SELECT doc_id, pg['pos'] AS pos, pg['gram'] AS gram FROM g),
    cnt AS (SELECT gram, COUNT(*) AS c FROM s GROUP BY 1),
    dup AS (SELECT doc_id, pos FROM s JOIN cnt USING (gram) WHERE c >= 2),
    isl AS (
      SELECT doc_id, pos,
             pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
      FROM dup
    ),
    spans AS (
      SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS span_start,
             CAST(COUNT(*) + 9 AS BIGINT) AS span_len
      FROM isl GROUP BY doc_id, grp
      HAVING COUNT(*) + 9 >= 50
    ),
    ivs AS (
      SELECT doc_id, list({'s': span_start, 'e': span_start + span_len - 1}) AS iv
      FROM spans GROUP BY doc_id
    ),
    k AS (
      SELECT t.doc_id, w,
             list_filter(range(1, len(w) + 1),
                         i -> len(list_filter(COALESCE(iv, []),
                                              v -> i >= v['s'] AND i <= v['e'])) = 0) AS kept
      FROM t LEFT JOIN ivs USING (doc_id)
    )
    SELECT doc_id,
           CAST(len(w) AS BIGINT) AS n_tokens,
           CAST(len(kept) AS BIGINT) AS n_kept,
           COALESCE(array_to_string(list_transform(kept, i -> w[i]), ' '), '') AS kept_text
    FROM k
    ORDER BY doc_id
    """,
)
def substring_dedup_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The last step of the Lee et al. substring-dedup family: actually
    REWRITE the corpus — every document re-emitted with its >= 50-token
    maximal duplicated spans removed, at the canonical punct
    tokenization (what a pretraining pipeline feeds the tokenizer;
    original whitespace/punctuation is not preserved). Where
    ``substring_dedup_apply`` reports the before/after accounting, this
    returns the cleaned text itself — one row per document, clean docs
    passing through verbatim (token-joined).

    Scale shape: span detection is the audited anchor-complement plan;
    the cut list folds to one interval array per affected doc
    (collect_list over spans already disjoint per doc) and
    broadcast-joins back to the corpus scan; the keep-filter and
    reconstruction are row-local higher-order functions (positions
    checked against the per-doc interval array, a few entries at
    most) — no corpus-sized shuffle beyond the one gram aggregate."""
    from .operators.dedup_fuzzy import duplicated_span_extents, span_cut_rewrite

    d = spread_for_compute(load_table(spark, sf_dir, "documents"))
    spans = duplicated_span_extents(
        d, "text", "doc_id", n=10, min_span=50, ordered=False
    )
    return span_cut_rewrite(d, spans, "text", "doc_id").orderBy("doc_id")


@query(
    "contaminated_spans",
    sql=r"""
    WITH split AS (
      SELECT doc_id, text,
             CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT % 100 < 80
                  THEN 'train' ELSE 'test' END AS split
      FROM documents
    ),
    tw AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w
           FROM split WHERE split = 'train'),
    eg AS (SELECT DISTINCT unnest(CASE WHEN len(w) >= 5
            THEN list_transform(range(1, greatest(len(w)-4,0)+1),
                 i -> array_to_string(list_slice(w, i, i+4), ' '))
            ELSE [] END) AS gram
           FROM (SELECT string_split_regex(trim(lower(text)), '\s+') AS w
                 FROM split WHERE split = 'test')),
    s AS (SELECT doc_id, unnest(list_transform(range(1, greatest(len(w)-4,0)+1),
                 i -> {'pos': i, 'gram': array_to_string(list_slice(w, i, i+4), ' ')})) AS pg
          FROM tw WHERE len(w) >= 5),
    hit AS (SELECT doc_id, pg['pos'] AS pos FROM s JOIN eg ON pg['gram'] = eg.gram),
    isl AS (SELECT doc_id, pos,
                   pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
            FROM hit),
    sp AS (SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS span_start,
                  CAST(COUNT(*) + 4 AS BIGINT) AS span_len
           FROM isl GROUP BY doc_id, grp)
    SELECT doc_id, span_start, span_len FROM sp
    WHERE span_len >= 20 ORDER BY doc_id, span_start
    """,
)
def contaminated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPAN-level decontamination: the maximal token ranges of TRAIN
    documents built entirely from whitespace 5-grams that appear in
    the EVAL split (md5-hash holdout) — the PaLM/Lee-style surgical
    alternative to doc-level decontamination: cut the contaminated
    span (>= 20 tokens here), keep the document. Completes the family:
    ``decontamination_ngram_overlap`` scores docs,
    ``duplicated_spans_maximal`` cuts within-corpus duplication, this
    cuts cross-split leakage with extents.

    Scale shape: train gram positions LEFT-SEMI join the DISTINCT
    eval gram set on the 64-bit rolling key — the eval vocabulary is
    bounded (broadcastable; hash-join with AQE otherwise), so the
    position stream is never shuffled for membership. The only
    corpus-scale exchange is the doc-partitioned islands window over
    HIT positions (<= contaminated fraction of the stream). The
    oracle replays membership and islands on gram strings."""
    from .operators.dedup_fuzzy import gram_positions, marked_spans
    from .operators.sampling import hash_split_expr
    from .operators.text import rolling_gram_hash_sql, ws_tok_sql

    n = 5
    d = spread_for_compute(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "text", hash_split_expr("doc_id").alias("__split")
    )
    grams = F.expr(rolling_gram_hash_sql(ws_tok_sql("text"), n, distinct=False, pad_short=False))
    eg = (
        d.filter(F.col("__split") == "test")
        .select(F.explode(grams).alias("gk"))
        .distinct()
    )
    train = gram_positions(d.filter(F.col("__split") == "train"), "doc_id", grams)
    return marked_spans(train, eg, n, 20).orderBy("doc_id", "span_start")
