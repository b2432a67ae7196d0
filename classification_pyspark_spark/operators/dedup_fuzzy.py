"""Near-duplicate detection for LLM corpora (north-star extension;
SURVEY.md §7 Phase 5c).

Five families, all shuffle-disciplined for 100 TB:

- **exact**: md5(text) -> groupBy hash (one shuffle on the digest; at
  scale this is the cheapest possible full-corpus dedup).
- **MinHash**: character-k-shingles -> H per-seed min-hashes -> band
  keys -> bucket join. Candidate pairs only ever meet inside a band
  bucket (shuffle on band key), never via a cross join.
- **SimHash**: 16-bit signed-bit-aggregation fingerprint from token
  hashes; equal fingerprints (or small hamming distance) are
  candidates. One projection + one groupBy.
- **n-gram Jaccard**: token-3-gram posting lists -> self-join on gram
  (shuffle on gram key) -> per-pair intersection counts -> Jaccard.
  Blocked by a cheap key (lang) to bound the join fan-out.
- **spans** (Lee et al. 2022 substring dedup at n-gram granularity):
  one pipeline of three shared pieces — :func:`gram_positions` (the
  1-based ``(doc_id, pos, gk)`` gram-position stream),
  :func:`marked_spans` (positions semi-joined to a marked-key frame,
  chained into ``(doc_id, span_start, span_len)`` islands) and
  :func:`kept_cut_text` (the cut-text projection after
  :func:`span_cut_rewrite`). The batch detector
  :func:`duplicated_span_extents` finds its islands from corpus-unique
  anchors instead; the decontamination spans, the surgical curation
  query and the span-cut streaming ingest mark their own keys.

All variants are deterministic and DuckDB-expressible (md5 and
lexicographic min are identical on both engines), so each is
oracle-checked — unusual for LSH code and deliberate here.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .caching import track
from .text import (
    _word_grams,
    punct_tok_sql,
    punct_tokens_expr,
    rolling_gram_hash_sql,
    tokens_expr,
    word_ngrams_expr,
    ws_tok_sql,
)

SHINGLE_K = 5
N_MINHASH = 4


def text_digest_expr(col: Column | str) -> Column:
    """md5 digest of the exact text (exact-dup key)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.md5(c)


def exact_duplicate_groups(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Groups of exact duplicates: (digest, n_docs, min_doc_id), only
    groups with n_docs > 1. One hash shuffle on the digest."""
    return (
        df.select(text_digest_expr(text_col).alias("digest"), F.col(id_col))
        .groupBy("digest")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min(id_col).alias("min_doc_id"),
        )
        .filter(F.col("n_docs") > 1)
    )


def shingles_expr(col: Column | str, k: int = SHINGLE_K) -> Column:
    """Array of character k-shingles of the lowercased text (positions
    1..len-k+1; short texts yield their whole string)."""
    c = F.lower(F.col(col) if isinstance(col, str) else col)
    n = F.greatest(F.length(c) - (k - 1), F.lit(1))
    return F.transform(F.sequence(F.lit(1), n), lambda i: F.substring(c, i, k))


def minhash_signature_exprs(
    col: Column | str, n_hashes: int = N_MINHASH, k: int = SHINGLE_K
) -> list[Column]:
    """H min-hash values from ONE md5 per shingle: hash s is the
    lexicographic min over shingles of hex window
    ``digest[8s : 8s+8]`` — four disjoint 32-bit slices of a single
    md5 are independent uniform hashes, so the digest work is 1/H of
    the per-seed formulation (the dominant cost of minhash at scale)."""
    sh = shingles_expr(col, k)
    digests = F.transform(sh, lambda x: F.md5(x))

    def sig(s: int) -> Column:
        return F.array_min(F.transform(digests, lambda d: F.substring(d, 8 * s + 1, 8)))

    return [sig(s).alias(f"minhash_{s}") for s in range(n_hashes)]


def minhash_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n_hashes: int = N_MINHASH,
    k: int = SHINGLE_K,
    engine: str = "md5_windows",
    seed: int = 7,
) -> DataFrame:
    """(id, minhash_0..minhash_{H-1}) signature frame.

    Plan: explode shingle positions (pure codegen — no higher-order
    lambdas, which evaluate interpreted and dominate runtime), hash
    each shingle once, then ONE hash aggregate taking all H mins.
    The groupBy(id) agg does map-side partial mins, so at 100 TB the
    shuffle carries only H minima per (mapper, doc).

    Engines:

    - ``md5_windows`` (default, ORACLE-PARITY): hash s is the min hex
      window ``digest[8s : 8s+8]`` of the shingle's md5 — four
      disjoint 32-bit slices of one digest are independent uniform
      hashes. ``n_hashes`` beyond 4 draws extra salted digests
      (group g hashes ``md5(shingle || g)``; group 0 stays unsalted,
      so H <= 4 output is bit-identical to the original single-digest
      form and its DuckDB oracles), at ceil(H/4) md5s per shingle.
    - ``universal`` (PRODUCTION): one ``xxhash64`` per shingle folded
      to 32 bits, then H affine permutations ``(a_g*h + b_g) mod
      (2^61-1)`` — codegen'd integer arithmetic, so H scales nearly
      free (H=16 measured 4.6s vs 25s+ for 4 salted md5s at sf1; the
      32-bit fold keeps ``a*h`` inside ANSI-safe LONG range, and a
      fold collision only merges two shingles' identities — the
      standard minhash implementation trade, bias O(shingles/2^32)).
      Constants derive from ``seed`` (deterministic across runs and
      layouts).

    Production near-dup banding needs H well above 4: with r rows per
    band, a random pair at baseline similarity j collides per band
    with P = j^r, so H=4/r=2 emits ~(H/r)·j²·N²/2 false candidates on
    ANY corpus with nonzero baseline similarity (measured: 1.9e8
    pairs on 5e5 synthetic docs at j~0.03); H=16/r=8 drives the same
    corpus to ~0 false pairs while keeping ~67% per-pass recall at
    j=0.9 (the standard S-curve tradeoff)."""
    t = F.lower(F.col(text_col))
    pos = df.select(
        F.col(id_col),
        t.alias("__t"),
        F.explode(
            F.sequence(F.lit(1), F.greatest(F.length(t) - (k - 1), F.lit(1)))
        ).alias("__i"),
    )
    sh = F.expr(f"substr(__t, __i, {k})")
    if engine == "universal":
        import random

        rng = random.Random(seed)
        ab = [(rng.randrange(1, 1 << 31) | 1, rng.randrange(0, 1 << 31)) for _ in range(n_hashes)]
        p = (1 << 61) - 1
        base = pos.select(
            F.col(id_col), F.xxhash64(sh).bitwiseAND(F.lit((1 << 32) - 1)).alias("__h")
        )
        return base.groupBy(id_col).agg(
            *[
                F.min(F.pmod(F.col("__h") * F.lit(a) + F.lit(b), F.lit(p))).alias(f"minhash_{g}")
                for g, (a, b) in enumerate(ab)
            ]
        )
    if engine != "md5_windows":
        raise ValueError(f"unknown minhash engine {engine!r}: md5_windows | universal")
    n_groups = (n_hashes + 3) // 4
    dg = pos.select(
        F.col(id_col),
        *[
            F.md5(sh if g == 0 else F.concat(sh, F.lit(str(g)))).alias(f"__d{g}")
            for g in range(n_groups)
        ],
    )
    return dg.groupBy(id_col).agg(
        *[
            F.min(F.substring(f"__d{s // 4}", 8 * (s % 4) + 1, 8)).alias(f"minhash_{s}")
            for s in range(n_hashes)
        ]
    )


# Hot-bucket guards default ON: a production caller that forgets to
# think about degenerate boilerplate gets bounded fan-out for free
# (one band bucket / posting list of k members would emit k*(k-1)/2
# pairs). Oracle-parity queries opt OUT with an explicit None.
DEFAULT_MAX_BUCKET_SIZE = 2000
DEFAULT_MAX_POSTING_SIZE = 2000


def minhash_band_long(
    df: DataFrame,
    text_col: str,
    id_col: str,
    rows_per_band: int = 2,
    n_hashes: int = N_MINHASH,
    engine: str = "md5_windows",
) -> DataFrame:
    """The long-format LSH band frame ``(id, band, h)``: one row per
    (doc, band), ``h`` = md5 of the band's ANDed minhash rows. This IS
    the dedup index — `minhash_candidate_pairs` self-joins it, the
    incremental path (`build_minhash_index` /
    `minhash_incremental_pairs`) persists it and joins new batches
    against it. Persisted (doc-count-sized: n_bands rows per doc of
    (id, 8-byte band tag, 32-hex hash)) because every consumer reads
    it at least twice."""
    sig = minhash_signatures(df, text_col, id_col, n_hashes=n_hashes, engine=engine)
    n_bands = n_hashes // rows_per_band
    # the .cast("string") is a no-op for the md5_windows engine (hex
    # strings already) and stringifies the universal engine's longs —
    # band VALUES for the oracle configuration are untouched
    band_cols = [
        F.md5(
            F.concat_ws(
                "|",
                *[
                    F.col(f"minhash_{b * rows_per_band + r}").cast("string")
                    for r in range(rows_per_band)
                ],
            )
        ).alias(f"band_{b}")
        for b in range(n_bands)
    ]
    banded = track(sig.select(F.col(id_col), *band_cols))
    return banded.selectExpr(
        id_col,
        "stack({n}, {args}) as (band, h)".format(
            n=n_bands,
            args=", ".join(f"'{b}', band_{b}" for b in range(n_bands)),
        ),
    )


def minhash_candidate_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    rows_per_band: int = 2,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
    n_hashes: int = N_MINHASH,
    engine: str = "md5_windows",
) -> DataFrame:
    """Near-dup candidate pairs: docs sharing a minhash BAND (bands of
    ``rows_per_band`` hashes ANDed together, bands ORed — standard LSH
    banding). With H=4, r=2 -> 2 bands: collision requires two
    consecutive min-hashes to agree, which tames the candidate blowup
    that r=1 suffers on low-entropy corpora (collision probability
    j^r per band vs j). Pairs meet only inside band buckets — never a
    cross join. Output (id_a < id_b, n_shared_bands).

    The H=4/r=2 default is the ORACLE-PARITY configuration (DuckDB
    mirrors the 4 hex windows of one md5). Candidate volume on a real
    corpus is ~(H/r)·j^r·N²/2 at baseline pair similarity j, which is
    quadratic-on-content for small r regardless of bucket caps —
    production near-dup dedup should run ``n_hashes=16,
    rows_per_band=8`` (or wider), where j^8 zeroes the random-pair
    term: at the sf10 probe (5e5 docs, j~0.03) H=4/r=2 emits 1.9e8
    candidate pairs, H=16/r=8 emits only genuine near-dups.

    The banded frame is persisted (MEMORY_AND_DISK) before the
    self-join: without it both join sides re-run the whole
    shingle->md5->agg signature pipeline — the dominant cost — doubling
    it. Persisted state is 1 row x (id + n_bands hashes) per doc, tiny
    relative to the corpus at any scale.

    ``max_bucket_size`` is the 100 TB guard: a degenerate band value
    (empty or boilerplate docs) collects k members and would emit
    k*(k-1)/2 pairs — one hot bucket can dwarf the rest of the job.
    Buckets above the cap are dropped from pairing (their members are
    near-certain exact duplicates; route them through the cheap
    digest-based exact dedup instead). The guard is ON by default
    (``DEFAULT_MAX_BUCKET_SIZE``); pass None for exhaustive pairing
    (oracle parity at test scale)."""
    long = minhash_band_long(
        df, text_col, id_col,
        rows_per_band=rows_per_band, n_hashes=n_hashes, engine=engine,
    )
    # NOTE: unlike the corpus-sized posting joins in text.py /
    # ngram_jaccard_pairs (rewritten to grouped-list + double-explode),
    # this self-join stays: the banded frame is doc-count-sized AND
    # persisted, so both join sides read cache and AQE broadcasts the
    # small side — measured FASTER than forcing a collect_list shuffle
    # agg (split_leakage_audit sf1: 7.3s join vs 9.2s grouped).
    if max_bucket_size is not None:
        sizes = long.groupBy("band", "h").agg(F.count(F.lit(1)).alias("__bn"))
        long = (
            long.join(sizes, on=["band", "h"])
            .filter(F.col("__bn") <= max_bucket_size)
            .drop("__bn")
        )
    a = long.select(F.col(id_col).alias("id_a"), "band", "h")
    b = long.select(F.col(id_col).alias("id_b"), "band", "h")
    return (
        a.join(b, on=["band", "h"])
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared_bands"))
    )


def minhash_star_edges(
    df: DataFrame,
    text_col: str,
    id_col: str,
    rows_per_band: int = 2,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
    n_hashes: int = N_MINHASH,
    engine: str = "md5_windows",
) -> DataFrame:
    """Connectivity-equivalent STAR edges of the banded minhash graph:
    per (band, h) bucket, one edge (bucket_min, member) per non-min
    member — O(k) edges per k-member bucket instead of the O(k²) pairs
    :func:`minhash_candidate_pairs` emits. Within a bucket the star and
    the clique have identical connected components, and the union over
    buckets preserves that, so any CC consumer (dedup clustering,
    curation near-dup collapse) gets byte-identical components/labels —
    this is the standard star-contraction edge generator.

    Use this WHENEVER the pair list is not itself an output: at 100 TB
    the edge frame feeding CC is then bounded by (docs × bands), not by
    sum over buckets of k², which is what one hot template family can
    otherwise turn quadratic. Keep ``minhash_candidate_pairs`` where
    pair semantics matter (``n_shared_bands``, pair audits).

    Plan: one window over the persisted banded frame (min + count per
    bucket in a single pass — no self-join, no pair aggregate).
    Duplicate (min, member) edges from multi-band collisions are NOT
    deduped here; ``connected_components`` symmetrizes with a distinct
    anyway. ``max_bucket_size`` is the same hot-bucket guard as the
    pair form (count window over the same partition, no extra pass).

    Output: (id_a, id_b) with id_a < id_b (id_a = bucket min).
    """
    long = minhash_band_long(
        df, text_col, id_col,
        rows_per_band=rows_per_band, n_hashes=n_hashes, engine=engine,
    )
    w = Window.partitionBy("band", "h")
    e = long.select(
        F.col(id_col).alias("id_b"),
        F.min(id_col).over(w).alias("id_a"),
        F.count(F.lit(1)).over(w).alias("__bn"),
    )
    if max_bucket_size is not None:
        e = e.filter(F.col("__bn") <= max_bucket_size)
    return e.filter(F.col("id_a") != F.col("id_b")).select("id_a", "id_b")


def build_minhash_index(
    df: DataFrame,
    text_col: str,
    id_col: str,
    path: str,
    rows_per_band: int = 2,
    n_hashes: int = N_MINHASH,
    engine: str = "md5_windows",
    mode: str = "overwrite",
) -> None:
    """Materialize the LSH band frame as a parquet dedup INDEX,
    partitioned by band. This is the production shape for continuous
    ingest: signatures are computed ONCE per document ever; each new
    batch joins against the stored bands instead of re-shingling the
    full corpus (at 100 TB, re-signaturing history per batch is the
    cost that kills naive daily dedup). Partitioning by band means a
    band-bucketed join reads only matching band partitions, and
    ``mode="append"`` is the per-batch index update — append-after-
    dedup equals a full rebuild (property-tested)."""
    minhash_band_long(
        df, text_col, id_col,
        rows_per_band=rows_per_band, n_hashes=n_hashes, engine=engine,
    ).write.mode(mode).partitionBy("band").parquet(path)


def minhash_incremental_pairs(
    indexed: DataFrame,
    new_df: DataFrame,
    text_col: str,
    id_col: str,
    rows_per_band: int = 2,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
    n_hashes: int = N_MINHASH,
    engine: str = "md5_windows",
) -> DataFrame:
    """Near-dup candidate pairs for a NEW batch against an existing
    corpus: new-vs-indexed and new-vs-new collisions, NEVER
    indexed-vs-indexed — the work is proportional to the batch's
    band-bucket neighborhoods, not the corpus². ``indexed`` is the
    stored ``(id, band, h)`` frame (``build_minhash_index`` output via
    ``spark.read.parquet``, or ``minhash_band_long`` directly); ids
    must be disjoint from the new batch's.

    Output is IDENTICAL in schema and semantics to
    ``minhash_candidate_pairs`` (id_a < id_b, n_shared_bands), and by
    construction equals the full-rebuild pair set restricted to pairs
    involving at least one new doc — the property the equivalence test
    pins. The hot-bucket guard counts OLD + NEW members per bucket
    (exactly the bucket the rebuild would see), so capped results also
    match the capped rebuild.

    Plan: the new batch is signatured once (persisted — it feeds the
    prune key set, the bucket sizes, and both join sides); the index is
    first pruned to the batch's (band, h) buckets with a left-semi join
    — only a bucket containing a new doc can ever emit a pair (the
    probe side is new-only), and pruning keeps EVERY member of a
    touched bucket, so the hot-bucket sizes below are identical to the
    unpruned aggregate and capped output still equals the capped
    rebuild. With the index parquet partitioned by band this is the
    same IO ∝ batch's-bucket-neighborhoods discipline as
    ``cosine_incremental_pairs``; without the prune, the sizes
    aggregate alone would rescan the whole stored index per batch."""
    from .caching import track

    new_long = track(minhash_band_long(
        new_df, text_col, id_col,
        rows_per_band=rows_per_band, n_hashes=n_hashes, engine=engine,
    ))
    new_keys = new_long.select("band", "h").distinct()
    all_long = (
        indexed.select(id_col, "band", "h")
        .join(F.broadcast(new_keys), on=["band", "h"], how="left_semi")
        .withColumn("__new", F.lit(False))
    ).unionByName(new_long.withColumn("__new", F.lit(True)))
    if max_bucket_size is not None:
        sizes = all_long.groupBy("band", "h").agg(F.count(F.lit(1)).alias("__bn"))
        all_long = (
            all_long.join(sizes, on=["band", "h"])
            .filter(F.col("__bn") <= max_bucket_size)
            .drop("__bn")
        )
    a = all_long.select(F.col(id_col).alias("__ia"), "band", "h", F.col("__new").alias("__na"))
    b = all_long.filter("__new").select(F.col(id_col).alias("__ib"), "band", "h")
    # each qualifying pair meets exactly once: an indexed doc exists
    # only on the a side (any order vs the new doc), a new-new pair is
    # kept in the __ia < __ib direction only
    keep = F.when(F.col("__na"), F.col("__ia") < F.col("__ib")).otherwise(
        F.col("__ia") != F.col("__ib")
    )
    return (
        a.join(b, on=["band", "h"])
        .filter(keep)
        .select(
            F.least("__ia", "__ib").alias("id_a"),
            F.greatest("__ia", "__ib").alias("id_b"),
        )
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared_bands"))
    )


def simhash_expr(col: Column | str, bits: int = 16) -> Column:
    """SimHash fingerprint: each token hashes to ``bits`` bits (md5
    prefix); bit j of the fingerprint is the sign of sum over tokens of
    (bit_j * 2 - 1). 16 bits (oracle default) keeps the hex->int parse
    portable to DuckDB; production dedup should use ``bits=60`` (the
    widest fitting a signed long through the hex parse).

    Plan shape: ONE traversal of the token array accumulating the full
    per-bit vote vector (``aggregate`` + ``zip_with``), then a
    fixed-size reconstruction from the vote array. The per-bit-aggregate
    formulation (``bits`` separate traversals) computed the same result
    10x slower at 60 bits on a 50k-doc probe; the 60 ``get(votes, j)``
    references share one aggregate via codegen subexpression
    elimination (measured, not assumed)."""
    toks = tokens_expr(F.lower(col) if isinstance(col, str) else F.lower(col))
    hexdigits = bits // 4
    h = F.transform(
        toks, lambda t: F.conv(F.substring(F.md5(t), 1, hexdigits), 16, 10).cast("long")
    )
    votes = F.aggregate(
        h,
        F.array_repeat(F.lit(0).cast("long"), bits),
        lambda acc, x: F.zip_with(
            acc,
            F.transform(
                F.sequence(F.lit(0), F.lit(bits - 1)),
                lambda j: F.getbit(x, j).cast("long") * 2 - 1,
            ),
            lambda a, b: a + b,
        ),
    )
    out = F.lit(0).cast("long")
    for j in range(bits):
        out = out + F.when(F.get(votes, j) > 0, F.lit(1 << j).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return out


def simhash_hamming_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    block_col: str,
    bits: int = 16,
    max_hamming: int = 2,
) -> DataFrame:
    """SimHash near-dup pairs: hamming distance <= ``max_hamming``
    within a block — EXACT result via pigeonhole segment blocking.

    Splitting the ``bits``-bit fingerprint into ``max_hamming + 1``
    disjoint segments guarantees any pair within the distance bound
    agrees exactly on at least one segment (<= max_hamming differing
    bits cannot touch all max_hamming+1 segments), so candidates only
    ever meet inside a (block, segment_idx, segment_value) bucket —
    the multi-index recipe of Manku et al., "Detecting Near-Duplicates
    for Web Crawling" (WWW 2007). A naive block self-join generates
    O(n²/blocks) candidate comparisons; segment buckets hold
    ~n/2^(bits/(k+1)) docs each, so candidate generation is
    bucket-bounded like every other LSH-family join here. The output
    is IDENTICAL to the naive join — blocking is lossless, so the same
    oracle applies.

    Honest scale notes: (1) the win is in CANDIDATE GENERATION, which
    dominates past ~10^5 docs per block; below that, fingerprint
    computation dominates and the naive XOR join's constants can win
    (measured at a 50k-doc probe). (2) Blocking only prunes while
    segment values are sparse: 16 bits (the oracle-portable default)
    saturates around 10^4-10^5 docs — production dedup should use
    ``bits=60`` (the widest fitting a signed long through the portable
    hex parse), where 20-bit segments keep buckets near-singleton into
    the 10^8-doc range. The fingerprint frame is persisted (tracked)
    because both join sides consume it — without that the ``bits``
    per-bit vote aggregates run twice.

    Output: (id_a < id_b, hamming int <= max_hamming), one row per
    pair (a pair sharing several segments is deduplicated by the
    group-by before scoring).
    """
    k = max_hamming + 1
    bounds = [(i * bits) // k for i in range(k)] + [bits]
    sh = track(
        df.select(
            F.col(id_col).alias("id"),
            F.col(block_col).alias("blk"),
            simhash_expr(F.col(text_col), bits).alias("simhash"),
        )
    )
    seg_rows = sh.select(
        "id",
        "blk",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("seg"),
                        F.shiftright("simhash", bounds[i])
                        .bitwiseAND(F.lit((1 << (bounds[i + 1] - bounds[i])) - 1))
                        .alias("val"),
                    )
                    for i in range(k)
                ]
            )
        ).alias("s"),
    ).select("id", "blk", "simhash", F.col("s.seg").alias("seg"), F.col("s.val").alias("val"))
    a = seg_rows.select(
        F.col("id").alias("id_a"), "blk", "seg", "val", F.col("simhash").alias("ha")
    )
    b = seg_rows.select(
        F.col("id").alias("id_b"), "blk", "seg", "val", F.col("simhash").alias("hb")
    )
    return (
        a.join(b, on=["blk", "seg", "val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")  # pairs sharing >1 segment appear once
        .agg(F.first("ha").alias("ha"), F.first("hb").alias("hb"))
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))).cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


def edit_distance_head_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    block_col: str,
    head_len: int = 60,
    max_rel_dist: float = 0.25,
    band_tokens: int = 40,
    simhash_prefix_bits: int | None = None,
    probe_adjacent_bands: bool = False,
) -> DataFrame:
    """Edit-distance (Levenshtein) near-dup pairs on ``head_len``-char
    document heads, blocked on (block, token-count band). Levenshtein
    runs the 3-arg banded DP with threshold = max_rel_dist*head_len
    (early exit past the diagonal band) and pairs keep
    dist <= max_rel_dist * max(len) — identical to the unbounded form.

    The token-count band is itself an approximation: band BOUNDARIES
    split true near-dup pairs. Two heads that differ by one token can
    straddle a floor(count/band_tokens) edge (counts 39 vs 41 at
    band_tokens=40 land in bands 0 and 1) and never meet.
    ``probe_adjacent_bands=True`` recovers those: the a-side is
    replicated to bands {band-1, band, band+1}, so a pair is a
    candidate iff its bands differ by at most 1 — each such pair still
    joins on EXACTLY one key (the b-side band is a single value), so
    no dedup pass is needed and output rows stay unique. Cost: 3x
    a-side replication; pairs 2+ bands apart (token counts differing
    by > 2*band_tokens) remain out of reach by design.

    ``simhash_prefix_bits`` is the documented "tighten blocks at scale"
    knob made concrete: it adds the top b bits of a 16-bit simhash of
    the head as a third block key. Near-identical heads almost always
    agree on the simhash prefix, so candidate fan-out divides by ~2^b
    while recall stays high — but it IS an approximation (a pair whose
    few edits flip a high vote bit is missed). None (default) = exact,
    for oracle parity; production dedup passes 4-8 bits (measured 19.9x
    at a 50k-doc probe with b=6, identical pairs on that corpus).

    Output: (id_a < id_b, edit_dist long), ordered for determinism.
    """
    from .text import token_count_expr

    threshold = int(max_rel_dist * head_len)
    head = F.substring(F.trim(F.lower(F.col(text_col))), 1, head_len)
    keys = [
        F.col(block_col).alias("blk"),
        F.floor(token_count_expr(text_col) / band_tokens).cast("long").alias("band"),
    ]
    if simhash_prefix_bits is not None:
        keys.append(
            F.shiftright(simhash_expr(head, 16), 16 - int(simhash_prefix_bits)).alias("pfx")
        )
    d = df.select(F.col(id_col).alias("id"), head.alias("head"), *keys)
    join_cols = ["blk", "band"] + (["pfx"] if simhash_prefix_bits is not None else [])
    a_band = (
        F.explode(F.array(F.col("band") - 1, F.col("band"), F.col("band") + 1))
        if probe_adjacent_bands
        else F.col("band")
    )
    a = d.select(
        F.col("id").alias("id_a"),
        F.col("head").alias("ha"),
        *[c for c in join_cols if c != "band"],
        a_band.alias("band"),
    )
    b = d.select(F.col("id").alias("id_b"), F.col("head").alias("hb"), *join_cols)
    dist = F.levenshtein("ha", "hb", threshold)
    return (
        a.join(b, on=join_cols)
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(
            (dist >= 0)
            & (dist <= (max_rel_dist * F.greatest(F.length("ha"), F.length("hb"))).cast("long"))
        )
        .select("id_a", "id_b", dist.cast("long").alias("edit_dist"))
        .orderBy("id_a", "id_b")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    block_col: str,
    n: int = 3,
    min_jaccard: float = 0.2,
    max_posting_size: int | None = DEFAULT_MAX_POSTING_SIZE,
    hash_grams: bool = True,
) -> DataFrame:
    """Token-n-gram Jaccard similarity for pairs within a blocking key.

    posting list (id, gram) -> self-join on (block, gram) -> pair
    intersection counts -> |A∩B| / (|A| + |B| - |A∩B|).
    Output: (id_a < id_b, jaccard rounded 4).

    ``hash_grams`` (default) keys postings by the rolling 64-bit gram
    hash (``text.rolling_gram_hash_sql``): gram identity is all the
    intersection counts need, the gram build is ~5x cheaper than the
    ``concat_ws(slice)`` string form, and the posting shuffle carries
    8-byte keys instead of ~40-byte gram strings. Counts are exact up
    to the documented 2**-64-per-pair collision class; pass
    ``hash_grams=False`` for string-exact grouping (oracle parity is
    unaffected either way — the output exposes only ids and counts).

    ``max_posting_size`` is the 100 TB guard (stop-gram removal): a
    gram appearing in k docs of one block fans the self-join out to
    k^2 rows, and the most common grams ("of the", boilerplate) are
    exactly the least discriminative. Dropping postings longer than
    the cap bounds join fan-out per gram at cap^2 while barely moving
    Jaccard on real pairs — but it IS an approximation, so it defaults
    ON (``DEFAULT_MAX_POSTING_SIZE``) for production safety and oracle
    queries pass None for exact semantics at test scale.
    NOTE: with a cap, |A| / |B| still count all grams while the
    intersection misses capped grams, so jaccard is a lower bound.
    """
    counts = _gram_pair_counts(
        df, text_col, id_col, block_col, n, max_posting_size, hash_grams
    )
    return (
        counts.select(
            "id_a",
            "id_b",
            F.round(
                F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common")), 4
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= min_jaccard)
    )


def _gram_pair_counts(
    df: DataFrame,
    text_col: str,
    id_col: str,
    block_col: str,
    n: int,
    max_posting_size: int | None,
    hash_grams: bool,
) -> DataFrame:
    """Shared posting-list core of the n-gram pair family:
    ``(id_a < id_b, n_common, na, nb)`` for every in-block pair with
    at least one shared distinct gram. Pair intersection counts come
    from ONE grouped posting list + double explode (codegen Generate)
    instead of a (blk, gram)-keyed self-join: the join shuffled the
    posting frame twice and needed a separate posting-length agg+join
    for the cap; here the cap is a free size(list) filter and the k²
    occurrence pairs are generated in-task and partially aggregated
    before the (id_a, id_b) exchange. A hot gram's k² work lands in
    one task either way (the join keyed on the same gram); the cap
    bounds it at cap²."""
    if hash_grams:
        grams = F.expr(rolling_gram_hash_sql(ws_tok_sql(text_col), n, pad_short=True))
    else:
        grams = word_ngrams_expr(tokens_expr(F.lower(text_col)), n, pad_short=True)
    # posting feeds three branches (both join sides + sizes): persist so
    # the tokenization/gram explode runs once, not three times (tracked —
    # the runner releases it after the query's terminal action)
    posting = track(
        df.select(
            F.col(id_col).alias("id"), F.col(block_col).alias("blk"), F.explode(grams).alias("gram")
        )
    )
    sizes = posting.groupBy("id").agg(F.count(F.lit(1)).alias("n_grams"))
    posts = posting.groupBy("blk", "gram").agg(F.collect_list("id").alias("ids"))
    posts = posts.filter(F.size("ids") >= 2)
    if max_posting_size is not None:
        posts = posts.filter(F.size("ids") <= max_posting_size)
    inter = (
        posts.select(F.explode("ids").alias("id_a"), "ids")
        .select("id_a", F.explode("ids").alias("id_b"))
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_grams").alias("na"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n_grams").alias("nb"))
    return inter.join(sa, "id_a").join(sb, "id_b")


def ngram_containment_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    block_col: str,
    n: int = 3,
    min_containment: float = 0.6,
    max_posting_size: int | None = DEFAULT_MAX_POSTING_SIZE,
    hash_grams: bool = True,
) -> DataFrame:
    """Token-n-gram CONTAINMENT pairs: |A∩B| / min(|A|, |B|) — the
    asymmetric near-dup signal Jaccard misses. An excerpt, quotation,
    or boilerplate-wrapped copy of a document has LOW Jaccard against
    its source (the union is dominated by the longer side) but
    containment ≈ 1 for the shorter side — exactly the
    quote/subset-dup class a training-corpus dedup pass wants to
    catch (Broder's containment coefficient, the companion measure to
    resemblance in "On the resemblance and containment of documents",
    1997).

    Output: (id_a < id_b, containment_a = common/|A|, containment_b =
    common/|B|, both rounded 4) for pairs whose MAX containment >=
    ``min_containment``. Same posting-list plan, cap, and collision
    class as ``ngram_jaccard_pairs`` (shared core)."""
    counts = _gram_pair_counts(
        df, text_col, id_col, block_col, n, max_posting_size, hash_grams
    )
    ca = F.round(F.col("n_common") / F.col("na"), 4)
    cb = F.round(F.col("n_common") / F.col("nb"), 4)
    return (
        counts.select(
            "id_a",
            "id_b",
            ca.alias("containment_a"),
            cb.alias("containment_b"),
        )
        .filter(
            F.greatest(F.col("containment_a"), F.col("containment_b"))
            >= min_containment
        )
    )


def duplicated_ngram_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 5,
    max_posting_size: int | None = None,
    hash_grams: bool = True,
) -> DataFrame:
    """Per-document coverage by cross-document repeated n-gram spans —
    the n-gram-granularity approximation of exact substring dedup
    (Lee et al. "Deduplicating Training Data Makes Language Models
    Better" removes repeated 50-token spans; at n-gram granularity the
    same signal is a posting-list aggregate instead of a distributed
    suffix array).

    A doc's distinct word n-grams are checked against the corpus: a
    gram appearing in >= 2 distinct docs is "duplicated"; the output
    reports how much of each doc is built from such shared spans —
    the curation signal for boilerplate/template removal.

    Scale shape — ZERO joins of the gram stream. Because grams are
    per-doc DISTINCT, ``n_dup_grams = n_grams - #grams unique to the
    doc``, and a corpus-unique gram identifies its single owner, so:

    - ``n_grams`` is just ``size(gram_array)`` — computed row-wise in
      the scan, no explode, no shuffle;
    - one gram-keyed aggregate ``(count, min(doc_id))`` finds the
      unique grams AND their owners in the same pass; ``count == 1``
      rows fold into a doc-sized per-owner count.

    The gram stream shuffles ONCE (vs the naive count-then-join-back
    plan's two full-stream shuffles plus a stream×vocabulary join),
    and hot boilerplate grams cost O(#map partitions) partial-agg rows
    — no join fan-out — so ``max_posting_size`` is unnecessary and
    retained only for API compatibility (ignored: results are exact at
    any posting size). With ``hash_grams`` (default) the shuffle key
    is a rolling 64-bit hash of the n-token window (8 bytes vs
    ~40-byte gram strings — ~5× less shuffle IO, and ~5× cheaper to
    BUILD than per-position slice hashing; see the inline comment); a
    collision would merge two grams' counts (P < m²/2⁶⁵: ~1e-7 at 10M
    distinct grams, a handful of marginally miscounted grams at
    10¹²), pass ``hash_grams=False`` for string-exact grouping.

    Docs with fewer than ``n`` tokens have no spans to share: they get
    an explicit (n_grams 0, n_dup_grams 0, dup_fraction NULL) row
    rather than a truncated pseudo-gram — two token-less docs must NOT
    count as 100% mutually duplicated via the empty gram.

    Output: (``id_col``, n_grams long, n_dup_grams long,
    dup_fraction double rounded 6) — one row for EVERY input doc.
    """
    del max_posting_size  # exact at any posting size; see docstring
    toks = punct_tokens_expr(F.col(text_col))
    if hash_grams:
        # rolling-hash gram keys (see text.rolling_gram_hash_sql: each
        # token hashes once, ~5x cheaper than per-position slice
        # hashing, 8-byte shuffle keys, P=2**-64 collision class)
        grams = F.expr(
            rolling_gram_hash_sql(punct_tok_sql(text_col), n, distinct=True, pad_short=False)
        )
    else:
        grams = word_ngrams_expr(toks, n, pad_short=False)
    # branch 1: per-doc gram counts, row-wise in the scan (no shuffle
    # until the final doc-keyed join)
    base = df.select(
        F.col(id_col).alias("id"), F.size(grams).cast("long").alias("n_grams")
    )
    # branch 2: corpus-unique grams -> their single owner -> per-owner
    # count. One full-stream shuffle, map-side combined.
    uniq_per_doc = (
        df.select(F.col(id_col).alias("id"), F.explode(grams).alias("gk"))
        .groupBy("gk")
        .agg(F.count(F.lit(1)).alias("c"), F.min("id").alias("owner"))
        .filter(F.col("c") == 1)
        .groupBy("owner")
        .agg(F.count(F.lit(1)).cast("long").alias("n_uniq"))
    )
    n_dup = F.col("n_grams") - F.coalesce(F.col("n_uniq"), F.lit(0).cast("long"))
    return base.join(uniq_per_doc, base.id == uniq_per_doc.owner, "left").select(
        F.col("id").alias("doc_id"),
        F.col("n_grams"),
        n_dup.alias("n_dup_grams"),
        # ANSI-safe: short docs (n_grams 0) get NULL, not a /0 error
        F.when(
            F.col("n_grams") > 0,
            F.round(n_dup / F.col("n_grams").cast("double"), 6),
        ).alias("dup_fraction"),
    )


def gram_positions(df: DataFrame, id_col: str, grams: Column, name: str = "doc_id") -> DataFrame:
    """The gram-position stream of the span family: ``(name, pos, gk)``,
    one row per entry of the per-row gram array ``grams``, with ``pos``
    its 1-based position (= the gram's first token) and ``name`` the
    row's ``id_col``."""
    return df.select(F.col(id_col).alias(name), F.posexplode(grams).alias("p0", "gk")).select(
        name, (F.col("p0") + 1).cast("long").alias("pos"), "gk"
    )


def marked_spans(positions: DataFrame, marked: DataFrame, n: int, min_span: int) -> DataFrame:
    """The islands step of the span family: the positions of a
    :func:`gram_positions` stream (``doc_id``) whose ``gk`` is in
    ``marked`` (a ``gk`` frame; the caller picks its join hint), as
    maximal runs. A run of consecutive marked positions s..e covers
    tokens s..e+n-1: (doc_id, span_start = s, span_len = run + n - 1),
    kept when span_len >= ``min_span``.

    Gaps-and-islands: ``pos - row_number()`` is constant along a run,
    so the only exchange is the doc-partitioned window over MARKED
    positions (the membership probe never shuffles the stream when
    ``marked`` is broadcast)."""
    w = Window.partitionBy("doc_id").orderBy("pos")
    return (
        positions.join(marked, "gk", "left_semi")
        .select("doc_id", "pos", (F.col("pos") - F.row_number().over(w)).alias("grp"))
        .groupBy("doc_id", "grp")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            (F.count(F.lit(1)) + (n - 1)).cast("long").alias("span_len"),
        )
        .filter(F.col("span_len") >= min_span)
        .select("doc_id", "span_start", "span_len")
    )


def duplicated_span_extents(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 10,
    min_span: int = 50,
    hash_grams: bool = True,
    ordered: bool = True,
) -> DataFrame:
    """MAXIMAL duplicated token spans per document — the exact-substring
    dedup of Lee et al. 2022 ("Deduplicating Training Data Makes
    Language Models Better", which removes repeated >=50-token spans
    via a suffix array) re-expressed distributively at n-gram
    granularity: chain CONSECUTIVE duplicated n-gram positions into
    islands and report each island's token extent. Where
    ``duplicated_ngram_spans`` answers "how much of this doc is
    duplicated", this answers "WHICH token ranges do I cut".

    A position's n-gram is duplicated when it occurs >= 2 times in the
    corpus (cross-document OR within-document — same-doc boilerplate
    repeats count, as in Lee et al.). A maximal run of duplicated
    positions s..e covers tokens s..e+n-1, reported as (doc_id,
    span_start, span_len = e-s+n) for span_len >= ``min_span``.
    Positions are 1-based over the ``punct_tokens_expr`` tokenization.
    This is the standard practical relaxation of suffix-granularity
    maximal substrings: a chain of individually-duplicated grams need
    not be duplicated as one contiguous block elsewhere, but every
    true duplicated span of length >= max(n, min_span) IS recovered
    in full (each of its gram windows is duplicated), so recall of
    Lee-style cut targets is exact at n-gram resolution.

    Scale shape — the gram stream is NEVER joined back to itself.
    Duplicated positions are the COMPLEMENT of corpus-unique
    positions, and a unique gram pinpoints its single (doc, pos), so
    one map-side-combined gram-keyed aggregate yields the unique
    anchors; islands are then the gaps between consecutive anchors
    (plus a per-doc end sentinel at G+1) — a lag() window partitioned
    by doc over the ANCHOR frame (unique positions only, <= stream
    size, typically most of it on de-duplicated corpora; each doc's
    window frame is doc-length-bounded). Hot boilerplate grams cost
    O(#map partitions) partial-agg rows, no fan-out. ``hash_grams``
    uses the 64-bit rolling gram key (8-byte shuffle keys, each token
    hashed once; P=2**-64 collision class — a collision could only
    HIDE a unique anchor, merging two islands); ``False`` groups on
    gram strings.

    Output: (doc_id, span_start long, span_len long), ordered by
    (doc_id, span_start) when ``ordered`` (the presentation default).
    Pass ``ordered=False`` when the span list feeds further operators
    (aggregation, broadcast build, interval union) — the global sort
    is then a pure extra range exchange that the optimizer can NOT
    always eliminate (it survives under persists and order-sensitive
    consumers like ``collect_list``); the row SET is identical.

    Reference parity: Lee et al.'s ExactSubstr with threshold 50;
    the reference repo has no substring-granularity dedup (its
    preprocessing is row-level distinct — ``preprocessing.py``), so
    this is engine-extension surface, same family as
    ``duplicated_ngram_spans``.
    """
    if min_span < n:
        raise ValueError(f"min_span ({min_span}) must be >= n ({n})")
    tok_sql = punct_tok_sql(text_col)
    if hash_grams:
        grams = F.expr(
            rolling_gram_hash_sql(tok_sql, n, distinct=False, pad_short=False)
        )
    else:
        # per-POSITION gram strings (word_ngrams_expr dedups — wrong
        # here: position identity is the signal)
        grams = _word_grams(F.expr(tok_sql), n)
    stream = gram_positions(df, id_col, grams, "id")
    # corpus-unique grams ARE their own (doc, pos) anchor: with c == 1
    # the min() of each field is the single occurrence's value
    anchors_uniq = (
        stream.groupBy("gk")
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.min("id").alias("id"),
            F.min("pos").alias("pos"),
        )
        .filter(F.col("c") == 1)
        .select("id", "pos")
    )
    # end sentinel at G+1 per doc with >= 1 gram: closes the trailing
    # island (and is the ONLY anchor for an all-duplicated doc)
    sentinel = df.select(
        F.col(id_col).alias("id"),
        (F.expr(f"greatest(size({tok_sql}) - {n - 1}, 0)") + 1).cast("long").alias("pos"),
    ).filter(F.col("pos") >= 2)
    w = Window.partitionBy("id").orderBy("pos")
    gaps = (
        anchors_uniq.unionByName(sentinel)
        .select("id", "pos", F.lag("pos", 1, 0).over(w).alias("prev"))
        .filter(F.col("pos") - 1 - F.col("prev") >= min_span - n + 1)
    )
    out = gaps.select(
        F.col("id").alias("doc_id"),
        (F.col("prev") + 1).cast("long").alias("span_start"),
        (F.col("pos") - 1 - F.col("prev") + (n - 1)).cast("long").alias("span_len"),
    )
    return out.orderBy("doc_id", "span_start") if ordered else out


def duplicated_span_extents_exact(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 10,
    min_span: int = 50,
    hash_grams: bool = True,
) -> DataFrame:
    """Lee-EXACT duplicated span cut list: :func:`duplicated_span_extents`
    plus a span-hash verification stage that keeps only spans whose FULL
    token sequence occurs >= 2 times in the corpus — closing the n-gram
    chaining relaxation the relaxed operator documents (a run of
    individually-duplicated grams need not be duplicated as ONE
    contiguous block elsewhere; see ``duplicated_span_extents``).

    Verification never rescans the corpus. Every true occurrence of a
    candidate's text T (|T| >= max(n, min_span)) lies INSIDE an emitted
    extent: each of T's gram windows matches the candidate's grams, so
    every position of that occurrence is duplicated, its island has
    length >= |T| >= min_span, and the island survives stage 1's
    filter. So counting occurrences of each candidate text over the
    EXTENT STREAM equals counting them over the corpus, and stage 2's
    input is the cut list itself, not the data:

    1. ``ext`` — extents re-joined to their token slices (corpus scan
       broadcast-joined against the small span list; persisted — three
       consumers);
    2. ``lens`` — the DISTINCT candidate span lengths (bounded by the
       cut-list size; broadcast);
    3. window hashes of every candidate length over every extent
       (``transform``/``slice`` inside the row — the fan-out is
       sum over extents of (extent_len x #lens), i.e. cut-list-sized
       work, pipelined into a map-side-combined (L, hash) count);
    4. keep candidates whose own full-extent hash counts >= 2 (the
       self-window contributes exactly 1).

    Precision becomes exact at span granularity: every kept span's full
    text provably occurs twice (up to an xxhash64 string collision,
    P ~ #windows^2 / 2^64). The residual asymmetry is RECALL at
    sub-span granularity: an island that chain-merges two OVERLAPPING
    true duplicated sub-spans (each individually >= min_span but the
    union never repeated whole) is dropped in full rather than split
    into its verified sub-ranges — the filter form Lee et al.'s
    ExactSubstr sidesteps by cutting at suffix granularity. The
    known-answer test pins both directions on a chained-grams fixture.

    Output: (doc_id, span_start long, span_len long), ordered — a
    subset of the relaxed operator's rows.
    """
    from .caching import track
    from .text import punct_tok_sql

    spans = duplicated_span_extents(
        df, text_col, id_col, n=n, min_span=min_span, hash_grams=hash_grams,
        ordered=False,  # feeds a broadcast build; sort would persist into it
    )
    docs = df.select(
        F.col(id_col).alias("__did"), F.expr(punct_tok_sql(text_col)).alias("__toks")
    )
    ext = track(
        docs.join(F.broadcast(spans), F.col("__did") == F.col("doc_id")).select(
            "doc_id",
            "span_start",
            "span_len",
            F.expr(
                "slice(__toks, cast(span_start as int), cast(span_len as int))"
            ).alias("etoks"),
        )
    )
    lens = ext.select(F.col("span_len").cast("int").alias("L")).distinct()
    # every window of every candidate length over every extent; the
    # non-equi broadcast join against the tiny length set is the
    # intended fan-out (extent rows x qualifying lengths)
    win = ext.join(F.broadcast(lens), F.expr("size(etoks) >= L")).select(
        "L",
        F.explode(
            F.expr(
                "transform(sequence(1, size(etoks) - L + 1), "
                "i -> xxhash64(concat_ws(' ', slice(etoks, i, L))))"
            )
        ).alias("wh"),
    )
    occ = win.groupBy("L", "wh").agg(F.count(F.lit(1)).alias("__c"))
    cand = ext.select(
        "doc_id",
        "span_start",
        "span_len",
        F.col("span_len").cast("int").alias("L"),
        F.xxhash64(F.expr("concat_ws(' ', etoks)")).alias("wh"),
    )
    return (
        cand.join(occ, ["L", "wh"])
        .filter(F.col("__c") >= 2)
        .select("doc_id", "span_start", "span_len")
        .orderBy("doc_id", "span_start")
    )


def duplicated_span_cover(
    df: DataFrame,
    text_col: str,
    id_col: str,
    min_span: int = 50,
    hash_grams: bool = True,
) -> DataFrame:
    """The EXACT Lee et al. cut set, directly: maximal token intervals
    covered by repeated >= ``min_span``-token substrings — recall AND
    precision exact at coverage granularity, no verification stage.

    The whole n-gram chaining relaxation exists because the detection
    window (n=10) is SHORTER than the cut threshold (50): chains of
    short duplicated windows need not repeat as one block. Setting the
    window length TO the threshold dissolves it — a ``min_span``-token
    window that occurs >= 2 times corpus-wide is ITSELF a verified
    repeated substring, and Lee's cut set (every position inside some
    repeated >= min_span substring) is exactly the union of
    ``[p, p+min_span-1]`` over duplicated positions p: any repeated
    substring of length L >= min_span contributes its L-min_span+1
    windows, whose union is its full extent. Consecutive duplicated
    positions chain into islands as usual; islands separated by small
    gaps can still OVERLAP (window extents reach past the gap), so the
    island extents are interval-merged into disjoint maximal cut
    ranges.

    vs :func:`duplicated_span_extents_exact` (the verification form):
    that one has precision 1 on FULL-extent repetition but drops a
    merged island whose union never repeats as one block, losing its
    true sub-spans; this one reports the union region of everything
    that verifiably repeats, which is what a cutter consumes. Cost:
    the rolling window hash at n=min_span is min_span-1 zip_withs —
    O(tokens x min_span) work in one map pass, ~5x the n=10 gram
    build, with the same single 8-byte gram-keyed shuffle and NO
    second stage.

    Output: (doc_id, span_start long, span_len long) — DISJOINT
    per-doc intervals, ordered (``merge_intervals``' strict-overlap
    rule: two exactly-ADJACENT ranges stay separate rows; the covered
    token set — what apply/rewrite consume — is identical either way).
    """
    from .windows import merge_intervals

    spans = duplicated_span_extents(
        df, text_col, id_col, n=min_span, min_span=min_span, hash_grams=hash_grams,
        ordered=False,  # merge_intervals re-sorts per doc; global sort is waste
    )
    iv = spans.select(
        F.col("doc_id"),
        F.col("span_start").alias("s"),
        (F.col("span_start") + F.col("span_len") - 1).alias("e"),
    )
    return (
        merge_intervals(iv, "doc_id", "s", "e")
        .select(
            "doc_id",
            F.col("s").cast("long").alias("span_start"),
            (F.col("e") - F.col("s") + 1).cast("long").alias("span_len"),
        )
        .orderBy("doc_id", "span_start")
    )


def span_cut_rewrite(
    df: DataFrame,
    spans: DataFrame,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """Apply a span cut list to a corpus: re-emit every document of
    ``df`` with the listed token ranges removed, at the canonical
    punct tokenization. ``spans`` is (``id_col``, span_start,
    span_len) — e.g. :func:`duplicated_span_extents` output (disjoint
    per doc) or any merged interval list.

    Plan: the cut list folds to ONE interval array per affected doc
    (collect_list — cut-list-sized) and broadcast-joins back to the
    corpus scan; the keep-filter and reconstruction are row-local
    higher-order functions (each position checked against the per-doc
    few-entry interval array). Beyond producing ``spans``, this adds
    exactly one corpus map pass and zero corpus-sized shuffles.

    Output: (``id_col``, n_tokens long, n_kept long, kept_text string)
    — one row per input doc; clean docs pass through token-joined,
    fully-cut docs become ''. NOTE ``sequence(1, 0)`` generates a
    DESCENDING [1, 0] on token-less docs, hence the explicit empty
    guard.
    """
    from .text import punct_tokens_expr

    ivs = spans.groupBy(id_col).agg(
        F.expr("collect_list(struct(span_start as s, span_start + span_len - 1 as e))").alias(
            "__iv"
        )
    )
    base = df.select(F.col(id_col), punct_tokens_expr(F.col(text_col)).alias("__w"))
    return (
        base.join(F.broadcast(ivs), id_col, "left")
        .select(
            id_col,
            F.size("__w").cast("long").alias("n_tokens"),
            F.expr(
                "case when size(__w) >= 1 then "
                "filter(sequence(1, size(__w)), i -> not exists("
                "coalesce(__iv, cast(array() as array<struct<s:bigint,e:bigint>>)), "
                "v -> i >= v.s and i <= v.e)) "
                "else cast(array() as array<int>) end"
            ).alias("__keep"),
            "__w",
        )
        .select(
            id_col,
            "n_tokens",
            F.size("__keep").cast("long").alias("n_kept"),
            F.expr("concat_ws(' ', transform(__keep, i -> element_at(__w, i)))").alias(
                "kept_text"
            ),
        )
    )


def kept_cut_text(cut: DataFrame, *cols: Column | str) -> DataFrame:
    """The cut-text projection over ``cut`` — documents (``doc_id``,
    ``text``) joined on doc_id to their :func:`span_cut_rewrite` row:
    untouched docs keep their ORIGINAL text byte-for-byte, cut docs
    carry the canonical-punct rewrite, and docs cut to nothing are
    dropped. Output: doc_id, text, ``cols``, tokens_cut long."""
    return cut.filter(F.col("n_kept") > 0).select(
        "doc_id",
        F.when(F.col("n_kept") == F.col("n_tokens"), F.col("text"))
        .otherwise(F.col("kept_text"))
        .alias("text"),
        *cols,
        (F.col("n_tokens") - F.col("n_kept")).cast("long").alias("tokens_cut"),
    )


def band_blocking_efficiency(
    df,
    text_col: str,
    id_col: str,
    rows_per_band: int = 2,
    n_hashes: int = N_MINHASH,
    engine: str = "md5_windows",
):
    """Blocking-quality audit over the minhash band index — per band:
    doc count, bucket count, largest bucket, the comparison slots the
    band join would perform (sum of C(size, 2) over its buckets), and
    the reduction ratio vs all-pairs C(n, 2). Counting happens on the
    band-bucket aggregate; candidate pairs are NEVER materialized, so
    the audit itself cannot blow up on a degenerated blocking. The
    default knobs are the oracle-parity configuration; production
    audits pass ``rows_per_band=8, n_hashes=16, engine='universal'``
    (the same knobs as ``minhash_candidate_pairs``' production mode)."""
    from pyspark.sql import functions as F

    bands = minhash_band_long(
        df, text_col, id_col, rows_per_band=rows_per_band, n_hashes=n_hashes, engine=engine
    )
    buckets = bands.groupBy("band", "h").agg(F.count(F.lit(1)).cast("long").alias("s"))
    s = F.col("s")
    # EXACT integer slot counts: s*(s-1) is even, and `div` keeps the
    # arithmetic in BIGINT — the double-divide form loses bits past
    # 2^53, i.e. precisely on the degenerate hot bucket the audit
    # exists to detect (review finding)
    slots = F.sum(F.expr("(s * (s - 1)) div 2"))
    per_band = buckets.groupBy("band").agg(
        F.sum(s).cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        F.max(s).cast("long").alias("max_bucket"),
        slots.cast("long").alias("comparison_slots"),
    )
    return per_band.select(
        "band",
        "n_docs",
        "n_buckets",
        "max_bucket",
        "comparison_slots",
        F.round(
            1.0
            - F.try_divide(
                F.col("comparison_slots") * 1.0,
                F.expr("(n_docs * (n_docs - 1)) div 2") * 1.0,
            ),
            6,
        ).alias("reduction_ratio"),
    ).orderBy("band")
