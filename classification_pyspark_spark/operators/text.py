"""Text analysis for LLM-data pipelines (north-star extension;
SURVEY.md §7 Phase 5b).

Language-ID (stopword-hit heuristic), quality scoring
(length/punctuation/stopword ratios and the Gopher rules), token
counting (whitespace split), and document fingerprinting (rolling
polynomial hash) — all as pure column expressions over built-in
higher-order functions, so they run JVM-side with whole-stage codegen
and scale linearly with no shuffle (per-row only).

One tokenizer and one gram builder serve the n-gram / tf-idf / eval
family: :func:`punct_tokens_expr` (non-empty pieces of the lowercased
text split on ``[^0-9a-z]+``; ``punct_tok_sql`` is its SQL text) and
:func:`_word_grams` (every position's space-joined word n-gram of a
token array; ``word_ngrams_expr`` is its distinct form). Where gram
identity is all a caller needs, ``rolling_gram_hash_sql`` builds the
64-bit key of the same grams.

Everything here is deliberately SQL-expressible so the DuckDB oracle
can replay it bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .caching import track

MOD = 1_000_000_007

STOPWORDS_EN = ("the", "a", "of", "and", "to", "in", "is", "it")

# tiny per-language stopword lists for the n-gram/stopword heuristic
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "is", "to"),
    "fr": ("le", "et", "les", "une", "est"),
    "de": ("der", "die", "und", "das", "ist"),
    "es": ("el", "los", "una", "es", "y"),
    "zh": ("de", "shi", "le", "bu", "zai"),
}


def tokens_expr(col: Column | str) -> Column:
    """Whitespace tokenization of the trimmed text."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(F.trim(c), r"\s+")


def punct_tokens_expr(col: Column | str) -> Column:
    """Non-empty tokens of the lowercased text split on ``[^0-9a-z]+``
    — the shared tokenizer for the n-gram/tf-idf family (DuckDB twin:
    ``list_filter(string_split_regex(trim(lower(x)), '[^0-9a-z]+'),
    t -> len(t) > 0)``)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(
        F.split(F.trim(F.lower(c)), r"[^0-9a-z]+"), lambda t: F.length(t) > 0
    )


def token_count_expr(col: Column | str) -> Column:
    """Token count (whitespace; a BPE-ish subword count is
    ``bpeish_token_count_expr``)."""
    return F.size(tokens_expr(col))


def bpeish_token_count_expr(col: Column | str) -> Column:
    """BPE-ish token estimate: split on whitespace AND word/number/
    punctuation boundaries, counting ~4-char subword chunks — a cheap
    deterministic proxy for a real BPE vocab (which isn't in this
    container)."""
    c = F.col(col) if isinstance(col, str) else col
    pieces = F.split(F.trim(F.lower(c)), r"[^0-9a-z]+")
    # ceil(len/4) chunks per word-piece, min 1 for non-empty pieces
    per_piece = F.transform(
        pieces, lambda p: F.when(F.length(p) > 0, F.ceil(F.length(p) / 4)).otherwise(F.lit(0))
    )
    return F.aggregate(per_piece, F.lit(0).cast("long"), lambda acc, x: acc + x)


def stopword_count_expr(col: Column | str, stopwords: tuple[str, ...] = STOPWORDS_EN) -> Column:
    """Number of tokens that are stopwords (multiset count)."""
    toks = tokens_expr(F.lower(col) if isinstance(col, str) else F.lower(col))
    return F.size(F.filter(toks, lambda t: t.isin(*stopwords)))


def ws_token_stats_expr(
    col: Column | str, stopwords: tuple[str, ...] = STOPWORDS_EN
) -> Column:
    """``struct(n int, stop int)`` — whitespace token count and
    stopword count out of ONE split + fold.

    Higher-order-function lambdas get no common-subexpression
    elimination, so a query that evaluates ``token_count_expr`` and
    ``stopword_count_expr`` side by side re-splits the text once per
    expression; this fused fold splits once. ``n`` is bit-identical to
    ``token_count_expr`` (one element per split piece, empties
    included) and ``stop`` to ``stopword_count_expr`` (lowercasing
    commutes with whitespace splitting)."""
    toks = tokens_expr(col)
    acc0 = F.struct(
        F.lit(0).cast("int").alias("n"), F.lit(0).cast("int").alias("stop")
    )
    return F.aggregate(
        toks,
        acc0,
        lambda a, t: F.struct(
            (a["n"] + F.lit(1)).cast("int").alias("n"),
            (
                a["stop"]
                + F.when(F.lower(t).isin(*stopwords), F.lit(1)).otherwise(F.lit(0))
            )
            .cast("int")
            .alias("stop"),
        ),
    )


def alnum_token_stats_expr(col: Column | str) -> Column:
    """``struct(n int, len bigint)`` — alphanumeric token count and
    total token length out of ONE split + fold (the inputs of
    ``mean_word_length_expr``, which otherwise re-splits per use)."""
    c = F.col(col) if isinstance(col, str) else col
    pieces = F.split(F.trim(F.lower(c)), r"[^0-9a-z]+")
    acc0 = F.struct(
        F.lit(0).cast("int").alias("n"), F.lit(0).cast("long").alias("len")
    )
    return F.aggregate(
        pieces,
        acc0,
        lambda a, t: F.struct(
            (a["n"] + F.when(F.length(t) > 0, F.lit(1)).otherwise(F.lit(0)))
            .cast("int")
            .alias("n"),
            (a["len"] + F.length(t).cast("long")).alias("len"),
        ),
    )


def _mean_len(al: Column) -> Column:
    """Mean token length from an ``alnum_token_stats_expr`` struct,
    0.0 for a doc without tokens."""
    return F.when(al["n"] > 0, al["len"] / al["n"].cast("double")).otherwise(F.lit(0.0))


def punct_ratio_expr(col: Column | str) -> Column:
    """Fraction of characters that are not alphanumeric/whitespace."""
    c = F.col(col) if isinstance(col, str) else col
    stripped = F.regexp_replace(F.lower(c), r"[0-9a-z\s]", "")
    return F.length(stripped) / F.greatest(F.length(c), F.lit(1))


def quality_score_expr(col: Column | str, round_to: int = 8) -> Column:
    """Deterministic document quality score in [0, 1]:
    0.4 * token-length factor (saturating at 100 tokens)
    + 0.3 * (1 - punctuation ratio)
    + 0.3 * stopword presence factor (saturating at 10% stopwords).
    The shape mirrors common LLM-corpus quality filters (length,
    symbol noise, stopword prior); weights are arbitrary but fixed.
    """
    # one fused split+fold for token and stopword counts (HOF lambdas
    # get no CSE; the per-term formulation re-split the text twice)
    ws = ws_token_stats_expr(col)
    n = ws["n"].cast("double")
    stop = ws["stop"].cast("double")
    length_factor = F.least(n / 100.0, F.lit(1.0))
    punct = punct_ratio_expr(col)
    stop_factor = F.least(stop / F.greatest(n, F.lit(1.0)) / 0.10, F.lit(1.0))
    return F.round(0.4 * length_factor + 0.3 * (1.0 - punct) + 0.3 * stop_factor, round_to)


def gopher_stats_exprs(col: str) -> list[Column]:
    """The per-doc inputs of :func:`gopher_rules` — ``__ws`` (fused
    whitespace token and stopword counts), ``__al`` (fused alnum token
    count and length) and ``__punct`` — to bind in a projection before
    the rules read them: HOF lambdas get no CSE, so the per-rule
    expression form re-split the text ~6x per row (sf1: 7.5s -> 3.3s)."""
    return [
        ws_token_stats_expr(col).alias("__ws"),
        alnum_token_stats_expr(col).alias("__al"),
        punct_ratio_expr(col).alias("__punct"),
    ]


def gopher_rules() -> dict[str, Column]:
    """Gopher-style document quality rules (Rae et al. 2021) over the
    bound :func:`gopher_stats_exprs` columns: word count 50-100000,
    mean word length 3-10, >= 2 stopwords, punct ratio <= 0.1, and
    their conjunction ``passes_gopher``."""
    rules = {
        "wc_ok": F.col("__ws.n").between(50, 100000),
        "mwl_ok": _mean_len(F.col("__al")).between(3.0, 10.0),
        "stop_ok": F.col("__ws.stop") >= 2,
        "punct_ok": F.col("__punct") <= 0.1,
    }
    wc, mwl, stop, punct = rules.values()
    return {**rules, "passes_gopher": wc & mwl & stop & punct}


def langid_expr(col: Column | str) -> Column:
    """Stopword-hit language guess: per-language hit counts, argmax with
    lexicographic tie-break. Pure expressions -> one projection.

    ONE tokenize pass: a literal token -> packed-bitfield map (12 bits
    per language x 5 languages = 60 bits; tokens shared by several
    languages OR their fields) is looked up per token and summed in a
    single fold; the finish lambda unpacks the five counters and
    argmaxes them. The previous form (per-language ``filter(toks)``
    + array argmax) embedded the tokenizer once per language per
    reference — HOF lambdas get no common-subexpression elimination,
    so the ``winners`` filter was re-running ~30 regex splits per row
    (text_langid sf1: 8.1s -> ~1s). 12-bit fields cap per-language
    hit counts at 4095 per doc; a doc would need >4k occurrences of
    one language's stopwords to carry into the next field, at which
    point the argmax is pinned to that language anyway."""
    toks = tokens_expr(F.lower(col) if isinstance(col, str) else F.lower(col))
    langs = sorted(LANG_STOPWORDS)  # field i (little-endian) = langs[i]
    mask: dict[str, int] = {}
    for i, lang in enumerate(langs):
        for tok in LANG_STOPWORDS[lang]:
            mask[tok] = mask.get(tok, 0) + (1 << (12 * i))
    map_lit = F.create_map(
        *[F.lit(x) for kv in sorted(mask.items()) for x in kv]
    )

    def finish(acc: Column) -> Column:
        # iterate langs in sorted order with strict >: first max wins,
        # which IS the lexicographic tie-break
        best_hits, best_lang = F.lit(-1).cast("long"), F.lit("")
        for i, lang in enumerate(langs):
            hits = F.shiftright(acc, 12 * i) % F.lit(1 << 12).cast("long")
            is_better = hits > best_hits
            best_lang = F.when(is_better, F.lit(lang)).otherwise(best_lang)
            best_hits = F.when(is_better, hits).otherwise(best_hits)
        return best_lang

    return F.aggregate(
        F.transform(
            toks,
            lambda t: F.coalesce(F.try_element_at(map_lit, t), F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
        finish,
    )


def fingerprint_expr(col: Column | str, mod: int = MOD) -> Column:
    """Rolling polynomial hash of the lowercased text:
    h = fold(chars, h*31 + ascii(char) mod ``mod``). 60-bit-safe."""
    c = F.col(col) if isinstance(col, str) else col
    chars = F.split(F.lower(c), "")
    return F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda acc, ch: (acc * 31 + F.ascii(ch)) % mod,
    )


def tfidf_top_terms(
    df: DataFrame, text_col: str, id_col: str, k: int = 5
) -> DataFrame:
    """Top-k TF-IDF terms per document.

    Tokens are the non-empty pieces of the lowercased text split on
    ``[^0-9a-z]+``; idf uses the smoothed form
    ``ln((1 + N) / (1 + df)) + 1`` (never negative, never divides by
    zero), tfidf = tf * idf rounded to 6.

    Scale shape: two shuffles — (doc, term) term-frequency agg (partial
    map-side combine collapses repeated terms per doc before the
    shuffle) and the per-term document-frequency agg, whose output is
    vocabulary-sized and re-joined to the tf frame (AQE picks broadcast
    when the vocabulary fits). The corpus total is a 1-row broadcast,
    not a driver-side ``count()``, so the whole thing is one job. The
    final top-k is a per-doc window over at most |doc| terms.

    Output: (``id_col``, term, tf, tfidf, rank), rank 1..k ordered by
    (tfidf desc, term asc).
    """
    terms = df.select(F.col(id_col), F.explode(punct_tokens_expr(text_col)).alias("term"))
    # tf feeds BOTH the df-frequency agg and the final join: persist it
    # (corpus-vocab-sized, far smaller than the exploded token stream)
    # or the tokenize+explode+agg pipeline runs twice
    tf = track(
        terms.groupBy(id_col, "term").agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
    n_docs = df.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            F.col(id_col),
            F.col("term"),
            F.col("tf"),
            F.round(
                F.col("tf") * (F.log((1.0 + F.col("n_docs")) / (1.0 + F.col("df"))) + 1.0), 6
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
    )


PII_PATTERNS: tuple[tuple[str, str], ...] = (
    # ordered: emails first so their digit runs aren't half-eaten
    (r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}", "[EMAIL]"),
    (r"[0-9]{3}[-.][0-9]{3,4}[-.][0-9]{4}", "[PHONE]"),
    (r"[0-9]{9,}", "[IDNUM]"),
)


def redact_pii_expr(col: Column | str) -> Column:
    """PII scrub for LLM training corpora: emails, phone-shaped
    numbers, and long digit runs replaced by typed placeholder tokens.
    Chained ``regexp_replace`` — JVM-side, codegen, no shuffle; the
    character classes are chosen to behave identically under Java
    regex and DuckDB/RE2 so the oracle can replay the scrub."""
    c = F.col(col) if isinstance(col, str) else col
    out = c
    for pat, rep in PII_PATTERNS:
        out = F.regexp_replace(out, pat, rep)
    return out


def top_ngrams(
    df: DataFrame, text_col: str, n: int = 2, top_k: int = 20
) -> DataFrame:
    """Corpus-wide top-k word n-grams by count (tie-break: gram asc).

    Tokenize -> generate n-grams per row (array ops, codegen) ->
    explode -> hash-agg with map-side combine -> global top-k. The
    only shuffle carries (gram, partial count) pairs — vocabulary-
    sized, not corpus-sized.
    """
    counts = (
        df.select(F.explode(_word_grams(punct_tokens_expr(text_col), n)).alias("gram"))
        .groupBy("gram")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    # distributed top-k (TakeOrderedAndProject: per-partition heaps, no
    # global sort / single-partition window over the whole vocabulary),
    # then rank only the k survivors
    top = counts.orderBy(F.desc("n"), F.asc("gram")).limit(top_k)
    w = Window.orderBy(F.desc("n"), F.asc("gram"))
    return top.withColumn("rank", F.row_number().over(w).cast("int")).select("gram", "n", "rank")


def top_ngrams_capped(
    df: DataFrame,
    text_col: str,
    n: int = 2,
    top_k: int = 20,
    min_count: int = 10,
    bucket_hex: int = 5,
) -> DataFrame:
    """Production cap variant of :func:`top_ngrams` (the PLANS.md
    inherent-cost note made concrete): a ``min_count`` support floor
    enforced through a hashed-bucket candidate pre-filter, so the
    gram-keyed count aggregate shuffles only candidate grams — never
    the full n-gram vocabulary, which on template-synthetic or web
    corpora is combinatorial (sf1: 2.23M distinct bigrams for 3.9M
    occurrences — map-side combine compresses ~2x and the exchange
    carries most of the gram stream).

    Two column-pruned passes over the gram stream, vocabulary never
    shuffled:

    1. **bucket pass** — gram -> ``4*bucket_hex``-bit md5-prefix
       bucket id; the per-bucket count aggregate's map-side combine
       caps every task's exchange output at ``16^bucket_hex``
       fixed-width rows regardless of vocabulary size. A bucket's
       total count bounds every member gram's count from above, so
       buckets with total < ``min_count`` cannot contain a qualifying
       gram and are dropped.
    2. **recount pass** — the surviving bucket ids (hot grams +
       collision pileups; a few thousand at sf1 for the defaults)
       broadcast-semi-join the gram stream BEFORE the gram aggregate,
       so the only vocabulary-keyed shuffle carries hot-bucket grams.
       The recount is exact and the ``HAVING n >= min_count`` floor
       evicts collision hitchhikers.

    Exactness contract: candidates are a guaranteed superset of
    ``{gram : count >= min_count}`` (no false negatives — the bucket
    total is the sum over every gram hashing into it, so it bounds
    each member's count from above, 64-bit hash collisions included),
    the recount is exact, so the result is the exact top-``top_k``
    over the floored domain — identical to :func:`top_ngrams`
    whenever the k-th count clears the floor (it does at every test
    scale: the 20th bigram count is 42 at sf0.01, 1108 at sf1, vs the
    default floor of 10). Same two-pass posture as
    ``operators/heavy_hitters.py``, with a deterministic bucket hash
    instead of Misra-Gries so the candidate set is partition-layout
    independent and the DuckDB oracle can assert the plain
    ``HAVING``-floor semantics. The bucket key is the rolling 64-bit
    gram hash folded to ``2^bucket_bits`` — pass 1 never materializes
    a gram string (each token hashed once, ``rolling_gram_hash_sql``),
    which is what keeps the candidate pass cheaper than the count
    pass it gates (an md5-of-gram-string bucket measured ~1.8x total
    wall-clock at sf10).
    """
    toks_sql = punct_tok_sql(text_col)
    gk_sql = rolling_gram_hash_sql(toks_sql, n, distinct=False, pad_short=False)
    bucket_bits = 4 * bucket_hex
    # pass 1: string-free bucket counts over the rolling gram hashes
    hot_buckets = (
        df.select(F.explode(F.expr(gk_sql)).alias("gk"))
        .select(F.pmod(F.col("gk"), F.lit(1 << bucket_bits)).alias("b"))
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("bn"))
        .filter(F.col("bn") >= min_count)
        .select("b")
    )
    # pass 2: gram strings zipped position-wise with their hashes, so
    # the semi join prunes on the identical bucket key
    pairs = df.select(
        F.explode(
            F.arrays_zip(
                _word_grams(F.expr(toks_sql), n).alias("gram"),
                F.expr(gk_sql).alias("gk"),
            )
        ).alias("pg")
    ).select(
        F.col("pg.gram").alias("gram"),
        F.pmod(F.col("pg.gk"), F.lit(1 << bucket_bits)).alias("b"),
    )
    counts = (
        pairs.join(F.broadcast(hot_buckets), "b", "left_semi")
        .groupBy("gram")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .filter(F.col("n") >= min_count)
    )
    top = counts.orderBy(F.desc("n"), F.asc("gram")).limit(top_k)
    w = Window.orderBy(F.desc("n"), F.asc("gram"))
    return top.withColumn("rank", F.row_number().over(w).cast("int")).select("gram", "n", "rank")


def _word_grams(toks: Column, n: int) -> Column:
    """The string n-gram builder: position i (1-based) of the result is
    tokens i..i+n-1 joined by single spaces, one entry per position
    (duplicates kept — position identity and multiplicity are signals
    for some callers). A doc shorter than ``n`` gets an empty array:
    ``sequence(1, size-n+1)`` would DESCEND there."""
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def ws_tok_sql(col_name: str) -> str:
    """SQL text of the whitespace tokenizer (``tokens_expr`` twin on
    lowered text)."""
    return f"split(trim(lower(`{col_name}`)), '\\\\s+')"


def punct_tok_sql(col_name: str) -> str:
    """SQL text of the alnum tokenizer (``punct_tokens_expr`` twin)."""
    return f"filter(split(trim(lower(`{col_name}`)), '[^0-9a-z]+'), x -> length(x) > 0)"


def rolling_gram_hash_sql(
    tok_sql: str, n: int, *, distinct: bool = True, pad_short: bool = False
) -> str:
    """SQL text for 64-bit hashed word n-gram keys of a token array —
    the equality-equivalent of ``word_ngrams_expr`` when gram IDENTITY
    (joins, counts, distincts) is all a caller needs.

    Gram key = XOR of position-rotated per-token xxhash64s, built with
    n-1 whole-array ``zip_with``s over shifted views: each token
    hashes ONCE and each position costs one xor+rotate. The per-
    position ``concat_ws(slice)`` / ``xxhash64(slice)`` forms allocate
    an n-token slice and re-process every token n times inside an
    interpreted HOF — ~5x slower measured at the sf10 probe, and the
    string form shuffles ~40-byte keys where this shuffles 8 bytes.
    Two positions key equal iff their n token-hash windows match; a
    cross-sequence collision needs a fixed GF(2)-linear relation over
    independent 64-bit hashes (P = 2**-64 per pair).

    ``pad_short=True`` mirrors ``word_ngrams_expr``'s posting-join
    behavior: a doc with fewer than ``n`` tokens emits ONE key — the
    hash of its whole token list, which can only collide with another
    short doc's identical token list (string-gram equality classes are
    preserved: an m<n-token join and an n-token join can never be
    string-equal either)."""
    th = f"transform({tok_sql}, t -> xxhash64(t))"
    glen = f"greatest(size({tok_sql}) - {n - 1}, 0)"
    acc = f"slice({th}, 1, {glen})"
    for j in range(1, n):
        k = (13 * j) % 64
        acc = (
            f"zip_with({acc}, slice({th}, {1 + j}, {glen}), "
            f"(x, y) -> x ^ (shiftleft(y, {k}) | shiftrightunsigned(y, {64 - k})))"
        )
    if distinct:
        acc = f"array_distinct({acc})"
    short = (
        f"array(xxhash64(concat_ws(' ', {tok_sql})))"
        if pad_short
        else "cast(array() as array<bigint>)"
    )
    return f"case when size({tok_sql}) >= {n} then {acc} else {short} end"


def distinct_token_ratio_expr(col: Column | str) -> Column:
    """distinct tokens / tokens — 1.0 means no repeated token; low
    values flag boilerplate/repetitive docs (Gopher-style repetition
    filter). Zero-shuffle codegen."""
    toks = punct_tokens_expr(col)
    return F.size(F.array_distinct(toks)) / F.greatest(F.size(toks), F.lit(1)).cast("double")


def top_gram_fraction_expr(col: str, n: int = 2) -> Column:
    """Fraction of the doc's n-grams taken by its single most frequent
    n-gram — the Rae et al. (Gopher) duplicate-n-gram repetition
    signal, computed WITHOUT any shuffle: sort the doc's gram array
    (codegen) and fold once, tracking the longest equal run. Cost is
    O(g log g) per doc locally; nothing leaves the row.

    The gram array of column ``col`` is the rolling 64-bit hash form
    (``rolling_gram_hash_sql``, non-distinct): run-length-of-equals is
    invariant to relabeling gram identities, longs sort ~5x cheaper
    than gram strings, and each token hashes once instead of being
    re-concatenated n times.

    The gram array is referenced EXACTLY ONCE: higher-order functions
    run interpreted (outside whole-stage codegen) and get no common-
    subexpression elimination, so a second ``size(grams)`` reference
    re-tokenizes and re-sorts the whole document. Carrying the gram
    count in the fold accumulator instead made this 4.6x faster at
    sf1 (19.3s -> 4.2s for repetition_stats)."""
    grams = F.array_sort(F.expr(rolling_gram_hash_sql(punct_tok_sql(col), n, distinct=False)))
    zero = F.struct(
        F.lit(None).cast("long").alias("prev"),  # never equals a hash
        F.lit(0).alias("run"),
        F.lit(0).alias("best"),
        F.lit(0).alias("cnt"),
    )

    def step(acc: Column, x: Column) -> Column:
        run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            F.greatest(acc["best"], run).alias("best"),
            (acc["cnt"] + 1).alias("cnt"),
        )

    return F.aggregate(
        grams,
        zero,
        step,
        lambda acc: F.when(
            acc["cnt"] > 0, acc["best"] / acc["cnt"].cast("double")
        ).otherwise(F.lit(0.0)),
    )


def mean_word_length_expr(col: Column | str) -> Column:
    """Mean token length (alnum tokens), 0.0 for empty docs."""
    return _mean_len(alnum_token_stats_expr(col))


# bigram_lm_perplexity auto mode: corpora at or under this doc count
# score through the measured-faster window formulation; above it the
# AQE-skew-splittable join formulation takes over (Zipfian hot-bigram
# skew dominates at scale). Every test/sweep scale (sf10 ~ 500k docs)
# sits below the line; any real pretraining corpus sits far above it.
AUTO_COUNT_MODE_DOC_THRESHOLD = 2_000_000


def bigram_lm_perplexity(
    df: DataFrame,
    text_col: str,
    id_col: str,
    keep_threshold: float = 31.0,
    count_mode: str = "auto",
    hash_keys: bool = True,
) -> DataFrame:
    """Per-document perplexity under an add-one-smoothed bigram LM
    trained on the corpus itself — the CCNet-style LM quality filter
    (a real pipeline scores against a clean-reference KenLM; the
    engine mechanics are identical: n-gram counts + a score join).

    p(w2|w1) = (C(w1,w2) + 1) / (C(w1) + V);  ppl = exp(-mean ln p).

    Scale shape: one token explode feeds the unigram aggregate; the
    bigram stream (built with an array ``transform`` — zero joins)
    is scored in ONE pass. ``count_mode``:

    - ``"window"``: ``count(*) over (partition by w1, w2)``
      attaches each bigram's corpus count in the same exchange that
      would have fed the count aggregate — the stream is built ONCE
      and shuffled ONCE (the join form re-ran the whole
      tokenize+explode pipeline for each join side; measured 1.6x
      faster at sf0.1 and sf1). One bigram's rows land in one window
      task, so extreme hot-bigram skew is the trade.
    - ``"join"``: aggregate counts, then SHUFFLED-HASH-join them back
      (pinned by hint: the bigram table is NOT vocabulary-bounded —
      at our sf10 probe it deserialized to 5 GiB and AQE's broadcast
      conversion, fed by its ~60 MB *compressed* shuffle size, OOMed
      the driver). AQE can SPLIT a skewed SHJ partition, so this is
      the posture for corpora where one bigram is a meaningful
      fraction of all text — on real Zipfian corpora at the 100 TB
      design point, a hot bigram ("of the") IS a meaningful fraction,
      and the window form would land all of it in one task.
    - ``"auto"`` (default): a BOUNDED doc-count probe
      (``limit(AUTO_COUNT_MODE_DOC_THRESHOLD + 1).count()`` — never a
      full scan) picks ``window`` for small/mid corpora (measured
      faster through sf10) and ``join`` above the threshold, where
      hot-bigram skew is the dominant risk and AQE skew-splitting
      matters more than the second tokenize pass. All three modes are
      result-identical (equivalence-tested).

    ``hash_keys`` (default): tokens are hashed ONCE
    (``transform(w, t -> xxhash64(t))``) and every downstream
    identity is an 8-byte long — the unigram key is the token hash,
    the bigram key is ``xxhash64(h1, h2)`` — so the count exchange,
    window sort, and scoring join never touch strings (the string
    keys were the sf10 bottleneck: 77s -> 14s for the same plan).
    Counts are exact up to the same 2^-64-per-pair collision class as
    ``ngram_jaccard_pairs(hash_grams=True)``; pass ``hash_keys=False``
    for string-exact identities. Either way the per-doc output (ppl
    over the doc's bigrams) is unchanged at any collision-free scale.

    The unigram join stays broadcast-eligible — unigrams ARE
    vocabulary-bounded. In ``window`` mode V is folded onto the
    unigram frame (count window over the vocabulary) so (c1, v)
    arrive in one forced broadcast; in ``join`` mode V rides along as
    a 1-row broadcast and AQE picks the unigram join strategy. The
    corpus never collects to the driver.

    INVARIANT (window mode): the single-partition vocabulary window
    and the forced unigram broadcast both assume the DISTINCT-TOKEN
    frame fits one executor/driver — true by construction for natural-
    language vocabularies (millions of rows of (long, long)), and the
    ``auto`` probe routes anything above the doc-count threshold to
    ``join`` mode. Callers passing an EXPLICIT ``count_mode="window"``
    take on that bound themselves: never choose it for corpora whose
    token-identity space is unbounded (e.g. hashed features, URLs).

    Output: (``id_col``, n_bigrams long, ppl double rounded 4,
    keep int 0/1 at ``keep_threshold``) — one row for EVERY input doc.
    Docs with fewer than 2 tokens have no bigrams to score: they come
    back with n_bigrams 0, ppl NULL, keep 0 (rejected, not silently
    absent — a curation pipeline that joins on this output must see an
    explicit verdict for degenerate docs).
    """
    if count_mode not in ("auto", "window", "join"):
        raise ValueError(f"unknown count_mode {count_mode!r}: auto | window | join")
    if count_mode == "auto":
        probe = df.limit(AUTO_COUNT_MODE_DOC_THRESHOLD + 1).count()
        count_mode = "join" if probe > AUTO_COUNT_MODE_DOC_THRESHOLD else "window"
    toks = df.select(
        F.col(id_col),
        F.filter(
            F.split(F.trim(F.lower(F.col(text_col))), r"\s+"),
            lambda x: F.length(x) > 0,
        ).alias("w"),
    )
    if hash_keys:
        toks = toks.select(
            F.col(id_col), F.expr("transform(w, t -> xxhash64(t))").alias("w")
        )
        pair_expr = (
            "transform(sequence(1, size(w) - 1),"
            " i -> struct(w[i-1] AS w1, xxhash64(w[i-1], w[i]) AS bk))"
        )
    else:
        pair_expr = (
            "transform(sequence(1, size(w) - 1),"
            " i -> struct(w[i-1] AS w1, struct(w[i-1], w[i]) AS bk))"
        )
    uni = (
        toks.select(F.explode("w").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("c1"))
    )
    bg = (
        toks.filter(F.size("w") >= 2)
        .select(F.col(id_col), F.explode(F.expr(pair_expr)).alias("p"))
        .select(id_col, "p.w1", "p.bk")
    )
    if count_mode == "window":
        counted = bg.withColumn(
            "cbg", F.count(F.lit(1)).over(Window.partitionBy("bk")).cast("long")
        )
        # small/mid-corpus mode: V rides ON the unigram frame via a
        # count window over the whole (vocabulary-bounded, broadcast-
        # eligible — the mode already assumes that) frame instead of a
        # separate agg + crossJoin(broadcast) chain: one fewer
        # aggregate job and one fewer broadcast build per call, and
        # the scoring join attaches (c1, v) in ONE forced broadcast.
        # lp keeps the exact expression log((cbg+1)/(c1+v)) so results
        # are bit-identical to the two-frame form (equality-verified
        # at sf0.1). join mode (huge corpora, where a single-partition
        # window over the vocabulary or a forced broadcast could hurt)
        # keeps the AQE-decided two-frame shape below.
        uni2 = F.broadcast(
            uni.withColumn(
                "v", F.count(F.lit(1)).over(Window.partitionBy()).cast("long")
            ).withColumnRenamed("tok", "w1")
        )
        scored = counted.join(uni2, "w1").select(
            F.col(id_col),
            F.log((F.col("cbg") + 1.0) / (F.col("c1") + F.col("v"))).alias("lp"),
        )
    else:
        bgc = bg.groupBy("bk").agg(F.count(F.lit(1)).cast("long").alias("cbg"))
        counted = bg.join(bgc.hint("shuffle_hash"), "bk")
        vocab = uni.agg(F.count(F.lit(1)).cast("long").alias("v"))
        scored = (
            counted.join(uni.withColumnRenamed("tok", "w1"), "w1")
            .crossJoin(F.broadcast(vocab))
            .select(
                F.col(id_col),
                F.log((F.col("cbg") + 1.0) / (F.col("c1") + F.col("v"))).alias("lp"),
            )
        )
    agg = scored.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.round(F.exp(-F.avg("lp")), 4).alias("ppl"),
    )
    return (
        df.select(id_col)
        .join(agg, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_bigrams", F.lit(0)).cast("long").alias("n_bigrams"),
            "ppl",
            F.when(F.col("ppl") <= keep_threshold, 1).otherwise(0).alias("keep"),
        )
    )


DEFAULT_MAX_POSTING_SIZE = 2000  # shared policy with dedup_fuzzy's caps


def tfidf_cosine_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    block_col: str,
    min_cosine: float = 0.85,
    max_posting_size: int | None = DEFAULT_MAX_POSTING_SIZE,
) -> DataFrame:
    """Sparse TF-IDF cosine similarity pairs within a blocking key —
    lexical near-dup detection without embeddings: weight per (doc,
    term) = tf · smoothed-idf, dot products accumulated through a
    posting-list self-join on (block, term), normalized by per-doc
    norms.

    Scale shape: identical to ``ngram_jaccard_pairs`` — pairs only
    ever meet inside a (block, term) posting, never all-pairs. The
    ``max_posting_size`` guard drops terms whose in-block posting
    exceeds the cap from the DOT PRODUCT only (norms stay exact);
    capped terms are the highest-df/lowest-idf terms, so the cosine
    loss is smallest exactly where the fan-out risk is largest. The
    cap defaults ON (production safety — a 31-token-vocabulary corpus
    makes every posting corpus-sized and the join quadratic on
    content); pass None for exact semantics, as the registered oracle
    query does at test scale.

    Output: (id_a < id_b, cosine double rounded 4) with
    cosine >= ``min_cosine``.

    Caching note: the tf and weight frames are persisted (each feeds
    two downstream aggregates; without the persist the tokenize+explode
    pipeline runs multiple times). Both are registered with
    ``caching.track``: a long-lived session invoking this over many
    corpora should call ``caching.release_tracked()`` after each
    terminal action — the plan runner, oracle sweep, and bench harness
    all do.
    """
    toks = punct_tokens_expr(F.col(text_col))
    terms = df.select(F.col(id_col).alias("id"), F.col(block_col).alias("blk"), F.explode(toks).alias("term"))
    tf = track(
        terms.groupBy("id", "blk", "term").agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
    n_docs = df.agg(F.count(F.lit(1)).alias("n_docs"))
    wts = track(
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "id",
            "blk",
            "term",
            (F.col("tf") * (F.log((1.0 + F.col("n_docs")) / (1.0 + F.col("df"))) + 1.0)).alias("w"),
        )
    )
    norms = wts.groupBy("id").agg(F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("nrm"))
    # posting-list pair expansion via ONE grouped list + double explode
    # (codegen Generate), not a (blk, term)-keyed self-join: the join
    # shuffled the weight frame twice and needed a separate
    # posting-size agg+join for the cap; here the cap is a free
    # size(list) filter and the k^2 pair terms are generated in-task,
    # partially aggregated before the (id_a, id_b) exchange. Postings
    # are capped (default 2000), so the collected list is bounded.
    posts = wts.groupBy("blk", "term").agg(
        F.collect_list(F.struct("id", "w")).alias("ps")
    )
    posts = posts.filter(F.size("ps") >= 2)
    if max_posting_size is not None:
        posts = posts.filter(F.size("ps") <= max_posting_size)
    dots = (
        posts.select(F.explode("ps").alias("x"), "ps")
        .select("x", F.explode("ps").alias("y"))
        .filter(F.col("x.id") < F.col("y.id"))
        .groupBy(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
        .agg(F.sum(F.col("x.w") * F.col("y.w")).alias("dot"))
    )
    na = norms.select(F.col("id").alias("id_a"), F.col("nrm").alias("na"))
    nb = norms.select(F.col("id").alias("id_b"), F.col("nrm").alias("nb"))
    return (
        dots.join(na, "id_a")
        .join(nb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(F.col("dot") / (F.col("na") * F.col("nb")), 4).alias("cosine"),
        )
        .filter(F.col("cosine") >= min_cosine)
    )


def word_ngrams_expr(toks: Column, n: int, pad_short: bool = False) -> Column:
    """Distinct space-joined word n-grams of a token array
    (:func:`_word_grams`, deduplicated).

    ``pad_short=True`` keeps the historical posting-join behavior: a
    doc with fewer than ``n`` tokens still emits ONE truncated gram
    (its whole token list), so it participates in joins.
    ``pad_short=False`` is strict: short docs emit NO grams — required
    when a gram's presence is itself the signal (two token-less docs
    must not count as sharing a span via the empty gram).
    """
    grams = F.array_distinct(_word_grams(toks, n))
    if pad_short:
        return F.when(F.size(toks) >= n, grams).otherwise(F.array(F.concat_ws(" ", toks)))
    return grams


def compression_ratio(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Per-document zlib compression ratio — the classic cheap
    redundancy signal for pretraining-corpus curation (boilerplate and
    template spam compress far below natural prose; cf. the
    compression filters in CCNet/RefinedWeb-style pipelines). The
    n-gram twin is ``repetition_stats``; this one catches long-range
    redundancy n-grams miss.

    Arrow-batched ``mapInPandas`` (zlib is Python-only), narrow output
    (id, sizes, ratio) so downstream shuffles never carry the text.
    zlib at a fixed level is deterministic across platforms, so results
    are stable run-to-run (registered rows-only — no SQL oracle can
    express zlib — with a python known-answer test instead).
    """
    from collections.abc import Iterator

    import pandas as pd

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import zlib

        for pdf in it:
            raw = pdf[text_col].fillna("").map(lambda s: s.encode("utf-8"))
            n_raw = raw.map(len).astype("int64")
            n_comp = raw.map(lambda b: len(zlib.compress(b, 6))).astype("int64")
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "n_raw_bytes": n_raw,
                    "n_compressed_bytes": n_comp,
                    # ratio > ~1 on tiny inputs (header overhead); 0 raw -> null
                    "compression_ratio": (n_comp / n_raw.where(n_raw > 0)).round(6),
                }
            )

    from pyspark.sql import types as T

    # id field keeps the input column's name AND type (a hardcoded
    # `doc_id long` would break on string/uuid id columns at Arrow
    # conversion time)
    schema = T.StructType(
        [
            T.StructField(id_col, df.schema[id_col].dataType),
            T.StructField("n_raw_bytes", T.LongType()),
            T.StructField("n_compressed_bytes", T.LongType()),
            T.StructField("compression_ratio", T.DoubleType()),
        ]
    )
    return df.mapInPandas(batches, schema=schema)


def _ref_cand_tokens(df: DataFrame, ref_col: str, cand_col: str, id_col: str) -> DataFrame:
    """``(id, __rt, __ct)``: the punct tokens of both sides, persisted —
    every clipped-count branch and the final id join read it; without
    the persist each branch re-runs the tokenize regex (measured
    neutral on sf1's short synthetic docs; the saved work grows with
    document length)."""
    return track(
        df.select(
            F.col(id_col).alias("id"),
            punct_tokens_expr(ref_col).alias("__rt"),
            punct_tokens_expr(cand_col).alias("__ct"),
        )
    )


def _clipped_gram_counts(base: DataFrame, n: int) -> DataFrame:
    """Clipped n-gram counts of a :func:`_ref_cand_tokens` frame:
    ``(id, __ref_{n}, __cand_{n}, __match_{n})`` = reference grams,
    candidate grams and ``sum(least(c_ref, c_cand))`` over the gram
    multisets. Both sides explode to (id, gram) COUNT frames
    (map-side-combined aggregates over 8-byte rolling-hash gram keys —
    gram identity is all clipping needs) and full-outer-join per (id,
    gram); ids without grams on either side still get a row of 0s."""

    def counts(tok_col: str, alias: str) -> DataFrame:
        # distinct=False: clipping needs the gram MULTISET
        grams = F.expr(rolling_gram_hash_sql(tok_col, n, distinct=False))
        return (
            base.select("id", F.explode_outer(grams).alias("gram"))
            .groupBy("id", "gram")
            .agg(F.count(F.when(F.col("gram").isNotNull(), 1)).alias(alias))
        )

    c_ref, c_cand = F.coalesce("c_ref", F.lit(0)), F.coalesce("c_cand", F.lit(0))
    return (
        counts("__rt", "c_ref")
        .join(counts("__ct", "c_cand"), on=["id", "gram"], how="full_outer")
        .groupBy("id")
        .agg(
            F.sum(c_ref).cast("long").alias(f"__ref_{n}"),
            F.sum(c_cand).cast("long").alias(f"__cand_{n}"),
            F.sum(F.least(c_ref, c_cand)).cast("long").alias(f"__match_{n}"),
        )
    )


def rouge_n(
    df: DataFrame,
    ref_col: str,
    cand_col: str,
    id_col: str,
    n: int = 2,
) -> DataFrame:
    """ROUGE-N overlap between a reference and a candidate text column
    — the standard n-gram eval metric a training-data pipeline needs
    to score generated/augmented text against references (Lin 2004):
    clipped n-gram matches / candidate grams = precision, / reference
    grams = recall, harmonic mean = F1.

    Distributed shape: one :func:`_clipped_gram_counts` — per-(id,
    gram) count frames of both sides, joined per (id, gram), summed
    per id. Work is proportional to total grams; nothing is
    quadratic, no driver collects, and the join keys are (id, gram)
    — co-partitioned, no skew beyond a single document's repetition.
    Empty sides score 0 (by convention), not NULL.

    Output: (id, n_ref_grams, n_cand_grams, rouge_p, rouge_r, rouge_f
    — doubles rounded 6), one row per input row.
    """
    base = _ref_cand_tokens(df, ref_col, cand_col, id_col)
    ref, cand, match = (F.col(f"__{c}_{n}") for c in ("ref", "cand", "match"))
    p = F.when(cand > 0, match / cand).otherwise(0.0)
    r = F.when(ref > 0, match / ref).otherwise(0.0)
    f = F.when(p + r > 0, 2 * p * r / (p + r)).otherwise(0.0)
    return (
        base.select("id")
        .join(_clipped_gram_counts(base, n), "id", "left")
        .select(
            "id",
            F.coalesce(ref, F.lit(0)).alias("n_ref_grams"),
            F.coalesce(cand, F.lit(0)).alias("n_cand_grams"),
            F.round(F.coalesce(p, F.lit(0.0)), 6).alias("rouge_p"),
            F.round(F.coalesce(r, F.lit(0.0)), 6).alias("rouge_r"),
            F.round(F.coalesce(f, F.lit(0.0)), 6).alias("rouge_f"),
        )
    )


def bleu_n(
    df: DataFrame,
    ref_col: str,
    cand_col: str,
    id_col: str,
    max_n: int = 2,
) -> DataFrame:
    """Sentence-level BLEU up to ``max_n`` (Papineni et al. 2002):
    geometric mean of clipped n-gram precisions × brevity penalty
    ``min(1, exp(1 - ref_len/cand_len))``. Complements ``rouge_n``
    (recall-oriented) with the precision-oriented standard; same
    distributed shape — one :func:`_clipped_gram_counts` per n,
    everything linear in total grams.

    Smoothing: a zero clipped count at any n zeroes the score (the
    uns moothed definition — deterministic and oracle-replayable).
    Empty candidates score 0. Output: (id, n_ref_tokens long,
    n_cand_tokens long, p1..p{max_n} double rounded 6, bleu double
    rounded 6)."""
    base = _ref_cand_tokens(df, ref_col, cand_col, id_col)
    out = base.select(
        "id",
        F.size("__rt").cast("long").alias("n_ref_tokens"),
        F.size("__ct").cast("long").alias("n_cand_tokens"),
    )
    for n in range(1, max_n + 1):
        out = out.join(_clipped_gram_counts(base, n), "id", "left")
    ps = [
        F.when(
            F.coalesce(F.col(f"__cand_{n}"), F.lit(0)) > 0,
            F.coalesce(F.col(f"__match_{n}"), F.lit(0)) / F.col(f"__cand_{n}"),
        ).otherwise(0.0)
        for n in range(1, max_n + 1)
    ]
    geo = ps[0]
    for p in ps[1:]:
        geo = geo * p
    geo = F.pow(geo, 1.0 / max_n)
    bp = F.when(F.col("n_cand_tokens") >= F.col("n_ref_tokens"), 1.0).otherwise(
        F.when(
            F.col("n_cand_tokens") > 0,
            F.exp(1.0 - F.col("n_ref_tokens") / F.col("n_cand_tokens")),
        ).otherwise(0.0)
    )
    return out.select(
        "id",
        "n_ref_tokens",
        "n_cand_tokens",
        *[F.round(p, 6).alias(f"p{n}") for n, p in enumerate(ps, start=1)],
        F.round(bp * geo, 6).alias("bleu"),
    )


POLY_BASE = 131
POLY_MOD = (1 << 40) - 87  # largest prime below 2^40


def char_codes_expr(col: Column | str) -> Column:
    """``array<long>`` of the string's character codepoints — the
    shared input of the polynomial gram hashes below. BIND THIS AS A
    COLUMN before hashing (HOF lambdas get no CSE; every direct
    reference re-extracts all characters)."""
    s = F.col(col) if isinstance(col, str) else col
    codes = F.transform(
        F.sequence(F.lit(1), F.length(s)),
        lambda i: F.ascii(F.substring(s, i, 1)).cast("long"),
    )
    return F.when(F.length(s) >= 1, codes).otherwise(
        F.expr("cast(array() as array<bigint>)")
    )


def poly_gram_keys_expr(
    codes: Column, n: int, base: int = POLY_BASE, mod: int = POLY_MOD
) -> Column:
    """Polynomial char-``n``-gram hashes over a BOUND codepoint array:
    ``key_i = (Σ_j codes[i+j]·base^(n-1-j)) mod P`` for every gram
    start i — built from ``n`` SHIFTED VIEWS of the codes column
    folded with ``zip_with`` adds, so the whole pass is O(G·n)
    whole-stage-codegen multiply-adds with NO digest calls and no
    per-gram substring allocation (the md5-per-gram form this
    replaced spent its entire runtime in 500M JVM md5 invocations at
    the sf10 probe: 262 s → arithmetic). Pure integer arithmetic is
    replayed verbatim by any SQL engine; collisions are
    rolling-hash-class (P ≈ 2^40) rather than md5-class, which the
    fingerprinting consumers tolerate by construction — and an oracle
    replaying the SAME hash sees the SAME collisions. Codepoints up
    to 0x10FFFF with base 131 and n ≤ 5 stay under 2^49 pre-mod —
    no BIGINT overflow (ANSI mode would raise, not wrap)."""
    glen = F.greatest(F.size(codes) - (n - 1), F.lit(0))

    def term(p: int):
        # factory, NOT a default-arg lambda: zip_with reads lambda
        # arity, so extra defaulted params would misbind
        return lambda a, c: a + c * F.lit(p).cast("long")

    acc = F.transform(
        F.slice(codes, 1, glen),
        lambda c: c * F.lit(base ** (n - 1)).cast("long"),
    )
    for j in range(1, n):
        acc = F.zip_with(acc, F.slice(codes, 1 + j, glen), term(base ** (n - 1 - j)))
    return F.transform(acc, lambda x: x % F.lit(mod).cast("long"))


def winnow_keys_expr(codes: Column, k: int = 5) -> Column:
    """Packed winnowing gram keys for ``winnow_select_expr`` over a
    BOUND ``char_codes_expr`` column: position i (1-based) of the
    returned array is ``hash(gram_i) * 2^20 + (2^20 - 1 - i)`` — a
    40-bit polynomial char-``k``-gram hash packed with the bit-flipped
    position, so one BIGINT ``min`` implements Schleimer et al.'s
    robust tie rule (smallest hash, RIGHTMOST position). Empty for
    docs under ``k`` chars. Positions must fit 20 bits (~1M chars —
    far above this corpus; a longer-doc deployment widens the shift).

    BIND the result AS A COLUMN too (``withColumn`` then
    ``winnow_select_expr(F.col(...))``): HOF lambdas get no CSE."""
    keys = poly_gram_keys_expr(codes, k)
    return F.transform(
        keys,
        lambda h, i: h * F.lit(1048576).cast("long")
        + (F.lit(1048575).cast("long") - (i + 1)),
    )


def winnow_select_expr(keys: Column, w: int = 4) -> Column:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken,
    SIGMOD 2003 — the MOSS local fingerprinting algorithm) over a
    BOUND ``winnow_keys_expr`` column: slide a window of ``w``
    consecutive gram keys and select each window's minimum; the
    distinct selected keys are the document's fingerprint set,
    guaranteed to detect any shared substring of at least
    ``w + k - 1`` characters between two documents.

    Plan shape: pure whole-stage-codegen array HOFs — the per-window
    min, and distinct all happen INSIDE the row, so the operator needs
    ZERO shuffles (the window-function formulation would shuffle every
    gram row by doc).

    The per-window min is built from ``w`` SHIFTED VIEWS of the key
    array folded with elementwise ``least`` (zip_with) — NOT a
    ``transform(sequence(...), st -> array_min(slice(keys, st, w)))``:
    Catalyst evaluates a lambda's subtree per element, so the slice
    form re-reads (and, on an unbound keys expression, re-hashes) all
    G grams at every window start — O(G²) md5 calls, measured 70s for
    a corpus the shifted form fingerprints in about a second. The
    shifted form touches the bound array w times total.

    Short docs: fewer grams than one window (0 < grams < w) emit a
    single fingerprint (the global min — the only honest choice that
    keeps whole-doc duplicates detectable); empty key arrays (docs
    under ``k`` chars) emit none."""
    ng = F.size(keys)
    # w shifted views of keys, folded with elementwise least; position
    # st of the fold is min(keys[st .. st+w-1]) for st <= ng-w+1 (the
    # shorter shifted views null-pad on zip_with and least skips nulls,
    # but the final slice stays inside the fully-populated prefix)
    fold = keys
    for j in range(1, w):
        fold = F.zip_with(fold, F.slice(keys, j + 1, ng), lambda a, b: F.least(a, b))
    selected = F.array_distinct(F.slice(fold, 1, ng - (w - 1)))
    empty = F.expr("cast(array() as array<bigint>)")
    return (
        F.when(ng >= w, selected)
        .when(ng >= 1, F.array(F.array_min(keys)))
        .otherwise(empty)
    )


def chrf_score(
    df: DataFrame,
    ref_col: str,
    cand_col: str,
    id_col: str,
    max_n: int = 3,
    beta: float = 2.0,
) -> DataFrame:
    """chrF (Popović, WMT 2015): character n-gram F-score between a
    candidate and a reference — the tokenization-free eval metric that
    complements word-level ROUGE/BLEU for morphology-rich and
    unsegmented languages. Whitespace is stripped (sacrebleu default),
    per-n clipped precision/recall average over n = 1..max_n, and
    chrF = (1+β²)·P·R / (β²·P + R) on the averaged P/R (β = 2: recall
    weighted double).

    Distributed shape mirrors ``rouge_n``: both sides explode ONCE to
    (id, n, gram-hash) count frames (the three gram sizes ride one
    explode of a flattened struct array — not three passes), the count
    frames join co-partitioned on (id, n, gram), clipped-min sums
    reduce per (id, n), and a bounded (id × max_n) grid right-join
    restores all-empty gram sizes before the per-id average. Work
    linear in total characters; gram identity via 40-bit polynomial
    keys over the BOUND codepoint arrays (``poly_gram_keys_expr`` —
    pure codegen arithmetic the oracle replays verbatim; the
    md5-per-gram form this replaced also re-ran the whitespace-strip
    regex once per gram because the normalized string was an alias
    inside the lambda, O(len²) per row).

    Output: (id, n_ref_chars, n_cand_chars, chrp, chrr, chrf) rounded
    6; empty sides score 0 by convention (sacrebleu raises instead —
    a pipeline scoring millions of docs wants totals, not exceptions).
    """
    def norm(c: str) -> Column:
        return F.regexp_replace(F.lower(F.col(c)), r"\s+", "")

    # normalized strings and codepoint arrays bind as COLUMNS in
    # separate projections (each alias is non-cheap and multi-
    # referenced, so CollapseProject leaves the chain alone). The
    # codes frame is deliberately NOT persisted: its three consumers
    # re-derive it with pure O(len) arithmetic per scan, while caching
    # it (≈docs × chars × 16 B) competed with the 32 in-flight
    # partial-agg maps for the unified memory pool and tipped the
    # sf10 probe into UNABLE_TO_ACQUIRE_MEMORY
    base = (
        df.select(
            F.col(id_col).alias("id"),
            norm(ref_col).alias("__rs"),
            norm(cand_col).alias("__cs"),
        )
        .withColumn("__rc", char_codes_expr(F.col("__rs")))
        .withColumn("__cc", char_codes_expr(F.col("__cs")))
        .select("id", "__rc", "__cc")
    )

    def gram_longs(codes_name: str) -> Column:
        # one flattened array<long> for n = 1..max_n, each element
        # key*(max_n+1) + n: a packed (gram-hash, gram-size) long instead of a
        # struct — the struct form allocated ~3·len two-field objects
        # per row and drove the sf10 probe into GCLocker stalls; longs
        # ride primitive arrays end to end (key < 2^40, so the pack
        # stays far under 2^63)
        codes = F.col(codes_name)

        def pack(n: int):
            # factory, NOT a default-arg lambda: F.transform reads a
            # two-parameter lambda as (element, index)
            return lambda x: x * (max_n + 1) + n

        parts = []
        for n in range(1, max_n + 1):
            parts.append(F.transform(poly_gram_keys_expr(codes, n), pack(n)))
        return F.flatten(F.array(*parts))

    def counts(codes_name: str, alias: str) -> DataFrame:
        return (
            base.select("id", F.explode(gram_longs(codes_name)).alias("k2"))
            .groupBy("id", "k2")
            .agg(F.count(F.lit(1)).alias(alias))
        )

    ref = counts("__rc", "c_ref")
    cand = counts("__cc", "c_cand")
    per_n = (
        ref.join(cand, on=["id", "k2"], how="full_outer")
        .groupBy("id", F.pmod("k2", F.lit(max_n + 1)).cast("int").alias("n"))
        .agg(
            F.sum(F.coalesce("c_ref", F.lit(0))).cast("long").alias("nr"),
            F.sum(F.coalesce("c_cand", F.lit(0))).cast("long").alias("nc"),
            F.sum(
                F.least(F.coalesce("c_ref", F.lit(0)), F.coalesce("c_cand", F.lit(0)))
            ).cast("long").alias("m"),
        )
    )
    grid = base.select("id").crossJoin(
        df.sparkSession.range(1, max_n + 1).select(F.col("id").cast("int").alias("n"))
    )
    pn = F.when(F.col("nc") > 0, F.col("m") / F.col("nc")).otherwise(0.0)
    rn = F.when(F.col("nr") > 0, F.col("m") / F.col("nr")).otherwise(0.0)
    per_id = (
        grid.join(per_n, on=["id", "n"], how="left")
        .select("id", pn.alias("__p"), rn.alias("__r"))
        .groupBy("id")
        .agg(
            (F.sum("__p") / max_n).alias("p"),
            (F.sum("__r") / max_n).alias("r"),
        )
    )
    b2 = beta * beta
    f = F.when(
        (b2 * F.col("p") + F.col("r")) > 0,
        (1 + b2) * F.col("p") * F.col("r") / (b2 * F.col("p") + F.col("r")),
    ).otherwise(0.0)
    return (
        base.select("id", F.size("__rc").cast("int").alias("n_ref_chars"),
                    F.size("__cc").cast("int").alias("n_cand_chars"))
        .join(per_id, "id", "left")
        .select(
            "id",
            "n_ref_chars",
            "n_cand_chars",
            F.round(F.coalesce("p", F.lit(0.0)), 6).alias("chrp"),
            F.round(F.coalesce("r", F.lit(0.0)), 6).alias("chrr"),
            F.round(F.coalesce(f, F.lit(0.0)), 6).alias("chrf"),
        )
    )
