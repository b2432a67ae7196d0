"""The stages the corpus-curation chain shares between its callers.

The chain runs injection -> langid / Gopher / perplexity flags -> exact
dedup -> minhash near-dup -> a caller's own tail (decontamination or
span surgery, then packing) -> a per-source funnel. This module owns:

- ``inject``: one-pass injection for the registry queries
  ``corpus_curation``, ``corpus_curation_full`` and
  ``corpus_curation_surgical`` (one scan and an explode, not a union).
- ``dedup_front``: the front half of ``corpus_curation_full`` and
  ``corpus_curation_surgical``, from the flags to the near-dup
  survivors, with the funnel parts of those stages.
- ``source_funnel``: the per-source funnel of those two queries and of
  ``production.curate_documents``' drop report. It is ONE aggregate on
  ``source`` over a union of stage frames (operator fusion in the ICDE
  2025 pure-SQL-inference sense): one exchange, no per-stage joins.

The production job keeps its own front (quality-score filter, optional
perplexity gate, highest-quality survivor per near-dup component).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# funnel columns counted distinct instead of summed
COUNT_DISTINCT = frozenset({"n_packs_spanned"})


def inject(d: DataFrame, copies: list[tuple[Column, int, Column]]) -> DataFrame:
    """Explode each row of ``d`` into the copies whose condition holds.

    ``copies`` holds ``(condition, doc_id offset, text expr)``. The
    result is ``doc_id, text`` followed by the other columns of ``d``:
    the same rows as a union of filtered branches, from one scan.
    """
    rest = [c for c in d.columns if c not in ("doc_id", "text")]
    doc_id = F.col("doc_id")
    arr = F.array(
        *[
            F.when(
                cond,
                F.struct((doc_id + off if off else doc_id).alias("doc_id"), text.alias("text")),
            )
            for cond, off, text in copies
        ]
    )
    return d.select(*rest, F.explode(F.filter(arr, lambda c: c.isNotNull())).alias("__c")).select(
        F.col("__c.doc_id").alias("doc_id"), F.col("__c.text").alias("text"), *rest
    )


def dedup_front(corpus: DataFrame, max_bucket_size: int | None = None):
    """Flags (langid, Gopher rules, bigram-LM perplexity <= 31) ->
    digest-window exact dedup -> star minhash edges, connected
    components and near-dup removal, over ``doc_id, text, source, lang``.

    Returns ``(nd, parts)``: the persisted survivors (``doc_id, source,
    text``) and the funnel parts ``n_docs`` .. ``n_dropped_neardup``.
    ``max_bucket_size=None`` is the oracle-parity form (exhaustive
    buckets); production sweeps pass the hot-bucket guard.
    """
    from pyspark.sql import Window

    from .operators.caching import track
    from .operators.dedup_fuzzy import minhash_star_edges
    from .operators.graph import connected_components
    from .operators.text import (
        bigram_lm_perplexity,
        gopher_rules,
        gopher_stats_exprs,
        langid_expr,
    )

    corpus = track(corpus)  # read by the LM count tables and the flags
    ppl = bigram_lm_perplexity(corpus, "text", "doc_id", keep_threshold=31.0).select(
        "doc_id", "keep"
    )
    base = corpus.select(
        "doc_id",
        "source",
        "lang",
        "text",
        *gopher_stats_exprs("text"),
        langid_expr("text").alias("__lg"),
        F.md5("text").alias("__digest"),
    )
    # persisted: the funnel and the survivor pipeline both read it
    flags = track(
        base.select(
            "doc_id",
            "source",
            "text",
            "__digest",
            (F.col("__lg") == F.col("lang")).alias("lang_ok"),
            gopher_rules()["passes_gopher"].alias("gopher_ok"),
        )
        .join(ppl, "doc_id")
        .withColumn("ppl_ok", F.col("keep") == 1)
        .drop("keep")
    )
    lq = flags.filter("lang_ok AND gopher_ok AND ppl_ok").withColumn(
        "rn", F.row_number().over(Window.partitionBy("__digest").orderBy("doc_id"))
    )
    exact = track(lq.filter("rn = 1").select("doc_id", "source", "text"))
    # star-form CC edges: bucket-min edges, O(k) per band bucket and
    # connectivity-identical to the banded pair join, whose pair list
    # is never an output here
    edges = minhash_star_edges(exact, "text", "doc_id", max_bucket_size=max_bucket_size)
    cc = connected_components(edges, "id_a", "id_b")
    losers = cc.filter(F.col("vertex") != F.col("component")).select(
        F.col("vertex").alias("doc_id")
    )
    nd = track(exact.join(losers, "doc_id", "left_anti"))
    lang_ok, gopher_ok, ppl_ok = F.col("lang_ok"), F.col("gopher_ok"), F.col("ppl_ok")
    parts = [
        (
            flags,
            {
                "n_docs": F.lit(1),
                "n_dropped_lang": F.when(~lang_ok, 1),
                "n_dropped_gopher": F.when(lang_ok & ~gopher_ok, 1),
                "n_dropped_ppl": F.when(lang_ok & gopher_ok & ~ppl_ok, 1),
            },
        ),
        (lq.filter("rn > 1"), {"n_dropped_exact": F.lit(1)}),
        (exact.join(losers, "doc_id"), {"n_dropped_neardup": F.lit(1)}),
    ]
    return nd, parts


def source_funnel(parts: list[tuple[DataFrame, dict[str, Column]]]) -> DataFrame:
    """One aggregate on ``source`` over the union of ``parts``.

    Each part is ``(frame with a source column, {output column: long
    expr})``. Columns come in order of first appearance; each is the
    per-source sum of its non-null values, 0 if none, except
    ``COUNT_DISTINCT`` columns, which count distinct non-null values.
    """
    cols = list(dict.fromkeys(c for _, exprs in parts for c in exprs))
    nul = F.lit(None).cast("long")
    u = reduce(
        DataFrame.unionByName,
        [
            df.select("source", *[exprs.get(c, nul).cast("long").alias(c) for c in cols])
            for df, exprs in parts
        ],
    )
    zero = F.lit(0).cast("long")
    return u.groupBy("source").agg(
        *[
            (F.countDistinct(c) if c in COUNT_DISTINCT else F.coalesce(F.sum(c), zero))
            .cast("long")
            .alias(c)
            for c in cols
        ]
    )
