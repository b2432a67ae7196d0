"""The concrete 4-job production pipeline (SURVEY.md §0 item 6).

Parity with the reference's ``production/`` scripts, re-expressed on
this engine's operators over the driver's star schema:

- ``data-cleaning``   = ``production/data_cleaning.py:21-58`` shape:
  per-table dedup + date parsing + column-name cleaning -> parquet.
- ``feature-engineering`` = ``production/feature_engineering.py:
  101-172`` shape: the EP2 customer feature mart (joins + grouped
  aggs + label attach) -> parquet.
- ``training``        = ``production/training.py:23-107`` shape:
  outlier cap -> impute -> assemble -> logistic fit -> model sink.
- ``scoring``         = ``production/scoring.py:21-123`` shape:
  model load -> transform -> labeled scores + binary metrics sinks.

Every processor is ``(spark, params) -> TaskStatus``; registration is
explicit import (``plans.cli`` imports this module), replacing the
reference's ``*.py``-globbing side-effect loader
(``processors.py:32-47``). Run end-to-end with::

    python -m classification_pyspark_spark.plans.cli run \
        -c examples/jobs.yml -j data-cleaning   # then feature-engineering,
                                                # training, scoring
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from .catalog import load_table
from .plans.registry import TaskStatus, register_processor

FEATURES = ["recency_days", "n_orders", "total_spend", "total_qty", "total_revenue"]


@register_processor("data-cleaning", "clean-tables")
def clean_tables(spark: SparkSession, params: dict) -> TaskStatus:
    """Dedup + snake_case names + typed dates for the mart's inputs."""
    from .functions.strings import clean_column_names
    from .operators.dedup import drop_duplicates

    from .sources.io import save_data_observed

    sf_dir = params["sf_dir"]
    out = params["out"]
    written: dict[str, int] = {}
    for table, keys in (
        ("customer", ["c_custkey"]),
        ("orders", ["o_orderkey"]),
        ("lineitem", ["l_orderkey", "l_linenumber"]),
    ):
        df = load_table(spark, sf_dir, table)
        # a PARTIAL key subset would dedup away real rows; use the key
        # only when complete, else fall back to full-row dedup
        keys = keys if all(k in df.columns for k in keys) else None
        cleaned = drop_duplicates(clean_column_names(df), subset=keys)
        if "o_orderdate" in cleaned.columns:
            cleaned = cleaned.withColumn("o_orderdate", F.to_date("o_orderdate"))
        if "l_shipdate" in cleaned.columns:
            cleaned = cleaned.withColumn("l_shipdate", F.to_date("l_shipdate"))
        # the write job itself observes the published row count — no
        # second scan for telemetry
        m = save_data_observed(cleaned, os.path.join(out, table))
        written[table] = m["n_rows"]
    return TaskStatus(True, f"cleaned {written} -> {out}")


@register_processor("feature-engineering", "build-mart")
def build_mart(spark: SparkSession, params: dict) -> TaskStatus:
    """EP2 customer feature mart over the data-cleaning job's output —
    the same ``marts.customer_feature_mart`` dataflow the registry's
    flagship query runs on the raw star schema."""
    from .marts import customer_feature_mart
    from .queries import REF_DATE

    inp, out = params["inp"], params["out"]
    mart = customer_feature_mart(
        spark.read.parquet(os.path.join(inp, "customer")),
        spark.read.parquet(os.path.join(inp, "orders")),
        spark.read.parquet(os.path.join(inp, "lineitem")),
        params.get("ref_date", REF_DATE),
    )
    mart.write.mode("overwrite").parquet(out)
    return TaskStatus(True, f"mart -> {out}")


@register_processor("training", "fit-classifier")
def fit_classifier(spark: SparkSession, params: dict) -> TaskStatus:
    """EP3 fit path: cap -> impute -> assemble -> stratified split ->
    logistic fit -> model + holdout sinks."""
    from .operators.encode import generate_features_vector
    from .operators.impute import Imputer
    from .operators.models import train
    from .operators.outliers import IQR, OutlierTreatment
    from .operators.sampling import stratified_split
    from .sources.io import save_model

    mart = spark.read.parquet(params["inp"])
    capped = OutlierTreatment(FEATURES, method=IQR).fit(mart).transform(mart)
    imputed = Imputer(cols=FEATURES).fit(capped).transform(capped)
    assembled = generate_features_vector(imputed, FEATURES).withColumnRenamed(
        "target_var", "y"
    )
    train_df, test_df = stratified_split(assembled, "y", 0.3, seed=42)
    model = train(
        train_df, "classification", "logistic", features_col="features", label_col="y"
    )
    save_model(model, params["model_out"])
    test_df.drop("features").write.mode("overwrite").parquet(params["holdout_out"])
    return TaskStatus(True, f"model -> {params['model_out']}")


@register_processor("scoring", "score-and-evaluate")
def score_and_evaluate(spark: SparkSession, params: dict) -> TaskStatus:
    """EP3 score path: load -> transform holdout -> scores + metrics."""
    from pyspark.ml.classification import LogisticRegressionModel
    from pyspark.ml.functions import vector_to_array

    from .functions.metrics import auc_roc, binary_classification_metrics
    from .operators.encode import generate_features_vector
    from .operators.models import prediction_label_expr

    holdout = spark.read.parquet(params["holdout_inp"])
    assembled = generate_features_vector(holdout, FEATURES)
    model = LogisticRegressionModel.load(params["model_inp"])
    scored = model.transform(assembled).select(
        "c_custkey",
        "y",
        prediction_label_expr("probability", threshold=0.5).alias("pred"),
        vector_to_array("probability")[1].cast("double").alias("score"),
    )
    scored.write.mode("overwrite").parquet(params["scores_out"])
    metrics = binary_classification_metrics(scored, "y", "score", threshold=0.5)
    auc = auc_roc(scored, "y", "score")
    metrics.crossJoin(auc).write.mode("overwrite").parquet(params["metrics_out"])
    return TaskStatus(True, f"scores -> {params['scores_out']}")


@register_processor("corpus-curation", "curate-documents")
def curate_documents(spark: SparkSession, params: dict) -> TaskStatus:
    """The LLM-corpus curation job (north-star extension; no reference
    twin): language filter + Gopher quality rules + exact dedup +
    minhash near-dup removal -> curated parquet + a per-source drop
    report.

    Production posture: the fuzzy-pair stage runs with the hot-bucket
    guard ON (``max_bucket_size`` defaults in ``dedup_fuzzy``), so a
    boilerplate-heavy drop never fans out k^2 pairs; exact dups go
    through the cheap digest path first so the guard's drop-the-bucket
    semantics only ever see already-exact-deduped docs.

    Optional SURGICAL pass (``cut_spans: true``, knobs ``span_n`` /
    ``min_span``): after near-dup removal, the Lee-style maximal
    duplicated token spans of the survivor corpus are CUT from the
    text instead of shipping duplicated passages verbatim — the
    curated sink then carries ``text`` plus a ``tokens_cut`` column.
    UNTOUCHED docs (no spans) pass their ORIGINAL text through
    unchanged — casing, punctuation, and whitespace intact; only docs
    that actually lost a span carry the rewritten text, which is at
    the canonical punct tokenization (lowercased, space-joined —
    token cuts don't map back to character offsets). Docs cut to
    nothing are dropped from the sink but stay in the accounting: the
    per-source report gains ``tokens_cut`` (ALL cut tokens, including
    zero-kept docs' full token counts, so the funnel ties out against
    the sink) and ``n_dropped_cut`` (docs removed because the cut
    left nothing). Same primitives as the ``substring_dedup_rewrite``
    / ``corpus_curation_surgical`` registry queries.
    """
    from pyspark.sql import Window

    from .curation import source_funnel
    from .operators.caching import track
    from .operators.dedup_fuzzy import minhash_star_edges
    from .operators.text import langid_expr, quality_score_expr
    from .sources.io import save_data_observed

    sf_dir = params["sf_dir"]
    out = params["out"]
    report_out = params.get("report_out")
    min_quality = float(params.get("min_quality", 0.65))
    max_ppl = params.get("max_ppl")  # optional bigram-LM perplexity gate

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text", "source", "lang")
    flagged = d.select(
        "*",
        langid_expr("text").alias("__lg"),
        quality_score_expr("text").alias("__q"),
        F.md5("text").alias("__digest"),
    )
    lang_ok = F.col("__lg") == F.col("lang")
    passed_lq = lang_ok & (F.col("__q") >= min_quality)
    kept = flagged.filter(passed_lq)
    scores = None
    if max_ppl is not None:
        # LM-perplexity gate (CCNet-style): score against the corpus
        # bigram LM and drop high-ppl docs; sub-2-token docs carry an
        # explicit keep=0 verdict, so they drop here too. Persist the
        # verdict projection: it feeds BOTH the curated sink and the
        # drop report — without the persist the full corpus LM (two
        # corpus-wide explodes + count tables) would run twice, the
        # same re-execution hazard the observed write below avoids.
        from .operators.text import bigram_lm_perplexity

        scores = track(
            bigram_lm_perplexity(d, "text", "doc_id", keep_threshold=float(max_ppl)).select(
                "doc_id", "keep"
            )
        )
        kept = kept.join(scores.filter(F.col("keep") == 1).select("doc_id"), "doc_id")
    # exact dedup first (digest window, keep lowest doc_id) ...
    rn = F.row_number().over(Window.partitionBy("__digest").orderBy("doc_id"))
    # persist: `exact` feeds the pair stage, the per-cluster quality
    # ranking, AND the final anti-join — without it the corpus-wide
    # langid+quality+digest pipeline re-executes per consumer (the
    # same re-execution hazard the `scores` persist above avoids)
    exact = track(kept.withColumn("__rn", rn).filter(F.col("__rn") == 1).drop("__rn"))
    # ... then near-dup removal: guarded banded pairs -> connected
    # components -> keep the HIGHEST-QUALITY member of each near-dup
    # cluster (tie: lowest doc_id). Transitively complete — a chain
    # A~B~C collapses to ONE survivor even when the middle member
    # would lose both pairwise contests — and the survivor is the best
    # copy, not merely the earliest-ingested one.
    from .operators.graph import connected_components

    # star-form CC edges (r10): connectivity-identical to the banded
    # pair join, O(k) edges per bucket instead of O(k²) — the pair
    # list is not an output here, only the components are consumed.
    # Hot-bucket guard stays ON by default (same cap as the pair form).
    edges = minhash_star_edges(exact, "text", "doc_id")
    comp = connected_components(edges, "id_a", "id_b")
    keep_rank = F.row_number().over(
        Window.partitionBy("component").orderBy(F.desc("__q"), F.asc("doc_id"))
    )
    losers = (
        comp.join(exact.select("doc_id", "__q"), comp.vertex == F.col("doc_id"))
        .withColumn("__kr", keep_rank)
        .filter(F.col("__kr") > 1)
        .select("doc_id")
    )
    surv = exact.join(losers, "doc_id", "left_anti")
    cut_spans = bool(params.get("cut_spans", False))
    if cut_spans:
        from .operators.dedup_fuzzy import (
            duplicated_span_extents,
            kept_cut_text,
            span_cut_rewrite,
        )

        # persist: the survivor frame feeds span detection (two
        # consumers inside the operator) and the rewrite base
        surv = track(surv)
        spans = duplicated_span_extents(
            surv,
            "text",
            "doc_id",
            n=int(params.get("span_n", 10)),
            min_span=int(params.get("min_span", 50)),
            ordered=False,  # cut list feeds the rewrite, not a report
        )
        # persist: the rewrite feeds the curated sink AND the report's
        # cut totals — the span lineage runs once
        cut = track(surv.join(span_cut_rewrite(surv, spans, "text", "doc_id"), "doc_id"))
        # untouched docs keep their ORIGINAL text (ADVICE r8: a
        # corpus-wide lossy normalization behind one knob was a
        # surprising default); docs cut to nothing are dropped
        curated = kept_cut_text(cut, "source", "lang", F.col("__q").alias("quality"))
    else:
        curated = surv.select("doc_id", "text", "source", "lang", F.col("__q").alias("quality"))
    # the write job counts its own rows; counting `curated` would re-run
    # the whole scoring + minhash pair join for the status message
    n = save_data_observed(curated, out)["n_rows"]
    if report_out:
        rep_src, ppl_drop = flagged, F.lit(0)
        if scores is not None:
            # attribute perplexity-gate drops too: docs that passed the
            # lang + quality filters but scored keep=0
            rep_src = flagged.join(
                scores.select("doc_id", F.col("keep").alias("__ppl_keep")), "doc_id", "left"
            )
            ppl_drop = F.when(passed_lq & (F.coalesce("__ppl_keep", F.lit(0)) == 0), 1)
        parts = [
            (
                rep_src,
                {
                    "n_docs": F.lit(1),
                    "n_dropped_lang": F.when(~lang_ok, 1),
                    "n_dropped_quality": F.when(lang_ok & (F.col("__q") < min_quality), 1),
                    "n_dropped_ppl": ppl_drop,
                },
            )
        ]
        if cut_spans:
            # every survivor's cut: tokens_cut counts ALL cut tokens
            # (a zero-kept doc's whole token count included, ADVICE r8)
            # and n_dropped_cut the docs the cut left empty, so the
            # funnel ties out against the sink
            parts.append(
                (
                    cut,
                    {
                        "n_dropped_cut": F.when(F.col("n_kept") == 0, 1),
                        "tokens_cut": F.col("n_tokens") - F.col("n_kept"),
                    },
                )
            )
        source_funnel(parts).write.mode("overwrite").parquet(report_out)
    return TaskStatus(True, f"{n} curated docs")


def _ingest_job(
    spark: SparkSession, params: dict, label: str, drain, cut: bool = False, **mode
) -> TaskStatus:
    """The body the three ``corpus-ingest`` tasks share: drain whatever
    document files have landed since the last run (availableNow)
    through the mode's ``streaming/corpus.py`` ingest, then report the
    corpus size (and, with ``cut``, the tokens cut the sink records) in
    one aggregate. The sink is read with the fixed schema the ingest
    writes, so no job infers it. Params: landing/sink/index/checkpoint,
    optional max_files_per_trigger (default 8)."""
    from pyspark.errors import AnalysisException

    from .streaming.corpus import read_documents_stream

    sink = params["sink"]
    stream = read_documents_stream(
        spark, params["landing"], max_files_per_trigger=int(params.get("max_files_per_trigger", 8))
    )
    drain(stream, sink, params["index"], params["checkpoint"], **mode)
    schema = "doc_id long, tokens_cut long" if cut else "doc_id long"
    try:
        corpus = spark.read.schema(schema).parquet(sink)
    except AnalysisException:  # empty landing zone: no batch ever wrote the sink
        return TaskStatus(True, f"{label} at {sink}: 0 documents")
    row = corpus.agg(F.count(F.lit(1)), *([F.sum("tokens_cut")] if cut else [])).first()
    msg = f"{label} at {sink}: {row[0]} documents"
    return TaskStatus(True, msg + (f", {row[1] or 0} tokens cut" if cut else ""))


@register_processor("corpus-ingest", "ingest-documents")
def ingest_documents_job(spark: SparkSession, params: dict) -> TaskStatus:
    """Streaming corpus ingest as an orchestrated job: drain the landing
    zone into the deduped corpus + digest index. Re-running the job is
    the scheduler's incremental refresh — the checkpoint skips already-
    ingested files and the digest index rejects already-seen texts,
    so an hourly cadence costs O(new files), never O(corpus). See
    ``streaming/corpus.py`` for the effectively-once mechanics."""
    from .streaming.corpus import ingest_documents

    return _ingest_job(spark, params, "exact-deduped corpus", ingest_documents)


@register_processor("corpus-ingest", "ingest-documents-neardup")
def ingest_documents_neardup_job(spark: SparkSession, params: dict) -> TaskStatus:
    """Near-dup (minhash) streaming ingest as an orchestrated job —
    the band-index twin of ``ingest-documents``: the same availableNow
    drain and epoch-keyed idempotence, but arriving NEAR-duplicates
    (not just exact copies) are vetoed against the persistent LSH band
    index. Optional params rows_per_band, n_hashes, engine — defaults
    are the production H=16/r=8 universal banding."""
    from .streaming.corpus import ingest_documents_neardup

    return _ingest_job(
        spark, params, "near-dup-deduped corpus", ingest_documents_neardup,
        rows_per_band=int(params.get("rows_per_band", 8)),
        n_hashes=int(params.get("n_hashes", 16)),
        engine=params.get("engine", "universal"),
    )


@register_processor("corpus-ingest", "ingest-documents-cutspans")
def ingest_documents_cutspans_job(spark: SparkSession, params: dict) -> TaskStatus:
    """Surgical span-cut streaming ingest as an orchestrated job — the
    Lee-style twin of ``ingest-documents``: instead of vetoing whole
    arriving documents, duplicated >= ``min_span``-token spans
    (batch-local repeats OR matches against the persistent gram-hash
    index of everything previously seen) are CUT from the text at
    write time; untouched docs land byte-identical, docs cut to
    nothing are dropped, and every sink row carries ``tokens_cut``.
    Optional params span_n / min_span, defaults 10/50 — the
    registry/production cut knobs."""
    from .streaming.corpus import ingest_documents_cutspans

    return _ingest_job(
        spark, params, "span-cut corpus", ingest_documents_cutspans, cut=True,
        n=int(params.get("span_n", 10)), min_span=int(params.get("min_span", 50)),
    )
