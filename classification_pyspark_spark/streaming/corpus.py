"""Streaming corpus ingest: one epoch-keyed step, three dedup decisions
(ref dedup surface: ``src/ta_lib/pyspark/dp.py:297-308``; batch twins:
``dedup_exact_text``, ``minhash_candidate_pairs``,
``substring_dedup_rewrite``).

The production shape this models: document files land continuously; a
corpus must accept each arriving document exactly once, across batches
AND across job restarts, without ever rescanning the accumulated
corpus. State is an index of keys derived from every text seen so far,
so the per-trigger cost is O(batch + index-probe), never
O(corpus-text).

Every mode runs the same step (:func:`_ingest_step`) per micro-batch:

1. check the checkpoint tag (below);
2. coalesce NULL text to empty text in a ``__text`` column — a NULL
   key never matches a join, so without it every NULL-text doc would
   be re-accepted in every epoch;
3. read index epochs ``< N`` with the schema of the index rows the
   mode writes (no schema-inference job per micro-batch); a missing
   index (first epoch) is an empty one;
4. ask the mode's decision for ``(accepted rows, index rows)``;
5. overwrite ``sink/epoch=N`` and ``index/epoch=N`` with them;
6. release the decision's persists (one ``track_scope()`` per batch).

A decision maps ``(batch, prior index or None)`` to those two frames
and ``track()``s the frame both writes read:

- exact (:func:`ingest_batch`): md5 digest, lowest doc_id per digest,
  anti-join against the digest index;
- near-dup (:func:`ingest_batch_neardup`): minhash LSH bands, greedy
  in-batch veto plus a veto by any band already in the index;
- span-cut (:func:`ingest_batch_cutspans`): rolling n-gram hashes,
  duplicated spans (batch repeats or index hits) cut out of the text.

Effectively-once without markers: both outputs are keyed by epoch and
overwritten, and the decision probes only index epochs ``< N``. A
checkpoint replay of epoch N therefore recomputes the identical
outputs (its own index rows are excluded from the probe) and
overwrites the same two directories: idempotent by construction, no
ordering between the two writes matters. Epoch ids are only monotonic
within one checkpoint, so the sink records its checkpoint tag and
refuses a different one (the guard ``events.merge_stats_batch`` uses
too).
"""

from __future__ import annotations

import json
import os
from functools import partial

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.caching import track, track_scope
from .events import refuse_foreign_checkpoint, run_foreach_batch

DOCUMENTS_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"


def read_documents_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """File-source stream over a documents landing zone."""
    return (
        spark.readStream.schema(DOCUMENTS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def read_corpus(
    spark: SparkSession, sink_path: str, as_of_epoch: int | None = None
) -> DataFrame:
    """The accepted corpus across all epochs (hive-partitioned dirs).

    ``as_of_epoch`` time-travels: the epoch-keyed layout means the
    corpus AS OF epoch N is exactly the partitions ``epoch <= N`` —
    a partition-pruned scan, no snapshot copies or manifests."""
    df = spark.read.parquet(sink_path)
    if as_of_epoch is not None:
        df = df.filter(F.col("epoch") <= int(as_of_epoch))
    return df.drop("epoch")


def _check_tag(spark: SparkSession, sink_path: str, checkpoint_tag: str | None) -> None:
    """Tag I/O goes through the Hadoop FileSystem API (sources/hdfs.py)
    so the cross-checkpoint guard engages on object-store/HDFS sinks,
    not only on the local filesystem."""
    from ..sources import hdfs

    tag_file = sink_path.rstrip("/") + "/_checkpoint_tag.json"
    raw = hdfs.read_text(spark, tag_file)
    if raw is not None:
        prior = json.loads(raw).get("checkpoint")
        refuse_foreign_checkpoint(f"corpus at {sink_path!r}", prior, checkpoint_tag)
    elif checkpoint_tag is not None:
        hdfs.write_text(spark, tag_file, json.dumps({"checkpoint": checkpoint_tag}))


def _ingest_step(
    batch: DataFrame,
    epoch_id: int,
    sink_path: str,
    index_path: str,
    checkpoint_tag: str | None,
    index_schema: str,
    decide,
) -> None:
    """The foreachBatch step every mode runs (module docstring, steps
    1-6); ``decide(batch, index)`` is the mode's accept decision and
    ``index_schema`` the schema of the index rows it returns."""
    from pyspark.errors import AnalysisException

    spark = batch.sparkSession
    _check_tag(spark, sink_path, checkpoint_tag)
    batch = batch.withColumn("__text", F.coalesce(F.col("text"), F.lit("")))
    # only "index does not exist yet" (first epoch) may be swallowed;
    # any OTHER read failure must abort the batch — silently treating
    # a transient IO error as an empty index would admit duplicates
    # and permanently corrupt the corpus
    try:
        index = spark.read.schema(f"{index_schema}, epoch int").parquet(index_path)
        index = index.filter(F.col("epoch") < int(epoch_id))
    except AnalysisException as e:
        if "PATH_NOT_FOUND" not in str(e):
            raise
        index = None
    with track_scope():
        accepted, index_rows = decide(batch, index)
        accepted.drop("__text").write.mode("overwrite").parquet(
            os.path.join(sink_path, f"epoch={int(epoch_id)}")
        )
        index_rows.write.mode("overwrite").parquet(
            os.path.join(index_path, f"epoch={int(epoch_id)}")
        )


def _drain(docs: DataFrame, step, sink_path: str, index_path: str, checkpoint_path: str,
           **params) -> None:
    run_foreach_batch(
        docs,
        lambda batch, epoch_id: step(
            batch, epoch_id, sink_path, index_path, checkpoint_tag=checkpoint_path, **params
        ),
        checkpoint_path,
    )


# ---------------------------------------------------------------------------
# Exact dedup: the index rows are md5 digests of the accepted texts.
# ---------------------------------------------------------------------------
def ingest_documents(
    docs: DataFrame, sink_path: str, index_path: str, checkpoint_path: str
) -> None:
    """Drain the stream (availableNow) through the exact ingest.
    ``ingest_batch`` is looked up per call, never bound at import, so a
    wrapper installed on the module attribute sees every batch."""
    _drain(docs, ingest_batch, sink_path, index_path, checkpoint_path)


def _digest_anti_join(batch: DataFrame, index: DataFrame | None):
    digested = batch.withColumn("digest", F.md5("__text")).drop("__text")
    w = Window.partitionBy("digest").orderBy("doc_id")
    accepted = (
        digested.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    if index is not None:
        accepted = accepted.join(index.select("digest"), "digest", "left_anti")
    # persist: accepted feeds both writes; without it the digest+dedup+
    # anti-join pipeline runs twice
    accepted = track(accepted)
    return accepted.drop("digest"), accepted.select("digest", "doc_id")


def ingest_batch(
    batch: DataFrame,
    epoch_id: int,
    sink_path: str,
    index_path: str,
    checkpoint_tag: str | None = None,
) -> None:
    """One foreachBatch exact ingest step (module-level so replay
    idempotence is directly testable).

    1. digest each text (md5), dedup within the batch keeping the
       lowest doc_id per digest (deterministic across replays);
    2. anti-join against index epochs < this one — the batch's own
       replayed digests never veto it;
    3. accepted docs -> ``sink/epoch=N``, their digests ->
       ``index/epoch=N``.
    """
    _ingest_step(batch, epoch_id, sink_path, index_path, checkpoint_tag,
                 "digest string, doc_id long", _digest_anti_join)


# ---------------------------------------------------------------------------
# Near-dup (minhash) dedup at ingest — the streaming face of
# operators/dedup_fuzzy.py's incremental index (build_minhash_index /
# minhash_incremental_pairs). The index rows are LSH band hashes
# instead of text digests, so arriving NEAR-duplicates (not just exact
# copies) are vetoed in O(batch + band-probe).
# ---------------------------------------------------------------------------
def ingest_documents_neardup(
    docs: DataFrame,
    sink_path: str,
    index_path: str,
    checkpoint_path: str,
    rows_per_band: int = 8,
    n_hashes: int = 16,
    engine: str = "universal",
) -> None:
    """Drain the stream (availableNow) through the near-dup ingest."""
    _drain(docs, ingest_batch_neardup, sink_path, index_path, checkpoint_path,
           rows_per_band=rows_per_band, n_hashes=n_hashes, engine=engine)


def _band_veto(batch: DataFrame, index: DataFrame | None, rows_per_band: int,
               n_hashes: int, engine: str):
    from ..operators.dedup_fuzzy import minhash_band_long

    bands = minhash_band_long(
        batch.select("doc_id", "__text"), "__text", "doc_id",
        rows_per_band=rows_per_band, n_hashes=n_hashes, engine=engine,
    )
    bucket_min = bands.groupBy("band", "h").agg(F.min("doc_id").alias("__m"))
    ok = (
        bands.join(bucket_min, on=["band", "h"])
        .groupBy("doc_id")
        .agg(F.max((F.col("__m") < F.col("doc_id")).cast("int")).alias("__dup"))
        .filter(F.col("__dup") == 0)
        .select("doc_id")
    )
    if index is not None:
        vetoed = (
            bands.join(index.select("band", "h"), on=["band", "h"], how="left_semi")
            .select("doc_id")
            .distinct()
        )
        ok = ok.join(vetoed, "doc_id", "left_anti")
    # persist: both writes read the accepted ids; without it the band
    # aggregate, its join and the index veto run again for the index
    ok = track(ok)
    return batch.join(ok, "doc_id", "left_semi"), bands.join(ok, "doc_id", "left_semi")


def ingest_batch_neardup(
    batch: DataFrame,
    epoch_id: int,
    sink_path: str,
    index_path: str,
    checkpoint_tag: str | None = None,
    rows_per_band: int = 8,
    n_hashes: int = 16,
    engine: str = "universal",
) -> None:
    """One foreachBatch near-dup ingest step.

    1. LSH band frame for the batch (``minhash_band_long``; NULL text
       bands as empty text, same posture as the digest ingest);
    2. in-batch greedy-by-id: a doc is REJECTED if any of its band
       buckets contains a smaller doc_id. Deterministic and parallel
       (one band-bucket aggregate); transitive near-dup chains
       collapse to the earliest doc — the standard greedy
       approximation of pair clustering (a mid-chain doc can be
       rejected by a doc that was itself rejected), trading bounded
       over-rejection for zero iterative work per trigger;
    3. vs the index: rejected if any band matches epochs < N (the
       batch's own replayed bands never veto it);
    4. accepted docs -> ``sink/epoch=N``; their bands ->
       ``index/epoch=N``. Sound invariant: across the whole accepted
       corpus, every (band, h) bucket has exactly one member.

    ``minhash_band_long`` tracks a persist of the banded signature
    frame; the step's ``track_scope()`` releases exactly the frames
    this batch tracked — a process-wide ``release_tracked()`` would
    also drop persists of registry queries running concurrently in
    the same session.
    """
    _ingest_step(
        batch, epoch_id, sink_path, index_path, checkpoint_tag,
        "doc_id long, band string, h string",
        partial(_band_veto, rows_per_band=rows_per_band, n_hashes=n_hashes, engine=engine),
    )


# ---------------------------------------------------------------------------
# Surgical span dedup at ingest — the streaming face of the Lee-style
# exact-substring family (duplicated_span_extents / span_cut_rewrite /
# production cut_spans). Where the exact/near-dup ingests VETO whole
# arriving documents, this mode CUTS the duplicated token spans out of
# them at write time and keeps the rest: the index rows are the 64-bit
# rolling n-gram hashes of every ORIGINAL text ever seen (duplication
# is a property of what was SEEN, not of what was kept — indexing the
# post-cut text would hide the first occurrence and let the second
# copy through verbatim).
# ---------------------------------------------------------------------------
def ingest_documents_cutspans(
    docs: DataFrame,
    sink_path: str,
    index_path: str,
    checkpoint_path: str,
    n: int = 10,
    min_span: int = 50,
) -> None:
    """Drain the stream (availableNow) through the span-cut ingest."""
    _drain(docs, ingest_batch_cutspans, sink_path, index_path, checkpoint_path,
           n=n, min_span=min_span)


def index_gram_hits(index: DataFrame, stream: DataFrame) -> DataFrame:
    """Gram hashes of ``stream`` (column ``gk``) that exist in the
    persistent index: the index — the only corpus-sized frame — is
    semi-joined against a BROADCAST of the batch's distinct hash set,
    so its scan is shuffle-free (BroadcastHashJoin, never a sort-merge
    or shuffled-hash join) and everything exchanged is batch-bounded.
    Factored out so the plan contract is directly testable."""
    return (
        index.join(F.broadcast(stream.select("gk").distinct()), "gk", "left_semi")
        .select("gk")
        .distinct()
    )


def _span_cut(batch: DataFrame, index: DataFrame | None, n: int, min_span: int):
    from ..operators.dedup_fuzzy import (
        gram_positions,
        kept_cut_text,
        marked_spans,
        span_cut_rewrite,
    )
    from ..operators.text import punct_tok_sql, rolling_gram_hash_sql

    # persist: the batch feeds the gram stream, the rewrite and its
    # join; the gram stream feeds the cut spans and the index rows
    batch = track(batch)
    grams = F.expr(rolling_gram_hash_sql(punct_tok_sql("__text"), n, distinct=False, pad_short=False))
    stream = track(gram_positions(batch, "doc_id", grams))
    dup_gk = (
        stream.groupBy("gk").agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= 2)
        .select("gk")
    )
    if index is not None:
        dup_gk = dup_gk.unionByName(index_gram_hits(index, stream)).distinct()
    spans = marked_spans(stream, F.broadcast(dup_gk), n, min_span)
    rew = span_cut_rewrite(batch, spans, "__text", "doc_id")
    accepted = kept_cut_text(batch.join(rew, "doc_id"), "lang", "source").withColumn(
        "n_chars", F.length(F.coalesce("text", F.lit(""))).cast("long")
    )
    return accepted, stream.select("gk").distinct()


def ingest_batch_cutspans(
    batch: DataFrame,
    epoch_id: int,
    sink_path: str,
    index_path: str,
    checkpoint_tag: str | None = None,
    n: int = 10,
    min_span: int = 50,
) -> None:
    """One foreachBatch span-cut ingest step.

    1. per-position rolling n-gram hashes of the batch texts
       (``text.rolling_gram_hash_sql`` — NULL text grams as empty
       text, same posture as the digest ingest);
    2. a gram position is DUPLICATED when its hash occurs >= 2 times
       within the batch OR at least once in index epochs < N (the
       batch's own replayed index rows never mark it). The index
       probe BROADCASTS the batch's distinct gram-hash set and
       semi-joins the index against it, so the index — the only
       corpus-sized frame — is a shuffle-free columnar scan of one
       8-byte column and everything exchanged is batch-bounded:
       per-trigger cost O(batch + probe), never O(corpus-text);
    3. maximal runs of duplicated positions become cut spans
       (gaps-and-islands over the batch-bounded dup-position frame;
       a run s..e covers tokens s..e+n-1, kept when >= ``min_span``)
       and :func:`~..operators.dedup_fuzzy.span_cut_rewrite` removes
       them — untouched docs keep their ORIGINAL text byte-for-byte,
       cut docs carry the canonical punct rewrite plus its cost in a
       ``tokens_cut`` column, docs cut to nothing are dropped;
    4. surviving docs -> ``sink/epoch=N``; the batch's DISTINCT
       ORIGINAL gram hashes -> ``index/epoch=N``, so checkpoint
       replay recomputes the identical cut set.

    Semantics vs the batch pass: on any corpus where a cross-epoch
    duplicated span was ALSO duplicated within the epoch that first
    saw it, the accumulated sink equals ``substring_dedup_rewrite``
    of the full corpus. A span whose first occurrence was unique at
    its write time keeps that first copy (the sink is write-once;
    the batch pass would cut every occurrence) — exactly Lee et
    al.'s keep-one posture, and the later copies are still cut.
    """
    _ingest_step(batch, epoch_id, sink_path, index_path, checkpoint_tag, "gk long",
                 partial(_span_cut, n=n, min_span=min_span))
