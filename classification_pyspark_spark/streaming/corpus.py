"""Streaming corpus ingest with exact dedup against a persistent
digest index — the ingest-time half of the batch dedup family
(ref dedup surface: ``src/ta_lib/pyspark/dp.py:297-308``; batch twins:
``dedup_exact_text``, ``doc_fingerprint``).

The production shape this models: document files land continuously; a
corpus must accept each NEW text exactly once, across batches AND
across job restarts, without ever rescanning the accumulated corpus.
State is a digest index (md5 of the text), so the per-trigger cost is
O(batch + index-probe), never O(corpus-text).

Effectively-once without markers: every output is keyed by epoch —
accepted docs go to ``sink/epoch=N``, their digests to
``index/epoch=N``, both with overwrite — and the accept decision
anti-joins only index epochs ``< N``. A checkpoint replay of epoch N
therefore recomputes the identical accept set (its own digests are
excluded from the probe) and overwrites the same two directories:
idempotent by construction, no ordering between the two writes
matters. Epoch ids are only monotonic within one checkpoint, so the
sink records its checkpoint tag and refuses a different one (same
contract as ``events.merge_stats_batch``).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

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


def ingest_documents(
    docs: DataFrame, sink_path: str, index_path: str, checkpoint_path: str
) -> None:
    """Drain the stream (availableNow) through the dedup ingest."""
    (
        docs.writeStream.foreachBatch(
            lambda batch, epoch_id: ingest_batch(
                batch, epoch_id, sink_path, index_path, checkpoint_tag=checkpoint_path
            )
        )
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
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
        if checkpoint_tag is not None and prior is not None and prior != checkpoint_tag:
            raise RuntimeError(
                f"corpus at {sink_path!r} was built by checkpoint {prior!r} but this "
                f"stream uses {checkpoint_tag!r}; epoch ids are not comparable across "
                "checkpoints. Restore the original checkpoint or delete the corpus "
                "and index to rebuild."
            )
    elif checkpoint_tag is not None:
        hdfs.write_text(spark, tag_file, json.dumps({"checkpoint": checkpoint_tag}))


def ingest_batch(
    batch: DataFrame,
    epoch_id: int,
    sink_path: str,
    index_path: str,
    checkpoint_tag: str | None = None,
) -> None:
    """One foreachBatch ingest step (module-level so replay idempotence
    is directly testable).

    1. digest each text (md5), dedup within the batch keeping the
       lowest doc_id per digest (deterministic across replays);
    2. anti-join against index epochs < this one — the batch's own
       replayed digests never veto it;
    3. overwrite ``sink/epoch=N`` with the accepted docs and
       ``index/epoch=N`` with their digests.
    """
    spark = batch.sparkSession
    _check_tag(spark, sink_path, checkpoint_tag)
    # NULL text digests as empty text: md5(NULL) is NULL, and NULL
    # never matches an anti-join key, so without the coalesce every
    # NULL-text doc would be re-accepted in every epoch
    digested = batch.withColumn("digest", F.md5(F.coalesce(F.col("text"), F.lit(""))))
    w = Window.partitionBy("digest").orderBy("doc_id")
    in_batch = (
        digested.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    # only "index does not exist yet" (first epoch) may be swallowed;
    # any OTHER read failure must abort the batch — silently treating
    # a transient IO error as an empty index would admit duplicates
    # and permanently corrupt the corpus
    from pyspark.errors import AnalysisException

    try:
        # the schema the sinks below write; reading with it skips a
        # schema-inference job per micro-batch
        index = spark.read.schema("digest string, doc_id long, epoch int").parquet(index_path)
        index = index.filter(F.col("epoch") < int(epoch_id))
    except AnalysisException as e:
        if "PATH_NOT_FOUND" not in str(e):
            raise
        index = None
    accepted = (
        in_batch
        if index is None
        else in_batch.join(index.select("digest"), "digest", "left_anti")
    )
    # persist: accepted feeds two sinks; without it the digest+dedup+
    # anti-join pipeline runs twice
    accepted = accepted.persist()
    try:
        accepted.drop("digest").write.mode("overwrite").parquet(
            os.path.join(sink_path, f"epoch={int(epoch_id)}")
        )
        accepted.select("digest", "doc_id").write.mode("overwrite").parquet(
            os.path.join(index_path, f"epoch={int(epoch_id)}")
        )
    finally:
        accepted.unpersist()


# ---------------------------------------------------------------------------
# Near-dup (minhash) dedup at ingest — the streaming face of
# operators/dedup_fuzzy.py's incremental index (build_minhash_index /
# minhash_incremental_pairs). Same epoch-keyed idempotence contract as
# the exact-digest ingest above; the index rows are LSH band hashes
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
    (
        docs.writeStream.foreachBatch(
            lambda batch, epoch_id: ingest_batch_neardup(
                batch, epoch_id, sink_path, index_path,
                checkpoint_tag=checkpoint_path,
                rows_per_band=rows_per_band, n_hashes=n_hashes, engine=engine,
            )
        )
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


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
       ``index/epoch=N`` — overwrite both, so checkpoint replay is
       idempotent by construction. Sound invariant: across the whole
       accepted corpus, every (band, h) bucket has exactly one member.
    """
    from ..operators.caching import track_scope
    from ..operators.dedup_fuzzy import minhash_band_long

    spark = batch.sparkSession
    _check_tag(spark, sink_path, checkpoint_tag)
    safe = batch.withColumn("__text", F.coalesce(F.col("text"), F.lit("")))
    with track_scope():
        _ingest_batch_neardup_body(
            spark, batch, safe, epoch_id, sink_path, index_path,
            rows_per_band, n_hashes, engine,
        )


def _ingest_batch_neardup_body(
    spark, batch, safe, epoch_id, sink_path, index_path,
    rows_per_band, n_hashes, engine,
) -> None:
    from ..operators.dedup_fuzzy import minhash_band_long

    bands = minhash_band_long(
        safe.select("doc_id", "__text"), "__text", "doc_id",
        rows_per_band=rows_per_band, n_hashes=n_hashes, engine=engine,
    )
    bucket_min = bands.groupBy("band", "h").agg(F.min("doc_id").alias("__m"))
    in_batch_ok = (
        bands.join(bucket_min, on=["band", "h"])
        .groupBy("doc_id")
        .agg(F.max((F.col("__m") < F.col("doc_id")).cast("int")).alias("__dup"))
        .filter(F.col("__dup") == 0)
        .select("doc_id")
    )
    from pyspark.errors import AnalysisException

    try:
        index = spark.read.parquet(index_path).filter(F.col("epoch") < int(epoch_id))
    except AnalysisException as e:
        if "PATH_NOT_FOUND" not in str(e):
            raise
        index = None
    ok = in_batch_ok
    if index is not None:
        vetoed = (
            bands.join(index.select("band", "h"), on=["band", "h"], how="left_semi")
            .select("doc_id")
            .distinct()
        )
        ok = ok.join(vetoed, "doc_id", "left_anti")
    accepted = batch.join(ok, "doc_id", "left_semi").persist()
    try:
        accepted.write.mode("overwrite").parquet(
            os.path.join(sink_path, f"epoch={int(epoch_id)}")
        )
        bands.join(ok, "doc_id", "left_semi").write.mode("overwrite").parquet(
            os.path.join(index_path, f"epoch={int(epoch_id)}")
        )
    finally:
        accepted.unpersist()
        # minhash_band_long tracked a persist of the banded signature
        # frame; a long-running stream would accumulate one cached
        # frame per trigger. The enclosing track_scope() in
        # ingest_batch_neardup releases exactly the frames THIS batch
        # tracked — a process-wide release_tracked() here would also
        # drop persists belonging to registry queries running
        # concurrently in the same session.


# ---------------------------------------------------------------------------
# Surgical span dedup at ingest — the streaming face of the Lee-style
# exact-substring family (duplicated_span_extents / span_cut_rewrite /
# production cut_spans). Where the exact/near-dup ingests VETO whole
# arriving documents, this mode CUTS the duplicated token spans out of
# them at write time and keeps the rest: the index rows are the 64-bit
# rolling n-gram hashes of every ORIGINAL text ever seen (duplication
# is a property of what was SEEN, not of what was kept — indexing the
# post-cut text would hide the first occurrence and let the second
# copy through verbatim). Same epoch-keyed idempotence contract as the
# other two ingests.
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
    (
        docs.writeStream.foreachBatch(
            lambda batch, epoch_id: ingest_batch_cutspans(
                batch, epoch_id, sink_path, index_path,
                checkpoint_tag=checkpoint_path, n=n, min_span=min_span,
            )
        )
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


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
       ORIGINAL gram hashes -> ``index/epoch=N`` — overwrite both, so
       checkpoint replay recomputes the identical cut set and is
       idempotent by construction.

    Semantics vs the batch pass: on any corpus where a cross-epoch
    duplicated span was ALSO duplicated within the epoch that first
    saw it, the accumulated sink equals ``substring_dedup_rewrite``
    of the full corpus. A span whose first occurrence was unique at
    its write time keeps that first copy (the sink is write-once;
    the batch pass would cut every occurrence) — exactly Lee et
    al.'s keep-one posture, and the later copies are still cut.
    """
    from ..operators.dedup_fuzzy import span_cut_rewrite
    from ..operators.text import punct_tok_sql, rolling_gram_hash_sql

    spark = batch.sparkSession
    _check_tag(spark, sink_path, checkpoint_tag)
    safe = batch.withColumn("__text", F.coalesce(F.col("text"), F.lit(""))).persist()
    grams = F.expr(rolling_gram_hash_sql(punct_tok_sql("__text"), n, distinct=False, pad_short=False))
    stream = (
        safe.select(F.col("doc_id"), F.posexplode(grams).alias("p0", "gk"))
        .select("doc_id", (F.col("p0") + 1).cast("long").alias("pos"), "gk")
        .persist()
    )
    batch_dup = (
        stream.groupBy("gk").agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= 2)
        .select("gk")
    )
    from pyspark.errors import AnalysisException

    try:
        index = spark.read.parquet(index_path).filter(F.col("epoch") < int(epoch_id))
    except AnalysisException as e:
        if "PATH_NOT_FOUND" not in str(e):
            raise
        index = None
    dup_gk = batch_dup
    if index is not None:
        dup_gk = batch_dup.unionByName(index_gram_hits(index, stream)).distinct()
    w = Window.partitionBy("doc_id").orderBy("pos")
    spans = (
        stream.join(F.broadcast(dup_gk), "gk", "left_semi")
        .select("doc_id", "pos", (F.col("pos") - F.row_number().over(w)).alias("grp"))
        .groupBy("doc_id", "grp")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            (F.count(F.lit(1)) + (n - 1)).cast("long").alias("span_len"),
        )
        .filter(F.col("span_len") >= min_span)
        .select("doc_id", "span_start", "span_len")
    )
    rew = span_cut_rewrite(safe, spans, "__text", "doc_id")
    accepted = (
        safe.join(rew, "doc_id")
        .filter(F.col("n_kept") > 0)
        .select(
            "doc_id",
            F.when(F.col("n_kept") == F.col("n_tokens"), F.col("text"))
            .otherwise(F.col("kept_text"))
            .alias("text"),
            "lang",
            "source",
            (F.col("n_tokens") - F.col("n_kept")).cast("long").alias("tokens_cut"),
        )
        .withColumn("n_chars", F.length(F.coalesce("text", F.lit(""))).cast("long"))
    )
    try:
        accepted.write.mode("overwrite").parquet(
            os.path.join(sink_path, f"epoch={int(epoch_id)}")
        )
        stream.select("gk").distinct().write.mode("overwrite").parquet(
            os.path.join(index_path, f"epoch={int(epoch_id)}")
        )
    finally:
        stream.unpersist()
        safe.unpersist()
