"""Streaming corpus ingest: exact-dedup-against-index across batches,
checkpoint replay idempotence, and restart-resume with late files."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from classification_pyspark_spark.catalog import load_table
from classification_pyspark_spark.streaming.corpus import (
    ingest_batch,
    ingest_documents,
    read_corpus,
    read_documents_stream,
)


@pytest.fixture()
def landing(spark, sf_dir, tmp_path_factory):
    """Documents staged as 4 landing files (the corpus has exact-dup
    texts across them, so cross-batch dedup is actually exercised)."""
    out = str(tmp_path_factory.mktemp("docs_landing"))
    load_table(spark, sf_dir, "documents").repartition(4).write.mode("overwrite").parquet(out)
    yield out
    shutil.rmtree(out, ignore_errors=True)


def _expected_corpus(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").withColumn("digest", F.md5("text"))
    keep = docs.groupBy("digest").agg(F.min("doc_id").alias("doc_id"))
    return docs.join(keep, ["digest", "doc_id"], "left_semi")


def test_streaming_ingest_dedups_across_batches(spark, sf_dir, landing, tmp_path_factory):
    base = tmp_path_factory.mktemp("ingest")
    sink, index, ckpt = str(base / "sink"), str(base / "index"), str(base / "ckpt")
    stream = read_documents_stream(spark, landing, max_files_per_trigger=1)
    ingest_documents(stream, sink, index, ckpt)

    got = read_corpus(spark, sink)
    want = _expected_corpus(spark, sf_dir)
    # one row per distinct text, and (digest-dedup being keyed on
    # min doc_id only within arrival order) the digest SETS must match
    assert got.count() == want.select("digest").distinct().count()
    got_digests = got.withColumn("digest", F.md5("text")).select("digest")
    assert got_digests.distinct().count() == got.count()  # no dup ever accepted
    assert got_digests.exceptAll(want.select("digest")).count() == 0
    assert want.select("digest").exceptAll(got_digests).count() == 0


def test_ingest_batch_replay_is_idempotent(spark, sf_dir, tmp_path_factory):
    base = tmp_path_factory.mktemp("replay")
    sink, index = str(base / "sink"), str(base / "index")
    docs = load_table(spark, sf_dir, "documents").limit(100)
    ingest_batch(docs, 0, sink, index, checkpoint_tag="ck")
    first = sorted(r["doc_id"] for r in read_corpus(spark, sink).collect())
    # replay the same epoch (as after a crash before checkpoint commit):
    # its own epoch-0 digests must NOT veto it, and outputs overwrite
    ingest_batch(docs, 0, sink, index, checkpoint_tag="ck")
    again = sorted(r["doc_id"] for r in read_corpus(spark, sink).collect())
    assert first == again and len(first) > 0
    # a later epoch with the same texts is fully rejected by the index
    ingest_batch(docs, 1, sink, index, checkpoint_tag="ck")
    assert sorted(r["doc_id"] for r in read_corpus(spark, sink).collect()) == first


def test_restart_resumes_and_accepts_only_new(spark, sf_dir, landing, tmp_path_factory):
    base = tmp_path_factory.mktemp("resume")
    sink, index, ckpt = str(base / "sink"), str(base / "index"), str(base / "ckpt")
    ingest_documents(read_documents_stream(spark, landing), sink, index, ckpt)
    n1 = read_corpus(spark, sink).count()

    # a late file: 3 docs already in the corpus + 2 genuinely new texts
    old = load_table(spark, sf_dir, "documents").limit(3)
    new = spark.createDataFrame(
        [(900001, "a brand new never seen text", "en", "late", 27),
         (900002, "another genuinely new text", "en", "late", 26)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    old.unionByName(new).coalesce(1).write.mode("append").parquet(landing)

    ingest_documents(read_documents_stream(spark, landing), sink, index, ckpt)
    corpus = read_corpus(spark, sink)
    assert corpus.count() == n1 + 2
    assert corpus.filter(F.col("source") == "late").count() == 2


def test_ingest_refuses_foreign_checkpoint(spark, sf_dir, tmp_path_factory):
    base = tmp_path_factory.mktemp("foreign")
    sink, index = str(base / "sink"), str(base / "index")
    docs = load_table(spark, sf_dir, "documents").limit(10)
    ingest_batch(docs, 0, sink, index, checkpoint_tag="ck-a")
    with pytest.raises(RuntimeError, match="checkpoint"):
        ingest_batch(docs, 1, sink, index, checkpoint_tag="ck-b")


def test_null_text_accepted_exactly_once(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("nulls")
    sink, index = str(base / "sink"), str(base / "index")
    rows = [(1, None, "en", "s", 0), (2, "real text", "en", "s", 9)]
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    b0 = spark.createDataFrame(rows, schema)
    ingest_batch(b0, 0, sink, index, checkpoint_tag="ck")
    # a later epoch re-delivers a NULL-text doc: the index must veto it
    b1 = spark.createDataFrame([(3, None, "en", "s", 0)], schema)
    ingest_batch(b1, 1, sink, index, checkpoint_tag="ck")
    corpus = read_corpus(spark, sink)
    assert corpus.count() == 2  # one NULL-text doc + one real doc, ever
    assert corpus.filter(F.col("text").isNull()).count() == 1


def test_neardup_ingest_vetoes_across_batches_and_replays(spark, sf_dir, tmp_path_factory):
    """Near-dup minhash ingest: exact copies are deterministically
    vetoed (they share EVERY band bucket with the original, in-batch or
    cross-epoch); the accepted corpus satisfies the sound invariant —
    every (band, h) bucket globally unique; and a checkpoint replay of
    an epoch reproduces the identical accept set."""
    from classification_pyspark_spark.operators.dedup_fuzzy import minhash_band_long
    from classification_pyspark_spark.streaming.corpus import (
        ingest_batch_neardup,
        ingest_documents_neardup,
        read_corpus,
        read_documents_stream,
    )

    base = tmp_path_factory.mktemp("neardup")
    landing = str(base / "landing")
    sink, index, ckpt = str(base / "sink"), str(base / "index"), str(base / "ckpt")

    docs = load_table(spark, sf_dir, "documents").limit(60)
    # file 1: originals; file 2 (appended later => later mtime => later
    # trigger): exact copies under shifted ids + two fresh texts — the
    # copies MUST be vetoed cross-batch
    fresh = spark.createDataFrame(
        [(700001, "an entirely unprecedented document body xyzzy", "en", "t", 45),
         (700002, "quite another wholly novel body of text plugh", "en", "t", 45)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    docs.select(*fresh.columns).coalesce(1).write.mode("overwrite").parquet(landing)
    import time as _time

    _time.sleep(1.1)  # distinct mtimes: the file source orders by timestamp
    copies = docs.limit(20).withColumn("doc_id", F.col("doc_id") + 500000)
    copies.select(*fresh.columns).unionByName(fresh).coalesce(1).write.mode(
        "append"
    ).parquet(landing)

    ingest_documents_neardup(
        read_documents_stream(spark, landing), sink, index, ckpt
    )
    got = read_corpus(spark, sink)
    got_ids = {r["doc_id"] for r in got.select("doc_id").collect()}
    assert not any(i >= 500000 and i < 700000 for i in got_ids)  # copies vetoed
    assert {700001, 700002} <= got_ids  # fresh texts accepted

    # sound invariant: accepted band buckets are globally unique
    bands = minhash_band_long(
        got.withColumn("__t", F.coalesce("text", F.lit(""))), "__t", "doc_id",
        rows_per_band=8, n_hashes=16, engine="universal",
    )
    assert bands.groupBy("band", "h").count().filter("count > 1").count() == 0

    # replay idempotence: re-running the LAST epoch overwrites in place
    epochs = sorted(
        int(r["epoch"]) for r in spark.read.parquet(sink).select("epoch").distinct().collect()
    )
    last = epochs[-1]
    replay_batch = copies.select(*fresh.columns).unionByName(fresh)
    before = sorted(got_ids)
    ingest_batch_neardup(replay_batch, last, sink, index, checkpoint_tag=ckpt)
    after = sorted(r["doc_id"] for r in read_corpus(spark, sink).select("doc_id").collect())
    assert before == after


def test_read_corpus_as_of_epoch_time_travel(spark, sf_dir, tmp_path_factory):
    base = tmp_path_factory.mktemp("travel")
    sink, index = str(base / "sink"), str(base / "index")
    docs = load_table(spark, sf_dir, "documents")
    ingest_batch(docs.filter(F.col("doc_id") < 100), 0, sink, index, checkpoint_tag="ck")
    n0 = read_corpus(spark, sink).count()
    ingest_batch(docs.filter(F.col("doc_id") >= 100), 1, sink, index, checkpoint_tag="ck")
    full = read_corpus(spark, sink).count()
    assert full > n0
    assert read_corpus(spark, sink, as_of_epoch=0).count() == n0
    assert read_corpus(spark, sink, as_of_epoch=1).count() == full


# ---------------------------------------------------------------------------
# Surgical span-cut ingest (round-9: the streaming face of the
# substring_dedup_rewrite / production cut_spans family).
# ---------------------------------------------------------------------------
_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"
_PREFIX_A = "the and of is to " + " ".join("a%d" % i for i in range(10))
_BLOCK_X = " ".join("x%02d" % i for i in range(60))
_CLEAN_B = "The quick Brown fox, " + " ".join("u%02d" % i for i in range(40)) + " — Casing kept!"
_PREFIX_C = "we you they he she " + " ".join("c%d" % i for i in range(10))
_CLEAN_D = "another Clean document: " + " ".join("v%02d" % i for i in range(40))


def _cutspans_fixture(spark):
    """Epoch 0: docA self-repeats block X (both copies duplicated
    batch-locally) + clean docB. Epoch 1: docC carries ONE copy of X
    (duplicated only via the gram index), clean docD, and docE that is
    nothing but X (cut to zero). Every cross-epoch duplicated span was
    batch-locally duplicated at first sight, so the documented
    contract says the accumulated sink equals the batch rewrite."""
    e0 = spark.createDataFrame(
        [
            (1, f"{_PREFIX_A} {_BLOCK_X} {_BLOCK_X}", "en", "s0", 1),
            (2, _CLEAN_B, "en", "s0", 1),
        ],
        _SCHEMA,
    )
    e1 = spark.createDataFrame(
        [
            (3, f"{_PREFIX_C} {_BLOCK_X}", "en", "s1", 1),
            (4, _CLEAN_D, "en", "s1", 1),
            (5, _BLOCK_X, "en", "s1", 1),
        ],
        _SCHEMA,
    )
    return e0, e1


def test_cutspans_ingest_equals_batch_rewrite(spark, tmp_path_factory):
    """Cut-at-ingest across two triggers reproduces the batch
    substring_dedup_rewrite of the full corpus: per-doc tokens_cut
    identical, cut docs carry the rewrite text, untouched docs keep
    their ORIGINAL text byte-for-byte (casing/punctuation intact),
    and the doc cut to nothing is dropped from the sink."""
    from classification_pyspark_spark.operators.dedup_fuzzy import (
        duplicated_span_extents,
        span_cut_rewrite,
    )
    from classification_pyspark_spark.streaming.corpus import (
        ingest_documents_cutspans,
    )

    base = tmp_path_factory.mktemp("cutspans")
    landing = str(base / "landing")
    sink, index, ckpt = str(base / "sink"), str(base / "index"), str(base / "ckpt")
    e0, e1 = _cutspans_fixture(spark)

    # two availableNow drains on one checkpoint -> epochs 0 and 1
    e0.coalesce(1).write.mode("append").parquet(landing)
    ingest_documents_cutspans(read_documents_stream(spark, landing), sink, index, ckpt)
    e1.coalesce(1).write.mode("append").parquet(landing)
    ingest_documents_cutspans(read_documents_stream(spark, landing), sink, index, ckpt)

    got = {r["doc_id"]: r for r in read_corpus(spark, sink).collect()}

    full = e0.unionByName(e1)
    spans = duplicated_span_extents(full, "text", "doc_id")
    rew = {r["doc_id"]: r for r in span_cut_rewrite(full, spans, "text", "doc_id").collect()}
    originals = {r["doc_id"]: r["text"] for r in full.collect()}

    assert set(got) == {d for d, r in rew.items() if r["n_kept"] > 0}
    for d, r in got.items():
        want_cut = rew[d]["n_tokens"] - rew[d]["n_kept"]
        assert r["tokens_cut"] == want_cut, (d, r["tokens_cut"], want_cut)
        if want_cut == 0:
            assert r["text"] == originals[d]  # byte-identical passthrough
        else:
            assert r["text"] == rew[d]["kept_text"]
    # known answers: A keeps its prefix (120 cut), C keeps its prefix
    # (60 cut via the index), E (pure block) is gone
    assert got[1]["text"] == _PREFIX_A.lower() and got[1]["tokens_cut"] == 120
    assert got[3]["tokens_cut"] == 60
    assert got[2]["text"] == _CLEAN_B and got[4]["text"] == _CLEAN_D
    assert 5 not in got


def test_cutspans_ingest_replay_is_idempotent(spark, tmp_path_factory):
    """Replaying epoch 1 (as after a crash before checkpoint commit)
    recomputes the identical cut set: its own epoch-1 index rows are
    excluded from the probe, and both outputs overwrite."""
    from classification_pyspark_spark.streaming.corpus import (
        ingest_batch_cutspans,
    )

    base = tmp_path_factory.mktemp("cutspans_replay")
    sink, index = str(base / "sink"), str(base / "index")
    e0, e1 = _cutspans_fixture(spark)
    ingest_batch_cutspans(e0, 0, sink, index, checkpoint_tag="ck")
    ingest_batch_cutspans(e1, 1, sink, index, checkpoint_tag="ck")
    snap = sorted(
        (r["doc_id"], r["text"], r["tokens_cut"])
        for r in read_corpus(spark, sink).collect()
    )
    ingest_batch_cutspans(e1, 1, sink, index, checkpoint_tag="ck")
    again = sorted(
        (r["doc_id"], r["text"], r["tokens_cut"])
        for r in read_corpus(spark, sink).collect()
    )
    assert snap == again and len(snap) == 4


def test_cutspans_index_probe_never_shuffles_the_index(spark, tmp_path_factory):
    """The scale contract of the span-cut ingest's index probe: the
    corpus-sized gram index is consumed by a broadcast semi join
    against the batch's distinct hash set — a shuffle-free index scan
    (BroadcastHashJoin), never a sort-merge or shuffled-hash join that
    would exchange the index."""
    from classification_pyspark_spark.streaming.corpus import (
        index_gram_hits,
        ingest_batch_cutspans,
    )

    base = tmp_path_factory.mktemp("cutspans_plan")
    sink, index_path = str(base / "sink"), str(base / "index")
    e0, _ = _cutspans_fixture(spark)
    ingest_batch_cutspans(e0, 0, sink, index_path, checkpoint_tag="ck")
    index = spark.read.parquet(index_path).filter(F.col("epoch") < 1)
    stream = spark.createDataFrame([(1,), (2,), (3,)], "gk long")
    plan = (
        index_gram_hits(index, stream)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan


# Spark jobs of the epoch-1 step on a 100-doc batch (local[4]). Every
# mode reads the index with the schema of the rows it writes, so no
# schema-inference job runs, and the near-dup decision computes its
# accepted ids once for both writes.
STEP_JOBS = {"exact": 5, "neardup": 13, "cutspans": 13}


@pytest.mark.parametrize("mode", sorted(STEP_JOBS))
def test_ingest_step_releases_its_persists_and_bounds_its_jobs(
    spark, sf_dir, tmp_path_factory, mode
):
    """The shared ingest step, once per mode: a first and a second
    epoch each leave the session's persisted RDDs as they found them,
    and the second epoch (which probes the index) runs no more Spark
    jobs than measured, counted from the status store the way
    ``bench.timed_rep`` counts a rep's jobs."""
    import bench
    from classification_pyspark_spark.streaming import corpus

    step = {
        "exact": corpus.ingest_batch,
        "neardup": corpus.ingest_batch_neardup,
        "cutspans": corpus.ingest_batch_cutspans,
    }[mode]
    base = tmp_path_factory.mktemp(f"step_{mode}")
    sink, index = str(base / "sink"), str(base / "index")
    docs = load_table(spark, sf_dir, "documents").limit(100)
    for epoch in (0, 1):
        persisted = spark.sparkContext._jsc.getPersistentRDDs().size()
        jobs = bench._store(spark).jobsList(None)
        first = 0 if jobs.isEmpty() else jobs.head().jobId() + 1
        step(docs, epoch, sink, index, checkpoint_tag="ck")
        n_jobs = len(bench._history(spark, first)[0])
        assert spark.sparkContext._jsc.getPersistentRDDs().size() == persisted, epoch
    assert n_jobs <= STEP_JOBS[mode], (mode, n_jobs)
