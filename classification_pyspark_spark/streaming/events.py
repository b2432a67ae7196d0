"""Structured Streaming over the events stream (SURVEY.md §1 gap /
§7 Phase 5a — the reference is purely batch; this is new capability).

Sources: any ``readStream`` source with the events schema. Tests use
the parquet file source against a copied directory (exactly what a
production run does against an arriving-files landing zone); swap the
source line for Kafka in deployment — every transformation below is
source-agnostic.

All aggregations carry a watermark so state is bounded (late data past
the watermark is dropped deterministically) — mandatory at 100 TB
stream scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def read_events_stream(spark: SparkSession, path: str, max_files_per_trigger: int = 1) -> DataFrame:
    """File-source events stream (schema must be provided for streams)."""
    return (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def tumbling_counts(events: DataFrame, window: str = "1 hour", watermark: str = "2 hours") -> DataFrame:
    """Watermarked tumbling-window counts+sums per event type."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value").alias("sum_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "sum_value")
    )


def sliding_rates(events: DataFrame, window: str = "10 minutes", slide: str = "5 minutes", watermark: str = "30 minutes") -> DataFrame:
    """Sliding-window event rates (overlapping windows)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
    )


def session_windows(events: DataFrame, gap: str = "30 minutes", watermark: str = "1 hour") -> DataFrame:
    """Session-window aggregation per user (dynamic-length windows that
    close after ``gap`` of inactivity) — streaming twin of the batch
    ``sessionize`` operator."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
            "sum_value",
        )
    )


def stateful_dedup(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming exact dedup on event_id with bounded state: duplicates
    arriving within the watermark horizon are dropped; state for ids
    older than the watermark is evicted."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(["event_id"])


def run_to_memory(stream_df: DataFrame, query_name: str, output_mode: str = "append") -> None:
    """Drain a streaming frame into an in-memory table with the
    available-now trigger (test/demo harness): processes everything
    currently in the source, then stops. Use ``output_mode='complete'``
    for unwatermark-closed aggregations you want emitted eagerly."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def run_to_files(
    stream_df: DataFrame,
    path: str,
    checkpoint_path: str,
    fmt: str = "parquet",
) -> None:
    """Drain a streaming frame into a FILE sink with a durable
    checkpoint, available-now trigger — the production landing-zone →
    curated-zone hop. Unlike the memory-sink harness, this is the
    recovery-semantics path: the checkpoint records source offsets +
    sink commit log, so a stopped job restarted with the same
    (path, checkpoint) pair resumes from where it left off and each
    input file lands in the output exactly once."""
    q = (
        stream_df.writeStream.format(fmt)
        .option("path", path)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def run_foreach_batch(stream_df: DataFrame, step, checkpoint_path: str) -> None:
    """Drain a streaming frame through ``step(batch, epoch_id)`` with a
    durable checkpoint and the available-now trigger: every micro-batch
    currently in the source runs the step once, then the drain returns.
    The step itself makes the result effectively-once (foreachBatch is
    at-least-once: a crash before the checkpoint commits re-delivers
    the epoch)."""
    (
        stream_df.writeStream.foreachBatch(step)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def refuse_foreign_checkpoint(state: str, prior: str | None, checkpoint_tag: str | None) -> None:
    """Raise when ``state`` (an epoch-keyed output, named for the
    message) was built under checkpoint ``prior`` but this stream runs
    under ``checkpoint_tag``. Epoch ids are only monotonic WITHIN one
    checkpoint, so a reset checkpoint over kept state would either drop
    new epochs (ids restart at 0) or re-apply re-delivered history;
    that state is refused loudly. An untagged side passes."""
    if checkpoint_tag is not None and prior is not None and prior != checkpoint_tag:
        raise RuntimeError(
            f"{state} was built by checkpoint {prior!r} but this stream uses "
            f"{checkpoint_tag!r}; epoch ids are not comparable across checkpoints. "
            "Restore the original checkpoint or delete what this stream wrote to "
            "rebuild from scratch."
        )


def running_user_stats(events: DataFrame, timeout_minutes: int | None = None) -> DataFrame:
    """Custom stateful streaming operator via ``applyInPandasWithState``:
    a per-user running (count, sum, max) accumulator emitted on every
    update — the pattern for custom aggregations Spark's built-in
    windows can't express (counters, CUSUM/anomaly state, session
    feature vectors). State per key is a 3-tuple; memory is bounded by
    (active keys x state size).

    ``timeout_minutes`` evicts state after that much processing-time
    inactivity — set it on long-running continuous triggers so the key
    space can't grow without bound. Leave it ``None`` for availableNow
    /batch-drain runs: with ProcessingTimeTimeout the availableNow
    trigger keeps scheduling "cleaning up state" batches until the
    wall-clock timeout fires, so the drain never terminates.
    """
    import pandas as pd  # noqa: F401

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("sum_value", T.DoubleType()),
            T.StructField("max_value", T.DoubleType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("n", T.LongType()),
            T.StructField("s", T.DoubleType()),
            T.StructField("m", T.DoubleType()),
        ]
    )

    def update(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        n, s, m = state.get if state.exists else (0, 0.0, float("-inf"))
        for pdf in pdfs:
            if len(pdf) == 0:  # empty Arrow chunk: .max() is NaN — skip
                continue
            n += len(pdf)
            s += float(pdf["value"].sum())
            m = max(m, float(pdf["value"].max()))
        if n == 0:  # rows-less invocation: never store/emit the -inf seed
            return
        state.update((n, s, m))
        if timeout_minutes is not None:
            state.setTimeoutDuration(timeout_minutes * 60 * 1000)
        import pandas as pd

        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "sum_value": [s], "max_value": [m]}
        )

    timeout_conf = (
        GroupStateTimeout.NoTimeout
        if timeout_minutes is None
        else GroupStateTimeout.ProcessingTimeTimeout
    )
    return (
        events.groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=timeout_conf,
        )
    )


def enrich_with_dim(events: DataFrame, dim: DataFrame, left_key: str = "user_id", right_key: str = "c_custkey") -> DataFrame:
    """Stream-static enrichment join: each micro-batch left-joins the
    (batch) dimension frame, broadcast so the stream side never
    shuffles. The static side is re-resolvable per batch — swap in a
    slowly-changing dimension table and each trigger sees its current
    snapshot."""
    return events.join(F.broadcast(dim), events[left_key] == dim[right_key], "left")


# The ONE definition of the view->purchase conversion pairing, shared
# by the streaming inner/outer joins here and the batch twins
# (queries_rel.funnel_view_to_purchase, queries_search.
# view_abandonment_daily) so the horizon and bound inclusivity cannot
# drift between an operator and its oracle-checked twin. The DuckDB
# oracle strings hardcode the same INTERVAL — change HORIZON_MINUTES
# and those SQL strings together.
CONVERSION_HORIZON_MINUTES = 60


def conversion_sides(
    events: DataFrame, watermark: str | None = None
) -> tuple[DataFrame, DataFrame]:
    """(views, purchases) sides of the conversion join with the
    standard column aliases; ``watermark`` (streaming callers) is
    applied to ``ts`` before aliasing."""

    def side(event_type: str, cols: list) -> DataFrame:
        d = events.filter(F.col("event_type") == event_type)
        if watermark is not None:
            d = d.withWatermark("ts", watermark)
        return d.select(*cols)

    views = side(
        "view",
        [
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("view_ts"),
            F.col("event_id").alias("view_id"),
        ],
    )
    purchases = side(
        "purchase",
        [
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
            F.col("event_id").alias("purchase_id"),
            F.col("value"),
        ],
    )
    return views, purchases


def conversion_cond(horizon_minutes: int = CONVERSION_HORIZON_MINUTES):
    """Same-user purchase within [view_ts, view_ts + horizon], bounds
    inclusive on both ends."""
    return (
        (F.col("v_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("view_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("view_ts") + F.expr(f"INTERVAL {horizon_minutes} MINUTES")
        )
    )


def view_purchase_conversions(
    events: DataFrame,
    watermark: str = "2 hours",
    horizon_minutes: int = CONVERSION_HORIZON_MINUTES,
) -> DataFrame:
    """Stream-stream inner join: purchases matched to same-user views
    within ``horizon_minutes`` before the purchase (the conversion
    funnel). Both sides carry watermarks and the join condition bounds
    event time in both directions, so Spark evicts buffered state for
    rows older than watermark + horizon — bounded memory on an
    unbounded stream. Batch twin with DuckDB oracle:
    ``funnel_view_to_purchase`` in queries_rel."""
    views, purchases = conversion_sides(events, watermark)
    return views.join(purchases, conversion_cond(horizon_minutes), "inner").select(
        F.col("v_user").alias("user_id"),
        "view_id",
        "purchase_id",
        "view_ts",
        "purchase_ts",
        "value",
    )


def view_abandonment(
    events: DataFrame,
    watermark: str = "2 hours",
    horizon_minutes: int = CONVERSION_HORIZON_MINUTES,
) -> DataFrame:
    """Stream-stream LEFT OUTER join: views with NO same-user purchase
    within ``horizon_minutes`` — the abandonment feed. Unlike the inner
    join (which emits on match), the null-extended row for an
    unmatched view is emitted only once the watermark proves no future
    purchase can still arrive for it — i.e. watermark > view_ts +
    horizon — so emission lags the data by watermark + horizon and
    state stays bounded by the same eviction rule.

    Delivery caveat (standard stream-stream outer semantics): a view
    arriving BELOW the current watermark — out of order by more than
    the watermark delay, e.g. a backfilled partition — is dropped as
    late input and never joins at all, so the feed under-reports under
    heavy disorder rather than catching up. Size the watermark to the
    source's real disorder bound; replay/backfill goes through the
    batch twin (``view_abandonment_daily`` in queries_search), not
    this operator."""
    views, purchases = conversion_sides(events, watermark)
    joined = views.join(purchases, conversion_cond(horizon_minutes), "leftOuter")
    return joined.filter(F.col("purchase_id").isNull()).select(
        F.col("v_user").alias("user_id"), "view_id", "view_ts"
    )


def maintain_user_stats_view(
    events: DataFrame,
    view_path: str,
    checkpoint_path: str,
) -> None:
    """Maintain a per-user (n_events, total_value, last_ts) aggregate
    view from the stream via ``foreachBatch`` incremental merge — the
    streaming serving pattern: each micro-batch is aggregated to its
    partial (count/sum/max are mergeable), full-outer-merged with the
    current view, and atomically swapped in. Refresh cost is
    O(batch + view) per trigger, never O(history) — the streaming twin
    of the batch ``incremental_agg_maintenance`` query.

    The view lives at ``view_path`` as parquet (readable by any batch
    consumer between triggers). foreachBatch alone is only
    at-least-once: if the job dies after the swap but before the
    checkpoint commits, the restarted trigger re-delivers the same
    epoch. The merge is made effectively-once by recording the last
    applied epoch_id inside the view directory (an underscore-prefixed
    marker, invisible to parquet readers) and skipping any epoch that
    is already applied.
    """
    run_foreach_batch(
        events,
        lambda batch, epoch_id: merge_stats_batch(
            batch, epoch_id, view_path, checkpoint_tag=checkpoint_path
        ),
        checkpoint_path,
    )


def _read_marker(spark, view_path: str) -> dict | None:
    """Applied-epoch marker, preferring the live view dir; falls back
    to the ``.old`` dir so a crash mid-swap never loses the marker.
    Marker I/O goes through the Hadoop FileSystem API so the guard
    engages on object-store/HDFS view paths too."""
    import json

    from ..sources import hdfs

    for d in (view_path, view_path.rstrip("/") + ".old"):
        try:
            raw = hdfs.read_text(spark, d.rstrip("/") + "/_applied_epoch.json")
            if raw is not None:
                return json.loads(raw)
        except Exception:
            continue
    return None


def _read_stats_view(spark, view_path: str):
    """Current view frame, falling back to the ``.old`` dir (present
    only if a previous merge crashed between its two swap renames)."""
    for d in (view_path, view_path.rstrip("/") + ".old"):
        try:
            return spark.read.parquet(d)
        except Exception:
            continue
    return None


def merge_stats_batch(
    batch: DataFrame, epoch_id: int, view_path: str, checkpoint_tag: str | None = None
) -> None:
    """One foreachBatch merge step of ``maintain_user_stats_view``
    (module-level so the replay-idempotence contract is directly
    testable). Skips epochs already recorded in the view's marker.

    ``checkpoint_tag`` (the stream's checkpoint location) is stored in
    the marker: epoch ids are only monotonic WITHIN one checkpoint, so
    a marker from a different checkpoint means the operator reset the
    checkpoint while keeping the view — silently continuing would
    either drop new epochs (ids restart at 0) or double-merge
    re-delivered history, so that state is refused loudly."""
    import json

    spark = batch.sparkSession
    marker = _read_marker(spark, view_path)
    if marker is not None:
        refuse_foreign_checkpoint(f"view at {view_path!r}", marker.get("checkpoint"), checkpoint_tag)
        if epoch_id <= int(marker.get("epoch_id", -1)):
            return  # checkpoint replay of an epoch already merged
    part = batch.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum("value").alias("total_value"),
        F.max("ts").alias("last_ts"),
    )
    cur = _read_stats_view(spark, view_path)
    if cur is None:
        merged = part
    else:
        b = part.select(
            F.col("user_id").alias("b_uid"),
            F.col("n_events").alias("b_n"),
            F.col("total_value").alias("b_v"),
            F.col("last_ts").alias("b_ts"),
        )
        merged = (
            cur.join(b, cur.user_id == b.b_uid, "full_outer")
            .select(
                F.coalesce("user_id", "b_uid").alias("user_id"),
                (F.coalesce("n_events", F.lit(0)) + F.coalesce("b_n", F.lit(0)))
                .cast("long")
                .alias("n_events"),
                (
                    F.coalesce("total_value", F.lit(0.0))
                    + F.coalesce("b_v", F.lit(0.0))
                ).alias("total_value"),
                F.greatest(
                    F.coalesce("last_ts", "b_ts"), F.coalesce("b_ts", "last_ts")
                ).alias("last_ts"),
            )
        )
    # stage-and-swap via two renames with a .old safety copy: the
    # marker travels INSIDE the staged dir so data+marker move
    # together, and the previous view is renamed aside (not deleted)
    # before the staged dir moves in — a crash at ANY point leaves the
    # accumulated state recoverable (readers and the marker fall back
    # to .old while the live dir is briefly absent). All moves go
    # through the Hadoop FileSystem API (sources/hdfs.py) so the swap
    # works on HDFS/object-store view paths; the .old fallback is what
    # keeps a non-atomic S3 "rename" window safe.
    from ..sources import hdfs

    staged = view_path.rstrip("/") + f".epoch{epoch_id}"
    old = view_path.rstrip("/") + ".old"
    merged.write.mode("overwrite").parquet(staged)
    hdfs.write_text(
        spark,
        staged + "/_applied_epoch.json",
        json.dumps({"epoch_id": int(epoch_id), "checkpoint": checkpoint_tag}),
    )
    # every step checks its boolean: Hadoop rename/delete report
    # failure by returning false, and a silently-failed swap here
    # would mark the epoch applied while readers still see the old
    # view (the batch must raise so the checkpoint retries it)
    if hdfs.exists(spark, old) and not hdfs.delete(spark, old):
        raise IOError(f"could not clear fallback dir {old}")
    if hdfs.exists(spark, view_path):
        hdfs.rename_or_raise(spark, view_path, old)
    hdfs.rename_or_raise(spark, staged, view_path)
    hdfs.delete(spark, old)


def read_state_store(
    spark: SparkSession,
    checkpoint_path: str,
    *,
    operator_id: int = 0,
    batch_id: int | None = None,
) -> DataFrame:
    """Read a Structured Streaming CHECKPOINT's state store as a batch
    DataFrame (Spark 4 ``statestore`` reader, SPARK-45511) — the ops /
    debugging surface for stateful streams: inspect exactly what a
    running aggregation is holding (keys, partial aggregates,
    watermark survivors) without touching the live query. Returns the
    store's (key, value, partition_id) rows; pass ``batch_id`` to read
    a specific committed micro-batch's snapshot instead of the latest.

    At scale this reads only the state files for the requested
    operator — cost is proportional to live state, not stream history.
    """
    r = (
        spark.read.format("statestore")
        .option("path", checkpoint_path)
        .option("operatorId", operator_id)
    )
    if batch_id is not None:
        r = r.option("batchId", batch_id)
    return r.load()


def read_state_metadata(spark: SparkSession, checkpoint_path: str) -> DataFrame:
    """The checkpoint's operator/state metadata (Spark 4
    ``state-metadata`` reader): which stateful operators exist, their
    state-store names, and the min/max batch ids readable — the
    discovery call you make before ``read_state_store``."""
    return spark.read.format("state-metadata").load(checkpoint_path)


def running_user_stats_tws(events: DataFrame) -> DataFrame:
    """Per-user running (count, sum, max) via **transformWithState**
    (Spark 4's arbitrary-state API, SPARK-49564) — the successor to
    ``applyInPandasWithState`` used by :func:`running_user_stats`:
    state is typed and NAMED (`getValueState` with a schema, plus
    ListState/MapState/timers/TTL on the handle), the processor is a
    class with an explicit lifecycle (init/handleInputRows/close), and
    state layout is evolvable — the API new stateful operators should
    target; the old form stays for coverage of the legacy surface.

    Scale posture: identical to any keyed stateful op — state is
    per-user, partitioned by the grouping key, updated per batch from
    Arrow-batched input; emission is one row per (user, batch with
    input), output mode Update.

    Environment requirements: the RocksDB state-store provider
    (``spark.sql.streaming.stateStore.providerClass``) and the
    ``protobuf`` Python package (TWS's Python runner imports
    ``google.protobuf``; absent it, the runner exits -2 with
    STREAMING_PYTHON_RUNNER_INITIALIZATION_FAILURE). The test suite
    auto-skips where protobuf is unavailable — same posture as the
    MLflow tracking backend."""
    import pandas as pd  # noqa: PLC0415
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class RunningStats(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._agg = handle.getValueState("agg", "n BIGINT, total DOUBLE, mx DOUBLE")

        def handleInputRows(self, key, rows, timerValues):
            n, total, mx = 0, 0.0, float("-inf")
            if self._agg.exists():
                n, total, mx = self._agg.get()
            for pdf in rows:
                if len(pdf) == 0:  # empty Arrow chunk: .max() is NaN — skip
                    continue
                n += len(pdf)
                total += float(pdf["value"].sum())
                mx = max(mx, float(pdf["value"].max()))
            if n == 0:  # rows-less invocation: never store/emit the -inf seed
                return
            self._agg.update((n, total, mx))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n": [n], "total": [total], "mx": [mx]}
            )

        def close(self) -> None:
            pass

    return (
        events.select("user_id", "value")
        .groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=RunningStats(),
            outputStructType="user_id BIGINT, n BIGINT, total DOUBLE, mx DOUBLE",
            outputMode="Update",
            timeMode="None",
        )
    )
