"""Query registry batch 6: pipeline-hardening operators — hypertable
rollup, data-quality validation, token-distribution profiling,
streaming watermark dedup.

These are "large-scale training-data pipeline" operators (north-star
extensions beyond the reference surface): multi-granularity time
rollups feed monitoring dashboards from one pass; the expectation
suite is the batch gate a corpus refresh runs before publishing;
token Zipf profiles detect corpus drift/boilerplate; watermarked
streaming dedup is the ingest-time twin of the batch dedup family
(reference dedup: ``src/ta_lib/pyspark/dp.py:297-308``).

Imported by ``queries`` for registration side effects.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .catalog import load_table, spread_for_compute
from .operators.caching import track
from .functions.money import cents_expr as cents
from .queries import query


# ---------------------------------------------------------------------------
# Hypertable-style multi-granularity rollup (one pass, GROUPING SETS).
# ---------------------------------------------------------------------------
@query(
    "rollup_time_multigrain",
    sql="""
    SELECT CASE WHEN GROUPING(h) = 0 THEN 'hour' ELSE 'day' END AS grain,
           strftime(COALESCE(h, d), '%Y-%m-%d %H:%M:%S') AS bucket,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(value), 4) AS sum_value,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM (
      SELECT date_trunc('hour', ts) AS h, date_trunc('day', ts) AS d,
             event_type, value, user_id
      FROM events
    )
    GROUP BY GROUPING SETS ((d, h, event_type), (d, event_type))
    """,
)
def rollup_time_multigrain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous-aggregate rollup: hourly AND daily
    event aggregates (count / sum / distinct users) from ONE scan via
    GROUPING SETS — the pattern a 100 TB event store uses to maintain
    multi-resolution dashboards without N scans. Spark computes both
    grains in a single Expand + hash aggregate; the day grain's
    exact count-distinct re-expands, which is still one scan."""
    ev = load_table(spark, sf_dir, "events").select(
        F.date_trunc("hour", "ts").alias("h"),
        F.date_trunc("day", "ts").alias("d"),
        "event_type",
        "value",
        "user_id",
    )
    return (
        ev.groupingSets([["d", "h", "event_type"], ["d", "event_type"]], "d", "h", "event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(F.sum("value"), 4).alias("sum_value"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
            # grouping() is only legal inside the grouping-sets agg
            F.when(F.grouping("h") == 0, F.lit("hour")).otherwise(F.lit("day")).alias("grain"),
        )
        .select(
            "grain",
            F.date_format(F.coalesce("h", "d"), "yyyy-MM-dd HH:mm:ss").alias("bucket"),
            "event_type",
            "n",
            "sum_value",
            "n_users",
        )
    )


# ---------------------------------------------------------------------------
# Expectation-suite data-quality validation (one agg pass per table).
# ---------------------------------------------------------------------------
@query(
    "data_quality_checks",
    sql="""
    SELECT 'lineitem' AS tbl, 'null_orderkey' AS chk,
           CAST(COUNT(CASE WHEN l_orderkey IS NULL THEN 1 END) AS BIGINT) AS n_violations
    FROM lineitem
    UNION ALL
    SELECT 'lineitem', 'discount_out_of_range',
           CAST(COUNT(CASE WHEN l_discount < 0 OR l_discount > 0.9 THEN 1 END) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'lineitem', 'nonpositive_quantity',
           CAST(COUNT(CASE WHEN l_quantity <= 0 THEN 1 END) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'lineitem', 'negative_price',
           CAST(COUNT(CASE WHEN l_extendedprice < 0 THEN 1 END) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'lineitem', 'orphan_orderkey',
           CAST(COUNT(*) AS BIGINT)
    FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)
    UNION ALL
    SELECT 'orders', 'duplicate_orderkey',
           CAST(COALESCE(SUM(cnt - 1), 0) AS BIGINT)
    FROM (SELECT COUNT(*) AS cnt FROM orders GROUP BY o_orderkey HAVING COUNT(*) > 1)
    UNION ALL
    SELECT 'orders', 'orderdate_out_of_bounds',
           CAST(COUNT(CASE WHEN CAST(o_orderdate AS DATE) < DATE '1990-01-01'
                             OR CAST(o_orderdate AS DATE) > DATE '2005-12-31' THEN 1 END) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'customer', 'null_custkey',
           CAST(COUNT(CASE WHEN c_custkey IS NULL THEN 1 END) AS BIGINT)
    FROM customer
    """,
)
def data_quality_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expectation-suite validation (Great-Expectations-shaped, pure
    DataFrame): per-table constraint checks — nullability, numeric
    ranges, date bounds, key uniqueness, referential integrity —
    each table profiled in ONE conditional-aggregate pass (never a
    filter+count per rule, which would re-scan per check at 100 TB);
    the FK orphan check is a left_anti join. Returns one row per
    check with its violation count."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")

    def _chk(tbl: str, name: str, n: F.Column) -> list[F.Column]:
        return [F.lit(tbl).alias("tbl"), F.lit(name).alias("chk"), n.alias("n_violations")]

    cnt = lambda cond: F.count(F.when(cond, F.lit(1))).cast("long")  # noqa: E731

    li_checks = li.agg(
        cnt(F.col("l_orderkey").isNull()).alias("null_orderkey"),
        cnt((F.col("l_discount") < 0) | (F.col("l_discount") > 0.9)).alias(
            "discount_out_of_range"
        ),
        cnt(F.col("l_quantity") <= 0).alias("nonpositive_quantity"),
        cnt(F.col("l_extendedprice") < 0).alias("negative_price"),
    )
    li_long = li_checks.selectExpr(
        "stack(4, 'null_orderkey', null_orderkey, "
        "'discount_out_of_range', discount_out_of_range, "
        "'nonpositive_quantity', nonpositive_quantity, "
        "'negative_price', negative_price) AS (chk, n_violations)"
    ).select(F.lit("lineitem").alias("tbl"), "chk", F.col("n_violations").cast("long"))

    orphans = (
        li.select("l_orderkey")
        .join(o.select("o_orderkey"), li.l_orderkey == o.o_orderkey, "left_anti")
        .agg(*_chk("lineitem", "orphan_orderkey", F.count(F.lit(1)).cast("long")))
    )
    dup_orders = (
        o.groupBy("o_orderkey")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") > 1)
        .agg(
            *_chk(
                "orders",
                "duplicate_orderkey",
                F.coalesce(F.sum(F.col("cnt") - 1), F.lit(0)).cast("long"),
            )
        )
    )
    date_bounds = o.agg(
        *_chk(
            "orders",
            "orderdate_out_of_bounds",
            cnt(
                (F.to_date("o_orderdate") < F.lit("1990-01-01").cast("date"))
                | (F.to_date("o_orderdate") > F.lit("2005-12-31").cast("date"))
            ),
        )
    )
    cust_null = c.agg(*_chk("customer", "null_custkey", cnt(F.col("c_custkey").isNull())))
    return li_long.unionByName(orphans).unionByName(dup_orders).unionByName(
        date_bounds
    ).unionByName(cust_null)


# ---------------------------------------------------------------------------
# Token Zipf profile (corpus drift / boilerplate detection).
# ---------------------------------------------------------------------------
@query(
    "token_zipf",
    sql=r"""
    WITH toks AS (
      SELECT unnest(list_filter(string_split_regex(trim(lower(text)), '[^0-9a-z]+'),
                                t -> len(t) > 0)) AS tok
      FROM documents
    ),
    counts AS (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS n FROM toks GROUP BY tok
    ),
    ranked AS (
      SELECT tok, n,
             CAST(row_number() OVER (ORDER BY n DESC, tok ASC) AS INT) AS rank
      FROM counts
    )
    SELECT tok, n, rank,
           ROUND(CAST(n * rank AS DOUBLE)
                 / (SELECT MAX(n) FROM counts), 6) AS zipf_ratio
    FROM ranked ORDER BY rank LIMIT 50
    """,
)
def token_zipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token frequency-rank (Zipf) profile of the corpus: top-50
    tokens with rank and the Zipf invariant n*rank/max_n (~1 for a
    natural corpus; skew flags boilerplate/duplication). The token
    explode feeds ONE hash aggregate (vocabulary-sized partials); the
    top-50 is TakeOrderedAndProject over the vocabulary aggregate and
    only those 50 survivors are ranked — no global sort or window over
    the vocabulary, which at 100 TB is 1e8+ rows."""
    from .operators.text import punct_tokens_expr

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(punct_tokens_expr("text")).alias("tok"))
    counts = toks.groupBy("tok").agg(F.count(F.lit(1)).cast("long").alias("n"))
    mx = counts.agg(F.max("n").alias("max_n"))
    from pyspark.sql import Window

    # top-k FIRST (TakeOrderedAndProject: each partition forwards only
    # its local top-50, the driver merges 50) — then rank just the 50
    # survivors. The rank window is single-partition but bounded by k,
    # never by vocabulary size (a 100 TB corpus vocabulary is 1e8+
    # rows; ranking it globally was the round-2 scale flag).
    top = counts.orderBy(F.desc("n"), F.asc("tok")).limit(50)
    w = Window.orderBy(F.desc("n"), F.asc("tok"))
    ranked = top.withColumn("rank", F.row_number().over(w).cast("int"))
    return (
        ranked.join(F.broadcast(mx))
        .select(
            "tok",
            "n",
            "rank",
            F.round((F.col("n") * F.col("rank")).cast("double") / F.col("max_n"), 6).alias(
                "zipf_ratio"
            ),
        )
        .orderBy("rank")
    )


# ---------------------------------------------------------------------------
# Streaming watermark dedup (ingest-time exact dedup, real stream run).
# ---------------------------------------------------------------------------
@query(
    "streaming_dedup_user_types",
    sql="""
    SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_unique_users
    FROM events GROUP BY event_type
    """,
)
def streaming_dedup_user_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL Structured Streaming stateful dedup on the graded
    surface: events stream through ``dropDuplicates`` on
    (user_id, event_type) — bounded state keyed exactly like the
    batch DISTINCT — then a complete-mode count per type. Drained
    with available-now; equals the batch count-distinct oracle
    regardless of file arrival order because dedup-then-count is
    order-insensitive."""
    import hashlib
    import os

    from .streaming.events import read_events_stream, run_to_memory

    stage = os.path.join(
        "/tmp/spark_graft_stream_stage", hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    )
    if not os.path.exists(stage):
        load_table(spark, sf_dir, "events").repartition(4).write.mode("overwrite").parquet(
            stage
        )
    stream = read_events_stream(spark, stage, max_files_per_trigger=2)
    deduped = stream.select("user_id", "event_type").dropDuplicates(
        ["user_id", "event_type"]
    )
    counts = deduped.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_unique_users")
    )
    name = "q_streaming_dedup"
    run_to_memory(counts, name, output_mode="complete")
    return spark.table(name).select(
        "event_type", F.col("n_unique_users").cast("long").alias("n_unique_users")
    )


# ---------------------------------------------------------------------------
# SCD2 validity intervals from an event stream (CDC-shaped capability).
# ---------------------------------------------------------------------------
@query(
    "scd2_user_status_intervals",
    sql="""
    WITH dedup AS (
      SELECT user_id, ts, event_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev_type
      FROM events
    ),
    transitions AS (
      SELECT user_id, ts, event_id, event_type FROM dedup
      WHERE prev_type IS NULL OR event_type <> prev_type
    )
    SELECT user_id, event_type AS status,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS valid_from,
           COALESCE(strftime(lead(ts) OVER (PARTITION BY user_id
                                            ORDER BY ts, event_id),
                             '%Y-%m-%d %H:%M:%S'), '9999-12-31 00:00:00')
             AS valid_to,
           CAST(CASE WHEN lead(ts) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id) IS NULL
                     THEN 1 ELSE 0 END AS INT) AS is_current
    FROM transitions
    """,
)
def scd2_user_status_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 dimension build from a change stream (CDC shape): collapse
    consecutive identical statuses per user, then derive
    [valid_from, valid_to) validity intervals with lag/lead windows.
    Both windows share ONE (user_id)-partitioned sort — a single
    shuffle; the interval build never leaves the user's partition, so
    this scales per-key like any windowed CDC compaction. Determinism:
    ties broken by event_id."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    transitions = (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNull() | (F.col("event_type") != F.col("prev_type")))
        .drop("prev_type")
    )
    w2 = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = F.lead("ts").over(w2)
    return transitions.select(
        "user_id",
        F.col("event_type").alias("status"),
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("valid_from"),
        F.coalesce(
            F.date_format(nxt, "yyyy-MM-dd HH:mm:ss"), F.lit("9999-12-31 00:00:00")
        ).alias("valid_to"),
        F.when(nxt.isNull(), 1).otherwise(0).cast("int").alias("is_current"),
    )


# ---------------------------------------------------------------------------
# ANN quality: recall of the IVF approximate path vs exact brute force.
# ---------------------------------------------------------------------------
@query("knn_ivf_recall")  # rows-only: the KMeans quantizer is not SQL-expressible
def knn_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the IVF approximate kNN against exact brute force —
    the approximation-quality gauge every ANN deployment monitors.
    Both paths scan the corpus once each (no cross join); the overlap
    join runs on the tiny (n_queries x k) result frames. Returns one
    row: mean/min recall + query count. pytest asserts a recall
    floor; the driver records rows-only stability."""
    from .operators.similarity import knn_bruteforce, knn_ivf

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 10)
    exact = knn_bruteforce(e, q, "vec_id", "embedding", k=5).select(
        "query_id", "neighbor_id"
    )
    approx = knn_ivf(
        e, q, "vec_id", "embedding", k=5, n_clusters=16, n_probe=4
    ).select("query_id", "neighbor_id")
    per_q = (
        exact.join(approx, ["query_id", "neighbor_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
        .join(exact.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_true")), "query_id")
        .select("query_id", (F.col("n_hit") / F.col("n_true")).alias("recall"))
    )
    return per_q.agg(
        F.round(F.avg("recall"), 4).alias("mean_recall_at_5"),
        F.round(F.min("recall"), 4).alias("min_recall_at_5"),
        F.count(F.lit(1)).cast("long").alias("n_queries"),
    )


# ---------------------------------------------------------------------------
# Deterministic per-group sampling (hash reservoir).
# ---------------------------------------------------------------------------
@query(
    "hash_sample_per_group",
    sql="""
    SELECT o_custkey, o_orderkey, rank
    FROM (
      SELECT o_custkey, o_orderkey,
             CAST(row_number() OVER (
               PARTITION BY o_custkey
               ORDER BY md5(CAST(o_orderkey AS VARCHAR)), o_orderkey) AS INT) AS rank
      FROM orders
    )
    WHERE rank <= 3
    """,
)
def hash_sample_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-per-group sample: rank rows inside each group
    by the md5 of their key and keep the first 3 — the reproducible,
    engine/partition-invariant alternative to seeded RNG sampling
    (reference sampling: ``dp.py:885-915``; SURVEY §7 'What's hard'
    #1). One window shuffle on the group key; the hash order is
    uniform pseudo-random but bit-stable across engines, reruns, and
    cluster layouts — so downstream train/eval sets are auditable."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.md5(F.col("o_orderkey").cast("string").cast("binary")), F.col("o_orderkey")
    )
    return (
        o.select("o_custkey", "o_orderkey")
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 3)
    )


# ---------------------------------------------------------------------------
# Weighted PageRank, fixed iterations (iterative DataFrame algorithm).
# ---------------------------------------------------------------------------
_PAGERANK_EDGES_SQL = """
    edges AS (
      SELECT src, dst, CAST(COUNT(*) AS DOUBLE) AS w
      FROM (
        SELECT a.l_suppkey AS src, b.l_suppkey AS dst, a.l_orderkey
        FROM (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem) a
        JOIN (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem) b
          ON a.l_orderkey = b.l_orderkey AND a.l_suppkey <> b.l_suppkey
      )
      GROUP BY src, dst
      HAVING COUNT(*) >= 5
    ),
    outw AS (SELECT src, SUM(w) AS tw FROM edges GROUP BY src),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes)
"""


@query(
    "pagerank_supplier_influence",
    sql=f"""
    WITH {_PAGERANK_EDGES_SQL},
    r0 AS (SELECT node, ROUND(1.0 / n, 9) AS rank FROM nodes, nn),
    r1 AS (
      SELECT e.dst AS node,
             ROUND(0.15 / MAX(nn.n) + 0.85 * SUM(r0.rank * e.w / o.tw), 9) AS rank
      FROM edges e JOIN r0 ON e.src = r0.node JOIN outw o ON e.src = o.src, nn
      GROUP BY e.dst
    ),
    r2 AS (
      SELECT e.dst AS node,
             ROUND(0.15 / MAX(nn.n) + 0.85 * SUM(r1.rank * e.w / o.tw), 9) AS rank
      FROM edges e JOIN r1 ON e.src = r1.node JOIN outw o ON e.src = o.src, nn
      GROUP BY e.dst
    ),
    r3 AS (
      SELECT e.dst AS node,
             ROUND(0.15 / MAX(nn.n) + 0.85 * SUM(r2.rank * e.w / o.tw), 9) AS rank
      FROM edges e JOIN r2 ON e.src = r2.node JOIN outw o ON e.src = o.src, nn
      GROUP BY e.dst
    )
    SELECT node AS s_suppkey, rank AS pagerank FROM r3
    """,
)
def pagerank_supplier_influence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank (3 fixed iterations, d=0.85) over the
    supplier co-supply graph (edge s1->s2 weighted by the number of
    orders both supplied, thresholded >=5 to keep the graph sparse;
    symmetric edges -> no dangling mass). The iterative-algorithm
    pattern on DataFrames: each iteration is one join + one hash
    aggregate keyed on the edge destination; ranks are rounded at
    9dp per iteration, which makes the float pipeline bit-stable
    across engines AND across Spark's own partition orderings (the
    same trick that lets the oracle replay it as three unrolled
    CTEs). At 100 TB the edge frame is hash-partitioned once and
    reused; no driver-side graph state."""
    # co-supply pairs via ONE grouped set + double explode (pure
    # codegen Generate), not a fact self-join: the self-join shuffled
    # the (order, supplier) frame twice and probed 6M x 6M on
    # l_orderkey (sf1: 11.5s); collect_set shuffles it once with
    # map-side partial sets and the k^2 expansion happens in-task on
    # per-order arrays (3.6s, identical edges). Per-order supplier
    # counts are bounded by order size, so the array/explosion is
    # O(order^2), never corpus-sized.
    s = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.collect_set("l_suppkey").alias("ss"))
    )
    edges = (
        s.select(F.explode("ss").alias("src"), "ss")
        .select("src", F.explode("ss").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("double").alias("w"))
        .filter(F.col("w") >= 5)
    )
    # edges feed every iteration: materialize once
    edges = track(edges)
    outw = edges.groupBy("src").agg(F.sum("w").alias("tw"))
    nodes = edges.select(F.col("src").alias("node")).distinct()
    nn = nodes.agg(F.count(F.lit(1)).cast("double").alias("n"))
    ranks = nodes.join(F.broadcast(nn)).select(
        "node", F.round(F.lit(1.0) / F.col("n"), 9).alias("rank")
    )
    contrib_src = edges.join(F.broadcast(outw), "src")
    for _ in range(3):
        ranks = (
            contrib_src.join(ranks, contrib_src.src == ranks.node)
            .join(F.broadcast(nn))
            .groupBy(F.col("dst").alias("node2"))
            .agg(
                F.round(
                    F.lit(0.15) / F.max("n")
                    + F.lit(0.85) * F.sum(F.col("rank") * F.col("w") / F.col("tw")),
                    9,
                ).alias("rank")
            )
            .withColumnRenamed("node2", "node")
        )
    return ranks.select(
        F.col("node").alias("s_suppkey"), F.col("rank").alias("pagerank")
    )


# ---------------------------------------------------------------------------
# Repetition signals (Gopher-style corpus quality; Rae et al. 2021).
# ---------------------------------------------------------------------------
@query(
    "repetition_stats",
    sql=r"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(lower(text)), '[^0-9a-z]+'),
                         t -> len(t) > 0) AS t
      FROM documents
    ),
    grams AS (
      SELECT doc_id,
             CASE WHEN len(t) >= 2
                  THEN list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1])
                  ELSE []::VARCHAR[] END AS g,
             t
      FROM toks
    ),
    counts AS (
      SELECT doc_id, gram, COUNT(*) AS c
      FROM (SELECT doc_id, unnest(g) AS gram FROM grams)
      GROUP BY doc_id, gram
    ),
    top AS (
      SELECT doc_id, MAX(c) AS best, SUM(c) AS total FROM counts GROUP BY doc_id
    )
    SELECT grams.doc_id,
           ROUND(len(list_distinct(t)) * 1.0 / GREATEST(len(t), 1), 6) AS distinct_token_ratio,
           ROUND(COALESCE(best * 1.0 / total, 0.0), 6) AS top_bigram_fraction
    FROM grams LEFT JOIN top ON grams.doc_id = top.doc_id
    """,
)
def repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc repetition signals for corpus curation: distinct-token
    ratio and the fraction of bigrams taken by the doc's most frequent
    bigram (the Gopher duplicate-n-gram filter). Both are ZERO-shuffle
    codegen: the top-bigram multiplicity folds over the doc's sorted
    gram array inside the row — at 100 TB nothing leaves the
    executors but (doc_id, two doubles). The oracle recomputes the
    mode via a per-doc unnest+group in DuckDB."""
    from .operators.text import distinct_token_ratio_expr, top_gram_fraction_expr

    d = spread_for_compute(load_table(spark, sf_dir, "documents"))
    return d.select(
        "doc_id",
        F.round(distinct_token_ratio_expr("text"), 6).alias("distinct_token_ratio"),
        F.round(top_gram_fraction_expr("text", 2), 6).alias("top_bigram_fraction"),
    )


@query(
    "gopher_quality_rules",
    sql=r"""
    WITH toks AS (
      SELECT doc_id, text,
             list_filter(string_split_regex(trim(lower(text)), '[^0-9a-z]+'),
                         t -> len(t) > 0) AS t,
             string_split_regex(trim(lower(text)), '\s+') AS wt
      FROM documents
    ),
    s AS (
      SELECT doc_id,
             CAST(len(wt) AS INT) AS n_words,
             CASE WHEN len(t) > 0
                  THEN list_aggregate(list_transform(t, x -> len(x)), 'sum') * 1.0 / len(t)
                  ELSE 0.0 END AS mwl,
             len(list_filter(wt, x -> x IN ('the','a','of','and','to','in','is','it'))) AS n_stop,
             len(regexp_replace(lower(text), '[0-9a-z\s]', '', 'g')) * 1.0
               / GREATEST(len(text), 1) AS punct
      FROM toks
    )
    SELECT doc_id, n_words,
           (n_words BETWEEN 50 AND 100000) AS wc_ok,
           (mwl BETWEEN 3.0 AND 10.0) AS mwl_ok,
           (n_stop >= 2) AS stop_ok,
           (punct <= 0.1) AS punct_ok,
           ((n_words BETWEEN 50 AND 100000) AND (mwl BETWEEN 3.0 AND 10.0)
            AND (n_stop >= 2) AND (punct <= 0.1)) AS passes_gopher
    FROM s
    """,
)
def gopher_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style document quality rules (word-count bounds, mean
    word length 3-10, >=2 stopwords, symbol/punct ratio <= 0.1) as
    per-doc boolean flags + the conjunction — the standard pre-LLM
    rule filter, entirely whole-stage-codegen expressions (one scan,
    no shuffle, no UDF)."""
    from .operators.text import gopher_rules, gopher_stats_exprs

    d = spread_for_compute(load_table(spark, sf_dir, "documents"))
    # the fused stats are materialized in a FIRST projection, rules
    # derived from their struct fields in a second
    base = d.select("doc_id", *gopher_stats_exprs("text"))
    rules = gopher_rules()
    return base.select(
        "doc_id",
        F.col("__ws.n").alias("n_words"),
        *[rule.alias(name) for name, rule in rules.items()],
    )


@query(
    "domain_mix_weights",
    sql=r"""
    WITH per_source AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source
    )
    SELECT source, n_docs, n_tokens,
           ROUND(n_tokens * 1.0 / SUM(n_tokens) OVER (), 6) AS token_share,
           ROUND(LEAST((1.0 / COUNT(*) OVER ()) / (n_tokens * 1.0 / SUM(n_tokens) OVER ()),
                       10.0), 4) AS sample_weight
    FROM per_source
    """,
)
def domain_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixing weights for training-data sampling: per-source
    token counts -> token share -> the per-source sampling weight that
    flattens the mix to uniform (capped at 10x upsampling). The heavy
    side is ONE map-side-combined aggregation over the corpus; the
    share/weight window runs on the source-count frame (|sources|
    rows). Swap the uniform target for any published mixture vector
    without touching the scan."""
    from pyspark.sql import Window

    from .operators.text import token_count_expr

    d = load_table(spark, sf_dir, "documents")
    per_source = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(token_count_expr("text")).cast("long").alias("n_tokens"),
    )
    w = Window.partitionBy()
    share = F.col("n_tokens") / F.sum("n_tokens").over(w)
    n_sources = F.count(F.lit(1)).over(w)
    return per_source.select(
        "source",
        "n_docs",
        "n_tokens",
        F.round(share, 6).alias("token_share"),
        F.round(F.least((F.lit(1.0) / n_sources) / share, F.lit(10.0)), 4).alias(
            "sample_weight"
        ),
    )


@query(
    "adaptive_quality_threshold",
    sql=r"""
    WITH scored AS (
      SELECT doc_id, lang,
        ROUND(0.4 * LEAST(len(string_split_regex(trim(text), '\s+')) / 100.0, 1.0)
            + 0.3 * (1.0 - len(regexp_replace(lower(text), '[0-9a-z\s]', '', 'g')) * 1.0
                           / GREATEST(len(text), 1))
            + 0.3 * LEAST(len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
                     t -> t IN ('the','a','of','and','to','in','is','it')))
                     / GREATEST(len(string_split_regex(trim(text), '\s+')), 1) / 0.10, 1.0),
          8) AS q
      FROM documents
    ),
    cutoffs AS (
      SELECT lang, quantile_disc(q, 0.25) AS lang_q25 FROM scored GROUP BY lang
    )
    SELECT scored.doc_id, scored.lang, q, lang_q25,
           (q >= lang_q25) AS keep
    FROM scored JOIN cutoffs ON scored.lang = cutoffs.lang
    """,
)
def adaptive_quality_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adaptive per-language quality cutoff: each language keeps docs
    at or above its own 25th-percentile quality score — the curation
    pattern when one global threshold would gut low-resource
    languages. The cutoff uses the EXACT discrete percentile
    (percentile_approx at accuracy 2^31-1 == DuckDB quantile_disc, an
    actual data value, so the >= comparison is bit-stable across
    engines); the per-language cutoff frame is |langs| rows and
    broadcasts back onto the scored scan. At-scale swap: accuracy 1000
    sketch, same call shape."""
    from .operators.text import quality_score_expr

    d = spread_for_compute(load_table(spark, sf_dir, "documents"))
    scored = d.select("doc_id", "lang", quality_score_expr("text").alias("q"))
    cutoffs = scored.groupBy("lang").agg(
        F.expr("percentile_approx(q, 0.25, 2147483647)").alias("lang_q25")
    )
    return scored.join(F.broadcast(cutoffs), "lang").select(
        "doc_id",
        "lang",
        "q",
        "lang_q25",
        (F.col("q") >= F.col("lang_q25")).alias("keep"),
    )


# ---------------------------------------------------------------------------
# Time-sliced drift monitoring + gap-filled resampling.
# ---------------------------------------------------------------------------
@query(
    "psi_weekly_drift",
    sql="""
    WITH e AS (
      SELECT strftime(date_trunc('week', ts), '%Y-%m-%d') AS wk,
             LEAST(CAST(FLOOR(value / 50) AS INT), 9) AS bin
      FROM events
    ),
    ref_wk AS (SELECT MIN(wk) AS ref FROM e),
    bins AS (SELECT wk, bin, CAST(COUNT(*) AS BIGINT) AS n FROM e GROUP BY 1, 2),
    ref_bins AS (
      SELECT bin, n AS n_ref FROM bins, ref_wk WHERE wk = ref
    ),
    joined AS (
      SELECT b.wk, b.bin, b.n, COALESCE(r.n_ref, 0) AS n_ref
      FROM bins b LEFT JOIN ref_bins r ON b.bin = r.bin, ref_wk
      WHERE b.wk <> ref
    ),
    props AS (
      SELECT wk,
             GREATEST(n * 1.0 / SUM(n) OVER (PARTITION BY wk), 1e-6) AS q,
             GREATEST(n_ref * 1.0 / SUM(n_ref) OVER (PARTITION BY wk), 1e-6) AS p,
             n
      FROM joined
    )
    SELECT wk AS week, ROUND(SUM((p - q) * ln(p / q)), 6) AS psi,
           CAST(SUM(n) AS BIGINT) AS n
    FROM props GROUP BY wk
    """,
)
def psi_weekly_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSI of the event-value distribution for EVERY week against the
    first (reference) week — ``psi_drift`` generalized to the sliced
    time series a monitoring dashboard plots. One scan into a
    (week x bin) hash aggregate; the reference-week counts re-join on
    the bin key and the proportion windows partition BY WEEK over that
    bounded bin frame. Bins present only in the reference week drop
    out of that week's sum (identical on both engines; the 1e-6 floor
    covers bins missing from reference)."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        F.date_format(F.date_trunc("week", "ts"), "yyyy-MM-dd").alias("wk"),
        F.least(F.floor(F.col("value") / 50).cast("int"), F.lit(9)).alias("bin"),
    )
    bins = e.groupBy("wk", "bin").agg(F.count(F.lit(1)).cast("long").alias("n"))
    ref_wk = bins.agg(F.min("wk").alias("ref"))
    ref_bins = (
        bins.join(F.broadcast(ref_wk), bins.wk == F.col("ref"))
        .select("bin", F.col("n").alias("n_ref"))
    )
    joined = (
        bins.crossJoin(F.broadcast(ref_wk))
        .filter(F.col("wk") != F.col("ref"))
        .join(F.broadcast(ref_bins), "bin", "left")
        .select("wk", "bin", "n", F.coalesce("n_ref", F.lit(0)).alias("n_ref"))
    )
    w = Window.partitionBy("wk")
    props = joined.select(
        "wk",
        "n",
        F.greatest(F.col("n") / F.sum("n").over(w), F.lit(1e-6)).alias("q"),
        F.greatest(F.col("n_ref") / F.sum("n_ref").over(w), F.lit(1e-6)).alias("p"),
    )
    return props.groupBy(F.col("wk").alias("week")).agg(
        F.round(F.sum((F.col("p") - F.col("q")) * F.log(F.col("p") / F.col("q"))), 6).alias(
            "psi"
        ),
        F.sum("n").cast("long").alias("n"),
    )


@query(
    "resample_hourly_gapfill",
    sql="""
    WITH bounds AS (
      SELECT date_trunc('hour', MIN(ts)) AS h0, date_trunc('hour', MAX(ts)) AS h1 FROM events
    ),
    hours AS (
      SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour FROM bounds
    ),
    per_hour AS (
      SELECT date_trunc('hour', ts) AS hour, CAST(COUNT(*) AS BIGINT) AS n,
             ROUND(SUM(value), 4) AS sum_value,
             ROUND(SUM(value) / COUNT(*), 4) AS avg_value
      FROM events GROUP BY 1
    )
    SELECT strftime(h.hour, '%Y-%m-%d %H:%M:%S') AS hour,
           COALESCE(p.n, 0) AS n,
           COALESCE(p.sum_value, 0.0) AS sum_value,
           last_value(p.avg_value IGNORE NULLS) OVER (
             ORDER BY h.hour ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS avg_value_ffill
    FROM hours h LEFT JOIN per_hour p ON h.hour = p.hour
    """,
)
def resample_hourly_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regular hourly resampling with gap-fill: a dense hour spine
    (sequence-explode between min and max, zero scan cost) left-joined
    to the hourly aggregate; empty hours get zero counts and a
    forward-filled last observed hourly mean — the time-series
    regularization every downstream forecaster needs, done without a
    driver-side date loop. The ffill window runs over the HOURS frame
    (bounded by the time span, never by event count)."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("h0"),
        F.date_trunc("hour", F.max("ts")).alias("h1"),
    )
    hours = bounds.select(
        F.explode(F.sequence("h0", "h1", F.expr("interval 1 hour"))).alias("hour")
    )
    per_hour = ev.groupBy(F.date_trunc("hour", "ts").alias("hour")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.sum("value"), 4).alias("sum_value"),
        F.round(F.sum("value") / F.count(F.lit(1)), 4).alias("avg_value"),
    )
    w = Window.orderBy("hour").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        hours.join(per_hour, "hour", "left")
        .select(
            "hour",
            F.coalesce("n", F.lit(0)).alias("n"),
            F.coalesce("sum_value", F.lit(0.0)).alias("sum_value"),
            F.last("avg_value", ignorenulls=True).over(w).alias("avg_value_ffill"),
        )
        .select(
            F.date_format("hour", "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "n",
            "sum_value",
            "avg_value_ffill",
        )
    )


@query(
    "retention_cohorts",
    sql="""
    WITH firsts AS (
      SELECT user_id, strftime(date_trunc('week', MIN(ts)), '%Y-%m-%d') AS cohort
      FROM events GROUP BY user_id
    ),
    activity AS (
      SELECT DISTINCT user_id, strftime(date_trunc('week', ts), '%Y-%m-%d') AS wk
      FROM events
    ),
    cohort_sizes AS (
      SELECT cohort, CAST(COUNT(*) AS BIGINT) AS n_cohort FROM firsts GROUP BY cohort
    )
    SELECT f.cohort, a.wk AS active_week,
           CAST(COUNT(*) AS BIGINT) AS n_active, MAX(s.n_cohort) AS n_cohort,
           ROUND(COUNT(*) * 1.0 / MAX(s.n_cohort), 6) AS retention
    FROM firsts f JOIN activity a ON f.user_id = a.user_id
    JOIN cohort_sizes s ON f.cohort = s.cohort
    GROUP BY f.cohort, a.wk
    """,
)
def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention cohorts: users keyed by first-seen week, the
    fraction still active in each subsequent week — the canonical
    product-analytics matrix. Shape: one per-user MIN aggregate (hash,
    map-side combined), one distinct (user, week) aggregate, then a
    join on user_id and a (cohort x week) aggregate — all shuffles on
    high-cardinality keys; the cohort-size frame re-joins broadcast."""
    ev = load_table(spark, sf_dir, "events")
    wk = lambda c: F.date_format(F.date_trunc("week", c), "yyyy-MM-dd")  # noqa: E731
    firsts = ev.groupBy("user_id").agg(wk(F.min("ts")).alias("cohort"))
    activity = ev.select("user_id", wk(F.col("ts")).alias("wk")).distinct()
    sizes = firsts.groupBy("cohort").agg(F.count(F.lit(1)).cast("long").alias("n_cohort"))
    return (
        firsts.join(activity, "user_id")
        .join(F.broadcast(sizes), "cohort")
        .groupBy("cohort", F.col("wk").alias("active_week"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_active"),
            F.max("n_cohort").alias("n_cohort"),
            F.round(F.count(F.lit(1)) * 1.0 / F.max("n_cohort"), 6).alias("retention"),
        )
    )


@query(
    "event_transition_matrix",
    sql="""
    WITH ordered AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
      FROM events
    ),
    pairs AS (
      SELECT prev_type, event_type AS next_type, CAST(COUNT(*) AS BIGINT) AS n
      FROM ordered WHERE prev_type IS NOT NULL
      GROUP BY prev_type, event_type
    )
    SELECT prev_type, next_type, n,
           ROUND(n * 1.0 / SUM(n) OVER (PARTITION BY prev_type), 6) AS p
    FROM pairs
    """,
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences (the Sankey/flow-diagram aggregate): one lag window
    partitioned by user (single shuffle on the user key), a
    (prev, next) hash aggregate, and a row-normalizing window over the
    |types|^2 transition frame."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = ev.select(
        "user_id", "event_type", F.lag("event_type").over(w).alias("prev_type")
    )
    pairs = (
        ordered.filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    wn = Window.partitionBy("prev_type")
    return pairs.select(
        "prev_type",
        "next_type",
        "n",
        F.round(F.col("n") * 1.0 / F.sum("n").over(wn), 6).alias("p"),
    )


@query(
    "funnel_three_step",
    sql="""
    WITH v AS (
      SELECT user_id, MIN(ts) AS t1 FROM events WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, MIN(e.ts) AS t2
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.ts > v.t1
      GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, MIN(e.ts) AS t3
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.t2
      GROUP BY e.user_id
    )
    SELECT CAST((SELECT COUNT(*) FROM v) AS BIGINT) AS n_view,
           CAST((SELECT COUNT(*) FROM c) AS BIGINT) AS n_click_after_view,
           CAST((SELECT COUNT(*) FROM p) AS BIGINT) AS n_purchase_after_click,
           ROUND((SELECT COUNT(*) FROM c) * 1.0 / (SELECT COUNT(*) FROM v), 6) AS conv_step2,
           ROUND((SELECT COUNT(*) FROM p) * 1.0 / (SELECT COUNT(*) FROM c), 6) AS conv_step3
    """,
)
def funnel_three_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict-order 3-step funnel (view -> click after view -> purchase
    after that click): each step is a per-user MIN aggregate joined to
    the previous step's anchor time — all shuffles on the user key,
    and the three step counts collapse to a one-row summary. The
    strict ordering (each step must FOLLOW the prior step's first
    completion) is what naive type-count funnels get wrong."""
    ev = load_table(spark, sf_dir, "events")
    v = ev.filter(F.col("event_type") == "view").groupBy("user_id").agg(F.min("ts").alias("t1"))
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    nv = v.agg(F.count(F.lit(1)).cast("long").alias("n_view"))
    nc = c.agg(F.count(F.lit(1)).cast("long").alias("n_click_after_view"))
    np_ = p.agg(F.count(F.lit(1)).cast("long").alias("n_purchase_after_click"))
    return (
        nv.crossJoin(nc)
        .crossJoin(np_)
        .select(
            "n_view",
            "n_click_after_view",
            "n_purchase_after_click",
            # try_divide: a step with zero entrants must yield NULL
            # conversion, not an ANSI divide error
            F.round(F.try_divide(F.col("n_click_after_view") * 1.0, F.col("n_view")), 6).alias(
                "conv_step2"
            ),
            F.round(
                F.try_divide(F.col("n_purchase_after_click") * 1.0, F.col("n_click_after_view")),
                6,
            ).alias("conv_step3"),
        )
    )


@query(
    "copurchase_brand_lift",
    sql="""
    WITH ob AS (
      SELECT DISTINCT l_orderkey AS okey, p_brand AS brand
      FROM lineitem JOIN part ON l_partkey = p_partkey
    ),
    n AS (SELECT CAST(COUNT(DISTINCT okey) AS BIGINT) AS n_orders FROM ob),
    bc AS (SELECT brand, CAST(COUNT(*) AS BIGINT) AS n_b FROM ob GROUP BY brand),
    pairs AS (
      SELECT a.brand AS brand_a, b.brand AS brand_b, CAST(COUNT(*) AS BIGINT) AS n_ab
      FROM ob a JOIN ob b ON a.okey = b.okey AND a.brand < b.brand
      GROUP BY 1, 2
    )
    SELECT brand_a, brand_b, n_ab,
           ROUND(n_ab * 1.0 * n.n_orders / (ca.n_b * cb.n_b), 6) AS lift
    FROM pairs
    JOIN bc ca ON brand_a = ca.brand
    JOIN bc cb ON brand_b = cb.brand
    CROSS JOIN n
    WHERE n_ab >= 20
    """,
)
def copurchase_brand_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket brand affinity: lift of brand co-occurrence within
    an order (P(a,b)/(P(a)P(b)) over orders). The pair join blocks on
    the order key, so fan-out is bounded by items-per-order (~C(4,2)
    pairs each), never corpus-quadratic; brand margins re-join on the
    bounded brand frame and the order total rides along as a 1-row
    broadcast."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    # ONE grouped brand set per order (single shuffle, map-side
    # partial sets) feeds the order count, the brand margins, and the
    # pair counts; the pair expansion is a double explode over the
    # per-order array (bounded by items-per-order) instead of an
    # order-keyed self-join that shuffles the frame twice more —
    # identical counts, same shape as pagerank's co-supply edges.
    sets = (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy(F.col("l_orderkey").alias("okey"))
        .agg(F.collect_set("p_brand").alias("bs"))
    )
    n = sets.agg(F.count(F.lit(1)).cast("long").alias("n_orders"))
    bc = sets.select(F.explode("bs").alias("brand")).groupBy("brand").agg(
        F.count(F.lit(1)).cast("long").alias("n_b")
    )
    pairs = (
        sets.select(F.explode("bs").alias("brand_a"), "bs")
        .select("brand_a", F.explode("bs").alias("brand_b"))
        .filter(F.col("brand_a") < F.col("brand_b"))
        .groupBy("brand_a", "brand_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_ab"))
    )
    ca = bc.select(F.col("brand").alias("brand_a"), F.col("n_b").alias("na_"))
    cb = bc.select(F.col("brand").alias("brand_b"), F.col("n_b").alias("nb_"))
    return (
        pairs.join(F.broadcast(ca), "brand_a")
        .join(F.broadcast(cb), "brand_b")
        .crossJoin(F.broadcast(n))
        .filter(F.col("n_ab") >= 20)
        .select(
            "brand_a",
            "brand_b",
            "n_ab",
            F.round(
                F.col("n_ab") * 1.0 * F.col("n_orders") / (F.col("na_") * F.col("nb_")), 6
            ).alias("lift"),
        )
    )


@query(
    "funnel_time_to_convert",
    sql="""
    WITH v AS (
      SELECT user_id, MIN(ts) AS t1 FROM events WHERE event_type = 'view' GROUP BY user_id
    ),
    p AS (
      SELECT e.user_id, MIN(e.ts) AS tp
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'purchase' AND e.ts > v.t1
      GROUP BY e.user_id
    ),
    d AS (
      SELECT (epoch_us(p.tp) - epoch_us(v.t1)) / 60000000.0 AS mins
      FROM v JOIN p ON v.user_id = p.user_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_converted,
           ROUND(quantile_cont(mins, 0.5), 4) AS median_mins,
           ROUND(quantile_cont(mins, 0.9), 4) AS p90_mins,
           ROUND(AVG(mins), 4) AS mean_mins
    FROM d
    """,
)
def funnel_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution (first view -> first subsequent
    purchase, minutes): per-user MIN anchors joined on the user key,
    then one summary aggregate with exact percentiles. Microsecond
    epochs on both engines (whole-second truncation diverges from the
    oracle by the sub-second parts of the anchor timestamps)."""
    ev = load_table(spark, sf_dir, "events")
    v = ev.filter(F.col("event_type") == "view").groupBy("user_id").agg(F.min("ts").alias("t1"))
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("tp"))
    )
    d = v.join(p, "user_id").select(
        (
            (
                F.unix_micros(F.col("tp").cast("timestamp"))
                - F.unix_micros(F.col("t1").cast("timestamp"))
            )
            / 60000000.0
        ).alias("mins")
    )
    return d.agg(
        F.count(F.lit(1)).cast("long").alias("n_converted"),
        F.round(F.expr("percentile(mins, 0.5)"), 4).alias("median_mins"),
        F.round(F.expr("percentile(mins, 0.9)"), 4).alias("p90_mins"),
        F.round(F.avg("mins"), 4).alias("mean_mins"),
    )


@query(
    "key_skew_report",
    sql="""
    WITH oc AS (
      SELECT o_custkey AS k, CAST(COUNT(*) AS BIGINT) AS c FROM orders GROUP BY o_custkey
    ),
    lo AS (
      SELECT l_orderkey AS k, CAST(COUNT(*) AS BIGINT) AS c FROM lineitem GROUP BY l_orderkey
    )
    SELECT 'orders' AS tbl, 'o_custkey' AS key,
           CAST(SUM(c) AS BIGINT) AS n_rows, CAST(COUNT(*) AS BIGINT) AS n_keys,
           ROUND(MAX(c) * 1.0 / SUM(c), 6) AS top1_share,
           ROUND(CAST(quantile_cont(c, 0.99) AS DOUBLE), 4) AS p99_key_count,
           ROUND(MAX(c) * 1.0 / (SUM(c) * 1.0 / COUNT(*)), 4) AS max_over_mean
    FROM oc
    UNION ALL
    SELECT 'lineitem', 'l_orderkey',
           CAST(SUM(c) AS BIGINT), CAST(COUNT(*) AS BIGINT),
           ROUND(MAX(c) * 1.0 / SUM(c), 6),
           ROUND(CAST(quantile_cont(c, 0.99) AS DOUBLE), 4),
           ROUND(MAX(c) * 1.0 / (SUM(c) * 1.0 / COUNT(*)), 4)
    FROM lo
    """,
)
def key_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join/aggregation key-skew profiler — the diagnostic that decides
    whether a key needs the salting/AQE-skew tools (operators/skew.py):
    per key-column, row count, distinct keys, the heaviest key's share,
    the p99 per-key count, and max-over-mean (the straggler factor a
    shuffle on this key would see). One hash aggregate per key column;
    the statistic folds over the key-count frame, which is
    distinct-key-sized with map-side combine."""

    def profile(df: DataFrame, tbl: str, key: str) -> DataFrame:
        kc = df.groupBy(F.col(key).alias("k")).agg(F.count(F.lit(1)).cast("long").alias("c"))
        return kc.agg(
            F.lit(tbl).alias("tbl"),
            F.lit(key).alias("key"),
            F.sum("c").cast("long").alias("n_rows"),
            F.count(F.lit(1)).cast("long").alias("n_keys"),
            F.round(F.max("c") * 1.0 / F.sum("c"), 6).alias("top1_share"),
            F.round(F.expr("percentile(c, 0.99)").cast("double"), 4).alias("p99_key_count"),
            F.round(F.max("c") * 1.0 / (F.sum("c") * 1.0 / F.count(F.lit(1))), 4).alias(
                "max_over_mean"
            ),
        )

    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return profile(o, "orders", "o_custkey").unionByName(
        profile(li, "lineitem", "l_orderkey")
    )


@query(
    "activity_heatmap_dow_hour",
    sql="""
    WITH b AS (
      SELECT dayofweek(ts) AS dow, CAST(hour(ts) AS INT) AS hr FROM events
    ),
    agg AS (
      SELECT dow, hr, CAST(COUNT(*) AS BIGINT) AS n FROM b GROUP BY dow, hr
    )
    SELECT dow, hr, n,
           ROUND(n * 1.0 / SUM(n) OVER (), 6) AS share
    FROM agg
    """,
)
def activity_heatmap_dow_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week x hour activity heatmap aggregate (the usage-
    seasonality plot): one hash aggregate to the bounded 7x24 grid,
    share window over that frame. Day-of-week numbering is aligned to
    the oracle's convention (Sunday = 0): Spark's ``dayofweek`` is
    1-based Sunday, so subtract one."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    b = ev.select(
        (F.dayofweek("ts") - 1).alias("dow"), F.hour("ts").cast("int").alias("hr")
    )
    agg = b.groupBy("dow", "hr").agg(F.count(F.lit(1)).cast("long").alias("n"))
    w = Window.partitionBy()
    return agg.select(
        "dow", "hr", "n", F.round(F.col("n") * 1.0 / F.sum("n").over(w), 6).alias("share")
    )


@query(
    "weekly_active_users",
    sql="""
    WITH wk AS (
      SELECT strftime(date_trunc('week', ts), '%Y-%m-%d') AS week,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_active,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM events GROUP BY 1
    )
    SELECT week, n_active, n_events,
           ROUND((n_active - lag(n_active) OVER (ORDER BY week))
                 * 1.0 / lag(n_active) OVER (ORDER BY week), 6) AS wow_change
    FROM wk
    """,
)
def weekly_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly active users with week-over-week change — the top-line
    engagement series. Exact distinct per week (one shuffle on the
    week/user pair via the distinct aggregate); the lag window runs
    over the weeks frame, bounded by the calendar, never by events."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    wk = ev.groupBy(
        F.date_format(F.date_trunc("week", "ts"), "yyyy-MM-dd").alias("week")
    ).agg(
        F.count_distinct("user_id").cast("long").alias("n_active"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
    )
    w = Window.orderBy("week")
    prev = F.lag("n_active").over(w)
    return wk.select(
        "week",
        "n_active",
        "n_events",
        F.round((F.col("n_active") - prev) * 1.0 / prev, 6).alias("wow_change"),
    )


@query(
    "streaming_sliding_rates",
    sql="""
    WITH starts AS (
      SELECT unnest([
               make_timestamp(CAST(floor(epoch(ts) / 1800) * 1800 * 1000000 AS BIGINT)),
               make_timestamp(CAST((floor(epoch(ts) / 1800) * 1800 - 1800) * 1000000 AS BIGINT))
             ]) AS ws,
             event_type
      FROM events
    )
    SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start, event_type,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM starts GROUP BY 1, 2
    """,
)
def streaming_sliding_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL Structured Streaming run of the sliding-window (1 hour /
    30 minutes) rate aggregation — the overlapping-window companion to
    ``streaming_tumbling_counts``: file-source landing zone, bounded
    micro-batches, complete output mode drained with the available-now
    trigger. Complete-mode windowed aggregation over the full source
    equals the batch sliding group-by, so the unnest-both-starts DuckDB
    oracle applies."""
    import hashlib
    import os

    from .streaming.events import read_events_stream, run_to_memory, sliding_rates

    stage = os.path.join(
        "/tmp/spark_graft_stream_stage", hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    )
    load_table(spark, sf_dir, "events").repartition(4).write.mode("overwrite").parquet(stage)
    stream = read_events_stream(spark, stage, max_files_per_trigger=2)
    name = "q_streaming_sliding"
    run_to_memory(
        sliding_rates(stream, window="1 hour", slide="30 minutes", watermark="2 hours"),
        name,
        output_mode="complete",
    )
    out = spark.table(name)
    return out.select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type",
        F.col("n").cast("long").alias("n"),
    )


@query(
    "supplier_lead_time_stats",
    sql="""
    WITH lt AS (
      SELECT n.n_name AS nation,
             date_diff('day', CAST(o.o_orderdate AS DATE), CAST(l.l_shipdate AS DATE)) AS days
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation n ON s.s_nationkey = n.n_nationkey
    )
    SELECT nation, CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(AVG(days), 4) AS mean_days,
           ROUND(quantile_cont(days, 0.5), 4) AS median_days,
           ROUND(quantile_cont(days, 0.9), 4) AS p90_days
    FROM lt GROUP BY nation
    """,
)
def supplier_lead_time_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship lead time distribution per supplier nation — the
    operational SLA profile. One join chain (supplier and nation dims
    broadcast under AQE) into a per-nation aggregate with exact
    percentiles over the bounded nation frame."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    lt = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(n, s.s_nationkey == n.n_nationkey)
        .select(
            F.col("n_name").alias("nation"),
            F.datediff(F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")).alias(
                "days"
            ),
        )
    )
    return lt.groupBy("nation").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.avg("days"), 4).alias("mean_days"),
        F.round(F.expr("percentile(days, 0.5)"), 4).alias("median_days"),
        F.round(F.expr("percentile(days, 0.9)"), 4).alias("p90_days"),
    )


@query(
    "monthly_revenue_seasonality",
    sql="""
    WITH m AS (
      SELECT CAST(month(CAST(o_orderdate AS DATE)) AS INT) AS month,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM orders GROUP BY 1
    )
    SELECT month, cents / CAST(100.0 AS DOUBLE) AS revenue,
           ROUND(cents * 1.0 / SUM(cents) OVER (), 6) AS share
    FROM m
    """,
)
def monthly_revenue_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-of-year revenue seasonality: exact long-cents sums per
    calendar month with each month's share of the total — the share
    window runs over the 12-row month frame."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    m = o.groupBy(F.month(F.col("o_orderdate").cast("date")).cast("int").alias("month")).agg(
        F.sum(cents("o_totalprice")).cast("long").alias("cents")
    )
    w = Window.partitionBy()
    return m.select(
        "month",
        (F.col("cents") / F.lit(100.0)).alias("revenue"),
        F.round(F.col("cents") * 1.0 / F.sum("cents").over(w), 6).alias("share"),
    )


@query(
    "part_type_revenue_pareto",
    sql="""
    WITH r AS (
      SELECT p.p_type AS part_type,
             CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                      * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))) AS BIGINT) AS cents4
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY p.p_type
    ),
    ranked AS (
      SELECT part_type, cents4 / 10000.0 AS revenue,
             SUM(cents4) OVER (ORDER BY cents4 DESC, part_type ASC
                               ROWS UNBOUNDED PRECEDING) * 1.0
               / SUM(cents4) OVER () AS cum_share
      FROM r
    )
    SELECT part_type, revenue, ROUND(cum_share, 6) AS cum_share,
           CASE WHEN cum_share <= 0.8 THEN 'A'
                WHEN cum_share <= 0.95 THEN 'B' ELSE 'C' END AS abc_class
    FROM ranked
    """,
)
def part_type_revenue_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto / ABC analysis of discounted revenue by part type: rank
    types by revenue, cumulative share, A (top 80%) / B (to 95%) / C
    classes. Exact 4dp-cents revenue; the heavy side is ONE fact
    aggregate, and the cumulative window runs over the bounded
    part-type frame (|types| rows), not fact rows."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    cents4 = F.sum(
        cents("l_extendedprice") * (100 - cents("l_discount"))
    ).cast("long")
    r = (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy(F.col("p_type").alias("part_type"))
        .agg(cents4.alias("cents4"))
    )
    w_cum = Window.orderBy(F.desc("cents4"), F.asc("part_type")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_tot = Window.partitionBy()
    cum_share = F.sum("cents4").over(w_cum) * 1.0 / F.sum("cents4").over(w_tot)
    return r.select(
        "part_type",
        (F.col("cents4") / F.lit(10000.0)).alias("revenue"),
        F.round(cum_share, 6).alias("cum_share"),
        F.when(cum_share <= 0.8, "A").when(cum_share <= 0.95, "B").otherwise("C").alias(
            "abc_class"
        ),
    )


# ---------------------------------------------------------------------------
# Triangle counting (degree-oriented, Suri–Vassilvitskii style)
# ---------------------------------------------------------------------------
@query(
    "triangle_count_neardup",
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
    e AS (
      SELECT DISTINCT a.doc_id AS u, b.doc_id AS v
      FROM banded a JOIN banded b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
    ),
    deg AS (
      SELECT x AS v, CAST(COUNT(*) AS BIGINT) AS d FROM (
        SELECT u AS x FROM e UNION ALL SELECT v AS x FROM e
      ) GROUP BY 1
    ),
    o AS (
      SELECT CASE WHEN da.d <= db.d THEN e.u ELSE e.v END AS src,
             CASE WHEN da.d <= db.d THEN e.v ELSE e.u END AS dst
      FROM e JOIN deg da ON da.v = e.u JOIN deg db ON db.v = e.v
    ),
    tri AS (
      SELECT o1.src AS a, o1.dst AS b, o2.dst AS c
      FROM o o1
      JOIN o o2 ON o1.src = o2.src AND o1.dst < o2.dst
      JOIN e   ON e.u = o1.dst AND e.v = o2.dst
    ),
    per_v AS (
      SELECT x AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_triangles FROM (
        SELECT a AS x FROM tri UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri
      ) GROUP BY 1
    )
    SELECT per_v.doc_id, per_v.n_triangles, deg.d AS degree,
           ROUND(per_v.n_triangles * 2.0 / (deg.d * (deg.d - 1)), 6)
             AS clustering_coeff
    FROM per_v JOIN deg ON deg.v = per_v.doc_id
    """,
)
def triangle_count_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document triangle counts + local clustering coefficient over
    the minhash near-dup pair graph — transitivity of near-duplication
    separates template FAMILIES (dense, high clustering: boilerplate
    with slot edits) from drift CHAINS (v1~v2~v3 but v1!~v3: low
    clustering), which decide whether cluster-collapse dedup is safe
    or over-merges. Computed the scale-correct way (Suri &
    Vassilvitskii, WWW 2011): orient every edge from the
    lower-(degree, id) endpoint to the higher, enumerate wedges only
    at each edge's designated apex (out-degrees under this orientation
    are O(sqrt E)-bounded, so no hub explodes the wedge join), and
    close each wedge against the undirected edge set — every triangle
    counted exactly once at its minimum-order vertex. The near-dup
    graph is sparse BY CONSTRUCTION (LSH banding bounds candidate
    generation); a first cosupply-graph attempt on this synthetic data
    saturated to a near-complete K_n where triangle counting is
    inherently Theta(n^3) — graph choice, not algorithm, was the fix."""
    from .operators.dedup_fuzzy import minhash_candidate_pairs
    from .operators.graph import triangle_counts

    d = spread_for_compute(load_table(spark, sf_dir, "documents"))
    pairs = minhash_candidate_pairs(d, "text", "doc_id", max_bucket_size=None)
    out = triangle_counts(pairs.select(F.col("id_a").alias("u"), F.col("id_b").alias("v")))
    return out.withColumnRenamed("x", "doc_id")


@query(
    "functional_dependency_audit",
    sql="""
    WITH checks AS (
      SELECT 'orders' AS tbl, 'o_orderkey -> o_custkey' AS fd,
             CAST(COUNT(*) AS BIGINT) AS n_keys,
             CAST(SUM(CASE WHEN n_vals > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating_keys
      FROM (SELECT o_orderkey, COUNT(DISTINCT o_custkey) AS n_vals FROM orders GROUP BY 1)
      UNION ALL
      SELECT 'customer', 'c_custkey -> c_mktsegment',
             CAST(COUNT(*) AS BIGINT),
             CAST(SUM(CASE WHEN n_vals > 1 THEN 1 ELSE 0 END) AS BIGINT)
      FROM (SELECT c_custkey, COUNT(DISTINCT c_mktsegment) AS n_vals FROM customer GROUP BY 1)
      UNION ALL
      SELECT 'lineitem', '(l_orderkey, l_linenumber) -> l_partkey',
             CAST(COUNT(*) AS BIGINT),
             CAST(SUM(CASE WHEN n_vals > 1 THEN 1 ELSE 0 END) AS BIGINT)
      FROM (SELECT l_orderkey, l_linenumber, COUNT(DISTINCT l_partkey) AS n_vals
            FROM lineitem GROUP BY 1, 2)
      UNION ALL
      SELECT 'documents', 'doc_id -> lang',
             CAST(COUNT(*) AS BIGINT),
             CAST(SUM(CASE WHEN n_vals > 1 THEN 1 ELSE 0 END) AS BIGINT)
      FROM (SELECT doc_id, COUNT(DISTINCT lang) AS n_vals FROM documents GROUP BY 1)
    )
    SELECT tbl, fd, n_keys, n_violating_keys,
           ROUND(n_violating_keys * 1.0 / NULLIF(n_keys, 0), 6) AS violation_rate
    FROM checks ORDER BY tbl, fd
    """,
)
def functional_dependency_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency audit: for each declared FD "determinant
    → dependent", count determinant keys bound to MORE THAN ONE
    dependent value — the data-quality check that catches silently
    denormalized or merge-corrupted tables before a join fans out on
    them (the companion to ``data_quality_checks``' referential and
    range rules; the reference's dp/eda has no FD tooling).

    Each FD is one hash aggregate (count distinct per determinant,
    map-side combined) folded to a single row; the audit frame is as
    many rows as DECLARED dependencies. No joins, no windows."""
    from .catalog import load_table as _lt

    def fd(tbl: str, name: str, keys: list, dep: str) -> DataFrame:
        g = (
            _lt(spark, sf_dir, tbl)
            .groupBy(*keys)
            .agg(F.count_distinct(F.col(dep)).alias("n_vals"))
        )
        return g.agg(
            F.lit(tbl).alias("tbl"),
            F.lit(name).alias("fd"),
            F.count(F.lit(1)).cast("long").alias("n_keys"),
            F.sum(F.when(F.col("n_vals") > 1, 1).otherwise(0))
            .cast("long")
            .alias("n_violating_keys"),
        )

    checks = (
        fd("orders", "o_orderkey -> o_custkey", ["o_orderkey"], "o_custkey")
        .unionByName(
            fd("customer", "c_custkey -> c_mktsegment", ["c_custkey"], "c_mktsegment")
        )
        .unionByName(
            fd(
                "lineitem",
                "(l_orderkey, l_linenumber) -> l_partkey",
                ["l_orderkey", "l_linenumber"],
                "l_partkey",
            )
        )
        .unionByName(fd("documents", "doc_id -> lang", ["doc_id"], "lang"))
    )
    return checks.select(
        "tbl",
        "fd",
        "n_keys",
        "n_violating_keys",
        F.round(
            F.try_divide(F.col("n_violating_keys") * 1.0, F.col("n_keys").cast("double")),
            6,
        ).alias("violation_rate"),
    ).orderBy("tbl", "fd")
