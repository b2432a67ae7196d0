"""Plan-quality assertions: the scale guarantees (pushdown, pruning,
broadcast selection, shuffle counts) are pinned in CI, not just
eyeballed once — a regression that silently widens a scan or adds a
shuffle fails here."""

from __future__ import annotations

from classification_pyspark_spark.queries import QUERIES


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_q1_pushdown_and_pruning(spark, sf_dir):
    df = QUERIES["q1_pricing_summary"](spark, sf_dir)
    plan = _plan(df)
    # date predicate reaches the parquet scan (<= folds to < next day)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThan(l_shipdate" in plan
    # column pruning: unused key/line columns never appear in the plan
    assert "l_orderkey" not in plan
    assert "l_partkey" not in plan
    assert "l_linenumber" not in plan


def test_q3_broadcasts_filtered_dimension(spark, sf_dir):
    plan = _plan(QUERIES["q3_top_revenue_orders"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    # the mktsegment predicate pushes into the customer scan
    assert "EqualTo(c_mktsegment,BUILDING)" in plan


def test_rolling_window_single_shuffle(spark, sf_dir):
    plan = _plan(QUERIES["rolling_spend_30d"](spark, sf_dir))
    # exactly one Exchange: the o_custkey hash partitioning for the frame
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Exchange SinglePartition" not in plan


def test_range_join_fact_side_never_shuffles(spark, sf_dir):
    plan = _plan(QUERIES["range_join_value_bands"](spark, sf_dir))
    # interval table broadcast -> nested-loop probe, no fact shuffle
    assert "BroadcastNestedLoopJoin" in plan
    # only the band partial-agg exchange remains
    assert plan.count("Exchange hashpartitioning") == 1


def test_date_range_filter_fully_pushed(spark, sf_dir):
    plan = _plan(QUERIES["date_range_filter"](spark, sf_dir))
    # both predicates reach the scan (PushedFilters renders truncated,
    # so assert on the untruncated DataFilters/Filter text)
    assert "GreaterThanOrEqual(o_orderdate,1996-01-01" in plan
    assert "> 50000.0" in plan
    assert "Filter" in plan


def test_q10_filters_push_and_topk_no_global_sort(spark, sf_dir):
    plan = _plan(QUERIES["q10_returned_items"](spark, sf_dir))
    # returnflag + order-date predicates reach the parquet scans
    assert "EqualTo(l_returnflag,R)" in plan
    assert "GreaterThanOrEqual(o_orderdate,1998-01-01" in plan
    # top-20 is TakeOrderedAndProject (per-partition top-k + driver merge),
    # never a global sort shuffle
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan


def test_q18_having_aggregates_before_joins(spark, sf_dir):
    plan = _plan(QUERIES["q18_large_volume_customers"](spark, sf_dir))
    # the only hash exchange is the orderkey aggregate: the HAVING filter
    # runs on the aggregate BEFORE orders/customer join, so joins see only
    # the rare qualifying orders
    assert plan.count("Exchange hashpartitioning") == 1
    assert "TakeOrderedAndProject" in plan
    agg_pos = plan.index("HashAggregate")
    join_pos = plan.index("Join")
    assert agg_pos > join_pos  # tree prints top-down: agg sits BELOW joins


def test_q19_disjunction_pushed_to_both_scans(spark, sf_dir):
    plan = _plan(QUERIES["q19_disjunctive_revenue"](spark, sf_dir))
    # the OR-of-ANDs predicate reaches BOTH parquet scans (part gets the
    # brand/size disjunction, lineitem the derived quantity disjunction)
    assert "Or(Or(And(EqualTo(p_brand,Brand#1)" in plan
    assert "Or(Or(And(GreaterThanOrEqual(l_quantity,1.0)" in plan


def test_q4_exists_plans_as_semi_join(spark, sf_dir):
    plan = _plan(QUERIES["q4_order_priority"](spark, sf_dir))
    # EXISTS becomes a left_semi join (no duplication of multi-line
    # orders, no distinct needed) with exactly one shuffle
    assert "LeftSemi" in plan
    assert plan.count("Exchange hashpartitioning") <= 1


def test_q15_scalar_max_reuses_revenue_shuffle(spark, sf_dir):
    df = QUERIES["q15_top_supplier"](spark, sf_dir)
    df.collect()
    plan = _plan(df)
    # both consumers of the per-supplier revenue (join probe and global
    # max) share ONE shuffle: AQE stage reuse dedups the exchange, so
    # lineitem is scanned once
    assert "ReusedExchange" in plan


def test_threshold_sweep_aggregates_before_threshold_join(spark, sf_dir):
    """Round-4 verdict #3: the sweep must NOT replicate fact rows once
    per threshold. The scale-safe shape: fact scan -> per-bucket
    HashAggregate (<=n+2 rows) -> bounded join with the threshold
    frame. Pinned: the join sits ABOVE a HashAggregate on the fact
    side (tree prints top-down, so join line precedes that aggregate,
    which precedes the parquet scan), and no CartesianProduct."""
    plan = _plan(QUERIES["threshold_sweep"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    join_pos = plan.index("BroadcastNestedLoopJoin")
    scan_pos = plan.index("FileScan parquet")
    between = plan[join_pos:scan_pos]
    assert "HashAggregate" in between, (
        "threshold join must consume the bucket aggregate, not raw fact rows"
    )


def test_zorder_stats_single_bounded_exchange(spark, sf_dir):
    """The z-value is pure projection arithmetic: the curve-stats query
    must be scan -> project -> partial agg -> ONE hash exchange of
    <= 64 rows -> final agg. No join, no extra shuffle, no UDF."""
    plan = _plan(QUERIES["zorder_curve_stats"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan and "Python" not in plan


def test_incremental_dedup_probes_index_not_corpus(spark, sf_dir):
    """Incremental embedding dedup must bucket-prune the index with a
    broadcast (semi) join on the batch's bucket values — the
    DataFrame-level stand-in for partition pruning on the stored
    index — and never plan a cartesian product."""
    plan = _plan(QUERIES["embedding_incremental_dedup"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_minhash_incremental_prunes_index_to_batch_buckets(spark, sf_dir):
    """ADVICE r5 (medium): the minhash incremental path must semi-join
    the stored index against the batch's (band, h) keys BEFORE the
    hot-bucket sizes aggregate — without it every trigger rescans the
    whole index, contradicting the batch-proportional-work contract the
    embedding twin already honors."""
    plan = _plan(QUERIES["minhash_incremental_dedup"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "LeftSemi" in plan


def test_top_bigrams_capped_prunes_gram_shuffle(spark, sf_dir):
    """The cap twin's vocabulary-keyed count aggregate must consume the
    bucket-pruned gram stream: a broadcast LEFT SEMI join against the
    hot-bucket ids sits between the corpus scan and the gram count
    HashAggregate (tree prints top-down, so that aggregate appears
    before the semi join), and nothing plans a cartesian or a
    single-partition exchange."""
    plan = _plan(QUERIES["top_bigrams_capped"](spark, sf_dir))
    assert "LeftSemi" in plan and "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "Exchange SinglePartition" not in plan
    semi = plan.index("LeftSemi")
    assert "HashAggregate" in plan[:semi], (
        "gram count aggregate must sit above the bucket semi join"
    )


def test_every_query_plan_has_no_unexplained_scale_flags(spark):
    """Full-registry audit: single-partition exchanges, cartesian
    products, global windows, and row-at-a-time Python UDFs must all
    be allowlisted with a justification (tools/plan_audit.py).

    Runs at sf0.01 — the driver's correctness scale — NOT the sf0.001
    smoke dir, because join selection is statistics-dependent: round-8
    verdict found chi_square_independence planned a CartesianProduct at
    sf0.01+ while the sf0.001 audit saw a broadcast plan, so an audit
    at smoke scale silently misses stats-triggered join-strategy flips."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
    import plan_audit

    assert plan_audit.audit("/root/testdata/sf0.01", spark=spark, skip_eager=True) == 0


def test_bench_gate_logic(tmp_path):
    """The bench regression gate fails on >2x deltas or on counters
    over their bounds and passes otherwise (pure JSON-level check; the
    full bench runs per-round)."""
    import json
    import subprocess
    import sys

    ok = tmp_path / "ok.json"
    ok.write_text(json.dumps(
        {"queries": {"a": 1.0}, "baseline_delta": {"a": 1.1}, "regressions": []}))
    bad = tmp_path / "bad.json"
    bad.write_text(json.dumps(
        {"queries": {"a": 3.0}, "baseline_delta": {"a": 3.0}, "regressions": ["a"]}))
    # the counter gate: jobs +20 % / shuffle bytes +25 % over the
    # baseline's counters fails, at the baseline's sf only
    baseline = json.load(open("bench_baseline.json"))
    q, base = sorted(baseline["counters"].items())[0]
    record = {"queries": {q: 1.0}, "baseline_delta": {q: 1.0}, "regressions": [],
              "sf": baseline["sf"], "counters": {q: dict(base)}}
    ok_counters = tmp_path / "ok_counters.json"
    ok_counters.write_text(json.dumps(record))
    record["counters"][q]["jobs"] = int(base["jobs"] * 1.2) + 1
    bad_counters = tmp_path / "bad_counters.json"
    bad_counters.write_text(json.dumps(record))
    gate = "tools/bench_gate.py"
    assert subprocess.run([sys.executable, gate, str(ok)]).returncode == 0
    assert subprocess.run([sys.executable, gate, str(bad)]).returncode == 1
    assert subprocess.run([sys.executable, gate, str(ok_counters)]).returncode == 0
    assert subprocess.run([sys.executable, gate, str(bad_counters)]).returncode == 1


def test_bench_baseline_covers_headline():
    """Every headline query has a recorded per-query baseline, so the
    2x gate covers the worst-case plans too."""
    import json

    import bench

    baseline = json.load(open("bench_baseline.json"))
    missing = [n for n in bench.HEADLINE if n not in baseline["queries"]]
    assert missing == []
