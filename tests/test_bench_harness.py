"""The measurement harness (bench.py): a timed rep reads the same
load-independent counters every time, ``plan`` dumps and counts the
formatted plan, and every subcommand refuses an unknown query name
before it starts Spark."""

from __future__ import annotations

import json

import pytest

import bench


@pytest.mark.parametrize(
    "name",
    # the streaming query's micro-batch jobs run on the stream's thread,
    # under the stream's own job description
    ["q1_pricing_summary", "window_topk_per_group", "streaming_tumbling_counts"],
)
def test_timed_reps_report_identical_counters(spark, sf_dir, name):
    fn = bench.QUERIES[name]
    got = []
    for _ in range(2):
        sec, jobs, stages, compiles = bench.timed_rep(spark, fn, sf_dir)
        assert sec > 0
        assert {s["stageId"] for s in stages} <= {s for j in jobs for s in j["stageIds"]}
        got.append(bench.counters(jobs, stages, compiles))
    a, b = got
    assert all(a[k] > 0 for k in ("jobs", "stages", "tasks")), a
    assert {k: a[k] for k in ("jobs", "stages", "tasks")} == {
        k: b[k] for k in ("jobs", "stages", "tasks")
    }
    # the second rep finds every generated class in the codegen cache
    assert b["compiles"] == 0, (a, b)
    # a snapshot whose job range the store does not hold (job -1 never
    # existed, as if evicted) fails loudly
    with pytest.raises(RuntimeError, match="lacks jobs"):
        bench._history(spark, -1)


def test_plan_writes_the_dump_and_counts_exchanges(spark, sf_dir, tmp_path, monkeypatch, capsys):
    monkeypatch.setattr(bench, "get_spark", lambda *a, **k: spark)
    assert bench.main(["plan", str(tmp_path), "q1_pricing_summary", "--sf", sf_dir]) == 0
    rec = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rec["file"] == str(tmp_path / "q1_pricing_summary.txt")
    assert (tmp_path / "q1_pricing_summary.txt").read_text().count("Exchange") >= 1
    assert rec["exchange"] >= 1


@pytest.mark.parametrize(
    "argv",
    [
        ["retime", "no_such_query"],
        ["retime", "q1_pricing_summary", "--control", "no_such_query"],
        ["profile", "no_such_query"],
        ["plan", "out", "no_such_query"],
    ],
)
def test_unknown_query_name_is_a_usage_error_before_spark(argv, monkeypatch):
    def no_spark(*a, **k):
        raise AssertionError("Spark started before the query names were checked")

    monkeypatch.setattr(bench, "get_spark", no_spark)
    with pytest.raises(SystemExit) as exc:
        bench.main(argv)
    assert exc.value.code == 2
