"""The benchmark's output checks must fail on corrupted output.

Run: python3 -m pytest perfbench/test_checks.py -q
"""

from __future__ import annotations

import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

from checks import (  # noqa: E402
    check_curation,
    check_ingest,
    check_queries,
    compare_frames,
    oracle_con,
)
from workloads import QUERY_MIX, SF_DIR  # noqa: E402

from classification_pyspark_spark.catalog import TABLES  # noqa: E402
from classification_pyspark_spark.queries import ORACLES  # noqa: E402


def oracle_frame(name):
    res = oracle_con(SF_DIR, TABLES).execute(ORACLES[name])
    return [d[0] for d in res.description], res.fetchall()


def test_every_query_in_the_mix_has_an_oracle():
    assert all(name in ORACLES for name in QUERY_MIX)


def test_oracle_output_passes():
    name = "q3_top_revenue_orders"
    assert check_queries({name: oracle_frame(name)}, ORACLES, SF_DIR, TABLES) == []


@pytest.mark.parametrize("corrupt", ["value", "drop_row", "rename_column"])
def test_corrupted_frame_fails(corrupt):
    name = "q3_top_revenue_orders"
    cols, rows = oracle_frame(name)
    rows = [list(r) for r in rows]
    if corrupt == "value":
        i = next(i for i, v in enumerate(rows[0]) if isinstance(v, (int, float)))
        rows[0][i] += 1
    elif corrupt == "drop_row":
        rows = rows[1:]
    else:
        cols = ["bogus"] + cols[1:]
    problems = check_queries({name: (cols, [tuple(r) for r in rows])}, ORACLES, SF_DIR, TABLES)
    assert len(problems) == 1 and problems[0].startswith(name)


def test_compare_frames_ignores_row_and_column_order():
    assert compare_frames("t", ["a", "b"], [(1, "x"), (2, "y")], ["b", "a"], [("y", 2), ("x", 1)]) == []


def _curation_dirs(tmp_path, curated_ids, n_docs):
    out, report = tmp_path / "curated", tmp_path / "report"
    out.mkdir()
    report.mkdir()
    pq.write_table(pa.table({"doc_id": curated_ids}), out / "part-0.parquet")
    zeros = [0, 0]
    pq.write_table(
        pa.table({"source": ["a", "b"], "n_docs": n_docs, "n_dropped_lang": [1, 0],
                  "n_dropped_quality": zeros, "n_dropped_ppl": zeros, "n_dropped_cut": zeros}),
        report / "part-0.parquet",
    )
    return str(out), str(report)


def test_correct_curation_passes(tmp_path):
    assert check_curation(*_curation_dirs(tmp_path, [1, 2], [2, 2]), 4, [1, 2]) == []


@pytest.mark.parametrize(
    "curated,n_docs",
    [([1], [2, 2]), ([1, 2, 2], [2, 2]), ([1, 2], [2, 1])],
    ids=["doc_missing", "doc_twice", "funnel_short"],
)
def test_corrupted_curation_fails(tmp_path, curated, n_docs):
    assert check_curation(*_curation_dirs(tmp_path, curated, n_docs), 4, [1, 2])



def _ingest_dirs(tmp_path, landed, accepted):
    """``landed``/``accepted``: (doc_id, text) rows; the sink is written
    as two epoch partitions, as the ingest writes it."""
    landing, sink = tmp_path / "landing", tmp_path / "sink"
    landing.mkdir()
    for i, part in enumerate((accepted[:1], accepted[1:])):
        (sink / f"epoch={i}").mkdir(parents=True)
        pq.write_table(pa.table({"doc_id": [r[0] for r in part], "text": [r[1] for r in part]},
                                schema=pa.schema([("doc_id", pa.int64()), ("text", pa.string())])),
                       sink / f"epoch={i}" / "part-0.parquet")
    pq.write_table(pa.table({"doc_id": [r[0] for r in landed], "text": [r[1] for r in landed]}),
                   landing / "round0-00.parquet")
    return str(landing), str(sink)


LANDED = [(1, "a"), (2, "b"), (3, "a"), (4, "c")]


def test_correct_ingest_passes(tmp_path):
    assert check_ingest(*_ingest_dirs(tmp_path, LANDED, [(1, "a"), (2, "b"), (4, "c")])) == []


@pytest.mark.parametrize(
    "accepted",
    [[(1, "a"), (2, "b")], [(1, "a"), (2, "b"), (3, "a"), (4, "c")],
     [(1, "a"), (2, "b"), (2, "c")], [(1, "a"), (2, "b"), (4, "d")]],
    ids=["text_missing", "duplicate_text", "doc_id_twice", "text_never_landed"],
)
def test_corrupted_ingest_fails(tmp_path, accepted):
    assert check_ingest(*_ingest_dirs(tmp_path, LANDED, accepted))
