"""Output checks, run after the timed phase. Each returns a list of
problems; an empty list means the output is correct."""

from __future__ import annotations

import duckdb

from tools.check_oracle import frame_key


def compare_frames(name: str, got_cols, got_rows, want_cols, want_rows) -> list[str]:
    """Row count, column names, then order-insensitive values — the
    registry's oracle rule (``tools/check_oracle.frame_key``)."""
    if len(got_rows) != len(want_rows):
        return [f"{name}: {len(got_rows)} rows, oracle has {len(want_rows)}"]
    gc, gk = frame_key(list(got_cols), got_rows)
    wc, wk = frame_key(list(want_cols), want_rows)
    if gc != wc:
        return [f"{name}: columns {gc}, oracle has {wc}"]
    if gk != wk:
        first = next((a, b) for a, b in zip(gk, wk) if a != b)
        return [f"{name}: values differ, first {first[0]} vs oracle {first[1]}"]
    return []


def oracle_con(sf_dir: str, tables) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def check_queries(results: dict, oracles: dict, sf_dir: str, tables) -> list[str]:
    """``results``: name -> (columns, rows) collected from Spark."""
    con = oracle_con(sf_dir, tables)
    problems = []
    for name, (cols, rows) in results.items():
        res = con.execute(oracles[name])
        problems += compare_frames(
            name, cols, rows, [d[0] for d in res.description], res.fetchall()
        )
    return problems


def _sink_rows(con, path: str, cols: str):
    return con.execute(
        f"SELECT {cols} FROM read_parquet('{path}/**/*.parquet', hive_partitioning = false)"
    ).fetchall()


def check_curation(out: str, report: str, n_input: int, expected_ids) -> list[str]:
    """The report's funnel ties out to the input count and the curated
    doc-id set is the expected one (it does not depend on the seed,
    which only permutes rows and files)."""
    con = duckdb.connect()
    problems = []
    ids = sorted(r[0] for r in _sink_rows(con, out, "doc_id"))
    if len(ids) != len(set(ids)):
        problems.append(f"{out}: a doc_id is curated twice")
    if ids != sorted(expected_ids):
        problems.append(f"{out}: {len(ids)} curated docs differ from the expected {len(expected_ids)}")
    drops = "n_dropped_lang + n_dropped_quality + n_dropped_ppl + n_dropped_cut"
    n_docs, passed = con.execute(
        f"SELECT sum(n_docs), sum(n_docs - ({drops})) "
        f"FROM read_parquet('{report}/*.parquet')"
    ).fetchone()
    if n_docs != n_input:
        problems.append(f"{report}: funnel counts {n_docs} docs, input has {n_input}")
    if passed is None or passed < len(ids):
        problems.append(f"{report}: {passed} docs pass the filters but {len(ids)} are curated")
    return problems



def check_ingest(landing: str, sink: str) -> list[str]:
    """The exact-dedup sink holds each distinct landed text once (the
    distinct texts computed here, independently of the program) and
    accepts no doc_id twice."""
    con = duckdb.connect()
    problems = []
    ids = [r[0] for r in _sink_rows(con, sink, "doc_id")]
    if len(ids) != len(set(ids)):
        problems.append(f"{sink}: a doc_id is accepted twice")
    want = {r[0] for r in con.execute(
        f"SELECT DISTINCT coalesce(text, '') FROM read_parquet('{landing}/*.parquet')"
    ).fetchall()}
    got = [r[0] for r in _sink_rows(con, sink, "coalesce(text, '')")]
    if len(got) != len(set(got)) or set(got) != want:
        problems.append(
            f"{sink}: {len(got)} texts ({len(set(got))} distinct), landed {len(want)} distinct"
        )
    return problems
