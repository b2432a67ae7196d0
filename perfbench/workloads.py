"""The benchmark's workloads. Each one stages its inputs from the seed
(before the program is imported), warms up inside set-up, then exposes
one *pass*: a fixed list of operations that one client runs in a
closed loop. ``check`` verifies the outputs after the timed phase.
Each workload's rationale and warm-up regime is its ``why`` in
BENCHMARK.json."""

from __future__ import annotations

import json
import os
import random
import time

import pyarrow as pa
import pyarrow.parquet as pq

from measure import dir_usage

HERE = os.path.dirname(os.path.abspath(__file__))
# a copy of the sf0.01 star schema and corpus (TESTDATA.md), on which
# every registry query used here matches its DuckDB oracle
SF_DIR = os.path.join(HERE, "data", "sf0.01")
# doc ids the surgical curation job keeps from that corpus; the seed
# only permutes rows and files, so the set must not change with it
EXPECTED = os.path.join(HERE, "expected_curation.json")


class Workload:
    name = ""
    passes = 1  # timed passes per run, at the least

    def __init__(self, seed: int, work_dir: str, tracer) -> None:
        self.work = work_dir
        self.tracer = tracer
        self.rng = random.Random(seed)

    def stage(self) -> None:
        """Write the seeded inputs."""

    def warmup(self, spark) -> None:
        """Runs inside set-up, after the session starts."""

    def warmup_info(self) -> dict:
        """What the warm-up did, for the result record."""
        return {}

    def ops(self, spark, pass_dir: str) -> list[tuple]:
        """One pass: (name, prepare, op) triples. ``prepare`` (or None)
        runs before the operation's clock starts; ``op()`` returns True
        on success."""
        raise NotImplementedError

    def release(self, spark) -> None:
        """After each operation, outside its latency: drop what the
        operation tracked for release (the job runner does this itself)."""

    def clear(self, spark) -> None:
        """After ``release`` and the leak count: reset session caches."""

    def stored_dirs(self, pass_dir: str) -> list[str]:
        """Sinks, indexes and reports one pass wrote."""
        return []

    def input_bytes(self, pass_dir: str) -> int:
        """Bytes of input one pass read."""
        raise NotImplementedError

    def offered_rows(self) -> int:
        """Rows one pass offers to the streaming ingest."""
        return 0

    def check(self, pass_dir: str) -> list[str]:
        """Problems found in the outputs; empty when they are correct."""
        raise NotImplementedError


# 6 of the 24-query registry mix, chosen from per-query figures at this
# scale so that the subset keeps the mix's profile: 7.7 Spark jobs per
# query (mix 7.5), 39 % of them started inside the query builders (mix
# 39 %), two thirds of the time spent building (mix two thirds), the
# same spread of query times (CV 0.52, mix 0.53), and one query or two
# from each family of the mix (TPC-H, statistics, window/events, text,
# search). See CHANGES.md for the table.
QUERY_MIX = (
    "q1_pricing_summary outlier_summary window_topk_per_group "
    "text_stats minhash_dup_pairs bm25_keyword_topk"
).split()
# warm-up: untimed noop passes until two consecutive ones differ by less
# than STEADY (relative), at least MIN_WARM and at most MAX_WARM of them
STEADY = 0.25
MIN_WARM, MAX_WARM = 2, 3


class QueryMix(Workload):
    """Registry queries in one long-lived session; the seed sets their
    order. The warm-up first collects every result for the oracle
    check, then runs noop passes until the pass time has settled."""

    name = "query_mix"
    passes = 4

    def stage(self) -> None:
        self.order = list(QUERY_MIX)
        self.rng.shuffle(self.order)

    def input_bytes(self, pass_dir):
        return sum(os.path.getsize(os.path.join(SF_DIR, f)) for f in os.listdir(SF_DIR))

    def release(self, spark) -> None:
        from classification_pyspark_spark.operators.caching import release_tracked

        release_tracked()

    def clear(self, spark) -> None:
        spark.catalog.clearCache()

    def warmup(self, spark) -> None:
        from classification_pyspark_spark.queries import QUERIES

        self.results = {}
        for name in self.order:
            df = QUERIES[name](spark, SF_DIR)
            self.results[name] = (df.columns, [tuple(r) for r in df.collect()])
            self.release(spark)
            self.clear(spark)
        self.warm_s = []
        while len(self.warm_s) < MAX_WARM:
            t0 = time.perf_counter()
            for _, _, op in self.ops(spark, None):
                op()
                self.release(spark)
                self.clear(spark)
            self.warm_s.append(time.perf_counter() - t0)
            if len(self.warm_s) >= MIN_WARM and abs(self.warm_s[-1] / self.warm_s[-2] - 1) < STEADY:
                break

    def warmup_info(self) -> dict:
        return {"warm_passes_s": self.warm_s,
                "warm_settled": abs(self.warm_s[-1] / self.warm_s[-2] - 1) < STEADY}

    def ops(self, spark, pass_dir):
        from classification_pyspark_spark.queries import QUERIES

        tr = self.tracer

        def run(name):
            with tr.span("queries.build"):
                df = QUERIES[name](spark, SF_DIR)
            if tr.enabled:
                with tr.span("plan.optimize"):
                    df._jdf.queryExecution().executedPlan()
            with tr.span("queries.exec"):
                df.write.format("noop").mode("overwrite").save()
            return True

        return [(name, None, lambda name=name: run(name)) for name in self.order]

    def check(self, pass_dir):
        from checks import check_queries
        from classification_pyspark_spark.catalog import TABLES
        from classification_pyspark_spark.queries import ORACLES

        return check_queries(self.results, ORACLES, SF_DIR, TABLES)


def run_job(spark, tracer, name: str, tasks: list[tuple[str, dict]]) -> bool:
    """One stage of ``tasks`` through the config-driven runner."""
    from classification_pyspark_spark import production  # noqa: F401  registers processors
    from classification_pyspark_spark.plans.planner import create_job_plan
    from classification_pyspark_spark.plans.runner import execute_job

    plan = create_job_plan({"name": name, "stages": [
        {"name": "s1", "tasks": [{"name": t, "params": p} for t, p in tasks]}]})
    with tracer.span("runner.job"):
        statuses = execute_job(spark, plan)
    return bool(statuses) and all(s.success for s in statuses.values())


def write_split(table: pa.Table, out_dir: str, n_files: int, prefix: str = "part") -> int:
    """``table`` as ``n_files`` parquet files; returns their bytes."""
    os.makedirs(out_dir, exist_ok=True)
    size = 0
    bounds = [round(i * table.num_rows / n_files) for i in range(n_files + 1)]
    for i in range(n_files):
        path = os.path.join(out_dir, f"{prefix}-{i:02d}.parquet")
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]), path)
        size += os.path.getsize(path)
    return size


# ingest rounds per pass; each round after the first re-lands earlier
# texts, some verbatim and some with one token replaced
ROUNDS = 2
RELAND_EXACT = 10
RELAND_EDITED = 10
INGEST_TASK = "ingest-documents"


class CurateJob(Workload):
    """Batch and incremental dedup through the config-driven runner.

    A pass runs the ``corpus-curation`` production job in its surgical
    mode, then lands ``documents`` in ROUNDS rounds and after each one
    runs the ``corpus-ingest`` exact-dedup task as an incremental
    refresh against the digest index the earlier rounds grew.
    The seed sets the row order and file split of the curation input
    and which documents land in which round."""

    name = "curate_job"
    passes = 2

    def stage(self) -> None:
        docs = pq.read_table(os.path.join(SF_DIR, "documents.parquet"))
        perm = list(range(docs.num_rows))
        self.rng.shuffle(perm)
        docs = docs.take(perm)
        self.n_input = docs.num_rows
        self.sf_dir = os.path.join(self.work, "input")
        self.curate_bytes = write_split(
            docs, os.path.join(self.sf_dir, "documents.parquet"), self.rng.randint(2, 6)
        )
        rows = docs.to_pylist()
        self.rng.shuffle(rows)
        per = len(rows) // ROUNDS
        self.rounds, seen = [], []
        for r in range(ROUNDS):
            batch = rows[r * per:(r + 1) * per]
            for j, src in enumerate(self.rng.sample(seen, min(RELAND_EXACT, len(seen)))):
                batch.append({**src, "doc_id": 1_000_000 + r * 1000 + j})
            for j, src in enumerate(self.rng.sample(seen, min(RELAND_EDITED, len(seen)))):
                toks = src["text"].split(" ")
                toks[self.rng.randrange(len(toks))] = "edited"
                text = " ".join(toks)
                batch.append({**src, "doc_id": 2_000_000 + r * 1000 + j, "text": text,
                              "n_chars": len(text)})
            seen += batch
            self.rng.shuffle(batch)
            self.rounds.append(pa.Table.from_pylist(batch, schema=docs.schema))

    def warmup(self, spark) -> None:
        """One whole pass, then the curation job once more: it keeps
        getting faster over its first runs in a process."""
        self.warm_s = []
        ops = self.ops(spark, os.path.join(self.work, "warmup0"))
        ops += self.ops(spark, os.path.join(self.work, "warmup1"))[:1]
        for _, prepare, op in ops:
            if prepare is not None:
                prepare()
            t0 = time.perf_counter()
            op()
            self.warm_s.append(time.perf_counter() - t0)

    def warmup_info(self) -> dict:
        return {"warm_ops_s": self.warm_s}

    def ops(self, spark, pass_dir):
        params = {"sf_dir": self.sf_dir, "out": os.path.join(pass_dir, "curated"),
                  "report_out": os.path.join(pass_dir, "report"),
                  "min_quality": 0.65, "cut_spans": True}
        landing = os.path.join(pass_dir, "landing")
        ingest = {"landing": landing, **{part: os.path.join(pass_dir, INGEST_TASK, part)
                                         for part in ("sink", "index", "checkpoint")}}

        def land(r):
            # the upstream producer, not the program: outside the clock
            write_split(self.rounds[r], landing, 2, prefix=f"round{r}")

        return [
            ("curate-documents", None,
             lambda: run_job(spark, self.tracer, "corpus-curation", [("curate-documents", params)])),
        ] + [
            (f"ingest-round{r}", lambda r=r: land(r),
             lambda: run_job(spark, self.tracer, "corpus-ingest", [(INGEST_TASK, ingest)]))
            for r in range(ROUNDS)
        ]

    def stored_dirs(self, pass_dir):
        return [os.path.join(pass_dir, d) for d in ("curated", "report")] + [
            os.path.join(pass_dir, INGEST_TASK, part) for part in ("sink", "index")
        ]

    def input_bytes(self, pass_dir):
        return self.curate_bytes + dir_usage(os.path.join(pass_dir, "landing"))[0]

    def offered_rows(self) -> int:
        """Rows one pass offers to the ingest task."""
        return sum(t.num_rows for t in self.rounds)

    def check(self, pass_dir):
        from checks import check_curation, check_ingest

        with open(EXPECTED) as f:
            expected = json.load(f)["cut_spans"]
        return check_curation(
            os.path.join(pass_dir, "curated"), os.path.join(pass_dir, "report"),
            self.n_input, expected,
        ) + check_ingest(
            os.path.join(pass_dir, "landing"), os.path.join(pass_dir, INGEST_TASK, "sink")
        )


WORKLOADS = {w.name: w for w in (QueryMix, CurateJob)}
