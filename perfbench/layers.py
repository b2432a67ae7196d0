"""Per-layer metrics of a traced run, gathered from outside the program:
spans around the public calls of each layer, Spark's status store,
a streaming-query listener, and the files the run wrote."""

from __future__ import annotations

import os
import time
from datetime import datetime

import pyarrow.parquet as pq

from measure import dir_usage, spark_history, wrap


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


def _rows(path: str) -> int:
    return sum(
        pq.ParquetFile(os.path.join(d, n)).metadata.num_rows
        for d, _, names in os.walk(path)
        for n in names
        if n.endswith(".parquet")
    )


def _epoch_s(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


class Layers:
    def __init__(self, spark, tracer) -> None:
        self.spark, self.tracer = spark, tracer
        self.persists = 0
        self.progress: list[dict] = []

    def install(self) -> None:
        """Wrap the layers' public calls. Spans are recorded while the
        tracer is enabled; the wrappers cost nothing otherwise."""
        from pyspark.sql.streaming import StreamingQueryListener

        from classification_pyspark_spark.operators import caching, graph
        from classification_pyspark_spark.plans import runner
        from classification_pyspark_spark.sources import io
        from classification_pyspark_spark.streaming import corpus

        tr = self.tracer
        wrap(tr, runner, "run_task", "runner.task")
        wrap(tr, graph, "connected_components", "graph.cc")
        wrap(tr, corpus, "ingest_batch", "stream.batch")
        wrap(tr, io, "save_data_observed", "io.save_observed")

        release = caching.release_tracked

        def counted_release(*args, **kwargs):
            n = release(*args, **kwargs)
            if tr.enabled:
                self.persists += n
            return n

        caching.release_tracked = counted_release

        progress = self.progress

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                progress.append({"at": _epoch_s(p.timestamp), "rows": p.numInputRows,
                                 **p.durationMs})

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.spark.streams.addListener(Listener())

    def collect(self, passes: list[dict], wl, cores: int) -> dict:
        """Per-pass means over ``passes``, the traced ones."""
        tr = self.tracer
        n = len(passes)
        ops = [o for p in passes for o in p["ops"]]
        in_ops = lambda t: any(o["start"] <= t <= o["end"] for o in ops)  # noqa: E731
        # progress events reach the listener asynchronously
        deadline = time.time() + 10
        while (len([p for p in self.progress if in_ops(p["at"])]) < len(tr.named("stream.batch"))
               and time.time() < deadline):
            time.sleep(0.1)
        progress = [p for p in self.progress if in_ops(p["at"])]
        jobs, stages = spark_history(self.spark)
        jobs = [j for j in jobs if j.get("submissionTime") is not None]

        def jobs_in(intervals):
            ms = [(a * 1000, b * 1000) for a, b in intervals]
            return [j for j in jobs if any(a <= j["submissionTime"] <= b for a, b in ms)]

        ran: dict[int, list[dict]] = {}
        for s in stages:
            if s["status"] in ("COMPLETE", "FAILED"):
                ran.setdefault(s["stageId"], []).append(s)

        gap = 0.0
        op_jobs = []
        for o in ops:
            js = jobs_in([(o["start"], o["end"])])
            o["jobs"] = len(js)
            op_jobs += js
            busy = [
                (max(j["submissionTime"] / 1000, o["start"]),
                 min((j.get("completionTime") or o["end"] * 1000) / 1000, o["end"]))
                for j in js
            ]
            gap += o["latency_s"] - _union_s(busy)
        attempts = {
            (a["stageId"], a["attemptId"]): a
            for j in op_jobs for sid in j["stageIds"] for a in ran.get(sid, [])
        }.values()

        def total(key):
            return sum(a.get(key) or 0 for a in attempts)

        def spans(name):
            return tr.named(name)

        def dur(name):
            return sum(s["end"] - s["start"] for s in spans(name))

        def interval(name):
            return [(s["start"], s["end"]) for s in spans(name)]

        overhead = 0.0
        for job in spans("runner.job"):
            kids = [s for s in spans("runner.task") if s["parent"] == job["id"]]
            overhead += job["end"] - job["start"] - sum(s["end"] - s["start"] for s in kids)

        stored = [d for p in passes for d in wl.stored_dirs(p["dir"])]
        written = [dir_usage(d) for d in stored]
        sink_rows = sum(_rows(d) for d in stored if os.path.basename(d) == "sink")
        op_wall = sum(o["latency_s"] for o in ops)
        run_s = total("executorRunTime") / 1000

        m = {
            "queries.build_s": (dur("queries.build"), "s"),
            "queries.build_jobs": (len(jobs_in(interval("queries.build"))), "count"),
            "queries.exec_s": (dur("queries.exec"), "s"),
            "plan.optimize_s": (dur("plan.optimize"), "s"),
            "spark.jobs": (len(op_jobs), "count"),
            "spark.stages": (len(attempts), "count"),
            "spark.tasks": (total("numTasks"), "count"),
            "spark.driver_gap_s": (gap, "s"),
            "spark.shuffle_read_mb": (total("shuffleReadBytes") / 2**20, "MB"),
            "spark.shuffle_write_mb": (total("shuffleWriteBytes") / 2**20, "MB"),
            "spark.spill_mb": (total("diskBytesSpilled") / 2**20, "MB"),
            "spark.input_mb": (total("inputBytes") / 2**20, "MB"),
            "spark.output_mb": (total("outputBytes") / 2**20, "MB"),
            "spark.executor_run_s": (run_s, "s"),
            "spark.executor_cpu_s": (total("executorCpuTime") / 1e9, "s"),
            "spark.gc_s": (total("jvmGcTime") / 1000, "s"),
            "spark.failed_tasks": (total("numFailedTasks"), "count"),
            "caching.persists": (self.persists, "count"),
            "caching.leaked_rdds": (sum(o["leaked_rdds"] for o in ops), "count"),
            "graph.cc_calls": (len(spans("graph.cc")), "count"),
            "graph.cc_s": (dur("graph.cc"), "s"),
            "graph.cc_jobs": (len(jobs_in(interval("graph.cc"))), "count"),
            "runner.task_s": (dur("runner.task"), "s"),
            "runner.overhead_s": (overhead, "s"),
            "io.bytes_written": (sum(w[0] for w in written), "bytes"),
            "io.files_written": (sum(w[1] for w in written), "count"),
            "stream.batches": (len(progress), "count"),
            "stream.batch_s": (sum(p.get("triggerExecution", 0) for p in progress) / 1000, "s"),
            "stream.add_batch_s": (sum(p.get("addBatch", 0) for p in progress) / 1000, "s"),
            "stream.input_rows": (sum(p["rows"] for p in progress), "count"),
            "stream.index_rows": (
                sum(_rows(d) for d in stored if os.path.basename(d) == "index"), "count"),
        }
        # per pass, like the end-to-end metrics
        m = {k: (v / n, u) for k, (v, u) in m.items()}
        m["spark.slot_busy_frac"] = (run_s / (op_wall * cores), "frac")
        # rows the ingest sinks accepted per row offered to them
        offered = wl.offered_rows() * n
        m["stream.accept_frac"] = (sink_rows / offered if offered else 0.0, "frac")
        return m

    def span_check(self, ops: list[dict]) -> dict:
        """Each traced operation's span against its latency measured
        around it. Self times over an operation's span subtree add up to
        the span's duration by construction (a span's self time is its
        duration minus its children's), so this gap is what the span
        tree leaves out of the operation's wall time."""
        spans = self.tracer.named("op")
        gaps = [o["latency_s"] - (s["end"] - s["start"]) for o, s in zip(ops, spans)]
        return {"ops": len(spans), "matched": len(spans) == len(ops),
                "max_gap_s": max(gaps, default=0.0),
                "max_gap_frac": max((g / o["latency_s"] for g, o in zip(gaps, ops)), default=0.0)}
