#!/usr/bin/env python3
"""Benchmark of the classification_pyspark_spark engine.

Usage (from any directory):
    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 10 --trace 0

One client runs each workload's operations in a closed loop on
``local[<cores>]``, in whole passes until ``--seconds`` have elapsed
(at least one pass). Outputs are checked after the timed phase. The
last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` — end-to-end metrics
with ``--trace 0``, per-layer metrics with ``--trace 1``. A traced run
alternates untraced and traced passes, so that the tracing overhead is
measured in one process under the same warm state. The line before it
is the full record (seed, rationale, host readings, per-op latencies
and job counts), also appended to
``.bench_build/perfbench/results.jsonl``; traced runs write their
spans to ``.bench_build/perfbench/spans/``.

Exit codes: 0 ok; 1 an output check or an operation failed (the result
line is still printed); 2 the program is not present (nothing printed).
"""

from __future__ import annotations

import argparse
import gc
import glob
import json
import os
import shutil
import statistics
import sys
import time

import measure
from layers import Layers
from workloads import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
CORES = len(os.sched_getaffinity(0))
MB = 1024 * 1024


def tail(latencies: list[float]) -> tuple[float, str]:
    """The highest percentile with at least ten samples beyond it; with
    fewer than twenty samples no such percentile reaches the median, so
    the maximum is reported instead."""
    xs = sorted(latencies)
    n = len(xs)
    if n < 20:
        return xs[-1], "p100"
    pct = 100.0 * (n - 10) / n
    return statistics.quantiles(xs, n=100, method="inclusive")[int(pct) - 1], f"p{int(pct)}"


def setup_env(work: str) -> dict:
    """Point Spark, its JVM and the Python workers at the checkout: the
    package on every worker's path (so UDFs import it from any working
    directory) and all scratch files inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    return {
        # -Xms: start the heap at 4 GB instead of 1/64 of RAM; how far G1
        # grew it early on otherwise made whole runs 1.5x slower or faster.
        # Pre-touched, so first-touch page faults stay out of the passes.
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xms4g -XX:+AlwaysPreTouch",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }


def stop_spark(spark, tree) -> None:
    """Stop the session, then the JVM; wait until every descendant
    (JVM, Python workers) has exited."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while len(tree.pids()) > 1 and time.time() < deadline:
        time.sleep(0.2)
    for pid in tree.pids()[1:]:
        try:
            os.kill(pid, 9)
        except OSError:
            pass
    for _ in range(50):
        try:
            if os.waitpid(-1, os.WNOHANG) == (0, 0):
                break
        except ChildProcessError:
            break


def run_pass(wl, spark, tracer, pass_dir, count_rdds: bool) -> dict:
    """One pass; its ``wall_s`` leaves out the ``prepare`` steps."""
    ops = []
    wall = 0.0
    for name, prepare, op in wl.ops(spark, pass_dir):
        if prepare is not None:
            prepare()
        t0 = time.perf_counter()
        rdds0 = spark.sparkContext._jsc.getPersistentRDDs().size() if count_rdds else 0
        start = time.time()
        o0 = time.perf_counter()
        ok = False
        try:
            with tracer.span("op", op=name):
                ok = bool(op())
        except Exception as e:  # noqa: BLE001 — a failed operation is a result
            print(f"operation {name} failed: {type(e).__name__}: {e}", file=sys.stderr)
        latency = time.perf_counter() - o0
        wl.release(spark)
        leaked = spark.sparkContext._jsc.getPersistentRDDs().size() - rdds0 if count_rdds else 0
        wl.clear(spark)
        ops.append({"name": name, "start": start, "end": start + latency,
                    "latency_s": latency, "ok": ok, "leaked_rdds": max(0, leaked)})
        wall += time.perf_counter() - t0
    return {"dir": pass_dir, "wall_s": wall, "ops": ops, "traced": tracer.enabled}


def timed_phase(wl, spark, tracer, work, seconds, tree, traced: bool) -> dict:
    """Whole passes until ``seconds`` have elapsed, at least
    ``wl.passes`` of them. Traced: untraced and traced passes take
    turns, at least two of each."""
    passes = []
    cpu0 = tree.cpu_s()
    tree.start()
    t0 = time.perf_counter()
    least = max(wl.passes, 4) if traced else wl.passes
    while len(passes) < least or time.perf_counter() - t0 < seconds or (traced and len(passes) % 2):
        tracer.enabled = traced and len(passes) % 2 == 1
        passes.append(run_pass(wl, spark, tracer, os.path.join(work, f"pass{len(passes)}"),
                               tracer.enabled))
    tracer.enabled = False
    tree.stop()
    return {"passes": passes, "cpu_s": tree.cpu_s() - cpu0, "peak_kb": tree.peak_kb,
            "live_heap_mb": live_heap_mb(spark)}


def live_heap_mb(spark) -> float:
    """JVM heap still in use after full collections: what the session
    retains (caches, leaked persists, status store). Unlike resident
    memory it does not depend on how far the collector let the heap
    grow. Collected until two readings agree, because freeing a
    collected broadcast or shuffle block is itself asynchronous."""
    mem = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    last = None
    for _ in range(8):
        gc.collect()  # drop Python-side handles that pin JVM objects
        mem.gc()
        used = mem.getHeapMemoryUsage().getUsed() / MB
        if last is not None and abs(used - last) <= 0.01 * last:
            break
        last = used
        time.sleep(0.5)
    return used


def write_spans(tracer, workload: str, seed: int) -> None:
    d = os.path.join(OUT, "spans")
    os.makedirs(d, exist_ok=True)
    self_t = tracer.self_times()
    with open(os.path.join(d, f"{workload}-seed{seed}.json"), "w") as f:
        json.dump([{**s, "self_s": self_t[s["id"]]} for s in tracer.spans], f)


def end_to_end(wl, phase, setup_s) -> tuple[dict, dict]:
    passes = phase["passes"]
    ops = [o for p in passes for o in p["ops"]]
    lat = [o["latency_s"] for o in ops]
    tail_s, tail_pct = tail(lat)
    last = passes[-1]["dir"]
    stored = sum(measure.dir_usage(d)[0] for d in wl.stored_dirs(last))
    input_bytes = wl.input_bytes(last)
    metrics = {
        "setup_s": (setup_s, "s"),
        "wall_s": (statistics.median(p["wall_s"] for p in passes), "s"),
        "op_p50_s": (statistics.median(lat), "s"),
        "op_tail_s": (tail_s, "s"),
        "cpu_s": (phase["cpu_s"] / len(passes), "s"),
        "live_heap_mb": (phase["live_heap_mb"], "MB"),
        "ok_frac": (sum(o["ok"] for o in ops) / len(ops), "frac"),
        "disk_bytes_per_input_byte": (1 + stored / input_bytes, "ratio"),
    }
    info = {"op_tail_pct": tail_pct, "op_samples": len(lat), "passes": len(passes),
            "peak_rss_mb": phase["peak_kb"] / 1024,
            "stored_bytes": stored, "input_bytes": input_bytes}
    return metrics, info


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "classification_pyspark_spark", "__init__.py")):
        print(f"perfbench: no classification_pyspark_spark package under {ROOT}", file=sys.stderr)
        return 2
    # one benchmark process at a time per checkout: a run directory left
    # behind is from a run that was killed
    for stale in glob.glob(os.path.join(OUT, "run-*")):
        shutil.rmtree(stale, ignore_errors=True)
    work = os.path.join(OUT, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    extra_conf = setup_env(work)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        why = {w["name"]: w["why"] for w in json.load(f)["workloads"]}[args.workload]
    traced = bool(args.trace)
    tracer = measure.Tracer(enabled=False)  # on for the traced passes only
    wl = WORKLOADS[args.workload](args.seed, work, tracer)
    wl.stage()

    # ---- set-up: program import, session, the workload's warm-up ----
    t_setup = time.perf_counter()
    from classification_pyspark_spark.session import DEFAULT_CONF, get_spark

    spark = get_spark(f"perfbench-{args.workload}", conf={**measure.RETENTION_CONF, **extra_conf})
    session_start_s = time.perf_counter() - t_setup
    t_warm = time.perf_counter()
    wl.warmup(spark)
    warmup_s = time.perf_counter() - t_warm
    setup_s = time.perf_counter() - t_setup

    host = {"calibration_s": measure.host_calibration_s(),
            "cpu_pressure": measure.host_cpu_pressure()}
    tree = measure.ProcTree()
    layers = None
    try:
        if traced:
            layers = Layers(spark, tracer)
            layers.install()
        phase = timed_phase(wl, spark, tracer, work, args.seconds, tree, traced)
        e2e, info = end_to_end(wl, phase, setup_s)
        if traced:
            on = [p for p in phase["passes"] if p["traced"]]
            off = [p for p in phase["passes"] if not p["traced"]]
            overhead = (statistics.median(p["wall_s"] for p in on)
                        / statistics.median(p["wall_s"] for p in off) - 1)
            metrics = layers.collect(on, wl, CORES)
            metrics.update({
                "peak_rss_mb": (info["peak_rss_mb"], "MB"),
                "session.start_s": (session_start_s, "s"),
                "session.warmup_s": (warmup_s, "s"),
                "host.calibration_s": (host["calibration_s"], "s"),
                "host.cpu_pressure": (host["cpu_pressure"], "frac"),
                "trace.overhead_frac": (overhead, "frac"),
            })
        else:
            metrics = e2e
        problems = wl.check(phase["passes"][-1]["dir"])
    finally:
        stop_spark(spark, tree)

    ops = [o for p in phase["passes"] for o in p["ops"]]
    failed = sum(not o["ok"] for o in ops)
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "why": why, "cores": CORES,
        "note": f"session.DEFAULT_CONF sets spark.driver.memory={DEFAULT_CONF['spark.driver.memory']}"
                f" on a host with {os.sysconf('SC_PAGE_SIZE') * os.sysconf('SC_PHYS_PAGES') / 2**30:.1f} GiB RAM",
        "host": host, "setup_s": setup_s, "session_start_s": session_start_s,
        "warmup_s": warmup_s, **wl.warmup_info(), **info, "problems": problems,
        "e2e": {k: v[0] for k, v in e2e.items()},
        "ops": [{k: o[k] for k in ("name", "latency_s", "ok")} | (
            {"jobs": o["jobs"]} if "jobs" in o else {}) for o in ops],
    }
    if traced:
        record["layers"] = {k: v[0] for k, v in metrics.items()}
        record["span_check"] = layers.span_check([o for p in on for o in p["ops"]])
        write_spans(tracer, args.workload, args.seed)
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, "results.jsonl"), "a") as f:
        f.write(json.dumps(record) + "\n")
    shutil.rmtree(work, ignore_errors=True)

    print(json.dumps(record))
    print(json.dumps({
        "correct": not problems and not failed,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    for p in problems:
        print(f"perfbench: check failed: {p}", file=sys.stderr)
    return 1 if problems or failed else 0


if __name__ == "__main__":
    sys.exit(main())
