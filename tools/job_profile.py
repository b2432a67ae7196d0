"""Job-level profile of one registered query: run it isolated (warm-up
at sf0.001 first, cache cleared, noop sink) with the Spark event log
enabled, then parse the log into a per-job breakdown (duration,
callsite, stage count) sorted by cost.

On this contention-wave host a single-shot stage profile can lie about
MAGNITUDE, but the job COUNT and the callsite distribution are
load-independent — that is what this tool is for (guide §1: decide
whether a query is byte-bound or job-count-bound before touching it).

Usage:
    python tools/job_profile.py <query> [--sf DIR] [--reps N]

Prints one JSON line per job plus a summary.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import sys
import time

sys.path.insert(0, ".")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("query")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--reps", type=int, default=1)
    args = ap.parse_args()

    evdir = f"/tmp/spark-events-{os.getpid()}"
    os.makedirs(evdir, exist_ok=True)

    from classification_pyspark_spark.operators.caching import release_tracked
    from classification_pyspark_spark.queries import QUERIES
    from classification_pyspark_spark.session import get_spark

    spark = get_spark(
        f"job_profile_{args.query}",
        conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{evdir}",
        },
    )
    # getOrCreate hands back an already-running session unchanged, and
    # event logging is fixed when the SparkContext starts
    if spark.sparkContext.getConf().get("spark.eventLog.enabled", "false") != "true":
        print("job_profile: the Spark session has no event log "
              "(an earlier session without spark.eventLog.enabled was reused)", file=sys.stderr)
        return 2
    fn = QUERIES[args.query]
    # warm-up: same plan shape at sf0.001 pays codegen/JIT. Job
    # descriptions are thread-local and inherited by EVERY job the rep
    # triggers (checkpoint materializations, convergence probes, offset
    # collects), so they cleanly split warm-up jobs from timed jobs in
    # the event log.
    spark.sparkContext.setJobDescription("WARM")
    fn(spark, "/root/testdata/sf0.001").write.format("noop").mode("overwrite").save()
    release_tracked()
    spark.catalog.clearCache()

    marks = []
    for i in range(args.reps):
        spark.sparkContext.setJobDescription(f"TIMED{i}")
        t0 = time.perf_counter()
        fn(spark, args.sf).write.format("noop").mode("overwrite").save()
        t1 = time.perf_counter()
        marks.append((t0, t1))
        spark.sparkContext.setJobDescription("CLEANUP")
        release_tracked()
        spark.catalog.clearCache()
    spark.stop()
    time.sleep(1.0)

    logs = sorted(glob.glob(f"{evdir}/*"), key=os.path.getmtime)
    if not logs:
        print(f"job_profile: Spark wrote no event log to {evdir}", file=sys.stderr)
        return 2
    latest = logs[-1]
    if os.path.isdir(latest):
        # Spark 4 event-log v2 layout: a directory of events_<n>_* files
        # (zstd-compressed by default)
        parts = sorted(
            (p for p in glob.glob(f"{latest}/events_*")),
            key=lambda p: int(os.path.basename(p).split("_")[1]),
        )
    else:
        parts = [latest]

    def _lines(path):
        if path.endswith(".zstd"):
            import shutil
            import subprocess

            zstd = shutil.which("zstd") or "/root/miniconda/bin/zstd"
            out = subprocess.run(
                [zstd, "-d", "-c", path], capture_output=True, check=True
            )
            yield from out.stdout.decode("utf-8", "replace").splitlines()
        else:
            with open(path) as f:
                yield from f

    jobs: dict[int, dict] = {}
    for part in parts:
        for line in _lines(part):
            try:
                ev = json.loads(line)
            except json.JSONDecodeError:
                continue
            if ev.get("Event") == "SparkListenerJobStart":
                jid = ev["Job ID"]
                props = ev.get("Properties") or {}
                jobs[jid] = {
                    "job": jid,
                    "t_start": ev["Submission Time"],
                    "callsite": props.get("callSite.short", ""),
                    "desc": props.get("spark.job.description", ""),
                    "n_stages": len(ev.get("Stage IDs", [])),
                }
            elif ev.get("Event") == "SparkListenerJobEnd":
                jid = ev["Job ID"]
                if jid in jobs:
                    jobs[jid]["sec"] = round(
                        (ev["Completion Time"] - jobs[jid]["t_start"]) / 1000.0, 3
                    )

    rows = [
        j for j in jobs.values() if "sec" in j and j["desc"].startswith("TIMED")
    ]
    rows.sort(key=lambda j: j["t_start"])
    total = sum(j["sec"] for j in rows)
    for j in rows:
        print(json.dumps({k: j[k] for k in ("job", "sec", "n_stages", "callsite", "desc")}))
    by_site: dict[str, list[float]] = {}
    for j in rows:
        by_site.setdefault(j["callsite"], []).append(j["sec"])
    summary = sorted(
        ((sum(v), len(v), k) for k, v in by_site.items()), reverse=True
    )
    print(json.dumps({"n_jobs": len(rows), "sum_job_sec": round(total, 2),
                      "wall_per_rep": [round(b - a, 2) for a, b in marks]}))
    for s, n, k in summary[:20]:
        print(json.dumps({"callsite": k, "n_jobs": n, "sum_sec": round(s, 2)}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
