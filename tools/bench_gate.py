"""Bench regression gate: run bench.py and fail on >2x regressions.

Usage:
    python tools/bench_gate.py            # runs bench.py at $SPARK_GRAFT_SF_DIR
    python tools/bench_gate.py <json>     # gate an existing bench JSON line/file

Exit 1 if any headline query is more than 2x slower than its recorded
per-query baseline (bench_baseline.json) — BASELINE.md's "within 2x"
bar enforced per query, covering the heaviest plans in the headline
set, not just the fast half.

Exit 1 also when a headline query's load-independent counters rose
over the baseline's ``counters``: Spark jobs by more than 20 % or
shuffle bytes by more than 25 % (``COUNTER_BOUNDS``). Host load cannot
trip this half of the gate. It applies only when the run's sf matches
the baseline's; a record without counters gates on seconds alone.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
COUNTER_BOUNDS = {"jobs": 1.20, "shuffle_bytes": 1.25}


def counter_regressions(out: dict) -> list[str]:
    """``query.counter: baseline -> run`` for every counter over its bound."""
    path = os.path.join(REPO, "bench_baseline.json")
    baseline = json.load(open(path)) if os.path.exists(path) else {}
    base = baseline.get("counters", {})
    if str(out.get("sf")) != str(baseline.get("sf")):
        return []
    return [
        f"{q}.{c}: {base[q][c]} -> {got[c]}"
        for q, got in sorted(out.get("counters", {}).items())
        for c, bound in COUNTER_BOUNDS.items()
        if q in base and got.get(c) is not None and got[c] > base[q][c] * bound
    ]


def main() -> int:
    if len(sys.argv) > 1:
        with open(sys.argv[1]) as f:
            line = f.read().strip().splitlines()[-1]
    else:
        proc = subprocess.run(
            [sys.executable, os.path.join(REPO, "bench.py")],
            capture_output=True,
            text=True,
            check=False,
        )
        if proc.returncode != 0:
            print(proc.stderr[-2000:], file=sys.stderr)
            print("FAIL: bench.py exited", proc.returncode)
            return 1
        line = proc.stdout.strip().splitlines()[-1]
    out = json.loads(line)
    counters = counter_regressions(out)
    if counters:
        print(f"FAIL: counters over their bounds {COUNTER_BOUNDS}: {counters}")
    regressions = out.get("regressions", [])
    deltas = out.get("baseline_delta", {})
    if "baseline_delta" not in out:
        print("WARN: no baseline comparison (sf mismatch or missing bench_baseline.json)")
        return 1 if counters else 0
    worst = sorted(deltas.items(), key=lambda kv: -kv[1])[:5]
    drift = out.get("baseline_drift")
    print(
        f"checked {len(deltas)} queries vs baseline; fleet-median drift: {drift}; "
        f"worst deltas: {worst}"
    )
    if out.get("fleet_drift_exceeds_2x"):
        cal = out.get("calibration_delta")
        if "__uniform__" in regressions:
            print(
                f"fleet-median drift > 2x with a flat calibration probe "
                f"(calibration_delta={cal}): a UNIFORM regression in "
                f"shared code, not host contention."
            )
        else:
            print(
                f"WARN: fleet-median drift exceeds 2x and the calibration "
                f"probe drifted too (calibration_delta={cal}) — host "
                f"contention. Re-run on a quiet box before trusting this."
            )
    if regressions:
        print(f"FAIL: >2x-over-drift regressions: {regressions}")
    if regressions or counters:
        return 1
    print("PASS: no query over 2x the fleet-median drift vs its baseline")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
