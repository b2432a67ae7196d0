"""Dump .explain("formatted") for registered queries to files.

Usage:
    python tools/dump_plan.py <outdir> <query> [query ...] [--sf DIR]

Writes <outdir>/<query>.txt plus a one-line JSON summary per query
(Exchange / BroadcastExchange / SortMergeJoin / rangepartitioning
mention counts) so plan claims are checkable without reading megabytes.
NOTE: queries with eager construction-time actions (connected
components) EXECUTE those stages during the dump.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys

sys.path.insert(0, ".")


def main() -> int:
    ap = argparse.ArgumentParser(description="Dump formatted plans of registered queries.")
    ap.add_argument("outdir")
    ap.add_argument("queries", nargs="+", metavar="query")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    args = ap.parse_args()

    from classification_pyspark_spark.operators.caching import release_tracked
    from classification_pyspark_spark.queries import QUERIES
    from classification_pyspark_spark.session import get_spark

    unknown = [n for n in args.queries if n not in QUERIES]
    if unknown:
        ap.error(f"unknown query name(s): {', '.join(unknown)}")
    os.makedirs(args.outdir, exist_ok=True)

    spark = get_spark("dump_plan")
    for name in args.queries:
        df = QUERIES[name](spark, args.sf)
        txt = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(args.outdir, f"{name}.txt")
        with open(path, "w") as f:
            f.write(txt)
        counts = {
            k: len(re.findall(p, txt))
            for k, p in [
                ("exchange", r"\bExchange\b"),
                ("broadcast_exchange", r"\bBroadcastExchange\b"),
                ("sort_merge_join", r"\bSortMergeJoin\b"),
                ("broadcast_hash_join", r"\bBroadcastHashJoin\b"),
                ("shuffled_hash_join", r"\bShuffledHashJoin\b"),
                ("cartesian", r"\bCartesianProduct\b"),
                ("rangepartitioning", r"\brangepartitioning\b"),
                ("single_partition", r"\bSinglePartition\b"),
                ("python_eval", r"BatchEvalPython|ArrowEvalPython"),
            ]
        }
        print(json.dumps({"query": name, "file": path, "bytes": len(txt), **counts}), flush=True)
        release_tracked()
        spark.catalog.clearCache()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
