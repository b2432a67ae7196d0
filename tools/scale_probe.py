"""Scale probe above bench scale (VERDICT r3 §5).

sf0.1 hides constant factors (band-bucket sizes, posting-list skew,
shuffle setup); this probe times the heaviest headline queries at two
sf points of the SAME generator (tools/gen_scale_data.py) and reports
the per-query time ratio for the data-size increase. Near-linear
operators land well under ~1.2x the row factor; anything super-linear
is a scaling bug the sf0.1 bench cannot see.

Writes {"queries": {name: {"small_sec": s, "big_sec": s, "ratio": r}},
        "max_ratio": r, "near_linear": bool} to the output file.

Usage: python tools/scale_probe.py [--regen] [small_sf big_sf out.json]
  default: 0.1 1 BENCH_sf1.json (the round-4 artifact); the second
  decade is `python tools/scale_probe.py 1 10 BENCH_sf10.json`
  (100x above bench — two decades of measured scaling).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _sf_dir(sf: str) -> str:
    # the legacy 0.1 point lives at sf0.1g (the 'g' marks "generated
    # here", distinct from the driver's read-only /root/testdata/sf0.1)
    name = "sf0.1g" if sf == "0.1" else f"sf{float(sf):g}"
    return os.path.join(REPO, ".localdata", name)

# the heaviest headline queries of BENCH_r03 plus one representative of
# each scale-sensitive operator family: keyed-checksum reconciliation
# (lineitem x2), zero-join bigram LM (documents), per-gram doc counts
# (documents), the flagship mart (orders+lineitem joins), the
# broadcast-join profit chain, LSH banding (minhash), distributed
# prefix-sum packing, posting-join retrieval (bm25), window
# sessionization (events), and Arrow-batched brute-force ANN
PROBE = [
    "table_diff_reconciliation",
    "lm_perplexity_filter",
    "duplicated_ngram_spans",
    "flagship_customer_features",
    "q9_product_profit",
    "minhash_dup_pairs",
    "sequence_packing",
    "bm25_keyword_topk",
    "sessionize_events",
    "knn_bruteforce",
]


def _ensure_data(regen: bool, points: list[tuple[str, str]]) -> None:
    for sf, path in points:
        if regen or not os.path.isdir(os.path.join(path, "lineitem.parquet")):
            subprocess.run(
                [sys.executable, os.path.join(REPO, "tools", "gen_scale_data.py"), sf, path],
                check=True,
            )


def main() -> int:
    regen = "--regen" in sys.argv
    pos = [a for a in sys.argv[1:] if a != "--regen"]
    sf_small, sf_big, out_file = pos if len(pos) == 3 else ("0.1", "1", "BENCH_sf1.json")
    small, big = _sf_dir(sf_small), _sf_dir(sf_big)
    factor = float(sf_big) / float(sf_small)
    _ensure_data(regen, [(sf_small, small), (sf_big, big)])

    from bench import timed_rep
    from classification_pyspark_spark.queries import QUERIES
    from classification_pyspark_spark.session import get_spark
    from scale_sweep import PRODUCTION_MODE

    spark = get_spark("scale-probe")

    def run(name: str, sf_dir: str) -> float:
        # production knobs at BOTH sf points (same policy as the sweep:
        # oracle-parity variants that exist for DuckDB exactness are
        # not the at-scale configuration; the ratio must compare the
        # plan a production caller would run)
        fn = PRODUCTION_MODE.get(name, QUERIES[name])
        # min-of-2: steady-state, same policy as bench.py
        return min(timed_rep(spark, fn, sf_dir)[0] for _ in range(2))

    # warm codegen/broadcast pools once per query shape at the small SF
    for name in PROBE:
        run(name, small)

    out: dict[str, dict] = {}
    for name in PROBE:
        s_small = run(name, small)
        s_big = run(name, big)
        ratio = round(s_big / s_small, 2) if s_small > 0 else float("inf")
        out[name] = {
            f"sf{sf_small}_sec": round(s_small, 3),
            f"sf{sf_big}_sec": round(s_big, 3),
            "ratio": ratio,
            "mode": "production" if name in PRODUCTION_MODE else "registered",
        }
        print(f"{name}: {s_small:.2f}s -> {s_big:.2f}s = {ratio}x")

    max_ratio = max(v["ratio"] for v in out.values())
    result = {
        "probe": f"sf{sf_small} -> sf{sf_big} ({factor:g}x rows, same generator)",
        "queries": out,
        "max_ratio": max_ratio,
        "near_linear": max_ratio <= 1.2 * factor,
        "cpus": os.environ.get("SPARK_GRAFT_CPUS", "32"),
    }
    path = os.path.join(REPO, out_file)
    with open(path, "w") as f:
        json.dump(result, f, indent=2)
    print(json.dumps(result))
    return 0 if result["near_linear"] else 1


if __name__ == "__main__":
    raise SystemExit(main())
