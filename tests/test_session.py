"""Session defaults that a long-lived session pays for on every pass."""

from __future__ import annotations

import bench

# Generated classes per rep at sf0.001, measured: ~190 + ~75 + ~45,
# together well above Spark's default codegen cache of 100 entries,
# under which a warm pass recompiled all ~310 of them.
# outlier_summary plans its outlier count with literals learned from
# the data, which must be the same on every run for its classes to be
# reused.
WORKING_SET = [
    "corpus_curation_full",
    "pagerank_supplier_influence",
    "dedup_clusters",
    "outlier_summary",
]
# A few classes differ from run to run (pagerank and the CC path
# regenerate 2-12 per pass), so a warm pass is bounded, not zero.
WARM_PASS_MAX_COMPILES = 30


def test_warm_pass_compiles_nothing(spark, sf_dir):
    passes = [
        {n: bench.timed_rep(spark, bench.QUERIES[n], sf_dir)[3] for n in WORKING_SET}
        for _ in range(2)
    ]
    assert sum(passes[-1].values()) <= WARM_PASS_MAX_COMPILES, passes
    assert passes[-1]["outlier_summary"] == 0, passes
