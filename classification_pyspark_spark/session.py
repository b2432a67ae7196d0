"""SparkSession construction.

Replaces the reference's string-``eval`` session builder
(``src/ta_lib/pyspark/context.py:79-92``) with a plain
``SparkSession.builder.config(k, v)`` loop over an explicit dict.

Scale posture: AQE on (runtime re-planning, skew-join splitting,
coalescing of small shuffle partitions), Arrow on (fast pandas-UDF /
toPandas boundary), session timezone pinned to UTC so timestamp
semantics are deterministic across engines and clusters. Generated code
is compiled once per JVM: the codegen class cache holds 4096 entries,
above the working set of a long-lived session (a sweep of the whole
registry at sf0.001 compiles ~3,300 classes), so a warm pass reuses
every class instead of recompiling it with Janino and JIT-compiling
the new bytecode again.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_PHYS_BYTES = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")

# Defaults tuned for the local[32] test harness; on a real cluster the
# same keys are what you would tune (shuffle partitions ~ 2-3x total
# cores, maxPartitionBytes to keep scan tasks ~128-256 MB).
DEFAULT_CONF: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    # Half of physical RAM, capped at 16g: local[32] means 32 concurrent
    # tasks share ONE unified memory pool — at 8g the sf10 probes'
    # explode-then-aggregate shapes (~1B gram rows, 32 partial-agg maps
    # in flight) starved execution memory (UNABLE_TO_ACQUIRE_MEMORY) on
    # a 128 GiB box. A fixed 16g on a 16 GB host let a long-lived
    # session grow its heap until the kernel killed the JVM. On a real
    # cluster this is executor memory ÷ executor cores, sized to the
    # same ~0.5 GB/task-slot floor
    "spark.driver.memory": f"{min(16 << 10, _PHYS_BYTES >> 21)}m",
    "spark.ui.enabled": "false",
    # Spark's default of 100 generated classes is smaller than one warm
    # pass: a perfbench query_mix pass needs 122 and a curate_job pass
    # 126, so LRU evicted every class just before its reuse and each pass
    # recompiled them all with Janino, then JIT-compiled them again. A
    # registry sweep at sf0.001 compiles ~3,300. A cached class
    # keeps ~30 KB of heap (and ~8 KB of Metaspace) live, so a full cache
    # costs ~125 MB. Static conf: the JVM's first session fixes it, and
    # get_spark builds that session at every entry point.
    "spark.sql.codegen.cache.maxEntries": "4096",
}


def get_spark(
    app_name: str = "classification_pyspark_spark",
    master: str | None = None,
    conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's default conf.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a
    cluster, leave it unset and let spark-submit decide.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = SparkSession.builder.appName(app_name)
    builder = builder.master(master or f"local[{cpus}]")
    merged = dict(DEFAULT_CONF)
    merged.setdefault("spark.sql.shuffle.partitions", cpus)
    merged.update(conf or {})
    for k, v in merged.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
