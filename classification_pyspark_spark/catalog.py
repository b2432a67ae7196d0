"""Data catalog: named tables -> DataFrames / temp views.

The reference resolves a YAML data catalog of paths+formats into reads
(``production/conf/data_catalog/remote.yml:1-36``,
``src/ta_lib/pyspark/context.py:162-199``). Here the same idea is a
plain dict catalog plus helpers to load a star-schema directory (the
driver's /root/testdata layout) and register temp views so both the
DataFrame API and ``spark.sql`` can address every table.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Lazy parquet scan of one star-schema table.

    Parquet TIMESTAMP(NANOS) columns (events.ts) are unreadable by
    Spark's vectorized reader; we read them as raw nanosecond longs
    (legacy conf, runtime-settable) and convert to microsecond
    timestamps so downstream code sees a normal TimestampType.

    Schema inference is a Spark job (73 ms warm, against 13 ms for a
    read with a known schema), so each file set is inferred once per
    process: ``_SCHEMAS`` maps a path to the fingerprint of its files
    (sorted ``(file, size, mtime_ns)`` of every file under it) and the
    schema inferred from them, and a read whose fingerprint matches
    passes that schema to ``spark.read.schema``. Spark makes every
    field nullable in both read forms, so plans and rows are the same.
    A rewritten file set has a new fingerprint and is inferred again;
    a path with a non-``file:`` scheme, or one that cannot be listed
    (a missing path raises as before), is inferred on every read.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = os.path.join(sf_dir, f"{name}.parquet")
    fingerprint = _fingerprint(path)
    memo = _SCHEMAS.get(path)
    if fingerprint is not None and memo is not None and memo[0] == fingerprint:
        df = spark.read.schema(memo[1]).parquet(path)
    else:
        df = spark.read.parquet(path)
        if fingerprint is not None:
            _SCHEMAS[path] = (fingerprint, df.schema)
    if name == "events" and isinstance(df.schema["ts"].dataType, T.LongType):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


# path -> (fingerprint of its files, schema inferred from them)
_SCHEMAS: dict[str, tuple[tuple, T.StructType]] = {}


def _fingerprint(path: str) -> tuple | None:
    """Sorted ``(file, size, mtime_ns)`` of every file under a local
    ``path``; None for another scheme or a path that cannot be listed."""
    if re.match(r"[A-Za-z][\w+.-]*:", path) and not path.startswith("file:"):
        return None
    local = path.removeprefix("file:")
    try:
        if os.path.isfile(local):
            files = [local]
        elif os.path.isdir(local):
            files = [os.path.join(d, f) for d, _, fs in os.walk(local) for f in fs]
        else:
            return None
        return tuple(sorted((f, (st := os.stat(f)).st_size, st.st_mtime_ns) for f in files))
    except OSError:
        return None


def load_star_schema(
    spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    """Load every table in ``sf_dir`` as a lazy DataFrame, keyed by name."""
    return {t: load_table(spark, sf_dir, t) for t in tables}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load tables and register each as a temp view for ``spark.sql``."""
    dfs = load_star_schema(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs


def spread_for_compute(df: DataFrame, min_ratio: int = 2) -> DataFrame:
    """Repartition a scan to full core count BEFORE a compute-bound
    stage (shingling/md5, tokenization, embedding kernels) when the
    source is under-split — the classic small-files / single-row-group
    problem, where a 32-core machine runs the whole codegen stage on
    one task.

    Gated: a no-op whenever the scan already has >= cores/min_ratio
    partitions, so at production scale (many files / row groups) no
    shuffle is added; locally it converts single-threaded md5/tokenize
    stages into full-width ones for the cost of shuffling the raw rows
    once.

    Contract: intended for FILE-backed frames (everything in this
    engine loads from parquet). A frame with no inputFiles() — pure
    in-memory / non-file source — is assumed under-split and gets the
    widening repartition unconditionally; such frames are
    parameter-sized here, and estimating their split count would force
    physical planning (the df.rdd fallback this replaced). Don't route
    large well-partitioned non-file frames through this helper.
    """
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    # Estimate the scan's split count from file metadata (4 ms) instead
    # of df.rdd.getNumPartitions() (forces physical planning + RDD
    # conversion, ~100 ms warm / >1 s cold per call). Spark splits
    # splittable parquet at maxPartitionBytes, so splits ~=
    # ceil(total_bytes / maxPartitionBytes), floored at file count.
    try:
        files = df.inputFiles()
    except Exception:
        files = []
    if files:
        max_bytes = _parse_byte_size(
            spark.conf.get("spark.sql.files.maxPartitionBytes", str(128 << 20))
        )
        total = 0
        for f in files:
            p = f.removeprefix("file:")
            try:
                total += os.path.getsize(p)
            except OSError:
                total += max_bytes  # unknown scheme: assume one full split
        est = max(len(files), -(-total // max_bytes))
    else:
        # No file list (in-memory / non-file source): assume
        # under-split. Such frames are parameter-sized in this engine,
        # so the widening shuffle is cheap; estimating via
        # df.rdd.getNumPartitions() would force physical planning + an
        # RDD conversion inside an operator path.
        est = 1
    if est * min_ratio >= target:
        return df
    return df.repartition(target)


_SIZE_SUFFIX = {
    "": 1,
    "b": 1,
    "k": 1 << 10,
    "kb": 1 << 10,
    "m": 1 << 20,
    "mb": 1 << 20,
    "g": 1 << 30,
    "gb": 1 << 30,
    "t": 1 << 40,
    "tb": 1 << 40,
}


def _parse_byte_size(s: str | int, default: int = 128 << 20) -> int:
    """Parse a Spark byte-size conf value ('134217728', '134217728b',
    '128m', '1g', ...) into bytes; fall back to ``default`` on any
    unrecognized rendering rather than crashing the partition
    estimate."""
    if isinstance(s, int):
        return s
    m = re.fullmatch(r"\s*(\d+)\s*([a-zA-Z]*)\s*", str(s))
    if not m:
        return default
    mult = _SIZE_SUFFIX.get(m.group(2).lower())
    return int(m.group(1)) * mult if mult else default
