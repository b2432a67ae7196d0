"""Driver-contract smoke: EVERY registry query must execute on a
PLAIN SparkSession (no engine configs) — the driver's correctness
gate builds its own session, so any query that silently depends on
session.py's conf (timezone, legacy parquet flags, Arrow) passes
tools/check_oracle.py locally and then dies in the driver. Round 1
lost its whole bench run to exactly this class of bug.

The sweep goes through the entry point ``__spark_entry__.queries()``,
runs each query fully and converts its rows to Python. Runs at
sf0.001 and only asserts execution (non-empty schema + rows collected);
value parity is tools/check_oracle.py's job.
"""

from __future__ import annotations

import pytest
from pyspark.sql import SparkSession

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def plain_spark(spark):
    """A session with the engine's runtime SQL confs RESET to Spark
    defaults (builder-level confs like shuffle partitions are
    harmless; the hazards are runtime SQL confs our operators might
    silently rely on)."""
    s = spark.newSession()
    for k in (
        "spark.sql.session.timeZone",
        "spark.sql.legacy.parquet.nanosAsLong",
    ):
        try:
            s.conf.unset(k)
        except Exception:
            pass
    return s


def test_every_registry_query_runs_on_plain_session(plain_spark: SparkSession):
    import __spark_entry__ as entrymod

    from classification_pyspark_spark.operators.caching import release_tracked

    failures: dict[str, str] = {}
    for name, fn in entrymod.queries().items():
        try:
            df = fn(plain_spark, SF)
            if not df.columns:
                failures[name] = "no columns"
                continue
            df.collect()
        except Exception as e:  # noqa: BLE001 - collecting all failures
            failures[name] = str(e).splitlines()[0][:200]
        finally:
            release_tracked()
    assert not failures, f"{len(failures)} queries fail on a plain session: {failures}"
