from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from classification_pyspark_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        "tests",
        master="local[4]",
        conf={"spark.sql.shuffle.partitions": "4", "spark.driver.memory": "4g"},
    )
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE


@pytest.fixture
def cc_paths(monkeypatch):
    """``for path in cc_paths():`` runs the loop body once per
    connected-components path, forced through ``LOCAL_MAX_EDGES``
    (-1: no edge frame is small enough for the driver)."""
    from classification_pyspark_spark.operators import graph

    local = graph.LOCAL_MAX_EDGES

    def paths():
        for path, bound in (("local", local), ("distributed", -1)):
            monkeypatch.setattr(graph, "LOCAL_MAX_EDGES", bound)
            yield path

    return paths


@pytest.fixture
def quantile_paths(monkeypatch):
    """``for path in quantile_paths():`` runs the loop body once per
    exact-quantile selection path, forced through ``LOCAL_MAX_GRID``
    (-1: no value grid is small enough for the driver)."""
    from classification_pyspark_spark.operators import quantiles

    local = quantiles.LOCAL_MAX_GRID

    def paths():
        for path, bound in (("local", local), ("distributed", -1)):
            monkeypatch.setattr(quantiles, "LOCAL_MAX_GRID", bound)
            yield path

    return paths


@pytest.fixture
def shifted_range_layout(monkeypatch):
    """Make the range-prefix pipeline record one row too many for its
    first non-empty partition, as when the persisted range-partitioned
    frame is recomputed with other bounds after the totals job."""
    from classification_pyspark_spark.operators import windows

    real = windows._partition_totals

    def shifted(part, values):
        totals = real(part, values)
        totals[min(totals)]["__rows"] += 1
        return totals

    monkeypatch.setattr(windows, "_partition_totals", shifted)
