"""The size switch between single-node and distributed execution.

Operators whose input is usually small (connected components over
dedup graphs, exact quantiles over value grids) run on the driver when
it fits, the way SystemML (VLDB 2016) picks single-node or distributed
execution from a size estimate. The estimate here is exact and costs
no extra pass: one bounded collect either brings the whole input to
the driver or proves it is too large. Each caller keeps its own bound.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame


def collect_if_small(df: DataFrame, max_rows: int) -> pa.Table | None:
    """``df`` as an Arrow table when it has at most ``max_rows`` rows,
    else None. One ``df.limit(max_rows + 1).toArrow()``; a negative
    ``max_rows`` (tests forcing the distributed path) collects nothing."""
    small = df.limit(max_rows + 1).toArrow()
    return small if small.num_rows <= max_rows else None
