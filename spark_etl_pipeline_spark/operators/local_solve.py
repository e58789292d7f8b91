"""Driver-local solves for small inputs of the iterative graph operators.

A distributed fixpoint loop over a few hundred edges spends its time
launching Spark jobs, not computing (Chukonu, VLDB 2021, makes the same
point about Spark's per-job overhead on small inputs). The iterative
operators (``dedup.connected_components``, ``graph.bfs_hops*``) already
gate a broadcast of their per-round tables on a row count; a table under
that gate is one the driver already had to hold to build the broadcast.
Under the same gate the operator pulls its input once through Arrow,
solves in NumPy on the driver and returns the answer as a
broadcast-hinted local DataFrame. Above the gate the caller runs its
distributed loop, and the only added work is the gate's one count over
the caller's checkpoint.
"""

from __future__ import annotations

from typing import TYPE_CHECKING, Callable

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

if TYPE_CHECKING:  # pyarrow is imported on first use: it costs engine import time
    import pyarrow as pa


def solve_on_driver(
    df: DataFrame,
    max_rows: int,
    solve: Callable[[pa.Table], pa.Table],
    schema: StructType,
    rows: int | None = None,
) -> DataFrame | None:
    """``solve`` applied on the driver to ``df``'s rows, as a
    broadcast-hinted DataFrame of ``schema``; ``None`` when ``df`` has
    more than ``max_rows`` rows.

    One count decides the gate and one Arrow collect feeds ``solve``.
    Callers pass a checkpoint, so the count is a cached-block read, or
    pass its ``rows`` when they already counted it (a lazy checkpoint's
    first count is also its materialization). A single
    ``limit(max_rows + 1)`` collect would merge count and collect, but
    it plans a single-partition shuffle, and above the gate it would
    ship ``max_rows + 1`` rows to the driver only to drop them.
    """
    if (df.count() if rows is None else rows) > max_rows:
        return None
    out = solve(df.toArrow())
    return F.broadcast(df.sparkSession.createDataFrame(out, schema))


def dense_codes(arr: pa.Array | pa.ChunkedArray) -> tuple[np.ndarray, pa.Array]:
    """Dense int64 codes for ``arr`` (``-1`` for null) and the distinct
    non-null values in code order, as an Arrow array of ``arr``'s type.

    Codes follow value order (``np.unique`` sorts), so the smallest code
    of a set is its smallest value: a min over codes is a min over
    values.
    """
    import pyarrow as pa

    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    valid = arr.is_valid().to_numpy(zero_copy_only=False)
    vals = arr.filter(pa.array(valid)) if arr.null_count else arr
    uniq, inv = np.unique(vals.to_numpy(zero_copy_only=False), return_inverse=True)
    # any row holding a value represents it; scattering row numbers is
    # cheaper than np.unique's return_index, which forces a stable sort
    rep = np.empty(len(uniq), dtype=np.int64)
    rep[inv] = np.arange(len(inv))
    codes = np.full(len(arr), -1, dtype=np.int64)
    codes[valid] = inv
    return codes, vals.take(pa.array(rep))
