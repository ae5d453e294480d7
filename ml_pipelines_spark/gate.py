"""The size gate of the exact driver-side paths.

At benchmark and test scale an operator's cost is the fixed cost of its
Spark jobs, not its data: a near-dup graph of a few hundred edges spends
seconds in a pointer-jumping loop of joins that plain Python closes in
microseconds. Such an operator collects its input through
``collect_capped`` and, when that returns a table, computes the same
answer on the driver; above the cap it runs its distributed form, which
is unchanged.

The gate is the collect itself: one job, and exact. A plan-statistics
estimate costs no job but multiplies across joins (a 1,300-row
self-join holding 16,250 pairs reported ``sizeInBytes`` of 146 MB, and
the same after ``localCheckpoint``), so on join-derived inputs it would
always choose the distributed path. Each caller bounds what it collects
with a module constant, set where its driver path was measured faster
and within driver memory, and checkpoints its input first, so the
distributed form never recomputes it after an overflow.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.types import DataType, IntegralType, StringType


def collect_capped(df: DataFrame, max_rows: int) -> pa.Table | None:
    """``df`` as an Arrow table if it has at most ``max_rows`` rows,
    else ``None``. One job (``limit(max_rows + 1)``), so an input over
    the cap costs at most ``max_rows + 1`` collected rows."""
    table = df.limit(max_rows + 1).toArrow()
    return table if table.num_rows <= max_rows else None


def orders_like_spark(dtype: DataType) -> bool:
    """Whether Python's ``<`` on collected values of ``dtype`` is
    Spark's ordering: integers, and binary-collated strings (code-point
    order is UTF-8 byte order). Floats (NaN, -0.0), timestamps
    (collected as process-local walls) and collated strings are not, so
    a driver path that orders ids keeps them on the Spark path."""
    return isinstance(dtype, IntegralType) or dtype == StringType()
