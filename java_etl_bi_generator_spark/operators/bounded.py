"""Bounded driver-side finishes.

When a frame is small enough, one bounded collect plus exact Python on
the driver replaces a chain of Spark jobs, and the result goes back to
Spark as an Arrow-built local relation.  ``graph.connected_components``
union-finds its edges this way, ``star.build_dimension`` numbers its
distinct keys this way, and ``kmeans._lloyd_int`` runs its Lloyd rounds
this way over the collected vectors.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql.types import StructType


def collect_at_most(
    df: DataFrame, n: int, order: Sequence[Column] = (), arrow: bool = False
):
    """The rows of ``df``, sorted by ``order`` when it is given, or None
    when it has more than ``n``.  With ``arrow`` they come as one
    ``pyarrow.Table``: numeric arrays then reach the driver as Arrow
    buffers, not as one Python object per value.

    Sorted, the top n + 1 rows are taken on the executors (per
    partition, then merged in one task), so the driver receives at most
    n + 1 rows.  A sorted frame collected directly would send every
    partition's top n + 1 to the driver and merge them there."""
    if order:
        df = df.orderBy(*order).limit(n + 1).coalesce(1)
    df = df.limit(n + 1)
    rows = df.toArrow() if arrow else df.collect()
    return rows if len(rows) <= n else None


def local_frame(
    spark: SparkSession, columns: dict, schema: StructType
) -> DataFrame:
    """Driver-side ``columns`` (name -> list of values, in ``schema``'s
    order) as a frame of ``schema``, shipped through Arrow.  An Arrow
    table plans a ``LocalRelation``, which launches no job of its own;
    a list of rows would plan an RDD scan."""
    import pyarrow as pa

    return spark.createDataFrame(pa.table(columns), schema)
