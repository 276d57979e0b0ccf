"""Distributed global ranking — cluster-safe replacement for the
single-partition ``Window.orderBy()`` (no ``partitionBy``) plan.

Spark executes an unpartitioned ordered window by moving EVERY row into one
partition (``WindowExec: No Partition Defined`` warning) — a non-starter at
100 TB.  But a global rank does not need a global window: it is the classic
two-phase distributed scan,

1. range-partition the input on the ordering keys (sampled boundaries, the
   same exchange a global ``orderBy`` uses) and rank WITHIN each partition
   in parallel;
2. count rows per partition — a partitions-sized table (32..200 rows) —
   prefix-sum it on the driver-scale side, and broadcast the per-partition
   offsets back;
3. global_rank = in-partition rank + preceding-partitions offset.

The output is bit-identical to ``row_number().over(Window.orderBy(*keys))``
whenever the ordering keys are a total order (callers pass a unique
tie-break column, as every deterministic query here already does), because
rank under a total order is independent of where the range boundaries fall.

``ntile_from_rank`` reconstructs SQL ``NTILE(k)`` from (rank, N) in closed
form — the standard defines NTILE exactly as this quotient/remainder split,
so the composition ``ntile_from_rank(global_rank(...))`` matches a
single-partition ``ntile(k).over(Window.orderBy(...))`` and a DuckDB
``NTILE(k) OVER (ORDER BY ...)`` value-for-value, while every stage stays
partition-parallel.

The ranked frame is materialized once (``_ranged_pinned``): the partition
assignment comes from *sampled* range boundaries, so it must be pinned as
data before two plan branches consume it — otherwise correctness would
silently depend on Spark reusing the exchange between branches (it often
does, but AQE is free not to, and a caller-added payload column can change
canonicalization).  The cut also means the upstream subtree executes once.

The pin is LAZY (``eager=False``), which fixes less than it may seem.
With AQE on, the call itself runs the range exchange's upstream: the
boundary-sampling job and the shuffle map stage, each a job, so the
boundaries are fixed when the pin returns.  Only the stage after the
exchange is deferred: all branches share one checkpointed RDD instance,
so each post-exchange partition is computed (and its ``__pid`` fixed)
exactly once, by whichever later job touches it first, and persisted to
memory/disk.  The eager variant would add one count job for no
additional safety.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from ..lineage import cut_lineage


def _ranged_pinned(
    df: DataFrame, part_cols: list[Column], num_partitions: int
) -> DataFrame:
    """Range-partition and PIN the partition id as data.

    ``__pid`` comes from ``spark_partition_id()`` after a
    ``repartitionByRange`` whose boundaries are *sampled* — two plan
    branches that each recompute the exchange can sample different
    boundaries and assign different ``__pid`` values, silently corrupting
    the offset join.  Materializing through ``cut_lineage`` makes
    ``__pid`` a plain data column: every downstream branch reads the same
    assignment (and the upstream subtree runs exactly once instead of
    once per branch)."""
    return cut_lineage(
        df.repartitionByRange(num_partitions, *part_cols).withColumn(
            "__pid", F.spark_partition_id()
        ),
        eager=False,
    )


def _nullsafe_offset_join(
    data: DataFrame, offsets: DataFrame, group_cols: list[str]
) -> DataFrame:
    """Broadcast-join a per-(partition, group) offset table onto the data
    side, NULL-SAFE on the group columns: ``Window.partitionBy`` treats a
    NULL group value as an ordinary partition, but a plain equi-join
    would silently DROP those rows (NULL != NULL) — the grouped two-phase
    ops must match window semantics exactly, nulls included."""
    payload = [c for c in offsets.columns if c != "__pid" and c not in group_cols]
    ren = offsets.select(
        F.col("__pid").alias("__o_pid"),
        *[F.col(g).alias(f"__o_{g}") for g in group_cols],
        *payload,
    )
    cond = F.col("__pid") == F.col("__o_pid")
    for g in group_cols:
        cond = cond & F.col(g).eqNullSafe(F.col(f"__o_{g}"))
    return data.join(F.broadcast(ren), cond).drop(
        "__o_pid", *[f"__o_{g}" for g in group_cols]
    )


def grouped_rank(
    df: DataFrame,
    group_cols: list[str],
    order_by: list[Column],
    rank_col: str = "rank",
    total_col: str | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """1-based row_number under ``order_by`` within each (possibly empty)
    group, without funneling a group through a single partition.

    Range-partition on (group, order) — each group spans a contiguous run
    of partitions in order — rank within (partition, group) in parallel,
    then add the group's preceding-partition counts from a
    partitions×groups-sized broadcast offset table.  Intended for LOW-
    cardinality groups (or no group at all); high-cardinality groups
    should use a plain ``Window.partitionBy`` — that is already parallel.

    ``order_by`` must be a total order within each group (unique
    tie-break).  ``total_col`` attaches the group's row count N to every
    row (needed by ``ntile_from_rank``) from the same offset table, not a
    second scan.
    """
    if num_partitions is None:
        num_partitions = int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
        )
    gcols = [F.col(g) for g in group_cols]
    ranged = _ranged_pinned(df, [*gcols, *order_by], num_partitions)
    local = ranged.withColumn(
        "__lrn",
        F.row_number().over(
            Window.partitionBy("__pid", *group_cols).orderBy(*order_by)
        ),
    )
    # counts come from the pinned pre-window frame: no re-execution of the
    # range exchange, and this side never pays the in-partition sort
    counts = ranged.groupBy("__pid", *group_cols).agg(
        F.count(F.lit(1)).alias("__cnt")
    )
    # partitions×groups-sized: the unpartitioned-looking window here runs
    # over the OFFSET TABLE, not the data.
    off_w = (
        Window.partitionBy(*group_cols)
        .orderBy("__pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.select(
        "__pid",
        *group_cols,
        F.coalesce(F.sum("__cnt").over(off_w), F.lit(0)).alias("__off"),
        F.sum("__cnt")
        .over(Window.partitionBy(*group_cols))
        .alias("__tot"),
    )
    out = _nullsafe_offset_join(local, offsets, group_cols).withColumn(
        rank_col, F.col("__lrn") + F.col("__off")
    )
    if total_col is not None:
        out = out.withColumn(total_col, F.col("__tot"))
    return out.drop("__pid", "__lrn", "__off", "__tot")


def global_rank(
    df: DataFrame,
    order_by: list[Column],
    rank_col: str = "rank",
    total_col: str | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Add a 1-based global row_number under ``order_by`` without a
    single-partition window — ``grouped_rank`` with no group."""
    return grouped_rank(
        df,
        [],
        order_by,
        rank_col=rank_col,
        total_col=total_col,
        num_partitions=num_partitions,
    )


def global_cumsum(
    df: DataFrame,
    order_by: list[Column],
    val_col: str,
    cum_col: str = "cum",
    total_col: str | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Running sum of ``val_col`` under a global ordering without a
    single-partition window: in-partition running sums in parallel after a
    range partition, plus a broadcast prefix of per-partition totals.

    Identical to ``sum(val).over(Window.orderBy(*order_by).rowsBetween(
    unboundedPreceding, currentRow))`` whenever addition over ``val_col`` is
    exactly associative (bigint / decimal — the reason the callers keep
    money in DECIMAL, not float) and ``order_by`` is a total order.
    ``grouped_cumsum`` with no group — one implementation to maintain,
    mirroring the global_rank/grouped_rank pairing."""
    return grouped_cumsum(
        df,
        [],
        order_by,
        val_col,
        cum_col=cum_col,
        total_col=total_col,
        num_partitions=num_partitions,
    )


def grouped_cumsum(
    df: DataFrame,
    group_cols: list[str],
    order_by: list[Column],
    val_col: str,
    cum_col: str = "cum",
    total_col: str | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Per-group running sum under ``order_by`` without funneling a group
    through one partition — ``global_cumsum``'s grouped twin, built on
    the same pinned range partitioning as ``grouped_rank``: in-(partition,
    group) running sums in parallel, plus each group's preceding-partition
    totals from a partitions×groups-sized broadcast offset table.

    For LOW-cardinality groups whose members are data-grain (segments,
    metrics, days-of-week); high-cardinality groups should use a plain
    ``Window.partitionBy`` — that is already parallel.  Exact whenever
    addition over ``val_col`` is associative (bigint / decimal) and
    ``order_by`` is a total order within each group.  NULL group values
    form an ordinary partition, exactly like ``Window.partitionBy`` (the
    offset join is null-safe).  ``total_col`` attaches the group's full
    sum to every row from the offset table.
    """
    if num_partitions is None:
        num_partitions = int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
        )
    gcols = [F.col(g) for g in group_cols]
    ranged = _ranged_pinned(df, [*gcols, *order_by], num_partitions)
    local = ranged.withColumn(
        "__lcum",
        F.sum(val_col).over(
            Window.partitionBy("__pid", *group_cols)
            .orderBy(*order_by)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    totals = ranged.groupBy("__pid", *group_cols).agg(
        F.sum(val_col).alias("__ptot")
    )
    off_w = (
        Window.partitionBy(*group_cols)
        .orderBy("__pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = totals.select(
        "__pid",
        *group_cols,
        F.sum("__ptot").over(off_w).alias("__off"),
        F.sum("__ptot")
        .over(Window.partitionBy(*group_cols))
        .alias("__tot"),
    )
    # NULL __off = first partition of the group (no preceding totals);
    # the when() keeps the sum's own type (a 0-literal coalesce would
    # coerce DECIMAL state)
    out = _nullsafe_offset_join(local, offsets, group_cols).withColumn(
        cum_col,
        F.when(F.col("__off").isNull(), F.col("__lcum")).otherwise(
            F.col("__lcum") + F.col("__off")
        ),
    )
    if total_col is not None:
        out = out.withColumn(total_col, F.col("__tot"))
    return out.drop("__pid", "__lcum", "__off", "__tot")


def grouped_lag(
    df: DataFrame,
    group_cols: list[str],
    order_by: list[Column],
    val: Column,
    lag_col: str = "prev",
    num_partitions: int | None = None,
) -> DataFrame:
    """``lag(val).over(Window.partitionBy(*group_cols).orderBy(*order_by))``
    for LOW-CARDINALITY groups, without funneling each group through a
    single partition.

    Range-partition on (group, order) so each group's stream is split
    across many partitions in order; lag within (partition, group) locally;
    then stitch the partition boundaries: the per-(partition, group) LAST
    value is a partitions×groups-sized table, and the value preceding a
    partition's first row is that tiny table's ``lag`` over the partition
    id within the group.  Every data-grain pass is partition-parallel; the
    only grouped global window runs over the boundary table.

    NULL-safe: the in-partition lag wraps ``val`` in a struct, so "no
    previous row in this partition" (struct is NULL -> take the boundary
    carry) is distinguished from "previous value is NULL" (struct is
    non-NULL with a NULL field -> the lag is genuinely NULL), matching
    ``lag()`` exactly even for NULL-bearing value columns.

    ``order_by`` must be plain ASCENDING columns (they become struct fields
    in the boundary arg-max, where a ``desc()`` sort expression cannot
    appear).
    """
    if num_partitions is None:
        num_partitions = int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
        )
    gcols = [F.col(g) for g in group_cols]
    ranged = _ranged_pinned(
        df.withColumn("__v", val), [*gcols, *order_by], num_partitions
    )
    in_w = Window.partitionBy("__pid", *group_cols).orderBy(*order_by)
    local = ranged.withColumn(
        "__ps", F.lag(F.struct(F.col("__v").alias("v"))).over(in_w)
    )
    # last value of each (partition, group): arg-max by the order keys
    last = ranged.groupBy("__pid", *group_cols).agg(
        F.max(F.struct(*order_by, F.col("__v"))).alias("__s")
    ).select("__pid", *group_cols, F.col("__s.__v").alias("__last"))
    bd_w = Window.partitionBy(*group_cols).orderBy("__pid")
    boundary = last.withColumn("__carry", F.lag("__last").over(bd_w)).select(
        "__pid", *group_cols, "__carry"
    )
    return (
        _nullsafe_offset_join(local, boundary, group_cols)
        .withColumn(
            lag_col,
            F.when(F.col("__ps").isNull(), F.col("__carry")).otherwise(
                F.col("__ps").getField("v")
            ),
        )
        .drop("__pid", "__v", "__ps", "__carry")
    )


def grouped_topk(
    df: DataFrame,
    group_cols: list[str],
    order_by: list[Column],
    k: int,
    rank_col: str = "rn",
) -> DataFrame:
    """Top-k rows per group with ranks, two-phase: a parallel per-
    (partition, group) rank keeps at most k rows from each partition (the
    per-executor heap), then the final rank runs over ≤ k·P survivors per
    group — bounded by construction, independent of input size.  The
    mergeable-sketch evaluation shape for k-min-values and friends."""
    pre = df.withColumn("__pid", F.spark_partition_id())
    local_w = Window.partitionBy("__pid", *group_cols).orderBy(*order_by)
    survivors = (
        pre.withColumn("__lrn", F.row_number().over(local_w))
        .filter(F.col("__lrn") <= k)
        .drop("__pid", "__lrn")
    )
    final_w = Window.partitionBy(*group_cols).orderBy(*order_by)
    return survivors.withColumn(
        rank_col, F.row_number().over(final_w)
    ).filter(F.col(rank_col) <= k)


def ntile_from_rank(rank: Column, n: Column, k: int) -> Column:
    """SQL ``NTILE(k)`` reconstructed from a 1-based global rank and the
    total row count: with q = N div k and r = N mod k, the first r tiles
    hold q+1 rows and the rest hold q."""
    q = (n / k).cast("bigint")
    r = n - q * k
    big_span = r * (q + 1)  # rows covered by the (q+1)-sized tiles
    in_big = ((rank - 1) / (q + 1)).cast("bigint") + 1
    in_small = r + ((rank - big_span - 1) / F.when(q > 0, q)).cast("bigint") + 1
    return F.when(rank <= big_span, in_big).otherwise(in_small).cast("int")
