"""Data profiling — per-column null counts, distinct counts, min/max — the
"analyze my table" primitive a BI/ETL engine needs for data-quality gates
and optimizer statistics.

One pass over the table: all per-column aggregates computed in a single
hash-aggregate (no per-column scans), then unpivoted to one row per
column.  At 100 TB prefer ``approx_count_distinct`` (the ``exact=False``
path) — exact distinct per column multiplies shuffle volume.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


def profile_table(
    df: DataFrame, columns: list[str] | None = None, exact: bool = True
) -> DataFrame:
    """-> (column, n_rows, n_nulls, n_distinct, min_str, max_str)."""
    cols = columns or df.columns
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        col = F.col(c)
        aggs.append(F.count(F.when(col.isNull(), 1)).alias(f"__nulls_{c}"))
        aggs.append(
            (F.countDistinct(col) if exact else F.approx_count_distinct(col))
            .alias(f"__dist_{c}")
        )
        aggs.append(F.min(col).cast("string").alias(f"__min_{c}"))
        aggs.append(F.max(col).cast("string").alias(f"__max_{c}"))
    wide = df.agg(*aggs)
    per_col = [
        F.struct(
            F.lit(c).alias("column"),
            F.col("__n").alias("n_rows"),
            F.col(f"__nulls_{c}").alias("n_nulls"),
            F.col(f"__dist_{c}").alias("n_distinct"),
            F.col(f"__min_{c}").alias("min_str"),
            F.col(f"__max_{c}").alias("max_str"),
        )
        for c in cols
    ]
    return wide.select(F.explode(F.array(*per_col)).alias("p")).select("p.*")


def validate_expectations(df: DataFrame, rules: dict[str, F.Column]) -> DataFrame:
    """Data-quality gate: ``rules`` maps rule name -> boolean Column that
    every GOOD row satisfies.  Returns one row per rule —
    (rule, n_rows, n_violations, pass) — computed in a single
    hash-aggregate pass (a violation count is just ``count(when(~rule))``;
    NULL predicate results count as violations, the conservative
    three-valued-logic reading)."""
    aggs = [F.count(F.lit(1)).alias("__n")]
    for name, col in rules.items():
        aggs.append(
            F.count(F.when(~F.coalesce(col, F.lit(False)), 1)).alias(
                f"__viol_{name}"
            )
        )
    wide = df.agg(*aggs)
    per_rule = [
        F.struct(
            F.lit(name).alias("rule"),
            F.col("__n").alias("n_rows"),
            F.col(f"__viol_{name}").alias("n_violations"),
            (F.col(f"__viol_{name}") == 0).alias("pass"),
        )
        for name in rules
    ]
    return wide.select(F.explode(F.array(*per_rule)).alias("r")).select("r.*")
