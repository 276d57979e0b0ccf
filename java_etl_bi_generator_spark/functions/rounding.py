"""Cross-engine-stable rounding.

Spark's ``round`` rounds the *shortest decimal rendering* of a double
(java.math.BigDecimal HALF_UP), while DuckDB's ``round`` works on the
binary value — they disagree on ties like 10.015.  For differential
testing (and any reproducible pipeline output), rounding is expressed as
plain IEEE arithmetic that every engine evaluates identically:

    pround(x, n) = floor(x * 10^n + 0.5) / 10^n

The matching SQL text for an oracle is produced by ``pround_sql``.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column


def pround(c: Column, ndigits: int = 2) -> Column:
    scale = float(10**ndigits)
    return F.floor(c * F.lit(scale) + F.lit(0.5)) / F.lit(scale)


def pround_sql(expr: str, ndigits: int = 2) -> str:
    scale = 10**ndigits
    return f"floor(({expr}) * {scale} + 0.5) / {scale}"


def dsum(c: Column, scale: int = 2) -> Column:
    """Exact sum of fixed-decimal values, in scaled-BIGINT arithmetic:

        sum(floor(x * 10^scale + 0.5)) / 10^scale

    Integer summation is order-independent (float summation order varies
    with partitioning and differs between engines), and the per-row
    rounding is plain IEEE double arithmetic that Spark and DuckDB
    evaluate identically — so grouped sums hash-match cross-engine.

    Why not DECIMAL: Spark's sum over DECIMAL(18,s) widens the
    accumulator to DECIMAL(28,s), which no longer fits a long — every
    row then goes through JVM BigDecimal (measured ~4x slower than the
    codegen long path on a 600k-row TPC-H Q1 aggregate set).  The scaled
    BIGINT sum stays inside whole-stage codegen.

    Range: the scaled per-row values sum in a BIGINT (overflow at ~9.2e18).
    The safe row count is scale-dependent — per-row magnitude ~1e4 gives
    ~1e{14-scale} rows headroom: effectively unbounded at scale 2, but at
    scale 6 a fact-table sum of ~1e5-magnitude values (TPC-H Q1
    sum_charge: ~1e11 scaled per row) overflows around 1e8 qualifying
    rows (~sf20-50).  Spark 4 runs ANSI-on, so overflow fails LOUDLY
    rather than wrapping; callers summing at scale >= 4 over fact tables
    beyond that bound should aggregate in DECIMAL(38,s) instead
    (``F.sum(c.cast(f"decimal(38,{scale})"))`` — exact at any row count,
    at the cost of leaving the codegen long path; DuckDB's HUGEINT
    accumulator keeps matching it).  The final division is exact while
    the scaled total stays under 2^53, and beyond that both engines round
    the integer->double conversion identically (nearest-even), so
    cross-engine parity survives even when the last ulp is off the exact
    decimal value.  Requires inputs that are true fixed-decimal
    quantities at ``scale``.
    """
    s = F.lit(float(10**scale))
    return F.sum(F.floor(c * s + F.lit(0.5))) / s


def dsum_sql(expr: str, scale: int = 2) -> str:
    s = 10**scale
    return (
        f"(CAST(sum(CAST(floor((({expr}) * {s}.0) + 0.5) AS BIGINT)) "
        f"AS DOUBLE) / {s}.0)"
    )


def dsum_wide(c: Column, scale: int = 2) -> Column:
    """``dsum`` beyond the BIGINT bound: identical per-row scaling, but
    the accumulator is DECIMAL(38,0) — exact to ~1e38, i.e. any realistic
    row count at any scale.  This is the documented fallback for
    scale >= 4 sums over fact tables past ~1e8 rows (where dsum's scaled
    BIGINT would ANSI-overflow); it leaves the codegen long path (~4x
    CPU on the agg — see dsum), so reach for it only past the bound.
    Same value as dsum wherever both are defined: integer accumulation
    either way, double conversion rounds nearest-even in both engines.
    """
    s = F.lit(float(10**scale))
    return (
        F.sum(F.floor(c * s + F.lit(0.5)).cast("decimal(38,0)"))
        .cast("double")
        / s
    )


# Routing headroom: keep the projected scaled total under 2^62 (half the
# BIGINT range) so skew, magnitude underestimates, and future growth
# don't walk a query into the ANSI overflow the bound exists to prevent.
DSUM_SAFE_SCALED_TOTAL = float(2**62)


def dsum_routes_wide(
    scale: int, est_rows: int | None, row_magnitude: float = 1e5
) -> bool:
    """True when the projected scaled total ``est_rows · row_magnitude ·
    10^scale`` exceeds the BIGINT safety bound — the static planning rule
    behind ``dsum_auto``.  Unknown row counts route conservatively: wide
    for scale >= 4 (where fact-table sums overflow around 1e8 rows — see
    ``dsum``), long for scale <= 3 (overflow needs ~1e{14-scale} rows of
    ~1e4 magnitude, beyond any single aggregate's realistic input)."""
    if est_rows is None:
        return scale >= 4
    return est_rows * row_magnitude * (10**scale) >= DSUM_SAFE_SCALED_TOTAL


def dsum_auto(
    c: Column,
    scale: int = 2,
    est_rows: int | None = None,
    row_magnitude: float = 1e5,
) -> Column:
    """``dsum`` with the BIGINT-overflow routing done FOR the caller
    (round-4 verdict task 2): stays on the codegen scaled-long path while
    the projected total fits, switches to the DECIMAL(38,0) accumulator
    (``dsum_wide``) past the bound.  Both branches produce the identical
    value wherever both are defined (integer accumulation either way, the
    int→double conversion rounds nearest-even in both engines), so the
    route is purely a performance/overflow decision and never shows up in
    a hash-check — the DuckDB oracle keeps one form regardless.

    ``est_rows`` comes from cheap planner-style stats (parquet footer
    row counts via ``catalog.estimate_rows`` — no Spark job); pass the
    PRE-filter table size: overestimating only costs the ~4x-slower-agg
    wide path, underestimating risks the loud ANSI failure.  Switch cost
    measured in SCALING.md ("dsum_auto routing")."""
    if dsum_routes_wide(scale, est_rows, row_magnitude):
        return dsum_wide(c, scale)
    return dsum(c, scale)
