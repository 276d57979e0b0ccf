"""Deterministic sampling expressions (north-star LLM-pipeline surface).

The randomness every sampler needs is replaced by an md5 draw on the row
key — a pure function of the data, so samples are stable across engines,
re-runs, repartitions, and appends (the auditability property
``df.sample``'s seed+partition dependence cannot give).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column


def h32(col: Column) -> Column:
    """First 32 bits of md5 of a string column as a non-negative bigint —
    the portable hash the sketches and samplers key on (bit 63 never set,
    so no signed-overflow divergence between engines)."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("bigint")


def md5_uniform(key: Column) -> Column:
    """A deterministic draw u in (0,1) from the md5 of ``key``: the first
    8 hex chars as a 32-bit int, then (h + 0.5)/2^32 — an exact rational
    strictly inside the interval, identical in any engine."""
    h = h32(key.cast("string"))
    return (h.cast("double") + F.lit(0.5)) / F.lit(4294967296.0)


def ares_key(key: Column, weight: Column) -> Column:
    """Efraimidis-Spirakis A-Res sort key ln(u)/w with the md5 draw: the
    top-k rows under this key (descending) are a weighted sample WITHOUT
    replacement where selection probability tracks ``weight``.  Shared by
    q_sample_weighted / q_sample_weighted_grouped (and their oracles'
    SQL twin) so the draw cannot drift between call sites."""
    return F.log(md5_uniform(key)) / weight.cast("double")
