"""Scalar & aggregation helper expressions (SURVEY.md §2.8).

Two concerns live here:

1. **Reference scalar semantics** re-expressed as Column expressions —
   zero-replace guard (F7), day of week and weekend flag (W8 with the
   pandas-Mon=0 vs Spark-Sun=1 mapping).

2. **Cross-engine deterministic aggregates** for the correctness oracle.
   Floating-point SUM/AVG are order-dependent; Spark and DuckDB will disagree
   in the last ulps on different partitionings. ``dsum``/``davg`` round each
   input to a fixed scale and sum as DECIMAL (exact integer arithmetic in both
   engines), then cast back to double — bit-identical results regardless of
   partitioning or visit order, at a precision far beyond test tolerance.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# Deterministic aggregates (oracle-stable across engines & partitionings)
# ---------------------------------------------------------------------------
#
# Strategy: scale each value to an integer unit count with
# ``floor(x·10^s + 0.5)`` — identical IEEE double ops in every engine, then
# an EXACT bigint sum (order/association-independent), then one double
# division. ~4× faster than DECIMAL aggregation (no BigDecimal boxing) and
# bit-identical across Spark partitionings and DuckDB.
#
# Domain: |x·10^s| must stay < 2^53 per value and the unit sum < 2^63
# (~9.2e14 at s=4) — comfortably true for the oracle tiers. The 100 TB tier
# reports plain double aggregates (floats at that scale are approximate by
# declaration) or falls back to DECIMAL(38) sums.


# default integer-unit scale for the exact-sum family (dsum/davg and the
# salted two-phase aggregates in operators/skew.py)
DSUM_SCALE_DEFAULT = 4


def dsum(col: Column | str, scale: int = DSUM_SCALE_DEFAULT) -> Column:
    """Order-independent SUM: exact integer-unit sum → one double division.

    SQL twin: ``CAST(SUM(CAST(FLOOR(x * 1e{s} + 0.5) AS BIGINT)) AS DOUBLE)
    / 1e{s}``. The floor(+0.5) is exact-value recovery whenever x's
    intrinsic decimal scale ≤ s (same rule as rounding: pick s ≥ the data's
    decimal precision).
    """
    c = F.col(col) if isinstance(col, str) else col
    mult = float(10**scale)
    units = F.floor(c * F.lit(mult) + F.lit(0.5)).cast("bigint")
    return F.sum(units).cast("double") / F.lit(mult)


def davg(col: Column | str, scale: int = DSUM_SCALE_DEFAULT) -> Column:
    """Order-independent AVG: exact unit sum / (10^s · count).

    SQL twin: ``CAST(SUM(CAST(FLOOR(x * 1e{s} + 0.5) AS BIGINT)) AS DOUBLE)
    / (1e{s} * COUNT(x))``.
    """
    c = F.col(col) if isinstance(col, str) else col
    mult = float(10**scale)
    units = F.floor(c * F.lit(mult) + F.lit(0.5)).cast("bigint")
    return F.sum(units).cast("double") / (F.lit(mult) * F.count(c))


def sql_dsum(expr: str, scale: int = 4) -> str:
    """DuckDB-side twin of :func:`dsum` for oracle strings."""
    mult = f"{10**scale}.0"
    return (
        f"(CAST(SUM(CAST(FLOOR(({expr}) * {mult} + 0.5) AS BIGINT)) AS DOUBLE)"
        f" / {mult})"
    )


def sql_davg(expr: str, scale: int = 4) -> str:
    """DuckDB-side twin of :func:`davg`."""
    mult = f"{10**scale}.0"
    return (
        f"(CAST(SUM(CAST(FLOOR(({expr}) * {mult} + 0.5) AS BIGINT)) AS DOUBLE)"
        f" / ({mult} * COUNT({expr})))"
    )


# ---------------------------------------------------------------------------
# Reference scalar semantics (streamlit_app.py sites cited per function)
# ---------------------------------------------------------------------------


def zero_guard(col: Column | str) -> Column:
    """``Series.replace(0, 1e-9)`` (streamlit_app.py:540,608,691).

    Semantic requirement of the z-score operators, not an optimization: a
    zero std must become 1e-9 so the division stays finite.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.when(c == 0, F.lit(1e-9)).otherwise(c)


def pandas_dow(ts: Column | str) -> Column:
    """pandas ``dt.dayofweek`` (Mon=0 … Sun=6) from Spark ``dayofweek``
    (Sun=1 … Sat=7): ``(spark_dow + 5) % 7``. The reference feeds this
    straight into the model's numeric features (streamlit_app.py:710;
    bundle num_cols include ``dow``)."""
    c = F.col(ts) if isinstance(ts, str) else ts
    return ((F.dayofweek(c) + F.lit(5)) % F.lit(7)).cast("int")


def is_weekend(ts: Column | str) -> Column:
    """pandas ``dt.dayofweek >= 5`` (Mon=0 ⇒ Sat/Sun) ⇢ Spark ``dayofweek``
    (Sun=1 ⇒ weekend ∈ {1, 7}). Site: streamlit_app.py:710-711 (W8 note,
    SURVEY.md §2.5)."""
    c = F.col(ts) if isinstance(ts, str) else ts
    return F.dayofweek(c).isin(1, 7).cast("int")
