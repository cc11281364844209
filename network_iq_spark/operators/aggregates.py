"""Aggregation operators (SURVEY.md §2.4, A1-A15).

The reference computes all of these eagerly in pandas over a fully
materialized frame (streamlit_app.py:271-306,320-552). Here each is a single
lazy ``groupBy().agg()`` plan: Catalyst pushes scan-level filters and prunes
columns, map-side partial aggregation halves the shuffle, and AQE coalesces
post-shuffle partitions. No driver-side loops, no collect.

Scale notes (100 TB posture):
- Grouped aggregates shuffle once on the group key; partial aggregation means
  the exchange carries one row per (task, key), not per input row.
- ``percentile`` is exact (sort-based per group) — correct for the oracle
  tier. At 100 TB prefer :func:`grouped_quantile_approx` (t-digest-style
  sketch, mergeable, no per-group sort); both are exposed.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from network_iq_spark.functions import davg, dsum


def pricing_summary(lineitem: DataFrame) -> DataFrame:
    """Flagship query: TPC-H Q1-shaped pricing summary.

    Exercises scan → pushed-down filter → grouped multi-agg (A5 shape) →
    order-by. The reference's closest analogue is the grouped multi-agg
    baseline (streamlit_app.py:536-537) writ large.
    """
    return (
        lineitem.filter(F.col("l_shipdate") <= F.lit("2001-09-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("sum_disc_price"),
            # scale must cover the value's intrinsic decimal precision
            # (2-dec price × 2-dec disc × 2-dec tax ⇒ 6 decimals), else the
            # two engines tie-break differently at the rounding boundary
            dsum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax")),
                scale=6,
            ).alias("sum_charge"),
            davg("l_quantity").alias("avg_qty"),
            davg("l_extendedprice").alias("avg_price"),
            davg("l_discount", scale=6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def boolean_rate(df: DataFrame, predicates: dict[str, Column]) -> DataFrame:
    """Boolean-rate aggregates (A3): ``avg(predicate::double)`` per name.

    Reference: promoter/detractor rates and the NPS proxy
    (streamlit_app.py:257-261,296-302).
    """
    return df.agg(
        *[F.avg(pred.cast("double")).alias(name) for name, pred in predicates.items()]
    )


def grouped_quantile(df: DataFrame, keys: Sequence[str], metric: str, q: float) -> DataFrame:
    """Grouped exact quantile (A6): hotspot P95 per key
    (streamlit_app.py:499-501)."""
    return df.groupBy(*keys).agg(
        F.percentile(F.col(metric), F.lit(q)).alias(f"p{int(q * 100)}_{metric}")
    )


def grouped_quantile_approx(
    df: DataFrame, keys: Sequence[str], metric: str, q: float
) -> DataFrame:
    """Sketch-based grouped quantile for the 100 TB tier: mergeable partial
    sketches, no per-group sort (SURVEY.md §4 quantile duality)."""
    return df.groupBy(*keys).agg(
        F.percentile_approx(F.col(metric), F.lit(q), F.lit(10000)).alias(
            f"p{int(q * 100)}_{metric}"
        )
    )


def null_report(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Per-column null counts in ONE pass (A11) — the reference runs one
    ``isna().sum()`` per column (streamlit_app.py:72-76)."""
    return df.agg(
        F.count("*").alias("row_count"),
        *[F.sum(F.col(c).isNull().cast("bigint")).alias(f"nulls_{c}") for c in cols],
    )


def conditional_count(df: DataFrame, conds: dict[str, Column]) -> DataFrame:
    """Conditional counts (A12): ``sum(when(cond,1))`` batched in one agg."""
    return df.agg(
        *[
            F.sum(F.when(cond, F.lit(1)).otherwise(F.lit(0))).alias(name)
            for name, cond in conds.items()
        ]
    )
