"""Projection / filter / predicate operators (SURVEY.md §2.2, P1-P13).

All declarative Column predicates — Catalyst pushes them into the parquet
scan (row-group skipping via min/max stats) and prunes unread columns; the
reference applies the same predicates only after materializing every
partition into pandas (streamlit_app.py:214 vs 249-253).
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def cleansing_filter(df: DataFrame, rules: Sequence[Column]) -> DataFrame:
    """P1/Q3: drop impossible rows (reference: ``latency_ms > 0 AND
    throughput_mbps >= 0``, src/ingest/spark_ingest.py:13)."""
    out = df
    for rule in rules:
        out = out.filter(rule)
    return out


def scope_filter(df: DataFrame, selections: Mapping[str, object | None]) -> DataFrame:
    """P3: widget-style equality filters with the ALL sentinel.

    ``None`` (the reference's "All") is a plan-level no-op — the filter is
    simply not added, so partition pruning still fires for the provided keys.
    """
    out = df
    for col, val in selections.items():
        if val is not None:
            out = out.filter(F.col(col) == F.lit(val))
    return out


def distinct_domain(df: DataFrame, col: str) -> DataFrame:
    """P4: sorted distinct non-null values of one column (filter-option
    domains, streamlit_app.py:243,247)."""
    return df.select(col).na.drop().distinct().orderBy(col)


def threshold_filter(df: DataFrame, col: str, min_value: float) -> DataFrame:
    """P11: ``fillna(0) >= t`` (streamlit_app.py:829-830)."""
    return df.filter(F.coalesce(F.col(col), F.lit(0.0)) >= F.lit(min_value))


def row_lookup(df: DataFrame, key_col: str, key: object) -> DataFrame:
    """P13: string-normalized single-row lookup
    (streamlit_app.py:1124-1126)."""
    return df.filter(F.col(key_col).cast("string") == F.lit(str(key))).limit(1)
