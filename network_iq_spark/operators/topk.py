"""Sort / limit / top-k operators (SURVEY.md §2.6, O1-O7).

``orderBy(...).limit(k)`` — Catalyst plans TakeOrderedAndProject: each task
keeps a k-row heap, the driver merges heaps; no global sort materializes.
The reference full-sorts then heads (streamlit_app.py:499-512).

Determinism: pandas ``sort_values`` is stable on input order, which is not a
meaningful order in a distributed engine. Every top-k here takes explicit
``tiebreak`` columns to make the selection total — required for the oracle
and for reproducible results across cluster runs.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def top_k(
    df: DataFrame,
    by: Sequence[tuple[str, bool]],
    k: int,
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """O1/O2/O3/O5: top-k by (column, descending?) sort spec + tiebreaks."""
    order: list[Column] = [
        F.col(c).desc() if desc else F.col(c).asc() for c, desc in by
    ]
    order += [F.col(c).asc() for c in tiebreak]
    return df.orderBy(*order).limit(k)


def ordered_preview(df: DataFrame, order: Sequence[str]) -> DataFrame:
    """O4: first-100 preview in a stated order (streamlit_app.py:308)."""
    return df.orderBy(*order).limit(100)


def distinct_head(df: DataFrame, col: str) -> DataFrame:
    """O7: first-50 distinct values (dropdown domains,
    streamlit_app.py:1301). Ordered so "first" is well-defined."""
    return df.select(col).distinct().orderBy(col).limit(50)


def grouped_top_k(
    df: DataFrame,
    keys: Sequence[str],
    by: Sequence[tuple[str, bool]],
    k: int,
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """Per-group top-k via ``row_number`` (rank family — listed absent in the
    reference, free with windows). One shuffle on ``keys``."""
    from pyspark.sql import Window

    order: list[Column] = [
        F.col(c).desc() if desc else F.col(c).asc() for c, desc in by
    ]
    order += [F.col(c).asc() for c in tiebreak]
    spec = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("rank", F.row_number().over(spec))
        .filter(F.col("rank") <= k)
    )
