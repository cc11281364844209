"""Join operators (SURVEY.md §2.3, J1-J3 + the free extensions).

Every reference join is a left equi-join of a big fact against a tiny
aggregate or dimension (24-row hourly baseline, 5-row coordinate dim) — the
canonical broadcast-hash-join shape. At reference scale Catalyst
auto-broadcasts; we hint explicitly because at 100 TB the fact side's size
statistics can mislead the planner while the build side stays small.

J4 ("positional repair join", streamlit_app.py:744-764) is intentionally
absent: it exists only because pandas pipelines drop key columns; Spark plans
keep keys, so the operator is unnecessary by construction.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def baseline_join(fact: DataFrame, baseline: DataFrame, on: Sequence[str]) -> DataFrame:
    """J1/J2: fact ⟕ small per-group baseline, broadcast build side
    (streamlit_app.py:539,607,691)."""
    return fact.join(F.broadcast(baseline), list(on), "left")


def anti_join(left: DataFrame, right: DataFrame, on: Sequence[str]) -> DataFrame:
    """Left anti join (rows of ``left`` with no match) — free in Spark,
    listed as absent-but-available in the survey (§2.3)."""
    return left.join(right, list(on), "left_anti")


def semi_join(left: DataFrame, right: DataFrame, on: Sequence[str]) -> DataFrame:
    """Left semi join (existence filter without right columns)."""
    return left.join(right, list(on), "left_semi")
