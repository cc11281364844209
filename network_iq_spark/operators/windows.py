"""Window / rolling / rank operators (SURVEY.md §2.5, W1-W8).

The reference does all of this with pandas ``rolling``/``diff``/
``drop_duplicates`` inside a per-group ``apply`` (streamlit_app.py:697-711,
971-975). Here each is a Spark window expression — no grouped-map UDF, no
Python in the hot path; the general ``applyInPandas`` escape hatch (W4) exists
but is deliberately not used for any of these.

Semantic edges preserved from pandas (each has oracle coverage):
- **W1 center=True**: for even window w the frame is asymmetric — pandas
  puts the extra element *before* the anchor: ``[i − w//2, i + (w−1)//2]``.
  We encode exactly that (see ``centered_frame``).
- **W2 ddof**: pandas ``rolling().std()`` is sample std → ``stddev_samp``;
  ``min_periods=1`` matches Spark's shrink-at-edges default.
- **W3 diff**: first row yields NaN→0 via ``coalesce``.
- **W6 keep="last"**: pandas relies on sort order; Spark ``dropDuplicates``
  has NO ordering guarantee, so keep-last must be ``row_number`` over a
  descending window (with a total-order tiebreak for determinism).

Scale notes: windows partitioned by a key shuffle once on that key and sort
within partitions. Skewed keys (one cell with 1e9 rows) are the risk at
100 TB — these ops keep frames bounded (ROWS BETWEEN k), so state per row is
O(k); for unbounded-history features switch to the streaming tier.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F


def centered_frame(w: int) -> tuple[int, int]:
    """pandas ``rolling(w, center=True)`` frame: [i−w//2, i+(w−1)//2] — for
    even w the EXTRA element sits BEFORE the anchor (verified against pandas
    2.2: rolling(4).mean of [1,2,4,8,…] at i=2 is (1+2+4+8)/4)."""
    return (-(w // 2), (w - 1) // 2)


def centered_moving_avg(
    df: DataFrame, order: str, value: Column | str, w: int
) -> DataFrame:
    """W1: centered moving average with pandas ``min_periods=1`` edges.

    Reference: streamlit_app.py:330 (hourly chart smoothing, w ∈ [1,5]).
    """
    lo, hi = centered_frame(w)
    spec = Window.orderBy(order).rowsBetween(lo, hi)
    c = F.col(value) if isinstance(value, str) else value
    return df.withColumn("smoothed", F.avg(c).over(spec))


def trailing_window(keys: Sequence[str], order: Sequence[str], n: int) -> WindowSpec:
    """W2 frame: trailing n rows (current + n-1 preceding), per key."""
    return Window.partitionBy(*keys).orderBy(*order).rowsBetween(-(n - 1), 0)


def rolling_features(
    df: DataFrame,
    keys: Sequence[str],
    order: Sequence[str],
    metrics: Sequence[str],
) -> DataFrame:
    """W2+W3: per-key trailing 3-row rolling mean/std + first-difference.

    Reference ``_add_roll`` (streamlit_app.py:697-701): for each metric m
    emits ``m_rmean`` (rolling mean), ``m_rstd`` (rolling sample std, NaN→0),
    ``m_rdiff`` (diff, first-row→0). One shuffle on ``keys``, all features in
    a single window pass.
    """
    roll = trailing_window(keys, order, 3)
    lag_w = Window.partitionBy(*keys).orderBy(*order)
    out = df
    for m in metrics:
        c = F.col(m)
        out = (
            out.withColumn(f"{m}_rmean", F.avg(c).over(roll))
            .withColumn(f"{m}_rstd", F.coalesce(F.stddev_samp(c).over(roll), F.lit(0.0)))
            .withColumn(f"{m}_rdiff", F.coalesce(c - F.lag(c, 1).over(lag_w), F.lit(0.0)))
        )
    return out


def zscore(value: Column | str, mean: Column | str, std: Column | str) -> Column:
    """W5: z-score vs a baseline with the reference's zero-std guard
    (streamlit_app.py:540-543)."""
    v = F.col(value) if isinstance(value, str) else value
    m = F.col(mean) if isinstance(mean, str) else mean
    s = F.col(std) if isinstance(std, str) else std
    s = F.coalesce(s, F.lit(0.0))
    return (v - m) / F.when(s == 0, F.lit(1e-9)).otherwise(s)


def dedup_keep_last(
    df: DataFrame,
    keys: Sequence[str],
    order: Sequence[str],
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """W6: keep the most-recent row per key (pandas sort + drop_duplicates
    keep="last", streamlit_app.py:971-975).

    ``dropDuplicates`` keeps an *arbitrary* row — the ordering guarantee
    requires ``row_number`` over a descending window. ``tiebreak`` columns
    make the choice total when ``order`` has duplicates.
    """
    spec = Window.partitionBy(*keys).orderBy(
        *[F.col(c).desc() for c in order], *[F.col(c).desc() for c in tiebreak]
    )
    return (
        df.withColumn("__rn__", F.row_number().over(spec))
        .filter(F.col("__rn__") == 1)
        .drop("__rn__")
    )


def minmax_normalize(df: DataFrame, value: Column | str) -> DataFrame:
    """W7: (x−min)/(max−min) over the whole frame; constant input → 1.0
    (streamlit_app.py:996-998).

    Scale shape: an empty-window ``min/max OVER ()`` would move EVERY row to
    one partition (``WindowExec: No Partition Defined``). Instead the two
    scalars come from a partial-aggregating ``agg`` (map-side combine, one
    1-row exchange) and re-attach via ``crossJoin(broadcast(...))`` — a
    BroadcastNestedLoopJoin against a 1-row build side, so the fact table
    keeps its partitioning.
    """
    c = F.col(value) if isinstance(value, str) else value
    scalars = df.agg(F.min(c).alias("__mn__"), F.max(c).alias("__mx__"))
    mn, mx = F.col("__mn__"), F.col("__mx__")
    return (
        df.crossJoin(F.broadcast(scalars))
        .withColumn("norm", F.when(mx == mn, 1.0).otherwise((c - mn) / (mx - mn)))
        .drop("__mn__", "__mx__")
    )


def winsorize(df: DataFrame, col: str, out: str | None = None) -> DataFrame:
    """Q3/A14: clip a metric to its scope quantiles (the reference's
    declared winsorization rule, docs/KPI_dictionary.md:21, applied for viz
    at streamlit_app.py:333-336,425-428).

    The exact-percentile scalars are computed with ``agg`` and re-attached
    via ``crossJoin(broadcast(...))`` — same 1-row-build-side shape as
    ``minmax_normalize``; no single-partition window over the fact table.
    """
    scalars = df.agg(
        F.percentile(F.col(col), F.lit(0.05)).alias("__lo__"),
        F.percentile(F.col(col), F.lit(0.95)).alias("__hi__"),
    )
    return (
        df.crossJoin(F.broadcast(scalars))
        .withColumn(
            out or f"{col}_winsorized",
            F.least(F.greatest(F.col(col), F.col("__lo__")), F.col("__hi__")),
        )
        .drop("__lo__", "__hi__")
    )


def grouped_map(df: DataFrame, keys, fn, schema) -> DataFrame:
    """W4: the grouped-map escape hatch (``groupby.apply`` →
    ``applyInPandas``) for per-group logic that window functions genuinely
    cannot express. Every reference use of this pattern
    (streamlit_app.py:709) is covered by plain windows in this engine — this
    exists for user extensions; Arrow-batched, one Python worker per group
    partition."""
    return df.groupBy(*keys).applyInPandas(fn, schema=schema)


def latest_snapshot(df: DataFrame, ts: str) -> DataFrame:
    """P12: rows where ts equals the frame-wide max (streamlit_app.py:713-715).

    The max-ts scalar comes from ``agg`` (partial aggregation, 1-row result)
    and the filter applies after a ``crossJoin(broadcast(...))`` — no
    empty-window single-partition exchange over the fact table, and with
    parquet sources the 1-row side can drive runtime row-group skipping.
    """
    mx = df.agg(F.max(F.col(ts)).alias("__mx__"))
    return (
        df.crossJoin(F.broadcast(mx))
        .filter(F.col(ts) == F.col("__mx__"))
        .drop("__mx__")
    )


def time_sliced_window(keys: Sequence[str], ts_col: str, n: int) -> WindowSpec:
    """Trailing-n frame whose partition key is SPLIT by a calendar month —
    the documented skewed-window mitigation (docs/SCALE.md windows §(b)).

    A window partitioned only by ``keys`` sorts each key in ONE task: a
    hot key with billions of rows is a straggler no AQE setting can split
    (skew handling does not apply to windows). Partitioning by
    (slice(ts), keys) bounds every sort task at rows-per-(key, slice) —
    a billion-row key becomes #slices parallel, bounded tasks.

    Semantics: IDENTICAL to the plain per-key window whenever no frame
    spans a slice boundary (property-tested); frames that would cross a
    boundary RESET at it — the explicit trade, correct wherever the
    analysis is per-slice anyway (monthly features, daily sessions) or the
    frame length ≪ slice length and edge rows are tolerable.

    NOTE for multi-window plans: the slice expression here is instantiated
    per call, so two specs built by two calls DON'T share an exchange —
    materialize the slice as a column once and partition on it
    (:func:`time_sliced_rolling` does) to keep ONE shuffle for a whole
    feature family.
    """
    return (
        Window.partitionBy(F.date_format(ts_col, "yyyy-MM"), *keys)
        .orderBy(ts_col)
        .rowsBetween(-(n - 1), 0)
    )


def time_sliced_rolling(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    metrics: Sequence[str],
    n: int = 3,
) -> DataFrame:
    """:func:`rolling_features` with the partition key split by a calendar
    slice (see :func:`time_sliced_window`): same three features per metric
    (trailing mean / sample std / lag-diff), ONE shuffle on (slice, keys)
    — the slice is materialized as a column so every window spec shares
    the same partitioning — and sort tasks bounded by
    rows-per-(key, slice)."""
    slice_col = "__slice__"
    out = df.withColumn(slice_col, F.date_format(ts_col, "yyyy-MM"))
    roll = (
        Window.partitionBy(slice_col, *keys)
        .orderBy(ts_col)
        .rowsBetween(-(n - 1), 0)
    )
    lag_w = Window.partitionBy(slice_col, *keys).orderBy(ts_col)
    for m in metrics:
        c = F.col(m)
        out = (
            out.withColumn(f"{m}_rmean", F.avg(c).over(roll))
            .withColumn(
                f"{m}_rstd", F.coalesce(F.stddev_samp(c).over(roll), F.lit(0.0))
            )
            .withColumn(
                f"{m}_rdiff", F.coalesce(c - F.lag(c, 1).over(lag_w), F.lit(0.0))
            )
        )
    return out.drop(slice_col)
