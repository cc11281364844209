"""Interval (range) joins — non-equi containment without a cross product.

The reference has no interval join (its panels align on exact hour keys,
streamlit_app.py:300-360); large-scale telemetry constantly needs one:
"which maintenance window / incident / promo covers this event?". Spark's
optimizer turns a bare ``ts BETWEEN start AND end`` join with no equi key
into BroadcastNestedLoopJoin — O(|facts|·|intervals|) comparisons — so the
scale path here is **bucketing**: quantize time into fixed-width buckets,
explode each interval to the buckets it covers, equi-join facts on bucket,
then apply the exact containment predicate. The bucket key turns the
non-equi join into a shuffle-free (broadcast) or hash (shuffle) equi-join;
each fact carries exactly ONE bucket so a fact×interval match is produced
at most once — no distinct pass needed.

Bucket width is the knob: ~the median interval length keeps the per-interval
explode factor O(1-2) while the per-bucket fanout stays bounded by interval
overlap, independent of corpus size.

Intervals are integer epoch-microseconds, half-open ``[start_us, end_us)``
— integer bucket arithmetic is exact on every engine; float time math is
not (the same contract as the loader's nanos→micros integer division,
sources/tables.py:38-47).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

US_PER_HOUR = 3_600_000_000
US_PER_DAY = 24 * US_PER_HOUR


def bucketed_interval_join(facts: DataFrame, intervals: DataFrame) -> DataFrame:
    """Join each fact row to every interval containing its timestamp.

    ``facts`` keeps all its columns plus the interval's; ``intervals`` must
    carry integer-microsecond ``start_us``/``end_us`` (half-open). The
    intervals are broadcast (the common case: intervals ≪ facts), so the
    join is map-side — zero shuffle of the fact table.
    """
    g = US_PER_DAY
    iv = intervals.withColumn(
        "__bucket__",
        F.explode(
            F.sequence(
                F.expr(f"start_us div {g}"),
                F.expr(f"(end_us - 1) div {g}"),
            )
        ),
    )
    fx = facts.withColumn("__us__", F.unix_micros(F.col("ts"))).withColumn(
        "__bucket__", F.expr(f"__us__ div {g}")
    )
    return (
        fx.join(F.broadcast(iv), "__bucket__")
        .filter(
            (F.col("__us__") >= F.col("start_us")) & (F.col("__us__") < F.col("end_us"))
        )
        .drop("__bucket__", "__us__")
    )


def span_windows(facts: DataFrame) -> DataFrame:
    """Derive 8 overlapping intervals covering the fact table's time span:
    window *i* = ``[lo + i·span/10, lo + (i+2)·span/10)`` in integer
    microseconds (span = hi−lo+1, so the last window's end strictly covers
    hi). The two-tenths width against a one-tenth step makes the interval
    join genuinely 1-to-many.

    The min/max pass is one partial-aggregated scan; the window table itself
    is 8 rows — a broadcast dimension derived entirely in-plan (no collect).
    """
    b = facts.agg(
        F.min(F.unix_micros(F.col("ts"))).alias("lo"),
        F.max(F.unix_micros(F.col("ts"))).alias("hi"),
    )
    return (
        b.select(
            F.explode(F.sequence(F.lit(0), F.lit(7))).alias("__wi__"),
            "lo",
            "hi",
        )
        .select(F.col("__wi__").cast("bigint").alias("window_id"), "lo", "hi")
        .select(
            "window_id",
            F.expr("lo + (window_id * (hi - lo + 1)) div 10").alias("start_us"),
            F.expr("lo + ((window_id + 2) * (hi - lo + 1)) div 10").alias("end_us"),
        )
    )
