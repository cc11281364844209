"""Bucketed interval join: the equi-join rewrite must be lossless vs the
naive non-equi containment join, and must actually plan as a hash join
(the naive shape degenerates to BroadcastNestedLoopJoin)."""

from __future__ import annotations

from pyspark.sql import functions as F

from network_iq_spark.operators import intervals as I
from network_iq_spark.sources import load_table

SF = "/root/testdata/sf0.001"


def _naive_join(facts, win):
    us = F.unix_micros(F.col("ts"))
    return facts.join(
        F.broadcast(win),
        (us >= F.col("start_us")) & (us < F.col("end_us")),
    )


def test_bucketed_equals_naive_containment(spark):
    ev = load_table(spark, SF, "events")
    win = I.span_windows(ev)
    got = sorted(
        (r.event_id, r.window_id)
        for r in I.bucketed_interval_join(ev, win)
        .select("event_id", "window_id")
        .collect()
    )
    want = sorted(
        (r.event_id, r.window_id)
        for r in _naive_join(ev, win).select("event_id", "window_id").collect()
    )
    assert got == want
    assert len(got) > 0


def test_overlapping_windows_match_multiple(spark):
    """num=2/den=10 windows overlap by half — interior events must match 2."""
    ev = load_table(spark, SF, "events")
    win = I.span_windows(ev)
    per_event = (
        I.bucketed_interval_join(ev, win)
        .groupBy("event_id")
        .agg(F.count("*").alias("n"))
    )
    assert per_event.filter(F.col("n") == 2).count() > 0
    assert per_event.filter(F.col("n") > 2).count() == 0


def test_bucketed_join_is_hash_join(spark):
    """The rewrite's purpose: an equi key the planner can hash on. The naive
    predicate-only join is the nested-loop anti-pattern."""
    ev = load_table(spark, SF, "events")
    win = I.span_windows(ev)
    plan = (
        I.bucketed_interval_join(ev, win)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    naive_plan = (
        _naive_join(ev, win)._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastNestedLoopJoin" in naive_plan


def test_half_open_boundaries(spark):
    """An event exactly at end_us is excluded; exactly at start_us included."""
    ev = load_table(spark, SF, "events")
    first = ev.orderBy("ts", "event_id").limit(1)
    lo = F.unix_micros(F.col("ts"))
    win = first.select(
        F.lit(0).cast("bigint").alias("window_id"),
        lo.alias("start_us"),
        (lo + 1).alias("end_us"),
    )
    hits = I.bucketed_interval_join(ev, win).select("event_id").collect()
    assert len(hits) == 1
    empty = first.select(
        F.lit(0).cast("bigint").alias("window_id"),
        lo.alias("start_us"),
        lo.alias("end_us"),
    )
    assert I.bucketed_interval_join(ev, empty).count() == 0
