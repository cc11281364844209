#!/usr/bin/env python
"""Scale A/B for the parts_bought_together pair stage (r15).

r15 tried moving parts_bought_together from the distinct + self-join
pair generation to the r14 triangle-census per-order collect_set
comprehension; that form never landed in star.py and is kept only here, as
the A/B's second arm. At bench SF the solo readings are join 1.71s
vs collect_set 2.06s — but the join form rides a BROADCAST of the whole
distinct (order, part) table (committed before-plan: 2 BroadcastHashJoin,
8 Exchange), which cannot exist at 100 TB. This script measures the scale
shape the local reading hides: replicate the REAL sf0.1 lineitem m times
with remapped order keys (same basket-size distribution, m x orders) and
run both full-query forms as the two arms of one cell: the driver
asserts the identical top-25 first, then times them interleaved (GC
between) and prints the log-log growth slope per form — the
capped_tier_ab.py / pagerank_scale_ab.py discipline.

Run:  python scripts/ab.py basket_pair_stage
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ab import Cell
from network_iq_spark.queries.media import _CANON_TESTDATA_ROOT

SF_DIR = os.path.join(_CANON_TESTDATA_ROOT, "sf0.1")


def _scaled_lineitem(spark, mult: int) -> DataFrame:
    """m copies of the real lineitem with disjoint order-key ranges:
    basket-size distribution preserved, m x orders — the pair multiset
    scales m x (each copy contributes its own orders' pairs)."""
    li = spark.read.parquet(os.path.join(SF_DIR, "lineitem.parquet")).select(
        "l_orderkey", "l_partkey"
    )
    copies = [
        li.select(
            (F.col("l_orderkey") * mult + F.lit(i)).alias("l_orderkey"),
            "l_partkey",
        )
        for i in range(mult)
    ]
    out = copies[0]
    for c in copies[1:]:
        out = out.unionByName(c)
    return out


def _join_form(l: DataFrame) -> DataFrame:
    """The pre-r15 parts_bought_together verbatim (distinct + self-join)."""
    li = l.select("l_orderkey", "l_partkey").distinct()
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("part_a"))
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("part_b"))
    return (
        a.join(b, "ok")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count("*").alias("n_orders"))
        .orderBy(F.desc("n_orders"), "part_a", "part_b")
        .limit(25)
    )


def _collect_form(l: DataFrame) -> DataFrame:
    """The tried-and-reverted r15 per-order collect_set comprehension
    (never in star.py; this is its only copy)."""
    pairs = (
        l.groupBy("l_orderkey")
        .agg(F.collect_set("l_partkey").alias("ps"))
        .select(F.array_sort("ps").alias("ps"))
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(ps, (x, i) -> "
                    "transform(slice(ps, i + 2, size(ps) - i - 1), "
                    "y -> struct(x as a, y as b))))"
                )
            ).alias("p")
        )
        .select("p.a", "p.b")
    )
    return (
        pairs.select(F.col("a").alias("part_a"), F.col("b").alias("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count("*").alias("n_orders"))
        .orderBy(F.desc("n_orders"), "part_a", "part_b")
        .limit(25)
    )


CELLS = [
    Cell(
        "basket_pair_stage",
        (1, 3, 10),
        _scaled_lineitem,
        {
            "join": lambda spark, l: _join_form(l),
            "collect": lambda spark, l: _collect_form(l),
        },
    )
]
