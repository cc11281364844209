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
with remapped order keys (same basket-size distribution, m x orders), run
both full-query forms INTERLEAVED (min of N alternating pairs, GC
between), assert identical top-25 first, and print the (m, seconds) table
plus the log-log growth slope per form — the capped_tier_ab.py /
pagerank_scale_ab.py discipline.

Run:  python scripts/basket_pairs_ab.py            # 1x 3x 10x
      AB_MULTS=1,3 AB_RUNS=3 python scripts/basket_pairs_ab.py
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


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


def main() -> None:
    from network_iq_spark.session import get_spark

    mults = [int(x) for x in os.environ.get("AB_MULTS", "1,3,10").split(",")]
    runs = int(os.environ.get("AB_RUNS", "3"))
    spark = get_spark(app_name="basket-pairs-ab")
    spark.sparkContext.setLogLevel("ERROR")

    def timed(df) -> float:
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    results: dict[str, dict[int, float]] = {"join": {}, "collect": {}}
    for mult in mults:
        l = _scaled_lineitem(spark, mult)

        rows_j = [tuple(r) for r in _join_form(l).collect()]
        rows_c = [tuple(r) for r in _collect_form(l).collect()]
        assert rows_j == rows_c, f"x{mult}: top-25 differ"

        best = {"join": float("inf"), "collect": float("inf")}
        for i in range(runs):
            order = ["join", "collect"] if i % 2 == 0 else ["collect", "join"]
            for form in order:
                fn = _join_form if form == "join" else _collect_form
                spark._jvm.System.gc()
                best[form] = min(best[form], timed(fn(l)))
        for form in ("join", "collect"):
            results[form][mult] = best[form]
        print(
            f"x{mult}: join={best['join']:.2f}s collect={best['collect']:.2f}s"
            "  (equal top-25: yes)",
            flush=True,
        )

    print("\n| form | " + " | ".join(f"{m}x" for m in mults) + " | slope |")
    for form in ("join", "collect"):
        ts = [results[form][m] for m in mults]
        if len(mults) >= 2:
            xs = [math.log(m) for m in mults]
            ys = [math.log(t) for t in ts]
            n = len(xs)
            sx, sy = sum(xs), sum(ys)
            sxx = sum(x * x for x in xs)
            sxy = sum(x * y for x, y in zip(xs, ys))
            slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
        else:
            slope = float("nan")
        print(
            "| " + form + " | "
            + " | ".join(f"{t:.2f}s" for t in ts)
            + f" | {slope:.2f} |"
        )


if __name__ == "__main__":
    main()
