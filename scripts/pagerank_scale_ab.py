#!/usr/bin/env python
"""Scale A/B for pagerank_int's adjacency-list rewrite (r15, VERDICT item 9).

The r14 rewrite replaced the per-iteration edge-grained join
(edges⋈deg materialized once, then graph⋈ranks each round — the edge
table crosses the join exchange every iteration) with an adjacency-list
layout: (src, dsts[], deg) checkpointed once, per-round NODE-grained
join + map-side explode + partial-agg before the only edge-volume
shuffle. The claim is shuffle-volume scaling, so prove it where it was
sold: the scale_soak hub-heavy graph (edge count ∝ N) at 1x/3x/10x the
sf0.1 document count, both forms as the two arms of one cell — the
driver's exact-equality check at each size (integer sums are
order-independent — the two forms must agree bit-for-bit), then
interleaved timing and the growth slope per form. A second cell sweeps
the REAL registered caller's graph (the symmetrized customer↔supplier
trade graph) over the sf0.001 / sf0.01 / sf0.1 testdata. Both run
PR_ITERS iterations, and each arm's timing covers construction AND
execution: both forms do real work in eager localCheckpoints during
construction (the adjacency grouping / the edge+deg materializations),
so timing only the final action would exclude exactly the stage the
forms differ in.

Run:  python scripts/ab.py pagerank_hub_graph pagerank_supplier_graph
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ab import Cell
from network_iq_spark.operators.graph import (
    PR_DAMP_DEN,
    PR_DAMP_NUM,
    PR_ITERS,
    PR_MASS,
    pagerank_int,
)
from network_iq_spark.queries.media import _CANON_TESTDATA_ROOT
from scale_soak import build_corpus, hub_edges


def pagerank_int_joinform(
    edges: DataFrame, n_iters: int = PR_ITERS, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """The pre-r14 pagerank_int verbatim (7bd162c~1): edge-grained
    edges⋈deg checkpoint, per-iteration graph⋈ranks join on src."""
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).localCheckpoint()
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    deg = e.groupBy("src").agg(F.count("*").alias("deg"))
    graph = e.join(deg, "src").localCheckpoint()
    nodes = nodes.localCheckpoint()

    ranks = nodes.select("node", F.lit(PR_MASS).cast("bigint").alias("r"))
    teleport = (PR_DAMP_DEN - PR_DAMP_NUM) * PR_MASS // PR_DAMP_DEN
    for _ in range(n_iters):
        contrib = (
            graph.join(ranks, graph.src == ranks.node)
            .select("dst", F.expr("div(r, deg)").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("inbound"))
        )
        ranks = (
            nodes.join(contrib, nodes.node == contrib.dst, "left")
            .select(
                "node",
                (
                    F.lit(teleport)
                    + F.expr(
                        f"div({PR_DAMP_NUM} * coalesce(inbound, 0), {PR_DAMP_DEN})"
                    )
                ).cast("bigint").alias("r"),
            )
            .localCheckpoint(eager=False)
        )
    return ranks


def _supplier_edges(spark, d: str) -> DataFrame:
    """The registered supplier_pagerank edge pipeline verbatim
    (queries/extras.py): symmetrized customer↔supplier trade graph."""
    from network_iq_spark.sources import load_table

    o = load_table(spark, d, "orders")
    l = load_table(spark, d, "lineitem")
    e0 = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        )
        .distinct()
    )
    return e0.select(
        F.explode(
            F.array(
                F.struct(F.col("src"), F.col("dst")),
                F.struct(F.col("dst").alias("src"), F.col("src").alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")


ARMS = {
    "adjacency": lambda spark, edges: pagerank_int(edges),
    "join": lambda spark, edges: pagerank_int_joinform(edges),
}

CELLS = [
    Cell(
        "pagerank_hub_graph",
        (1, 3, 10),
        lambda spark, m: hub_edges(spark, build_corpus(m)),
        ARMS,
    ),
    Cell(
        "pagerank_supplier_graph",
        (0.001, 0.01, 0.1),
        lambda spark, sf: _supplier_edges(
            spark, os.path.join(_CANON_TESTDATA_ROOT, f"sf{sf:g}")
        ),
        ARMS,
    ),
]
