#!/usr/bin/env python
"""1x/3x/10x soak for the cross-axis duplicate-RESOLUTION tail
(queries/media.py _resolution_from_edges — r14, VERDICT item 2): edge
union -> min-label connected components over duplicate-involved
vertices -> per-cluster (keep_id, n_members, n_axes, n_dropped) rows.

The per-modality resolution queries compose registered arm tiers (each
already soaked: transform_soak / trim_soak / crop_soak) with this one
shared tail, so the tail's scaling is the only new claim to measure:
its input is the PAIR set (duplicate density x corpus, never the
corpus), and its cost is the CC fixpoint (rounds = component diameter)
plus two bounded rollups.

Corpus shape: 2 % of originals carry derivatives, cycling 1/2/3 axes
so clusters of every shape appear; every third 3-axis cluster also
gets a DERIVATIVE-OF-DERIVATIVE chain edge (a re-encode of a re-encode
— diameter 3, the closure case the pairwise arms never emit directly).
Each scale asserts the EXACT expected resolution rows (membership,
axis count, min-label keeper), not just counts.

Run: python scripts/ab.py resolution_from_edges
"""

from __future__ import annotations

from ab import Cell
from network_iq_spark.queries.media import _resolution_from_edges

BASE = 40_000  # edges are the input grain, so the soak scales pair volume
TWIN_EVERY = 50  # 2% planted duplicate families
OFFS = {"crop": 10_000_000, "resample": 20_000_000, "trim": 30_000_000}
CHAIN_OFF = 40_000_000


def edge_rows(mult: int):
    """(src, dst, axis) edges + the exact expected resolution rows."""
    edges, expect = [], {}
    for i in range(BASE * mult):
        if i % TWIN_EVERY:
            continue
        fam = (i // TWIN_EVERY) % 3  # 0: 1 axis, 1: 2 axes, 2: 3 axes
        axes = list(OFFS)[: fam + 1]
        members = 1
        for ax in axes:
            edges.append((i, i + OFFS[ax], ax))
            members += 1
        if fam == 2 and (i // TWIN_EVERY) % 9 == 2:
            # chain: a trim of the crop derivative — closure must pull
            # it into the original's cluster (diameter 3)
            edges.append((i + OFFS["crop"], i + CHAIN_OFF, "trim"))
            members += 1
        n_axes = len(axes) if fam < 2 else 3
        expect[i] = (members, n_axes, members - 1)
    return edges, expect


def _prepare(spark, mult):
    edges, expect = edge_rows(mult)
    return spark.createDataFrame(edges, "src bigint, dst bigint, axis string"), expect


def _check(data, rows):
    expect = data[1]
    got = {r.keep_id: (r.n_members, r.n_axes, r.n_dropped) for r in rows}
    diff = {k: (got.get(k), expect.get(k)) for k in set(got) ^ set(expect)}
    assert got == expect, (
        f"{len(got)} clusters vs {len(expect)} expected; first diffs: "
        f"{dict(list(diff.items())[:3])}"
    )
    return "exact clusters"


CELLS = [
    Cell(
        "resolution_from_edges",
        (1, 3, 10),
        _prepare,
        {
            "2 % planted families, 1-3 axes + chains": lambda spark, d: (
                _resolution_from_edges(d[0])
            )
        },
        _check,
    )
]
