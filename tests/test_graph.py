"""Connected components: exact transitive closure, deterministic fixpoint."""

from __future__ import annotations

import pytest

from network_iq_spark.operators.graph import connected_components


def test_chain_transitivity_and_singletons(spark):
    """A 4-chain collapses to one cluster (the case the drop-larger-of-pair
    rule gets wrong); isolated vertices keep their own id."""
    verts = spark.createDataFrame([(i,) for i in range(1, 9)], "id bigint")
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (6, 7)], "src bigint, dst bigint"
    )
    got = {r.id: r.cluster_id for r in connected_components(verts, edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 5, 6: 6, 7: 6, 8: 8}


def test_label_is_component_min_not_edge_order(spark):
    """Edges listed high-to-low still converge to the component minimum."""
    verts = spark.createDataFrame([(i,) for i in (10, 20, 30, 40)], "id bigint")
    edges = spark.createDataFrame(
        [(40, 30), (30, 20), (20, 10)], "src bigint, dst bigint"
    )
    got = {r.id: r.cluster_id for r in connected_components(verts, edges).collect()}
    assert got == {10: 10, 20: 10, 30: 10, 40: 10}


def test_two_dense_components(spark):
    verts = spark.createDataFrame([(i,) for i in range(6)], "id bigint")
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (0, 2), (3, 4), (4, 5), (3, 5)], "src bigint, dst bigint"
    )
    got = {r.id: r.cluster_id for r in connected_components(verts, edges).collect()}
    assert got == {0: 0, 1: 0, 2: 0, 3: 3, 4: 3, 5: 3}


def test_hundred_vertex_chain_reaches_the_component_min(spark):
    """Adversarial long chain: a 101-vertex path (diameter 100) costs
    min-label propagation one round per hop, far past any dedup graph's
    diameter; with the budget raised it must still reach the exact
    closure, every vertex labeled 0."""
    n = 101
    verts = spark.createDataFrame([(i,) for i in range(n)], "id bigint")
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "src bigint, dst bigint"
    )
    got = {r.id: r.cluster_id for r in connected_components(
        verts, edges, max_iter=200
    ).collect()}
    assert got == {i: 0 for i in range(n)}


def _pagerank_py(edges, n_iters):
    """Dict-based mirror of pagerank_int's exact integer recurrence."""
    from network_iq_spark.operators.graph import PR_DAMP_DEN, PR_DAMP_NUM, PR_MASS

    nodes = {s for s, _ in edges} | {d for _, d in edges}
    deg: dict = {}
    for s, _ in edges:
        deg[s] = deg.get(s, 0) + 1
    tele = (PR_DAMP_DEN - PR_DAMP_NUM) * PR_MASS // PR_DAMP_DEN
    r = {n: PR_MASS for n in nodes}
    for _ in range(n_iters):
        inbound = {n: 0 for n in nodes}
        for s, d in edges:
            inbound[d] += r[s] // deg[s]
        r = {n: tele + PR_DAMP_NUM * inbound[n] // PR_DAMP_DEN for n in nodes}
    return r


def test_pagerank_int_matches_python_mirror_exactly(spark):
    """Bit-exact agreement with the integer recurrence on a star graph —
    the whole point of the integer formulation is that there is exactly
    one right answer, independent of engine or partitioning."""
    from network_iq_spark.operators.graph import pagerank_int

    center, leaves = 0, [1, 2, 3, 4, 5]
    edges = [(center, l) for l in leaves] + [(l, center) for l in leaves]
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    got = {r["node"]: r["r"] for r in pagerank_int(df, n_iters=4).collect()}
    want = _pagerank_py(edges, 4)
    assert got == want
    assert got[center] > got[1]  # hub outranks leaves
    assert len({got[l] for l in leaves}) == 1  # symmetric leaves tie exactly


def test_pagerank_int_regular_graph_is_fixpoint(spark):
    """On a symmetric regular graph every node keeps exactly PR_MASS: each
    node sends r/deg along deg edges and receives the same back, and
    tele + d·MASS == MASS holds exactly in the integer units chosen."""
    from network_iq_spark.operators.graph import PR_MASS, pagerank_int

    ring = [(i, (i + 1) % 6) for i in range(6)]
    edges = ring + [(d, s) for s, d in ring]
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    got = {r["node"]: r["r"] for r in pagerank_int(df, n_iters=3).collect()}
    assert got == {i: PR_MASS for i in range(6)}


def test_triangle_stats_hand_computed(spark):
    """K4 on {1,2,3,4} (4 triangles) plus a pendant edge 4-5 (no new
    triangle): per-node counts, clustering coefficients, and the global
    count are all hand-checkable."""
    from network_iq_spark.operators.graph import triangle_stats

    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5)],
        "a bigint, b bigint",
    )
    rows = triangle_stats(edges, topk=10).collect()
    got = {r.node: (r.deg, r.n_tri, r.cc_units, r.n_triangles_total) for r in rows}
    # nodes 1,2,3: deg 3, in 3 triangles each, cc = 2*3/(3*2) = 1.0
    for n in (1, 2, 3):
        assert got[n] == (3, 3, 1_000_000, 4)
    # node 4: deg 4 (pendant edge), 3 triangles, cc = 6/(4*3) = 0.5
    assert got[4] == (4, 3, 500_000, 4)
    # node 5: no triangles → absent from the census
    assert 5 not in got
    # ordering: ties on n_tri break by node id
    assert [r.node for r in rows] == [1, 2, 3, 4]


def test_long_chain_needs_many_rounds_same_fixpoint(spark):
    """Focused regression for the r14 convergence check (sum-invariant
    instead of the old-vs-new join): a 12-vertex path needs ~diameter
    rounds of min-label propagation, so every round's equal/not-equal
    decision is exercised — a convergence check that fires early returns
    a partial labeling and this asserts the exact closure instead."""
    n = 12
    verts = spark.createDataFrame([(i,) for i in range(n)], "id bigint")
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "src bigint, dst bigint"
    )
    got = {r.id: r.cluster_id for r in connected_components(verts, edges).collect()}
    assert got == {i: 0 for i in range(n)}


def test_cc_max_iter_still_raises(spark):
    """The sum-based check must preserve the non-convergence contract: a
    graph whose diameter exceeds max_iter raises instead of returning a
    partial labeling."""
    n = 9
    verts = spark.createDataFrame([(i,) for i in range(n)], "id bigint")
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "src bigint, dst bigint"
    )
    with pytest.raises(RuntimeError, match="no fixpoint"):
        connected_components(verts, edges, max_iter=2)


def test_endpoints_only_mode_matches_explicit_vertices(spark):
    """vertices=None (endpoints-only, the resolution-family shape) must
    label identically to passing the endpoint set explicitly — on a
    graph mixing a long chain (multi-round propagation), a star (the
    transform-arm shape) and a dense pair, with NO isolated vertices
    (the mode's contract)."""
    edges = spark.createDataFrame(
        [(7, 3), (3, 9), (9, 1), (20, 21), (20, 22), (20, 23), (40, 41), (41, 40)],
        "src bigint, dst bigint",
    )
    endpoints = (
        edges.selectExpr("src as id")
        .unionByName(edges.selectExpr("dst as id"))
        .distinct()
    )
    explicit = {
        r.id: r.cluster_id for r in connected_components(endpoints, edges).collect()
    }
    auto = {
        r.id: r.cluster_id for r in connected_components(None, edges).collect()
    }
    assert auto == explicit
    assert auto == {7: 1, 3: 1, 9: 1, 1: 1, 20: 20, 21: 20, 22: 20, 23: 20, 40: 40, 41: 40}
