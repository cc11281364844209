"""Connected components — transitive closure for dedup clustering.

The dedup family emits PAIRS (MinHash/SimHash/embedding near-dups); keeping
one representative per duplicate *cluster* needs the transitive closure:
a~b and b~c put a,c in one cluster even if (a,c) never collided. The
pipeline's cheap rule (drop the larger id of each pair) over-keeps exactly
when chains are longer than one hop; this operator is the exact version.

Min-label propagation: every vertex starts labeled with itself; each round,
every vertex takes the min label among itself and its neighbors; fixpoint =
every vertex labeled with its component's minimum id. The fixpoint is
ORDER-INDEPENDENT (min is idempotent/commutative/associative), so the
result is deterministic regardless of execution schedule — which is what
lets a DuckDB recursive CTE serve as the oracle.

Iterative-by-nature: rounds = component diameter, each round one join + one
min-aggregate (both shuffles on the vertex key — at scale, pre-partition
both sides on it once). The driver loop holds NO data — only the converged?
boolean crosses to Python; per-round ``localCheckpoint`` truncates lineage
so round N's plan doesn't replay rounds 1..N-1 (the standard Spark
iterative-algorithm idiom — GraphX Pregel does the same internally).
Dedup graphs are near-dup clusters: diameter is small (2-5), so expect
single-digit rounds. A long chain costs one round per hop; ``max_iter``
bounds the loop. The large-star/small-star alternative (Kiveris et al.,
SoCC'14) halves the diameter per round but pays more jobs per round: on
the image, audio and video transform edge graphs at sf0.01 it ran 32
jobs per graph against min-label's 10 (including the collect), took
about twice the wall time and gave the same clusters, so it was removed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(
    vertices: DataFrame | None,
    edges: DataFrame,
    id_col: str = "id",
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
) -> DataFrame:
    """(id → cluster_id) where cluster_id = min vertex id of the component.

    ``vertices``: one row per vertex (isolated vertices become singleton
    clusters), or ``None`` for ENDPOINTS-ONLY mode: the vertex set is
    exactly the edge endpoints.

    .. warning:: ``None`` SILENTLY DROPS ISOLATED VERTICES — a vertex
       that appears in no edge produces no output row. Pass ``None``
       ONLY when the true vertex set IS the endpoint set; whenever
       isolated vertices must surface as singleton clusters (every
       corpus-wide dedup caller), pass the explicit frame. There is no
       runtime guard — the operator cannot see vertices it was never
       given — so this contract lives here and in the call sites.

    Callers whose vertex frame is itself derived from the edges
    (union + distinct — the resolution-family tails) should pass
    ``None``: the seed's neighbor-min aggregate already keys on every
    endpoint (``sym`` is symmetrized, so every endpoint appears as
    ``u``), making the caller's distinct exchange and the seed's left
    join pure redundancy (guide §2.4 — remove shuffles outright).
    Identical labeling whenever the explicit frame equals the endpoint
    set. ``edges``: undirected pairs. Raises after ``max_iter``
    non-converged rounds rather than returning a partial labeling.
    """
    # materialize the symmetrized edges ONCE — edges is often an expensive
    # pipeline (e.g. the MinHash cascade) and every round joins against it;
    # without this the lineage re-executes that pipeline per round. LAZY
    # checkpoint (r15): the seed-state aggregate below is the first action
    # to touch sym, so its job materializes the checkpoint — one
    # driver-blocking job instead of two before the loop starts; rounds
    # still read the checkpointed blocks exactly as with eager=True
    sym = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .unionByName(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .localCheckpoint(eager=False)
    )
    # Seed labels with round 1 ALREADY APPLIED: label(u) = min(u, min
    # neighbor id). With identity labels, the loop's first iteration
    # computes exactly this (msgs = sym with the neighbor's own id as
    # its label) and then pays a full convergence check on a labeling
    # that is never converged for any non-singleton component — one
    # whole round (join + union + agg + checkpoint + count action) of
    # pure warm-up. Seeding from one agg over sym skips it; dedup
    # graphs are shallow stars (pair tiers emit original→derivative
    # edges), so this typically HALVES the round count (2 → 1). The
    # fixpoint is unchanged — min-label propagation is monotone and
    # order-independent, so starting one step further down the lattice
    # cannot change the result (guide §2.4: remove work the loop
    # re-derives).
    nbr_min = sym.groupBy("u").agg(F.min("v").alias("__nv__"))
    if vertices is None:
        # endpoints-only: nbr_min's key set IS the vertex set (sym is
        # symmetrized), so seed directly — no distinct, no join, and
        # every __nv__ is non-null by construction
        labels = nbr_min.select(
            "u", F.least(F.col("u"), F.col("__nv__")).alias("label")
        ).localCheckpoint(eager=False)
    else:
        labels = (
            vertices.select(F.col(id_col).alias("u"))
            .join(nbr_min, "u", "left")
            .select(
                "u",
                F.least(
                    F.col("u"), F.coalesce(F.col("__nv__"), F.col("u"))
                ).alias("label"),
            )
            .localCheckpoint(eager=False)
        )

    # Convergence via the MONOTONE INVARIANT instead of an old-vs-new join
    # (r14, guide §2.4 remove shuffles outright / §1.2 fewer passes): each
    # round takes a per-vertex min with the previous round's label, so
    # new_label(u) <= old_label(u) elementwise and the key set can only
    # grow; therefore (sum(label), count) is strictly decreasing-or-growing
    # until the fixpoint, and equality of the pair IS elementwise equality.
    # That turns the per-round convergence check from a join + count action
    # (one extra shuffle + scan of BOTH label frames) into a single-stage
    # scan-aggregate of the new frame alone — and because the new frame is
    # marked localCheckpoint(eager=False), the aggregate's own job is what
    # materializes the checkpoint: ONE driver-blocking action per round
    # where the old loop paid two (checkpoint materialize + convergence
    # count). DECIMAL(38,0) keeps the sum exact far past any realistic
    # vertex-id x vertex-count product (1e12 ids on 1e12 vertices = 1e24,
    # 14 orders under the 38-digit ceiling), so the equality test never
    # aliases through overflow.
    def _state(df: DataFrame) -> tuple:
        row = df.agg(
            F.sum(F.col("label").cast("decimal(38,0)")).alias("s"),
            F.count(F.lit(1)).alias("n"),
        ).collect()[0]  # one bounded row: the driver never sees the labels
        return (row["s"], row["n"])

    prev = _state(labels)
    for _ in range(max_iter):
        msgs = sym.join(labels, "u").select(F.col("v").alias("u"), "label")
        new_labels = (
            labels.unionByName(msgs)
            .groupBy("u")
            .agg(F.min("label").alias("label"))
            .localCheckpoint(eager=False)
        )
        cur = _state(new_labels)
        labels = new_labels
        if cur == prev:
            return labels.select(
                F.col("u").alias(id_col), F.col("label").alias("cluster_id")
            )
        prev = cur
    raise RuntimeError(f"connected_components: no fixpoint in {max_iter} rounds")


# ---------------------------------------------------------------------------
# Integer PageRank — deterministic iterative ranking
# ---------------------------------------------------------------------------

PR_MASS = 1_000_000  # initial rank per node, in integer micro-units
PR_DAMP_NUM, PR_DAMP_DEN = 85, 100  # d = 0.85
PR_ITERS = 5


def pagerank_int(edges: DataFrame, n_iters: int = PR_ITERS) -> DataFrame:
    """PageRank with EXACT INTEGER arithmetic — the iterative-algorithm
    tier's ranking operator (CC gives components; this ranks within the
    graph: supplier authority, domain centrality for crawl curation, …).

    Classic float PageRank is summation-order-dependent (per-node inbound
    sums change with partitioning), so it can never be bit-reproducible or
    SQL-oracle-checked. This variant keeps every quantity an int64:
    each node starts with ``PR_MASS`` micro-units; an iteration sends
    ``r // out_deg`` along every edge (integer division) and re-ranks as
    ``(1-d)·MASS + d · Σ inbound`` with d applied as ``(85·Σ)//100``.
    Integer sums are order-independent ⇒ the result is partition-invariant
    and replays exactly in an unrolled SQL CTE chain. The floor drift vs
    float PageRank is ≤ deg·1 micro-unit per node per iteration — ranking
    order is preserved for any separation > ~1e-5 of mass.

    Input ``edges``: DIRECTED (src, dst) pairs, pre-deduplicated. Nodes =
    every id appearing as src or dst; a node with no outbound edges keeps
    its mass out of circulation (standard dangling simplification — pass a
    symmetrized edge set when dangling redistribution matters).

    Scale shape: the adjacency list (src, dsts[], deg) is checkpointed
    once; per iteration one NODE-grained join grouped⋈ranks, a map-side
    explode of the fanout, and one partially-aggregated groupBy dst —
    the only edge-volume shuffle per round carries pre-combined (dst,
    partial-sum) rows. Lineage is truncated per round with
    ``localCheckpoint`` (same idiom as connected components); only the
    loop counter lives in Python. A node whose dsts array exceeds task
    memory (celebrity in-degree is fine; this is OUT-degree) would need
    the salted two-level variant — out-degree in the registered callers
    is bounded by catalog cardinality.
    """
    # Adjacency-list layout: group the caller's edge pipeline by src ONCE
    # into (src, dsts[], deg) and checkpoint THAT — one materialization of
    # |nodes-with-outbound| rows instead of the previous two edge-grained
    # ones (an edge-row checkpoint plus an edges⋈deg join checkpoint).
    # Each iteration then joins ranks against the GROUPED rows (node-grained
    # — tiny shuffle), computes the per-src contribution once, and explodes
    # dsts map-side, so the per-edge fanout never crosses an exchange as
    # join input; the groupBy(dst) partial-aggregates it before the only
    # edge-volume shuffle (guide §2.3 aggregate-before-you-shuffle, §2.3
    # shuffle-keys-not-payloads). Measured 5.3s → 3.6s on the supplier
    # graph (1.17M edges), output exactly equal (integer sums are
    # order-independent; duplicate (src,dst) edges each contribute, same
    # as the join formulation).
    grouped = (
        edges.select("src", "dst")
        .groupBy("src")
        .agg(F.collect_list("dst").alias("dsts"))
        .select("src", "dsts", F.size("dsts").cast("bigint").alias("deg"))
        .localCheckpoint()
    )
    nodes = (
        grouped.select(F.col("src").alias("node"))
        .unionByName(grouped.select(F.explode("dsts").alias("node")))
        .distinct()
        .localCheckpoint()
    )

    ranks = nodes.select("node", F.lit(PR_MASS).cast("bigint").alias("r"))
    teleport = (PR_DAMP_DEN - PR_DAMP_NUM) * PR_MASS // PR_DAMP_DEN  # (1-d)·MASS
    for _ in range(n_iters):
        contrib = (
            grouped.join(ranks, grouped.src == ranks.node)
            .select(F.explode("dsts").alias("dst"), F.expr("div(r, deg)").alias("c"))
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
            # lazy: truncates lineage identically but lets the final action
            # drive all iterations instead of one eager job per round
            # (fixed iteration count — nothing driver-side inspects ranks
            # mid-loop, unlike the CC convergence check which stays eager)
            .localCheckpoint(eager=False)
        )
    return ranks


def triangle_stats(edges: DataFrame, topk: int = 20) -> DataFrame:
    """Distributed triangle counting by DEGREE ORIENTATION (the
    Cohen/Suri-Vassilvitskii MapReduce classic): orient every undirected
    edge from its (degree, id)-smaller endpoint to the larger, build
    wedges only from each node's OUT-edges, and close them against the
    oriented edge set. Orientation is the whole 100 TB story: out-degree
    is bounded by O(√m) on any graph, so the wedge join fans out
    m^(3/2) worst-case instead of Σ deg² — the hot-celebrity node whose
    deg² wedge set would melt a reducer has tiny OUT-degree because
    nearly all its edges point INTO it. Each triangle is generated
    exactly once (at its ≺-smallest vertex, with v ≺ w ordering the pair).

    Input: distinct undirected edges (a < b). Output: top-k nodes by
    triangle participation with degree and local clustering coefficient
    in integer micro-units ((10⁶·2·tri) div (deg·(deg−1)) — exact integer
    division, engine-proof), plus the global triangle count on every row
    (scalar broadcast).
    """
    # the caller's edge pipeline (typically a fact self-join + support
    # filter) feeds THREE scans here — both degree union arms and the
    # orientation join — and nothing below guarantees exchange reuse
    # across them; materialize it once (measured 4.8s → 3.6s on the
    # co-purchase census, the connected_components idiom)
    und = edges.select("a", "b").localCheckpoint()
    deg = (
        und.select(F.col("a").alias("node"))
        .unionByName(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    e = (
        und.join(deg.select(F.col("node").alias("a"), F.col("deg").alias("da")), "a")
        .join(deg.select(F.col("node").alias("b"), F.col("deg").alias("db")), "b")
    )
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    oriented = e.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("dst"),
        F.when(a_first, F.col("db")).otherwise(F.col("da")).alias("deg_dst"),
    )
    oriented = oriented.localCheckpoint(eager=False)  # 3 consumers
    o1 = oriented.select(
        F.col("src").alias("u"), F.col("dst").alias("v"), F.col("deg_dst").alias("dv")
    )
    o2 = oriented.select(
        F.col("src").alias("u"), F.col("dst").alias("w"), F.col("deg_dst").alias("dw")
    )
    v_first = (F.col("dv") < F.col("dw")) | (
        (F.col("dv") == F.col("dw")) & (F.col("v") < F.col("w"))
    )
    wedges = o1.join(o2, "u").filter(v_first)
    tri = wedges.join(
        oriented.select(F.col("src").alias("v"), F.col("dst").alias("w")),
        ["v", "w"],
    ).select("u", "v", "w")
    tri = tri.localCheckpoint(eager=False)  # feeds per-node counts + total
    total = tri.agg(F.count("*").alias("n_triangles_total"))
    per_node = (
        tri.select(F.explode(F.array("u", "v", "w")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").alias("n_tri"))
        .join(deg, "node")
        .crossJoin(F.broadcast(total))
        .select(
            "node",
            "deg",
            "n_tri",
            F.expr(
                "cast((1000000 * 2 * n_tri) div (deg * (deg - 1)) as bigint)"
            ).alias("cc_units"),
            "n_triangles_total",
        )
    )
    return per_node.orderBy(F.desc("n_tri"), "node").limit(topk)
