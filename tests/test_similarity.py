"""Similarity-search tiers: the LSH ANN path must be a true subset
approximation of the exact baseline with usable recall."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from network_iq_spark.operators import similarity as S
from network_iq_spark.sources import load_table

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def vecs(spark):
    emb = load_table(spark, SF, "embeddings")
    v = S.with_norm(emb.select("vec_id", S.as_double_vec("embedding").alias("v")))
    v.persist().count()
    yield v
    v.unpersist()


def test_lsh_results_subset_of_bucketmates_and_scored_exactly(spark, vecs):
    queries = vecs.select("vec_id").filter(F.col("vec_id") < 10)
    ann = S.cosine_topk_lsh(vecs.drop("norm"), queries, dim=64, k=10)
    exact = S.cosine_topk_bruteforce(
        vecs.filter(F.col("vec_id") < 10), vecs, k=500
    )
    exact_cos = {(r.q_vec_id, r.n_vec_id): r.cos for r in exact.collect()}
    ann_rows = ann.collect()
    assert len(ann_rows) > 0
    # every ANN cosine must equal the exact cosine for that pair
    for r in ann_rows:
        assert r.cos == pytest.approx(exact_cos[(r.q_vec_id, r.n_vec_id)], rel=1e-12)


def test_lsh_recall_at_10(spark, vecs):
    """Recall@10 of the multi-table config — recorded so a future
    tuning change that silently destroys recall fails loudly."""
    queries = vecs.select("vec_id").filter(F.col("vec_id") < 10)
    ann = S.cosine_topk_lsh(vecs.drop("norm"), queries, dim=64, k=10)
    exact = S.cosine_topk_bruteforce(vecs.filter(F.col("vec_id") < 10), vecs, k=10)
    truth: dict[int, set] = {}
    for r in exact.collect():
        truth.setdefault(r.q_vec_id, set()).add(r.n_vec_id)
    got: dict[int, set] = {}
    for r in ann.collect():
        got.setdefault(r.q_vec_id, set()).add(r.n_vec_id)
    recalls = [
        len(truth[q] & got.get(q, set())) / len(truth[q]) for q in truth
    ]
    recall = sum(recalls) / len(recalls)
    # 16 tables x 4 planes on 64-dim near-orthogonal random vectors
    # measured 0.86 at defaults; alert well below that
    assert recall >= 0.6, f"recall collapsed: {recall:.2f}"


def test_near_dup_pairs_precision_and_recall(spark, vecs):
    """Embedding near-dup: every emitted pair must be a TRUE pair (exact
    cosine >= tau — precision 1.0 by construction since verify is exact),
    and candidate recall vs the brute-force truth is recorded."""
    emb = vecs.select("vec_id", F.col("v").alias("embedding"))
    tau = 0.30
    got = S.near_dup_pairs(emb, dim=64, threshold=tau).collect()
    # brute-force truth
    a = vecs.select(
        F.col("vec_id").alias("id_a"), F.col("v").alias("av"), F.col("norm").alias("an")
    )
    b = vecs.select(
        F.col("vec_id").alias("id_b"), F.col("v").alias("bv"), F.col("norm").alias("bn")
    )
    truth = {
        (r.id_a, r.id_b): r.cos
        for r in a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            (S._dot("av", "bv") / (F.col("an") * F.col("bn"))).alias("cos"),
        )
        .filter(F.col("cos") >= tau)
        .collect()
    }
    assert len(got) > 0
    for r in got:  # precision 1.0: every pair is in the exact truth set
        assert (r.id_a, r.id_b) in truth
        assert r.cos == pytest.approx(truth[(r.id_a, r.id_b)], rel=1e-12)
    recall = len(got) / len(truth)
    # at tau=0.30 (mid-similarity, far below near-dup territory) hyperplane
    # LSH recall is LOW by design: per-table collision (1-theta/pi)^8 with
    # theta~72.5deg gives ~1.6%/table, ~6% over 4 tables — measured 0.063
    # here, matching theory. The config discriminates near-identical pairs
    # (see the planted-pairs test below); record the floor so a config
    # change that degrades it further fails loudly.
    assert recall >= 0.04, f"candidate recall below theory: {recall:.3f}"


def test_near_dup_pairs_recall_on_planted_dups(spark):
    """The operating point that matters: PLANTED near-duplicates
    (cos >= 0.98). Per-table collision (1-theta/pi)^8 at theta~11deg is
    ~0.6, so 4 tables give ~0.97+ recall."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(7)
    base = rng.normal(size=(40, 64))
    noise = rng.normal(size=(40, 64)) * 0.05
    dup = base + noise  # cos ~ 0.9985
    vecs = np.vstack([base, dup])
    pdf = pd.DataFrame(
        {
            "vec_id": np.arange(80, dtype=np.int64),
            "embedding": [row.astype(np.float64).tolist() for row in vecs],
        }
    )
    emb = spark.createDataFrame(pdf)
    got = {
        (r.id_a, r.id_b)
        for r in S.near_dup_pairs(emb, dim=64, threshold=0.95).collect()
    }
    planted = {(i, i + 40) for i in range(40)}
    # exact-verify stage guarantees precision; measure candidate recall
    found = len(got & planted)
    assert found / len(planted) >= 0.9, f"planted recall {found}/40"


def test_near_dup_pairs_deterministic(spark, vecs):
    emb = vecs.select("vec_id", F.col("v").alias("embedding"))
    r1 = sorted((r.id_a, r.id_b, r.cos) for r in S.near_dup_pairs(emb, 64, 0.30).collect())
    r2 = sorted((r.id_a, r.id_b, r.cos) for r in S.near_dup_pairs(emb, 64, 0.30).collect())
    assert r1 == r2


# ---------------------------------------------------------------------------
# IVF ANN
# ---------------------------------------------------------------------------


def test_ivf_full_probe_equals_bruteforce(spark, vecs):
    """nprobe == n_cells probes every cell, so the IVF path must reproduce
    the exact brute-force top-k bit-for-bit — the recall dial's endpoint."""
    queries = vecs.select("vec_id").filter(F.col("vec_id") < 10)
    ivf = S.cosine_topk_ivf(
        vecs.drop("norm"), queries, n_cells=8, nprobe=8, k=10
    )
    exact = S.cosine_topk_bruteforce(
        vecs.filter(F.col("vec_id") < 10), vecs, k=10
    )
    assert sorted(map(tuple, ivf.collect())) == sorted(map(tuple, exact.collect()))


def test_ivf_scores_are_exact_cosines(spark, vecs):
    """Whatever candidates IVF surfaces, their scores must be the exact
    cosine (approximation lives in candidate selection only)."""
    queries = vecs.select("vec_id").filter(F.col("vec_id") < 10)
    ivf = S.cosine_topk_ivf(vecs.drop("norm"), queries, n_cells=16, nprobe=4, k=10)
    exact = S.cosine_topk_bruteforce(vecs.filter(F.col("vec_id") < 10), vecs, k=500)
    exact_cos = {(r.q_vec_id, r.n_vec_id): r.cos for r in exact.collect()}
    rows = ivf.collect()
    assert len(rows) > 0
    for r in rows:
        assert r.cos == pytest.approx(exact_cos[(r.q_vec_id, r.n_vec_id)], rel=1e-12)


def test_ivf_assignment_partitions_corpus(spark, vecs):
    """The inverted file is a partition of the corpus: every vector lands in
    exactly one cell, and cells are bounded by the candidate-fraction math."""
    cent = S.seed_centroids(vecs, n_cells=16)
    inv = S.ivf_assign(vecs, cent)
    n = vecs.count()
    assert inv.count() == n
    assert inv.select("vec_id").distinct().count() == n
    assert inv.select("cell").distinct().count() <= 16


def test_multiprobe_expands_candidates_and_recall(spark, vecs):
    """Distance-1 multi-probe must return a superset of the single-probe
    result set per query and can only raise recall@10."""
    queries = vecs.select("vec_id").filter(F.col("vec_id") < 10)
    single = S.cosine_topk_lsh(vecs.drop("norm"), queries, dim=64, k=500)
    multi = S.cosine_topk_lsh(
        vecs.drop("norm"), queries, dim=64, k=500, multiprobe=True
    )
    s_pairs = {(r.q_vec_id, r.n_vec_id) for r in single.collect()}
    m_pairs = {(r.q_vec_id, r.n_vec_id) for r in multi.collect()}
    assert s_pairs <= m_pairs
    assert len(m_pairs) > len(s_pairs)

    exact = S.cosine_topk_bruteforce(vecs.filter(F.col("vec_id") < 10), vecs, k=10)
    truth: dict[int, set] = {}
    for r in exact.collect():
        truth.setdefault(r.q_vec_id, set()).add(r.n_vec_id)

    def recall(pairs):
        got: dict[int, set] = {}
        for q, n in pairs:
            got.setdefault(q, set()).add(n)
        return sum(
            len(got.get(q, set()) & t) / len(t) for q, t in truth.items()
        ) / len(truth)

    top_m = {(r.q_vec_id, r.n_vec_id) for r in S.cosine_topk_lsh(
        vecs.drop("norm"), queries, dim=64, k=10, multiprobe=True).collect()}
    top_s = {(r.q_vec_id, r.n_vec_id) for r in S.cosine_topk_lsh(
        vecs.drop("norm"), queries, dim=64, k=10).collect()}
    assert recall(top_m) >= recall(top_s)
    # measured 1.000 at sf0.01 and sf0.1 (single-probe: 0.86/0.93) at ~1.2x
    # runtime — alert if a tuning change drops it below the SCALE.md claim
    assert recall(top_m) >= 0.95, f"multiprobe recall collapsed: {recall(top_m):.2f}"


def test_ivf_assign_np_matches_interpreted_assignment(spark, vecs):
    """The matmul assigner must agree with the SQL-replayable fold assigner
    on real (well-separated) data — matmul summation order can flip only
    exact cosine ties, which label-clustered corpora don't produce."""
    cents = S.seed_centroids(vecs, 16, "vec_id")
    flat = {
        r["vec_id"]: r["cell"] for r in S.ivf_assign(vecs, cents, "vec_id").collect()
    }
    np_a = {
        r["vec_id"]: r["cell"]
        for r in S.ivf_assign_np(vecs, cents).collect()
    }
    assert flat == np_a


def test_semantic_dedup_autocells_matches_dist_assignment_endpoint(spark):
    """The auto path (n_cells=None) is semantic dedup over the DISTRIBUTED
    two-level assignment: its (vec_id → cell) map must equal ivf_assign_dist
    run standalone with the same auto-sized k, and the is_dup flags must be
    exactly the within-cell smaller-id-neighbor predicate recomputed
    independently (numpy, exact thresholding on the same doubles)."""
    import numpy as np

    emb = load_table(spark, SF, "embeddings")
    n = emb.count()
    k = S.auto_n_cells(n)
    auto = {
        r["vec_id"]: (r["cell"], r["is_dup"])
        for r in S.semantic_dedup(emb, n_cells=None, threshold=0.30).collect()
    }
    vecs = S.with_norm(
        emb.select("vec_id", S.as_double_vec("embedding").alias("v"))
    )
    cents = S.seed_centroids(vecs, k, "vec_id")
    cells = {
        r["vec_id"]: r["cell"]
        for r in S.ivf_assign_dist(
            vecs, cents, "vec_id", n_centroids=min(k, n)
        ).collect()
    }
    assert {v: c for v, (c, _) in auto.items()} == cells

    by_cell: dict[int, list[int]] = {}
    for vid, c in cells.items():
        by_cell.setdefault(c, []).append(vid)
    vmat = {r["vec_id"]: np.array(r["v"], dtype=np.float64) for r in vecs.collect()}
    expected_dups = set()
    for members in by_cell.values():
        members.sort()
        for i, a in enumerate(members):
            va = vmat[a]
            na = np.sqrt(va @ va) or 1.0
            for b in members[i + 1 :]:
                vb = vmat[b]
                nb = np.sqrt(vb @ vb) or 1.0
                # same sequential fold as the engine's _dot
                dot = 0.0
                for x, y in zip(va, vb):
                    dot += x * y
                if dot / (na * nb) >= 0.30:
                    expected_dups.add(b)
    assert {v for v, (_, d) in auto.items() if d} == expected_dups


def test_ivf_assign_dist_one_group_equals_flat(spark, vecs):
    """With ONE group the cogrouped second level scores every centroid —
    identical to flat matmul assignment (dist's recall-dial endpoint)."""
    cents = S.seed_centroids(vecs, 16, "vec_id")
    flat = {r["vec_id"]: r["cell"] for r in S.ivf_assign_np(vecs, cents).collect()}
    one = {
        r["vec_id"]: r["cell"]
        for r in S.ivf_assign_dist(vecs, cents, n_groups=1, n_centroids=16).collect()
    }
    assert one == flat


def test_ivf_assign_dist_matches_closure_hier(spark, vecs):
    """The distributed two-level assigner must reproduce the closure-based
    ivf_assign_hier exactly (same reps, same group resolution, same in-group
    argmax) — only the execution differs: reps-only closure + cogrouped
    equi-join instead of collecting all k centroids."""
    cents = S.seed_centroids(vecs, 16, "vec_id")
    for g in (2, 4):
        hier = {
            r["vec_id"]: r["cell"]
            for r in S.ivf_assign_hier(vecs, cents, n_groups=g).collect()
        }
        dist = {
            r["vec_id"]: r["cell"]
            for r in S.ivf_assign_dist(
                vecs, cents, n_groups=g, n_centroids=16
            ).collect()
        }
        assert dist == hier, f"n_groups={g}"


def test_ivf_assign_dist_partitions_corpus(spark, vecs):
    cents = S.seed_centroids(vecs, 16, "vec_id")
    out = S.ivf_assign_dist(vecs, cents, n_centroids=16).collect()
    n = vecs.count()
    assert len(out) == n
    assert len({r["vec_id"] for r in out}) == n
    cent_ids = {r["c_id"] for r in cents.select("c_id").collect()}
    assert {r["cell"] for r in out} <= cent_ids


def test_ivf_assign_hier_endpoints_degrade_to_flat(spark, vecs):
    """The recall dial's endpoints, same proof style as nprobe==n_cells:
    with ONE super-group the second level scores every centroid (== flat
    assignment exactly); the approximation lives strictly between the
    endpoints. Also: every vector is assigned exactly once to a real
    centroid id at an intermediate g."""
    cents = S.seed_centroids(vecs, 16, "vec_id")
    flat = {r["vec_id"]: r["cell"] for r in S.ivf_assign_np(vecs, cents).collect()}
    one_group = {
        r["vec_id"]: r["cell"]
        for r in S.ivf_assign_hier(vecs, cents, n_groups=1).collect()
    }
    assert one_group == flat
    cent_ids = {r["c_id"] for r in cents.select("c_id").collect()}
    mid = S.ivf_assign_hier(vecs, cents, n_groups=4).collect()
    assert len(mid) == len(flat)
    assert {r["vec_id"] for r in mid} == set(flat)
    assert {r["cell"] for r in mid} <= cent_ids


def test_int_multiprobe_superset_and_recall_gain(spark, vecs):
    """Int-LSH distance-1 multi-probe: candidate PAIRS are a superset of
    single-probe's and recall@10 at least doubles at the coarse
    6-plane/4-table config (measured 0.18 -> 0.67)."""
    emb = vecs.select("vec_id", F.col("v").alias("embedding"))
    qids = vecs.select("vec_id").filter(F.col("vec_id") < 10)
    single = S.cosine_topk_int_lsh(emb, qids, k=500, n_planes=6, n_tables=4)
    multi = S.cosine_topk_int_lsh(
        emb, qids, k=500, n_planes=6, n_tables=4, multiprobe=True
    )
    s_pairs = {(r.q_vec_id, r.n_vec_id) for r in single.collect()}
    m_pairs = {(r.q_vec_id, r.n_vec_id) for r in multi.collect()}
    assert s_pairs <= m_pairs
    assert len(m_pairs) > len(s_pairs)

    exact = S.cosine_topk_bruteforce(vecs.filter(F.col("vec_id") < 10), vecs, k=10)
    truth: dict[int, set] = {}
    for r in exact.collect():
        truth.setdefault(r.q_vec_id, set()).add(r.n_vec_id)

    def recall(df):
        got: dict[int, set] = {}
        for r in df.collect():
            got.setdefault(r.q_vec_id, set()).add(r.n_vec_id)
        return sum(
            len(truth[q] & got.get(q, set())) / len(truth[q]) for q in truth
        ) / len(truth)

    s10 = S.cosine_topk_int_lsh(emb, qids, k=10, n_planes=6, n_tables=4)
    m10 = S.cosine_topk_int_lsh(
        emb, qids, k=10, n_planes=6, n_tables=4, multiprobe=True
    )
    rs, rm = recall(s10), recall(m10)
    assert rm >= max(2 * rs, 0.5), (rs, rm)


def test_pq_codes_shape_and_determinism(spark):
    """PQ encoding: every vector gets exactly m codes, each in [0, k);
    re-encoding is bit-identical (seeded codebook, no RNG)."""
    emb = load_table(spark, SF, "embeddings")
    quant = F.expr(
        "transform(embedding, x -> floor(cast(x as double) * 1000000.0 + 0.5))"
    )
    corpus = emb.select("vec_id", quant.alias("v"))
    cb = S.pq_codebook(corpus, m=8, k=16, dim=64)
    assert cb.count() == 8 * 16
    codes = S.pq_encode(corpus, cb, m=8, dim=64)
    n = corpus.count()
    assert codes.count() == n * 8
    rng = codes.agg(
        F.min("code").alias("lo"), F.max("code").alias("hi")
    ).collect()[0]
    assert rng.lo >= 0 and rng.hi < 16
    a = sorted(map(tuple, codes.collect()))
    b = sorted(map(tuple, S.pq_encode(corpus, cb, m=8, dim=64).collect()))
    assert a == b


def test_pq_rerank_recall_floor(spark):
    """Two-stage PQ (ADC preselect -> exact rerank) measured 0.94
    recall@10 at k_codes=64/rerank=200 on sf0.01 (raw ADC alone: 0.20).
    Floor pinned at 0.85 so a codebook/LUT/rerank regression fails
    loudly."""
    from pyspark.sql import Window

    emb = load_table(spark, SF, "embeddings")
    quant = F.expr(
        "transform(embedding, x -> floor(cast(x as double) * 1000000.0 + 0.5))"
    )
    corpus = emb.select("vec_id", quant.alias("v"))
    qids = emb.select("vec_id").filter(F.col("vec_id") < 10)
    rr = S.pq_rerank_topk(corpus, qids, m=8, k_codes=64, dim=64, k=10, rerank=200)
    got: dict[int, set[int]] = {}
    for r in rr.collect():
        got.setdefault(r.q_vec_id, set()).add(r.n_vec_id)

    q = corpus.join(qids, "vec_id", "left_semi").select(
        F.col("vec_id").alias("q_vec_id"), F.col("v").alias("qv")
    )
    c = corpus.select(F.col("vec_id").alias("n_vec_id"), F.col("v").alias("cv"))
    d2 = F.expr(
        "aggregate(zip_with(qv, cv, (x,y) -> (x-y)*(x-y)), "
        "cast(0.0 as double), (a,d) -> a+d)"
    )
    w = Window.partitionBy("q_vec_id").orderBy(
        F.col("d2").asc(), F.col("n_vec_id").asc()
    )
    exact = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("n_vec_id") != F.col("q_vec_id"))
        .select("q_vec_id", "n_vec_id", d2.alias("d2"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 10)
    )
    truth: dict[int, set[int]] = {}
    for r in exact.collect():
        truth.setdefault(r.q_vec_id, set()).add(r.n_vec_id)
    recall = sum(len(truth[k] & got[k]) / 10 for k in truth) / len(truth)
    assert recall >= 0.85, recall


def test_ivfpq_recall_floor_and_lloyd_gain(spark):
    """IVF-PQ (64 cells + 1 integer-Lloyd round, nprobe 16, rerank 100)
    measured 0.80 recall@10 touching ~8% of the corpus; seeded cells
    without the refinement measured 0.65. Floors pinned: composed >= 0.7
    and the Lloyd round must not make things worse than seeded."""
    from pyspark.sql import Window

    emb = load_table(spark, SF, "embeddings")
    quant = F.expr(
        "transform(embedding, x -> floor(cast(x as double) * 1000000.0 + 0.5))"
    )
    corpus = emb.select("vec_id", quant.alias("v"))
    qids = emb.select("vec_id").filter(F.col("vec_id") < 10)

    q = corpus.join(qids, "vec_id", "left_semi").select(
        F.col("vec_id").alias("q_vec_id"), F.col("v").alias("qv")
    )
    c = corpus.select(F.col("vec_id").alias("n_vec_id"), F.col("v").alias("cv"))
    d2 = F.expr(
        "aggregate(zip_with(qv, cv, (x,y) -> (x-y)*(x-y)), "
        "cast(0.0 as double), (a,d) -> a+d)"
    )
    w = Window.partitionBy("q_vec_id").orderBy(
        F.col("d2").asc(), F.col("n_vec_id").asc()
    )
    exact = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("n_vec_id") != F.col("q_vec_id"))
        .select("q_vec_id", "n_vec_id", d2.alias("d2"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 10)
    )
    truth: dict[int, set[int]] = {}
    for r in exact.collect():
        truth.setdefault(r.q_vec_id, set()).add(r.n_vec_id)

    def recall(df):
        got: dict[int, set[int]] = {}
        for r in df.collect():
            got.setdefault(r.q_vec_id, set()).add(r.n_vec_id)
        return sum(len(truth[k] & got.get(k, set())) / 10 for k in truth) / len(truth)

    lloyd = recall(
        S.ivfpq_topk(corpus, qids, n_cells=64, nprobe=16, m=8, k_codes=64,
                     dim=64, k=10, rerank=100, lloyd_rounds=1)
    )
    seeded = recall(
        S.ivfpq_topk(corpus, qids, n_cells=64, nprobe=16, m=8, k_codes=64,
                     dim=64, k=10, rerank=100, lloyd_rounds=0)
    )
    assert lloyd >= 0.7, lloyd
    assert lloyd >= seeded, (lloyd, seeded)


def test_pca_exact_vs_numpy_and_partition_invariant(spark):
    """The integer-unit Gram pass must reproduce numpy's PCA on the
    quantized data exactly-up-to-fp (same covariance bytes in, same eigh
    out), and — the property float Gram passes lack — be bit-identical
    under any repartitioning (int64 partials commute exactly)."""
    import numpy as np
    import pandas as pd

    from network_iq_spark.operators.similarity import pca_fit, pca_project

    rng = np.random.default_rng(7)
    dim, n = 16, 400
    # anisotropic data so components are well-separated
    base = rng.normal(size=(n, dim)) * np.linspace(3.0, 0.1, dim)
    pdf = pd.DataFrame({"vec_id": range(n), "v": list(base.astype(np.float64))})
    df = spark.createDataFrame(pdf)

    comps, s_units, cnt, evals = pca_fit(df, dim=dim, out_dim=4)
    # numpy reference on the SAME quantized values
    u = np.floor(base * 1e4 + 0.5).astype(np.int64)
    cov = (u.T @ u / n - np.outer(u.mean(0), u.mean(0))) / 1e8
    ev, evec = np.linalg.eigh(cov)
    order = np.argsort(ev)[::-1][:4]
    ref = evec[:, order].T
    for i in range(4):
        j = int(np.argmax(np.abs(ref[i])))
        if ref[i, j] < 0:
            ref[i] = -ref[i]
    assert cnt == n
    assert np.allclose(evals, ev[order], rtol=0, atol=1e-12)
    assert np.allclose(comps, ref, rtol=0, atol=1e-9)
    # variance ordering
    assert all(evals[i] >= evals[i + 1] for i in range(3))

    # partitioning invariance: projections bit-identical at 1 vs 7 parts
    p1 = {
        r.vec_id: tuple(r.proj)
        for r in pca_project(df.repartition(1), dim=dim, out_dim=4).collect()
    }
    p7 = {
        r.vec_id: tuple(r.proj)
        for r in pca_project(df.repartition(7), dim=dim, out_dim=4).collect()
    }
    assert p1 == p7
    # projection matches numpy
    w = ref.T
    y = (u / 1e4 - u.mean(0) / 1e4) @ w
    for i in range(n):
        assert np.allclose(p1[i], y[i], rtol=0, atol=1e-9)


def test_ivf_int_recenter_lloyd_monotonicity(spark):
    """One integer Lloyd step must not increase total within-cell squared
    error (the k-means descent property), membership must cover the
    corpus exactly once, and churn must be consistent with the second
    assignment pass — checked against a NumPy replay of the same
    integer arithmetic."""
    import numpy as np

    from pyspark.sql import functions as F

    from network_iq_spark.operators.similarity import ivf_int_recenter

    rng = np.random.default_rng(3)
    n, dim, k = 200, 16, 5
    q = rng.integers(0, 256, size=(n, dim))
    df = spark.createDataFrame(
        [(i, [int(v) for v in q[i]]) for i in range(n)],
        "vec_id long, q array<bigint>",
    )
    got = {
        r.cell_id: (r.n_members, r.moved_l2_units, r.n_reassigned)
        for r in ivf_int_recenter(df, n_cells=k).collect()
    }
    assert sum(m for m, _, _ in got.values()) == n
    # NumPy replay with identical integer semantics
    seeds = q[:k].astype(np.int64)
    d0 = ((q[:, None, :] - seeds[None, :, :]) ** 2).sum(axis=2)
    old = d0.argmin(axis=1)  # argmin ties -> lowest index, same as the op
    newc = np.stack(
        [q[old == j].sum(axis=0) // (old == j).sum() for j in range(k)]
    ).astype(np.int64)
    d1 = ((q[:, None, :] - newc[None, :, :]) ** 2).sum(axis=2)
    new = d1.argmin(axis=1)
    for j in range(k):
        nm, moved, chn = got[j]
        assert nm == int((old == j).sum())
        assert moved == int(((newc[j] - seeds[j]) ** 2).sum())
        assert chn == int(((old == j) & (new != old)).sum())
    # Lloyd descent: SSE(new centroids, re-assigned) <= SSE(seeds, old)
    sse_old = int(d0[np.arange(n), old].sum())
    sse_new = int(d1[np.arange(n), new].sum())
    assert sse_new <= sse_old


@pytest.fixture(scope="module")
def empty_embeddings_dir(spark, tmp_path_factory):
    """A catalog whose ``embeddings`` table has the real schema and no rows."""
    d = tmp_path_factory.mktemp("empty_embeddings")
    spark.read.parquet(f"{SF}/embeddings.parquet").limit(0).write.parquet(
        str(d / "embeddings.parquet")
    )
    return str(d)


@pytest.mark.parametrize(
    "query, operator",
    [
        ("ann_ivfpq_topk", "assign_np_l2"),
        ("incremental_ann_topk", "ivf_assign_dist"),
        ("ivf_centroid_join_topk", "ivf_assign_dist"),
        ("semantic_dedup_scaled", "ivf_assign_dist"),
        ("ann_pq_adc_topk", "pq_encode"),
        ("ann_pq_rerank_topk", "pq_encode"),
    ],
)
def test_trainers_reject_empty_input_by_name(
    spark, empty_embeddings_dir, query, operator
):
    """The driver-side trainers collect centroids or a codebook before the
    plan is built; on an empty corpus they raise a clear error naming
    themselves instead of a numpy AxisError or an empty-``max`` failure."""
    from network_iq_spark.registry import QUERIES

    with pytest.raises(ValueError, match=f"^{operator}: empty input$"):
        QUERIES[query](spark, empty_embeddings_dir).collect()
