"""Similarity-search queries: brute/LSH/IVF/multi-probe/PQ/IVF-PQ ANN
over the embeddings table, integer-exact IVF re-centering. Split out of
llmdata.py in r10.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from network_iq_spark.operators import similarity as S
from network_iq_spark.registry import register
from network_iq_spark.sources import load_table

from network_iq_spark.queries._fragments import (  # noqa: F401
    _IVFD_CELLS,
    _IVFD_GROUPS,
    _IVFD_K,
    _IVFD_NPROBE,
    _IVFD_NN,
    _IVFD_SCALE,
    _int_sig_ctes,
    _ivf_dist_sql,
    _sql_hex_int,
)

# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------


@register(
    "cosine_topk",
    oracle="""
    WITH n AS (
      SELECT vec_id, embedding::DOUBLE[] AS v,
             sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm
      FROM embeddings
    ),
    scored AS (
      SELECT q.vec_id AS q_vec_id, c.vec_id AS n_vec_id,
             list_dot_product(q.v, c.v) / (q.norm * c.norm) AS cos
      FROM n q, n c WHERE q.vec_id < 10 AND c.vec_id != q.vec_id
    )
    SELECT q_vec_id, n_vec_id, CAST(rank AS INT) AS rank, cos FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY q_vec_id
                                   ORDER BY cos DESC, n_vec_id ASC) AS rank
      FROM scored
    ) WHERE rank <= 10 ORDER BY q_vec_id, rank
    """,
)
def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 neighbors for query vectors (vec_id < 10):
    the ANN correctness baseline. Dot products accumulate as double in
    element order — bit-identical across engines (verified empirically)."""
    from network_iq_spark.operators import ensure_parallelism

    emb = load_table(spark, sf_dir, "embeddings")
    vecs = S.with_norm(
        ensure_parallelism(emb.select("vec_id", S.as_double_vec("embedding").alias("v")))
    )
    queries = vecs.filter(F.col("vec_id") < 10)
    return S.cosine_topk_bruteforce(queries, vecs, k=10).orderBy("q_vec_id", "rank")


_ND_TABLES, _ND_PLANES, _ND_THRESHOLD = 4, 8, 0.30


def _near_dup_sql(n_tables: int, n_planes: int, threshold: float) -> str:
    """DuckDB twin of operators/similarity.py near_dup_pairs: the shared
    signature CTEs plus the (table,bucket) candidate join and the
    element-order double cosine — the whole approximation, not just the
    verify stage, so the hash compare is exact by construction."""
    return f"""
    WITH {_int_sig_ctes(n_tables, n_planes)},
    cand AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      FROM sigs a JOIN sigs b
        ON a.t = b.t AND a.bucket = b.bucket AND a.vec_id < b.vec_id
    ),
    n AS (
      SELECT vec_id, embedding::DOUBLE[] AS v,
             sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm
      FROM embeddings
    )
    SELECT * FROM (
      SELECT id_a, id_b, list_dot_product(a.v, b.v)/(a.norm*b.norm) AS cos
      FROM cand JOIN n a ON a.vec_id = cand.id_a JOIN n b ON b.vec_id = cand.id_b
    ) WHERE cos >= {threshold} ORDER BY id_a, id_b
    """


@register(
    "embedding_near_dup",
    oracle=_near_dup_sql(_ND_TABLES, _ND_PLANES, _ND_THRESHOLD),
)
def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs — the dedup family's embedding
    modality (alongside exact/MinHash/SimHash/Jaccard): integerized
    hyperplane LSH candidates, exact cosine verify at threshold
    (operators/similarity.py near_dup_pairs). The oracle replays the exact
    bucketing, so this is full-pipeline parity, not verify-stage-only."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.near_dup_pairs(
        emb,
        dim=64,
        threshold=_ND_THRESHOLD,
        n_planes=_ND_PLANES,
        n_tables=_ND_TABLES,
    ).orderBy("id_a", "id_b")


_IVF_CELLS, _IVF_NPROBE, _IVF_K = 16, 4, 10


def _ivf_sql(n_cells: int, nprobe: int, k: int) -> str:
    """DuckDB twin of operators/similarity.py cosine_topk_ivf: seeded
    centroid pick (smallest md5-hash ids), nearest-centroid assignment with
    (cos DESC, c_id ASC) tie order, nprobe probe list, exact in-cell cosine.
    Every stage is deterministic, so the compare is exact by construction."""
    cent_h = _sql_hex_int("md5(CAST(vec_id AS VARCHAR))", 12)
    return f"""
    WITH n AS (
      SELECT vec_id, embedding::DOUBLE[] AS v,
             sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm
      FROM embeddings
    ),
    cent AS (
      SELECT vec_id AS c_id, v AS cv, norm AS cn
      FROM n ORDER BY {cent_h}, vec_id LIMIT {n_cells}
    ),
    assign AS (
      SELECT vec_id AS n_vec_id, c_id AS cell FROM (
        SELECT n.vec_id, c.c_id,
               ROW_NUMBER() OVER (PARTITION BY n.vec_id
                 ORDER BY list_dot_product(n.v, c.cv) / (n.norm * c.cn) DESC,
                          c.c_id ASC) AS rn
        FROM n, cent c
      ) WHERE rn = 1
    ),
    probes AS (
      SELECT vec_id AS q_vec_id, c_id AS cell FROM (
        SELECT n.vec_id, c.c_id,
               ROW_NUMBER() OVER (PARTITION BY n.vec_id
                 ORDER BY list_dot_product(n.v, c.cv) / (n.norm * c.cn) DESC,
                          c.c_id ASC) AS rn
        FROM n, cent c WHERE n.vec_id < 10
      ) WHERE rn <= {nprobe}
    ),
    scored AS (
      SELECT p.q_vec_id, a.n_vec_id,
             list_dot_product(q.v, m.v) / (q.norm * m.norm) AS cos
      FROM probes p
      JOIN assign a ON a.cell = p.cell AND a.n_vec_id != p.q_vec_id
      JOIN n q ON q.vec_id = p.q_vec_id
      JOIN n m ON m.vec_id = a.n_vec_id
    )
    SELECT q_vec_id, n_vec_id, CAST(rank AS INT) AS rank, cos FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY q_vec_id
                                   ORDER BY cos DESC, n_vec_id ASC) AS rank
      FROM scored
    ) WHERE rank <= {k} ORDER BY q_vec_id, rank
    """


@register("ivf_cosine_topk", oracle=_ivf_sql(_IVF_CELLS, _IVF_NPROBE, _IVF_K))
def q_ivf_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN top-10 for query vectors (vec_id < 10): the centroid-bucketed
    sibling of the hyperplane-LSH path. Deterministic seeded centroids make
    the whole approximation oracle-checkable (not just rows-only): centroid
    pick, cell assignment, probe list, and in-cell scores all replay in SQL.
    Scale shape: centroids broadcast, corpus shuffles once on cell id,
    queries broadcast, exact cosine touches ~nprobe/n_cells of the corpus."""
    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.select("vec_id", S.as_double_vec("embedding").alias("v"))
    queries = emb.select("vec_id").filter(F.col("vec_id") < 10)
    return S.cosine_topk_ivf(
        corpus,
        queries,
        n_cells=_IVF_CELLS,
        nprobe=_IVF_NPROBE,
        k=_IVF_K,
    ).orderBy("q_vec_id", "rank")


@register(
    "ivf_centroid_join_topk",
    oracle=_ivf_dist_sql("TRUE", "vec_id < 10"),
)
def q_ivf_centroid_join_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN top-10 whose inverted file is built by the DISTRIBUTED
    two-level assigner (ivf_assign_dist): only the √k super-reps ride the
    task closure; centroids stay a DataFrame and vectors meet their winning
    group's centroid shard in a cogrouped equi-join — the 100 TB execution
    of cell assignment (no driver-side centroid materialization, verified
    by test_plan_quality). Embeddings are quantized to integer-valued
    doubles (floor(x*1e6+0.5), Spark expression) so every dot product —
    including the numpy matmuls inside the cogroup UDF — is exact in
    float64, making the whole approximate structure hash-replayable by the
    DuckDB oracle rather than rows-only."""
    emb = load_table(spark, sf_dir, "embeddings")
    import functools

    quant = F.expr(
        f"transform(embedding, x -> floor(cast(x as double) * {_IVFD_SCALE} + 0.5))"
    )
    corpus = emb.select("vec_id", quant.alias("v"))
    queries = emb.select("vec_id").filter(F.col("vec_id") < 10)
    return S.cosine_topk_ivf(
        corpus,
        queries,
        n_cells=_IVFD_CELLS,
        nprobe=_IVFD_NPROBE,
        k=_IVFD_K,
        assigner=functools.partial(
            S.ivf_assign_dist, n_groups=_IVFD_GROUPS, n_centroids=_IVFD_CELLS
        ),
    ).orderBy("q_vec_id", "rank")


_PQ_M, _PQ_K, _PQ_DIM, _PQ_TOPK, _PQ_NQ = 8, 64, 64, 10, 10


def _pq_core_sql() -> str:
    """Shared WITH-block of the PQ oracles: quantize → seeded codebook →
    per-subspace argmin codes → per-query lookup tables → ADC sums."""
    hexi = _sql_hex_int("md5(CAST(vec_id AS VARCHAR))", 12)
    sub = _PQ_DIM // _PQ_M
    d2 = (
        "(list_dot_product({a}, {a}) - 2 * list_dot_product({a}, {b})"
        " + list_dot_product({b}, {b}))"
    )
    ss = ", ".join(str(i) for i in range(_PQ_M))
    return f"""
    WITH {_IVFD_NN},
    seeds AS (
      SELECT vec_id, v,
             ROW_NUMBER() OVER (ORDER BY {hexi}, vec_id) - 1 AS j
      FROM nn ORDER BY {hexi}, vec_id LIMIT {_PQ_K}
    ),
    ss AS (SELECT unnest([{ss}]) AS s),
    cb AS (
      SELECT ss.s, seeds.j,
             list_slice(v, ss.s * {sub} + 1, ss.s * {sub} + {sub}) AS cv
      FROM seeds, ss
    ),
    subs AS (
      SELECT vec_id, ss.s,
             list_slice(v, ss.s * {sub} + 1, ss.s * {sub} + {sub}) AS sv
      FROM nn, ss
    ),
    codes AS (
      SELECT vec_id, s, j AS code FROM (
        SELECT sub.vec_id, sub.s, cb.j,
               ROW_NUMBER() OVER (PARTITION BY sub.vec_id, sub.s
                 ORDER BY {d2.format(a="sub.sv", b="cb.cv")} ASC, cb.j ASC
               ) AS rk
        FROM subs sub JOIN cb ON cb.s = sub.s
      ) WHERE rk = 1
    ),
    lut AS (
      SELECT sub.vec_id AS q_vec_id, cb.s, cb.j,
             {d2.format(a="sub.sv", b="cb.cv")} AS pd
      FROM subs sub JOIN cb ON cb.s = sub.s
      WHERE sub.vec_id < {_PQ_NQ}
    ),
    scored AS (
      SELECT l.q_vec_id, c.vec_id AS n_vec_id, SUM(l.pd) AS adist
      FROM codes c JOIN lut l ON l.s = c.s AND l.j = c.code
      WHERE c.vec_id != l.q_vec_id
      GROUP BY 1, 2
    )
    """


def _pq_adc_sql() -> str:
    """DuckDB twin of the raw ADC path (operators/similarity.py
    pq_codebook/pq_encode/pq_adc_topk): integer-quantized vectors make
    every squared-L2 exact, so the codebook seeding, per-subspace argmin
    encoding, and ADC lookup-sum all hash-replay."""
    return f"""{_pq_core_sql()}
    SELECT q_vec_id, n_vec_id, CAST(rank AS INT) AS rank,
           CAST(adist AS BIGINT) AS adist
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY q_vec_id
                                   ORDER BY adist ASC, n_vec_id ASC) AS rank
      FROM scored
    ) WHERE rank <= {_PQ_TOPK} ORDER BY q_vec_id, rank
    """


# measured on sf0.01 (tests/test_similarity.py pins the floor):
# k_codes=16/rerank=50 -> recall 0.45; 16/200 -> 0.82; 64/200 -> 0.94
_PQ_RERANK = 200


def _pq_rerank_sql() -> str:
    """DuckDB twin of pq_rerank_topk: ADC top-{rerank} candidates, exact
    squared-L2 rescoring on just those rows, exact top-k."""
    d2 = (
        "(list_dot_product(q.v, q.v) - 2 * list_dot_product(q.v, n.v)"
        " + list_dot_product(n.v, n.v))"
    )
    return f"""{_pq_core_sql()},
    cand AS (
      SELECT q_vec_id, n_vec_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY q_vec_id
                                     ORDER BY adist ASC, n_vec_id ASC) AS rk
        FROM scored
      ) WHERE rk <= {_PQ_RERANK}
    ),
    rescored AS (
      SELECT c.q_vec_id, c.n_vec_id, {d2} AS d2
      FROM cand c
      JOIN nn q ON q.vec_id = c.q_vec_id
      JOIN nn n ON n.vec_id = c.n_vec_id
    )
    SELECT q_vec_id, n_vec_id, CAST(rank AS INT) AS rank,
           CAST(d2 AS BIGINT) AS d2
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY q_vec_id
                                   ORDER BY d2 ASC, n_vec_id ASC) AS rank
      FROM rescored
    ) WHERE rank <= {_PQ_TOPK} ORDER BY q_vec_id, rank
    """


_RECENTER_CELLS = 8
_RECENTER_D2 = (
    "list_sum(list_transform(generate_series(1, 64), "
    "i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])))"
)
# same 0..255 quantization as _IMG_QUANT_SQL (defined later in the file —
# the media fixtures section); duplicated here because oracles are built
# at module-definition time
_RECENTER_QUANT_SQL = (
    "list_transform(embedding::DOUBLE[], x -> CAST(floor("
    "((least(greatest(x, -1.0), 1.0)) + 1.0) / 2.0 * 255.0 + 0.5) AS BIGINT))"
)


@register(
    "ivf_int_recenter_stats",
    oracle=f"""
    WITH q AS (
      SELECT vec_id, {_RECENTER_QUANT_SQL} AS qv FROM embeddings
    ),
    seeds AS (
      SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cell_id, qv AS c
      FROM (SELECT vec_id, qv FROM q ORDER BY vec_id LIMIT {_RECENTER_CELLS})
    ),
    a0 AS (
      SELECT vec_id, cell_id AS old_cell FROM (
        SELECT v.vec_id, s.cell_id,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id
                 ORDER BY {_RECENTER_D2.format(a="v.qv", b="s.c")} ASC,
                          s.cell_id ASC) AS rk
        FROM q v, seeds s
      ) WHERE rk = 1
    ),
    sums AS (
      SELECT a.old_cell, g.i AS dim,
             CAST(SUM(v.qv[g.i]) AS BIGINT) AS s, COUNT(*) AS n
      FROM a0 a JOIN q v ON v.vec_id = a.vec_id,
           LATERAL unnest(generate_series(1, 64)) AS g(i)
      GROUP BY 1, 2
    ),
    newc AS (
      SELECT old_cell AS cell_id, CAST(MAX(n) AS BIGINT) AS n_members,
             list(s // n ORDER BY dim) AS c
      FROM sums GROUP BY 1
    ),
    moved AS (
      SELECT n.cell_id, n.n_members,
             CAST({_RECENTER_D2.format(a="n.c", b="s.c")} AS BIGINT)
               AS moved_l2_units
      FROM newc n JOIN seeds s ON s.cell_id = n.cell_id
    ),
    a1 AS (
      SELECT vec_id, cell_id AS new_cell FROM (
        SELECT v.vec_id, n.cell_id,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id
                 ORDER BY {_RECENTER_D2.format(a="v.qv", b="n.c")} ASC,
                          n.cell_id ASC) AS rk
        FROM q v, newc n
      ) WHERE rk = 1
    ),
    churn AS (
      SELECT a0.old_cell AS cell_id,
             CAST(SUM(CASE WHEN a1.new_cell != a0.old_cell
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_reassigned
      FROM a0 JOIN a1 ON a1.vec_id = a0.vec_id GROUP BY 1
    )
    SELECT m.cell_id, m.n_members, m.moved_l2_units, c.n_reassigned
    FROM moved m JOIN churn c ON c.cell_id = m.cell_id ORDER BY m.cell_id
    """,
)
def q_ivf_int_recenter_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index maintenance, oracle-checked (r9): one integer-exact
    Lloyd re-centering step over the int-quantized corpus
    (operators/similarity.py ivf_int_recenter). seed_centroids'
    docstring rules float centroid updates out of scope because float
    summation order breaks cross-engine parity — integer quantization
    lifts that restriction: assignment is integer squared-L2, the new
    centroid is the per-dim floor-mean, and the whole maintenance pass
    (drift magnitude per cell + the churn the next assignment would
    perform) hashes identically in both engines. This is the nightly
    index-health job a 100 TB vector deployment runs against the
    incremental tier's ever-appending inverted lists."""
    emb = load_table(spark, sf_dir, "embeddings")
    quant = F.expr(
        "transform(embedding, x -> cast(floor(((least(greatest("
        "cast(x as double), -1.0D), 1.0D)) + 1.0D) / 2.0D * 255.0D + 0.5D"
        ") as bigint))"
    )
    qvecs = emb.select("vec_id", quant.alias("q"))
    return S.ivf_int_recenter(qvecs, n_cells=_RECENTER_CELLS).orderBy("cell_id")


@register("ann_pq_adc_topk", oracle=_pq_adc_sql())
def q_ann_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN with asymmetric-distance scoring — the
    COMPRESSED-vector tier of IVF-PQ, the structure that actually fits a
    100 TB corpus's index in cluster RAM (m·log2(k) bits per vector vs
    full floats): seeded per-subspace codebooks (`pq_codebook`), map-side
    argmin encoding (`pq_encode`), then ADC top-k where the corpus side
    touches only its (id, subspace, code) rows and each query's m·k
    lookup table broadcasts (`pq_adc_topk`). Integer quantization makes
    every squared-L2 exact in float64, so the entire approximate
    structure hash-replays in the DuckDB oracle. Recall vs the exact
    scorer is pinned in tests/test_similarity.py."""
    emb = load_table(spark, sf_dir, "embeddings")
    quant = F.expr(
        f"transform(embedding, x -> floor(cast(x as double) * {_IVFD_SCALE} + 0.5))"
    )
    corpus = emb.select("vec_id", quant.alias("v"))
    queries = emb.select("vec_id").filter(F.col("vec_id") < _PQ_NQ)
    return S.pq_adc_topk(
        corpus, queries, m=_PQ_M, k_codes=_PQ_K, dim=_PQ_DIM, k=_PQ_TOPK
    ).orderBy("q_vec_id", "rank")


# measured recall@10 vs exact squared-L2 on sf0.01 (floor pinned in
# tests/test_similarity.py): 16 seeded cells / nprobe 4 -> 0.47; 64 seeded
# cells / nprobe 16 -> 0.65; 64 cells + ONE integer-Lloyd round / nprobe 16
# -> 0.80 while touching only ~8% of the corpus (refinement converged —
# a second round measured identical)
_IVFPQ_CELLS, _IVFPQ_NPROBE, _IVFPQ_RERANK, _IVFPQ_LLOYD = 64, 16, 100, 1


def _ivfpq_sql() -> str:
    """DuckDB twin of operators/similarity.py ivfpq_topk: flat seeded IVF
    (cosine cell assignment + nprobe probes) pruning the corpus, PQ/ADC
    scoring restricted to probed-cell members, exact rerank on the
    shortlist. Every stage integer-exact."""
    hexi = _sql_hex_int("md5(CAST(vec_id AS VARCHAR))", 12)
    d2 = (
        "(list_dot_product({a}, {a}) - 2 * list_dot_product({a}, {b})"
        " + list_dot_product({b}, {b}))"
    )
    sub = _PQ_DIM // _PQ_M
    ss = ", ".join(str(i) for i in range(_PQ_M))
    ex_d2 = (
        "(list_dot_product(q.v, q.v) - 2 * list_dot_product(q.v, n.v)"
        " + list_dot_product(n.v, n.v))"
    )
    return f"""
    WITH {_IVFD_NN},
    cent0 AS (
      SELECT vec_id AS c_id, v AS cv
      FROM nn ORDER BY {hexi}, vec_id LIMIT {_IVFPQ_CELLS}
    ),
    inv0 AS (
      SELECT vec_id, c_id AS cell FROM (
        SELECT nn.vec_id, c.c_id,
               ROW_NUMBER() OVER (PARTITION BY nn.vec_id
                 ORDER BY {d2.format(a="nn.v", b="c.cv")} ASC,
                          c.c_id ASC) AS rk
        FROM nn, cent0 c
      ) WHERE rk = 1
    ),
    -- one integer-Lloyd round: centroid := floor(per-dim member mean)
    mem AS (
      SELECT i0.cell, unnest(nn.v) AS val,
             unnest(range(1, len(nn.v) + 1)) AS di
      FROM inv0 i0 JOIN nn ON nn.vec_id = i0.vec_id
    ),
    cstat AS (
      SELECT cell, di, floor(SUM(val) / COUNT(*)) AS cval
      FROM mem GROUP BY cell, di
    ),
    cent AS (
      SELECT cell AS c_id, list(cval ORDER BY di) AS cv
      FROM cstat GROUP BY cell
    ),
    inv AS (
      SELECT vec_id AS n_vec_id, c_id AS cell FROM (
        SELECT nn.vec_id, c.c_id,
               ROW_NUMBER() OVER (PARTITION BY nn.vec_id
                 ORDER BY {d2.format(a="nn.v", b="c.cv")} ASC,
                          c.c_id ASC) AS rk
        FROM nn, cent c
      ) WHERE rk = 1
    ),
    probes AS (
      SELECT vec_id AS q_vec_id, c_id AS cell FROM (
        SELECT nn.vec_id, c.c_id,
               ROW_NUMBER() OVER (PARTITION BY nn.vec_id
                 ORDER BY {d2.format(a="nn.v", b="c.cv")} ASC,
                          c.c_id ASC) AS rk
        FROM nn, cent c WHERE nn.vec_id < {_PQ_NQ}
      ) WHERE rk <= {_IVFPQ_NPROBE}
    ),
    cand AS (
      SELECT p.q_vec_id, i.n_vec_id
      FROM probes p JOIN inv i ON i.cell = p.cell
      WHERE i.n_vec_id != p.q_vec_id
    ),
    seeds AS (
      SELECT vec_id, v,
             ROW_NUMBER() OVER (ORDER BY {hexi}, vec_id) - 1 AS j
      FROM nn ORDER BY {hexi}, vec_id LIMIT {_PQ_K}
    ),
    ss AS (SELECT unnest([{ss}]) AS s),
    cb AS (
      SELECT ss.s, seeds.j,
             list_slice(v, ss.s * {sub} + 1, ss.s * {sub} + {sub}) AS cv
      FROM seeds, ss
    ),
    subs AS (
      SELECT vec_id, ss.s,
             list_slice(v, ss.s * {sub} + 1, ss.s * {sub} + {sub}) AS sv
      FROM nn, ss
    ),
    codes AS (
      SELECT vec_id, s, j AS code FROM (
        SELECT sub.vec_id, sub.s, cb.j,
               ROW_NUMBER() OVER (PARTITION BY sub.vec_id, sub.s
                 ORDER BY {d2.format(a="sub.sv", b="cb.cv")} ASC, cb.j ASC
               ) AS rk
        FROM subs sub JOIN cb ON cb.s = sub.s
      ) WHERE rk = 1
    ),
    lut AS (
      SELECT sub.vec_id AS q_vec_id, cb.s, cb.j,
             {d2.format(a="sub.sv", b="cb.cv")} AS pd
      FROM subs sub JOIN cb ON cb.s = sub.s
      WHERE sub.vec_id < {_PQ_NQ}
    ),
    adc AS (
      SELECT cand.q_vec_id, cand.n_vec_id, SUM(l.pd) AS adist
      FROM cand
      JOIN codes c ON c.vec_id = cand.n_vec_id
      JOIN lut l ON l.q_vec_id = cand.q_vec_id
                AND l.s = c.s AND l.j = c.code
      GROUP BY 1, 2
    ),
    shortlist AS (
      SELECT q_vec_id, n_vec_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY q_vec_id
                                     ORDER BY adist ASC, n_vec_id ASC) AS rk
        FROM adc
      ) WHERE rk <= {_IVFPQ_RERANK}
    ),
    rescored AS (
      SELECT s.q_vec_id, s.n_vec_id, {ex_d2} AS d2
      FROM shortlist s
      JOIN nn q ON q.vec_id = s.q_vec_id
      JOIN nn n ON n.vec_id = s.n_vec_id
    )
    SELECT q_vec_id, n_vec_id, CAST(rank AS INT) AS rank,
           CAST(d2 AS BIGINT) AS d2
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY q_vec_id
                                   ORDER BY d2 ASC, n_vec_id ASC) AS rank
      FROM rescored
    ) WHERE rank <= {_PQ_TOPK} ORDER BY q_vec_id, rank
    """


@register("ann_ivfpq_topk", oracle=_ivfpq_sql())
def q_ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ top-k — the full deployment layout for vector search over a
    100 TB corpus: a 64-cell coarse quantizer refined by ONE integer-
    exact Lloyd round (floor-mean centroids — +0.15 recall over seeded
    cells at identical nprobe, still SQL-replayable) prunes each query to
    16 probed cells (~8% of the corpus), PQ codes (64 codewords × 8
    subspaces) score only those members in the compressed domain, and
    exact squared-L2 re-ranks the 100-candidate shortlist. Composition
    of independently oracle-proven stages; integer-exact throughout, so
    the ENTIRE index structure — refined centroids, cells, codes, lookup
    tables, shortlists — hash-replays in the DuckDB oracle. Measured
    recall@10 = 0.80, floor pinned in tests/test_similarity.py."""
    emb = load_table(spark, sf_dir, "embeddings")
    quant = F.expr(
        f"transform(embedding, x -> floor(cast(x as double) * {_IVFD_SCALE} + 0.5))"
    )
    corpus = emb.select("vec_id", quant.alias("v"))
    queries = emb.select("vec_id").filter(F.col("vec_id") < _PQ_NQ)
    return S.ivfpq_topk(
        corpus,
        queries,
        n_cells=_IVFPQ_CELLS,
        nprobe=_IVFPQ_NPROBE,
        m=_PQ_M,
        k_codes=_PQ_K,
        dim=_PQ_DIM,
        k=_PQ_TOPK,
        rerank=_IVFPQ_RERANK,
        lloyd_rounds=_IVFPQ_LLOYD,
    ).orderBy("q_vec_id", "rank")


@register("ann_pq_rerank_topk", oracle=_pq_rerank_sql())
def q_ann_pq_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage PQ search, the shape production vector stores run: the
    compressed-domain ADC pass preselects a candidate set per query
    (touching only (id, subspace, code) rows), then exact squared-L2
    re-scores just those Q·rerank rows from raw vectors. Recall losses
    of the coarse seeded quantizer mostly vanish — the true neighbors
    only have to survive into the candidate set, not the final top-k
    (measured 0.94 recall@10 at k_codes=64/rerank=200 vs 0.20 for raw
    ADC; floor pinned in tests/test_similarity.py). Fully
    hash-replayable: both stages are exact integer arithmetic."""
    emb = load_table(spark, sf_dir, "embeddings")
    quant = F.expr(
        f"transform(embedding, x -> floor(cast(x as double) * {_IVFD_SCALE} + 0.5))"
    )
    corpus = emb.select("vec_id", quant.alias("v"))
    queries = emb.select("vec_id").filter(F.col("vec_id") < _PQ_NQ)
    return S.pq_rerank_topk(
        corpus,
        queries,
        m=_PQ_M,
        k_codes=_PQ_K,
        dim=_PQ_DIM,
        k=_PQ_TOPK,
        rerank=_PQ_RERANK,
    ).orderBy("q_vec_id", "rank")


@register(
    "embedding_label_stats",
    oracle="""
    SELECT label,
      COUNT(*) AS n,
      (CAST(SUM(CAST(FLOOR(
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
         * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / (1000000.0 * COUNT(*)))
        AS avg_norm,
      MIN(len(embedding)) AS min_dim,
      MAX(len(embedding)) AS max_dim
    FROM embeddings GROUP BY label ORDER BY label
    """,
)
def q_embedding_label_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding stats (norm distribution, dimensionality check) —
    the sanity pass a vector pipeline runs before indexing."""
    emb = load_table(spark, sf_dir, "embeddings")
    vecs = S.with_norm(emb.select("label", S.as_double_vec("embedding").alias("v")))
    return (
        vecs.groupBy("label")
        .agg(
            F.count("*").alias("n"),
            (
                F.sum(
                    F.floor(F.col("norm") * 1000000.0 + F.lit(0.5)).cast("bigint")
                ).cast("double")
                / (F.lit(1000000.0) * F.count("*"))
            ).alias("avg_norm"),
            F.min(F.size("v")).alias("min_dim"),
            F.max(F.size("v")).alias("max_dim"),
        )
        .orderBy("label")
    )
