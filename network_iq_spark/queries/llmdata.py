"""End-to-end training-data pipeline queries (flagship composition):
quality -> exact dedup -> LSH near-dup cascade, its winnow-overlap
report, dedup clusters + keep-best, SimHash60, chunk-grain dedup and
near-dup (+ capped twin), vocab coverage, containment. The rest of the
original llmdata.py lives in the r10 family modules (_fragments,
dedup_q, text_q, similarity_q, media, sampling_q, retrieval,
incremental) behind the same registry.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from network_iq_spark.operators import dedup as D
from network_iq_spark.operators import sampling as SA
from network_iq_spark.operators import text as T
from network_iq_spark.registry import register
from network_iq_spark.sources import load_table

from network_iq_spark.queries._fragments import (  # noqa: F401
    _CHUNK_ID_BASE,
    chunk_frame,
    _JACCARD_CAPPED,
    _JACCARD_MAX_DF,
    _MH_BANDS,
    _MH_PROD_BANDS,
    _MH_PROD_ROWS,
    _MH_PROD_THRESHOLD,
    _MH_ROWS,
    _QUALITY_CORE,
    _SPLIT_HEX,
    _SPLIT_SALT,
    _minhash_pairs_cte,
    _simhash_sql,
    _sql_hex_int,
)

# ---------------------------------------------------------------------------
# End-to-end training-data pipeline (flagship composition)
# ---------------------------------------------------------------------------

_PIPE_QTHR = 0.45
_PIPE_BANDS, _PIPE_ROWS, _PIPE_JTHR = 4, 4, 0.7


def _pipeline_final_ctes() -> str:
    """The WITH-body of the pipeline oracle through ``final`` (quality →
    exact dedup → LSH near-dup drop) — shared by the split-stats query and
    the winnow overlap-report variant so both replay the SAME cascade."""
    stop = T.LANG_MARKERS["en"]
    qscore = f"""GREATEST(0.0, LEAST(1.0,
        0.5 * LEAST(1.0, CAST(len(t) AS DOUBLE) / 50.0)
        + 0.5 * LEAST(1.0, 4.0 * (CASE WHEN len(t) = 0 THEN 0.0
                  ELSE CAST(len(list_filter(t, x -> x IN {stop!r})) AS DOUBLE)
                       / len(t) END))
        - 2.0 * (CASE WHEN len(text) = 0 THEN 0.0
                  ELSE CAST(len(regexp_extract_all(lower(text), '[^a-z0-9 ]')) AS DOUBLE)
                       / len(text) END)))"""
    return rf"""mq AS (
      SELECT doc_id, text, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
      FROM documents
    ),
    scored AS (
      SELECT doc_id, text, len(t) AS n_tokens, {qscore} AS quality_score
      FROM mq
    ),
    qpass AS (SELECT * FROM scored WHERE quality_score >= {_PIPE_QTHR}),
    fps AS (
      SELECT doc_id,
             md5(regexp_replace(trim(lower(text)), '[ \t\n\r\f\x0b]+', ' ', 'g')) AS fp
      FROM qpass
    ),
    keepers AS (SELECT MIN(doc_id) AS doc_id FROM fps GROUP BY fp),
    d1 AS (SELECT q.* FROM qpass q JOIN keepers k ON q.doc_id = k.doc_id),
    {_minhash_pairs_cte(_PIPE_BANDS, _PIPE_ROWS, _PIPE_JTHR, "d1")},
    dropped AS (SELECT DISTINCT doc_b AS doc_id FROM mh_pairs),
    final AS (
      SELECT d1.* FROM d1 LEFT JOIN dropped dr ON d1.doc_id = dr.doc_id
      WHERE dr.doc_id IS NULL
    )"""


def _pipeline_sql() -> str:
    return f"""
    WITH {_pipeline_final_ctes()},
    sp AS (
      SELECT *, CAST({_SPLIT_HEX} AS BIGINT) % 10000 AS bucket FROM final
    )
    SELECT CASE WHEN bucket < 8000 THEN 'train'
                WHEN bucket < 9000 THEN 'val'
                ELSE 'test' END AS split,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(SUM(CAST(FLOOR(quality_score * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
             / (1000000.0 * COUNT(*)) AS avg_quality
    FROM sp GROUP BY 1 ORDER BY split
    """


def _pipeline_final(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark-side cascade through ``final`` — the twin of
    :func:`_pipeline_final_ctes`, shared by the split-stats flagship and the
    winnow overlap-report variant."""
    docs = load_table(spark, sf_dir, "documents")
    # fused quality columns: scoring is row-local, so reattaching text via
    # a projection + self-join on doc_id (a full corpus shuffle at scale)
    # is pure waste — fusing removed that shuffle and ~0.7 s of the
    # cascade's sf0.1 wall time
    qdocs = T.with_quality_score(docs).filter(
        F.col("quality_score") >= _PIPE_QTHR
    )
    # Exact dedup as ONE window over the fused fingerprint column instead
    # of keepers-aggregate + semi-join: the semi-join formulation consumed
    # the quality pipeline twice (once under the fingerprint/groupBy arm,
    # once as the join's left side — no exchange for reuse to fire on in a
    # map-only pipeline), so every cascade run paid the tokenize+score map
    # twice. min(doc_id) over a fingerprint partition selects exactly the
    # keepers the groupBy picked (r14, guide §2.4; measured 3.3s → 2.4s
    # on the cascade-through-final, doc sets verified equal).
    fpd = qdocs.withColumn("__fp__", T.fingerprint_col())
    keep_w = Window.partitionBy("__fp__")
    # Materialized once for the three consumers (signature build, the
    # near-dup anti-join, the split aggregation). This tradeoff has flipped
    # twice: with the exploded signature build, recompute won (6.6 s
    # materialized vs 5.6 s) because each branch pruned to narrow columns;
    # with the MAP-ONLY signature there is no exchange to reuse and d1's
    # join pipeline re-executes per branch — measured 4.8-5.4 s recompute
    # vs 3.1-3.6 s materialized at sf0.1. At 100 TB substitute a persisted
    # table (or .persist(DISK_ONLY)) for localCheckpoint at this boundary.
    d1 = (
        fpd.withColumn("__mn__", F.min("doc_id").over(keep_w))
        .filter(F.col("doc_id") == F.col("__mn__"))
        .drop("__fp__", "__mn__")
        .localCheckpoint()
    )
    pairs = D.minhash_lsh_pairs(
        d1, threshold=_PIPE_JTHR, n_bands=_PIPE_BANDS, rows_per_band=_PIPE_ROWS
    )
    dropped = pairs.select(F.col("doc_b").alias("doc_id")).distinct()
    return d1.join(dropped, "doc_id", "left_anti")


@register("training_data_pipeline", oracle=_pipeline_sql())
def q_training_data_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship composition: quality filter → exact dedup → MinHash-LSH
    near-dup removal (production r=4/b=4 S-curve) → hash split → per-split
    corpus stats. Every stage is the registered operator itself, so this
    query proves the cascade COMPOSES — the oracle replays all five stages
    independently in DuckDB and must match to the bit.

    Near-dup removal keeps the smaller doc_id of each verified pair (the
    standard cheap approximation of connected-component clustering — no
    iteration, one anti-join). Scale shape: every stage is a map or a
    single-key shuffle; the LSH stage runs on quality+exact survivors only.
    """
    final = _pipeline_final(spark, sf_dir)
    split = SA.hash_split(
        final, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}, salt=_SPLIT_SALT
    )
    return (
        split.groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            (
                F.sum(
                    F.floor(F.col("quality_score") * 1000000.0 + F.lit(0.5)).cast(
                        "bigint"
                    )
                ).cast("double")
                / (F.lit(1000000.0) * F.count("*"))
            ).alias("avg_quality"),
        )
        .orderBy("split")
    )


_PIPE_WIN_W = 4
_PIPE_WIN_HEX = _sql_hex_int(
    "substr(md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2]), 1, 12)", 12
)


def _pipeline_overlap_sql() -> str:
    w = _PIPE_WIN_W
    split_case = f"""CASE WHEN CAST({_SPLIT_HEX} AS BIGINT) % 10000 < 8000 THEN 'train'
              WHEN CAST({_SPLIT_HEX} AS BIGINT) % 10000 < 9000 THEN 'val'
              ELSE 'test' END"""
    return f"""
    WITH {_pipeline_final_ctes()},
    wt AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
      FROM final
    ),
    wg AS (
      SELECT doc_id,
             CAST(i - 1 AS BIGINT) AS pos,
             CAST({_PIPE_WIN_HEX} AS BIGINT) AS h,
             len(t) - 2 AS m
      FROM wt, LATERAL unnest(generate_series(1, len(t) - 2)) AS s(i)
      WHERE len(t) >= {2 + w}
    ),
    wwin AS (
      SELECT wg.doc_id, w.j, wg.pos, wg.h
      FROM wg, LATERAL unnest(generate_series(0, wg.m - {w})) AS w(j)
      WHERE wg.pos BETWEEN w.j AND w.j + {w - 1}
    ),
    wfp AS (
      SELECT DISTINCT doc_id, h FROM (
        SELECT doc_id, j, pos, h,
               ROW_NUMBER() OVER (PARTITION BY doc_id, j
                                  ORDER BY h ASC, pos DESC) AS rn
        FROM wwin
      ) WHERE rn = 1
    ),
    sp AS (SELECT doc_id, {split_case} AS split FROM final),
    p AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
      FROM wfp a JOIN wfp b ON a.h = b.h AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT p.doc_a, p.doc_b, p.n_shared,
           sa.split AS split_a, sb.split AS split_b,
           CAST(sa.split <> sb.split AS INTEGER) AS cross_split
    FROM p
    JOIN sp sa ON sa.doc_id = p.doc_a
    JOIN sp sb ON sb.doc_id = p.doc_b
    ORDER BY p.n_shared DESC, p.doc_a ASC, p.doc_b ASC
    LIMIT 20
    """


@register("training_data_pipeline_overlap", oracle=_pipeline_overlap_sql())
def q_training_data_pipeline_overlap(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The MOSS overlap report as the pipeline's consumer-facing output:
    run the SAME quality → exact dedup → LSH cascade as
    ``training_data_pipeline``, then winnow-fingerprint the SURVIVORS and
    report the top-20 overlapping pairs with their split assignments —
    ``cross_split=1`` rows are residual train/val/test leakage the
    near-dup threshold let through (exactly what a practitioner audits
    before a training run). Winnowing per Schleimer/Wilkerson/Aiken 2003.

    Scale shape preserved from the 5-stage cascade: the added stages are a
    map-only fingerprint build, one content-uniform shuffle on the
    fingerprint hash (distinct-hash projection bounds the self-join fanout
    at ~2/(w+1) density), and two doc_id-key joins to attach splits."""
    # the cascade output feeds THREE consumers (fingerprint build + two
    # split-attach joins) and the fingerprint frame feeds its own self-join
    # twice — without materialization the LSH stage (the cascade's dominant
    # cost) re-executes per consumer. Same boundary discipline as
    # _pipeline_final's d1: at 100 TB substitute a persisted table.
    final = _pipeline_final(spark, sf_dir).localCheckpoint()
    fp = (
        T.winnowing_fingerprints(final, w=_PIPE_WIN_W)
        .select("doc_id", "h")
        .distinct()
        .localCheckpoint()
    )
    a = fp.select(F.col("doc_id").alias("doc_a"), "h")
    b = fp.select(F.col("doc_id").alias("doc_b"), "h")
    pairs = (
        a.join(b, "h")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_shared"))
    )
    splits = SA.hash_split(
        final, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}, salt=_SPLIT_SALT
    ).select("doc_id", "split")
    return (
        pairs.join(
            splits.select(
                F.col("doc_id").alias("doc_a"), F.col("split").alias("split_a")
            ),
            "doc_a",
        )
        .join(
            splits.select(
                F.col("doc_id").alias("doc_b"), F.col("split").alias("split_b")
            ),
            "doc_b",
        )
        .withColumn(
            "cross_split", (F.col("split_a") != F.col("split_b")).cast("int")
        )
        .orderBy(F.col("n_shared").desc(), F.col("doc_a"), F.col("doc_b"))
        .limit(20)
        .select(
            "doc_a", "doc_b", "n_shared", "split_a", "split_b", "cross_split"
        )
    )


@register(
    "dedup_clusters",
    oracle=f"""
    WITH RECURSIVE {_minhash_pairs_cte(_MH_PROD_BANDS, _MH_PROD_ROWS, _MH_PROD_THRESHOLD, "documents")},
    sym AS (
      SELECT doc_a AS a, doc_b AS b FROM mh_pairs
      UNION ALL
      SELECT doc_b AS a, doc_a AS b FROM mh_pairs
    ),
    walk(v, label) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT s.b, w.label FROM walk w JOIN sym s ON s.a = w.v
    )
    SELECT v AS doc_id, MIN(label) AS cluster_id
    FROM walk GROUP BY v ORDER BY doc_id
    """,
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive dedup clusters over the production-config MinHash pairs:
    min-label propagation to the fixpoint (operators/graph.py) — the exact
    closure the pipeline's drop-larger-of-pair rule approximates. Every doc
    gets a cluster_id = min doc_id of its component (singletons keep their
    own id). The oracle reaches the same fixpoint by recursive CTE — the
    labeling is order-independent, so iterative Spark and recursive SQL
    must agree exactly."""
    from network_iq_spark.operators import graph as G

    docs = load_table(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(
        docs,
        threshold=_MH_PROD_THRESHOLD,
        n_bands=_MH_PROD_BANDS,
        rows_per_band=_MH_PROD_ROWS,
    )
    return G.connected_components(
        docs.select("doc_id"), pairs, id_col="doc_id", src="doc_a", dst="doc_b"
    ).orderBy("doc_id")


@register(
    "cluster_keep_best",
    oracle=f"""
    WITH RECURSIVE {_minhash_pairs_cte(_MH_PROD_BANDS, _MH_PROD_ROWS, _MH_PROD_THRESHOLD, "documents")},
    sym AS (
      SELECT doc_a AS a, doc_b AS b FROM mh_pairs
      UNION ALL
      SELECT doc_b AS a, doc_a AS b FROM mh_pairs
    ),
    walk(v, label) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT s.b, w.label FROM walk w JOIN sym s ON s.a = w.v
    ),
    clusters AS (
      SELECT v AS doc_id, MIN(label) AS cluster_id FROM walk GROUP BY v
    ),
    quality AS ({_QUALITY_CORE}),
    ranked AS (
      SELECT c.cluster_id, c.doc_id, q.quality_score,
             ROW_NUMBER() OVER (PARTITION BY c.cluster_id
               ORDER BY q.quality_score DESC, c.doc_id ASC) AS rk,
             COUNT(*) OVER (PARTITION BY c.cluster_id) AS cluster_size
      FROM clusters c JOIN quality q ON q.doc_id = c.doc_id
    )
    SELECT cluster_id, doc_id AS keeper, quality_score AS keeper_score,
           CAST(cluster_size AS BIGINT) AS cluster_size
    FROM ranked WHERE rk = 1 ORDER BY cluster_id
    """,
)
def q_cluster_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-representative selection POLICY over the transitive
    near-dup clusters: keep each cluster's HIGHEST-quality member
    (quality_score DESC, doc_id tie-break) instead of the smallest id —
    the decision production pipelines actually make (crawl order is an
    accident; quality is the asset). Composes three existing stages
    (MinHash-LSH pairs → connected components → quality scores) with one
    window over cluster_id; the sort is bounded by the largest near-dup
    family, never the corpus. The quality double is a deterministic
    integer-ratio chain, so cross-engine ordering (and therefore the
    keeper choice) is exact."""
    from network_iq_spark.operators import graph as G

    docs = load_table(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(
        docs,
        threshold=_MH_PROD_THRESHOLD,
        n_bands=_MH_PROD_BANDS,
        rows_per_band=_MH_PROD_ROWS,
    )
    clusters = G.connected_components(
        docs.select("doc_id"), pairs, id_col="doc_id", src="doc_a", dst="doc_b"
    )
    return D.keep_best_per_cluster(clusters, T.quality_score(docs)).orderBy(
        "cluster_id"
    )


_SIMHASH60_BITS, _SIMHASH60_MAX_HAMMING = 60, 3


@register(
    "simhash60_pairs",
    oracle=_simhash_sql(_SIMHASH60_MAX_HAMMING, _SIMHASH60_BITS),
)
def q_simhash60_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash near-dup pairs via segment blocking (d=3 → 4 segments
    of 15 bits). The crawl-scale config: 32-bit fingerprints saturate on
    shared-vocabulary corpora (6% of ALL pairs land within distance 2 on
    this testdata); at 60 bits the distance ≤ 3 set is a meaningful
    candidate list, and 15-bit segments keep the block join selective.
    60 = 15 md5 hex digits — the widest prefix whose integer stays exact in
    a signed int64 on both engines. Oracle is the brute-force semantic
    (every pair), engine runs the blocked plan — same lossless-rewrite
    proof pattern as events_in_windows."""
    docs = load_table(spark, sf_dir, "documents")
    return D.simhash_pairs_blocked(
        docs,
        max_hamming=_SIMHASH60_MAX_HAMMING,
        n_bits=_SIMHASH60_BITS,
    ).orderBy("doc_a", "doc_b")


@register(
    "unigram_surprisal",
    oracle=f"""
    WITH toks AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
                  FROM documents),
    vocab AS (SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok),
    tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM vocab),
    scored AS (
      SELECT t.doc_id,
             CAST(FLOOR(-ln(CAST(v.cnt AS DOUBLE) / CAST(tot.total AS DOUBLE))
                        * {T.SURPRISAL_QUANT}.0) AS BIGINT) AS mnats
      FROM toks t JOIN vocab v USING (tok) CROSS JOIN tot
    )
    SELECT doc_id,
           COUNT(*) AS n_tokens,
           CAST(SUM(mnats) AS BIGINT) AS surprisal_mnats,
           CAST(SUM(mnats) AS DOUBLE) / COUNT(*) AS avg_surprisal_mnats
    FROM scored GROUP BY doc_id ORDER BY doc_id
    """,
)
def q_unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM mean-surprisal quality scoring (CCNet-style perplexity
    filter with the corpus as its own LM); integer milli-nat quantization
    keeps the per-doc sums bit-deterministic across engines."""
    docs = load_table(spark, sf_dir, "documents")
    return T.unigram_surprisal(docs)


_CHUNK_ND_THRESHOLD = 0.5
_CHUNK_ID_BASE = 10_000
_CHUNK_ND_MAX_BUCKET = 3


def _chunk_nd_oracle(max_bucket_size: int | None = None) -> str:
    return f"""
    WITH cbase AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
      FROM documents
    ),
    csized AS (
      SELECT doc_id, t, CAST(CEIL(len(t) / {D.CHUNK_TOKENS}.0) AS INT) AS n_chunks
      FROM cbase WHERE len(t) > 0
    ),
    cchunks AS (
      SELECT doc_id * {_CHUNK_ID_BASE} + (i - 1) AS doc_id,
             array_to_string(t[(i-1)*{D.CHUNK_TOKENS}+1 : i*{D.CHUNK_TOKENS}], ' ') AS text
      FROM csized, unnest(generate_series(1, n_chunks)) AS u(i)
    ),
    {_minhash_pairs_cte(_MH_BANDS, _MH_ROWS, _CHUNK_ND_THRESHOLD, "cchunks", max_bucket_size=max_bucket_size)}
    SELECT doc_a AS chunk_a, doc_b AS chunk_b,
           doc_a // {_CHUNK_ID_BASE} AS doc_a,
           doc_b // {_CHUNK_ID_BASE} AS doc_b,
           jaccard
    FROM mh_pairs
    WHERE doc_a // {_CHUNK_ID_BASE} != doc_b // {_CHUNK_ID_BASE}
    ORDER BY chunk_a, chunk_b
    """


def _chunk_nd_pairs(
    spark: SparkSession, sf_dir: str, max_bucket_size: int | None = None
) -> DataFrame:
    chunks = chunk_frame(spark, sf_dir)
    pairs = D.minhash_lsh_pairs(
        chunks,
        threshold=_CHUNK_ND_THRESHOLD,
        n_bands=_MH_BANDS,
        rows_per_band=_MH_ROWS,
        max_bucket_size=max_bucket_size,
    )
    return (
        pairs.filter(
            F.expr(f"doc_a div {_CHUNK_ID_BASE} != doc_b div {_CHUNK_ID_BASE}")
        )
        .select(
            F.col("doc_a").alias("chunk_a"),
            F.col("doc_b").alias("chunk_b"),
            F.expr(f"doc_a div {_CHUNK_ID_BASE}").alias("doc_a"),
            F.expr(f"doc_b div {_CHUNK_ID_BASE}").alias("doc_b"),
            "jaccard",
        )
        .orderBy("chunk_a", "chunk_b")
    )


@register("chunk_near_dup_pairs", oracle=_chunk_nd_oracle())
def q_chunk_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-grain NEAR-dup across documents (r9) — the fuzzy sibling of
    chunk_dedup's exact first-occurrence pass: 20-token chunks become
    LSH documents (chunk_id = doc_id·10000 + idx; injective only while
    idx < _CHUNK_ID_BASE, i.e. docs under ~200k tokens — the encoding
    raises past the bound rather than mislabel attribution), the same
    MinHash→band→verify pipeline runs at chunk grain, and only
    CROSS-document pairs survive — templated boilerplate that repeats
    across pages with small edits (dates, ids), which exact chunk dedup
    misses and doc-grain MinHash dilutes below threshold. One operator,
    two grains: minhash_lsh_pairs is reused verbatim with the chunk
    frame as its corpus (within-doc repetition is repetition_stats'
    job). Scale: chunk fanout is ceil(m/20) map-side; everything after
    is the measured LSH path — chunk grain IS the hot-bucket regime
    (soak exponent 0.81 uncapped), so the production run sets the cap:
    that configuration is the oracle-paired ``chunk_near_dup_pairs_capped``
    twin below."""
    return _chunk_nd_pairs(spark, sf_dir)


@register(
    "chunk_near_dup_pairs_capped",
    oracle=_chunk_nd_oracle(max_bucket_size=_CHUNK_ND_MAX_BUCKET),
)
def q_chunk_near_dup_pairs_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-grain LSH with the hot-bucket guard ON (r10, VERDICT item 4):
    identical plan to ``chunk_near_dup_pairs`` but band buckets larger
    than ``_CHUNK_ND_MAX_BUCKET`` chunks are dropped from candidate
    generation BEFORE the self-join — at chunk grain short templated
    chunks collapse into few distinct shingle sets, exactly the
    degenerate-bucket regime the r9 soak measured at exponent 0.81, and
    the cap is what bounds a viral boilerplate bucket to O(cap²) pairs
    instead of O(|B|²). Same attribution rule as
    ``minhash_lsh_pairs_capped``: a pair survives iff its globally-first
    matching band is an under-cap bucket — replayed exactly by the SQL
    twin."""
    return _chunk_nd_pairs(spark, sf_dir, max_bucket_size=_CHUNK_ND_MAX_BUCKET)


@register(
    "chunk_dedup",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
      FROM documents
    ),
    sized AS (
      SELECT doc_id, t, CAST(CEIL(len(t) / {D.CHUNK_TOKENS}.0) AS INT) AS n_chunks
      FROM base WHERE len(t) > 0
    ),
    chunks AS (
      SELECT doc_id, n_chunks,
             i - 1 AS chunk_idx,
             array_to_string(t[(i-1)*{D.CHUNK_TOKENS}+1 : i*{D.CHUNK_TOKENS}], ' ') AS chunk_text
      FROM sized, unnest(generate_series(1, n_chunks)) AS u(i)
    ),
    kept AS (
      SELECT * FROM (
        SELECT doc_id, n_chunks, chunk_idx, chunk_text,
               ROW_NUMBER() OVER (PARTITION BY chunk_text
                                  ORDER BY doc_id, chunk_idx) AS rn
        FROM chunks
      ) WHERE rn = 1
    )
    SELECT doc_id,
           MIN(n_chunks) AS n_chunks,
           COUNT(*) AS kept_chunks,
           string_agg(chunk_text, ' ' ORDER BY chunk_idx) AS dedup_text
    FROM kept GROUP BY doc_id ORDER BY doc_id
    """,
)
def q_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document chunk-grain dedup (RefinedWeb line-dedup shape): keep
    the corpus-wide first occurrence of every 20-token chunk and reassemble
    documents from their surviving chunks."""
    docs = load_table(spark, sf_dir, "documents")
    return D.chunk_dedup(docs)


_LANG_SAMPLE_K = 5


@register(
    "lang_sample_k",
    oracle=f"""
    SELECT doc_id, lang FROM (
      SELECT doc_id, lang,
             ROW_NUMBER() OVER (
               PARTITION BY lang
               ORDER BY {_sql_hex_int("substr(md5(CAST(doc_id AS VARCHAR) || 'spot'), 1, 12)", 12)} ASC,
                        doc_id ASC
             ) AS rk
      FROM documents
    ) WHERE rk <= {_LANG_SAMPLE_K}
    ORDER BY lang, doc_id
    """,
)
def q_lang_sample_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-per-group sampling (operators/sampling.py
    sample_k_per_group): exactly min(k, |group|) docs per language, chosen
    by id hash — the reproducible replacement for per-group reservoir
    sampling (balanced eval subsets / per-domain spot checks)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        SA.sample_k_per_group(docs, "lang", "doc_id", _LANG_SAMPLE_K, salt="spot")
        .select("doc_id", "lang")
        .orderBy("lang", "doc_id")
    )


@register(
    "vocab_coverage",
    oracle=f"""
    WITH toks AS (SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
                  FROM documents),
    counts AS (SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok),
    tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM counts),
    ranked AS (
      SELECT tok, cnt,
             ROW_NUMBER() OVER (ORDER BY cnt DESC, tok ASC) AS rank,
             CAST(SUM(cnt) OVER (ORDER BY cnt DESC, tok ASC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cum_cnt
      FROM counts
    )
    SELECT rank, tok, cnt, cum_cnt,
           CAST(cum_cnt AS DOUBLE) / (SELECT total FROM tot) AS coverage
    FROM ranked ORDER BY rank LIMIT 30
    """,
)
def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve — the tokenizer-building first step: token
    frequencies ranked with cumulative corpus coverage (what fraction of
    all tokens the top-k vocab explains). Scale shape: the only
    corpus-sized work is the combinable frequency groupBy; the top-30
    candidates come off it via TakeOrderedAndProject (never a global
    sort), and rank + cumulative counts are a 30×30 broadcast triangle
    self-join — NO unpartitioned window anywhere, the same
    agg-grain-self-join idiom as centered_mavg_volume. Integer cumulative
    counts ⇒ the coverage doubles are one exact division each."""
    from network_iq_spark.operators.topk import top_k

    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(T.tokens("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("cnt"))
    )
    total = counts.agg(F.sum("cnt").cast("bigint").alias("total"))
    top = top_k(counts, [("cnt", True)], 30, tiebreak=["tok"])
    a = top.select(F.col("tok").alias("tok"), F.col("cnt").alias("cnt"))
    b = top.select(F.col("tok").alias("tok_b"), F.col("cnt").alias("cnt_b"))
    before_or_eq = (F.col("cnt_b") > F.col("cnt")) | (
        (F.col("cnt_b") == F.col("cnt")) & (F.col("tok_b") <= F.col("tok"))
    )
    ranked = (
        a.join(F.broadcast(b), before_or_eq)
        .groupBy("tok", "cnt")
        .agg(
            F.count("*").alias("rank"),
            F.sum("cnt_b").cast("bigint").alias("cum_cnt"),
        )
    )
    return (
        ranked.crossJoin(F.broadcast(total))
        .select(
            F.col("rank").cast("int").alias("rank"),
            "tok",
            "cnt",
            "cum_cnt",
            (F.col("cum_cnt").cast("double") / F.col("total")).alias("coverage"),
        )
        .orderBy("rank")
    )


_CONTAIN_THRESHOLD = 0.6


@register(
    "containment_top_pairs",
    oracle=f"""
    WITH {{JC}}
    , directed AS (
      SELECT i.doc_a AS doc_src, i.doc_b AS doc_dst,
             CAST(i.inter AS DOUBLE) / sa.sz AS containment
      FROM inter i
      JOIN sizes sa ON i.doc_a = sa.doc_id
      UNION ALL
      SELECT i.doc_b, i.doc_a,
             CAST(i.inter AS DOUBLE) / sb.sz
      FROM inter i
      JOIN sizes sb ON i.doc_b = sb.doc_id
    )
    SELECT doc_src, doc_dst, containment
    FROM directed WHERE containment >= {_CONTAIN_THRESHOLD}
    ORDER BY containment DESC, doc_src ASC, doc_dst ASC LIMIT 100
    """.replace("{JC}", _JACCARD_CAPPED),
)
def q_containment_top_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed containment near-dup (C(src→dst) = |src∩dst|/|src|): the
    asymmetric complement of jaccard_top_pairs — catches a short document
    embedded in a long one (quote/excerpt/boilerplate wrap), which Jaccard
    structurally cannot see. Same capped candidates + exact verification
    (operators/dedup.py containment_pairs_capped)."""
    docs = load_table(spark, sf_dir, "documents")
    sh = D.shingles(docs)
    pairs = D.containment_pairs_capped(
        sh, threshold=_CONTAIN_THRESHOLD, max_df=_JACCARD_MAX_DF
    )
    return pairs.orderBy(
        F.col("containment").desc(), F.col("doc_src").asc(), F.col("doc_dst").asc()
    ).limit(100)
