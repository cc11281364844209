"""Incremental (continual-ingest) queries: batch-vs-at-rest exact and
near dedup, embedding/vocab drift, incremental ANN, LSH quality audit,
dataset card, BPE training, count-min heavy hitters. Split out of
llmdata.py in r10.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from network_iq_spark.operators import dedup as D
from network_iq_spark.operators import sampling as SA
from network_iq_spark.operators import text as T
from network_iq_spark.functions import sql_davg as _sql_davg
from network_iq_spark.operators import similarity as S
from network_iq_spark.registry import register
from network_iq_spark.sources import load_table

from network_iq_spark.queries._fragments import (  # noqa: F401
    _CHUNK_ID_BASE,
    _CHUNK_TOKS_SQL,
    chunk_frame,
    _IVFD_CELLS,
    _IVFD_GROUPS,
    _IVFD_K,
    _IVFD_NPROBE,
    _IVFD_SCALE,
    _JACCARD_CAPPED,
    _JACCARD_MAX_DF,
    _MH_BANDS,
    _MH_PROD_BANDS,
    _MH_PROD_ROWS,
    _MH_PROD_THRESHOLD,
    _MH_ROWS,
    _MINHASH_P,
    _QUALITY_CORE,
    _SHINGLES,
    _SPLIT_HEX,
    _SPLIT_SALT,
    _TOKS,
    _ivf_dist_sql,
    _minhash_pairs_cte,
    _sql_hex_int,
)

# ---------------------------------------------------------------------------
# Incremental (continual-ingest) dedup: batch vs at-rest history
# ---------------------------------------------------------------------------

_INC_SPLIT = 250  # doc_id < split = at-rest history; >= split = incoming batch
_INC_THRESHOLD = 0.2


@register(
    "incremental_exact_dedup",
    oracle=rf"""
    WITH fp AS (
      SELECT doc_id,
             md5(regexp_replace(trim(lower(text)), '[ \t\n\r\f\x0b]+', ' ', 'g')) AS fingerprint
      FROM documents
    ),
    fresh AS (
      SELECT i.* FROM fp i
      WHERE i.doc_id >= {_INC_SPLIT}
        AND NOT EXISTS (SELECT 1 FROM fp h
                        WHERE h.doc_id < {_INC_SPLIT}
                          AND h.fingerprint = i.fingerprint)
    )
    SELECT fingerprint, MIN(doc_id) AS keeper, COUNT(*) AS n_docs
    FROM fresh GROUP BY 1 ORDER BY fingerprint
    """,
)
def q_incremental_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continual-ingest exact dedup (operators/dedup.py
    incremental_exact_dedup): the incoming batch (doc_id ≥ 250) survives
    only where its fingerprint is absent from the at-rest history
    (doc_id < 250) and it is the min-id of its within-batch group — one
    anti-join against the history fingerprint table + one batch-local
    groupBy, O(batch) not O(history) per ingest cycle."""
    docs = load_table(spark, sf_dir, "documents")
    fps = T.fingerprint(docs)
    history = fps.filter(F.col("doc_id") < _INC_SPLIT)
    incoming = fps.filter(F.col("doc_id") >= _INC_SPLIT)
    return D.incremental_exact_dedup(incoming, history).orderBy("fingerprint")


def _incremental_minhash_sql(
    n_bands: int,
    rows_per_band: int,
    threshold: float,
    split: int,
    shingles_sql: str | None = None,
) -> str:
    if shingles_sql is None:
        shingles_sql = _SHINGLES
    n_hashes = n_bands * rows_per_band
    mins = ",\n      ".join(
        f"MIN(({2 * i + 1} * h + {7 * i + 3}) % {_MINHASH_P}) AS m{i}"
        for i in range(n_hashes)
    )
    band_selects = []
    for b in range(n_bands):
        cols = " || '|' || ".join(
            f"CAST(m{b * rows_per_band + j} AS VARCHAR)"
            for j in range(rows_per_band)
        )
        band_selects.append(
            f"SELECT doc_id, {b} AS band, md5({cols}) AS bucket FROM sig"
        )
    bands_sql = "\n      UNION ALL\n      ".join(band_selects)
    return f"""
    WITH sh AS ({shingles_sql}),
    hashed AS (
      SELECT doc_id, {_sql_hex_int("substr(md5(shingle), 1, 12)", 12)} AS h
      FROM sh
    ),
    sig AS (
      SELECT doc_id,
      {mins}
      FROM hashed GROUP BY doc_id
    ),
    sets AS (
      SELECT doc_id, list(DISTINCT h) AS hs, COUNT(DISTINCT h) AS sz
      FROM hashed GROUP BY doc_id
    ),
    bb AS (
      {bands_sql}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS new_doc, b.doc_id AS old_doc
      FROM bb a JOIN bb b
        ON a.band = b.band AND a.bucket = b.bucket
       AND a.doc_id >= {split} AND b.doc_id < {split}
    )
    SELECT new_doc, old_doc, jaccard FROM (
      SELECT c.new_doc, c.old_doc,
             CAST(len(list_intersect(sa.hs, sb.hs)) AS DOUBLE)
               / (sa.sz + sb.sz - len(list_intersect(sa.hs, sb.hs))) AS jaccard
      FROM cand c
      JOIN sets sa ON sa.doc_id = c.new_doc
      JOIN sets sb ON sb.doc_id = c.old_doc
    )
    WHERE jaccard >= {threshold}
    ORDER BY new_doc, old_doc
    """


@register(
    "incremental_near_dup",
    oracle=_incremental_minhash_sql(_MH_BANDS, _MH_ROWS, _INC_THRESHOLD, _INC_SPLIT),
)
def q_incremental_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup detection of the incoming batch (doc_id ≥ 250) AGAINST the
    at-rest LSH index of the history (doc_id < 250) — operators/dedup.py
    lsh_index + incremental_near_dup. Band-bucket collisions between batch
    and index generate candidates (cost O(batch × collision rate), never
    O(history)); exact Jaccard over the persisted hash sets verifies. In a
    deployment the index's two artifacts are bucketed tables on
    (band, bucket) and doc_id, making the candidate join exchange-free on
    the index side."""
    docs = load_table(spark, sf_dir, "documents")
    history = docs.filter(F.col("doc_id") < _INC_SPLIT)
    incoming = docs.filter(F.col("doc_id") >= _INC_SPLIT)
    idx_bands, idx_sets = D.lsh_index(
        history, n_bands=_MH_BANDS, rows_per_band=_MH_ROWS
    )
    return D.incremental_near_dup(
        incoming,
        idx_bands,
        idx_sets,
        threshold=_INC_THRESHOLD,
        n_bands=_MH_BANDS,
        rows_per_band=_MH_ROWS,
    ).orderBy("new_doc", "old_doc")


_INC_CHUNK_THRESHOLD = 0.5
_CHUNK_SHINGLES_SQL = f"""
  SELECT doc_id, unnest(list_distinct(list_transform(
           generate_series(1, len(t) - 2),
           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS shingle
  FROM ({_CHUNK_TOKS_SQL}) WHERE len(t) >= 3
"""


@register(
    "incremental_chunk_near_dup",
    oracle=f"""
    SELECT new_doc AS new_chunk, old_doc AS old_chunk,
           new_doc // {_CHUNK_ID_BASE} AS new_doc,
           old_doc // {_CHUNK_ID_BASE} AS old_doc,
           jaccard
    FROM ({_incremental_minhash_sql(
        _MH_BANDS, _MH_ROWS, _INC_CHUNK_THRESHOLD,
        _INC_SPLIT * _CHUNK_ID_BASE, shingles_sql=_CHUNK_SHINGLES_SQL,
    )})
    ORDER BY new_chunk, old_chunk
    """,
)
def q_incremental_chunk_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup at CHUNK grain (r10) — the continual-ingest
    form of chunk_near_dup_pairs, completing the incremental symmetry
    across grains: the at-rest LSH index is built over the HISTORY's
    20-token chunks (parent doc_id < {split}; chunk_id = doc_id·BASE +
    idx makes the parent split a plain chunk-id range), and the incoming
    batch's chunks probe it via band-bucket collisions + exact-Jaccard
    verify — O(batch chunks × collision rate), never O(history). This is
    the templated-boilerplate detector a crawl pipeline runs PER BATCH:
    a new page sharing a near-identical paragraph with any at-rest page
    surfaces here even when doc-grain MinHash dilutes the overlap below
    threshold. Output carries both the chunk pair and the parent-doc
    attribution. Same artifacts as the doc-grain tier (lsh_index bands/
    sets, bucketed on (band, bucket) in a deployment)."""
    chunks = chunk_frame(spark, sf_dir)
    split = _INC_SPLIT * _CHUNK_ID_BASE
    history = chunks.filter(F.col("doc_id") < split)
    incoming = chunks.filter(F.col("doc_id") >= split)
    idx_bands, idx_sets = D.lsh_index(
        history, n_bands=_MH_BANDS, rows_per_band=_MH_ROWS
    )
    pairs = D.incremental_near_dup(
        incoming,
        idx_bands,
        idx_sets,
        threshold=_INC_CHUNK_THRESHOLD,
        n_bands=_MH_BANDS,
        rows_per_band=_MH_ROWS,
    )
    return pairs.select(
        F.col("new_doc").alias("new_chunk"),
        F.col("old_doc").alias("old_chunk"),
        F.expr(f"new_doc div {_CHUNK_ID_BASE}").alias("new_doc"),
        F.expr(f"old_doc div {_CHUNK_ID_BASE}").alias("old_doc"),
        "jaccard",
    ).orderBy("new_chunk", "old_chunk")


_ADMIT_MAX_DUP_PPM = 200_000  # admit a doc while ≤ 20% of its chunks are near-dups


@register(
    "chunk_overlap_admission",
    oracle=f"""
    WITH inc AS (
      SELECT doc_id // {_CHUNK_ID_BASE} AS doc_id, COUNT(*) AS n_chunks
      FROM ({_CHUNK_TOKS_SQL})
      WHERE doc_id >= {_INC_SPLIT * _CHUNK_ID_BASE}
      GROUP BY 1
    ),
    dup AS (
      SELECT new_doc // {_CHUNK_ID_BASE} AS doc_id,
             COUNT(DISTINCT new_doc) AS n_dup_chunks
      FROM ({_incremental_minhash_sql(
        _MH_BANDS, _MH_ROWS, _INC_CHUNK_THRESHOLD,
        _INC_SPLIT * _CHUNK_ID_BASE, shingles_sql=_CHUNK_SHINGLES_SQL,
    )})
      GROUP BY 1
    )
    SELECT inc.doc_id,
           CAST(inc.n_chunks AS BIGINT) AS n_chunks,
           CAST(COALESCE(dup.n_dup_chunks, 0) AS BIGINT) AS n_dup_chunks,
           (1000000 * CAST(COALESCE(dup.n_dup_chunks, 0) AS BIGINT))
             // inc.n_chunks AS dup_ppm,
           (1000000 * CAST(COALESCE(dup.n_dup_chunks, 0) AS BIGINT))
             <= {_ADMIT_MAX_DUP_PPM} * inc.n_chunks AS admitted
    FROM inc LEFT JOIN dup USING (doc_id)
    ORDER BY inc.doc_id
    """,
)
def q_chunk_overlap_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document ADMISSION by chunk-overlap rate (r10) — the decision
    layer a continual-ingest pipeline runs on top of the chunk tier (the
    RefinedWeb/line-dedup admission shape): an incoming document is
    admitted while at most 20 % of its 20-token chunks near-match the
    at-rest corpus; above that it is mostly recycled boilerplate even
    when no single doc-grain near-dup exists. Counts distinct MATCHED
    chunks (a chunk colliding with many history chunks is still one
    duplicated chunk of this doc), the ratio is integer ppm so the
    admission bit is engine-exact (1e6·dups ≤ thr·n_chunks — no float
    division on the decision path), and every incoming doc with ≥ 1
    token appears (left join; zero-dup docs admit trivially). Cost is
    the incremental chunk probe + two doc-grain aggregates."""
    chunks = chunk_frame(spark, sf_dir)
    split = _INC_SPLIT * _CHUNK_ID_BASE
    history = chunks.filter(F.col("doc_id") < split)
    incoming = chunks.filter(F.col("doc_id") >= split)
    idx_bands, idx_sets = D.lsh_index(
        history, n_bands=_MH_BANDS, rows_per_band=_MH_ROWS
    )
    pairs = D.incremental_near_dup(
        incoming,
        idx_bands,
        idx_sets,
        threshold=_INC_CHUNK_THRESHOLD,
        n_bands=_MH_BANDS,
        rows_per_band=_MH_ROWS,
    )
    inc = incoming.select(
        F.expr(f"doc_id div {_CHUNK_ID_BASE}").alias("doc_id")
    ).groupBy("doc_id").agg(F.count("*").cast("bigint").alias("n_chunks"))
    dup = (
        pairs.select(
            F.expr(f"new_doc div {_CHUNK_ID_BASE}").alias("doc_id"), "new_doc"
        )
        .groupBy("doc_id")
        .agg(F.countDistinct("new_doc").cast("bigint").alias("n_dup_chunks"))
    )
    return (
        inc.join(dup, "doc_id", "left")
        .select(
            "doc_id",
            "n_chunks",
            F.coalesce(F.col("n_dup_chunks"), F.lit(0)).cast("bigint").alias(
                "n_dup_chunks"
            ),
        )
        .select(
            "doc_id",
            "n_chunks",
            "n_dup_chunks",
            F.expr("(1000000 * n_dup_chunks) div n_chunks").alias("dup_ppm"),
            F.expr(
                f"1000000 * n_dup_chunks <= {_ADMIT_MAX_DUP_PPM} * n_chunks"
            ).alias("admitted"),
        )
        .orderBy("doc_id")
    )


_DRIFT_SPLIT, _DRIFT_SCALE = 250, "1000.0"


@register(
    "embedding_drift",
    oracle=f"""
    WITH q AS (
      SELECT vec_id, label,
             list_transform(embedding::DOUBLE[],
                            x -> CAST(floor(x * {_DRIFT_SCALE} + 0.5) AS BIGINT)) AS v
      FROM embeddings
    ),
    dims AS (
      SELECT label, generate_subscripts(v, 1) AS dim, unnest(v) AS val,
             vec_id < {_DRIFT_SPLIT} AS is_ref, vec_id
      FROM q
    ),
    per_dim AS (
      SELECT label, dim,
             SUM(CASE WHEN is_ref THEN val ELSE 0 END) AS s_ref,
             SUM(CASE WHEN is_ref THEN 0 ELSE val END) AS s_cur
      FROM dims GROUP BY label, dim
    ),
    counts AS (
      SELECT label,
             CAST(SUM(CASE WHEN vec_id < {_DRIFT_SPLIT} THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
             CAST(SUM(CASE WHEN vec_id >= {_DRIFT_SPLIT} THEN 1 ELSE 0 END) AS BIGINT) AS n_cur
      FROM q GROUP BY label
    )
    SELECT p.label AS label, c.n_ref, c.n_cur,
           CAST(SUM(s_ref * s_cur) AS DOUBLE)
             / (sqrt(CAST(SUM(s_ref * s_ref) AS DOUBLE))
                * sqrt(CAST(SUM(s_cur * s_cur) AS DOUBLE))) AS centroid_cos
    FROM per_dim p JOIN counts c ON c.label = p.label
    GROUP BY p.label, c.n_ref, c.n_cur
    ORDER BY p.label
    """,
)
def q_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-distribution drift between a reference window (vec_id <
    250) and the current window: per label, the cosine between the two
    windows' mean embedding directions plus both counts — the cheap
    always-on monitor that catches encoder swaps, upstream preprocessing
    changes, and topic shift before they poison a training run (centroid
    cosine ≈ 1 means stable; a drop flags the label for a deeper look).

    Determinism: embeddings quantize to integer-valued units (floor
    x·1e3+0.5); per-dimension sums are exact integers and the cosine uses
    unscaled sums directly (mean = sum/n cancels in cosine), so both
    engines compute identical doubles. Shape: one posexplode → one
    (label, dim) partial-agg shuffle (64 dims × labels rows) → one
    label-grain rollup; counts ride a separate label-grain aggregate of
    the unexploded frame."""
    emb = load_table(spark, sf_dir, "embeddings")
    quant = F.expr(
        f"transform(embedding, x -> cast(floor(cast(x as double) * {_DRIFT_SCALE}"
        " + 0.5) as bigint))"
    )
    q = emb.select("vec_id", "label", quant.alias("v"))
    dims = q.select(
        "label",
        (F.col("vec_id") < _DRIFT_SPLIT).alias("is_ref"),
        F.posexplode("v").alias("dim0", "val"),
    )
    per_dim = dims.groupBy("label", "dim0").agg(
        F.sum(F.when(F.col("is_ref"), F.col("val")).otherwise(F.lit(0))).alias("s_ref"),
        F.sum(F.when(F.col("is_ref"), F.lit(0)).otherwise(F.col("val"))).alias("s_cur"),
    )
    counts = q.groupBy("label").agg(
        F.sum(F.when(F.col("vec_id") < _DRIFT_SPLIT, 1).otherwise(0))
        .cast("bigint")
        .alias("n_ref"),
        F.sum(F.when(F.col("vec_id") >= _DRIFT_SPLIT, 1).otherwise(0))
        .cast("bigint")
        .alias("n_cur"),
    )
    return (
        per_dim.groupBy("label")
        .agg(
            F.sum(F.col("s_ref") * F.col("s_cur")).alias("dot"),
            F.sum(F.col("s_ref") * F.col("s_ref")).alias("r2"),
            F.sum(F.col("s_cur") * F.col("s_cur")).alias("c2"),
        )
        .join(F.broadcast(counts), "label")
        .select(
            "label",
            "n_ref",
            "n_cur",
            (
                F.col("dot").cast("double")
                / (F.sqrt(F.col("r2").cast("double")) * F.sqrt(F.col("c2").cast("double")))
            ).alias("centroid_cos"),
        )
        .orderBy("label")
    )


@register(
    "vocab_drift_top_movers",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(t) AS term FROM ({_TOKS})
    ),
    counts AS (
      SELECT term,
             CAST(SUM(CASE WHEN doc_id < {_DRIFT_SPLIT} THEN 1 ELSE 0 END) AS BIGINT) AS tf_ref,
             CAST(SUM(CASE WHEN doc_id >= {_DRIFT_SPLIT} THEN 1 ELSE 0 END) AS BIGINT) AS tf_cur
      FROM tok GROUP BY term
    ),
    totals AS (
      SELECT SUM(tf_ref) AS n_ref, SUM(tf_cur) AS n_cur FROM counts
    )
    SELECT term, tf_ref, tf_cur, delta_rate FROM (
      SELECT c.term, c.tf_ref, c.tf_cur,
             abs(c.tf_ref * t.n_cur - c.tf_cur * t.n_ref) AS num,
             CAST(abs(c.tf_ref * t.n_cur - c.tf_cur * t.n_ref) AS DOUBLE)
               / (t.n_ref * t.n_cur) AS delta_rate,
             ROW_NUMBER() OVER (
               ORDER BY abs(c.tf_ref * t.n_cur - c.tf_cur * t.n_ref) DESC,
                        c.term ASC) AS rk
      FROM counts c CROSS JOIN totals t
    ) WHERE rk <= 20 ORDER BY delta_rate DESC, term
    """,
)
def q_vocab_drift_top_movers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary drift between the reference window (doc_id < 250) and
    the current window: the 20 terms whose unigram RATE moved most —
    |tf_ref/N_ref − tf_cur/N_cur| ranked by the exact integer
    cross-multiplication |tf_ref·N_cur − tf_cur·N_ref| (no float compare
    anywhere in the ORDER, so the ranking is bit-deterministic; the
    reported delta divides once at the end). The text-side sibling of
    `embedding_drift` — together they catch topic shift whether or not an
    encoder is in the loop. Shape: one token shuffle with map-side
    combine, a 2-scalar broadcast, vocabulary-sized top-k."""
    docs = load_table(spark, sf_dir, "documents")
    toks = T.tokens("text")
    tok = docs.select("doc_id", F.explode(toks).alias("term"))
    counts = tok.groupBy("term").agg(
        F.sum(F.when(F.col("doc_id") < _DRIFT_SPLIT, 1).otherwise(0)).alias("tf_ref"),
        F.sum(F.when(F.col("doc_id") >= _DRIFT_SPLIT, 1).otherwise(0)).alias("tf_cur"),
    )
    totals = counts.agg(
        F.sum("tf_ref").alias("n_ref"), F.sum("tf_cur").alias("n_cur")
    )
    num = F.abs(F.col("tf_ref") * F.col("n_cur") - F.col("tf_cur") * F.col("n_ref"))
    # global top-20 via orderBy+limit — plans TakeOrderedAndProject (the
    # policy shape for bounded top-k; an unpartitioned row_number window
    # would single-task the sort and is banned by the plan tests)
    return (
        counts.crossJoin(F.broadcast(totals))
        .withColumn("num", num)
        .withColumn(
            "delta_rate",
            F.col("num").cast("double") / (F.col("n_ref") * F.col("n_cur")),
        )
        .orderBy(F.col("num").desc(), F.col("term").asc())
        .limit(20)
        .select("term", "tf_ref", "tf_cur", "delta_rate")
        .orderBy(F.col("delta_rate").desc(), "term")
    )


@register(
    "span_corruption_manifest",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, len(t) AS n_tok FROM ({_TOKS}) WHERE len(t) >= 3
    ),
    spans AS (
      SELECT doc_id, n_tok,
             greatest(1, CAST(floor(n_tok * 15 / 100 / 3) AS INT)) AS k
      FROM base
    ),
    draws AS (
      SELECT doc_id,
             list_sort(list_distinct([
               CAST({_sql_hex_int("md5(CAST(doc_id AS VARCHAR) || '#' || CAST(i AS VARCHAR))", 12)} AS BIGINT)
                 % (n_tok - 2)
               FOR i IN range(1, k + 1)])) AS starts
      FROM spans
    )
    SELECT doc_id,
           CAST(generate_subscripts(starts, 1) - 1 AS INT) AS span_id,
           unnest(starts) AS start_tok,
           3 AS span_len
    FROM draws ORDER BY doc_id, span_id
    """,
)
def q_span_corruption_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic T5/UL2 span-corruption manifest
    (operators/packing.py span_corruption_manifest): ~15% token budget in
    3-token spans whose starts derive from md5(doc_id, i) — reproducible
    across runs/engines/partitionings, map-only, fanout bounded by the
    mask budget. Overlapping draws collapse (documented budget
    approximation); the oracle replays the identical hash arithmetic."""
    from network_iq_spark.operators.packing import span_corruption_manifest

    docs = load_table(spark, sf_dir, "documents")
    return span_corruption_manifest(docs).orderBy("doc_id", "span_id")


_IANN_SPLIT, _IANN_QN = 250, 260  # history < 250; incoming batch [250, 260)


@register(
    "incremental_ann_topk",
    oracle=_ivf_dist_sql(
        f"vec_id < {_IANN_SPLIT}",
        f"vec_id >= {_IANN_SPLIT} AND vec_id < {_IANN_QN}",
    ),
)
def q_incremental_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continual-ingest ANN: the incoming embedding batch (vec_id in
    [250, 260)) searched against the AT-REST history index (vec_id < 250)
    — the embedding sibling of `incremental_near_dup`, completing the
    incremental story across both modalities. The history side builds the
    distributed two-level inverted file (ivf_assign_dist — in deployment
    a persisted table the batch only READS); incoming vectors probe the
    nprobe nearest cells and score exactly in-cell:
    O(batch × probed fraction), never O(history). Integer quantization
    keeps every stage bit-replayable by the oracle."""
    import functools

    emb = load_table(spark, sf_dir, "embeddings")
    quant = F.expr(
        f"transform(embedding, x -> floor(cast(x as double) * {_IVFD_SCALE} + 0.5))"
    )
    base = S.with_norm(emb.select("vec_id", quant.alias("v")))
    hist = base.filter(F.col("vec_id") < _IANN_SPLIT)
    incoming = base.filter(
        (F.col("vec_id") >= _IANN_SPLIT) & (F.col("vec_id") < _IANN_QN)
    )
    return S.ivf_search(
        hist,
        incoming,
        n_cells=_IVFD_CELLS,
        nprobe=_IVFD_NPROBE,
        k=_IVFD_K,
        assigner=functools.partial(
            S.ivf_assign_dist, n_groups=_IVFD_GROUPS, n_centroids=_IVFD_CELLS
        ),
    ).orderBy("q_vec_id", "rank")


_LSHQ_T = 0.7


@register(
    "lsh_quality_report",
    oracle=f"""
    WITH {_JACCARD_CAPPED},
    {_minhash_pairs_cte(_MH_PROD_BANDS, _MH_PROD_ROWS, _LSHQ_T, "documents")},
    ex AS (SELECT doc_a, doc_b FROM jac WHERE jaccard >= {_LSHQ_T}),
    mh AS (SELECT doc_a, doc_b FROM mh_pairs),
    u AS (
      SELECT COALESCE(e.doc_a, m.doc_a) AS doc_a,
             CASE WHEN e.doc_a IS NOT NULL AND m.doc_a IS NOT NULL THEN 'both'
                  WHEN e.doc_a IS NOT NULL THEN 'exact_only'
                  ELSE 'lsh_only' END AS cls
      FROM ex e FULL OUTER JOIN mh m
        ON e.doc_a = m.doc_a AND e.doc_b = m.doc_b
    )
    SELECT
      CAST(SUM(CASE WHEN cls = 'both' THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
      CAST(SUM(CASE WHEN cls = 'lsh_only' THEN 1 ELSE 0 END) AS BIGINT)
        AS n_lsh_only,
      CAST(SUM(CASE WHEN cls = 'exact_only' THEN 1 ELSE 0 END) AS BIGINT)
        AS n_exact_only,
      CASE WHEN SUM(CASE WHEN cls != 'lsh_only' THEN 1 ELSE 0 END) = 0
           THEN 1.0
           ELSE CAST(SUM(CASE WHEN cls = 'both' THEN 1 ELSE 0 END) AS DOUBLE)
                / SUM(CASE WHEN cls != 'lsh_only' THEN 1 ELSE 0 END)
      END AS lsh_recall
    FROM u
    """,
)
def q_lsh_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximation audit as a first-class QUERY: the MinHash-LSH pair
    set cross-tabulated against the capped-exact Jaccard pair set at the
    same threshold — every near-dup pipeline should ship this number
    next to its dedup stats instead of asserting recall only in tests.
    `n_lsh_only` / `n_exact_only` localize which candidate generator
    missed (band collisions vs the df-capped shingle join); `lsh_recall`
    is the headline. Two independent candidate pipelines sharing one
    corpus scan grain, a full-outer join on the pair key, one global
    aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    sh = D.shingles(docs)
    ex = D.jaccard_pairs_capped(sh, threshold=_LSHQ_T, max_df=_JACCARD_MAX_DF)
    mh = D.minhash_lsh_pairs(
        docs,
        threshold=_LSHQ_T,
        n_bands=_MH_PROD_BANDS,
        rows_per_band=_MH_PROD_ROWS,
    )
    e = ex.select("doc_a", "doc_b", F.lit(1).alias("in_ex"))
    m = mh.select("doc_a", "doc_b", F.lit(1).alias("in_mh"))
    u = e.join(m, ["doc_a", "doc_b"], "full_outer").select(
        F.when(F.col("in_ex").isNotNull() & F.col("in_mh").isNotNull(), "both")
        .when(F.col("in_ex").isNotNull(), "exact_only")
        .otherwise("lsh_only")
        .alias("cls")
    )
    n = lambda c: F.sum(F.when(F.col("cls") == c, 1).otherwise(0)).cast("bigint")  # noqa: E731
    exact_total = F.col("n_both") + F.col("n_exact_only")
    return (
        u.agg(
            n("both").alias("n_both"),
            n("lsh_only").alias("n_lsh_only"),
            n("exact_only").alias("n_exact_only"),
        )
        .select(
            "n_both",
            "n_lsh_only",
            "n_exact_only",
            F.when(exact_total == 0, F.lit(1.0))
            .otherwise(F.col("n_both").cast("double") / exact_total)
            .alias("lsh_recall"),
        )
    )


@register(
    "dataset_card",
    oracle=f"""
    WITH {_minhash_pairs_cte(_MH_PROD_BANDS, _MH_PROD_ROWS, _MH_PROD_THRESHOLD, "documents")},
    base AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(len(regexp_extract_all(lower(text), '[a-z0-9]+')))
                  AS BIGINT) AS total_words,
             CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
      FROM documents
    ),
    top_l AS (
      SELECT lang AS top_lang FROM (
        SELECT lang, COUNT(*) AS n,
               ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, lang ASC) AS rk
        FROM documents GROUP BY lang
      ) WHERE rk = 1
    ),
    fps AS (
      SELECT CAST(COUNT(*) - COUNT(DISTINCT
               md5(regexp_replace(trim(lower(text)), '[ \\t\\n\\r\\f\\x0b]+', ' ', 'g')))
             AS BIGINT) AS n_exact_dups
      FROM documents
    ),
    nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS near_dup_pairs FROM mh_pairs),
    quality AS ({_QUALITY_CORE}),
    mq AS (
      SELECT {_sql_davg("quality_score", 6)} AS mean_quality FROM quality
    ),
    sp AS (
      SELECT
        CAST(SUM(CASE WHEN bucket < 8000 THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
        CAST(SUM(CASE WHEN bucket >= 8000 AND bucket < 9000 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_val,
        CAST(SUM(CASE WHEN bucket >= 9000 THEN 1 ELSE 0 END) AS BIGINT) AS n_test
      FROM (SELECT CAST({_SPLIT_HEX} AS BIGINT) % 10000 AS bucket FROM documents)
    )
    SELECT b.n_docs, b.total_words, b.n_langs, t.top_lang, f.n_exact_dups,
           n.near_dup_pairs, m.mean_quality, s.n_train, s.n_val, s.n_test
    FROM base b, top_l t, fps f, nd n, mq m, sp s
    """,
)
def q_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DATASET CARD — the one-row corpus summary an LLM data team
    publishes with every release, composed from the tier's own stages:
    volume (docs, word tokens), language spread, exact-dup count
    (fingerprint collisions), near-dup pairs (production MinHash-LSH),
    mean quality (order-independent quantized mean — the dsum pattern),
    and the split sizes of the hash-keyed train/val/test assignment.
    Each stat is hash-replayed by the oracle, so the published card is
    VERIFIED, not vibes.

    100 TB shape (r8, VERDICT r7 item 6 — previously six independent
    corpus scans): ONE pass computes the per-doc stat grain — fused
    quality score (with_quality_score, zero-shuffle), fingerprint
    column, split assignment — and ``localCheckpoint`` materializes it;
    all six stat families, including the MinHash near-dup pipeline, roll
    up from that materialized grain instead of re-reading the corpus
    (Spark does not reuse exchange subtrees across a diamond, so without
    the checkpoint each branch would re-scan — the measured rule from
    SCALE.md). In production the grain IS the pipeline's per-doc stats
    table, written once per release and rolled up incrementally."""
    from network_iq_spark.functions import davg

    docs = load_table(spark, sf_dir, "documents")
    grain = SA.hash_split(
        T.with_quality_score(docs),
        "doc_id",
        {"train": 0.8, "val": 0.1, "test": 0.1},
        salt=_SPLIT_SALT,
    )
    grain = grain.select(
        "doc_id",
        "lang",
        "text",
        "n_tokens",
        "quality_score",
        "split",
        T.fingerprint_col().alias("fingerprint"),
    ).localCheckpoint(eager=False)
    base = grain.agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_words"),
        F.countDistinct("lang").cast("bigint").alias("n_langs"),
    )
    wl = Window.orderBy(F.col("n").desc(), F.col("lang").asc())
    top_l = (
        grain.groupBy("lang")
        .agg(F.count("*").alias("n"))
        .withColumn("rk", F.row_number().over(wl))
        .filter(F.col("rk") == 1)
        .select(F.col("lang").alias("top_lang"))
    )
    fps = grain.agg(
        (F.count("*") - F.countDistinct("fingerprint"))
        .cast("bigint")
        .alias("n_exact_dups")
    )
    nd = (
        D.minhash_lsh_pairs(
            grain,
            threshold=_MH_PROD_THRESHOLD,
            n_bands=_MH_PROD_BANDS,
            rows_per_band=_MH_PROD_ROWS,
        )
        .agg(F.count("*").cast("bigint").alias("near_dup_pairs"))
    )
    mq = grain.agg(davg("quality_score", 6).alias("mean_quality"))
    sp = (
        grain
        .agg(
            F.sum(F.when(F.col("split") == "train", 1).otherwise(0))
            .cast("bigint")
            .alias("n_train"),
            F.sum(F.when(F.col("split") == "val", 1).otherwise(0))
            .cast("bigint")
            .alias("n_val"),
            F.sum(F.when(F.col("split") == "test", 1).otherwise(0))
            .cast("bigint")
            .alias("n_test"),
        )
    )
    out = base
    for side in (top_l, fps, nd, mq, sp):
        out = out.crossJoin(F.broadcast(side))
    return out


_BPE_TRAIN_K = 8


def _bpe_train_sql(k: int) -> str:
    """DuckDB twin of operators/text.py bpe_train_merges: the identical
    k-round trainer as nested CTEs — word counts once, then per round a
    weighted adjacent-pair count, a (count DESC, pair ASC) top-1 pick,
    and a marker-safe greedy replace. Both engines' replace() is
    leftmost-first non-overlapping, so the learned table hash-replays."""
    parts = [
        """words AS MATERIALIZED (
      SELECT w AS word, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
            FROM documents)
      GROUP BY w
    )""",
        """v0 AS MATERIALIZED (
      SELECT regexp_replace(word, '(.)', '|\\1 ', 'g') AS seq, cnt FROM words
    )""",
    ]
    for i in range(1, k + 1):
        parts.append(
            f"""p{i} AS MATERIALIZED (
      SELECT unnest(list_transform(range(1, len(s)),
                    j -> s[j] || ' ' || s[j + 1])) AS pair, cnt
      FROM (SELECT string_split(trim(seq), ' ') AS s, cnt FROM v{i - 1})
    )"""
        )
        parts.append(
            f"""t{i} AS MATERIALIZED (
      SELECT pair, CAST(SUM(cnt) AS BIGINT) AS pair_count
      FROM p{i} GROUP BY pair
      ORDER BY pair_count DESC, pair ASC LIMIT 1
    )"""
        )
        parts.append(
            f"""v{i} AS MATERIALIZED (
      SELECT replace(seq, (SELECT pair FROM t{i}) || ' ',
                     (SELECT replace(pair, ' |', '') FROM t{i}) || ' ') AS seq,
             cnt
      FROM v{i - 1}
    )"""
        )
    sel = "\n      UNION ALL\n      ".join(
        f"SELECT CAST({i} AS INT) AS rank, "
        f"substring(split_part(pair, ' ', 1), 2) AS left_sym, "
        f"substring(split_part(pair, ' ', 2), 2) AS right_sym, "
        f"pair_count FROM t{i}"
        for i in range(1, k + 1)
    )
    return (
        "WITH "
        + ",\n    ".join(parts)
        + "\n    SELECT * FROM (\n      "
        + sel
        + "\n    ) ORDER BY rank"
    )


@register("bpe_train_merges", oracle=_bpe_train_sql(_BPE_TRAIN_K))
def q_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE VOCABULARY INDUCTION over the corpus — learn the top-k merge
    table (rank, left, right, weighted pair count) with the classic
    trainer; completes the tokenizer story whose application half is
    ``bpe_token_stats``. One corpus-scale word-count pass, then k rounds
    over the compact distinct-word vocabulary; top-pair pick is an
    in-plan 1-row broadcast (no driver collect). Deterministic by
    construction (count-then-lexicographic tie-break), so the whole
    training loop hash-replays in the DuckDB oracle."""
    docs = load_table(spark, sf_dir, "documents")
    return T.bpe_train_merges(docs, n_merges=_BPE_TRAIN_K)


# ---------------------------------------------------------------------------
# Count-min frequency sketch (third mergeable-state family member)
# ---------------------------------------------------------------------------

_CM_D, _CM_W = 4, 256
_CM_BUCKET = (
    "(" + _sql_hex_int("md5(CAST(row AS VARCHAR) || ':' || tok)", 12)
    + f") % {_CM_W}"
)


@register(
    "cm_heavy_hitters",
    oracle=f"""
    WITH toks AS (
      SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
      FROM documents
    ),
    hrows AS (
      SELECT tok, i AS row
      FROM toks, LATERAL unnest(generate_series(0, {_CM_D - 1})) AS g(i)
    ),
    state AS (
      SELECT row, {_CM_BUCKET} AS bucket, COUNT(*) AS cnt
      FROM hrows GROUP BY 1, 2
    ),
    exact AS (SELECT tok, COUNT(*) AS exact_cnt FROM toks GROUP BY 1),
    probes AS (
      SELECT tok, i AS row, {_CM_BUCKET.replace("row", "i")} AS bucket
      FROM (SELECT DISTINCT tok FROM toks),
           LATERAL unnest(generate_series(0, {_CM_D - 1})) AS g(i)
    ),
    est AS (
      SELECT tok, CAST(MIN(cnt) AS BIGINT) AS cm_est
      FROM probes JOIN state USING (row, bucket) GROUP BY 1
    )
    SELECT tok, exact_cnt, cm_est, cm_est - exact_cnt AS overestimate
    FROM exact JOIN est USING (tok)
    ORDER BY exact_cnt DESC, tok LIMIT 20
    """,
)
def q_cm_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min heavy hitters over the corpus token stream, built the IVM
    way: three per-batch sketches (doc_id mod 3) FOLDED with the sum
    monoid, then point-estimated for every candidate token and compared
    to the exact counts in one output (overestimate ≥ 0 always — the CM
    guarantee as a shipped column). md5-derived row hashes make the whole
    sketch exactly SQL-replayable, so the oracle's single-pass sketch
    hash-matching the engine's split-and-merge IS the monoid proof —
    the frequency sibling of incremental_rollup_refresh
    (operators/sketches.py)."""
    from network_iq_spark.operators.sketches import (
        cm_estimate,
        cm_sketch_state,
        merge_cm_states,
    )

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(T.tokens("text")).alias("tok")
    )
    states = [
        cm_sketch_state(
            toks.filter(F.col("doc_id") % 3 == i), "tok", _CM_D, _CM_W
        )
        for i in range(3)
    ]
    state = merge_cm_states(states)
    exact = toks.groupBy("tok").agg(F.count("*").alias("exact_cnt"))
    est = cm_estimate(state, exact.select("tok"), "tok", _CM_D, _CM_W)
    return (
        exact.join(est, "tok")
        .select(
            "tok",
            "exact_cnt",
            "cm_est",
            (F.col("cm_est") - F.col("exact_cnt")).alias("overestimate"),
        )
        .orderBy(F.desc("exact_cnt"), "tok")
        .limit(20)
    )
