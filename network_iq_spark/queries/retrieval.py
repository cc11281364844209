"""Sparse/dense retrieval queries: TF-IDF, inverted-index statistics,
BM25 (+ df-ceiling), RRF fusion. Split out of llmdata.py in r10.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from network_iq_spark.operators import text as T
from network_iq_spark.operators import similarity as S
from network_iq_spark.registry import register
from network_iq_spark.sources import load_table

from network_iq_spark.queries._fragments import (  # noqa: F401
    _CHUNK_ID_BASE,
    _CHUNK_TOKS_SQL,
    chunk_frame,
    _TOKS,
    _int_sig_ctes,
)

# ---------------------------------------------------------------------------
# TF-IDF / inverted-index statistics
# ---------------------------------------------------------------------------


@register(
    "tfidf_top_terms",
    oracle=f"""
    WITH tok AS (SELECT doc_id, unnest(t) AS term FROM ({_TOKS})),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
    dfq AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
    n AS (SELECT COUNT(*) AS n_docs FROM documents)
    SELECT doc_id, CAST(rk AS INT) AS rank, term, tf, df, score FROM (
      SELECT tf.doc_id, tf.term, tf.tf, dfq.df,
             CAST(tf.tf * n.n_docs AS DOUBLE) / dfq.df AS score,
             ROW_NUMBER() OVER (PARTITION BY tf.doc_id
               ORDER BY CAST(tf.tf * n.n_docs AS DOUBLE) / dfq.df DESC,
                        tf.term ASC) AS rk
      FROM tf JOIN dfq USING (term) CROSS JOIN n
    ) WHERE rk <= 5 ORDER BY doc_id, rank
    """,
)
def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-5 TF-IDF terms with rational (log-free) idf so the
    ranking replays bit-exactly in SQL (operators/text.py tfidf_top_terms):
    tf·N/df preserves log-idf's ordering for fixed tf and avoids the
    libm-divergence a transcendental would introduce. df is broadcast
    (vocabulary-sized), N a broadcast scalar, top-k windows the per-doc
    term grain — never the raw token explosion."""
    docs = load_table(spark, sf_dir, "documents")
    return T.tfidf_top_terms(docs).orderBy("doc_id", "rank")


@register(
    "term_postings",
    oracle=f"""
    WITH tok AS (SELECT doc_id, unnest(t) AS term FROM ({_TOKS}))
    SELECT term, COUNT(DISTINCT doc_id) AS df, COUNT(*) AS tf_total,
           MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
    FROM tok GROUP BY term ORDER BY term
    """,
)
def q_term_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index statistics (per-term df / total tf / posting extent)
    — the planning pass of an index build and the input of IDF-family
    scoring. One shuffle on term with map-side combine."""
    docs = load_table(spark, sf_dir, "documents")
    return T.term_postings(docs).orderBy("term")


# ---------------------------------------------------------------------------
# BM25 sparse retrieval
# ---------------------------------------------------------------------------

_BM25_QUERY_DOCS = 5
_BM25_UNITS_SQL = (
    "CAST(FLOOR(ln((cast(n_docs as double) - cast(df as double) + 0.5) "
    "/ (cast(df as double) + 0.5) + 1.0) "
    "* ((cast(tf as double) * (1.2 + 1.0)) "
    "/ (cast(tf as double) + 1.2 * (1.0 - 0.75 + 0.75 "
    "* cast(dl as double) / avgdl))) * 1000000.0) AS BIGINT)"
)


# Stopword df-ceiling the registered BM25 queries run with: terms in more
# than half the corpus are dropped from the postings join (the inverted-
# index stopword-pruning shape; operators/text.py bm25_topk max_df_ratio).
_BM25_MAX_DF_RATIO = 0.5
# Wider query window for the capped twin: the ceiling leaves only the
# rare-term slice of this corpus's vocabulary rankable (~5% of docs carry
# a surviving term), so the first-5-docs window would be empty — 100 query
# docs yields a real multi-query ranking under the cap.
_BM25_CAPPED_QUERY_DOCS = 100


def _bm25_ctes(
    max_df_ratio: float | None,
    query_docs: int = _BM25_QUERY_DOCS,
    toks_sql: str | None = None,
    exclude_sql: str = "tf.doc_id != q.q_doc_id",
) -> str:
    """The full BM25 CTE chain, shared by bm25_topk, both RRF fusion
    oracles, and the chunk-grain passage variant (``toks_sql`` swaps the
    corpus the ``t`` CTE tokenizes; ``exclude_sql`` swaps the
    self-retrieval guard — chunk callers exclude the whole PARENT doc).
    With a ceiling, ``dfreq`` keeps only terms whose df/N is at or under
    it — the SAME double comparison the Spark plan evaluates (df ≤
    ratio·N, both cast to double), so the kept-term sets match exactly
    on both engines."""
    if toks_sql is None:
        toks_sql = _TOKS
    keep = (
        ""
        if max_df_ratio is None
        else (
            f" CROSS JOIN s WHERE CAST(df AS DOUBLE)"
            f" <= {max_df_ratio!r} * CAST(n_docs AS DOUBLE)"
        )
    )
    return f"""t AS ({toks_sql}),
    dl AS (SELECT doc_id, len(t) AS dl FROM t),
    toks AS (SELECT doc_id, unnest(t) AS term FROM t),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
    s AS (SELECT COUNT(*) AS n_docs,
                 CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl
          FROM dl),
    dfreq AS (SELECT term, df FROM
                (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1) AS d0{keep}),
    q AS (SELECT DISTINCT doc_id AS q_doc_id, term FROM tf
          WHERE doc_id < {query_docs}),
    pairs AS (
      SELECT q.q_doc_id, tf.doc_id,
             COUNT(*) AS n_terms_matched,
             CAST(SUM({_BM25_UNITS_SQL}) AS BIGINT) AS score_units
      FROM q JOIN tf USING (term) JOIN dfreq USING (term)
           JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN s
      WHERE {exclude_sql}
      GROUP BY 1, 2
    ),
    ranked AS (
      SELECT *, CAST(ROW_NUMBER() OVER (
               PARTITION BY q_doc_id ORDER BY score_units DESC, doc_id
             ) AS INT) AS rank
      FROM pairs
    )"""


_BM25_CTES = _bm25_ctes(None)  # the uncapped chain (flagship + RRF oracles)


@register(
    "bm25_topk",
    oracle=f"""
    WITH {_BM25_CTES}
    SELECT q_doc_id, rank, doc_id, n_terms_matched, score_units,
           CAST(score_units AS DOUBLE) / 1000000.0 AS score
    FROM ranked WHERE rank <= 5 ORDER BY q_doc_id, rank
    """,
)
def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 related-document retrieval: the first {n} docs each retrieve
    their top-5 corpus neighbours by summed per-term BM25 (Robertson idf,
    k1=1.2, b=0.75) — the classic sparse scorer next to the dense-ANN
    tier, the tool for decontamination-beyond-exact-overlap and related-
    doc mining. Per-term scores are quantized to integer micro-units
    before the pair sum (dsum pattern) so engines cannot drift on
    aggregation order, and ranking ties break on the integer score + doc
    id (operators/text.py bm25_topk)."""
    docs = load_table(spark, sf_dir, "documents")
    return T.bm25_topk(docs, F.col("doc_id") < _BM25_QUERY_DOCS, k=5)


@register(
    "bm25_topk_capped",
    oracle=f"""
    WITH {_bm25_ctes(_BM25_MAX_DF_RATIO, _BM25_CAPPED_QUERY_DOCS)}
    SELECT q_doc_id, rank, doc_id, n_terms_matched, score_units,
           CAST(score_units AS DOUBLE) / 1000000.0 AS score
    FROM ranked WHERE rank <= 5 ORDER BY q_doc_id, rank
    """,
)
def q_bm25_topk_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 with the inverted-index stopword ceiling ON — terms with
    df/N > {_BM25_MAX_DF_RATIO} are dropped from the postings BEFORE the
    query-side join, bounding every term's fanout at (ratio·N)·q_df (the
    production guard an unpruned postings join lacks at crawl scale; the
    jaccard df-cap precedent, operators/dedup.py jaccard_pairs_capped).

    Registered as a TWIN rather than replacing bm25_topk: the synthetic
    corpus has a 31-term vocabulary with 30 terms at df/N ≈ 0.75-0.80 and
    one at 0.05, so ANY meaningful ceiling reduces this corpus's ranking
    to the rare-term slice — the uncapped flagship keeps full-scorer
    oracle coverage while this twin proves the capped path end-to-end
    (kept-term sets match the oracle exactly: same double comparison on
    both engines) (operators/text.py bm25_topk max_df_ratio)."""
    docs = load_table(spark, sf_dir, "documents")
    return T.bm25_topk(
        docs,
        F.col("doc_id") < _BM25_CAPPED_QUERY_DOCS,
        k=5,
        max_df_ratio=_BM25_MAX_DF_RATIO,
    )


_CHUNK_BM25_QUERY_PARENTS = 3  # chunks of parent docs < 3 act as query passages


@register(
    "chunk_bm25_topk",
    oracle=f"""
    WITH {_bm25_ctes(
        None,
        query_docs=_CHUNK_BM25_QUERY_PARENTS * _CHUNK_ID_BASE,
        toks_sql=_CHUNK_TOKS_SQL,
        exclude_sql=f"tf.doc_id // {_CHUNK_ID_BASE} != q.q_doc_id // {_CHUNK_ID_BASE}",
    )}
    SELECT q_doc_id AS q_chunk, rank, doc_id AS chunk,
           q_doc_id // {_CHUNK_ID_BASE} AS q_doc,
           doc_id // {_CHUNK_ID_BASE} AS doc,
           n_terms_matched, score_units,
           CAST(score_units AS DOUBLE) / 1000000.0 AS score
    FROM ranked WHERE rank <= 3 ORDER BY q_chunk, rank
    """,
)
def q_chunk_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PASSAGE-grain BM25 retrieval (r10) — the RAG shape: the corpus is
    the 20-token chunk frame (chunk_id = doc_id·BASE + idx, the shared
    ``chunk_frame``), every chunk of the first {n} parent documents
    retrieves its top-3 related passages, and the self-retrieval guard
    excludes the whole PARENT document (a passage trivially matches its
    own doc's sibling passages — the exclusion a retrieval eval actually
    needs), not just the identical chunk id. Same scorer, same integer
    micro-unit determinism, same df/dl statistics machinery — computed
    at chunk grain, where dl ≈ chunk size makes length normalization
    near-uniform and idf carries the ranking. Scale shape identical to
    doc-grain BM25 with N multiplied by chunks-per-doc; the df-ceiling
    seam applies unchanged if the passage corpus needs it."""
    chunks = chunk_frame(spark, sf_dir)
    base = _CHUNK_ID_BASE
    out = T.bm25_topk(
        chunks,
        F.col("doc_id") < _CHUNK_BM25_QUERY_PARENTS * base,
        k=3,
        exclude=F.expr(f"doc_id div {base} != q_doc_id div {base}"),
    )
    return out.select(
        F.col("q_doc_id").alias("q_chunk"),
        "rank",
        F.col("doc_id").alias("chunk"),
        F.expr(f"q_doc_id div {base}").alias("q_doc"),
        F.expr(f"doc_id div {base}").alias("doc"),
        "n_terms_matched",
        "score_units",
        "score",
    ).orderBy("q_chunk", "rank")


@register(
    "related_docs_rrf",
    oracle=f"""
    WITH {_BM25_CTES},
    dtok AS (SELECT DISTINCT doc_id, term FROM toks),
    sizes AS (SELECT doc_id, COUNT(*) AS n_dist FROM dtok GROUP BY 1),
    jq AS (SELECT doc_id AS q_doc_id, term FROM dtok
           WHERE doc_id < {_BM25_QUERY_DOCS}),
    inter AS (
      SELECT jq.q_doc_id, dtok.doc_id, COUNT(*) AS n_inter
      FROM jq JOIN dtok USING (term)
      WHERE dtok.doc_id != jq.q_doc_id
      GROUP BY 1, 2
    ),
    jscored AS (
      SELECT i.q_doc_id, i.doc_id,
             (1000000 * n_inter) // (sa.n_dist + sb.n_dist - n_inter)
               AS jaccard_units
      FROM inter i JOIN sizes sa ON sa.doc_id = i.q_doc_id
                   JOIN sizes sb ON sb.doc_id = i.doc_id
    ),
    jranked AS (
      SELECT *, ROW_NUMBER() OVER (
               PARTITION BY q_doc_id ORDER BY jaccard_units DESC, doc_id
             ) AS jrank
      FROM jscored
    ),
    contrib AS (
      SELECT q_doc_id, doc_id, 1000000 // (60 + rank) AS u
      FROM ranked WHERE rank <= 10
      UNION ALL
      SELECT q_doc_id, doc_id, 1000000 // (60 + jrank) AS u
      FROM jranked WHERE jrank <= 10
    ),
    fused AS (
      SELECT q_doc_id, doc_id, CAST(COUNT(*) AS BIGINT) AS n_lists,
             CAST(SUM(u) AS BIGINT) AS rrf_units
      FROM contrib GROUP BY 1, 2
    )
    SELECT q_doc_id, rank, doc_id, n_lists, rrf_units FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (
               PARTITION BY q_doc_id ORDER BY rrf_units DESC, doc_id
             ) AS INT) AS rank
      FROM fused
    ) WHERE rank <= 5 ORDER BY q_doc_id, rank
    """,
)
def q_related_docs_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval by reciprocal-rank fusion (Cormack et al. 2009):
    BM25 (frequency-weighted lexical) and exact token-set Jaccard
    (overlap-weighted lexical) each rank top-10 related docs per query
    doc; RRF fuses the two lists with pure INTEGER arithmetic
    (10^6 div (60 + rank)) — no score calibration, no floats in the fused
    ordering, the whole two-system pipeline hash-replayable. The shape a
    production decontamination/related-doc service runs (swap the second
    list for the dense-ANN tier's ranks via the same rrf_fuse seam)
    (operators/text.py bm25_topk / jaccard_topk / rrf_fuse)."""
    docs = load_table(spark, sf_dir, "documents")
    pred = F.col("doc_id") < _BM25_QUERY_DOCS
    # ONE corpus tokenize feeds both lexical arms (r14, guide §1.2/§2.4):
    # BM25 consumes the (doc, term, tf) counts; Jaccard's distinct
    # (doc, term) grain is exactly tf's key set, so the second
    # tokenize + explode + DISTINCT shuffle disappears from the plan.
    tf = T.term_freqs(docs)
    bm = T.bm25_topk(docs, pred, k=10, tf=tf).select("q_doc_id", "rank", "doc_id")
    jc = T.jaccard_topk(
        docs, pred, k=10, dtok=tf.select("doc_id", "term")
    ).select("q_doc_id", "rank", "doc_id")
    return T.rrf_fuse([bm, jc])


# Dense arm: the SAME integerized-hyperplane constants the hash-checked
# ann_int_cosine_topk tier runs with (queries/pipeline.py _AI_PLANES/_AI_TABLES)
_RRF_PLANES, _RRF_TABLES = 6, 4


@register(
    "related_docs_rrf_dense",
    oracle=f"""
    WITH {_BM25_CTES},
    dtok AS (SELECT DISTINCT doc_id, term FROM toks),
    sizes AS (SELECT doc_id, COUNT(*) AS n_dist FROM dtok GROUP BY 1),
    jq AS (SELECT doc_id AS q_doc_id, term FROM dtok
           WHERE doc_id < {_BM25_QUERY_DOCS}),
    inter AS (
      SELECT jq.q_doc_id, dtok.doc_id, COUNT(*) AS n_inter
      FROM jq JOIN dtok USING (term)
      WHERE dtok.doc_id != jq.q_doc_id
      GROUP BY 1, 2
    ),
    jscored AS (
      SELECT i.q_doc_id, i.doc_id,
             (1000000 * n_inter) // (sa.n_dist + sb.n_dist - n_inter)
               AS jaccard_units
      FROM inter i JOIN sizes sa ON sa.doc_id = i.q_doc_id
                   JOIN sizes sb ON sb.doc_id = i.doc_id
    ),
    jranked AS (
      SELECT *, ROW_NUMBER() OVER (
               PARTITION BY q_doc_id ORDER BY jaccard_units DESC, doc_id
             ) AS jrank
      FROM jscored
    ),
    {_int_sig_ctes(_RRF_TABLES, _RRF_PLANES)},
    acand AS (
      SELECT DISTINCT a.vec_id AS q_doc_id, b.vec_id AS doc_id
      FROM sigs a JOIN sigs b
        ON a.t = b.t AND a.bucket = b.bucket AND b.vec_id != a.vec_id
      WHERE a.vec_id < {_BM25_QUERY_DOCS}
    ),
    anorm AS (
      SELECT vec_id, embedding::DOUBLE[] AS v,
             sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
               AS norm
      FROM embeddings
    ),
    ascored AS (
      SELECT c.q_doc_id, c.doc_id,
             list_dot_product(a.v, b.v) / (a.norm * b.norm) AS cos
      FROM acand c
      JOIN anorm a ON a.vec_id = c.q_doc_id
      JOIN anorm b ON b.vec_id = c.doc_id
    ),
    aranked AS (
      SELECT q_doc_id, doc_id, ROW_NUMBER() OVER (
               PARTITION BY q_doc_id ORDER BY cos DESC, doc_id ASC
             ) AS arank
      FROM ascored
    ),
    contrib AS (
      SELECT q_doc_id, doc_id, 1000000 // (60 + rank) AS u
      FROM ranked WHERE rank <= 10
      UNION ALL
      SELECT q_doc_id, doc_id, 1000000 // (60 + jrank) AS u
      FROM jranked WHERE jrank <= 10
      UNION ALL
      SELECT q_doc_id, doc_id, 1000000 // (60 + arank) AS u
      FROM aranked WHERE arank <= 10
    ),
    fused AS (
      SELECT q_doc_id, doc_id, CAST(COUNT(*) AS BIGINT) AS n_lists,
             CAST(SUM(u) AS BIGINT) AS rrf_units
      FROM contrib GROUP BY 1, 2
    )
    SELECT q_doc_id, rank, doc_id, n_lists, rrf_units FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (
               PARTITION BY q_doc_id ORDER BY rrf_units DESC, doc_id
             ) AS INT) AS rank
      FROM fused
    ) WHERE rank <= 5 ORDER BY q_doc_id, rank
    """,
)
def q_related_docs_rrf_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL production hybrid-retrieval stack (r9): BM25 (frequency-
    weighted lexical) + exact token-set Jaccard (overlap-weighted lexical)
    + the dense arm — integer-quantized hyperplane-LSH ANN ranks over the
    embeddings table (doc_id ≡ vec_id on the embedded subset; docs without
    an embedding simply receive no dense votes, RRF's union semantics) —
    fused with pure INTEGER reciprocal-rank arithmetic, 10^6 div (60 +
    rank). Every arm is individually hash-replayable (the ANN arm's bucket
    derivation is the same splitmix/quantize/integer-dot chain the
    hash-checked ann_int_cosine_topk runs), so the three-system pipeline
    stays engine-exact end to end (operators/text.py bm25_topk /
    jaccard_topk / rrf_fuse; operators/similarity.py cosine_topk_int_lsh)."""
    docs = load_table(spark, sf_dir, "documents")
    pred = F.col("doc_id") < _BM25_QUERY_DOCS
    # shared corpus tokenize for the two lexical arms (see related_docs_rrf)
    tf = T.term_freqs(docs)
    bm = T.bm25_topk(docs, pred, k=10, tf=tf).select("q_doc_id", "rank", "doc_id")
    jc = T.jaccard_topk(
        docs, pred, k=10, dtok=tf.select("doc_id", "term")
    ).select("q_doc_id", "rank", "doc_id")
    emb = load_table(spark, sf_dir, "embeddings")
    qv = emb.select("vec_id").filter(F.col("vec_id") < _BM25_QUERY_DOCS)
    dn = S.cosine_topk_int_lsh(
        emb, qv, k=10, n_planes=_RRF_PLANES, n_tables=_RRF_TABLES
    ).select(
        F.col("q_vec_id").alias("q_doc_id"),
        "rank",
        F.col("n_vec_id").alias("doc_id"),
    )
    return T.rrf_fuse([bm, jc, dn])
