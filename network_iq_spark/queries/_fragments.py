"""Shared oracle fragments & cross-family constants for the LLM-data
query modules (split out of the monolithic llmdata.py in r10 — pure
move, zero behavior change).

Everything here is either a DuckDB CTE/SQL fragment that must mirror the
operators token-for-token, or a tuning constant shared by at least two
family modules. No queries are registered here.
"""

from __future__ import annotations


from network_iq_spark.operators import dedup as D
from network_iq_spark.operators import text as T

# ---------------------------------------------------------------------------
# Shared oracle CTE fragments (must mirror the operators token-for-token)
# ---------------------------------------------------------------------------

_TOKS = "SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t FROM documents"

_SHINGLES = f"""
  SELECT doc_id, unnest(list_distinct(list_transform(
           generate_series(1, len(t) - 2),
           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS shingle
  FROM ({_TOKS}) WHERE len(t) >= 3
"""

_JACCARD = f"""
  sh AS ({_SHINGLES}),
  sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
  inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
  ),
  jac AS (
    SELECT i.doc_a, i.doc_b,
           CAST(i.inter AS DOUBLE) / (sa.sz + sb.sz - i.inter) AS jaccard
    FROM inter i
    JOIN sizes sa ON i.doc_a = sa.doc_id
    JOIN sizes sb ON i.doc_b = sb.doc_id
  )
"""


# ---------------------------------------------------------------------------
# N-gram Jaccard near-dup
# ---------------------------------------------------------------------------


# candidate pairs come only from shingles in ≤ 4 docs — bounds the
# self-join fanout at max_df² per shingle (the uncapped join is quadratic in
# shingle document frequency). Verified on testdata: identical top-100 to
# the uncapped operator (tests/test_dedup_scale.py equivalence test).
_JACCARD_MAX_DF = 4

_JACCARD_CAPPED = f"""
  sh AS ({_SHINGLES}),
  dfreq AS (SELECT shingle, COUNT(*) AS df FROM sh GROUP BY shingle),
  rare AS (SELECT s.doc_id, s.shingle FROM sh s
           JOIN dfreq d ON s.shingle = d.shingle WHERE d.df <= {_JACCARD_MAX_DF}),
  cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM rare a JOIN rare b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  ),
  sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
  inter AS (
    SELECT c.doc_a, c.doc_b, COUNT(*) AS inter
    FROM cand c
    JOIN sh a ON a.doc_id = c.doc_a
    JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
    GROUP BY 1, 2
  ),
  jac AS (
    SELECT i.doc_a, i.doc_b,
           CAST(i.inter AS DOUBLE) / (sa.sz + sb.sz - i.inter) AS jaccard
    FROM inter i
    JOIN sizes sa ON i.doc_a = sa.doc_id
    JOIN sizes sb ON i.doc_b = sb.doc_id
  )
"""


def _sql_hex_int(expr: str, ndigits: int) -> str:
    """Hex-prefix → integer via per-nibble positional arithmetic (DuckDB has
    no ``conv``). Must equal Spark's ``conv(substring(md5,1,n),16,10)``."""
    terms = " + ".join(
        f"(strpos('0123456789abcdef', substr({expr}, {j + 1}, 1)) - 1)"
        f" * {16 ** (ndigits - 1 - j)}"
        for j in range(ndigits)
    )
    return f"({terms})"


_MINHASH_P = D.MINHASH_P


_MH_BANDS, _MH_ROWS, _MH_THRESHOLD = 16, 1, 0.008


_MH_PROD_BANDS, _MH_PROD_ROWS, _MH_PROD_THRESHOLD = 4, 4, 0.7


def _simhash_sql(max_hamming: int, n_bits: int = 32) -> str:
    votes = [
        f"SUM(((h >> {b}) & 1) * 2 - 1) AS v{b}" for b in range(n_bits)
    ]
    fp_terms = [
        f"CASE WHEN v{b} > 0 THEN CAST({2 ** b} AS BIGINT) ELSE 0 END"
        for b in range(n_bits)
    ]
    votes_sql = ",\n        ".join(votes)
    fp_sql = "\n        + ".join(fp_terms)
    nd = n_bits // 4
    return f"""
    WITH tok AS (
      SELECT DISTINCT doc_id, tok FROM (
        SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
        FROM documents
      )
    ),
    h AS (SELECT doc_id, {_sql_hex_int(f"substr(md5(tok), 1, {nd})", nd)} AS h FROM tok),
    votes AS (
      SELECT doc_id,
        {votes_sql}
      FROM h GROUP BY doc_id
    ),
    sim AS (SELECT doc_id, ({fp_sql}) AS simhash FROM votes)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
    FROM sim a JOIN sim b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
    ORDER BY doc_a, doc_b
    """


_QUALITY_CORE = f"""
    SELECT doc_id, n_chars, len(t) AS n_tokens,
      CASE WHEN len(t) = 0 THEN 0.0 ELSE CAST(stop_n AS DOUBLE) / len(t) END
        AS stopword_ratio,
      CASE WHEN n_chars = 0 THEN 0.0 ELSE CAST(n_punct AS DOUBLE) / n_chars END
        AS punct_ratio,
      GREATEST(0.0, LEAST(1.0,
        0.5 * LEAST(1.0, CAST(len(t) AS DOUBLE) / 50.0)
        + 0.5 * LEAST(1.0, 4.0 * (CASE WHEN len(t) = 0 THEN 0.0
                                       ELSE CAST(stop_n AS DOUBLE) / len(t) END))
        - 2.0 * (CASE WHEN n_chars = 0 THEN 0.0
                      ELSE CAST(n_punct AS DOUBLE) / n_chars END)))
        AS quality_score
    FROM (
      SELECT doc_id, t,
        len(text) AS n_chars,
        len(regexp_extract_all(lower(text), '[^a-z0-9 ]')) AS n_punct,
        len(list_filter(t, x -> x IN {T.LANG_MARKERS['en']!r})) AS stop_n
      FROM (SELECT doc_id, text, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
            FROM documents)
    )
"""


def _int_sig_ctes(n_tables: int, n_planes: int) -> str:
    """Shared CTE chain reproducing int_lsh_signatures in SQL: splitmix
    integer-weight derivation (128-bit arithmetic with a 32-bit split for
    the 64x64 multiply), floor(x*2^20+0.5) quantization, integer-dot bucket
    bits. Ends with ``sigs(vec_id, t, bucket)``."""
    return f"""params AS (
      SELECT t.range::HUGEINT AS t, p.range::HUGEINT AS p, i.range::HUGEINT AS i
      FROM range({n_tables}) t, range({n_planes}) p, range(64) i
    ),
    h0 AS (
      SELECT t, p, i,
        ((42 + t*7919) * 11400714819323198485::HUGEINT
          + p * 13787848793156543929::HUGEINT
          + i * 10723151780598845931::HUGEINT)
          % 18446744073709551616::HUGEINT AS x0
      FROM params
    ),
    h1 AS ( SELECT t, p, i, xor(x0, x0 >> 31) AS x1 FROM h0 ),
    h2 AS (
      SELECT t, p, i,
        ((x1 % 4294967296::HUGEINT) * 15485907386658061715::HUGEINT
         + (((x1 // 4294967296::HUGEINT) * 15485907386658061715::HUGEINT)
            % 4294967296::HUGEINT) * 4294967296::HUGEINT
        ) % 18446744073709551616::HUGEINT AS x2
      FROM h1
    ),
    weights AS (
      SELECT CAST(t AS INT) AS t, CAST(p AS INT) AS p, CAST(i AS INT) AS i,
             CAST((xor(x2, x2 >> 27) % 16) - 8 AS BIGINT) AS w
      FROM h2
    ),
    qvecs AS (
      SELECT vec_id,
             [CAST(FLOOR(x*1048576.0+0.5) AS BIGINT) FOR x IN embedding::DOUBLE[]] AS qv
      FROM embeddings
    ),
    comps AS (
      SELECT q.vec_id, w.t, w.p, SUM(q.qv[w.i+1] * w.w) AS dot
      FROM qvecs q, weights w GROUP BY q.vec_id, w.t, w.p
    ),
    sigs AS (
      SELECT vec_id, t,
             CAST(SUM(CASE WHEN dot > 0 THEN (1::BIGINT << p) ELSE 0 END)
                  AS BIGINT) AS bucket
      FROM comps GROUP BY vec_id, t
    )"""


_IVFD_CELLS, _IVFD_GROUPS, _IVFD_NPROBE, _IVFD_K = 16, 4, 4, 10
_IVFD_SCALE = "1000000.0"
# the embeddings quantized to integer-valued doubles (floor(x*1e6+0.5)):
# every dot product over them is exact in float64 whatever the summation
# order, which is what lets the matmul-based Spark stages replay in SQL
_IVFD_NN = f"""nn AS (
      SELECT vec_id,
             list_transform(embedding::DOUBLE[],
                            x -> floor(x * {_IVFD_SCALE} + 0.5)) AS v
      FROM embeddings
    )"""


def _ivf_dist_sql(index_pred: str, query_pred: str) -> str:
    """DuckDB twin of the DISTRIBUTED two-level IVF search
    (operators/similarity.py ivf_assign_dist + ivf_search) over the
    ``_IVFD_NN`` vectors: the index is built from the rows matching
    ``index_pred`` and probed by the rows matching ``query_pred``. Stages:
    seeded centroid pick → seeded √k rep pick → centroid-group resolution
    (rep pinned to own group) → vector-group resolution → in-group argmax
    (the inverted file) → flat probe list for queries → exact in-cell
    cosine top-k, never matching a query to itself."""
    cent_h = _sql_hex_int("md5(CAST(vec_id AS VARCHAR))", 12)
    rep_h = _sql_hex_int("md5(CAST(c_id AS VARCHAR))", 12)
    return f"""
    WITH {_IVFD_NN},
    n AS (
      -- gn mirrors the Spark assigner's zero-norm guard (norm==0 -> 1.0,
      -- operators/similarity.py ivf_assign_dist): guarded norms drive the
      -- group-resolution/assignment stages only; probes + final scoring
      -- divide by the RAW norm exactly like the Spark plan
      SELECT vec_id, v, norm,
             CASE WHEN norm = 0 THEN 1.0 ELSE norm END AS gn
      FROM (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS norm FROM nn)
    ),
    hist AS (SELECT * FROM n WHERE {index_pred}),
    q AS (SELECT * FROM n WHERE {query_pred}),
    cent AS (
      SELECT vec_id AS c_id, v AS cv, norm AS cn, gn AS gcn
      FROM hist ORDER BY {cent_h}, vec_id LIMIT {_IVFD_CELLS}
    ),
    reps AS (
      SELECT c_id AS rep_id, cv AS rv, gcn AS grn
      FROM cent ORDER BY {rep_h}, c_id LIMIT {_IVFD_GROUPS}
    ),
    cgrp AS (
      SELECT c_id, cv, gcn,
             CASE WHEN c_id IN (SELECT rep_id FROM reps)
                  THEN c_id ELSE best_rep END AS grp
      FROM (
        SELECT c.c_id, c.cv, c.gcn, r.rep_id AS best_rep,
               ROW_NUMBER() OVER (PARTITION BY c.c_id
                 ORDER BY list_dot_product(c.cv, r.rv) / (c.gcn * r.grn) DESC,
                          r.rep_id ASC) AS rk
        FROM cent c, reps r
      ) WHERE rk = 1
    ),
    vgrp AS (
      SELECT vec_id, grp FROM (
        SELECT h.vec_id, r.rep_id AS grp,
               ROW_NUMBER() OVER (PARTITION BY h.vec_id
                 ORDER BY list_dot_product(h.v, r.rv) / (h.gn * r.grn) DESC,
                          r.rep_id ASC) AS rk
        FROM hist h, reps r
      ) WHERE rk = 1
    ),
    assign AS (
      SELECT vec_id AS n_vec_id, c_id AS cell FROM (
        SELECT h.vec_id, c.c_id,
               ROW_NUMBER() OVER (PARTITION BY h.vec_id
                 ORDER BY list_dot_product(h.v, c.cv) / (h.gn * c.gcn) DESC,
                          c.c_id ASC) AS rk
        FROM hist h
        JOIN vgrp ON vgrp.vec_id = h.vec_id
        JOIN cgrp c ON c.grp = vgrp.grp
      ) WHERE rk = 1
    ),
    probes AS (
      SELECT vec_id AS q_vec_id, c_id AS cell FROM (
        SELECT q.vec_id, c.c_id,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id
                 ORDER BY list_dot_product(q.v, c.cv) / (q.norm * c.cn) DESC,
                          c.c_id ASC) AS rk
        FROM q, cent c
      ) WHERE rk <= {_IVFD_NPROBE}
    ),
    scored AS (
      SELECT p.q_vec_id, a.n_vec_id,
             list_dot_product(qq.v, m.v) / (qq.norm * m.norm) AS cos
      FROM probes p
      JOIN assign a ON a.cell = p.cell AND a.n_vec_id != p.q_vec_id
      JOIN q qq ON qq.vec_id = p.q_vec_id
      JOIN n m ON m.vec_id = a.n_vec_id
    )
    SELECT q_vec_id, n_vec_id, CAST(rank AS INT) AS rank, cos FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY q_vec_id
                                   ORDER BY cos DESC, n_vec_id ASC) AS rank
      FROM scored
    ) WHERE rank <= {_IVFD_K} ORDER BY q_vec_id, rank
    """


_SPLIT_SALT = "v1"
_SPLIT_HEX = _sql_hex_int(f"md5(CAST(doc_id AS VARCHAR) || '{_SPLIT_SALT}')", 12)


def _mh_cand_cte(max_bucket_size: int | None) -> str:
    """``mh_cand(doc_a, doc_b)`` over ``mh_bb`` — uncapped distinct
    collisions, or the capped first-matching-band attribution rule."""
    if max_bucket_size is None:
        return """mh_cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM mh_bb a JOIN mh_bb b
        ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    )"""
    return f"""mh_sizes AS (
      SELECT band, bucket, COUNT(*) AS n FROM mh_bb GROUP BY 1, 2
    ),
    mh_allmatch AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.band, a.bucket
      FROM mh_bb a JOIN mh_bb b
        ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    ),
    mh_firstband AS (
      SELECT doc_a, doc_b, MIN(band) AS fband FROM mh_allmatch GROUP BY 1, 2
    ),
    mh_cand AS (
      SELECT f.doc_a, f.doc_b
      FROM mh_firstband f
      JOIN mh_allmatch m
        ON m.doc_a = f.doc_a AND m.doc_b = f.doc_b AND m.band = f.fband
      JOIN mh_sizes s ON s.band = m.band AND s.bucket = m.bucket
      WHERE s.n <= {max_bucket_size}
    )"""


def _minhash_pairs_cte(
    n_bands: int,
    rows_per_band: int,
    threshold: float,
    src: str,
    max_bucket_size: int | None = None,
) -> str:
    """CTE fragment computing ``mh_pairs(doc_a, doc_b, jaccard)`` over any
    relation ``src`` exposing (doc_id, text) — the parameterized twin of
    ``_minhash_sql`` so pipeline oracles can run LSH dedup mid-cascade.
    ``max_bucket_size`` replays the hot-bucket cap with the same
    attribution rule as ``_minhash_sql``: a pair survives iff its
    globally-first matching band is an under-cap bucket."""
    n_hashes = n_bands * rows_per_band
    mins = ",\n        ".join(
        f"MIN(({2 * i + 1} * h + {7 * i + 3}) % {_MINHASH_P}) AS m{i}"
        for i in range(n_hashes)
    )
    band_selects = []
    for b in range(n_bands):
        cols = " || '|' || ".join(
            f"CAST(m{b * rows_per_band + j} AS VARCHAR)" for j in range(rows_per_band)
        )
        band_selects.append(
            f"SELECT doc_id, {b} AS band, md5({cols}) AS bucket FROM mh_sig"
        )
    bands_sql = "\n        UNION ALL\n        ".join(band_selects)
    return f"""
    mh_tok AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t FROM {src}
    ),
    mh_sh AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               generate_series(1, len(t) - 2),
               i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS shingle
      FROM mh_tok WHERE len(t) >= 3
    ),
    mh_hashed AS (
      SELECT doc_id, {_sql_hex_int("substr(md5(shingle), 1, 12)", 12)} AS h
      FROM mh_sh
    ),
    mh_sig AS (
      SELECT doc_id,
        {mins}
      FROM mh_hashed GROUP BY doc_id
    ),
    mh_sets AS (
      SELECT doc_id, list(DISTINCT h) AS hs, COUNT(DISTINCT h) AS sz
      FROM mh_hashed GROUP BY doc_id
    ),
    mh_bb AS (
        {bands_sql}
    ),
    {_mh_cand_cte(max_bucket_size)},
    mh_pairs AS (
      SELECT doc_a, doc_b, jaccard FROM (
        SELECT c.doc_a, c.doc_b,
               CAST(len(list_intersect(sa.hs, sb.hs)) AS DOUBLE)
                 / (sa.sz + sb.sz - len(list_intersect(sa.hs, sb.hs))) AS jaccard
        FROM mh_cand c
        JOIN mh_sets sa ON sa.doc_id = c.doc_a
        JOIN mh_sets sb ON sb.doc_id = c.doc_b
      ) WHERE jaccard >= {threshold}
    )"""


# ---------------------------------------------------------------------------
# Chunk corpus (20-token passages) — shared by the chunk-grain dedup,
# retrieval, and incremental families
# ---------------------------------------------------------------------------

_CHUNK_ID_BASE = 10_000  # chunk_id = doc_id · BASE + idx; injective while idx < BASE

_CHUNK_TOKS_SQL = f"""SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t FROM (
      SELECT doc_id * {_CHUNK_ID_BASE} + (i - 1) AS doc_id,
             array_to_string(t[(i-1)*{D.CHUNK_TOKENS}+1 : i*{D.CHUNK_TOKENS}], ' ') AS text
      FROM (SELECT doc_id, t, CAST(CEIL(len(t) / {D.CHUNK_TOKENS}.0) AS INT) AS n_chunks
            FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t FROM documents)
            WHERE len(t) > 0),
           unnest(generate_series(1, n_chunks)) AS u(i))"""


def chunk_frame(spark, sf_dir):
    """The chunk corpus as a DataFrame (doc_id = chunk id, text) over the
    documents table — see :func:`chunk_docs`."""
    from network_iq_spark.sources import load_table

    return chunk_docs(load_table(spark, sf_dir, "documents"))


def chunk_docs(docs):
    """Explode a (doc_id, text) frame into its 20-token chunks with
    chunk_id = doc_id·BASE + idx. The encoding raises past idx ≥ BASE
    (a ≥200k-token doc would collide into the next doc's id space and
    corrupt every cross-document filter downstream) — the guard lives in
    the expression that DEFINES the id column, so any plan consuming
    chunk ids evaluates it (a projection that drops the id has nothing
    to corrupt). Twin of :data:`_CHUNK_TOKS_SQL`'s inner relation; shared
    by chunk near-dup, chunk BM25, incremental chunk dedup, and the
    streaming admission sink (stream-safe: pure map + explode)."""
    from pyspark.sql import functions as F

    c = D.CHUNK_TOKENS
    base = docs.select("doc_id", T.tokens("text").alias("_toks")).filter(
        F.size("_toks") > 0
    )
    chunk_arr = (
        f"transform(sequence(0, cast(ceil(size(_toks) / {c}.0) as int) - 1), "
        f"i -> array_join(slice(_toks, i * {c} + 1, {c}), ' '))"
    )
    return base.select(
        "doc_id", F.posexplode(F.expr(chunk_arr)).alias("chunk_idx", "text")
    ).select(
        F.when(
            F.col("chunk_idx") < _CHUNK_ID_BASE,
            F.col("doc_id") * _CHUNK_ID_BASE + F.col("chunk_idx"),
        )
        .otherwise(
            F.raise_error(
                F.lit(
                    f"chunk_frame: chunk_idx >= {_CHUNK_ID_BASE} (doc too "
                    "long for the chunk-id encoding; raise _CHUNK_ID_BASE)"
                )
            )
        )
        .alias("doc_id"),
        "text",
    )
