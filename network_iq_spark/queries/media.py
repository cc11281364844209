"""Multimodal (image/audio/video) queries: codec round-trip stats,
perceptual-hash near-dup across all media modalities, incremental media
dedup (in-plan and at-rest-index probe shapes), media contracts and the
cross-modality census. Split out of llmdata.py in r10.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from functools import partial, reduce
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from network_iq_spark.operators import dedup as D
from network_iq_spark.operators import ensure_parallelism
from network_iq_spark.operators import multimodal as M
from network_iq_spark.registry import register
from network_iq_spark.sources import load_table


def _pbuild(spark: SparkSession, *thunks):
    """Construct independent DataFrame subtrees on a small thread pool and
    return them in input order (r15, VERDICT item 2). The composites' plan
    CONSTRUCTION is the measured bottleneck at bench SF — ~7,000 py4j
    round-trips per census build, each a blocking socket read that releases
    the GIL, plus one eager JVM analysis pass per DataFrame op — so
    building the arms serially leaves both the driver's Python thread and
    the JVM analyzer idle most of the time. Overlapping the builds is guide
    §2.6 applied to driver-side planning; each arm's own plan is built by
    exactly one thread, the subtrees are combined afterwards in the same
    fixed order as before, and no job can observe the overlap (the arm
    bodies are lazy), so plans and results are unchanged. The workers inherit
    the caller's local properties and job tags, so their jobs (a schema
    inference on a cold table) stay attributed to the caller's query."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    if len(thunks) == 1:
        return [thunks[0]()]
    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        wrap = inheritable_thread_target(spark)
        futs = [pool.submit(wrap(t)) for t in thunks]
        return [f.result() for f in futs]


# ---------------------------------------------------------------------------
# Multimodal binary plumbing
# ---------------------------------------------------------------------------


@register(
    "multimodal_features",
    oracle="""
    SELECT doc_id AS media_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
           sha256(text) AS payload_sha256,
           CASE WHEN octet_length(encode(text)) = 0 THEN 'empty' ELSE 'ok' END
             AS decode_status
    FROM documents ORDER BY media_id
    """,
)
def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column pipeline: opaque payload → Arrow-batched ``mapInPandas``
    feature extraction (byte length, content hash, stubbed decode). The
    Python stage is real — schema, batching, UDF signature — only the codec
    call is stubbed (no media libs in this container)."""
    docs = load_table(spark, sf_dir, "documents")
    return M.extract_features(M.documents_as_media(docs)).orderBy("media_id")


_IMG_SIDE, _IMG_OUT = 8, 4  # 64-dim embedding -> 8x8 gray -> 4x4 resize
# center-aligned nearest-neighbor survivors: floor((i+0.5)*8/4) = 2i+1
# -> rows/cols {1,3,5,7}; DuckDB list indexing is 1-based
_IMG_KEEP_1BASED = [
    _IMG_SIDE * r + c + 1
    for r in (1, 3, 5, 7)
    for c in (1, 3, 5, 7)
]
_IMG_QUANT_SQL = (
    "list_transform(embedding::DOUBLE[], x -> CAST(floor("
    "((least(greatest(x, -1.0), 1.0)) + 1.0) / 2.0 * 255.0 + 0.5) AS BIGINT))"
)
# Spark twin of _IMG_QUANT_SQL — the ONE Spark definition of the 8-bit
# pixel quantization every image and video tier shares, reached only
# through _img_grid (r11 review: the expr literal had drifted into ten
# call sites; a rounding-rule change must hit both engines in exactly one
# place each). ``{v}`` is the embedding or its first-dims slice.
_IMG_QUANT_EXPR_SQL = (
    "transform({v}, x -> cast(floor(((least(greatest("
    "cast(x as double), -1.0D), 1.0D)) + 1.0D) / 2.0D * 255.0D + 0.5D"
    ") as int))"
)
# DuckDB twin of _img_grid: the quantized grid as base(media_id, px), the
# source relation of the video twin plants and the dHash oracles
_GRID_SQL = f"""base AS (
      SELECT vec_id AS media_id, {_IMG_QUANT_SQL} AS px FROM embeddings
    )"""


def _emb_select(spark: SparkSession, sf_dir: str, expr: str, col: str) -> DataFrame:
    """(media_id, <col>) — one SQL derivation per embeddings row; the
    scan every synthesized media corpus starts from."""
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.select(F.col("vec_id").alias("media_id"), F.expr(expr).alias(col))


def _img_grid(spark: SparkSession, sf_dir: str, dims: int | None = None) -> DataFrame:
    """(media_id, px) — the quantized pixel grid every image and video
    tier derives its corpus from (8×8 image, 4-frame 4×4 clip, or with
    ``dims`` the first ``dims`` values only: the block constants of the
    JPEG/GIF fixtures). The composites build it once per query and feed
    every arm the same frame (the _aud_walks rule)."""
    v = "embedding" if dims is None else f"slice(embedding, 1, {dims})"
    return _emb_select(spark, sf_dir, _IMG_QUANT_EXPR_SQL.format(v=v), "px")


def _roundtrip(df: DataFrame, col: str, dtype: str, fn) -> DataFrame:
    """(media_id, <col> array<int>) after passing each row's ``col``
    array, as a ``dtype`` numpy array, through ``fn`` — a REAL codec
    encode → decode round trip — inside Arrow batches. ``fn`` returns the
    decoded values in any shape; they are flattened in C order. ``fn`` is
    shipped to the Python workers by value, so it must be a lambda or a
    nested function that calls only ``operators/`` code: a module-level
    function of this file would be pickled by reference, and every worker
    would then import the whole queries package."""
    import numpy as np
    import pandas as pd

    def run(it):
        for pdf in it:
            out = []
            for a in pdf[col]:
                dec = fn(np.asarray(list(a), dtype=dtype))
                out.append([int(v) for v in np.asarray(dec).reshape(-1)])
            yield pd.DataFrame({"media_id": pdf["media_id"], col: out})

    return df.mapInPandas(run, schema=f"media_id bigint, {col} array<int>")


def _codec_stats_oracle(out: int, keep: list[int], channels: int = 1) -> str:
    """DuckDB replay of :func:`_image_codec_stats`: the stats of an
    ``out``×``out`` center-aligned resample are the quantized values at
    the 1-based ``keep`` positions, counted once per output channel. The
    oracle never sees an image, so a codec or resample defect shows up as
    a hash mismatch."""
    px_sum = f"{channels} * ({' + '.join(f'px[{i}]' for i in keep)})"
    return f"""
    WITH q AS (
      SELECT vec_id AS media_id, {_IMG_QUANT_SQL} AS px FROM embeddings
    )
    SELECT media_id,
           {out} AS out_w, {out} AS out_h,
           {px_sum} AS px_sum,
           CAST({px_sum} AS DOUBLE) / {out * out * channels}.0 AS px_mean
    FROM q ORDER BY media_id
    """


def _image_codec_stats(
    spark: SparkSession,
    sf_dir: str,
    side: int,
    out: int,
    encode,
    *,
    dims: int | None = None,
    spread: bool = False,
    channels: int = 1,
) -> DataFrame:
    """The shared body of the ``decoded_*_stats`` image queries:
    quantized grid (first ``dims`` values) → ``encode(media_id, uint8
    array)`` to a REAL ``side``×``side`` image file → resize_media's
    decode → center-aligned nearest-neighbor resample to ``out``×``out``
    → PNM re-encode (operators/multimodal.py, pure numpy) → the OUTPUT
    BYTES decoded again for (out_w, out_h, px_sum, px_mean), with
    ``channels`` samples per pixel in the mean. All stages MAP-ONLY
    before the final sort. ``encode`` ships by value (see
    :func:`_roundtrip`).

    ``spread`` runs ensure_parallelism on the grid before the encode. It
    is chosen by codec, not by the caller's data: the heavy codecs
    (4:2:0 and progressive JPEG, GIF: ≥1 ms per row) gain from spreading
    the tiny scan before encoding (A/B-measured r12, 1.58x on gif;
    docs/ROUND14.md), while the light ones keep the scan partitioning.
    It is an identity at real scale (ensure_parallelism docstring)."""
    import numpy as np
    import pandas as pd

    from network_iq_spark.operators.multimodal import decode_image

    src = _img_grid(spark, sf_dir, dims)
    if spread:
        src = ensure_parallelism(src)
    n_px = out * out * channels

    def build(it):
        for pdf in it:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "payload": [
                        encode(mid, np.asarray(list(p), dtype=np.uint8))
                        for mid, p in zip(pdf["media_id"], pdf["px"])
                    ],
                    "media_type": "image",
                    "width": np.int32(side),
                    "height": np.int32(side),
                    "duration_ms": pd.array([None] * len(pdf), dtype="Int32"),
                }
            )

    media = src.mapInPandas(
        build,
        schema="media_id bigint, payload binary, media_type string, "
        "width int, height int, duration_ms int",
    )
    resized = M.resize_media(media, out, out)

    def stats(it):
        for pdf in it:
            out_w, out_h, sums = [], [], []
            for p in pdf["payload"]:
                img = decode_image(bytes(p))
                out_h.append(img.shape[0])
                out_w.append(img.shape[1])
                sums.append(int(img.sum()))
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "out_w": pd.array(out_w, dtype="int32"),
                    "out_h": pd.array(out_h, dtype="int32"),
                    "px_sum": pd.array(sums, dtype="int64"),
                    "px_mean": [s / n_px for s in sums],
                }
            )

    return resized.mapInPandas(
        stats,
        schema="media_id bigint, out_w int, out_h int, px_sum bigint, "
        "px_mean double",
    ).orderBy("media_id")


@register(
    "decoded_image_stats",
    oracle=_codec_stats_oracle(_IMG_OUT, _IMG_KEEP_1BASED),
)
def q_decoded_image_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode, end to end and hash-checked: each embedding is
    quantized to 8-bit pixels (Spark expressions — both engines evaluate
    the identical doubles), encoded as an actual PGM image in an Arrow
    batch, pushed through resize_media's decode → center-aligned
    nearest-neighbor resample → PNM re-encode (operators/multimodal.py,
    pure numpy), and the OUTPUT BYTES are decoded again for the stats.
    The oracle never sees an image: it computes the same stats from the
    16 surviving pixel positions directly, so any defect in the codec,
    the resample index math, or the re-encode shows up as a hash
    mismatch. All stages MAP-ONLY (zero shuffles before the final sort)."""
    from network_iq_spark.operators.multimodal import encode_pnm

    return _image_codec_stats(
        spark, sf_dir, _IMG_SIDE, _IMG_OUT,
        lambda mid, a: encode_pnm(a.reshape(_IMG_SIDE, _IMG_SIDE)),
    )


_PNG_OUT = 2
# center-aligned nearest-neighbor survivors for 8 -> 2: floor((i+0.5)*8/2)
# -> rows/cols {2, 6}; DuckDB list indexing is 1-based
_PNG_KEEP_1BASED = [_IMG_SIDE * r + c + 1 for r in (2, 6) for c in (2, 6)]

_JPEG_BLOCKS = 2  # 2x2 grid of constant 8x8 blocks -> 16x16 image
_JPEG_OUT = 2
# survivors for 16 -> 2: floor((i+0.5)*16/2) -> rows/cols {4, 12}; pixel
# (4,4) lands in block (0,0), (4,12) in (0,1), ... — i.e. the resample
# picks exactly the 4 block constants, which are embedding dims 1..4
_JPEG_KEEP_1BASED = [1, 2, 3, 4]


@register(
    "decoded_png_stats",
    oracle=_codec_stats_oracle(_PNG_OUT, _PNG_KEEP_1BASED),
)
def q_decoded_png_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PNG sibling of `decoded_image_stats` — same decode → resample →
    re-encode pipeline, but the input payloads are REAL PNG files
    (zlib-compressed, CRC-chunked, per-row filters cycling through all
    five spec types so every unfilter path — None/Sub/Up/Average/Paeth —
    runs inside the distributed Arrow batches, not just in a unit test).
    The oracle never inflates a PNG: it computes the same stats from the
    4 surviving pixel positions of the 8×8 → 2×2 center-aligned resample,
    so a defect anywhere in the codec (CRC layout, filter math, alpha
    handling) or the resample surfaces as a hash mismatch. MAP-ONLY
    before the final sort."""
    from network_iq_spark.operators.multimodal import encode_png

    return _image_codec_stats(
        spark, sf_dir, _IMG_SIDE, _PNG_OUT,
        lambda mid, a: encode_png(a.reshape(_IMG_SIDE, _IMG_SIDE)),
    )


# Image near-dup fixture: every {_DHASH_TWIN_EVERY}th image gets a planted
# perturbed twin (+3 on the four col-0 pixels of rows 0/2/4/6, clamped) —
# a bump that can flip at most the 4 adjacent gradient comparisons, so a
# twin's dHash Hamming distance is ≤ 4 by construction and every planted
# pair lands under the threshold. The corpus itself has no near-identical
# embeddings (max pairwise cosine ≈ 0.51), so without planting the query
# would be a 0-row test.
_DHASH_MAX_HAMMING = 6
_DHASH_TWIN_EVERY = 10
_DHASH_TWIN_OFFSET = 1_000_000


# DuckDB twin of _dhash_twins over base(media_id, px)
_DHASH_TWINS_SQL = f"""SELECT media_id + {_DHASH_TWIN_OFFSET} AS media_id,
             list_transform(generate_series(1, {_IMG_SIDE * _IMG_SIDE}),
               i -> CASE WHEN (i - 1) % 16 = 0
                         THEN least(px[i] + 3, 255) ELSE px[i] END) AS px
      FROM base WHERE media_id % {_DHASH_TWIN_EVERY} = 0"""


def _dhash_ctes(src: str, bits: str, bands: str) -> str:
    """DuckDB twin of image_dhash + hamming_index over ``src``(media_id,
    px): ``bits``(media_id, dhash) and its pigeonhole segments
    ``bands``(media_id, dhash, b, v) — one text for every dHash oracle."""
    return f"""{bits} AS (
      SELECT media_id,
             CAST(SUM(CASE WHEN px[(k // {_IMG_SIDE - 1}) * {_IMG_SIDE}
                                   + (k % {_IMG_SIDE - 1}) + 2]
                           > px[(k // {_IMG_SIDE - 1}) * {_IMG_SIDE}
                                + (k % {_IMG_SIDE - 1}) + 1]
                      THEN (1::BIGINT << k) ELSE 0 END) AS BIGINT) AS dhash
      FROM {src}, LATERAL unnest(generate_series(0, {_IMG_SIDE * (_IMG_SIDE - 1) - 1}))
                AS s(k)
      GROUP BY media_id
    ),
    {bands} AS (
      SELECT media_id, dhash, b, (dhash >> (8 * b)) & 255 AS v
      FROM {bits}, LATERAL unnest(generate_series(0, {_DHASH_MAX_HAMMING})) AS g(b)
    )"""


# shared CTE chain (quantize -> plant twins -> dHash -> bands -> candidate
# pairs) reused verbatim by the pairs oracle and the clusters oracle
_IMG_ND_CHAIN = f"""{_GRID_SQL},
    q AS (SELECT media_id, px FROM base UNION ALL {_DHASH_TWINS_SQL}),
    {_dhash_ctes("q", "bits", "bands")},
    cand AS (
      SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b,
             a.dhash AS da, b.dhash AS db
      FROM bands a JOIN bands b
        ON a.b = b.b AND a.v = b.v AND a.media_id < b.media_id
    )"""

_IMG_ND_ORACLE = f"""
    WITH {_IMG_ND_CHAIN}
    SELECT id_a, id_b, hamming FROM (
      SELECT id_a, id_b, CAST(bit_count(xor(da, db)) AS INT) AS hamming
      FROM cand
    ) WHERE hamming <= {_DHASH_MAX_HAMMING} ORDER BY id_a, id_b
    """


def _dhash_twins(src: DataFrame) -> DataFrame:
    """The planted perturbed twins of every ``_DHASH_TWIN_EVERY``-th
    image (the fixture comment above) — shared by the near-dup corpus
    and the incremental probe's batch."""
    return src.filter(F.col("media_id") % _DHASH_TWIN_EVERY == 0).select(
        (F.col("media_id") + _DHASH_TWIN_OFFSET).alias("media_id"),
        F.expr(
            "transform(px, (x, i) -> IF(i % 16 = 0, least(x + 3, 255), x))"
        ).alias("px"),
    )


def _image_nd_decoded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The image near-dup fixture frame: quantized-embedding rasters plus
    planted perturbed twins, pushed through the REAL PNG encode → decode
    round trip inside Arrow batches. Shared by the pairs query and the
    clusters query (same corpus, same decode path)."""
    from network_iq_spark.operators.multimodal import decode_image, encode_png

    src = _img_grid(spark, sf_dir)
    return _roundtrip(
        src.unionByName(_dhash_twins(src)), "px", "uint8",
        lambda a: decode_image(encode_png(a.reshape(_IMG_SIDE, _IMG_SIDE))),
    )


@register("image_near_dup_pairs", oracle=_IMG_ND_ORACLE)
def q_image_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash image near-dup — the codec tier wired into the
    dedup tier (r9): images synthesized from quantized embeddings (plus
    the planted perturbed twins) make a REAL PNG encode → decode round
    trip inside Arrow batches, dHash (56-bit row-gradient hash) folds
    over the decoded luma, and pairs come from pigeonhole Hamming
    blocking — never an all-pairs scan (operators/dedup.py image_dhash /
    image_near_dup_pairs; blocking precedent simhash_pairs_blocked).
    The oracle replays dHash/bands/verify from the quantized values
    directly — decoders are bit-exact, so a defect anywhere in the codec
    or the hash surfaces as a mismatch."""
    return D.image_near_dup_pairs(
        _image_nd_decoded(spark, sf_dir), max_hamming=_DHASH_MAX_HAMMING
    ).orderBy("id_a", "id_b")


_IMG_ND_MAX_BUCKET = 8


@register(
    "image_near_dup_pairs_capped",
    oracle=f"""
    WITH {_IMG_ND_CHAIN},
    bsizes AS (
      SELECT b, v, COUNT(*) AS n FROM bands GROUP BY 1, 2
    ),
    allm AS (
      SELECT a.media_id AS id_a, b.media_id AS id_b,
             a.dhash AS da, b.dhash AS db, a.b AS b, a.v AS v
      FROM bands a JOIN bands b
        ON a.b = b.b AND a.v = b.v AND a.media_id < b.media_id
    ),
    fseg AS (
      SELECT id_a, id_b, MIN(b) AS fb FROM allm GROUP BY 1, 2
    ),
    capcand AS (
      SELECT DISTINCT m.id_a, m.id_b, m.da, m.db
      FROM fseg f
      JOIN allm m ON m.id_a = f.id_a AND m.id_b = f.id_b AND m.b = f.fb
      JOIN bsizes s ON s.b = m.b AND s.v = m.v
      WHERE s.n <= {_IMG_ND_MAX_BUCKET}
    )
    SELECT id_a, id_b, hamming FROM (
      SELECT id_a, id_b, CAST(bit_count(xor(da, db)) AS INT) AS hamming
      FROM capcand
    ) WHERE hamming <= {_DHASH_MAX_HAMMING} ORDER BY id_a, id_b
    """,
)
def q_image_near_dup_pairs_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup with the media hot-bucket guard ON (r10) —
    identical plan to ``image_near_dup_pairs`` but (seg, seg_val)
    buckets larger than ``_IMG_ND_MAX_BUCKET`` images are dropped from
    candidate generation BEFORE the self-join, the configuration a
    crawled corpus runs (identical-crop clusters put |B| copies in ONE
    bucket per segment — |B|² verify pairs; the r10 soak measured 79.8k
    such pairs from one planted 400-image crop, all removed by the cap).
    At this SF the cap prunes the largest organic buckets (up to 17
    members), so the result observably differs from the uncapped
    flagship. Same deterministic attribution as every capped tier: a
    pair survives iff its globally-FIRST matching segment's bucket is at
    or under the cap — the oracle replays exactly that rule (fseg =
    MIN(b) over colliding segments, computed from the hashes, unaffected
    by which buckets were dropped)."""
    return D.image_near_dup_pairs(
        _image_nd_decoded(spark, sf_dir),
        max_hamming=_DHASH_MAX_HAMMING,
        max_bucket_size=_IMG_ND_MAX_BUCKET,
    ).orderBy("id_a", "id_b")


_CROP_TWIN_EVERY, _CROP_TWIN_OFFSET, _CROP_MAX = 10, 1_000_000, 2
_CROP_BLOCK = _IMG_SIDE - _CROP_MAX  # 6x6 pigeonhole anchor blocks


def _crop_tok_sql(b: int) -> str:
    """DuckDB twin of the operator's B×B sub-block md5 tokens."""
    return (
        f"flatten(list_transform(range(0, h - {b - 1}), r0 -> "
        f"list_transform(range(0, w - {b - 1}), c0 -> "
        f"md5(array_to_string(flatten(list_transform(range(0, {b}), i -> "
        f"list_transform(range(0, {b}), j -> "
        f"CAST(px[(r0 + i) * w + c0 + j + 1] AS VARCHAR)))), ' ')))))"
    )


# The image corpus as base(media_id, w, h, px): the source relation of
# every image twin plant (the DuckDB twin of _img_grid + a w/h select).
_IMG_BASE_SQL = f"""base AS (
      SELECT vec_id AS media_id, 8 AS w, 8 AS h, {_IMG_QUANT_SQL} AS px
      FROM embeddings
    )"""
# DuckDB twin of _crop_twins: every 10th image's top-left crop
_CROP_TWINS_SQL = f"""SELECT media_id + {_CROP_TWIN_OFFSET} AS media_id,
             8 - dc AS w, 8 - dr AS h,
             flatten(list_transform(range(0, 8 - dr), i ->
               list_transform(range(0, 8 - dc), j ->
                 px[(i + dr) * 8 + j + dc + 1]))) AS px
      FROM (
        SELECT media_id, px,
               1 + (media_id // {_CROP_TWIN_EVERY}) % 2 AS dr,
               (media_id // {2 * _CROP_TWIN_EVERY}) % 3 AS dc
        FROM base WHERE media_id % {_CROP_TWIN_EVERY} = 0
      )"""
# Shared corpus CTEs: the planted-crop corpus (base 8×8 grids + every
# 10th image's top-left crop) — ONE definition for both crop queries so
# the plant can never desync between the pair scan and the incremental
# probe (same rule as _crop_tok_sql / _IMG_QUANT_SQL).
_CROP_CORPUS_SQL = f"""{_IMG_BASE_SQL},
    crops AS ({_CROP_TWINS_SQL}),
    imgs AS (SELECT * FROM base UNION ALL SELECT * FROM crops),
    toks AS (
      SELECT DISTINCT media_id, unnest({_crop_tok_sql(_CROP_BLOCK)}) AS tok
      FROM imgs
    )"""


def _crop_verify_sql(a: str, b: str) -> str:
    """Shared 2-D lag-scan verify over a ``cand`` CTE with pair columns
    (a, b): 25 offsets, overlap ≥ B², min by (ssd, |dr|+|dc|, dr, dc),
    keep ssd ≤ 0 — the DuckDB twin of operators/dedup.py _crop_verify."""
    return f"""lags AS (
      SELECT r.dr, c.dc
      FROM (SELECT unnest(range(-{_CROP_MAX}, {_CROP_MAX + 1})) AS dr) r,
           (SELECT unnest(range(-{_CROP_MAX}, {_CROP_MAX + 1})) AS dc) c
    ),
    scored AS (
      SELECT c.{a}, c.{b}, l.dr, l.dc,
             greatest(0, -l.dr) AS rlo, least(gb.h, ga.h - l.dr) - 1 AS rhi,
             greatest(0, -l.dc) AS clo, least(gb.w, ga.w - l.dc) - 1 AS chi,
             ga.px AS pxa, gb.px AS pxb, ga.w AS wa, gb.w AS wb
      FROM cand c
      JOIN imgs ga ON ga.media_id = c.{a}
      JOIN imgs gb ON gb.media_id = c.{b}
      CROSS JOIN lags l
    ),
    evaled AS (
      SELECT {a}, {b}, dr, dc,
             CASE WHEN rhi < rlo OR chi < clo
                    OR (rhi - rlo + 1) * (chi - clo + 1)
                       < {_CROP_BLOCK * _CROP_BLOCK}
                  THEN NULL
                  ELSE list_sum(flatten(list_transform(range(rlo, rhi + 1),
                    i -> list_transform(range(clo, chi + 1), j ->
                      (pxb[i * wb + j + 1] - pxa[(i + dr) * wa + j + dc + 1])
                    * (pxb[i * wb + j + 1] - pxa[(i + dr) * wa + j + dc + 1])
                  ))))
             END AS ssd
      FROM scored
    ),
    picked AS (
      SELECT {a}, {b},
             CAST(dr AS INT) AS dr, CAST(dc AS INT) AS dc,
             CAST(ssd AS BIGINT) AS ssd,
             ROW_NUMBER() OVER (
               PARTITION BY {a}, {b}
               ORDER BY ssd, abs(dr) + abs(dc), dr, dc
             ) AS rn
      FROM evaled WHERE ssd IS NOT NULL
    )
    SELECT {a}, {b}, dr, dc, ssd
    FROM picked WHERE rn = 1 AND ssd <= 0
    ORDER BY {a}, {b}"""


def _crop_corpus(spark: SparkSession, sf_dir: str):
    """Spark twin of _CROP_CORPUS_SQL: (base, crops) grid frames."""
    return _crop_corpus_from(_img_grid(spark, sf_dir))


def _crop_corpus_from(img: DataFrame):
    """(base, crops) over an injected (media_id, px) frame — projection
    collapse makes the plan identical to the fused select."""
    base = img.select(
        "media_id",
        F.lit(8).alias("w"),
        F.lit(8).alias("h"),
        "px",
    )
    return base, _crop_twins(base)


def _crop_twins(base: DataFrame) -> DataFrame:
    """Planted top-left crops of every 10th image, with the cropped
    (w, h). ``base`` needs (media_id, px)."""
    return (
        base.filter(F.col("media_id") % _CROP_TWIN_EVERY == 0)
        .select(
            "media_id",
            "px",
            F.expr(
                f"cast(1 + (media_id div {_CROP_TWIN_EVERY}) % 2 as int)"
            ).alias("dr"),
            F.expr(
                f"cast((media_id div {2 * _CROP_TWIN_EVERY}) % 3 as int)"
            ).alias("dc"),
        )
        .select(
            (F.col("media_id") + _CROP_TWIN_OFFSET).alias("media_id"),
            (F.lit(8) - F.col("dc")).alias("w"),
            (F.lit(8) - F.col("dr")).alias("h"),
            F.expr(
                "flatten(transform(sequence(0, 7 - dr), i -> "
                "transform(sequence(0, 7 - dc), j -> px[(i + dr) * 8 + j + dc])))"
            ).alias("px"),
        )
    )


@register(
    "image_cropped_near_dup_pairs",
    oracle=f"""
    WITH {_CROP_CORPUS_SQL},
    cand AS (
      SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b
      FROM toks a JOIN toks b ON a.tok = b.tok AND a.media_id < b.media_id
    ),
    {_crop_verify_sql("id_a", "id_b")}
    """,
)
def q_image_cropped_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crop-TOLERANT image near-dup (r11, VERDICT item 4) — the cell the
    modality×transform matrix was missing, and unlike the shifted
    audio/video tiers it is fully ORACLE-PAIRED: blocking is pigeonhole
    (any ≤2-row/col crop of an 8×8 grid preserves an intact 6×6 block —
    deterministic recall 1.0, no LSH S-curve) and the verify is an exact
    integer 2-D lag scan, so DuckDB replays the whole pipeline. Every
    10th image gets a planted top-left crop (1–2 rows, 0–2 columns,
    varying by id — the 10–25 % crop class that provably scrambles
    image_dhash); the operator (operators/dedup.py cropped_grid_pairs)
    reports each pair once with the recovered (dr, dc) offset and zero
    residual. Variable-size grids ride a (w, h, px) schema — the shape
    a thumbnail-normalized crawl corpus actually has."""
    return _image_cropped_pairs_from(_img_grid(spark, sf_dir))


def _image_cropped_pairs_from(img: DataFrame) -> DataFrame:
    """Arm body over an injected quantized-grid frame (the
    ``_audio_resampled_pairs_from`` build-once rationale)."""
    base, crops = _crop_corpus_from(img)
    return D.cropped_grid_pairs(
        base.unionByName(crops), max_crop=_CROP_MAX, side=_IMG_SIDE
    ).orderBy("id_a", "id_b")


@register(
    "incremental_image_crop_probe",
    oracle=f"""
    WITH {_CROP_CORPUS_SQL},
    cand AS (
      SELECT DISTINCT a.media_id AS new_id, b.media_id AS old_id
      FROM toks a JOIN toks b ON a.tok = b.tok
      WHERE a.media_id >= {_CROP_TWIN_OFFSET}
        AND b.media_id < {_CROP_TWIN_OFFSET}
    ),
    {_crop_verify_sql("new_id", "old_id")}
    """,
)
def q_incremental_image_crop_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental crop-tolerant dedup (r11) — the DEPLOYMENT shape of
    the crop tier, completing the incremental symmetry across every
    dedup grain (exact / near-dup / chunk / dHash / crop): the at-rest
    index is the (id, tok) sub-block token table + grid table
    (operators/dedup.py crop_index — persisted bucketed by tok in a
    deployment), and the incoming batch of cropped derivatives probes it
    by token collision + exact 2-D lag-scan verify — O(batch ×
    collision), never O(history). Pigeonhole recall 1.0 for crops ≤
    max_crop, precision exact, fully oracle-replayable. The batch here
    is the planted crop set (every 10th image's top-left crop); output
    (new_id, old_id, dr, dc, ssd=0) with (dr, dc) the NEGATED plant
    offset (the verify reports the shift that maps the batch grid onto
    the history grid)."""
    base, crops = _crop_corpus(spark, sf_dir)
    toks, grids = D.crop_index(base, max_crop=_CROP_MAX, side=_IMG_SIDE)
    return D.incremental_cropped_dedup(
        crops, toks, grids, max_crop=_CROP_MAX, side=_IMG_SIDE
    ).orderBy("new_id", "old_id")


_THUMB_TWIN_EVERY, _THUMB_TWIN_OFFSET = 10, 2_000_000
# DuckDB twin of the floor box-average 2x decimation (1-based lists)
_THUMB_DOWN_SQL = (
    "flatten(list_transform(range(0, h // 2), i -> "
    "list_transform(range(0, w // 2), j -> "
    "(px[(2*i) * w + 2*j + 1] + px[(2*i) * w + 2*j + 2] "
    "+ px[(2*i+1) * w + 2*j + 1] + px[(2*i+1) * w + 2*j + 2]) // 4)))"
)
_THUMB_KEY_SQL = (
    "md5(CAST({w} AS VARCHAR) || 'x' || CAST({h} AS VARCHAR) || ':' || "
    "array_to_string(list_transform({g}, x -> CAST(x AS VARCHAR)), ' '))"
)
# DuckDB twin of _thumb_twins over base(media_id, w, h, px)
_THUMB_TWINS_SQL = f"""SELECT media_id + {_THUMB_TWIN_OFFSET} AS media_id,
             4 AS w, 4 AS h, {_THUMB_DOWN_SQL} AS px
      FROM base WHERE media_id % {_THUMB_TWIN_EVERY} = 0"""


def _thumb_twins(base: DataFrame) -> DataFrame:
    """Planted 2x floor-box-average thumbnails of every 10th image —
    ONE Spark-side definition shared by the pairs tier and the
    resolution keep-best member corpus (the _crop_corpus rule: the
    plant can never desync between consumers)."""
    return base.filter(F.col("media_id") % _THUMB_TWIN_EVERY == 0).select(
        (F.col("media_id") + _THUMB_TWIN_OFFSET).alias("media_id"),
        F.lit(4).alias("w"),
        F.lit(4).alias("h"),
        F.expr(
            "flatten(transform(sequence(0, 3), i -> "
            "transform(sequence(0, 3), j -> "
            "(px[(2*i) * 8 + 2*j] + px[(2*i) * 8 + 2*j + 1] "
            "+ px[(2*i+1) * 8 + 2*j] + px[(2*i+1) * 8 + 2*j + 1]) div 4)))"
        ).alias("px"),
    )


@register(
    "image_thumbnail_pairs",
    oracle=f"""
    WITH {_IMG_BASE_SQL},
    thumbs AS ({_THUMB_TWINS_SQL}),
    imgs AS (SELECT * FROM base UNION ALL SELECT * FROM thumbs),
    parents AS (
      SELECT media_id AS full_id,
             {_THUMB_KEY_SQL.format(w="w // 2", h="h // 2", g=_THUMB_DOWN_SQL)}
               AS gkey,
             CAST(w // 2 AS INT) AS thumb_w, CAST(h // 2 AS INT) AS thumb_h
      FROM imgs WHERE w >= 2 AND h >= 2
    ),
    tt AS (
      SELECT media_id AS thumb_id,
             {_THUMB_KEY_SQL.format(w="w", h="h", g="px")} AS gkey
      FROM imgs
    )
    SELECT full_id, thumb_id, thumb_w, thumb_h
    FROM parents JOIN tt USING (gkey)
    WHERE full_id != thumb_id
    ORDER BY full_id, thumb_id
    """,
)
def q_image_thumbnail_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCALE-derivative image pairs (r11) — the third transform axis of
    the near-dup matrix (shift: audio/video tiers; crop: crop tier;
    scale: this): every 10th image gets a planted 2× floor-box-average
    THUMBNAIL (the decimation thumbnailing pipelines run — integer-exact,
    so the tier is fully oracle-replayable), and
    operators/dedup.py downscale_derivative_pairs recovers each
    (parent, thumb) pair via an exact equi-join on the md5 of the
    derived half-res grid — recall 1.0 by construction for
    same-pipeline derivatives, no similarity threshold anywhere. The
    operator docstring states the boundary: interpolating or
    round-half-up resamplers land ±1–2 per pixel away and are outside
    this tier's exact claim."""
    return _image_thumbnail_pairs_from(_img_grid(spark, sf_dir))


def _image_thumbnail_pairs_from(img: DataFrame) -> DataFrame:
    """Arm body over an injected quantized-grid frame (the
    ``_audio_resampled_pairs_from`` build-once rationale)."""
    base = img.select(
        "media_id",
        F.lit(8).alias("w"),
        F.lit(8).alias("h"),
        "px",
    )
    imgs = base.unionByName(_thumb_twins(base))
    return D.downscale_derivative_pairs(imgs).orderBy(
        "full_id", "thumb_id"
    )


@register(
    "image_dedup_clusters",
    oracle=f"""
    WITH RECURSIVE {_IMG_ND_CHAIN},
    prs AS (
      SELECT id_a, id_b FROM (
        SELECT id_a, id_b, CAST(bit_count(xor(da, db)) AS INT) AS hamming
        FROM cand
      ) WHERE hamming <= {_DHASH_MAX_HAMMING}
    ),
    sym AS (
      SELECT id_a AS a, id_b AS b FROM prs
      UNION ALL
      SELECT id_b AS a, id_a AS b FROM prs
    ),
    walk(v, label) AS (
      SELECT media_id, media_id FROM q
      UNION
      SELECT s.b, w.label FROM walk w JOIN sym s ON s.a = w.v
    ),
    clusters AS (
      SELECT v AS media_id, MIN(label) AS cluster_id FROM walk GROUP BY v
    ),
    scores AS (
      SELECT media_id,
             {_IMG_SIDE * _IMG_SIDE} * CAST(list_sum(list_transform(px,
               x -> CAST(x AS BIGINT) * x)) AS BIGINT)
             - CAST(list_sum(list_transform(px,
               x -> CAST(x AS BIGINT))) AS BIGINT)
             * CAST(list_sum(list_transform(px,
               x -> CAST(x AS BIGINT))) AS BIGINT) AS px_var_units
      FROM q
    ),
    ranked AS (
      SELECT c.cluster_id, c.media_id, s.px_var_units,
             ROW_NUMBER() OVER (PARTITION BY c.cluster_id
               ORDER BY s.px_var_units DESC, c.media_id ASC) AS rk,
             COUNT(*) OVER (PARTITION BY c.cluster_id) AS cluster_size
      FROM clusters c JOIN scores s ON s.media_id = c.media_id
    )
    SELECT cluster_id, media_id AS keeper, px_var_units AS keeper_score,
           CAST(cluster_size AS BIGINT) AS cluster_size
    FROM ranked WHERE rk = 1 ORDER BY cluster_id
    """,
)
def q_image_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full media-dedup decision, end to end (r9): detect (dHash +
    blocked Hamming pairs over REAL PNG round-trip decodes) → cluster
    (min-label connected components, operators/graph.py) → policy (keep
    each cluster's highest-INFORMATION member: integer pixel-variance
    units n·Σx² − (Σx)², a blur/flat-image tiebreak production keeps —
    the media analogue of cluster_keep_best's quality score; exact, so
    cross-engine keeper choice can't drift). The oracle reaches the same
    fixpoint by recursive CTE and replays the variance policy."""
    from network_iq_spark.operators import graph as G

    decoded = _image_nd_decoded(spark, sf_dir).localCheckpoint(eager=False)
    pairs = D.image_near_dup_pairs(decoded, max_hamming=_DHASH_MAX_HAMMING)
    clusters = G.connected_components(
        decoded.select("media_id"), pairs, id_col="media_id",
        src="id_a", dst="id_b",
    )
    ss = "aggregate(px, cast(0 as bigint), (a, x) -> a + cast(x as bigint) * x)"
    s1 = "aggregate(px, cast(0 as bigint), (a, x) -> a + cast(x as bigint))"
    scores = decoded.select(
        "media_id",
        F.expr(
            f"{_IMG_SIDE * _IMG_SIDE} * ({ss}) - ({s1}) * ({s1})"
        ).alias("px_var_units"),
    )
    return D.keep_best_per_cluster(
        clusters, scores, id_col="media_id",
        score_col="px_var_units",
    ).orderBy("cluster_id")


_IMG_INCR_DEDUP_ORACLE = f"""
    WITH {_GRID_SQL},
    batch AS ({_DHASH_TWINS_SQL}),
    {_dhash_ctes("base", "hbits", "hband")},
    {_dhash_ctes("batch", "bbits", "bband")},
    cand AS (
      SELECT DISTINCT n.media_id AS new_id, o.media_id AS old_id,
             n.dhash AS dn, o.dhash AS do_
      FROM bband n JOIN hband o ON n.b = o.b AND n.v = o.v
    )
    SELECT new_id, old_id, hamming FROM (
      SELECT new_id, old_id, CAST(bit_count(xor(dn, do_)) AS INT) AS hamming
      FROM cand
    ) WHERE hamming <= {_DHASH_MAX_HAMMING} ORDER BY new_id, old_id
    """


def _img_probe_batch(hist: DataFrame) -> DataFrame:
    """The incoming batch: perturbed copies of every
    ``_DHASH_TWIN_EVERY``-th image pushed through the REAL PNG
    encode → decode round trip (like any new crawl item), fingerprinted
    with dHash. O(batch) codec work — the only per-item cost the probe
    path pays."""
    from network_iq_spark.operators.multimodal import decode_image, encode_png

    return _roundtrip(
        _dhash_twins(hist), "px", "uint8",
        lambda a: decode_image(encode_png(a.reshape(_IMG_SIDE, _IMG_SIDE))),
    ).select("media_id", D.image_dhash(_IMG_SIDE).alias("dhash"))


def _img_index_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dHash segment index over the at-rest corpus (hamming_index
    rows) — what a deployment persists partitioned by (seg, seg_val)."""
    hist_hashed = _img_grid(spark, sf_dir).select(
        "media_id", D.image_dhash(_IMG_SIDE).alias("dhash")
    )
    return D.hamming_index(
        hist_hashed, "dhash", _DHASH_MAX_HAMMING,
        n_bits=_IMG_SIDE * (_IMG_SIDE - 1),
    )


@register("incremental_image_dedup", oracle=_IMG_INCR_DEDUP_ORACLE)
def q_incremental_image_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental media dedup (r9) — the media twin of
    incremental_near_dup: the at-rest corpus is indexed once by dHash
    segment (operators/dedup.py hamming_index — persisted partitioned by
    (seg, seg_val) in a deployment), and an incoming batch (perturbed
    copies of every 10th image, pushed through the REAL PNG
    encode → decode round trip like any new crawl item) probes it via
    segment collisions + Hamming verify (incremental_hamming_dedup).
    Cost is O(batch × collision rate), never O(history); recall 1.0 by
    the pigeonhole argument. The oracle replays index, probe, and verify
    from the quantized values directly.

    NOTE (r10): this registered shape rebuilds the history index IN-PLAN
    — O(corpus) codec-free map work — so one self-contained query is
    fully SQL-replayable. The shape a deployment actually runs at 100 TB
    (probe against the AT-REST index, O(batch) only) is the
    ``incremental_image_dedup_probe`` twin below, now also
    oracle-paired; the index build itself is hashed separately as
    ``media_dhash_index``."""
    index = _img_index_df(spark, sf_dir)
    batch = _img_probe_batch(_img_grid(spark, sf_dir))
    return D.incremental_hamming_dedup(
        batch, index, "dhash", _DHASH_MAX_HAMMING,
        n_bits=_IMG_SIDE * (_IMG_SIDE - 1),
    ).orderBy("new_id", "old_id")


@register(
    "media_dhash_index",
    oracle=f"""
    WITH {_GRID_SQL},
    {_dhash_ctes("base", "hbits", "hband")}
    SELECT media_id, dhash, CAST(b AS INT) AS seg, v AS seg_val
    FROM hband ORDER BY media_id, seg
    """,
)
def q_media_dhash_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The at-rest dHash segment index AS ITS OWN oracle-paired query
    (r10, VERDICT item 5): (media_id, dhash, seg, seg_val) — one row per
    8-bit fingerprint segment, the artifact ``hamming_index`` persists
    partitioned by (seg, seg_val) in a deployment. Hashing the index
    build separately from the probe means the external gate covers BOTH
    halves of the incremental contract: this query proves the index
    contents, ``incremental_image_dedup_probe`` proves the O(batch)
    probe against it. Pure map work (quantize → dHash fold → segment
    explode, fanout = max_hamming+1); no shuffle at all."""
    return _img_index_df(spark, sf_dir).orderBy("media_id", "seg")


_AUX_DATA_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "aux_data",
)
_MEDIA_INDEX_DIR = os.path.join(_AUX_DATA_DIR, "media_index")


# Committed artifacts are keyed by sf-dir BASENAME, so they are only
# trustworthy for the canonical driver testdata tree: a user-supplied
# directory that happens to be named sf0.1 but holds different data
# must NOT silently read the stale committed index (r13 ADVICE).
_CANON_TESTDATA_ROOT = os.path.realpath("/root/testdata")


def _artifact_dir(kind: str, sf_dir: str) -> str | None:
    """aux_data/<kind>/<sf> path iff ``sf_dir`` is a child of the
    canonical testdata root AND the artifact exists; else None (callers
    fall back to the in-plan index build)."""
    real = os.path.realpath(sf_dir.rstrip("/"))
    if os.path.dirname(real) != _CANON_TESTDATA_ROOT:
        return None
    path = os.path.join(_AUX_DATA_DIR, kind, os.path.basename(real))
    return path if os.path.exists(path) else None


def _aux_parquet(spark: SparkSession, kind: str, sf_dir: str):
    """Read a committed at-rest index artifact
    (aux_data/<kind>/<sf>), or None if absent — the media-index
    discipline: a READ query must never write into the checkout
    (build scripts alone materialize artifacts), and a missing
    artifact falls back to the in-plan index so the query still runs
    on arbitrary sf_dirs. Parity against the same oracle as the
    in-plan build doubles as the artifact-freshness check. The
    artifact is preferred only under the canonical testdata root
    (see :func:`_artifact_dir`)."""
    path = _artifact_dir(kind, sf_dir)
    return spark.read.parquet(path) if path else None


@register("incremental_image_dedup_probe", oracle=_IMG_INCR_DEDUP_ORACLE)
def q_incremental_image_dedup_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DEPLOYMENT shape of incremental media dedup (r10, VERDICT
    item 5): probe an incoming batch against the AT-REST dHash segment
    index read from parquet — O(batch) codec + probe work, O(1) history
    work beyond the index scan. This is the path the r9 soak measured
    FLAT (exponent −0.02 in history size, docs/SCALE.md) but which until
    now had no oracle-paired sheet entry because the index lived only
    in-plan.

    The index artifact is the materialized output of
    ``media_dhash_index`` (built by scripts/build_media_index.py and
    committed under aux_data/media_index/<sf>). A missing artifact falls
    back to the in-plan index DataFrame WITHOUT persisting — a read
    query must not write into the checkout (fails on read-only clones,
    races across concurrent sessions; r10 ADVICE); artifact
    materialization belongs to the build script alone. Parity with the
    SAME oracle as the in-plan twin additionally proves the artifact is
    fresh: a stale index would hash-mismatch the oracle's
    recomputation."""
    path = _artifact_dir("media_index", sf_dir)
    index = (
        spark.read.parquet(path) if path else _img_index_df(spark, sf_dir)
    )
    batch = _img_probe_batch(_img_grid(spark, sf_dir))
    return D.incremental_hamming_dedup(
        batch, index, "dhash", _DHASH_MAX_HAMMING,
        n_bits=_IMG_SIDE * (_IMG_SIDE - 1),
    ).orderBy("new_id", "old_id")


@register(
    "decoded_jpeg_stats",
    oracle=_codec_stats_oracle(_JPEG_OUT, _JPEG_KEEP_1BASED),
)
def q_decoded_jpeg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Baseline-JPEG sibling of `decoded_image_stats`: embedding dims 1–4
    become the constants of a 2×2 grid of 8×8 blocks (16×16 gray image),
    encoded as a REAL baseline JPEG (operators/jpeg.py — Annex-K Huffman
    tables, byte stuffing, restart markers every 2 MCUs) and decoded by
    the full entropy-decode → dequantize → IDCT path inside the
    distributed resize stage. Constant blocks are the one signal a LOSSY
    codec transports bit-exactly (DC coefficient only, quantization step
    1), so the DuckDB oracle can hash-replay the whole machinery without
    ever inflating a JPEG: the 16×16 → 2×2 center-aligned resample picks
    pixel (4,4) of each block — the block constant — and the oracle reads
    the same values straight from the embedding dims. Any defect in the
    Huffman tables, bitstream, DC prediction, restart handling, or IDCT
    shifts a constant and breaks the hash. MAP-ONLY before the sort."""
    import numpy as np

    from network_iq_spark.operators.jpeg import encode_jpeg_gray

    return _image_codec_stats(
        spark, sf_dir, _JPEG_BLOCKS * 8, _JPEG_OUT,
        lambda mid, a: encode_jpeg_gray(
            np.kron(
                a.reshape(_JPEG_BLOCKS, _JPEG_BLOCKS), np.ones((8, 8), np.uint8)
            ),
            restart_interval=2,
        ),
        dims=_JPEG_BLOCKS * _JPEG_BLOCKS,
    )


_J420_MCUS = 2  # 2x2 grid of constant 16x16 MCUs -> 32x32 color image
_J420_OUT = 2
# survivors for 32 -> 2: floor((i+0.5)*32/2) -> rows/cols {8, 24}; pixel
# (8,8) lands in MCU (0,0), (8,24) in (0,1), ... — the resample picks the
# 4 MCU luma constants, and with neutral chroma R=G=B=Y so each counts 3×
# (GIF keeps the same 2×2 grid of constant 16×16 tiles and decodes to RGB)
_J420_ORACLE = _codec_stats_oracle(_J420_OUT, [1, 2, 3, 4], channels=3)


def _mcu_encoder(encode_ycc):
    """``encode(media_id, a)`` for the 4:2:0 JPEG fixtures: the 4 values
    of ``a`` become the luma constants of a 2×2 grid of 16×16 MCUs with
    chroma held at neutral 128, encoded by ``encode_ycc`` (an
    operators/jpeg.py encoder) with restart markers every 2 MCUs."""
    import numpy as np

    def encode(mid, a):
        y = np.kron(a.reshape(_J420_MCUS, _J420_MCUS), np.ones((16, 16), np.uint8))
        ycc = np.stack([y, np.full_like(y, 128), np.full_like(y, 128)], axis=-1)
        return encode_ycc(ycc, restart_interval=2)

    return encode


@register("decoded_jpeg420_stats", oracle=_J420_ORACLE)
def q_decoded_jpeg420_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4:2:0 chroma-subsampled JPEG — the dominant format of real crawled
    corpora (VERDICT r7 top-next; previously these files fell to the
    metadata-only path). Embedding dims 1–4 become the luma constants of
    a 2×2 grid of 16×16 MCUs (32×32), chroma held at neutral 128, encoded
    as a REAL interleaved 3-component 4:2:0 baseline JPEG
    (operators/jpeg.py encode_jpeg_ycbcr: per-component sampling factors,
    restart markers every 2 MCUs) and decoded by the full §A.2.3
    interleaved-MCU walk — 4 luma + 1 Cb + 1 Cr blocks per MCU, chroma
    reconstructed at quarter resolution, replication-upsampled, BT.601
    inverse — inside the distributed resize stage. Constant-per-MCU luma
    keeps every block DC-only (step-1 quantization → bit-exact through
    the lossy path) and neutral chroma makes the color transform exact
    (R=G=B=Y, zero float error), so the DuckDB oracle hash-replays a
    LOSSY SUBSAMPLED round trip without inflating a JPEG: the 32×32→2×2
    center-aligned resample picks pixel (8,8) of each MCU — the MCU
    constant — tripled across the RGB channels. Any defect in the
    sampling-factor parse, MCU block order, chroma upsample, restart
    handling, or color transform shifts a value and breaks the hash.
    MAP-ONLY before the sort."""
    from network_iq_spark.operators.jpeg import encode_jpeg_ycbcr

    return _image_codec_stats(
        spark, sf_dir, _J420_MCUS * 16, _J420_OUT,
        _mcu_encoder(encode_jpeg_ycbcr),
        dims=_J420_MCUS * _J420_MCUS, spread=True, channels=3,
    )


@register("decoded_jpeg_prog_stats", oracle=_J420_ORACLE)
def q_decoded_jpeg_prog_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PROGRESSIVE (SOF2) 4:2:0 JPEG decode at scale — the multi-scan
    half of the real-corpus format pair (VERDICT r7 item 1's remaining
    gap: baseline 4:2:0 shipped r8-early, progressive previously fell to
    the metadata-only path). Same 2×2-grid-of-constant-MCUs construction
    as decoded_jpeg420_stats, but encoded as a REAL progressive stream
    (operators/jpeg.py encode_jpeg_progressive): interleaved DC first
    scan at Al=1 + DC refinement, then per-component spectral-band AC
    scans (1-5, 6-63) at Al=1 with refinements, restart markers every 2
    MCUs — decoded by the Annex-G coefficient-accumulation core (EOB
    runs, successive approximation, per-scan restart resets). Constant
    DC-only blocks keep the multi-scan round trip bit-exact, so the SAME
    DuckDB oracle as the baseline-420 twin hash-replays it: any defect
    in scan sequencing, refinement bit order, or EOB-run accounting
    shifts a pixel and breaks the hash. MAP-ONLY before the sort."""
    from network_iq_spark.operators.jpeg import encode_jpeg_progressive

    return _image_codec_stats(
        spark, sf_dir, _J420_MCUS * 16, _J420_OUT,
        _mcu_encoder(encode_jpeg_progressive),
        dims=_J420_MCUS * _J420_MCUS, spread=True, channels=3,
    )


@register("decoded_gif_stats", oracle=_J420_ORACLE)
def q_decoded_gif_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GIF (LZW) decode at scale — the third real crawl format after
    PNG and JPEG. Embedding dims 1–4 become a 2×2 grid of constant 16×16
    tiles, palette-encoded as a REAL GIF89a (operators/gif.py: global
    color table, variable-width LZW with the CLEAR/width-bump schedule;
    INTERLACED for odd media_ids so the four-pass row reorder runs at
    corpus scale, not just in unit tests), then decoded and
    center-resampled inside Arrow batches. GIF is LOSSLESS, so the
    round trip is bit-exact by construction and the DuckDB oracle replays
    pixels directly — a defect in LZW table growth, sub-block framing,
    palette indexing, or interlace reordering shifts a value and breaks
    the hash. MAP-ONLY before the sort."""
    import numpy as np

    from network_iq_spark.operators.gif import encode_gif

    return _image_codec_stats(
        spark, sf_dir, _J420_MCUS * 16, _J420_OUT,
        lambda mid, a: encode_gif(
            np.kron(a.reshape(_J420_MCUS, _J420_MCUS), np.ones((16, 16), np.uint8)),
            interlace=bool(int(mid) % 2),
        ),
        dims=_J420_MCUS * _J420_MCUS, spread=True, channels=3,
    )


@register(
    "media_contract",
    oracle="""
    WITH c AS (SELECT vec_id % 7 AS fi, COUNT(*) AS n FROM embeddings GROUP BY 1),
    g AS (
      SELECT CASE WHEN fi IN (0, 5) THEN 'png'
                  WHEN fi IN (1, 2, 3) THEN 'jpeg'
                  WHEN fi = 6 THEN 'gif'
                  ELSE 'pnm' END AS format,
             SUM(n) AS n_rows,
             SUM(CASE WHEN fi <> 5 THEN n ELSE 0 END) AS n_decoded,
             SUM(CASE WHEN fi = 5 THEN n ELSE 0 END) AS n_fallback,
             SUM(CASE WHEN fi = 5 THEN n ELSE 0 END) AS n_misdeclared
      FROM c GROUP BY 1
    )
    SELECT format,
           CAST(n_rows AS BIGINT) AS n_rows,
           CAST(n_decoded AS BIGINT) AS n_decoded,
           CAST(n_fallback AS BIGINT) AS n_fallback,
           CAST(n_misdeclared AS BIGINT) AS n_misdeclared,
           CAST(n_decoded AS DOUBLE) / n_rows AS decode_rate
    FROM g ORDER BY format
    """,
)
def q_media_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media decode contract — the quarantine census for binary columns
    (VERDICT r7 item 2): which declared formats REALLY decode vs silently
    fall back to the metadata-only path, as a shipped per-format number
    (the media twin of contract_quarantine_summary; same governance move
    as lsh_quality_report). The corpus is a deterministic seven-way format
    mix built from embeddings (vec_id % 7): a real PNG, a baseline
    grayscale JPEG, a 4:2:0 chroma-subsampled JPEG, a real PROGRESSIVE 4:2:0 JPEG
    (SOF2 multi-scan — the census row that flipped from fallback to
    decoded when the Annex-G decoder landed, which is exactly the
    coverage movement this query exists to publish), a PNM, a row
    DECLARED png whose payload is raw text (misdeclared + fallback —
    proving the quarantine path still catches what genuinely cannot
    decode), and an LZW GIF (interlaced for odd ids). Every payload is
    probed with the
    actual decode_image inside Arrow batches
    (operators/multimodal.py media_decode_contract: map-only probe + one
    O(#formats) aggregate), so a codec regression shifts a count and
    breaks the hash — the oracle states the EXPECTED coverage and the
    engine has to earn it."""
    import numpy as np
    import pandas as pd

    from network_iq_spark.operators.gif import encode_gif
    from network_iq_spark.operators.jpeg import (
        encode_jpeg_gray,
        encode_jpeg_progressive,
        encode_jpeg_ycbcr,
    )
    from network_iq_spark.operators.multimodal import (
        encode_png,
        encode_pnm,
        media_decode_contract,
    )

    src = _img_grid(spark, sf_dir, 4)

    def build(it):
        ones8 = np.ones((8, 8), dtype=np.uint8)
        ones16 = np.ones((16, 16), dtype=np.uint8)
        for pdf in it:
            payloads, declared = [], []
            for vid, p in zip(pdf["media_id"], pdf["px"]):
                g = np.asarray(list(p), dtype=np.uint8).reshape(2, 2)
                fi = int(vid) % 7
                if fi == 0:
                    payloads.append(encode_png(np.kron(g, ones8)))
                    declared.append("png")
                elif fi == 1:
                    payloads.append(encode_jpeg_gray(np.kron(g, ones8)))
                    declared.append("jpeg")
                elif fi == 2:
                    y = np.kron(g, ones16)
                    ycc = np.stack(
                        [y, np.full_like(y, 128), np.full_like(y, 128)], axis=-1
                    )
                    payloads.append(encode_jpeg_ycbcr(ycc))
                    declared.append("jpeg")
                elif fi == 3:
                    y = np.kron(g, ones16)
                    ycc = np.stack(
                        [y, np.full_like(y, 128), np.full_like(y, 128)], axis=-1
                    )
                    payloads.append(encode_jpeg_progressive(ycc))
                    declared.append("jpeg")
                elif fi == 4:
                    payloads.append(encode_pnm(np.kron(g, ones8)))
                    declared.append("pnm")
                elif fi == 5:
                    payloads.append(f"not an image {vid}".encode())
                    declared.append("png")  # misdeclared on purpose
                else:
                    payloads.append(
                        encode_gif(np.kron(g, ones8), interlace=bool(vid % 2))
                    )
                    declared.append("gif")
            yield pd.DataFrame(
                {"payload": payloads, "declared_format": declared}
            )

    media = src.mapInPandas(
        build, schema="payload binary, declared_format string"
    )
    return media_decode_contract(media).orderBy("format")


_WAV_RATE, _WAV_DECIM = 8000, 2
_WAV_QUANT_SQL = (
    "list_transform(embedding::DOUBLE[], x -> CAST(floor("
    "(least(greatest(x, -1.0), 1.0)) * 32767.0 + 0.5) AS INT))"
)
# Spark twin of _WAV_QUANT_SQL: int16 PCM samples, one per embedding dim
_WAV_QUANT_EXPR_SQL = (
    "transform(embedding, x -> cast(floor((least(greatest("
    "cast(x as double), -1.0D), 1.0D)) * 32767.0D + 0.5D) as int))"
)


@register(
    "decoded_audio_stats",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS media_id, {_WAV_QUANT_SQL} AS s FROM embeddings
    ),
    t AS (
      SELECT media_id, unnest(s) AS v,
             unnest(range(1, len(s) + 1)) AS i
      FROM q
    ),
    d AS (  -- decimation by {_WAV_DECIM}: 1-based odd positions survive
      SELECT media_id, i, v,
             CASE WHEN v < 0 THEN -1 ELSE 1 END AS sgn
      FROM t WHERE (i - 1) % {_WAV_DECIM} = 0
    ),
    lagged AS (
      SELECT media_id, v, sgn,
             LAG(sgn) OVER (PARTITION BY media_id ORDER BY i) AS prev_sgn
      FROM d
    )
    SELECT media_id,
           {_WAV_RATE} AS sample_rate,
           CAST(COUNT(*) AS INT) AS n_samples,
           CAST(COUNT(*) * 1000 / {_WAV_RATE} AS INT) AS duration_ms,
           CAST(MAX(abs(v)) AS INT) AS peak,
           CAST(SUM(CAST(v AS BIGINT) * v) AS BIGINT) AS sumsq,
           CAST(SUM(CASE WHEN prev_sgn IS NOT NULL AND sgn != prev_sgn
                         THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings
    FROM lagged GROUP BY media_id ORDER BY media_id
    """,
)
def q_decoded_audio_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode, end to end and hash-checked — the WAV sibling of
    `decoded_image_stats`: each embedding becomes 64 int16 PCM samples
    encoded as an actual RIFF/WAVE file (operators/audio.py), decoded,
    decimated ×2 (deterministic integer downsample), RE-encoded, decoded
    AGAIN, and reduced to integer-exact features (peak, Σs², sign-change
    count). The oracle never parses a WAV: it computes the same integers
    from the surviving embedding positions, so any defect in the RIFF
    chunk walk, PCM layout, chunk padding, or decimation arithmetic
    breaks the hash. All stages MAP-ONLY before the final sort."""
    import numpy as np
    import pandas as pd

    from network_iq_spark.operators.audio import (
        audio_stats,
        decimate,
        decode_wav,
        encode_wav,
    )

    src = _emb_select(spark, sf_dir, _WAV_QUANT_EXPR_SQL, "s")

    def build(it):
        for pdf in it:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "payload": [
                        encode_wav(
                            np.asarray(list(s), dtype=np.int16), _WAV_RATE
                        )
                        for s in pdf["s"]
                    ],
                }
            )

    def process(it):
        for pdf in it:
            rows = []
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                rate, samples = decode_wav(bytes(p))
                down = decimate(samples, _WAV_DECIM)
                rate2, again = decode_wav(encode_wav(down, rate))
                st = audio_stats(again)
                rows.append(
                    (
                        mid,
                        rate2,
                        st["n_samples"],
                        st["n_samples"] * 1000 // rate2,
                        st["peak"],
                        st["sumsq"],
                        st["zero_crossings"],
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "sample_rate", "n_samples", "duration_ms",
                    "peak", "sumsq", "zero_crossings",
                ],
            )

    wav = src.mapInPandas(build, schema="media_id bigint, payload binary")
    return wav.mapInPandas(
        process,
        schema="media_id bigint, sample_rate int, n_samples int, "
        "duration_ms int, peak int, sumsq bigint, zero_crossings bigint",
    ).orderBy("media_id")


# Audio near-dup fixture, mirroring the image one: every 10th clip gets a
# planted twin with +300 on 1-based sample positions 1/17/33 (clamped to
# int16 max). Position 1 touches one gradient comparison, 17 and 33 touch
# two each, so a twin's waveform-dHash Hamming distance is ≤ 5 by
# construction — under the threshold, and the pigeonhole blocking
# guarantees recall. 63 bits split into 7 exact 9-bit segments.
_WHASH_MAX_HAMMING = 6
_WHASH_TWIN_EVERY = 10
_WHASH_TWIN_OFFSET = 1_000_000


_AUD_ND_ORACLE = f"""
    WITH q0 AS (
      SELECT vec_id AS media_id, {_WAV_QUANT_SQL} AS s FROM embeddings
    ),
    q AS (
      SELECT media_id, s FROM q0
      UNION ALL
      SELECT media_id + {_WHASH_TWIN_OFFSET},
             list_transform(generate_series(1, 64),
               i -> CASE WHEN i = 1 OR i = 17 OR i = 33
                         THEN least(s[i] + 300, 32767) ELSE s[i] END)
      FROM q0 WHERE media_id % {_WHASH_TWIN_EVERY} = 0
    ),
    bits AS (
      SELECT media_id,
             CAST(SUM(CASE WHEN s[k + 2] > s[k + 1]
                      THEN (1::BIGINT << k) ELSE 0 END) AS BIGINT) AS whash
      FROM q, LATERAL unnest(generate_series(0, 62)) AS g(k)
      GROUP BY media_id
    ),
    bands AS (
      SELECT media_id, whash, b, (whash >> (9 * b)) & 511 AS v
      FROM bits, LATERAL unnest(generate_series(0, {_WHASH_MAX_HAMMING})) AS g(b)
    ),
    cand AS (
      SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b,
             a.whash AS wa, b.whash AS wb
      FROM bands a JOIN bands b
        ON a.b = b.b AND a.v = b.v AND a.media_id < b.media_id
    )
    SELECT id_a, id_b, hamming FROM (
      SELECT id_a, id_b, CAST(bit_count(xor(wa, wb)) AS INT) AS hamming
      FROM cand
    ) WHERE hamming <= {_WHASH_MAX_HAMMING} ORDER BY id_a, id_b
    """


@register("audio_near_dup_pairs", oracle=_AUD_ND_ORACLE)
def q_audio_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Waveform-fingerprint audio near-dup (r9) — the audio twin of
    image_near_dup_pairs, closing near-dup coverage across all three
    modalities (text MinHash/SimHash, image dHash, audio gradient hash):
    clips synthesized from int16-quantized embeddings (plus planted
    perturbed twins) make a REAL RIFF/WAVE encode → decode round trip
    inside Arrow batches, a 63-bit 1-D gradient fingerprint folds over
    the DECODED PCM (operators/dedup.py waveform_dhash — gain/DC-offset
    invariant, integer-exact, no float FFT), and pairs come from the
    shared pigeonhole Hamming blocking (hamming_blocked_pairs). The
    oracle replays fingerprint/bands/verify from the quantized values
    directly — the decoder is bit-exact, so a defect anywhere in the
    RIFF walk or the hash surfaces as a mismatch."""
    from network_iq_spark.operators.audio import decode_wav, encode_wav

    src = _emb_select(spark, sf_dir, _WAV_QUANT_EXPR_SQL, "s")
    twin = src.filter(F.col("media_id") % _WHASH_TWIN_EVERY == 0).select(
        (F.col("media_id") + _WHASH_TWIN_OFFSET).alias("media_id"),
        F.expr(
            "transform(s, (x, i) -> IF(i = 0 OR i = 16 OR i = 32, "
            "least(x + 300, 32767), x))"
        ).alias("s"),
    )
    decoded = _roundtrip(
        src.unionByName(twin), "s", "int16",
        lambda a: decode_wav(encode_wav(a, _WAV_RATE))[1],
    )
    return D.audio_near_dup_pairs(
        decoded, max_hamming=_WHASH_MAX_HAMMING
    ).orderBy("id_a", "id_b")


# ONE definition of the embedding-derived random-walk audio corpus shared
# by the shift (r10/r11) and resample (r12) tiers — the _IMG_QUANT_SQL
# single-source rule: a step-quantization or clamp change must hit both
# engines in exactly one place each. Per-step quantization at scale 2000,
# cumulative sum clamped to +-32000, 64 samples.
_AUD_WALK_SQL = """walks AS (
      SELECT vec_id AS media_id,
             list_transform(range(1, 65), n ->
               greatest(-32000, least(32000, list_sum(steps[1:n])))) AS s
      FROM (SELECT vec_id,
                   list_transform(embedding::DOUBLE[], x ->
                     CAST(floor(least(greatest(x, -1.0), 1.0) * 2000.0 + 0.5)
                          AS BIGINT)) AS steps
            FROM embeddings)
    )"""
_AUD_WALK_STEPS_EXPR = (
    "transform(embedding, x -> cast(floor(least(greatest("
    "cast(x as double), -1.0D), 1.0D) * 2000.0D + 0.5D) as int))"
)
# Running-accumulator prefix sum: ONE pass over the 64 steps instead of
# 64 per-prefix re-aggregations (each of which re-evaluated the steps
# transform — O(n²) interpreted-lambda work per row). The accumulator
# carries the UNCLAMPED running sum (matching the per-prefix
# list_sum/aggregate semantics exactly: the clamp applies to each
# prefix's total, never to the carried sum), and appends the clamped
# value per step. Same values, measured 6x cheaper at bench SF
# (1.03 s → 0.17 s for the 2000-row derivation — OPTIMIZATION_r14.md,
# guide §1.2 "per-task work"); at 100 TB this is the difference between
# O(len) and O(len²) lambda evaluations per clip.
_AUD_WALK_EXPR = (
    f"aggregate({_AUD_WALK_STEPS_EXPR}, "
    "named_struct('acc', 0, 'out', cast(array() as array<int>)), "
    "(st, x) -> named_struct('acc', st.acc + x, "
    "'out', array_append(st.out, greatest(-32000, least(32000, st.acc + x)))), "
    "st -> st.out)"
)


def _aud_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(media_id, s) — the embedding-seeded 64-sample walks every audio
    tier derives its clips from; ONE Spark-side definition (the
    _crop_corpus desync rule, extended to audio in r14)."""
    return _emb_select(spark, sf_dir, _AUD_WALK_EXPR, "s")


def _rsmp_twins(src: DataFrame) -> DataFrame:
    """Planted 2:1 truncating-box decimations of every 10th clip —
    shared by the resample pairs tier, the incremental probe's batch,
    and the keep-best member corpus (one plant, three consumers)."""
    return src.filter(F.col("media_id") % _RSMP_TWIN_EVERY == 0).select(
        (F.col("media_id") + _RSMP_TWIN_OFFSET).alias("media_id"),
        F.expr(
            "transform(sequence(0, 31), i -> (s[2*i] + s[2*i + 1]) div 2)"
        ).alias("s"),
    )


def _audio_trim_twins(src: DataFrame) -> DataFrame:
    """Planted head/tail trims of every 10th clip (four arms) — shared
    by the trim pairs tier, the incremental probe's batch, and the
    keep-best member corpus."""
    arm_col = f"media_id div {_TRIM_TWIN_EVERY}"
    head_sql = _trim_twin_case(arm_col, "h")
    tail_sql = _trim_twin_case(arm_col, "t")
    return src.filter(F.col("media_id") % _TRIM_TWIN_EVERY == 0).select(
        (F.col("media_id") + _TRIM_TWIN_OFFSET).alias("media_id"),
        F.expr(
            f"slice(s, ({head_sql}) + 1, 64 - ({head_sql}) - ({tail_sql}))"
        ).alias("s"),
    )


def _tg_twins(src: DataFrame) -> DataFrame:
    """Planted trim∘affine-gain twins of every 10th clip (four trim
    arms × three gains) — shared by the trim∘gain pairs tier and the
    keep-best member corpus."""
    arm_col = f"media_id div {_TG_TWIN_EVERY}"
    head_sql = _trim_twin_case(arm_col, "h")
    tail_sql = _trim_twin_case(arm_col, "t")
    a_sql = _tg_gain_case(arm_col, "a")
    b_sql = _tg_gain_case(arm_col, "b")
    return src.filter(F.col("media_id") % _TG_TWIN_EVERY == 0).select(
        (F.col("media_id") + _TG_TWIN_OFFSET).alias("media_id"),
        F.expr(
            f"transform(slice(s, ({head_sql}) + 1, "
            f"64 - ({head_sql}) - ({tail_sql})), "
            f"x -> ({a_sql}) * x + ({b_sql}))"
        ).alias("s"),
    )


def _vcrop_twins(base: DataFrame) -> DataFrame:
    """Planted per-frame crops of every 10th clip, with the cropped
    (w, h) — shared by the video crop pairs tier and (px only) the
    keep-best member corpus."""
    sd, fsz = _VID_SIDE, _VID_SIDE * _VID_SIDE
    return (
        base.filter(F.col("media_id") % _VCROP_TWIN_EVERY == 0)
        .select(
            "media_id",
            "px",
            F.expr(
                f"cast(IF((media_id div {_VCROP_TWIN_EVERY}) % 3 = 1, 0, 1) as int)"
            ).alias("dr"),
            F.expr(
                f"cast(IF((media_id div {_VCROP_TWIN_EVERY}) % 3 = 0, 0, 1) as int)"
            ).alias("dc"),
        )
        .select(
            (F.col("media_id") + _VCROP_TWIN_OFFSET).alias("media_id"),
            F.lit(sd - 1).alias("w"),
            F.lit(sd - 1).alias("h"),
            F.expr(
                f"flatten(transform(sequence(0, {_VID_FRAMES - 1}), f -> "
                f"flatten(transform(sequence(0, {sd - 2}), i -> "
                f"transform(sequence(0, {sd - 2}), j -> "
                f"px[f * {fsz} + (i + dr) * {sd} + j + dc])))))"
            ).alias("px"),
        )
    )


def _vrsmp_twins(base: DataFrame) -> DataFrame:
    """Planted 2:1 frame-rate decimations of every 10th clip — shared
    by the video resample pairs tier and the keep-best member corpus."""
    return base.filter(F.col("media_id") % _VRSMP_TWIN_EVERY == 0).select(
        (F.col("media_id") + _VRSMP_TWIN_OFFSET).alias("media_id"),
        F.expr(
            "transform(sequence(0, 31), j -> "
            "(px[(j div 16) * 32 + j % 16] "
            "+ px[(j div 16) * 32 + 16 + j % 16]) div 2)"
        ).alias("px"),
    )


def _vtrim_twins(base: DataFrame) -> DataFrame:
    """Planted head/tail FRAME trims of every 10th clip (three arms) —
    shared by the video trim pairs tier and the keep-best member
    corpus."""
    arm_col = f"media_id div {_VTRIM_TWIN_EVERY}"
    head_sql = _vtrim_twin_case(arm_col, "h")
    tail_sql = _vtrim_twin_case(arm_col, "t")
    return base.filter(F.col("media_id") % _VTRIM_TWIN_EVERY == 0).select(
        (F.col("media_id") + _VTRIM_TWIN_OFFSET).alias("media_id"),
        F.expr(
            f"slice(px, ({head_sql}) * {_VTRIM_FRAME} + 1, "
            f"({_VID_FRAMES} - ({head_sql}) - ({tail_sql})) * {_VTRIM_FRAME})"
        ).alias("px"),
    )


def _aud_shift_oracle() -> str:
    """DuckDB replay of the FULL shifted-audio pipeline (r11, VERDICT
    item 5 — the round-10 boundary 'float S-curve thresholds' does not
    actually hold): the walk synthesis, the shift-twin plant, the
    value-shingle MinHash banding (via _minhash_sql's shingles seam),
    the exact-Jaccard threshold, and the integer lag-scan verify with
    the abs(lag) tie-break are all integer-or-IEEE-exact, so the tier
    earns a real oracle. The WAV round trip is a PCM identity (bit-exact
    codec over int16-range values), so the oracle reads the walk values
    directly — the same convention audio_near_dup_pairs' oracle uses."""
    from network_iq_spark.queries.dedup_q import _minhash_sql

    shingles = """
      SELECT media_id AS doc_id, unnest(list_distinct(list_transform(
               generate_series(1, len(t) - 2),
               i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS shingle
      FROM (SELECT media_id,
                   list_transform(s, x -> CAST(x + 32768 AS VARCHAR)) AS t
            FROM clips)
    """
    pairs = _minhash_sql(4, 4, 0.8, shingles_sql=shingles)
    lag_ssd = (
        "list_sum(list_transform(range(0, 64 - abs(l.lag)), i -> "
        "(sa.s[i + greatest(l.lag, 0) + 1] - sb.s[i + greatest(-l.lag, 0) + 1])"
        " * (sa.s[i + greatest(l.lag, 0) + 1] - sb.s[i + greatest(-l.lag, 0) + 1])))"
    )
    return f"""
    WITH {_AUD_WALK_SQL},
    twins AS (
      SELECT media_id + {_WHASH_TWIN_OFFSET} AS media_id,
             list_transform(range(0, 64), i ->
               CASE WHEN i < 63 THEN s[i + 2] ELSE s[64] END) AS s
      FROM walks WHERE media_id % {_WHASH_TWIN_EVERY} = 0
    ),
    clips AS (SELECT * FROM walks UNION ALL SELECT * FROM twins),
    pr AS (SELECT * FROM ({pairs})),
    ev AS (
      SELECT p.doc_a AS id_a, p.doc_b AS id_b, p.jaccard,
             l.lag, {lag_ssd} AS ssd
      FROM pr p
      JOIN clips sa ON sa.media_id = p.doc_a
      JOIN clips sb ON sb.media_id = p.doc_b
      CROSS JOIN (SELECT unnest(range(-2, 3)) AS lag) l
    ),
    picked AS (
      SELECT id_a, id_b, jaccard,
             CAST(lag AS INT) AS lag, CAST(ssd AS BIGINT) AS ssd,
             ROW_NUMBER() OVER (PARTITION BY id_a, id_b
                                ORDER BY ssd, abs(lag), lag) AS rn
      FROM ev
    )
    SELECT id_a, id_b, jaccard, lag, ssd
    FROM picked WHERE rn = 1 AND ssd <= 0
    ORDER BY id_a, id_b
    """


@register("audio_shifted_near_dup_pairs", oracle=_aud_shift_oracle())
def q_audio_shifted_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shift-TOLERANT audio near-dup (r10 VERDICT item 7; ORACLE-PAIRED
    since r11, closing item 5) — covers exactly what
    ``audio_near_dup_pairs``'s fingerprint provably cannot: every 10th
    clip gets a planted 1-SAMPLE-SHIFTED copy (a re-encode with a time
    offset — the classic miss of sample-aligned gradient hashes), clips
    make the same real WAV encode → decode round trip, then candidates
    come from MinHash-LSH over the clips' sample-value shingles
    (position-free n-grams are shift-invariant by construction — the
    text LSH core reused verbatim on PCM) and are verified by the exact
    integer lag-scan (operators/dedup.py audio_shifted_pairs: ssd = 0 at
    the true lag for a pure shift, ties broken toward |lag|). Clips are
    random WALKS built from the embeddings (locally correlated like real
    audio). Blocking recall for shifted copies is the LSH S-curve
    (~0.97) rather than pigeonhole — but the S-curve is DETERMINISTIC
    given the data (fixed hash family), so DuckDB replays the identical
    candidate set and the external gate now covers banding, Jaccard
    threshold, and verify end to end."""
    from network_iq_spark.operators.audio import decode_wav, encode_wav

    src = _aud_walks(spark, sf_dir)
    twin = src.filter(F.col("media_id") % _WHASH_TWIN_EVERY == 0).select(
        (F.col("media_id") + _WHASH_TWIN_OFFSET).alias("media_id"),
        F.expr(
            "transform(sequence(0, 63), i -> IF(i < 63, s[i + 1], s[63]))"
        ).alias("s"),
    )
    decoded = _roundtrip(
        src.unionByName(twin), "s", "int16",
        lambda a: decode_wav(encode_wav(a, _WAV_RATE))[1],
    )
    # env_hamming (the gain-invariant envelope feature) stays an operator
    # extra: the sheet projection carries the oracle-replayable columns
    return D.audio_shifted_pairs(decoded).select(
        "id_a", "id_b", "jaccard", "lag", "ssd"
    ).orderBy("id_a", "id_b")


_VID_FRAMES, _VID_SIDE, _VID_FPS = 4, 4, 2  # 4 frames of 4x4 luma at 2 fps
# sample_frames(every_ms=1000) on a 2000 ms clip emits ts {0, 1000};
# frame_at_ms((2,1), 4, ts) -> source frames {0, 2}. Frame f covers
# embedding dims [16f+1, 16f+16] (1-based).
_VID_SAMPLED = [(0, 0, 0), (1, 1000, 2)]  # (frame_idx, ts_ms, src_frame)


def _vid_frame_sum_sql(src_frame: int) -> str:
    lo = 16 * src_frame + 1
    return "(" + " + ".join(f"px[{i}]" for i in range(lo, lo + 16)) + ")"


@register(
    "decoded_video_stats",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS media_id, {_IMG_QUANT_SQL} AS px FROM embeddings
    )
    SELECT media_id, frame_idx, ts_ms, px_sum,
           CAST(px_sum AS DOUBLE) / {_VID_SIDE * _VID_SIDE}.0 AS px_mean
    FROM (
      {" UNION ALL ".join(
        f"SELECT media_id, {fi} AS frame_idx, {ts} AS ts_ms, "
        f"{_vid_frame_sum_sql(sf)} AS px_sum FROM q"
        for fi, ts, sf in _VID_SAMPLED
      )}
    ) ORDER BY media_id, frame_idx
    """,
)
def q_decoded_video_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video decode, end to end and hash-checked — the Y4M sibling of
    `decoded_image_stats`: each embedding becomes a 4-frame 4×4 mono
    YUV4MPEG2 clip at 2 fps (operators/video.py), pushed through the
    METADATA-bounded frame-sampling explode (`sample_frames` — fanout
    capped in the plan from duration_ms, one row per sampled timestamp),
    which REALLY extracts the frame at each timestamp (integer
    frame-index math) and re-encodes it as PGM; the stats stage decodes
    those frame images back to pixels. The oracle never parses a clip: it
    reads the same pixels straight from the embedding dims of the frames
    the timestamp math selects, so any defect in the Y4M header/FRAME
    walk, the ts→frame mapping, or the luma extraction breaks the hash.
    Bounded explode + maps only before the final sort."""
    import numpy as np
    import pandas as pd

    from network_iq_spark.operators.multimodal import decode_image
    from network_iq_spark.operators.video import encode_y4m

    src = _img_grid(spark, sf_dir)
    dur = _VID_FRAMES * 1000 // _VID_FPS

    def build(it):
        for pdf in it:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "payload": [
                        encode_y4m(
                            list(
                                np.asarray(list(p), dtype=np.uint8).reshape(
                                    _VID_FRAMES, _VID_SIDE, _VID_SIDE
                                )
                            ),
                            fps=(_VID_FPS, 1),
                        )
                        for p in pdf["px"]
                    ],
                    "media_type": "video",
                    "width": np.int32(_VID_SIDE),
                    "height": np.int32(_VID_SIDE),
                    "duration_ms": np.int32(dur),
                }
            )

    media = src.mapInPandas(
        build,
        schema="media_id bigint, payload binary, media_type string, "
        "width int, height int, duration_ms int",
    )
    sampled = M.sample_frames(media, max_frames=32)

    def stats(it):
        for pdf in it:
            sums = []
            for fb in pdf["frame"]:
                img = decode_image(bytes(fb))
                sums.append(int(img.sum()))
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "frame_idx": pdf["frame_idx"],
                    "ts_ms": pdf["ts_ms"],
                    "px_sum": pd.array(sums, dtype="int64"),
                    "px_mean": [s / (_VID_SIDE * _VID_SIDE) for s in sums],
                }
            )

    return sampled.mapInPandas(
        stats,
        schema="media_id bigint, frame_idx int, ts_ms int, px_sum bigint, "
        "px_mean double",
    ).orderBy("media_id", "frame_idx")


# Video near-dup fixture: the clips are the image rasters, so every 10th
# clip gets the image dHash twin (_dhash_twins / _DHASH_TWINS_SQL): +3 on
# the (row 0, col 0) pixel of each of the 4 frames (1-based flat positions
# 1/17/33/49, clamped). A col-0 pixel feeds exactly ONE gradient
# comparison, so the twin's 48-bit clip fingerprint is ≤ 4 Hamming away —
# under the threshold, and blocking guarantees recall. max_hamming=5
# gives six exact 8-bit segments. The frame-shifted query plants its own
# twins at _VHASH_TWIN_EVERY / _VHASH_TWIN_OFFSET.
_VHASH_MAX_HAMMING = 5
_VHASH_TWIN_EVERY = 10
_VHASH_TWIN_OFFSET = 1_000_000


_VID_ND_ORACLE = f"""
    WITH base AS (
      SELECT vec_id AS media_id, {_IMG_QUANT_SQL} AS px FROM embeddings
    ),
    q AS (SELECT media_id, px FROM base UNION ALL {_DHASH_TWINS_SQL}),
    bits AS (
      SELECT media_id,
             CAST(SUM(CASE WHEN px[(k // 12) * 16
                                   + ((k % 12) // 3) * 4 + (k % 12) % 3 + 2]
                           > px[(k // 12) * 16
                                + ((k % 12) // 3) * 4 + (k % 12) % 3 + 1]
                      THEN (1::BIGINT << k) ELSE 0 END) AS BIGINT) AS vhash
      FROM q, LATERAL unnest(generate_series(0, 47)) AS s(k)
      GROUP BY media_id
    ),
    bands AS (
      SELECT media_id, vhash, b, (vhash >> (8 * b)) & 255 AS v
      FROM bits, LATERAL unnest(generate_series(0, {_VHASH_MAX_HAMMING})) AS g(b)
    ),
    cand AS (
      SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b,
             a.vhash AS va, b.vhash AS vb
      FROM bands a JOIN bands b
        ON a.b = b.b AND a.v = b.v AND a.media_id < b.media_id
    )
    SELECT id_a, id_b, hamming FROM (
      SELECT id_a, id_b, CAST(bit_count(xor(va, vb)) AS INT) AS hamming
      FROM cand
    ) WHERE hamming <= {_VHASH_MAX_HAMMING} ORDER BY id_a, id_b
    """


@register("video_near_dup_pairs", oracle=_VID_ND_ORACLE)
def q_video_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clip-fingerprint video near-dup (r9) — completes near-dup across
    all four modalities (text MinHash/SimHash, image dHash, audio
    waveform hash, video per-frame hash) on ONE shared blocked-Hamming
    core: clips synthesized from quantized embeddings (plus planted
    twins) make a REAL YUV4MPEG2 encode → decode round trip inside Arrow
    batches, the 48-bit per-frame gradient fingerprint folds over the
    DECODED 4-frame luma (operators/dedup.py video_dhash — temporal
    order is part of the fingerprint), and pairs come from
    hamming_blocked_pairs. The oracle replays everything from the
    quantized values — the Y4M decoder is bit-exact, so a defect in the
    header/FRAME walk or the hash surfaces as a mismatch."""
    from network_iq_spark.operators.video import decode_y4m, encode_y4m

    src = _img_grid(spark, sf_dir)
    decoded = _roundtrip(
        src.unionByName(_dhash_twins(src)), "px", "uint8",
        lambda a: decode_y4m(
            encode_y4m(
                list(a.reshape(_VID_FRAMES, _VID_SIDE, _VID_SIDE)),
                fps=(_VID_FPS, 1),
            )
        )[3],
    )
    return D.video_near_dup_pairs(
        decoded,
        max_hamming=_VHASH_MAX_HAMMING,
        frames=_VID_FRAMES,
        side=_VID_SIDE,
    ).orderBy("id_a", "id_b")


def _vid_shift_oracle() -> str:
    """DuckDB replay of the FULL frame-shifted video pipeline (r11, same
    argument as the audio promotion: the LSH S-curve is deterministic
    given the data, and every stage — pixel quantization, the
    frame-shift twin plant, value-shingle MinHash banding at r=2/b=8,
    the 0.45 exact-Jaccard threshold, and the frame-aligned integer
    lag-scan with abs(lag) tie-break — is integer-or-IEEE-exact). The
    Y4M round trip is a luma identity (bit-exact codec), so the oracle
    reads the quantized values directly."""
    from network_iq_spark.queries.dedup_q import _minhash_sql

    fsz = _VID_SIDE * _VID_SIDE
    n = _VID_FRAMES * fsz
    shingles = """
      SELECT media_id AS doc_id, unnest(list_distinct(list_transform(
               generate_series(1, len(t) - 2),
               i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS shingle
      FROM (SELECT media_id,
                   list_transform(px, x -> CAST(x AS VARCHAR)) AS t
            FROM clips)
    """
    pairs = _minhash_sql(8, 2, 0.45, shingles_sql=shingles)
    off = f"(l.lag * {fsz})"
    lag_ssd = (
        f"list_sum(list_transform(range(0, {n} - abs({off})), i -> "
        f"(sa.px[i + greatest({off}, 0) + 1] - sb.px[i + greatest(-{off}, 0) + 1])"
        f" * (sa.px[i + greatest({off}, 0) + 1] - sb.px[i + greatest(-{off}, 0) + 1])))"
    )
    return f"""
    WITH base AS (
      SELECT vec_id AS media_id, {_IMG_QUANT_SQL} AS px FROM embeddings
    ),
    twins AS (
      SELECT media_id + {_VHASH_TWIN_OFFSET} AS media_id,
             list_transform(range(0, {n}), i ->
               CASE WHEN i < {n - fsz} THEN px[i + {fsz} + 1]
                    ELSE px[i + 1] END) AS px
      FROM base WHERE media_id % {_VHASH_TWIN_EVERY} = 0
    ),
    clips AS (SELECT * FROM base UNION ALL SELECT * FROM twins),
    pr AS (SELECT * FROM ({pairs})),
    ev AS (
      SELECT p.doc_a AS id_a, p.doc_b AS id_b, p.jaccard,
             l.lag, {lag_ssd} AS ssd
      FROM pr p
      JOIN clips sa ON sa.media_id = p.doc_a
      JOIN clips sb ON sb.media_id = p.doc_b
      CROSS JOIN (SELECT unnest(range(-1, 2)) AS lag) l
    ),
    picked AS (
      SELECT id_a, id_b, jaccard,
             CAST(lag AS INT) AS lag, CAST(ssd AS BIGINT) AS ssd,
             ROW_NUMBER() OVER (PARTITION BY id_a, id_b
                                ORDER BY ssd, abs(lag), lag) AS rn
      FROM ev
    )
    SELECT id_a, id_b, jaccard, lag, ssd
    FROM picked WHERE rn = 1 AND ssd <= 0
    ORDER BY id_a, id_b
    """


@register("video_frame_shifted_pairs", oracle=_vid_shift_oracle())
def q_video_frame_shifted_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FRAME-shift-tolerant video near-dup (r10; ORACLE-PAIRED since r11)
    — the video sibling of ``audio_shifted_near_dup_pairs`` on the same
    generic core (operators/dedup.py shifted_sequence_pairs, stride =
    one frame's pixels): every 10th clip gets a planted 1-FRAME-shifted
    copy (a re-encode that starts a frame late — invisible to
    video_dhash, whose per-frame sub-hashes all move to different bit
    ranges), clips make the real Y4M encode → decode round trip,
    candidates come from MinHash-LSH over pixel-value shingles at the
    widened r=2/b=8 S-curve (a 1-frame shift keeps only ~55 % shingle
    Jaccard), and the frame-aligned integer lag-scan verifies exactly
    (ssd = 0 at the true frame lag, ties toward |lag|). Recall is the
    S-curve (~0.94) but DETERMINISTIC given the data, so DuckDB replays
    the identical candidate set — the external gate covers the whole
    pipeline."""
    from network_iq_spark.operators.video import decode_y4m, encode_y4m

    src = _img_grid(spark, sf_dir)
    fsz = _VID_SIDE * _VID_SIDE
    n = _VID_FRAMES * fsz
    # 1-frame shift: drop the first frame, repeat the last
    twin = src.filter(F.col("media_id") % _VHASH_TWIN_EVERY == 0).select(
        (F.col("media_id") + _VHASH_TWIN_OFFSET).alias("media_id"),
        F.expr(
            f"transform(sequence(0, {n - 1}), i -> "
            f"IF(i < {n - fsz}, px[i + {fsz}], px[i]))"
        ).alias("px"),
    )
    decoded = _roundtrip(
        src.unionByName(twin), "px", "uint8",
        lambda a: decode_y4m(
            encode_y4m(
                list(a.reshape(_VID_FRAMES, _VID_SIDE, _VID_SIDE)),
                fps=(_VID_FPS, 1),
            )
        )[3],
    )
    return D.video_frame_shifted_pairs(
        decoded, frames=_VID_FRAMES, side=_VID_SIDE
    ).orderBy("id_a", "id_b")


def _nd_census_arm(modality: str, oracle: str, offset: int) -> str:
    return f"""
      SELECT '{modality}' AS modality,
             CAST(COUNT(*) AS BIGINT) AS n_pairs,
             CAST(SUM(CASE WHEN id_b = id_a + {offset} THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_twin_links,
             CAST(MAX(hamming) AS INT) AS max_hamming
      FROM ({oracle})"""


@register(
    "media_near_dup_census",
    oracle=f"""
    SELECT modality, n_pairs, n_twin_links, max_hamming FROM (
      {_nd_census_arm("audio", _AUD_ND_ORACLE, _WHASH_TWIN_OFFSET)}
      UNION ALL
      {_nd_census_arm("image", _IMG_ND_ORACLE, _DHASH_TWIN_OFFSET)}
      UNION ALL
      {_nd_census_arm("video", _VID_ND_ORACLE, _DHASH_TWIN_OFFSET)}
    ) ORDER BY modality
    """,
)
def q_media_near_dup_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modality near-dup census (r9) — the dedup-rate dashboard a
    multimodal corpus run reports: all three media near-dup pipelines
    (REAL codec round trips + gradient fingerprints + blocked Hamming
    pairs) rolled up to one row per modality — pair count, planted-twin
    links recovered (the recall floor: every planted twin MUST appear),
    max Hamming seen. The oracle re-runs all three full pipelines in SQL
    and rolls up identically — the heaviest single oracle in the sheet,
    by design: one hash covers the whole media-dedup surface."""

    def arm(df: DataFrame, modality: str, offset: int) -> DataFrame:
        return df.agg(
            F.count("*").cast("bigint").alias("n_pairs"),
            F.sum(
                F.when(F.col("id_b") == F.col("id_a") + offset, 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_twin_links"),
            F.max("hamming").cast("int").alias("max_hamming"),
        ).select(
            F.lit(modality).alias("modality"),
            "n_pairs",
            "n_twin_links",
            "max_hamming",
        )

    aud, img, vid = _pbuild(
        spark,
        lambda: arm(
            q_audio_near_dup_pairs(spark, sf_dir), "audio", _WHASH_TWIN_OFFSET
        ),
        lambda: arm(
            q_image_near_dup_pairs(spark, sf_dir), "image", _DHASH_TWIN_OFFSET
        ),
        lambda: arm(
            q_video_near_dup_pairs(spark, sf_dir), "video", _DHASH_TWIN_OFFSET
        ),
    )
    return aud.unionByName(img).unionByName(vid).orderBy("modality")


_ROT_TWIN_EVERY, _ROT_TWIN_OFFSET = 10, 3_000_000


def _rot_twins_sql() -> str:
    """DuckDB twin of _rot_twins over base(media_id, w, h, px): a CASE
    planting one of the 7 non-identity dihedral transforms chosen by
    id."""
    from network_iq_spark.operators.dedup import _dihedral_index_maps

    maps = _dihedral_index_maps(_IMG_SIDE)
    plant_arms = " ".join(
        f"WHEN {t - 1} THEN [" + ", ".join(f"px[{k + 1}]" for k in maps[t]) + "]"
        for t in range(1, 8)
    )
    return f"""SELECT media_id + {_ROT_TWIN_OFFSET} AS media_id, 8 AS w, 8 AS h,
             CASE (media_id // {_ROT_TWIN_EVERY}) % 7 {plant_arms} END AS px
      FROM base WHERE media_id % {_ROT_TWIN_EVERY} = 0"""


def _rot_oracle() -> str:
    """DuckDB replay of rotation/mirror-invariant dedup: the canonical
    key is md5(LEAST over the 8 dihedral serializations) — string LEAST
    on ASCII digit strings is engine-identical — and the plant applies
    one of the 7 non-identity transforms chosen by id."""
    from network_iq_spark.operators.dedup import _dihedral_index_maps

    maps = _dihedral_index_maps(_IMG_SIDE)

    def ser(m):
        return (
            "array_to_string(["
            + ", ".join(f"CAST(px[{k + 1}] AS VARCHAR)" for k in m)
            + "], ' ')"
        )

    canon = "md5(LEAST(" + ", ".join(ser(m) for m in maps) + "))"
    return f"""
    WITH {_IMG_BASE_SQL},
    twins AS ({_rot_twins_sql()}),
    imgs AS (SELECT * FROM base UNION ALL SELECT * FROM twins),
    keyed AS (SELECT media_id, {canon} AS ckey FROM imgs),
    keep AS (SELECT ckey, MIN(media_id) AS keep_id FROM keyed GROUP BY 1)
    SELECT k.keep_id, i.media_id AS dup_id
    FROM keyed i JOIN keep k USING (ckey)
    WHERE i.media_id != k.keep_id
    ORDER BY keep_id, dup_id
    """


def _rot_twins(base: DataFrame) -> DataFrame:
    """Planted dihedral twins of every 10th image, cycling the 7
    non-identity transforms — shared by the rotation tier and the
    resolution keep-best member corpus (same desync rule as
    _crop_corpus / _thumb_twins). ``base`` needs (media_id, px)."""
    from network_iq_spark.operators.dedup import _dihedral_index_maps

    maps = _dihedral_index_maps(_IMG_SIDE)
    arms = " ".join(
        f"WHEN {t - 1} THEN array(" + ", ".join(f"px[{k}]" for k in maps[t]) + ")"
        for t in range(1, 8)
    )
    return base.filter(F.col("media_id") % _ROT_TWIN_EVERY == 0).select(
        (F.col("media_id") + _ROT_TWIN_OFFSET).alias("media_id"),
        F.expr(
            f"CASE cast((media_id div {_ROT_TWIN_EVERY}) % 7 as int) {arms} END"
        ).alias("px"),
    )


@register("image_rotated_dedup", oracle=_rot_oracle())
def q_image_rotated_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROTATION/MIRROR-invariant image dedup (r11) — the fourth
    transform axis (shift / crop / scale / rotation): mirrored and
    rotated reposts are a real duplicate class in crawled image corpora
    and are invisible to every positional fingerprint. The canonical
    dihedral form (operators/dedup.py dihedral_canonical_key: md5 of the
    lexicographically smallest of the 8 symmetry serializations) is
    transform-CLOSED, so detection is the same one-shuffle hash-groupBy
    as exact_dedup — no pair explosion, no similarity threshold, output
    ∝ duplicates. Every 10th image gets a planted twin cycling through
    all 7 non-identity transforms (3 rotations + 4 reflections);
    integer-exact end to end, oracle-replayable."""
    return _image_rotated_dedup_from(_img_grid(spark, sf_dir))


def _image_rotated_dedup_from(img: DataFrame) -> DataFrame:
    """Arm body over an injected quantized-grid frame (the
    ``_audio_resampled_pairs_from`` build-once rationale)."""
    from network_iq_spark.operators.dedup import rotated_dedup_pairs

    imgs = img.unionByName(_rot_twins(img))
    return rotated_dedup_pairs(imgs, side=_IMG_SIDE).orderBy(
        "keep_id", "dup_id"
    )


_RSMP_TWIN_EVERY, _RSMP_TWIN_OFFSET = 10, 4_000_000
# DuckDB twin of the operator's truncating 2:1 box decimation and its
# md5-over-(length, values) grid key (1-based lists; BIGINT division in
# DuckDB (//) and Spark (div) both truncate toward zero — verified on
# signed PCM, so no offset trick is needed)
_RSMP_DOWN_SQL = (
    "list_transform(range(0, len(s) // 2), i -> "
    "(s[2*i + 1] + s[2*i + 2]) // 2)"
)
_RSMP_KEY_SQL = (
    "md5(CAST(len({v}) AS VARCHAR) || ':' || "
    "array_to_string(list_transform({v}, x -> CAST(x AS VARCHAR)), ' '))"
)
# DuckDB twin of _rsmp_twins over walks(media_id, s)
_RSMP_TWINS_SQL = f"""SELECT media_id + {_RSMP_TWIN_OFFSET} AS media_id,
             {_RSMP_DOWN_SQL} AS s
      FROM walks WHERE media_id % {_RSMP_TWIN_EVERY} = 0"""


@register(
    "audio_resampled_near_dup_pairs",
    oracle=f"""
    WITH {_AUD_WALK_SQL},
    twins AS ({_RSMP_TWINS_SQL}),
    clips AS (SELECT * FROM walks UNION ALL SELECT * FROM twins),
    parents AS (
      SELECT media_id AS full_id,
             {_RSMP_KEY_SQL.format(v=_RSMP_DOWN_SQL)} AS gkey,
             CAST(len(s) // 2 AS INT) AS resampled_n
      FROM clips WHERE len(s) >= 2
    ),
    kids AS (
      SELECT media_id AS resampled_id, {_RSMP_KEY_SQL.format(v="s")} AS gkey
      FROM clips
    )
    SELECT full_id, resampled_id, resampled_n
    FROM parents JOIN kids USING (gkey)
    WHERE full_id != resampled_id
    ORDER BY full_id, resampled_id
    """,
)
def q_audio_resampled_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESAMPLE-derivative audio near-dup (r12, VERDICT item 5) — the
    audio cell of the transform matrix's scale axis, completing the
    audio column (shift: ``audio_shifted_near_dup_pairs``; scale: this):
    every 10th clip gets a planted 2:1 truncating-box-average DECIMATION
    (the sample-rate halving every transcode pipeline runs — a
    resampled re-encode is invisible to both the sample-aligned gradient
    hash AND the shift tier's fixed-length shingles), and
    operators/dedup.py resampled_derivative_pairs recovers each
    (full, resampled) pair via an exact equi-join on the md5 of the
    derived half-rate signal — recall 1.0 by construction for
    same-pipeline derivatives, no similarity threshold anywhere,
    integer-exact end to end (Spark ``div`` and DuckDB ``//`` both
    truncate toward zero on signed PCM), hence fully oracle-replayable.
    Clips are the same embedding-derived random walks as the shift tier;
    the operator docstring states the boundary: interpolating/polyphase
    resamplers land ±1–2 per sample away and are outside the exact
    claim."""
    return _audio_resampled_pairs_from(_aud_walks(spark, sf_dir))


def _audio_resampled_pairs_from(src: DataFrame) -> DataFrame:
    """Arm body over an injected walk frame — the composites (census,
    resolution, keep-best) build the walks ONCE per modality and feed
    every arm the same DataFrame object: the plan is structurally
    identical to each arm re-deriving it (same subtree, de-duplicated
    attribute ids), but the driver builds/analyzes the walk expression
    once instead of once per arm (guide §3.3: planning time is a real
    cost; measured r14, the composites' build is py4j/parse-bound)."""
    clips = src.unionByName(_rsmp_twins(src))
    return D.resampled_derivative_pairs(clips).orderBy(
        "full_id", "resampled_id"
    )


@register(
    "incremental_resample_probe",
    oracle=f"""
    WITH {_AUD_WALK_SQL},
    twins AS ({_RSMP_TWINS_SQL}),
    idx AS (
      SELECT media_id AS old_id, len(s) AS n,
             {_RSMP_KEY_SQL.format(v="s")} AS own_key,
             CASE WHEN len(s) >= 2
                  THEN {_RSMP_KEY_SQL.format(v=_RSMP_DOWN_SQL)} END
               AS derived_key
      FROM walks
    ),
    batch AS (
      SELECT media_id AS new_id, len(s) AS n,
             {_RSMP_KEY_SQL.format(v="s")} AS own_key,
             CASE WHEN len(s) >= 2
                  THEN {_RSMP_KEY_SQL.format(v=_RSMP_DOWN_SQL)} END
               AS derived_key
      FROM twins
    )
    SELECT new_id, old_id, role, resampled_n FROM (
      SELECT b.new_id, i.old_id, 'batch_resampled' AS role,
             CAST(b.n AS INT) AS resampled_n
      FROM batch b JOIN idx i
        ON b.own_key = i.derived_key AND b.new_id != i.old_id
      UNION ALL
      SELECT b.new_id, i.old_id, 'batch_full' AS role,
             CAST(i.n AS INT) AS resampled_n
      FROM batch b JOIN idx i
        ON b.derived_key = i.own_key AND b.new_id != i.old_id
    ) ORDER BY new_id, old_id, role
    """,
)
def q_incremental_resample_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental resample-derivative dedup (r13, VERDICT item 5) —
    the DEPLOYMENT shape of the scale-axis tiers, giving the census's
    audio/video resample arms the same incremental probe the crop and
    thumbnail arms already have: the at-rest index is one row per
    history clip with its own-signal and derived-(decimated-)signal
    md5 keys (operators/dedup.py resample_index — persisted bucketed by
    key in a deployment), and the incoming batch (here: the planted 2:1
    decimations of every 10th clip, the audio_resampled corpus) probes
    it with two exact equi-joins — its own key against history DERIVED
    keys (the batch clip is a resampled re-upload) and its derived key
    against history OWN keys (the batch clip is the full-rate original
    of an indexed decimation) — O(batch × collision), never O(history),
    recall 1.0 by construction, fully oracle-replayable. stride > 1
    gives the video cell the identical probe (one generic core, the
    pairs tier's contract). The index is READ from the committed
    artifact (aux_data/resample_index/<sf>, built by
    scripts/build_transform_indexes.py — the media-index discipline)
    with an in-plan fallback for arbitrary sf_dirs; the shared oracle
    recomputes it, so parity doubles as the freshness check."""
    src = _aud_walks(spark, sf_dir)
    batch = _rsmp_twins(src)
    idx = _aux_parquet(spark, "resample_index", sf_dir)
    if idx is None:
        idx = D.resample_index(src)
    return D.incremental_resampled_dedup(batch, idx).orderBy(
        "new_id", "old_id", "role"
    )


_VCROP_TWIN_EVERY, _VCROP_TWIN_OFFSET, _VCROP_MAX = 10, 5_000_000, 1
_VCROP_BLOCK = _VID_SIDE - _VCROP_MAX  # 3x3 frame-0 pigeonhole anchors
# DuckDB twin of _vcrop_twins over base(media_id, px)
_VCROP_TWINS_SQL = f"""SELECT media_id + {_VCROP_TWIN_OFFSET} AS media_id,
             {_VID_SIDE - 1} AS w, {_VID_SIDE - 1} AS h,
             flatten(list_transform(range(0, {_VID_FRAMES}), f ->
               flatten(list_transform(range(0, {_VID_SIDE - 1}), i ->
                 list_transform(range(0, {_VID_SIDE - 1}), j ->
                   px[f * {_VID_SIDE * _VID_SIDE}
                      + (i + dr) * {_VID_SIDE} + j + dc + 1]))))) AS px
      FROM (
        SELECT media_id, px,
               CASE WHEN (media_id // {_VCROP_TWIN_EVERY}) % 3 = 1
                    THEN 0 ELSE 1 END AS dr,
               CASE WHEN (media_id // {_VCROP_TWIN_EVERY}) % 3 = 0
                    THEN 0 ELSE 1 END AS dc
        FROM base WHERE media_id % {_VCROP_TWIN_EVERY} = 0
      )"""


@register(
    "video_cropped_near_dup_pairs",
    oracle=f"""
    WITH base AS (
      SELECT vec_id AS media_id, {_VID_SIDE} AS w, {_VID_SIDE} AS h,
             {_IMG_QUANT_SQL} AS px
      FROM embeddings
    ),
    twins AS ({_VCROP_TWINS_SQL}),
    clips AS (SELECT * FROM base UNION ALL SELECT * FROM twins),
    toks AS (
      SELECT DISTINCT media_id, unnest({_crop_tok_sql(_VCROP_BLOCK)}) AS tok
      FROM clips
    ),
    cand AS (
      SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b
      FROM toks a JOIN toks b ON a.tok = b.tok AND a.media_id < b.media_id
    ),
    lags AS (
      SELECT r.dr, c.dc
      FROM (SELECT unnest(range(-{_VCROP_MAX}, {_VCROP_MAX + 1})) AS dr) r,
           (SELECT unnest(range(-{_VCROP_MAX}, {_VCROP_MAX + 1})) AS dc) c
    ),
    scored AS (
      SELECT c.id_a, c.id_b, l.dr, l.dc,
             greatest(0, -l.dr) AS rlo, least(gb.h, ga.h - l.dr) - 1 AS rhi,
             greatest(0, -l.dc) AS clo, least(gb.w, ga.w - l.dc) - 1 AS chi,
             ga.px AS pxa, gb.px AS pxb,
             ga.w AS wa, gb.w AS wb, ga.h AS ha, gb.h AS hb
      FROM cand c
      JOIN clips ga ON ga.media_id = c.id_a
      JOIN clips gb ON gb.media_id = c.id_b
      CROSS JOIN lags l
    ),
    evaled AS (
      SELECT id_a, id_b, dr, dc,
             CASE WHEN rhi < rlo OR chi < clo
                    OR (rhi - rlo + 1) * (chi - clo + 1)
                       < {_VCROP_BLOCK * _VCROP_BLOCK}
                  THEN NULL
                  ELSE list_sum(flatten(list_transform(range(0, {_VID_FRAMES}),
                    f -> flatten(list_transform(range(rlo, rhi + 1),
                      i -> list_transform(range(clo, chi + 1), j ->
                        (pxb[f * hb * wb + i * wb + j + 1]
                         - pxa[f * ha * wa + (i + dr) * wa + j + dc + 1])
                      * (pxb[f * hb * wb + i * wb + j + 1]
                         - pxa[f * ha * wa + (i + dr) * wa + j + dc + 1])
                  ))))))
             END AS ssd
      FROM scored
    ),
    picked AS (
      SELECT id_a, id_b,
             CAST(dr AS INT) AS dr, CAST(dc AS INT) AS dc,
             CAST(ssd AS BIGINT) AS ssd,
             ROW_NUMBER() OVER (
               PARTITION BY id_a, id_b
               ORDER BY ssd, abs(dr) + abs(dc), dr, dc
             ) AS rn
      FROM evaled WHERE ssd IS NOT NULL
    )
    SELECT id_a, id_b, dr, dc, ssd
    FROM picked WHERE rn = 1 AND ssd <= 0
    ORDER BY id_a, id_b
    """,
)
def q_video_cropped_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-frame crop-TOLERANT video near-dup (r12, VERDICT item 6) —
    the video cell of the transform matrix's crop axis, the spatial
    sibling of ``video_frame_shifted_pairs`` (temporal axis): every 10th
    clip gets a planted per-frame crop (the same (dr, dc) in {(1,0),
    (0,1), (1,1)} window cut from every 4×4 frame, cycling by id — the
    letterbox-removal re-encode class that scrambles video_dhash and
    slips the shift tier's full-frame shingles), and
    operators/dedup.py video_cropped_pairs recovers each pair via the
    image crop tier's machinery at frame grain: pigeonhole 3×3 sub-block
    tokens on FRAME 0 (deterministic recall 1.0 for crops ≤ 1 — no LSH
    S-curve, which is why the tier is oracle-pairable; frame-0-only
    blocking keeps token fanout at image-tier cost) and the exact
    integer 2-D lag scan generalized across all 4 luma planes at one
    shared (dr, dc) — a pair whose first frame aligns but later frames
    diverge is rejected exactly. Output (id_a, id_b, dr, dc, ssd = 0);
    DuckDB replays tokens, candidates, and the multi-frame verify end
    to end."""
    return _video_cropped_pairs_from(_img_grid(spark, sf_dir))


def _video_cropped_pairs_from(vbase: DataFrame) -> DataFrame:
    """Arm body over an injected (media_id, px) grid frame (the
    ``_audio_resampled_pairs_from`` build-once rationale)."""
    base = vbase.select(
        "media_id",
        F.lit(_VID_SIDE).alias("w"),
        F.lit(_VID_SIDE).alias("h"),
        "px",
    )
    clips = base.unionByName(_vcrop_twins(base))
    return D.video_cropped_pairs(
        clips, frames=_VID_FRAMES, max_crop=_VCROP_MAX, side=_VID_SIDE,
    ).orderBy("id_a", "id_b")


_VRSMP_TWIN_EVERY, _VRSMP_TWIN_OFFSET = 10, 6_000_000
# DuckDB twin of the frame-pair temporal decimation (factor 2, stride =
# one 4x4 frame = 16 px; 1-based lists): d[g*16 + p] = (frame[2g][p] +
# frame[2g+1][p]) // 2 — pixel values are non-negative so // and div
# agree trivially
_VRSMP_DOWN_SQL = (
    "list_transform(range(0, (len(px) // 32) * 16), j -> "
    "(px[((j // 16) * 2) * 16 + (j % 16) + 1] "
    "+ px[((j // 16) * 2 + 1) * 16 + (j % 16) + 1]) // 2)"
)
# DuckDB twin of _vrsmp_twins over base(media_id, px)
_VRSMP_TWINS_SQL = f"""SELECT media_id + {_VRSMP_TWIN_OFFSET} AS media_id,
             {_VRSMP_DOWN_SQL} AS px
      FROM base WHERE media_id % {_VRSMP_TWIN_EVERY} = 0"""


@register(
    "video_resampled_near_dup_pairs",
    oracle=f"""
    WITH {_GRID_SQL},
    twins AS ({_VRSMP_TWINS_SQL}),
    clips AS (SELECT * FROM base UNION ALL SELECT * FROM twins),
    parents AS (
      SELECT media_id AS full_id,
             {_RSMP_KEY_SQL.format(v=_VRSMP_DOWN_SQL)} AS gkey,
             CAST((len(px) // 32) * 16 AS INT) AS resampled_n
      FROM clips WHERE len(px) >= 32
    ),
    kids AS (
      SELECT media_id AS resampled_id, {_RSMP_KEY_SQL.format(v="px")} AS gkey
      FROM clips
    )
    SELECT full_id, resampled_id, resampled_n
    FROM parents JOIN kids USING (gkey)
    WHERE full_id != resampled_id
    ORDER BY full_id, resampled_id
    """,
)
def q_video_resampled_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TEMPORAL-resample video near-dup (r12) — the video cell of the
    transform matrix's scale axis, completing the video column (shift:
    ``video_frame_shifted_pairs``; spatial crop:
    ``video_cropped_near_dup_pairs``; temporal scale: this): every 10th
    clip gets a planted 2:1 FRAME-RATE decimation (consecutive frame
    pairs averaged per pixel — the 60→30 fps transcode, invisible to
    video_dhash, the frame-shift shingles, and the spatial crop tokens
    alike), and operators/dedup.py resampled_derivative_pairs at
    stride = one frame's pixels recovers each (full, resampled) pair
    via the same exact derived-key equi-join as the audio cell —
    recall 1.0 by construction, integer-exact (non-negative pixels, so
    the truncating division is engine-trivial), fully
    oracle-replayable. One generic core covers both scale-axis media
    cells; stride = 1 IS the audio tier, byte-identical."""
    return _video_resampled_pairs_from(_img_grid(spark, sf_dir))


def _video_resampled_pairs_from(base: DataFrame) -> DataFrame:
    """Arm body over an injected (media_id, px) grid frame (the
    ``_audio_resampled_pairs_from`` build-once rationale)."""
    clips = base.unionByName(_vrsmp_twins(base))
    return D.resampled_derivative_pairs(
        clips, stride=16, s_col="px"
    ).orderBy("full_id", "resampled_id")


_TRIM_TWIN_EVERY, _TRIM_TWIN_OFFSET = 10, 7_000_000
_TRIM_MAX, _TRIM_ANCHOR = 2, 16
# (head, tail) per planted arm, cycled by (media_id // 10) % 4 — covers
# head-only, tail-only and both asymmetric mixes, every budget ≤ _TRIM_MAX
_TRIM_ARMS = ((1, 0), (0, 1), (2, 1), (1, 2))
_TRIM_TOK_SQL = (
    "md5(array_to_string(list_transform(range(0, {B}), i -> "
    "CAST(s[{off} + i + 1] AS VARCHAR)), ' '))"
)


def _trim_twin_case(col: str, pick: str) -> str:
    """CASE selecting head (pick='h') or tail (pick='t') for a twin —
    shared text so Spark and DuckDB plant literally the same trims."""
    whens = " ".join(
        f"WHEN {k} THEN {(h if pick == 'h' else t)}"
        for k, (h, t) in enumerate(_TRIM_ARMS[:-1])
    )
    last = _TRIM_ARMS[-1][0 if pick == "h" else 1]
    return f"CASE CAST(({col}) % {len(_TRIM_ARMS)} AS INT) {whens} ELSE {last} END"


# DuckDB twin of _audio_trim_twins over walks(media_id, s)
_TRIM_TWINS_SQL = f"""SELECT media_id + {_TRIM_TWIN_OFFSET} AS media_id,
             list_slice(s, head + 1, 64 - tail) AS s
      FROM (
        SELECT media_id, s,
               {_trim_twin_case(f"media_id // {_TRIM_TWIN_EVERY}", "h")} AS head,
               {_trim_twin_case(f"media_id // {_TRIM_TWIN_EVERY}", "t")} AS tail
        FROM walks WHERE media_id % {_TRIM_TWIN_EVERY} = 0
      )"""


@register(
    "audio_trimmed_near_dup_pairs",
    oracle=f"""
    WITH {_AUD_WALK_SQL},
    twins AS ({_TRIM_TWINS_SQL}),
    clips AS (SELECT * FROM walks UNION ALL SELECT * FROM twins),
    ptoks AS (
      SELECT DISTINCT media_id AS full_id,
             unnest(list_transform(
               range(0, least({_TRIM_MAX}, len(s) - {_TRIM_ANCHOR}) + 1),
               o -> {_TRIM_TOK_SQL.format(B=_TRIM_ANCHOR, off="o")})) AS tok
      FROM clips WHERE len(s) >= {_TRIM_ANCHOR}
    ),
    ktoks AS (
      SELECT media_id AS trimmed_id,
             {_TRIM_TOK_SQL.format(B=_TRIM_ANCHOR, off="0")} AS tok
      FROM clips WHERE len(s) >= {_TRIM_ANCHOR}
    ),
    cand AS (
      SELECT DISTINCT p.full_id, k.trimmed_id
      FROM ptoks p JOIN ktoks k USING (tok)
      WHERE p.full_id != k.trimmed_id
    ),
    offs AS (SELECT unnest(range(0, {_TRIM_MAX} + 1)) AS h),
    scored AS (
      SELECT c.full_id, c.trimmed_id, o.h,
             len(ga.s) AS n, len(gb.s) AS m, ga.s AS sa, gb.s AS sb
      FROM cand c
      JOIN clips ga ON ga.media_id = c.full_id
      JOIN clips gb ON gb.media_id = c.trimmed_id
      CROSS JOIN offs o
    ),
    evaled AS (
      SELECT full_id, trimmed_id, h, n, m,
             CASE WHEN n <= m OR h + m > n OR n - h - m > {_TRIM_MAX}
                  THEN NULL
                  ELSE list_sum(list_transform(range(0, m), i ->
                    (sb[i + 1] - sa[h + i + 1])
                    * (sb[i + 1] - sa[h + i + 1])))
             END AS ssd
      FROM scored
    ),
    picked AS (
      SELECT full_id, trimmed_id,
             CAST(h AS INT) AS head, CAST(n - h - m AS INT) AS tail,
             CAST(ssd AS BIGINT) AS ssd,
             ROW_NUMBER() OVER (
               PARTITION BY full_id, trimmed_id ORDER BY ssd, h
             ) AS rn
      FROM evaled WHERE ssd IS NOT NULL
    )
    SELECT full_id, trimmed_id, head, tail, ssd
    FROM picked WHERE rn = 1 AND ssd <= 0
    ORDER BY full_id, trimmed_id
    """,
)
def q_audio_trimmed_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRIM-tolerant audio near-dup (r13, VERDICT item 4) — the last
    empty cell of the shift/crop/scale × image/audio/video transform
    matrix (audio-crop): every 10th clip gets a planted head/tail trim
    (four arms: head-only, tail-only, both asymmetric mixes, each side
    ≤ {_TRIM_MAX} samples — the silence-strip re-upload), and
    operators/dedup.py trimmed_sequence_pairs recovers each
    (full, trimmed) pair via prefix-anchor pigeonhole blocking + an
    exact integer head-offset scan — recall 1.0 at ssd_tol = 0 by the
    crop tier's 1-D pigeonhole argument (NOT an LSH S-curve, which is
    why this tier is oracle-pairable where the shifted tier is not),
    precision exact, integer arithmetic end to end. The shift tier
    covers small trims only as lag-aligned fixed-length windows; this
    tier reports the (head, tail) edit itself on variable-length
    clips. Boundary (operator docstring): lossless trims only — trim
    composed with re-encode noise needs ssd_tol > 0 and downgrades the
    recall claim to best-effort."""
    return _audio_trimmed_pairs_from(_aud_walks(spark, sf_dir))


def _audio_trimmed_pairs_from(src: DataFrame) -> DataFrame:
    """Arm body over an injected walk frame (see
    ``_audio_resampled_pairs_from`` for the build-once rationale)."""
    clips = src.unionByName(_audio_trim_twins(src))
    return D.trimmed_sequence_pairs(
        clips, max_trim=_TRIM_MAX, anchor=_TRIM_ANCHOR
    ).orderBy("full_id", "trimmed_id")


_TG_TWIN_EVERY, _TG_TWIN_OFFSET = 10, 9_000_000
# gain arms cycled by (media_id // 10) % 3: s' = a·s + b with a > 0 —
# the uniform gain / DC-offset re-encode class
_TG_GAIN_ARMS = ((2, 0), (3, -7), (2, 11))
# gradient-SIGN sequence: g[i] = sign(v[i+1] − v[i]), length n−1.
# Monotone gain (a > 0) preserves every comparison, and trimming h/t
# samples trims exactly h/t gradient positions — so trim∘gain in the
# sample domain IS a pure trim in the gradient-sign domain, and the
# registered trim core applies verbatim. Contract: clips of ≥ 2
# samples (the walks are fixed 64-length; the trim tier's anchor
# filter re-guards downstream).
_GSIGN_SQL = (
    "list_transform(range(1, len({v})), i -> "
    "CASE WHEN {v}[i + 1] > {v}[i] THEN 1 "
    "WHEN {v}[i + 1] < {v}[i] THEN -1 ELSE 0 END)"
)
_GSIGN_EXPR = (
    "transform(sequence(0, size({v}) - 2), i -> "
    "IF({v}[i + 1] > {v}[i], 1, IF({v}[i + 1] < {v}[i], -1, 0)))"
)


def _tg_gain_case(col: str, pick: str) -> str:
    """CASE selecting the gain multiplier (pick='a') or offset
    (pick='b') — shared text so Spark and DuckDB plant literally the
    same affine transforms (the _trim_twin_case rule)."""
    idx = 0 if pick == "a" else 1
    whens = " ".join(
        f"WHEN {k} THEN {arm[idx]}"
        for k, arm in enumerate(_TG_GAIN_ARMS[:-1])
    )
    last = _TG_GAIN_ARMS[-1][idx]
    return f"CASE CAST(({col}) % {len(_TG_GAIN_ARMS)} AS INT) {whens} ELSE {last} END"


# DuckDB twin of _tg_twins over walks(media_id, s)
_TG_TWINS_SQL = f"""SELECT media_id + {_TG_TWIN_OFFSET} AS media_id,
             list_transform(list_slice(s, head + 1, 64 - tail),
                            x -> a * x + b) AS s
      FROM (
        SELECT media_id, s,
               {_trim_twin_case(f"media_id // {_TG_TWIN_EVERY}", "h")} AS head,
               {_trim_twin_case(f"media_id // {_TG_TWIN_EVERY}", "t")} AS tail,
               {_tg_gain_case(f"media_id // {_TG_TWIN_EVERY}", "a")} AS a,
               {_tg_gain_case(f"media_id // {_TG_TWIN_EVERY}", "b")} AS b
        FROM walks WHERE media_id % {_TG_TWIN_EVERY} = 0
      )"""


def _trim_gain_oracle() -> str:
    """DuckDB replay of the trim∘gain tier: plant affine-gain trimmed
    twins, map every clip to its gradient-sign sequence, then run the
    trim tier's own CTE chain (prefix-anchor pigeonhole + exact
    head-offset scan) over the sign sequences."""
    return f"""
    WITH {_AUD_WALK_SQL},
    twins AS ({_TG_TWINS_SQL}),
    tg_clips AS (SELECT * FROM walks UNION ALL SELECT * FROM twins),
    clips AS (
      SELECT media_id, {_GSIGN_SQL.format(v="s")} AS s FROM tg_clips
    ),
    ptoks AS (
      SELECT DISTINCT media_id AS full_id,
             unnest(list_transform(
               range(0, least({_TRIM_MAX}, len(s) - {_TRIM_ANCHOR}) + 1),
               o -> {_TRIM_TOK_SQL.format(B=_TRIM_ANCHOR, off="o")})) AS tok
      FROM clips WHERE len(s) >= {_TRIM_ANCHOR}
    ),
    ktoks AS (
      SELECT media_id AS trimmed_id,
             {_TRIM_TOK_SQL.format(B=_TRIM_ANCHOR, off="0")} AS tok
      FROM clips WHERE len(s) >= {_TRIM_ANCHOR}
    ),
    cand AS (
      SELECT DISTINCT p.full_id, k.trimmed_id
      FROM ptoks p JOIN ktoks k USING (tok)
      WHERE p.full_id != k.trimmed_id
    ),
    offs AS (SELECT unnest(range(0, {_TRIM_MAX} + 1)) AS h),
    scored AS (
      SELECT c.full_id, c.trimmed_id, o.h,
             len(ga.s) AS n, len(gb.s) AS m, ga.s AS sa, gb.s AS sb
      FROM cand c
      JOIN clips ga ON ga.media_id = c.full_id
      JOIN clips gb ON gb.media_id = c.trimmed_id
      CROSS JOIN offs o
    ),
    evaled AS (
      SELECT full_id, trimmed_id, h, n, m,
             CASE WHEN n <= m OR h + m > n OR n - h - m > {_TRIM_MAX}
                  THEN NULL
                  ELSE list_sum(list_transform(range(0, m), i ->
                    (sb[i + 1] - sa[h + i + 1])
                    * (sb[i + 1] - sa[h + i + 1])))
             END AS ssd
      FROM scored
    ),
    picked AS (
      SELECT full_id, trimmed_id,
             CAST(h AS INT) AS head, CAST(n - h - m AS INT) AS tail,
             CAST(ssd AS BIGINT) AS ssd,
             ROW_NUMBER() OVER (
               PARTITION BY full_id, trimmed_id ORDER BY ssd, h
             ) AS rn
      FROM evaled WHERE ssd IS NOT NULL
    )
    SELECT full_id, trimmed_id, head, tail, ssd
    FROM picked WHERE rn = 1 AND ssd <= 0
    ORDER BY full_id, trimmed_id
    """


@register("audio_trim_gain_pairs", oracle=_trim_gain_oracle())
def q_audio_trim_gain_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRIM∘GAIN composed audio near-dup (r14, VERDICT item 3) —
    closing the boundary the trim tier's docstring left open
    (operators/dedup.py trimmed_sequence_pairs: "trim+gain needs the
    landmark family"). It turns out no landmark/FFT machinery is
    needed for the INTEGER-exact composition: a monotone gain
    (s' = a·s + b, a > 0 — the loudness-normalize / DC-offset
    re-encode) preserves the SIGN of every consecutive difference, and
    trimming h head / t tail samples trims exactly h/t positions of
    the gradient-sign sequence — so trim∘gain in the sample domain is
    a PURE TRIM in the gradient-sign domain, and the registered trim
    core (prefix-anchor pigeonhole blocking + exact integer
    head-offset scan) applies verbatim over g[i] = sign(s[i+1] − s[i]).
    "Compose, don't multiply operators" — literally: this query is
    gradient-sign ∘ trimmed_sequence_pairs, no new operator at all.
    Recall 1.0 by the trim tier's pigeonhole argument for every
    planted (trim ≤ {_TRIM_MAX}) ∘ (affine a > 0) derivative; the
    detection domain is ORDINAL equivalence (exactly the
    gain-invariance waveform_dhash claims — two clips with identical
    comparison structure are one clip up to monotone re-scaling).
    Integer-exact end to end, hence fully oracle-replayable — the
    shifted tier's bench-only precedent turned out unnecessary here.
    The remaining composition, trim+gain+RE-ENCODE NOISE (a perturbed
    sample flips its two gradient signs and defeats both the anchor and
    the exact verify), genuinely needs the landmark family and stays
    outside the oracle-able tier — covered as of r14 by
    ``audio_landmark_pairs`` (bench-only, measured recall). Every 10th clip
    gets a planted twin: head/tail trim cycling the trim tier's four
    arms × affine gain cycling (2,0)/(3,−7)/(2,11). Output
    (full_id, trimmed_id, head, tail, ssd) with head/tail in samples
    (gradient-domain offsets equal sample-domain offsets) and
    ssd = 0 over the sign sequences."""
    return _audio_trim_gain_pairs_from(_aud_walks(spark, sf_dir))


def _audio_trim_gain_pairs_from(src: DataFrame) -> DataFrame:
    """Arm body over an injected walk frame (see
    ``_audio_resampled_pairs_from`` for the build-once rationale)."""
    twin = _tg_twins(src)
    # barrier BEFORE the sign map (the r13 pushdown lesson, pairs-tier
    # form): _GSIGN_EXPR references s three times per position, and
    # without a materialization boundary the walk+twin derivation
    # (itself O(n²) aggregates per clip) inlines into every reference
    # of the downstream interpreted expression — measured 263 s at
    # sf0.1 vs ~4 s with the barrier. Checkpointing the clips stores
    # the walks as DATA, so the sign map reads arrays instead of
    # re-deriving them per reference.
    clips = src.unionByName(twin).localCheckpoint(eager=False)
    gclips = clips.select(
        "media_id", F.expr(_GSIGN_EXPR.format(v="s")).alias("s")
    )
    return D.trimmed_sequence_pairs(
        gclips, max_trim=_TRIM_MAX, anchor=_TRIM_ANCHOR
    ).orderBy("full_id", "trimmed_id")


_VTRIM_TWIN_EVERY, _VTRIM_TWIN_OFFSET = 10, 8_000_000
_VTRIM_MAX, _VTRIM_ANCHOR = 1, 1  # 1 frame per side budget, 1-frame anchor
_VTRIM_FRAME = _VID_SIDE * _VID_SIDE  # elements per trim unit (stride)
# (head, tail) frame trims per planted arm, cycled by (media_id // 10) % 3
_VTRIM_ARMS = ((1, 0), (0, 1), (1, 1))


def _vtrim_twin_case(col: str, pick: str) -> str:
    whens = " ".join(
        f"WHEN {k} THEN {(h if pick == 'h' else t)}"
        for k, (h, t) in enumerate(_VTRIM_ARMS[:-1])
    )
    last = _VTRIM_ARMS[-1][0 if pick == "h" else 1]
    return f"CASE CAST(({col}) % {len(_VTRIM_ARMS)} AS INT) {whens} ELSE {last} END"


# DuckDB twin of _vtrim_twins over base(media_id, px)
_VTRIM_TWINS_SQL = f"""SELECT media_id + {_VTRIM_TWIN_OFFSET} AS media_id,
             list_slice(px, head * {_VTRIM_FRAME} + 1,
                        ({_VID_FRAMES} - tail) * {_VTRIM_FRAME}) AS px
      FROM (
        SELECT media_id, px,
               {_vtrim_twin_case(f"media_id // {_VTRIM_TWIN_EVERY}", "h")} AS head,
               {_vtrim_twin_case(f"media_id // {_VTRIM_TWIN_EVERY}", "t")} AS tail
        FROM base WHERE media_id % {_VTRIM_TWIN_EVERY} = 0
      )"""


_VTRIM_TOK_SQL = (
    "md5(array_to_string(list_transform(range(0, {B}), i -> "
    "CAST(px[{off} + i + 1] AS VARCHAR)), ' '))"
)


@register(
    "video_trimmed_near_dup_pairs",
    oracle=f"""
    WITH {_GRID_SQL},
    twins AS ({_VTRIM_TWINS_SQL}),
    clips AS (SELECT * FROM base UNION ALL SELECT * FROM twins),
    ptoks AS (
      SELECT DISTINCT media_id AS full_id,
             unnest(list_transform(
               range(0, least({_VTRIM_MAX},
                              len(px) // {_VTRIM_FRAME} - {_VTRIM_ANCHOR}) + 1),
               o -> {_VTRIM_TOK_SQL.format(B=_VTRIM_ANCHOR * _VTRIM_FRAME,
                                           off=f"o * {_VTRIM_FRAME}")})) AS tok
      FROM clips WHERE len(px) >= {_VTRIM_ANCHOR * _VTRIM_FRAME}
    ),
    ktoks AS (
      SELECT media_id AS trimmed_id,
             {_VTRIM_TOK_SQL.format(B=_VTRIM_ANCHOR * _VTRIM_FRAME, off="0")} AS tok
      FROM clips WHERE len(px) >= {_VTRIM_ANCHOR * _VTRIM_FRAME}
    ),
    cand AS (
      SELECT DISTINCT p.full_id, k.trimmed_id
      FROM ptoks p JOIN ktoks k USING (tok)
      WHERE p.full_id != k.trimmed_id
    ),
    offs AS (SELECT unnest(range(0, {_VTRIM_MAX} + 1)) AS h),
    scored AS (
      SELECT c.full_id, c.trimmed_id, o.h * {_VTRIM_FRAME} AS he,
             len(ga.px) AS n, len(gb.px) AS m, ga.px AS sa, gb.px AS sb
      FROM cand c
      JOIN clips ga ON ga.media_id = c.full_id
      JOIN clips gb ON gb.media_id = c.trimmed_id
      CROSS JOIN offs o
    ),
    evaled AS (
      SELECT full_id, trimmed_id, he, n, m,
             CASE WHEN n <= m OR he + m > n
                    OR n - he - m > {_VTRIM_MAX * _VTRIM_FRAME}
                    OR (n - m) % {_VTRIM_FRAME} != 0
                  THEN NULL
                  ELSE list_sum(list_transform(range(0, m), i ->
                    (sb[i + 1] - sa[he + i + 1])
                    * (sb[i + 1] - sa[he + i + 1])))
             END AS ssd
      FROM scored
    ),
    picked AS (
      SELECT full_id, trimmed_id,
             CAST(he // {_VTRIM_FRAME} AS INT) AS head,
             CAST((n - he - m) // {_VTRIM_FRAME} AS INT) AS tail,
             CAST(ssd AS BIGINT) AS ssd,
             ROW_NUMBER() OVER (
               PARTITION BY full_id, trimmed_id ORDER BY ssd, he
             ) AS rn
      FROM evaled WHERE ssd IS NOT NULL
    )
    SELECT full_id, trimmed_id, head, tail, ssd
    FROM picked WHERE rn = 1 AND ssd <= 0
    ORDER BY full_id, trimmed_id
    """,
)
def q_video_trimmed_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TEMPORAL-trim video near-dup (r13) — the video cell of the
    transform matrix's TRIM axis, completing the trim column across
    modalities the same way the resample core's ``stride`` completed
    the scale column: every 10th clip gets a planted head/tail FRAME
    trim (three arms: first frame dropped, last frame dropped, both —
    the trimmed video re-upload, invisible to video_dhash's frame-order
    fingerprint, to the frame-shift shingles at fixed length AND to the
    spatial crop tokens), and operators/dedup.py trimmed_sequence_pairs
    at stride = one frame's pixels recovers each (full, trimmed) pair
    with the true frame-unit (head, tail) — prefix-anchor pigeonhole,
    recall 1.0 by construction, integer-exact, fully oracle-replayable.
    stride = 1 IS the audio tier, byte-identical (the
    resampled_derivative_pairs contract)."""
    return _video_trimmed_pairs_from(_img_grid(spark, sf_dir))


def _video_trimmed_pairs_from(base: DataFrame) -> DataFrame:
    """Arm body over an injected (media_id, px) grid frame (the
    ``_audio_resampled_pairs_from`` build-once rationale)."""
    clips = base.unionByName(_vtrim_twins(base))
    return D.trimmed_sequence_pairs(
        clips,
        max_trim=_VTRIM_MAX,
        anchor=_VTRIM_ANCHOR,
        s_col="px",
        stride=_VTRIM_FRAME,
    ).orderBy("full_id", "trimmed_id")


def _trim_probe_dir_sql(
    role: str, full_tbl: str, trim_tbl: str, full_col: str, trim_col: str
) -> str:
    """One probe direction's verify chain (DuckDB): candidates already
    computed as cand_{role}(new_id, old_id); attach full/trimmed
    sequences per the role and run the shared head-offset scan."""
    return f"""
      SELECT new_id, old_id, '{role}' AS role,
             CAST(h AS INT) AS head, CAST(n - h - m AS INT) AS tail,
             CAST(ssd AS BIGINT) AS ssd
      FROM (
        SELECT new_id, old_id, h, n, m, ssd,
               ROW_NUMBER() OVER (
                 PARTITION BY new_id, old_id ORDER BY ssd, h
               ) AS rn
        FROM (
          SELECT s.new_id, s.old_id, s.h, s.n, s.m,
                 CASE WHEN n <= m OR h + m > n OR n - h - m > {_TRIM_MAX}
                      THEN NULL
                      ELSE list_sum(list_transform(range(0, m), i ->
                        (sb[i + 1] - sa[h + i + 1])
                        * (sb[i + 1] - sa[h + i + 1])))
                 END AS ssd
          FROM (
            SELECT c.new_id, c.old_id, o.h,
                   len(ga.s) AS n, len(gb.s) AS m, ga.s AS sa, gb.s AS sb
            FROM cand_{role} c
            JOIN {full_tbl} ga ON ga.media_id = c.{full_col}
            JOIN {trim_tbl} gb ON gb.media_id = c.{trim_col}
            CROSS JOIN offs o
          ) s
        ) e WHERE ssd IS NOT NULL
      ) p WHERE rn = 1 AND ssd <= 0"""


@register(
    "incremental_trim_probe",
    oracle=f"""
    WITH {_AUD_WALK_SQL},
    twins AS ({_TRIM_TWINS_SQL}),
    htoks AS (
      SELECT DISTINCT media_id AS old_id,
             unnest(list_transform(
               range(0, least({_TRIM_MAX}, len(s) - {_TRIM_ANCHOR}) + 1),
               o -> {_TRIM_TOK_SQL.format(B=_TRIM_ANCHOR, off="o")})) AS tok
      FROM walks WHERE len(s) >= {_TRIM_ANCHOR}
    ),
    bpref AS (
      SELECT media_id AS new_id,
             {_TRIM_TOK_SQL.format(B=_TRIM_ANCHOR, off="0")} AS tok
      FROM twins WHERE len(s) >= {_TRIM_ANCHOR}
    ),
    bheads AS (
      SELECT DISTINCT media_id AS new_id,
             unnest(list_transform(
               range(0, least({_TRIM_MAX}, len(s) - {_TRIM_ANCHOR}) + 1),
               o -> {_TRIM_TOK_SQL.format(B=_TRIM_ANCHOR, off="o")})) AS tok
      FROM twins WHERE len(s) >= {_TRIM_ANCHOR}
    ),
    cand_batch_trimmed AS (
      SELECT DISTINCT b.new_id, h.old_id
      FROM bpref b JOIN htoks h USING (tok)
      WHERE b.new_id != h.old_id
    ),
    cand_batch_full AS (
      SELECT DISTINCT b.new_id, h.old_id
      FROM bheads b JOIN htoks h USING (tok)
      WHERE b.new_id != h.old_id
    ),
    offs AS (SELECT unnest(range(0, {_TRIM_MAX} + 1)) AS h)
    SELECT new_id, old_id, role, head, tail, ssd FROM (
      {_trim_probe_dir_sql("batch_trimmed", "walks", "twins", "old_id", "new_id")}
      UNION ALL
      {_trim_probe_dir_sql("batch_full", "twins", "walks", "new_id", "old_id")}
    ) ORDER BY new_id, old_id, role
    """,
)
def q_incremental_trim_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental trim-tolerant dedup (r13) — the DEPLOYMENT shape of
    the audio-trim cell, landing the SAME round as the tier itself (the
    crop tier needed a round to grow its probe): the at-rest index is
    the (id, tok) head-window token table + sequence table
    (operators/dedup.py trim_index — offset-0 tokens double as prefix
    tokens, so ONE table serves both probe directions), and the
    incoming batch (the planted head/tail trims) probes it by token
    collision + the shared exact head-offset verify — a batch clip that
    is a TRIM of an at-rest clip (role batch_trimmed) or the UNTRIMMED
    original of an at-rest trim (role batch_full) — O(batch ×
    collision), never O(history), pigeonhole recall 1.0 within budget,
    fully oracle-replayable. On this corpus the batch_full direction
    structurally cannot fire (a twin is shorter than every history
    clip, and the verify requires a PROPER trim), which the oracle
    replays exactly. The token + sequence tables are READ from the
    committed artifacts (aux_data/trim_index/{toks,seqs}/<sf>, built
    by scripts/build_transform_indexes.py) with an in-plan fallback;
    the shared oracle recomputes them, so parity doubles as the
    freshness check."""
    src = _aud_walks(spark, sf_dir)
    batch = _audio_trim_twins(src)
    toks = _aux_parquet(spark, "trim_index/toks", sf_dir)
    seqs = _aux_parquet(spark, "trim_index/seqs", sf_dir)
    if toks is None or seqs is None:
        toks, seqs = D.trim_index(src, max_trim=_TRIM_MAX, anchor=_TRIM_ANCHOR)
    return D.incremental_trimmed_dedup(
        batch, toks, seqs, max_trim=_TRIM_MAX, anchor=_TRIM_ANCHOR
    ).orderBy("new_id", "old_id", "role")


class _Arm(NamedTuple):
    """One transform arm of the media composites: its registered pair
    query (whose oracle the composites' oracles compose), the (src, dst)
    pair columns, the id offset of its planted twins, the builder that
    derives its pairs from the modality's shared source frame, and its
    twin plant in both engines — the Spark builder over that frame and
    the DuckDB SELECT over the modality's source CTE (``_CORPUS``)."""

    modality: str
    axis: str
    query: str
    src: str
    dst: str
    offset: int
    pairs_from: Callable[[DataFrame], DataFrame]
    twins: Callable[[DataFrame], DataFrame]
    twins_sql: str

    @property
    def label(self) -> str:
        """Census axis label; the image arms kept their bare axis names."""
        if self.modality == "image":
            return self.axis
        return f"{self.modality}_{self.axis}"


# The one table of transform arms: the census, the resolutions, the
# keep-bests, the manifest and all their oracles derive their arms from
# it. Row order within a modality is the resolution edge-union order and
# the keep-best member-union order (after the modality's source frame).
_TRANSFORM_ARMS = (
    _Arm("image", "crop", "image_cropped_near_dup_pairs",
         "id_a", "id_b", _CROP_TWIN_OFFSET, _image_cropped_pairs_from,
         _crop_twins, _CROP_TWINS_SQL),
    _Arm("image", "scale", "image_thumbnail_pairs",
         "full_id", "thumb_id", _THUMB_TWIN_OFFSET, _image_thumbnail_pairs_from,
         _thumb_twins, _THUMB_TWINS_SQL),
    _Arm("image", "rotation", "image_rotated_dedup",
         "keep_id", "dup_id", _ROT_TWIN_OFFSET, _image_rotated_dedup_from,
         _rot_twins, _rot_twins_sql()),
    _Arm("audio", "resample", "audio_resampled_near_dup_pairs",
         "full_id", "resampled_id", _RSMP_TWIN_OFFSET, _audio_resampled_pairs_from,
         _rsmp_twins, _RSMP_TWINS_SQL),
    _Arm("audio", "trim", "audio_trimmed_near_dup_pairs",
         "full_id", "trimmed_id", _TRIM_TWIN_OFFSET, _audio_trimmed_pairs_from,
         _audio_trim_twins, _TRIM_TWINS_SQL),
    # the composed axis joins the resolution surface (r14 review): its
    # planted duplicates are REAL duplicates a pipeline must resolve —
    # excluding them would admit both the original and its trim∘gain
    # re-encode. The census stays at the 8 pure-matrix cells and skips
    # this row; composed axes live on the admission surface.
    _Arm("audio", "trim_gain", "audio_trim_gain_pairs",
         "full_id", "trimmed_id", _TG_TWIN_OFFSET, _audio_trim_gain_pairs_from,
         _tg_twins, _TG_TWINS_SQL),
    _Arm("video", "crop", "video_cropped_near_dup_pairs",
         "id_a", "id_b", _VCROP_TWIN_OFFSET, _video_cropped_pairs_from,
         _vcrop_twins, _VCROP_TWINS_SQL),
    _Arm("video", "resample", "video_resampled_near_dup_pairs",
         "full_id", "resampled_id", _VRSMP_TWIN_OFFSET, _video_resampled_pairs_from,
         _vrsmp_twins, _VRSMP_TWINS_SQL),
    _Arm("video", "trim", "video_trimmed_near_dup_pairs",
         "full_id", "trimmed_id", _VTRIM_TWIN_OFFSET, _video_trimmed_pairs_from,
         _vtrim_twins, _VTRIM_TWINS_SQL),
)
# Each modality's corpus as its twin plants read it: the DuckDB source
# CTE's name and text, and the signal column in both engines. The image
# and video arms share the quantized grid; the image plants also read w/h.
_CORPUS = {
    "image": ("base", _IMG_BASE_SQL, "px"),
    "audio": ("walks", _AUD_WALK_SQL, "s"),
    "video": ("base", _GRID_SQL, "px"),
}


def _modality_arms(modality: str) -> list[_Arm]:
    """The modality's rows of ``_TRANSFORM_ARMS``, in table order."""
    return [a for a in _TRANSFORM_ARMS if a.modality == modality]


def _census_arms() -> list[_Arm]:
    """The census's eight pure-matrix arms (every row but the composed
    ``trim_gain``, see its row), in label order: the union order."""
    return sorted(
        (a for a in _TRANSFORM_ARMS if a.axis != "trim_gain"),
        key=lambda a: a.label,
    )


def _transform_census_oracle() -> str:
    """Composed from the transform tiers' registered oracles (the
    registry is the single source of truth, so the census can never
    desync from the tiers it summarizes)."""
    from network_iq_spark.registry import ORACLES

    arms = "\n      UNION ALL\n".join(
        f"""
      SELECT '{a.label}' AS axis,
             CAST(COUNT(*) AS BIGINT) AS n_pairs,
             CAST(SUM(CASE WHEN {a.dst} = {a.src} + {a.offset}
                             OR {a.src} = {a.dst} + {a.offset}
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_planted_links
      FROM ({ORACLES[a.query]})"""
        for a in _census_arms()
    )
    return f"""
    SELECT axis, n_pairs, n_planted_links FROM (
      {arms}
    ) ORDER BY axis
    """


@register("transform_dedup_census", oracle=_transform_census_oracle())
def q_transform_dedup_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transform-axis dedup census (r11; audio_resample/video_crop/
    video_resample arms added r12, audio_trim + video_trim r13 —
    the shift/crop/scale/trim × image/audio/video matrix now reports
    every cell) — the one-row-per-axis summary a corpus run reports for
    the DERIVATIVE duplicate classes (image crop / scale / rotation,
    audio resample, audio trim, video per-frame crop, video frame-rate
    resample, video temporal trim; the shift axes live in the media
    census's modalities): pair count and planted-link recovery per
    axis, rolled up from the eight full pipelines. The oracle composes
    the eight registered oracles verbatim from the registry — one hash
    covers the whole transform-dedup surface (the media_near_dup_census
    precedent).

    Scan shape (r12 VERDICT item 6, measured r13 at the 7-arm shape):
    the arms are SCAN-INDEPENDENT by design — each re-derives its clips
    from the embeddings scan, and the composed census runs at 0.83x the
    sum of the arms' solo times (10.61 s vs 12.78 s at sf0.1, docs/ROUND13.md),
    i.e. scheduler overlap, no interference and no new shuffle shape;
    the scan itself is a single-digit % of every arm (arm cost is token
    derivation + joins). A 100 TB deployment materializes the decoded/
    quantized media table ONCE and feeds all arms from it — the
    registered census intentionally trades the cheap re-scan for
    composing the eight registered oracles verbatim, which is what
    keeps one hash over the whole surface trustworthy."""

    def arm(a: _Arm) -> DataFrame:
        return a.pairs_from(srcs[a.modality]).agg(
            F.count("*").cast("bigint").alias("n_pairs"),
            F.sum(
                F.when(
                    (F.col(a.dst) == F.col(a.src) + a.offset)
                    | (F.col(a.src) == F.col(a.dst) + a.offset),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_planted_links"),
        ).select(F.lit(a.label).alias("axis"), "n_pairs", "n_planted_links")

    # one shared source per corpus, CHECKPOINTED — materialize-decode-
    # once; full rationale on _transform_edges_from. The image and video
    # arms read the same quantized grid, so they share one checkpoint.
    aud = _aud_walks(spark, sf_dir).localCheckpoint(eager=False)
    grid = _img_grid(spark, sf_dir).localCheckpoint(eager=False)
    srcs = {"audio": aud, "image": grid, "video": grid}
    # the eight arm subtrees are built concurrently (_pbuild — plan
    # construction is the census's measured bottleneck); the union
    # consumes them in label order
    parts = _pbuild(spark, *(partial(arm, a) for a in _census_arms()))
    return reduce(DataFrame.unionByName, parts).orderBy("axis")


def _closure_ctes(modality: str) -> str:
    """The CTE chain the resolution and keep-best oracles share: edges
    from the modality's registered arm oracles via the registry (the
    census discipline) → the dedup_clusters walk → min-label clusters →
    per-cluster member count (``stats``) and distinct contributing axes
    (``axes``). One builder serves both families of all three
    modalities, so they can never disagree on the closure semantics
    (r14, VERDICT item 2)."""
    from network_iq_spark.registry import ORACLES

    edge_sql = "\n      UNION ALL\n".join(
        f"      SELECT {a.src} AS src, {a.dst} AS dst, '{a.axis}' AS axis\n"
        f"      FROM ({ORACLES[a.query]})"
        for a in _modality_arms(modality)
    )
    return f"""edges AS (
{edge_sql}
    ),
    sym AS (
      SELECT src AS a, dst AS b FROM edges
      UNION ALL
      SELECT dst AS a, src AS b FROM edges
    ),
    verts AS (SELECT DISTINCT a AS v FROM sym),
    walk(v, label) AS (
      SELECT v, v FROM verts
      UNION
      SELECT s.b, w.label FROM walk w JOIN sym s ON s.a = w.v
    ),
    clusters AS (SELECT v, MIN(label) AS cluster_id FROM walk GROUP BY v),
    stats AS (
      SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_members
      FROM clusters GROUP BY cluster_id
    ),
    axes AS (
      SELECT c.cluster_id, CAST(COUNT(DISTINCT e.axis) AS INT) AS n_axes
      FROM edges e JOIN clusters c ON c.v = e.src
      GROUP BY c.cluster_id
    )"""


def _resolution_oracle(modality: str) -> str:
    """Cross-axis resolution oracle: the shared closure
    (``_closure_ctes``: edge union → min-label connected components)
    reported as per-cluster resolution stats."""
    return f"""
    WITH RECURSIVE {_closure_ctes(modality)}
    SELECT s.cluster_id AS keep_id, s.n_members, a.n_axes,
           CAST(s.n_members - 1 AS BIGINT) AS n_dropped
    FROM stats s JOIN axes a USING (cluster_id)
    ORDER BY keep_id
    """


def _transform_edges_from(modality: str, src: DataFrame) -> DataFrame:
    """(src, dst, axis) edge union of one modality's transform arms,
    all built over ONE shared source frame ``src`` (the quantized grid
    for image and video, the walks for audio).

    Materialize-decode-once (r13 VERDICT item 5, made code in r14) —
    THE canonical statement of the idiom; every composite site
    cross-references here: the composite checkpoints the shared
    decoded frame before passing it in, so (a) every arm normalizer's
    build-time checkpoint plans a subtree rooted at the RDD instead of
    re-planning the walk/quant derivation per arm (the census build is
    measured py4j/planning-bound — guide §3.3), and (b) the arms decode
    the corpus ONCE at execution instead of once per arm. Each arm's
    plan is structurally identical to its registered query (same
    subtree), but the driver builds/analyzes the base expression once
    instead of once per arm. The registered arm queries are untouched —
    they keep deriving from the raw scan (their stamped plans must not
    move)."""
    arms = _modality_arms(modality)
    pairs = _pbuild(src.sparkSession, *(partial(a.pairs_from, src) for a in arms))
    return reduce(
        DataFrame.unionByName,
        (
            p.select(
                F.col(a.src).alias("src"),
                F.col(a.dst).alias("dst"),
                F.lit(a.axis).alias("axis"),
            )
            for a, p in zip(arms, pairs)
        ),
    )


def _cc_rollup(e: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The CC core the resolution and keep-best tails share: checkpoint
    the edge union once (it feeds both the CC and the axis rollup), run
    min-label connected components over ONLY the duplicate-involved
    vertices, and roll up per-cluster member counts (``stats``) and
    distinct contributing axes (``axes``). Returns (cc, stats, axes).
    The vertex set is exactly the edge endpoints, so the CC runs in
    endpoints-only mode (vertices=None) — the former union + distinct +
    seed join was redundant with the CC seed's own neighbor-min
    aggregate (guide §2.4)."""
    from network_iq_spark.operators import graph as G

    e = e.localCheckpoint(eager=False)
    cc = G.connected_components(
        None, e, id_col="media_id", src="src", dst="dst"
    )
    stats = cc.groupBy("cluster_id").agg(
        F.count("*").cast("bigint").alias("n_members")
    )
    axes = (
        e.join(cc, e["src"] == cc["media_id"])
        .groupBy("cluster_id")
        .agg(F.countDistinct("axis").cast("int").alias("n_axes"))
    )
    return cc, stats, axes


def _resolution_from_edges(e: DataFrame) -> DataFrame:
    """Shared resolution tail for the per-modality transform-resolution
    queries: (src, dst, axis) edges → the shared CC core
    (``_cc_rollup``) → one row per cluster (keep_id, n_members, n_axes,
    n_dropped)."""
    _, stats, axes = _cc_rollup(e)
    return (
        stats.join(axes, "cluster_id")
        .select(
            F.col("cluster_id").alias("keep_id"),
            "n_members",
            "n_axes",
            (F.col("n_members") - 1).cast("bigint").alias("n_dropped"),
        )
        .orderBy("keep_id")
    )


@register(
    "image_transform_resolution",
    oracle=_resolution_oracle("image"),
)
def q_image_transform_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-AXIS duplicate RESOLUTION over the image transform tiers
    (r13) — the step a corpus pipeline actually runs after the census
    reports counts: union the (original, derivative) edges from the
    crop, scale and rotation arms (the three tiers sharing the image
    grid corpus), take transitive connected components (an original and
    ALL its transform derivatives collapse into ONE cluster even though
    no two derivatives ever pair directly), and emit one resolution row
    per cluster: the kept representative (min-label = the original, by
    the twin-offset construction), member count, how many distinct
    transform axes contributed, and how many artifacts a dedup pass
    drops. Composes three registered tiers verbatim + the min-label CC
    core (operators/graph.py — the dedup_clusters fixpoint), so the
    oracle replays the whole thing: edges from the three registered
    oracles via the registry, the walk CTE for the same fixpoint.
    Scale shape: the three arms' bounded pipelines + CC over ONLY the
    duplicate-involved vertices (pair density × corpus, never the
    corpus itself); the edge union is checkpointed once and feeds both
    the CC and the axis rollup."""
    img = _img_grid(spark, sf_dir).localCheckpoint(eager=False)
    return _resolution_from_edges(_transform_edges_from("image", img))


@register(
    "audio_transform_resolution",
    oracle=_resolution_oracle("audio"),
)
def q_audio_transform_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-axis duplicate RESOLUTION over the AUDIO transform tiers
    (r14, VERDICT item 2) — the image resolution's audio twin, run
    after the census on every modality in a real corpus pipeline: union
    the (original, derivative) edges from the resample, trim and
    trim∘gain arms (all three tiers derive their clips from the same
    embedding-seeded random walks, so an original and ALL its
    derivatives share base vertices), take transitive connected
    components, and emit one resolution row per cluster — kept
    representative (min-label = the original, by the twin-offset
    construction: resample twins at +4M, trim twins at +7M, trim∘gain
    twins at +9M), member count, contributing-axis count, and the
    drop count a dedup pass realizes. Composes three registered tiers
    verbatim + the shared min-label CC core; the oracle replays edges
    from the registered arm oracles and the same fixpoint via the walk
    CTE. Scale shape: the arms' bounded pipelines + CC over ONLY
    duplicate-involved vertices; edge union checkpointed once feeding
    both the CC and the axis rollup (``_resolution_from_edges``)."""
    src = _aud_walks(spark, sf_dir).localCheckpoint(eager=False)
    return _resolution_from_edges(_transform_edges_from("audio", src))


@register(
    "video_transform_resolution",
    oracle=_resolution_oracle("video"),
)
def q_video_transform_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-axis duplicate RESOLUTION over the VIDEO transform tiers
    (r14, VERDICT item 2), completing the per-modality resolution
    family (image r13, audio r14): union the (original, derivative)
    edges from the per-frame crop, temporal resample and temporal trim
    arms (all three derive their clips from the same quantized
    embedding pixel grids — crop twins at +5M, resample at +6M, trim at
    +8M), transitive connected components, one resolution row per
    cluster with the min-label representative (the original), member
    count, distinct contributing axes, and the dedup drop count. Same
    composition discipline as the siblings: three registered tiers
    verbatim + the shared CC core, oracle replayed end-to-end from the
    registered arm oracles + the walk CTE. Scale shape identical:
    bounded arm pipelines, CC over duplicate-involved vertices only
    (pair density × corpus, never the corpus), one edge checkpoint."""
    base = _img_grid(spark, sf_dir).localCheckpoint(eager=False)
    return _resolution_from_edges(_transform_edges_from("video", base))


# Integer "quality units" for keep-best ranking: n·Σx² − (Σx)² over a
# member's actual signal — n²·variance in integer units, exact on both
# engines, the image_dedup_clusters policy generalized to variable-n
# members (comparable only WITHIN an n_px tie, which is the only place
# the rank consults it).
_VAR_UNITS_EXPR = (
    "cast(size({v}) as bigint) * "
    "aggregate({v}, cast(0 as bigint), (a, x) -> a + cast(x as bigint) * x) "
    "- aggregate({v}, cast(0 as bigint), (a, x) -> a + cast(x as bigint)) "
    "* aggregate({v}, cast(0 as bigint), (a, x) -> a + cast(x as bigint))"
)
_VAR_UNITS_SQL = (
    "CAST(len({v}) AS BIGINT) * CAST(list_sum(list_transform({v}, "
    "x -> CAST(x AS BIGINT) * x)) AS BIGINT) "
    "- CAST(list_sum(list_transform({v}, x -> CAST(x AS BIGINT))) AS BIGINT) "
    "* CAST(list_sum(list_transform({v}, x -> CAST(x AS BIGINT))) AS BIGINT)"
)


def _members_sql(modality: str) -> str:
    """members(media_id, s) over the modality's full transform corpus:
    its source CTE plus every arm's twins in table row order, each
    planted by the arm's ``twins_sql`` — the text its pair oracle
    plants with."""
    name, src_sql, sig = _CORPUS[modality]
    arms = _modality_arms(modality)
    twins = "".join(f",\n    {a.axis}_twins AS ({a.twins_sql})" for a in arms)
    union = "\n      UNION ALL ".join(
        f"SELECT media_id, {sig} AS s FROM {t}"
        for t in [name, *(f"{a.axis}_twins" for a in arms)]
    )
    return f"""{src_sql}{twins},
    members AS (
      {union}
    )"""


def _members(modality: str, src: DataFrame) -> DataFrame:
    """Spark twin of ``_members_sql``: the shared source frame ``src``
    plus every arm's ``twins`` over it, in table row order, as
    (media_id, s)."""
    sig = _CORPUS[modality][2]
    parts = [src, *(a.twins(src) for a in _modality_arms(modality))]
    return reduce(
        DataFrame.unionByName,
        (p.select("media_id", F.col(sig).alias("s")) for p in parts),
    )


def _keep_best_oracle(modality: str) -> str:
    """Resolution keep-best oracle: the shared closure (``_closure_ctes``)
    RANKED by member quality metadata instead of reporting the label
    minimum, over every corpus member's signal (``_members_sql``)."""
    return f"""
    WITH RECURSIVE {_closure_ctes(modality)},
    {_members_sql(modality)},
    scored AS (
      SELECT media_id, CAST(len(s) AS INT) AS n_px,
             {_VAR_UNITS_SQL.format(v="s")} AS var_units
      FROM members
    ),
    ranked AS (
      SELECT c.cluster_id, c.v AS media_id, sc.n_px, sc.var_units,
             ROW_NUMBER() OVER (
               PARTITION BY c.cluster_id
               ORDER BY sc.n_px DESC, sc.var_units DESC, c.v ASC
             ) AS rk
      FROM clusters c JOIN scored sc ON sc.media_id = c.v
    )
    SELECT r.cluster_id, r.media_id AS keeper, r.n_px AS keeper_npx,
           r.var_units AS keeper_var_units, st.n_members, a.n_axes,
           CAST(st.n_members - 1 AS BIGINT) AS n_dropped
    FROM ranked r
    JOIN stats st USING (cluster_id)
    JOIN axes a USING (cluster_id)
    WHERE r.rk = 1
    ORDER BY cluster_id
    """


def _keep_best_from_edges(e: DataFrame, members: DataFrame) -> DataFrame:
    """Shared keep-best tail (r14, VERDICT item 7): the resolution CC
    over the edge union, then instead of reporting the min-label alone,
    rank every cluster member by quality metadata — n_px (keep the
    highest-RESOLUTION variant) DESC, integer variance units DESC,
    media_id ASC — and emit the CHOSEN representative per cluster: the
    step between "dedup" and "training-data admission". ``members``
    must be (media_id, s) over the full clip corpus (base + twins); the
    score join prunes it to duplicate-involved members. One extra
    window over cluster_id vs the resolution tail — bounded by the
    largest duplicate family, never the corpus."""
    from pyspark.sql import Window

    # Score the member corpus and MATERIALIZE the scored frame DURING the
    # CC fixpoint (r15, VERDICT item 6; guide §2.6 overlap independent
    # jobs): the CC loop is driver-sequential (one blocking action per
    # round), so the scoring job back-fills the executors the rounds
    # leave idle. This also reverses r14's score-after-the-join ordering
    # deliberately: scoring first shuffles (media_id, n_px, var_units) —
    # ~3 ints per row — into the cc join instead of the 64-element s
    # array the join exchange previously carried (guide §2.3 shuffle
    # fewer bytes / shuffle keys-and-metadata, §8); the extra cost is the
    # three integer folds on non-duplicate members, a map-side expression
    # per row vs an order-of-magnitude narrower exchange. Results are
    # byte-identical: same scoring expressions, same window, same
    # media_id tie-break.
    scored_plan = members.select(
        "media_id",
        F.expr("cast(size(s) as int)").alias("n_px"),
        F.expr(_VAR_UNITS_EXPR.format(v="s")).alias("var_units"),
    )
    scored, (cc, stats, axes) = _pbuild(
        members.sparkSession, scored_plan.localCheckpoint, partial(_cc_rollup, e)
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("n_px").desc(), F.col("var_units").desc(), F.col("media_id").asc()
    )
    keepers = (
        cc.join(scored, "media_id")
        .select("cluster_id", "media_id", "n_px", "var_units")
        .withColumn("__rk__", F.row_number().over(w))
        .filter(F.col("__rk__") == 1)
        .select(
            "cluster_id",
            F.col("media_id").alias("keeper"),
            F.col("n_px").alias("keeper_npx"),
            F.col("var_units").alias("keeper_var_units"),
        )
    )
    return (
        keepers.join(stats, "cluster_id")
        .join(axes, "cluster_id")
        .select(
            "cluster_id",
            "keeper",
            "keeper_npx",
            "keeper_var_units",
            "n_members",
            "n_axes",
            (F.col("n_members") - 1).cast("bigint").alias("n_dropped"),
        )
        .orderBy("cluster_id")
    )


@register(
    "image_resolution_keep_best",
    oracle=_keep_best_oracle("image"),
)
def q_image_resolution_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resolution-aware KEEP-BEST over the image transform clusters
    (r14, VERDICT item 7) — the step between "dedup" and
    "training-data admission": where ``image_transform_resolution``
    reports the min-label representative (an id-ordering accident),
    this query joins quality metadata onto each cluster and emits the
    CHOSEN survivor — the member with the most pixels first (keep the
    highest-resolution variant: the original beats its crops and
    thumbnails by construction; a rotation ties), integer variance
    units second (information content breaks same-size ties except
    rotations, which preserve the pixel multiset), media_id last (the
    deterministic anchor that resolves rotation ties to the original).
    All-integer scoring = the keeper choice is exact cross-engine, so
    the whole policy is oracle-replayable. Composes the three
    registered arm tiers verbatim + the shared CC core + one bounded
    window; member signals come from the same shared plant texts as
    the arms (each arm row's ``twins`` / ``twins_sql``), so the score
    table can never desync from the pair detection."""
    # one shared quantized-grid frame feeds the edge arms AND the member
    # corpus (the census build-once rationale), checkpointed so it is
    # planned once and decoded once (materialize-decode-once)
    img = _img_grid(spark, sf_dir).localCheckpoint(eager=False)
    return _keep_best_from_edges(
        _transform_edges_from("image", img), _members("image", img)
    )


@register(
    "audio_resolution_keep_best",
    oracle=_keep_best_oracle("audio"),
)
def q_audio_resolution_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resolution-aware KEEP-BEST over the audio transform clusters
    (r14, VERDICT item 7) — the image policy's audio twin: rank every
    cluster member by sample count DESC (the full-rate original beats
    its 2:1 decimation and its trims by construction), integer variance
    units DESC, media_id ASC, and emit the chosen survivor per cluster
    alongside the resolution stats. All-integer scoring, exact
    cross-engine; members from the same plant expressions as the arms.
    (n_px here counts SAMPLES — the shared keep-best tail names the
    column once for all modalities.)"""
    # checkpointed shared source: planned once, decoded once for the
    # three edge arms + the member corpus (materialize-decode-once)
    src = _aud_walks(spark, sf_dir).localCheckpoint(eager=False)
    return _keep_best_from_edges(
        _transform_edges_from("audio", src), _members("audio", src)
    )


@register(
    "video_resolution_keep_best",
    oracle=_keep_best_oracle("video"),
)
def q_video_resolution_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resolution-aware KEEP-BEST over the video transform clusters
    (r14, VERDICT item 7), completing the keep-best family across
    modalities: rank members by total pixel count DESC (the full clip
    beats its per-frame crop, its 2:1 frame-rate decimation and its
    frame trims by construction), integer variance units DESC,
    media_id ASC; emit the chosen survivor with the resolution stats.
    All-integer, exact cross-engine, members from the arms' own plant
    texts."""
    # checkpointed shared source (materialize-decode-once)
    base = _img_grid(spark, sf_dir).localCheckpoint(eager=False)
    return _keep_best_from_edges(
        _transform_edges_from("video", base), _members("video", base)
    )


def _admission_manifest_oracle() -> str:
    """Union of the three registered per-modality keep-best oracles with
    a modality literal — the manifest can never disagree with the
    queries it summarizes (the census composition rule)."""
    from network_iq_spark.registry import ORACLES

    unions = "\n    UNION ALL\n".join(
        f"    SELECT '{m}' AS modality, * "
        f"FROM ({ORACLES[f'{m}_resolution_keep_best']})"
        for m in ("image", "audio", "video")
    )
    return f"""
    SELECT * FROM (
{unions}
    ) ORDER BY modality, cluster_id
    """


@register("transform_admission_manifest", oracle=_admission_manifest_oracle())
def q_transform_admission_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-ADMISSION manifest (r14) — the deliverable the whole
    transform-dedup surface exists to produce: one row per duplicate
    cluster across ALL modalities (image ∪ audio ∪ video), carrying the
    quality-chosen survivor (``keeper``: admit this artifact), the
    cluster geometry (``n_members``, ``n_axes``), and the realized
    dedup yield (``n_dropped``: artifacts a training-data pass
    excludes). Composes the three per-modality keep-best queries
    verbatim — same edges, same member scoring, same policy —
    plus one modality literal, so the manifest can never desync from
    the queries it summarizes; the oracle is the same union over the
    three keep-best oracles (the census composition discipline).
    Clusters never span modalities (disjoint corpora by construction),
    so the union is exact, not an approximation. Scale shape: three
    in-plan edge builds (each over one checkpointed source) + three
    bounded CC/window tails."""
    parts = (
        ("image", q_image_resolution_keep_best),
        ("audio", q_audio_resolution_keep_best),
        ("video", q_video_resolution_keep_best),
    )

    # Build the three modality frames concurrently (_pbuild; guide §2.6
    # "overlap independent jobs"): each keep-best's construction runs a
    # driver-sequential CC fixpoint (eager checkpoints + a convergence
    # count per round), so composing them serially left the cluster idle
    # during every round's driver turnaround — measured 21.0 s ≈ the
    # straight SUM of the three keep-bests (7.3 + 10.2 + 5.3) with zero
    # overlap. The modalities are independent (disjoint corpora), _pbuild
    # preserves input order, and the union itself stays deterministic,
    # so results are byte-identical.
    def build(m: str, fn) -> DataFrame:
        return fn(spark, sf_dir).select(F.lit(m).alias("modality"), "*")

    frames = _pbuild(spark, *(partial(build, m, fn) for m, fn in parts))
    return reduce(DataFrame.unionByName, frames).orderBy("modality", "cluster_id")


# ---------------------------------------------------------------------------
# Landmark family (r14): the composed-transform tier the exact tiers defer to
# ---------------------------------------------------------------------------

_LM_TWIN_EVERY, _LM_TWIN_OFFSET = 10, 10_000_000
_LM_NOISE_EPS = 8  # re-encode noise budget: uniform in [-eps, eps]


def _lm_twins(src: DataFrame) -> DataFrame:
    """Planted trim∘gain∘NOISE twins of every 10th clip — the exact
    composition every integer-exact tier documents as out of scope
    (a perturbed sample defeats the trim tier's prefix anchor AND the
    trim∘gain tier's gradient-sign domain). Trim cycles the trim
    tier's four arms, gain the trim∘gain tier's three affine arms
    (shared CASE text — the no-desync rule), noise is hash-derived
    uniform ±8 per sample (deterministic, seed = (media_id, i)):
    small against the walk's ~2000-magnitude steps, fatal to exact
    verifies — the re-encode floor a crawled-audio corpus actually
    has."""
    arm_col = f"media_id div {_LM_TWIN_EVERY}"
    head_sql = _trim_twin_case(arm_col, "h")
    tail_sql = _trim_twin_case(arm_col, "t")
    a_sql = _tg_gain_case(arm_col, "a")
    b_sql = _tg_gain_case(arm_col, "b")
    span = 2 * _LM_NOISE_EPS + 1
    return src.filter(F.col("media_id") % _LM_TWIN_EVERY == 0).select(
        (F.col("media_id") + _LM_TWIN_OFFSET).alias("media_id"),
        F.expr(
            f"transform(slice(s, ({head_sql}) + 1, "
            f"64 - ({head_sql}) - ({tail_sql})), "
            f"(x, i) -> ({a_sql}) * x + ({b_sql}) "
            f"+ pmod(hash(media_id, i), {span}) - {_LM_NOISE_EPS})"
        ).alias("s"),
    )


@register("audio_landmark_pairs", bench_only=True)
def q_audio_landmark_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Landmark-fingerprint audio near-dup (r14) — the COMPOSED-
    transform detector the integer-exact tiers defer to by name:
    trim∘gain∘re-encode-noise (``trimmed_sequence_pairs`` /
    ``audio_trim_gain_pairs`` boundary) and shift∘gain
    (``audio_shifted_near_dup_pairs`` boundary), one pass, no FFT
    dependency (operators/dedup.py ``landmark_sequence_pairs``: strong
    local maxima stand in for spectral peaks on this corpus's walks; a
    production system swaps the extractor for STFT peaks through the
    same plumbing). BENCH_ONLY by the shifted-tier precedent — recall
    is measured, not pigeonhole-guaranteed: planted twins composing
    the trim tier's four trim arms × the trim∘gain tier's three affine
    gains × hash-derived ±8 re-encode noise are recovered 50/50 at
    sf0.01 and 200/200 at sf0.1 with ZERO non-planted accepts
    (SCALE.md landmark table); the oracle-paired siblings carry the
    correctness burden for every exactly-decidable sub-composition.
    Output (id_a, id_b, offset, votes, corr2): offset recovers the
    planted head trim, corr2 >= 0.995 is the gain-robust alignment
    certificate."""
    src = _aud_walks(spark, sf_dir)
    clips = src.unionByName(_lm_twins(src))
    # cap 256: the hot-bucket guard sized ABOVE the measured bench-SF
    # hottest token (~150 members) — at 64 it clipped 3 planted twins'
    # hottest tokens (the cap/recall trade every capped tier documents)
    return D.landmark_sequence_pairs(
        clips, max_bucket_size=256
    ).orderBy("id_a", "id_b")


_VLM_TWIN_EVERY, _VLM_TWIN_OFFSET = 10, 11_000_000
_VLM_ARMS = ((1, 0), (0, 1), (1, 1))  # head/tail FRAME trims (16 px/frame)
_VLM_NOISE_EPS = 2  # pixel-domain re-encode noise: uniform in [-2, 2]


def _vlm_twins(base: DataFrame) -> DataFrame:
    """Planted frame-trim∘brightness-gain∘NOISE twins of every 10th
    video clip — the video cell of the composition the landmark family
    exists for (a perturbed pixel defeats the frame-trim tier's exact
    anchor and the brightness gain defeats its raw-value tokens). Trim
    cycles head/tail FRAME arms, gain cycles the trim∘gain tier's three
    affine arms (shared CASE text), noise is hash-derived uniform ±2 per
    pixel — small against frame-edge contrasts, fatal to exact
    verifies."""
    arm_col = f"media_id div {_VLM_TWIN_EVERY}"
    whens_h = " ".join(
        f"WHEN {k} THEN {h}" for k, (h, _t) in enumerate(_VLM_ARMS[:-1])
    )
    whens_t = " ".join(
        f"WHEN {k} THEN {t}" for k, (_h, t) in enumerate(_VLM_ARMS[:-1])
    )
    head_sql = (
        f"CASE CAST(({arm_col}) % {len(_VLM_ARMS)} AS INT) {whens_h} "
        f"ELSE {_VLM_ARMS[-1][0]} END"
    )
    tail_sql = (
        f"CASE CAST(({arm_col}) % {len(_VLM_ARMS)} AS INT) {whens_t} "
        f"ELSE {_VLM_ARMS[-1][1]} END"
    )
    a_sql = _tg_gain_case(arm_col, "a")
    b_sql = _tg_gain_case(arm_col, "b")
    span = 2 * _VLM_NOISE_EPS + 1
    return base.filter(F.col("media_id") % _VLM_TWIN_EVERY == 0).select(
        (F.col("media_id") + _VLM_TWIN_OFFSET).alias("media_id"),
        F.expr(
            f"transform(slice(px, ({head_sql}) * 16 + 1, "
            f"64 - (({head_sql}) + ({tail_sql})) * 16), "
            f"(x, i) -> ({a_sql}) * x + ({b_sql}) "
            f"+ pmod(hash(media_id, i), {span}) - {_VLM_NOISE_EPS})"
        ).alias("px"),
    )


@register("video_landmark_pairs", bench_only=True)
def q_video_landmark_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Landmark-fingerprint VIDEO near-dup (r14) — the same
    ``landmark_sequence_pairs`` core as ``audio_landmark_pairs`` over
    flat pixel sequences: frame-trim∘brightness-gain∘re-encode-noise,
    the composition the exact video tiers (frame-trim stride path,
    brightness-invariant dhash) each cover only one factor of. No
    stride parameter is needed: a head trim of h FRAMES is a plain
    16·h-element alignment, and the offset VOTE discovers it like any
    other shift — recovered offsets are 16·h by construction, which the
    sheet test asserts. BENCH_ONLY, measured recall (the landmark
    contract): planted twins cycling three frame-trim arms × three
    affine gains × ±2 pixel noise recover 46/50 at sf0.01 and 184/200
    at sf0.1, ZERO non-planted accepts. The misses concentrate in the
    (1,1) double-frame-trim arm (12 of 16 at sf0.1): a 32-px clip
    carries roughly half the landmarks of a 48-px one, so it is the
    short-clip boundary in action, not a transform weakness — the
    single-frame-trim arms recover ~0.97, and precision stays exact
    everywhere.
    Output (id_a, id_b, offset, votes, corr2) with offset in pixels
    (frame index × 16)."""
    base = _img_grid(spark, sf_dir)
    clips = base.unionByName(_vlm_twins(base))
    return D.landmark_sequence_pairs(
        clips, s_col="px", max_bucket_size=256
    ).orderBy("id_a", "id_b")


@register("incremental_landmark_probe", bench_only=True)
def q_incremental_landmark_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental landmark dedup (r14) — the DEPLOYMENT shape of the
    landmark family, completing the pairs/probe symmetry every other
    transform tier carries: the incoming batch (the planted
    trim∘gain∘noise twins of ``audio_landmark_pairs``) probes the
    AT-REST landmark index (operators/dedup.py ``landmark_index`` —
    signal + fingerprints in one row, so the verify needs no second
    corpus join) with the shared token/vote/verify core — O(batch)
    landmark extraction, O(batch-collision) vote work, never
    O(history) beyond the index scan. The index is READ from the
    committed artifact (aux_data/landmark_index/<sf>, built by
    scripts/build_landmark_index.py — the media-index discipline) with
    an in-plan fallback for arbitrary sf_dirs; the family is
    BENCH_ONLY, so artifact/fallback equality is pinned by the sheet
    test instead of a DuckDB oracle. Measured like the pairs tier
    (same plants, same thresholds): every recovered (new, old) pair
    carries the true head offset; zero non-planted accepts."""
    src = _aud_walks(spark, sf_dir)
    batch = _lm_twins(src)
    idx = _aux_parquet(spark, "landmark_index", sf_dir)
    if idx is None:
        idx = D.landmark_index(src)
    return D.incremental_landmark_probe(batch, idx).orderBy("new_id", "old_id")
