#!/usr/bin/env python
"""Scale soak for the dedup/ANN family (VERDICT r4 item 4).

Every 100 TB claim in docs/SCALE.md was argued from plan shape at sf0.1;
this script turns argument into evidence: synthesize corpora that mimic the
driver testdata's structure (same 31-word vocabulary, similar length
distribution, injected exact + near duplicates; 64-dim label-clustered
embeddings) at 1x / 3x / 10x the sf0.1 row counts, run the five
representative family queries at each size, and print the (N, seconds)
runtime curve plus the fitted growth exponent per family
(log t = a + e * log N  =>  e ~ 1 is linear).

Each query is one cell over the shared corpora, which land under .soak/
(gitignored) and are reused across cells; registry correctness and bench
continue to use the read-only driver testdata exclusively. Run with:

    python scripts/ab.py semantic_dedup semantic_dedup_autocells
    python scripts/ab.py                    # lists every cell
"""

from __future__ import annotations

import math
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from ab import SOAK_DIR, Cell
from network_iq_spark.operators import similarity as S
from network_iq_spark.registry import QUERIES
from network_iq_spark.sources import load_table

BASE_DOCS, BASE_VECS = 5_000, 2_000  # sf0.1 row counts
QUERIES_UNDER_TEST = [
    "minhash_lsh_pairs_prod",
    "dedup_clusters",
    "training_data_pipeline",
    "semantic_dedup",
    "ivf_cosine_topk",
    # text/sub-document family (round 5)
    "chunk_dedup",
    "unigram_surprisal",
    "winnowing_fingerprints",
    "quality_scores",
    # index/scoring family (round 6)
    "tfidf_top_terms",
    "term_postings",
    # distributed-IVF + codec family (rounds 6-7): full build each run —
    # these curves measure INDEX BUILD + search, the incremental_* plans
    # below measure search-only against pre-materialized artifacts
    "ivf_centroid_join_topk",
    "decoded_image_stats",
    "decoded_png_stats",
    "decoded_jpeg_stats",
    # round-7 additions: codecs, extraction, policy, PQ family
    "decoded_audio_stats",
    "decoded_video_stats",
    "html_extract",
    "bpe_token_stats",
    "cluster_keep_best",
    "ann_pq_rerank_topk",
    "ann_ivfpq_topk",
    # round-8 additions: progressive JPEG + GIF codecs, WARC ingest,
    # mixture sampling, hard-negative mining
    "decoded_jpeg_prog_stats",
    "decoded_gif_stats",
    "warc_extract_stats",
    "mixture_sample_counts",
    "hard_negatives_topk",
    # round-8 late additions: trigram-LM scoring (type-table growth is the
    # interesting axis — trigram types grow near-linearly in corpus tokens
    # until vocab saturation), named quality-rule sets (pure map)
    "kn_trigram_surprisal",
    "c4_line_filter",
    "gopher_quality_flags",
    "bm25_topk",
    "related_docs_rrf",
    "cm_heavy_hitters",
    # round-9 additions: stopword-ceiling BM25 twin, lexical+dense hybrid
    # fusion, perceptual-hash media near-dup (codec round-trips + gradient
    # fingerprints + Hamming-banded pairs), bucket-capped LSH
    "bm25_topk_capped",
    "related_docs_rrf_dense",
    "image_near_dup_pairs",
    "audio_near_dup_pairs",
    "video_near_dup_pairs",
    "minhash_lsh_pairs_capped",
    # round-9 late additions: incremental media probe, cross-modality
    # census, detect->cluster->keep-best composition, mixture weights,
    # integer Lloyd maintenance, span-grain decontamination
    "incremental_image_dedup",
    "media_near_dup_census",
    "image_dedup_clusters",
    "temperature_mix_weights",
    "ivf_int_recenter_stats",
    "decontamination_spans",
    "chunk_near_dup_pairs",
    "packing_ffd",
    # round-10 additions: capped chunk LSH + capped image twin, the
    # at-rest media index build + probe shapes, passage-grain BM25,
    # incremental chunk near-dup + the admission decision layer, the
    # packing-strategy report
    "chunk_near_dup_pairs_capped",
    "image_near_dup_pairs_capped",
    "media_dhash_index",
    "chunk_bm25_topk",
    "incremental_chunk_near_dup",
    "chunk_overlap_admission",
    "packing_efficiency",
]

# fixed batch sizes for the incremental tier: the history grows with the
# corpus multiplier while the batch does NOT — a near-flat curve is the
# measured form of the "O(batch) per cycle" claim
BATCH_DOCS, BATCH_VECS = 200, 50

# the testdata corpus vocabulary (31 words, observed at sf0.1) — keeping the
# token distribution familial keeps shingle/minhash collision rates realistic
VOCAB = (
    "batch part spark line column order small sort fast value scan a hash "
    "slow group agg filter query big key window row table stream merge data "
    "join scale read write plan"
).split()
LANGS = ["en", "zh", "es", "de", "fr"]


def synth_documents(n: int, seed: int = 42) -> pa.Table:
    rng = np.random.default_rng(seed)
    texts: list[str] = []
    for i in range(n):
        m = int(rng.integers(8, 90))
        words = rng.choice(VOCAB, size=m)
        texts.append(" ".join(words))
    # duplicate structure mirroring testdata: ~0.2% exact dups, ~2% near
    # dups (a base doc with a handful of token edits — lands in the LSH
    # near-dup band without being byte-identical)
    n_exact, n_near = max(2, n // 500), max(10, n // 50)
    for j in range(n_exact):
        src = int(rng.integers(0, n))
        dst = int(rng.integers(0, n))
        texts[dst] = texts[src]
    for j in range(n_near):
        src = int(rng.integers(0, n))
        dst = int(rng.integers(0, n))
        toks = texts[src].split()
        for _ in range(max(1, len(toks) // 20)):
            toks[int(rng.integers(0, len(toks)))] = str(rng.choice(VOCAB))
        texts[dst] = " ".join(toks)
    langs = rng.choice(LANGS, size=n, p=[0.62, 0.12, 0.10, 0.08, 0.08])
    srcs = [f"src{int(s)}" for s in rng.integers(0, 20, size=n)]
    return pa.table(
        {
            "doc_id": pa.array(range(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array([str(x) for x in langs], pa.string()),
            "source": pa.array(srcs, pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def synth_embeddings(n: int, dim: int = 64, n_labels: int = 10, seed: int = 7) -> pa.Table:
    rng = np.random.default_rng(seed)
    centers = rng.normal(size=(n_labels, dim)).astype(np.float32)
    labels = rng.integers(0, n_labels, size=n)
    vecs = centers[labels] + 0.35 * rng.normal(size=(n, dim)).astype(np.float32)
    # a pinch of true near-duplicates for semantic_dedup to find
    for _ in range(max(5, n // 100)):
        src, dst = int(rng.integers(0, n)), int(rng.integers(0, n))
        vecs[dst] = vecs[src] + 0.001 * rng.normal(size=dim).astype(np.float32)
        labels[dst] = labels[src]
    return pa.table(
        {
            "vec_id": pa.array(range(n), pa.int64()),
            "embedding": pa.array(
                [v.tolist() for v in vecs], pa.list_(pa.float32())
            ),
            "label": pa.array(labels.astype(np.int32), pa.int32()),
        }
    )


def build_corpus(mult: int) -> str:
    out = os.path.join(SOAK_DIR, f"x{mult}")
    if os.path.isdir(out):
        return out  # deterministic generators → safe to reuse
    os.makedirs(out + ".tmp", exist_ok=True)
    pq.write_table(synth_documents(BASE_DOCS * mult), f"{out}.tmp/documents.parquet")
    pq.write_table(synth_embeddings(BASE_VECS * mult), f"{out}.tmp/embeddings.parquet")
    shutil.move(out + ".tmp", out)
    return out


# the registered semantic_dedup pins n_cells for its DuckDB oracle; the
# scale path passes n_cells=None (auto_n_cells: cells ∝ N). Soak BOTH so
# the curve shows why the discipline matters, not just that it exists.
def _semantic_auto(spark, d):
    emb = load_table(spark, d, "embeddings")
    return S.semantic_dedup(emb, n_cells=None, threshold=0.30)


def hub_edges(spark, d):
    """Iterative tier on a hub-heavy graph: docs ↔ their source (20 hubs),
    symmetrized — edge count ∝ N, so the per-iteration join/agg scales
    with the corpus like the real trade graph does."""
    from pyspark.sql import functions as F

    docs = load_table(spark, d, "documents").select(
        (F.col("doc_id") * 2).alias("src"),
        (F.xxhash64("source") % 1000 * 2 + 1).alias("dst"),
    )
    return docs.union(
        docs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


def _pagerank(spark, d):
    from network_iq_spark.operators.graph import pagerank_int

    return pagerank_int(hub_edges(spark, d), n_iters=5)


# ---- incremental tier: search-only against AT-REST artifacts -------
# The artifacts (fingerprint table, LSH bands+sets, IVF centroids +
# inverted file) are built and written ONCE per corpus size, outside
# the timed loop — exactly what a deployment persists. The timed plans
# read them back and process a FIXED-size batch, so the curve isolates
# the per-cycle cost from the one-time index build.
def _prepare_incremental(spark, mult: int) -> str:
    from pyspark.sql import functions as F

    from network_iq_spark.operators import dedup as D
    from network_iq_spark.operators import text as T

    d = build_corpus(mult)
    art = os.path.join(d, "art")
    if not os.path.isdir(art):
        docs = load_table(spark, d, "documents")
        n_docs = docs.count()
        hist_docs = docs.filter(F.col("doc_id") < n_docs - BATCH_DOCS)
        T.fingerprint(hist_docs).write.parquet(f"{art}.tmp/fp_hist")
        bands, sets = D.lsh_index(hist_docs)
        bands.write.parquet(f"{art}.tmp/lsh_bands")
        sets.write.parquet(f"{art}.tmp/lsh_sets")
        emb = load_table(spark, d, "embeddings")
        n_vecs = emb.count()
        vecs = S.with_norm(
            emb.select("vec_id", S.as_double_vec("embedding").alias("v"))
        ).select("vec_id", "v", "norm")
        hist_vecs = vecs.filter(F.col("vec_id") < n_vecs - BATCH_VECS)
        cent = S.seed_centroids(hist_vecs, max(16, math.isqrt(n_vecs)))
        inv = S.ivf_assign(hist_vecs, cent)
        cent.write.parquet(f"{art}.tmp/ivf_cent")
        inv.write.parquet(f"{art}.tmp/ivf_inv")
        shutil.move(art + ".tmp", art)
    return d


# media twin of the at-rest artifacts: the dHash segment index over the
# history rasters (hashed straight from the quantized rasters — the
# decoders are bit-exact, so dHash(raster) == dHash(decoded)); kept in
# its own dir so pre-existing art/ caches stay valid
_IMG_QUANT = (
    "transform(embedding, x -> cast(floor(((least(greatest("
    "cast(x as double), -1.0D), 1.0D)) + 1.0D) / 2.0D * 255.0D + 0.5D"
    ") as int))"
)


def _prepare_media_index(spark, mult: int) -> str:
    from pyspark.sql import functions as F

    from network_iq_spark.operators import dedup as D

    d = build_corpus(mult)
    art = os.path.join(d, "art_media")
    if not os.path.isdir(art):
        emb = load_table(spark, d, "embeddings")
        n_vecs = emb.count()
        hist = emb.filter(F.col("vec_id") < n_vecs - BATCH_VECS).select(
            F.col("vec_id").alias("media_id"), F.expr(_IMG_QUANT).alias("px")
        )
        hashed = hist.select("media_id", D.image_dhash().alias("dhash"))
        os.makedirs(art + ".tmp", exist_ok=True)
        D.hamming_index(hashed, "dhash", 6, n_bits=56).write.parquet(
            f"{art}.tmp/img_index"
        )
        shutil.move(art + ".tmp", art)
    return d


def _inc_media(spark, d):
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from network_iq_spark.operators import dedup as D
    from network_iq_spark.operators.multimodal import decode_image, encode_png

    emb = load_table(spark, d, "embeddings")
    n_vecs = emb.count()
    batch_px = emb.filter(F.col("vec_id") >= n_vecs - BATCH_VECS).select(
        F.col("vec_id").alias("media_id"), F.expr(_IMG_QUANT).alias("px")
    )

    def roundtrip(it):
        for pdf in it:
            out = []
            for p in pdf["px"]:
                img = np.asarray(list(p), dtype=np.uint8).reshape(8, 8)
                out.append([int(v) for v in decode_image(encode_png(img)).reshape(-1)])
            yield pd.DataFrame({"media_id": pdf["media_id"], "px": out})

    batch = batch_px.mapInPandas(
        roundtrip, schema="media_id bigint, px array<int>"
    ).select("media_id", D.image_dhash().alias("dhash"))
    index = spark.read.parquet(os.path.join(d, "art_media", "img_index"))
    return D.incremental_hamming_dedup(batch, index, "dhash", 6, n_bits=56)


def _inc_exact(spark, d):
    from pyspark.sql import functions as F

    from network_iq_spark.operators import dedup as D
    from network_iq_spark.operators import text as T

    docs = load_table(spark, d, "documents")
    n_docs = docs.count()
    batch = T.fingerprint(docs.filter(F.col("doc_id") >= n_docs - BATCH_DOCS))
    hist = spark.read.parquet(os.path.join(d, "art", "fp_hist"))
    return D.incremental_exact_dedup(batch, hist)


def _inc_near(spark, d):
    from pyspark.sql import functions as F

    from network_iq_spark.operators import dedup as D

    docs = load_table(spark, d, "documents")
    n_docs = docs.count()
    batch = docs.filter(F.col("doc_id") >= n_docs - BATCH_DOCS)
    bands = spark.read.parquet(os.path.join(d, "art", "lsh_bands"))
    sets = spark.read.parquet(os.path.join(d, "art", "lsh_sets"))
    return D.incremental_near_dup(batch, bands, sets, threshold=0.6)


def _inc_ann(spark, d):
    from pyspark.sql import functions as F

    emb = load_table(spark, d, "embeddings")
    n_vecs = emb.count()
    vecs = S.with_norm(
        emb.select("vec_id", S.as_double_vec("embedding").alias("v"))
    ).select("vec_id", "v", "norm")
    hist = vecs.filter(F.col("vec_id") < n_vecs - BATCH_VECS)
    batch = vecs.filter(F.col("vec_id") >= n_vecs - BATCH_VECS)
    cent = spark.read.parquet(os.path.join(d, "art", "ivf_cent"))
    inv = spark.read.parquet(os.path.join(d, "art", "ivf_inv"))
    return S.ivf_search(
        hist, batch, n_cells=0, nprobe=4, k=10, prebuilt=(cent, inv)
    )


def _cell(name, arm, prepare=lambda spark, m: build_corpus(m)):
    return Cell(name, (1, 3, 10), prepare, {"": arm})


CELLS = (
    [_cell(q, lambda spark, d, q=q: QUERIES[q](spark, d)) for q in QUERIES_UNDER_TEST]
    + [
        _cell("semantic_dedup_autocells", _semantic_auto),
        _cell("pagerank_int_5iters", _pagerank),
        _cell("incremental_exact_dedup_batch", _inc_exact, _prepare_incremental),
        _cell("incremental_near_dup_batch", _inc_near, _prepare_incremental),
        _cell("incremental_ann_batch", _inc_ann, _prepare_incremental),
        _cell("incremental_media_dedup_batch", _inc_media, _prepare_media_index),
    ]
)
