#!/usr/bin/env python
"""Skew soaks for the r9 singleton families (VERDICT r9 item 8): the
planted-template hot-bucket experiment, run (a) at CHUNK grain against
the registered chunk_near_dup_pairs / _capped queries, and (b) on the
image dHash family with planted identical-crop clusters (one hot
(seg, seg_val) bucket per segment), uncapped vs hamming_blocked_pairs'
new max_bucket_size guard.

Chunk-grain skew axis: HOT_FRACTION of docs EMBED one boilerplate
20-token paragraph (unique content around it) — doc-grain MinHash
dilutes the template below threshold, but at chunk grain every template
chunk is near-identical, so all of them pile into the same band buckets:
|B|² candidate pairs per band, the worst case the r9 soak measured at
exponent 0.81. The cap (chunk_near_dup_pairs_capped) bounds it.

Image skew axis: CROP_FRACTION of images are byte-identical copies of
one image (the same crop re-encoded across pages) — all 7 segments of
their dHash collide, |B|² verify pairs with no cap.

Each variant is one cell (capped and uncapped pair sets differ by
design); the check reports the pair volume. Run:

    python scripts/ab.py chunk_near_dup_pairs_hot chunk_near_dup_pairs_capped_hot
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from ab import Cell
from network_iq_spark.operators import dedup as D
from network_iq_spark.registry import QUERIES
from scale_soak import BASE_DOCS, SOAK_DIR, synth_documents

HOT_FRACTION = 0.02
CROP_FRACTION = 0.02
BASE_IMGS = 2_000  # sf0.1 embeddings count
TEMPLATE = (
    "subscribe to our newsletter for updates terms of service privacy "
    "policy all rights reserved contact us follow share like comment"
)  # exactly 20 tokens = one chunk


def build_chunkhot_corpus(mult: int) -> str:
    out = os.path.join(SOAK_DIR, f"chunkhot{mult}")
    if os.path.isdir(out):
        return out
    n = BASE_DOCS * mult
    tbl = synth_documents(n)
    texts = tbl.column("text").to_pylist()
    rng = np.random.default_rng(1000 + mult)
    hot_idx = rng.choice(n, size=int(n * HOT_FRACTION), replace=False)
    for i in hot_idx:
        # template paragraph embedded mid-doc: chunk-aligned because the
        # doc prefix is padded to a chunk boundary (20 tokens)
        toks = texts[int(i)].split()
        prefix = (toks * 4)[:20]
        texts[int(i)] = " ".join(prefix) + " " + TEMPLATE + " " + " ".join(toks)
    cols = {name: tbl.column(name) for name in tbl.column_names}
    cols["text"] = pa.array(texts, pa.string())
    cols["n_chars"] = pa.array([len(t) for t in texts], pa.int64())
    os.makedirs(out + ".tmp", exist_ok=True)
    pq.write_table(pa.table(cols), f"{out}.tmp/documents.parquet")
    shutil.move(out + ".tmp", out)
    return out


def synth_images(mult: int):
    import hashlib

    n = BASE_IMGS * mult
    rng = np.random.default_rng(2000 + mult)
    crop_idx = set(rng.choice(n, size=int(n * CROP_FRACTION), replace=False).tolist())

    def px(i: int) -> list[int]:
        if i in crop_idx:  # the shared crop, byte-identical everywhere
            seed = "crop"
        else:
            seed = str(i)
        return [
            int(hashlib.md5(f"{seed}:{j}".encode()).hexdigest()[:2], 16)
            for j in range(64)
        ]

    return [(i, px(i)) for i in range(n)]


def _hashed_images(spark, mult):
    df = spark.createDataFrame(
        synth_images(mult), "media_id long, px array<int>"
    ).localCheckpoint()
    return df.select("media_id", D.image_dhash().alias("dh"))


def _pairs(data, rows):
    return f"{len(rows):,} pairs"


def _chunk_cell(q):
    # (a) chunk grain: the registered sheet queries against hot corpora
    return Cell(
        f"{q}_hot",
        (1, 3, 10),
        lambda spark, m: build_chunkhot_corpus(m),
        {"hot-chunk": lambda spark, d: QUERIES[q](spark, d)},
        _pairs,
    )


def _image_cell(name, **kw):
    # (b) image dHash: identical-crop clusters, capped vs uncapped blocking
    return Cell(
        name,
        (1, 3, 10),
        _hashed_images,
        {
            "hot-crop": lambda spark, hashed: D.hamming_blocked_pairs(
                hashed, "dh", 6, n_bits=56, id_col="media_id", **kw
            )
        },
        _pairs,
    )


CELLS = [
    _chunk_cell("chunk_near_dup_pairs"),
    _chunk_cell("chunk_near_dup_pairs_capped"),
    _image_cell("image_hamming_uncapped"),
    _image_cell("image_hamming_cap50", max_bucket_size=50),
]
