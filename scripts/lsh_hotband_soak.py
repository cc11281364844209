#!/usr/bin/env python
"""Hot-band LSH soak (VERDICT r8 item 8): the (band, bucket) shuffle's
skew axis, which the uniform soak and the aggregate/window/join skew soak
both miss.

Synthesizes corpora at 1x/3x/10x of the sf0.1 doc count where
HOT_FRACTION of docs are instances of ONE boilerplate template with a
unique trailing token (near-identical, not byte-identical — exact dedup
would not remove them, but most of their minhash bands collide, so they
pile into a handful of degenerate buckets). This is the celebrity-bucket
case every crawled corpus has: |B| template docs cost |B|^2 candidate
pairs per colliding band, REAL join output that no AQE split makes
cheaper — splitting the partition parallelizes the blowup, it does not
shrink it.

Times minhash_lsh_pairs uncapped vs max_bucket_size=50 (b=16/r=1, the
recall-heavy config) as two cells (their pair sets differ by design).
Each arm times a count() of the pairs, which is also the reported pair
volume: at 10x the uncapped tier emits ~11M pairs, too many to collect.
Run:

    python scripts/ab.py minhash_lsh_hotband_uncapped minhash_lsh_hotband_cap50
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from ab import Cell
from network_iq_spark.operators import dedup as D
from network_iq_spark.sources import load_table
from scale_soak import BASE_DOCS, SOAK_DIR, synth_documents

HOT_FRACTION = 0.02
MAX_BUCKET = 50
TEMPLATE = (
    "order table scan filter group window join merge batch stream plan "
    "data value row column key hash sort read write"
)


def build_hot_corpus(mult: int) -> str:
    out = os.path.join(SOAK_DIR, f"hot{mult}")
    if os.path.isdir(out):
        return out
    n = BASE_DOCS * mult
    tbl = synth_documents(n)
    texts = tbl.column("text").to_pylist()
    rng = np.random.default_rng(mult)
    hot_idx = rng.choice(n, size=int(n * HOT_FRACTION), replace=False)
    for j, i in enumerate(hot_idx):
        texts[int(i)] = f"{TEMPLATE} v{j}"
    cols = {name: tbl.column(name) for name in tbl.column_names}
    cols["text"] = pa.array(texts, pa.string())
    cols["n_chars"] = pa.array([len(t) for t in texts], pa.int64())
    os.makedirs(out + ".tmp", exist_ok=True)
    pq.write_table(pa.table(cols), f"{out}.tmp/documents.parquet")
    shutil.move(out + ".tmp", out)
    return out


def _cell(name, max_bucket_size):
    return Cell(
        name,
        (1, 3, 10),
        lambda spark, m: load_table(spark, build_hot_corpus(m), "documents"),
        {
            "": lambda spark, docs: D.minhash_lsh_pairs(
                docs,
                threshold=0.0,
                n_bands=16,
                rows_per_band=1,
                max_bucket_size=max_bucket_size,
            ).count()
        },
        lambda docs, n: f"{n:,} pairs",
    )


CELLS = [
    _cell("minhash_lsh_hotband_uncapped", None),
    _cell(f"minhash_lsh_hotband_cap{MAX_BUCKET}", MAX_BUCKET),
]
