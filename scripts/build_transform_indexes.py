#!/usr/bin/env python
"""Materialize the at-rest transform-tier indexes for every testdata SF
(the build_media_index.py discipline — READ queries never write into
the checkout; artifacts are built here alone and committed):

- aux_data/resample_index/<sf>       — resample_index over the audio
  walks (media_id, n, own_key, derived_key), read by
  ``incremental_resample_probe``;
- aux_data/trim_index/{toks,seqs}/<sf> — trim_index over the same walks
  ((media_id, tok) head-window tokens + (media_id, s) sequences), read
  by ``incremental_trim_probe``.

Contents are exactly what the probes' in-plan fallbacks compute and
what their DuckDB oracles recompute, so probe parity doubles as an
artifact-freshness check — a stale index hash-mismatches the oracle.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from network_iq_spark.operators import dedup as D  # noqa: E402
from network_iq_spark.queries.media import (  # noqa: E402
    _AUD_WALK_EXPR,
    _AUX_DATA_DIR,
    _TRIM_ANCHOR,
    _TRIM_MAX,
)
from network_iq_spark.session import get_spark  # noqa: E402
from network_iq_spark.sources import load_table  # noqa: E402


def main() -> None:
    spark = get_spark(app_name="build-transform-indexes")
    spark.sparkContext.setLogLevel("WARN")
    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        sf_dir = f"/root/testdata/{sf}"
        if not os.path.exists(os.path.join(sf_dir, "embeddings.parquet")):
            print(f"skip {sf}: no embeddings table")
            continue
        emb = load_table(spark, sf_dir, "embeddings")
        src = emb.select(
            F.col("vec_id").alias("media_id"), F.expr(_AUD_WALK_EXPR).alias("s")
        )
        out = os.path.join(_AUX_DATA_DIR, "resample_index", sf)
        D.resample_index(src).coalesce(1).write.mode(
            "overwrite"
        ).parquet(out)
        print(f"{sf}: {spark.read.parquet(out).count()} resample index rows")
        toks, seqs = D.trim_index(src, max_trim=_TRIM_MAX, anchor=_TRIM_ANCHOR)
        for name, df in (("toks", toks), ("seqs", seqs)):
            out = os.path.join(_AUX_DATA_DIR, "trim_index", name, sf)
            df.coalesce(1).write.mode("overwrite").parquet(out)
            print(f"{sf}: {spark.read.parquet(out).count()} trim {name} rows")


if __name__ == "__main__":
    main()
