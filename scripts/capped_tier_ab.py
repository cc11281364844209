#!/usr/bin/env python
"""Scale A/B for the capped-tier candidate stage (r15, VERDICT item 4).

The r14 rewrite replaced the rare⋈rare self-join in jaccard_pairs_capped /
containment_pairs_capped with a map-side sorted-posting pair comprehension
(_rare_posting_pairs). The plan diff is real (self-join gone) but the
bench-SF A/B was noise-band (±5%), so the claimed shuffle-scaling win was
unproven where it was sold. This script proves or refutes it: synthesize
corpora at 1x/3x/10x the sf0.1 document count (scale_soak's deterministic
generator — same vocabulary, length and duplicate structure as the driver
testdata) and run both candidate forms as the two arms of one cell: the
driver checks that they return the identical top-100 at each size, then
times them interleaved and prints the growth slope per form.

Run:  python scripts/ab.py capped_tier_candidates
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ab import Cell
from network_iq_spark.operators import dedup as D
from scale_soak import build_corpus

MAX_DF = 4  # _fragments._JACCARD_MAX_DF — the registered config
CONTAIN_T = 0.6  # llmdata._CONTAIN_THRESHOLD


def _join_form_cand(rare: DataFrame, id_col: str) -> DataFrame:
    """The pre-r14 candidate stage verbatim (rare⋈rare self-join) —
    re-shipped as operators/dedup._rare_cand_pairs after this A/B
    refuted the posting form's scale claim."""
    a = rare.select(F.col(id_col).alias("doc_a"), "shingle")
    b = rare.select(F.col(id_col).alias("doc_b"), "shingle")
    return (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def _posting_form_cand(rare: DataFrame, id_col: str) -> DataFrame:
    """The r14 map-side sorted-posting candidate stage verbatim
    (collect each df-capped posting, emit a<b pairs in one projection;
    was operators/dedup._rare_posting_pairs until this A/B measured it
    1.35-2.1x SLOWER than the join form at 10x and r15 reverted it)."""
    return (
        rare.groupBy("shingle")
        .agg(F.collect_list(id_col).alias("__ds__"))
        .select(F.array_sort("__ds__").alias("__ds__"))
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(__ds__, (x, i) -> "
                    "transform(slice(__ds__, i + 2, size(__ds__) - i - 1), "
                    "y -> struct(x as doc_a, y as doc_b))))"
                )
            ).alias("__p__")
        )
        .select("__p__.doc_a", "__p__.doc_b")
        .distinct()
    )


def _jaccard_capped_with(sh: DataFrame, cand_fn, threshold: float, max_df: int):
    """jaccard_pairs_capped with a pluggable candidate stage (body copied
    from operators/dedup.py so both forms share every other operator)."""
    sh = sh.localCheckpoint()
    dfreq = sh.groupBy("shingle").agg(F.count("*").alias("__df__"))
    stop = dfreq.filter(F.col("__df__") > max_df).select("shingle")
    rare = sh.join(stop, "shingle", "left_anti")
    cand = cand_fn(rare, "doc_id")
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    sh_a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    sh_b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        cand.join(sh_a, "doc_a")
        .join(sh_b, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("inter").cast("double")
                / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
        .orderBy(F.col("jaccard").desc(), F.col("doc_a").asc(), F.col("doc_b").asc())
        .limit(100)
    )


def _prepare(spark, mult):
    docs = spark.read.parquet(os.path.join(build_corpus(mult), "documents.parquet"))
    return D.shingles(docs)


def _arm(cand_fn):
    return lambda spark, sh: _jaccard_capped_with(sh, cand_fn, 0.0, MAX_DF)


CELLS = [
    Cell(
        "capped_tier_candidates",
        (1, 3, 10),
        _prepare,
        {"posting": _arm(_posting_form_cand), "join": _arm(_join_form_cand)},
    )
]
