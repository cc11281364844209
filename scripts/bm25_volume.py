#!/usr/bin/env python
"""Measure the BM25 postings-join volume with and without the df-ceiling
(VERDICT r8 item 3 evidence).

The scoring join fans out as Σ_term(q_df·df); ``max_df_ratio`` drops
terms with df/N above the ceiling from the postings BEFORE the join.
This script counts the (q_doc_id, doc_id, term) triples that actually
enter the scoring join — the shuffled volume — at 1×/3×/10× of the
sf0.1 doc count, uncapped vs two ceilings.

Two corpora, because the vocabulary's shape IS the result:

- the standard soak corpus (31 shared words): EVERY term is a stopword
  (df/N ≈ 0.75–0.80), so any ceiling ≤ 0.5 zeroes the join — the
  degenerate worst case, reported for honesty;
- a Zipf corpus (10k-word vocabulary, exponent 1.1, ~60 tokens/doc) —
  the realistic crawled-corpus shape, where the head owns most of the
  postings mass and a ceiling removes the bulk of the volume while the
  mid/tail terms (the ones that actually rank) survive.

Run: python scripts/bm25_volume.py        # prints markdown tables
"""

from __future__ import annotations

import os
import shutil
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from scale_soak import BASE_DOCS, SOAK_DIR, build_corpus  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

ZIPF_VOCAB, ZIPF_A, DOC_LEN = 10_000, 1.1, 60


def build_zipf_corpus(mult: int) -> str:
    out = os.path.join(SOAK_DIR, f"zipf{mult}")
    if os.path.isdir(out):
        return out
    n = BASE_DOCS * mult
    rng = np.random.default_rng(mult * 7 + 1)
    # Zipf ranks capped to the vocab size; words are w<rank>
    texts = []
    for _ in range(n):
        ranks = np.minimum(rng.zipf(ZIPF_A, size=DOC_LEN), ZIPF_VOCAB)
        texts.append(" ".join(f"w{r}" for r in ranks))
    os.makedirs(out + ".tmp", exist_ok=True)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(n), pa.int64()),
                "text": pa.array(texts, pa.string()),
            }
        ),
        f"{out}.tmp/documents.parquet",
    )
    shutil.move(out + ".tmp", out)
    return out


def triples(spark, d: str, max_df_ratio: float | None):
    """Replicates bm25_topk's candidate generation up to (but not
    including) the scoring projection and counts the join output —
    the exact volume the ceiling is meant to bound."""
    from pyspark.sql import functions as F

    from network_iq_spark.operators.text import ensure_parallelism, tokens
    from network_iq_spark.sources import load_table

    docs = ensure_parallelism(load_table(spark, d, "documents"))
    base = docs.select(F.col("doc_id"), tokens("text").alias("_toks"))
    tf = (
        base.select(F.col("doc_id"), F.explode("_toks").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    if max_df_ratio is not None:
        n_docs = docs.count()
        dfreq = dfreq.filter(
            F.col("df").cast("double") <= max_df_ratio * float(n_docs)
        )
    qterms = (
        docs.filter(F.col("doc_id") < 100)
        .select(F.col("doc_id").alias("q_doc_id"))
        .join(tf.select(F.col("doc_id").alias("q_doc_id"), "term"), "q_doc_id")
        .distinct()
    )
    return (
        qterms.join(tf.join(dfreq, "term"), "term")
        .filter(F.col("doc_id") != F.col("q_doc_id"))
        .count()
    )


MULTS = (1, 3, 10)


def main() -> None:
    from network_iq_spark.session import get_spark

    spark = get_spark(app_name="bm25-volume")
    spark.sparkContext.setLogLevel("WARN")
    for label, builder, ceilings in (
        ("shared-vocab (31 words, all stopwords)", build_corpus, [0.5]),
        ("zipf (10k vocab, a=1.1)", build_zipf_corpus, [0.5, 0.05]),
    ):
        print(f"\n**{label}**\n")
        hdr = "| corpus | uncapped triples | " + " | ".join(
            f"ceiling {c} triples (drop)" for c in ceilings
        ) + " | uncapped s | " + " | ".join(f"s @ {c}" for c in ceilings) + " |"
        print(hdr)
        print("|" + "---|" * (2 + 2 * len(ceilings) + 1))
        for m in MULTS:
            d = builder(m)
            t0 = time.perf_counter()
            full = triples(spark, d, None)
            t_full = time.perf_counter() - t0
            cells_n, cells_t = [], []
            for c in ceilings:
                t0 = time.perf_counter()
                capped = triples(spark, d, c)
                dt = time.perf_counter() - t0
                drop = 1.0 - capped / full if full else 0.0
                cells_n.append(f"{capped:,} ({drop:.1%})")
                cells_t.append(f"{dt:.2f}")
            print(
                f"| {m}× | {full:,} | " + " | ".join(cells_n)
                + f" | {t_full:.2f} | " + " | ".join(cells_t) + " |"
            )


if __name__ == "__main__":
    main()
