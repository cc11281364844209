"""Sequence packing: assemble documents into fixed token-budget training
sequences (beyond-reference LLM-data tier, SURVEY.md §7 F).

The operator implements concatenate-then-chunk packing — the strategy used by
GPT-style pre-training pipelines: documents are laid end-to-end in a
deterministic order and the token stream is cut into ``capacity``-token
packs. A document belongs to the pack where it *starts* (it may straddle the
boundary; the chunker handles the split downstream), so pack assignment is a
pure prefix-sum: ``pack_id = floor(tokens_before / capacity)``.

Scale shape: the prefix sum is windowed **per shard** (``source``), never
globally — real pipelines pack within a shard/file group precisely so the
operation parallelizes, and an unpartitioned window would funnel the whole
corpus through one task (the anti-pattern this repo's plan tests reject).
Shards are independent ⇒ one hash exchange on ``source``, then a single
in-partition sort per shard. 100 TB posture: shard count ≫ executor count is
the operative knob; ``source`` here stands in for the crawl-shard key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from network_iq_spark.operators.text import tokens


def sequence_packing(df: DataFrame, capacity: int) -> DataFrame:
    """Per-shard concat-and-chunk pack assignment + per-pack stats.

    Returns one row per (shard, pack_id): number of documents starting in
    the pack, their total token count, and the id range — the manifest a
    downstream tokenizer-chunker consumes. Integer arithmetic only, so the
    result is bit-identical across engines and partitionings.
    """
    base = df.select(
        F.col("source").alias("shard"),
        F.col("doc_id"),
        F.size(tokens("text")).alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_before = F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).cast("bigint")
    # integer div: exact at any corpus size (double division would lose
    # bits once a shard's cumulative token count passes 2^53)
    assigned = base.withColumn("__cum__", cum_before).withColumn(
        "pack_id", F.expr(f"__cum__ div {int(capacity)}")
    )
    return (
        assigned.groupBy("shard", "pack_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("pack_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("shard", "pack_id")
    )


def chunk_manifest(
    df: DataFrame,
    chunk_tokens: int = 128,
    overlap: int = 32,
) -> DataFrame:
    """Sliding-window chunk manifest: the (doc, chunk, token-range) table a
    tokenizer/embedder consumes to split long documents with overlap — the
    standard RAG/pre-training chunking contract.

    Chunk i covers tokens [i·step, min(i·step + chunk, n)) with
    step = chunk − overlap; the last chunk is the first one whose window
    reaches n. All integer arithmetic; the explode is bounded by
    n/step chunks per doc, so the operator is map-only with O(1) fanout —
    no shuffle at any scale.
    """
    assert 0 <= overlap < chunk_tokens
    step = chunk_tokens - overlap
    base = df.select(
        F.col("doc_id"), F.size(tokens("text")).alias("n_tokens")
    ).filter(F.col("n_tokens") > 0)
    # number of chunks: 1 if n <= chunk else ceil((n - chunk)/step) + 1
    n_chunks = F.expr(
        f"if(n_tokens <= {chunk_tokens}, cast(1 as bigint), "
        f"(n_tokens - {chunk_tokens} + {step} - 1) div {step} + 1)"
    )
    return (
        base.withColumn("__nc__", n_chunks)
        .select(
            "doc_id",
            "n_tokens",
            F.explode(F.expr("sequence(cast(0 as bigint), __nc__ - 1)")).alias(
                "chunk_id"
            ),
        )
        .select(
            "doc_id",
            "chunk_id",
            (F.col("chunk_id") * step).alias("tok_start"),
            F.least(
                F.col("chunk_id") * step + chunk_tokens, F.col("n_tokens")
            ).alias("tok_end"),
        )
    )


def span_corruption_manifest(docs):  # DataFrame
    """T5/UL2-style span-corruption manifest, fully deterministic: for each
    document, ~15% of tokens are covered by 3-token spans
    whose starts derive from md5(doc_id, span_index) — a pure function of
    the document identity, so the SAME spans are masked on every run,
    every engine, every partitioning (the property that makes corruption
    reproducible across a restarted 100 TB preprocessing job; seeding from
    rand() would re-mask differently per retry).

    Output: one row per span (doc_id, span_id, start_tok, span_len),
    starts deduplicated and sorted per doc (overlapping draws collapse —
    the standard budgeted-approximation; effective coverage is ≤ the
    budget and reported exactly by counting rows). MAP-ONLY: the explode
    is bounded by the mask budget, never the token count.
    """
    from pyspark.sql import functions as F

    from network_iq_spark.operators import ensure_parallelism
    from network_iq_spark.operators.text import tokens

    base = (
        ensure_parallelism(docs)
        .select(F.col("doc_id"), F.size(tokens("text")).alias("n_tok"))
        .filter(F.col("n_tok") >= 3)
    )
    # explicit floor: a bare double→int cast truncates in Spark but ROUNDS
    # in DuckDB — floor is the one semantics both engines share
    n_spans = F.greatest(
        F.lit(1),
        F.floor(F.col("n_tok") * 15 / 100 / 3).cast("int"),
    )
    # start_i = md5(doc_id||'#'||i) first-12-hex as int, mod (n_tok - 3 + 1)
    starts = F.expr(
        "array_sort(array_distinct(transform(sequence(1, __k__), "
        "i -> cast(conv(substring(md5(concat(cast(doc_id as string), '#', "
        "cast(i as string))), 1, 12), 16, 10) as bigint) "
        "% (n_tok - 3 + 1))))"
    )
    return (
        base.withColumn("__k__", n_spans)
        .withColumn("__starts__", starts)
        .select(
            "doc_id",
            F.posexplode("__starts__").alias("span_id", "start_tok"),
        )
        .select(
            "doc_id",
            F.col("span_id").cast("int").alias("span_id"),
            "start_tok",
            F.lit(3).alias("span_len"),
        )
    )


def ffd_packing(df: DataFrame, capacity: int) -> DataFrame:
    """First-fit-decreasing bin packing WITHOUT document splitting — the
    other production packing strategy: when truncating/straddling a
    document across sequences is unacceptable (instruction tuning,
    contrastive pairs), each doc goes whole into the first open pack
    with room, docs considered longest-first (the classic FFD ≤
    (11/9)·OPT + 1 guarantee). Deterministic: order is
    (n_tokens DESC, id ASC), pack ids are 1-based creation order, all
    arithmetic integer — so the assignment is engine-exact and
    SQL-replayable by a recursive CTE.

    Output: one row per (shard, pack_id) — n_docs, pack_tokens, padding
    (= capacity − pack_tokens, the waste this strategy exists to
    minimize). Docs longer than ``capacity`` get a pack of their own
    (padding 0 reported as capacity − min(pack_tokens, capacity) would
    lie; they report NEGATIVE padding, surfacing the overflow instead of
    hiding it).

    Scale shape: the shard is the parallel unit — one hash exchange on
    ``source``, then per-shard FFD inside ``applyInPandas`` (state =
    the shard's open-pack loads, O(packs) memory; the sequential loop is
    inherent to bin packing, so the design keeps it BOUNDED by shard
    size, exactly like real pipelines pack within crawl shards). A shard
    too large for one task is pre-split by a salt on a coarser key
    upstream; the global concat-and-chunk packer (:func:`sequence_packing`)
    remains the strategy for unbounded shards.
    """
    import pandas as pd

    cap = int(capacity)
    base = df.select(
        F.col("source").alias("shard"),
        F.col("doc_id"),
        F.size(tokens("text")).alias("n_tokens"),
    ).filter(F.col("n_tokens") > 0)

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(
            ["n_tokens", "doc_id"], ascending=[False, True]
        )
        loads: list[int] = []
        counts: list[int] = []
        for nt in pdf["n_tokens"]:
            nt = int(nt)
            for j, load in enumerate(loads):
                if load + nt <= cap:
                    loads[j] = load + nt
                    counts[j] += 1
                    break
            else:
                loads.append(nt)
                counts.append(1)
        return pd.DataFrame(
            {
                "shard": pdf["shard"].iloc[0],
                "pack_id": range(1, len(loads) + 1),
                "n_docs": counts,
                "pack_tokens": loads,
                "padding": [cap - load for load in loads],
            }
        )

    return base.groupBy("shard").applyInPandas(
        pack,
        schema="shard string, pack_id bigint, n_docs bigint, "
        "pack_tokens bigint, padding bigint",
    )
