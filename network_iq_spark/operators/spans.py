"""Token-window (span) operators — exact substring-grain dedup signals and
benchmark decontamination for training-data pipelines (SURVEY.md §7 F,
beyond-reference tier).

Shingle-set dedup (operators/dedup.py) answers "are these DOCUMENTS
near-identical?"; span operators answer the finer questions LLM curation
actually asks:

- **duplicate_window_stats**: how much of each document is made of k-token
  windows that also occur in OTHER documents — the window-granularity form
  of exact substring deduplication (Lee et al., "Deduplicating Training
  Data Makes Language Models Better", ACL'22, which dedups repeated ≥50-
  token spans corpus-wide).
- **contamination_overlap**: which training documents share k-token windows
  with a held-out benchmark set — n-gram decontamination as popularized by
  the GPT-3/PaLM appendices (13-gram collision checks).

Both are windows → md5 → one shuffle on the window hash. Positions ride
along so span coverage is measurable; the hash keeps shuffle rows narrow
(16 bytes, not k tokens). At 100 TB the window build is map-only and the
join key is content-uniform — no skew beyond genuinely viral spans, which a
frequency cap bounds exactly like dedup.jaccard_pairs_capped's stop list.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from network_iq_spark.operators import ensure_parallelism
from network_iq_spark.operators.text import tokens

WINDOW_K = 8  # testdata docs run 10-99 tokens; 8 gives span-grain signal


def positional_windows(df: DataFrame, k: int = WINDOW_K) -> DataFrame:
    """(id, pos, win_hash): every k-token window with its 1-based token
    position; the window key is md5 of the space-joined tokens (identical
    digests in any engine — same contract as dedup.minhash_sig). Docs with
    fewer than k tokens emit nothing. Pure map + explode."""
    df = ensure_parallelism(df)
    out = df.select(F.col("doc_id"), tokens("text").alias("_toks")).filter(
        F.size("_toks") >= k
    )
    win = F.expr(
        f"transform(sequence(1, size(_toks) - {k} + 1), "
        f"i -> struct(i AS pos, md5(concat_ws(' ', slice(_toks, i, {k}))) AS wh))"
    )
    return out.select(F.col("doc_id"), F.explode(win).alias("w")).select(
        "doc_id", F.col("w.pos").alias("pos"), F.col("w.wh").alias("win_hash")
    )


def duplicate_window_stats(df: DataFrame, k: int = WINDOW_K) -> DataFrame:
    """Per-document duplicated-span profile: of a doc's k-token windows, how
    many (and what fraction) also occur in at least one OTHER document.

    Plan: windows → distinct (doc, hash) → groupBy hash counting documents
    (one shuffle, map-side combinable) → semi-join the positional stream
    against the cross-document hashes (second shuffle, same key) → per-doc
    counts. Every doc in the input appears in the output — docs shorter
    than k tokens report zero windows (ratio 0.0), which downstream quality
    gates treat as "no span evidence", not "clean".
    """
    # three consumers (distinct doc-hash pairs, totals, the semi-join) would
    # re-run the tokenize+explode+md5 build once each — materialize the
    # narrow (id, pos, hash) stream once instead (cf. dedup.minhash_lsh_pairs)
    w = positional_windows(df, k).localCheckpoint()
    per_doc = w.select("doc_id", "win_hash").distinct()
    cross_doc = (
        per_doc.groupBy("win_hash")
        .agg(F.count("*").alias("__nd__"))
        .filter(F.col("__nd__") >= 2)
        .select("win_hash")
    )
    dup_counts = (
        w.join(cross_doc, "win_hash", "left_semi")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_dup_windows"))
    )
    totals = w.groupBy("doc_id").agg(F.count("*").alias("n_windows"))
    return (
        df.select("doc_id")
        .join(totals, "doc_id", "left")
        .join(dup_counts, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_windows", F.lit(0)).alias("n_windows"),
            F.coalesce("n_dup_windows", F.lit(0)).alias("n_dup_windows"),
            F.when(F.coalesce(F.col("n_windows"), F.lit(0)) == 0, F.lit(0.0))
            .otherwise(
                F.coalesce(F.col("n_dup_windows"), F.lit(0)).cast("double")
                / F.col("n_windows")
            )
            .alias("dup_window_ratio"),
        )
    )


def contamination_overlap(
    train: DataFrame,
    benchmark: DataFrame,
    k: int = WINDOW_K,
) -> DataFrame:
    """N-gram benchmark decontamination: per training document, the number
    of k-token windows shared with the benchmark set and how many distinct
    benchmark documents those windows hit.

    Distinct window hashes per side, one equi-join on the hash, one per-doc
    aggregate — the benchmark side is typically tiny next to the corpus, so
    AQE broadcasts it; at extreme benchmark sizes the equi-join shuffles on
    the hash, never a cross product. Output contains only contaminated
    docs; the caller anti-joins to get the clean set.
    """
    tw = positional_windows(train, k).select(
        F.col("doc_id").alias("train_doc"), "win_hash"
    ).distinct()
    bw = positional_windows(benchmark, k).select(
        F.col("doc_id").alias("bench_doc"), "win_hash"
    ).distinct()
    return (
        tw.join(bw, "win_hash")
        .groupBy("train_doc")
        .agg(
            # a window matching several benchmark docs is still ONE shared
            # window; distinct-count both sides of the fanout
            F.countDistinct("win_hash").alias("n_shared_windows"),
            F.countDistinct("bench_doc").alias("n_bench_docs"),
        )
    )


def decontamination_spans(
    train: DataFrame,
    benchmark: DataFrame,
    k: int = WINDOW_K,
) -> DataFrame:
    """Span-grain decontamination — the EXCISION list, one step past
    :func:`contamination_overlap`'s doc-grain flags: for each training
    document, the maximal merged ``[span_start, span_end)`` token
    intervals covered by ANY k-token window shared with the benchmark.
    Production pipelines cut these spans (or drop docs whose excised
    fraction is too high) rather than discarding every flagged document
    wholesale — the Lee-et-al./GPT-3-appendix practice at span grain.

    Plan: positional windows (map-only) → semi-join against the distinct
    benchmark hashes (one shuffle on the hash; benchmark side broadcasts
    at real scale) → classic gaps-and-islands merge with two windows over
    (doc, position) — partition size is bounded by a document's window
    count, never the corpus. All-integer interval arithmetic, so the
    span list is engine-exact.
    """
    from pyspark.sql import Window

    tw = positional_windows(train, k)
    bw = positional_windows(benchmark, k).select("win_hash")
    hits = tw.join(bw, "win_hash", "left_semi").select(
        F.col("doc_id").alias("train_doc"),
        F.col("pos").alias("s"),
        (F.col("pos") + k).alias("e"),
    )
    prev = (
        Window.partitionBy("train_doc")
        .orderBy("s")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    run = (
        Window.partitionBy("train_doc")
        .orderBy("s")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    prev_max = F.max("e").over(prev)
    flagged = hits.withColumn(
        "__new__",
        F.when(prev_max.isNull() | (F.col("s") > prev_max), 1).otherwise(0),
    ).withColumn("__island__", F.sum("__new__").over(run))
    return (
        flagged.groupBy("train_doc", "__island__")
        .agg(
            F.min("s").alias("span_start"),
            F.max("e").alias("span_end"),
            (F.max("e") - F.min("s")).alias("span_tokens"),
        )
        .select("train_doc", "span_start", "span_end", "span_tokens")
    )
