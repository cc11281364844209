"""Text-analysis operators for training-data pipelines (SURVEY.md §7 F).

Beyond-reference tier: language-ID, quality scoring, token counting, document
fingerprinting — all pure ``pyspark.sql.functions`` (JVM-side, whole-stage
codegen); no Python UDFs anywhere in these paths. Every scalar is derived
from integer token counts, so results are bit-deterministic across engines.

At 100 TB these are embarrassingly parallel map-only plans: no shuffle, no
state — throughput is bounded by parquet scan + codegen, which is exactly
where we want text ops to live.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from network_iq_spark.operators import GUARD_MIN_BYTES, ensure_parallelism

WORD_RE = "[a-z0-9]+"
# BPE-ish segmentation: letter runs | digit runs | single non-alnum glyphs
BPE_RE = "[a-z]+|[0-9]+|[^a-z0-9 ]"

# Marker stopwords per language for the n-gram/stopword lang-ID heuristic.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "to", "and", "in", "is", "it", "that", "for"),
    "es": ("el", "la", "de", "los", "las", "que", "y", "en", "un", "una"),
    "de": ("der", "die", "das", "und", "ist", "ein", "eine", "zu", "den", "von"),
    "fr": ("le", "la", "les", "de", "et", "un", "une", "que", "est", "des"),
    "zh": ("de5", "shi4", "le5", "zai4", "you3", "wo3", "ta1", "men5", "zhe4", "bu4"),
}
STOPWORDS = LANG_MARKERS["en"]


def tokens(text: Column | str, pattern: str = WORD_RE) -> Column:
    """Lowercased regex tokens (empty text → empty array, not [''])."""
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_extract_all(F.lower(c), F.lit(pattern), 0)


def _in_list(lam_var: str, words: tuple[str, ...]) -> str:
    quoted = ", ".join(f"'{w}'" for w in words)
    return f"{lam_var} IN ({quoted})"


def token_stats(df: DataFrame) -> DataFrame:
    """Token counting: whitespace-ish word tokens + BPE-ish segments + mean
    token length. All integer counts → deterministic ratios.

    min_bytes guard (r14 audit): the per-row work is a split + two array
    sizes — interleaved A/B measured the repartition exchange a net loss
    at bench SF (B/A = 0.96), so under the floor the map rides the
    scan's own splits."""
    df = ensure_parallelism(df, min_bytes=GUARD_MIN_BYTES)
    out = df.select(
        "doc_id",
        tokens("text").alias("_toks"),
        tokens("text", BPE_RE).alias("_bpe"),
        F.length(F.col("text")).alias("n_chars_measured"),
    )
    n = F.size("_toks")
    tok_len_sum = F.expr("aggregate(transform(_toks, t -> length(t)), 0, (a, x) -> a + x)")
    return out.select(
        "doc_id",
        "n_chars_measured",
        n.alias("n_tokens"),
        F.size("_bpe").alias("n_bpe_tokens"),
        F.when(n == 0, F.lit(0.0))
        .otherwise(tok_len_sum.cast("double") / n)
        .alias("avg_token_len"),
    )


def quality_score(df: DataFrame) -> DataFrame:
    """Heuristic document-quality scoring (length / punctuation / stopword
    ratios) — the standard pre-training filter features. Score ∈ [0,1]."""
    df = ensure_parallelism(df)
    toks = tokens("text")
    out = df.select(
        "doc_id",
        toks.alias("_toks"),
        F.length("text").alias("n_chars"),
        F.size(F.regexp_extract_all(F.lower("text"), F.lit("[^a-z0-9 ]"), 0)).alias(
            "n_punct"
        ),
    )
    n = F.size("_toks")
    stop_n = F.expr(f"size(filter(_toks, t -> {_in_list('t', STOPWORDS)}))")
    stop_ratio = F.when(n == 0, F.lit(0.0)).otherwise(stop_n.cast("double") / n)
    punct_ratio = F.when(F.col("n_chars") == 0, F.lit(0.0)).otherwise(
        F.col("n_punct").cast("double") / F.col("n_chars")
    )
    len_score = F.least(F.lit(1.0), n.cast("double") / F.lit(50.0))
    score = F.greatest(
        F.lit(0.0),
        F.least(
            F.lit(1.0),
            F.lit(0.5) * len_score
            + F.lit(0.5) * F.least(F.lit(1.0), F.lit(4.0) * stop_ratio)
            - F.lit(2.0) * punct_ratio,
        ),
    )
    return out.select(
        "doc_id",
        "n_chars",
        n.alias("n_tokens"),
        stop_ratio.alias("stopword_ratio"),
        punct_ratio.alias("punct_ratio"),
        score.alias("quality_score"),
    )


def with_quality_score(df: DataFrame) -> DataFrame:
    """:func:`quality_score` fused in place: appends (n_tokens,
    quality_score) to the input row instead of projecting a score frame.
    The scoring is row-local, so a pipeline that needs score AND text must
    not pay a projection + self-join on the id to reattach the text — that
    join is a full corpus shuffle at scale; this form is zero-shuffle."""
    df = ensure_parallelism(df)
    tmp = df.withColumn("_q_toks", tokens("text"))
    n = F.size("_q_toks")
    stop_n = F.expr(f"size(filter(_q_toks, t -> {_in_list('t', STOPWORDS)}))")
    stop_ratio = F.when(n == 0, F.lit(0.0)).otherwise(stop_n.cast("double") / n)
    n_chars = F.length("text")
    n_punct = F.size(
        F.regexp_extract_all(F.lower(F.col("text")), F.lit("[^a-z0-9 ]"), 0)
    )
    punct_ratio = F.when(n_chars == 0, F.lit(0.0)).otherwise(
        n_punct.cast("double") / n_chars
    )
    len_score = F.least(F.lit(1.0), n.cast("double") / F.lit(50.0))
    score = F.greatest(
        F.lit(0.0),
        F.least(
            F.lit(1.0),
            F.lit(0.5) * len_score
            + F.lit(0.5) * F.least(F.lit(1.0), F.lit(4.0) * stop_ratio)
            - F.lit(2.0) * punct_ratio,
        ),
    )
    return (
        tmp.withColumn("n_tokens", n)
        .withColumn("quality_score", score)
        .drop("_q_toks")
    )


def lang_id(df: DataFrame) -> DataFrame:
    """Marker-stopword language-ID heuristic: per-language marker-hit rates,
    argmax with a fixed priority order (deterministic ties)."""
    df = ensure_parallelism(df)
    out = df.select("doc_id", tokens("text").alias("_toks"))
    n = F.size("_toks")
    scores = {
        lang: F.when(n == 0, F.lit(0.0)).otherwise(
            F.expr(f"size(filter(_toks, t -> {_in_list('t', words)}))").cast("double") / n
        )
        for lang, words in LANG_MARKERS.items()
    }
    langs = list(LANG_MARKERS)
    # sequential CASE ladder: lang i wins if positive and ≥ every later lang
    # (earlier langs win ties — identical ladder in the SQL oracle)
    pred = None
    for i, lang in enumerate(langs):
        cond = scores[lang] > 0
        for later in langs[i + 1 :]:
            cond = cond & (scores[lang] >= scores[later])
        pred = F.when(cond, F.lit(lang)) if pred is None else pred.when(cond, F.lit(lang))
    pred = pred.otherwise(F.lit("unknown"))
    sel = [F.col("doc_id")] + [scores[lang].alias(f"score_{lang}") for lang in langs]
    return out.select(*sel, pred.alias("pred_lang"))


# Whitespace class shared by every normalization chain AND its DuckDB
# oracle twin. Java regex \s includes vertical tab (\x0B) while RE2
# (DuckDB) \s does not, so a bare \s+ silently diverges on documents
# containing \x0B; this explicit class reads identically on both engines.
WS_RE = r"[ \t\n\r\f\x0b]+"


def fingerprint_col() -> Column:
    """The exact-dedup key as a bare Column (md5 of whitespace-normalized
    lowercase text), for fusing into a wider per-doc stat grain without a
    projection + re-join."""
    return F.md5(F.regexp_replace(F.trim(F.lower(F.col("text"))), WS_RE, " "))


def fingerprint(df: DataFrame) -> DataFrame:
    """Content fingerprint: md5 of whitespace-normalized lowercase text —
    the exact-dedup key (F13 analogue: sha-256 content hashing,
    streamlit_app.py:1162-1163).

    min_bytes guard (r14 audit): one digest per row is the canonical
    cheap-digest map — interleaved A/B measured the exchange at 1.5x the
    whole guarded query (B/A = 0.66 on doc_fingerprints), the
    multimodal_features shape exactly."""
    df = ensure_parallelism(df, min_bytes=GUARD_MIN_BYTES)
    return df.select("doc_id", fingerprint_col().alias("fingerprint"))


def repetition_stats(df: DataFrame) -> DataFrame:
    """Gopher/RefinedWeb-style repetition signals: per document, the
    distinct-token ratio and the share of the single most frequent bigram —
    the two cheapest detectors of boilerplate and degenerate (looping)
    text, standard cut features in pre-training quality filters.

    Distinct ratio is a pure array expression (map-only). The top-bigram
    share explodes bigrams and double-aggregates on (doc, bigram) → (doc):
    linear in document length (an array-only argmax would be quadratic on
    long documents), both aggregations map-side combinable — the shape that
    survives book-length docs at 100 TB.
    """
    df = ensure_parallelism(df)
    base = df.select(F.col("doc_id"), tokens("text").alias("_toks"))
    n = F.size("_toks")
    head = base.select(
        "doc_id",
        n.alias("n_tokens"),
        F.when(n == 0, F.lit(0.0))
        .otherwise(F.size(F.array_distinct("_toks")).cast("double") / n)
        .alias("distinct_token_ratio"),
    )
    bi = base.filter(n >= 2).select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(_toks) - 1), "
                "i -> concat(_toks[i - 1], ' ', _toks[i]))"
            )
        ).alias("bigram"),
    )
    top = (
        bi.groupBy("doc_id", "bigram")
        .agg(F.count("*").alias("__c__"))
        .groupBy("doc_id")
        .agg(
            F.max("__c__").alias("__top__"),
            F.sum("__c__").alias("__nbi__"),
        )
        .select(
            "doc_id",
            (F.col("__top__").cast("double") / F.col("__nbi__")).alias(
                "top_bigram_share"
            ),
        )
    )
    return head.join(top, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        "distinct_token_ratio",
        F.coalesce("top_bigram_share", F.lit(0.0)).alias("top_bigram_share"),
    )


# PII patterns deliberately conservative + dialect-portable (same regex text
# runs under Java regex and RE2): email, NANP-style phone, IPv4.
PII_PATTERNS: dict[str, str] = {
    "email": r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}",
    "phone": r"\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\b",
    "ipv4": r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b",
}


def redact_pii(df: DataFrame, out_col: str | None = None) -> DataFrame:
    """Replace each PII match with its ``<TYPE>`` placeholder — the standard
    pre-training scrub pass. Chained ``regexp_replace`` (JVM, codegen,
    map-only); patterns applied in dict order so composite strings redact
    deterministically. Adds ``pii_<type>_count`` columns so the scrub is
    auditable without a second scan."""
    out = out_col or "text"
    red = F.lower(F.col("text"))
    counts = []
    for name, pat in PII_PATTERNS.items():
        counts.append(
            F.size(F.regexp_extract_all(F.lower(F.col("text")), F.lit(pat), 0)).alias(
                f"pii_{name}_count"
            )
        )
        red = F.regexp_replace(red, pat, f"<{name.upper()}>")
    keep = [c for c in df.columns if c != "text" or out != "text"]
    return df.select(*keep, *counts, red.alias(out))


ROLL_B = (1 << 20) + 7          # polynomial base
ROLL_P = 2_147_483_647          # 2³¹ − 1 (Mersenne prime)


def rolling_fingerprint(df: DataFrame) -> DataFrame:
    """Karp–Rabin rolling fingerprint over the token stream:
    ``fp = Σ h48(tok_i)·B^(n−i) mod P``, folded left-to-right as
    ``acc = (acc·B + h48(tok)) mod P``.

    ORDER-SENSITIVE, unlike the md5 content hash (:func:`fingerprint`) and
    the shingle-set dedup families — reordered or dropped tokens change the
    fingerprint, so it catches structural edits those miss, and the prefix
    property (fp of a prefix is an intermediate acc) supports streaming /
    chunked computation. All integer arithmetic: acc < P ≈ 2³¹ and
    h48 < 2⁴⁸, so ``acc·B + h48 < 2⁵²`` — exact in int64 on every engine,
    no overflow even under ANSI mode. One md5 per token, map-only,
    whole-stage codegen otherwise.
    """
    df = ensure_parallelism(df)
    return df.select(
        F.col("doc_id"),
        tokens("text").alias("_toks"),
    ).select(
        "doc_id",
        F.expr(
            "aggregate("
            "  transform(_toks, t -> cast(conv(substring(md5(t), 1, 12), 16, 10) as bigint)),"
            "  cast(0 as bigint),"
            f"  (acc, x) -> (acc * {ROLL_B} + x) % {ROLL_P})"
        ).alias("rolling_fp"),
    )


def bigram_rarity(df: DataFrame, rare_max: int = 2) -> DataFrame:
    """Corpus-relative n-gram rarity: for each document, how unusual its
    bigrams are against the whole corpus — the count-based stand-in for a
    language-model perplexity filter (CCNet-style quality bucketing) that
    stays bit-deterministic: every output is an integer count or a ratio of
    integers, so no cross-engine ``ln`` drift.

    Per doc: bigram count, rare-bigram count (corpus frequency ≤ rare_max),
    rare ratio, and mean corpus frequency of its bigrams (high = boilerplate
    phrasing shared across many docs, low = novel text).

    Scale shape: explode is map-only; corpus frequencies are one map-side-
    combinable groupBy on the bigram; the frequency join shuffles doc-bigram
    pairs on the bigram key (AQE skew-join splits the inevitable hot
    bigrams); the final per-doc rollup is one more combinable groupBy.
    Linear in corpus token count — no pairwise anything.
    """
    df = ensure_parallelism(df)
    base = df.select(F.col("doc_id"), tokens("text").alias("_toks"))
    bi = base.filter(F.size("_toks") >= 2).select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(_toks) - 1), "
                "i -> concat(_toks[i - 1], ' ', _toks[i]))"
            )
        ).alias("bigram"),
    )
    # NOTE on the double explode: `bi` feeds both the corpus count and the
    # per-doc rollup and Spark won't reuse the shared subtree — but both
    # remedies measured SLOWER at sf0.1 than just re-running the cheap
    # map-only explode (tf-grain collapse: bigrams are mostly unique per
    # doc, so the extra shuffle buys no reduction; localCheckpoint: the
    # exploded stream is wide and materializing it costs more than the
    # second explode). Recompute is the right call for map-cheap wide
    # streams; materialize only narrow/expensive grains (cf. doc_keywords,
    # tfidf_top_terms, minhash signatures).
    corpus = bi.groupBy("bigram").agg(F.count("*").alias("__freq__"))
    per_doc = (
        bi.join(corpus, "bigram")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.sum(
                F.when(F.col("__freq__") <= rare_max, F.lit(1)).otherwise(F.lit(0))
            ).alias("n_rare"),
            F.sum("__freq__").alias("__fsum__"),
        )
    )
    return (
        base.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
            F.coalesce("n_rare", F.lit(0)).alias("n_rare"),
            F.when(F.coalesce("n_bigrams", F.lit(0)) == 0, F.lit(0.0))
            .otherwise(F.col("n_rare").cast("double") / F.col("n_bigrams"))
            .alias("rare_ratio"),
            F.when(F.coalesce("n_bigrams", F.lit(0)) == 0, F.lit(0.0))
            .otherwise(F.col("__fsum__").cast("double") / F.col("n_bigrams"))
            .alias("mean_bigram_freq"),
        )
    )


def doc_keywords(df: DataFrame, k: int = 3) -> DataFrame:
    """Per-document keyword extraction by tf/df ranking — the deterministic
    stand-in for tf-idf (identical top-k order: idf = ln(N/df) is monotone
    decreasing in df, so ranking by the rational score tf·10⁶/df avoids the
    cross-engine ``ln`` ulp drift entirely).

    Shapes: one explode, two map-combinable groupBys (term frequency per
    doc, document frequency per token), one join on the token key (AQE
    splits hot stopword-ish tokens), one per-doc window rank. Ties break
    (score desc, token asc) ⇒ fully deterministic output.
    """
    from pyspark.sql import Window

    df = ensure_parallelism(df)
    tok = df.select(
        F.col("doc_id"), F.explode(tokens("text")).alias("tok")
    )
    # df derives from the tf grain (one row per (doc, tok), so df(tok) =
    # row count) — a second aggregate over `tok` would re-run the explode
    # (no subtree reuse in Spark 4); the tf grain materializes once
    tf = (
        tok.groupBy("doc_id", "tok")
        .agg(F.count("*").alias("tf"))
        .localCheckpoint(eager=False)
    )
    dfreq = tf.groupBy("tok").agg(F.count("*").alias("df"))
    scored = tf.join(dfreq, "tok").select(
        "doc_id",
        "tok",
        "tf",
        "df",
        (F.col("tf") * F.lit(1_000_000) / F.col("df")).alias("score"),
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("tok").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("doc_id", "rank", "tok", "tf", "df", "score")
    )


WINNOW_W = 4  # picks one fingerprint per window of WINNOW_W consecutive grams


def winnowing_fingerprints(df: DataFrame, w: int = WINNOW_W) -> DataFrame:
    """Winnowing (Schleimer, Wilkerson, Aiken 2003 — the MOSS algorithm):
    position-robust local fingerprints. In every window of ``w`` consecutive
    3-gram hashes select the minimum (rightmost on ties); the distinct
    (position, hash) picks are the document's fingerprint set. Guarantees:
    any shared substring of ≥ w+2 tokens yields a shared fingerprint, and
    the density is ~2/(w+1) — the local, position-aware complement to the
    global rolling hash (:func:`rolling_fingerprint`) and the shingle-set
    dedup families.

    Entirely MAP-ONLY per document (array folds over the co-located token
    array; O(m·w) integer ops per doc) + one explode — the argmin never
    shuffles. Docs with fewer than w 3-grams emit nothing.
    """
    df = ensure_parallelism(df)
    base = df.select(F.col("doc_id"), tokens("text").alias("_toks")).filter(
        F.size("_toks") >= 2 + w
    )
    # positional 3-gram 48-bit hashes (same digest as dedup.minhash_sig)
    hs = (
        "transform(sequence(0, size(_toks) - 3), i -> "
        "cast(conv(substring(md5(concat(_toks[i], ' ', _toks[i+1], ' ', "
        "_toks[i+2])), 1, 12), 16, 10) as bigint))"
    )
    # rightmost-min pick per window: left-to-right fold with <= keeps ties'
    # rightmost occurrence, matching the paper's robust-winnowing rule
    picks = (
        f"array_distinct(transform(sequence(0, size(__hs__) - {w}), j -> "
        f"aggregate(sequence(j, j + {w - 1}), "
        f"named_struct('pos', cast(-1 as bigint), 'h', cast(9223372036854775807 as bigint)), "
        f"(acc, i) -> if(__hs__[i] <= acc.h, "
        f"named_struct('pos', cast(i as bigint), 'h', __hs__[i]), acc))))"
    )
    return (
        base.select(F.col("doc_id"), F.expr(hs).alias("__hs__"))
        .select(F.col("doc_id"), F.explode(F.expr(picks)).alias("fp"))
        .select("doc_id", F.col("fp.pos").alias("pos"), F.col("fp.h").alias("h"))
    )


SURPRISAL_QUANT = 1000  # milli-nats per token


def unigram_surprisal(df: DataFrame) -> DataFrame:
    """Unigram-LM likelihood scoring (the CCNet/C4 perplexity-filter shape
    with the corpus itself as the LM): fit a unigram model over the corpus
    (token → count / total), then score every document by its mean token
    surprisal −ln p(tok). Low-likelihood outliers are gibberish / wrong
    -language / boilerplate candidates; high-likelihood outliers are
    degenerate stopword soup.

    Per-token surprisal is quantized to integer milli-nats
    (``floor(−ln p · SURPRISAL_QUANT)``) before the per-document sum, so
    the aggregate is order-independent and bit-deterministic across engines — the same
    integer-units pattern as ``dsum`` (a real KenLM swap-in would change
    only the per-token score column, not the plan).

    Scale shape: one partial-agg shuffle builds the vocab (output is
    vocab-sized, NOT corpus-sized); the vocab then broadcasts onto the
    exploded token stream (map-side join — at open-vocab web scale cap to
    the top-K vocab + an OOV floor bucket, same plan), and the per-doc
    roll-up is the second and last shuffle.
    Ref provenance: beyond-reference tier (SURVEY.md §7 F).
    """
    df = ensure_parallelism(df)
    toks = df.select(F.col("doc_id"), F.explode(tokens("text")).alias("tok"))
    vocab = toks.groupBy("tok").agg(F.count("*").alias("cnt"))
    total = vocab.agg(F.sum("cnt").alias("total"))
    mnats = F.floor(
        -F.log(F.col("cnt").cast("double") / F.col("total").cast("double"))
        * F.lit(float(SURPRISAL_QUANT))
    ).cast("bigint")
    return (
        toks.join(F.broadcast(vocab), "tok")
        .crossJoin(F.broadcast(total))
        .select(F.col("doc_id"), mnats.alias("_mnats"))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum("_mnats").alias("surprisal_mnats"),
        )
        .withColumn(
            "avg_surprisal_mnats",
            F.col("surprisal_mnats").cast("double") / F.col("n_tokens"),
        )
        .orderBy("doc_id")
    )


KN_DISCOUNT = 0.75  # the standard absolute discount (Chen & Goodman 1998)


def kn_trigram_surprisal(df: DataFrame) -> DataFrame:
    """Interpolated Kneser-Ney trigram-LM surprisal — the real CCNet/KenLM
    perplexity-filter shape (``unigram_surprisal`` is the order-1 stand-in).
    The corpus is its own LM: every scored trigram was observed, so the
    discounted probability is strictly positive without an OOV backstop.

    Model (absolute discount D = ``KN_DISCOUNT``, continuation counts per
    Chen & Goodman):

      P(w3|w1w2) = max(c(w1w2w3)-D,0)/c(w1w2•)
                   + D·N1+(w1w2•)/c(w1w2•) · Pcont(w3|w2)
      Pcont(w3|w2) = max(N1+(•w2w3)-D,0)/N1+(•w2•)
                   + D·N1+(w2•)/N1+(•w2•) · N1+(•w3)/N1+(••)

    Every model quantity derives from ONE trigram-type table: c(w1w2•) and
    N1+(w1w2•) by grouping types on the context, the continuation counts by
    grouping on (w2,w3) and re-grouping. All arithmetic is +,-,×,÷ over
    integers cast to double — bit-identical across engines — with a single
    ``ln`` at the end, quantized to integer milli-nats exactly like
    ``unigram_surprisal`` so per-doc sums are order-independent.

    Scale shape: the corpus-sized work is one trigram explode (map-only)
    plus TWO shuffles of the corpus grain (the type-count groupBy and the
    final per-doc rollup); everything between operates on the trigram-TYPE
    grain (vocab-scale, « corpus-scale). The type table feeds four
    consumers, so it is lazily localCheckpointed — materializing the narrow
    shuffled grain instead of re-running explode+shuffle per diamond (the
    checkpoint-vs-recompute rule: materialize narrow/expensive, recompute
    wide/cheap). Scoring joins the doc-trigram stream to ONE pre-scored
    type table on the trigram key (AQE handles the inevitable hot trigrams)
    rather than five model tables.
    Ref provenance: beyond-reference tier (SURVEY.md §7 F).
    """
    d_lit = repr(float(KN_DISCOUNT))  # exact decimal repr; 0.75 is binary-exact
    df = ensure_parallelism(df)
    base = df.select(F.col("doc_id"), tokens("text").alias("_toks")).filter(
        F.size("_toks") >= 3
    )
    tri = base.select(
        F.col("doc_id"),
        F.explode(
            F.expr(
                "transform(sequence(2, size(_toks) - 1), i -> "
                "struct(_toks[i-2] AS w1, _toks[i-1] AS w2, _toks[i] AS w3))"
            )
        ).alias("_t"),
    ).select("doc_id", "_t.w1", "_t.w2", "_t.w3")
    # trigram TYPE grain — narrow, shuffled once, consumed by 4 diamonds
    t3 = tri.groupBy("w1", "w2", "w3").agg(F.count("*").alias("c3"))
    t3 = t3.localCheckpoint(eager=False)
    ctx = t3.groupBy("w1", "w2").agg(
        F.sum("c3").alias("ctx_cnt"), F.count("*").alias("ctx_types")
    )
    l2 = t3.groupBy("w2", "w3").agg(F.count("*").alias("cont_w1"))
    l2 = l2.localCheckpoint(eager=False)
    mid = l2.groupBy("w2").agg(
        F.sum("cont_w1").alias("mid_total"), F.count("*").alias("mid_types")
    )
    right = l2.groupBy("w3").agg(F.count("*").alias("cont_prec"))
    tot = l2.agg(F.count("*").alias("total_bigram_types"))
    # identical infix text in the DuckDB oracle → identical IEEE op tree
    p_cont = (
        f"(greatest(cast(cont_w1 as double) - {d_lit}, 0.0) "
        f"/ cast(mid_total as double)) "
        f"+ (({d_lit} * cast(mid_types as double) / cast(mid_total as double)) "
        f"* (cast(cont_prec as double) / cast(total_bigram_types as double)))"
    )
    p_tri = (
        f"(greatest(cast(c3 as double) - {d_lit}, 0.0) "
        f"/ cast(ctx_cnt as double)) "
        f"+ (({d_lit} * cast(ctx_types as double) / cast(ctx_cnt as double)) "
        f"* ({p_cont}))"
    )
    scored = (
        t3.join(ctx, ["w1", "w2"])
        .join(l2, ["w2", "w3"])
        .join(mid, "w2")
        .join(right, "w3")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            "w3",
            F.expr(
                f"cast(floor(-ln({p_tri}) * {SURPRISAL_QUANT}.0) as bigint)"
            ).alias("_mnats"),
        )
    )
    return (
        tri.join(scored, ["w1", "w2", "w3"])
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_trigrams"),
            F.sum("_mnats").alias("kn_surprisal_mnats"),
        )
        .withColumn(
            "avg_kn_surprisal_mnats",
            F.col("kn_surprisal_mnats").cast("double") / F.col("n_trigrams"),
        )
        .orderBy("doc_id")
    )


def normalize_text(df: DataFrame) -> DataFrame:
    """Unicode normalization for multilingual corpora: NFC composition
    (byte-identical text that differs only in combining-character order
    must dedup together) and a fold column (casefold + accent strip) for
    match/lookup keys. Crawl text arrives in every normalization form;
    running exact dedup before normalizing silently misses equal documents.

    Arrow-batched ``mapInPandas`` over Python's unicodedata (the reference
    tables ship with CPython, no extra deps) — map-only, scan-bound, the
    same posture as the rest of the text family. Spark's builtin functions
    cover neither NFC nor full casefold (``lower`` ≠ casefold for ß, İ…).
    """
    import unicodedata

    from collections.abc import Iterator

    import pandas as pd

    def _fold(s: str) -> str:
        decomp = unicodedata.normalize("NFD", s.casefold())
        return unicodedata.normalize(
            "NFC", "".join(c for c in decomp if not unicodedata.combining(c))
        )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            texts = pdf["text"].fillna("")
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "text_nfc": [unicodedata.normalize("NFC", s) for s in texts],
                    "text_folded": [_fold(s) for s in texts],
                }
            )

    df = ensure_parallelism(df)
    return df.select("doc_id", "text").mapInPandas(
        batches, schema="doc_id bigint, text_nfc string, text_folded string"
    )


def tfidf_top_terms(docs: DataFrame) -> DataFrame:
    """Per-document top-5 TF-IDF terms with RATIONAL scoring: score =
    tf·N / df — the idf kept as an exact integer ratio instead of
    log(N/df), so the ranking is bit-deterministic across engines (one
    IEEE division of exact integers; a transcendental log would differ in
    the last ulp between libm implementations and flip near-ties). Rank
    preserves the log ordering exactly for fixed tf since x ↦ log x is
    monotone; ties break (score desc, term asc).

    Scale shape: the token explosion is scanned ONCE and collapses
    map-side into per-(doc, term) counts; df derives from that tf grain
    (df(term) = #rows of tf — no second explode, no count-distinct
    Expand), comes back as a vocabulary-sized broadcast; N is a broadcast
    scalar; top-k via per-doc window on the tf grain (≤ distinct terms
    per doc, never the token explosion).
    """
    from pyspark.sql import Window

    df_in = ensure_parallelism(docs)
    toks = df_in.select("doc_id", F.explode(tokens("text")).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    # diamond lineage: tf feeds BOTH the df aggregate and the score join,
    # and Spark 4 does not reuse the shared exchange across the two
    # branches (verified empirically) — without this the token explosion
    # runs twice, doubling the most expensive stage. Lazy localCheckpoint
    # materializes the (doc, term) grain once at first action.
    tf = tf.localCheckpoint(eager=False)
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    n = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            ((F.col("tf") * F.col("n_docs")).cast("double") / F.col("df")).alias(
                "score"
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("doc_id", F.col("rank").cast("int").alias("rank"), "term", "tf", "df", "score")
    )


def term_postings(docs: DataFrame) -> DataFrame:
    """Inverted-index statistics pass: per term, document frequency, total
    term frequency, and the posting-list extent (first/last doc id). The
    full posting lists themselves would be the index payload; the stats
    are what an index-build plans partitioning and what IDF-family
    scoring consumes. Two-level aggregate: the explosion first collapses
    map-side to the (term, doc) grain — a direct count_distinct alongside
    the other aggregates would plan an Expand that doubles the shuffled
    rows — then one narrow shuffle on term; hot stopword-ish terms are
    AQE-splittable because every aggregate is commutative."""
    df_in = ensure_parallelism(docs)
    toks = df_in.select("doc_id", F.explode(tokens("text")).alias("term"))
    per_doc = toks.groupBy("term", "doc_id").agg(F.count("*").alias("tf"))
    return per_doc.groupBy("term").agg(
        F.count("*").alias("df"),
        F.sum("tf").alias("tf_total"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


def make_sentence_udtf():
    """Python UDTF (Spark 4): text → (sent_idx, start_char, sentence) rows.

    The table-function surface for per-row expansion whose logic doesn't
    fit an expression — registered as ``split_sentences`` and used with
    ``LATERAL``:

        SELECT d.doc_id, s.* FROM documents d,
        LATERAL split_sentences(d.text) s

    Kept OFF the registered hot path by policy: sentence splitting that a
    regex can express stays JVM-side (``F.split`` / ``regexp_extract_all``
    codegen); the UDTF exists for the genuinely-procedural cases (quote
    tracking, abbreviation lists) and as the documented escape hatch.
    Deterministic: pure function of the input string.
    """
    from pyspark.sql.functions import udtf

    @udtf(returnType="sent_idx int, start_char int, sentence string")
    class SplitSentences:
        def eval(self, text: str):
            if not text:
                return
            import re

            idx = 0
            pos = 0
            # sentence = maximal run ending in .!? (+trailing quotes) or EOT
            for m in re.finditer(r"[^.!?]*[.!?]+[\"')\]]*|[^.!?]+$", text):
                s = m.group(0).strip()
                if s:
                    yield idx, m.start() + (len(m.group(0)) - len(m.group(0).lstrip())), s
                    idx += 1
                pos = m.end()

    return SplitSentences


# HTML entity decode order matters: named/numeric entities first, &amp;
# LAST — decoding &amp; first would turn "&amp;lt;" into "<" (double
# decode). Shared by the Spark operator and the DuckDB oracle builder.
HTML_ENTITIES = [
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&nbsp;", " "),
    ("&copy;", "(c)"),
    ("&amp;", "&"),
]

# RE2 (the DuckDB engine) has no backreferences, so script/style each get
# their own non-greedy dotall pattern instead of <(script|style)>.*?</\1>
HTML_STRIP_PATTERNS = [
    r"(?is)<script[^>]*>.*?</script>",
    r"(?is)<style[^>]*>.*?</style>",
    r"(?s)<!--.*?-->",
    r"<[^>]+>",
]


def html_to_text(df: DataFrame) -> DataFrame:
    """HTML → plain text, entirely JVM-side (regexp chain, zero Python):
    drop script/style bodies and comments, strip tags, decode the common
    entities, collapse whitespace. The extraction step of a web-crawl
    pipeline (reference ingests pre-extracted CSV; a 100 TB crawl corpus
    arrives as WARC/HTML, so the engine needs this stage first-class).

    Every pattern is RE2-compatible (no backreferences, no lookaround) so
    the DuckDB oracle can run the IDENTICAL chain — the whole extraction
    is hash-replayable, not just spot-checked.
    """
    x = F.col("html")
    for pat in HTML_STRIP_PATTERNS:
        x = F.regexp_replace(x, pat, " ")
    for src, dst in HTML_ENTITIES:
        x = F.replace(x, F.lit(src), F.lit(dst))
    x = F.trim(F.regexp_replace(x, WS_RE, " "))
    return df.withColumn("text", x)


# A fixed merge table in priority order — REAL byte-pair-encoding merge
# application (the GPT-2 mechanism) with the training step replaced by a
# corpus-independent table of common English pairs, so the operator is
# deterministic and SQL-replayable. Merges run over the marker
# representation (every symbol prefixed '|', trailing space kept — the
# same encoding bpe_train_merges uses) so the pattern '|a |b ' can only
# match a whole (a, b) symbol pair: the marker pins the symbol start and
# the trailing space pins its end, so a merge can never glue the tail of
# a multi-char symbol to the next symbol ('other' segments [o, the, r],
# never [o, ther]). replace() is leftmost-first non-overlapping on both
# engines, so consecutive pairs chain like the textbook greedy loop
# ('|a |a |a ' -> '|aa |a ', not '|a |aa ').
BPE_MERGES = [
    ("t", "h"), ("th", "e"), ("i", "n"), ("e", "r"), ("a", "n"),
    ("r", "e"), ("o", "n"), ("a", "t"), ("e", "n"), ("o", "r"),
    ("a", "r"), ("o", "u"), ("s", "t"), ("in", "g"), ("l", "e"),
]


def bpe_segment(word_col: Column) -> Column:
    """Apply the BPE merge table to one lowercase word: explode to
    '|'-marked space-separated characters, run each merge as a
    sequential left-to-right replace on the marker form ('|a |b ' ->
    '|ab '), then strip the markers. Returns the space-joined symbol
    string; the BPE token count of the word is its symbol count.
    Words are assumed not to contain '|' or spaces (tokens() yields
    [a-z0-9]+ only)."""
    x = F.regexp_replace(word_col, "(.)", "|$1 ")
    for a, b in BPE_MERGES:
        x = F.replace(x, F.lit(f"|{a} |{b} "), F.lit(f"|{a}{b} "))
    return F.trim(F.replace(x, F.lit("|"), F.lit("")))


def bpe_token_stats(df: DataFrame) -> DataFrame:
    """Per-document REAL-BPE statistics: total merged-symbol count,
    character count, and the compression ratio chars/tokens — the number
    a training-data pipeline budgets context length with. Pure JVM
    (regexp + transform/aggregate over the token array, zero Python,
    zero explode — the per-word merge chain runs inside one projection).
    """
    df = ensure_parallelism(df)
    toks = tokens("text")
    # the merge chain as SQL text so it can run INSIDE the transform
    # lambda over the token array (a Column can't cross the lambda
    # scope); marker representation — see BPE_MERGES comment
    seg_sql = "regexp_replace(w, '(.)', '|$1 ')"
    for a, b in BPE_MERGES:
        seg_sql = f"replace({seg_sql}, '|{a} |{b} ', '|{a}{b} ')"
    seg_sql = f"trim({seg_sql})"
    out = df.select(
        "doc_id",
        toks.alias("_toks"),
        F.length("text").alias("n_chars"),
    )
    total = F.expr(
        f"aggregate(transform(_toks, w -> size(split({seg_sql}, ' '))), "
        "0, (a, x) -> a + x)"
    )
    return out.select(
        "doc_id",
        F.col("n_chars").cast("bigint").alias("n_chars"),
        F.size("_toks").cast("bigint").alias("n_words"),
        total.cast("bigint").alias("n_bpe_tokens"),
        F.when(total == 0, F.lit(0.0))
        .otherwise(F.col("n_chars").cast("double") / total)
        .alias("chars_per_token"),
    )


# Tracking parameters every crawl pipeline strips before URL dedup.
URL_TRACKING_RE = "^(utm_[a-z]+|fbclid|gclid|ref)="


def canonical_url(url: Column) -> Column:
    """URL canonicalization, entirely JVM-side and RE2-compatible (the
    DuckDB oracle runs the identical chain): drop the fragment, lowercase
    scheme and host (path/query stay case-sensitive), strip default ports
    (:80/:443), drop tracking query params (utm_*/fbclid/gclid/ref),
    SORT the surviving params (param order is transport noise), and trim
    a trailing slash from non-root paths. The normalization step before
    exact URL dedup of a crawl frontier — without it the same page counts
    4-5 times (case, utm, fragment, slash variants)."""
    u = F.regexp_replace(url, "#.*$", "")  # fragment
    scheme = F.lower(F.regexp_extract(u, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    host = F.lower(F.regexp_extract(u, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1))
    host = F.regexp_replace(host, ":(80|443)$", "")
    path = F.regexp_extract(u, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)", 1)
    path = F.when(path == "", F.lit("/")).otherwise(
        F.regexp_replace(path, "(.)/$", "$1")
    )
    qs = F.regexp_extract(u, "\\?([^#]*)", 1)
    kept = F.array_sort(
        F.filter(
            F.split(qs, "&"),
            lambda p: (p != "") & ~p.rlike(URL_TRACKING_RE),
        )
    )
    query = F.when(F.size(kept) > 0, F.concat(F.lit("?"), F.array_join(kept, "&"))).otherwise(
        F.lit("")
    )
    return F.concat(scheme, F.lit("://"), host, path, query)


def bpe_train_merges(df: DataFrame, n_merges: int = 8) -> DataFrame:
    """LEARN a BPE merge table from the corpus itself — the training half
    of the tokenizer story (``bpe_segment``/``bpe_token_stats`` apply a
    merge table; this induces one), implementing the classic
    Sennrich-et-al./GPT-2 trainer: (1) one corpus-scale pass builds the
    distinct-word frequency table, (2) each of ``n_merges`` rounds counts
    adjacent symbol pairs weighted by word frequency (overlaps counted,
    exactly like the reference ``get_stats``), picks the most frequent
    pair — ties broken by pair string ascending so the result is total-
    order deterministic — and merges it greedily leftmost-first in every
    word.

    Symbol sequences use a marker representation that makes plain
    ``replace()`` a CORRECT greedy BPE merge: every symbol is prefixed
    ``|`` and the sequence keeps a trailing space, so the pattern
    ``'|x |y '`` can only match a whole (x, y) symbol pair (the marker
    pins the symbol start, the trailing space pins its end) and
    consecutive occurrences chain ('|a |a |a |a ' -> '|aa |aa ', the
    textbook greedy result). Both engines' ``replace`` is leftmost-first
    non-overlapping, so the DuckDB oracle replays the training loop
    bit-identically as nested CTEs.

    Scale shape: the only corpus-scale work is the word-count pass (one
    map + one partial-agg shuffle on ``word``); every training round then
    runs on the compact distinct-word vocabulary — exactly how production
    BPE trainers stay tractable at 100 TB (vocab is millions of rows when
    the corpus is billions of documents). Each round's vocabulary is
    lazily localCheckpoint-ed (the fixed-iteration-loop idiom) so round
    i+1 consumes a materialized table instead of re-deriving i rounds of
    lineage; the top-pair pick stays IN-PLAN (1-row broadcast join), no
    driver collect anywhere.
    """
    df = ensure_parallelism(df)
    words = (
        df.select(F.explode(tokens("text")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )
    vocab = words.select(
        F.regexp_replace("word", "(.)", "|$1 ").alias("seq"), "cnt"
    ).localCheckpoint(eager=False)
    merge_rows = []
    for rank in range(1, n_merges + 1):
        pc = (
            vocab.select(F.split(F.trim(F.col("seq")), " ").alias("_s"), "cnt")
            .filter(F.size("_s") >= 2)
            .select(
                F.explode(
                    F.expr(
                        "transform(sequence(0, size(_s) - 2), "
                        "i -> concat(_s[i], ' ', _s[i + 1]))"
                    )
                ).alias("pair"),
                "cnt",
            )
            .groupBy("pair")
            .agg(F.sum("cnt").cast("bigint").alias("pair_count"))
        )
        top1 = (
            pc.orderBy(F.col("pair_count").desc(), F.col("pair").asc())
            .limit(1)
            .localCheckpoint(eager=False)
        )
        merge_rows.append(
            top1.select(
                F.lit(rank).cast("int").alias("rank"),
                F.expr("substring(split_part(pair, ' ', 1), 2)").alias("left_sym"),
                F.expr("substring(split_part(pair, ' ', 2), 2)").alias("right_sym"),
                "pair_count",
            )
        )
        vocab = (
            vocab.crossJoin(F.broadcast(top1.select(F.col("pair").alias("_p"))))
            .select(
                F.replace(
                    F.col("seq"),
                    F.concat(F.col("_p"), F.lit(" ")),
                    F.concat(
                        F.replace(F.col("_p"), F.lit(" |"), F.lit("")), F.lit(" ")
                    ),
                ).alias("seq"),
                "cnt",
            )
            .localCheckpoint(eager=False)
        )
    out = merge_rows[0]
    for m in merge_rows[1:]:
        out = out.unionByName(m)
    return out.orderBy("rank")


# Gopher quality-rule stop-word set (Rae et al. 2021, Appendix A: "contains
# at least two of" these)
GOPHER_STOPS = ("the", "be", "to", "of", "and", "that", "have", "with")


def c4_line_filter(df: DataFrame) -> DataFrame:
    """The C4 line-grain cleaning rules (Raffel et al. 2020 §2.2) as one
    map-only transform: keep a line iff it ends in terminal punctuation
    ([.!?"]), has ≥ 5 words, and does not contain
    "javascript"; a document survives iff ≥ 3 lines
    survive and it contains neither "lorem ipsum" nor "{". Output carries
    the cleaned text (kept lines re-joined) plus the audit counts — the
    filter is a transform AND its own evidence.

    Pure array expressions inside whole-stage codegen: split → filter
    lambda → array_join, zero shuffle, zero Python — at 100 TB this runs
    at scan speed next to the other map-only text operators.
    """
    df = ensure_parallelism(df)
    lc = F.lower(F.col("text"))
    kept = F.expr(
        "filter(split(text, '\\n'), l -> "
        "l rlike '[.!?\"]$' "
        f"AND size(regexp_extract_all(lower(l), '{WORD_RE}', 0)) >= 5 "
        f"AND NOT contains(lower(l), 'javascript'))"
    )
    out = df.select(
        F.col("doc_id"),
        F.size(F.split(F.col("text"), "\n")).cast("bigint").alias("n_lines"),
        F.size(kept).cast("bigint").alias("kept_lines"),
        F.array_join(kept, "\n").alias("kept_text"),
        (~F.contains(lc, F.lit("lorem ipsum"))
         & ~F.contains(F.col("text"), F.lit("{"))).alias("_doc_ok"),
    )
    return out.select(
        "doc_id",
        "n_lines",
        "kept_lines",
        ((F.col("kept_lines") >= 3) & F.col("_doc_ok")).alias("keep_doc"),
        "kept_text",
    )


def gopher_quality_flags(df: DataFrame) -> DataFrame:
    """The Gopher document-grain quality rules (Rae et al. 2021, Appendix
    A) as measured columns plus the combined keep flag: word count in
    [50, 100k], mean word length in [3, 10], symbol-to-word ratio (# and
    ellipses) ≤ 0.1, ≤ 90% of lines starting with a bullet, ≤ 30% of
    lines ending with an ellipsis, ≥ 80% of words containing an alphabetic
    character, and ≥ 2 distinct stop words from the paper's set. Every
    measure is an integer count or a ratio of integers (deterministic
    across engines); ellipsis/symbol counts use the replace-length trick
    so both engines count identical substrings.

    Map-only (array lambdas in codegen), zero shuffle — the same 100 TB
    posture as quality_score; this is the NAMED rule set next to that
    generic score, so corpus governance can cite the exact filter.
    """
    df = ensure_parallelism(df)
    t = F.col("text")
    base = df.select(
        F.col("doc_id"),
        tokens("text").alias("_toks"),
        F.split(t, "\n").alias("_lines"),
        (
            (F.length(t) - F.length(F.replace(t, F.lit("#"), F.lit(""))))
            + (F.length(t) - F.length(F.replace(t, F.lit("..."), F.lit("")))) / F.lit(3)
            + (F.length(t) - F.length(F.replace(t, F.lit("…"), F.lit(""))))
        ).cast("bigint").alias("_n_sym"),
    )
    n = F.size("_toks")
    n_lines = F.size("_lines")
    wl_sum = F.expr("aggregate(transform(_toks, t -> length(t)), 0, (a, x) -> a + x)")
    n_alpha = F.expr("size(filter(_toks, t -> t rlike '[a-z]'))")
    n_bullet = F.expr(
        "size(filter(_lines, l -> ltrim(l) like '•%' OR ltrim(l) like '- %'))"
    )
    n_ellipsis = F.expr(
        "size(filter(_lines, l -> rtrim(l) rlike '(\\\\.\\\\.\\\\.|…)$'))"
    )
    stop_hits = None
    for w in GOPHER_STOPS:
        hit = F.array_contains("_toks", w).cast("int")
        stop_hits = hit if stop_hits is None else (stop_hits + hit)
    dbl = lambda c: c.cast("double")  # noqa: E731
    measured = base.select(
        F.col("doc_id"),
        n.cast("bigint").alias("n_words"),
        F.when(n == 0, F.lit(0.0)).otherwise(dbl(wl_sum) / dbl(n)).alias(
            "mean_word_len"
        ),
        F.when(n == 0, F.lit(0.0)).otherwise(dbl(F.col("_n_sym")) / dbl(n)).alias(
            "symbol_ratio"
        ),
        F.when(n_lines == 0, F.lit(0.0)).otherwise(dbl(n_bullet) / dbl(n_lines)).alias(
            "bullet_line_ratio"
        ),
        F.when(n_lines == 0, F.lit(0.0))
        .otherwise(dbl(n_ellipsis) / dbl(n_lines))
        .alias("ellipsis_line_ratio"),
        F.when(n == 0, F.lit(0.0)).otherwise(dbl(n_alpha) / dbl(n)).alias(
            "frac_alpha_words"
        ),
        stop_hits.cast("bigint").alias("n_stop_hits"),
    )
    keep = (
        F.col("n_words").between(50, 100_000)
        & F.col("mean_word_len").between(3.0, 10.0)
        & (F.col("symbol_ratio") <= 0.1)
        & (F.col("bullet_line_ratio") <= 0.9)
        & (F.col("ellipsis_line_ratio") <= 0.3)
        & (F.col("frac_alpha_words") >= 0.8)
        & (F.col("n_stop_hits") >= 2)
    )
    return measured.withColumn("keep", keep)


BM25_K1, BM25_B = 1.2, 0.75
BM25_QUANT = 1_000_000  # per-term score micro-units (order-independent sums)


def term_freqs(docs: DataFrame) -> DataFrame:
    """(doc_id, term, tf) — the corpus tokenize + per-(doc, term) count
    every sparse-retrieval arm starts from, materialized once
    (lazy localCheckpoint) so hybrid callers can feed BM25 AND Jaccard
    from a single corpus pass (r14): BM25 consumes the counts; Jaccard's
    distinct (doc, term) grain is exactly this frame's key set, so
    ``tf.select(doc_id, term)`` replaces its tokenize + explode +
    DISTINCT shuffle outright (guide §2.4)."""
    df_in = ensure_parallelism(docs)
    toks = df_in.select("doc_id", F.explode(tokens("text")).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    return tf.localCheckpoint(eager=False)  # feeds df, query side, scoring


def bm25_topk(
    docs: DataFrame,
    query_pred,  # Column: which docs act as queries
    k: int = 5,
    max_df_ratio: float | None = None,
    exclude=None,  # Column over (q_doc_id, doc_id); default: identity
    tf: DataFrame | None = None,
) -> DataFrame:
    """BM25 retrieval (Robertson/Lucene idf variant): every query document
    retrieves its top-k corpus neighbours by summed per-term BM25 — the
    classic sparse-retrieval scorer, used in pipelines for related-doc
    mining and eval-set decontamination beyond exact n-gram overlap.

    Determinism contract: the per-(query,doc,term) score is one float
    expression over integer counts (tf, df, dl, N) — identical infix in
    the DuckDB oracle, so bit-identical — quantized to integer micro-units
    BEFORE the per-pair sum, so aggregation order cannot move a score
    (dsum pattern); ranking sorts (score_units DESC, doc_id) — ties break
    on the integer key, never on float ulps.

    Scale shape: one corpus explode → one (doc,term) combinable groupBy;
    df/dl/avgdl are term-/doc-grain aggregates of that grain; the scoring
    join streams postings against the (small) query-term side on the term
    key — hot stopword terms are AQE-splittable. Top-k is a per-query
    window over candidate pairs, bounded by the query vocabulary's
    posting sizes.

    ``max_df_ratio`` is the inverted-index stopword ceiling: terms with
    df/N above it are dropped from the postings BEFORE the query-side
    join (the ``dedup.py`` jaccard df-cap precedent). The postings join
    fans out as Σ_term(q_df·df), so on a crawled corpus the few hundred
    stopword terms dominate the shuffle — the ceiling bounds every
    term's fanout at (max_df_ratio·N)·q_df. Semantics: capped scores
    simply omit those terms' contributions (they carry the least idf
    mass by construction). None = exact uncapped BM25.

    ``tf``: a pre-built (doc_id, term, tf) frame from :func:`term_freqs`,
    for hybrid callers that feed several arms from ONE corpus tokenize
    (r14, guide §1.2 — don't run the same pass twice). None = build here.
    """
    df_in = ensure_parallelism(docs)
    if tf is None:
        tf = term_freqs(docs)
    # dl stays its own cheap size-only tokenize pass: deriving it from
    # Σ tf per doc (exact, incl. the zero-token left-join edge) measured
    # ~10% SLOWER at bench SF in an interleaved A/B — the extra
    # groupBy + join exchanges cost more than the regex split here
    # (r14; revisit if the corpus-scan-to-shuffle ratio flips at scale).
    base = df_in.select(F.col("doc_id"), tokens("text").alias("_toks"))
    dl = base.select("doc_id", F.size("_toks").alias("dl"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    scalars = dl.agg(
        F.count("*").alias("n_docs"), F.sum("dl").alias("len_sum")
    ).select(
        "n_docs",
        (F.col("len_sum").cast("double") / F.col("n_docs").cast("double")).alias(
            "avgdl"
        ),
    )
    if max_df_ratio is not None:
        # 1-row frame feeds two consumers (this filter + the scoring
        # crossJoin) and Spark reuses no exchange across plan diamonds —
        # materialize once lazily instead of re-running the corpus agg
        scalars = scalars.localCheckpoint(eager=False)
        dfreq = (
            dfreq.crossJoin(F.broadcast(scalars.select("n_docs")))
            .filter(
                F.col("df").cast("double")
                <= F.lit(float(max_df_ratio)) * F.col("n_docs").cast("double")
            )
            .select("term", "df")
        )
    qterms = (
        df_in.filter(query_pred)
        .select(F.col("doc_id").alias("q_doc_id"))
        .join(tf.select(F.col("doc_id").alias("q_doc_id"), "term"), "q_doc_id")
        .distinct()
    )
    k1_l, b_l = repr(float(BM25_K1)), repr(float(BM25_B))
    # identical infix in the oracle → identical IEEE tree
    units = (
        f"cast(floor(ln((cast(n_docs as double) - cast(df as double) + 0.5) "
        f"/ (cast(df as double) + 0.5) + 1.0) "
        f"* ((cast(tf as double) * ({k1_l} + 1.0)) "
        f"/ (cast(tf as double) + {k1_l} * (1.0 - {b_l} + {b_l} "
        f"* cast(dl as double) / avgdl))) * {BM25_QUANT}.0) as bigint)"
    )
    # df rides the postings BEFORE the query-side join: with the ceiling
    # on, a dropped stopword term never reaches the q_df·df fanout at all
    # default exclusion: a doc never retrieves itself; chunk-grain callers
    # pass a parent-doc predicate instead (a passage must not retrieve its
    # own document's passages)
    if exclude is None:
        exclude = F.col("doc_id") != F.col("q_doc_id")
    pairs = (
        qterms.join(tf.join(dfreq, "term"), "term")
        .filter(exclude)
        # dl is DOC-grain (corpus-sized) — never broadcast it; AQE picks
        # the strategy at actual size (broadcast at test SF, SMJ at 100 TB)
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(scalars))
        .select(
            "q_doc_id",
            "doc_id",
            F.expr(units).alias("_u"),
        )
        .groupBy("q_doc_id", "doc_id")
        .agg(
            F.count("*").alias("n_terms_matched"),
            F.sum("_u").alias("score_units"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("q_doc_id").orderBy(
        F.col("score_units").desc(), F.col("doc_id")
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "q_doc_id",
            "rank",
            "doc_id",
            "n_terms_matched",
            "score_units",
            (F.col("score_units").cast("double") / F.lit(float(BM25_QUANT))).alias(
                "score"
            ),
        )
        .orderBy("q_doc_id", "rank")
    )


JACCARD_QUANT = 1_000_000


def jaccard_topk(
    docs: DataFrame,
    query_pred,
    k: int = 10,
    dtok: DataFrame | None = None,
) -> DataFrame:
    """Exact token-set Jaccard retrieval for a SMALL query set: each query
    doc ranks every doc sharing ≥1 token by |A∩B| / |A∪B|, quantized to
    integer units via INTEGER division ((10^6·∩) div ∪ — both operands
    exact ints, so both engines produce the same integer; no float in the
    ranking at all). The lexical-overlap leg of hybrid retrieval next to
    BM25's frequency weighting.

    Scale: the candidate join streams the distinct (doc, token) grain
    against the query tokens on the token key — with a handful of query
    docs this is postings-bounded; a full all-pairs Jaccard belongs to the
    MinHash-LSH tier, not here (the operator guards nothing because the
    query side is an explicit predicate, not a cross join).

    ``dtok``: a pre-built distinct (doc_id, term) frame — e.g.
    ``term_freqs(docs).select("doc_id", "term")``, whose key set is this
    grain by construction — so hybrid callers tokenize the corpus once
    (r14). None = build (and materialize) here."""
    df_in = ensure_parallelism(docs)
    if dtok is None:
        dtok = (
            df_in.select("doc_id", F.explode(tokens("text")).alias("term"))
            .distinct()
            .localCheckpoint(eager=False)  # feeds sizes, query side, join
        )
    sizes = dtok.groupBy("doc_id").agg(F.count("*").alias("n_dist"))
    qt = (
        df_in.filter(query_pred)
        .select(F.col("doc_id").alias("q_doc_id"))
        .join(dtok.select(F.col("doc_id").alias("q_doc_id"), "term"), "q_doc_id")
    )
    inter = (
        qt.join(dtok, "term")
        .filter(F.col("doc_id") != F.col("q_doc_id"))
        .groupBy("q_doc_id", "doc_id")
        .agg(F.count("*").alias("n_inter"))
    )
    scored = (
        inter.join(sizes.select(F.col("doc_id").alias("q_doc_id"), F.col("n_dist").alias("qa")), "q_doc_id")
        .join(sizes.select("doc_id", F.col("n_dist").alias("qb")), "doc_id")
        .select(
            "q_doc_id",
            "doc_id",
            F.expr(
                f"cast(({JACCARD_QUANT} * n_inter) div (qa + qb - n_inter) as bigint)"
            ).alias("jaccard_units"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("q_doc_id").orderBy(
        F.col("jaccard_units").desc(), F.col("doc_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_doc_id", "rank", "doc_id", "jaccard_units")
    )


RRF_K = 60


def rrf_fuse(rank_lists: list[DataFrame]) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. 2009) into a top-5 per query:
    each list contributes 10^6 div (RRF_K + rank) — pure INTEGER
    arithmetic, so fused scores and their ordering are engine-exact with
    no float anywhere. Inputs carry (q_doc_id, rank, doc_id); candidates
    absent from a list contribute 0 (union semantics). The standard way to
    combine lexical (BM25/Jaccard) and dense (ANN) rankings without score
    calibration."""
    from functools import reduce

    from pyspark.sql import Window

    contrib = [
        df.select(
            "q_doc_id",
            "doc_id",
            F.expr(f"cast(1000000 div ({RRF_K} + rank) as bigint)").alias("_u"),
        )
        for df in rank_lists
    ]
    fused = (
        reduce(lambda a, b: a.unionByName(b), contrib)
        .groupBy("q_doc_id", "doc_id")
        .agg(F.sum("_u").alias("rrf_units"), F.count("*").alias("n_lists"))
    )
    w = Window.partitionBy("q_doc_id").orderBy(
        F.col("rrf_units").desc(), F.col("doc_id")
    )
    return (
        fused.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("q_doc_id", "rank", "doc_id", "n_lists", "rrf_units")
        .orderBy("q_doc_id", "rank")
    )
