"""Deduplication operators for training-data pipelines (SURVEY.md §7 F).

Four tiers, each a pure DataFrame plan:

- **exact**: hash-groupBy on a content fingerprint — one shuffle on the hash.
- **n-gram Jaccard**: shingle → explode → self-join on shingle → pair
  aggregation. Exact near-dup; the shuffle is on shingle (high fanout), so
  at 100 TB this is the verification stage, not the candidate generator.
- **MinHash + LSH banding**: shingle → k min-hashes → band buckets →
  self-join on (band, bucket) → exact-Jaccard verify of the (tiny) candidate
  set. The classic scale path: shuffle on band buckets only.
- **SimHash**: per-token hash bit-votes → fingerprint; near-dups have small
  Hamming distance. Map-only signature, pairs via bucket or brute force.

Hashes are md5-based (hex strings): slower than xxhash64 but available with
byte-identical semantics in every engine, which is what the correctness
oracle needs. The constants (k=16 hashes, 4 bands × 4 rows) follow the
standard LSH S-curve: P(candidate) = 1-(1-s^4)^4, ~0.5 at s≈0.72.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from network_iq_spark.operators import GUARD_MIN_BYTES, ensure_parallelism
from network_iq_spark.operators.text import WORD_RE, tokens

N_HASHES = 16
N_BANDS = 4
ROWS_PER_BAND = N_HASHES // N_BANDS
SHINGLE_K = 3


def shingle_array_expr() -> str:
    """SQL expression for the distinct ``SHINGLE_K``-token shingle array
    over a bound ``_toks`` column — the ONE place the shingle shape is
    defined, shared by the exploded path (``shingles``) and the map-only
    minhash inline path so the two can never desync."""
    args = ", ' ', ".join(
        f"_toks[i+{j}]" if j else "_toks[i]" for j in range(SHINGLE_K)
    )
    return (
        f"array_distinct(transform(sequence(0, size(_toks) - {SHINGLE_K}), "
        f"i -> concat({args})))"
    )


def _cap_hot_buckets(df: DataFrame, keys: list[str], cap: int) -> DataFrame:
    """Drop rows whose blocking-key bucket exceeds ``cap`` members — the
    ONE implementation of the hot-bucket guard shared by every blocked
    tier (LSH bands, Hamming segments, crop tokens, thumbnail keys).
    Partial aggregation absorbs the hot key map-side; the semi-join back
    shuffles on the same keys the candidate join uses, so surviving rows
    arrive already co-partitioned."""
    small = (
        df.groupBy(*keys)
        .agg(F.count("*").alias("__bn__"))
        .filter(F.col("__bn__") <= int(cap))
        .select(*keys)
    )
    return df.join(small, keys, "left_semi")


def shingles(df: DataFrame) -> DataFrame:
    """Distinct k-token shingles per document (docs with < k tokens drop —
    too short to near-dup on shingle evidence)."""
    toks = tokens("text")
    out = ensure_parallelism(df).select(F.col("doc_id"), toks.alias("_toks")).filter(
        F.size("_toks") >= SHINGLE_K
    )
    shingle = F.explode(F.expr(shingle_array_expr())).alias("shingle")
    return out.select("doc_id", shingle)


def exact_dedup(fingerprints: DataFrame) -> DataFrame:
    """Exact dedup: keep min-id per fingerprint, count the group.

    Input: (id, fingerprint) from ``text.fingerprint``. One shuffle on the
    fingerprint — at 100 TB this is THE cheapest dedup and runs first.
    """
    return fingerprints.groupBy("fingerprint").agg(
        F.min("doc_id").alias("keeper"),
        F.count("*").alias("n_docs"),
    )


def jaccard_pairs(sh: DataFrame, threshold: float) -> DataFrame:
    """Exact n-gram Jaccard similarity for all pairs sharing ≥1 shingle.

    |A∩B| via the shingle self-join; |A∪B| = |A|+|B|−|A∩B| from per-doc
    sizes. Integer counts → the Jaccard double is engine-deterministic.
    """
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
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
    )


def _rare_cand_pairs(rare: DataFrame) -> DataFrame:
    """Distinct (doc_a < doc_b) candidate pairs from the frequency-capped
    (doc, shingle) grain via the rare⋈rare self-join. r14 replaced this
    with a map-side sorted-posting comprehension (collect each df-capped
    posting, emit a<b pairs in one projection) claiming shuffle scaling;
    r15's interleaved scale A/B (scripts/capped_tier_ab.py, synthesized
    1x/3x/10x corpora) REFUTED that claim — the posting form was flat
    ~1.8-1.9s across sizes while this join form fell to 0.9-1.3s at 10x
    (the df cap shrinks the rare grain as the corpus grows, so the join's
    inputs stay small while the posting form pays its groupBy + explode +
    distinct chain regardless), so the join form is back (the BM25-dl
    negative-result precedent). Numbers in OPTIMIZATION_r15.md."""
    a = rare.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = rare.select(F.col("doc_id").alias("doc_b"), "shingle")
    return (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def _capped_overlaps(sh: DataFrame, max_df: int) -> DataFrame:
    """(doc_a < doc_b, inter, sz_a, sz_b) for every pair sharing ≥1 rare
    shingle (document frequency ≤ max_df): the frequency-capped candidate
    generation and the exact full-set intersection shared by
    :func:`jaccard_pairs_capped` and :func:`containment_pairs_capped`."""
    # the exploded shingle table feeds FIVE consumers (df counts, both
    # candidate sides, sizes, both verify sides) — materialize it once or
    # the explode re-executes per consumer. At 100 TB substitute a
    # persisted shingle table at this boundary (same discipline as the
    # pipeline's d1).
    sh = sh.localCheckpoint()
    dfreq = sh.groupBy("shingle").agg(F.count("*").alias("__df__"))
    stop = dfreq.filter(F.col("__df__") > max_df).select("shingle")
    # NO broadcast hint on the stop set: at crawl scale the number of
    # shingles with df > max_df is unbounded (most high-frequency shingles
    # qualify), so forcing a broadcast would OOM the driver. A shuffle
    # anti-join on the shingle key is the shape that survives 100 TB; AQE
    # still converts it to broadcast at runtime when the set is small.
    rare = sh.join(stop, "shingle", "left_anti")
    cand = _rare_cand_pairs(rare)
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
    return inter.join(sa, "doc_a").join(sb, "doc_b")


def jaccard_pairs_capped(sh: DataFrame, threshold: float, max_df: int) -> DataFrame:
    """Exact Jaccard with stop-shingle-capped candidate generation — the
    100 TB shape of ``jaccard_pairs``.

    The all-pairs fanout of a shingle self-join is quadratic in shingle
    document frequency (a shingle present in df docs emits df² pair rows),
    so hot shingles are THE scale-killer. Here candidate pairs come only
    from *rare* shingles (document frequency ≤ max_df — computed with one
    cheap groupBy and removed via a broadcast anti-join), which bounds the
    per-shingle fanout at max_df². The Jaccard itself is then verified over
    the FULL shingle sets of just the candidate pairs (same verify shape as
    ``minhash_lsh_pairs``), so reported similarities are exact, not capped.

    Semantics: a pair is reported iff it shares ≥1 rare shingle. Near-dup
    pairs share many shingles including rare ones, so top-k output matches
    the uncapped operator in practice (asserted by an equivalence test at
    test scale); pairs similar ONLY through ubiquitous boilerplate are
    deliberately out of contract.
    """
    return (
        _capped_overlaps(sh, max_df)
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("inter").cast("double")
                / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def containment_pairs_capped(sh: DataFrame, threshold: float, max_df: int) -> DataFrame:
    """Directed shingle containment C(src→dst) = |src ∩ dst| / |src| — the
    asymmetric complement of Jaccard: a short document wholly embedded in a
    long one has Jaccard ≈ |small|/|big| (invisible below any symmetric
    threshold) but containment ≈ 1.0. The quote/excerpt/boilerplate-wrap
    dedup case. Same frequency-capped candidate generation and exact
    full-set verification as :func:`jaccard_pairs_capped`; each undirected
    candidate yields both directions, filtered at ``threshold``.
    """
    both = _capped_overlaps(sh, max_df)
    fwd = both.select(
        F.col("doc_a").alias("doc_src"),
        F.col("doc_b").alias("doc_dst"),
        (F.col("inter").cast("double") / F.col("sz_a")).alias("containment"),
    )
    rev = both.select(
        F.col("doc_b").alias("doc_src"),
        F.col("doc_a").alias("doc_dst"),
        (F.col("inter").cast("double") / F.col("sz_b")).alias("containment"),
    )
    return fwd.unionByName(rev).filter(F.col("containment") >= threshold)



# One base hash per shingle (48 bits of md5), then k affine integer
# re-hashes (aᵢ·h + bᵢ) mod P — the classic universal-hash family. ONE md5
# per shingle instead of k: at 100 TB the signature build is the dominant
# map cost and integer ops are ~free next to digesting.
MINHASH_P = 1_000_000_007


def minhash_sig(df: DataFrame, n_hashes: int) -> DataFrame:
    """MAP-ONLY MinHash signature frame (doc_id, mins: array<bigint>[k], hs)
    over a (doc_id, text) frame: a
    doc's shingles are already co-located in its row, so the k mins and the
    verify set fold as array expressions — no explode, no groupBy shuffle
    (the exploded formulation shuffled |docs|·|shingles| rows through a
    17-aggregate hash agg). Dedup of hash values (array_distinct) ≡ the
    old collect_set; min over the deduped set ≡ min over the multiset.

    The k mins are k independent ``array_min(transform(hs, h -> (a·h+b) %
    P))`` folds wrapped in ONE ``array(...)`` literal — i.e. a single
    projected signature column, not k projected columns. Value-identical
    to the k-column form (each slot mins the same multiset), and the
    single-column shape exists for the JVM, not the algorithm: k wide
    projected columns made this the heaviest whole-stage-codegen unit in
    the suite, and its first-run JIT/compile cost inside a 160-plan
    benchmark session read as a fake 2.5× "regression" (r8→r9
    root-cause; docs/ROUND9.md).
    Shared by :func:`minhash_lsh_pairs` and the incremental index tier."""
    base = ensure_parallelism(df).select(
        F.col("doc_id"), tokens("text").alias("_toks")
    ).filter(F.size("_toks") >= SHINGLE_K)
    sh_arr = F.expr(shingle_array_expr())
    hs_arr = (
        "array_distinct(transform(__sh__, "
        "s -> cast(conv(substring(md5(s), 1, 12), 16, 10) as bigint)))"
    )
    mins_arr = "array(" + ", ".join(
        f"array_min(transform(hs, h -> ({2 * i + 1} * h + {7 * i + 3}) % {MINHASH_P}))"
        for i in range(n_hashes)
    ) + ")"
    return (
        base.select(F.col("doc_id"), sh_arr.alias("__sh__"))
        .select(F.col("doc_id"), F.expr(hs_arr).alias("hs"))
        .select(F.col("doc_id"), F.expr(mins_arr).alias("mins"), "hs")
    )


def band_bucket_structs(n_bands: int, rows_per_band: int) -> list[Column]:
    """The per-band (band, bucket) structs over an array-typed signature
    column — bucket = md5 of the band's '|'-joined min slots. The ONE
    place the bucket shape is defined for the array form, shared by the
    batch pipeline and the at-rest index builder so their buckets can
    never desync (they must join against each other incrementally)."""
    out = []
    for bnd in range(n_bands):
        cols = [
            F.col("mins")[bnd * rows_per_band + j].cast("string")
            for j in range(rows_per_band)
        ]
        out.append(
            F.struct(
                F.lit(bnd).alias("band"), F.md5(F.concat_ws("|", *cols)).alias("bucket")
            )
        )
    return out


def minhash_lsh_pairs(
    df: DataFrame,
    threshold: float,
    n_bands: int = N_BANDS,
    rows_per_band: int = ROWS_PER_BAND,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Full MinHash→LSH→verify pipeline: candidates from band-bucket
    collisions, verified with exact Jaccard ≥ threshold over the docs'
    shingle-hash SETS.

    The only all-pairs work happens inside buckets; everything else is
    per-doc map work. Two design choices trade a constant for two shuffles
    vs the textbook formulation:

    - **First-matching-band dedup**: the signature's min values ride along
      the band explode, and a colliding pair is kept only in the first band
      whose slots all agree — a column filter on data already in the join
      output, replacing a ``distinct()`` over the candidate stream.
    - **Set-based verify**: each doc's 48-bit shingle hashes are collected
      once into the signature row (``collect_set`` — same shuffle that
      computes the mins); the verify stage is then ``array_intersect`` on
      the candidate pairs, not a re-join through the exploded shingle
      table. Jaccard over the hash sets equals string Jaccard except under
      a 48-bit collision inside one pair's union (~|sh/doc|²/2⁴⁸); both
      engines hash identically so cross-engine parity is unconditional.

    ``max_bucket_size`` is the hot-band guard every corpus-scale dedup
    eventually needs: a degenerate bucket with |B| members (boilerplate
    text, empty-ish docs sharing one min value) costs |B|² candidate
    pairs — quadratic blowup no join strategy fixes, because the pairs
    are REAL join output. The cap drops buckets larger than the bound
    from candidate generation BEFORE the self-join (one combinable
    groupBy count + an equi-join back on the same (band, bucket) key the
    candidate join already shuffles on). Semantics are deterministic and
    SQL-replayable: a pair survives iff its globally-first matching band
    (unchanged attribution, computed from the signature mins) is a
    surviving bucket — if the first-match band is hot, the pair is
    dropped even when a later band would catch it. Recall trade-off is
    the standard one (a hot bucket's pairs are near-uninformative: with
    r min-slots shared by |B| docs, the bucket's Jaccard evidence is the
    same for every member). None = exact uncapped LSH.
    """
    n_hashes = n_bands * rows_per_band
    sig = minhash_sig(df, n_hashes)
    # The signature feeds TWO consumers — the band explode (needs m0..mk) and
    # the set verify (needs hs) — and the map-only plan has no exchange for
    # ReuseExchange to fire on, so without materialization the whole
    # shingle+digest pipeline executes once per branch (measured 1.9x on the
    # full query under the old shape). localCheckpoint materializes the
    # (small: one row per doc) signature once; both branches read it.
    # Same idiom as graph.connected_components' edge materialization.
    sig = sig.localCheckpoint()

    bands = band_bucket_structs(n_bands, rows_per_band)
    bb = sig.select("doc_id", "mins", F.explode(F.array(*bands)).alias("b")).select(
        "doc_id", "mins", F.col("b.band").alias("band"), F.col("b.bucket").alias("bucket")
    )
    if max_bucket_size is not None:
        bb = _cap_hot_buckets(bb, ["band", "bucket"], max_bucket_size)
    a = bb.select(
        F.col("doc_id").alias("doc_a"), F.col("mins").alias("mins_a"), "band", "bucket"
    )
    b = bb.select(
        F.col("doc_id").alias("doc_b"), F.col("mins").alias("mins_b"), "band", "bucket"
    )

    def band_slots_equal(j: int) -> Column:
        cond = F.lit(True)
        for s in range(j * rows_per_band, (j + 1) * rows_per_band):
            cond = cond & (F.col("mins_a")[s] == F.col("mins_b")[s])
        return cond

    first_band = None
    for j in range(n_bands):
        m = band_slots_equal(j)
        first_band = (
            F.when(m, F.lit(j)) if first_band is None else first_band.when(m, F.lit(j))
        )
    cand = (
        a.join(b, ["band", "bucket"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .filter(first_band == F.col("band"))
        .select("doc_a", "doc_b")
    )

    sets = sig.select("doc_id", "hs")
    sa = sets.select(F.col("doc_id").alias("doc_a"), F.col("hs").alias("hs_a"))
    sb = sets.select(F.col("doc_id").alias("doc_b"), F.col("hs").alias("hs_b"))
    inter = F.array_size(F.array_intersect(F.col("hs_a"), F.col("hs_b")))
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("inter", inter)
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("inter").cast("double")
                / (
                    F.array_size(F.col("hs_a"))
                    + F.array_size(F.col("hs_b"))
                    - F.col("inter")
                )
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


# ---------------------------------------------------------------------------
# SimHash (32-bit, md5-derived — engine-portable)
# ---------------------------------------------------------------------------


def simhash32(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_bits: int = 32,
) -> DataFrame:
    """SimHash over distinct word tokens (default 32-bit; pass ``n_bits``
    up to 60 — 15 md5 hex digits is the widest prefix whose integer fits a
    signed int64 with headroom for the positional-arithmetic oracle twin).

    Per token: one md5 → n-bit integer (``base hash``); bit b votes ±1;
    fingerprint bit = (vote sum > 0). Entirely MAP-ONLY: a document's
    distinct tokens are already co-located in its row, so the vote sums
    fold as array ``aggregate``s — no explode, no distinct shuffle, no
    groupBy (the earlier two-shuffle formulation measured 2× slower at
    sf0.1 for identical output). At 100 TB the signature stage is thus pure
    scan throughput; only the pairing step (callers) shuffles.

    Fingerprint width is the collision dial: 32 bits saturates on large
    shared-vocabulary corpora (pair counts grow ~quadratically once
    distinct-fingerprint space fills); 60 bits keeps distance ≤ d pairs a
    meaningful near-dup signal at crawl scale. Docs with zero tokens emit
    no row (same contract as the explode-based formulation).
    """
    assert n_bits % 4 == 0 and 4 <= n_bits <= 60, "n_bits: multiple of 4, ≤ 60"
    nd = n_bits // 4
    hs = F.expr(
        f"transform(array_distinct(regexp_extract_all(lower({text_col}),"
        f" '{WORD_RE}', 0)),"
        f" t -> cast(conv(substring(md5(t), 1, {nd}), 16, 10) as bigint))"
    )
    votes = (
        f"aggregate(__hs__,"
        f" transform(sequence(0, {n_bits - 1}), b -> cast(0 as bigint)),"
        f" (acc, x) -> zip_with(acc,"
        f"   transform(sequence(0, {n_bits - 1}), b -> (shiftright(x, b) & 1) * 2 - 1),"
        f"   (a, v) -> a + cast(v as bigint)))"
    )
    fp = (
        f"aggregate(zip_with({votes}, sequence(0, {n_bits - 1}),"
        f" (v, b) -> if(v > 0, shiftleft(cast(1 as bigint), b), cast(0 as bigint))),"
        f" cast(0 as bigint), (a, x) -> a + x)"
    )
    return (
        ensure_parallelism(df)
        .select(F.col(id_col), hs.alias("__hs__"))
        .filter(F.size("__hs__") > 0)
        .select(id_col, F.expr(fp).alias("simhash"))
    )


# NOTE: the brute-force all-pairs formulation of simhash pairs (crossJoin +
# bit_count filter) lives in tests/test_dedup_scale.py as the reference
# oracle for the pigeonhole-recall proof — deliberately NOT here, so no
# production entry point can reach a cartesian product even by accident
# (r10 VERDICT item 8). The production path is simhash_pairs_blocked below.


def _simhash_segments(fp: Column, n_segments: int, n_bits: int = 32) -> list[Column]:
    """Split an n-bit fingerprint into n_segments contiguous bit slices
    (widths differ by ≤1). Returns one integer Column per segment."""
    base, rem = divmod(n_bits, n_segments)
    out, start = [], 0
    for i in range(n_segments):
        width = base + (1 if i < rem else 0)
        out.append(
            F.shiftright(fp, start).bitwiseAND(F.lit((1 << width) - 1)).cast("bigint")
        )
        start += width
    return out


def _first_matching_segment(xor: Column, n_segments: int, n_bits: int) -> Column:
    """Index of the FIRST of :func:`_simhash_segments`' slices in which
    ``xor`` (the XOR of two fingerprints) is zero, i.e. where the pair
    agrees; the segment join guarantees at least one. Keeping a pair only
    at that segment emits it once, a column filter on data already in the
    join output instead of a ``distinct()`` shuffle."""
    base, rem = divmod(n_bits, n_segments)
    first_match, start = None, 0
    for i in range(n_segments):
        width = base + (1 if i < rem else 0)
        mask = ((1 << width) - 1) << start
        is_match = xor.bitwiseAND(F.lit(mask)) == 0
        first_match = (
            F.when(is_match, F.lit(i))
            if first_match is None
            else first_match.when(is_match, F.lit(i))
        )
        start += width
    return first_match


def simhash_pairs_blocked(
    df: DataFrame,
    max_hamming: int,
    n_bits: int = 32,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming ≤ max_hamming — the 100 TB path.

    Pigeonhole blocking instead of an all-pairs scan (the brute-force
    reference formulation lives in tests/test_dedup_scale.py only):
    split the n-bit fingerprint into ``max_hamming + 1`` segments. Any pair
    within Hamming distance d differs in ≤ d bits, so at least one of the
    d+1 segments is bit-identical — joining on (segment_idx, segment_value)
    finds every qualifying pair (recall = 1.0, same output as brute force).

    Plan shape: one explode (d+1 rows/doc) → self equi-join on the segment
    key → Hamming verify on the candidate pairs. A pair colliding in several
    segments is emitted ONCE via the first-matching-segment rule: keep the
    match only where every earlier segment of ``sim_a XOR sim_b`` is
    non-zero — a pure bitmask filter on columns already in hand, replacing
    the ``distinct()`` shuffle the naive formulation needs. The shuffle is
    on segment values, never a cross product; per-bucket fanout is bounded
    by corpus near-dup density.
    """
    n_seg = max_hamming + 1
    # materialize the tiny signature table once: the map-only fingerprint
    # has no exchange for Spark to reuse, so without this both self-join
    # branches would re-run the whole regexp+md5 pipeline
    s = simhash32(df, n_bits=n_bits).localCheckpoint()
    segs = _simhash_segments(F.col("simhash"), n_seg, n_bits=n_bits)
    seg_structs = [
        F.struct(F.lit(i).alias("seg"), segs[i].alias("seg_val")) for i in range(n_seg)
    ]
    blocked = s.select(
        F.col("doc_id"), F.col("simhash"), F.explode(F.array(*seg_structs)).alias("b")
    ).select(
        "doc_id", "simhash", F.col("b.seg").alias("seg"), F.col("b.seg_val").alias("seg_val")
    )
    a = blocked.select(
        F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sim_a"), "seg", "seg_val"
    )
    b = blocked.select(
        F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sim_b"), "seg", "seg_val"
    )
    xor = F.col("sim_a").bitwiseXOR(F.col("sim_b"))
    first_match = _first_matching_segment(xor, n_seg, n_bits)
    return (
        a.join(b, ["seg", "seg_val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .filter(first_match == F.col("seg"))
        .withColumn("hamming", F.bit_count(xor))
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


# ---------------------------------------------------------------------------
# Media near-dup: perceptual gradient hashes over decoded samples (r9)
# ---------------------------------------------------------------------------


def hamming_blocked_pairs(
    df: DataFrame,
    hash_col: str,
    max_hamming: int,
    n_bits: int,
    id_col: str = "media_id",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Generic Hamming-≤-d pair finder over any integer fingerprint
    column — the pigeonhole segment-blocking core shared by the image
    (dHash) and audio (waveform gradient) near-dup tiers, same recall
    proof as :func:`simhash_pairs_blocked`: split the n_bits hash into
    max_hamming+1 segments; a pair within the threshold is bit-identical
    in ≥1 segment, so the (segment, value) equi-join finds every
    qualifying pair without an all-pairs scan. First-matching-segment
    emits each pair once — a bitmask filter, not a distinct() shuffle.
    Scale: shuffle is on segment values; per-bucket fanout is bounded by
    corpus near-dup density exactly as in the text family.

    ``max_bucket_size`` (r10): the hot-bucket guard for the media
    family's skew axis — a planted identical-crop/clip cluster of |B|
    members puts all of them in ONE (seg, seg_val) bucket per segment
    and costs |B|² join output per colliding segment, exactly the
    celebrity-bucket case the text tier caps (minhash_lsh_pairs
    max_bucket_size). Buckets above the cap are dropped BEFORE the
    self-join, with the same deterministic attribution rule: a pair
    survives iff its globally-FIRST matching segment's bucket is at or
    under the cap (the first-matching filter runs on the ORIGINAL
    hashes, so attribution is unaffected by which buckets were
    dropped) — SQL-replayable, measured in scripts/media_skew_soak.py."""
    n_seg = max_hamming + 1
    s = df.select(F.col(id_col), F.col(hash_col).alias("__h__")).localCheckpoint()
    segs = _simhash_segments(F.col("__h__"), n_seg, n_bits=n_bits)
    seg_structs = [
        F.struct(F.lit(i).alias("seg"), segs[i].alias("seg_val")) for i in range(n_seg)
    ]
    blocked = s.select(
        F.col(id_col), F.col("__h__"), F.explode(F.array(*seg_structs)).alias("b")
    ).select(id_col, "__h__", F.col("b.seg").alias("seg"), F.col("b.seg_val").alias("seg_val"))
    if max_bucket_size is not None:
        blocked = _cap_hot_buckets(blocked, ["seg", "seg_val"], max_bucket_size)
    a = blocked.select(
        F.col(id_col).alias("id_a"), F.col("__h__").alias("h_a"), "seg", "seg_val"
    )
    b = blocked.select(
        F.col(id_col).alias("id_b"), F.col("__h__").alias("h_b"), "seg", "seg_val"
    )
    xor = F.col("h_a").bitwiseXOR(F.col("h_b"))
    first_match = _first_matching_segment(xor, n_seg, n_bits)
    return (
        a.join(b, ["seg", "seg_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(first_match == F.col("seg"))
        .withColumn("hamming", F.bit_count(xor).cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def hamming_index(
    df: DataFrame,
    hash_col: str,
    max_hamming: int,
    n_bits: int,
) -> DataFrame:
    """At-rest segment index for incremental Hamming dedup: (media_id,
    hash, seg, seg_val) — one row per fingerprint segment. A deployment
    persists this partitioned/bucketed by (seg, seg_val) so the batch
    probe co-locates without a history-side shuffle (the lsh_index
    precedent for the text tier)."""
    n_seg = max_hamming + 1
    segs = _simhash_segments(F.col(hash_col), n_seg, n_bits=n_bits)
    seg_structs = [
        F.struct(F.lit(i).alias("seg"), segs[i].alias("seg_val")) for i in range(n_seg)
    ]
    return df.select(
        F.col("media_id"), F.col(hash_col).alias("__h__"),
        F.explode(F.array(*seg_structs)).alias("b"),
    ).select(
        F.col("media_id"), F.col("__h__").alias(hash_col),
        F.col("b.seg").alias("seg"), F.col("b.seg_val").alias("seg_val"),
    )


def incremental_hamming_dedup(
    batch: DataFrame,
    index: DataFrame,
    hash_col: str,
    max_hamming: int,
    n_bits: int,
) -> DataFrame:
    """Near-dup detection of an incoming media batch AGAINST an at-rest
    fingerprint index (:func:`hamming_index`) — the media twin of
    :func:`incremental_near_dup`: segment collisions between batch and
    index generate candidates, the Hamming bound verifies. Output
    (new_id, old_id, hamming ≤ max_hamming) — what a continual-ingest
    pipeline drops (or links) before appending survivors' index rows.
    Cost is O(batch × collision rate), never O(history); recall is 1.0
    by the pigeonhole argument. First-matching-segment dedup (computed
    from the hash pair, data already in the join output) replaces a
    distinct() shuffle, exactly as in :func:`hamming_blocked_pairs`."""
    n_seg = max_hamming + 1
    probe = hamming_index(batch, hash_col, max_hamming, n_bits).select(
        F.col("media_id").alias("new_id"), F.col(hash_col).alias("h_new"),
        "seg", "seg_val",
    )
    base_idx = index.select(
        F.col("media_id").alias("old_id"), F.col(hash_col).alias("h_old"),
        "seg", "seg_val",
    )
    xor = F.col("h_new").bitwiseXOR(F.col("h_old"))
    first_match = _first_matching_segment(xor, n_seg, n_bits)
    return (
        probe.join(base_idx, ["seg", "seg_val"])
        .filter(first_match == F.col("seg"))
        .withColumn("hamming", F.bit_count(xor).cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("new_id", "old_id", "hamming")
    )


def image_dhash(side: int = 8) -> Column:
    """Row-wise gradient perceptual hash (dHash) over a ``side``×``side``
    luma raster stored row-major in the int array ``px``: bit (r, c) is set iff
    px[r][c+1] > px[r][c] — side·(side−1) bits (56 for 8×8) packed
    little-endian into one bigint. Integer-exact over the repo's bit-exact
    decoders, so unlike float perceptual hashes it is SQL-replayable. One
    ``aggregate`` over a bit-index sequence (the minhash_sig codegen
    lesson: one compact expression, not 56 projected conditions).

    BOUNDARY: gradient bits tolerate re-encode / uniform brightness (a
    monotone transform preserves every comparison) but NOT cropping or
    aspect change — removing one row/column re-indexes every remaining
    (r, c) pair, so a 10–20 % crop scrambles most bits and the twin is
    invisible to this tier (demonstrated in tests/test_dedup_scale.py).
    Crop-tolerant detection is :func:`cropped_grid_pairs` (sub-block
    pigeonhole blocking + exact 2-D lag-scan verify)."""
    n_c = side - 1
    n_bits = side * n_c
    return F.expr(
        f"aggregate(sequence(0, {n_bits - 1}), cast(0 as bigint), (acc, k) -> "
        f"acc + IF(px[(k div {n_c}) * {side} + (k % {n_c}) + 1] "
        f"> px[(k div {n_c}) * {side} + (k % {n_c})], "
        f"shiftleft(cast(1 as bigint), k), cast(0 as bigint)))"
    )


def image_near_dup_pairs(
    df: DataFrame,
    max_hamming: int = 6,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Image near-duplicate pairs by dHash Hamming ≤ max_hamming — the
    image twin of MinHash near-dup that a multimodal corpus run needs,
    wired to the codec tier (callers feed DECODED luma, so the hash sees
    what the bit-exact decoders produced, not the compressed bytes).

    Blocking/dedup semantics live in :func:`hamming_blocked_pairs`
    (recall 1.0 vs brute force, never an all-pairs scan);
    ``max_bucket_size`` passes through to its hot-bucket guard (the
    identical-crop-cluster skew axis, soaked in docs/SCALE.md r10).
    """
    hashed = df.select(F.col("media_id"), image_dhash().alias("dhash"))
    return hamming_blocked_pairs(
        hashed, "dhash", max_hamming, n_bits=56, max_bucket_size=max_bucket_size
    )


def cropped_grid_pairs(
    df: DataFrame,
    max_crop: int = 2,
    side: int = 8,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Crop-TOLERANT image near-dup over variable-size integer luma grids
    (r11, VERDICT item 4) — the cell the modality×transform matrix was
    missing: :func:`image_dhash` provably cannot see a cropped twin (the
    crop re-indexes every gradient pair), and cropping is the commonest
    image near-dup class in crawled corpora.

    Input rows are (id, w, h, px) with ``px`` the H×W grid flattened
    row-major. A pair is reported when one grid equals a window of the
    other shifted by (dr, dc), |dr|,|dc| ≤ ``max_crop``, exactly over the
    overlap.

    Blocking is PIGEONHOLE-DETERMINISTIC, not probabilistic: every B×B
    sub-block (B = side − max_crop) of every image becomes
    an md5 token; a crop that removes ≤ max_crop rows/cols from any edge
    preserves at least one intact B×B block of the original verbatim, so
    the token equi-join finds every PURE-crop pair (recall 1.0, same
    argument as the SimHash/Hamming segment blocking —
    and unlike the shifted-sequence tier's LSH S-curve, which is why
    this tier is oracle-pairable). A tolerant verify
    (:func:`incremental_cropped_dedup`'s ``ssd_tol`` > 0) weakens the
    verbatim-token argument: a residual pixel landing inside EVERY sub-block of
    the smaller grid defeats the blocking, so recall for
    perturbed-and-cropped twins is best-effort (a tolerant tier would
    block on quantized tokens). Per-image fanout is bounded:
    (h−B+1)·(w−B+1) tokens (9 for 8×8/B=6). Degenerate constant images
    pivot into hot token buckets — ``max_bucket_size`` drops oversized
    buckets (recall stays 1.0 for any pair sharing at least one
    under-cap token, the hamming_blocked_pairs contract).

    Verify is an exact integer 2-D lag scan over the (2·max_crop+1)²
    offsets: overlap-only SSD in a-coords vs b-coords, requiring overlap
    ≥ B² so tiny accidental alignments cannot qualify. Ties break toward
    the smallest |dr|+|dc| (then dr, dc) — the struct-ordering lesson
    from the shifted-sequence tier. Pure JVM expressions throughout; the
    shuffles are the token exchange and the two grid re-attachments.
    Scale shape: candidates ∝ real crop density + capped token
    collisions, never all-pairs."""
    B = side - max_crop
    grids = _crop_grids_norm(df, B, "media_id", "px", "w", "h")
    toks = _crop_tokens(grids, B, max_bucket_size=max_bucket_size)
    cand = _crop_candidates(toks)
    return _crop_verify(cand, grids, grids, max_crop, B, 0, "id_a", "id_b")


def _crop_grids_norm(
    df: DataFrame, B: int, id_col: str, px_col: str, w_col: str, h_col: str
) -> DataFrame:
    """Normalize a grid frame to (__id__, __w__, __h__, __px__). Grids
    smaller than one B×B block can never anchor a token (and a
    sequence(0, negative) would run descending): excluded by contract."""
    return (
        ensure_parallelism(df)
        .select(
            F.col(id_col).alias("__id__"),
            F.col(w_col).cast("int").alias("__w__"),
            F.col(h_col).cast("int").alias("__h__"),
            F.col(px_col).alias("__px__"),
        )
        .filter((F.col("__h__") >= B) & (F.col("__w__") >= B))
        .localCheckpoint(eager=False)
    )


def _crop_candidates(toks: DataFrame) -> DataFrame:
    """(id_a < id_b) pairs sharing at least one sub-block token — the
    crop tier's candidate join, shared by the image and video cells so a
    blocking change (skew hint, dedup rule) can never diverge them."""
    return (
        toks.alias("a")
        .join(toks.alias("b"), "tok")
        .filter(F.col("a.__id__") < F.col("b.__id__"))
        .select(
            F.col("a.__id__").alias("id_a"), F.col("b.__id__").alias("id_b")
        )
        .distinct()
    )


def _crop_tokens(
    grids: DataFrame, B: int, max_bucket_size: int | None = None
) -> DataFrame:
    """(__id__, tok) — one md5 token per B×B sub-block; the blocking key
    of the crop tier and the at-rest artifact of :func:`crop_index`."""
    token_expr = (
        f"flatten(transform(sequence(0, __h__ - {B}), r0 -> "
        f"transform(sequence(0, __w__ - {B}), c0 -> "
        f"md5(array_join(flatten(transform(sequence(0, {B - 1}), i -> "
        f"transform(sequence(0, {B - 1}), j -> "
        f"cast(__px__[(r0 + i) * __w__ + c0 + j] as string)))), ' ')))))"
    )
    toks = grids.select(
        "__id__", F.explode(F.expr(token_expr)).alias("tok")
    ).distinct()
    if max_bucket_size is not None:
        toks = _cap_hot_buckets(toks, ["tok"], max_bucket_size)
    return toks


def _crop_verify(
    cand: DataFrame,
    grids_a: DataFrame,
    grids_b: DataFrame,
    max_crop: int,
    B: int,
    ssd_tol: int,
    a_name: str,
    b_name: str,
    frames: int = 1,
) -> DataFrame:
    """Exact integer 2-D lag scan over candidate pairs: attach both
    grids, take the min (ssd, |dr|+|dc|, dr, dc) struct over the
    (2·max_crop+1)² offsets, keep pairs with ssd ≤ ssd_tol. With
    ``frames`` > 1 the grids are frame-major concatenations of
    ``frames`` equal-size planes and the SSD sums over every plane at
    the SAME (dr, dc) — the video generalization; frames=1 is the image
    tier unchanged."""
    ga = grids_a.select(
        F.col("__id__").alias(a_name),
        F.col("__w__").alias("wa"),
        F.col("__h__").alias("ha"),
        F.col("__px__").alias("pxa"),
    )
    gb = grids_b.select(
        F.col("__id__").alias(b_name),
        F.col("__w__").alias("wb"),
        F.col("__h__").alias("hb"),
        F.col("__px__").alias("pxb"),
    )

    # ONE lambda body over a literal array of lag structs instead of
    # (2·max_crop+1)² (× frames) unrolled struct texts. The per-lag math
    # is identical — b[i, j] vs a[i + dr, j + dc], i ∈ [max(0, −dr),
    # min(hb, ha−dr)), j ∈ [max(0, −dc), min(wb, wa−dc)), the diff
    # materialized ONCE per element via transform and squared in the
    # fold (HOFs do not CSE; inline (b−a)·(b−a) doubles every array
    # lookup and cast in the interpreted lambda path) — but the
    # expression TREE is ~lags(×frames) smaller, which is what the
    # driver pays to parse/analyze/optimize on every build inside the
    # timed region (guide §3.3: planning time itself can become the
    # bottleneck; measured r14: the unrolled video verify alone cost
    # ~0.7 s of py4j/parse per plan build). rlo/clo/pen fold at build
    # time exactly as before — they ride in the literal lag structs.
    lags = ", ".join(
        f"named_struct('dr', {dr}, 'dc', {dc}, 'pen', {abs(dr) + abs(dc)}, "
        f"'rlo', {max(0, -dr)}, 'clo', {max(0, -dc)})"
        for dr in range(-max_crop, max_crop + 1)
        for dc in range(-max_crop, max_crop + 1)
    )
    rhi = "least(hb, ha - l.dr) - 1"
    chi = "least(wb, wa - l.dc) - 1"
    ovl = f"(({rhi}) - l.rlo + 1) * (({chi}) - l.clo + 1)"
    guard = f"({rhi}) < l.rlo OR ({chi}) < l.clo OR ({ovl}) < {B * B}"

    def frame_ssd(oa: str, ob: str) -> str:
        return (
            f"aggregate(sequence(l.rlo, {rhi}), cast(0 as bigint), (acc, i) -> "
            f"acc + aggregate(transform(sequence(l.clo, {chi}), j -> "
            f"cast(pxb[{ob}i * wb + j] as bigint) - cast(pxa[{oa}(i + l.dr) * wa + j + l.dc] as bigint)), "
            f"cast(0 as bigint), (a2, d) -> a2 + d * d))"
        )

    if frames == 1:
        ssd = frame_ssd("", "")
    else:
        # frame-major planes: frame f of grid x starts at f·hx·wx; the
        # outer fold sums the per-frame SSDs in the same f-ascending
        # order the unrolled " + ".join emitted.
        ssd = (
            f"aggregate(sequence(0, {frames - 1}), cast(0 as bigint), "
            f"(facc, f) -> facc + {frame_ssd('f * ha * wa + ', 'f * hb * wb + ')})"
        )
    best = (
        f"array_min(transform(array({lags}), l -> "
        f"named_struct('ssd', IF({guard}, cast({1 << 62} as bigint), {ssd}), "
        f"'pen', l.pen, 'dr', l.dr, 'dc', l.dc)))"
    )
    return (
        cand.join(ga, a_name)
        .join(gb, b_name)
        .withColumn("__best__", F.expr(best))
        .filter(F.col("__best__.ssd") <= ssd_tol)
        .select(
            a_name,
            b_name,
            F.col("__best__.dr").alias("dr"),
            F.col("__best__.dc").alias("dc"),
            F.col("__best__.ssd").alias("ssd"),
        )
    )


def crop_index(
    df: DataFrame, max_crop: int = 2, side: int = 8
) -> tuple[DataFrame, DataFrame]:
    """At-rest artifacts for incremental crop-tolerant dedup — the crop
    tier's twin of the text tier's :func:`lsh_index` (bands, sets) and
    the media tier's :func:`hamming_index`: a (media_id, tok) sub-block
    token table over B×B blocks, B = side − max_crop (a deployment
    persists it partitioned/bucketed by ``tok`` so the batch probe
    co-locates without a history-side shuffle) and the (media_id, w, h,
    px) grid table the verify reads."""
    B = side - max_crop
    grids = _crop_grids_norm(df, B, "media_id", "px", "w", "h")
    toks = _crop_tokens(grids, B).select(
        F.col("__id__").alias("media_id"), "tok"
    )
    return toks, grids.select(
        F.col("__id__").alias("media_id"),
        F.col("__w__").alias("w"),
        F.col("__h__").alias("h"),
        F.col("__px__").alias("px"),
    )


def incremental_cropped_dedup(
    batch: DataFrame,
    idx_toks: DataFrame,
    idx_grids: DataFrame,
    max_crop: int = 2,
    side: int = 8,
    frames: int = 1,
) -> DataFrame:
    """Crop-tolerant dedup of an incoming (media_id, w, h, px) batch
    AGAINST an at-rest token index (:func:`crop_index`, built with the
    same ``max_crop`` and ``side``) — completing the incremental symmetry
    across every dedup grain (exact / near / chunk / hamming / crop):
    token collisions between batch and index generate candidates
    (pigeonhole recall 1.0 for crops ≤ max_crop), the exact 2-D lag scan
    verifies. Output (new_id, old_id, dr, dc, ssd = 0). Cost is
    O(batch × collision rate), never O(history). With ``frames`` > 1 this
    is the VIDEO crop cell's deployment shape (r12): :func:`crop_index` already
    tokens only the first plane (its max index is h·w − 1), and the
    verify sums SSD across every plane at the shared offset — no
    video-specific index format needed."""
    B = side - max_crop
    bg = _crop_grids_norm(batch, B, "media_id", "px", "w", "h")
    probe = _crop_tokens(bg, B).select(
        F.col("__id__").alias("new_id"), "tok"
    )
    base_toks = idx_toks.select(F.col("media_id").alias("old_id"), "tok")
    cand = probe.join(base_toks, "tok").select("new_id", "old_id").distinct()
    ig = _crop_grids_norm(idx_grids, B, "media_id", "px", "w", "h")
    return _crop_verify(
        cand, bg, ig, max_crop, B, 0, "new_id", "old_id", frames=frames
    )


def video_cropped_pairs(
    df: DataFrame,
    frames: int = 4,
    max_crop: int = 1,
    side: int = 4,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Per-frame crop-TOLERANT video near-dup (r12, VERDICT item 6) —
    the video cell of the transform matrix's crop axis: a cropped
    re-encode of a video (letterbox removal, aspect recrop) crops EVERY
    frame by the same (dr, dc) window, which
    :func:`video_frame_shifted_pairs` (temporal axis) and
    ``video_dhash`` (positional bits) both provably miss. Input rows are
    (id, w, h, px) with ``px`` the frame-major concatenation of
    ``frames`` equal H×W luma planes.

    Blocking reuses the image crop tier's PIGEONHOLE argument at frame-0
    grain: every B×B sub-block of each clip's FIRST frame becomes an md5
    token (:func:`_crop_tokens` verbatim on the frame-0 slice), and a
    per-frame crop ≤ max_crop preserves at least one intact B×B block of
    frame 0 — so the token equi-join finds every pure-crop pair with
    recall 1.0, deterministic, oracle-pairable (the
    :func:`cropped_grid_pairs` contract; blocking on frame 0 alone keeps
    the per-clip token fanout identical to the image tier instead of
    ×frames). Verify is the exact integer 2-D lag scan GENERALIZED over
    frames (:func:`_crop_verify` frames > 1): one (dr, dc) per pair,
    SSD summed across every plane — a pair whose frame 0 aligns but
    later frames diverge is rejected exactly. Output
    (id_a, id_b, dr, dc, ssd = 0).

    Scale shape: token fanout (h−B+1)·(w−B+1) per clip regardless of
    frame count; candidates ∝ crop density + capped token collisions
    (``max_bucket_size`` drops degenerate constant-frame buckets);
    verify is O(candidates × (2·max_crop+1)² · frames·B²) map work."""
    B = side - max_crop
    grids = _crop_grids_norm(df, B, "media_id", "px", "w", "h")
    # frame-0 tokens without slicing: _crop_tokens' max index is
    # __h__*__w__ - 1, which IS the first plane of the frame-major array
    toks = _crop_tokens(grids, B, max_bucket_size=max_bucket_size)
    cand = _crop_candidates(toks)
    return _crop_verify(
        cand, grids, grids, max_crop, B, 0, "id_a", "id_b",
        frames=frames,
    )


def downscale_derivative_pairs(
    df: DataFrame, max_bucket_size: int | None = None
) -> DataFrame:
    """SCALE-derivative image pairs (r11) — the third transform axis
    after shift (audio/video) and crop: detect (parent, thumbnail)
    pairs where the thumbnail is the parent's 2× BOX-AVERAGE
    downscale, the decimation every thumbnailing pipeline runs. The
    floor box average is INTEGER-EXACT (thumb[i,j] = tile_sum div 4),
    so unlike interpolating resamplers the whole tier is deterministic
    and SQL-replayable: each image's derived half-res grid is computed
    in-plan, keyed by the md5 of its serialized values, and joined
    against every image's OWN grid key — an exact-match join, recall
    1.0 for same-pipeline derivatives by construction.

    Output (full_id, thumb_id, thumb_w, thumb_h): thumb is the
    downscale of full. Verification is implied by the full-grid key
    equality (md5 over the exact serialized values — the same
    digest-as-equality convention as exact_dedup's fingerprint).

    BOUNDARY: detects floor-box-average derivatives exactly; a
    thumbnail produced by a DIFFERENT resampler (bilinear, rounding
    half-up, sRGB-aware averaging) lands ±1-2 per pixel away and needs
    a banded verify over candidate pairs — that variant is not
    oracle-able at tol > 0 without quantization and is out of this
    tier's claim. Combined crop+scale needs the crop tier run at thumb
    grain on the derived pyramid (compose, don't multiply operators).

    Scale shape: one map to derive + hash, one exact equi-join on the
    digest; ``max_bucket_size`` caps degenerate constant-image keys
    (a constant image's thumb key collides with every same-constant
    thumb)."""
    # derived half-res grid: tile (i, j) sums the 2×2 block, floor-divides
    derived = (
        "flatten(transform(sequence(0, __h__ div 2 - 1), i -> "
        "transform(sequence(0, __w__ div 2 - 1), j -> "
        "aggregate(sequence(0, 3), cast(0 as bigint), (a, k) -> "
        "a + __px__[(i * 2 + k div 2) * __w__ "
        "+ j * 2 + k % 2]) div 4)))"
    )
    key = "md5(concat(cast(__kw__ as string), 'x', cast(__kh__ as string), ':', array_join(transform(__g__, x -> cast(x as string)), ' ')))"
    grids = _crop_grids_norm(df, 1, "media_id", "px", "w", "h")
    parents = (
        grids.filter((F.col("__h__") >= 2) & (F.col("__w__") >= 2))
        .select(
            F.col("__id__").alias("full_id"),
            F.expr(derived).alias("__g__"),
            (F.col("__w__") / 2).cast("int").alias("__kw__"),
            (F.col("__h__") / 2).cast("int").alias("__kh__"),
        )
        .select(
            "full_id",
            F.expr(key).alias("gkey"),
            F.col("__kw__").alias("thumb_w"),
            F.col("__kh__").alias("thumb_h"),
        )
    )
    thumbs = grids.select(
        F.col("__id__").alias("thumb_id"),
        F.expr(
            key.replace("__g__", "__px__")
            .replace("__kw__", "__w__")
            .replace("__kh__", "__h__")
        ).alias("gkey"),
    )
    if max_bucket_size is not None:
        # the degenerate pivot is parents × thumbs per key (N identical
        # constant images all derive the same key), so BOTH sides cap —
        # product bounded by cap²
        parents = _cap_hot_buckets(parents, ["gkey"], max_bucket_size)
        thumbs = _cap_hot_buckets(thumbs, ["gkey"], max_bucket_size)
    return (
        parents.join(thumbs, "gkey")
        .filter(F.col("full_id") != F.col("thumb_id"))
        .select("full_id", "thumb_id", "thumb_w", "thumb_h")
    )


# md5-over-(length, values) sequence key — the derived-key tiers' ONE
# grid key, kept as a {v} format string so the pairs tier's emitted
# expression text stays byte-identical to its r12 (stamped) form
_SEQ_MD5_KEY_FMT = (
    "md5(concat(cast(size({v}) as string), ':', "
    "array_join(transform({v}, x -> cast(x as string)), ' ')))"
)


def _box_decimated_expr(factor: int, stride: int, v: str = "__s__") -> str:
    """SQL text of the truncating ``factor``× box decimation of ``v``
    (stride-grouped for video) — shared by the pairs tier and the
    at-rest index so the two can never disagree on the derived signal.
    stride = 1 emits the audio formula verbatim (the r12 byte-identity
    contract)."""
    if stride == 1:
        return (
            f"transform(sequence(0, size({v}) div {factor} - 1), i -> "
            f"aggregate(sequence(0, {factor - 1}), cast(0 as bigint), "
            f"(a, k) -> a + {v}[i * {factor} + k]) div {factor})"
        )
    fs = factor * stride
    return (
        f"transform(sequence(0, (size({v}) div {fs}) * {stride} - 1), j -> "
        f"aggregate(sequence(0, {factor - 1}), cast(0 as bigint), "
        f"(a, k) -> a + {v}[((j div {stride}) * {factor} + k) * {stride} "
        f"+ j % {stride}]) div {factor})"
    )


def resampled_derivative_pairs(
    df: DataFrame,
    s_col: str = "s",
    max_bucket_size: int | None = None,
    stride: int = 1,
) -> DataFrame:
    """RESAMPLE-derivative pairs over integer SEQUENCES (r12, VERDICT
    item 5) — the audio cell of the transform matrix's scale axis, the
    1-D sibling of :func:`downscale_derivative_pairs`: detect
    (full, resampled) pairs where the resampled clip is the full clip's
    2× box-average DECIMATION — the sample-rate halving every
    transcode pipeline runs (48 kHz → 24 kHz and friends). The decimated
    sample is the truncating integer average of each 2-sample
    window (d[i] = Σ s[2·i + k] div 2 — Spark ``div`` and DuckDB ``//``
    both truncate toward zero, so the tier is engine-exact on SIGNED PCM
    with no offset trick), so each clip's derived half-rate signal is
    computed in-plan, keyed by md5 over (length, values), and joined
    against every clip's OWN key — an exact-match equi-join, recall 1.0
    for same-pipeline derivatives by construction, no similarity
    threshold anywhere. Output (full_id, resampled_id, resampled_n).

    BOUNDARY (the :func:`downscale_derivative_pairs` claim, 1-D): exact
    for truncating-box decimators; a polyphase/windowed-sinc resampler
    lands ±1–2 per sample away and needs a banded verify — outside this
    tier. Resample+shift composes with the shifted tier at half rate
    (compose, don't multiply operators). Scale shape: one map to derive
    + hash, one exact equi-join on the digest; ``max_bucket_size`` caps
    degenerate constant-clip keys on BOTH sides (product ≤ cap²), the
    downscale tier's contract verbatim.

    ``stride`` > 1 is the VIDEO cell of the same axis (r12): with stride
    = one frame's pixels, the decimation window groups 2
    CONSECUTIVE FRAMES and averages them per pixel position — the
    frame-rate halving of a 60→30 fps transcode. d[g·stride + p] =
    Σ_k s[(2g + k)·stride + p] div 2; stride = 1 reduces to
    the audio formula exactly (and generates the identical expression
    text, so the audio tier's plan is untouched)."""
    key = _SEQ_MD5_KEY_FMT
    derived = _box_decimated_expr(2, stride)
    # min_bytes guard (r14 audit): the map is two md5 keys over short
    # arrays; interleaved A/B on audio_resampled_near_dup_pairs measured
    # the exchange a pure wash (B/A = 1.00) — it buys nothing under the
    # floor, so skip it (same guard on the index builder and the
    # incremental probe, which share this exact map shape)
    src = ensure_parallelism(df, min_bytes=GUARD_MIN_BYTES).select(
        F.col("media_id").alias("__id__"), F.col(s_col).alias("__s__")
    ).localCheckpoint(eager=False)
    parents = (
        src.filter(F.expr(f"size(__s__) >= {2 * stride}"))
        .select(
            F.col("__id__").alias("full_id"),
            F.expr(derived).alias("__d__"),  # derive once, key below
        )
        .select(
            "full_id",
            F.expr(key.format(v="__d__")).alias("gkey"),
            F.expr("size(__d__)").cast("int").alias("resampled_n"),
        )
    )
    kids = src.select(
        F.col("__id__").alias("resampled_id"),
        F.expr(key.format(v="__s__")).alias("gkey"),
    )
    if max_bucket_size is not None:
        parents = _cap_hot_buckets(parents, ["gkey"], max_bucket_size)
        kids = _cap_hot_buckets(kids, ["gkey"], max_bucket_size)
    return (
        parents.join(kids, "gkey")
        .filter(F.col("full_id") != F.col("resampled_id"))
        .select("full_id", "resampled_id", "resampled_n")
    )


def resample_index(df: DataFrame) -> DataFrame:
    """At-rest artifact for incremental resample-derivative dedup (r13,
    VERDICT item 5) — the scale-axis twin of :func:`crop_index` /
    :func:`hamming_index`: one row per history (media_id, s) clip
    carrying BOTH keys the exact tier joins on — ``own_key`` (md5 of the
    clip as stored) and ``derived_key`` (md5 of its 2× truncating-box
    decimation; NULL when the clip is too short to decimate) — plus the
    lengths. A deployment persists it partitioned/bucketed by the key
    columns so batch probes co-locate without a history-side shuffle.
    Both keys come from the same expression text as
    :func:`resampled_derivative_pairs`, so index and in-plan tier can
    never disagree on the derived signal.

    The normalized (id, s) frame is checkpointed BEFORE key derivation
    — the pairs tier's discipline, and load-bearing here (r13 close-
    bench forensics, docs/ROUND13.md): without the barrier, the probe
    join's inferred ``isnotnull(key)`` predicate pushes down THROUGH
    this projection, inlining the full derive+md5 expression (with the
    caller's clip-derivation plan substituted into every reference)
    into an interpreted per-row Filter — measured 177 s for a 2000-row
    probe at sf0.1, vs 1.5 s with the barrier. The derived signal is
    also staged through its own projection so the md5 key's two
    references compute it once (CollapseProject declines to inline
    multi-referenced non-cheap aliases)."""
    derived = _box_decimated_expr(2, 1, "__s__")
    src = (
        ensure_parallelism(df, min_bytes=GUARD_MIN_BYTES)
        .select(F.col("media_id").alias("__id__"), F.col("s").alias("__s__"))
        .localCheckpoint(eager=False)
    )
    staged = src.select(
        "__id__",
        F.expr("cast(size(__s__) as int)").alias("n"),
        F.expr(_SEQ_MD5_KEY_FMT.format(v="__s__")).alias("own_key"),
        F.expr(f"IF(size(__s__) >= 2, {derived}, NULL)").alias("__d__"),
    )
    return staged.select(
        F.col("__id__").alias("media_id"),
        "n",
        "own_key",
        # md5 over a NULL array is NULL, so the too-short guard carries
        F.expr(_SEQ_MD5_KEY_FMT.format(v="__d__")).alias("derived_key"),
    )


def incremental_resampled_dedup(
    batch: DataFrame,
    idx: DataFrame,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Resample-derivative dedup of an incoming (media_id, s) batch
    AGAINST an at-rest
    key index (:func:`resample_index`) — the deployment shape of the
    scale-axis tiers, completing the incremental symmetry the crop/
    thumbnail arms already have: O(batch × collision), never
    O(history). Both directions are probed, because a crawl batch can
    contain EITHER side of the derivation: a batch clip whose OWN key
    equals a history clip's DERIVED key is the history clip's resampled
    re-upload (role ``batch_resampled``); a batch clip whose DERIVED
    key equals a history clip's OWN key is the full-rate original of an
    already-indexed decimation (role ``batch_full``). Exact equi-joins
    only — recall 1.0 for same-pipeline derivatives by construction,
    the pairs tier's contract. Output (new_id, old_id, role,
    resampled_n) with ``resampled_n`` the decimated clip's length.
    ``max_bucket_size`` caps degenerate constant-clip keys on the
    HISTORY side (the probe side is one row per batch clip per key)."""
    derived_b = _box_decimated_expr(2, 1, v="s")
    b = ensure_parallelism(batch, min_bytes=GUARD_MIN_BYTES).select(
        F.col("media_id").alias("new_id"),
        F.expr("cast(size(s) as int)").alias("__bn__"),
        F.expr(_SEQ_MD5_KEY_FMT.format(v="s")).alias("__bown__"),
        F.expr(
            "IF(size(s) >= 2, "
            + _SEQ_MD5_KEY_FMT.format(v="(" + derived_b + ")")
            + ", NULL)"
        ).alias("__bder__"),
    ).localCheckpoint(eager=False)
    hist = idx.select(
        F.col("media_id").alias("old_id"),
        F.col("n").alias("__hn__"),
        F.col("own_key").alias("__hown__"),
        F.col("derived_key").alias("__hder__"),
    )
    h_by_der = hist.filter(F.col("__hder__").isNotNull()).select(
        "old_id", F.col("__hder__").alias("__k__")
    )
    h_by_own = hist.select(
        "old_id", "__hn__", F.col("__hown__").alias("__k__")
    )
    if max_bucket_size is not None:
        h_by_der = _cap_hot_buckets(h_by_der, ["__k__"], max_bucket_size)
        h_by_own = _cap_hot_buckets(h_by_own, ["__k__"], max_bucket_size)
    as_resampled = (
        b.select("new_id", F.col("__bn__"), F.col("__bown__").alias("__k__"))
        .join(h_by_der, "__k__")
        .select(
            "new_id",
            "old_id",
            F.lit("batch_resampled").alias("role"),
            F.col("__bn__").alias("resampled_n"),
        )
    )
    as_full = (
        b.filter(F.col("__bder__").isNotNull())
        .select("new_id", F.col("__bder__").alias("__k__"))
        .join(h_by_own, "__k__")
        .select(
            "new_id",
            "old_id",
            F.lit("batch_full").alias("role"),
            F.col("__hn__").alias("resampled_n"),
        )
    )
    return as_resampled.unionByName(as_full).filter(
        F.col("new_id") != F.col("old_id")
    )


def trimmed_sequence_pairs(
    df: DataFrame,
    max_trim: int = 2,
    anchor: int = 16,
    ssd_tol: int = 0,
    id_col: str = "media_id",
    s_col: str = "s",
    max_bucket_size: int | None = None,
    stride: int = 1,
) -> DataFrame:
    """TRIM-derivative pairs over integer SEQUENCES (r13, VERDICT item
    4) — the audio cell of the transform matrix's CROP axis and the last
    empty cell of the shift/crop/scale × image/audio/video matrix: detect
    (full, trimmed) pairs where the trimmed clip equals the full clip
    with ≤ ``max_trim`` samples removed from the HEAD and ≤ ``max_trim``
    from the TAIL — the trimmed re-upload (silence/intro strip) every
    podcast/crawled-audio corpus contains. This is
    :func:`cropped_grid_pairs` in 1-D, and it inherits that tier's
    deterministic-pigeonhole argument rather than the landmark/LSH
    S-curve, which is what makes it oracle-pairable.

    Blocking: the trimmed clip starts at some offset h ≤ max_trim inside
    the full clip, so its FIRST ``anchor`` samples appear verbatim in the
    full clip at offset h. The full side emits one md5 token per head
    window at offsets 0..max_trim (``max_trim``+1 tokens, independent of
    clip length — tighter than the crop tier's per-block fanout); the
    trimmed side emits ONE prefix token. The equi-join therefore finds
    every pure-trim pair within budget: recall 1.0 at ssd_tol = 0 by
    pigeonhole. At ssd_tol > 0 a perturbed sample inside the prefix
    anchor defeats the blocking — best-effort, the crop tier's exact
    weakening. Clips shorter than ``anchor`` are excluded by contract
    (cannot anchor a token; same as grids smaller than one block).

    Verify is an exact integer head-offset scan: for h ∈ [0, max_trim],
    overlap SSD of the whole trimmed clip against full[h : h+m],
    requiring a PROPER trim (n > m), head h ≤ max_trim and tail
    n−h−m ∈ [0, max_trim]. Ties break toward the smallest head (the
    struct-ordering lesson from the shifted tier). Output
    (full_id, trimmed_id, head, tail, ssd).

    Boundary: exact for lossless trims (same-pipeline edit). A trim
    composed with re-encode noise needs ssd_tol > 0 and loses the
    pigeonhole guarantee. Trim+GAIN (monotone a·s + b) is CLOSED as of
    r14 — not by the landmark family but by composition: run this tier
    over the gradient-sign sequence, where a monotone gain is the
    identity and a sample trim is the same trim
    (queries/media.py audio_trim_gain_pairs — compose, don't multiply
    operators, literally). Trim+gain+re-encode NOISE defeats both the
    sign anchor and the exact verify — that composition is covered by
    the landmark family (:func:`landmark_sequence_pairs`, r14:
    bench-only, measured recall).
    Scale shape: bounded token fanout (max_trim+1 : 1), one md5
    equi-join, verify O(candidates × (max_trim+1) × m) map work;
    ``max_bucket_size`` caps degenerate constant-clip buckets on both
    sides (product ≤ cap², the derived-key tiers' contract).

    ``stride`` > 1 is the VIDEO cell of the same axis (the
    resampled_derivative_pairs precedent): with stride = one frame's
    pixels, trim units are FRAMES — head/tail-trimmed video re-uploads
    (``max_trim`` frames per side, ``anchor`` frames per token window).
    stride = 1 reduces to the audio formula exactly (and generates the
    identical expression text, so the audio tier's plan is
    untouched)."""
    B, H = anchor, max_trim

    src = _trim_norm(df, B * stride, id_col, s_col)
    parents = _trim_parent_toks(src, B, H, stride).select(
        F.col("__id__").alias("full_id"), "tok"
    )
    kids = _trim_prefix_tok(src, B, stride).select(
        F.col("__id__").alias("trimmed_id"), "tok"
    )
    if max_bucket_size is not None:
        parents = _cap_hot_buckets(parents, ["tok"], max_bucket_size)
        kids = _cap_hot_buckets(kids, ["tok"], max_bucket_size)
    cand = (
        parents.join(kids, "tok")
        .filter(F.col("full_id") != F.col("trimmed_id"))
        .select("full_id", "trimmed_id")
        .distinct()
    )
    sa = src.select(F.col("__id__").alias("full_id"), F.col("__s__").alias("__sa__"))
    sb = src.select(
        F.col("__id__").alias("trimmed_id"), F.col("__s__").alias("__sb__")
    )
    return _trim_verify(
        cand, sa, sb, H, ssd_tol, "full_id", "trimmed_id", stride
    )


def _trim_win_md5(B: int, var: str, off: str) -> str:
    """md5 token of the length-``B`` window of ``var`` at offset ``off``
    — the trim tier's ONE blocking key (pairs tier, index, probe)."""
    return (
        f"md5(array_join(transform(sequence(0, {B - 1}), i -> "
        f"cast({var}[{off} + i] as string)), ' '))"
    )


def _trim_norm(df: DataFrame, B: int, id_col: str, s_col: str) -> DataFrame:
    """Normalize a sequence frame to (__id__, __s__); clips shorter than
    one anchor window can never block (excluded by contract, the crop
    tier's grid rule)."""
    return (
        ensure_parallelism(df)
        .select(F.col(id_col).alias("__id__"), F.col(s_col).alias("__s__"))
        .filter(F.expr(f"size(__s__) >= {B}"))
        .localCheckpoint(eager=False)
    )


def _trim_parent_toks(
    src: DataFrame, B: int, H: int, stride: int = 1
) -> DataFrame:
    """(__id__, tok) — one md5 token per head window at unit offsets
    0..H (H+1 tokens max, independent of clip length); the FULL-side
    blocking key and the at-rest artifact of :func:`trim_index`. Offset
    0 IS the prefix token, so this table alone serves both probe
    directions. ``stride`` > 1: units are frames (window = B·stride
    elements at element offset o·stride; stride = 1 emits the audio
    text verbatim)."""
    if stride == 1:
        expr = (
            f"transform(sequence(0, least({H}, size(__s__) - {B})), o -> "
            + _trim_win_md5(B, "__s__", "o")
            + ")"
        )
    else:
        expr = (
            f"transform(sequence(0, least({H}, size(__s__) div {stride} - {B})), o -> "
            + _trim_win_md5(B * stride, "__s__", f"o * {stride}")
            + ")"
        )
    return src.select(
        "__id__", F.explode(F.expr(expr)).alias("tok")
    ).distinct()


def _trim_prefix_tok(src: DataFrame, B: int, stride: int = 1) -> DataFrame:
    """(__id__, tok) — the single first-window token (B units); the
    TRIMMED-side blocking key."""
    return src.select(
        "__id__", F.expr(_trim_win_md5(B * stride, "__s__", "0")).alias("tok")
    )


def _trim_verify(
    cand: DataFrame,
    sa: DataFrame,
    sb: DataFrame,
    H: int,
    ssd_tol: int,
    full_name: str,
    trimmed_name: str,
    stride: int = 1,
) -> DataFrame:
    """Exact integer head-offset scan over candidate (full, trimmed)
    pairs: attach both sequences (``sa`` carries ``__sa__`` keyed by
    ``full_name``, ``sb`` carries ``__sb__`` keyed by ``trimmed_name``),
    take the min (ssd, head) struct over h ∈ [0, H] units, keep pairs
    with ssd ≤ ssd_tol. Shared by the pairs tier and the incremental
    probe so a verify change can never diverge them. ``stride`` > 1:
    head/tail in FRAME units (element offset h·stride, length delta
    must divide by stride; stride = 1 emits the audio text verbatim and
    reports element units unchanged)."""

    def head_struct(h: int) -> str:
        # invalid alignments (not a proper trim / over budget / negative
        # tail / a length delta that is not whole units) score +inf so
        # array_min never picks them
        he = h * stride
        guard = (
            f"size(__sa__) <= size(__sb__) OR "
            f"{he} + size(__sb__) > size(__sa__) OR "
            f"size(__sa__) - {he} - size(__sb__) > {H * stride}"
        )
        if stride > 1:
            guard += f" OR (size(__sa__) - size(__sb__)) % {stride} != 0"
        # diff once per element, square in the fold — inline (b−a)·(b−a)
        # doubles the lookups+casts in the interpreted lambda path
        ssd = (
            f"aggregate(transform(sequence(0, size(__sb__) - 1), i -> "
            f"cast(__sb__[i] as bigint) - cast(__sa__[i + {he}] as bigint)), "
            f"cast(0 as bigint), (a, d) -> a + d * d)"
        )
        return (
            f"named_struct('ssd', IF({guard}, cast({1 << 62} as bigint), {ssd}), "
            f"'head', {he})"
        )

    best = "array_min(array(" + ", ".join(
        head_struct(h) for h in range(H + 1)
    ) + "))"
    scored = (
        cand.join(sa, full_name)
        .join(sb, trimmed_name)
        .withColumn("__best__", F.expr(best))
        .filter(F.col("__best__.ssd") <= ssd_tol)
    )
    head_elems = F.col("__best__.head")
    tail_elems = (
        F.expr("size(__sa__)") - F.col("__best__.head") - F.expr("size(__sb__)")
    )
    if stride > 1:
        head_out = (head_elems / stride).cast("int").alias("head")
        tail_out = (tail_elems / stride).cast("int").alias("tail")
    else:
        head_out = head_elems.cast("int").alias("head")
        tail_out = tail_elems.cast("int").alias("tail")
    return scored.select(
        full_name,
        trimmed_name,
        head_out,
        tail_out,
        F.col("__best__.ssd").alias("ssd"),
    )


def trim_index(
    df: DataFrame, max_trim: int = 2, anchor: int = 16, stride: int = 1
) -> tuple[DataFrame, DataFrame]:
    """At-rest artifacts for incremental trim-tolerant dedup (r13) — the
    trim tier's twin of :func:`crop_index` (toks, grids): a (media_id,
    tok) head-window token table (offsets 0..max_trim; offset 0 is the
    prefix token, so ONE table serves both probe directions — a
    deployment persists it bucketed by ``tok``) and the (media_id, s)
    sequence table the verify reads."""
    src = _trim_norm(df, anchor * stride, "media_id", "s")
    toks = _trim_parent_toks(src, anchor, max_trim, stride).select(
        F.col("__id__").alias("media_id"), "tok"
    )
    return toks, src.select(
        F.col("__id__").alias("media_id"), F.col("__s__").alias("s")
    )


def incremental_trimmed_dedup(
    batch: DataFrame,
    idx_toks: DataFrame,
    idx_seqs: DataFrame,
    max_trim: int = 2,
    anchor: int = 16,
    ssd_tol: int = 0,
    id_col: str = "media_id",
    s_col: str = "s",
    max_bucket_size: int | None = None,
    stride: int = 1,
) -> DataFrame:
    """Trim-tolerant dedup of an incoming batch AGAINST an at-rest token
    index (:func:`trim_index`) — the deployment shape of the trim tier,
    the same round it shipped (the crop tier needed a round to grow
    its probe; the audio-trim cell lands with its incremental symmetry
    complete). Both directions are probed: a batch clip whose PREFIX
    token collides with a history head-window token may be a TRIM of
    that history clip (role ``batch_trimmed``); a batch clip one of
    whose head-window tokens collides with a history clip's prefix
    token (= its offset-0 row in the same index) may be the UNTRIMMED
    original of an already-indexed trim (role ``batch_full``). Each
    candidate set then rides the shared exact head-offset verify —
    pigeonhole recall 1.0 at ssd_tol = 0 within budget, O(batch ×
    collision), never O(history). Output
    (new_id, old_id, role, head, tail, ssd)."""
    B, H = anchor, max_trim
    src = _trim_norm(batch, B * stride, id_col, s_col)
    b_prefix = _trim_prefix_tok(src, B, stride).select(
        F.col("__id__").alias("new_id"), "tok"
    )
    b_heads = _trim_parent_toks(src, B, H, stride).select(
        F.col("__id__").alias("new_id"), "tok"
    )
    hist = idx_toks.select(F.col(id_col).alias("old_id"), "tok")
    if max_bucket_size is not None:
        hist = _cap_hot_buckets(hist, ["tok"], max_bucket_size)
    b_seq = src.select(F.col("__id__").alias("__bid__"), "__s__")
    h_seq = idx_seqs.select(
        F.col(id_col).alias("__hid__"), F.col(s_col).alias("__hs__")
    )

    def direction(cand: DataFrame, batch_is_trimmed: bool) -> DataFrame:
        if batch_is_trimmed:
            sa = h_seq.select(
                F.col("__hid__").alias("old_id"), F.col("__hs__").alias("__sa__")
            )
            sb = b_seq.select(
                F.col("__bid__").alias("new_id"), F.col("__s__").alias("__sb__")
            )
            out = _trim_verify(
                cand, sa, sb, H, ssd_tol, "old_id", "new_id", stride
            )
            role = "batch_trimmed"
        else:
            sa = b_seq.select(
                F.col("__bid__").alias("new_id"), F.col("__s__").alias("__sa__")
            )
            sb = h_seq.select(
                F.col("__hid__").alias("old_id"), F.col("__hs__").alias("__sb__")
            )
            out = _trim_verify(
                cand, sa, sb, H, ssd_tol, "new_id", "old_id", stride
            )
            role = "batch_full"
        return out.select(
            "new_id", "old_id", F.lit(role).alias("role"), "head", "tail", "ssd"
        )

    cand_trimmed = (
        b_prefix.join(hist, "tok")
        .filter(F.col("new_id") != F.col("old_id"))
        .select("new_id", "old_id")
        .distinct()
    )
    cand_full = (
        b_heads.join(hist, "tok")
        .filter(F.col("new_id") != F.col("old_id"))
        .select("new_id", "old_id")
        .distinct()
    )
    return direction(cand_trimmed, True).unionByName(direction(cand_full, False))


def _dihedral_index_maps(side: int) -> list[list[int]]:
    """Row-major index remaps for the 8 symmetries of a square grid
    (identity, 3 rotations, 4 reflections): maps[t][k] = source index of
    output position k under transform t."""
    n = side
    maps = []
    for t in range(8):
        m = []
        for i in range(n):
            for j in range(n):
                if t == 0:
                    r, c = i, j  # identity
                elif t == 1:
                    r, c = n - 1 - j, i  # rot90
                elif t == 2:
                    r, c = n - 1 - i, n - 1 - j  # rot180
                elif t == 3:
                    r, c = j, n - 1 - i  # rot270
                elif t == 4:
                    r, c = i, n - 1 - j  # horizontal mirror
                elif t == 5:
                    r, c = n - 1 - i, j  # vertical mirror
                elif t == 6:
                    r, c = j, i  # transpose
                else:
                    r, c = n - 1 - j, n - 1 - i  # anti-transpose
                m.append(r * n + c)
        maps.append(m)
    return maps


def dihedral_canonical_key(side: int = 8) -> Column:
    """ROTATION/MIRROR-invariant fingerprint of a square integer grid
    (r11) — the fourth transform axis (shift / crop / scale / rotation):
    serialize the grid under all 8 dihedral symmetries and md5 the
    LEXICOGRAPHICALLY SMALLEST serialization. Two grids related by any
    rotation/reflection share the canonical form EXACTLY (the dihedral
    group is closed, so both orbits enumerate the same 8 strings), and
    unrelated random grids collide only by md5 accident — dedup becomes
    the same hash-groupBy as exact_dedup. Integer-exact, pure map work,
    SQL-replayable (string LEAST over the 8 serializations is
    engine-identical on ASCII digit strings)."""
    sers = [
        "array_join(array("
        + ", ".join(f"cast(px[{k}] as string)" for k in m)
        + "), ' ')"
        for m in _dihedral_index_maps(side)
    ]
    return F.expr("md5(least(" + ", ".join(sers) + "))")


def rotated_dedup_pairs(df: DataFrame, side: int = 8) -> DataFrame:
    """(keep_id, dup_id) pairs under rotation/mirror equivalence: group
    by :func:`dihedral_canonical_key`, keep the min id per orbit, emit
    one row per other member. One shuffle on the canonical hash; output
    ∝ duplicate count. The exact-match discipline of exact_dedup with a
    transform-closed fingerprint — which is also why this tier (and the
    thumbnail tier) needs no bespoke incremental/streaming operators:
    the canonical key is a plain exact fingerprint, so
    :func:`incremental_exact_dedup` and the exact streaming sink ARE its
    deployment shapes (composition pinned in tests/test_dedup_scale.py
    test_canonical_keys_compose_with_incremental_exact_machinery)."""
    keyed = ensure_parallelism(df).select(
        F.col("media_id").alias("__id__"),
        dihedral_canonical_key(side).alias("ckey"),
    )
    keep = keyed.groupBy("ckey").agg(F.min("__id__").alias("keep_id"))
    return (
        keyed.join(keep, "ckey")
        .filter(F.col("__id__") != F.col("keep_id"))
        .select("keep_id", F.col("__id__").alias("dup_id"))
    )


def waveform_dhash() -> Column:
    """1-D gradient fingerprint over the decoded PCM samples of a 64-sample
    ``s`` clip — the audio twin of :func:`image_dhash`: bit k is set iff
    s[k+1] > s[k], 63 bits packed little-endian into one bigint.
    Robust to uniform gain/DC offset (monotone transforms preserve every
    comparison), integer-exact over the bit-exact WAV decoder, so
    SQL-replayable — unlike spectral fingerprints there is no float FFT
    to drift across engines.

    BOUNDARY: this is an exact-twin detector, NOT shift-invariant — a
    copy re-encoded with even a 1-sample offset moves every comparison
    to a different sample pair and scrambles the bits (measured ~32/63
    flipped on random-walk clips), so time-misaligned duplicates are
    invisible to it. That is what it claims: the oracle-paired sheet
    query detects perturbed-in-place twins. Shift-tolerant detection is
    :func:`audio_shifted_pairs` (shingle-MinHash blocking + integer
    lag-scan verify — oracle-paired at sheet level since r11); a
    production audio pipeline would add spectral-landmark fingerprints —
    the landmark family exists as of r14 (:func:`landmark_sequence_pairs`,
    bench-only: strong local maxima stand in for spectral peaks on this
    corpus; swap in STFT peaks via ``mapInPandas`` for real audio) and
    stays out of the oracle-able tier by design."""
    return F.expr(
        "aggregate(sequence(0, 62), cast(0 as bigint), (acc, k) -> "
        "acc + IF(s[k + 1] > s[k], "
        "shiftleft(cast(1 as bigint), k), cast(0 as bigint)))"
    )


def video_dhash(frames: int = 4, side: int = 4) -> Column:
    """Per-frame gradient hash over a decoded clip stored as a flat
    row-major int array ``px`` (frames × side × side luma): frame f contributes
    side·(side−1) bits (its :func:`image_dhash`) at offset
    f·side·(side−1) — 48 bits for a 4-frame 4×4 clip. Temporal structure
    is preserved (frame order is part of the fingerprint), and the hash
    stays integer-exact over the bit-exact Y4M decoder."""
    n_c = side - 1
    per = side * n_c
    n_bits = frames * per
    fsz = side * side
    return F.expr(
        f"aggregate(sequence(0, {n_bits - 1}), cast(0 as bigint), (acc, k) -> "
        f"acc + IF(px[(k div {per}) * {fsz} "
        f"+ ((k % {per}) div {n_c}) * {side} + ((k % {per}) % {n_c}) + 1] "
        f"> px[(k div {per}) * {fsz} "
        f"+ ((k % {per}) div {n_c}) * {side} + ((k % {per}) % {n_c})], "
        f"shiftleft(cast(1 as bigint), k), cast(0 as bigint)))"
    )


def video_near_dup_pairs(
    df: DataFrame,
    max_hamming: int = 5,
    frames: int = 4,
    side: int = 4,
) -> DataFrame:
    """Video near-duplicate pairs by per-frame gradient Hamming ≤
    max_hamming — same segment blocking as the image/audio tiers
    (default max_hamming=5 gives six exact 8-bit segments over the
    48-bit clip fingerprint)."""
    hashed = df.select(F.col("media_id"), video_dhash(frames, side).alias("vhash"))
    return hamming_blocked_pairs(
        hashed, "vhash", max_hamming, n_bits=frames * side * (side - 1)
    )


def audio_near_dup_pairs(df: DataFrame, max_hamming: int = 6) -> DataFrame:
    """Audio near-duplicate pairs by waveform-gradient Hamming ≤
    max_hamming — same segment blocking as the image tier (callers feed
    DECODED samples so the fingerprint sees what the RIFF/PCM decoder
    produced, catching re-encoded/gain-adjusted copies)."""
    hashed = df.select(F.col("media_id"), waveform_dhash().alias("whash"))
    return hamming_blocked_pairs(hashed, "whash", max_hamming, n_bits=63)


# (win, stride) per time scale of the energy-envelope fingerprint: 64-sample
# clips give (64-8)/2+1=29, (64-16)/4+1=13, (64-32)/8+1=5 windows → 28+12+4
# = 44 gradient bits. Overlapping windows at three scales make each bit a
# comparison of ~win·sample² sums, so a 1-sample shift perturbs both sides
# of every comparison by at most one sample's square — measured ~4.9/44
# bits flipped (p95 = 9) on random-walk clips, vs ~32/63 for waveform_dhash.
AUDIO_EB_SCALES = ((8, 2), (16, 4), (32, 8))


def audio_energy_hash() -> Column:
    """Shift-tolerant audio fingerprint of a 64-sample ``s`` clip: gradient
    signs of OVERLAPPING frame energies at three time scales (the
    Haitsma–Kalker energy-band idea restricted to the time domain so it
    stays integer-exact — no
    FFT). Bit (scale, k) is set iff E(k+1) > E(k), where E(j) is the sum
    of squared samples in window j of that scale; scales pack
    little-endian into one bigint (:data:`AUDIO_EB_SCALES` → 44 bits for
    64-sample clips). Energies of 16-bit PCM windows stay < 2^35, so the
    whole fold is exact in bigint and bit-identical to the numpy
    reference (tests/test_dedup_scale.py). Unlike :func:`waveform_dhash`
    this hashes the ENVELOPE, not sample alignment — robust to small
    time shifts, but distinct clips with similar loudness contours can
    collide, which is why the pair tier verifies candidates with an
    exact lag-scan (:func:`audio_shifted_pairs`)."""

    def wsum(j: str, win: int, stride: int) -> str:
        return (
            f"aggregate(sequence(({j}) * {stride}, ({j}) * {stride} + {win - 1}), "
            f"cast(0 as bigint), (a, i) -> "
            f"a + cast(s[i] as bigint) * cast(s[i] as bigint))"
        )

    parts, off = [], 0
    for win, stride in AUDIO_EB_SCALES:
        n_win = (64 - win) // stride + 1
        parts.append(
            f"aggregate(sequence(0, {n_win - 2}), cast(0 as bigint), (acc, k) -> "
            f"acc + IF({wsum('k + 1', win, stride)} > {wsum('k', win, stride)}, "
            f"shiftleft(cast(1 as bigint), k + {off}), cast(0 as bigint)))"
        )
        off += n_win - 1
    return F.expr(" + ".join(parts))


def audio_energy_hash_bits() -> int:
    """Total bit width of :func:`audio_energy_hash` for 64-sample clips."""
    # n_win - 1 gradient bits per scale, n_win = (64 - win) // stride + 1
    return sum((64 - win) // stride for win, stride in AUDIO_EB_SCALES)


def shifted_sequence_pairs(
    df: DataFrame,
    stride: int = 1,
    max_lag: int = 2,
    s_col: str = "s",
    n_elems: int = 64,
    n_bands: int = 4,
    rows_per_band: int = 4,
    candidate_jaccard: float = 0.8,
    value_offset: int = 32768,
) -> DataFrame:
    """Generic shift-TOLERANT near-dup over integer SEQUENCES (BENCH_ONLY
    tier) — one core for every time-structured modality: candidates from
    MinHash-LSH over the sequence's VALUE SHINGLES, verified by an exact
    integer lag-scan. ``stride`` is the number of array elements per shift
    unit (1 for audio samples; frame_size for video frames), ``max_lag``
    the shift budget in units; the verify takes the minimum overlap-only
    sum-of-squared-differences over lag ∈ [−max_lag, max_lag]·stride, so
    a pure ℓ-unit shift scores ssd = 0 at lag ℓ. Output (id_a, id_b,
    jaccard, lag, ssd) for the exact pairs (ssd = 0); ``lag`` is in shift
    UNITS.

    Why MinHash blocking: position-free n-grams are shift-invariant BY
    CONSTRUCTION — an ℓ-unit shift drops ≤ ℓ·stride+2 boundary shingles
    and adds as many, so a shifted twin's shingle-set Jaccard stays high
    (≈ 0.88 for 2-sample audio shifts at stride 1; ≈ 0.55 for a 1-frame
    shift of a 4×16 clip), and the (rows_per_band, n_bands) S-curve is
    chosen per modality to catch it while random pairs (J ≈ 0.03)
    essentially never collide. Two rejected designs are documented here
    because both were measured, not guessed: (1) pigeonhole blocking
    over the 44-bit envelope hash alone — 5-bit segment values saturate,
    so buckets grow ∝ corpus and the join went quadratic (x1 3.9 s →
    x3 21.9 s on the soak); (2) ANDing scalar double-grid keys (total
    energy / total sum, lag-scaled widths) — deterministic shift recall,
    but BOTH scalars concentrate into 1–2 buckets on homogeneous
    same-loudness corpora (measured: all 2,200 bench clips in one energy
    bucket), which is exactly the corpus a dedup pass sees after
    loudness normalization. Shingle MinHash keys on CONTENT, so its
    selectivity survives both normalizations; this is the same
    one-core-many-modalities reuse as the chunk/text tiers —
    :func:`minhash_lsh_pairs` verbatim with sequence values as tokens.

    Recall is the LSH S-curve, not pigeonhole-guaranteed; precision is
    exact (the lag-scan is integer arithmetic — no candidate survives it
    wrongly). Gain/brightness changes break both the value shingles and
    the SSD (the gain-invariant gradient tier covers those); shift+gain
    together are covered by the landmark family
    (:func:`landmark_sequence_pairs`, r14: bench-only, measured
    recall). Scale shape: the
    measured LSH path (band-bucket shuffle); the verify is
    O(candidates × max_lag · n_elems) map work."""
    # value_offset keeps every token unsigned — the shingle tokenizer
    # keeps [a-z0-9]+ runs, so a raw '-123' would lose its sign
    textified = (
        f"array_join(transform({s_col}, x -> cast(x + {value_offset} as string)), ' ')"
    )
    seqs = df.select(
        F.col("media_id").alias("doc_id"),
        F.expr(textified).alias("text"),
        F.col(s_col).alias("__s__"),
    ).localCheckpoint(eager=False)
    cand = minhash_lsh_pairs(
        seqs.select("doc_id", "text"),
        threshold=candidate_jaccard,
        n_bands=n_bands,
        rows_per_band=rows_per_band,
    ).select(
        F.col("doc_a").alias("id_a"), F.col("doc_b").alias("id_b"), "jaccard"
    )
    sa = seqs.select(F.col("doc_id").alias("id_a"), F.col("__s__").alias("__sa__"))
    sb = seqs.select(F.col("doc_id").alias("id_b"), F.col("__s__").alias("__sb__"))

    # ONE lambda body over a literal array of lag structs instead of
    # 2·max_lag+1 unrolled SSD texts (the _crop_verify rewrite, 1-D):
    # positive offset means a leads (a[i+off] vs b[i]), negative means b
    # leads — ao/bo carry the per-side start offsets and hi the overlap
    # bound, all folded at build time into the literal structs, so the
    # per-element math is byte-equivalent to the unrolled form.
    # 'alag' before 'lag': struct ordering breaks ssd ties toward the
    # SMALLEST-MAGNITUDE lag, so constant/periodic twins report lag=0
    # instead of the arbitrary -max_lag that plain (ssd, lag) ordering
    # would pick (r10 ADVICE).
    # diff once per element via transform, square in the fold (the
    # crop/trim verify rule: inline (a−b)·(a−b) doubles every array
    # lookup in the interpreted lambda path)
    lags = ", ".join(
        f"named_struct('lag', {lag}, 'alag', {abs(lag)}, "
        f"'hi', {n_elems - 1 - abs(lag) * stride}, "
        f"'ao', {max(lag * stride, 0)}, 'bo', {max(-lag * stride, 0)})"
        for lag in range(-max_lag, max_lag + 1)
    )
    best = (
        f"array_min(transform(array({lags}), l -> "
        f"named_struct('ssd', aggregate(transform(sequence(0, l.hi), i -> "
        f"cast(__sa__[i + l.ao] as bigint) - cast(__sb__[i + l.bo] as bigint)), "
        f"cast(0 as bigint), (a, d) -> a + d * d), "
        f"'alag', l.alag, 'lag', l.lag)))"
    )
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("__best__", F.expr(best))
        .filter(F.col("__best__.ssd") <= 0)
        .select(
            "id_a",
            "id_b",
            "jaccard",
            F.col("__best__.lag").alias("lag"),
            F.col("__best__.ssd").alias("ssd"),
        )
    )


def audio_shifted_pairs(df: DataFrame) -> DataFrame:
    """Shift-TOLERANT audio near-dup: :func:`shifted_sequence_pairs` at
    stride 1 (the shift unit IS the sample), catching the time-shifted
    re-encodes :func:`waveform_dhash` provably misses (its docstring
    boundary). Adds ``env_hamming`` — the gain-invariant
    :func:`audio_energy_hash` distance — as a reported similarity
    feature on the verified pairs. Design history and the measured
    S-curve/soak numbers live on the generic core's docstring and
    docs/SCALE.md."""
    pairs = shifted_sequence_pairs(df)
    eh = df.select(F.col("media_id"), audio_energy_hash().alias("__eh__"))
    ea = eh.select(F.col("media_id").alias("id_a"), F.col("__eh__").alias("__eha__"))
    eb = eh.select(F.col("media_id").alias("id_b"), F.col("__eh__").alias("__ehb__"))
    return (
        pairs.join(ea, "id_a")
        .join(eb, "id_b")
        .select(
            "id_a",
            "id_b",
            "jaccard",
            F.bit_count(F.col("__eha__").bitwiseXOR(F.col("__ehb__")))
            .cast("int")
            .alias("env_hamming"),
            "lag",
            "ssd",
        )
    )


def video_frame_shifted_pairs(
    df: DataFrame, frames: int = 4, side: int = 4
) -> DataFrame:
    """Frame-shift-TOLERANT video near-dup: :func:`shifted_sequence_pairs`
    with stride = one frame's pixels — catching re-encodes that start a
    frame early/late, which :func:`video_dhash` provably misses (frame
    order is part of its fingerprint, so every per-frame sub-hash moves
    to a different bit range). A 1-frame shift of a 4-frame clip keeps
    only ~55 % shingle Jaccard (16 of 64 values replaced), so the
    S-curve is widened to r=2/b=8 (band prob J² ≈ 0.30 → ~0.94 recall;
    random pairs at J ≈ 0.03 collide at ~1e-3/band — more candidates
    than the audio setting, all killed exactly by the frame-aligned
    lag-scan)."""
    per_frame = side * side
    return shifted_sequence_pairs(
        df,
        stride=per_frame,
        max_lag=1,
        s_col="px",
        n_elems=frames * per_frame,
        n_bands=8,
        rows_per_band=2,
        candidate_jaccard=0.45,
        value_offset=0,
    )


# ---------------------------------------------------------------------------
# Chunk-grain (line/paragraph) dedup
# ---------------------------------------------------------------------------

CHUNK_TOKENS = 20


def chunk_dedup(df: DataFrame, chunk_tokens: int = CHUNK_TOKENS) -> DataFrame:
    """Sub-document exact dedup at fixed-token chunk grain — the
    RefinedWeb/CCNet "line dedup" step (boilerplate headers, repeated
    paragraphs) adapted to corpora without newline structure: split each
    document into consecutive ``chunk_tokens``-token chunks, keep only the
    corpus-wide FIRST occurrence of every chunk (ordered by (doc_id,
    chunk_idx)), and reassemble each document from its surviving chunks.

    Output: (doc_id, n_chunks, kept_chunks, dedup_text) — documents whose
    every chunk already appeared elsewhere vanish entirely (fully-duplicated
    documents are removed, subsuming exact dedup at this grain).

    Scale shape: chunking is MAP-ONLY (slice over the co-located token
    array + one bounded posexplode, fanout = ceil(m/chunk_tokens)); the
    first-occurrence pick is one shuffle on chunk_text (window over
    high-cardinality keys — each partition group is the tiny duplicate set
    of one chunk, never a global window); reassembly is one shuffle on
    doc_id with an ordered in-group sort. At 100 TB swap the raw
    ``chunk_text`` shuffle key for its xxhash64 (same plan, 8-byte keys);
    md5-free here because the string itself is the exact-match key.
    Ref provenance: beyond-reference tier (SURVEY.md §7 F).
    """
    from pyspark.sql.window import Window

    df = ensure_parallelism(df)
    base = df.select(F.col("doc_id"), tokens("text").alias("_toks")).filter(
        F.size("_toks") > 0
    )
    c = int(chunk_tokens)
    chunk_arr = (
        f"transform(sequence(0, cast(ceil(size(_toks) / {c}.0) as int) - 1), "
        f"i -> array_join(slice(_toks, i * {c} + 1, {c}), ' '))"
    )
    chunks = base.select(
        F.col("doc_id"),
        F.expr(f"cast(ceil(size(_toks) / {c}.0) as int)").alias("n_chunks"),
        F.posexplode(F.expr(chunk_arr)).alias("chunk_idx", "chunk_text"),
    )
    w = Window.partitionBy("chunk_text").orderBy("doc_id", "chunk_idx")
    kept = chunks.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1)
    rebuilt = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(F.struct("chunk_idx", "chunk_text"))),
            lambda s: s["chunk_text"],
        ),
        " ",
    )
    return (
        kept.groupBy("doc_id")
        .agg(
            F.first("n_chunks").alias("n_chunks"),
            F.count("*").alias("kept_chunks"),
            rebuilt.alias("dedup_text"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Incremental (continual-ingest) dedup: new batch vs at-rest history
# ---------------------------------------------------------------------------


def incremental_exact_dedup(
    incoming_fps: DataFrame, history_fps: DataFrame
) -> DataFrame:
    """Exact dedup for CONTINUAL ingest: an incoming batch survives only if
    its fingerprint is (a) absent from the at-rest history and (b) the
    min-id of its within-batch group — the daily-crawl shape, where
    re-deduping the whole corpus per batch would be O(history) instead of
    O(batch).

    Scale shape: one anti-join of the batch against the history fingerprint
    table (history side pre-partitioned/bucketed on fingerprint in a real
    deployment — the anti-join then co-locates), one within-batch groupBy.
    History is READ, never rewritten; survivors append to it.
    """
    fresh = incoming_fps.join(
        history_fps.select("fingerprint").distinct(), "fingerprint", "left_anti"
    )
    return exact_dedup(fresh)


def lsh_index(
    df: DataFrame,
    n_bands: int = N_BANDS,
    rows_per_band: int = ROWS_PER_BAND,
) -> tuple[DataFrame, DataFrame]:
    """The two co-persisted artifacts of an at-rest MinHash-LSH index:
    ``bands`` (doc_id, band, bucket) — the joinable candidate structure —
    and ``sets`` (doc_id, hs) — the exact-verify shingle-hash sets. Split
    in two because carrying hs on every band row would multiply the stored
    sets by n_bands. In a deployment both are bucketed parquet tables
    ((band, bucket) and doc_id respectively); incremental batches then
    join candidate-side exchange-free."""
    sig = minhash_sig(df, n_bands * rows_per_band).localCheckpoint()
    bands = band_bucket_structs(n_bands, rows_per_band)
    band_rows = sig.select(
        "doc_id", F.explode(F.array(*bands)).alias("b")
    ).select(
        "doc_id", F.col("b.band").alias("band"), F.col("b.bucket").alias("bucket")
    )
    return band_rows, sig.select("doc_id", "hs")


def incremental_near_dup(
    incoming: DataFrame,
    index_bands: DataFrame,
    index_sets: DataFrame,
    threshold: float,
    n_bands: int = N_BANDS,
    rows_per_band: int = ROWS_PER_BAND,
) -> DataFrame:
    """Near-dup detection of an incoming (doc_id, text) batch AGAINST an
    at-rest LSH index (:func:`lsh_index`): band-bucket collisions between
    batch and index generate candidates; exact Jaccard over the hash sets
    verifies. Output
    (new_doc, old_doc, jaccard ≥ threshold) — the rows a continual-ingest
    pipeline drops (or links) before appending survivors and their index
    rows. Cost is O(batch × collision rate), never O(history)."""
    new_bands, new_sets = lsh_index(
        incoming, n_bands=n_bands, rows_per_band=rows_per_band
    )
    cand = (
        new_bands.select(F.col("doc_id").alias("new_doc"), "band", "bucket")
        .join(
            index_bands.select(F.col("doc_id").alias("old_doc"), "band", "bucket"),
            ["band", "bucket"],
        )
        .select("new_doc", "old_doc")
        .distinct()
    )
    sa = new_sets.select(F.col("doc_id").alias("new_doc"), F.col("hs").alias("hs_a"))
    sb = index_sets.select(F.col("doc_id").alias("old_doc"), F.col("hs").alias("hs_b"))
    inter = F.array_size(F.array_intersect(F.col("hs_a"), F.col("hs_b")))
    return (
        cand.join(sa, "new_doc")
        .join(sb, "old_doc")
        .withColumn("inter", inter)
        .select(
            "new_doc",
            "old_doc",
            (
                F.col("inter").cast("double")
                / (
                    F.array_size(F.col("hs_a"))
                    + F.array_size(F.col("hs_b"))
                    - F.col("inter")
                )
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def keep_best_per_cluster(
    clusters: DataFrame,
    scores: DataFrame,
    id_col: str = "doc_id",
    score_col: str = "quality_score",
) -> DataFrame:
    """Cluster-representative selection POLICY: given near-dup clusters
    (id, cluster_id) and per-doc scores, keep the highest-quality member
    of each cluster (score DESC, then id ASC for a deterministic tie
    break) — production pipelines keep the BEST duplicate, not the one
    with the smallest id (reference keeps first-seen, a crawl-order
    accident; see SURVEY §7 F dedup notes).

    Output: (cluster_id, keeper, keeper_score, cluster_size). One shuffle
    on cluster_id; the window sorts only within a cluster (bounded by the
    largest near-dup family, not the corpus).
    """
    from pyspark.sql import Window

    joined = clusters.join(scores.select(id_col, score_col), id_col)
    w = Window.partitionBy("cluster_id").orderBy(
        F.col(score_col).desc(), F.col(id_col).asc()
    )
    return (
        joined.withColumn("__rk__", F.row_number().over(w))
        .withColumn(
            "cluster_size", F.count("*").over(Window.partitionBy("cluster_id"))
        )
        .filter(F.col("__rk__") == 1)
        .select(
            F.col("cluster_id"),
            F.col(id_col).alias("keeper"),
            F.col(score_col).alias("keeper_score"),
            F.col("cluster_size").cast("bigint").alias("cluster_size"),
        )
    )


# ---------------------------------------------------------------------------
# Landmark family (r14): the composed-transform tier the exact tiers defer to
# ---------------------------------------------------------------------------

_LM_RHO = 6  # strong-peak threshold: keep peaks with strength*RHO >= max
# RHO was swept at bench SF (4/6/8/12 → 3/0/0/1 missed planted twins of
# 200): too strict starves quiet clips of landmarks (a 3-peak clip has ONE
# triple and can never reach min_votes), too loose admits noise-flippable
# weak peaks that scramble the consecutive-triple structure. 6 is the
# measured sweet spot with full margin on either side.


def _lm_landmarks(src: DataFrame) -> DataFrame:
    """(__id__, __s__, __pi__, __pp__) — strong-landmark positions and
    strengths per sequence, materialized as DATA behind a checkpoint
    barrier (the r13/r14 pushdown rule: the derivation references the
    sequence many times, and every downstream stage multi-references
    the derived arrays — without the barrier Catalyst inlines the whole
    extraction into each consumer).

    Landmarks are STRONG LOCAL MAXIMA: interior positions i with
    s[i] > s[i-1] and s[i] > s[i+1], strength p = min(left rise, right
    fall), kept when p·RHO >= max strength in the clip. Both the
    positions and the KEEP SET are invariant under monotone affine gain
    a·s + b (a > 0): every comparison and the threshold scale by a.
    Small additive noise perturbs strengths by <= 2·eps — strong peaks
    (p on the order of the walk's step size) survive; borderline ones
    may flip, which the downstream offset VOTE absorbs."""
    return (
        src.select(
            "__id__",
            "__s__",
            F.expr(
                "filter(sequence(1, size(__s__) - 2), i -> "
                "__s__[i] > __s__[i-1] AND __s__[i] > __s__[i+1])"
            ).alias("__pk__"),
        )
        .select(
            "__id__",
            "__s__",
            "__pk__",
            F.expr(
                "transform(__pk__, i -> least(__s__[i] - __s__[i-1], "
                "__s__[i] - __s__[i+1]))"
            ).alias("__pv__"),
        )
        .select(
            "__id__",
            "__s__",
            F.expr(
                f"filter(__pk__, (x, k) -> "
                f"__pv__[k] * {_LM_RHO} >= array_max(__pv__))"
            ).alias("__pi__"),
            F.expr(
                f"filter(__pv__, (x, k) -> "
                f"x * {_LM_RHO} >= array_max(__pv__))"
            ).alias("__pp__"),
        )
        .localCheckpoint(eager=False)
    )


_LM_TOKENS_EXPR = (
    # one token per consecutive strong-peak TRIPLE (k..k+2) AND one per
    # QUADRUPLE (k..k+3): (gap, ratio-bucket) pairs packed into one
    # bigint (low bit = family tag, so the two spaces never collide),
    # anchored at pos = __pi__[k]. Gaps are translation-free (shift/trim
    # drops out); ratio buckets q = (4·p2) div (p1 + p2) in 0..3 are
    # scale-free (gain drops out) and coarse enough to survive noise.
    # WHY two families (both measured, 10x soak + real-corpus plants):
    # triples alone saturate their token space at scale (hottest bucket
    # 1,903 of 200k tokens — linear in corpus — so the hot-bucket cap
    # was eating 9% of planted twins at 10x); quadruples alone carry
    # ~300x the entropy (hottest bucket 200 at the same scale, recall
    # 0.995 WITH the cap) but starve quiet clips (a 4-strong-peak clip
    # emits ONE quad token and can never reach min_votes — measured
    # 194/200 on the real sf0.1 walks vs 200/200 with triples). The
    # union keeps both margins: sparse clips vote on triples, hot
    # triple buckets get capped away while the quad family still
    # carries their pairs at scale (soak: 1.0 / 0.9975 capped at
    # 1x/10x). Sequences with < 3 strong peaks emit nothing — too
    # featureless to landmark (the short-clip analogue of the trim
    # tier's anchor contract; documented recall boundary).
    "concat("
    "IF(size(__pi__) >= 3, "
    "transform(sequence(0, size(__pi__) - 3), k -> named_struct("
    "'tok', cast(((((__pi__[k+1] - __pi__[k]) * 5 + "
    "(4 * __pp__[k+1]) div (__pp__[k] + __pp__[k+1])) * 128 + "
    "(__pi__[k+2] - __pi__[k+1])) * 5 + "
    "(4 * __pp__[k+2]) div (__pp__[k+1] + __pp__[k+2])) * 2 as bigint), "
    "'pos', __pi__[k])), "
    "array()), "
    "IF(size(__pi__) >= 4, "
    "transform(sequence(0, size(__pi__) - 4), k -> named_struct("
    "'tok', cast(((((((__pi__[k+1] - __pi__[k]) * 5 + "
    "(4 * __pp__[k+1]) div (__pp__[k] + __pp__[k+1])) * 128 + "
    "(__pi__[k+2] - __pi__[k+1])) * 5 + "
    "(4 * __pp__[k+2]) div (__pp__[k+1] + __pp__[k+2])) * 128 + "
    "(__pi__[k+3] - __pi__[k+2])) * 5 + "
    "(4 * __pp__[k+3]) div (__pp__[k+2] + __pp__[k+3])) * 2 + 1 as bigint), "
    "'pos', __pi__[k])), "
    "array()))"
)


def landmark_sequence_pairs(
    df: DataFrame,
    s_col: str = "s",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Landmark-fingerprint near-dup over integer SEQUENCES (BENCH_ONLY
    tier) — the COMPOSED-transform detector every exact tier's docstring
    defers to: shift∘gain (the shifted tier's documented boundary,
    :func:`shifted_sequence_pairs`) and trim∘gain∘noise (the trim and
    trim∘gain tiers' documented boundary, :func:`trimmed_sequence_pairs`)
    in one pass. The design is the public audio-fingerprinting landmark
    scheme (anchor peaks + relative geometry — the Shazam construction,
    Wang 2003) re-expressed over this corpus's 1-D integer walks, where
    spectral peaks become strong local maxima; a production system would
    swap the peak extractor for STFT-magnitude peaks via the same
    ``mapInPandas`` plumbing as the codec tiers — every stage downstream
    of the token table is representation-agnostic.

    Three stages, all JVM-side:

    1. **Tokens**: gain- and shift-invariant landmark triples
       (:func:`_lm_landmarks` + ``_LM_TOKENS_EXPR``), exploded to
       (id, tok, pos) behind checkpoint barriers.
    2. **Offset vote**: self-join on tok (id_a < id_b); each match
       votes for offset = pos_a − pos_b; keep each pair's best offset
       when >= 2 tokens agree. Random token collisions
       exist (the token space is small by design — coarse enough to
       survive noise) but almost never agree on an offset twice
       (measured: 0 of 500 random pairs survive the vote + verify at
       bench SF; see SCALE.md).
    3. **Gain-robust verify**: at the voted offset, integer partial
       sums (n, Σx, Σy, Σx², Σy², Σxy — bigint, no overflow at 64
       elements of |s| <= ~64k) give Pearson corr² = cov²/(vx·vy) over
       the overlap; accept cov > 0 (monotone gain only — an inverted
       copy fails blocking anyway: its peaks are valleys) and corr² >=
       0.995 over at least 8 overlapping elements. An affine-gain twin
       has corr² = 1 minus the noise floor; random aligned walks
       decorrelate.

    Unlike the exact tiers this is NOT oracle-pairable — recall is
    measured, not pigeonhole-guaranteed (planted trim∘gain∘noise twins:
    50/50 at sf0.01, 200/200 at sf0.1, zero false accepts; SCALE.md table) — the
    shifted-tier precedent: bench-only, planted twins, measured
    recall/precision. Scale shape: bounded token fanout (strong peaks −
    2 per clip, ~7 at bench SF), one equi-join on tok with the shared
    ``max_bucket_size`` hot-bucket cap, vote aggregation on (pair,
    offset), verify O(accepted pairs × overlap) map work. Output
    (id_a, id_b, offset, votes, corr2)."""
    marks = _lm_norm(df, "media_id", s_col)
    toks = _lm_explode_tokens(marks)
    if max_bucket_size is not None:
        toks = _cap_hot_buckets(toks, ["tok"], max_bucket_size)
    ta = toks.select(
        F.col("__id__").alias("id_a"), "tok", F.col("pos").alias("__pa__")
    )
    tb = toks.select(
        F.col("__id__").alias("id_b"), "tok", F.col("pos").alias("__pb__")
    )
    joined = ta.join(tb, "tok").filter(F.col("id_a") < F.col("id_b"))
    best = _lm_vote_best(joined, "id_a", "id_b", 2)
    sa = marks.select(
        F.col("__id__").alias("id_a"), F.col("__s__").alias("__sa__")
    )
    sb = marks.select(
        F.col("__id__").alias("id_b"), F.col("__s__").alias("__sb__")
    )
    return _lm_verify(best, sa, sb, "id_a", "id_b", 0.995, 8)


def _lm_norm(df: DataFrame, id_col: str, s_col: str) -> DataFrame:
    """Normalize to (__id__, __s__) and extract landmarks — the ONE
    entry into the landmark derivation shared by the pairs tier, the
    index builder and the incremental probe (the no-desync rule)."""
    return _lm_landmarks(
        ensure_parallelism(df)
        .select(F.col(id_col).alias("__id__"), F.col(s_col).alias("__s__"))
        .filter(F.expr("size(__s__) >= 3"))
    )


def _lm_explode_tokens(marks: DataFrame) -> DataFrame:
    """(__id__, tok, pos) — the exploded landmark token table."""
    return marks.select(
        "__id__", F.explode(F.expr(_LM_TOKENS_EXPR)).alias("__t__")
    ).select(
        "__id__",
        F.col("__t__.tok").alias("tok"),
        F.col("__t__.pos").alias("pos"),
    )


def _lm_vote_best(joined: DataFrame, a: str, b: str, min_votes: int) -> DataFrame:
    """Offset vote over matched tokens: group (pair, offset = pos_a −
    pos_b), count agreeing tokens, keep each pair's best offset (most
    votes, then smallest |offset|, then the positive one — a
    deterministic total order, the shifted tier's struct-ordering rule)
    when it reaches ``min_votes``.

    ONE exchange, not two (r15, guide §2.4 "two operations keyed the
    same way can share one exchange"): random token collisions make the
    (pair, offset) groups ~90% unique (measured at bench SF: 889k join
    rows -> 776k vote groups), so the per-offset count's partial
    aggregation reduced nothing and the match table crossed the wire
    twice — once hashed by (a, b, offset), once by (a, b). Partitioning
    by the COARSER key (a, b) up front satisfies the clustering
    requirement of BOTH aggregations (same-pair rows are co-located, so
    same-(pair, offset) rows are too), and AQE still coalesces the one
    exchange. Vote stage 2.83 s -> 1.88 s at bench SF, output
    bit-identical (same aggregations, different distribution)."""
    votes = (
        joined.repartition(a, b)
        .groupBy(a, b, (F.col("__pa__") - F.col("__pb__")).alias("offset"))
        .agg(F.count("*").alias("votes"))
    )
    return (
        votes.groupBy(a, b)
        .agg(
            F.expr(
                "max(named_struct('votes', votes, 'naoff', -abs(offset), "
                "'offset', offset))"
            ).alias("__b__")
        )
        .select(
            a,
            b,
            F.col("__b__.offset").alias("offset"),
            F.col("__b__.votes").alias("votes"),
        )
        .filter(F.col("votes") >= int(min_votes))
    )


def _lm_verify(
    best: DataFrame,
    sa: DataFrame,
    sb: DataFrame,
    a: str,
    b: str,
    corr2_min: float,
    min_overlap: int,
) -> DataFrame:
    """Gain-robust verify at the voted offset: integer partial sums
    (n, Σx, Σy, Σx², Σy², Σxy — bigint, no overflow at 64 elements of
    |s| <= ~64k) give Pearson corr² = cov²/(vx·vy) over the overlap
    window x = sa[offset + i], y = sb[i]; accept cov > 0 (monotone gain
    only) and corr² >= ``corr2_min``.

    The sums are five PRIMITIVE bigint folds over sliced overlap windows
    instead of one fold carrying a 6-field struct (r15, guide §4.1 /
    the r14 HOF precedent): HOF lambdas are interpreted, and the struct
    form allocated a 6-field row per element per pair; slicing once and
    folding primitives is 30% faster at bench SF (0.80 s -> 0.56 s over
    the 71k voted pairs) and the sums — hence corr² and the accepted
    set — are bit-identical (same integers, same left-fold order)."""
    lo = "greatest(0, -offset)"
    hi = "least(size(__sb__), size(__sa__) - offset)"
    return (
        best.join(sa, a)
        .join(sb, b)
        .filter(F.expr(f"{hi} - ({lo}) >= {int(min_overlap)}"))
        .withColumn("__x__", F.expr(f"slice(__sa__, offset + {lo} + 1, {hi} - ({lo}))"))
        .withColumn("__y__", F.expr(f"slice(__sb__, {lo} + 1, {hi} - ({lo}))"))
        .withColumn("__n__", F.expr("cast(size(__x__) as bigint)"))
        .withColumn(
            "__sx__",
            F.expr("aggregate(__x__, cast(0 as bigint), (a, v) -> a + v)"),
        )
        .withColumn(
            "__sy__",
            F.expr("aggregate(__y__, cast(0 as bigint), (a, v) -> a + v)"),
        )
        .withColumn(
            "__sxx__",
            F.expr(
                "aggregate(__x__, cast(0 as bigint), "
                "(a, v) -> a + cast(v as bigint) * v)"
            ),
        )
        .withColumn(
            "__syy__",
            F.expr(
                "aggregate(__y__, cast(0 as bigint), "
                "(a, v) -> a + cast(v as bigint) * v)"
            ),
        )
        .withColumn(
            "__sxy__",
            F.expr(
                "aggregate(zip_with(__x__, __y__, (p, q) -> "
                "cast(p as bigint) * q), cast(0 as bigint), (a, v) -> a + v)"
            ),
        )
        .withColumn(
            "__cov__", F.expr("__n__ * __sxy__ - __sx__ * __sy__")
        )
        .withColumn(
            "corr2",
            F.expr(
                "cast(__cov__ as double) * cast(__cov__ as double) / "
                "(cast(__n__ * __sxx__ - __sx__ * __sx__ as double) * "
                "cast(__n__ * __syy__ - __sy__ * __sy__ as double))"
            ),
        )
        .filter((F.col("__cov__") > 0) & (F.col("corr2") >= float(corr2_min)))
        .select(a, b, "offset", "votes", "corr2")
    )


def landmark_index(df: DataFrame) -> DataFrame:
    """AT-REST landmark index: one row per history clip —
    (media_id, s, toks: array<struct<tok, pos>>) — the deployment
    artifact of the landmark family (signal store and fingerprints in
    one row, so the probe's verify never needs a second corpus join).
    In a deployment this table is persisted bucketed by the exploded
    tok; here it is the committed aux_data artifact the probe query
    reads (the media-index discipline). Same derivation as the pairs
    tier via the shared helpers — the two can never desync."""
    marks = _lm_norm(df, "media_id", "s")
    return marks.select(
        F.col("__id__").alias("media_id"),
        F.col("__s__").alias("s"),
        F.expr(_LM_TOKENS_EXPR).alias("toks"),
    )


def incremental_landmark_probe(batch: DataFrame, index: DataFrame) -> DataFrame:
    """Incremental landmark dedup — the DEPLOYMENT shape of the
    landmark family (the same pairs/probe symmetry every transform
    tier carries): probe an incoming batch against the at-rest
    :func:`landmark_index` with the shared token/vote/verify core.
    O(batch) landmark extraction + O(batch-collision) vote work, never
    O(history) beyond the index scan; the verify reads the history
    signal from the INDEX ROW itself (the index stores signal +
    fingerprints together), so no second corpus join exists. Output
    (new_id, old_id, offset, votes, corr2) — offset is the batch
    clip's alignment inside the history clip, exactly the pairs
    tier's semantic with a = history, b = batch. A pair needs 2 votes,
    corr² ≥ 0.995 and 8 overlapping samples. Each side's landmark
    buckets are capped at 256 rows before the vote join, the hot-bucket
    guard of the pairs tiers (:func:`_cap_hot_buckets`)."""
    bmarks = _lm_norm(batch, "media_id", "s")
    btoks = _lm_explode_tokens(bmarks)
    itoks = index.select(
        F.col("media_id").alias("old_id"),
        F.explode("toks").alias("__t__"),
    ).select(
        "old_id",
        F.col("__t__.tok").alias("tok"),
        F.col("__t__.pos").alias("__pa__"),
    )
    itoks = _cap_hot_buckets(itoks, ["tok"], 256)
    btoks = _cap_hot_buckets(btoks, ["tok"], 256)
    tb = btoks.select(
        F.col("__id__").alias("new_id"), "tok", F.col("pos").alias("__pb__")
    )
    joined = itoks.join(tb, "tok").filter(F.col("old_id") != F.col("new_id"))
    best = _lm_vote_best(joined, "old_id", "new_id", 2)
    sa = index.select(
        F.col("media_id").alias("old_id"), F.col("s").alias("__sa__")
    )
    sb = bmarks.select(
        F.col("__id__").alias("new_id"), F.col("__s__").alias("__sb__")
    )
    out = _lm_verify(best, sa, sb, "old_id", "new_id", 0.995, 8)
    return out.select("new_id", "old_id", "offset", "votes", "corr2")
