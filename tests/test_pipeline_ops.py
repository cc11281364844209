"""Unit tests for the round-4 training-data assembly operators on synthetic
frames: packing straddle semantics, mix-resampling determinism under
repartitioning, SemDeDup keep-one-representative property, and hand-computed
bigram rarity."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from network_iq_spark.operators.packing import sequence_packing
from network_iq_spark.operators.sampling import equalize_groups, hash_bucket
from network_iq_spark.operators.similarity import semantic_dedup
from network_iq_spark.operators.text import bigram_rarity


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, source string, text string")


def test_sequence_packing_straddle_assigns_to_start_pack(spark):
    # tokens: 3, 4, 2 with capacity 5 → cum_before 0, 3, 7 → packs 0, 0, 1.
    # doc 2 STARTS in pack 0 (cum_before 3 < 5) even though it straddles.
    df = _docs(
        spark,
        [
            (1, "s", "a b c"),
            (2, "s", "d e f g"),
            (3, "s", "h i"),
        ],
    )
    out = {
        (r.shard, r.pack_id): (r.n_docs, r.pack_tokens, r.first_doc, r.last_doc)
        for r in sequence_packing(df, capacity=5).collect()
    }
    assert out == {("s", 0): (2, 7, 1, 2), ("s", 1): (1, 2, 3, 3)}


def test_sequence_packing_shards_are_independent(spark):
    df = _docs(
        spark,
        [(1, "a", "x y"), (2, "b", "x y"), (3, "a", "x y"), (4, "b", "x y")],
    )
    out = sequence_packing(df, capacity=2).collect()
    # each shard restarts its prefix sum at 0: second doc of each shard has
    # cum_before=2 → pack 1, independent of the other shard's stream
    assert {(r.shard, r.pack_id) for r in out} == {("a", 0), ("a", 1), ("b", 0), ("b", 1)}


def test_equalize_groups_uniform_keeps_everything(spark):
    df = _docs(spark, [(i, f"g{i % 2}", "t") for i in range(20)])
    kept = equalize_groups(df, key="doc_id", group="source")
    assert kept.count() == 20  # rate_bp = 10000 for both groups


def test_equalize_groups_is_partitioning_invariant(spark):
    rows = [(i, "big" if i < 80 else "small", "t") for i in range(100)]
    df = _docs(spark, rows)
    a = {r.doc_id for r in equalize_groups(df, "doc_id", "source").collect()}
    b = {
        r.doc_id
        for r in equalize_groups(df.repartition(13, "doc_id"), "doc_id", "source")
        .collect()
    }
    assert a == b
    # the small group (20 rows, rate 10000) survives intact; the big group
    # is cut to ~20 by the 2500-bp hash rate
    small = {r.doc_id for r in df.filter(F.col("source") == "small").collect()}
    assert small <= a


def test_semantic_dedup_flags_only_rows_with_smaller_neighbor(spark):
    import math

    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [1.0, 0.001, 0.0, 0.0]),  # near-dup of 1
        (3, [0.0, 1.0, 0.0, 0.0]),
        (4, [0.0, 0.0, 1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    out = {r.vec_id: r.is_dup for r in semantic_dedup(df, n_cells=1, threshold=0.99).collect()}
    # one cell → exact pairwise: only vec 2 has a smaller-id neighbor ≥ 0.99
    assert out == {1: False, 2: True, 3: False, 4: False}
    # brute-force cross-check of the flag definition
    vecs = {r[0]: r[1] for r in rows}

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return d / math.sqrt(sum(x * x for x in a) * sum(x * x for x in b))

    for vid, flag in out.items():
        expect = any(
            cos(vecs[o], vecs[vid]) >= 0.99 for o in vecs if o < vid
        )
        assert flag == expect


def test_bigram_rarity_hand_computed(spark):
    df = _docs(
        spark,
        [
            (1, "s", "a b a b"),   # bigrams: ab, ba, ab
            (2, "s", "a b c"),     # bigrams: ab, bc
            (3, "s", "z"),         # no bigrams
        ],
    )
    out = {r.doc_id: r for r in bigram_rarity(df, rare_max=1).collect()}
    # corpus freq: "a b"=3, "b a"=1, "b c"=1
    r1 = out[1]
    assert (r1.n_bigrams, r1.n_rare) == (3, 1)
    assert r1.mean_bigram_freq == pytest.approx((3 + 1 + 3) / 3)
    r2 = out[2]
    assert (r2.n_bigrams, r2.n_rare) == (2, 1)
    assert r2.mean_bigram_freq == pytest.approx((3 + 1) / 2)
    r3 = out[3]
    assert (r3.n_bigrams, r3.n_rare, r3.rare_ratio, r3.mean_bigram_freq) == (0, 0, 0.0, 0.0)


def test_hash_bucket_range(spark):
    df = spark.range(1000).select(hash_bucket(F.col("id"), "t").alias("b"))
    lo, hi = df.agg(F.min("b"), F.max("b")).first()
    assert 0 <= lo and hi < 10_000


def test_sequence_packing_conserves_tokens_and_partitions_ids(spark):
    """Invariants on real data: pack token counts sum to the corpus total,
    every doc appears in exactly one pack, and packs partition each shard's
    doc_id order into contiguous runs."""
    from network_iq_spark.operators.text import tokens as _tokens

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    total = docs.select(F.sum(F.size(_tokens("text"))).alias("t")).first().t
    packs = sequence_packing(docs, capacity=256).collect()
    assert sum(p.pack_tokens for p in packs) == total
    assert sum(p.n_docs for p in packs) == docs.count()
    by_shard = {}
    for p in packs:
        by_shard.setdefault(p.shard, []).append(p)
    for shard, ps in by_shard.items():
        ps.sort(key=lambda p: p.pack_id)
        for prev, cur in zip(ps, ps[1:]):
            assert prev.last_doc < cur.first_doc  # contiguous, non-overlapping


def test_quantized_cosine_close_to_exact(spark):
    """int8 quantization keeps cosine within ~2% of the float value and the
    quantized ranking's top-1 is (on this data) the exact top-1."""
    from network_iq_spark.operators.similarity import quantized_cosine_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qids = emb.select("vec_id").filter(F.col("vec_id") < 5)
    out = quantized_cosine_topk(emb, qids, k=5).collect()
    assert out
    for r in out:
        assert abs(r.qcos - r.cos) < 0.02


def test_winnowing_guarantee_shared_substring_shares_fingerprint(spark):
    """The winnowing guarantee: two docs sharing a substring of >= w+2
    tokens (here w=4 -> 6 tokens) share at least one (hash) fingerprint."""
    from network_iq_spark.operators.text import winnowing_fingerprints

    shared = "quick brown fox jumps over lazy"
    df = _docs(
        spark,
        [
            (1, "s", f"alpha beta {shared} gamma delta epsilon"),
            (2, "s", f"one two three {shared} four five six seven"),
            (3, "s", "completely different words with no overlap at all here"),
        ],
    )
    fps = winnowing_fingerprints(df, w=4).collect()
    by_doc = {}
    for r in fps:
        by_doc.setdefault(r.doc_id, set()).add(r.h)
    assert by_doc[1] & by_doc[2]          # shared substring -> shared print
    assert not (by_doc[1] & by_doc[3])    # disjoint text -> disjoint prints


def test_registry_results_invariant_under_shuffle_partitioning(spark):
    """The registry's core determinism claim: results are bit-identical
    under different shuffle-partition counts. Sampled over value-sensitive
    query families (float aggregates, LSH dedup, window ranks)."""
    from network_iq_spark.registry import QUERIES

    sf = "/root/testdata/sf0.001"
    sample = [
        "pricing_summary",          # dsum float aggregates
        "minhash_lsh_pairs",        # LSH banding + verify
        "quantized_cosine_topk",    # quantized ranks
        "salted_event_stats",       # two-phase salted agg
        "sequence_packing",         # per-shard prefix sums
        "supplier_pagerank",        # iterative integer ranking
        "chunk_dedup",              # window first-occurrence + reassembly
        "unigram_surprisal",        # broadcast vocab + integer surprisal
    ]
    before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        results = {}
        for nparts in ("3", "17"):
            spark.conf.set("spark.sql.shuffle.partitions", nparts)
            for name in sample:
                rows = QUERIES[name](spark, sf).collect()
                key = sorted(tuple(r) for r in rows)
                results.setdefault(name, []).append(key)
        for name, (a, b) in results.items():
            assert a == b, f"{name} varies with shuffle partitioning"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)


def test_stage_metrics_single_action_consistent_counts(spark):
    """Observation-backed stage metrics: one action yields per-stage row
    counts that match independently recomputed counts — no extra jobs, no
    drift between stages."""
    from network_iq_spark.operators.metrics import StageMetrics
    from network_iq_spark.operators.text import with_quality_score
    from network_iq_spark.sources import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    sm = StageMetrics()
    staged = sm.stage(docs, "raw")
    scored = with_quality_score(staged)
    kept = sm.stage(scored.filter(scored.quality_score >= 0.5), "quality")
    kept.write.format("noop").mode("overwrite").save()  # ONE action

    got = sm.results()
    n_raw = docs.count()
    n_kept = with_quality_score(docs).filter("quality_score >= 0.5").count()
    assert got["raw"]["rows"] == n_raw
    assert got["quality"]["rows"] == n_kept
    report = sm.drop_report()
    assert [r[0] for r in report] == ["raw", "quality"]
    assert report[1][2] == n_kept / n_raw


def test_stage_metrics_rejects_duplicate_names(spark):
    import pytest as _pytest

    from network_iq_spark.operators.metrics import StageMetrics

    sm = StageMetrics()
    df = spark.range(3)
    sm.stage(df, "a")
    with _pytest.raises(ValueError):
        sm.stage(df, "a")


def _kn_reference(docs: dict[int, list[str]], discount: float = 0.75):
    """Independent pure-Python interpolated-KN implementation (same op
    order as the Spark/SQL expression so IEEE results match bit-for-bit)."""
    import math
    from collections import Counter

    tris = {
        d: [tuple(t[i : i + 3]) for i in range(len(t) - 2)]
        for d, t in docs.items()
        if len(t) >= 3
    }
    c3 = Counter(tr for ts in tris.values() for tr in ts)
    ctx_cnt, ctx_types = Counter(), Counter()
    l2 = Counter()
    for (w1, w2, w3), c in c3.items():
        ctx_cnt[(w1, w2)] += c
        ctx_types[(w1, w2)] += 1
        l2[(w2, w3)] += 1
    mid_total, mid_types, right = Counter(), Counter(), Counter()
    for (w2, w3), c in l2.items():
        mid_total[w2] += c
        mid_types[w2] += 1
        right[w3] += 1
    total = float(len(l2))
    out = {}
    for d, ts in tris.items():
        mnats = []
        for w1, w2, w3 in ts:
            p2 = (max(l2[(w2, w3)] - discount, 0.0) / mid_total[w2]) + (
                (discount * mid_types[w2] / mid_total[w2])
                * (right[w3] / total)
            )
            p = (max(c3[(w1, w2, w3)] - discount, 0.0) / ctx_cnt[(w1, w2)]) + (
                (discount * ctx_types[(w1, w2)] / ctx_cnt[(w1, w2)]) * p2
            )
            mnats.append(int(math.floor(-math.log(p) * 1000.0)))
        out[d] = (len(ts), sum(mnats))
    return out


def test_kn_trigram_surprisal_hand_computed(spark):
    from network_iq_spark.operators.text import kn_trigram_surprisal

    rows = [
        (1, "s", "a b a b a"),  # trigrams: aba, bab, aba
        (2, "s", "a b c"),      # abc
        (3, "s", "c a b a"),    # cab, aba
        (4, "s", "x y"),        # < 3 tokens → excluded
    ]
    df = _docs(spark, rows)
    expect = _kn_reference(
        {d: t.split() for d, _, t in rows}
    )
    got = {
        r.doc_id: (r.n_trigrams, r.kn_surprisal_mnats)
        for r in kn_trigram_surprisal(df).collect()
    }
    assert got == expect
    assert 4 not in got


def test_kn_probabilities_sum_below_one(spark):
    # discounted mass over observed continuations of any context is < 1
    # (the held-out mass goes to unobserved trigrams) — a model sanity
    # property the formula must preserve, checked on a denser corpus.
    from network_iq_spark.operators.text import kn_trigram_surprisal

    rows = [
        (i, "s", " ".join("abc"[(i * 7 + j * 3) % 3] for j in range(12)))
        for i in range(8)
    ]
    df = _docs(spark, rows)
    out = kn_trigram_surprisal(df).collect()
    # every scored trigram was observed → strictly positive probability →
    # finite non-negative quantized surprisal
    assert all(r.kn_surprisal_mnats >= 0 for r in out)
    assert all(r.n_trigrams == 10 for r in out)


def test_incremental_rollup_merge_equals_direct(spark):
    """Monoid-state law: merge(state(A), state(B), state(C)) ==
    state(A ∪ B ∪ C), byte-for-byte, for any partition of the fact rows."""
    from network_iq_spark.sources.maintenance import (
        merge_rollup_states,
        present_rollup,
        rollup_state,
    )

    rows = [
        (i, f"t{i % 3}", float(i) * 0.1357 - 5.0) for i in range(300)
    ] + [(1000, "t0", None)]
    df = spark.createDataFrame(rows, "event_id bigint, event_type string, value double")
    keys = ["event_type"]
    direct = present_rollup(rollup_state(df, keys)).orderBy("event_type")
    parts = [
        rollup_state(df.filter(F.col("event_id") % 3 == k), keys) for k in range(3)
    ] + [rollup_state(df.filter(F.col("event_id") % 3 == 1000 % 3).limit(0), keys)]
    merged = present_rollup(merge_rollup_states(parts, keys)).orderBy("event_type")
    assert merged.collect() == direct.collect()


def test_c4_line_filter_rules(spark):
    from network_iq_spark.operators.text import c4_line_filter

    good = "this line has five good words."
    docs = [
        # kept: 3 qualifying lines; dropped: short / bullet / javascript / bare
        (1, "s", "\n".join([good, "too short.", "• bullet line with many words",
                            "enable javascript to view this page.", good, good])),
        # only 2 qualifying lines → doc dropped
        (2, "s", "\n".join([good, good, "no terminal punctuation here"])),
        # lorem ipsum kills the doc even with enough lines
        (3, "s", "\n".join([good, good, good, "lorem ipsum dolor sit amet."])),
        # question mark and quote are terminal punctuation too
        (4, "s", "\n".join(["is this a five word question?",
                            '"a quoted line of five words."', good])),
        # brace kills the doc
        (5, "s", "\n".join([good, good, good, "function() { return 1; }"])),
    ]
    out = {r.doc_id: r for r in c4_line_filter(_docs(spark, docs)).collect()}
    assert (out[1].n_lines, out[1].kept_lines, out[1].keep_doc) == (6, 3, True)
    assert out[1].kept_text == "\n".join([good, good, good])
    assert (out[2].kept_lines, out[2].keep_doc) == (2, False)
    assert out[3].kept_lines == 4 and not out[3].keep_doc
    assert (out[4].kept_lines, out[4].keep_doc) == (3, True)
    assert not out[5].keep_doc


def test_gopher_quality_flags_rules(spark):
    from network_iq_spark.operators.text import gopher_quality_flags

    stops = "the be to of and that have with"
    filler = " ".join(["word"] * 48)
    docs = [
        (1, "s", f"{stops} {filler}"),                       # passes everything
        (2, "s", "short text the and"),                      # word count < 50
        (3, "s", f"{stops} {filler} " + "... " * 20),        # symbol ratio > 0.1
        (4, "s", "\n".join(["• bullet"] * 19 + ["clean line"])),  # bullets > 90%
        (5, "s", f"{stops} " + " ".join(["1234"] * 48)),     # alpha frac < 0.8
    ]
    out = {r.doc_id: r for r in gopher_quality_flags(_docs(spark, docs)).collect()}
    assert out[1].keep and out[1].n_stop_hits == 8 and out[1].n_words == 56
    assert not out[2].keep and out[2].n_words == 4
    assert not out[3].keep and out[3].symbol_ratio > 0.1
    assert not out[4].keep and out[4].bullet_line_ratio == 0.95
    assert not out[5].keep and out[5].frac_alpha_words < 0.8


def test_bm25_topk_hand_computed(spark):
    """Independent pure-Python BM25 (same op order as the shared
    Spark/DuckDB expression) on a tiny corpus — ranking and quantized
    scores must match exactly."""
    import math

    from pyspark.sql import functions as F

    from network_iq_spark.operators.text import bm25_topk

    texts = {
        0: "spark joins data with data",
        1: "spark joins tables",
        2: "data data data lake",
        3: "unrelated words entirely here",
    }
    df = _docs(spark, [(i, "s", t) for i, t in texts.items()])

    toks = {i: t.split() for i, t in texts.items()}
    n_docs = len(toks)
    avgdl = sum(len(t) for t in toks.values()) / float(n_docs)
    dfreq = {}
    for t in toks.values():
        for w in set(t):
            dfreq[w] = dfreq.get(w, 0) + 1

    def units(tf, dfc, dl):
        return int(
            math.floor(
                math.log((n_docs - dfc + 0.5) / (dfc + 0.5) + 1.0)
                * ((tf * (1.2 + 1.0)) / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)))
                * 1_000_000.0
            )
        )

    def expect(q):
        scores = {}
        for d, t in toks.items():
            if d == q:
                continue
            s = 0
            hits = 0
            for w in set(toks[q]):
                tf = t.count(w)
                if tf:
                    hits += 1
                    s += units(tf, dfreq[w], len(t))
            if hits:
                scores[d] = (hits, s)
        ranked = sorted(scores.items(), key=lambda kv: (-kv[1][1], kv[0]))
        return [(q, r + 1, d, h, s) for r, (d, (h, s)) in enumerate(ranked)]

    got = [
        (r.q_doc_id, r.rank, r.doc_id, r.n_terms_matched, r.score_units)
        for r in bm25_topk(df, F.col("doc_id") < 2, k=5).collect()
    ]
    assert got == expect(0) + expect(1)


def test_jaccard_topk_and_rrf_fuse_hand_computed(spark):
    from pyspark.sql import functions as F

    from network_iq_spark.operators.text import jaccard_topk, rrf_fuse

    texts = {
        0: "a b c d",
        1: "a b c x",      # jaccard vs 0: 3/5
        2: "a b y z",      # jaccard vs 0: 2/6
        3: "p q r s",      # no overlap with 0
    }
    df = _docs(spark, [(i, "s", t) for i, t in texts.items()])
    jc = [
        (r.q_doc_id, r.rank, r.doc_id, r.jaccard_units)
        for r in jaccard_topk(df, F.col("doc_id") == 0, k=10)
        .orderBy("q_doc_id", "rank")
        .collect()
    ]
    assert jc == [
        (0, 1, 1, 1_000_000 * 3 // 5),
        (0, 2, 2, 1_000_000 * 2 // 6),
    ]

    # fuse two hand-built rank lists: doc 7 is rank 1 in A and rank 2 in B,
    # doc 8 only in A (rank 2), doc 9 only in B (rank 1)
    a = spark.createDataFrame(
        [(0, 1, 7), (0, 2, 8)], "q_doc_id bigint, rank int, doc_id bigint"
    )
    b = spark.createDataFrame(
        [(0, 1, 9), (0, 2, 7)], "q_doc_id bigint, rank int, doc_id bigint"
    )
    fused = [
        (r.rank, r.doc_id, r.n_lists, r.rrf_units)
        for r in rrf_fuse([a, b]).collect()
    ]
    u1, u2 = 1_000_000 // 61, 1_000_000 // 62
    assert fused == [
        (1, 7, 2, u1 + u2),  # in both lists → wins
        (2, 9, 1, u1),
        (3, 8, 1, u2),
    ]


def test_cm_sketch_guarantee_and_merge(spark):
    """Count-min laws: estimate ≥ exact for every item (never under);
    merged per-batch sketches == the single-pass sketch (sum monoid);
    and on a stream with few distinct items vs buckets, heavy items
    estimate exactly."""
    from pyspark.sql import functions as F

    from network_iq_spark.operators.sketches import (
        cm_estimate,
        cm_sketch_state,
        merge_cm_states,
    )

    items = spark.range(3000).select(
        F.concat(F.lit("it"), (F.col("id") % 37).cast("string")).alias("it"),
        F.col("id").alias("i"),
    )
    direct = cm_sketch_state(items, "it")
    parts = [cm_sketch_state(items.filter(F.col("i") % 4 == k), "it") for k in range(4)]
    merged = merge_cm_states(parts)
    assert sorted(map(tuple, merged.collect())) == sorted(map(tuple, direct.collect()))

    cands = items.select("it").distinct()
    est = {r.it: r.cm_est for r in cm_estimate(direct, cands, "it").collect()}
    exact = {
        r.it: r.c
        for r in items.groupBy("it").agg(F.count("*").alias("c")).collect()
    }
    assert all(est[k] >= exact[k] for k in exact)
    # 37 distinct items over 4x256 buckets: collisions possible per row but
    # the min over 4 rows should be exact for nearly all — require most
    exact_hits = sum(1 for k in exact if est[k] == exact[k])
    assert exact_hits >= 30


def test_ffd_packing_matches_python_replay_and_invariants(spark):
    """Distributed FFD == a sequential Python replay of the same rule
    (longest-first, first open pack with room), with the packing
    invariants: no pack exceeds capacity (no oversized docs here), the
    padding column is exact, and every tokenized doc lands in exactly
    one pack."""
    import collections

    from network_iq_spark.operators.packing import ffd_packing
    from network_iq_spark.sources import load_table

    cap = 128
    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents")
    got = sorted(
        (r.shard, r.pack_id, r.n_docs, r.pack_tokens, r.padding)
        for r in ffd_packing(docs, capacity=cap).collect()
    )
    import re

    rows = docs.select("source", "doc_id", "text").collect()
    byshard = collections.defaultdict(list)
    for r in rows:
        nt = len(re.findall(r"[a-z0-9]+", r.text.lower()))
        if nt > 0:
            byshard[r.source].append((nt, r.doc_id))
    want = []
    for s, items in byshard.items():
        loads, cnts = [], []
        for nt, d in sorted(items, key=lambda x: (-x[0], x[1])):
            for j, load in enumerate(loads):
                if load + nt <= cap:
                    loads[j] += nt
                    cnts[j] += 1
                    break
            else:
                loads.append(nt)
                cnts.append(1)
        want.extend(
            (s, i, c, l, cap - l)
            for i, (l, c) in enumerate(zip(loads, cnts), 1)
        )
    assert got == sorted(want)
    assert all(pt <= cap for _, _, _, pt, _ in got)
    assert sum(nd for _, _, nd, _, _ in got) == sum(
        len(v) for v in byshard.values()
    )


def test_shared_term_freqs_injection_matches_selfbuilt(spark):
    """r14: hybrid callers tokenize the corpus once via term_freqs and
    feed BOTH arms — BM25 through ``tf=``, Jaccard through ``dtok=``
    (tf's key set IS the distinct (doc, term) grain). Injected and
    self-built paths must produce identical rankings."""
    from network_iq_spark.operators.text import bm25_topk, jaccard_topk, term_freqs

    df = _docs(
        spark,
        [
            (0, "s", "alpha beta gamma beta"),
            (1, "s", "alpha beta delta"),
            (2, "s", "gamma gamma epsilon"),
            (3, "s", ""),  # zero-token doc: counts toward n_docs/avgdl
            (4, "s", "alpha epsilon zeta"),
        ],
    )
    pred = F.col("doc_id") < 2
    tf = term_freqs(df)
    bm_self = [
        (r.q_doc_id, r.rank, r.doc_id, r.score_units)
        for r in bm25_topk(df, pred, k=5).orderBy("q_doc_id", "rank").collect()
    ]
    bm_inj = [
        (r.q_doc_id, r.rank, r.doc_id, r.score_units)
        for r in bm25_topk(df, pred, k=5, tf=tf).orderBy("q_doc_id", "rank").collect()
    ]
    assert bm_self == bm_inj and bm_self
    jc_self = [
        (r.q_doc_id, r.rank, r.doc_id, r.jaccard_units)
        for r in jaccard_topk(df, pred, k=5).orderBy("q_doc_id", "rank").collect()
    ]
    jc_inj = [
        (r.q_doc_id, r.rank, r.doc_id, r.jaccard_units)
        for r in jaccard_topk(df, pred, k=5, dtok=tf.select("doc_id", "term"))
        .orderBy("q_doc_id", "rank")
        .collect()
    ]
    assert jc_self == jc_inj and jc_self
