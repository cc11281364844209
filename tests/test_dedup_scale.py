"""Scale-shape guarantees for the dedup tier (VERDICT r01 items 3 & 4).

The blocked/capped variants must (a) produce exactly the brute-force output
on testdata, and (b) provably avoid the quadratic shapes: no cross join in
the SimHash plan, bounded per-shingle fanout in the Jaccard candidate join.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from network_iq_spark.operators import dedup as D
from network_iq_spark.queries._fragments import _JACCARD_MAX_DF
from network_iq_spark.registry import QUERIES

SF = "/root/testdata/sf0.001"


def _load_docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def _simhash_pairs_bruteforce(df, max_hamming, text_col="text", id_col="doc_id"):
    """All-pairs SimHash reference — TEST-ONLY (moved out of
    operators/dedup.py in r11 so no production entry point can reach a
    crossJoin; r10 VERDICT item 8). Correct at fixture scale; exists
    solely as the oracle for the pigeonhole-recall proof below."""
    s = D.simhash32(df, text_col, id_col).localCheckpoint()
    a = s.select(F.col(id_col).alias("doc_a"), F.col("simhash").alias("sim_a"))
    b = s.select(F.col(id_col).alias("doc_b"), F.col("simhash").alias("sim_b"))
    return (
        a.crossJoin(b)
        .filter(F.col("doc_a") < F.col("doc_b"))
        .withColumn("hamming", F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def test_simhash_blocked_equals_bruteforce(spark):
    """Pigeonhole recall proof, empirically: the segment-blocked pair set is
    identical to the all-pairs scan (it must be — a pair within Hamming d
    shares at least one of the d+1 segments exactly)."""
    docs = _load_docs(spark)
    brute = sorted(
        (r.doc_a, r.doc_b, r.hamming)
        for r in _simhash_pairs_bruteforce(docs, max_hamming=2).collect()
    )
    blocked = sorted(
        (r.doc_a, r.doc_b, r.hamming)
        for r in D.simhash_pairs_blocked(docs, max_hamming=2).collect()
    )
    assert brute == blocked
    assert len(blocked) > 0  # non-vacuous: the corpus has near-dups


def test_simhash_blocked_plan_has_no_cross_join(spark):
    df = QUERIES["simhash_pairs_blocked"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    # brute-force reference (defined in THIS module since r11 — the
    # production package no longer contains any crossJoin-able simhash
    # path) DOES plan a cartesian/BNL product — the contrast proof
    brute = _simhash_pairs_bruteforce(_load_docs(spark), max_hamming=2)
    bplan = brute._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" in bplan or "BroadcastNestedLoopJoin" in bplan


def _top100(pairs):
    return [
        (r.doc_a, r.doc_b, r.jaccard)
        for r in pairs.orderBy(
            F.col("jaccard").desc(), F.col("doc_a").asc(), F.col("doc_b").asc()
        )
        .limit(100)
        .collect()
    ]


def test_jaccard_capped_top100_equals_uncapped_at_driver_sf(spark):
    """Frequency-capped candidate generation preserves the registered
    query's full top-100 at the driver's correctness scale (sf0.01) —
    near-dup pairs always share rare shingles."""
    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    sh = D.shingles(docs)
    uncapped = _top100(D.jaccard_pairs(sh, threshold=0.0))
    capped = _top100(D.jaccard_pairs_capped(sh, threshold=0.0, max_df=_JACCARD_MAX_DF))
    assert capped == uncapped


def test_jaccard_capped_keeps_every_neardup_pair(spark):
    """On the smoke corpus the low-similarity tail (pairs overlapping only
    through ubiquitous shingles) is out of contract, but every pair in the
    actionable near-dup band (jaccard ≥ 0.5 — what a dedup cascade drops)
    must survive the cap with an identical exact score."""
    docs = _load_docs(spark)
    sh = D.shingles(docs)
    uncapped = sorted(
        (r.doc_a, r.doc_b, r.jaccard)
        for r in D.jaccard_pairs(sh, threshold=0.5).collect()
    )
    capped = sorted(
        (r.doc_a, r.doc_b, r.jaccard)
        for r in D.jaccard_pairs_capped(
            sh, threshold=0.5, max_df=_JACCARD_MAX_DF
        ).collect()
    )
    assert capped == uncapped
    assert len(capped) > 0


def test_jaccard_capped_input_is_bounded(spark):
    """The pair join's input must contain no shingle above the cap — the
    fanout bound (≤ max_df² pair rows per shingle) that makes the operator
    scale-safe."""
    docs = _load_docs(spark)
    sh = D.shingles(docs)
    dfreq = sh.groupBy("shingle").agg(F.count("*").alias("df"))
    stop = dfreq.filter(F.col("df") > _JACCARD_MAX_DF).select("shingle")
    rare = sh.join(F.broadcast(stop), "shingle", "left_anti")
    max_df = (
        rare.groupBy("shingle").agg(F.count("*").alias("df")).agg(F.max("df")).first()[0]
    )
    assert max_df <= _JACCARD_MAX_DF


def test_simhash60_more_selective_than_32(spark):
    """Wider fingerprints discriminate: at a LARGER distance budget the
    60-bit pair set must still be smaller than the 32-bit one on this
    shared-vocab corpus (32-bit space saturates), and every emitted pair's
    Hamming distance must respect its bound."""
    from network_iq_spark.operators import dedup as D
    from network_iq_spark.sources import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    p32 = D.simhash_pairs_blocked(docs, max_hamming=2, n_bits=32).collect()
    p60 = D.simhash_pairs_blocked(docs, max_hamming=3, n_bits=60).collect()
    assert 0 < len(p60) < len(p32)
    assert all(r.hamming <= 3 for r in p60)
    # blocked 60-bit output must equal its own brute-force scan
    import pyspark.sql.functions as F

    s = D.simhash32(docs, n_bits=60)
    a = s.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sa"))
    b = s.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sb"))
    brute = (
        a.crossJoin(b)
        .filter(F.col("doc_a") < F.col("doc_b"))
        .withColumn("hamming", F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))))
        .filter(F.col("hamming") <= 3)
        .select("doc_a", "doc_b", "hamming")
    )
    assert sorted(map(tuple, p60)) == sorted(map(tuple, brute.collect()))


def test_image_dhash_matches_python_reference(spark):
    """The SQL `aggregate` fold in image_dhash packs bit k iff
    px[row][col+1] > px[row][col] — verified bit-for-bit against a plain
    Python reimplementation over deterministic 8x8 rasters."""
    rows = [(i, [((i * 37 + j * 11) % 256) for j in range(64)]) for i in range(20)]
    df = spark.createDataFrame(rows, "media_id int, px array<int>")
    got = {
        r.media_id: r.dh
        for r in df.select("media_id", D.image_dhash().alias("dh")).collect()
    }
    for mid, px in rows:
        want = 0
        for k in range(56):
            r_, c = divmod(k, 7)
            if px[r_ * 8 + c + 1] > px[r_ * 8 + c]:
                want |= 1 << k
        assert got[mid] == want, mid


def test_image_near_dup_blocked_equals_bruteforce(spark):
    """Pigeonhole recall proof for the image tier: the (segment, value)
    equi-join pair set equals the all-pairs Hamming scan, including the
    planted near-twins (base raster +1 on one pixel => small distance)."""
    base = [(i, [((i * 53 + j * 7) % 251) for j in range(64)]) for i in range(30)]
    twins = [
        (i + 1000, [v + 1 if j == 9 else v for j, v in enumerate(px)])
        for i, px in base
        if i % 3 == 0
    ]
    df = spark.createDataFrame(base + twins, "media_id int, px array<int>")
    blocked = sorted(
        map(tuple, D.image_near_dup_pairs(df, max_hamming=6).collect())
    )
    s = df.select("media_id", D.image_dhash().alias("dh"))
    a = s.select(F.col("media_id").alias("id_a"), F.col("dh").alias("da"))
    b = s.select(F.col("media_id").alias("id_b"), F.col("dh").alias("db"))
    brute = (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "hamming", F.bit_count(F.col("da").bitwiseXOR(F.col("db"))).cast("int")
        )
        .filter(F.col("hamming") <= 6)
        .select("id_a", "id_b", "hamming")
    )
    assert blocked == sorted(map(tuple, brute.collect()))
    # non-vacuous: every planted twin pair is within the threshold
    found = {(ia, ib) for ia, ib, _ in blocked}
    assert all((i, i + 1000) in found for i, _ in base if i % 3 == 0)


def test_image_near_dup_plan_has_no_cross_join(spark):
    df = QUERIES["image_near_dup_pairs"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_minhash_bucket_cap_semantics(spark):
    """Hot-band guard: with a planted degenerate bucket (30 identical
    boilerplate docs → every band collides), the capped candidate set
    must (a) drop the boilerplate blowup, (b) keep every pair whose
    first matching band is an under-cap bucket, and (c) be a subset of
    the uncapped output."""
    import itertools

    docs = _load_docs(spark)
    boiler = spark.createDataFrame(
        [(100000 + i, "the same boilerplate footer text appears here") for i in range(30)],
        "doc_id long, text string",
    )
    both = docs.select("doc_id", "text").unionByName(boiler)
    un = {
        (r.doc_a, r.doc_b)
        for r in D.minhash_lsh_pairs(both, threshold=0.0, n_bands=16, rows_per_band=1).collect()
    }
    cap = {
        (r.doc_a, r.doc_b)
        for r in D.minhash_lsh_pairs(
            both, threshold=0.0, n_bands=16, rows_per_band=1, max_bucket_size=20
        ).collect()
    }
    assert cap <= un
    boiler_pairs = set(itertools.combinations(range(100000, 100030), 2))
    # the 435 boilerplate pairs all sit in 30-member buckets → all dropped
    assert boiler_pairs <= un
    assert not (boiler_pairs & cap)
    assert len(cap) > 0


def test_hamming_blocked_pairs_bucket_cap(spark):
    """Media-family hot-bucket guard (r10): a planted identical-image
    cluster collides in EVERY segment; with the cap its |B|^2 pairs are
    dropped, organic near-dup pairs survive, and the capped output is a
    subset of the uncapped one (first-matching-segment attribution)."""
    import hashlib
    import itertools

    def img(seed):
        return [
            int(hashlib.md5(f"{seed}:{j}".encode()).hexdigest()[:2], 16)
            for j in range(64)
        ]

    def perturb(px):
        return [min(v + 3, 255) if j % 16 == 0 else v for j, v in enumerate(px)]

    base = [(i, img(i)) for i in range(20)]
    twins = [(i + 500, perturb(px)) for i, px in base if i % 4 == 0]
    crop = [(1000 + i, img(77)) for i in range(25)]  # identical-crop cluster
    df = spark.createDataFrame(base + twins + crop, "media_id int, px array<int>")
    hashed = df.select("media_id", D.image_dhash().alias("dh"))
    un = {
        (r.id_a, r.id_b)
        for r in D.hamming_blocked_pairs(hashed, "dh", 6, n_bits=56, id_col="media_id").collect()
    }
    cap = {
        (r.id_a, r.id_b)
        for r in D.hamming_blocked_pairs(
            hashed, "dh", 6, n_bits=56, id_col="media_id", max_bucket_size=10
        ).collect()
    }
    crop_pairs = set(itertools.combinations(range(1000, 1025), 2))
    assert cap <= un
    assert crop_pairs <= un  # the 300 cluster pairs all collide
    assert not (crop_pairs & cap)  # ...and the cap drops every one
    twin_pairs = {(i, i + 500) for i, _ in base if i % 4 == 0}
    assert twin_pairs <= cap  # organic near-dups survive the cap


def test_waveform_dhash_matches_python_reference(spark):
    rows = [(i, [((i * 29 + j * 13) % 1000 - 500) for j in range(64)]) for i in range(20)]
    df = spark.createDataFrame(rows, "media_id int, s array<int>")
    got = {
        r.media_id: r.wh
        for r in df.select("media_id", D.waveform_dhash().alias("wh")).collect()
    }
    for mid, s in rows:
        want = sum(1 << k for k in range(63) if s[k + 1] > s[k])
        assert got[mid] == want, mid


def test_audio_near_dup_blocked_equals_bruteforce(spark):
    """Pigeonhole recall for the 63-bit waveform fingerprint, including
    planted gain-bumped twins (+1 on one sample => <= 2 bit flips)."""
    base = [(i, [((i * 41 + j * 17) % 2000 - 1000) for j in range(64)]) for i in range(30)]
    twins = [
        (i + 1000, [v + 1 if j == 20 else v for j, v in enumerate(s)])
        for i, s in base
        if i % 3 == 0
    ]
    df = spark.createDataFrame(base + twins, "media_id int, s array<int>")
    blocked = sorted(
        map(tuple, D.audio_near_dup_pairs(df, max_hamming=6).collect())
    )
    h = df.select("media_id", D.waveform_dhash().alias("wh"))
    a = h.select(F.col("media_id").alias("id_a"), F.col("wh").alias("wa"))
    b = h.select(F.col("media_id").alias("id_b"), F.col("wh").alias("wb"))
    brute = (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "hamming", F.bit_count(F.col("wa").bitwiseXOR(F.col("wb"))).cast("int")
        )
        .filter(F.col("hamming") <= 6)
        .select("id_a", "id_b", "hamming")
    )
    assert blocked == sorted(map(tuple, brute.collect()))
    found = {(ia, ib) for ia, ib, _ in blocked}
    assert all((i, i + 1000) in found for i, _ in base if i % 3 == 0)


def _walk_clip(seed: int, n: int = 64) -> list[int]:
    """md5-derived random-walk clip — locally correlated like real audio
    (the envelope-hash fixtures must NOT be white noise: a flat envelope
    carries no gradient signal)."""
    import hashlib

    s, acc = [], 0
    for j in range(n):
        step = int(hashlib.md5(f"{seed}:{j}".encode()).hexdigest()[:4], 16) % 4001 - 2000
        acc = max(-32000, min(32000, acc + step))
        s.append(acc)
    return s


def test_audio_energy_hash_matches_numpy_reference(spark):
    """Bit-exactness of the energy-envelope fingerprint vs an
    independent numpy implementation (the PCA-precedent test shape):
    same windows, same little-endian packing, int64 throughout."""
    import numpy as np

    rows = [(i, _walk_clip(i)) for i in range(25)]
    df = spark.createDataFrame(rows, "media_id int, s array<int>")
    got = {
        r.media_id: r.eh
        for r in df.select("media_id", D.audio_energy_hash().alias("eh")).collect()
    }
    for mid, s in rows:
        arr = np.asarray(s, dtype=np.int64)
        want, off = 0, 0
        for win, stride in D.AUDIO_EB_SCALES:
            n_win = (64 - win) // stride + 1
            e = [int((arr[j * stride : j * stride + win] ** 2).sum()) for j in range(n_win)]
            for k in range(n_win - 1):
                if e[k + 1] > e[k]:
                    want |= 1 << (off + k)
            off += n_win - 1
        assert got[mid] == want, mid
    assert D.audio_energy_hash_bits() == 44


def test_audio_shifted_pairs_catch_what_dhash_misses(spark):
    """The shift-robustness contract: 1-sample-shifted twins are (a)
    found by audio_shifted_pairs with ssd = 0 at lag ±1, (b) invisible
    to the sample-aligned waveform_dhash tier, and (c) the lag-scan
    verify admits NO false positives among distinct clips."""
    base = [(i, _walk_clip(i)) for i in range(30)]
    twins = [
        (i + 1000, s[1:] + [s[-1]])  # shift left by one, repeat the tail
        for i, s in base
        if i % 3 == 0
    ]
    df = spark.createDataFrame(base + twins, "media_id int, s array<int>")
    got = {
        (r.id_a, r.id_b): (r.lag, r.ssd)
        for r in D.audio_shifted_pairs(df).collect()
    }
    true_twins = {(i, i + 1000) for i, _ in base if i % 3 == 0}
    # (c) exact verify: every reported pair IS a planted twin
    assert set(got) <= true_twins
    # (a) empirical recall of the LSH blocking (the r=4/b=4 S-curve at
    # shifted-twin Jaccard >= 0.88; the operator documents ~0.97): at
    # least 8 of 10 here, each verified at the true alignment with zero
    # residual
    assert len(got) >= 8
    assert all(ssd == 0 and abs(lag) == 1 for lag, ssd in got.values())
    # (b) the gradient-hash tier misses every shifted twin
    aligned = {
        (r.id_a, r.id_b)
        for r in D.audio_near_dup_pairs(df, max_hamming=6).collect()
    }
    assert not (aligned & true_twins)


def test_shifted_pairs_tiebreak_prefers_smallest_lag(spark):
    """When several lags tie at the minimal ssd (constant or periodic
    sequences), the reported lag is the smallest-MAGNITUDE one — a pair
    of identical constant clips reports lag=0, not -max_lag (r10
    ADVICE: struct ordering on (ssd, lag) alone picked the most
    negative tied lag)."""
    rows = [(1, [500] * 64), (2, [500] * 64),  # constant: every lag ties
            (3, list(range(64))), (4, list(range(1, 64)) + [63])]  # true lag ±1
    df = spark.createDataFrame(rows, "media_id int, s array<int>")
    got = {(r.id_a, r.id_b): r.lag
           for r in D.shifted_sequence_pairs(df, max_lag=2).collect()}
    assert got.get((1, 2)) == 0
    assert abs(got.get((3, 4), 99)) == 1


def test_audio_shifted_query_runs_and_has_no_cross_join(spark):
    df = QUERIES["audio_shifted_near_dup_pairs"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    rows = df.collect()
    assert all(r.ssd == 0 and abs(r.lag) == 1 for r in rows)
    assert len(rows) > 0


def test_audio_near_dup_plan_has_no_cross_join(spark):
    df = QUERIES["audio_near_dup_pairs"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_video_dhash_matches_python_reference(spark):
    rows = [(i, [((i * 31 + j * 19) % 256) for j in range(64)]) for i in range(20)]
    df = spark.createDataFrame(rows, "media_id int, px array<int>")
    got = {
        r.media_id: r.vh
        for r in df.select("media_id", D.video_dhash().alias("vh")).collect()
    }
    for mid, px in rows:
        want = 0
        for k in range(48):
            f, kb = divmod(k, 12)
            r_, c = divmod(kb, 3)
            p = f * 16 + r_ * 4 + c
            if px[p + 1] > px[p]:
                want |= 1 << k
        assert got[mid] == want, mid


def test_video_near_dup_blocked_equals_bruteforce(spark):
    base = [(i, [((i * 43 + j * 23) % 251) for j in range(64)]) for i in range(30)]
    twins = [
        (i + 1000, [v + 1 if j == 5 else v for j, v in enumerate(px)])
        for i, px in base
        if i % 3 == 0
    ]
    df = spark.createDataFrame(base + twins, "media_id int, px array<int>")
    blocked = sorted(
        map(tuple, D.video_near_dup_pairs(df, max_hamming=5).collect())
    )
    h = df.select("media_id", D.video_dhash().alias("vh"))
    a = h.select(F.col("media_id").alias("id_a"), F.col("vh").alias("va"))
    b = h.select(F.col("media_id").alias("id_b"), F.col("vh").alias("vb"))
    brute = (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "hamming", F.bit_count(F.col("va").bitwiseXOR(F.col("vb"))).cast("int")
        )
        .filter(F.col("hamming") <= 5)
        .select("id_a", "id_b", "hamming")
    )
    assert blocked == sorted(map(tuple, brute.collect()))
    found = {(ia, ib) for ia, ib, _ in blocked}
    assert all((i, i + 1000) in found for i, _ in base if i % 3 == 0)


def test_video_near_dup_plan_has_no_cross_join(spark):
    df = QUERIES["video_near_dup_pairs"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def _crop_grid(seed):
    import hashlib

    return [
        int(hashlib.md5(f"g{seed}:{j}".encode()).hexdigest()[:2], 16)
        for j in range(64)
    ]


def test_cropped_pairs_catch_what_dhash_misses(spark):
    """Crop-robustness contract (r11, mirrors the audio/video shifted
    tiers): cropped twins (1-2 rows and/or 0-2 cols off the top-left)
    are (a) found by cropped_grid_pairs with ssd = 0 at the exact
    planted (dr, dc) — deterministic recall 10/10, pigeonhole not
    S-curve, (b) invisible to the crop-blind image_dhash tier, (c)
    never polluted by false positives (exact 2-D lag-scan verify)."""
    base = [(i, _crop_grid(i)) for i in range(30)]
    planted = {}
    rows = [(i, 8, 8, px) for i, px in base]
    for i, px in base:
        if i % 3 == 0:
            dr, dc = 1 + (i // 3) % 2, (i // 6) % 3
            crop = [px[(r + dr) * 8 + c + dc] for r in range(8 - dr) for c in range(8 - dc)]
            rows.append((i + 1000, 8 - dc, 8 - dr, crop))
            planted[(i, i + 1000)] = (dr, dc)
    df = spark.createDataFrame(rows, "media_id int, w int, h int, px array<int>")
    got = {
        (r.id_a, r.id_b): (r.dr, r.dc, r.ssd)
        for r in D.cropped_grid_pairs(df, max_crop=2).collect()
    }
    # (c) zero false positives, (a) deterministic recall at exact offsets
    assert set(got) == set(planted)
    assert all(got[k] == (dr, dc, 0) for k, (dr, dc) in planted.items())
    # (b) the gradient-hash tier misses every cropped twin (pad crops
    # back to 8x8 with zeros so dHash can even run on them)
    padded = [(i, px) for i, px in base] + [
        (k[1], [px[(r + dr) * 8 + c + dc] if r < 8 - dr and c < 8 - dc else 0
                for r in range(8) for c in range(8)])
        for k, (dr, dc) in planted.items()
        for i, px in base if i == k[0]
    ]
    pdf = spark.createDataFrame(padded, "media_id int, px array<int>")
    aligned = {
        (r.id_a, r.id_b)
        for r in D.image_near_dup_pairs(pdf, max_hamming=6).collect()
    }
    assert not (aligned & set(planted))


def test_cropped_pairs_bucket_cap_and_plan(spark):
    """Hot-bucket cap drops degenerate constant-image buckets; the
    registered query plans no cartesian product."""
    rows = [(i, 8, 8, [7] * 64) for i in range(20)]  # 20 identical grids
    rows += [(100 + i, 8, 8, _crop_grid(i + 500)) for i in range(5)]
    df = spark.createDataFrame(rows, "media_id int, w int, h int, px array<int>")
    uncapped = D.cropped_grid_pairs(df, max_crop=2).collect()
    assert len(uncapped) == 20 * 19 // 2  # the |B|^2 blowup, all real dups
    capped = D.cropped_grid_pairs(df, max_crop=2, max_bucket_size=8).collect()
    assert capped == []  # every token bucket of the clique exceeds the cap
    q = QUERIES["image_cropped_near_dup_pairs"](spark, SF)
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    out = q.collect()
    assert len(out) > 0
    assert all(r.ssd == 0 for r in out)


def test_incremental_crop_probe_equals_full_cross_pairs(spark):
    """The crop-tier batch-vs-index probe finds exactly the cross
    (batch, history) pairs the full pair scan finds over the union —
    the O(batch) path loses nothing (pigeonhole recall both ways), and
    every planted crop twin surfaces with zero residual."""
    import numpy as np

    rng = np.random.default_rng(9)
    hist = [(i, 8, 8, [int(x) for x in rng.integers(0, 256, 64)]) for i in range(40)]
    batch = []
    for i, w, h, px in hist:
        if i % 4 == 0:
            g = np.array(px).reshape(8, 8)
            dr, dc = 1 + (i // 4) % 2, (i // 8) % 3
            c = g[dr:, dc:]
            batch.append((i + 1000, 8 - dc, 8 - dr, [int(x) for x in c.reshape(-1)]))
    batch.append((5000, 8, 8, [int(x) for x in rng.integers(0, 256, 64)]))  # novel
    hdf = spark.createDataFrame(hist, "media_id int, w int, h int, px array<int>")
    bdf = spark.createDataFrame(batch, "media_id int, w int, h int, px array<int>")
    toks, grids = D.crop_index(hdf)
    inc = {
        (r.new_id, r.old_id): r.ssd
        for r in D.incremental_cropped_dedup(bdf, toks, grids).collect()
    }
    want = {(i + 1000, i) for i, _, _, _ in hist if i % 4 == 0}
    assert set(inc) == want and all(v == 0 for v in inc.values())
    full = D.cropped_grid_pairs(hdf.unionByName(bdf), max_crop=2)
    cross = {
        (r.id_b, r.id_a)
        for r in full.collect()
        if r.id_b >= 1000 and r.id_a < 1000
    }
    assert set(inc) == cross


def test_thumbnail_pairs_exact_and_capped(spark):
    """Scale-derivative contract (r11): planted 2x floor-box-average
    thumbnails are all recovered (exact-key join, recall 1.0 by
    construction), a NON-derivative 4x4 image never matches, an
    off-by-one resampler (round-half-up) is correctly OUTSIDE the exact
    claim, and constant-image key cliques die under the cap."""
    import numpy as np

    rng = np.random.default_rng(11)
    rows, want = [], set()
    for i in range(30):
        g = rng.integers(0, 256, (8, 8))
        rows.append((i, 8, 8, [int(x) for x in g.reshape(-1)]))
        t = g.reshape(4, 2, 4, 2).transpose(0, 2, 1, 3).reshape(4, 4, 4)
        if i % 3 == 0:  # floor-average thumbnail -> must match
            rows.append((i + 1000, 4, 4, [int(x) for x in (t.sum(-1) // 4).reshape(-1)]))
            want.add((i, i + 1000))
        if i % 3 == 1:  # round-half-up resampler -> outside the claim
            rows.append((i + 2000, 4, 4, [int(x) for x in ((t.sum(-1) + 2) // 4).reshape(-1)]))
    rows.append((9000, 4, 4, [int(x) for x in rng.integers(0, 256, 16)]))
    df = spark.createDataFrame(rows, "media_id long, w int, h int, px array<int>")
    got = {(r.full_id, r.thumb_id) for r in D.downscale_derivative_pairs(df).collect()}
    assert got == want
    # constant clique: 10 identical 8x8 constants + their shared thumb key
    const = [(100 + i, 8, 8, [5] * 64) for i in range(10)]
    const += [(200, 4, 4, [5] * 16)]
    cdf = spark.createDataFrame(const, "media_id long, w int, h int, px array<int>")
    assert len(D.downscale_derivative_pairs(cdf).collect()) == 10
    assert D.downscale_derivative_pairs(cdf, max_bucket_size=5).collect() == []
    q = QUERIES["image_thumbnail_pairs"](spark, SF)
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert len(q.collect()) > 0


def test_rotated_dedup_orbit_closure_and_dhash_contrast(spark):
    """Rotation/mirror contract (r11): (a) the canonical dihedral key is
    INVARIANT under all 8 symmetries (orbit closure — numpy-checked for
    every transform), (b) every planted rotated/mirrored twin groups
    with its original, (c) distinct grids never group, and (d) the
    rotated twins are invisible to the positional dHash tier."""
    import numpy as np

    rng = np.random.default_rng(13)
    base = [(i, rng.integers(0, 256, (8, 8))) for i in range(20)]
    rows, want = [], set()
    for i, g in base:
        rows.append((i, [int(x) for x in g.reshape(-1)]))
        for t, tg in enumerate(
            [np.rot90(g, 1), np.rot90(g, 2), np.rot90(g, 3),
             np.fliplr(g), np.flipud(g), g.T, np.rot90(g, 2).T]
        ):
            if (i + t) % 3 == 0:  # plant a varying subset of transforms
                rows.append((i * 100 + 1000 + t, [int(x) for x in tg.reshape(-1)]))
                want.add((i, i * 100 + 1000 + t))
    df = spark.createDataFrame(rows, "media_id long, px array<int>")
    got = {(r.keep_id, r.dup_id) for r in D.rotated_dedup_pairs(df).collect()}
    assert got == want
    # (a) orbit closure at expression level: one grid, all 8 transforms,
    # one canonical key
    g = base[0][1]
    orbit = [g, np.rot90(g, 1), np.rot90(g, 2), np.rot90(g, 3),
             np.fliplr(g), np.flipud(g), g.T, np.rot90(g, 2).T]
    odf = spark.createDataFrame(
        [(t, [int(x) for x in m.reshape(-1)]) for t, m in enumerate(orbit)],
        "media_id long, px array<int>",
    )
    keys = {r.k for r in odf.select(D.dihedral_canonical_key().alias("k")).collect()}
    assert len(keys) == 1
    # (d) the positional gradient hash misses every rotated twin
    aligned = {
        (r.id_a, r.id_b)
        for r in D.image_near_dup_pairs(df, max_hamming=6).collect()
    }
    assert not (aligned & want)


def test_canonical_keys_compose_with_incremental_exact_machinery(spark):
    """The rotation and thumbnail tiers need NO bespoke incremental
    operators: their fingerprints (dihedral canonical key; derived
    half-res grid key) are plain exact keys, so the existing
    incremental_exact_dedup anti-join IS their deployment shape — a
    batch rotation-twin of an at-rest image is dropped, a novel image
    survives, O(batch) against the at-rest fingerprint table. This test
    pins the composition so the symmetry claim stays executable."""
    import numpy as np

    rng = np.random.default_rng(17)
    hist = [(i, rng.integers(0, 256, (8, 8))) for i in range(20)]
    hdf = spark.createDataFrame(
        [(i, [int(x) for x in g.reshape(-1)]) for i, g in hist],
        "doc_id long, px array<int>",
    )
    hist_fps = hdf.select(
        "doc_id", D.dihedral_canonical_key().alias("fingerprint")
    )
    batch_rows = []
    for i, g in hist:
        if i % 4 == 0:  # rotated/mirrored twin of an at-rest image
            t = np.fliplr(np.rot90(g, 1 + i % 3)) if i % 8 == 0 else np.rot90(g, 1 + i % 3)
            batch_rows.append((i + 1000, [int(x) for x in t.reshape(-1)]))
    batch_rows.append((5000, [int(x) for x in rng.integers(0, 256, 64)]))
    bdf = spark.createDataFrame(batch_rows, "doc_id long, px array<int>")
    batch_fps = bdf.select(
        "doc_id", D.dihedral_canonical_key().alias("fingerprint")
    )
    survivors = {
        r.keeper for r in D.incremental_exact_dedup(batch_fps, hist_fps).collect()
    }
    assert survivors == {5000}  # every rotated twin dropped, novel kept


def test_incremental_hamming_equals_full_cross_pairs(spark):
    """The batch-vs-index probe must find exactly the cross (batch,
    history) pairs the full blocked scan finds over the union — the
    O(batch) path loses nothing (pigeonhole recall, both directions)."""
    hist = [(i, [((i * 37 + j * 11) % 256) for j in range(64)]) for i in range(40)]
    batch = [
        (i + 1000, [min(v + 3, 255) if j % 16 == 0 else v for j, v in enumerate(px)])
        for i, px in hist
        if i % 4 == 0
    ]
    hdf = spark.createDataFrame(hist, "media_id int, px array<int>")
    bdf = spark.createDataFrame(batch, "media_id int, px array<int>")
    hh = hdf.select("media_id", D.image_dhash().alias("dhash"))
    bh = bdf.select("media_id", D.image_dhash().alias("dhash"))
    idx = D.hamming_index(hh, "dhash", 6, n_bits=56)
    inc = sorted(
        map(tuple, D.incremental_hamming_dedup(bh, idx, "dhash", 6, n_bits=56).collect())
    )
    full = D.image_near_dup_pairs(
        hdf.unionByName(bdf), max_hamming=6
    )
    cross = sorted(
        (r.id_a if r.id_a >= 1000 else r.id_b, r.id_b if r.id_a >= 1000 else r.id_a, r.hamming)
        for r in full.collect()
        if (r.id_a >= 1000) != (r.id_b >= 1000)
    )
    assert inc == cross
    assert all((i + 1000, i) in {(a, b) for a, b, _ in inc} for i, _ in hist if i % 4 == 0)


def test_video_frame_shifted_pairs_catch_what_video_dhash_misses(spark):
    """Frame-shift contract, mirroring the audio tier on the shared
    shifted_sequence_pairs core: 1-frame-shifted twins are (a) found
    with ssd = 0 at lag 1, (b) invisible to the frame-order-sensitive
    video_dhash tier, (c) never joined by false positives (exact
    frame-aligned lag-scan)."""
    import hashlib

    def clip(seed):
        return [
            int(hashlib.md5(f"v{seed}:{j}".encode()).hexdigest()[:2], 16)
            for j in range(64)
        ]

    base = [(i, clip(i)) for i in range(30)]
    twins = [
        (i + 1000, s[16:] + s[48:])  # drop frame 0, repeat the last frame
        for i, s in base
        if i % 3 == 0
    ]
    df = spark.createDataFrame(base + twins, "media_id int, px array<int>")
    got = {
        (r.id_a, r.id_b): (r.lag, r.ssd)
        for r in D.video_frame_shifted_pairs(df).collect()
    }
    true_twins = {(i, i + 1000) for i, _ in base if i % 3 == 0}
    assert set(got) <= true_twins
    assert len(got) >= 8  # S-curve recall, not pigeonhole (operator docs)
    assert all(ssd == 0 and lag == 1 for lag, ssd in got.values())
    aligned = {
        (r.id_a, r.id_b)
        for r in D.video_near_dup_pairs(df, max_hamming=5).collect()
    }
    assert not (aligned & true_twins)


def test_resampled_pairs_exact_and_capped(spark):
    """Resample-derivative contract (r12, the 1-D downscale tier):
    planted 2:1 truncating-box decimations are all recovered (exact-key
    join, recall 1.0 by construction) INCLUDING on signed PCM where the
    truncate-toward-zero semantics of Spark ``div`` must match the
    DuckDB oracle's ``//``, an unrelated half-length clip never matches,
    a round-half-up resampler is correctly OUTSIDE the exact claim, and
    constant-clip key cliques die under the cap."""
    import numpy as np

    rng = np.random.default_rng(12)
    rows, want = [], set()
    for i in range(30):
        s = rng.integers(-32000, 32000, 64)
        rows.append((i, [int(x) for x in s]))
        pairs = s.reshape(32, 2).astype(np.int64)
        trunc = (pairs.sum(1) / 2).astype(np.int64)  # trunc toward zero
        if i % 3 == 0:  # truncating decimator -> must match
            rows.append((i + 1000, [int(x) for x in trunc]))
            want.add((i, i + 1000))
        if i % 3 == 1:  # round-half-up -> outside the claim
            rhu = np.floor(pairs.sum(1) / 2 + 0.5).astype(np.int64)
            rows.append((i + 2000, [int(x) for x in rhu]))
    rows.append((9000, [int(x) for x in rng.integers(-32000, 32000, 32)]))
    df = spark.createDataFrame(rows, "media_id long, s array<int>")
    out = D.resampled_derivative_pairs(df).collect()
    assert {(r.full_id, r.resampled_id) for r in out} == want
    assert all(r.resampled_n == 32 for r in out)
    # constant clique: identical constant clips share derived/own keys
    const = [(100 + i, [7] * 64) for i in range(10)] + [(200, [7] * 32)]
    cdf = spark.createDataFrame(const, "media_id long, s array<int>")
    # each of the 10 full clips pairs with the one 32-sample constant AND
    # with each other's decimations? no: parents join kids on the DERIVED
    # key, so every full clip matches the short clip (10 pairs) plus
    # nothing else (full clips' own keys are 64-long, never derived)
    assert len(D.resampled_derivative_pairs(cdf).collect()) == 10
    assert D.resampled_derivative_pairs(cdf, max_bucket_size=5).collect() == []
    q = QUERIES["audio_resampled_near_dup_pairs"](spark, SF)
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert len(q.collect()) > 0


def test_video_cropped_pairs_catch_what_shift_and_dhash_miss(spark):
    """Per-frame video crop contract (r12): a consistent (dr, dc) crop
    of every frame is (a) recovered with ssd = 0 and the true offset
    (pigeonhole recall 1.0 via frame-0 tokens), (b) invisible to both
    the frame-order video_dhash AND the full-frame shingle shift tier,
    (c) a clip matching on frame 0 only is rejected by the multi-frame
    verify, and (d) hot constant-frame buckets die under the cap."""
    import numpy as np

    rng = np.random.default_rng(14)

    def crop(px, dr, dc, frames=4, side=4, nh=3, nw=3):
        g = np.asarray(px).reshape(frames, side, side)
        return [int(x) for x in g[:, dr:dr + nh, dc:dc + nw].reshape(-1)]

    base = [(i, [int(x) for x in rng.integers(0, 256, 64)]) for i in range(30)]
    rows, want = [], {}
    for i, px in base:
        rows.append((i, 4, 4, px))
        if i % 3 == 0:
            dr, dc = [(1, 0), (0, 1), (1, 1)][(i // 3) % 3]
            rows.append((i + 1000, 3, 3, crop(px, dr, dc)))
            want[(i, i + 1000)] = (dr, dc)
    # frame-0-only impostor of clip 0: same first frame, random rest
    rows.append((9000, 4, 4, base[0][1][:16]
                 + [int(x) for x in rng.integers(0, 256, 48)]))
    df = spark.createDataFrame(rows, "media_id long, w int, h int, px array<int>")
    out = D.video_cropped_pairs(df, frames=4, max_crop=1, side=4).collect()
    got = {(r.id_a, r.id_b): (r.dr, r.dc, r.ssd) for r in out}
    assert set(got) == set(want)
    assert all(got[k] == (dr, dc, 0) for k, (dr, dc) in want.items())
    # (b) invisible to the temporal-shift tier and the positional dhash
    flat = spark.createDataFrame(
        [(m, px) for m, w, h, px in rows if w == 4],
        "media_id long, px array<int>",
    )
    shifted = {
        (r.id_a, r.id_b)
        for r in D.video_frame_shifted_pairs(flat).collect()
    }
    assert not (shifted & set(want))
    # (d) constant clips: every frame identical constant -> one hot token
    const = [(100 + i, 4, 4, [9] * 64) for i in range(12)]
    cdf = spark.createDataFrame(const, "media_id long, w int, h int, px array<int>")
    assert len(D.video_cropped_pairs(cdf, frames=4, max_crop=1, side=4).collect()) == 66
    assert D.video_cropped_pairs(
        cdf, frames=4, max_crop=1, side=4, max_bucket_size=5
    ).collect() == []
    q = QUERIES["video_cropped_near_dup_pairs"](spark, SF)
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert len(q.collect()) > 0


def test_resample_keys_compose_with_incremental_exact_machinery(spark):
    """The resample tier needs NO bespoke incremental operator (the
    rotation/thumbnail precedent): history clips' DERIVED half-rate keys
    are plain exact fingerprints, so incremental_exact_dedup's anti-join
    IS the deployment shape — an incoming clip that is a 2:1 decimation
    of ANY at-rest clip is dropped, a novel clip survives, O(batch)
    against the at-rest derived-key table."""
    import numpy as np

    rng = np.random.default_rng(18)
    hist = [(i, rng.integers(-32000, 32000, 64)) for i in range(20)]
    hdf = spark.createDataFrame(
        [(i, [int(x) for x in s]) for i, s in hist],
        "media_id long, s array<int>",
    )
    # at-rest index: each history clip's DERIVED half-rate key (the
    # parents side of resampled_derivative_pairs, reused as fingerprints)
    hist_fps = (
        hdf.select(
            F.col("media_id").alias("doc_id"),
            F.expr(
                "transform(sequence(0, 31), i -> "
                "(s[2*i] + s[2*i + 1]) div 2)"
            ).alias("__d__"),
        )
        .select(
            "doc_id",
            F.expr(
                "md5(concat(cast(size(__d__) as string), ':', "
                "array_join(transform(__d__, x -> cast(x as string)), ' ')))"
            ).alias("fingerprint"),
        )
    )
    batch_rows = []
    for i, s in hist:
        if i % 4 == 0:  # 2:1 truncating decimation of an at-rest clip
            pairs = s.reshape(32, 2).astype(np.int64)
            batch_rows.append(
                (i + 1000, [int(x) for x in (pairs.sum(1) / 2).astype(np.int64)])
            )
    batch_rows.append((5000, [int(x) for x in rng.integers(-32000, 32000, 32)]))
    bdf = spark.createDataFrame(batch_rows, "doc_id long, s array<int>")
    batch_fps = bdf.select(
        "doc_id",
        F.expr(
            "md5(concat(cast(size(s) as string), ':', "
            "array_join(transform(s, x -> cast(x as string)), ' ')))"
        ).alias("fingerprint"),
    )
    survivors = {
        r.keeper for r in D.incremental_exact_dedup(batch_fps, hist_fps).collect()
    }
    assert survivors == {5000}  # every decimation dropped, novel kept


def test_video_crop_incremental_equals_full_cross_pairs(spark):
    """The video crop cell's deployment shape (crop_index +
    incremental_cropped_dedup at frames=4) must find exactly the cross
    (batch, history) pairs the full scan finds over the union — the
    O(batch) path loses nothing (pigeonhole recall, frame-0 tokens,
    multi-plane verify)."""
    import numpy as np

    rng = np.random.default_rng(19)

    def crop(px, dr, dc, frames=4, side=4, nh=3, nw=3):
        g = np.asarray(px).reshape(frames, side, side)
        return [int(x) for x in g[:, dr:dr + nh, dc:dc + nw].reshape(-1)]

    hist = [(i, [int(x) for x in rng.integers(0, 256, 64)]) for i in range(24)]
    hdf = spark.createDataFrame(
        [(i, 4, 4, px) for i, px in hist],
        "media_id long, w int, h int, px array<int>",
    )
    batch_rows = [
        (i + 1000, 3, 3, crop(px, *[(1, 0), (0, 1), (1, 1)][i % 3]))
        for i, px in hist
        if i % 4 == 0
    ] + [(9000, 4, 4, [int(x) for x in rng.integers(0, 256, 64)])]
    bdf = spark.createDataFrame(
        batch_rows, "media_id long, w int, h int, px array<int>"
    )
    toks, grids = D.crop_index(hdf, max_crop=1, side=4)
    got = {
        (r.new_id, r.old_id, r.dr, r.dc, r.ssd)
        for r in D.incremental_cropped_dedup(
            bdf, toks, grids, max_crop=1, side=4, frames=4
        ).collect()
    }
    full = {
        (r.id_b, r.id_a, -r.dr, -r.dc, r.ssd)
        for r in D.video_cropped_pairs(
            hdf.unionByName(bdf), frames=4, max_crop=1, side=4
        ).collect()
        if r.id_b >= 1000 and r.id_a < 1000  # cross pairs only
    }
    # the probe reports the batch->history offset; the full scan reports
    # history->batch (id_a < id_b ordering), hence the sign flip
    assert got == full and len(got) == 6


def test_video_resampled_pairs_strided_exact(spark):
    """Temporal-resample contract (r12): frame-pair-averaged 2:1
    decimations are recovered exactly at stride = frame size, a
    SAMPLE-wise (stride-1) decimation of the same clip never matches the
    frame tier (and vice versa — the two cells are disjoint), and the
    stride=1 path is the audio tier unchanged."""
    import numpy as np

    rng = np.random.default_rng(21)
    rows, want = [], set()
    for i in range(24):
        px = rng.integers(0, 256, 64)
        rows.append((i, [int(x) for x in px]))
        if i % 3 == 0:  # frame-pair average -> must match at stride=16
            fr = px.reshape(4, 16).astype(np.int64)
            tw = ((fr[0::2] + fr[1::2]) / 2).astype(np.int64)
            rows.append((i + 1000, [int(x) for x in tw.reshape(-1)]))
            want.add((i, i + 1000))
        if i % 3 == 1:  # sample-wise decimation -> must NOT match at stride=16
            p = px.reshape(32, 2).astype(np.int64)
            rows.append((i + 2000, [int(x) for x in (p.sum(1) // 2)]))
    df = spark.createDataFrame(rows, "media_id long, s array<int>")
    out = D.resampled_derivative_pairs(df, stride=16).collect()
    assert {(r.full_id, r.resampled_id) for r in out} == want
    assert all(r.resampled_n == 32 for r in out)
    # the sample-wise twins ARE found by the stride-1 (audio) tier
    out1 = {(r.full_id, r.resampled_id)
            for r in D.resampled_derivative_pairs(df, stride=1).collect()}
    assert out1 == {(i, i + 2000) for i in range(24) if i % 3 == 1}
    q = QUERIES["video_resampled_near_dup_pairs"](spark, SF)
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert len(q.collect()) > 0


def test_trimmed_pairs_pigeonhole_exact_and_capped(spark):
    """Trim-derivative contract (r13, the crop tier's argument in 1-D):
    planted head/tail trims within budget are all recovered with the
    TRUE (head, tail) at ssd = 0 (prefix-anchor pigeonhole, recall 1.0
    by construction); a head trim past the budget is missed BY CONTRACT
    (no anchor token); an over-budget TAIL is caught by blocking but
    rejected by the verify; equal-length exact dups are NOT reported
    (proper trims only — that grain belongs to exact_dedup); a
    corrupted sample inside the anchored prefix defeats blocking at
    ssd_tol = 0 (the documented weakening); constant-clip cliques die
    under the cap."""
    import numpy as np

    rng = np.random.default_rng(13)
    rows, want = [], {}
    base = [(i, [int(x) for x in rng.integers(-32000, 32000, 64)]) for i in range(24)]
    for i, s in base:
        rows.append((i, s))
        if i % 4 == 0:  # head-only trim
            rows.append((i + 1000, s[1:]))
            want[(i, i + 1000)] = (1, 0)
        elif i % 4 == 1:  # tail-only trim
            rows.append((i + 2000, s[:-2]))
            want[(i, i + 2000)] = (0, 2)
        elif i % 4 == 2:  # head over budget: blocking miss by contract
            rows.append((i + 3000, s[3:]))
        else:  # both sides at budget
            rows.append((i + 4000, s[2:-2]))
            want[(i, i + 4000)] = (2, 2)
    # over-budget TAIL: prefix anchor collides (head 0), verify rejects
    i0, s0 = base[0]
    rows.append((9000, s0[:-3]))
    # exact duplicate: same length, never a proper trim
    rows.append((9001, list(s0)))
    # corruption inside the 16-sample anchored prefix: blocked out at tol 0
    s_bad = list(s0[1:])
    s_bad[5] += 1
    rows.append((9002, s_bad))
    df = spark.createDataFrame(rows, "media_id long, s array<int>")
    got = {
        (r.full_id, r.trimmed_id): (r.head, r.tail, r.ssd)
        for r in D.trimmed_sequence_pairs(df, max_trim=2, anchor=16).collect()
    }
    # 9001 (exact dup of clip 0) emits parent tokens too, so (9001, twin)
    # pairs ride along for clip 0's planted derivatives — same content,
    # genuinely valid trims of it. Restrict the planted-recall check to
    # base-side fulls, then assert every extra pair is the 9001 shadow.
    planted = {k: v for k, v in got.items() if k[0] < 1000}
    assert planted == {k: (h, t, 0) for k, (h, t) in want.items()}
    for (fid, tid), (h, t, ssd) in got.items():
        if fid >= 1000:
            assert fid == 9001 and tid in (1000, 9002, 9000), (fid, tid)
            assert ssd == 0
    assert (9001, 9002) not in got  # corrupted prefix: ssd > 0 never passes
    assert (0, 9002) not in got
    assert (0, 9000) not in got and (9001, 9000) not in got  # tail 3 > budget
    assert (0, 9001) not in got and (9001, 0) not in got  # no equal-length
    assert (8, 8 + 3000) not in got  # head 3: outside the pigeonhole budget

    # constant clique: 10 fulls + one 62-sample constant; every full
    # pairs the short clip at (head 0, tail 2) by tie-break; cap kills it
    const = [(100 + i, [7] * 64) for i in range(10)] + [(200, [7] * 62)]
    cdf = spark.createDataFrame(const, "media_id long, s array<int>")
    cout = D.trimmed_sequence_pairs(cdf).collect()
    assert {(r.full_id, r.trimmed_id) for r in cout} == {
        (100 + i, 200) for i in range(10)
    }
    assert all(r.head == 0 and r.tail == 2 and r.ssd == 0 for r in cout)
    assert D.trimmed_sequence_pairs(cdf, max_bucket_size=5).collect() == []

    q = QUERIES["audio_trimmed_near_dup_pairs"](spark, SF)
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert len(q.collect()) > 0


def test_incremental_resample_probe_both_directions(spark):
    """Resample probe contract (r13, the deployment shape of the
    scale-axis tiers): a batch decimation of an indexed clip is found
    via own-vs-derived (role batch_resampled); a batch FULL clip whose
    decimation is already indexed is found via derived-vs-own (role
    batch_full); own-vs-own (an exact duplicate) is NOT this tier's
    grain; unrelated clips produce nothing; constant-key cliques die
    under the history-side cap."""
    import numpy as np

    rng = np.random.default_rng(15)
    hist_rows = [
        (i, [int(x) for x in rng.integers(-32000, 32000, 64)])
        for i in range(20)
    ]
    seqs = {i: s for i, s in hist_rows}

    def dec(s):
        return [
            int((s[2 * k] + s[2 * k + 1]) / 2)  # trunc toward zero
            for k in range(len(s) // 2)
        ]

    hist_rows.append((505, dec(seqs[5])))  # an indexed decimation
    hdf = spark.createDataFrame(hist_rows, "media_id long, s array<int>")
    idx = D.resample_index(hdf)
    batch = spark.createDataFrame(
        [
            (1003, dec(seqs[3])),  # resampled re-upload of clip 3
            (1005, list(seqs[5])),  # full-rate original of indexed 505
            (1999, [int(x) for x in rng.integers(-32000, 32000, 64)]),
        ],
        "media_id long, s array<int>",
    )
    got = {
        (r.new_id, r.old_id): (r.role, r.resampled_n)
        for r in D.incremental_resampled_dedup(batch, idx).collect()
    }
    assert got == {
        (1003, 3): ("batch_resampled", 32),
        (1005, 505): ("batch_full", 32),
    }
    # own-vs-own is exact_dedup's grain: 1005 == clip 5 verbatim, no row
    assert (1005, 5) not in got

    const_hist = spark.createDataFrame(
        [(100 + i, [7] * 64) for i in range(10)], "media_id long, s array<int>"
    )
    cidx = D.resample_index(const_hist)
    cbatch = spark.createDataFrame(
        [(900, [7] * 32)], "media_id long, s array<int>"
    )
    assert len(D.incremental_resampled_dedup(cbatch, cidx).collect()) == 10
    assert (
        D.incremental_resampled_dedup(cbatch, cidx, max_bucket_size=5).collect()
        == []
    )

    q = QUERIES["incremental_resample_probe"](spark, SF)
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert len(q.collect()) > 0


def test_incremental_trim_probe_both_directions(spark):
    """Trim probe contract (r13): a batch TRIM of an indexed clip is
    found via prefix-vs-head-window tokens (role batch_trimmed) with the
    true (head, tail); a batch UNTRIMMED original of an indexed trim is
    found via head-window-vs-prefix tokens (role batch_full); an
    over-budget trim is missed by contract; unrelated clips produce
    nothing; the history-side cap kills constant cliques."""
    import numpy as np

    rng = np.random.default_rng(16)
    seqs = {i: [int(x) for x in rng.integers(-32000, 32000, 64)] for i in range(12)}
    hist_rows = [(i, s) for i, s in seqs.items()]
    hist_rows.append((505, seqs[5][1:-1]))  # an indexed trim of clip 5
    hdf = spark.createDataFrame(hist_rows, "media_id long, s array<int>")
    toks, sq = D.trim_index(hdf, max_trim=2, anchor=16)
    batch = spark.createDataFrame(
        [
            (1003, seqs[3][2:-1]),   # head-2/tail-1 trim of clip 3
            (1005, list(seqs[5])),   # untrimmed original of indexed 505
            (1007, seqs[7][3:]),     # head-3: over budget, no anchor hit
            (1999, [int(x) for x in rng.integers(-32000, 32000, 64)]),
        ],
        "media_id long, s array<int>",
    )
    got = {
        (r.new_id, r.old_id): (r.role, r.head, r.tail, r.ssd)
        for r in D.incremental_trimmed_dedup(
            batch, toks, sq, max_trim=2, anchor=16
        ).collect()
    }
    assert got == {
        (1003, 3): ("batch_trimmed", 2, 1, 0),
        (1005, 505): ("batch_full", 1, 1, 0),
    }

    const_hist = spark.createDataFrame(
        [(100 + i, [7] * 64) for i in range(10)], "media_id long, s array<int>"
    )
    ctoks, cseqs = D.trim_index(const_hist)
    cbatch = spark.createDataFrame(
        [(900, [7] * 62)], "media_id long, s array<int>"
    )
    hits = D.incremental_trimmed_dedup(cbatch, ctoks, cseqs).collect()
    assert {(r.new_id, r.old_id) for r in hits} == {(900, 100 + i) for i in range(10)}
    assert (
        D.incremental_trimmed_dedup(
            cbatch, ctoks, cseqs, max_bucket_size=5
        ).collect()
        == []
    )

    q = QUERIES["incremental_trim_probe"](spark, SF)
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert len(q.collect()) > 0


def test_video_trimmed_pairs_strided_exact(spark):
    """Video temporal-trim contract (r13, the trim core's stride path):
    planted head/tail FRAME trims are recovered with the true frame-unit
    (head, tail) at ssd = 0; a clip trimmed by a NON-frame-aligned
    amount never matches (the whole-units guard); a 2-frame trim is
    over budget and missed by contract; the stride=1 path is untouched
    (expression text pinned by the audio tests)."""
    import numpy as np

    rng = np.random.default_rng(17)
    FR = 16  # 4x4 frame
    rows, want = [], {}
    base = [(i, [int(x) for x in rng.integers(0, 256, 64)]) for i in range(12)]
    for i, px in base:
        rows.append((i, px))
        if i % 3 == 0:  # drop first frame
            rows.append((i + 1000, px[FR:]))
            want[(i, i + 1000)] = (1, 0)
        elif i % 3 == 1:  # drop last frame
            rows.append((i + 2000, px[:-FR]))
            want[(i, i + 2000)] = (0, 1)
        else:  # drop one frame each side
            rows.append((i + 3000, px[FR:-FR]))
            want[(i, i + 3000)] = (1, 1)
    px0 = base[0][1]
    rows.append((9000, px0[8:]))        # half-frame trim: not whole units
    rows.append((9001, px0[2 * FR :]))  # 2-frame head trim: over budget
    df = spark.createDataFrame(rows, "media_id long, px array<int>")
    got = {
        (r.full_id, r.trimmed_id): (r.head, r.tail, r.ssd)
        for r in D.trimmed_sequence_pairs(
            df, max_trim=1, anchor=1, s_col="px", stride=FR
        ).collect()
    }
    assert {k: v for k, v in got.items() if k[0] < 1000} == {
        k: (h, t, 0) for k, (h, t) in want.items()
    }
    assert (0, 9000) not in got
    assert (0, 9001) not in got

    q = QUERIES["video_trimmed_near_dup_pairs"](spark, SF)
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert len(q.collect()) > 0


def test_incremental_trim_probe_strided_video(spark):
    """The trim probe's stride path (video temporal trim): a batch clip
    missing the FIRST FRAME of an indexed video is caught with
    frame-unit (head, tail); a half-frame trim never matches (whole-
    units guard); the batch_full direction reports the untrimmed
    original of an indexed frame-trim."""
    import numpy as np

    rng = np.random.default_rng(18)
    FR = 16
    vids = {i: [int(x) for x in rng.integers(0, 256, 64)] for i in range(6)}
    hist_rows = [(i, px) for i, px in vids.items()]
    hist_rows.append((505, vids[5][FR:]))  # indexed head-1-frame trim
    hdf = spark.createDataFrame(hist_rows, "media_id long, s array<int>")
    toks, sq = D.trim_index(hdf, max_trim=1, anchor=1, stride=FR)
    batch = spark.createDataFrame(
        [
            (1003, vids[3][FR:]),      # head-1-frame trim of clip 3
            (1004, vids[4][8:]),       # half-frame: not whole units
            (1005, list(vids[5])),     # untrimmed original of indexed 505
        ],
        "media_id long, s array<int>",
    )
    got = {
        (r.new_id, r.old_id): (r.role, r.head, r.tail, r.ssd)
        for r in D.incremental_trimmed_dedup(
            batch, toks, sq, max_trim=1, anchor=1, stride=FR
        ).collect()
    }
    assert got == {
        (1003, 3): ("batch_trimmed", 1, 0, 0),
        (1005, 505): ("batch_full", 1, 0, 0),
    }


def test_image_transform_resolution_collapses_axes(spark):
    """Resolution contract (r13): an original and its crop, thumbnail
    and rotation derivatives collapse into ONE cluster (no two
    derivatives ever pair directly — the transitive closure does the
    collapsing), keep_id is the original, and the axis rollup counts
    each contributing arm once."""
    rows = {
        (r.keep_id): (r.n_members, r.n_axes, r.n_dropped)
        for r in QUERIES["image_transform_resolution"](spark, SF).collect()
    }
    assert rows, "no clusters at sf0.001"
    for keep_id, (m, a, d) in rows.items():
        assert keep_id < 1_000_000  # the original, never a twin
        assert d == m - 1
        assert 1 <= a <= 3
    # every planted original carries all three axes at this corpus
    assert all(a == 3 and m == 4 for m, a, _ in rows.values()), rows
    q = QUERIES["image_transform_resolution"](spark, SF)
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan


def test_audio_transform_resolution_collapses_axes(spark):
    """Audio resolution contract (r14): an original walk and its
    resample (+4M), trim (+7M) and trim∘gain (+9M) derivatives
    collapse into ONE cluster via the transitive closure (the
    derivatives never pair directly), keep_id is the original, and
    each contributing axis counts once."""
    rows = {
        r.keep_id: (r.n_members, r.n_axes, r.n_dropped)
        for r in QUERIES["audio_transform_resolution"](spark, SF).collect()
    }
    assert rows, "no clusters at sf0.001"
    for keep_id, (m, a, d) in rows.items():
        assert keep_id < 1_000_000  # the original, never a twin
        assert d == m - 1
        assert 1 <= a <= 3
    # every planted original carries all three axes at this corpus
    assert all(a == 3 and m == 4 for m, a, _ in rows.values()), rows
    q = QUERIES["audio_transform_resolution"](spark, SF)
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan


def test_video_transform_resolution_collapses_axes(spark):
    """Video resolution contract (r14): an original grid and its crop
    (+5M), temporal-resample (+6M) and temporal-trim (+8M) derivatives
    collapse into ONE cluster, keep_id is the original, and all three
    axes count once."""
    rows = {
        r.keep_id: (r.n_members, r.n_axes, r.n_dropped)
        for r in QUERIES["video_transform_resolution"](spark, SF).collect()
    }
    assert rows, "no clusters at sf0.001"
    for keep_id, (m, a, d) in rows.items():
        assert keep_id < 1_000_000
        assert d == m - 1
        assert 1 <= a <= 3
    assert all(a == 3 and m == 4 for m, a, _ in rows.values()), rows
    q = QUERIES["video_transform_resolution"](spark, SF)
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan


def test_keep_best_ranking_beats_min_label(spark):
    """Direct proof the keep-best RANKING machinery is live (r14
    review): on the planted corpora the original is simultaneously the
    min-id and the size winner, so a regression to plain min-label
    would pass every corpus test. Drive _keep_best_from_edges with
    synthetic clusters where (a) a HIGHER-id member wins on n_px, and
    (b) same-size members differ only in variance — both must beat the
    label minimum, and the reported cluster_id must stay the min
    label."""
    from network_iq_spark.queries.media import _keep_best_from_edges

    e = spark.createDataFrame(
        [(1, 2, "scale"), (10, 11, "crop"), (10, 12, "crop")],
        "src bigint, dst bigint, axis string",
    )
    members = spark.createDataFrame(
        [
            # cluster {1, 2}: id 2 is BIGGER (thumbnail stored as the
            # "original" by a bad uploader) -> n_px rank must pick 2
            (1, [5, 5]),
            (2, [9, 1, 4, 7]),
            # cluster {10, 11, 12}: all same size; 11 has the highest
            # variance; 12 ties 10's variance but loses the id tie
            (10, [3, 3, 3]),
            (11, [0, 9, 0]),
            (12, [3, 3, 3]),
        ],
        "media_id bigint, s array<int>",
    )
    got = {
        r.cluster_id: (r.keeper, r.keeper_npx, r.n_members, r.n_axes)
        for r in _keep_best_from_edges(e, members).collect()
    }
    assert got == {
        1: (2, 4, 2, 1),    # size beats the min label
        10: (11, 3, 3, 1),  # variance beats the min label
    }, got


def test_transform_admission_manifest_composes(spark):
    """The admission manifest must equal the union of the three
    keep-best queries (modality tag aside) — composition, not a
    re-derivation that could drift."""
    got = {
        (r.modality, r.cluster_id): (r.keeper, r.n_members, r.n_dropped)
        for r in QUERIES["transform_admission_manifest"](spark, SF).collect()
    }
    want = {}
    for m, q in (
        ("image", "image_resolution_keep_best"),
        ("audio", "audio_resolution_keep_best"),
        ("video", "video_resolution_keep_best"),
    ):
        for r in QUERIES[q](spark, SF).collect():
            want[(m, r.cluster_id)] = (r.keeper, r.n_members, r.n_dropped)
    assert got == want


def test_audio_trim_gain_pairs_recovers_planted(spark):
    """Trim∘gain contract (r14): every planted (trim, affine-gain)
    twin is recovered with its TRUE (head, tail) — the gradient-sign
    domain turns the composition into a pure trim, so the trim tier's
    pigeonhole recall-1.0 argument carries over; ssd = 0 over sign
    sequences."""
    from network_iq_spark.queries.media import (
        _TG_TWIN_EVERY,
        _TG_TWIN_OFFSET,
        _TRIM_ARMS,
    )

    got = {
        (r.full_id, r.trimmed_id): (r.head, r.tail, r.ssd)
        for r in QUERIES["audio_trim_gain_pairs"](spark, SF).collect()
    }
    assert got, "no pairs at sf0.001"
    import pyarrow.parquet as pq

    n_vecs = pq.read_table(f"{SF}/embeddings.parquet", columns=["vec_id"]).num_rows
    planted = [i for i in range(n_vecs) if i % _TG_TWIN_EVERY == 0]
    assert planted
    for x in planted:
        h, t = _TRIM_ARMS[(x // _TG_TWIN_EVERY) % len(_TRIM_ARMS)]
        assert got[(x, x + _TG_TWIN_OFFSET)] == (h, t, 0), (x, h, t)
    # precision: every reported pair is an exact ordinal match (ssd 0)
    assert all(v[2] == 0 for v in got.values())


def test_trim_gain_operator_gain_invariance(spark):
    """Direct operator-level proof of the composition claim: a clip, an
    affine-gained trim of it, and a NEGATIVE-gain (inverted) trim — the
    first pairs at the true offsets, the inversion does not (monotone
    increasing maps only)."""
    from network_iq_spark.operators import dedup as D
    from network_iq_spark.queries.media import _GSIGN_EXPR

    s0 = [((i * 37) % 101) - 50 for i in range(64)]
    rows = [
        (1, s0),
        (2, [5 * x + 3 for x in s0[1:]]),        # head-1 trim, gain 5x+3
        (3, [-2 * x for x in s0[1:]]),           # inverted: must NOT pair
    ]
    df = spark.createDataFrame(rows, "media_id long, s array<int>")
    g = df.select("media_id", F.expr(_GSIGN_EXPR.format(v="s")).alias("s"))
    got = {
        (r.full_id, r.trimmed_id): (r.head, r.tail, r.ssd)
        for r in D.trimmed_sequence_pairs(g, max_trim=2, anchor=16).collect()
    }
    assert got == {(1, 2): (1, 0, 0)}, got


def test_image_resolution_keep_best_policy(spark):
    """Keep-best contract (r14): the chosen survivor is the
    highest-RESOLUTION member (n_px DESC), variance units then id
    break ties — so for every planted cluster the keeper is the 8x8
    ORIGINAL (beats crop/thumb on size; beats the rotation twin on id
    after the size+variance tie), and the cluster geometry (members,
    axes, drops) matches image_transform_resolution exactly."""
    kb = {
        r.cluster_id: (
            r.keeper, r.keeper_npx, r.n_members, r.n_axes, r.n_dropped
        )
        for r in QUERIES["image_resolution_keep_best"](spark, SF).collect()
    }
    res = {
        r.keep_id: (r.n_members, r.n_axes, r.n_dropped)
        for r in QUERIES["image_transform_resolution"](spark, SF).collect()
    }
    assert set(kb) == set(res)
    for cid, (keeper, npx, m, a, d) in kb.items():
        assert (m, a, d) == res[cid]
        assert keeper == cid  # original = min-label AND the size winner
        assert npx == 64  # full-resolution survivor, never a derivative
    q = QUERIES["image_resolution_keep_best"](spark, SF)
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan


def test_audio_video_resolution_keep_best_policy(spark):
    """Keep-best contract for the audio and video modalities (r14):
    the survivor is the full-length ORIGINAL (64 samples / 64 px beats
    every decimation, trim and crop on n_px; no same-size twin exists
    in these corpora so the size rank alone decides), and the cluster
    geometry matches the modality's resolution query exactly."""
    for kb_name, res_name in (
        ("audio_resolution_keep_best", "audio_transform_resolution"),
        ("video_resolution_keep_best", "video_transform_resolution"),
    ):
        kb = {
            r.cluster_id: (
                r.keeper, r.keeper_npx, r.n_members, r.n_axes, r.n_dropped
            )
            for r in QUERIES[kb_name](spark, SF).collect()
        }
        res = {
            r.keep_id: (r.n_members, r.n_axes, r.n_dropped)
            for r in QUERIES[res_name](spark, SF).collect()
        }
        assert set(kb) == set(res), kb_name
        for cid, (keeper, npx, m, a, d) in kb.items():
            assert (m, a, d) == res[cid], (kb_name, cid)
            assert keeper == cid, (kb_name, cid)
            assert npx == 64, (kb_name, cid, npx)


def test_audio_landmark_pairs_recovers_planted(spark):
    """Landmark-family contract (r14): every planted trim∘gain∘NOISE
    twin — the composition the integer-exact tiers document as out of
    scope — is recovered at its TRUE head offset with >= 2 agreeing
    tokens and corr² >= 0.995, and nothing else is reported (measured
    precision 1.0 at fixture scale). Recall here is measured, not
    pigeonhole-guaranteed (the tier is BENCH_ONLY by the shifted-tier
    precedent), so this test pins the measured behaviour the SCALE.md
    table documents."""
    from network_iq_spark.queries.media import (
        _LM_TWIN_EVERY,
        _LM_TWIN_OFFSET,
        _TRIM_ARMS,
    )

    rows = QUERIES["audio_landmark_pairs"](spark, SF).collect()
    assert rows, "no pairs at sf0.001"
    got = {(r.id_a, r.id_b): r for r in rows}
    import pyarrow.parquet as pq

    n_vecs = pq.read_table(f"{SF}/embeddings.parquet", columns=["vec_id"]).num_rows
    planted = [i for i in range(n_vecs) if i % _LM_TWIN_EVERY == 0]
    assert planted
    assert set(got) == {(x, x + _LM_TWIN_OFFSET) for x in planted}
    for x in planted:
        r = got[(x, x + _LM_TWIN_OFFSET)]
        h, _t = _TRIM_ARMS[(x // _LM_TWIN_EVERY) % len(_TRIM_ARMS)]
        assert r.offset == h, (x, r.offset, h)
        assert r.votes >= 2 and r.corr2 >= 0.995, (x, r.votes, r.corr2)


def test_landmark_operator_invariances(spark):
    """Direct operator-level proof of the three claims: (a) a
    shift∘gain derivative (pure subsequence under positive affine gain
    — the shifted tier's documented boundary) pairs at the true offset;
    (b) an INVERTED copy (negative gain) does not pair — its landmarks
    are valleys, so it fails blocking, and the cov > 0 verify would
    reject it regardless; (c) an unrelated sequence does not pair."""
    import hashlib

    def step(seed, i):
        return int(hashlib.md5(f"{seed}|{i}".encode()).hexdigest()[:4], 16) % 401 - 200

    s0, acc = [], 0
    for i in range(64):
        acc += step(7, i)
        s0.append(acc)
    u0, acc = [], 0
    for i in range(64):
        acc += step(99, i)
        u0.append(acc)
    rows = [
        (1, s0),
        (2, [3 * x + 11 for x in s0[4:]]),   # 4-shift ∘ gain 3x+11
        (3, [-2 * x for x in s0]),           # inverted: must NOT pair
        (4, u0),                             # unrelated: must NOT pair
    ]
    df = spark.createDataFrame(rows, "media_id long, s array<int>")
    got = {
        (r.id_a, r.id_b): r for r in D.landmark_sequence_pairs(df).collect()
    }
    assert set(got) == {(1, 2)}, set(got)
    assert got[(1, 2)].offset == 4
    assert got[(1, 2)].corr2 >= 0.995


def test_landmark_tokens_exactly_gain_invariant(spark):
    """The token table — positions, gaps AND ratio buckets — is
    bit-identical under an exact positive affine gain: every strength
    scales by a, so the strong-peak keep set, the gap geometry and the
    integer ratio quantization all cancel the gain. (Noise robustness
    is measured, gain invariance is exact.)"""
    s0 = []
    acc = 0
    for i in range(64):
        acc += ((i * 53) % 257) - 128
        s0.append(acc)
    df = spark.createDataFrame(
        [(1, s0), (2, [7 * x + 13 for x in s0])], "media_id long, s array<int>"
    )
    marks = D._lm_landmarks(
        df.selectExpr("media_id as __id__", "s as __s__")
    )
    toks = marks.select(
        "__id__", F.expr(D._LM_TOKENS_EXPR).alias("t")
    ).collect()
    by_id = {r["__id__"]: r.t for r in toks}
    assert by_id[1] == by_id[2]
    assert len(by_id[1]) >= 2


def test_landmark_bucket_cap_semantics(spark):
    """max_bucket_size is the shared hot-bucket guard: a constant-token
    corpus (every clip identical ⇒ every token in one bucket) emits
    nothing under a tiny cap."""
    s0 = []
    acc = 0
    for i in range(64):
        acc += ((i * 53) % 257) - 128
        s0.append(acc)
    df = spark.createDataFrame(
        [(i, s0) for i in range(12)], "media_id long, s array<int>"
    )
    assert D.landmark_sequence_pairs(df, max_bucket_size=5).collect() == []
    # and uncapped the identical clips all pair at offset 0
    full = D.landmark_sequence_pairs(df).collect()
    assert len(full) == 12 * 11 // 2
    assert all(r.offset == 0 for r in full)


def test_video_landmark_pairs_precision_and_recall_floor(spark):
    """Video landmark contract (r14): precision is EXACT (every
    reported pair is a planted frame-trim∘gain∘noise twin, offset =
    16·head-frames), recall is measured with a pinned floor — the
    (1,1) double-frame-trim arm halves the landmark count, so unlike
    the audio tier a perfect sweep is not claimed (the documented
    short-clip boundary)."""
    from network_iq_spark.queries.media import (
        _VLM_ARMS,
        _VLM_TWIN_EVERY,
        _VLM_TWIN_OFFSET,
    )

    rows = QUERIES["video_landmark_pairs"](spark, SF).collect()
    assert rows
    import pyarrow.parquet as pq

    n_vecs = pq.read_table(f"{SF}/embeddings.parquet", columns=["vec_id"]).num_rows
    planted = {
        x: _VLM_ARMS[(x // _VLM_TWIN_EVERY) % len(_VLM_ARMS)][0]
        for x in range(n_vecs)
        if x % _VLM_TWIN_EVERY == 0
    }
    for r in rows:
        assert r.id_b == r.id_a + _VLM_TWIN_OFFSET and r.id_a in planted, r
        assert r.offset == 16 * planted[r.id_a], r
        assert r.votes >= 2 and r.corr2 >= 0.995, r
    assert len(rows) >= int(0.8 * len(planted)), (len(rows), len(planted))


def test_incremental_landmark_probe_matches_pairs_and_artifact(spark):
    """Probe/pairs symmetry (r14): the landmark probe over the at-rest
    index recovers exactly the pairs tier's planted set with the same
    offsets, and the committed artifact and the in-plan index fallback
    produce identical probe output (the freshness check the bench-only
    family carries in place of a DuckDB oracle)."""
    from network_iq_spark.operators import dedup as D2
    from network_iq_spark.queries.media import (
        _aud_walks,
        _aux_parquet,
        _lm_twins,
    )

    got_probe = {
        (r.old_id, r.new_id): r.offset
        for r in QUERIES["incremental_landmark_probe"](spark, SF).collect()
    }
    got_pairs = {
        (r.id_a, r.id_b): r.offset
        for r in QUERIES["audio_landmark_pairs"](spark, SF).collect()
    }
    assert got_probe == got_pairs and got_probe
    # artifact vs in-plan fallback: identical output
    src = _aud_walks(spark, SF)
    art = _aux_parquet(spark, "landmark_index", SF)
    assert art is not None, "committed landmark_index artifact missing"
    inplan = {
        (r.old_id, r.new_id): r.offset
        for r in D2.incremental_landmark_probe(
            _lm_twins(src), D2.landmark_index(src)
        ).collect()
    }
    assert inplan == got_probe


def test_aud_walk_expr_is_clamped_prefix_sum(spark):
    """The r14 O(n) running-accumulator rewrite of _AUD_WALK_EXPR must
    equal the definitional per-prefix form: s[n] = clamp(Σ steps[1..n],
    ±32000) with steps = round(clamp(emb, ±1)·2000), clamp applied to
    each prefix TOTAL (never to the carried sum). Computed independently
    in Python from the raw embeddings so a regression in either the
    steps quantization or the accumulator semantics fails loudly."""
    import math

    from network_iq_spark.queries.media import _aud_walks
    from network_iq_spark.sources import load_table

    got = {r.media_id: list(r.s) for r in _aud_walks(spark, SF).collect()}
    emb = {
        r.vec_id: list(r.embedding)
        for r in load_table(spark, SF, "embeddings").collect()
    }
    assert set(got) == set(emb) and got
    for mid, e in emb.items():
        steps = [
            int(math.floor(min(max(float(x), -1.0), 1.0) * 2000.0 + 0.5))
            for x in e
        ]
        acc, want = 0, []
        for st in steps:
            acc += st
            want.append(max(-32000, min(32000, acc)))
        assert got[mid] == want, f"walk mismatch for {mid}"
