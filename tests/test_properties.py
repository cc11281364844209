"""Property tests (SURVEY.md §5): hypothesis-generated frames checking the
invariants the panel operators rely on — quantile monotonicity, dedup ≡
window formulation, z-score scope invariance, union/unpivot round-trip."""

from __future__ import annotations

import math
import os

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

SETTINGS = dict(
    max_examples=12,
    deadline=None,
    derandomize=True,  # stable examples — the per-round CI must not flake
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

values = st.lists(
    st.floats(min_value=-1e6, max_value=1e6, allow_nan=False, width=64),
    min_size=2,
    max_size=40,
)


@given(xs=values, q1=st.floats(0.05, 0.5), q2=st.floats(0.5, 0.95))
@settings(**SETTINGS)
def test_quantile_monotonic_and_matches_pandas(spark, xs, q1, q2):
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(float(x),) for x in xs], "x double")
    lo, hi = (q1, q2) if q1 <= q2 else (q2, q1)
    row = df.agg(
        F.percentile(F.col("x"), F.lit(lo)).alias("lo"),
        F.percentile(F.col("x"), F.lit(hi)).alias("hi"),
    ).collect()[0]
    assert row.lo <= row.hi + 1e-9
    assert row.lo == pytest.approx(pd.Series(xs).quantile(lo), rel=1e-9, abs=1e-9)
    assert row.hi == pytest.approx(pd.Series(xs).quantile(hi), rel=1e-9, abs=1e-9)


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 50), st.integers(0, 1000)),
        min_size=1,
        max_size=60,
    )
)
@settings(**SETTINGS)
def test_dedup_keep_last_equals_pandas_sort_drop(spark, rows):
    """W6 equivalence: row_number-desc formulation ≡ pandas sort +
    drop_duplicates(keep='last') under a total tiebreak order."""
    from network_iq_spark.operators.windows import dedup_keep_last

    pdf = pd.DataFrame(rows, columns=["key", "ts", "uid"])
    pdf["uid"] = range(len(pdf))  # unique tiebreak
    df = spark.createDataFrame(pdf)
    got = (
        dedup_keep_last(df, ["key"], ["ts"], tiebreak=["uid"])
        .toPandas()
        .sort_values("key")
        .reset_index(drop=True)
    )
    want = (
        pdf.sort_values(["ts", "uid"], kind="stable")
        .drop_duplicates("key", keep="last")
        .sort_values("key")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got[["key", "ts", "uid"]], want[["key", "ts", "uid"]])


@given(xs=values, shift=st.floats(-100, 100), scale=st.floats(0.5, 10))
@settings(**SETTINGS)
def test_zscore_affine_invariance(spark, xs, shift, scale):
    """z-scores are invariant under affine transforms of the metric
    (the property that makes baseline z comparable across scopes).

    Precondition: the spread must sit above fp noise — for near-constant
    data the 1e-9 zero-std guard dominates and invariance genuinely does
    not hold (that case is pinned by the reference-parity goldens instead).
    """
    from hypothesis import assume

    assume(pd.Series(xs).std() > 1e-3 * (1.0 + max(abs(x) for x in xs)))
    from pyspark.sql import functions as F

    from network_iq_spark.operators.windows import zscore

    def zs(data):
        df = spark.createDataFrame([(float(x),) for x in data], "x double")
        base = df.agg(
            F.avg("x").alias("m"), F.stddev_samp("x").alias("s")
        )
        out = df.crossJoin(base).select(zscore("x", "m", "s").alias("z"))
        return sorted(r.z for r in out.collect())

    a = zs(xs)
    b = zs([x * scale + shift for x in xs])
    for x, y in zip(a, b):
        if math.isfinite(x) and math.isfinite(y) and abs(x) < 1e12:
            assert y == pytest.approx(x, rel=1e-4, abs=1e-6)


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 23), st.floats(-1e3, 1e3, allow_nan=False)),
        min_size=1,
        max_size=40,
    )
)
@settings(**SETTINGS)
def test_unpivot_roundtrip(spark, rows):
    """U2: wide → long preserves every (id, series, value) cell."""
    from network_iq_spark.operators.reshape import unpivot

    pdf = pd.DataFrame(rows, columns=["hour", "a"])
    pdf["b"] = pdf["a"] * 2
    pdf = pdf.drop_duplicates("hour")
    df = spark.createDataFrame(pdf)
    long = unpivot(df, ["hour"], ["a", "b"], "series", "value").toPandas()
    assert len(long) == 2 * len(pdf)
    back = long.pivot(index="hour", columns="series", values="value").reset_index()
    merged = back.merge(pdf, on="hour", suffixes=("_got", "_want"))
    assert (merged["a_got"] == merged["a_want"]).all()
    assert (merged["b_got"] == merged["b_want"]).all()


_words = st.sampled_from(["alpha", "beta", "gamma", "delta", "eps", "zeta"])
_texts = st.lists(
    st.lists(_words, min_size=0, max_size=30).map(" ".join),
    min_size=1,
    max_size=8,
)


@given(texts=_texts)
@settings(**SETTINGS)
def test_chunk_dedup_conserves_tokens_and_first_doc_intact(spark, texts):
    """Invariants at any input: (1) total surviving tokens == distinct
    chunk-content multiset (no chunk is kept twice); (2) the lowest-id
    non-empty doc survives byte-identical (nothing earlier can preempt its
    chunks); (3) kept_chunks ≤ n_chunks per doc."""
    from network_iq_spark.operators.dedup import chunk_dedup

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id bigint, text string"
    )
    rows = {r["doc_id"]: r.asDict() for r in chunk_dedup(df, chunk_tokens=5).collect()}
    nonempty = [(i, t) for i, t in enumerate(texts) if t.split()]
    if not nonempty:
        assert rows == {}
        return
    first_id, first_text = nonempty[0]
    assert rows[first_id]["dedup_text"] == " ".join(first_text.split())
    for d in rows.values():
        assert 0 < d["kept_chunks"] <= d["n_chunks"]
    # global: every surviving chunk text is unique across the corpus
    seen = set()
    for d in rows.values():
        toks = d["dedup_text"].split()
        # reconstruct this doc's kept chunks is not possible post-join-up;
        # instead assert no 5-token chunk string occurs twice corpus-wide
        # among SURVIVORS of the same alignment by re-chunking survivors
        # of intact docs only (kept == n_chunks means alignment preserved)
        if d["kept_chunks"] == d["n_chunks"]:
            for j in range(0, len(toks), 5):
                c = " ".join(toks[j : j + 5])
                assert c not in seen
                seen.add(c)


def test_aggregates_partition_invariant_under_shuffle_width(spark, tmp_path):
    """The cross-engine determinism contract implies PARTITION invariance:
    the same query must produce bit-identical rows whether the shuffle
    fans out over 32 partitions, 5, or 1 (different partial-agg groupings,
    different merge orders, different fixpoint round layouts). This is the
    property the integer-unit dsum discipline exists to buy — asserted
    here on a cross-section of the aggregate/window/text families, plus
    connected components over a codec round trip (image_dedup_clusters),
    the MinHash/SimHash pair tiers and top-k. The same rows must come back
    from a copy of every input table with its rows permuted under a fixed
    seed (input-order invariance: first-seen, tie-break and merge orders
    all move)."""
    import numpy as np
    import pyarrow.parquet as pq

    from network_iq_spark.registry import QUERIES

    names = [
        "pricing_summary",
        "qty_price_correlation",
        "salted_event_stats",
        "rolling_features",
        "tfidf_top_terms",
        "grouping_sets_revenue",
        "image_dedup_clusters",
        "minhash_lsh_pairs",
        "simhash_pairs",
        "cosine_topk",
        "top_revenue_customers",
    ]
    sf = "/root/testdata/sf0.001"
    rng = np.random.default_rng(7)
    for fname in sorted(os.listdir(sf)):
        t = pq.read_table(os.path.join(sf, fname))
        pq.write_table(t.take(rng.permutation(t.num_rows)), str(tmp_path / fname))
    runs = {
        "32": ("32", sf),
        "5": ("5", sf),
        "1": ("1", sf),
        "permuted": ("32", str(tmp_path)),
    }
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    rows = {}
    try:
        for key, (width, d) in runs.items():
            spark.conf.set("spark.sql.shuffle.partitions", width)
            rows[key] = {
                n: sorted(tuple(r) for r in QUERIES[n](spark, d).collect())
                for n in names
            }
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    for n in names:
        assert (
            rows["32"][n] == rows["5"][n] == rows["1"][n] == rows["permuted"][n]
        ), n


@given(
    w=st.integers(min_value=1, max_value=12),
    h=st.integers(min_value=1, max_value=12),
    color=st.booleans(),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
@settings(max_examples=40, deadline=None)
def test_png_roundtrip_property(w, h, color, seed):
    """Any uint8 image, any shape, cycling filters: decode(encode(x)) == x."""
    import numpy as np

    from network_iq_spark.operators.multimodal import decode_png, encode_png

    rng = np.random.default_rng(seed)
    shape = (h, w, 3) if color else (h, w)
    img = rng.integers(0, 256, size=shape, dtype=np.uint8)
    got = decode_png(encode_png(img))
    assert got is not None and got.shape == img.shape and (got == img).all()


@given(
    n=st.integers(min_value=1, max_value=200),
    stereo=st.booleans(),
    rate=st.sampled_from([8000, 16000, 44100]),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
@settings(max_examples=40, deadline=None)
def test_wav_roundtrip_property(n, stereo, rate, seed):
    import numpy as np

    from network_iq_spark.operators.audio import decode_wav, encode_wav

    rng = np.random.default_rng(seed)
    shape = (n, 2) if stereo else (n,)
    s = rng.integers(-32768, 32768, size=shape, dtype=np.int16)
    got_rate, got = decode_wav(encode_wav(s, rate))
    assert got_rate == rate
    want = s[:, None] if s.ndim == 1 else s
    assert (got == want).all()


@given(
    vals=st.lists(st.integers(min_value=0, max_value=255), min_size=1, max_size=9),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
@settings(max_examples=25, deadline=None)
def test_jpeg_constant_blocks_roundtrip_property(vals, seed):
    """The oracle-bearing JPEG property: ANY grid of constant 8x8 blocks
    survives encode->decode bit-exactly at quantization step 1."""
    import numpy as np

    from network_iq_spark.operators.jpeg import decode_jpeg, encode_jpeg_gray

    rng = np.random.default_rng(seed)
    n = len(vals)
    cols = int(rng.integers(1, n + 1))
    rows = (n + cols - 1) // cols
    grid = np.zeros((rows, cols), dtype=np.uint8)
    grid.flat[: n] = vals
    img = np.kron(grid, np.ones((8, 8), dtype=np.uint8))
    got = decode_jpeg(encode_jpeg_gray(img))
    assert got is not None and (got == img).all()


@given(
    nframes=st.integers(min_value=1, max_value=5),
    w=st.integers(min_value=1, max_value=8),
    h=st.integers(min_value=1, max_value=8),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
@settings(max_examples=30, deadline=None)
def test_y4m_roundtrip_property(nframes, w, h, seed):
    import numpy as np

    from network_iq_spark.operators.video import decode_y4m, encode_y4m

    rng = np.random.default_rng(seed)
    frames = [
        rng.integers(0, 256, size=(h, w), dtype=np.uint8) for _ in range(nframes)
    ]
    dec = decode_y4m(encode_y4m(frames, fps=(30, 1)))
    assert dec is not None
    dw, dh, fps, got = dec
    assert (dw, dh) == (w, h) and len(got) == nframes
    for a, b in zip(got, frames):
        assert (a == b).all()


@given(
    rows=st.lists(
        st.tuples(
            st.integers(0, 3),  # key
            st.one_of(
                st.none(),
                st.floats(min_value=-1e4, max_value=1e4, allow_nan=False, width=64),
            ),
            st.integers(0, 2),  # which batch the row lands in
        ),
        min_size=0,
        max_size=40,
    )
)
@settings(**SETTINGS)
def test_rollup_state_monoid_law_any_partition(spark, rows):
    """merge(state(A), state(B), state(C)) == state(A∪B∪C) for EVERY
    partition of the rows hypothesis draws — the batch-boundary
    invariance the IVM tier's oracle equality proves at one split,
    generalized. Values quantized to 1e-4 grid so the integer-unit sum is
    exact recovery (the dsum precondition)."""
    from pyspark.sql import functions as F

    from network_iq_spark.sources.maintenance import (
        merge_rollup_states,
        present_rollup,
        rollup_state,
    )

    quantized = [
        (k, None if v is None else round(v, 4), b) for k, v, b in rows
    ]
    schema = "k bigint, value double, b int"
    df = spark.createDataFrame(quantized, schema)
    direct = sorted(
        tuple(r) for r in present_rollup(rollup_state(df, ["k"])).collect()
    )
    parts = [rollup_state(df.filter(F.col("b") == i), ["k"]) for i in range(3)]
    merged = sorted(
        tuple(r)
        for r in present_rollup(merge_rollup_states(parts, ["k"])).collect()
    )
    assert merged == direct
