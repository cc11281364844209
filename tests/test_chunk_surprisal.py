"""Unit tests for the round-5 sub-document dedup and unigram-LM scoring
operators: chunk-grain first-occurrence semantics, full-duplicate removal,
token conservation, and surprisal ordering (rare tokens score higher)."""

from __future__ import annotations

import math

import pyspark.sql.functions as F

from network_iq_spark.operators.dedup import chunk_dedup
from network_iq_spark.operators.text import SURPRISAL_QUANT, unigram_surprisal


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_chunk_dedup_keeps_first_occurrence_and_drops_full_dups(spark):
    para = " ".join(f"w{i}" for i in range(4))  # one 4-token chunk
    other = " ".join(f"x{i}" for i in range(4))
    df = _docs(
        spark,
        [
            (1, para + " " + other),  # chunks: [para+..] — with c=4: 2 chunks
            (2, para),  # exact repeat of doc 1's first chunk → vanishes
            (3, other + " tail word here extra"),
        ],
    )
    out = {r["doc_id"]: r.asDict() for r in chunk_dedup(df, chunk_tokens=4).collect()}
    # doc 2 is fully covered by doc 1's first chunk → removed entirely
    assert 2 not in out
    assert out[1]["n_chunks"] == 2 and out[1]["kept_chunks"] == 2
    # doc 3's first chunk == doc 1's second chunk → only its tail survives
    assert out[3]["n_chunks"] == 2 and out[3]["kept_chunks"] == 1
    assert out[3]["dedup_text"] == "tail word here extra"


def test_chunk_dedup_reassembles_in_positional_order(spark):
    toks = [f"t{i:03d}" for i in range(50)]
    df = _docs(spark, [(7, " ".join(toks))])
    row = chunk_dedup(df, chunk_tokens=20).collect()[0]
    assert row["n_chunks"] == 3 == row["kept_chunks"]
    assert row["dedup_text"] == " ".join(toks)  # order preserved, nothing lost


def test_unigram_surprisal_rare_tokens_score_higher(spark):
    rows = [(i, "common common common common") for i in range(8)]
    rows.append((100, "rareword common common common"))
    out = {
        r["doc_id"]: r.asDict()
        for r in unigram_surprisal(_docs(spark, rows)).collect()
    }
    assert out[100]["avg_surprisal_mnats"] > out[0]["avg_surprisal_mnats"]
    # hand-check: p(common) = 35/36 → per-token milli-nats floor(-ln(35/36)*1000)
    expect = math.floor(-math.log(35 / 36) * SURPRISAL_QUANT)
    assert out[0]["surprisal_mnats"] == 4 * expect


def test_unigram_surprisal_counts_every_token(spark):
    df = _docs(spark, [(1, "a b c"), (2, ""), (3, "a a")])
    out = {r["doc_id"]: r["n_tokens"] for r in unigram_surprisal(df).collect()}
    assert out == {1: 3, 3: 2}  # empty doc has no tokens → no row


def test_with_quality_score_matches_projected_form(spark):
    """The fused (zero-shuffle) quality columns must carry exactly the
    values of the projecting quality_score operator."""
    from network_iq_spark.operators.text import quality_score, with_quality_score
    from network_iq_spark.sources import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    proj = {
        r["doc_id"]: (r["n_tokens"], r["quality_score"])
        for r in quality_score(docs).collect()
    }
    fused = {
        r["doc_id"]: (r["n_tokens"], r["quality_score"])
        for r in with_quality_score(docs).collect()
    }
    assert fused == proj
    # fused form preserves every input column alongside
    assert set(docs.columns) <= set(with_quality_score(docs).columns)


def test_normalize_text_nfc_and_fold(spark):
    """Real-unicode semantics: decomposed é composes to one codepoint,
    ß casefolds to ss, accents strip in the fold column, NFC-equal inputs
    become byte-identical (the exact-dedup prerequisite)."""
    from network_iq_spark.operators.text import normalize_text

    rows = [
        (1, "Café STRASSE ß"),   # decomposed é + ß
        (2, "Café STRASSE ß"),     # precomposed é — same text, NFC-wise
        (3, None),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {r["doc_id"]: (r["text_nfc"], r["text_folded"]) for r in normalize_text(df).collect()}
    assert out[1][0] == out[2][0] == "Café STRASSE ß"
    assert out[1][1] == out[2][1] == "cafe strasse ss"
    assert out[3] == ("", "")


def test_bpe_segment_leftmost_first_merges(spark):
    """The merge chain must behave exactly like BPE's per-word greedy
    loop: leftmost-first, non-overlapping, priority order. 'thinking':
    t h -> th; th e (no e here); i n -> in; in g -> ing => th in k ing."""
    from pyspark.sql import functions as F

    from network_iq_spark.operators.text import bpe_segment, bpe_token_stats

    df = spark.createDataFrame(
        [("thinking",), ("aaa",), ("the",), ("x",)], ["w"]
    )
    got = {r.w: r.seg for r in df.select("w", bpe_segment(F.col("w")).alias("seg")).collect()}
    assert got["thinking"] == "th in k ing"
    assert got["the"] == "the"        # t h -> th, then th e -> the
    assert got["x"] == "x"
    assert got["aaa"] == "a a a"      # no a-a merge in the table

    docs = spark.createDataFrame(
        [(1, "the thinking cat"), (2, "")],
        "doc_id bigint, text string",
    )
    rows = {r.doc_id: r for r in bpe_token_stats(docs).collect()}
    # the=1, thinking=4 (th in k ing), cat=2 (c at) -> 7 bpe tokens
    assert rows[1].n_words == 3 and rows[1].n_bpe_tokens == 7
    assert rows[2].n_bpe_tokens == 0 and rows[2].chars_per_token == 0.0


def test_bpe_segment_marker_boundary_safety(spark):
    """A merge pattern must never glue the TAIL of a multi-char symbol
    to the next symbol — the failure mode of unmarked space-separated
    replace, where 'e r' matched across a boundary ('other' -> [o, ther]
    and 'there' -> [there]). With the '|'-marker representation the true
    greedy results come out."""
    from pyspark.sql import functions as F

    from network_iq_spark.operators.text import bpe_segment

    df = spark.createDataFrame([("other",), ("there",), ("here",)], ["w"])
    got = {r.w: r.seg for r in df.select("w", bpe_segment(F.col("w")).alias("seg")).collect()}
    # other: t h -> th; th e -> the => o the r (never [o, ther])
    assert got["other"] == "o the r"
    # there: th; the; then r e -> re => the re (never one symbol [there])
    assert got["there"] == "the re"
    # here: e r fires on the FIRST e (h er e); 'er' tail is not a
    # standalone r, so r-e cannot fire afterwards
    assert got["here"] == "h er e"


def test_canonical_url_variants_collapse(spark):
    """The canonicalization chain must merge case/port/fragment/tracking/
    slash variants and keep param ORDER-insensitivity, without merging
    genuinely different URLs."""
    from pyspark.sql import functions as F

    from network_iq_spark.operators.text import canonical_url

    urls = [
        "https://Example.COM/docs/7/",
        "HTTPS://example.com:443/docs/7#frag",
        "https://example.com/docs/7?b=2&a=1&utm_source=feed&fbclid=xyz",
        "https://example.com/docs/7/?a=1&b=2",
        "https://example.com/docs/8",          # different page
        "https://example.com/docs/7?a=1&b=3",  # different params
        "http://example.com:80/",              # root path survives as /
    ]
    df = spark.createDataFrame([(u,) for u in urls], ["u"])
    got = [r.c for r in df.select(canonical_url(F.col("u")).alias("c")).collect()]
    assert got[0] == got[1] == "https://example.com/docs/7"
    assert got[2] == got[3] == "https://example.com/docs/7?a=1&b=2"
    assert got[4] == "https://example.com/docs/8"
    assert got[5] == "https://example.com/docs/7?a=1&b=3"
    assert got[6] == "http://example.com/"


def test_chunk_frame_raises_past_id_encoding_bound(spark, tmp_path):
    """The chunk-id encoding (doc_id·BASE + idx) is injective only while
    idx < BASE; a >=200k-token document must RAISE inside the defining
    expression rather than silently collide into the next doc's id space
    (which would corrupt every cross-document filter downstream)."""
    import pytest as _pytest

    from network_iq_spark.queries._fragments import _CHUNK_ID_BASE, chunk_frame

    # _CHUNK_ID_BASE chunks of 20 tokens + 1 overflow chunk
    long_text = " ".join(["tok"] * (20 * _CHUNK_ID_BASE + 1))
    sf = tmp_path / "sf"
    sf.mkdir()
    spark.createDataFrame(
        [(1, long_text, "src0", "en", len(long_text))],
        "doc_id bigint, text string, source string, lang string, n_chars bigint",
    ).write.parquet(str(sf / "documents.parquet"))
    from pyspark.sql import functions as F

    # consume the id column (as every real caller does): a bare count()
    # prunes the projection and with it the guard — the guard protects
    # the ENCODING, which only exists where the id is consumed
    with _pytest.raises(Exception, match="chunk_idx"):
        chunk_frame(spark, str(sf)).agg(F.sum("doc_id")).collect()


def test_media_index_probe_in_plan_fallback_without_artifact(spark, tmp_path, monkeypatch):
    """incremental_image_dedup_probe reads the committed at-rest index;
    on a fresh clone (artifact absent) it must fall back to the in-plan
    index WITHOUT writing anything into the checkout (r11: a registered
    read query may not side-effect — fails on read-only clones, races
    across sessions; artifact materialization belongs to
    scripts/build_media_index.py) and return results identical to the
    in-plan twin."""
    import os

    from network_iq_spark.queries import media as MQ
    from network_iq_spark.registry import QUERIES

    monkeypatch.setattr(MQ, "_AUX_DATA_DIR", str(tmp_path / "aux"))
    sf = "/root/testdata/sf0.001"
    probe = QUERIES["incremental_image_dedup_probe"](spark, sf)
    got = sorted(map(tuple, probe.collect()))
    assert not os.path.exists(str(tmp_path / "aux"))  # read query: no writes
    want = sorted(map(tuple, QUERIES["incremental_image_dedup"](spark, sf).collect()))
    assert got == want
    # with the artifact present (built the supported way), the probe
    # reads it and returns the same results
    MQ._img_index_df(spark, sf).write.mode("overwrite").parquet(
        str(tmp_path / "aux" / "media_index" / "sf0.001")
    )
    again = sorted(
        map(tuple, QUERIES["incremental_image_dedup_probe"](spark, sf).collect())
    )
    assert again == want


def test_artifact_gated_on_canonical_testdata_root(spark, tmp_path, monkeypatch):
    """A user-supplied directory that HAPPENS to be named sf0.001 but
    lives outside /root/testdata must not read the committed at-rest
    artifact keyed by that basename — stale-index hazard (r13 ADVICE).
    The gate is _artifact_dir: non-canonical parent -> None -> in-plan
    fallback, even when a (poisoned) artifact exists for the name."""
    import shutil

    from network_iq_spark.queries import media as MQ

    monkeypatch.setattr(MQ, "_AUX_DATA_DIR", str(tmp_path / "aux"))
    # plant a poisoned artifact under the basename a foreign dir shares
    (tmp_path / "aux" / "media_index").mkdir(parents=True)
    spark.createDataFrame(
        [(999, 0, 0, 0)], "media_id bigint, dhash bigint, seg int, seg_val bigint"
    ).write.parquet(str(tmp_path / "aux" / "media_index" / "sf0.001"))
    # a foreign sf_dir with the canonical basename
    foreign = tmp_path / "sf0.001"
    foreign.mkdir()
    for t in ("embeddings", "documents"):
        shutil.copy(
            f"/root/testdata/sf0.001/{t}.parquet", str(foreign / f"{t}.parquet")
        )
    assert MQ._artifact_dir("media_index", str(foreign)) is None
    # canonical dir DOES see it
    assert MQ._artifact_dir("media_index", "/root/testdata/sf0.001") is not None
