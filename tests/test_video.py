"""Y4M video codec (operators/video.py) + real frame extraction through
the metadata-bounded sample_frames stage."""

from __future__ import annotations

import numpy as np

from network_iq_spark.operators.video import (
    decode_y4m,
    encode_y4m,
    frame_at_ms,
)


def test_y4m_roundtrip_mono():
    rng = np.random.default_rng(31)
    frames = [rng.integers(0, 256, size=(6, 8), dtype=np.uint8) for _ in range(3)]
    w, h, fps, got = decode_y4m(encode_y4m(frames, fps=(25, 1)))
    assert (w, h, fps) == (8, 6, (25, 1))
    assert len(got) == 3
    for a, b in zip(got, frames):
        assert (a == b).all()


def test_y4m_420_and_444_luma_extraction():
    """Chroma planes are parsed (stream advances correctly) and dropped."""
    rng = np.random.default_rng(32)
    w, h = 4, 2
    for cs, chroma_bytes in [("420jpeg", 2 * (w // 2) * (h // 2)), ("444", 2 * w * h)]:
        y0 = rng.integers(0, 256, size=(h, w), dtype=np.uint8)
        y1 = rng.integers(0, 256, size=(h, w), dtype=np.uint8)
        body = b""
        for y in (y0, y1):
            body += b"FRAME\n" + y.tobytes() + bytes(chroma_bytes)
        payload = f"YUV4MPEG2 W{w} H{h} F30:1 Ip A1:1 C{cs}\n".encode() + body
        dec = decode_y4m(payload)
        assert dec is not None, cs
        _, _, _, frames = dec
        assert len(frames) == 2
        assert (frames[0] == y0).all() and (frames[1] == y1).all()


def test_y4m_rejects_truncated_and_unsupported():
    frames = [np.zeros((4, 4), dtype=np.uint8)]
    good = encode_y4m(frames)
    assert decode_y4m(b"") is None
    assert decode_y4m(b"YUV4MPEG2 W4 H4") is None  # no newline
    assert decode_y4m(good[:-3]) is None  # truncated frame
    assert decode_y4m(good.replace(b"Cmono", b"C422 ")) is None  # 422 subset-out
    assert decode_y4m(good.replace(b"FRAME", b"FRAMZ")) is None


def test_frame_at_ms_integer_mapping():
    fps = (2, 1)  # 2 fps: frame f shown during [500f, 500(f+1)) ms
    assert frame_at_ms(fps, 4, 0) == 0
    assert frame_at_ms(fps, 4, 499) == 0
    assert frame_at_ms(fps, 4, 500) == 1
    assert frame_at_ms(fps, 4, 1000) == 2
    assert frame_at_ms(fps, 4, 99999) == 3  # clamped
    assert frame_at_ms((30000, 1001), 10, 333) == 9  # NTSC rate, clamp


def test_sample_frames_extracts_real_y4m_frames(spark):
    """Y4M payloads yield REAL PGM frames at the sampled timestamps; a
    non-Y4M payload still gets the deterministic digest stub."""
    from network_iq_spark.operators.multimodal import decode_image, sample_frames

    rng = np.random.default_rng(33)
    frames = [rng.integers(0, 256, size=(4, 4), dtype=np.uint8) for _ in range(4)]
    clip = encode_y4m(frames, fps=(2, 1))  # 4 frames @2fps = 2000 ms
    df = spark.createDataFrame(
        [
            (1, bytearray(clip), "video", 4, 4, 2000),
            (2, bytearray(b"not-a-clip"), "video", 4, 4, 2000),
        ],
        "media_id bigint, payload binary, media_type string, "
        "width int, height int, duration_ms int",
    )
    out = {
        (r.media_id, r.frame_idx): r
        for r in sample_frames(df, max_frames=32).collect()
    }
    # media 1: ts 0 -> frame 0, ts 1000 -> frame 2 (really extracted)
    assert (decode_image(bytes(out[(1, 0)].frame)) == frames[0]).all()
    assert (decode_image(bytes(out[(1, 1)].frame)) == frames[2]).all()
    # media 2: digest stub (32 bytes, stable)
    assert len(bytes(out[(2, 0)].frame)) == 32
