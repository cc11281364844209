#!/usr/bin/env python
"""1x/3x/10x soak for the r13 audio TRIM tier (VERDICT r12 item 4):
trimmed_sequence_pairs — prefix-anchor pigeonhole blocking (max_trim+1
head-window tokens on the full side, ONE prefix token on the trimmed
side) + exact integer head-offset verify, the crop tier's argument in
1-D.

Corpus shape: 2 % planted twins (the transform_soak density) —
64-sample signed walks with head/tail trims cycling the registered
query's four arms ((1,0)/(0,1)/(2,1)/(1,2)), every budget within
max_trim = 2; plus the VIDEO variant (stride = 16: 4-frame 4x4 clips
with head/tail FRAME trims cycling (1,0)/(0,1)/(1,1)). Each scale
asserts recall 1.0 (deterministic pigeonhole, not an S-curve) and zero
false positives (exact verify), plus the TRUE (head, tail) on every
recovered pair.

Run: python scripts/ab.py trimmed_sequence_pairs trimmed_sequence_pairs_video
"""

from __future__ import annotations

import hashlib

from ab import Cell
from network_iq_spark.operators import dedup as D

BASE = 2_000
TWIN_EVERY = 50  # 2% planted twins
TWIN_OFF = 10_000_000
ARMS = ((1, 0), (0, 1), (2, 1), (1, 2))


def _vals(seed: int, n: int, lo: int, hi: int) -> list[int]:
    h = (hashlib.md5(f"tr{seed}".encode()).digest() * ((n // 16) + 1))[:n]
    span = hi - lo
    return [lo + (b * 257) % span for b in h]


def trim_rows(mult: int):
    rows, want = [], {}
    for i in range(BASE * mult):
        s = _vals(i, 64, -32000, 32000)
        rows.append((i, s))
        if i % TWIN_EVERY == 0:
            head, tail = ARMS[(i // TWIN_EVERY) % len(ARMS)]
            rows.append((i + TWIN_OFF, s[head : 64 - tail]))
            want[(i, i + TWIN_OFF)] = (head, tail)
    return rows, want


VARMS = ((1, 0), (0, 1), (1, 1))
VFRAME = 16  # 4x4 frame


def _vals_frames(seed: int, n: int, lo: int, hi: int) -> list[int]:
    """Per-16-byte-block DISTINCT hashes: _vals repeats one md5 digest,
    which makes every 16-element frame identical — a frame-periodic
    clip matches a frame trim at MULTIPLE heads and the tie-break then
    legitimately reports a different (head, tail) than planted. Video
    clips need non-periodic frames for the true-(head, tail) assert."""
    out = b""
    for blk in range((n + 15) // 16):
        out += hashlib.md5(f"tv{seed}:{blk}".encode()).digest()
    span = hi - lo
    return [lo + (b * 257) % span for b in out[:n]]


def video_trim_rows(mult: int):
    rows, want = [], {}
    for i in range(BASE * mult):
        px = _vals_frames(i, 64, 0, 256)
        rows.append((i, px))
        if i % TWIN_EVERY == 0:
            head, tail = VARMS[(i // TWIN_EVERY) % len(VARMS)]
            rows.append((i + TWIN_OFF, px[head * VFRAME : (4 - tail) * VFRAME]))
            want[(i, i + TWIN_OFF)] = (head, tail)
    return rows, want


def _cell(name, mk, arm, kwargs):
    def prepare(spark, m):
        rows, want = mk(m)
        df = spark.createDataFrame(rows, "media_id bigint, s array<int>")
        return df.localCheckpoint(), want

    def check(data, rows):
        # recall 1.0, zero false positives, true (head, tail), per scale
        want = data[1]
        got = {(r.full_id, r.trimmed_id): (r.head, r.tail) for r in rows}
        assert got == want, (len(set(got) - set(want)), len(set(want) - set(got)))
        return "1.00 / 0 FP"

    return Cell(
        name,
        (1, 3, 10),
        prepare,
        {arm: lambda spark, d: D.trimmed_sequence_pairs(d[0], **kwargs)},
        check,
    )


CELLS = [
    _cell(
        "trimmed_sequence_pairs",
        trim_rows,
        "2 % planted twins",
        dict(max_trim=2, anchor=16),
    ),
    _cell(
        "trimmed_sequence_pairs_video",
        video_trim_rows,
        "stride=16, 2 % planted twins",
        dict(max_trim=1, anchor=1, stride=VFRAME),
    ),
]
