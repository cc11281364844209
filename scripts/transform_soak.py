#!/usr/bin/env python
"""1x/3x/10x soak for the r12 transform-matrix cells (VERDICT r11 items
5 & 6): the audio RESAMPLE-derivative tier (resampled_derivative_pairs —
exact equi-join on the md5 of the 2:1 truncating-box-decimated signal)
and the VIDEO per-frame crop tier (video_cropped_pairs — frame-0
pigeonhole tokens + multi-plane exact lag scan).

Corpus shape: 2 % planted twins in each corpus (the crop_soak density) —
64-sample signed walks with their exact 2:1 decimations; 4-frame 4x4
clips with a consistent per-frame (dr, dc) crop cycling through
(1,0)/(0,1)/(1,1). Each scale asserts recall 1.0 (pigeonhole /
exact-key, not an S-curve) and zero false positives (exact verify).

Run: python scripts/ab.py resampled_derivative_pairs video_cropped_pairs \
         video_resampled_pairs
"""

from __future__ import annotations

import hashlib

from ab import Cell
from network_iq_spark.operators import dedup as D

BASE = 2_000
TWIN_EVERY = 50  # 2% planted twins
TWIN_OFF = 10_000_000


def _vals(seed: int, n: int, lo: int, hi: int) -> list[int]:
    h = (hashlib.md5(f"ts{seed}".encode()).digest() * ((n // 16) + 1))[:n]
    span = hi - lo
    return [lo + (b * 257) % span for b in h]


def audio_rows(mult: int):
    rows, want = [], set()
    for i in range(BASE * mult):
        s = _vals(i, 64, -32000, 32000)
        rows.append((i, s))
        if i % TWIN_EVERY == 0:
            # exact truncating 2:1 box decimation (the operator's claim)
            d = [
                int((s[2 * k] + s[2 * k + 1]) / 2)  # trunc toward zero
                for k in range(32)
            ]
            rows.append((i + TWIN_OFF, d))
            want.add((i, i + TWIN_OFF))
    return rows, want


def video_resample_rows(mult: int):
    rows, want = [], set()
    for i in range(BASE * mult):
        px = _vals(i, 64, 0, 256)
        rows.append((i, px))
        if i % TWIN_EVERY == 0:
            tw = [
                (px[g * 32 + p] + px[g * 32 + 16 + p]) // 2
                for g in range(2)
                for p in range(16)
            ]
            rows.append((i + TWIN_OFF, tw))
            want.add((i, i + TWIN_OFF))
    return rows, want


def video_rows(mult: int):
    rows, want = [], set()
    for i in range(BASE * mult):
        px = _vals(i, 64, 0, 256)
        rows.append((i, 4, 4, px))
        if i % TWIN_EVERY == 0:
            dr, dc = [(1, 0), (0, 1), (1, 1)][(i // TWIN_EVERY) % 3]
            crop = [
                px[f * 16 + (r + dr) * 4 + (c + dc)]
                for f in range(4)
                for r in range(3)
                for c in range(3)
            ]
            rows.append((i + TWIN_OFF, 3, 3, crop))
            want.add((i, i + TWIN_OFF))
    return rows, want


def _cell(name, mk, plan, pair_cols, schema="media_id bigint, s array<int>"):
    def prepare(spark, m):
        rows, want = mk(m)
        return spark.createDataFrame(rows, schema).localCheckpoint(), want

    def check(data, rows):
        # recall 1.0 and zero false positives, at every scale
        want = data[1]
        got = {(r[pair_cols[0]], r[pair_cols[1]]) for r in rows}
        assert got == want, (len(got - want), len(want - got))
        return "1.00 / 0 FP"

    return Cell(
        name,
        (1, 3, 10),
        prepare,
        {"2 % planted twins": lambda spark, d: plan(d[0])},
        check,
    )


CELLS = [
    _cell(
        "resampled_derivative_pairs",
        audio_rows,
        lambda df: D.resampled_derivative_pairs(df),
        ("full_id", "resampled_id"),
    ),
    _cell(
        "video_cropped_pairs",
        video_rows,
        lambda df: D.video_cropped_pairs(df, frames=4, max_crop=1, side=4),
        ("id_a", "id_b"),
        "media_id bigint, w int, h int, px array<int>",
    ),
    _cell(
        "video_resampled_pairs",
        video_resample_rows,
        lambda df: D.resampled_derivative_pairs(df, stride=16),
        ("full_id", "resampled_id"),
    ),
]
