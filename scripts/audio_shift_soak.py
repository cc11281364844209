#!/usr/bin/env python
"""1x/3x/10x soak for the shift-tolerant audio tier (VERDICT r9 item 7):
random-walk clips (locally correlated, like real audio) with 2 % planted
1-sample-shifted twins, run through audio_shifted_pairs (energy-envelope
blocking + exact lag-scan verify). The check admits no non-twin pair and
reports the recall of the envelope blocking on the planted twins.

Run: python scripts/ab.py audio_shifted_pairs
"""

from __future__ import annotations

import numpy as np

from ab import Cell
from network_iq_spark.operators import dedup as D

BASE_CLIPS = 2_000
TWIN_FRACTION = 0.02


def synth_clips(mult: int):
    n = BASE_CLIPS * mult
    rng = np.random.default_rng(3000 + mult)
    steps = rng.integers(-2000, 2001, size=(n, 64))
    walks = np.clip(np.cumsum(steps, axis=1), -32000, 32000).astype(np.int64)
    twin_idx = rng.choice(n, size=int(n * TWIN_FRACTION), replace=False)
    rows = [(int(i), walks[i].tolist()) for i in range(n)]
    for i in twin_idx:
        s = walks[i]
        shifted = np.concatenate([s[1:], s[-1:]]).tolist()
        rows.append((int(i) + 10_000_000, shifted))
    return rows, {(int(i), int(i) + 10_000_000) for i in twin_idx}


def _prepare(spark, m):
    rows, twins = synth_clips(m)
    df = spark.createDataFrame(rows, "media_id long, s array<int>")
    return df.localCheckpoint(), twins


def _check(data, rows):
    twins = data[1]
    got = {(r.id_a, r.id_b) for r in rows}
    assert got <= twins, "lag-scan verify admitted a non-twin pair"
    return f"{len(got):,} pairs (blocking recall {len(got) / len(twins):.2f})"


CELLS = [
    Cell(
        "audio_shifted_pairs",
        (1, 3, 10),
        _prepare,
        {"2% shifted twins": lambda spark, d: D.audio_shifted_pairs(d[0])},
        _check,
    )
]
