#!/usr/bin/env python
"""1x/3x/10x growing-HISTORY soak for the streaming resample-dedup sink
(r13, VERDICT r12 item 7): the crop-sink replay-at-scale measurement,
for the scale axis — a FIXED 400-clip batch probed against an at-rest
(own_key, derived_key) index built from a history growing 1x -> 10x.
Per-batch cost must stay flat: the sink probes by two exact key
equi-joins (O(batch x collision)), never rescans history.

Corpus shape: 64-sample signed clips from a deterministic per-sample
hash; the probe batch is half 2:1 decimations of history clips (exact
derived key -> must be DROPPED) and half fresh clips (must be
admitted) — so the soak also asserts the dedup decision stays correct
at every scale, including under replay (re-running the same batch_id
is the sink's strictly-earlier-batch probe path).

Run: python scripts/ab.py incremental_resample_dedup_sink   (sink state under .soak/)
"""

from __future__ import annotations

import hashlib

from ab import FRESH_ID, sink_cell
from network_iq_spark.streaming.dedup import incremental_resample_dedup_sink

BASE_CLIPS = 2_000
BATCH_CLIPS = 400


def _clip(seed: int, n: int = 64) -> list[int]:
    h = (hashlib.md5(f"rs{seed}".encode()).digest() * ((n // 16) + 1))[:n]
    return [-32000 + (b * 257) % 64000 for b in h]


def _dec(s: list[int]) -> list[int]:
    return [int((s[2 * k] + s[2 * k + 1]) / 2) for k in range(len(s) // 2)]


def history_rows(mult: int):
    return [(i, _clip(i)) for i in range(BASE_CLIPS * mult)]


def batch_rows():
    rows = []
    for i in range(BATCH_CLIPS):
        mid = FRESH_ID + i
        if i % 2 == 0:  # decimation of history clip i -> must be dropped
            rows.append((mid, _dec(_clip(i))))
        else:  # fresh -> must be admitted
            rows.append((mid, _clip(1_000_000 + i)))
    return rows


CELLS = [
    sink_cell(
        "incremental_resample_dedup_sink",
        "resample_sink_soak",
        incremental_resample_dedup_sink,
        ("index",),
        "media_id bigint, s array<int>",
        history_rows,
        batch_rows,
        BATCH_CLIPS // 2,
        "fixed 400-clip batch, at-rest index",
    )
]
