#!/usr/bin/env python
"""1x/3x/10x growing-HISTORY soak for the streaming crop-dedup sink
(VERDICT r11 item 7 / r12): the chunk-admission sink's replay-at-scale
measurement, for the crop tier — a FIXED 400-image batch probed against
an at-rest sub-block token + grid index built from a history growing
1x -> 10x. Per-batch cost must stay flat: the sink probes by token
collision (O(batch x collision)), never rescans history.

Corpus shape: 8x8 luma grids from a deterministic per-pixel hash; the
probe batch is half (1,1)-crops of history images (pigeonhole recall
1.0 -> must be DROPPED) and half fresh images (must be admitted) — so
the soak also asserts the dedup decision stays correct at every scale,
including under replay (re-running the same batch_id is the sink's
strictly-earlier-batch probe path).

Run: python scripts/ab.py incremental_crop_dedup_sink   (sink state under .soak/)
"""

from __future__ import annotations

import hashlib

from ab import FRESH_ID, sink_cell
from network_iq_spark.streaming.dedup import incremental_crop_dedup_sink

BASE_IMGS = 2_000
BATCH_IMGS = 400


def _grid(seed: int, side: int = 8) -> list[int]:
    h = hashlib.md5(f"cs{seed}".encode()).digest() * 4
    return [h[i] for i in range(side * side)]


def _crop(px: list[int], dr: int = 1, dc: int = 1, side: int = 8) -> list[int]:
    n = side - 1
    return [px[(i + dr) * side + (j + dc)] for i in range(n) for j in range(n)]


def history_rows(mult: int):
    return [(i, 8, 8, _grid(i)) for i in range(BASE_IMGS * mult)]


def batch_rows():
    rows = []
    for i in range(BATCH_IMGS):
        mid = FRESH_ID + i
        if i % 2 == 0:  # crop of history image i -> must be dropped
            rows.append((mid, 7, 7, _crop(_grid(i))))
        else:  # fresh -> must be admitted
            rows.append((mid, 8, 8, _grid(1_000_000 + i)))
    return rows


CELLS = [
    sink_cell(
        "incremental_crop_dedup_sink",
        "crop_sink_soak",
        incremental_crop_dedup_sink,
        ("toks", "grids"),
        "media_id bigint, w int, h int, px array<int>",
        history_rows,
        batch_rows,
        BATCH_IMGS // 2,
        "fixed 400-image batch, at-rest index",
    )
]
