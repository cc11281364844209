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

Batch 0 (the at-rest index) and the first write of batch 1 run
untimed; every checked and timed run is a replay of batch 1.

Run: python scripts/ab.py incremental_crop_dedup_sink   (sink state under .soak/)
"""

from __future__ import annotations

import hashlib
import os

from ab import Cell, state_dir
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
        mid = 10_000_000 + i
        if i % 2 == 0:  # crop of history image i -> must be dropped
            rows.append((mid, 7, 7, _crop(_grid(i))))
        else:  # fresh -> must be admitted
            rows.append((mid, 8, 8, _grid(1_000_000 + i)))
    return rows


def _prepare(spark, m):
    root = state_dir(f"crop_sink_soak_x{m:g}")
    corpus = os.path.join(root, "corpus")
    sink = incremental_crop_dedup_sink(
        corpus, os.path.join(root, "toks"), os.path.join(root, "grids"), max_crop=2
    )
    schema = "media_id bigint, w int, h int, px array<int>"
    sink(spark.createDataFrame(history_rows(m), schema), 0)
    batch = spark.createDataFrame(batch_rows(), schema).localCheckpoint()
    sink(batch, 1)
    return sink, batch, lambda: (
        spark.read.parquet(corpus).filter("media_id >= 10000000").count()
    )


def _check(data, _):
    admitted = data[2]()
    assert admitted == BATCH_IMGS // 2, (admitted, BATCH_IMGS // 2)
    return f"admitted {admitted}/{BATCH_IMGS}"


CELLS = [
    Cell(
        "incremental_crop_dedup_sink",
        (1, 3, 10),
        _prepare,
        {"fixed 400-image batch, at-rest index": lambda spark, d: d[0](d[1], 1)},
        _check,
    )
]
