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

Batch 0 (the at-rest index) and the first write of batch 1 run
untimed; every checked and timed run is a replay of batch 1.

Run: python scripts/ab.py incremental_resample_dedup_sink   (sink state under .soak/)
"""

from __future__ import annotations

import hashlib
import os

from ab import Cell, state_dir
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
        mid = 10_000_000 + i
        if i % 2 == 0:  # decimation of history clip i -> must be dropped
            rows.append((mid, _dec(_clip(i))))
        else:  # fresh -> must be admitted
            rows.append((mid, _clip(1_000_000 + i)))
    return rows


def _prepare(spark, m):
    root = state_dir(f"resample_sink_soak_x{m:g}")
    corpus = os.path.join(root, "corpus")
    sink = incremental_resample_dedup_sink(corpus, os.path.join(root, "index"), factor=2)
    schema = "media_id bigint, s array<int>"
    sink(spark.createDataFrame(history_rows(m), schema), 0)
    batch = spark.createDataFrame(batch_rows(), schema).localCheckpoint()
    sink(batch, 1)
    return sink, batch, lambda: (
        spark.read.parquet(corpus).filter("media_id >= 10000000").count()
    )


def _check(data, _):
    admitted = data[2]()
    assert admitted == BATCH_CLIPS // 2, (admitted, BATCH_CLIPS // 2)
    return f"admitted {admitted}/{BATCH_CLIPS}"


CELLS = [
    Cell(
        "incremental_resample_dedup_sink",
        (1, 3, 10),
        _prepare,
        {"fixed 400-clip batch, at-rest index": lambda spark, d: d[0](d[1], 1)},
        _check,
    )
]
