#!/usr/bin/env python
"""Growing-HISTORY soak for the r13 incremental trim probe AND sink: a
FIXED 400-clip batch (half head/tail trims of history clips — must be
DROPPED/matched; half fresh — must be admitted/unmatched) against an
at-rest trim_index built from a 1x/3x/10x history. Per-batch cost must
stay flat (token-collision probe, O(batch x collision), never a
history rescan); the dedup/match decision is asserted at every scale,
and sink replays ride the strictly-earlier-batch path.

Run: python scripts/ab.py incremental_trimmed_dedup incremental_trim_dedup_sink
     (sink state under .soak/)
"""

from __future__ import annotations

import hashlib

from ab import FRESH_ID, Cell, sink_cell
from network_iq_spark.operators import dedup as D
from network_iq_spark.streaming.dedup import incremental_trim_dedup_sink

BASE_CLIPS = 2_000
BATCH_CLIPS = 400
ARMS = ((1, 0), (0, 1), (2, 1), (1, 2))


def _clip(seed: int, n: int = 64) -> list[int]:
    h = (hashlib.md5(f"ti{seed}".encode()).digest() * ((n // 16) + 1))[:n]
    return [-32000 + (b * 257) % 64000 for b in h]


def history_rows(mult: int):
    return [(i, _clip(i)) for i in range(BASE_CLIPS * mult)]


def batch_rows():
    rows = []
    for i in range(BATCH_CLIPS):
        mid = FRESH_ID + i
        if i % 2 == 0:  # trim of history clip i -> must be dropped
            head, tail = ARMS[(i // 2) % len(ARMS)]
            rows.append((mid, _clip(i)[head : 64 - tail]))
        else:  # fresh -> must be admitted
            rows.append((mid, _clip(1_000_000 + i)))
    return rows


SCHEMA = "media_id bigint, s array<int>"


def _prepare_probe(spark, m):
    # at-rest index materialized outside the timed runs
    toks, seqs = D.trim_index(spark.createDataFrame(history_rows(m), SCHEMA))
    batch = spark.createDataFrame(batch_rows(), SCHEMA).localCheckpoint()
    return batch, toks.localCheckpoint(), seqs.localCheckpoint()


def _check_probe(data, rows):
    assert len(rows) == BATCH_CLIPS // 2, (len(rows), BATCH_CLIPS // 2)
    return f"matched {len(rows)}/{BATCH_CLIPS}"


CELLS = [
    Cell(
        "incremental_trimmed_dedup",
        (1, 3, 10),
        _prepare_probe,
        {
            "fixed 400-clip batch vs growing index": lambda spark, d: (
                D.incremental_trimmed_dedup(*d).select("new_id").distinct()
            )
        },
        _check_probe,
    ),
    sink_cell(
        "incremental_trim_dedup_sink",
        "trim_sink_soak",
        incremental_trim_dedup_sink,
        ("toks", "seqs"),
        SCHEMA,
        history_rows,
        batch_rows,
        BATCH_CLIPS - BATCH_CLIPS // 2,
        "fixed 400-clip batch, at-rest index",
    ),
]
