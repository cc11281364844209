#!/usr/bin/env python
"""History-scale soak for the r13 incremental resample probe (VERDICT
r12 item 5): a FIXED 40-clip batch of 2:1 decimations probes an at-rest
resample_index built over a 1x/3x/10x history (2k/6k/20k clips). The
claim under test is the O(batch x collision) probe shape: wall time
must stay flat-ish as history grows 10x (the index scan is the at-rest
side's sequential read; candidate work is bounded by the batch), recall
1.0 and zero false positives at every scale.

Run: python scripts/ab.py incremental_resampled_dedup
"""

from __future__ import annotations

import hashlib

from ab import Cell
from network_iq_spark.operators import dedup as D

BASE = 2_000
BATCH = 40  # decimations of history clips 0..39 — constant across scales
TWIN_OFF = 10_000_000


def _vals(seed: int, n: int) -> list[int]:
    h = (hashlib.md5(f"rp{seed}".encode()).digest() * ((n // 16) + 1))[:n]
    return [-32000 + (b * 257) % 64000 for b in h]


def _dec(s: list[int]) -> list[int]:
    return [int((s[2 * k] + s[2 * k + 1]) / 2) for k in range(len(s) // 2)]


def _prepare(spark, m):
    schema = "media_id bigint, s array<int>"
    hist = spark.createDataFrame([(i, _vals(i, 64)) for i in range(BASE * m)], schema)
    # the index is the AT-REST side: materialize it outside the timed
    # runs (a deployment reads it back bucketed by key)
    idx = D.resample_index(hist).localCheckpoint()
    batch = [(i + TWIN_OFF, _dec(_vals(i, 64))) for i in range(BATCH)]
    return spark.createDataFrame(batch, schema).localCheckpoint(), idx


def _check(data, rows):
    want = {(i + TWIN_OFF, i): ("batch_resampled", 32) for i in range(BATCH)}
    got = {(r.new_id, r.old_id): (r.role, r.resampled_n) for r in rows}
    assert got == want, (len(set(got) - set(want)), len(set(want) - set(got)))
    return "1.00 / 0 FP"


CELLS = [
    Cell(
        "incremental_resampled_dedup",
        (1, 3, 10),
        _prepare,
        {
            "fixed 40-clip batch vs growing index": lambda spark, d: (
                D.incremental_resampled_dedup(d[0], d[1])
            )
        },
        _check,
    )
]
