#!/usr/bin/env python
"""1x/3x/10x soak for the r14 LANDMARK family (landmark_sequence_pairs):
strong-local-maxima tokens -> offset vote -> gain-robust corr² verify —
the composed-transform tier (trim∘gain∘re-encode-noise, shift∘gain) the
integer-exact tiers defer to.

Corpus shape: 2 % planted twins (the transform_soak density) — 64-sample
signed walks with ±2000-magnitude steps (the bench corpus's shape),
twins composing head/tail trims cycling the trim tier's four arms ×
affine gains cycling the trim∘gain tier's three arms × deterministic
per-sample noise uniform in ±8. Recall is MEASURED (the tier's
documented contract — no pigeonhole guarantee): each scale asserts
recall >= 0.97 with the true head offset on every recovered pair, and
ZERO false accepts (the corr² verify's precision claim).

The probe cell times a FIXED batch (the 1x twins) against a GROWING
at-rest index — the O(batch) deployment claim; its exponent measures how
little the probe cares about history size beyond the index scan.

Run: python scripts/ab.py landmark_sequence_pairs incremental_landmark_probe
"""

from __future__ import annotations

import hashlib

from ab import Cell
from network_iq_spark.operators import dedup as D

BASE = 2_000
TWIN_EVERY = 50  # 2% planted twins
TWIN_OFF = 10_000_000
ARMS = ((1, 0), (0, 1), (2, 1), (1, 2))
GAINS = ((2, 0), (3, -7), (2, 11))
EPS = 8


def _steps(seed: int, n: int) -> list[int]:
    out = b""
    for blk in range((2 * n + 15) // 16):
        out += hashlib.md5(f"lm{seed}:{blk}".encode()).digest()
    return [
        ((out[2 * i] * 256 + out[2 * i + 1]) % 4001) - 2000 for i in range(n)
    ]


def _noise(seed: int, i: int) -> int:
    h = hashlib.md5(f"lmn{seed}|{i}".encode()).digest()
    return (h[0] * 256 + h[1]) % (2 * EPS + 1) - EPS


def landmark_rows(mult: int):
    rows, want = [], {}
    for i in range(BASE * mult):
        acc, s = 0, []
        for st in _steps(i, 64):
            acc = max(-32000, min(32000, acc + st))
            s.append(acc)
        rows.append((i, s))
        if i % TWIN_EVERY == 0:
            fam = i // TWIN_EVERY
            head, tail = ARMS[fam % len(ARMS)]
            a, b = GAINS[fam % len(GAINS)]
            core = s[head : 64 - tail]
            rows.append(
                (
                    i + TWIN_OFF,
                    [a * x + b + _noise(i, k) for k, x in enumerate(core)],
                )
            )
            want[(i, i + TWIN_OFF)] = head
    return rows, want


SCHEMA = "media_id bigint, s array<int>"


def _check(a: str, b: str):
    def check(data, rows):
        want = data[-1]
        got = {(r[a], r[b]): r.offset for r in rows}
        fps = set(got) - set(want)
        assert not fps, (len(fps), sorted(fps)[:5])
        recall = sum(1 for p, h in want.items() if got.get(p) == h) / len(want)
        assert recall >= 0.97, recall
        return f"recall {recall:.3f} (true offsets), 0 FP"

    return check


def _prepare_pairs(spark, m):
    rows, want = landmark_rows(m)
    return spark.createDataFrame(rows, SCHEMA).localCheckpoint(), want


def _prepare_probe(spark, m):
    batch_rows, want = landmark_rows(1)
    batch = spark.createDataFrame([r for r in batch_rows if r[0] >= TWIN_OFF], SCHEMA)
    hist_rows = [r for r in landmark_rows(m)[0] if r[0] < TWIN_OFF]
    idx = D.landmark_index(spark.createDataFrame(hist_rows, SCHEMA))
    return batch.localCheckpoint(), idx.localCheckpoint(), want


CELLS = [
    Cell(
        "landmark_sequence_pairs",
        (1, 3, 10),
        _prepare_pairs,
        {
            "2 % planted trim∘gain∘noise twins": lambda spark, d: (
                D.landmark_sequence_pairs(d[0], max_bucket_size=256)
            )
        },
        _check("id_a", "id_b"),
    ),
    Cell(
        "incremental_landmark_probe",
        (1, 3, 10),
        _prepare_probe,
        {
            "fixed batch, growing index": lambda spark, d: (
                D.incremental_landmark_probe(d[0], d[1])
            )
        },
        _check("old_id", "new_id"),
    ),
]
