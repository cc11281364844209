#!/usr/bin/env python
"""1x/3x/10x soak for the crop-tolerant image tier (VERDICT r11 item 4):
8x8 luma grids with 2 % planted top-left crop twins (1-2 rows, 0-2 cols),
run through cropped_grid_pairs (6x6 sub-block pigeonhole blocking + exact
2-D lag-scan verify). Every scale checks planted-twin recall — it must be
1.00 at every scale (pigeonhole, not an S-curve) with zero false
positives (exact verify). The thumbnail tier (downscale_derivative_pairs,
exact-key join; expected near-flat slope) runs over the same corpus shape.

Run: python scripts/ab.py cropped_grid_pairs downscale_derivative_pairs
"""

from __future__ import annotations

import numpy as np

from ab import Cell
from network_iq_spark.operators import dedup as D

BASE_IMGS = 2_000
TWIN_FRACTION = 0.02
SCHEMA = "media_id long, w int, h int, px array<int>"


def synth_grids(mult: int):
    n = BASE_IMGS * mult
    rng = np.random.default_rng(4000 + mult)
    px = rng.integers(0, 256, size=(n, 64))
    twin_idx = rng.choice(n, size=int(n * TWIN_FRACTION), replace=False)
    rows = [(int(i), 8, 8, px[i].tolist()) for i in range(n)]
    planted = {}
    for i in twin_idx:
        g = px[i].reshape(8, 8)
        dr, dc = 1 + int(i) % 2, int(i) // 2 % 3
        crop = g[dr:, dc:]
        rows.append(
            (int(i) + 10_000_000, 8 - dc, 8 - dr, crop.reshape(-1).tolist())
        )
        planted[(int(i), int(i) + 10_000_000)] = (dr, dc)
    return rows, planted


def synth_thumbs(mult: int):
    """Same corpus shape, 2 % planted floor-box-average 2× thumbnails."""
    n = BASE_IMGS * mult
    rng = np.random.default_rng(5000 + mult)
    px = rng.integers(0, 256, size=(n, 64))
    twin_idx = rng.choice(n, size=int(n * TWIN_FRACTION), replace=False)
    rows = [(int(i), 8, 8, px[i].tolist()) for i in range(n)]
    planted = set()
    for i in twin_idx:
        t = px[i].reshape(4, 2, 4, 2).transpose(0, 2, 1, 3).reshape(4, 4, 4)
        rows.append(
            (int(i) + 10_000_000, 4, 4, (t.sum(-1) // 4).reshape(-1).tolist())
        )
        planted.add((int(i), int(i) + 10_000_000))
    return rows, planted


def _prepare(synth):
    def prepare(spark, m):
        rows, planted = synth(m)
        return spark.createDataFrame(rows, SCHEMA).localCheckpoint(), planted

    return prepare


def _check_thumbs(data, rows):
    planted = data[1]
    got = {(r.full_id, r.thumb_id) for r in rows}
    assert got == planted, "thumbnail tier missed a twin or false-matched"
    return "recall 1.00"


def _check_crops(data, rows):
    planted = data[1]
    got = {(r.id_a, r.id_b): (r.dr, r.dc, r.ssd) for r in rows}
    assert set(got) == set(planted), "false positive or missed twin"
    assert all(
        got[k] == (dr, dc, 0) for k, (dr, dc) in planted.items()
    ), "wrong recovered offset"
    return "recall 1.00"


CELLS = [
    Cell(
        "downscale_derivative_pairs",
        (1, 3, 10),
        _prepare(synth_thumbs),
        {"2% planted thumbs": lambda spark, d: D.downscale_derivative_pairs(d[0])},
        _check_thumbs,
    ),
    Cell(
        "cropped_grid_pairs",
        (1, 3, 10),
        _prepare(synth_grids),
        {
            "2% planted crop twins": lambda spark, d: (
                D.cropped_grid_pairs(d[0], max_crop=2)
            )
        },
        _check_crops,
    ),
]
