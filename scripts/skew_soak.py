#!/usr/bin/env python
"""Hot-key skew soak (VERDICT r7 item 8).

The uniform-N soak (scripts/scale_soak.py) measures growth exponents with
all keys equal; this one measures the OTHER failure axis — a single hot
key owning ~50% of the rows (the celebrity cell / degenerate band every
100 TB deployment eventually meets) — and quantifies what the engine's
documented mitigations actually buy vs the naive plans:

- windows: naive ``Window.partitionBy(key)`` sorts the hot key in ONE
  task (AQE cannot split a window partition) vs
  ``time_sliced_rolling`` (operators/windows.py — partition split by a
  calendar slice, hot key becomes #slices bounded tasks);
- aggregation: naive ``groupBy(key).agg`` (partial aggregation already
  absorbs most key skew map-side — measured, not assumed) vs
  ``salted_sum_count`` (operators/skew.py two-phase salted aggregate);
- joins: sort-merge fact⋈dim with AQE skew-join OFF (the hot key's rows
  land in one shuffle partition — the straggler) vs AQE skew-join ON
  (runtime partition split) vs ``salted_broadcast_join``
  (operators/skew.py — no shuffle at all).

Synthesizes events-like tables at 1x/3x/10x with HOT_FRACTION of rows on
one key and the rest uniform over N_KEYS-1 keys; each variant is one cell
over the shared corpus (outputs differ between variants, so they are not
arms of one A/B). The window variants end in a one-row digest (row count
and the sum of every feature column) so the check never collects 4M
rows; the join variants set their confs around their own collect.
Corpora land under .soak/ (gitignored). Run:

    python scripts/ab.py skew_window_naive    # one of the seven skew_* cells
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import Window
from pyspark.sql import functions as F

from ab import SOAK_DIR, Cell
from network_iq_spark.operators.skew import (
    salted_broadcast_join,
    salted_sum_count,
)
from network_iq_spark.operators.windows import time_sliced_rolling

BASE_ROWS = 400_000
HOT_FRACTION = 0.5
N_KEYS = 100
ROLL_N = 100  # trailing-frame length for the window variants
SALTS = 32


def synth_skewed_events(n: int, seed: int = 11) -> pa.Table:
    """cell_id 0 owns HOT_FRACTION of rows; the rest spread uniformly over
    cells 1..N_KEYS-1. Timestamps cover 12 months so a yyyy-MM slice
    splits the hot key ~12 ways; rows are shuffled so the hot key
    interleaves across input files like real telemetry."""
    rng = np.random.default_rng(seed)
    n_hot = int(n * HOT_FRACTION)
    cells = np.concatenate(
        [
            np.zeros(n_hot, dtype=np.int64),
            rng.integers(1, N_KEYS, size=n - n_hot),
        ]
    )
    rng.shuffle(cells)
    base = np.datetime64("2026-01-01T00:00:00")
    ts = base + rng.integers(0, 360 * 24 * 3600, size=n).astype("timedelta64[s]")
    order = np.argsort(rng.random(n))  # shuffle row order
    return pa.table(
        {
            "cell_id": pa.array(cells[order]),
            "ts": pa.array(ts[order]),
            "value": pa.array(rng.normal(50.0, 10.0, size=n)[order]),
        }
    )


def build(mult: int) -> str:
    d = os.path.join(SOAK_DIR, f"skew_mult{mult}")
    p = os.path.join(d, "events.parquet")
    if not os.path.exists(p):
        os.makedirs(d, exist_ok=True)
        pq.write_table(synth_skewed_events(BASE_ROWS * mult), p)
    return p


def _prepare(spark, mult):
    ev = spark.read.parquet(build(mult))
    dim = spark.range(N_KEYS).select(
        F.col("id").alias("cell_id"), (F.col("id") % 7).alias("region")
    )
    return ev, dim


def _digest(df, cols):
    return df.agg(F.count("*").alias("n"), *[F.sum(c) for c in cols])


def _naive_window(spark, data):
    w = Window.partitionBy("cell_id").orderBy("ts").rowsBetween(-(ROLL_N - 1), 0)
    return _digest(data[0].withColumn("rmean", F.avg("value").over(w)), ["rmean"])


def _sliced_window(spark, data):
    out = time_sliced_rolling(
        data[0], ["cell_id"], "ts", ["value"], n=ROLL_N
    )
    return _digest(out, ["value_rmean", "value_rstd", "value_rdiff"])


def _check_window(data, rows):
    n = data[0].count()
    assert rows[0]["n"] == n, (rows[0]["n"], n)


def _region_sums(ev, dim):
    return ev.join(dim, "cell_id").groupBy("region").agg(F.sum("value").alias("s"))


def _with_confs(spark, confs: dict, fn):
    old = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        return fn()
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def _smj(skew_join: str):
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.enabled": skew_join,
    }
    return lambda spark, d: _with_confs(
        spark, confs, lambda: _region_sums(*d).collect()
    )


def _cell(name, arm, check=None):
    return Cell(name, (1, 3, 10), _prepare, {"": arm}, check)


CELLS = [
    _cell("skew_window_naive", _naive_window, _check_window),
    _cell("skew_window_time_sliced", _sliced_window, _check_window),
    _cell(
        "skew_agg_naive",
        lambda spark, d: d[0].groupBy("cell_id").agg(
            F.sum("value").alias("s"), F.count("*").alias("c")
        ),
    ),
    _cell(
        "skew_agg_salted",
        lambda spark, d: salted_sum_count(d[0], ["cell_id"], "value", n_salts=SALTS),
    ),
    _cell("skew_join_smj_noaqe", _smj("false")),
    _cell("skew_join_smj_aqe_skew", _smj("true")),
    _cell(
        "skew_join_salted_bcast",
        lambda spark, d: salted_broadcast_join(d[0], d[1], "cell_id", n_salts=SALTS)
        .groupBy("region")
        .agg(F.sum("value").alias("s")),
    ),
]
