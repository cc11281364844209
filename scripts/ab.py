#!/usr/bin/env python
"""The one soak / A-B driver behind the measured curves in docs/SCALE.md.

A cell is one measured plan: scale points, ``prepare(spark, scale)``
building the input at one scale, one or more named arms
``arm(spark, data)`` and an optional ``check(data, out)``. An arm returns
a DataFrame (written to the noop sink when timed, collected when checked)
or any other value it computed itself. A check raises on a wrong result
and may return a short note for the table (recall, pair counts).

At each scale point the driver first runs every arm once, untimed,
collects its output and checks it; with two or more arms the outputs
must also agree. Only then does it time RUNS rounds, arms in alternating
order, a JVM GC before each run, and keep each arm's minimum. Each arm
gets one docs/SCALE.md row: the minimum per scale point and the
least-squares log-log growth exponent (log t = a + e log scale; ``—``
below two scale points). The row is labelled with the cell name and, in
parentheses, the arm name; a single-arm cell may name its arm "".

    python scripts/ab.py              # list the cells and their scales
    python scripts/ab.py NAME...      # check, time and print their rows
"""

from __future__ import annotations

import importlib
import math
import os
import shutil
import sys
import time
from dataclasses import dataclass
from typing import Any, Callable

from pyspark.sql import DataFrame

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SOAK_DIR = os.path.join(ROOT, ".soak")  # cached corpora + cell state (gitignored)
RUNS = 3
MODULES = (
    "scale_soak",
    "skew_soak",
    "lsh_hotband_soak",
    "media_skew_soak",
    "audio_shift_soak",
    "admission_soak",
    "crop_soak",
    "crop_sink_soak",
    "transform_soak",
    "trim_soak",
    "resample_probe_soak",
    "resample_sink_soak",
    "trim_incremental_soak",
    "resolution_soak",
    "landmark_soak",
    "capped_tier_ab",
    "pagerank_scale_ab",
    "basket_pairs_ab",
)


@dataclass(frozen=True)
class Cell:
    name: str
    scales: tuple
    prepare: Callable[[Any, float], Any]
    arms: dict[str, Callable[[Any, Any], Any]]
    check: Callable[[Any, Any], str | None] | None = None


def state_dir(name: str) -> str:
    """An empty ``.soak/<name>`` directory for a cell's at-rest state."""
    path = os.path.join(SOAK_DIR, name)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


FRESH_ID = 10_000_000  # sink cells: batch ids start here, history ids stay below


def sink_cell(
    name, state, sink, indexes, schema, history_rows, batch_rows, admitted, arm
) -> Cell:
    """A cell replaying one fixed batch through a streaming sink against an
    at-rest history that grows 1x/3x/10x: per-batch cost must stay flat.

    ``sink(corpus, *index_paths)`` builds the sink over ``corpus`` and
    ``indexes`` in a fresh ``.soak/<state>_x<scale>`` directory. Untimed,
    ``history_rows(scale)`` goes in as batch 0, then ``batch_rows()`` is
    checkpointed and goes in once as batch 1. Every checked and timed run
    replays batch 1, the sink's strictly-earlier-batch probe path, so each
    run does identical work. The check counts the corpus ids at or above
    ``FRESH_ID`` (the batch's ids) and expects ``admitted``."""
    id_col = schema.split()[0]

    def prepare(spark, m):
        root = state_dir(f"{state}_x{m:g}")
        corpus, *paths = (os.path.join(root, p) for p in ("corpus", *indexes))
        run = sink(corpus, *paths)
        run(spark.createDataFrame(history_rows(m), schema), 0)
        rows = batch_rows()
        batch = spark.createDataFrame(rows, schema).localCheckpoint()
        run(batch, 1)
        return run, batch, corpus, len(rows)

    def check(data, _):
        _, batch, corpus, n = data
        got = (
            batch.sparkSession.read.parquet(corpus)
            .filter(f"{id_col} >= {FRESH_ID}")
            .count()
        )
        assert got == admitted, (got, admitted)
        return f"admitted {got}/{n}"

    return Cell(name, (1, 3, 10), prepare, {arm: lambda spark, d: d[0](d[1], 1)}, check)


def exponent(scales, times) -> float:
    """Least-squares slope of log(time) on log(scale); NaN below 2 points."""
    if len(scales) < 2:
        return math.nan
    xs = [math.log(s) for s in scales]
    ys = [math.log(t) for t in times]
    xbar, ybar = sum(xs) / len(xs), sum(ys) / len(ys)
    return sum((x - xbar) * (y - ybar) for x, y in zip(xs, ys)) / sum(
        (x - xbar) ** 2 for x in xs
    )


def _timed(spark, arm, data) -> float:
    # build AND execute inside the timer: some arms do eager work (a
    # localCheckpoint, a sink write) while constructing their plan
    spark._jvm.System.gc()
    t0 = time.perf_counter()
    out = arm(spark, data)
    if isinstance(out, DataFrame):
        out.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def _canon(out):
    return sorted(map(repr, out)) if isinstance(out, list) else out


def run(spark, cell: Cell, scales=None) -> list[str]:
    """Check, then time, ``cell`` at each scale point (default: all of
    its own); return one docs/SCALE.md row per arm."""
    scales = tuple(scales or cell.scales)
    arms = list(cell.arms)
    best = {a: [] for a in arms}
    notes = {a: [] for a in arms}
    for scale in scales:
        where = f"{cell.name} at x{scale:g}"
        data = cell.prepare(spark, scale)
        outs = {}
        for a in arms:
            out = cell.arms[a](spark, data)
            outs[a] = out.collect() if isinstance(out, DataFrame) else out
            try:
                note = cell.check(data, outs[a]) if cell.check else None
            except AssertionError as e:
                raise AssertionError(f"{where}: arm {a} failed its check: {e}") from e
            notes[a].append(note or "")
        for a in arms[1:]:
            if _canon(outs[a]) != _canon(outs[arms[0]]):
                raise AssertionError(f"{where}: arms {arms[0]} and {a} disagree")
        t = {a: math.inf for a in arms}
        for i in range(RUNS):
            for a in arms if i % 2 == 0 else arms[::-1]:
                t[a] = min(t[a], _timed(spark, cell.arms[a], data))
        for a in arms:
            best[a].append(t[a])
            print(f"{where} {a}: {t[a]:.2f} s {notes[a][-1]}", file=sys.stderr)
    rows = []
    for a in arms:
        e = exponent(scales, best[a])
        label = f"`{cell.name}`" + (f" ({a})" if a else "")
        times = " | ".join(f"{t:.2f} s" for t in best[a])
        note = " / ".join(dict.fromkeys(n for n in notes[a] if n))  # distinct, in order
        expo = "—" if math.isnan(e) else f"**{e:.2f}**"
        rows.append(f"| {label} | {times} | {expo} | {note} |")
    return rows


def cells() -> list[Cell]:
    """Every cell of every cell module, in MODULES order."""
    for path in (ROOT, HERE):
        if path not in sys.path:
            sys.path.insert(0, path)
    return [c for m in MODULES for c in importlib.import_module(m).CELLS]


def main(names: list[str]) -> None:
    table = {c.name: c for c in cells()}
    if not names:
        for c in table.values():
            print(f"{c.name:40s} {' '.join(f'{s:g}x' for s in c.scales)}")
        return
    unknown = [n for n in names if n not in table]
    if unknown:
        raise SystemExit(f"unknown cells: {', '.join(unknown)}")
    from network_iq_spark.session import get_spark

    spark = get_spark(app_name="ab")
    spark.sparkContext.setLogLevel("ERROR")
    for n in names:
        c = table[n]
        scales = " | ".join(f"{s:g}x" for s in c.scales)
        print(f"\n| {n} | {scales} | exponent | checks |")
        print("|---" * (len(c.scales) + 3) + "|")
        for row in run(spark, c):
            print(row, flush=True)


if __name__ == "__main__":
    sys.modules.setdefault("ab", sys.modules["__main__"])  # cells import ab
    main(sys.argv[1:])
