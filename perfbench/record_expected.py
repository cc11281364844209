#!/usr/bin/env python3
"""Record expected results for the benchmark ops that have no DuckDB oracle.

    python3 perfbench/record_expected.py --seeds 0-149

For each catalog seed it generates the catalog exactly as a benchmark run
does, runs each op in ``ORACLE_FREE``, and writes the row count and
order-independent hash to ``perfbench/expected.json``. Re-run it when such
an op's output changes on purpose, or when ``CATALOG_SEEDS`` grows.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ORACLE_FREE = ("audio_landmark_pairs",)


def _seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="0-149", help="inclusive range, e.g. 0-149")
    args = ap.parse_args()
    sys.path.insert(0, ROOT)
    from perfbench import checks, datagen, run, workloads

    work = os.path.join(run.OUT_ROOT, "record-expected")
    shutil.rmtree(work, ignore_errors=True)
    run._env(work, len(os.sched_getaffinity(0)))
    session = run.Session(work, len(os.sched_getaffinity(0)))
    from network_iq_spark.registry import QUERIES

    with open(workloads.EXPECTED_PATH, encoding="utf-8") as f:
        expected = json.load(f)
    try:
        for seed in _seeds(args.seeds):
            data = os.path.join(work, "data")
            datagen.write_catalog(data, seed, workloads.CATALOG_SF)
            for name in ORACLE_FREE:
                df = QUERIES[name](session.spark, data)
                _cols, rows = checks.canonical_rows(df.columns, [tuple(r) for r in df.collect()])
                expected.setdefault(name, {})[str(seed)] = {
                    "rows": len(rows), "sha256": checks.rows_hash(rows),
                }
                print(f"seed {seed} {name}: {len(rows)} rows", flush=True)
            shutil.rmtree(data)
    finally:
        session.stop()
        run.Session.shutdown_jvm()
        shutil.rmtree(work, ignore_errors=True)
    for name in expected:
        expected[name] = dict(sorted(expected[name].items(), key=lambda kv: int(kv[0])))
    with open(workloads.EXPECTED_PATH, "w", encoding="utf-8") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
