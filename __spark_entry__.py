"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query at sf0.001 (smoke check);
``queries()`` / ``oracle_sql()`` expose the full operator registry
(``network_iq_spark/queries/``) cross-checked against DuckDB at sf0.01.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    from network_iq_spark.registry import QUERIES

    return QUERIES["pricing_summary"](spark, SMOKE_SF_DIR)


# The driver hash-checks a 50-query prefix of this dict per round, and
# stamps each query it checked in that round's CORRECTNESS_r<NN>.json.
# Surface the least recently verified queries first: order by the round of
# each query's last ``hash_match: true`` stamp, oldest first (never
# verified ranks as round 0), ties by name.
def _last_verified() -> dict[str, int]:
    last: dict[str, int] = {}
    here = os.path.dirname(os.path.abspath(__file__))
    for path in glob.glob(os.path.join(here, "CORRECTNESS_r*.json")):
        rnd = int(re.search(r"_r(\d+)\.json$", path).group(1))
        with open(path) as fh:
            for name, stamp in json.load(fh).items():
                if stamp.get("hash_match") is True:
                    last[name] = max(last.get(name, 0), rnd)
    return last


def _ordered(d: dict) -> dict:
    last = _last_verified()
    return {k: d[k] for k in sorted(d, key=lambda k: (last.get(k, 0), k))}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2.

    Excludes ``BENCH_ONLY`` queries (float-valued approximate structures
    that are rows-only by design); each has an oracle-paired exact or
    integer-quantized twin in the sheet, and all stay covered by bench.py
    and the local test suite.
    """
    from network_iq_spark.registry import BENCH_ONLY, QUERIES

    return _ordered({k: v for k, v in QUERIES.items() if k not in BENCH_ONLY})


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twin for each (SQL-expressible) query."""
    from network_iq_spark.registry import BENCH_ONLY, ORACLES

    return _ordered({k: v for k, v in ORACLES.items() if k not in BENCH_ONLY})
