"""Local replica of the driver's t2 correctness gate.

For every query in the registry: run the Spark plan AND the DuckDB oracle on
the same parquet tables, then compare row count, column-name set, and values
EXACTLY (order-insensitive). Strict equality is the design goal — aggregates
use the deterministic DECIMAL-sum pattern, so both engines must agree
bit-for-bit; any drift is a bug in the query, not acceptable noise.
"""

from __future__ import annotations

import datetime
import math
import os

import duckdb
import pytest

from network_iq_spark.registry import ORACLES, QUERIES
from network_iq_spark.sources import TABLES


def _duck(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == 0.0:
            return 0.0  # collapse -0.0
        return v
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, list):
        return tuple(_norm(x) for x in v)
    return v


def _sortkey(row):
    return tuple((x is None, str(type(x).__name__), str(x)) for x in row)


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(name, spark, sf_dir, registry_prefetch):
    # Spark rows and the DuckDB oracle result come from the session-scoped
    # prefetch (built once per sf_dir, overlapped in a thread pool — see
    # conftest._RegistryPrefetch); the comparison below is unchanged.
    entry = registry_prefetch.entry(sf_dir, name)
    if name not in ORACLES:
        # rows-only check for non-SQL-expressible ops (driver does the same)
        assert entry["rows"] is not None
        return

    spark_cols = sorted(entry["cols"])
    spark_rows = [tuple(_norm(r[c]) for c in spark_cols) for r in entry["rows"]]

    duck_cols_raw = entry["duck_desc"]
    duck_all = entry["duck_rows"]

    duck_cols = sorted(duck_cols_raw)
    assert spark_cols == duck_cols, f"{name}: column mismatch {spark_cols} vs {duck_cols}"

    idx = [duck_cols_raw.index(c) for c in duck_cols]
    duck_rows = [tuple(_norm(r[i]) for i in idx) for r in duck_all]

    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row count {len(spark_rows)} vs {len(duck_rows)}"
    )

    spark_rows.sort(key=_sortkey)
    duck_rows.sort(key=_sortkey)
    mismatches = [
        (i, s, d) for i, (s, d) in enumerate(zip(spark_rows, duck_rows)) if s != d
    ]
    assert not mismatches, f"{name}: {len(mismatches)} mismatched rows; first 3: {mismatches[:3]}"


@pytest.fixture(scope="module")
def tiny_events_dirs(sf_dir, tmp_path_factory):
    """Two catalogs whose ``events`` table has the real schema: one holds
    (value 1.0, user 1, 'view') and (value 2.0, user 2, NULL type), the
    other no rows. Written as single parquet files, as both engines read
    the real catalog."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pq.read_schema(os.path.join(sf_dir, "events.parquet"))
    rows = [
        {"event_id": 1, "user_id": 1, "event_type": "view", "value": 1.0},
        {"event_id": 2, "user_id": 2, "event_type": None, "value": 2.0},
    ]
    dirs = {}
    for name, table in (
        ("two_rows", pa.Table.from_pylist(rows, schema)),
        ("zero_rows", schema.empty_table()),
    ):
        d = tmp_path_factory.mktemp(name)
        pq.write_table(table, str(d / "events.parquet"))
        dirs[name] = str(d)
    return dirs


@pytest.mark.parametrize(
    "catalog, want",
    [
        ("two_rows", {"known_type": 1, "user_valid": 0, "value_nonneg": 0,
                      "__valid_rows__": 1}),
        ("zero_rows", {"known_type": 0, "user_valid": 0, "value_nonneg": 0,
                       "__valid_rows__": 0}),
    ],
)
def test_contract_quarantine_summary_oracle_follows_engine_semantics(
    spark, tiny_events_dirs, catalog, want
):
    """A NULL rule result is a failure and an empty table counts 0 per rule,
    in the engine and in its oracle alike."""
    d = tiny_events_dirs[catalog]
    got = {
        r["failed_rule"]: r["n"]
        for r in QUERIES["contract_quarantine_summary"](spark, d).collect()
    }
    oracle = dict(_duck(d).execute(ORACLES["contract_quarantine_summary"]).fetchall())
    assert got == oracle == want
