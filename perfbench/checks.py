"""Output checks: DuckDB oracle replay, order-independent hashes, and the
numpy reference for the ingest workload.

Spark and DuckDB rows are compared the way the engine's oracle-parity tests
do: columns sorted by name, values normalized (NaN, signed zero, datetimes),
rows sorted by ``repr`` and compared for exact equality.
"""

from __future__ import annotations

import datetime
import hashlib
import math
import os
from collections.abc import Sequence

import numpy as np

Rows = list[tuple]


def norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else (0.0 if v == 0.0 else v)
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    return v


def _row_key(row: tuple) -> list[str]:
    # repr gives a total order even when a row mixes None and numbers
    return [repr(v) for v in row]


def canonical_rows(columns: Sequence[str], rows: Sequence) -> tuple[list[str], Rows]:
    """(sorted column names, normalized rows sorted by repr) from rows that
    index by position in ``columns`` order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(norm(r[i]) for i in order) for r in rows]
    return [columns[i] for i in order], sorted(out, key=_row_key)


def rows_hash(rows: Rows) -> str:
    """sha256 over the repr of canonical rows; insensitive to row order
    because ``canonical_rows`` already sorted them."""
    h = hashlib.sha256()
    for r in rows:
        h.update(repr(r).encode())
        h.update(b"\n")
    return h.hexdigest()


def duckdb_catalog(sf_dir: str, tables: Sequence[str]):
    """A DuckDB connection with one view per catalog table."""
    import duckdb

    con = duckdb.connect()
    for t in tables:
        path = os.path.join(sf_dir, f"{t}.parquet").replace("'", "''")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def oracle_mismatch(con, sql: str, columns: list[str], rows: Rows) -> str | None:
    """None when DuckDB's answer to ``sql`` equals the canonical Spark
    rows, else a one-line reason."""
    res = con.execute(sql)
    d_cols = [d[0] for d in res.description]
    d_cols, d_rows = canonical_rows(d_cols, res.fetchall())
    if d_cols != columns:
        return f"columns differ: spark {columns} vs oracle {d_cols}"
    if d_rows != rows:
        diff = len(set(map(repr, rows)) ^ set(map(repr, d_rows)))
        return f"rows differ: spark {len(rows)} vs oracle {len(d_rows)}, {diff} distinct mismatches"
    return None


def telemetry_expectations(csv_text: str) -> dict:
    """What the ingest of ``csv_text`` must produce, computed with numpy:
    the rows that pass the cleansing rule (latency_ms > 0 and
    throughput_mbps >= 0), their (date, cell) partitions, and the KPI
    panel's means and exact P95 latency."""
    lines = csv_text.splitlines()
    header = lines[0].split(",")
    fields = [ln.split(",") for ln in lines[1:]]
    col = {name: i for i, name in enumerate(header)}
    lat = np.array([float(f[col["latency_ms"]]) for f in fields])
    thr = np.array([float(f[col["throughput_mbps"]]) for f in fields])
    drop = np.array([float(f[col["drop_rate"]]) for f in fields])
    keep = (lat > 0) & (thr >= 0)
    parts = {(f[col["timestamp"]][:10], f[col["cell_id"]]) for f, k in zip(fields, keep) if k}
    return {
        "raw_rows": len(fields),
        "rows": int(keep.sum()),
        "partitions": len(parts),
        "avg_throughput_mbps": float(thr[keep].mean()),
        "avg_drop_rate": float(drop[keep].mean()),
        "p95_latency_ms": float(np.percentile(lat[keep], 95)),
    }


def close(a: float, b: float, rel: float = 1e-9) -> bool:
    """Equal up to summation-order rounding."""
    return abs(a - b) <= rel * max(1.0, abs(a), abs(b))
