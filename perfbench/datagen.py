"""Seeded input generators.

``write_catalog`` writes the ten parquet tables the registered queries read
(``network_iq_spark.sources.tables.TABLES``) with the schemas and value
domains of the engine's test data (FIXTURES.md part B). ``telemetry_csv_text``
makes the raw cell-telemetry CSV that the ingest job reads, with the column
ranges of the ``python -m network_iq_spark`` demo plus dirty rows that the
cleansing rule must drop.

Every value is drawn from one ``numpy.random.Generator`` seeded by the
caller, so the same seed gives byte-identical files.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
LANGS = ("en", "zh", "es", "de", "fr")
LANG_P = (0.44, 0.15, 0.15, 0.14, 0.12)
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("small", "red", "blue", "green", "large", "steel", "brass", "shiny")
PART_NOUN = ("ring", "widget", "bolt", "gear", "pipe", "nut", "valve", "spring")
PART_TYPES = ("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("view", "click", "signup", "purchase", "error")
EMBED_DIM = 64


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Two-decimal amounts: the engine's exact DECIMAL-sum aggregates assume
    money columns carry at most two decimals."""
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: dt.date, end: dt.date, n: int) -> pa.Array:
    span = (end - start).days
    epoch_day = (start - dt.date(1970, 1, 1)).days
    micros = (epoch_day + rng.integers(0, span + 1, n)) * 86_400_000_000
    return pa.array(micros, pa.timestamp("us"))


def catalog_sizes(sf: float) -> dict[str, int]:
    """Row counts of the scaled tables (region and nation are fixed)."""
    return {
        "customer": int(150_000 * sf), "supplier": int(10_000 * sf),
        "part": int(200_000 * sf), "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf), "events": int(1_000_000 * sf),
        "documents": max(500, int(50_000 * sf)), "embeddings": max(500, int(50_000 * sf)),
    }


def catalog_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The ten catalog tables at scale factor ``sf`` (0.01 gives 60k
    lineitem rows, 10k events, 500 documents and 500 embeddings)."""
    rng = np.random.default_rng(seed)
    n = catalog_sizes(sf)
    n_cust, n_supp, n_part = n["customer"], n["supplier"], n["part"]
    n_ord, n_line, n_ev = n["orders"], n["lineitem"], n["events"]
    n_docs, n_emb = n["documents"], n["embeddings"]
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust).tolist(),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": rng.choice(names, n_part).tolist(),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part).tolist(),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(("F", "O", "P"), n_ord).tolist(),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), n_ord),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord).tolist(),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(("A", "N", "R"), n_line).tolist(),
        "l_linestatus": rng.choice(("O", "F"), n_line).tolist(),
        "l_shipdate": _days(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), n_line),
    })
    # events: one month of ascending microsecond timestamps
    month_us = 30 * 86_400_000_000
    start_us = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp()) * 1_000_000
    ts = start_us + np.sort(rng.integers(0, month_us, n_ev))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(150, n_ev // 66), n_ev), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, n_ev).tolist(),
        "value": np.round(np.minimum(rng.exponential(50.0, n_ev), 490.0) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    # documents: word salad over a small vocabulary; about one in twenty is
    # an earlier document plus a marker word (the near-dup the dedup tiers find)
    texts: list[str] = []
    for i in range(n_docs):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(10, 100)))))
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs, p=LANG_P).tolist(),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(s) for s in texts], pa.int64()),
    })
    vecs = rng.standard_normal((n_emb, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
    })
    return t


def write_catalog(out_dir: str, seed: int, sf: float) -> None:
    """Write ``<out_dir>/<table>.parquet`` for every catalog table."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in catalog_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


TELEMETRY_COLUMNS = (
    "timestamp", "cell_id", "lat", "lon", "rsrp_dbm", "rsrq_db", "sinr_db",
    "throughput_mbps", "latency_ms", "jitter_ms", "drop_rate", "tech", "band",
)
_METRIC_RANGES = (
    ("rsrp_dbm", -113.0, -79.0),
    ("rsrq_db", -18.5, 1.8),
    ("sinr_db", -5.1, 23.1),
    ("throughput_mbps", 2.4, 254.9),
    ("latency_ms", 18.0, 76.0),
    ("jitter_ms", 0.0, 20.5),
    ("drop_rate", 0.0, 3.85),
)


def telemetry_csv_text(seed: int, cells: int, days: int, dirty_every: int = 97) -> str:
    """Hourly rows for ``cells`` cells over ``days`` days from 2025-07-01.
    Every ``dirty_every``-th row is made dirty: alternately a non-positive
    latency and a negative throughput, both of which the ingest cleansing
    rule drops."""
    rng = np.random.default_rng(seed)
    hours = days * 24
    n = cells * hours
    cell_idx = np.repeat(np.arange(cells), hours)
    hour_idx = np.tile(np.arange(hours), cells)
    base_lat = rng.uniform(32.6, 32.8, cells)
    base_lon = rng.uniform(-97.1, -96.9, cells)
    cols: dict[str, np.ndarray] = {
        "lat": base_lat[cell_idx] + rng.normal(0.0, 0.002, n),
        "lon": base_lon[cell_idx] + rng.normal(0.0, 0.002, n),
    }
    for name, lo, hi in _METRIC_RANGES:
        cols[name] = rng.uniform(lo, hi, n)
    dirty = np.arange(n)[::dirty_every]
    cols["latency_ms"][dirty[0::2]] = -rng.uniform(0.0, 5.0, len(dirty[0::2]))
    cols["throughput_mbps"][dirty[1::2]] = -rng.uniform(0.1, 5.0, len(dirty[1::2]))
    tech = rng.choice(("4G", "5G"), n)
    band = rng.choice(("B2", "B66", "n41", "n77"), n)
    t0 = dt.datetime(2025, 7, 1)
    stamps = [(t0 + dt.timedelta(hours=int(h))).strftime("%Y-%m-%d %H:%M:%S") for h in range(hours)]
    lines = [",".join(TELEMETRY_COLUMNS)]
    fmt = {k: np.char.mod("%.4f", v) for k, v in cols.items()}
    for i in range(n):
        lines.append(",".join((
            stamps[hour_idx[i]], f"CELL-{cell_idx[i] + 1:04d}",
            *(fmt[c][i] for c in TELEMETRY_COLUMNS[2:11]),
            tech[i], band[i],
        )))
    return "\n".join(lines) + "\n"
