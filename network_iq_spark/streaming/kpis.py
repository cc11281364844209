"""Structured Streaming tier (SURVEY.md §2.10 / §7 phase E).

The reference has no streaming path — but its telemetry table is naturally a
stream (event-time = timestamp), and every grouped-by-hour batch operator has
a direct tumbling-window analogue:

- A4/A5/A9 grouped aggregates → ``groupBy(window(ts, "1 hour"), keys)`` with
  a watermark bounding state.
- distinct keys per trailing window → sliding windows
  (``window(ts, "3 hours", "1 hour")``) over an HLL++ sketch.
- P12 latest-per-key snapshot → arbitrary stateful dedup
  (``applyInPandasWithState`` — the flatMapGroupsWithState analogue).

Late data policy: rows later than the watermark are dropped from their
window — at 100 TB the watermark bound is what keeps state finite; the
delta/append sink records window finalization, so downstream readers see
only closed windows in append mode.
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import StructType


def read_telemetry_stream(
    spark: SparkSession,
    path: str | None = None,
    schema: StructType | None = None,
    source: str = "file",
    options: dict | None = None,
) -> DataFrame:
    """Telemetry stream behind a SOURCE seam — the downstream operators
    (tumbling/sliding KPIs, sessionize, dedup, joins) never know where the
    rows came from:

    - ``file`` (default): stream over the same at-rest parquet layout the
      batch tier scans — one pipeline definition serves both (Kappa posture).
    - ``rate``: the built-in deterministic-content generator (consecutive
      ``value`` counters) — compose with :func:`telemetry_from_rate` to get
      typed telemetry rows; used by the rate-source equivalence tests.
    - ``kafka``: the production bus — bootstrap/topic via ``options``
      (``kafka.bootstrap.servers``, ``subscribe``, ``startingOffsets``);
      value bytes decode through :func:`decode_kafka_telemetry`, which is
      also unit-testable on a static frame with Kafka's wire schema.
      Requires the spark-sql-kafka connector on the classpath (not in this
      container — load() raises; the decode path carries the test burden).
    """
    opts = dict(options or {})
    if source == "file":
        reader = spark.readStream.format("parquet").schema(schema)
        for k, v in opts.items():
            reader = reader.option(k, v)
        return reader.load(path)
    if source == "rate":
        reader = spark.readStream.format("rate")
        for k, v in opts.items():
            reader = reader.option(k, v)
        return reader.load()
    if source == "kafka":
        reader = spark.readStream.format("kafka")
        for k, v in opts.items():
            reader = reader.option(k, v)
        return decode_kafka_telemetry(reader.load(), schema)
    raise ValueError(f"unknown stream source {source!r} (file|rate|kafka)")


def decode_kafka_telemetry(raw: DataFrame, schema: StructType) -> DataFrame:
    """Kafka wire frame (key/value binary, topic, partition, offset,
    timestamp) → typed telemetry columns: JSON value parsed against
    ``schema``. Pure column expressions — identical on a static frame, so
    the decode is testable without a broker."""
    return raw.select(
        F.from_json(F.col("value").cast("string"), schema).alias("r")
    ).select("r.*")


def telemetry_from_rate(rate_df: DataFrame) -> DataFrame:
    """Deterministic telemetry rows from the rate source's ``value``
    counter (pure column expressions — apply the same transform to
    ``spark.range`` for the batch twin): event time advances one second
    per row from 2025-01-01 00:00:00, four cells round-robin, latency is
    an exact integer-valued function of the counter. Content depends only on WHICH
    counters a trigger consumed (always a contiguous prefix), never on
    wall-clock — what makes rate-source equivalence tests exact."""
    v = F.col("value")
    epoch = F.to_timestamp(F.lit("2025-01-01 00:00:00"))
    return rate_df.select(
        (epoch + F.make_interval(secs=v)).alias("timestamp"),
        F.concat(F.lit("CELL-"), (v % 4).cast("string")).alias("cell_id"),
        (20 + (v % 50)).cast("double").alias("latency_ms"),
        v.alias("value"),
    )


def tumbling_kpis(
    stream: DataFrame,
    keys: Sequence[str] = (),
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Hourly ``latency_ms`` KPI aggregates as a watermarked tumbling-window
    stream (the streaming twin of A4/A5)."""
    return (
        stream.withWatermark("timestamp", watermark)
        .groupBy(F.window(F.col("timestamp"), window), *keys)
        .agg(
            F.avg("latency_ms").alias("avg_value"),
            F.stddev_samp("latency_ms").alias("std_value"),
            F.count("*").alias("n"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            *keys,
            "avg_value",
            "std_value",
            "n",
        )
    )


def sliding_distinct_keys(stream: DataFrame) -> DataFrame:
    """Distinct ``cell_id`` count per 3 h window sliding by 1 h (3 h
    watermark) as an HLL++ sketch (``approx_count_distinct``, rsd 0.02) —
    exact COUNT(DISTINCT) is unsupported in streaming aggregations for a
    reason: its state is the value set itself.
    The sketch is mergeable and register-maxing, so state per window is a
    fixed few KB, results are independent of arrival order/micro-batching,
    and the batch replay of the same data produces the IDENTICAL estimate
    (equivalence-tested) — the same exact/approx duality the batch tier
    documents for percentile vs percentile_approx."""
    return (
        stream.withWatermark("timestamp", "3 hours")
        .groupBy(F.window(F.col("timestamp"), "3 hours", "1 hour"))
        .agg(
            F.approx_count_distinct("cell_id", 0.02).alias("approx_distinct"),
            F.count("*").alias("n_rows"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "approx_distinct",
            "n_rows",
        )
    )


def latest_per_key(stream: DataFrame, schema_ddl: str) -> DataFrame:
    """Stateful latest-row-per-``cell_id`` (P12/W6 streaming twin) via
    ``applyInPandasWithState``: state holds one (timestamp, latency_ms,
    throughput_mbps) tuple per key, updated when a newer event arrives
    (2 h watermark). State size = O(#keys), bounded.

    ``schema_ddl`` example: ``"cell_id string, timestamp timestamp,
    latency_ms double, throughput_mbps double"``.
    """
    cols = ["cell_id", "timestamp", "latency_ms", "throughput_mbps"]

    def update(
        key_tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        newest: tuple | None = state.get if state.exists else None
        for pdf in pdfs:
            pdf = pdf.sort_values("timestamp")
            last = pdf.iloc[-1]
            cand = tuple(last[c] for c in cols)
            if newest is None or cand[1] > newest[1]:
                newest = cand
        if newest is not None:
            state.update(newest)
            yield pd.DataFrame([dict(zip(cols, newest))])

    return (
        stream.withWatermark("timestamp", "2 hours")
        .select(*cols)
        .groupBy("cell_id")
        .applyInPandasWithState(
            update,
            outputStructType=schema_ddl,
            stateStructType=schema_ddl,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
