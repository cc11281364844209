"""Batch ingest: CSV → cleansed, hive-partitioned Parquet.

Generalizes the reference's only Spark job (``src/ingest/spark_ingest.py``):
explicit schema (no inference scan), cleansing rules, derived partition
columns, partition-aligned repartition, partitioned parquet sink
(S1/P1/P2/S8 in SURVEY.md §2).

Scale posture:
- ``repartition(partition_cols)`` keeps one task per output partition dir —
  no small-file explosion. At 100 TB, cap file sizes with
  ``spark.sql.files.maxRecordsPerFile`` and let AQE coalesce the exchange.
- The cleansing filter sits BEFORE the shuffle (filter-then-exchange), so
  invalid rows never cross the wire.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)


def telemetry_schema() -> StructType:
    """The reference's fixed 13-field telemetry schema (re-expressed from
    ``src/utils/schema.py:3-18``): timestamp+cell_id NOT NULL, 9 double
    metrics, 2 string dims."""
    metrics = [
        "lat",
        "lon",
        "rsrp_dbm",
        "rsrq_db",
        "sinr_db",
        "throughput_mbps",
        "latency_ms",
        "jitter_ms",
        "drop_rate",
    ]
    return StructType(
        [
            StructField("timestamp", TimestampType(), nullable=False),
            StructField("cell_id", StringType(), nullable=False),
            *[StructField(m, DoubleType(), nullable=True) for m in metrics],
            StructField("tech", StringType(), nullable=True),
            StructField("band", StringType(), nullable=True),
        ]
    )


def default_clean_rules() -> list[Column]:
    """Reference cleansing: impossible values dropped
    (``src/ingest/spark_ingest.py:13``; docs/KPI_dictionary.md:20)."""
    return [(F.col("latency_ms") > 0) & (F.col("throughput_mbps") >= 0)]


def default_derivations() -> dict[str, Column]:
    """Partition/derived columns (``src/ingest/spark_ingest.py:14-15``)."""
    return {
        "date": F.to_date("timestamp"),
        "hour": F.hour("timestamp"),
    }


def read_csv(spark: SparkSession, path: str | Sequence[str], schema: StructType) -> DataFrame:
    """S1/S5: header CSV scan with explicit schema — list paths union
    implicitly; no inference pass ever runs."""
    paths = [path] if isinstance(path, str) else list(path)
    return spark.read.option("header", True).schema(schema).csv(paths)


def read_csv_split(
    spark: SparkSession,
    path: str | Sequence[str],
    schema: StructType,
) -> tuple[DataFrame, DataFrame]:
    """Header-CSV scan split into (valid_rows, corrupt_lines) — the CSV
    twin of ``sources.jsonl.read_jsonl_split``, because a raw operator feed
    is never 100% well-formed and both failure modes of the naive scan
    (silent null-padding of broken lines, or dying mid-scan) are wrong.

    Both sides come from ONE permissive csv scan (map-only, no caching),
    so header handling is exactly the reader's own per-file first-line
    skip — no reconstructed-header string matching, which mis-quarantined
    real headers that differ in spacing/quoting/case and silently dropped
    data lines that happen to equal the header text. Spark refuses a scan
    whose only referenced data column is the corrupt-record column
    (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN), and — more
    subtly — only parses (and therefore only validates) the columns the
    query requires, so a probe that references one data column would miss
    corruption in the others. The corrupt side handles both by routing
    ``raw_line`` through a ``coalesce`` over EVERY data column: the full
    schema stays in the required set (full-width parse, same validation
    the valid side gets) without changing the value (the filter
    guarantees the corrupt column is non-null, so the coalesce always
    takes it).
    """
    from pyspark.sql.types import StringType, StructField, StructType as _ST

    paths = [path] if isinstance(path, str) else list(path)
    full = _ST(list(schema.fields) + [StructField("_corrupt_record", StringType())])
    scanned = (
        spark.read.option("header", True)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .schema(full)
        .csv(paths)
    )
    valid = scanned.filter(F.col("_corrupt_record").isNull()).drop("_corrupt_record")
    # concat_ws over every data column: always-true at runtime (concat_ws
    # skips nulls, length is never negative) but not provably so to the
    # optimizer, which keeps the full schema in the required set even under
    # aggressive pruning (e.g. corrupt.count(), which discards the
    # projection and would otherwise reduce the scan back to the lone
    # corrupt column)
    all_cols = F.concat_ws(
        ",", *[F.col(f.name).cast("string") for f in schema.fields]
    )
    corrupt = (
        scanned.filter(
            F.col("_corrupt_record").isNotNull() & (F.length(all_cols) >= 0)
        )
        .select(
            F.coalesce(F.col("_corrupt_record"), all_cols).alias("raw_line"),
            F.input_file_name().alias("src_file"),
        )
    )
    return valid, corrupt


def ingest(
    df: DataFrame,
    output_path: str,
    partition_cols: Sequence[str] = ("date", "cell_id"),
) -> None:
    """Cleansing filter (:func:`default_clean_rules`) → derived projections
    (:func:`default_derivations`) → partition-aligned repartition →
    hive-partitioned parquet write that overwrites ``output_path``."""
    out = df
    for rule in default_clean_rules():
        out = out.filter(rule)
    for name, expr in default_derivations().items():
        out = out.withColumn(name, expr)
    (
        out.repartition(*partition_cols)
        .write.mode("overwrite")
        .partitionBy(*partition_cols)
        .parquet(output_path)
    )


def read_curated(spark: SparkSession, path: str) -> DataFrame:
    """S2: hive-partitioned parquet scan with automatic partition discovery —
    filters on ``date``/``cell_id`` prune directories before any I/O.

    An all-filtered (hence file-less) curated dir is not readable this
    way: Spark cannot infer a schema from a ``_SUCCESS``-only output. Read
    one with ``spark.read.schema(...).parquet(path)``.
    """
    return spark.read.parquet(path)
