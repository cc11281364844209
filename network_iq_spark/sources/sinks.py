"""Export sinks (SURVEY.md §2.1 S8-S9) + the S4 partition-path fallback.

The reference's exports are UI-sized CSV byte blobs (streamlit_app.py:
844-849,915-925); a distributed engine needs both that driver-side shape
(for limit-ed results) and real distributed writers."""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def to_csv_bytes(df: DataFrame, limit: int = 100_000) -> bytes:
    """S9 driver-side export for UI-sized results. The ``limit`` guard keeps
    a mistaken call on a 100 TB frame from flattening the driver."""
    return df.limit(limit).toPandas().to_csv(index=False).encode("utf-8")


def write_csv(df: DataFrame, path: str) -> None:
    """S9 distributed CSV writer (one file per partition) that overwrites
    ``path``."""
    df.write.mode("overwrite").option("header", True).csv(path)


def partition_value_from_path() -> Column:
    """S4: regex parse of the ``date=`` partition value from the input
    file path — the fallback when a layout was written without hive
    discovery in mind.
    Built-in partition discovery (S2) supersedes this for proper layouts."""
    return F.regexp_extract(F.input_file_name(), r"date=([^/]+)", 1)


def parse_partition_path(path: str) -> dict[str, str]:
    """Driver-side twin of S4 for a single path string."""
    return dict(re.findall(r"([^/=]+)=([^/]+)", path))
