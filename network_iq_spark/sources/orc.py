"""ORC source & sink — the second first-class columnar lake format.

Hive-ecosystem clusters frequently standardize on ORC rather than parquet;
an engine claiming "a user could switch to this repo" needs to scan both
without losing the scan-side optimizations. Spark's native ORC reader gives
the same levers as parquet — column pruning (ReadSchema), predicate pushdown
(PushedFilters), partition pruning on hive-style directory layouts — so ORC
tables run the SAME registered plans at the same scan cost; only the
physical format node differs. The reference is parquet/CSV-only
(ingest.py:1-29); this is the lake-interop leg of the edge-format tier
(JSONL handles interchange, ORC handles the other lake).

Scale posture: identical to the parquet scan path — splittable stripes,
map-only conversion in either direction, no shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan under the files' own schema (unlike JSONL: ORC files carry
    their own typed footer, so there is no inference pass to avoid). A
    reader that must pin the read contract, so mismatches fail at planning
    time instead of 3 hours into a 100 TB job, states it with
    ``spark.read.schema(...).orc(path)``."""
    return spark.read.orc(path)


def write_orc(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
) -> None:
    """Partitioned ORC sink that overwrites ``path`` (zstd: best
    ratio/speed of the codecs ORC ships; splittable either way because ORC
    compresses per-stripe)."""
    w = df.write.mode("overwrite").option("compression", "zstd")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.orc(path)


def parquet_to_orc(spark: SparkSession, src: str, dst: str) -> DataFrame:
    """Lake-to-lake hop, map-only (file-parallel read and write, no
    shuffle). Returns the frame re-read from the ORC copy so callers chain
    onto the converted table."""
    write_orc(spark.read.parquet(src), dst)
    return read_orc(spark, dst)
