"""JSONL (newline-delimited JSON) source & sink — the lingua franca of LLM
training-data interchange (every open corpus release and data-loader stack
speaks it). The reference stays parquet/CSV-only (ingest.py:1-29); a
training-data engine needs the third leg.

Scale posture: JSON text is ~3-5× the bytes of the same rows in parquet and
the scan cannot column-prune, so JSONL is treated strictly as an EDGE
format — read once with an explicit schema (never inference, which is a
full extra pass over 100 TB), convert to parquet, and run every downstream
operator on the parquet copy. ``jsonl_to_parquet`` is that one-hop
conversion: a map-only job, no shuffle, parallel across the source files.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# the documents-table contract in JSONL form (explicit, never inferred)
DOCUMENTS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
) -> DataFrame:
    """Schema-first JSONL scan in PERMISSIVE mode: malformed lines land in
    ``_corrupt_record`` instead of failing the job — at crawl scale some
    fraction of lines is always broken, and dropping them silently (or
    dying on line 40 billion) are both wrong. Callers split the frame with
    :func:`read_jsonl_split`.
    """
    # StructType.add MUTATES the receiver — build a fresh struct so the
    # caller's schema object is never widened behind their back
    full = T.StructType(
        list(schema.fields) + [T.StructField("_corrupt_record", T.StringType())]
    )
    return (
        spark.read.schema(full)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
    )


def read_jsonl_split(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
) -> tuple[DataFrame, DataFrame]:
    """Schema-first JSONL scan split into (valid_rows, corrupt_lines).

    Spark refuses a query whose only referenced data column is the internal
    corrupt-record column (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_
    COLUMN), and the documented workaround — cache the parsed frame — is a
    non-starter on a 100 TB edge scan. Instead the corrupt side is an
    INDEPENDENT lazy text scan of the same files probed with ``from_json``
    under the same schema+options, so both sides stay map-only and
    distributed with zero caching. The same parser and PERMISSIVE config on
    both probes keeps the valid/corrupt classification consistent; blank
    lines (which the json reader skips entirely) are excluded from the
    corrupt probe to match."""
    scanned = read_jsonl(spark, path, schema)
    valid = scanned.filter(F.col("_corrupt_record").isNull()).drop("_corrupt_record")
    probe = T.StructType(
        list(schema.fields) + [T.StructField("_corrupt_record", T.StringType())]
    )
    parsed = F.from_json(
        F.col("value"),
        probe,
        {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_corrupt_record"},
    )
    corrupt = (
        spark.read.text(path)
        .filter(F.length(F.trim(F.col("value"))) > 0)
        .withColumn("_parsed", parsed)
        .filter(F.col("_parsed._corrupt_record").isNotNull())
        .select(
            F.col("value").alias("raw_line"),
            F.input_file_name().alias("src_file"),
        )
    )
    return valid, corrupt


def write_jsonl(df: DataFrame, path: str, compression: str | None = "gzip") -> None:
    """Distributed JSONL writer (one file per partition) that overwrites
    ``path``. Gzip by default:
    JSONL exports exist to leave the cluster, and 3-5× wire shrink beats
    splittability for an export artifact (for re-ingest, parquet is the
    answer, not uncompressed JSONL)."""
    w = df.write.mode("overwrite")
    if compression:
        w = w.option("compression", compression)
    w.json(path)


def jsonl_to_parquet(
    spark: SparkSession,
    src: str,
    dst: str,
    schema: T.StructType,
) -> DataFrame:
    """The edge-to-lake hop: schema-first JSONL scan → parquet, map-only
    (no shuffle — file-parallel read, file-parallel write), corrupt lines
    quarantined to ``{dst}_corrupt``; both outputs are overwritten. Returns
    the valid frame re-read from the parquet copy so downstream plans get
    column pruning + pushdown."""
    valid, corrupt = read_jsonl_split(spark, src, schema)
    valid.write.mode("overwrite").parquet(dst)
    corrupt.write.mode("overwrite").json(f"{dst.rstrip('/')}_corrupt")
    return spark.read.parquet(dst)


# ---------------------------------------------------------------------------
# XML edge format (Spark 4 native from_xml — same schema-first posture)
# ---------------------------------------------------------------------------


def read_xml_records(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
) -> DataFrame:
    """One-XML-record-per-line (``<record>``) edge scan (the XML sibling of
    :func:`read_jsonl`): a distributed text scan + ``from_xml`` under an
    EXPLICIT schema — no inference pass, map-only, file-parallel. Rows
    whose line fails to parse or lacks the record tag come back as
    all-null structs; callers quarantine them with the usual null-key
    filter. Full-document (multi-line) XML needs a record-boundary-aware
    splitter — out of scope; the record-per-line layout is what log
    pipelines emit and is splittable for free."""
    parsed = F.from_xml(F.col("value"), schema)
    return (
        spark.read.text(path)
        .filter(F.length(F.trim(F.col("value"))) > 0)
        .filter(F.col("value").contains("<record"))
        .select(parsed.alias("_r"))
        .select("_r.*")
    )
