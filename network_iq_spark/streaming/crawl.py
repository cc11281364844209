"""Continual crawl ingestion — the streaming front door of the corpus.

Composes the tiers that already exist into the pipeline a live crawl
actually runs: a ``binaryFile`` file stream of landed ``.warc.gz``
segments → record explode (sources/warc.py — member-aware gunzip, HTTP
parse, chunked decode) → HTML→text extraction (operators/text.py, pure
JVM regex) → near-dup admission against the AT-REST MinHash-LSH index
(streaming/dedup.py ``incremental_near_dup_sink``). Everything before
the sink is STATELESS (map-only on the stream), so the only streaming
state is the file-source's seen-files log; the dedup "state" is the
parquet index itself — unbounded history at parquet cost, shared with
the batch tier.

Scale posture: one crawl segment (~1 GB) per task at the source, record
explode and extraction embarrassingly parallel, and the per-batch dedup
cost is O(batch × collision rate) against the index (measured exponent
0.21 in history size at fixed batch — docs/SCALE.md). This is the same
shape Common Crawl-scale dedup pipelines run; a 100 TB/crawl firehose
widens the cluster, not the algorithm.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def warc_document_stream(spark: SparkSession, warc_dir: str) -> DataFrame:
    """Streaming (doc_id, url, text) from a directory ``.warc.gz`` files
    land in. ``doc_id`` is the 64-bit hash of the target URI — the
    deterministic identity a crawler has before any registry exists;
    downstream joins/dedup key on content fingerprints anyway."""
    from network_iq_spark.operators.text import html_to_text
    from network_iq_spark.sources.warc import warc_records

    blobs = (
        spark.readStream.format("binaryFile")
        .schema(
            # the binaryFile source's fixed schema, stated explicitly — file
            # streaming sources refuse to infer
            "path string, modificationTime timestamp, length bigint, content binary"
        )
        .load(warc_dir)
        .select("content")
    )
    recs = warc_records(blobs)
    pages = recs.filter(
        (F.col("rec_type") == "response")
        & (F.col("http_status") == 200)
        & (F.col("mime") == "text/html")
    ).select(
        F.xxhash64("target_uri").alias("doc_id"),
        F.col("target_uri").alias("url"),
        F.col("body").cast("string").alias("html"),
    )
    docs = html_to_text(pages).drop("html")
    return docs.filter(F.length("text") > 0)


def crawl_ingest_query(
    spark: SparkSession,
    warc_dir: str,
    corpus_path: str,
    bands_path: str,
    sets_path: str,
    checkpoint: str,
    threshold: float = 0.6,
):
    """Start the end-to-end continual-ingest query (availableNow drain —
    the cron-style trigger a crawl pipeline actually uses: drain what
    landed, exit, next run resumes from the checkpoint)."""
    from network_iq_spark.streaming.dedup import incremental_near_dup_sink

    docs = warc_document_stream(spark, warc_dir).select("doc_id", "url", "text")

    sink = incremental_near_dup_sink(
        corpus_path, bands_path, sets_path, threshold, carry_cols=("url",)
    )

    return (
        docs.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
