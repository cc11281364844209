"""binaryFile source: real media files → the multimodal MEDIA schema.

The multimodal tier (operators/multimodal.py) operates on opaque payload
columns; this module is where those columns come FROM on a lake: Spark's
built-in ``binaryFile`` format scans a directory tree into
(path, modificationTime, length, content) rows — splittable listing,
per-file tasks, glob/partition pruning — and the adapter projects it into
MEDIA_SCHEMA with a deterministic id. Works identically under
``readStream`` (file-source streaming) for continuously-arriving media.

Scale notes: payload bytes ride ONE column; `spark.sql.files.
maxPartitionBytes` governs batching of small files into tasks, and
`pathGlobFilter` prunes at listing time (decode nothing you don't scan).
Very large media should stay (metadata + pointer) with late fetch inside
the decode stage instead — see operators/multimodal.py module notes.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_media_dir(
    spark: SparkSession,
    path: str,
    glob: str | None = None,
) -> DataFrame:
    """Scan an image directory into MEDIA_SCHEMA-shaped rows.

    media_id is the 48-bit md5 of the file path — stable across re-scans
    and engines, independent of listing order. width/height/duration are
    left null here (metadata-free listing stays map-only); fill them with
    :func:`with_image_dims` when downstream stages need real dimensions.
    """
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    raw = reader.load(path)
    return raw.select(
        F.conv(F.substring(F.md5("path"), 1, 12), 16, 10)
        .cast("bigint")
        .alias("media_id"),
        F.col("content").alias("payload"),
        F.lit("image").alias("media_type"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        F.lit(None).cast("int").alias("duration_ms"),
        F.col("path").alias("media_path"),
    )


def with_image_dims(df: DataFrame) -> DataFrame:
    """Fill width/height by REALLY decoding each payload header
    (operators/multimodal.py decode_image — pure numpy PGM/PPM/BMP);
    undecodable payloads keep null dims. Arrow-batched mapInPandas, one
    pass, no shuffle."""
    from network_iq_spark.operators.multimodal import decode_image

    cols = df.columns

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            widths, heights = [], []
            for p in pdf["payload"]:
                img = decode_image(bytes(p) if p is not None else b"")
                if img is None:
                    widths.append(None)
                    heights.append(None)
                else:
                    heights.append(img.shape[0])
                    widths.append(img.shape[1])
            pdf = pdf.copy()
            pdf["width"] = pd.array(widths, dtype="Int32")
            pdf["height"] = pd.array(heights, dtype="Int32")
            yield pdf

    schema = ", ".join(
        f"{name} {dtype}"
        for name, dtype in [
            ("media_id", "bigint"),
            ("payload", "binary"),
            ("media_type", "string"),
            ("width", "int"),
            ("height", "int"),
            ("duration_ms", "int"),
            ("media_path", "string"),
        ]
        if name in cols
    )
    return df.mapInPandas(batches, schema=schema)
