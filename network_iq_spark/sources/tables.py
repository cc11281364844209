"""Table catalog over the driver's parquet testdata.

Mirrors the reference's scan surface (SURVEY.md §2.1): parquet scans with
automatic partition discovery (S2), multi-file/implicit-union scans (S5), and
explicit-schema CSV (S1 — see ``sources/csv.py`` / ``ingest.py``).

Scans are plain ``spark.read.parquet`` so Catalyst keeps predicate pushdown,
column pruning and (for hive layouts) partition pruning — the reference
defeats all three by materializing everything up front
(streamlit_app.py:212-214).
"""

from __future__ import annotations

import os
import stat
import threading
from collections import OrderedDict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructType, TimestampNTZType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# Schema memo: absolute table path -> (file version, inferred StructType).
# Bounded LRU so a long-lived process that scans many paths stays small.
_SCHEMA_MEMO_SIZE = 64
_SCHEMAS: OrderedDict[str, tuple[tuple, StructType]] = OrderedDict()
_MEMO_LOCK = threading.Lock()
# Serializes the session-global conf flip of the inference path.
_INFER_LOCK = threading.Lock()
_SCAN_CONFS = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
}


def _file_version(path: str) -> tuple | None:
    """(relative path, size, mtime_ns, inode) of the file at ``path``, or of
    every file under it when it is a directory; None when it does not exist.
    """
    try:
        st = os.stat(path)
    except OSError:
        return None
    if not stat.S_ISDIR(st.st_mode):
        return (("", st.st_size, st.st_mtime_ns, st.st_ino),)
    out = []
    for root, dirs, files in os.walk(path):
        dirs.sort()
        for f in sorted(files):
            fp = os.path.join(root, f)
            try:
                fst = os.stat(fp)
            except OSError:  # removed mid-walk: the next call sees the change
                continue
            out.append(
                (os.path.relpath(fp, path), fst.st_size, fst.st_mtime_ns, fst.st_ino)
            )
    return tuple(out)


def _inferring_read(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with the two timestamp scan confs flipped
    on for the read and restored after (see ``load_table``)."""
    with _INFER_LOCK:
        prior = {k: spark.conf.get(k) for k in _SCAN_CONFS}
        for k, v in _SCAN_CONFS.items():
            spark.conf.set(k, v)
        try:
            return spark.read.parquet(path)
        finally:
            for k, v in prior.items():
                spark.conf.set(k, v)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Lazy parquet scan of one catalog table under ``sf_dir``.

    **Schema memo.** Inferring a parquet schema always launches a Spark job
    (footer reads via ``mergeSchemasInParallel``), even for one file: warm,
    on a 4-core VM, 92-103 ms per call against 18 ms for the same read given
    its schema. Dashboard queries re-read the same tables on every
    interaction, so the schema is inferred once per file version and
    memoized process-wide (bounded LRU, thread-safe). The key is the table's absolute path; the entry holds the
    version it was inferred from: (size, mtime_ns, inode) of the file, or of
    every file under it for a directory. A rewritten table therefore misses
    and is inferred afresh. An in-place rewrite that keeps the size, the
    inode and the filesystem's mtime tick is not detected.

    A hit returns a *fresh* ``spark.read.schema(cached).parquet(path)``,
    never a cached DataFrame: every call must get its own relation with its
    own attribute ids, or self-joins of two ``load_table`` results and
    ``df["col"]`` references would become ambiguous. The fresh read still
    lists the files, so Catalyst pushdown and column/partition pruning are
    exactly those of an inferred read. A missing table is not memoized and
    raises Spark's own error from the inferring read.

    **Timestamp flavors.** ``events.ts`` has shipped in two physical flavors
    across testdata generations: parquet TIMESTAMP(NANOS) (Spark 4 refuses
    by default — read as raw nanos via ``nanosAsLong`` and narrow with
    *integer* division; nanos exceed 2^53 so float division would corrupt
    the low bits) and parquet TIMESTAMP(MICROS) with ``isAdjustedToUTC=false``
    (Spark 4 infers TIMESTAMP_NTZ, which ``unix_micros`` et al. reject). Both
    are normalized to classic TIMESTAMP with stored-value-is-UTC-epoch
    semantics — exactly how DuckDB (the correctness oracle) reads the same
    file — by disabling NTZ inference, with a cast fallback if an NTZ column
    is inferred anyway. The normalization is derived from the (cached)
    schema, with no extra round-trip to the JVM.

    **Conf flip.** Neither flavor is settable per-read (``spark.read.option``
    is ignored for both), so a miss flips the two session confs around its
    inferring ``spark.read.parquet`` and restores them after, leaving the
    caller's session as found; a lock serializes concurrent misses so one
    thread cannot restore the confs under another's inference. The confs
    only steer schema *inference*: given the inferred schema, both flavors
    read back identical values with the confs at their defaults, under the
    vectorized and the row-based parquet readers alike. So a hit reads with
    no conf flip, and concurrent hits from plan-building pool threads touch
    no session state.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    # URIs (s3a://, file://) fail the stat: version None, never memoized
    key, version = os.path.abspath(path), _file_version(path)
    with _MEMO_LOCK:
        entry = _SCHEMAS.get(key)
        schema = entry[1] if entry is not None and entry[0] == version else None
        if schema is not None:
            _SCHEMAS.move_to_end(key)
    if schema is not None:
        df = spark.read.schema(schema).parquet(path)
    else:
        df = _inferring_read(spark, path)
        schema = df.schema
        if version is not None:
            with _MEMO_LOCK:
                _SCHEMAS[key] = (version, schema)
                _SCHEMAS.move_to_end(key)
                if len(_SCHEMAS) > _SCHEMA_MEMO_SIZE:
                    _SCHEMAS.popitem(last=False)
    for field in schema.fields:
        col, dt = field.name, field.dataType
        if name == "events" and col == "ts" and isinstance(dt, LongType):
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        elif isinstance(dt, TimestampNTZType):
            # Interpret the naive wall clock as UTC regardless of session tz:
            # shift NTZ into the session zone's wall clock for the same UTC
            # instant, then cast (which applies the session zone) back out.
            df = df.withColumn(
                col,
                F.expr(
                    f"cast(convert_timezone('UTC', current_timezone(), {col})"
                    " as timestamp)"
                ),
            )
    return df


def read_evolved_parquet(spark: SparkSession, *paths: str) -> DataFrame:
    """Schema-evolution-tolerant parquet scan: union directories written
    at different schema generations (columns added over time) with
    ``mergeSchema`` — rows from generations that predate a column read it
    as null, the lake-standard additive-evolution contract. Column
    RENAMES/retypes are intentionally NOT papered over (they surface as
    new columns / read errors — resolver.py's alias map is the explicit
    tool for renames).

    Scale note: mergeSchema's footer sweep is a one-time planning cost
    proportional to file count (driver-parallelized); pin a merged schema
    with ``.schema(...)`` on hot paths once the layout stabilizes.
    """
    return spark.read.option("mergeSchema", True).parquet(*paths)
