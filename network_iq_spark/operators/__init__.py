"""Relational operator library (SURVEY.md §2).

Every operator is a lazy transformation returning a DataFrame; none collects.
Submodules map to the survey's inventory sections:

- ``aggregates``  — §2.4 A1-A15 (means, quantiles, boolean rates, grouped aggs)
- ``filters``     — §2.2 P1-P13 (cleansing, scope, validity, coerce casts)
- ``joins``       — §2.3 J1-J3 (broadcast baseline/dim enrichment joins)
- ``windows``     — §2.5 W1-W8 (rolling, lag, z-score, dedup-keep-last)
- ``topk``        — §2.6 O1-O7 (TakeOrderedAndProject top-k patterns)
- ``reshape``     — §2.7 U1-U4 (union, unpivot, rename)
- ``quality``     — §2.11 Q1-Q3 (data contracts)
- ``dedup``       — beyond-reference: exact / MinHash-LSH / SimHash / Jaccard
- ``similarity``  — beyond-reference: cosine top-k ANN over embeddings
- ``text``        — beyond-reference: lang-ID, quality score, tokens, fingerprint
"""

import os as _os
from urllib.parse import urlparse as _urlparse

from pyspark.sql import DataFrame as _DataFrame


def _size_suffix_to_bytes(v: str) -> int:
    """Parse Spark size confs like ``134217728b`` / ``128m`` / ``1g``."""
    v = v.strip().lower()
    mult = 1
    for suffix, m in (("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30)):
        if v.endswith(suffix):
            return int(v[:-1]) * m
    if v.endswith("b"):
        v = v[:-1]
    return int(v) * mult


# Shared ``min_bytes`` floor for Python-map guards (the similarity
# family's measured break-even, adopted by extract_features in r13:
# below ~4 MB of stat-able input the repartition exchange costs more
# than the single-core Arrow map it parallelizes — measured 1.10 s
# guarded vs 0.59 s map-only, interleaved, on the 0.58 MB sf0.1
# documents scan — while a genuinely big under-split file stays
# guarded). similarity.DENSE_GUARD_MIN_BYTES aliases this value.
GUARD_MIN_BYTES = 4 << 20


def ensure_parallelism(df: _DataFrame, min_bytes: int = 0) -> _DataFrame:
    """Spread a scan across the cluster before CPU-dense per-row work
    (digest/regex-heavy map stages: dedup signatures, text analysis).

    Tiny test files arrive as ONE scan partition (single row-group), which
    serializes the map stage onto one core. At real scale a corpus scan
    already has >= cores splits and this is an identity — the repartition
    only fires when the input is under-split, so no extra exchange appears
    in the 100 TB plan shape.

    The under-split estimate comes from ``df.inputFiles()`` + driver-side
    file stats against ``spark.sql.files.maxPartitionBytes`` — the same
    arithmetic FileSourceScan uses to split files — NOT from an RDD
    partition-count probe, which would force full physical planning per
    call, is unsupported under Spark Connect, and couples plan shape to
    cluster state.
    Non-stat-able URIs (object stores) count as one split each; a plan
    with no file sources at all (in-memory test data) counts as zero and
    therefore gets the repartition, which is what a tiny literal relation
    needs before a CPU-dense map.

    ``min_bytes``: callers whose per-row work scales with the corpus (e.g.
    the similarity family, where dots-per-row ∝ n_cells ∝ N) pass a floor —
    when the scan's stat-able bytes are under it, the dense work is small
    enough that the repartition's exchange would cost more than the
    serialization it prevents, so the guard stays out of the plan. File-less
    in-memory relations ignore the floor (they always need the spread).
    """
    spark = df.sparkSession
    target = int(spark.conf.get("spark.sql.shuffle.partitions"))
    max_bytes = _size_suffix_to_bytes(
        spark.conf.get("spark.sql.files.maxPartitionBytes")
    )
    splits = 0
    total_bytes = 0
    for uri in df.inputFiles():
        parsed = _urlparse(uri)
        size = None
        if parsed.scheme in ("file", ""):
            try:
                size = _os.path.getsize(parsed.path)
            except OSError:
                size = None
        if size is None:
            total_bytes = None  # non-stat-able: assume big, keep the guard
        elif total_bytes is not None:
            total_bytes += size
        splits += 1 if size is None else max(1, -(-size // max_bytes))
        if splits >= target:  # early out: no need to stat a 100k-file list
            return df
    if splits > 0 and total_bytes is not None and total_bytes < min_bytes:
        return df
    return df.repartition(target)
