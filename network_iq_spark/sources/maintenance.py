"""Table maintenance: compaction and clustering.

At 100 TB the killer operational problem is small files: hourly streaming
micro-batches × partitions × tasks produce millions of KB-sized parquet
files, and scan-task scheduling overhead dominates I/O. Two remedies:

- **Compaction**: rewrite a partition's files to a target count. Runs per
  partition (bounded work, safe to parallelize across partitions), writes
  to a temp dir then swaps — readers never see a half-written partition.
- **Clustering**: ``sortWithinPartitions`` on high-selectivity columns
  before writing, so parquet row-group min/max stats become selective and
  predicate pushdown can skip row groups (poor-man's Z-order; real
  multi-dimensional clustering would interleave key bits the same way).
"""

from __future__ import annotations

import os
import shutil
import tempfile
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession


def compact_parquet_dir(
    spark: SparkSession,
    path: str,
    target_files: int = 1,
    cluster_by: Sequence[str] = (),
) -> tuple[int, int]:
    """Rewrite one parquet directory to ``target_files`` files (optionally
    clustered). Returns (files_before, files_after).

    Write-to-temp-then-swap keeps the directory readable throughout; on a
    real deployment the swap is a metastore/table-format pointer flip
    (Iceberg/Delta commit) rather than a filesystem rename.
    """

    def _count(p: str) -> int:
        return sum(
            1
            for root, _, files in os.walk(p)
            for f in files
            if f.endswith(".parquet")
        )

    before = _count(path)
    df = spark.read.parquet(path)
    if cluster_by:
        # range-partition on the cluster keys so each output file covers a
        # NARROW key range (hash repartition would scatter every key into
        # every file and the row-group stats would span the full domain)
        df = df.repartitionByRange(target_files, *cluster_by).sortWithinPartitions(
            *cluster_by
        )
    else:
        df = df.coalesce(target_files)
    tmp = tempfile.mkdtemp(prefix="compact_", dir=os.path.dirname(path.rstrip("/")))
    df.write.mode("overwrite").parquet(tmp)
    swap = path.rstrip("/") + ".old"
    os.rename(path.rstrip("/"), swap)
    os.rename(tmp, path.rstrip("/"))
    shutil.rmtree(swap)
    return before, _count(path)


def _overwrite_partitions(
    df: DataFrame, path: str, partition_cols: Sequence[str]
) -> None:
    """Dynamic partition overwrite set on this write alone: the partitions
    present in ``df`` are replaced, every other one is left as is. The
    session's ``partitionOverwriteMode`` is never flipped, so another
    writer in the same session keeps its own mode."""
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_cols)
        .parquet(path)
    )


def upsert_partitioned(
    spark: SparkSession,
    path: str,
    updates,  # DataFrame
    keys: Sequence[str],
    partition_cols: Sequence[str],
) -> int:
    """MERGE-style upsert into a hive-partitioned parquet table without a
    table format: rows in ``updates`` replace existing rows with the same
    ``keys``; new keys append. Returns the number of partitions rewritten.

    Only the partitions the updates touch are read and rewritten — a
    per-write ``partitionOverwriteMode=dynamic`` option scopes the
    overwrite to exactly those directories, so cost is O(touched partitions)
    not O(table). The rewrite is existing-partition-data ANTI-JOIN update
    keys, UNION update rows: one broadcast-able join per run (update sets
    are small relative to the table by assumption — a bulk rewrite should
    use ingest, not upsert).

    This is the parquet-native floor of what Iceberg/Delta MERGE does with
    metadata transactions; the swap here is directory-level (same caveat as
    compact_parquet_dir — a metastore pointer flip in production). Readers
    of UNTOUCHED partitions are never disturbed.
    """
    from pyspark.sql import functions as F

    parts = [tuple(r) for r in updates.select(*partition_cols).distinct().collect()]
    if not parts:
        return 0
    pred = None
    for vals in parts:
        clause = None
        for c, v in zip(partition_cols, vals):
            eq = F.col(c) == F.lit(v)
            clause = eq if clause is None else (clause & eq)
        pred = clause if pred is None else (pred | clause)

    existing = spark.read.parquet(path).filter(pred)
    keep = existing.join(
        F.broadcast(updates.select(*keys).distinct()), list(keys), "left_anti"
    )
    merged = keep.unionByName(updates.select(*existing.columns))
    # the write overwrites directories the plan also reads — materialize the
    # merged rows first (bounded: touched partitions only) to break lineage;
    # a table format would make this a snapshot read instead
    merged = merged.localCheckpoint()

    _overwrite_partitions(merged, path, partition_cols)
    return len(parts)


# The z-order file cut points are percentiles of the Morton code's top
# this many bits: 65,536 cells are far more than the files a write makes,
# and the percentile buffer stays bounded however many distinct codes the
# rows have.
_ZORDER_CUT_BITS = 16


def zorder_write(
    df,  # DataFrame
    path: str,
    cols: Sequence[str],
    n_files: int = 8,
) -> None:
    """Z-order-clustered parquet write (the OPTIMIZE ZORDER technique,
    parquet-native): interleave the bits of each clustering column's
    min-max-scaled rank into one Morton code, range-partition + sort the
    data by it, and write — every output file then covers a COMPACT range
    in EVERY clustering column, so engines that prune on file/row-group
    min-max stats (Spark parquet filter pushdown, DuckDB zone maps) skip
    files for predicates on ANY of the columns, not just the first sort
    key. A plain ``ORDER BY a, b`` clusters only on ``a``; b-predicates
    still read every file. Each column gets up to 16 bits of rank; the
    write overwrites ``path``.

    The layout is a function of the rows alone: file ``i`` holds the codes
    between the ``i``-th and ``i+1``-th of ``n_files - 1`` exact
    percentiles of the code's top ``_ZORDER_CUT_BITS`` bits. A
    ``repartitionByRange`` would take its cut points from a random sample
    and move rows between files from one write to the next.

    Scale shape: one scalar agg for the per-column bounds, one for the
    percentiles (its buffer holds at most 2^_ZORDER_CUT_BITS distinct
    prefixes), a map to compute the Morton code and one exchange on the
    file index — the same cost as any global sort-write, whose range
    sampling is the same extra pass. Min-max scaling (not exact rank)
    keeps the code one pass; heavily skewed columns should pre-transform
    (log, bucket) the same way they would for any range layout.
    """
    from pyspark.sql import functions as F

    if not (2 <= len(cols) <= 4):
        raise ValueError("zorder_write expects 2-4 clustering columns")
    # The interleaved code must fit in the 63 value bits of a signed bigint:
    # bit j of column i lands at j*len(cols)+i, so the top bit is at
    # bits*len(cols)-1. With 4 columns and 16 bits each that would be
    # position 63 — the SIGN bit — making the upper half of the 4th column's
    # range sort NEGATIVE and breaking the z-curve layout. Clamp per-column
    # resolution so the code stays non-negative (4 cols → 15 bits each).
    bits = min(16, 63 // len(cols))
    bounds_row = df.agg(
        *[F.min(c).alias(f"_mn_{c}") for c in cols],
        *[F.max(c).alias(f"_mx_{c}") for c in cols],
    ).collect()[0]
    scale = (1 << bits) - 1
    ranks = []
    for c in cols:
        mn = float(bounds_row[f"_mn_{c}"])
        mx = float(bounds_row[f"_mx_{c}"])
        span = (mx - mn) or 1.0
        ranks.append(
            F.least(
                F.lit(scale),
                F.floor(
                    (F.col(c).cast("double") - F.lit(mn)) / F.lit(span) * scale
                ).cast("bigint"),
            )
        )
    # Morton interleave: bit j of column i lands at position j*len(cols)+i
    z = F.lit(0).cast("bigint")
    for j in range(bits):
        for i, r in enumerate(ranks):
            bit = F.shiftright(r, j).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, j * len(cols) + i))
    zdf = df.withColumn("_z", z)
    prefix = F.shiftright("_z", max(0, bits * len(cols) - _ZORDER_CUT_BITS))
    cuts = []
    if n_files > 1:
        pcts = [i / n_files for i in range(1, n_files)]
        cuts = zdf.agg(F.percentile(prefix, pcts)).first()[0] or []
    file_index = sum(((prefix > c).cast("int") for c in cuts), F.lit(0))
    (
        zdf.repartitionById(n_files, file_index)
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .parquet(path)
    )


def bucketed_write(
    df,  # DataFrame
    table: str,
    keys: Sequence[str],
    n_buckets: int,
    path: str,
    sort_cols: Sequence[str] | None = None,
) -> None:
    """Bucketed (+ optionally sorted) parquet table — the CO-LOCATED join
    layout (docs/SCALE.md): rows are hash-distributed into ``n_buckets``
    files per partition by ``keys`` at WRITE time, and the layout is
    recorded in the catalog, so any equi-join or aggregation on ``keys``
    between tables bucketed with the same count reads bucket-to-bucket —
    Catalyst drops the Exchange entirely. At 100 TB this converts the
    repeated fact-fact shuffle (the single biggest recurring cost of a
    lineitem⋈orders-shaped workload) into a one-time write-side cost that
    every subsequent join amortizes; ``sort_cols`` additionally persists
    the sort-merge order so the join skips its Sort as well.

    The table is EXTERNAL (data at ``path``); the in-memory/Hive catalog
    carries only the bucketing metadata. Overwrite mode keeps the call
    idempotent.
    """
    writer = (
        df.write.format("parquet")
        .mode("overwrite")
        .option("path", path)
        .bucketBy(int(n_buckets), *keys)
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    keys: Sequence[str],
    compare_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Dataset-version delta: full-outer join on the key, rows classified
    ``added`` / ``removed`` / ``changed`` by comparing an md5 over the
    compared columns (unchanged rows are dropped — the diff is sparse).
    The reproducibility primitive a training-data pipeline runs between
    corpus snapshots before re-training: what actually moved, not just
    row counts.

    Scale shape: ONE shuffle per side on the key (the join), row hashes
    computed map-side so the exchange carries (key, hash) semantics, not
    a wide compare; the output is proportional to the CHANGE size, never
    the table.
    """
    from pyspark.sql import functions as F

    cmp_cols = list(compare_cols) if compare_cols is not None else [
        c for c in old.columns if c not in keys
    ]
    k = list(keys)

    def hashed(df: DataFrame, side: str) -> DataFrame:
        # concat_ws SKIPS nulls, so without the coalesce ('a', NULL) and
        # (NULL, 'a') hash identically and a real change would be
        # classified unchanged and dropped. The NUL sentinel keeps NULL
        # position in the hash; \x00 cannot appear in a cast-to-string
        # value of any non-binary type.
        h = F.md5(
            F.concat_ws(
                "\x1f",
                *[F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in cmp_cols],
            )
        )
        return df.select(*k, h.alias(f"{side}_hash"))

    joined = hashed(old, "old").join(hashed(new, "new"), k, "full_outer")
    change = (
        F.when(F.col("old_hash").isNull(), F.lit("added"))
        .when(F.col("new_hash").isNull(), F.lit("removed"))
        .when(F.col("old_hash") != F.col("new_hash"), F.lit("changed"))
    )
    return (
        joined.withColumn("change", change)
        .filter(F.col("change").isNotNull())
        .select(*k, "change", "old_hash", "new_hash")
    )


# ---------------------------------------------------------------------------
# File-stats manifest + file-level pruned reads
# ---------------------------------------------------------------------------


def parquet_file_manifest(
    spark: SparkSession, path: str, cols: Sequence[str]
) -> DataFrame:
    """Per-FILE min/max/null-count manifest for ``cols``, built from
    parquet FOOTERS only — the Iceberg/Delta data-skipping structure for
    a plain parquet directory. Spark's own pushdown prunes ROW GROUPS
    after a task has already been scheduled per file; at 100 TB with
    millions of files the scheduling itself is the cost, and file-level
    skipping needs exactly this manifest.

    Scale shape: the FILE LIST parallelizes (``spark.range``-style
    repartition of paths), each task opens only footers (KBs per file,
    zero data pages) via Arrow, and the manifest is O(#files) rows —
    metadata-sized, like an Iceberg manifest. Rebuild cost after append:
    run over the new files' paths only and union (the manifest is itself
    a parquet-able table).

    Footers are read with :mod:`pyarrow` on locally-reachable paths; an
    object-store deployment points Arrow at the same URIs via fsspec.
    """
    import pandas as pd

    want = list(cols)
    names = [
        f for f in os.listdir(path)
        if f.endswith(".parquet") and not f.startswith("_")
    ]
    files = spark.createDataFrame(
        [(os.path.join(path, f),) for f in sorted(names)], "file string"
    ).repartition(max(1, min(len(names), 64)))

    def footers(it):
        import pyarrow.parquet as pq

        for pdf in it:
            out = {"file": [], "n_rows": []}
            for c in want:
                out[f"min_{c}"] = []
                out[f"max_{c}"] = []
                out[f"nulls_{c}"] = []
            for fpath in pdf["file"]:
                md = pq.ParquetFile(fpath).metadata
                idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
                mins: dict = {c: None for c in want}
                maxs: dict = {c: None for c in want}
                nulls: dict = {c: 0 for c in want}
                for rg in range(md.num_row_groups):
                    for c in want:
                        st = md.row_group(rg).column(idx[c]).statistics
                        if st is None or not st.has_min_max:
                            mins[c] = maxs[c] = None
                            break
                        mins[c] = (
                            st.min if mins[c] is None else min(mins[c], st.min)
                        )
                        maxs[c] = (
                            st.max if maxs[c] is None else max(maxs[c], st.max)
                        )
                        nulls[c] += st.null_count or 0
                out["file"].append(fpath)
                out["n_rows"].append(md.num_rows)
                for c in want:
                    out[f"min_{c}"].append(mins[c])
                    out[f"max_{c}"].append(maxs[c])
                    out[f"nulls_{c}"].append(nulls[c])
            yield pd.DataFrame(out)

    probe = spark.read.parquet(path)
    fields = {f.name: f.dataType.simpleString() for f in probe.schema.fields}
    schema = "file string, n_rows bigint, " + ", ".join(
        f"min_{c} {fields[c]}, max_{c} {fields[c]}, nulls_{c} bigint"
        for c in want
    )
    return files.mapInPandas(footers, schema=schema)


def pruned_parquet_read(
    spark: SparkSession,
    manifest: DataFrame,
    ranges: dict[str, tuple],
) -> tuple[DataFrame, int, int]:
    """Read only the files whose [min, max] envelope intersects every
    ``col: (lo, hi)`` range — file-level data skipping driven by the
    manifest. Returns (df, files_kept, files_total).

    The interval-overlap filter runs ON the manifest DataFrame
    (distributed); only the surviving file PATHS come to the driver —
    O(matching files), the same driver-side footprint as an Iceberg scan
    plan. Files with absent stats for a column are kept (skipping must
    be sound, never lossy). The returned DataFrame still carries the
    predicate columns, so the caller applies the row-level filter on
    top — the manifest prunes I/O and task scheduling, correctness comes
    from the filter as always.
    """
    from pyspark.sql import functions as F

    total = manifest.count()
    cond = F.lit(True)
    for c, (lo, hi) in ranges.items():
        ok = (F.col(f"max_{c}") >= F.lit(lo)) & (F.col(f"min_{c}") <= F.lit(hi))
        cond = cond & (ok | F.col(f"min_{c}").isNull())
    kept = [r.file for r in manifest.filter(cond).select("file").collect()]
    if not kept:
        empty = spark.read.parquet(*[r.file for r in manifest.select("file").limit(1).collect()]).limit(0)
        return empty, 0, total
    return spark.read.parquet(*kept), len(kept), total


# ---------------------------------------------------------------------------
# Incremental rollup maintenance (batch incremental view maintenance)
# ---------------------------------------------------------------------------

# integer-unit scale for the exact mergeable sum (see functions.dsum): the
# state keeps RAW bigint units so merging is associative with no float drift
ROLLUP_SCALE = 4


def rollup_state(
    df: DataFrame,
    keys: Sequence[str],
) -> DataFrame:
    """Mergeable per-key aggregate STATE of ``value`` — the commutative-monoid
    form of a rollup (count / non-null count / exact integer-unit sum / min /
    max).

    This is the materialized-view-maintenance pattern: at 100 TB you never
    re-aggregate the full fact table per refresh — you keep this state
    table at rest (partitioned by the rollup keys' time component) and fold
    each new batch in with ``merge_rollup_states``, touching only the keys
    the batch contains. Every state column is a monoid (sum-of-counts,
    sum-of-units, min-of-mins, max-of-maxes), so merge order and batching
    cannot change the result — proven by the oracle equality of
    ``incremental_rollup_refresh``, whose split-and-merge plan hashes
    identically to a single-pass GROUP BY over the union. Exact-distinct is
    deliberately NOT a state column: it is not boundedly mergeable (keep
    the raw key set or an HLL sketch tier for that).
    """
    from pyspark.sql import functions as F

    mult = float(10**ROLLUP_SCALE)
    units = F.floor(F.col("value") * F.lit(mult) + F.lit(0.5)).cast("bigint")
    return df.groupBy(*keys).agg(
        F.count("*").alias("n_rows"),
        F.count("value").alias("n_vals"),
        F.sum(units).alias("sum_units"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    )


def merge_rollup_states(states: Sequence[DataFrame], keys: Sequence[str]) -> DataFrame:
    """Fold any number of rollup-state tables into one — union + one
    combinable groupBy (map-side partial merge; the shuffle carries one row
    per (state, key), never fact rows). Associative and commutative, so a
    deployment can merge per-batch, per-day, or hierarchically and land on
    the same bytes."""
    from functools import reduce

    from pyspark.sql import functions as F

    unioned = reduce(lambda a, b: a.unionByName(b), states)
    return unioned.groupBy(*keys).agg(
        F.sum("n_rows").alias("n_rows"),
        F.sum("n_vals").alias("n_vals"),
        F.sum("sum_units").alias("sum_units"),
        F.min("min_value").alias("min_value"),
        F.max("max_value").alias("max_value"),
    )


def present_rollup(state: DataFrame) -> DataFrame:
    """Presentation grain of a rollup state: recover the exact decimal sum
    and the order-independent average from the integer-unit state."""
    from pyspark.sql import functions as F

    mult = float(10**ROLLUP_SCALE)
    return state.select(
        *[c for c in state.columns if c not in ("n_rows", "n_vals", "sum_units", "min_value", "max_value")],
        "n_rows",
        "n_vals",
        (F.col("sum_units").cast("double") / F.lit(mult)).alias("sum_value"),
        (
            F.col("sum_units").cast("double") / F.lit(mult) / F.col("n_vals").cast("double")
        ).alias("avg_value"),
        "min_value",
        "max_value",
    )


def rollup_distinct_state(
    df: DataFrame,
    keys: Sequence[str],
    distinct_col: str,
) -> DataFrame:
    """The sketch tier ``rollup_state`` points at: a mergeable
    DISTINCT-count state (DataSketches HLL, register array of 2^12
    buckets). Exact distinct is not boundedly mergeable — its state is the
    key set itself — but the HLL register array IS a monoid (union =
    element-wise max), so it composes with the same at-rest/merge/refresh
    pattern as the exact monoid columns. Estimate error ~1.6%/√(2^12)
    (~2.5%, 4 KB per key). Determinism caveat,
    measured not assumed: the merge is DETERMINISTIC (same partials →
    same registers → same estimate, which is what replay convergence
    needs), but a merged sketch is NOT estimate-identical to one built
    directly over the union — DataSketches unions run through an HLL_8
    gadget whose estimator path differs by a few counts (1244 vs 1242 of
    1238 exact in the test fixture). Both stay inside the error bound;
    tests assert merge-determinism, batching-invariance, and the bound —
    the sketch tier's weaker (but honest) analogue of the exact tier's
    oracle-equality proof."""
    from pyspark.sql import functions as F

    return df.groupBy(*keys).agg(
        F.count("*").alias("n_rows"),
        F.hll_sketch_agg(distinct_col, F.lit(12)).alias("distinct_sketch"),
    )


def merge_distinct_states(
    states: Sequence[DataFrame], keys: Sequence[str]
) -> DataFrame:
    """Fold distinct-count states: counts add, sketches union (register-
    wise max — associative, commutative, idempotent). All states must
    share one lgK (allowDifferentLgConfigK=False: silently unioning
    different precisions downgrades to the coarsest — fail loudly
    instead)."""
    from functools import reduce

    from pyspark.sql import functions as F

    unioned = reduce(lambda a, b: a.unionByName(b), states)
    return unioned.groupBy(*keys).agg(
        F.sum("n_rows").alias("n_rows"),
        F.hll_union_agg("distinct_sketch", F.lit(False)).alias("distinct_sketch"),
    )


def present_distinct_rollup(state: DataFrame) -> DataFrame:
    """Presentation grain: estimate the distinct count from the sketch."""
    from pyspark.sql import functions as F

    keep = [c for c in state.columns if c not in ("n_rows", "distinct_sketch")]
    return state.select(
        *keep,
        "n_rows",
        F.hll_sketch_estimate("distinct_sketch").alias("approx_distinct"),
    )


def delete_keys_partitioned(
    spark: SparkSession,
    path: str,
    forget_keys,  # DataFrame carrying the key columns
    keys: Sequence[str],
    partition_cols: Sequence[str],
) -> dict:
    """Right-to-be-forgotten delete: remove every row matching a key in
    ``forget_keys`` from the hive-partitioned parquet table, rewriting ONLY
    the partitions that contain matches. Returns
    ``{"rows_deleted": n, "partitions_rewritten": k}``.

    Two passes, both honest about their cost at 100 TB:
    1. LOCATE — one scan joined (broadcast: forget sets are small by
       nature) against the keys to find touched partitions and the delete
       count. If the partition layout correlates with the key (e.g. daily
       partitions and a signup-date-bounded user), partition/file pruning
       cuts this scan; a user-keyed delete over a time-partitioned table
       is a full scan ONCE — there is no cheaper sound answer without a
       key→partition index (the parquet_file_manifest is exactly that
       index when the key has min/max locality).
    2. REWRITE — the upsert_partitioned idiom: read only touched
       partitions, anti-join the forget keys, dynamic-partition-overwrite
       them back. Untouched partitions are never read or written, so
       readers elsewhere are undisturbed and the rewrite cost is
       O(touched partitions), not O(table).
    """
    from pyspark.sql import functions as F

    fk = forget_keys.select(*keys).distinct()
    table = spark.read.parquet(path)
    matches = table.join(F.broadcast(fk), list(keys), "left_semi")
    # one aggregate pass computes both audit numbers
    loc = matches.agg(
        F.count("*").alias("n"),
        F.countDistinct(*[F.col(c) for c in partition_cols]).alias("p"),
    ).collect()[0]
    rows_deleted, n_parts = int(loc.n or 0), int(loc.p or 0)
    if rows_deleted == 0:
        return {"rows_deleted": 0, "partitions_rewritten": 0}
    parts = [
        tuple(r) for r in matches.select(*partition_cols).distinct().collect()
    ]
    pred = None
    for vals in parts:
        clause = None
        for c, v in zip(partition_cols, vals):
            eq = F.col(c) == F.lit(v)
            clause = eq if clause is None else (clause & eq)
        pred = clause if pred is None else (pred | clause)
    survivors = (
        table.filter(pred)
        .join(F.broadcast(fk), list(keys), "left_anti")
        .localCheckpoint()  # the write overwrites directories the plan reads
    )
    # dynamic overwrite only rewrites partitions PRESENT in the output — a
    # partition whose every row matched the forget set has no survivors,
    # is never rewritten, and would silently KEEP the deleted rows. Those
    # directories must be removed explicitly.
    survivor_parts = {
        tuple(r) for r in survivors.select(*partition_cols).distinct().collect()
    }
    _overwrite_partitions(survivors, path, partition_cols)
    emptied = [vals for vals in parts if vals not in survivor_parts]
    if emptied:
        jvm = spark._jvm
        hconf = spark._jsc.hadoopConfiguration()
        for vals in emptied:
            sub = "/".join(f"{c}={v}" for c, v in zip(partition_cols, vals))
            p = jvm.org.apache.hadoop.fs.Path(path.rstrip("/") + "/" + sub)
            fs = p.getFileSystem(hconf)
            if fs.exists(p):
                fs.delete(p, True)
    return {"rows_deleted": rows_deleted, "partitions_rewritten": n_parts}


def histogram_state(
    df: DataFrame,
    keys: Sequence[str],
    value_col: str,
    lo: float,
    hi: float,
    n_bins: int,
) -> DataFrame:
    """Mergeable QUANTILE state: a fixed-boundary histogram — per-key bin
    counts, which are a plain count monoid, so quantile estimates compose
    with the same at-rest/merge/refresh pattern as ``rollup_state`` and
    stay EXACTLY replayable in SQL (unlike t-digest/KLL, whose merge is
    sketch-dependent). The trade is declared up front: boundaries are
    fixed a priori (domain knowledge), resolution is (hi-lo)/n_bins, and
    out-of-range values clamp into the edge bins — the honest contract of
    every fixed-histogram monitoring system. NULLs are excluded (they
    carry no quantile information; count them in the rollup_state twin).
    """
    from pyspark.sql import functions as F

    v = F.col(value_col)
    span = float(hi) - float(lo)
    bin_ = F.least(
        F.lit(n_bins - 1),
        F.greatest(
            F.lit(0),
            F.floor((v - F.lit(float(lo))) / F.lit(span) * F.lit(n_bins)).cast(
                "int"
            ),
        ),
    )
    return (
        df.filter(v.isNotNull())
        .groupBy(*keys, bin_.alias("bin"))
        .agg(F.count("*").alias("cnt"))
    )


def merge_histogram_states(
    states: Sequence[DataFrame], keys: Sequence[str]
) -> DataFrame:
    """Fold histogram states: bin counts add (one combinable groupBy over
    key×bin grain — at most n_bins rows per key per state)."""
    from functools import reduce

    from pyspark.sql import functions as F

    unioned = reduce(lambda a, b: a.unionByName(b), states)
    return unioned.groupBy(*keys, "bin").agg(F.sum("cnt").alias("cnt"))


def histogram_quantiles(
    state: DataFrame,
    keys: Sequence[str],
    lo: float,
    hi: float,
    n_bins: int,
) -> DataFrame:
    """Quantile estimates from the histogram state: for p in 50 and 95,
    the RIGHT EDGE of the smallest bin whose cumulative count reaches p% —
    an integer-arithmetic threshold (cum·100 ≥ p·total), so engines cannot
    disagree at the boundary. Error ≤ one bin width by construction."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    w_cum = (
        Window.partitionBy(*keys)
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy(*keys)
    width = (float(hi) - float(lo)) / n_bins
    cum = state.select(
        *keys,
        "bin",
        F.sum("cnt").over(w_cum).alias("cum"),
        F.sum("cnt").over(w_all).alias("total"),
    )
    aggs = [F.max("total").alias("n_vals")]
    for p in (50, 95):
        hit = F.when(
            F.col("cum") * 100 >= F.lit(int(p)) * F.col("total"), F.col("bin")
        )
        aggs.append(
            (
                F.lit(float(lo))
                + (F.min(hit).cast("double") + F.lit(1.0)) * F.lit(width)
            ).alias(f"p{p}_est")
        )
    return cum.groupBy(*keys).agg(*aggs)
