"""Exactly-once-effect streaming sink via foreachBatch + keyed upsert.

Structured Streaming's file sinks are append-only and at-least-once on
reprocessing (a failed epoch is replayed); the standard route to
exactly-once EFFECT without a table format is an idempotent foreachBatch:
every micro-batch is MERGEd into the partitioned parquet table on its
natural key, so replaying a batch rewrites the same rows instead of
duplicating them. This composes the streaming tier with the maintenance
tier's ``upsert_partitioned`` (the parquet-native MERGE floor).

100 TB posture: cost per epoch is O(partitions touched by the batch), not
O(table) — the same dynamic-partition-overwrite arithmetic as the batch
upsert; the checkpoint gives at-least-once delivery, the keyed merge makes
the effect exactly-once.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame


def idempotent_upsert_sink(
    path: str,
    keys: Sequence[str],
    partition_cols: Sequence[str],
) -> Callable[[DataFrame, int], None]:
    """Build the ``foreachBatch`` function: each micro-batch upserts into
    the hive-partitioned parquet table at ``path`` on ``keys``. The first
    batch bootstraps the table (partitioned write); replays of ANY batch —
    including the first — converge to the same table state.

    Use: ``stream.writeStream.foreachBatch(idempotent_upsert_sink(...))``.
    """
    from network_iq_spark.sources.maintenance import upsert_partitioned

    def _marker_path(spark, name: str):
        jvm = spark._jvm
        return jvm.org.apache.hadoop.fs.Path(path.rstrip("/") + "/" + name)

    def _fs(spark, p):
        return p.getFileSystem(spark._jsc.hadoopConfiguration())

    def _table_ready(spark) -> bool:
        # Probe through the Hadoop FileSystem API (works on hdfs://, s3a://,
        # file:// alike — a driver-local os.path check silently misroutes on
        # any non-local URI), and key on a commit marker rather than
        # directory existence: a bootstrap write that crashed mid-commit
        # leaves the directory present but unmarked, and a replay must take
        # the bootstrap path again, not upsert into a partial table.
        # Two markers are accepted: the committer's _SUCCESS, and the
        # sink-owned _BOOTSTRAPPED written below — committers configured
        # with marksuccessfuljobs=false (common on cloud/S3 committers)
        # emit no _SUCCESS, and keying on it alone would silently re-run
        # the truncating bootstrap write on EVERY micro-batch.
        for name in ("_SUCCESS", "_BOOTSTRAPPED"):
            p = _marker_path(spark, name)
            if bool(_fs(spark, p).exists(p)):
                return True
        return False

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if not _table_ready(spark):
            (
                batch_df.write.mode("overwrite")
                .partitionBy(*partition_cols)
                .parquet(path)
            )
            # sink-owned marker, written only AFTER the bootstrap write
            # returned — so crash-replay still re-bootstraps, but the
            # ready-probe no longer depends on the committer's _SUCCESS
            p = _marker_path(spark, "_BOOTSTRAPPED")
            _fs(spark, p).create(p, True).close()
            return
        upsert_partitioned(
            spark, path, batch_df, keys=keys, partition_cols=partition_cols
        )

    return sink
