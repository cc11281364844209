"""Streaming incremental-view maintenance: log-structured monoid state.

The batch IVM tier (sources/maintenance.py ``rollup_state`` /
``merge_rollup_states``) keeps a rollup as a mergeable monoid state. Its
streaming twin CANNOT simply fold each micro-batch into the state table:
foreachBatch is at-least-once, and a fold is not idempotent — replaying a
batch would double-count it (the keyed-upsert trick of ``sink.py`` works
there because upsert IS idempotent; merge is not).

The fix is log-structured: each micro-batch overwrites its PARTIAL state
straight into its own ``_batch_id=N`` directory
(``streaming.dedup.write_batch_partition``), so a replay rewrites the
same directory instead of folding twice — idempotence recovered at the
storage layer, not the algebra. Writing the directory itself, not a
dynamic overwrite of the root, also covers a replay whose batch comes
back EMPTY: the epoch's old partial is replaced by nothing. No write
here touches the session's ``partitionOverwriteMode``; compaction sets
its mode on its own write. The queryable state is the monoid merge
over partials at read time, and a maintenance-window
``compact_rollup_state`` folds the log into one base partial (safe at any
moment: the merge is associative, so (base ⊕ p1 ⊕ p2) ≡ ((base ⊕ p1) ⊕ p2)
by the same law the oracle equality of ``incremental_rollup_refresh``
proves).

100 TB posture: per-epoch cost is O(batch keys) — one combinable groupBy
of the batch plus one partition-scoped write; nothing ever re-reads the
fact stream or the full state. Read cost grows with the number of
uncompacted partials (each is key-grain, tiny); compaction cadence bounds
it — exactly the LSM shape every streaming-warehouse state store uses.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession


def rollup_state_sink(
    path: str,
    keys: Sequence[str],
) -> Callable[[DataFrame, int], None]:
    """Build the foreachBatch function: micro-batch → partial rollup state
    of ``value`` at ``_batch_id=<epoch>``. Replays of any epoch converge
    (the epoch's directory is rewritten, never appended to)."""
    from network_iq_spark.sources.maintenance import rollup_state

    return monoid_state_sink(path, lambda batch_df: rollup_state(batch_df, keys))


def read_rollup_state(
    spark: SparkSession, path: str, keys: Sequence[str]
) -> DataFrame:
    """The queryable state: monoid merge over all at-rest partials. One
    combinable groupBy over key-grain rows — partial-count × key-count,
    never fact rows."""
    from network_iq_spark.sources.maintenance import merge_rollup_states

    return read_monoid_state(spark, path, lambda s: merge_rollup_states(s, keys))


def compact_rollup_state(
    spark: SparkSession, path: str, keys: Sequence[str]
) -> None:
    """Fold the partial log into a single base partial (``_batch_id=-1``).
    Readers before/after see identical state (associativity)."""
    from network_iq_spark.sources.maintenance import merge_rollup_states

    compact_monoid_state(spark, path, lambda s: merge_rollup_states(s, keys))


def monoid_state_sink(
    path: str,
    state_fn,  # Callable[[DataFrame], DataFrame]: batch → partial state
) -> Callable[[DataFrame, int], None]:
    """Generalized log-structured sink: any monoid state builder (the
    rollup state, a histogram_state, a cm_sketch_state — anything whose
    merge is a groupBy-SUM/MIN/MAX over its own output) gets the same
    replay-idempotent storage shape: per-epoch partials overwritten at
    ``_batch_id=N``. The read side merges with the state family's own
    merge function; compaction is ``compact_monoid_state`` with the same
    merge."""
    from network_iq_spark.streaming.dedup import write_batch_partition

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        write_batch_partition(state_fn(batch_df), path, batch_id, col="_batch_id")

    return sink


def read_monoid_state(
    spark: SparkSession, path: str, merge_fn
) -> DataFrame:
    """Queryable state for a generalized sink: ``merge_fn`` is the state
    family's own fold (e.g. ``merge_histogram_states`` /
    ``merge_cm_states``), applied to the at-rest partial log."""
    return merge_fn([spark.read.parquet(path).drop("_batch_id")])


def compact_monoid_state(spark: SparkSession, path: str, merge_fn) -> None:
    """Fold the partial log down to one base partial (``_batch_id=-1``)
    with the family's own merge (associativity makes any compaction
    moment safe). The write breaks lineage via localCheckpoint because
    it overwrites directories the plan read (the upsert_partitioned
    idiom)."""
    from pyspark.sql import functions as F

    merged = (
        read_monoid_state(spark, path, merge_fn)
        .withColumn("_batch_id", F.lit(-1))
        .localCheckpoint()
    )
    # STATIC overwrite, set on this write alone: under a dynamic mode it
    # would only replace _batch_id=-1 and leave the old partials in place —
    # every read after that would double-count the history
    (
        merged.write.mode("overwrite")
        .option("partitionOverwriteMode", "static")
        .partitionBy("_batch_id")
        .parquet(path)
    )
