"""Scale-tier (approximate) queries — the 100 TB siblings of the exact
operators. Sketch-based results differ from any SQL oracle by design, so
these register WITHOUT oracles (the driver records the weaker rows-only
check; the exact twins carry the correctness burden).

- ``approx_profile``: HLL distinct counts + t-digest-style quantiles — the
  mergeable-sketch versions of A2/A10 (single pass, no per-group sort, no
  exact-distinct shuffle explosion).
- ``ann_cosine_topk``: LSH-bucketed approximate nearest neighbours — the
  scale path next to the exact ``cosine_topk`` baseline (brute force only
  inside matching hyperplane-signature buckets).
- ``salted_event_stats`` (oracle-backed, exact): the skew-proof two-phase
  aggregate — bit-identical to the plain groupBy because sums ride the
  integer-unit path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from network_iq_spark.functions import sql_dsum as _dsum
from network_iq_spark.operators import similarity as S
from network_iq_spark.registry import register
from network_iq_spark.sources import load_table


@register("approx_profile", bench_only=True)
def q_approx_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch aggregates per event_type: approx distinct users (HLL++,
    rsd 1%) and approx P50/P95 (percentile_approx, accuracy 10k)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.approx_count_distinct("user_id", rsd=0.01).alias("approx_users"),
            F.percentile_approx(F.col("value"), F.lit(0.5), F.lit(10000)).alias(
                "approx_median"
            ),
            F.percentile_approx(F.col("value"), F.lit(0.95), F.lit(10000)).alias(
                "approx_p95"
            ),
        )
        .orderBy("event_type")
    )


@register("ann_cosine_topk", bench_only=True)
def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN top-10 for query vectors (vec_id < 10): candidates
    share a bucket in any of 16 4-plane random-hyperplane tables; exact cosine only inside
    buckets. Recall < 1 by construction (see tests for the measured figure);
    multi-probe or more tables raise it."""
    emb = load_table(spark, sf_dir, "embeddings")
    vecs = emb.select("vec_id", S.as_double_vec("embedding").alias("v"))
    queries = vecs.select("vec_id").filter(F.col("vec_id") < 10)
    return S.cosine_topk_lsh(vecs, queries, dim=64, k=10).orderBy(
        "q_vec_id", "rank"
    )


@register(
    "salted_event_stats",
    oracle=f"""
    SELECT event_type,
           CAST(SUM(CAST(FLOOR(value * 10000.0 + 0.5) AS BIGINT)) AS DOUBLE)
             / 10000.0 AS sum_value,
           COUNT(value) AS count_value,
           CAST(SUM(CAST(FLOOR(value * 10000.0 + 0.5) AS BIGINT)) AS DOUBLE)
             / (10000.0 * COUNT(value)) AS avg_value
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def q_salted_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The salted two-phase aggregate as a driver-facing query: 100k events
    over 5 hot event_type keys is exactly the one-reducer-per-hot-key shape
    AQE cannot fix for aggregations. Phase 1 spreads each key over 16 salts;
    phase 2 merges partials — and because sums ride the exact integer-unit
    path, the result is BIT-IDENTICAL to the plain one-phase groupBy the
    oracle runs (float sums would drift in ulps under the salt regrouping;
    operators/skew.py salted_sum_count)."""
    from network_iq_spark.operators.skew import salted_sum_count

    ev = load_table(spark, sf_dir, "events")
    return salted_sum_count(ev, ["event_type"], "value", n_salts=16).orderBy(
        "event_type"
    )


@register(
    "bucketed_order_lineitem",
    oracle=f"""
    SELECT o_orderpriority,
           COUNT(*) AS n_lines,
           {_dsum('l_extendedprice * (1 - l_discount)')} AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def q_bucketed_order_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exchange-free fact⋈fact join over BUCKETED tables — the co-located
    join layout docs/SCALE.md prescribes, as code. lineitem and orders are
    written once per (session, sf) as parquet tables bucketed by orderkey
    with the same bucket count (sources/maintenance.py bucketed_write);
    the join then reads bucket-to-bucket with NO Exchange on the join key
    (asserted in test_plan_quality) — at 100 TB this converts the single
    biggest recurring shuffle of an order-line workload into a one-time
    write-side cost every downstream join amortizes. The aggregate rides
    the integer-unit dsum path, so the result is bit-identical to the
    unbucketed plan and fully oracle-checked."""
    import hashlib
    import os
    import tempfile

    from network_iq_spark.functions import dsum
    from network_iq_spark.sources.maintenance import bucketed_write

    # tag includes source-file stats so regenerated testdata at the same
    # path can never be served from a stale bucketed copy
    sig = sf_dir
    for t in ("lineitem", "orders"):
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            st = os.stat(p)
            sig += f"|{t}:{st.st_size}:{int(st.st_mtime)}"
    tag = hashlib.md5(sig.encode()).hexdigest()[:8]
    base = os.path.join(tempfile.gettempdir(), f"niq_bucketed_{tag}")
    n_buckets = 8
    lt, ot = f"niq_lineitem_b{tag}", f"niq_orders_b{tag}"
    # build once per session: rebuilding per call would measure the write,
    # not the join layout (the point of bucketing is write-once amortization)
    if not spark.catalog.tableExists(lt):
        bucketed_write(
            load_table(spark, sf_dir, "lineitem").select(
                "l_orderkey", "l_extendedprice", "l_discount"
            ),
            lt,
            ["l_orderkey"],
            n_buckets,
            os.path.join(base, "lineitem"),
            sort_cols=["l_orderkey"],
        )
    if not spark.catalog.tableExists(ot):
        bucketed_write(
            load_table(spark, sf_dir, "orders").select(
                "o_orderkey", "o_orderpriority"
            ),
            ot,
            ["o_orderkey"],
            n_buckets,
            os.path.join(base, "orders"),
            sort_cols=["o_orderkey"],
        )
    li, o = spark.table(lt), spark.table(ot)
    joined = li.join(
        # MERGE hint pins the sort-merge strategy: a broadcast of the small
        # side would also skip the exchange at test SF but is exactly the
        # plan that DOESN'T survive fact-sized orders at 100 TB
        o.hint("merge"),
        li.l_orderkey == o.o_orderkey,
    )
    return (
        joined.groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_lines"),
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            ),
        )
        .orderBy("o_orderpriority")
    )


@register("ann_multiprobe_topk", bench_only=True)
def q_ann_multiprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distance-1 multi-probe variant of ``ann_cosine_topk``: per table,
    the query also probes every bucket one sign-flip away (k+1 probes per
    table, query side only — the corpus index is untouched). Measured
    recall@10 vs the exact baseline: 1.000 at sf0.01 AND sf0.1 (vs
    0.86/0.93 single-probe) at ~1.2x the runtime (docs/SCALE.md) — the
    standard knob when re-indexing with more tables is too expensive.
    Rows-only like its single-probe sibling: float hyperplane signatures
    are not SQL-replayable; the int-LSH twin carries the oracle burden."""
    emb = load_table(spark, sf_dir, "embeddings")
    vecs = emb.select("vec_id", S.as_double_vec("embedding").alias("v"))
    queries = vecs.select("vec_id").filter(F.col("vec_id") < 10)
    return S.cosine_topk_lsh(
        vecs, queries, dim=64, k=10, multiprobe=True
    ).orderBy("q_vec_id", "rank")


@register(
    "order_snapshot_diff",
    oracle="""
    WITH old_v AS (
      SELECT o_orderkey,
             md5(concat_ws(chr(31),
                 COALESCE(CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS VARCHAR), chr(0)),
                 COALESCE(o_orderstatus, chr(0)))) AS old_hash
      FROM orders WHERE o_orderkey % 10 != 0
    ),
    new_v AS (
      SELECT o_orderkey,
             md5(concat_ws(chr(31),
                 COALESCE(CAST(CAST(CASE WHEN o_orderpriority = '1-URGENT'
                           THEN o_totalprice + 1.0 ELSE o_totalprice END
                      AS DECIMAL(12,2)) AS VARCHAR), chr(0)),
                 COALESCE(o_orderstatus, chr(0)))) AS new_hash
      FROM orders WHERE o_orderkey % 7 != 0
    )
    SELECT o_orderkey,
           CASE WHEN old_hash IS NULL THEN 'added'
                WHEN new_hash IS NULL THEN 'removed'
                WHEN old_hash != new_hash THEN 'changed' END AS change,
           old_hash, new_hash
    FROM old_v FULL OUTER JOIN new_v USING (o_orderkey)
    WHERE (old_hash IS NULL OR new_hash IS NULL OR old_hash != new_hash)
    ORDER BY o_orderkey
    """,
)
def q_order_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff between two dataset versions — the reproducibility
    primitive run between corpus snapshots before re-training: rows
    classified added / removed / changed by md5 over the compared columns
    (sources/maintenance.py snapshot_diff: one shuffle per side on the
    key, hashes computed map-side, output ∝ change size, never the
    table). Versions are synthesized deterministically from orders (old
    drops keys ≡0 mod 10; new drops ≡0 mod 7 and bumps urgent-priority
    prices), and prices compare through DECIMAL(12,2) strings so both
    engines hash identical bytes."""
    from network_iq_spark.sources.maintenance import snapshot_diff

    orders = load_table(spark, sf_dir, "orders")
    price2 = F.col("o_totalprice").cast("decimal(12,2)").cast("string")
    old = orders.filter(F.col("o_orderkey") % 10 != 0).select(
        "o_orderkey", price2.alias("price"), "o_orderstatus"
    )
    bumped = F.when(
        F.col("o_orderpriority") == "1-URGENT", F.col("o_totalprice") + 1.0
    ).otherwise(F.col("o_totalprice"))
    new = orders.filter(F.col("o_orderkey") % 7 != 0).select(
        "o_orderkey",
        bumped.cast("decimal(12,2)").cast("string").alias("price"),
        "o_orderstatus",
    )
    return snapshot_diff(
        old, new, keys=["o_orderkey"], compare_cols=["price", "o_orderstatus"]
    ).orderBy("o_orderkey")


@register(
    "incremental_rollup_refresh",
    oracle="""
    SELECT event_type, date_trunc('hour', ts) AS hour,
           COUNT(*) AS n_rows,
           COUNT(value) AS n_vals,
           CAST(SUM(CAST(FLOOR(value * 10000.0 + 0.5) AS BIGINT)) AS DOUBLE)
             / 10000.0 AS sum_value,
           CAST(SUM(CAST(FLOOR(value * 10000.0 + 0.5) AS BIGINT)) AS DOUBLE)
             / 10000.0 / COUNT(value) AS avg_value,
           MIN(value) AS min_value,
           MAX(value) AS max_value
    FROM events
    GROUP BY event_type, date_trunc('hour', ts)
    ORDER BY event_type, hour
    """,
)
def q_incremental_rollup_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view refresh (batch IVM): the hourly
    per-type KPI rollup maintained as a mergeable monoid STATE instead of
    re-aggregated from the fact table. The plan splits events into a
    "history" segment (before the last day) and two "arriving" batches
    (last-day events, split by event_id parity — simulating two refresh
    cycles), builds the state for each INDEPENDENTLY, folds them with
    ``merge_rollup_states``, and presents the result. The oracle is the
    single-pass GROUP BY over the union — hash equality IS the proof that
    the state is a lossless monoid (merge order / batch boundaries cannot
    change a byte, because counts add, integer-unit sums add, mins/maxes
    combine). At 100 TB the history state lives at rest (partitioned by
    hour); a refresh touches O(batch keys), never the fact table
    (sources/maintenance.py rollup_state / merge_rollup_states)."""
    from network_iq_spark.sources.maintenance import (
        merge_rollup_states,
        present_rollup,
        rollup_state,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.date_trunc("hour", F.col("ts")).alias("hour"),
        F.col("ts"),
        "value",
    )
    cutoff = ev.agg(F.date_trunc("day", F.max("ts")).alias("__cut__"))
    tagged = ev.crossJoin(F.broadcast(cutoff))
    keys = ["event_type", "hour"]
    history = rollup_state(tagged.filter(F.col("ts") < F.col("__cut__")), keys)
    # eqNullSafe keeps the parity split a true PARTITION even under NULL
    # ids (plain `% 2 == 0` maps NULL to neither batch and loses the row)
    is_even = (F.col("event_id") % 2).eqNullSafe(F.lit(0))
    batch_even = rollup_state(
        tagged.filter((F.col("ts") >= F.col("__cut__")) & is_even), keys
    )
    batch_odd = rollup_state(
        tagged.filter((F.col("ts") >= F.col("__cut__")) & ~is_even), keys
    )
    merged = merge_rollup_states([history, batch_even, batch_odd], keys)
    return present_rollup(merged).orderBy("event_type", "hour")


@register("incremental_distinct_refresh", bench_only=True)
def q_incremental_distinct_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch sibling of incremental_rollup_refresh: per-type hourly
    DISTINCT USERS maintained as a mergeable HLL state (exact distinct is
    not boundedly mergeable; the register array is). Same split-and-merge
    plan; merged estimates are bit-identical to the direct state's
    (register-wise max is order-independent) — asserted in
    tests/test_maintenance.py; no SQL oracle because DuckDB's HLL is a
    different sketch (bench_only, same policy as approx_profile)."""
    from network_iq_spark.sources.maintenance import (
        merge_distinct_states,
        present_distinct_rollup,
        rollup_distinct_state,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.date_trunc("hour", F.col("ts")).alias("hour"),
        F.col("ts"),
        "user_id",
    )
    cutoff = ev.agg(F.date_trunc("day", F.max("ts")).alias("__cut__"))
    tagged = ev.crossJoin(F.broadcast(cutoff))
    keys = ["event_type", "hour"]
    is_even = (F.col("event_id") % 2).eqNullSafe(F.lit(0))
    states = [
        rollup_distinct_state(
            tagged.filter(F.col("ts") < F.col("__cut__")), keys, "user_id"
        ),
        rollup_distinct_state(
            tagged.filter((F.col("ts") >= F.col("__cut__")) & is_even),
            keys,
            "user_id",
        ),
        rollup_distinct_state(
            tagged.filter((F.col("ts") >= F.col("__cut__")) & ~is_even),
            keys,
            "user_id",
        ),
    ]
    merged = merge_distinct_states(states, keys)
    return present_distinct_rollup(merged).orderBy("event_type", "hour")


@register("embedding_pca_project", bench_only=True)
def q_embedding_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed PCA (exact integer-unit Gram pass, driver eigh on the
    64x64 covariance — a bounded model artifact) projecting the embedding
    corpus to 8 dims: the dimensionality-reduction stage run before
    IVF/PQ indexing. bench_only: eigendecomposition is not
    SQL-replayable; exactness is asserted against numpy and under
    repartitioning in tests/test_similarity.py."""
    from network_iq_spark.operators.similarity import as_double_vec, pca_project

    emb = load_table(spark, sf_dir, "embeddings")
    vecs = emb.select("vec_id", as_double_vec("embedding").alias("v"))
    return pca_project(vecs, dim=64, out_dim=8).orderBy("vec_id")


_HQ_LO, _HQ_HI, _HQ_BINS = 0.0, 1000.0, 200  # fixed domain, 5-unit bins


@register(
    "incremental_quantile_refresh",
    oracle=f"""
    WITH b AS (
      SELECT event_type,
             LEAST({_HQ_BINS - 1}, GREATEST(0,
               CAST(FLOOR((value - 0.0) / 1000.0 * {_HQ_BINS}) AS INT))) AS bin,
             COUNT(*) AS cnt
      FROM events WHERE value IS NOT NULL
      GROUP BY 1, 2
    ),
    c AS (
      SELECT event_type, bin, cnt,
             SUM(cnt) OVER (PARTITION BY event_type ORDER BY bin
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum,
             SUM(cnt) OVER (PARTITION BY event_type) AS total
      FROM b
    )
    SELECT event_type,
           CAST(MAX(total) AS BIGINT) AS n_vals,
           0.0 + (CAST(MIN(CASE WHEN cum * 100 >= 50 * total THEN bin END)
                  AS DOUBLE) + 1.0) * 5.0 AS p50_est,
           0.0 + (CAST(MIN(CASE WHEN cum * 100 >= 95 * total THEN bin END)
                  AS DOUBLE) + 1.0) * 5.0 AS p95_est
    FROM c GROUP BY event_type ORDER BY event_type
    """,
)
def q_incremental_quantile_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantiles for the IVM tier: per-type P50/P95 maintained as a
    MERGEABLE fixed-boundary histogram state (bin counts are a plain
    count monoid — unlike t-digest/KLL the merge is exactly
    SQL-replayable). Same split-and-merge plan as
    incremental_rollup_refresh (history + two parity batches, states
    folded); the oracle computes the histogram in one pass — hash
    equality proves bin-count merging is lossless and the integer
    threshold rule (cum·100 ≥ p·total) picks identical bins. Estimate
    error ≤ one bin width (5 units on the [0, 1000] domain) by
    construction — the declared contract of a fixed histogram
    (sources/maintenance.py histogram_state / histogram_quantiles)."""
    from network_iq_spark.sources.maintenance import (
        histogram_quantiles,
        histogram_state,
        merge_histogram_states,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", F.col("ts"), "value"
    )
    cutoff = ev.agg(F.date_trunc("day", F.max("ts")).alias("__cut__"))
    tagged = ev.crossJoin(F.broadcast(cutoff))
    keys = ["event_type"]
    is_even = (F.col("event_id") % 2).eqNullSafe(F.lit(0))
    args = dict(value_col="value", lo=_HQ_LO, hi=_HQ_HI, n_bins=_HQ_BINS)
    states = [
        histogram_state(tagged.filter(F.col("ts") < F.col("__cut__")), keys, **args),
        histogram_state(
            tagged.filter((F.col("ts") >= F.col("__cut__")) & is_even), keys, **args
        ),
        histogram_state(
            tagged.filter((F.col("ts") >= F.col("__cut__")) & ~is_even), keys, **args
        ),
    ]
    merged = merge_histogram_states(states, keys)
    return histogram_quantiles(
        merged, keys, lo=_HQ_LO, hi=_HQ_HI, n_bins=_HQ_BINS
    ).orderBy("event_type")
