"""Coverage extensions: the operator families SURVEY.md §2 lists as
absent-in-reference but free (or composable) in Spark — rank/ntile, rollup
grouping sets, semi joins, calendar projections with the pandas dayofweek
mapping, ordered previews, and an AS-OF join (the one operator Spark lacks
natively, built as the standard union+window composition; DuckDB's native
ASOF JOIN is the oracle)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from network_iq_spark.functions import davg
from network_iq_spark.operators.joins import semi_join
from network_iq_spark.operators.reshape import union_all
from network_iq_spark.operators.topk import distinct_head, ordered_preview
from network_iq_spark.queries import _sql
from network_iq_spark.registry import register
from network_iq_spark.sources import load_table


@register(
    "grouped_quantile",
    oracle="""
    SELECT event_type,
           quantile_cont(value, 0.95) AS p95_value,
           quantile_cont(value, 0.5)  AS median_value,
           COUNT(*) AS n
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def q_grouped_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: exact per-group quantiles (hotspot P95 shape,
    streamlit_app.py:499-501). The 100 TB variant swaps in
    ``percentile_approx`` (mergeable sketch, no per-group sort)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.percentile(F.col("value"), F.lit(0.95)).alias("p95_value"),
            F.percentile(F.col("value"), F.lit(0.5)).alias("median_value"),
            F.count("*").alias("n"),
        )
        .orderBy("event_type")
    )


@register(
    "calendar_features",
    oracle="""
    SELECT (isodow(ts) - 1) AS dow,
           CASE WHEN (isodow(ts) - 1) >= 5 THEN 1 ELSE 0 END AS is_weekend,
           COUNT(*) AS n,
           COUNT(DISTINCT date_trunc('hour', ts)) AS n_hours
    FROM events GROUP BY 1, 2 ORDER BY dow
    """,
)
def q_calendar_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W8/F3/F4 calendar projections with the pandas↔Spark dayofweek
    mapping pinned: pandas Mon=0 ⇔ Spark (dayofweek+5)%7 ⇔ DuckDB isodow−1."""
    ev = load_table(spark, sf_dir, "events")
    dow = (F.dayofweek("ts") + 5) % 7
    return (
        ev.select(
            dow.alias("dow"),
            F.when(dow >= 5, 1).otherwise(0).alias("is_weekend"),
            F.date_trunc("hour", F.col("ts")).alias("h"),
        )
        .groupBy("dow", "is_weekend")
        .agg(F.count("*").alias("n"), F.countDistinct("h").alias("n_hours"))
        .orderBy("dow")
    )


@register(
    "ordered_preview",
    oracle="""
    SELECT event_id, ts, user_id, event_type, value FROM events
    ORDER BY ts, event_id LIMIT 100
    """,
)
def q_ordered_preview(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O4: first-100 preview (streamlit_app.py:308) — TakeOrderedAndProject,
    no global sort; event_id tiebreak makes the prefix total."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    return ordered_preview(ev, ["ts", "event_id"])


@register(
    "distinct_users_head",
    oracle="SELECT DISTINCT user_id FROM events ORDER BY user_id LIMIT 50",
)
def q_distinct_users_head(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O7: first-k distinct keys (dropdown domain, streamlit_app.py:1301)."""
    return distinct_head(load_table(spark, sf_dir, "events"), "user_id")


@register(
    "union_label_dims",
    oracle="""
    SELECT r_name AS name, 'region' AS kind FROM region
    UNION ALL
    SELECT n_name AS name, 'nation' AS kind FROM nation
    ORDER BY kind, name
    """,
)
def q_union_label_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1: union-all across heterogeneous sources via unionByName."""
    r = load_table(spark, sf_dir, "region").select(
        F.col("r_name").alias("name"), F.lit("region").alias("kind")
    )
    n = load_table(spark, sf_dir, "nation").select(
        F.col("n_name").alias("name"), F.lit("nation").alias("kind")
    )
    return union_all([r, n]).orderBy("kind", "name")


@register(
    "rollup_order_counts",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
    FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
    """,
)
def q_rollup_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping-sets family (survey §2.4 'free in Spark'): ROLLUP subtotal
    rows carry NULL keys in both engines."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("n"))
        .orderBy(
            F.col("o_orderstatus").asc_nulls_first(),
            F.col("o_orderpriority").asc_nulls_first(),
        )
    )


@register(
    "cube_order_stats",
    oracle=f"""
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
           {_sql.dsum("o_totalprice")} AS total_price
    FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
    ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
    """,
)
def q_cube_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE completes the grouping-sets family (rollup_order_counts covers
    ROLLUP): all four grouping combinations in one pass — Spark expands the
    sets and aggregates once, map-side combinable; the deterministic
    integer-unit sum keeps the double totals bit-identical per set."""
    from network_iq_spark.functions import dsum

    o = load_table(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("n"), dsum("o_totalprice").alias("total_price"))
        .orderBy(
            F.col("o_orderstatus").asc_nulls_first(),
            F.col("o_orderpriority").asc_nulls_first(),
        )
    )


@register(
    "acctbal_quartiles",
    oracle="""
    SELECT quartile, COUNT(*) AS n,
           MIN(c_acctbal) AS min_bal, MAX(c_acctbal) AS max_bal
    FROM (
      SELECT c_acctbal,
             NTILE(4) OVER (ORDER BY c_acctbal, c_custkey) AS quartile
      FROM customer
    ) GROUP BY quartile ORDER BY quartile
    """,
)
def q_acctbal_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile/rank family (absent in reference, free with windows): quartile
    buckets over a total order (custkey tiebreak ⇒ deterministic).

    Registered plan = the scale path (range-partition + offset global rank,
    operators/rank.py) — ``NTILE(4) OVER (ORDER BY ...)`` with no partition
    key funnels the whole table through ONE task, which is exactly the plan
    you must not ship for a fact table. The naive window formulation stays
    in tests (test_rank.py) as the semantic reference the scalable operator
    is checked against; the SQL oracle here is still the plain NTILE."""
    from network_iq_spark.operators.rank import ntile_scalable

    c = load_table(spark, sf_dir, "customer").select("c_acctbal", "c_custkey")
    q = ntile_scalable(c, 4, ["c_acctbal", "c_custkey"], out="quartile")
    return (
        q.groupBy("quartile")
        .agg(
            F.count("*").alias("n"),
            F.min("c_acctbal").alias("min_bal"),
            F.max("c_acctbal").alias("max_bal"),
        )
        .orderBy("quartile")
    )


@register(
    "acctbal_quartiles_scalable",
    oracle="""
    SELECT quartile, COUNT(*) AS n,
           MIN(c_acctbal) AS min_bal, MAX(c_acctbal) AS max_bal
    FROM (
      SELECT c_acctbal,
             NTILE(4) OVER (ORDER BY c_acctbal, c_custkey) AS quartile
      FROM customer
    ) GROUP BY quartile ORDER BY quartile
    """,
)
def q_acctbal_quartiles_scalable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """acctbal_quartiles' 100 TB twin: identical NTILE(4) output, but via
    the range-partition + offset global-rank operator — no
    single-partition WindowExec over the customer table (operators/rank.py;
    same oracle as acctbal_quartiles)."""
    from network_iq_spark.operators.rank import ntile_scalable

    c = load_table(spark, sf_dir, "customer").select("c_acctbal", "c_custkey")
    q = ntile_scalable(c, 4, ["c_acctbal", "c_custkey"], out="quartile")
    return (
        q.groupBy("quartile")
        .agg(
            F.count("*").alias("n"),
            F.min("c_acctbal").alias("min_bal"),
            F.max("c_acctbal").alias("max_bal"),
        )
        .orderBy("quartile")
    )


@register(
    "customers_with_orders",
    oracle="""
    SELECT c_mktsegment, COUNT(*) AS n_customers
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
)
def q_customers_with_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left SEMI join (existence filter without right columns)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey")
    )
    return (
        semi_join(c, o, ["c_custkey"])
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_customers"))
        .orderBy("c_mktsegment")
    )


@register(
    "asof_last_purchase",
    oracle="""
    SELECT e.event_id, e.user_id, e.ts,
           p.ts AS prev_purchase_ts, p.value AS prev_purchase_value
    FROM (SELECT * FROM events WHERE event_type = 'error') e
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON e.user_id = p.user_id AND e.ts >= p.ts
    ORDER BY e.event_id
    """,
)
def q_asof_last_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF join — the canonical operator Spark lacks natively, composed
    as union + last-ignoring-nulls window (SURVEY.md §7 custom-operator
    guidance): for each error event, the user's most recent purchase at or
    before it.

    Scale shape: ONE shuffle on user_id and a sorted window — same cost as
    any per-key window; no range-join explosion. DuckDB's native ASOF JOIN
    is the oracle.
    """
    ev = load_table(spark, sf_dir, "events")
    err = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts", F.lit(1).alias("kind")
    )
    pur = ev.filter(F.col("event_type") == "purchase").select(
        F.lit(None).cast("long").alias("event_id"),
        "user_id",
        "ts",
        F.lit(0).alias("kind"),
        F.col("ts").alias("p_ts"),
        F.col("value").alias("p_value"),
    )
    tagged = union_all([err, pur])
    # ties: purchases (kind 0) sort before errors at the same ts ⇒ "≥" asof
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "kind")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    joined = tagged.select(
        "event_id",
        "user_id",
        "ts",
        "kind",
        F.last("p_ts", ignorenulls=True).over(w).alias("prev_purchase_ts"),
        F.last("p_value", ignorenulls=True).over(w).alias("prev_purchase_value"),
    )
    return (
        joined.filter(F.col("kind") == 1)
        .select("event_id", "user_id", "ts", "prev_purchase_ts", "prev_purchase_value")
        .orderBy("event_id")
    )


@register(
    "winsorized_profile",
    oracle=f"""
    WITH bounds AS (
      SELECT quantile_cont(value, 0.05) AS lo, quantile_cont(value, 0.95) AS hi
      FROM events
    )
    SELECT hour(ts) AS hour,
           {_sql.davg('LEAST(GREATEST(value, bounds.lo), bounds.hi)')}
             AS avg_winsorized,
           COUNT(*) AS n
    FROM events, bounds GROUP BY hour(ts) ORDER BY hour
    """,
)
def q_winsorized_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3 winsorization (docs/KPI_dictionary.md:21 + the viz clipping at
    streamlit_app.py:333-336): hourly profile over tail-clipped values —
    quantile bounds stay in-plan as empty-window scalars.

    Determinism: clipped rows take the interpolated quantile VALUE, so this
    query also pins that Spark ``percentile`` and DuckDB ``quantile_cont``
    interpolate bit-identically (empirically true; any engine pair where it
    is not should round the bounds first)."""
    from network_iq_spark.operators.windows import winsorize

    ev = load_table(spark, sf_dir, "events")
    w = winsorize(ev, "value", out="wv")
    return (
        w.withColumn("hour", F.hour("ts"))
        .groupBy("hour")
        .agg(davg(F.col("wv")).alias("avg_winsorized"), F.count("*").alias("n"))
        .orderBy("hour")
    )


@register(
    "delta_abs_p95",
    oracle=f"""
    WITH net AS (
      SELECT hour(ts) AS hour, {_sql.davg('value')} AS net_avg
      FROM events GROUP BY hour(ts)
    ),
    cell AS (
      SELECT hour(ts) AS hour, {_sql.davg('value')} AS cell_avg
      FROM events WHERE event_type = 'purchase' GROUP BY hour(ts)
    ),
    j AS (
      SELECT net.hour, (cell.cell_avg - net.net_avg) AS delta
      FROM net LEFT JOIN cell ON net.hour = cell.hour
    )
    SELECT quantile_cont(abs(delta), 0.95) AS p95_abs_delta,
           MIN(delta) AS min_delta,
           MAX(delta) AS max_delta,
           COUNT(delta) AS n_hours
    FROM j
    """,
)
def q_delta_abs_p95(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cell-vs-network delta + abs-quantile (J2+F5+A14;
    streamlit_app.py:447-452): the alignment join's delta series summarized
    by its P95 absolute deviation (the reference's winsorize bound)."""
    from network_iq_spark.operators.joins import baseline_join

    ev = load_table(spark, sf_dir, "events").withColumn("hour", F.hour("ts"))
    net = ev.groupBy("hour").agg(davg("value").alias("net_avg"))
    cell = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("hour")
        .agg(davg("value").alias("cell_avg"))
    )
    j = baseline_join(net, cell, ["hour"]).withColumn(
        "delta", F.col("cell_avg") - F.col("net_avg")
    )
    return j.agg(
        F.percentile(F.abs(F.col("delta")), F.lit(0.95)).alias("p95_abs_delta"),
        F.min("delta").alias("min_delta"),
        F.max("delta").alias("max_delta"),
        F.count("delta").alias("n_hours"),
    )


@register(
    "scope_filtered_profile",
    oracle=f"""
    SELECT hour(ts) AS hour, {_sql.davg('value')} AS avg_value, COUNT(*) AS n
    FROM events WHERE event_type = 'purchase'
    GROUP BY hour(ts) ORDER BY hour
    """,
)
def q_scope_filtered_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3 scope filters composed with A4 (the widget-driven dashboard shape:
    equality filter with ALL-sentinel skip → grouped profile)."""
    from network_iq_spark.operators.filters import scope_filter

    ev = load_table(spark, sf_dir, "events")
    scoped = scope_filter(ev, {"event_type": "purchase", "user_id": None})
    return (
        scoped.withColumn("hour", F.hour("ts"))
        .groupBy("hour")
        .agg(davg("value").alias("avg_value"), F.count("*").alias("n"))
        .orderBy("hour")
    )


# ---------------------------------------------------------------------------
# Interval (range) join — bucketed non-equi containment
# ---------------------------------------------------------------------------


@register(
    "events_in_windows",
    oracle=f"""
    WITH b AS (
      SELECT MIN(epoch_us(ts)) AS lo, MAX(epoch_us(ts)) AS hi FROM events
    ),
    win AS (
      SELECT i.range::BIGINT AS window_id,
             lo + (i.range * (hi - lo + 1)) // 10 AS start_us,
             lo + ((i.range + 2) * (hi - lo + 1)) // 10 AS end_us
      FROM b, range(8) i
    )
    SELECT w.window_id, COUNT(*) AS n_events,
           COUNT(DISTINCT e.user_id) AS n_users,
           {_sql.davg('e.value')} AS avg_value
    FROM win w JOIN events e
      ON epoch_us(e.ts) >= w.start_us AND epoch_us(e.ts) < w.end_us
    GROUP BY w.window_id ORDER BY w.window_id
    """,
)
def q_events_in_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-containment join: events against 8 overlapping time windows
    derived from the fact span (operators/intervals.py). The engine runs the
    bucketed equi-join scale shape (broadcast exploded intervals, one bucket
    per fact, exact containment filter); the oracle is the *semantic* plain
    BETWEEN join — so the compare proves the bucketing rewrite is lossless,
    which is the entire point of the operator."""
    from network_iq_spark.operators import intervals as I

    ev = load_table(spark, sf_dir, "events")
    win = I.span_windows(ev)
    joined = I.bucketed_interval_join(ev, win)
    return (
        joined.groupBy("window_id")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            davg("value").alias("avg_value"),
        )
        .orderBy("window_id")
    )


# ---------------------------------------------------------------------------
# Fixed-width histogram — the binning pattern for profiling at scale
# ---------------------------------------------------------------------------

_HIST_BINS = 20


@register(
    "value_histogram",
    oracle=f"""
    WITH b AS (SELECT MIN(value) AS lo, MAX(value) AS hi FROM events)
    SELECT bin, COUNT(*) AS n FROM (
      SELECT LEAST(CAST(FLOOR((e.value - b.lo) / ((b.hi - b.lo) / {_HIST_BINS}))
                        AS INT), {_HIST_BINS - 1}) AS bin
      FROM events e, b WHERE e.value IS NOT NULL
    ) GROUP BY bin ORDER BY bin
    """,
)
def q_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width 20-bin histogram of event values. Bounds are broadcast
    agg-scalars (no collect, no global window); binning is a stateless map;
    one shuffle on the bin id — the profile-at-scale shape. Bin edges use
    the same double expression tree on both engines, so bin assignment is
    exact, including the hi-edge clamp into the last bin."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    bounds = ev.agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
    width = (F.col("hi") - F.col("lo")) / F.lit(_HIST_BINS)
    bin_col = F.least(
        F.floor((F.col("value") - F.col("lo")) / width).cast("int"),
        F.lit(_HIST_BINS - 1),
    )
    return (
        ev.crossJoin(F.broadcast(bounds))
        .select(bin_col.alias("bin"))
        .groupBy("bin")
        .agg(F.count("*").alias("n"))
        .orderBy("bin")
    )


# ---------------------------------------------------------------------------
# Time-series gap fill — resample to a complete grid + forward fill
# ---------------------------------------------------------------------------

_US_PER_HOUR = 3_600_000_000


@register(
    "hourly_gapfill",
    oracle=f"""
    WITH hourly AS (
      SELECT event_type, epoch_us(ts) // {_US_PER_HOUR} AS hour_id,
             {_sql.davg('value')} AS avg_value
      FROM events GROUP BY 1, 2
    ),
    b AS (SELECT MIN(hour_id) AS lo, MAX(hour_id) AS hi FROM hourly),
    hours AS (SELECT unnest(range(lo, hi + 1)) AS hour_id FROM b),
    spine AS (
      SELECT t.event_type, h.hour_id
      FROM (SELECT DISTINCT event_type FROM events) t, hours h
    )
    SELECT s.event_type, s.hour_id, hourly.avg_value,
           last_value(hourly.avg_value IGNORE NULLS) OVER (
             PARTITION BY s.event_type ORDER BY s.hour_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value
    FROM spine s
    LEFT JOIN hourly ON hourly.event_type = s.event_type
                    AND hourly.hour_id = s.hour_id
    ORDER BY s.event_type, s.hour_id
    """,
)
def q_hourly_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resample per-type hourly averages onto the COMPLETE hour grid and
    forward-fill gaps (last observation carried forward) — the telemetry
    resample operator dashboards and feature pipelines assume exists.

    Spine = integer hour ids (micros div 3600e6 — exact on any engine, no
    calendar arithmetic) from a broadcast min/max scalar, cross-joined with
    the distinct type dim; the fill is one window per type ordered by hour
    (same single-exchange family as W2). Hours before a type's first
    observation stay NULL — silently inventing data would be worse than a
    visible hole. Grid size is |types|·|hours| — aggregate-grain, never
    fact-grain."""
    ev = load_table(spark, sf_dir, "events")
    hourly = (
        ev.withColumn(
            "hour_id", F.expr(f"unix_micros(ts) div {_US_PER_HOUR}")
        )
        .groupBy("event_type", "hour_id")
        .agg(davg("value").alias("avg_value"))
    )
    bounds = hourly.agg(
        F.min("hour_id").alias("lo"), F.max("hour_id").alias("hi")
    )
    hours = bounds.select(
        F.explode(F.sequence(F.col("lo"), F.col("hi"))).alias("hour_id")
    )
    spine = ev.select("event_type").distinct().crossJoin(F.broadcast(hours))
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        spine.join(hourly, ["event_type", "hour_id"], "left")
        .select(
            "event_type",
            "hour_id",
            "avg_value",
            F.last("avg_value", ignorenulls=True).over(w).alias("filled_value"),
        )
        .orderBy("event_type", "hour_id")
    )


# ---------------------------------------------------------------------------
# EWMA — exponentially-weighted smoothing over an ordered series
# ---------------------------------------------------------------------------

_EWMA_ALPHA = 0.125


@register(
    "ewma_hourly",
    oracle=f"""
    WITH hourly AS (
      SELECT event_type, epoch_us(ts) // {_US_PER_HOUR} AS hour_id,
             {_sql.davg('value')} AS avg_value
      FROM events GROUP BY 1, 2
    ),
    series AS (
      SELECT event_type,
             (list(avg_value ORDER BY hour_id))::DOUBLE[] AS s,
             COUNT(*) AS n_hours
      FROM hourly GROUP BY event_type
    )
    SELECT event_type,
           list_reduce(s, (acc, x) ->
             {_EWMA_ALPHA}::DOUBLE * x + {1 - _EWMA_ALPHA}::DOUBLE * acc)
             AS ewma,
           CAST(n_hours AS BIGINT) AS n_hours
    FROM series ORDER BY event_type
    """,
)
def q_ewma_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA (α=0.125) of the per-type hourly average series — the smoothing
    recursion acc' = α·x + (1−α)·acc, seeded with the first observation.

    EWMA is inherently sequential, so it CANNOT be a distributed aggregate
    without changing its value; the correct Spark shape is: deterministic
    grouped aggregate to series grain (720 hourly points/type — bounded),
    collect_list + sort_array WITHIN each group, then one codegen'd
    ``aggregate`` fold. Both engines fold the identical ordered list with
    the identical double expression, so the result is bit-exact — the same
    trick as the rolling fingerprint, lifted to floats."""
    ev = load_table(spark, sf_dir, "events")
    hourly = (
        ev.withColumn("hour_id", F.expr(f"unix_micros(ts) div {_US_PER_HOUR}"))
        .groupBy("event_type", "hour_id")
        .agg(davg("value").alias("avg_value"))
    )
    series = hourly.groupBy("event_type").agg(
        F.sort_array(
            F.collect_list(F.struct("hour_id", "avg_value"))
        ).alias("s"),
        F.count("*").alias("n_hours"),
    )
    ewma = F.expr(
        "aggregate(slice(s, 2, size(s) - 1), cast(s[0].avg_value as double), "
        f"(acc, x) -> cast({_EWMA_ALPHA} as double) * x.avg_value "
        f"+ cast({1 - _EWMA_ALPHA} as double) * acc)"
    )
    return series.select(
        "event_type", ewma.alias("ewma"), F.col("n_hours").cast("bigint").alias("n_hours")
    ).orderBy("event_type")


@register(
    "customer_order_seq",
    oracle="""
    SELECT o_custkey, o_orderkey, o_orderdate,
           LAG(o_totalprice) OVER w AS prev_price,
           LEAD(o_totalprice) OVER w AS next_price,
           PERCENT_RANK() OVER w AS price_seq_pr,
           CUME_DIST() OVER w AS price_seq_cd
    FROM orders
    WHERE o_custkey % 1000 = 0
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    ORDER BY o_custkey, o_orderdate, o_orderkey
    """,
)
def q_customer_order_seq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-rank family breadth (SURVEY §2.5 'absent in reference, free
    with windows'): lead/lag/percent_rank/cume_dist over each customer's
    order sequence. Ties broken by orderkey ⇒ fully deterministic; the
    ratios are rational numbers both engines compute identically. One hash
    exchange on the customer key — the canonical partitioned window."""
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_custkey") % 1000 == 0
    )
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            "o_orderdate",
            F.lag("o_totalprice").over(w).alias("prev_price"),
            F.lead("o_totalprice").over(w).alias("next_price"),
            F.percent_rank().over(w).alias("price_seq_pr"),
            F.cume_dist().over(w).alias("price_seq_cd"),
        )
        .orderBy("o_custkey", "o_orderdate", "o_orderkey")
    )


@register(
    "part_type_setops",
    oracle="""
    WITH big AS (SELECT DISTINCT p_type FROM part WHERE p_size >= 40),
    boxed AS (SELECT DISTINCT p_type FROM part WHERE p_brand LIKE 'Brand#1%'),
    i AS (SELECT p_type FROM big INTERSECT SELECT p_type FROM boxed),
    e AS (SELECT p_type FROM big EXCEPT SELECT p_type FROM boxed)
    SELECT 'both' AS bucket, COUNT(*) AS n_types FROM i
    UNION ALL
    SELECT 'big_only' AS bucket, COUNT(*) AS n_types FROM e
    ORDER BY bucket
    """,
)
def q_part_type_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-operation breadth (SURVEY §2.7 'absent: intersect/except — free
    if needed'): INTERSECT and EXCEPT of part-type domains under size/brand
    predicates, reduced to counts. Spark plans both as aggregated
    semi/anti joins — one shuffle per distinct-domain, no sort."""
    p = load_table(spark, sf_dir, "part")
    big = p.filter(F.col("p_size") >= 40).select("p_type").distinct()
    boxed = p.filter(F.col("p_brand").startswith("Brand#1")).select(
        "p_type"
    ).distinct()
    i = big.intersect(boxed).agg(F.count("*").alias("n_types")).select(
        F.lit("both").alias("bucket"), "n_types"
    )
    e = big.exceptAll(boxed).agg(F.count("*").alias("n_types")).select(
        F.lit("big_only").alias("bucket"), "n_types"
    )
    return i.unionByName(e).orderBy("bucket")


@register(
    "nation_activity_full_join",
    oracle="""
    WITH c AS (SELECT c_nationkey AS nk, COUNT(*) AS n_customers
               FROM customer GROUP BY 1),
    s AS (SELECT s_nationkey AS nk, COUNT(*) AS n_suppliers
          FROM supplier WHERE s_acctbal > 9000 GROUP BY 1)
    SELECT COALESCE(c.nk, s.nk) AS nationkey,
           CAST(COALESCE(n_customers, 0) AS BIGINT) AS n_customers,
           CAST(COALESCE(n_suppliers, 0) AS BIGINT) AS n_suppliers
    FROM c FULL OUTER JOIN s ON c.nk = s.nk
    ORDER BY nationkey
    """,
)
def q_nation_activity_full_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join completes the join-type surface (inner/left/semi/
    anti/as-of/range are covered elsewhere): per-nation customer counts
    against high-balance supplier counts, keeping nations present on
    either side only. Both sides are pre-aggregated to nation grain before
    the join — at 100 TB the full-outer runs on two tiny aggregates, never
    on the facts."""
    c = (
        load_table(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(F.count("*").alias("n_customers"))
    )
    s = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") > 9000)
        .groupBy(F.col("s_nationkey").alias("nk"))
        .agg(F.count("*").alias("n_suppliers"))
    )
    return (
        c.withColumnRenamed("nk", "c_nk")
        .join(s.withColumnRenamed("nk", "s_nk"),
              F.col("c_nk") == F.col("s_nk"), "full_outer")
        .select(
            F.coalesce("c_nk", "s_nk").alias("nationkey"),
            F.coalesce("n_customers", F.lit(0)).alias("n_customers"),
            F.coalesce("n_suppliers", F.lit(0)).alias("n_suppliers"),
        )
        .orderBy("nationkey")
    )


@register(
    "qty_price_correlation",
    oracle="""
    WITH m AS (
      SELECT l_returnflag,
             COUNT(*) AS n,
             SUM(CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT)) AS sx,
             SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) AS sy,
             SUM(CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT)
                 * CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT)) AS sxx,
             SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)
                 * CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) AS syy,
             SUM(CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT)
                 * CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) AS sxy
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
           / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
              * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                     - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS corr_qty_price
    FROM m ORDER BY l_returnflag
    """,
)
def q_qty_price_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation from EXACT integer co-moments — the determinism
    pattern (functions/__init__.py dsum) extended to second moments.

    Spark's built-in ``corr`` accumulates doubles in partition-visit order,
    so its last ulps vary with partitioning and across engines — unusable
    under a bit-exact oracle. Here the five sufficient statistics
    (n, Σx, Σy, Σx², Σy², Σxy) are exact sums of 2-decimal units. First
    moments fit int64 at any scale, but the second moments do NOT: each
    y² term is up to ~1.2e14 (extendedprice ≤ ~1.1e5 → 1.1e7 units), so
    Σy² reaches ~7e18 ≈ 80% of int64 max already at sf0.1 and overflows
    around sf0.125. They are therefore accumulated as decimal(38,0) —
    still exact and map-side combinable, with headroom for ~6e11 rows
    (100 TB-scale lineitem: Σy² ≤ ~7e25 « 1e38). The final combination
    casts to double, the same IEEE expression tree on both engines
    (DuckDB's oracle sums BIGINT into HUGEINT) — deterministic end to
    end, one combinable groupBy."""
    li = load_table(spark, sf_dir, "lineitem")
    xu = F.floor(F.col("l_quantity") * 100 + F.lit(0.5)).cast("bigint")
    yu = F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("bigint")
    # Per-row products max out near 1.2e14 — safe in int64 — but their
    # group sums are not; widen to decimal before the aggregate.
    wide = "decimal(38,0)"
    m = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum(xu).alias("sx"),
        F.sum(yu).alias("sy"),
        F.sum((xu * xu).cast(wide)).alias("sxx"),
        F.sum((yu * yu).cast(wide)).alias("syy"),
        F.sum((xu * yu).cast(wide)).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx, syy, sxy = (
        F.col("sxx").cast("double"),
        F.col("syy").cast("double"),
        F.col("sxy").cast("double"),
    )
    return m.select(
        "l_returnflag",
        "n",
        (
            (nd * sxy - sx * sy)
            / (F.sqrt(nd * sxx - sx * sx) * F.sqrt(nd * syy - sy * sy))
        ).alias("corr_qty_price"),
    ).orderBy("l_returnflag")


@register(
    "value_equidepth_histogram",
    oracle="""
    SELECT decile, COUNT(*) AS n,
           MIN(value) AS lo, MAX(value) AS hi
    FROM (
      SELECT value,
             NTILE(10) OVER (ORDER BY value, event_id) AS decile
      FROM events
    ) GROUP BY decile ORDER BY decile
    """,
)
def q_value_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (quantile-bucket) histogram — the optimizer-statistics
    sibling of the equi-width value_histogram. Runs the scale path
    (operators/rank.py ntile_scalable: range partition + offset global
    rank), never `NTILE OVER (ORDER BY ...)`'s single-task sort; event_id
    tiebreak makes bucket edges deterministic."""
    from network_iq_spark.operators.rank import ntile_scalable

    ev = load_table(spark, sf_dir, "events").select("value", "event_id")
    q = ntile_scalable(ev, 10, ["value", "event_id"], out="decile")
    return (
        q.groupBy("decile")
        .agg(
            F.count("*").alias("n"),
            F.min("value").alias("lo"),
            F.max("value").alias("hi"),
        )
        .orderBy("decile")
    )


@register(
    "time_weighted_avg",
    oracle="""
    WITH seq AS (
      SELECT event_type, value, epoch_us(ts) AS us,
             LEAD(epoch_us(ts)) OVER (PARTITION BY event_type
                                      ORDER BY ts, event_id) AS next_us
      FROM events
    )
    SELECT event_type,
           CAST(SUM(CAST(FLOOR(value * 10000 + 0.5) AS BIGINT)
                    * (next_us - us)) AS DOUBLE)
             / (10000.0 * CAST(SUM(next_us - us) AS DOUBLE)) AS twa_value,
           COUNT(*) AS n_intervals
    FROM seq WHERE next_us IS NOT NULL
    GROUP BY event_type ORDER BY event_type
    """,
)
def q_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average per event type — the correct mean for
    irregularly-sampled telemetry (a plain AVG over-weights bursts): each
    reading holds until the next one, weight = interval micros. Integer
    value-units x integer micros keep the weighted sum exact in int64
    (fits: 5e5 units x 4e12 us-span aggregate ~ 1e17 < 2^63), so the
    result is partition- and engine-deterministic. One window (partitioned
    by type) + one combinable groupBy."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    seq = ev.select(
        "event_type",
        "value",
        us.alias("us"),
        F.lead(us).over(w).alias("next_us"),
    ).filter(F.col("next_us").isNotNull())
    vu = F.floor(F.col("value") * 10000 + F.lit(0.5)).cast("bigint")
    dt = F.col("next_us") - F.col("us")
    return (
        seq.groupBy("event_type")
        .agg(
            (
                F.sum(vu * dt).cast("double")
                / (F.lit(10000.0) * F.sum(dt).cast("double"))
            ).alias("twa_value"),
            F.count("*").alias("n_intervals"),
        )
        .orderBy("event_type")
    )


@register(
    "orders_above_customer_avg",
    oracle="""
    WITH w AS (
      SELECT o_custkey,
             CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
             SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
               OVER (PARTITION BY o_custkey) AS s,
             COUNT(*) OVER (PARTITION BY o_custkey) AS n
      FROM orders
    )
    SELECT o_custkey AS cust_key,
           COUNT(*) AS n_orders,
           CAST(COUNT(*) FILTER (WHERE cents * n > s) AS BIGINT) AS n_above_avg
    FROM w GROUP BY o_custkey ORDER BY cust_key
    """,
)
def q_orders_above_customer_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The correlated-scalar-subquery shape ("orders above this customer's
    own average"), decorrelated the way an engine should run it: one
    window pass on the correlation key instead of a per-row subquery. The
    comparison is pure integer algebra — price > S/(100·n) ⟺ cents·n > S —
    so the boundary case is exact in both engines (no float division at
    all). Window and final groupBy share the o_custkey partitioning: one
    shuffle total."""
    o = load_table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
    w = Window.partitionBy("o_custkey")
    # keep the native key name through window AND groupBy — renaming first
    # hides the hash partitioning from Catalyst and buys a second shuffle
    enriched = o.select(
        "o_custkey",
        cents.alias("cents"),
        F.sum(cents).over(w).alias("s"),
        F.count("*").over(w).alias("n"),
    )
    return (
        enriched.groupBy("o_custkey")
        .agg(
            F.count("*").alias("n_orders"),
            F.count(F.when(F.col("cents") * F.col("n") > F.col("s"), 1)).alias(
                "n_above_avg"
            ),
        )
        .select(
            F.col("o_custkey").alias("cust_key"), "n_orders", "n_above_avg"
        )
        .orderBy("cust_key")
    )


def _pagerank_sql(n_iters: int) -> str:
    """Unrolled-CTE twin of operators.graph.pagerank_int — one CTE level
    per iteration, every quantity integer, so the replay is exact."""
    from network_iq_spark.operators.graph import (
        PR_DAMP_DEN,
        PR_DAMP_NUM,
        PR_MASS,
    )

    tele = (PR_DAMP_DEN - PR_DAMP_NUM) * PR_MASS // PR_DAMP_DEN
    iters = []
    for k in range(1, n_iters + 1):
        iters.append(f"""
    r{k} AS (
      SELECT n.node,
             CAST({tele} + ({PR_DAMP_NUM} * COALESCE(c.inbound, 0)) // {PR_DAMP_DEN}
                  AS BIGINT) AS r
      FROM nodes n LEFT JOIN (
        SELECT e.dst, SUM(p.r // d.deg) AS inbound
        FROM edges e
        JOIN r{k - 1} p ON e.src = p.node
        JOIN deg d      ON d.src = e.src
        GROUP BY e.dst
      ) c ON c.dst = n.node
    )""")
    return f"""
    WITH e0 AS (
      SELECT DISTINCT o.o_custkey * 2 AS src, l.l_suppkey * 2 + 1 AS dst
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ),
    edges AS (SELECT src, dst FROM e0
              UNION SELECT dst AS src, src AS dst FROM e0),
    nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
    deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
    r0 AS (SELECT node, CAST({PR_MASS} AS BIGINT) AS r FROM nodes),
    {",".join(iters)}
    SELECT CAST((node - 1) // 2 AS BIGINT) AS supp_key,
           r AS rank_micro
    FROM r{n_iters} WHERE node % 2 = 1
    ORDER BY rank_micro DESC, supp_key LIMIT 25
    """


@register("supplier_pagerank", oracle=_pagerank_sql(5))
def q_supplier_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative-algorithm tier: supplier authority via 5 rounds of EXACT
    INTEGER PageRank over the symmetrized customer↔supplier trade graph
    (operators/graph.py pagerank_int). Float PageRank can never be
    oracle-checked (inbound sums are summation-order-dependent); the
    integer formulation is partition-invariant and replays in an unrolled
    SQL CTE chain — the same determinism contract as the rest of the
    registry, extended to an iterative algorithm."""
    from network_iq_spark.operators.graph import pagerank_int

    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    e0 = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        )
        .distinct()
    )
    # symmetrize with a map-side explode instead of union(swap): the union
    # consumed the join+distinct pipeline twice (one execution per arm
    # unless exchange reuse fires); the explode reads it once (§2.4)
    edges = e0.select(
        F.explode(
            F.array(
                F.struct(F.col("src"), F.col("dst")),
                F.struct(F.col("dst").alias("src"), F.col("src").alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")
    ranks = pagerank_int(edges, n_iters=5)
    return (
        ranks.filter(F.col("node") % 2 == 1)
        .select(
            F.expr("div(node - 1, 2)").cast("bigint").alias("supp_key"),
            F.col("r").alias("rank_micro"),
        )
        .orderBy(F.desc("rank_micro"), "supp_key")
        .limit(25)
    )


@register(
    "mad_outliers",
    oracle="""
    WITH med AS (
      SELECT event_type, quantile_cont(value, 0.5) AS med
      FROM events GROUP BY event_type
    ),
    dev AS (
      SELECT e.event_type, e.value, m.med, ABS(e.value - m.med) AS adev
      FROM events e JOIN med m USING (event_type)
    ),
    mad AS (
      SELECT event_type, quantile_cont(adev, 0.5) AS mad FROM dev
      GROUP BY event_type
    )
    SELECT d.event_type,
           MIN(d.med) AS median_value,
           MIN(m.mad) AS mad,
           COUNT(*) AS n,
           CAST(COUNT(*) FILTER (
             WHERE d.adev > 3.0 * 1.4826 * m.mad) AS BIGINT) AS n_outliers
    FROM dev d JOIN mad m USING (event_type)
    GROUP BY d.event_type ORDER BY d.event_type
    """,
)
def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection via median absolute deviation — the
    heavy-tail-safe alternative to the z-score family (a single spike
    inflates mean AND std; median/MAD shrug it off). Three grouped passes
    (median → MAD → flag count), each a 5-group partial agg; the group
    medians ride back onto the fact rows as broadcast joins, so the fact
    table is scanned, never shuffled. The 1.4826 factor scales MAD to σ
    under normality — the classic consistency constant."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    med = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("med")
    )
    dev = ev.join(F.broadcast(med), "event_type").withColumn(
        "adev", F.abs(F.col("value") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(
        F.percentile("adev", F.lit(0.5)).alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.min("med").alias("median_value"),
            F.min("mad").alias("mad"),
            F.count("*").alias("n"),
            F.count(
                F.when(
                    F.col("adev") > F.lit(3.0) * F.lit(1.4826) * F.col("mad"), 1
                )
            ).alias("n_outliers"),
        )
        .orderBy("event_type")
    )


@register(
    "range_window_stats",
    oracle="""
    SELECT event_id,
           event_type,
           COUNT(*) OVER w AS n_win,
           CAST(SUM(CAST(FLOOR(value * 10000 + 0.5) AS BIGINT)) OVER w
                AS BIGINT) AS sum_e4,
           CAST(SUM(CAST(FLOOR(value * 10000 + 0.5) AS BIGINT)) OVER w AS DOUBLE)
             / (10000.0 * COUNT(*) OVER w) AS avg_trailing_1h
    FROM events
    WINDOW w AS (PARTITION BY event_type ORDER BY epoch_us(ts)
                 RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
    ORDER BY event_id
    """,
)
def q_range_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-interval (RANGE) window frame — the event-time sibling of the
    row-count frames in rolling_features: every event sees the TRUE
    trailing hour regardless of how many rows fall in it (ROWS frames
    break on irregular event spacing). Ordered by integer epoch-micros so
    the frame bound is exact; identical-timestamp peers are all in-frame
    in both engines by RANGE semantics. Value sums in integer e4 units →
    the windowed aggregate is order-independent and bit-deterministic.
    One shuffle on event_type; per-key ordering is the window sort."""
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    vu = F.floor(F.col("value") * 10000 + F.lit(0.5)).cast("bigint")
    w = (
        Window.partitionBy("event_type")
        .orderBy(us)
        .rangeBetween(-3_600_000_000, 0)
    )
    n = F.count("*").over(w)
    s = F.sum(vu).over(w)
    return (
        ev.select(
            "event_id",
            "event_type",
            n.alias("n_win"),
            s.alias("sum_e4"),
            (s.cast("double") / (F.lit(10000.0) * n)).alias("avg_trailing_1h"),
        )
        .orderBy("event_id")
    )


@register(
    "value_autocorr_lag1",
    oracle="""
    WITH seq AS (
      SELECT event_type,
             CAST(FLOOR(value * 10000 + 0.5) AS BIGINT) AS xu,
             LAG(CAST(FLOOR(value * 10000 + 0.5) AS BIGINT))
               OVER (PARTITION BY event_type ORDER BY ts, event_id) AS yu
      FROM events
    ),
    m AS (
      SELECT event_type,
             COUNT(*) AS n,
             CAST(SUM(xu) AS BIGINT) AS sx, CAST(SUM(yu) AS BIGINT) AS sy,
             CAST(SUM(CAST(xu AS DECIMAL(38,0)) * xu) AS DECIMAL(38,0)) AS sxx,
             CAST(SUM(CAST(yu AS DECIMAL(38,0)) * yu) AS DECIMAL(38,0)) AS syy,
             CAST(SUM(CAST(xu AS DECIMAL(38,0)) * yu) AS DECIMAL(38,0)) AS sxy
      FROM seq WHERE yu IS NOT NULL GROUP BY event_type
    )
    SELECT event_type, n,
           (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
           / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
              * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                     - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS autocorr
    FROM m ORDER BY event_type
    """,
)
def q_value_autocorr_lag1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation of event values per type — the stationarity
    smoke test a feature pipeline runs before trusting rolling statistics.
    Same exact-integer co-moment pattern as qty_price_correlation (sums as
    DECIMAL(38,0) for overflow headroom, one double combination at the
    end), composed with a per-key ordered LAG — so an ordered-window +
    deterministic-correlation pipeline replays bit-for-bit in SQL. One
    shuffle (window and groupBy share the event_type partitioning)."""
    ev = load_table(spark, sf_dir, "events")
    xu = F.floor(F.col("value") * 10000 + F.lit(0.5)).cast("bigint")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", xu.alias("xu"), F.lag(xu).over(w).alias("yu")
    ).where(F.col("yu").isNotNull())
    wide = "decimal(38,0)"
    m = seq.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("xu").alias("sx"),
        F.sum("yu").alias("sy"),
        F.sum((F.col("xu").cast(wide) * F.col("xu"))).cast(wide).alias("sxx"),
        F.sum((F.col("yu").cast(wide) * F.col("yu"))).cast(wide).alias("syy"),
        F.sum((F.col("xu").cast(wide) * F.col("yu"))).cast(wide).alias("sxy"),
    )
    n = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx, syy, sxy = (
        F.col("sxx").cast("double"),
        F.col("syy").cast("double"),
        F.col("sxy").cast("double"),
    )
    return m.select(
        "event_type",
        "n",
        (
            (n * sxy - sx * sy)
            / (F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy))
        ).alias("autocorr"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# Correlated LATERAL join + recursive CTE (Spark 4 SQL surface)
# ---------------------------------------------------------------------------


@register(
    "lateral_top_orders",
    oracle="""
    SELECT c.c_custkey, l.o_orderkey, l.o_totalprice
    FROM customer c,
    LATERAL (
      SELECT o_orderkey, o_totalprice FROM orders o
      WHERE o.o_custkey = c.c_custkey
      ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 2
    ) l
    WHERE c.c_custkey < 100
    ORDER BY c_custkey, o_totalprice DESC, o_orderkey
    """,
)
def q_lateral_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery (top-2 orders per customer by price):
    the per-row-subquery surface SQL users reach for before they learn
    window functions. Catalyst DECORRELATES it — the executed plan is the
    same ranked equi-join a hand-written window top-k produces, not N
    per-customer subquery executions (no CartesianProduct; asserted in
    test_plan_quality) — so the declarative form is also the scale form."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer_lt")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_lt")
    return spark.sql("""
        SELECT c.c_custkey, l.o_orderkey, l.o_totalprice
        FROM customer_lt c,
        LATERAL (
          SELECT o_orderkey, o_totalprice FROM orders_lt o
          WHERE o.o_custkey = c.c_custkey
          ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 2
        ) l
        WHERE c.c_custkey < 100
        ORDER BY c_custkey, o_totalprice DESC, o_orderkey
    """)


@register(
    "recursive_copurchase_reach",
    oracle="""
    WITH RECURSIVE edges AS (
      SELECT a.l_partkey AS src, b.l_partkey AS dst
      FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
      WHERE a.l_partkey < b.l_partkey
      GROUP BY 1, 2 ORDER BY COUNT(*) DESC, src, dst LIMIT 100
    ),
    bi AS (
      SELECT src, dst FROM edges UNION ALL SELECT dst, src FROM edges
    ),
    start AS (SELECT MIN(src) AS s FROM bi),
    walk AS (
      SELECT s AS node, 0 AS depth FROM start
      UNION ALL
      SELECT bi.dst, w.depth + 1
      FROM walk w JOIN bi ON bi.src = w.node
      WHERE w.depth < 3
    )
    SELECT node, CAST(MIN(depth) AS INT) AS depth
    FROM walk GROUP BY node ORDER BY depth, node
    """,
)
def q_recursive_copurchase_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded BFS over the co-purchase graph as a RECURSIVE CTE (Spark 4):
    top-100 co-purchase edges (parts sharing an order), walks of depth ≤ 3
    from the smallest part key, distance = MIN(depth) over walks. The
    declarative recursion twin of the iterative DataFrame loop in
    operators/graph.py (dedup_clusters/pagerank) — same per-step shape
    (one equi-join per level against a bounded frontier), with the
    fixed-point machinery in the engine instead of driver-side Python.
    Depth bound keeps the UNION ALL walk multiset finite and identical in
    both engines; the MIN-collapse makes the result order-free.

    The expensive part is NOT the recursion (≤3 levels over a 100-edge
    graph) but the edge mining: a lineitem self-join + top-100. Spark
    inlines CTEs and reuses no exchanges across diamonds, so leaving
    ``edges`` as a CTE re-executes that self-join at every recursion
    level. Materialize the 100-row edge set once (localCheckpoint — the
    operators/graph.py idiom) and let the recursion consume the
    in-memory scan."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    edges = (
        li.alias("a")
        .join(li.alias("b"), F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        .filter(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .groupBy(
            F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst")
        )
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), "src", "dst")
        .limit(100)
        .select("src", "dst")
    )
    edges.localCheckpoint(eager=True).createOrReplaceTempView("edges_rc")
    return spark.sql("""
        WITH RECURSIVE bi AS (
          SELECT src, dst FROM edges_rc UNION ALL SELECT dst, src FROM edges_rc
        ),
        start AS (SELECT MIN(src) AS s FROM bi),
        walk AS (
          SELECT s AS node, 0 AS depth FROM start
          UNION ALL
          SELECT bi.dst, w.depth + 1
          FROM walk w JOIN bi ON bi.src = w.node
          WHERE w.depth < 3
        )
        SELECT node, CAST(MIN(depth) AS INT) AS depth
        FROM walk GROUP BY node ORDER BY depth, node
    """)


@register(
    "ab_test_conversion",
    oracle="""
    WITH assign AS (
      SELECT DISTINCT user_id, user_id % 2 AS arm FROM events
    ),
    conv AS (
      SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
    ),
    arms AS (
      SELECT a.arm,
             CAST(COUNT(*) AS BIGINT) AS n_users,
             CAST(SUM(CASE WHEN c.user_id IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_converted
      FROM assign a LEFT JOIN conv c ON c.user_id = a.user_id
      GROUP BY a.arm
    ),
    wide AS (
      SELECT
        MAX(CASE WHEN arm = 0 THEN n_users END) AS n_a,
        MAX(CASE WHEN arm = 0 THEN n_converted END) AS c_a,
        MAX(CASE WHEN arm = 1 THEN n_users END) AS n_b,
        MAX(CASE WHEN arm = 1 THEN n_converted END) AS c_b
      FROM arms
    )
    SELECT n_a, c_a, n_b, c_b, rate_a, rate_b,
           CASE WHEN se > 0 THEN (rate_b - rate_a) / se END AS z_score
    FROM (
      SELECT n_a, c_a, n_b, c_b,
             CAST(c_a AS DOUBLE) / n_a AS rate_a,
             CAST(c_b AS DOUBLE) / n_b AS rate_b,
             sqrt((CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))
                  * (1.0 - CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))
                  * (1.0 / n_a + 1.0 / n_b)) AS se
      FROM wide
    )
    """,
)
def q_ab_test_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion A/B conversion test: users split into arms by id
    parity (the deterministic stand-in for an assignment table),
    conversion = any 'purchase' event, pooled-variance z-statistic — the
    standard experiment readout, computed entirely from integer counts so
    the single sqrt/division chain is bit-identical in both engines (the
    pattern for ANY experiment metric here: aggregate to exact integers
    first, apply the float formula once at the end, never sum floats).
    Shape: two user-grain aggregates sharing the user_id partitioning, a
    2-row rollup, scalar math."""
    ev = load_table(spark, sf_dir, "events")
    assign = ev.select("user_id").distinct().select(
        "user_id", (F.col("user_id") % 2).alias("arm")
    )
    conv = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id")
        .distinct()
        .withColumn("converted", F.lit(1))
    )
    arms = (
        assign.join(conv, "user_id", "left")
        .groupBy("arm")
        .agg(
            F.count("*").alias("n_users"),
            F.sum(F.coalesce("converted", F.lit(0))).alias("n_converted"),
        )
    )
    wide = arms.agg(
        F.max(F.when(F.col("arm") == 0, F.col("n_users"))).alias("n_a"),
        F.max(F.when(F.col("arm") == 0, F.col("n_converted"))).alias("c_a"),
        F.max(F.when(F.col("arm") == 1, F.col("n_users"))).alias("n_b"),
        F.max(F.when(F.col("arm") == 1, F.col("n_converted"))).alias("c_b"),
    )
    p_a = F.col("c_a").cast("double") / F.col("n_a")
    p_b = F.col("c_b").cast("double") / F.col("n_b")
    pool = (F.col("c_a") + F.col("c_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    )
    se = F.sqrt(
        pool
        * (F.lit(1.0) - pool)
        * (F.lit(1.0) / F.col("n_a") + F.lit(1.0) / F.col("n_b"))
    )
    # degenerate pools (0% or 100% conversion in BOTH arms pooled) have
    # zero standard error — z undefined, reported NULL (ANSI mode would
    # otherwise raise on the division)
    return wide.select(
        "n_a",
        "c_a",
        "n_b",
        "c_b",
        p_a.alias("rate_a"),
        p_b.alias("rate_b"),
        F.when(se > 0, (p_b - p_a) / se).alias("z_score"),
    )
