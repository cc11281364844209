"""Telemetry-shaped queries over the ``events`` table.

``events`` mirrors the reference's telemetry fact table (ts ↔ timestamp,
user_id ↔ cell_id, event_type ↔ tech, value ↔ metric — FIXTURES.md §B), so
every dashboard-panel dataflow from streamlit_app.py re-expresses here as one
lazy Spark plan with a DuckDB oracle.

Window aggregates follow the cross-engine determinism rules in
``queries/_sql.py``: integer-cents sums inside window frames, explicit
mean/std formulas built identically on both sides.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from network_iq_spark.functions import davg, dsum
from network_iq_spark.operators.filters import distinct_domain
from network_iq_spark.operators.joins import baseline_join
from network_iq_spark.operators.quality import Contract, contract_summary
from network_iq_spark.operators.reshape import unpivot
from network_iq_spark.operators.topk import top_k
from network_iq_spark.operators.windows import (
    centered_frame,
    dedup_keep_last,
    latest_snapshot,
    minmax_normalize,
    zscore,
)
from network_iq_spark.queries import _sql
from network_iq_spark.registry import register
from network_iq_spark.sources import load_table


def _cents(col: str = "value") -> Column:
    """Exact integer cents of a 2-decimal double (determinism rule 1) —
    twin of ``_sql.cents``; floor(+0.5) avoids the slow BigDecimal round."""
    return F.floor(F.col(col) * 100 + F.lit(0.5)).cast("bigint")


def _mean_from_cents(s1: Column, n: Column) -> Column:
    """Twin of ``_sql.mean_from_cents`` — identical expression tree."""
    return s1 / (F.lit(100.0) * n)


def _std_from_cents(s1: Column, s2: Column, n: Column) -> Column:
    """Twin of ``_sql.std_from_cents`` — identical expression tree."""
    return F.sqrt(
        F.greatest(
            F.lit(0.0),
            ((s2 / F.lit(10000.0)) - ((s1 / F.lit(100.0)) * (s1 / F.lit(100.0))) / n)
            / (n - F.lit(1)),
        )
    )


# ---------------------------------------------------------------------------
# A1/A2/A3/A10 — KPI cards
# ---------------------------------------------------------------------------


@register(
    "kpi_cards",
    oracle=f"""
    SELECT
      {_sql.davg('value')}                                       AS avg_value,
      {_sql.dsum('value')}                                       AS sum_value,
      AVG(CASE WHEN value >= 150 THEN 1.0 ELSE 0.0 END)          AS promoter_rate,
      AVG(CASE WHEN value < 50 THEN 1.0 ELSE 0.0 END)            AS detractor_rate,
      COUNT(*)                                                   AS n_rows,
      COUNT(DISTINCT user_id)                                    AS n_users
    FROM events
    """,
)
def q_kpi_cards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KPI cards (A1 global mean, A3 boolean rates, A10 counts) in ONE pass —
    the reference computes each card separately (streamlit_app.py:271-306)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.agg(
        davg("value").alias("avg_value"),
        dsum("value").alias("sum_value"),
        F.avg((F.col("value") >= 150).cast("double")).alias("promoter_rate"),
        F.avg((F.col("value") < 50).cast("double")).alias("detractor_rate"),
        F.count("*").alias("n_rows"),
        F.countDistinct("user_id").alias("n_users"),
    )


# ---------------------------------------------------------------------------
# A4 + W8 — hourly profile
# ---------------------------------------------------------------------------


@register(
    "hourly_profile",
    oracle=f"""
    SELECT hour(ts) AS hour, {_sql.davg('value')} AS avg_value, COUNT(*) AS n
    FROM events GROUP BY hour(ts) ORDER BY hour
    """,
)
def q_hourly_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly grouped mean (A4; streamlit_app.py:322)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.withColumn("hour", F.hour("ts"))
        .groupBy("hour")
        .agg(davg("value").alias("avg_value"), F.count("*").alias("n"))
        .orderBy("hour")
    )


# ---------------------------------------------------------------------------
# A5 — grouped mean+std baseline (deterministic formula)
# ---------------------------------------------------------------------------

_BASELINE_SQL = f"""
    SELECT
      hour(ts) AS hour,
      COUNT(*) AS n,
      {_sql.mean_from_cents(f"SUM({_sql.cents('value')})", "COUNT(*)")} AS base_mean,
      {_sql.std_from_cents(f"SUM({_sql.cents('value')})", f"SUM({_sql.cents('value')} * {_sql.cents('value')})", "COUNT(*)")} AS base_std
    FROM events GROUP BY hour(ts)
"""


def _hourly_baseline(ev: DataFrame) -> DataFrame:
    g = ev.withColumn("hour", F.hour("ts")).groupBy("hour").agg(
        F.count("*").alias("n"),
        F.sum(_cents()).alias("_s1"),
        F.sum(_cents() * _cents()).alias("_s2"),
    )
    return g.select(
        "hour",
        "n",
        _mean_from_cents(F.col("_s1"), F.col("n")).alias("base_mean"),
        _std_from_cents(F.col("_s1"), F.col("_s2"), F.col("n")).alias("base_std"),
    )


@register("hourly_baseline", oracle=_BASELINE_SQL + " ORDER BY hour")
def q_hourly_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped mean+sample-std baseline (A5; streamlit_app.py:536-537),
    deterministic via integer-cents sums."""
    return _hourly_baseline(load_table(spark, sf_dir, "events")).orderBy("hour")


# ---------------------------------------------------------------------------
# J1 + W5 + A8 + O2 — z-score anomaly top-k
# ---------------------------------------------------------------------------


@register(
    "zscore_top_anomalies",
    oracle=f"""
    WITH baseline AS ({_BASELINE_SQL}),
    scored AS (
      SELECT e.user_id,
             (e.value - b.base_mean)
               / (CASE WHEN COALESCE(b.base_std, 0.0) = 0 THEN 1e-9
                       ELSE COALESCE(b.base_std, 0.0) END) AS z
      FROM events e LEFT JOIN baseline b ON hour(e.ts) = b.hour
    )
    SELECT user_id, MAX(z) AS max_anom_z
    FROM scored GROUP BY user_id
    ORDER BY max_anom_z DESC, user_id ASC LIMIT 10
    """,
)
def q_zscore_top_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anomaly panel (streamlit_app.py:516-552): per-hour baseline → broadcast
    join (J1) → z-score w/ zero-std guard (W5) → per-key max (A8) → top-10
    (O2). The 24-row baseline broadcasts; the only fact shuffle is the final
    per-user aggregation."""
    ev = load_table(spark, sf_dir, "events").withColumn("hour", F.hour("ts"))
    scored = baseline_join(ev, _hourly_baseline(ev), ["hour"]).select(
        "user_id", zscore("value", "base_mean", "base_std").alias("z")
    )
    agg = scored.groupBy("user_id").agg(F.max("z").alias("max_anom_z"))
    return top_k(agg, [("max_anom_z", True)], 10, tiebreak=["user_id"])


# ---------------------------------------------------------------------------
# W2 + W3 — trailing rolling features
# ---------------------------------------------------------------------------


@register(
    "rolling_features",
    oracle=f"""
    WITH w AS (
      SELECT event_id, user_id, ts, value,
        SUM({_sql.cents('value')}) OVER roll                          AS s1,
        SUM({_sql.cents('value')} * {_sql.cents('value')}) OVER roll  AS s2,
        COUNT(*) OVER roll                                            AS cnt,
        LAG(value) OVER (PARTITION BY user_id ORDER BY ts)            AS prev
      FROM events
      WINDOW roll AS (PARTITION BY user_id ORDER BY ts
                      ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
    )
    SELECT event_id, user_id, ts, value,
      {_sql.mean_from_cents('s1', 'cnt')} AS rmean,
      CASE WHEN cnt < 2 THEN 0.0 ELSE {_sql.std_from_cents('s1', 's2', 'cnt')} END AS rstd,
      COALESCE(value - prev, 0.0) AS rdiff
    FROM w
    """,
)
def q_rolling_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key trailing rolling mean/std + lag-diff (W2/W3;
    streamlit_app.py:697-701): the ML feature primitives. One shuffle on
    user_id, all three features in one window pass — no grouped-map UDF."""
    ev = load_table(spark, sf_dir, "events")
    roll = Window.partitionBy("user_id").orderBy("ts").rowsBetween(-2, 0)
    seq = Window.partitionBy("user_id").orderBy("ts")
    w = ev.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        F.sum(_cents()).over(roll).alias("s1"),
        F.sum(_cents() * _cents()).over(roll).alias("s2"),
        F.count("*").over(roll).alias("cnt"),
        F.lag("value").over(seq).alias("prev"),
    )
    return w.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        _mean_from_cents(F.col("s1"), F.col("cnt")).alias("rmean"),
        F.when(F.col("cnt") < 2, F.lit(0.0))
        .otherwise(_std_from_cents(F.col("s1"), F.col("s2"), F.col("cnt")))
        .alias("rstd"),
        F.coalesce(F.col("value") - F.col("prev"), F.lit(0.0)).alias("rdiff"),
    )


@register(
    "time_sliced_rolling",
    oracle=f"""
    WITH w AS (
      SELECT event_id, user_id, ts, value,
        SUM({_sql.cents('value')}) OVER roll                          AS s1,
        SUM({_sql.cents('value')} * {_sql.cents('value')}) OVER roll  AS s2,
        COUNT(*) OVER roll                                            AS cnt,
        LAG(value) OVER (PARTITION BY strftime(ts, '%Y-%m'), user_id
                         ORDER BY ts)                                 AS prev
      FROM events
      WINDOW roll AS (PARTITION BY strftime(ts, '%Y-%m'), user_id
                      ORDER BY ts
                      ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
    )
    SELECT event_id, user_id, ts, value,
      {_sql.mean_from_cents('s1', 'cnt')} AS rmean,
      CASE WHEN cnt < 2 THEN 0.0 ELSE {_sql.std_from_cents('s1', 's2', 'cnt')} END AS rstd,
      COALESCE(value - prev, 0.0) AS rdiff
    FROM w
    """,
)
def q_time_sliced_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rolling_features with the partition key split by calendar month —
    the skewed-window mitigation (docs/SCALE.md §(b),
    operators/windows.py time_sliced_window) as a driver-checked query:
    sort tasks are bounded by rows-per-(user, month) instead of
    rows-per-user, so a hot key cannot become a single straggler task;
    frames reset at month boundaries (the documented trade — equivalence
    with the plain window on non-spanning frames is property-tested)."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "__slice__", F.date_format("ts", "yyyy-MM")
    )
    roll = (
        Window.partitionBy("__slice__", "user_id").orderBy("ts").rowsBetween(-2, 0)
    )
    seq = Window.partitionBy("__slice__", "user_id").orderBy("ts")
    w = ev.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        F.sum(_cents()).over(roll).alias("s1"),
        F.sum(_cents() * _cents()).over(roll).alias("s2"),
        F.count("*").over(roll).alias("cnt"),
        F.lag("value").over(seq).alias("prev"),
    )
    return w.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        _mean_from_cents(F.col("s1"), F.col("cnt")).alias("rmean"),
        F.when(F.col("cnt") < 2, F.lit(0.0))
        .otherwise(_std_from_cents(F.col("s1"), F.col("s2"), F.col("cnt")))
        .alias("rstd"),
        F.coalesce(F.col("value") - F.col("prev"), F.lit(0.0)).alias("rdiff"),
    )


# ---------------------------------------------------------------------------
# W6 — dedup keep-last
# ---------------------------------------------------------------------------


@register(
    "dedup_keep_last",
    oracle="""
    SELECT event_id, user_id, ts, value FROM events
    QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id
                               ORDER BY ts DESC, event_id DESC) = 1
    """,
)
def q_dedup_keep_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most-recent row per key (W6; streamlit_app.py:971-975). dropDuplicates
    has no ordering guarantee — this is the row_number formulation, with
    event_id as total-order tiebreak."""
    ev = load_table(spark, sf_dir, "events")
    return dedup_keep_last(ev, ["user_id"], ["ts"], tiebreak=["event_id"]).select(
        "event_id", "user_id", "ts", "value"
    )


# ---------------------------------------------------------------------------
# W1 — centered moving average (even window ⇒ asymmetric frame)
# ---------------------------------------------------------------------------


@register(
    "centered_mavg_volume",
    oracle=f"""
    WITH hourly AS (
      SELECT hour(ts) AS hour, SUM({_sql.cents('value')}) AS s1
      FROM events GROUP BY hour(ts)
    )
    SELECT hour,
      (s1 / 100.0) AS hourly_total,
      (SUM(s1) OVER (ORDER BY hour ROWS BETWEEN 2 PRECEDING AND 1 FOLLOWING)
        / 100.0)
       / COUNT(*) OVER (ORDER BY hour ROWS BETWEEN 2 PRECEDING AND 1 FOLLOWING)
                 AS smoothed_total
    FROM hourly ORDER BY hour
    """,
)
def q_centered_mavg_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centered moving average, window w=4 (W1; streamlit_app.py:330).

    The even window exercises pandas' asymmetric center=True frame:
    [i−w//2, i+(w−1)//2] = 2 preceding / 1 following. min_periods=1 edge
    shrinking matches Spark's default frame clipping.

    The frame runs over the AGG-GRAIN (≤24 hourly rows regardless of input
    size), so instead of an unpartitioned ``Window.orderBy`` — which plans a
    single-task WindowExec over whatever the pre-agg row count is and warns
    in every run — the row-frame is expressed as two broadcast self-joins on
    the tiny aggregate: a triangular join assigns each hour its rank (count
    of hours ≤ it, robust to gaps in the hour domain), then a rank-range
    join collects the [-2, +1] frame. Sums stay integer cents throughout, so
    regrouping the frame members cannot change the result.
    """
    ev = load_table(spark, sf_dir, "events")
    hourly = (
        ev.withColumn("hour", F.hour("ts"))
        .groupBy("hour")
        .agg(F.sum(_cents()).alias("s1"))
    )
    lo, hi = centered_frame(4)
    ranked = (
        hourly.alias("a")
        .join(F.broadcast(hourly.alias("b")), F.col("b.hour") <= F.col("a.hour"))
        .groupBy(F.col("a.hour").alias("hour"), F.col("a.s1").alias("s1"))
        .agg(F.count(F.lit(1)).alias("__rk__"))
    )
    frame = (
        ranked.alias("l")
        .join(
            F.broadcast(ranked.alias("r")),
            F.col("r.__rk__").between(F.col("l.__rk__") + lo, F.col("l.__rk__") + hi),
        )
        .groupBy(F.col("l.hour").alias("hour"), F.col("l.s1").alias("s1"))
        .agg(F.sum("r.s1").alias("__fs__"), F.count(F.lit(1)).alias("__fn__"))
    )
    return frame.select(
        "hour",
        (F.col("s1") / 100.0).alias("hourly_total"),
        ((F.col("__fs__") / F.lit(100.0)) / F.col("__fn__")).alias("smoothed_total"),
    ).orderBy("hour")


# ---------------------------------------------------------------------------
# W7 — min-max normalization
# ---------------------------------------------------------------------------


@register(
    "minmax_norm",
    oracle="""
    SELECT event_id, value,
      CASE WHEN MAX(value) OVER () = MIN(value) OVER () THEN 1.0
           ELSE (value - MIN(value) OVER ())
                / (MAX(value) OVER () - MIN(value) OVER ())
      END AS norm
    FROM events
    """,
)
def q_minmax_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global min-max normalization (W7; streamlit_app.py:996-998). min/max
    are exact selections (no float accumulation) — deterministic."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "value")
    return minmax_normalize(ev, "value")


# ---------------------------------------------------------------------------
# P4 / P12 — domains & latest snapshot
# ---------------------------------------------------------------------------


@register(
    "event_type_domains",
    oracle="SELECT DISTINCT event_type FROM events WHERE event_type IS NOT NULL ORDER BY event_type",
)
def q_event_type_domains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter-option domains (P4; streamlit_app.py:243,247)."""
    return distinct_domain(load_table(spark, sf_dir, "events"), "event_type")


@register(
    "latest_snapshot",
    oracle="""
    SELECT event_id, ts, user_id, event_type, value FROM events
    WHERE ts = (SELECT MAX(ts) FROM events)
    """,
)
def q_latest_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-timestamp slice (P12; streamlit_app.py:713-715)."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    return latest_snapshot(ev, "ts")


# ---------------------------------------------------------------------------
# A15 — quantile threshold with row-grain scope semantics
# ---------------------------------------------------------------------------


@register(
    "risky_hours",
    oracle=f"""
    WITH hourly AS (
      SELECT hour(ts) AS hour, {_sql.davg('value')} AS avg_value
      FROM events GROUP BY hour(ts)
    )
    SELECT hour, avg_value FROM hourly
    WHERE avg_value > (SELECT quantile_cont(avg_value, 0.75) FROM hourly)
    ORDER BY hour
    """,
)
def q_risky_hours(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-threshold flags (A15; streamlit_app.py:334-335,344-348): the
    threshold comes from the aggregated scope, rows above it are "risky".
    Threshold as a broadcast agg-scalar cross join — no collect round-trip
    and no unpartitioned window (the hourly aggregate is tiny, but the shape
    should match the 100 TB posture everywhere)."""
    ev = load_table(spark, sf_dir, "events")
    hourly = (
        ev.withColumn("hour", F.hour("ts"))
        .groupBy("hour")
        .agg(davg("value").alias("avg_value"))
    )
    thr = hourly.agg(
        F.percentile(F.col("avg_value"), F.lit(0.75)).alias("__thr__")
    )
    return (
        hourly.crossJoin(F.broadcast(thr))
        .filter(F.col("avg_value") > F.col("__thr__"))
        .select("hour", "avg_value")
        .orderBy("hour")
    )


# ---------------------------------------------------------------------------
# U1/U2 + J2 — series comparison via unpivot
# ---------------------------------------------------------------------------


@register(
    "hourly_compare_unpivot",
    oracle=f"""
    WITH net AS (
      SELECT hour(ts) AS hour, {_sql.davg('value')} AS net_avg
      FROM events GROUP BY hour(ts)
    ),
    cell AS (
      SELECT hour(ts) AS hour, {_sql.davg('value')} AS cell_avg
      FROM events WHERE event_type = 'purchase' GROUP BY hour(ts)
    ),
    j AS (SELECT net.hour, net.net_avg, cell.cell_avg
          FROM net LEFT JOIN cell ON net.hour = cell.hour)
    SELECT hour, 'net_avg' AS series, net_avg AS avg_value FROM j
    UNION ALL
    SELECT hour, 'cell_avg' AS series, cell_avg AS avg_value FROM j
    ORDER BY hour, series
    """,
)
def q_hourly_compare_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cell-vs-network comparison (J2 alignment join + U2 melt;
    streamlit_app.py:410,430): two hourly profiles joined on hour, unpivoted
    long for charting."""
    ev = load_table(spark, sf_dir, "events").withColumn("hour", F.hour("ts"))
    net = ev.groupBy("hour").agg(davg("value").alias("net_avg"))
    cell = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("hour")
        .agg(davg("value").alias("cell_avg"))
    )
    j = baseline_join(net, cell, ["hour"])
    return unpivot(j, ["hour"], ["net_avg", "cell_avg"], "series", "avg_value").orderBy(
        "hour", "series"
    )


# ---------------------------------------------------------------------------
# Q1/Q2 — data contract
# ---------------------------------------------------------------------------


@register(
    "data_contract_events",
    oracle="""
    SELECT
      COUNT(*) AS row_count,
      CAST(SUM(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_event_id,
      CAST(SUM(CASE WHEN ts IS NULL THEN 1 ELSE 0 END) AS BIGINT)       AS nulls_ts,
      CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)  AS nulls_user_id,
      CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT)    AS nulls_value,
      CAST(SUM(CASE WHEN value IS NOT NULL AND (value < 0 OR value > 10000)
               THEN 1 ELSE 0 END) AS BIGINT)                            AS bad_value,
      CAST(0 AS BIGINT)                                 AS missing_required
    FROM events
    """,
)
def q_data_contract_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass data contract (Q1; streamlit_app.py:39-105): null counts,
    range validity, required-column presence — one scan, one row."""
    ev = load_table(spark, sf_dir, "events")
    c = Contract(
        required=("event_id", "ts", "user_id", "value"),
        not_null=("event_id", "ts", "user_id", "value"),
        ranges={"value": (0.0, 10000.0)},
    )
    return contract_summary(ev, c)


# ---------------------------------------------------------------------------
# F12-ish — JSON scalar functions over props
# ---------------------------------------------------------------------------


@register(
    "json_props_stats",
    oracle="""
    SELECT event_type,
      COUNT(*) AS n,
      CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT)) AS DOUBLE)
        / COUNT(json_extract_string(props, '$.k'))   AS avg_k,
      MIN(CAST(json_extract_string(props, '$.k') AS INT)) AS min_k,
      MAX(CAST(json_extract_string(props, '$.k') AS INT)) AS max_k
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def q_json_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured access (the reference's only nested data is JSON
    context docs, streamlit_app.py:1090-1115): JSON-path extraction + grouped
    stats, all JVM-side (`get_json_object`)."""
    ev = load_table(spark, sf_dir, "events")
    # project the JSON parse ONCE before the aggregate — four agg functions
    # over the raw expression would parse props four times per row
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            (F.sum("k").cast("double") / F.count("k")).alias("avg_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# P7 — coerce-or-null casts
# ---------------------------------------------------------------------------


@register(
    "cast_coercion",
    oracle="""
    SELECT event_type,
      COUNT(*) AS n,
      CAST(SUM(CASE WHEN TRY_CAST(event_type AS DOUBLE) IS NULL THEN 1 ELSE 0 END)
        AS BIGINT) AS failed_numeric_casts,
      CAST(SUM(CASE WHEN TRY_CAST(json_extract_string(props, '$.k') AS INT)
               IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS ok_k_casts
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def q_cast_coercion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coerce-or-null cast semantics (P7: pandas ``errors="coerce"`` ⇢
    ``try_cast``) — works identically under ANSI mode, which Spark 4 enables
    by default."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(
                F.col("event_type").try_cast("double").isNull().cast("bigint")
            ).alias("failed_numeric_casts"),
            F.sum(
                F.get_json_object("props", "$.k")
                .try_cast("int")
                .isNotNull()
                .cast("bigint")
            ).alias("ok_k_casts"),
        )
        .orderBy("event_type")
    )


@register(
    "variant_props_stats",
    oracle="""
    SELECT CAST(CAST(json_extract_string(props, '$.k') AS INTEGER) // 10
                AS INTEGER) AS k_decade,
           COUNT(*) AS n,
           MIN(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS min_k,
           MAX(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS max_k
    FROM events
    GROUP BY 1 ORDER BY k_decade
    """,
)
def q_variant_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured access via Spark 4's native VARIANT type:
    ``parse_json`` once into the binary variant encoding, then typed
    ``variant_get`` extraction — the scale path for JSON columns (repeated
    ``get_json_object`` re-parses the string per expression; a variant
    parses once and every access is a typed binary probe). Registered
    alongside the string-path twin ``json_props_stats`` so both
    semi-structured tiers stay oracle-checked."""
    ev = load_table(spark, sf_dir, "events")
    k = F.variant_get(F.parse_json("props"), "$.k", "int")
    return (
        ev.select(k.alias("k"))
        # floor division (matches DuckDB's ``//``), not div()'s truncation
        # toward zero — the two diverge for negative k (-5//10 = -1 vs 0).
        .select(F.floor(F.col("k") / F.lit(10)).cast("int").alias("k_decade"), "k")
        .groupBy("k_decade")
        .agg(
            F.count("*").alias("n"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("k_decade")
    )


@register(
    "contract_quarantine_summary",
    oracle="""
    WITH tagged AS (
      SELECT
        CASE WHEN value IS NOT NULL AND value >= 0.0
             THEN 0 ELSE 1 END AS f_value_nonneg,
        CASE WHEN user_id IS NOT NULL AND user_id >= 0
             THEN 0 ELSE 1 END AS f_user_valid,
        CASE WHEN event_type IN ('view','click','purchase','signup','error')
             THEN 0 ELSE 1 END AS f_known_type
      FROM events
    )
    SELECT failed_rule, n FROM (
      SELECT 'value_nonneg' AS failed_rule,
             CAST(COALESCE(SUM(f_value_nonneg), 0) AS BIGINT) AS n FROM tagged
      UNION ALL
      SELECT 'user_valid', CAST(COALESCE(SUM(f_user_valid), 0) AS BIGINT) FROM tagged
      UNION ALL
      SELECT 'known_type', CAST(COALESCE(SUM(f_known_type), 0) AS BIGINT) FROM tagged
      UNION ALL
      SELECT '__valid_rows__',
             CAST(COALESCE(SUM(CASE WHEN f_value_nonneg + f_user_valid + f_known_type = 0
                                    THEN 1 ELSE 0 END), 0) AS BIGINT) FROM tagged
    ) ORDER BY failed_rule
    """,
)
def q_contract_quarantine_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level contract enforcement (operators/quality.py
    validate_and_quarantine) rolled up: per-rule violation counts from the
    quarantine branch (exploded failed_rules — a row violating two rules
    counts under both) plus the surviving-row count from the valid branch.
    NULL predicate results count as failures (unknown ≠ pass), and every
    count is 0, never NULL, on an empty table. The oracle states both
    itself: each flag is ``CASE WHEN <rule> THEN 0 ELSE 1 END``, so a
    NULL ``event_type`` fails ``known_type`` (``NOT (NULL IN ...)`` would
    take the ``ELSE 0`` branch and pass it), and each ``SUM`` is wrapped
    in ``COALESCE(..., 0)``."""
    from network_iq_spark.operators.quality import validate_and_quarantine

    ev = load_table(spark, sf_dir, "events")
    rules = [
        ("value_nonneg", F.col("value").isNotNull() & (F.col("value") >= 0.0)),
        ("user_valid", F.col("user_id").isNotNull() & (F.col("user_id") >= 0)),
        (
            "known_type",
            F.col("event_type").isin("view", "click", "purchase", "signup", "error"),
        ),
    ]
    valid, rejects = validate_and_quarantine(ev, rules)
    per_rule = (
        rejects.select(F.explode("failed_rules").alias("failed_rule"))
        .groupBy("failed_rule")
        .agg(F.count("*").alias("n"))
    )
    all_rules = spark.createDataFrame(
        [(name,) for name, _ in rules], "failed_rule string"
    )
    per_rule_full = (
        all_rules.join(per_rule, "failed_rule", "left")
        .select("failed_rule", F.coalesce("n", F.lit(0)).cast("bigint").alias("n"))
    )
    valid_row = valid.agg(F.count("*").alias("n")).select(
        F.lit("__valid_rows__").alias("failed_rule"), F.col("n")
    )
    return per_rule_full.unionByName(valid_row).orderBy("failed_rule")


_KANON_K = 5


@register(
    "k_anonymity_customers",
    oracle=f"""
    SELECT c_nationkey, c_mktsegment,
           CAST(FLOOR(c_acctbal / 2000.0) AS BIGINT) AS bal_band,
           CAST(COUNT(*) AS BIGINT) AS n,
           COUNT(*) < {_KANON_K} AS at_risk
    FROM customer
    GROUP BY 1, 2, 3
    ORDER BY c_nationkey, c_mktsegment, bal_band
    """,
)
def q_k_anonymity_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy audit (r11): k-anonymity over the quasi-identifier combo
    (nation, market segment, account-balance band) — the pre-release
    check a user-derived training table needs: any combo with fewer than
    5 members (``_KANON_K``) is linkage-re-identifiable. One hash aggregate on the
    quasi columns, output ∝ distinct combos; the at-risk bit is an
    integer comparison, engine-exact (operators/quality.py
    k_anonymity_report; the row-level suppression counterpart
    k_suppress is test-covered — its output is the input frame with
    under-k quasi values nulled, trivially k-anonymous afterwards)."""
    from network_iq_spark.operators.quality import k_anonymity_report

    cust = load_table(spark, sf_dir, "customer").withColumn(
        "bal_band",
        F.expr("cast(floor(c_acctbal / 2000.0D) as bigint)"),
    )
    return k_anonymity_report(
        cust, ["c_nationkey", "c_mktsegment", "bal_band"], _KANON_K
    ).orderBy("c_nationkey", "c_mktsegment", "bal_band")
