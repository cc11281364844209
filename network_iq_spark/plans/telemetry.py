"""Reference dashboard panels as lazy Spark plans.

Each function re-expresses one Streamlit panel's eager pandas dataflow
(streamlit_app.py, sites cited per function) as a single composable
DataFrame plan over the telemetry fact table. Pandas semantic edges are
preserved deliberately (and golden-tested against a pandas re-implementation
in tests/test_reference_parity.py):

- NaN comparisons are False in pandas → ``coalesce(cond, false)``
- ``std`` is sample std (ddof=1) → ``stddev_samp``; zero → 1e-9 guard
- quantiles interpolate linearly → exact ``percentile``
- ``diff().fillna(0)`` / ``rolling().std().fillna(0)`` → ``coalesce``
- pandas ``dayofweek`` Mon=0 ⇒ weekend = Spark ``dayofweek() IN (1,7)``
- A15 threshold scope: quantile from ROW grain, flag applied at AGG grain
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from network_iq_spark.functions import is_weekend, pandas_dow, zero_guard
from network_iq_spark.operators.joins import baseline_join
from network_iq_spark.operators.topk import top_k
from network_iq_spark.operators.windows import centered_moving_avg, latest_snapshot

BASE_FEATURES = (
    "throughput_mbps",
    "latency_ms",
    "drop_rate",
    "jitter_ms",
    "rsrp_dbm",
    "rsrq_db",
    "sinr_db",
)

LO_BAD_METRICS = ("throughput_mbps",)  # low values are bad (flag ≤ threshold)


def _false_if_null(cond: Column) -> Column:
    """pandas NaN-comparison semantics: unknown → False."""
    return F.coalesce(cond, F.lit(False))


def kpi_panel(df: DataFrame) -> DataFrame:
    """KPI cards (streamlit_app.py:271-306): global means, P95 latency,
    NPS proxy from promoter/detractor boolean rates — one pass."""
    promoter = _false_if_null(
        (F.col("throughput_mbps") >= 150)
        & (F.col("latency_ms") <= 50)
        & (F.col("drop_rate") <= 1.0)
    )
    detractor = _false_if_null(
        (F.col("throughput_mbps") < 100)
        | (F.col("latency_ms") > 80)
        | (F.col("drop_rate") > 2.0)
    )
    return df.agg(
        F.avg("throughput_mbps").alias("avg_throughput_mbps"),
        F.percentile(F.col("latency_ms"), F.lit(0.95)).alias("p95_latency_ms"),
        F.avg("drop_rate").alias("avg_drop_rate"),
        F.avg(promoter.cast("double")).alias("promoter_rate"),
        F.avg(detractor.cast("double")).alias("detractor_rate"),
        (
            100.0
            * (
                F.avg(promoter.cast("double"))
                - F.avg(detractor.cast("double"))
            )
        ).alias("nps_proxy"),
        F.count("*").alias("n_rows"),
    )


def hourly_panel(df: DataFrame, metric: str, smooth_window: int = 3) -> DataFrame:
    """Hourly profile + centered smoothing + quantile risk flags
    (streamlit_app.py:320-375). The threshold is the ROW-grain P90 of
    the scope; the flag applies to hourly means (A15 scope semantics)."""
    hourly = (
        df.withColumn("hour", F.hour("timestamp"))
        .groupBy("hour")
        .agg(F.avg(metric).alias("avg_value"))
    )
    smoothed = centered_moving_avg(hourly, "hour", "avg_value", smooth_window)
    # threshold as a plan-level scalar (no collect): percentile over the row
    # grain, broadcast cross-joined onto the hourly aggregate

    row_thr = df.agg(F.percentile(F.col(metric), F.lit(0.9)).alias("__thr__"))
    out = smoothed.crossJoin(F.broadcast(row_thr))
    flag = (
        F.col("avg_value") <= F.col("__thr__")
        if metric in LO_BAD_METRICS
        else F.col("avg_value") >= F.col("__thr__")
    )
    return out.select(
        "hour", "avg_value", "smoothed", _false_if_null(flag).alias("risky")
    ).orderBy("hour")


def hotspot_panels(df: DataFrame, k: int = 10) -> dict[str, DataFrame]:
    """Hotspot top-k tables (streamlit_app.py:493-514): P95 latency desc,
    mean throughput asc, mean drop desc — per cell."""
    per_cell = df.groupBy("cell_id").agg(
        F.percentile(F.col("latency_ms"), F.lit(0.95)).alias("p95_latency_ms"),
        F.avg("throughput_mbps").alias("avg_throughput_mbps"),
        F.avg("drop_rate").alias("avg_drop_rate"),
    )
    return {
        "worst_latency": top_k(
            per_cell.select("cell_id", "p95_latency_ms"),
            [("p95_latency_ms", True)], k, tiebreak=["cell_id"],
        ),
        "worst_throughput": top_k(
            per_cell.select("cell_id", "avg_throughput_mbps"),
            [("avg_throughput_mbps", False)], k, tiebreak=["cell_id"],
        ),
        "worst_drop": top_k(
            per_cell.select("cell_id", "avg_drop_rate"),
            [("avg_drop_rate", True)], k, tiebreak=["cell_id"],
        ),
    }


def _hour_baseline(df: DataFrame, metric: str, mean_name: str, std_name: str) -> DataFrame:
    """Hour-of-day mean/sample-std baseline over the row grain
    (streamlit_app.py:536-537,601-606,687-689)."""
    return (
        df.withColumn("hour", F.hour("timestamp"))
        .groupBy("hour")
        .agg(
            F.avg(metric).alias(mean_name),
            F.stddev_samp(metric).alias(std_name),
        )
    )


def anomaly_panel(df: DataFrame) -> DataFrame:
    """Anomaly top-10 (streamlit_app.py:516-552) of ``latency_ms``, a
    hi-bad metric: z vs hour-of-day baseline, per-cell max, top-10."""
    base = _hour_baseline(df, "latency_ms", "base_mean", "base_std")
    scored = baseline_join(
        df.withColumn("hour", F.hour("timestamp")), base, ["hour"]
    ).withColumn(
        "z",
        (F.col("latency_ms") - F.col("base_mean")) / zero_guard(F.col("base_std")),
    )
    agg = (
        scored.withColumn("z_bad", F.col("z"))
        .groupBy("cell_id")
        .agg(F.max("z_bad").alias("max_anom_z"))
    )
    return top_k(agg, [("max_anom_z", True)], 10, tiebreak=["cell_id"])


def incident_panel(df: DataFrame, q: float = 0.95) -> DataFrame:
    """Incident summary (streamlit_app.py:554-625) of ``latency_ms``, a
    hi-bad metric: cell-hour means, risk flag from the ROW-grain quantile
    (≥ P_q), z vs hour-of-day baseline, top 50 by severity.

    Output columns mirror the reference export: cell_id, hour_ts,
    <latency_ms mean as `value`>, anom_z.
    """
    scope = df.withColumn("ts", F.date_trunc("hour", F.col("timestamp")))
    agg = (
        scope.filter(F.col("cell_id").isNotNull() & F.col("ts").isNotNull())
        .groupBy("cell_id", "ts")
        .agg(F.avg("latency_ms").alias("value"))
        .na.drop(subset=["value"])
    )
    row_thr = scope.agg(F.percentile(F.col("latency_ms"), F.lit(q)).alias("__thr__"))
    flagged = agg.crossJoin(F.broadcast(row_thr)).withColumn(
        "risky", _false_if_null(F.col("value") >= F.col("__thr__"))
    )
    base = _hour_baseline(scope, "latency_ms", "base_mean", "base_std")
    scored = baseline_join(
        flagged.withColumn("hour", F.hour("ts")), base, ["hour"]
    ).withColumn(
        "z", (F.col("value") - F.col("base_mean")) / zero_guard(F.col("base_std"))
    )
    incidents = (
        scored.withColumn("anom_z", F.col("z"))
        .filter(F.col("risky"))
        .select("cell_id", F.col("ts").alias("hour_ts"), "value", "anom_z")
    )
    return top_k(incidents, [("anom_z", True)], 50, tiebreak=["cell_id", "hour_ts"])


def map_panel(predictions: DataFrame, coords: DataFrame) -> DataFrame:
    """Predicted-risk map (``_render_topk_map``, streamlit_app.py:931-1045):
    predictions ⟕ one-coord-per-cell dim (dedup keep-last by timestamp, W6)
    → coerce/drop invalid → relative size via min-max (W7, constant → 1.0)
    → amber-to-red fill ramp (F11) → formatted tooltip string (F10).

    ``coords`` is any frame carrying (cell_id, lat, lon[, timestamp]) — the
    reference re-reads the raw CSV as this dimension source (S6).
    """
    from network_iq_spark.operators.windows import dedup_keep_last

    order = ["timestamp"] if "timestamp" in coords.columns else []
    dim = (
        dedup_keep_last(coords, ["cell_id"], order)
        if order
        else coords.dropDuplicates(["cell_id"])
    ).select("cell_id", "lat", "lon")
    m = (
        predictions.select("cell_id", "pred_prob")
        .na.drop(subset=["pred_prob"])
        .join(F.broadcast(dim), "cell_id", "left")
        .withColumn("lat", F.col("lat").try_cast("double"))
        .withColumn("lon", F.col("lon").try_cast("double"))
        .na.drop(subset=["lat", "lon", "pred_prob"])
        .dropDuplicates(["cell_id"])
    )
    p = F.least(F.greatest(F.col("pred_prob"), F.lit(0.0)), F.lit(1.0))
    everything = Window.partitionBy()
    pmin, pmax = F.min(p).over(everything), F.max(p).over(everything)
    z = F.when(pmax == pmin, F.lit(1.0)).otherwise((p - pmin) / (pmax - pmin))
    return m.select(
        "cell_id",
        "lat",
        "lon",
        "pred_prob",
        (3 + 7 * z).alias("size"),
        F.array(
            F.lit(255),
            (170 * (1 - F.col("pred_prob"))).cast("int"),
            F.lit(0),
            F.lit(185),
        ).alias("fill"),
        F.format_number(F.col("pred_prob"), 2).alias("pred_prob_s"),
    )


def briefing_context(
    df: DataFrame,
    predictions: DataFrame | None = None,
    model_meta: dict | None = None,
) -> DataFrame:
    """AI-briefing context (``_collect_ai_context``,
    streamlit_app.py:1055-1115) as ONE struct-building query: the reference
    runs ~8 collect-like extractions; here the KPIs, latency hotspot/anomaly
    top-10 arrays, and prediction head fold into a single 1-row plan with
    ``to_json`` (F14) and a sha-256 content hash (F13) for cache keying.
    """
    import json

    kpis = kpi_panel(df).select(
        F.struct("avg_throughput_mbps", "p95_latency_ms", "avg_drop_rate").alias(
            "kpis"
        )
    )
    hot = (
        hotspot_panels(df)["worst_latency"]
        .agg(F.collect_list(F.struct("cell_id", "p95_latency_ms")).alias("hotspots"))
    )
    anom = anomaly_panel(df).agg(
        F.collect_list(F.struct("cell_id", "max_anom_z")).alias("anomalies")
    )
    ctx = kpis.crossJoin(hot).crossJoin(anom)
    if predictions is not None:
        preds = (
            predictions.select("cell_id", "pred_prob")
            .orderBy(F.col("pred_prob").desc(), "cell_id")
            .limit(20)
            .agg(F.collect_list(F.struct("cell_id", "pred_prob")).alias("predictions"))
        )
        ctx = ctx.crossJoin(preds)
    else:
        ctx = ctx.withColumn("predictions", F.array())
    ctx = ctx.withColumn(
        "model_meta", F.lit(json.dumps(model_meta or {}, sort_keys=True, default=str))
    )
    payload = F.to_json(
        F.struct("kpis", "hotspots", "anomalies", "predictions", "model_meta")
    )
    return ctx.select(
        payload.alias("context_json"),
        F.sha2(payload, 256).alias("context_hash"),
    )


def build_history_features(df: DataFrame) -> DataFrame:
    """M1 feature pipeline over ALL rows (the training-side variant):
    hour-floor → hour-of-day ``latency_ms`` z-baseline → per-cell trailing
    3-row rolling mean/std/diff of each of ``BASE_FEATURES`` → calendar
    feats. ``build_latest_features`` is this plan's
    latest-hour slice.

    The reference needs a grouped ``apply`` + positional repair (J4); here
    plain window functions keep keys intact and Python never runs.
    """
    use = (
        df.withColumn("ts", F.date_trunc("hour", F.col("timestamp")))
        .filter(F.col("ts").isNotNull() & F.col("cell_id").isNotNull())
        .withColumn("hour", F.hour("ts"))
    )
    base = (
        use.groupBy("hour")
        .agg(
            F.avg("latency_ms").alias("b_mean"),
            F.stddev_samp("latency_ms").alias("b_std"),
        )
        .withColumn("b_std", zero_guard(F.col("b_std")))
    )
    use = baseline_join(use, base, ["hour"]).withColumn(
        "z_bad", (F.col("latency_ms") - F.col("b_mean")) / F.col("b_std")
    )
    present = [c for c in BASE_FEATURES if c in use.columns]
    roll_w = Window.partitionBy("cell_id").orderBy("ts", "timestamp").rowsBetween(-2, 0)
    seq_w = Window.partitionBy("cell_id").orderBy("ts", "timestamp")
    for c in present:
        col = F.col(c)
        use = (
            use.withColumn(f"{c}_rmean", F.avg(col).over(roll_w))
            .withColumn(
                f"{c}_rstd", F.coalesce(F.stddev_samp(col).over(roll_w), F.lit(0.0))
            )
            .withColumn(
                f"{c}_rdiff", F.coalesce(col - F.lag(col, 1).over(seq_w), F.lit(0.0))
            )
        )
    return use.withColumn("dow", pandas_dow(F.col("ts"))).withColumn(
        "is_weekend", is_weekend(F.col("ts"))
    )


def build_latest_features(df: DataFrame) -> DataFrame:
    """M1 feature builder (``_build_latest_features``,
    streamlit_app.py:667-715): the history pipeline sliced to the latest
    hour (P12) — the inference-time frame."""
    return latest_snapshot(build_history_features(df), "ts")
