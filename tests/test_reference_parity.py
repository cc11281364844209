"""Reference-parity goldens (SURVEY.md §5): re-implement the reference's
pandas dataflows as oracles and assert the Spark plans agree on the telemetry
fixture — this pins the pandas semantic edges (ddof, centered frames,
NaN-comparison-is-False, zero-std guard, quantile interpolation, weekend
mapping) that SQL engines get subtly wrong.

Oracle implementations follow streamlit_app.py semantics (sites cited) —
re-derived from the surveyed behavior, not copied code.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from tests.telemetry_fixture import telemetry_pdf

REL = 1e-9


@pytest.fixture(scope="module")
def pdf() -> pd.DataFrame:
    return telemetry_pdf()


@pytest.fixture(scope="module")
def tdf(spark, pdf):
    df = spark.createDataFrame(pdf)
    df.persist()
    df.count()
    yield df
    df.unpersist()


def _sorted_records(df, keys):
    out = df if isinstance(df, pd.DataFrame) else df.toPandas()
    return out.sort_values(keys).reset_index(drop=True)


def assert_frames_close(sdf, expected: pd.DataFrame, keys):
    got = _sorted_records(sdf, keys)
    want = _sorted_records(expected, keys)
    assert list(got.columns).sort() == list(want.columns).sort()
    assert len(got) == len(want), f"{len(got)} vs {len(want)} rows"
    for c in want.columns:
        g, w = got[c], want[c]
        if w.dtype.kind == "f":
            np.testing.assert_allclose(g.astype(float), w.astype(float), rtol=REL, equal_nan=True)
        else:
            assert g.tolist() == w.tolist(), f"column {c}"


# ---------------------------------------------------------------------------


def test_kpi_panel(tdf, pdf):
    """streamlit_app.py:257-302: means, P95, NaN-masks-are-False rates."""
    from network_iq_spark.plans import kpi_panel

    promoter = (
        (pdf.throughput_mbps >= 150) & (pdf.latency_ms <= 50) & (pdf.drop_rate <= 1.0)
    ).mean()
    detractor = (
        (pdf.throughput_mbps < 100) | (pdf.latency_ms > 80) | (pdf.drop_rate > 2.0)
    ).mean()
    row = kpi_panel(tdf).collect()[0]
    assert row.avg_throughput_mbps == pytest.approx(pdf.throughput_mbps.mean(), rel=REL)
    assert row.p95_latency_ms == pytest.approx(pdf.latency_ms.quantile(0.95), rel=REL)
    assert row.promoter_rate == pytest.approx(promoter, rel=REL)
    assert row.detractor_rate == pytest.approx(detractor, rel=REL)
    assert row.nps_proxy == pytest.approx(100 * (promoter - detractor), rel=1e-6)
    assert row.n_rows == len(pdf)


def test_hourly_panel_centered_smoothing(tdf, pdf):
    """streamlit_app.py:320-375: hourly mean + rolling(center=True,
    min_periods=1) + row-grain quantile flags. Windows 3 (odd) and 4 (even —
    asymmetric frame)."""
    from network_iq_spark.plans import hourly_panel

    for w in (3, 4):
        hourly = (
            pdf.assign(hour=pdf.timestamp.dt.hour)
            .groupby("hour")["latency_ms"]
            .mean()
            .reset_index(name="avg_value")
            .sort_values("hour")
        )
        hourly["smoothed"] = (
            hourly["avg_value"].rolling(w, center=True, min_periods=1).mean()
        )
        thr = pdf.latency_ms.quantile(0.9)
        hourly["risky"] = hourly["avg_value"] >= thr
        got = hourly_panel(tdf, "latency_ms", smooth_window=w)
        assert_frames_close(got, hourly, ["hour"])


def test_hotspot_panels(tdf, pdf):
    from network_iq_spark.plans import hotspot_panels

    panels = hotspot_panels(tdf, k=3)
    per_cell = pdf.groupby("cell_id").agg(
        p95_latency_ms=("latency_ms", lambda s: s.quantile(0.95)),
        avg_throughput_mbps=("throughput_mbps", "mean"),
        avg_drop_rate=("drop_rate", "mean"),
    )
    want = (
        per_cell["p95_latency_ms"]
        .sort_values(ascending=False)
        .head(3)
        .reset_index()
    )
    assert_frames_close(panels["worst_latency"], want, ["cell_id"])
    want = (
        per_cell["avg_throughput_mbps"].sort_values(ascending=True).head(3).reset_index()
    )
    assert_frames_close(panels["worst_throughput"], want, ["cell_id"])


def test_anomaly_panel(tdf, pdf):
    """streamlit_app.py:516-552: hour-of-day baseline (ddof=1, 0→1e-9),
    per-cell max z, top-k."""
    from network_iq_spark.plans import anomaly_panel

    use = pdf.assign(hour=pdf.timestamp.dt.hour)
    base = use.groupby("hour")["latency_ms"].agg(["mean", "std"]).reset_index()
    base.columns = ["hour", "base_mean", "base_std"]
    merged = use.merge(base, on="hour", how="left")
    merged["base_std"] = merged["base_std"].replace(0, 1e-9)
    merged["z"] = (merged["latency_ms"] - merged["base_mean"]) / merged["base_std"]
    want = (
        merged.groupby("cell_id")["z"]
        .max()
        .reset_index(name="max_anom_z")
        .sort_values("max_anom_z", ascending=False)
        .head(10)
    )
    assert_frames_close(anomaly_panel(tdf), want, ["cell_id"])
    # std==0 hour must have fired the 1e-9 guard (constant-latency hour 3)
    assert (base.loc[base.hour == 3, "base_std"] == 0).all()


def test_incident_panel(tdf, pdf):
    """streamlit_app.py:554-625 with the A15 scope rule: threshold from ROW
    grain, flag at cell-hour AGG grain; z vs hour-of-day baseline."""
    from network_iq_spark.plans import incident_panel

    scope = pdf.assign(ts=pdf.timestamp.dt.floor("h"))
    agg = (
        scope.groupby(["cell_id", "ts"])["latency_ms"]
        .mean()
        .reset_index(name="value")
        .dropna(subset=["value"])
    )
    thr = scope["latency_ms"].quantile(0.95)
    agg["risky"] = agg["value"] >= thr
    scope["hour"] = scope.timestamp.dt.hour
    base = scope.groupby("hour")["latency_ms"].agg(["mean", "std"]).reset_index()
    base.columns = ["hour", "base_mean", "base_std"]
    agg["hour"] = agg["ts"].dt.hour
    agg = agg.merge(base, on="hour", how="left")
    agg["base_std"] = agg["base_std"].replace(0, 1e-9)
    agg["anom_z"] = (agg["value"] - agg["base_mean"]) / agg["base_std"]
    want = (
        agg.loc[agg["risky"], ["cell_id", "ts", "value", "anom_z"]]
        .rename(columns={"ts": "hour_ts"})
        .sort_values("anom_z", ascending=False)
        .head(50)
    )
    got = incident_panel(tdf, q=0.95)
    assert_frames_close(got, want, ["cell_id", "hour_ts"])


def test_build_latest_features(tdf, pdf):
    """streamlit_app.py:667-715: the full M1 feature plan — z-baseline,
    per-cell trailing rolling (ddof=1, fills), weekend flag, latest slice."""
    from network_iq_spark.plans import build_latest_features

    use = pdf.assign(ts=pdf.timestamp.dt.floor("h")).sort_values(["cell_id", "ts"])
    use["hour"] = use["ts"].dt.hour
    base = use.groupby("hour")["latency_ms"].agg(["mean", "std"]).reset_index()
    base.columns = ["hour", "b_mean", "b_std"]
    use = use.merge(base, on="hour", how="left")
    use["b_std"] = use["b_std"].replace(0, 1e-9)
    use["z_bad"] = (use["latency_ms"] - use["b_mean"]) / use["b_std"]
    feats = ["throughput_mbps", "latency_ms", "drop_rate", "jitter_ms",
             "rsrp_dbm", "rsrq_db", "sinr_db"]
    for c in feats:
        g = use.groupby("cell_id")[c]
        use[f"{c}_rmean"] = g.transform(lambda s: s.rolling(3, min_periods=1).mean())
        use[f"{c}_rstd"] = g.transform(
            lambda s: s.rolling(3, min_periods=1).std().fillna(0.0)
        )
        use[f"{c}_rdiff"] = g.transform(lambda s: s.diff().fillna(0.0))
    use["is_weekend"] = (use["ts"].dt.dayofweek >= 5).astype(int)
    latest = use[use["ts"] == use["ts"].max()]

    got = build_latest_features(tdf).toPandas()
    assert len(got) == len(latest)
    cols = (
        ["z_bad", "b_mean", "b_std", "hour", "is_weekend"]
        + [f"{c}_{s}" for c in feats for s in ("rmean", "rstd", "rdiff")]
    )
    want = latest[["cell_id"] + cols]
    assert_frames_close(got[["cell_id"] + cols], want, ["cell_id"])
