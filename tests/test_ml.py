"""ML tier: label derivation, training pipeline, bundle export/load, and the
two scoring paths (Spark ML transform vs broadcast-bundle pandas UDF)."""

from __future__ import annotations

import numpy as np
import pytest

from tests.telemetry_fixture import telemetry_pdf


@pytest.fixture(scope="module")
def features(spark):
    from network_iq_spark.plans import build_history_features

    tdf = spark.createDataFrame(telemetry_pdf())
    use = build_history_features(tdf)
    use.persist().count()
    yield use
    use.unpersist()


def test_derive_labels(features):
    from network_iq_spark.ml import derive_labels

    labeled = derive_labels(features, "latency_ms", q=0.8)
    n_cells = features.select("cell_id").distinct().count()
    # one row per cell drops (no next hour)
    assert labeled.count() == features.count() - n_cells
    rate = labeled.agg({"label": "avg"}).collect()[0][0]
    assert 0.1 < rate < 0.35  # q=0.8 ⇒ ~20% positives


def test_train_score_roundtrip(spark, features, tmp_path):
    from network_iq_spark.ml import (
        derive_labels,
        export_bundle,
        score_with_model,
        train_next_hour,
    )
    from network_iq_spark.ml.training import load_bundle, top_coefficients

    labeled = derive_labels(features, "latency_ms", q=0.8)
    model, meta = train_next_hour(labeled)
    assert meta["metrics"]["auc"] > 0.55  # better than chance on train
    assert meta["metrics"]["positives"] > 0

    scored = score_with_model(model, labeled)
    probs = [r.pred_prob for r in scored.select("pred_prob").collect()]
    assert all(0.0 <= p <= 1.0 for p in probs)

    coefs = top_coefficients(model, k=5)
    assert len(coefs) == 5 and all(isinstance(c, float) for _, c in coefs)
    # names must be REAL feature/slot names, not positional fallbacks
    known = set(model.stages[-4].getInputCols())
    assert all(n in known or "=" in n for n, _ in coefs), coefs

    path = str(tmp_path / "bundle")
    export_bundle(model, meta, path)
    model2, meta2 = load_bundle(spark, path)
    assert meta2["metrics"]["auc"] == pytest.approx(meta["metrics"]["auc"])
    p2 = [r.pred_prob for r in score_with_model(model2, labeled).select("pred_prob").collect()]
    assert p2 == pytest.approx(probs)


def test_bundle_pandas_udf_matches_formula(spark):
    """The broadcast-bundle pandas UDF must equal the closed-form logistic
    scored locally on the same matrix."""
    from network_iq_spark.ml.scoring import make_numpy_bundle, score_with_bundle

    rng = np.random.default_rng(3)
    n, d = 500, 4
    x = rng.normal(size=(n, d))
    cols = [f"x{i}" for i in range(d)]
    pdf = {c: x[:, i] for i, c in enumerate(cols)}
    import pandas as pd

    df = spark.createDataFrame(pd.DataFrame(pdf))
    bundle = make_numpy_bundle(
        means=x.mean(axis=0), scales=x.std(axis=0, ddof=0),
        coefs=rng.normal(size=d), intercept=0.3, num_cols=cols,
    )
    got = np.array(
        [r.pred_prob for r in score_with_bundle(df, bundle).select("pred_prob").collect()]
    )
    z = (x - bundle["means"]) / bundle["scales"]
    want = 1 / (1 + np.exp(-(z @ bundle["coefs"] + bundle["intercept"])))
    # Spark preserves row order only via re-collect with the same plan; sort
    np.testing.assert_allclose(np.sort(got), np.sort(want), rtol=1e-12)


def test_precision_recall_at_k_math(spark, features):
    from network_iq_spark.ml import derive_labels, train_next_hour
    from network_iq_spark.ml.training import precision_recall_at_k
    from pyspark.ml.functions import vector_to_array
    from pyspark.sql import functions as F

    labeled = derive_labels(features, "latency_ms", q=0.8)
    model, meta = train_next_hour(labeled)
    # meta carries the bundle's metric keys (M4 parity)
    assert {"p_at_10", "r_at_10", "p_at_20", "r_at_20"} <= set(meta["metrics"])
    # recompute from the scored frame by hand
    scored = model.transform(labeled)
    pdf = (
        scored.select(
            F.col("label").cast("double").alias("y"),
            vector_to_array("probability").getItem(1).alias("p1"),
        )
        .toPandas()
    )
    total_pos = pdf["y"].sum()  # ALL positives, even NaN-scored ones
    pdf = pdf.dropna(subset=["p1"]).sort_values(
        ["p1", "y"], ascending=[False, True], kind="mergesort"
    )
    out = precision_recall_at_k(scored)
    for k in (10, 20):
        hits = pdf["y"].head(k).sum()
        assert out[f"p_at_{k}"] == pytest.approx(hits / k)
        assert out[f"r_at_{k}"] == pytest.approx(hits / total_pos)


@pytest.mark.skipif(
    __import__("importlib").util.find_spec("xgboost") is None,
    reason="xgboost not installed in this container (M6: parity training runs where it is)",
)
def test_xgb_parity_training(spark, features):
    """M6: where xgboost imports, make_estimator slots SparkXGBClassifier
    (**XGB_PARAMS) into the TRAINING pipeline itself — not a side demo —
    and train_next_hour's sidecar records estimator='xgboost' next to the
    reference AUC/KS table (target AUC 0.86, ref README.md:34-38).
    Skipped in this container; collected so the contract is visible."""
    from xgboost.spark import SparkXGBClassifier

    from network_iq_spark.ml import derive_labels
    from network_iq_spark.ml.training import make_estimator, train_next_hour

    est, name = make_estimator()
    assert name == "xgboost" and isinstance(est, SparkXGBClassifier)
    labeled = derive_labels(features, "latency_ms", q=0.8)
    model, meta = train_next_hour(labeled)
    assert meta["estimator"] == "xgboost"
    assert meta["reference_model_comparison"]["xgboost"]["auc"] == 0.86
    preds = model.transform(labeled)
    assert preds.filter("probability is not null").count() == labeled.count()


def test_estimator_fallback_and_sidecar_parity_table(spark, features):
    """Always-on twin of the skipif test: whichever estimator make_estimator
    resolves to, train_next_hour's sidecar must say which one trained the
    bundle and carry the reference comparison table for the parity check."""
    import importlib.util

    from network_iq_spark.ml import derive_labels
    from network_iq_spark.ml.training import (
        REFERENCE_MODEL_COMPARISON,
        make_estimator,
        train_next_hour,
    )

    have_xgb = importlib.util.find_spec("xgboost") is not None
    _, name = make_estimator()
    assert name == ("xgboost" if have_xgb else "logistic_regression")
    labeled = derive_labels(features, "latency_ms", q=0.8)
    _, meta = train_next_hour(labeled)
    assert meta["estimator"] == name
    assert meta["reference_model_comparison"] == REFERENCE_MODEL_COMPARISON
    assert meta["reference_model_comparison"]["xgboost"] == {
        "auc": 0.86, "ks": 0.42,
    }
