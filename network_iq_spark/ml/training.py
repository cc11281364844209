"""Training job for the next-hour congestion model (SURVEY.md §2.9 M2/M4/M6).

Re-derives the reference's absent ``scripts/train_next_hour.py`` Spark-first:

- **M2 preprocessing**: ``StandardScaler`` over the numeric features +
  ``OneHotEncoder(handleInvalid="keep")`` over (tech, band) — the Spark ML
  twins of the reference bundle's ColumnTransformer (handle_unknown=ignore).
- **Estimator**: import-guarded — ``make_estimator`` slots
  ``xgboost.spark.SparkXGBClassifier(**XGB_PARAMS)`` (the reference's
  selected config: 200 trees, depth 8, lr 0.1, hist) into the pipeline
  wherever xgboost imports, and falls back to LogisticRegression in this
  container (no xgboost available). The bundle sidecar records which
  estimator trained it plus the reference's AUC/KS comparison table.
- **M4 metadata**: metrics (AUC/AP via evaluators), label_rule, trained_at
  — persisted as a JSON sidecar next to the PipelineModel, mirroring the
  reference's joblib-bundle dict {model, num_cols, cat_cols, label_rule,
  trained_at, metrics}.
- **M5 introspection**: top-|coefficient| features (the reference attempts
  ``clf.coef_`` and degrades on tree models — we expose the same view).
"""

from __future__ import annotations

import datetime
import json
import os
from collections.abc import Sequence

from pyspark.ml import Pipeline, PipelineModel
from pyspark.ml.classification import LogisticRegression
from pyspark.ml.evaluation import BinaryClassificationEvaluator
from pyspark.ml.feature import OneHotEncoder, StandardScaler, StringIndexer, VectorAssembler
from pyspark.sql import DataFrame

from network_iq_spark.plans.telemetry import BASE_FEATURES

# Reference XGB hyperparams (bundle binary, BASELINE.md) — for parity
# retraining wherever xgboost.spark is installed.
XGB_PARAMS = {
    "n_estimators": 200,
    "max_depth": 8,
    "learning_rate": 0.1,
    "tree_method": "hist",
    "subsample": 1.0,
    "colsample_bytree": 1.0,
    "objective": "binary:logistic",
    "eval_metric": "logloss",
    "random_state": 42,
    # bundle clf records scale_pos_weight = 31/29 (train neg/pos); pass the
    # ratio computed from the actual training labels, this value is the
    # reference run's.
    "scale_pos_weight": 1.0689655172413792,
}

# Reference model-comparison table (ref README.md:34-38) — recorded in the
# bundle sidecar so a retrained bundle carries the parity target with it.
REFERENCE_MODEL_COMPARISON = {
    "logistic_regression": {"auc": 0.74, "ks": 0.28},
    "random_forest": {"auc": 0.81, "ks": 0.36},
    "xgboost": {"auc": 0.86, "ks": 0.42},  # the reference's selected model
}


def make_estimator() -> tuple[object, str]:
    """(estimator, name) over ``features_vec`` and ``label``:
    ``SparkXGBClassifier(**XGB_PARAMS)`` wherever
    xgboost.spark imports (M6 parity — the reference ships an XGB bundle),
    else the LogisticRegression fallback. Both are pyspark.ml Estimators,
    so either slots into the same Pipeline unchanged; the distributed XGB
    trainer runs one barrier-mode task per partition, so at scale
    repartition the training frame to the executor count first."""
    try:
        from xgboost.spark import SparkXGBClassifier  # type: ignore
    except ImportError:
        return (
            LogisticRegression(
                featuresCol="features_vec",
                labelCol="label",
                probabilityCol="probability",
            ),
            "logistic_regression",
        )
    return (
        SparkXGBClassifier(
            features_col="features_vec", label_col="label", **XGB_PARAMS
        ),
        "xgboost",
    )


# mirrors the reference bundle's num_cols layout exactly: 7 base metrics
# interleaved as (raw, rmean, rstd, rdiff) = 28, + z_bad/b_mean/b_std/
# hour/dow/is_weekend = 34 numeric columns, in the bundle's own order
# (bundle num_cols / scaler feature_names_in_; tests/test_reference_bundle.py)
NUM_FEATURES: tuple[str, ...] = tuple(
    [
        name
        for c in BASE_FEATURES
        for name in (c, f"{c}_rmean", f"{c}_rstd", f"{c}_rdiff")
    ]
    + ["z_bad", "b_mean", "b_std", "hour", "dow", "is_weekend"]
)
CAT_FEATURES: tuple[str, ...] = ("tech", "band")


def build_pipeline(
    num_cols: Sequence[str] = NUM_FEATURES, cat_cols: Sequence[str] = CAT_FEATURES
) -> Pipeline:
    stages = []
    ohe_outputs = []
    for c in cat_cols:
        stages.append(
            StringIndexer(inputCol=c, outputCol=f"{c}_idx", handleInvalid="keep")
        )
        stages.append(
            OneHotEncoder(
                inputCol=f"{c}_idx", outputCol=f"{c}_ohe", handleInvalid="keep"
            )
        )
        ohe_outputs.append(f"{c}_ohe")
    stages.append(
        VectorAssembler(
            inputCols=list(num_cols), outputCol="num_vec", handleInvalid="keep"
        )
    )
    stages.append(
        StandardScaler(inputCol="num_vec", outputCol="num_scaled", withMean=True)
    )
    stages.append(
        VectorAssembler(
            inputCols=["num_scaled", *ohe_outputs], outputCol="features_vec"
        )
    )
    est, _ = make_estimator()
    stages.append(est)
    return Pipeline(stages=stages)


def train_next_hour(labeled: DataFrame) -> tuple[PipelineModel, dict]:
    """Fit the pipeline on the ``NUM_FEATURES`` and ``CAT_FEATURES`` columns
    ``labeled`` carries; return (model, bundle-metadata with metrics)."""
    present_num = [c for c in NUM_FEATURES if c in labeled.columns]
    present_cat = [c for c in CAT_FEATURES if c in labeled.columns]
    train = labeled.na.fill(0.0, subset=present_num).na.fill(
        "missing", subset=present_cat
    )
    model = build_pipeline(present_num, present_cat).fit(train)
    scored = model.transform(train)
    auc = BinaryClassificationEvaluator(
        labelCol="label", rawPredictionCol="rawPrediction", metricName="areaUnderROC"
    ).evaluate(scored)
    ap = BinaryClassificationEvaluator(
        labelCol="label", rawPredictionCol="rawPrediction", metricName="areaUnderPR"
    ).evaluate(scored)
    n = train.count()
    positives = int(train.agg({"label": "sum"}).collect()[0][0] or 0)
    metrics = {"auc": auc, "ap": ap, "n": n, "positives": positives}
    metrics.update(precision_recall_at_k(scored))
    _, est_name = make_estimator()
    meta = {
        "estimator": est_name,
        "reference_model_comparison": REFERENCE_MODEL_COMPARISON,
        "num_cols": present_num,
        "cat_cols": present_cat,
        "label_rule": {
            "metric": "latency_ms",
            "q": 0.8,
            "hi_bad_primary": True,
            # the reference bundle's label_rule carries the composite metric
            # trio alongside the primary (hi-bad latency, hi-bad drop_rate,
            # lo-bad throughput)
            "composite": ["drop_rate", "latency_ms", "throughput_mbps"],
        },
        "trained_at": datetime.datetime.now(datetime.timezone.utc).isoformat(),
        "metrics": metrics,
    }
    return model, meta


def precision_recall_at_k(scored: DataFrame) -> dict[str, float]:
    """M4 bundle metrics parity: P@k / R@k for k in 10 and 20, keyed
    ``p_at_k``/``r_at_k`` exactly like the reference bundle's metrics dict
    (data/models/next_hour_congestion.joblib: p_at_10/r_at_10/p_at_20/
    r_at_20). Top-k by predicted P(label=1); one TakeOrderedAndProject of
    20 rows plus one scalar agg — no full collect.

    Tied scores (duplicate feature rows) order negatives first — a
    DETERMINISTIC, conservative tie-break; a bare ``orderBy(p1).limit(k)``
    would pick among ties by partition order and flap run-to-run.  NaN
    scores (un-scoreable feature rows) are excluded: Spark sorts NaN as
    LARGEST, so without the filter they'd crowd out every real top-k row."""
    from pyspark.ml.functions import vector_to_array
    from pyspark.sql import functions as F

    total_pos = scored.agg(
        F.sum(F.col("label").cast("double")).alias("p")
    ).first()["p"] or 0.0
    top = (
        scored.select(
            F.col("label").cast("double").alias("y"),
            vector_to_array("probability").getItem(1).alias("p1"),
        )
        .filter(F.col("p1").isNotNull() & ~F.isnan("p1"))
        .orderBy(F.col("p1").desc(), F.col("y").asc())
        .limit(20)
        .collect()
    )
    out: dict[str, float] = {}
    for k in (10, 20):
        hits = sum(r.y for r in top[:k])
        out[f"p_at_{k}"] = hits / k
        out[f"r_at_{k}"] = (hits / total_pos) if total_pos else 0.0
    return out


def top_coefficients(model: PipelineModel, k: int = 15) -> list[tuple[str, float]]:
    """M5: top-k features by |coefficient|, with real slot names — scaled
    numerics keep their column names, one-hot slots expand to
    ``col=category`` via each fitted StringIndexer's labels (logistic only;
    tree models degrade gracefully like the reference's except-guard,
    streamlit_app.py:874-891)."""
    from pyspark.ml.feature import OneHotEncoderModel, StringIndexerModel

    lr = model.stages[-1]
    if not hasattr(lr, "coefficients"):
        return []
    coefs = list(lr.coefficients)
    labels: list[str] = list(model.stages[-4].getInputCols())  # scaled numerics
    indexers = {
        s.getOutputCol(): s
        for s in model.stages
        if isinstance(s, StringIndexerModel)
    }
    for s in model.stages:
        if isinstance(s, OneHotEncoderModel):
            idx = indexers[s.getInputCol()]
            col = idx.getInputCol()
            cats = list(idx.labels)
            # handleInvalid=keep appends an invalid bucket AND suppresses
            # dropLast (Spark keeps all slots then); otherwise dropLast
            # removes the final category slot
            drop = 1 if s.getDropLast() and s.getHandleInvalid() != "keep" else 0
            n_slots = s.categorySizes[0] - drop
            slot_names = ([f"{col}={c}" for c in cats] + [f"{col}=<invalid>"])[
                :n_slots
            ]
            labels.extend(slot_names)
    if len(labels) != len(coefs):  # defensive: never misattribute a weight
        labels = [f"f{i}" for i in range(len(coefs))]
    ranked = sorted(zip(labels, coefs), key=lambda t: -abs(t[1]))
    return [(n, float(c)) for n, c in ranked[:k]]


def export_bundle(model: PipelineModel, meta: dict, path: str) -> None:
    """Persist PipelineModel + JSON sidecar (the Spark twin of the
    reference's joblib bundle)."""
    model.write().overwrite().save(os.path.join(path, "model"))
    with open(os.path.join(path, "bundle.json"), "w") as f:
        json.dump(meta, f, indent=2)


def load_bundle(spark, path: str) -> tuple[PipelineModel, dict]:
    model = PipelineModel.load(os.path.join(path, "model"))
    with open(os.path.join(path, "bundle.json")) as f:
        meta = json.load(f)
    return model, meta
