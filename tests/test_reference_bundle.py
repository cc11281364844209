"""Parity tests against the reference's SHIPPED model artifact (M3/M4/M6).

The reference repo ships ``data/models/next_hour_congestion.joblib`` and
consumes it at streamlit_app.py:727-737 (``bundle["model"].predict_proba``).
These tests load that exact file structurally (no sklearn/xgboost in this
container), assert the engine's training contract matches it field-for-field,
and exercise a from-scratch numpy re-execution of its predict_proba over
Spark.

The booster-traversal math itself is verified against hand-built boosters
with known answers (no external library needed as an oracle).
"""

from __future__ import annotations

import os
import struct

import numpy as np
import pandas as pd
import pytest

from network_iq_spark.ml import ubjson
from network_iq_spark.ml.reference_bundle import load_reference_bundle
from network_iq_spark.ml.training import CAT_FEATURES, NUM_FEATURES, XGB_PARAMS
from network_iq_spark.ml.xgb_scorer import BoosterScorer, ReferenceScorer, sigmoid32

BUNDLE = "/root/reference/data/models/next_hour_congestion.joblib"
# the reference repo ships its curated parquet beside data/models/
CURATED = os.path.join(os.path.dirname(os.path.dirname(BUNDLE)), "curated", "parquet")


def _needs(*paths: str):
    """Skip unless the reference repo's shipped artifacts are present; the
    synthetic-booster and ubjson tests below need none of them."""
    missing = [p for p in paths if not os.path.exists(p)]
    return pytest.mark.skipif(
        bool(missing),
        reason="reference artifact not present: " + ", ".join(missing),
    )


needs_bundle = _needs(BUNDLE)
needs_bundle_and_data = _needs(BUNDLE, CURATED)


@pytest.fixture(scope="module")
def bundle():
    return load_reference_bundle(BUNDLE)


# ---------------------------------------------------------------- ubjson


def _ub_str(s: str) -> bytes:
    return b"L" + struct.pack(">q", len(s)) + s.encode()


def _ub_obj(pairs: list[tuple[str, bytes]]) -> bytes:
    return b"{" + b"".join(_ub_str(k) + v for k, v in pairs) + b"}"


def _ub_f32_array(vals) -> bytes:
    a = np.asarray(vals, dtype=">f4")
    return b"[$d#" + b"L" + struct.pack(">q", len(a)) + a.tobytes()


def _ub_i32_array(vals) -> bytes:
    a = np.asarray(vals, dtype=">i4")
    return b"[$l#" + b"L" + struct.pack(">q", len(a)) + a.tobytes()


def _ub_u8_array(vals) -> bytes:
    a = np.asarray(vals, dtype=">u1")
    return b"[$U#" + b"L" + struct.pack(">q", len(a)) + a.tobytes()


def test_ubjson_scalars_and_containers():
    doc = _ub_obj(
        [
            ("s", b"S" + _ub_str("hello")),
            ("i", b"i" + struct.pack(">b", -5)),
            ("L", b"L" + struct.pack(">q", 1 << 40)),
            ("d", b"d" + struct.pack(">f", 1.5)),
            ("D", b"D" + struct.pack(">d", -2.25)),
            ("t", b"T"),
            ("f", b"F"),
            ("z", b"Z"),
            ("arr", b"[" + b"i\x01" + b"i\x02" + b"]"),
            ("typed", _ub_f32_array([1.0, 2.0, 3.0])),
        ]
    )
    out = ubjson.loads(doc)
    assert out["s"] == "hello"
    assert out["i"] == -5
    assert out["L"] == 1 << 40
    assert out["d"] == 1.5
    assert out["D"] == -2.25
    assert out["t"] is True and out["f"] is False and out["z"] is None
    assert out["arr"] == [1, 2]
    np.testing.assert_array_equal(out["typed"], np.array([1, 2, 3], dtype=np.float32))


@needs_bundle
def test_ubjson_decodes_the_real_booster_blob(bundle):
    blob = bundle["model"].steps[1][1].__dict__["_Booster"].__dict__["handle"]
    doc = ubjson.loads(blob)
    model = doc["Model"]["learner"]["gradient_booster"]["model"]
    assert model["gbtree_model_param"]["num_trees"] == "200"
    assert len(model["trees"]) == 200
    assert doc["Model"]["learner"]["objective"]["name"] == "binary:logistic"
    t0 = model["trees"][0]
    n = int(t0["tree_param"]["num_nodes"])
    for key in ("left_children", "right_children", "split_indices", "split_conditions"):
        assert len(t0[key]) == n


# ---------------------------------------------------- booster traversal math


def _toy_booster(trees: list[dict], base_score: float = 0.5) -> BoosterScorer:
    """Assemble a BoosterScorer from literal node arrays via real UBJSON."""
    tree_bufs = []
    for t in trees:
        nn = len(t["left"])
        tree_bufs.append(
            _ub_obj(
                [
                    ("left_children", _ub_i32_array(t["left"])),
                    ("right_children", _ub_i32_array(t["right"])),
                    ("split_indices", _ub_i32_array(t["feat"])),
                    ("split_conditions", _ub_f32_array(t["cond"])),
                    ("default_left", _ub_u8_array(t["default_left"])),
                    ("categories_nodes", _ub_i32_array([])),
                    ("tree_param", _ub_obj([("num_nodes", b"S" + _ub_str(str(nn)))])),
                ]
            )
        )
    doc = _ub_obj(
        [
            (
                "Model",
                _ub_obj(
                    [
                        (
                            "learner",
                            _ub_obj(
                                [
                                    (
                                        "learner_model_param",
                                        _ub_obj(
                                            [
                                                ("base_score", b"S" + _ub_str(repr(base_score))),
                                                ("num_feature", b"S" + _ub_str("2")),
                                            ]
                                        ),
                                    ),
                                    (
                                        "gradient_booster",
                                        _ub_obj(
                                            [
                                                (
                                                    "model",
                                                    _ub_obj(
                                                        [
                                                            (
                                                                "trees",
                                                                b"["
                                                                + b"".join(tree_bufs)
                                                                + b"]",
                                                            )
                                                        ]
                                                    ),
                                                )
                                            ]
                                        ),
                                    ),
                                ]
                            ),
                        )
                    ]
                ),
            )
        ]
    )
    return BoosterScorer(doc)


def test_single_tree_known_answers():
    # node 0: x[0] < 1.0 ? node1 : node2 ; leaves 0.3 / -0.7 ; missing -> left
    sc = _toy_booster(
        [
            {
                "left": [1, -1, -1],
                "right": [2, -1, -1],
                "feat": [0, 0, 0],
                "cond": [1.0, 0.3, -0.7],
                "default_left": [1, 0, 0],
            }
        ]
    )
    X = np.array([[0.5, 0], [2.0, 0], [np.nan, 0]], dtype=np.float32)
    margin = sc.predict_margin(X)
    np.testing.assert_allclose(margin, [0.3, -0.7, 0.3], rtol=1e-6)
    # base_score 0.5 -> logit 0; proba = sigmoid(leaf)
    np.testing.assert_allclose(
        sc.predict_proba1(X), 1 / (1 + np.exp(-np.array([0.3, -0.7, 0.3]))), rtol=1e-6
    )


def test_default_right_missing_and_boundary():
    # missing -> right; boundary x == cond goes RIGHT (xgboost: left iff x < cond)
    sc = _toy_booster(
        [
            {
                "left": [1, -1, -1],
                "right": [2, -1, -1],
                "feat": [1, 0, 0],
                "cond": [5.0, 1.0, 2.0],
                "default_left": [0, 0, 0],
            }
        ]
    )
    X = np.array([[0, 5.0], [0, np.nan], [0, 4.99]], dtype=np.float32)
    np.testing.assert_allclose(sc.predict_margin(X), [2.0, 2.0, 1.0], rtol=1e-6)


def test_multi_tree_sum_and_base_margin():
    t = {
        "left": [-1],
        "right": [-1],
        "feat": [0],
        "cond": [0.25],
        "default_left": [0],
    }
    sc = _toy_booster([t, t, t], base_score=0.8)
    X = np.zeros((1, 2), dtype=np.float32)
    expect = 3 * 0.25 + np.log(0.8 / 0.2)
    np.testing.assert_allclose(sc.predict_margin(X), [expect], rtol=1e-6)
    assert sc.predict_proba1(X).dtype == np.float32


def test_sigmoid32_matches_float32_reference():
    x = np.array([-10, -1, 0, 1, 10], dtype=np.float32)
    expect = (1.0 / (1.0 + np.exp(-x.astype(np.float64)))).astype(np.float32)
    np.testing.assert_allclose(sigmoid32(x), expect, rtol=2e-7)


# ----------------------------------------------------- bundle structure (M4)


@needs_bundle
def test_bundle_contract_matches_training_module(bundle):
    assert sorted(bundle.keys()) == sorted(
        ["model", "num_cols", "cat_cols", "label_rule", "trained_at", "metrics"]
    )
    # feature layout parity — exact order, not just set equality
    assert bundle["num_cols"] == list(NUM_FEATURES)
    assert bundle["cat_cols"] == list(CAT_FEATURES)
    # label rule parity
    lr = bundle["label_rule"]
    assert lr["metric"] == "latency_ms"
    assert lr["q"] == 0.8
    assert lr["hi_bad_primary"] is True
    assert lr["composite"] == ["drop_rate", "latency_ms", "throughput_mbps"]
    # metrics-key parity with train_next_hour's meta (M4: p@k/r@k present)
    assert set(bundle["metrics"]) == {
        "auc",
        "ap",
        "n",
        "positives",
        "p_at_10",
        "r_at_10",
        "p_at_20",
        "r_at_20",
    }


@needs_bundle
def test_bundle_xgb_config_matches_recorded_params(bundle):
    clf = dict(bundle["model"].steps)["clf"].__dict__
    for k in (
        "n_estimators",
        "max_depth",
        "learning_rate",
        "tree_method",
        "subsample",
        "colsample_bytree",
        "objective",
        "eval_metric",
        "random_state",
        "scale_pos_weight",
    ):
        assert clf[k] == XGB_PARAMS[k], k


@needs_bundle
def test_bundle_preprocessing_shape(bundle):
    pre = dict(bundle["model"].steps)["pre"].__dict__
    # num block feeds slots 0..33, cat block 34..39 — the 40-feature layout
    # score_with_reference_bundle reproduces
    assert pre["output_indices_"]["num"] == slice(0, 34)
    assert pre["output_indices_"]["cat"] == slice(34, 40)
    sc = ReferenceScorer(load_reference_bundle(BUNDLE))
    assert sc.scale.shape == (34,)
    assert [list(c) for c in sc.categories] == [["4G", "5G"], ["B2", "B66", "n41", "n77"]]
    assert sc.booster.num_feature == 40


# ------------------------------------------------- end-to-end scoring parity


def _reference_feature_frame() -> pd.DataFrame:
    """The reference's _build_latest_features (streamlit_app.py:667-715)
    replayed in pandas over its own curated parquet — full history, so every
    row is scoreable."""
    import pyarrow.dataset as ds

    use = (
        ds.dataset(CURATED, format="parquet", partitioning="hive")
        .to_table()
        .to_pandas()
    )
    use["ts"] = pd.to_datetime(use["timestamp"]).dt.floor("h")
    use = use.dropna(subset=["ts", "cell_id"]).sort_values(["cell_id", "ts"])
    use["hour"] = use["ts"].dt.hour
    base = (
        use.groupby("hour")["latency_ms"]
        .agg(["mean", "std"])
        .reset_index()
        .rename(columns={"mean": "b_mean", "std": "b_std"})
    )
    use = use.merge(base, on="hour", how="left")
    use["b_std"] = use["b_std"].replace(0, 1e-9)
    use["z_bad"] = (use["latency_ms"] - use["b_mean"]) / use["b_std"]
    feats = list(
        ("throughput_mbps", "latency_ms", "drop_rate", "jitter_ms", "rsrp_dbm", "rsrq_db", "sinr_db")
    )

    def _roll(g):
        out = g.copy()
        for c in feats:
            r = g[c].rolling(3, min_periods=1)
            out[f"{c}_rmean"] = r.mean()
            out[f"{c}_rstd"] = r.std().fillna(0.0)
            out[f"{c}_rdiff"] = g[c].diff().fillna(0.0)
        return out

    use = use.groupby("cell_id", group_keys=False).apply(_roll, include_groups=True)
    use["dow"] = use["ts"].dt.dayofweek
    use["is_weekend"] = (use["dow"] >= 5).astype(int)
    return use.reset_index(drop=True)


@needs_bundle_and_data
def test_reference_scorer_on_reference_data(bundle):
    pdf = _reference_feature_frame()
    sc = ReferenceScorer(bundle)
    p = sc.predict_proba1(pdf)
    assert p.shape == (600,)
    assert np.all((p > 0) & (p < 1))
    # a 200-tree depth-8 model trained on this data separates scores widely —
    # a wrong traversal collapses toward sigmoid(base_margin)=0.5
    assert p.min() < 0.05 and p.max() > 0.95
    # deterministic
    np.testing.assert_array_equal(p, sc.predict_proba1(pdf))


@needs_bundle_and_data
def test_sparse_missing_semantics_change_scores(bundle):
    """The pipeline feeds xgboost a sparse matrix, so exact-zero features are
    MISSING. Dropping that detail must actually alter predictions on the
    reference's data (one-hot zeros + zero rdiffs hit default-direction
    nodes); this guards the 0->NaN line in _to_matrix."""
    pdf = _reference_feature_frame()
    sc = ReferenceScorer(bundle)
    sparse_p = sc.predict_proba1(pdf)
    X = np.nan_to_num(sc._to_matrix(pdf), nan=0.0)  # undo missing semantics
    dense_p = sc.booster.predict_proba1(X)
    assert not np.allclose(sparse_p, dense_p)


@needs_bundle_and_data
def test_score_with_reference_bundle_spark(spark):
    from network_iq_spark.ml.scoring import score_with_reference_bundle

    pdf = _reference_feature_frame()
    cols = list(NUM_FEATURES) + list(CAT_FEATURES) + ["cell_id", "ts"]
    sdf = spark.createDataFrame(pdf[cols])
    out = score_with_reference_bundle(sdf, BUNDLE)
    got = out.select("cell_id", "ts", "pred_prob").toPandas()
    expect = ReferenceScorer(load_reference_bundle(BUNDLE)).predict_proba1(pdf)
    merged = pdf[["cell_id", "ts"]].assign(expect=expect.astype(np.float64)).merge(
        got, on=["cell_id", "ts"], validate="one_to_one"
    )
    np.testing.assert_allclose(merged["pred_prob"], merged["expect"], rtol=1e-6)
