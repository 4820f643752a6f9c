"""NIL-model training (reference feature_ablation_study.py:365-426 analogue):
the distributed scaler+IRLS fit must reproduce a driver-side NumPy IRLS
oracle on the same data, and the trained weights must flow back through
PipelineConfig into the closed-form nil_columns kernel unchanged."""

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from incremental_entity_extraction_spark.operators.nil import nil_columns
from incremental_entity_extraction_spark.operators.nil_training import fit_nil_model


def _synthetic_features(n=4000, seed=5):
    """Labeled (max_bi, secondiff) table from a known logistic ground truth."""
    rng = np.random.default_rng(seed)
    max_bi = rng.normal(70.0, 15.0, n)
    secondiff = rng.normal(12.0, 12.0, n)
    z = -0.4 + 2.5 * (max_bi - 70.0) / 15.0 + 0.9 * (secondiff - 12.0) / 12.0
    p = 1.0 / (1.0 + np.exp(-z))
    label = rng.random(n) < p
    return pd.DataFrame({"max_bi": max_bi, "secondiff": secondiff, "label": label})


def _numpy_irls(X, y, reg=1e-6, max_iter=25, tol=1e-9):
    """Driver-side oracle: identical math to the distributed fit."""
    mu_x, sd_x = X.mean(0), X.std(0, ddof=1)
    Z = np.column_stack([np.ones(len(X)), (X - mu_x) / sd_x])
    beta = np.zeros(Z.shape[1])
    for _ in range(max_iter):
        m = 1.0 / (1.0 + np.exp(-(Z @ beta)))
        w = m * (1 - m)
        A = Z.T @ (Z * w[:, None])
        g = Z.T @ (y - m)
        pen = reg * np.eye(len(beta))
        pen[0, 0] = 0.0
        g -= np.concatenate([[0.0], reg * beta[1:]])
        step = np.linalg.solve(A + pen, g)
        beta = beta + step
        if np.abs(step).max() < tol:
            break
    return mu_x, sd_x, beta


@pytest.fixture(scope="module")
def trained(spark):
    pdf = _synthetic_features()
    model = fit_nil_model(spark.createDataFrame(pdf), label_col="label")
    return pdf, model


def test_fit_matches_numpy_irls_oracle(trained):
    pdf, model = trained
    X = pdf[["max_bi", "secondiff"]].to_numpy()
    y = pdf["label"].to_numpy(dtype=float)
    mu_x, sd_x, beta = _numpy_irls(X, y)
    assert model.converged
    assert np.allclose(model.means, mu_x, rtol=1e-9)
    assert np.allclose(model.stds, sd_x, rtol=1e-9)
    assert np.allclose([model.bias, *model.weights], beta, atol=1e-5)
    # decision parity: every predicted class identical to the oracle's
    oracle_scores = 1.0 / (
        1.0 + np.exp(-(np.column_stack([np.ones(len(X)), (X - mu_x) / sd_x]) @ beta))
    )
    got_scores = model.predict_scores(X)
    assert ((got_scores >= 0.5) == (oracle_scores >= 0.5)).all()
    # the fit recovers the generating direction (positive weights, w1 > w2)
    assert model.weights[0] > model.weights[1] > 0


def test_trained_config_drives_nil_score_expr(trained, cfg):
    """to_config -> nil_columns must score exactly like the model."""
    pdf, model = trained
    tuned = model.to_config(cfg)
    sub = pdf.head(200)
    n = len(sub)
    # two candidates per row, scored max_bi and max_bi - secondiff
    score = np.column_stack(
        [sub["max_bi"], sub["max_bi"] - sub["secondiff"]]
    ).ravel()
    meta = pa.array(np.arange(2 * n))
    cols = nil_columns(np.full(n, 2), meta, meta, meta, meta, score, tuned)
    secondiff = cols[1].to_numpy()
    got = cols[2].to_numpy()
    want = model.predict_scores(
        np.column_stack([sub["max_bi"].to_numpy(), secondiff])
    )
    assert np.allclose(got, want, atol=1e-12)


def test_fit_on_pipeline_feature_dump(spark, spark_world, world, cfg):
    """End-to-end loop: enrich mentions, dump NIL features with gold labels,
    fit, and check the trained model separates gold NIL from linked."""
    from incremental_entity_extraction_spark.evaluation.metrics import join_gold
    from incremental_entity_extraction_spark.operators.fused import (
        detect_encode_retrieve,
    )
    from incremental_entity_extraction_spark.operators.oracle_modes import (
        nil_feature_dump,
    )
    from incremental_entity_extraction_spark.operators.retrieval import (
        build_kb_shards,
    )

    shards = build_kb_shards(spark_world["entities_kb"], 1)
    enriched = detect_encode_retrieve(spark_world["transcripts"], cfg, shards)
    gold = spark.createDataFrame(world.gold_mentions)
    feats = nil_feature_dump(enriched, cfg).join(
        join_gold(enriched, gold).select("mention_id", "gold_nil"), "mention_id"
    )
    feats = feats.withColumn("label", ~F.col("gold_nil"))
    model = fit_nil_model(feats, label_col="label")
    pdf = feats.select("max_bi", "secondiff", "label").toPandas()
    scores = model.predict_scores(pdf[["max_bi", "secondiff"]].to_numpy())
    acc = ((scores >= 0.5) == pdf["label"].to_numpy()).mean()
    assert acc >= 0.95, f"trained NIL model accuracy {acc:.3f}"
