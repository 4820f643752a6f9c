"""NIL-model training: StandardScaler + logistic regression fit on the
``nil_feature_dump`` table.

Reference: scripts/feature_ablation_study.py:365-426 fits
sklearn StandardScaler + LogisticRegression on the dumped NIL features and
scripts/eval_kbp.py:417-425 produces the dump; the deployed service then
consumes the pickled (scaler, model) pair (pipeline/nilpredictor/
__main__.py:42-103).  This closes the loop the round-1 engine lacked: derive
the weights FROM a labeled feature table instead of shipping fixed constants.

Spark-first design — the whole fit is aggregation-only, no UDF, no collect
of anything row-sized:

* standardization moments (mean/stddev per feature) come from one
  aggregation pass;
* the logistic fit is Newton-IRLS where EACH iteration is a single Spark
  aggregation of exact gradient + Hessian partial sums built from pure
  column expressions (z, sigmoid(z), and the (d+1)² weighted cross-products
  are all whole-stage-codegen arithmetic).  d is tiny (2 deployed features),
  so the driver-side Newton solve is O(d³) on a 3×3 matrix;
* the result converts into a ``PipelineConfig`` via ``to_config`` so the
  closed-form ``nil_columns`` kernel (operators/nil.py) consumes the trained
  model unchanged.

IRLS on a strictly convex penalized log-likelihood converges quadratically;
10-ish scans of the feature table train the deployed 2-feature model, each
scan a map-side-combinable aggregate — this holds at any table size.
"""

from __future__ import annotations

from dataclasses import dataclass, replace

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from incremental_entity_extraction_spark.config import PipelineConfig


@dataclass(frozen=True)
class NilModel:
    """Trained scaler + logistic weights.  ``weights[i]`` multiplies the
    standardized ``feature_cols[i]``; score = sigmoid(bias + w·z)."""

    feature_cols: tuple
    means: tuple
    stds: tuple
    weights: tuple
    bias: float
    n_rows: int
    n_iter: int
    converged: bool

    def predict_scores(self, X: np.ndarray) -> np.ndarray:
        Z = (X - np.asarray(self.means)) / np.asarray(self.stds)
        return 1.0 / (1.0 + np.exp(-(self.bias + Z @ np.asarray(self.weights))))

    def to_config(self, cfg: PipelineConfig) -> PipelineConfig:
        """PipelineConfig with the trained weights in place of the fixed
        stand-ins — only for the deployed (max_bi, secondiff) feature pair."""
        if tuple(self.feature_cols) != ("max_bi", "secondiff"):
            raise ValueError(
                "to_config maps the deployed feature pair (max_bi, secondiff); "
                f"got {self.feature_cols}"
            )
        return replace(
            cfg,
            nil_mu_max_bi=float(self.means[0]),
            nil_sigma_max_bi=float(self.stds[0]),
            nil_mu_secondiff=float(self.means[1]),
            nil_sigma_secondiff=float(self.stds[1]),
            nil_w_max_bi=float(self.weights[0]),
            nil_w_secondiff=float(self.weights[1]),
            nil_bias=float(self.bias),
        )


def fit_nil_model(
    features: DataFrame,
    feature_cols: tuple = ("max_bi", "secondiff"),
    label_col: str = "label",
    max_iter: int = 25,
    tol: float = 1e-9,
    reg: float = 1e-6,
) -> NilModel:
    """Fit scaler + logistic regression distributedly (see module docstring).

    ``label_col`` is boolean/0-1 truth for "not NIL" (the reference trains
    P(not-NIL), eval_kbp.py:489).  ``reg`` is a small L2 ridge on the
    standardized weights — the sklearn default regularizes too; it also keeps
    the Newton step defined under perfect separation."""
    d = len(feature_cols)
    cols = [F.col(c).cast("double") for c in feature_cols]
    y = F.col(label_col).cast("double")
    proj = features.select(y.alias("_y"), *[c.alias(f"_x{i}") for i, c in enumerate(cols)])
    proj = proj.na.drop().localCheckpoint()

    m_aggs = []
    for i in range(d):
        m_aggs += [
            F.avg(f"_x{i}").alias(f"mu{i}"),
            F.stddev_samp(f"_x{i}").alias(f"sd{i}"),
        ]
    mrow = proj.agg(F.count("*").alias("n"), *m_aggs).first()
    n_rows = int(mrow["n"])
    if n_rows == 0:
        raise ValueError("empty feature table")
    means = [float(mrow[f"mu{i}"]) for i in range(d)]
    stds = [float(mrow[f"sd{i}"]) or 1.0 for i in range(d)]
    stds = [s if s > 0 else 1.0 for s in stds]

    # standardized design columns x0=1 (bias), x1..xd
    xs = [F.lit(1.0)] + [
        (F.col(f"_x{i}") - F.lit(means[i])) / F.lit(stds[i]) for i in range(d)
    ]
    p = d + 1
    beta = np.zeros(p)
    converged = False
    it = 0
    for it in range(1, max_iter + 1):
        z = F.lit(float(beta[0]))
        for j in range(1, p):
            z = z + F.lit(float(beta[j])) * xs[j]
        mu = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
        wgt = mu * (F.lit(1.0) - mu)
        aggs = []
        for j in range(p):
            for kk in range(j, p):
                aggs.append(F.sum(wgt * xs[j] * xs[kk]).alias(f"a_{j}_{kk}"))
        for j in range(p):
            aggs.append(F.sum((F.col("_y") - mu) * xs[j]).alias(f"g_{j}"))
        row = proj.agg(*aggs).first()
        A = np.zeros((p, p))
        for j in range(p):
            for kk in range(j, p):
                A[j, kk] = A[kk, j] = float(row[f"a_{j}_{kk}"])
        g = np.array([float(row[f"g_{j}"]) for j in range(p)])
        # ridge on the weights (not the bias)
        pen = reg * np.eye(p)
        pen[0, 0] = 0.0
        g_pen = g - np.concatenate([[0.0], reg * beta[1:]])
        step = np.linalg.solve(A + pen, g_pen)
        beta = beta + step
        if float(np.abs(step).max()) < tol:
            converged = True
            break
    return NilModel(
        feature_cols=tuple(feature_cols),
        means=tuple(means),
        stds=tuple(stds),
        weights=tuple(float(b) for b in beta[1:]),
        bias=float(beta[0]),
        n_rows=n_rows,
        n_iter=it,
        converged=converged,
    )
