"""M6/M7/F14 — NIL feature build + closed-form logistic NIL prediction.

Reference: feature builder (scripts/eval_kbp.py:242-328) + a
StandardScaler/LogisticRegression HTTP service
(pipeline/nilpredictor/__main__.py:42-103); deployed features are
``(max_bi, secondiff)`` with threshold 0.5 (docker-compose.yml:54,
eval_kbp.py:489-491).

Ours: pure JVM-side column expressions — the logistic model collapses to a
closed-form sigmoid over standardized features (SURVEY.md F14), so the whole
stage stays inside whole-stage codegen; no UDF, no shuffle.  Rows with zero
candidates are NIL by construction (eval_kbp.py:306-310).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from incremental_entity_extraction_spark.config import PipelineConfig
from incremental_entity_extraction_spark.functions.expr_cache import (
    cached_exprs,
)


def nil_score_expr(max_bi, secondiff, cfg: PipelineConfig):
    """Closed-form P(not-NIL) = sigmoid(b + Σ wᵢ·(xᵢ-μᵢ)/σᵢ)."""
    z1 = (max_bi - F.lit(cfg.nil_mu_max_bi)) / F.lit(cfg.nil_sigma_max_bi)
    z2 = (secondiff - F.lit(cfg.nil_mu_secondiff)) / F.lit(cfg.nil_sigma_secondiff)
    x = (
        F.lit(cfg.nil_bias)
        + F.lit(cfg.nil_w_max_bi) * z1
        + F.lit(cfg.nil_w_secondiff) * z2
    )
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-x))


def _nil_select_cols(cfg: PipelineConfig) -> list:
    """The eight added columns as DataFrame-independent expression
    templates — built once per (SparkContext, cfg) via ``cached_exprs``."""
    has = F.size("candidates") > 0
    top = F.element_at("candidates", 1)
    second_score = F.when(
        F.size("candidates") > 1, F.element_at("candidates", 2)["score"]
    ).otherwise(F.lit(0.0))
    max_bi = F.when(has, top["score"])
    secondiff = F.when(has, max_bi - second_score)
    nil_score = F.when(
        has, nil_score_expr(max_bi, secondiff, cfg)
    ).otherwise(F.lit(0.0))
    is_nil = F.when(~has, F.lit(True)).otherwise(
        nil_score < F.lit(cfg.nil_threshold)
    )
    return [
        max_bi.alias("max_bi"),
        secondiff.alias("secondiff"),
        nil_score.alias("nil_score"),
        is_nil.alias("is_nil"),
        F.when(has, top["id"]).alias("top_id"),
        F.when(has, top["indexer"]).alias("top_indexer"),
        F.when(has, top["wikipedia_id"]).alias("top_wikipedia_id"),
        F.when(has, top["title"]).alias("top_title"),
    ]


def predict_nil(candidates_df: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Adds max_bi, secondiff, nil_score, is_nil and top_* columns.

    ONE ``select`` (expressions inlined — each later column's tree embeds
    the earlier ones), not a chain of eight ``withColumn`` calls: every
    ``withColumn`` re-analyzes the whole plan through Py4J, and profiling
    put that chain at ~0.16 s of PURE driver-side plan construction per
    batch — a serial floor term that scales with batch count, not data.
    Catalyst collapses the duplicated subtrees, so the physical plan (and
    every value) is identical to the chained form.  The expression LIST is
    additionally memoized per (SparkContext, cfg): rebuilding the same
    tree cost ~0.10 s/batch of Py4J round-trips."""
    cols = cached_exprs(
        candidates_df.sparkSession.sparkContext,
        ("predict_nil", cfg),
        lambda: _nil_select_cols(cfg),
    )
    return candidates_df.select("*", *cols)
