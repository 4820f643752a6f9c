"""M6/M7/F14 — NIL feature build + closed-form logistic NIL prediction.

Reference: feature builder (scripts/eval_kbp.py:242-328) + a
StandardScaler/LogisticRegression HTTP service
(pipeline/nilpredictor/__main__.py:42-103); deployed features are
``(max_bi, secondiff)`` with threshold 0.5 (docker-compose.yml:54,
eval_kbp.py:489-491).

Ours: one NumPy kernel, ``nil_columns``, over a batch's flat top-k
candidate arrays — the logistic model collapses to a closed-form sigmoid
over standardized features (SURVEY.md F14).  The fused
detect→encode→retrieve stage (operators/fused.py) runs it in the same
Python pass that ranks the candidates; ``predict_nil`` runs it over any
frame with a ``candidates`` column (the composed chain).  It computes in
float64 in the oracle's operation order
(``oracle.reference.nil_score_from_features``), so scores equal the
oracle's bit for bit.  Rows with zero candidates are NIL by construction
(eval_kbp.py:306-310).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from incremental_entity_extraction_spark.config import PipelineConfig

# the eight columns NIL prediction adds, in output order
NIL_FIELDS = [
    T.StructField("max_bi", T.FloatType()),
    T.StructField("secondiff", T.DoubleType()),
    T.StructField("nil_score", T.DoubleType()),
    T.StructField("is_nil", T.BooleanType()),
    T.StructField("top_id", T.LongType()),
    T.StructField("top_indexer", T.IntegerType()),
    T.StructField("top_wikipedia_id", T.LongType()),
    T.StructField("top_title", T.StringType()),
]


def nil_columns(
    counts: np.ndarray,
    ids: pa.Array,
    indexer: pa.Array,
    wikipedia_id: pa.Array,
    title: pa.Array,
    score,
    cfg: PipelineConfig,
) -> list[pa.Array]:
    """The ``NIL_FIELDS`` columns for rows whose candidates are the flat,
    rank-ordered arrays ``ids`` … ``score``, row ``r`` owning the next
    ``counts[r]`` entries (``retrieval.topk_candidates_columnar``'s layout).

    ``max_bi`` is the top score, ``secondiff`` its margin over the second
    (0.0 when there is none), ``nil_score`` the closed-form P(not-NIL) =
    sigmoid(b + Σ wᵢ·(xᵢ-μᵢ)/σᵢ) and ``top_*`` the top candidate.  A row
    with no candidates is NIL with ``nil_score`` 0.0 and null features and
    ``top_*``."""
    counts = np.asarray(counts, dtype=np.int64)
    n = len(counts)
    first = np.zeros(n, dtype=np.int64)
    np.cumsum(counts[:-1], out=first[1:])
    has, two = counts > 0, counts > 1
    sc = np.asarray(score, dtype=np.float64)
    s0 = np.zeros(n)
    s0[has] = sc[first[has]]
    s1 = np.zeros(n)
    s1[two] = sc[first[two] + 1]
    secondiff = s0 - s1
    z1 = (s0 - cfg.nil_mu_max_bi) / cfg.nil_sigma_max_bi
    z2 = (secondiff - cfg.nil_mu_secondiff) / cfg.nil_sigma_secondiff
    x = cfg.nil_bias + cfg.nil_w_max_bi * z1 + cfg.nil_w_secondiff * z2
    with np.errstate(over="ignore"):  # exp(-x) = inf gives score 0.0
        nil_score = np.where(has, 1.0 / (1.0 + np.exp(-x)), 0.0)
    none = ~has
    top = pa.array(first, mask=none)
    return [
        pa.array(s0.astype(np.float32), mask=none),
        pa.array(secondiff, mask=none),
        pa.array(nil_score),
        pa.array(none | (nil_score < cfg.nil_threshold)),
        ids.take(top),
        indexer.take(top),
        wikipedia_id.take(top),
        title.take(top),
    ]


def predict_nil(candidates_df: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Adds the ``NIL_FIELDS`` columns to a frame whose ``candidates``
    column holds rank-ordered ``retrieval.CANDIDATE_STRUCT`` lists:
    ``nil_columns`` in one ``mapInArrow``.  The fused stage
    (``fused.detect_encode_retrieve``) already emits these columns."""
    schema = T.StructType(candidates_df.schema.fields + NIL_FIELDS)

    def _nil(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            lists = rb.column("candidates")
            flat = lists.flatten()
            f = dict(zip((x.name for x in flat.type), flat.flatten()))
            counts = pc.fill_null(pc.list_value_length(lists), 0).to_numpy()
            yield pa.RecordBatch.from_arrays(
                rb.columns + nil_columns(
                    counts, f["id"], f["indexer"], f["wikipedia_id"],
                    f["title"], f["score"], cfg,
                ),
                names=schema.names,
            )

    return candidates_df.mapInArrow(_nil, schema=schema)
