"""Fused detect→encode→retrieve→NIL stage must equal the composed chain."""

import numpy as np
import pandas as pd

from incremental_entity_extraction_spark.operators.encode import encode_mentions_df
from incremental_entity_extraction_spark.operators.fused import detect_encode_retrieve
from incremental_entity_extraction_spark.operators.mentions import detect_mentions
from incremental_entity_extraction_spark.operators.nil import NIL_FIELDS, predict_nil
from incremental_entity_extraction_spark.operators.retrieval import (
    build_kb_shards,
    retrieve_topk,
)


def test_fused_equals_composed(spark, spark_world, cfg):
    shards = build_kb_shards(spark_world["entities_kb"], n_shards=1)
    fused = detect_encode_retrieve(
        spark_world["transcripts"], cfg, shards
    ).toPandas().sort_values("mention_id").reset_index(drop=True)
    composed = predict_nil(retrieve_topk(
        encode_mentions_df(detect_mentions(spark_world["transcripts"]), cfg),
        cfg,
        shards,
    ), cfg).toPandas().sort_values("mention_id").reset_index(drop=True)

    assert list(fused["mention_id"]) == list(composed["mention_id"])
    assert list(fused["mention"]) == list(composed["mention"])
    assert list(fused["context_left"]) == list(composed["context_left"])
    for fe, ce in zip(fused["encoding"], composed["encoding"]):
        np.testing.assert_array_equal(np.asarray(fe), np.asarray(ce))
    for fc, cc in zip(fused["candidates"], composed["candidates"]):
        assert [(c["id"], c["indexer"]) for c in fc] == [
            (c["id"], c["indexer"]) for c in cc
        ]
        np.testing.assert_allclose(
            [c["score"] for c in fc], [c["score"] for c in cc], rtol=1e-5
        )
    nil_cols = [f.name for f in NIL_FIELDS]
    pd.testing.assert_frame_equal(fused[nil_cols], composed[nil_cols])


def test_shards_bc_rejects_inline_extra_shards(spark_world, cfg):
    """shards_bc + non-empty shards would force an internal per-call
    broadcast nobody could unpersist (the O(batches x KB) leak
    extra_shards_bc exists to avoid) — the API must refuse it loudly."""
    import pytest

    from incremental_entity_extraction_spark.operators.retrieval import (
        build_kb_shards,
    )

    shards = build_kb_shards(spark_world["entities_kb"], 1)
    bc = spark_world["transcripts"].sparkSession.sparkContext.broadcast(shards)
    try:
        with pytest.raises(ValueError, match="shards must be \\[\\]"):
            detect_encode_retrieve(
                spark_world["transcripts"].limit(5), cfg, shards, shards_bc=bc
            )
    finally:
        bc.unpersist()
