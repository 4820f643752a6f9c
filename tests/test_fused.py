"""The fused detect→encode→retrieve→NIL stage against the NumPy oracle.

One fused run and one oracle run over the conftest world (the
``fused_stage`` / ``oracle_stages`` fixtures) are compared stage by stage:
mention columns in test_detection, candidates in test_retrieval, the NIL
columns in test_nil_and_clustering, and the encodings here.
"""

import numpy as np

from incremental_entity_extraction_spark.operators.fused import detect_encode_retrieve


def test_fused_equals_oracle(fused_stage, oracle_stages):
    """Same rows in the same order, and every encoding bit-equal: the
    fused kernel and the oracle's per-row featurizer add the same floats
    in the same order."""
    exp, enc = oracle_stages
    assert list(fused_stage["mention_id"]) == list(exp["mention_id"])
    got = np.stack([np.asarray(e, dtype=np.float32) for e in fused_stage["encoding"]])
    np.testing.assert_array_equal(got, enc.astype(np.float32))


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
