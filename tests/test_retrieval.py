"""W1 broadcast top-k: the fused stage's candidates == oracle; shard invariance."""

import numpy as np
import pandas as pd

from incremental_entity_extraction_spark.operators.fused import detect_encode_retrieve
from incremental_entity_extraction_spark.operators.nil import NIL_FIELDS
from incremental_entity_extraction_spark.operators.retrieval import build_kb_shards


def test_topk_matches_oracle_decisions(fused_stage, oracle_stages):
    exp, _ = oracle_stages
    assert list(fused_stage["mention_id"]) == list(exp["mention_id"])
    for s_row, o_row in zip(fused_stage["candidates"], exp["candidates"]):
        assert [(c["id"], c["indexer"], c["wikipedia_id"]) for c in s_row] == [
            (c["id"], c["indexer"], c["wikipedia_id"]) for c in o_row
        ]
        np.testing.assert_allclose(
            [c["score"] for c in s_row], [c["score"] for c in o_row], rtol=1e-4
        )


def test_topk_shard_invariance(spark_world, cfg):
    """1 and 4 ``KBShard``s give the same candidates and NIL columns."""

    def _rows(n_shards):
        shards = build_kb_shards(spark_world["entities_kb"], n_shards=n_shards)
        return (
            detect_encode_retrieve(spark_world["transcripts"], cfg, shards)
            .toPandas()
            .sort_values("mention_id")
            .reset_index(drop=True)
        )

    one, four = _rows(1), _rows(4)
    assert list(one["mention_id"]) == list(four["mention_id"])
    for a, b in zip(one["candidates"], four["candidates"]):
        assert [(c["id"], c["indexer"]) for c in a] == [(c["id"], c["indexer"]) for c in b]
    nil_cols = [f.name for f in NIL_FIELDS]
    pd.testing.assert_frame_equal(one[nil_cols], four[nil_cols])
