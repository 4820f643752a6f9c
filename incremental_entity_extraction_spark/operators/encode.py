"""M5 — entity encoding as an Arrow-batched pandas UDF stage.

Reference: BLINK bi-encoder HTTP service (pipeline/biencoder/main.py:41-99),
BERT-large towers producing 1024-d float32.  Ours: the entity tower of
``functions.featurizer`` applied inside ``mapInPandas`` —
vectors never leave the JVM<->Arrow path as base64 (the reference's
transport encoding, eval_kbp.py:233-239, is eliminated; F8 in SURVEY.md §2.7).
Mentions are encoded inside the fused stage (operators/fused.py).

Narrow transform: each partition encodes its own rows against the
executor-local token-vector cache; no shuffle, no driver round trip.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from incremental_entity_extraction_spark.config import PipelineConfig
from incremental_entity_extraction_spark.functions.featurizer import (
    encode_entities,
)


def encode_entities_df(entities: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Adds ``embedding array<float>`` from (title, descr) — entity tower."""
    dim, norm, max_tok = cfg.dim, cfg.vector_norm, cfg.max_entity_tokens
    out_schema = T.StructType(
        entities.schema.fields
        + [T.StructField("embedding", T.ArrayType(T.FloatType()), False)]
    )
    in_cols = [f.name for f in entities.schema.fields]

    def _encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            emb = encode_entities(
                pdf["title"].fillna(""), pdf["descr"].fillna(""), dim, norm, max_tok
            )
            out = pdf[in_cols].copy()
            out["embedding"] = [row for row in emb]
            yield out

    return entities.mapInPandas(_encode, schema=out_schema)
