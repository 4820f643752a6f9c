"""Shared fixtures: one Spark session, one deterministic world, oracle runs."""

from __future__ import annotations

import shutil

import pytest

from incremental_entity_extraction_spark.config import DEFAULT_CONFIG
from incremental_entity_extraction_spark.fixtures import make_world
from incremental_entity_extraction_spark.oracle import oracle_run_incremental
from incremental_entity_extraction_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(cores=4, app_name="iee-tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def cfg():
    return DEFAULT_CONFIG


@pytest.fixture(scope="session")
def world(cfg):
    return make_world(cfg, n_convs=10)


@pytest.fixture(scope="session")
def oracle_result(world, cfg):
    """(mentions, clusters, triples, state) from the NumPy oracle."""
    return oracle_run_incremental(world.transcripts, world.entities_kb, cfg)


@pytest.fixture(scope="session")
def spark_world(spark, world):
    """world tables as Spark DataFrames."""
    return {
        "transcripts": spark.createDataFrame(world.transcripts),
        "entities_kb": spark.createDataFrame(world.entities_kb),
    }


@pytest.fixture(scope="session")
def oracle_stages(world, cfg):
    """(rows, enc): the oracle's detect → encode → top-k → NIL functions
    over the world's transcripts and RO KB, in detection order
    (conv_id, turn_idx, start_tok); ``enc[i]`` is row ``i``'s encoding."""
    from incremental_entity_extraction_spark.functions.featurizer import (
        encode_mentions,
    )
    from incremental_entity_extraction_spark.oracle.reference import (
        oracle_detect_mentions,
        oracle_nil,
        oracle_topk,
    )

    om = oracle_detect_mentions(world.transcripts)
    enc = encode_mentions(
        om["context_left"], om["mention"], om["context_right"],
        cfg.dim, cfg.vector_norm, cfg.max_context_tokens,
    )
    om = om.assign(candidates=oracle_topk(enc, world.entities_kb, cfg))
    return oracle_nil(om, cfg), enc


@pytest.fixture(scope="session")
def fused_stage(spark_world, cfg):
    """The fused detect→encode→retrieve→NIL stage over the same transcripts
    and RO KB (one broadcast shard), collected in the oracle's row order."""
    from incremental_entity_extraction_spark.operators.fused import (
        detect_encode_retrieve,
    )
    from incremental_entity_extraction_spark.operators.retrieval import (
        build_kb_shards,
    )

    shards = build_kb_shards(spark_world["entities_kb"], n_shards=1)
    return (
        detect_encode_retrieve(spark_world["transcripts"], cfg, shards)
        .toPandas()
        .sort_values(["conv_id", "turn_idx", "start_tok"])
        .reset_index(drop=True)
    )


@pytest.fixture()
def tmp_lake(tmp_path):
    from incremental_entity_extraction_spark.pipeline import Lake

    p = str(tmp_path / "lake")
    shutil.rmtree(p, ignore_errors=True)
    return Lake(p)
