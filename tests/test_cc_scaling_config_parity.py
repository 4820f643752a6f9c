"""Triples parity for the configuration the benchmark measures:
``cluster_mode='cc'`` (the driver's tiled union-find over the threshold
graph) over a ``fixtures.make_world`` world at the benchmark's dim=256 —
so the perfbench workloads are backed by a correctness gate on the same
engine, same generator, same feature dimension (a smaller world; the
physics of the operators do not change with row count, only the wall
clock does)."""

from dataclasses import replace

from incremental_entity_extraction_spark.config import DEFAULT_CONFIG
from incremental_entity_extraction_spark.fixtures import make_world
from incremental_entity_extraction_spark.oracle import oracle_run_incremental
from incremental_entity_extraction_spark.pipeline import Lake, run_incremental


def test_cc_parity_on_spark_generator_world(spark, tmp_path):
    cfg = replace(DEFAULT_CONFIG, dim=256)  # the benchmark's dim
    w = make_world(cfg, n_convs=60, n_entities=800, n_batches=2)
    transcripts_pdf, kb_pdf = w.transcripts, w.entities_kb
    assert len(transcripts_pdf) > 300  # non-trivial world

    _, _, oracle_triples, _ = oracle_run_incremental(
        transcripts_pdf, kb_pdf, cfg
    )
    lake = Lake(str(tmp_path / "lake"))
    run_incremental(
        spark, spark.createDataFrame(transcripts_pdf),
        spark.createDataFrame(kb_pdf), lake, cfg, cluster_mode="cc",
    )
    got = spark.read.parquet(lake.path("triples")).toPandas()
    gset = set(map(tuple, got[["subj", "pred", "obj"]].itertuples(index=False)))
    eset = set(
        map(tuple, oracle_triples[["subj", "pred", "obj"]].itertuples(index=False))
    )
    inter = len(gset & eset)
    precision = inter / max(1, len(gset))
    recall = inter / max(1, len(eset))
    assert precision >= 0.95, f"precision {precision}"
    assert recall >= 0.95, f"recall {recall}"
