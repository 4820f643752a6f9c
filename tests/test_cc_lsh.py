"""LSH-blocked CC path: near-exact agreement with the broadcast-exact CC."""

from pyspark.sql import functions as F

from incremental_entity_extraction_spark.operators.clustering import (
    cluster_cc,
    nil_edges,
    nil_edges_lsh,
)
from incremental_entity_extraction_spark.operators.fused import detect_encode_retrieve
from incremental_entity_extraction_spark.operators.retrieval import build_kb_shards


def _nil_df(spark, spark_world, cfg):
    shards = build_kb_shards(spark_world["entities_kb"], 1)
    ns = detect_encode_retrieve(spark_world["transcripts"], cfg, shards)
    return ns.filter(F.col("is_nil")).select(
        "mention_id", "conv_id", "turn_idx", "start_tok", "batch_id",
        "mention", "encoding",
    ).localCheckpoint()


def _partition(labels_pdf):
    groups = {}
    for mid, lab in zip(labels_pdf["mention_id"], labels_pdf["cluster_label"]):
        groups.setdefault(lab, set()).add(mid)
    return sorted(map(sorted, groups.values()))


def test_lsh_edges_subset_of_exact(spark, spark_world, cfg):
    nil_df = _nil_df(spark, spark_world, cfg)
    exact = set(
        map(tuple, nil_edges(nil_df, cfg).select("src", "dst").toPandas().itertuples(index=False))
    )
    # exact edges are directed both ways; canonicalize
    exact = {tuple(sorted(e)) for e in exact}
    lsh = set(
        map(tuple, nil_edges_lsh(nil_df, cfg).select("src", "dst").toPandas().itertuples(index=False))
    )
    lsh = {tuple(sorted(e)) for e in lsh}
    assert lsh <= exact                       # verification is exact: no false edges
    if exact:
        assert len(lsh & exact) / len(exact) >= 0.9   # recall on this fixture


def test_cc_lsh_partition_close_to_exact(spark, spark_world, cfg):
    nil_df = _nil_df(spark, spark_world, cfg)
    exact = _partition(cluster_cc(nil_df, cfg).toPandas())
    lsh = _partition(cluster_cc(nil_df, cfg, lsh_threshold=0).toPandas())
    # same mention universe, and most clusters identical
    assert sorted(sum(exact, [])) == sorted(sum(lsh, []))
    same = sum(1 for c in lsh if c in exact)
    assert same / max(len(exact), 1) >= 0.9


def test_cluster_cc_auto_switch_threshold(spark, spark_world, cfg):
    nil_df = _nil_df(spark, spark_world, cfg)
    # force the LSH path via a tiny threshold; result must still be a valid
    # full partition of the NIL set
    out = cluster_cc(nil_df, cfg, lsh_threshold=0).toPandas()
    assert len(out) == nil_df.count()


def test_lsh_edges_infer_the_grouped_eval_type(spark, spark_world, cfg):
    """Both parameters of the LSH verify function are annotated, so
    ``applyInPandas`` infers its eval type without a ``UserWarning`` (a
    half-annotated function warned on every call)."""
    import warnings

    nil_df = _nil_df(spark, spark_world, cfg)
    with warnings.catch_warnings():
        warnings.simplefilter("error", UserWarning)
        edges = nil_edges_lsh(nil_df, cfg).collect()
    assert all(e["src"] != e["dst"] for e in edges)
