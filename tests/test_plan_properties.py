"""Physical-plan regression guards for the scale-critical operators.

The physical plans were audited by hand with `.explain("formatted")`; these
tests pin the audited properties so a scale-killer (Cartesian product, global
single-partition exchange, unpushed filter, row-at-a-time Python UDF)
cannot silently reappear.  String-matching physical plans is blunt but
effective: the banned fragments are exact Spark operator names.
"""

import pytest
from pyspark.sql import functions as F

from incremental_entity_extraction_spark.config import DEFAULT_CONFIG as cfg


def plan_of(df, mode: str = "formatted") -> str:
    jvm = df.sparkSession._jvm
    return jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), mode)


BANNED_EVERYWHERE = (
    "CartesianProduct",
    "BroadcastNestedLoopJoin",  # non-equi join — pair-space blowup at scale
    "BatchEvalPython",          # row-at-a-time Python UDF
)


def _assert_clean(plan: str, *, allow_single_partition: bool, label: str):
    for frag in BANNED_EVERYWHERE:
        assert frag not in plan, f"{label}: {frag} in physical plan"
    if not allow_single_partition:
        assert "Exchange SinglePartition" not in plan, (
            f"{label}: global single-partition exchange — serializes the "
            "table through one task"
        )


@pytest.fixture(scope="module")
def docs(spark):
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "doc_id": range(200),
            "text": [f"zorvex marnel doc {i} the a of" for i in range(200)],
            "source": ["web" if i % 2 else "chat" for i in range(200)],
        }
    )
    return spark.createDataFrame(pdf)


@pytest.fixture(scope="module")
def embs(spark):
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(5)
    pdf = pd.DataFrame(
        {
            "emb_id": range(300),
            "embedding": [
                [float(x) for x in rng.normal(size=16)] for _ in range(300)
            ],
        }
    )
    return spark.createDataFrame(pdf)


def test_fused_stage_is_narrow(spark, spark_world):
    """detect→encode→retrieve adds NO exchange: one Arrow pass over the
    scan, scoring against the broadcast — the whole point of the topology."""
    from incremental_entity_extraction_spark.operators.fused import (
        detect_encode_retrieve,
    )
    from incremental_entity_extraction_spark.operators.retrieval import (
        build_kb_shards,
    )

    shards = build_kb_shards(spark_world["entities_kb"], 1)
    df = detect_encode_retrieve(spark_world["transcripts"], cfg, shards)
    plan = plan_of(df)
    _assert_clean(plan, allow_single_partition=False, label="fused")
    assert "Exchange" not in plan, "fused stage must not shuffle"
    # the fused stage is a single Arrow-native Python pass
    assert "MapInArrow" in plan or "MapInPandas" in plan


def test_topk_per_key_uses_window_group_limit(spark, spark_world):
    """Per-key top-k must push the limit below the shuffle (WindowGroupLimit)
    and never collapse to one partition."""
    from incremental_entity_extraction_spark.operators.fused import (
        detect_encode_retrieve,
    )
    from incremental_entity_extraction_spark.operators.retrieval import (
        build_kb_shards,
    )
    from pyspark.sql import Window

    shards = build_kb_shards(spark_world["entities_kb"], 1)
    m = detect_encode_retrieve(spark_world["transcripts"], cfg, shards)
    c = m.select("mention_id", F.explode("candidates").alias("c"))
    w = Window.partitionBy("mention_id").orderBy(F.desc("c.score"))
    top = c.withColumn("r", F.row_number().over(w)).filter(F.col("r") <= 3)
    plan = plan_of(top)
    _assert_clean(plan, allow_single_partition=False, label="topk_per_key")
    assert "WindowGroupLimit" in plan


def test_contiguous_ids_no_global_window(spark, docs):
    from incremental_entity_extraction_spark.operators.kb import contiguous_ids

    out = contiguous_ids(docs.select("text"), ["text"], id_col="id")
    plan = plan_of(out)
    _assert_clean(plan, allow_single_partition=False, label="contiguous_ids")


def test_parquet_filter_pushdown(spark, tmp_path):
    """Filters and projections must reach the parquet scan."""
    import pandas as pd

    p = str(tmp_path / "t.parquet")
    pd.DataFrame(
        {"a": range(100), "b": range(100), "c": [str(i) for i in range(100)]}
    ).to_parquet(p)
    df = spark.read.parquet(p).filter(F.col("a") > 50).select("a", "c")
    plan = plan_of(df)
    assert "PushedFilters: [IsNotNull(a), GreaterThan(a,50)]" in plan
    assert "ReadSchema" in plan and "b:" not in plan.split("ReadSchema")[1].split("\n")[0]


def test_ann_index_search_plan(spark, spark_world, tmp_path):
    """ivf retrieval is the fused stage with the persisted index as its
    shard: the enriched plan is one Arrow pass with NO exchange — no query
    collect, no index-table scan, window, join or groupBy."""
    from incremental_entity_extraction_spark.operators.ann_index import (
        build_ann_index,
        index_shard,
    )
    from incremental_entity_extraction_spark.operators.fused import (
        detect_encode_retrieve,
    )
    from incremental_entity_extraction_spark.operators.retrieval_ann import (
        composite_corpus,
    )

    model = build_ann_index(
        composite_corpus(spark_world["entities_kb"]), str(tmp_path / "idx")
    )
    df = detect_encode_retrieve(
        spark_world["transcripts"], cfg, [index_shard(model)]
    )
    plan = plan_of(df)
    _assert_clean(plan, allow_single_partition=False, label="ivf enriched")
    assert "Exchange" not in plan, "ivf retrieval must not shuffle"
    assert "MapInArrow" in plan
    for frag in ("Window", "Join", "Aggregate", "FileScan parquet"):
        assert frag not in plan, f"ivf enriched plan has a {frag}"


def test_manifest_read_partition_prunes(spark, tmp_path):
    """A manifest-resolved read (explicit file list + basePath) must still
    PARTITION-PRUNE: at 100 TB the manifest names every live file, and a
    batch_id filter that scanned all partitions anyway would turn every
    incremental query into a full-table scan."""
    from incremental_entity_extraction_spark.operators import manifest as mf

    root = str(tmp_path / "tbl")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    for b in (0, 1, 2):
        spark.range(10).select(
            F.col("id"), F.lit(b).alias("batch_id")
        ).write.mode("overwrite").partitionBy("batch_id").parquet(root)
    mf.refresh_manifest(root)
    df = mf.read_table(spark, root).filter(F.col("batch_id") == 1)
    plan = plan_of(df)
    assert "PartitionFilters" in plan and "batch_id" in plan.split(
        "PartitionFilters"
    )[1].split("]")[0], plan
    _assert_clean(plan, allow_single_partition=True, label="manifest read")
    # (inputFiles() reports the PRE-pruning file index, so the
    # PartitionFilters assertion above is the right layer to pin)
    assert df.count() == 10

