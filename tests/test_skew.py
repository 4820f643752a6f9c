"""Hot-conversation skew: the salted repartition must spread the Zipf head.

north_rule: "salted repartitioning on conv_id to defuse hot-conversation
skew".  The salt is turn_idx — a conversation with 40% of all turns must
not pin a single task.
"""

import numpy as np
import pandas as pd
from pyspark.sql import functions as F


def _skewed_transcripts(spark, n_convs: int, hot_turns: int, zipf: float):
    """Turn keys only: conv i gets ``max(2, hot_turns / (i+1)^zipf)`` turns,
    so conv 0 is the hot head."""
    n_turns = np.maximum(
        2, (hot_turns / np.arange(1, n_convs + 1) ** zipf).astype(int)
    )
    pdf = pd.DataFrame(
        {
            "conv_id": np.repeat(
                [f"conv_{i:08d}" for i in range(n_convs)], n_turns
            ),
            "turn_idx": np.concatenate([np.arange(n) for n in n_turns]).astype(
                "int32"
            ),
        }
    )
    return spark.createDataFrame(pdf)


def test_salted_repartition_spreads_hot_conversation(spark):
    # tiny world with an extreme hot head: conv 0 gets ~2000 turns, the rest ~2
    t = _skewed_transcripts(spark, n_convs=50, hot_turns=2000, zipf=3.0)
    total = t.count()
    hot = t.filter(F.col("conv_id") == "conv_00000000").count()
    assert hot / total > 0.5, "fixture should be skewed for this test"

    parts = 16
    salted = t.repartition(parts, "conv_id", "turn_idx")
    sizes = (
        salted.withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .count()
        .toPandas()["count"]
    )
    # perfectly even would be total/parts; assert no partition holds more
    # than 3x its fair share (conv_id-only partitioning would put >50% in one)
    assert sizes.max() <= 3 * total / parts

    # contrast: partitioning on conv_id alone concentrates the hot key
    unsalted = t.repartition(parts, "conv_id")
    sizes_u = (
        unsalted.withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .count()
        .toPandas()["count"]
    )
    assert sizes_u.max() > sizes.max(), "salt should strictly improve balance"
