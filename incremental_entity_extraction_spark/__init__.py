"""Incremental Entity Extraction on PySpark.

A from-scratch, Spark-native re-expression of the capabilities of
rpo19/Incremental-Entity-Extraction (IJCKG'22): incremental entity
extraction with background knowledge and entity linking, rebuilt as pure
batch DataFrame transforms over parquet/Iceberg-style lake tables.

The reference is a pandas + HTTP-microservice pipeline (biencoder /
FAISS indexer / NIL predictor / NIL clusterer around Postgres); this
package re-expresses each service as vectorized DataFrame stages:

* mention detection        -> OOV-token-run detector (M1)
* biencoder encoding       -> deterministic hash featurizer (M4)
* FAISS top-k retrieval    -> broadcast dense-matrix or IVF top-k with the
                              metadata riding the shards (W1/J5)
* NIL prediction           -> closed-form logistic over the top-k (M6/M7/F14)
  (these four run as ONE fused mapInArrow stage, operators/fused.py)
* NIL clustering           -> tiled union-find or greedy replay on the
                              driver (M8)
* KB augmentation          -> append to new_entities lake table (M12)

See SURVEY.md at the repo root for the operator-by-operator mapping.
"""

from incremental_entity_extraction_spark.config import PipelineConfig

__all__ = ["PipelineConfig"]
__version__ = "0.1.0"
