"""spark-submit entry point for the incremental KG pipeline.

Usage (north_rule deployment shape):

    python tools/make_pyfiles_zip.py   # build dist/iees.zip fresh from HEAD
                                       # (never committed — always rebuild,
                                       # a stale zip ships stale code)
    spark-submit --master local[8] \
        --py-files dist/iees.zip \
        jobs/run_pipeline.py \
        --transcripts /path/transcripts_parquet \
        --kb /path/entities_parquet \
        --lake /path/lake \
        [--cluster-mode cc] [--n-shards 1]

On a real cluster, swap --master for the cluster manager; everything else
is identical (the lake maps onto Iceberg tables).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)


def _refuse_stale_zip() -> None:
    """Hard-error if dist/iees.zip exists but differs from the source tree —
    a spark-submit --py-files run would otherwise silently execute old code.
    When the job is staged WITHOUT a source checkout next to it (cluster
    deploy mode), there is nothing to audit and the guard stands down."""
    try:
        from tools.make_pyfiles_zip import require_fresh_zip
    except ImportError:
        return
    require_fresh_zip()


def main() -> None:
    _refuse_stale_zip()
    p = argparse.ArgumentParser()
    p.add_argument("--transcripts", required=True)
    p.add_argument("--kb", required=True)
    p.add_argument("--lake", required=True)
    p.add_argument("--cluster-mode", default="cc")
    p.add_argument("--n-shards", type=int, default=1)
    p.add_argument("--no-resume", action="store_true")
    p.add_argument(
        "--no-incremental", action="store_true",
        help="one-pass mode (reference eval_kbp.py --no-incremental): fold "
        "every batch into a single pass — one RW state, one lineage row",
    )
    p.add_argument(
        "--retrieval-mode", default="broadcast",
        choices=["broadcast", "ivf"],
        help="'ivf' keeps the KB distributed (no broadcast, build-once "
        "persisted index) — for entity dimensions beyond executor memory; "
        "approximate recall",
    )
    p.add_argument(
        "--persist-candidates", action="store_true",
        help="also write the full candidate lists as a `candidates` table "
        "(wide; needed only by linking-recall eval workflows)",
    )
    p.add_argument(
        "--delete-entity", type=int, action="append", default=[],
        help="KB tombstone: entity id to exclude from retrieval (repeatable)",
    )
    args = p.parse_args()

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("iees-pipeline").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from incremental_entity_extraction_spark.pipeline import Lake, run_incremental

    transcripts = spark.read.parquet(args.transcripts)
    kb = spark.read.parquet(args.kb)
    stats = run_incremental(
        spark,
        transcripts,
        kb,
        Lake(args.lake),
        cluster_mode=args.cluster_mode,
        n_shards=args.n_shards,
        resume=not args.no_resume,
        retrieval_mode=args.retrieval_mode,
        persist_candidates=args.persist_candidates,
        deleted_entity_ids=set(args.delete_entity) or None,
        single_batch=args.no_incremental,
    )
    print(json.dumps({"completed_batches": stats}))
    spark.stop()


if __name__ == "__main__":
    main()
