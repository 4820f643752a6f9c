"""Raw-text entry point (reference lifecycle §3.3, blink/main_dense.py run()):
text in → mention detection → encode → top-k link → NIL decision → print.

    python jobs/link_text.py --kb /path/entities_parquet \
        "zorvex marnel visited the data table with benrup solkar"

Each positional argument is treated as one conversation turn.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, ".")
_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)


def main() -> None:
    # refuse to run against a stale --py-files artifact (skip when staged
    # without a source checkout — nothing to audit there)
    try:
        from tools.make_pyfiles_zip import require_fresh_zip
    except ImportError:
        pass
    else:
        require_fresh_zip()
    p = argparse.ArgumentParser()
    p.add_argument("--kb", help="entities parquet (default: built-in fixture KB)")
    p.add_argument("--top-k", type=int, default=3)
    p.add_argument("texts", nargs="+")
    args = p.parse_args()

    from pyspark.sql import functions as F

    from incremental_entity_extraction_spark.config import DEFAULT_CONFIG as cfg
    from incremental_entity_extraction_spark.operators.fused import (
        detect_encode_retrieve,
    )
    from incremental_entity_extraction_spark.operators.retrieval import (
        build_kb_shards,
    )
    from incremental_entity_extraction_spark.session import get_spark

    spark = get_spark(cores=4, app_name="link-text")
    if args.kb:
        kb = spark.read.parquet(args.kb)
    else:
        from incremental_entity_extraction_spark.fixtures import make_world

        kb = spark.createDataFrame(make_world(cfg, n_convs=2).entities_kb)

    transcripts = spark.createDataFrame(
        [("cli", i, "user", t, None, 0) for i, t in enumerate(args.texts)],
        "conv_id string, turn_idx int, role string, text string, tool string, batch_id int",
    )
    shards = build_kb_shards(kb, n_shards=1)
    out = detect_encode_retrieve(transcripts, cfg, shards)
    rows = out.select(
        "turn_idx", "mention", "is_nil", "top_title",
        F.round("max_bi", 2).alias("score"),
        F.round("nil_score", 3).alias("p_linked"),
    ).orderBy("turn_idx", "start_tok").collect()
    for r in rows:
        verdict = "NIL (new entity)" if r["is_nil"] else f"-> {r['top_title']}"
        print(
            f"turn {r['turn_idx']}: '{r['mention']}' {verdict} "
            f"(score={r['score']}, P(linked)={r['p_linked']})"
        )
    spark.stop()


if __name__ == "__main__":
    main()
