"""M1 mention detection: the fused stage == oracle, and both find every
gold mention."""

import pandas as pd

from incremental_entity_extraction_spark.functions.detection import (
    detect_mentions_in_tokens,
)
from incremental_entity_extraction_spark.oracle import oracle_detect_mentions


def test_detector_kernel_runs_and_splitting():
    known = frozenset({"the", "a"})
    toks = "the zorvex marnel a takmir the solo".split()
    spans = detect_mentions_in_tokens(toks, known)
    assert spans == [(1, 2, "zorvex marnel"), (4, 1, "takmir"), (6, 1, "solo")]
    # a 3-token run splits into a pair + a single
    spans3 = detect_mentions_in_tokens("x y z".split(), known)
    assert spans3 == [(0, 2, "x y"), (2, 1, "z")]


def test_gold_mentions_all_detected(world):
    det = oracle_detect_mentions(world.transcripts)
    gold = world.gold_mentions
    merged = gold.merge(
        det[["conv_id", "turn_idx", "start_tok", "mention"]],
        on=["conv_id", "turn_idx", "start_tok", "mention"],
        how="left",
        indicator=True,
    )
    assert (merged["_merge"] == "both").all()


def test_spark_detector_equals_oracle(fused_stage, world):
    """The fused stage's mention columns (both frames in detection order)."""
    odf = oracle_detect_mentions(world.transcripts)
    pd.testing.assert_frame_equal(
        fused_stage[odf.columns].astype(str), odf.astype(str), check_dtype=False
    )
