"""JSONL transcript source (operators/jsonl_source.py): explicit schema,
corrupt-line quarantine, gzip transparency."""

import gzip
import json
import os

from incremental_entity_extraction_spark.operators.jsonl_source import (
    TRANSCRIPT_JSON_SCHEMA,
    read_transcripts_jsonl,
)


def _write_fixture(tmp_path):
    rows = [
        {"conv_id": "c1", "turn_idx": 0, "role": "user", "text": "hello zorvex",
         "tool": None, "ts": "2026-01-01T00:00:00Z"},
        {"conv_id": "c1", "turn_idx": 1, "role": "assistant", "text": "hi",
         "tool": None, "ts": "2026-01-01T00:00:05Z"},
        {"conv_id": "c2", "turn_idx": 0, "role": "tool", "text": "ran",
         "tool": "bash", "ts": None},
    ]
    p1 = tmp_path / "a.jsonl"
    with open(p1, "w") as f:
        f.write(json.dumps(rows[0]) + "\n")
        f.write('{"conv_id": "torn", "turn_idx":\n')  # torn line
        f.write(json.dumps(rows[1]) + "\n")
    p2 = tmp_path / "b.jsonl.gz"
    with gzip.open(p2, "wt") as f:
        f.write(json.dumps(rows[2]) + "\n")
        f.write("garbage line\n")
    return rows


def test_clean_rows_and_quarantine(spark, tmp_path):
    _write_fixture(tmp_path)
    clean, corrupt = read_transcripts_jsonl(spark, str(tmp_path))
    got = {(r["conv_id"], r["turn_idx"]): r for r in clean.collect()}
    assert set(got) == {("c1", 0), ("c1", 1), ("c2", 0)}
    assert got[("c2", 0)]["tool"] == "bash"
    assert got[("c1", 0)]["ts"] is not None  # timestamp parsed
    bad = sorted(r["raw_line"] for r in corrupt.collect())
    assert len(bad) == 2
    assert any("torn" in b for b in bad)
    assert any("garbage" in b for b in bad)


def test_schema_is_exactly_declared(spark, tmp_path):
    _write_fixture(tmp_path)
    clean, corrupt = read_transcripts_jsonl(spark, str(tmp_path))
    assert [f.name for f in clean.schema.fields] == [
        f.name for f in TRANSCRIPT_JSON_SCHEMA.fields
    ]
    assert [f.dataType for f in clean.schema.fields] == [
        f.dataType for f in TRANSCRIPT_JSON_SCHEMA.fields
    ]
    assert [f.name for f in corrupt.schema.fields] == ["raw_line"]


def test_feeds_pipeline_shape(spark, tmp_path):
    """The clean frame slots straight into the pipeline's transcript
    contract (plus batch_id, which ingestion assigns)."""
    from pyspark.sql import functions as F

    from incremental_entity_extraction_spark.config import DEFAULT_CONFIG
    from incremental_entity_extraction_spark.operators.fused import (
        detect_encode_retrieve,
    )

    _write_fixture(tmp_path)
    clean, _ = read_transcripts_jsonl(spark, str(tmp_path))
    # no KB shards: every mention is NIL, detection is what is checked
    m = detect_encode_retrieve(
        clean.withColumn("batch_id", F.lit(0)), DEFAULT_CONFIG, []
    )
    # "hello zorvex" is one maximal OOV run -> one 2-token mention
    assert m.filter(F.col("mention").contains("zorvex")).count() == 1
