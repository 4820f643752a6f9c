"""Windows of batches: one Spark job retrieves a whole window of batches
against the KB as it stood at window start, and the driver searches each
batch's in-window new entities (``pipeline.BatchLoop``).  How the batches
are cut into windows must not show in the lake: every table is
byte-identical whether the conftest world runs as 1-batch windows, as
2-batch windows or as one window, and when the window job's input is
partitioned differently (each batch's rows are written in (conv_id,
turn_idx, start_tok) order)."""

import json
import os

import numpy as np
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

import incremental_entity_extraction_spark.pipeline as pl


def _limits(world) -> dict[str, tuple[int, list[list[int]]]]:
    """``WINDOW_MAX_TURNS`` values that cut the world's four batches into
    1-batch windows, 2-batch windows and one window."""
    c = world.transcripts.groupby("batch_id").size().sort_index().tolist()
    return {
        "1-batch": (1, [[0], [1], [2], [3]]),
        "2-batch": (max(c[0] + c[1], c[2] + c[3]), [[0, 1], [2, 3]]),
        "one": (sum(c), [[0, 1, 2, 3]]),
    }


def _snapshot(root: str) -> dict:
    """Every file under a lake root: raw bytes, except the wall-clock
    ``wall_s`` of the metrics rows and lineage lines, and the arrays (not
    the zip timestamps) of the index model."""
    snap = {}
    for d, _, files in os.walk(root):
        for fn in files:
            p = os.path.join(d, fn)
            rel = os.path.relpath(p, root)
            if rel.startswith("metrics" + os.sep):
                snap[rel] = pq.read_table(p).drop(["wall_s"]).to_pylist()
            elif fn == "lineage.jsonl":
                with open(p) as f:
                    snap[rel] = [
                        {k: v for k, v in json.loads(ln).items() if k != "wall_s"}
                        for ln in f
                    ]
            elif fn.endswith(".npz"):
                with np.load(p) as z:
                    snap[rel] = {k: z[k].tolist() for k in z.files}
            else:
                with open(p, "rb") as f:
                    snap[rel] = f.read()
    return snap


def _run(
    spark, spark_world, cfg, lake, mode, transcripts=None, cluster_mode="cc"
):
    return pl.run_incremental(
        spark,
        spark_world["transcripts"] if transcripts is None else transcripts,
        spark_world["entities_kb"], lake, cfg, cluster_mode=cluster_mode,
        retrieval_mode=mode, persist_candidates=True,
    )


@pytest.mark.parametrize("gate", ["default", "distributed"])
@pytest.mark.parametrize("mode", ["broadcast", "ivf"])
def test_lake_is_identical_for_every_window_size(
    spark, spark_world, world, cfg, tmp_path, monkeypatch, mode, gate
):
    """``distributed`` clusters every batch in Spark: a gated mode
    (three_step; cc always clusters on the driver) with
    ``DRIVER_CLUSTER_MAX`` below every NIL count."""
    cluster_mode = "cc"
    if gate == "distributed":
        cluster_mode = "three_step"
        monkeypatch.setattr(pl, "DRIVER_CLUSTER_MAX", -1)
    sizes = world.transcripts.groupby("batch_id").size()
    counts = {b: int(n) for b, n in sizes.items()}
    cases = {name: (*lw, None) for name, lw in _limits(world).items()}
    # one window over a hash-repartitioned input: the window job returns
    # each batch's rows from other partitions, in another order
    cases["one-repartitioned"] = (
        *_limits(world)["one"],
        spark_world["transcripts"].repartition(3, "turn_idx"),
    )
    snaps = {}
    for name, (limit, windows, transcripts) in cases.items():
        monkeypatch.setattr(pl, "WINDOW_MAX_TURNS", limit)
        assert pl._windows(sorted(counts), counts) == windows
        lake = pl.Lake(str(tmp_path / name))
        _run(spark, spark_world, cfg, lake, mode, transcripts, cluster_mode)
        assert lake.completed_batches() == {0, 1, 2, 3}
        snaps[name] = _snapshot(lake.root)
    want = snaps.pop("1-batch")
    assert any(k.startswith("candidates" + os.sep) for k in want)
    for name, got in snaps.items():
        assert sorted(got) == sorted(want), name
        diff = [k for k in want if got[k] != want[k]]
        assert not diff, (name, diff)


def test_failed_window_job_marks_none_of_its_batches(
    spark, spark_world, world, cfg, tmp_path, monkeypatch
):
    """The second window's Spark job fails in a task: the first window's
    batches stay committed, none of the second's is marked, and the resume
    (which re-forms windows from batch 2) rebuilds the lake of an
    uncrashed run."""
    limit, _ = _limits(world)["2-batch"]
    monkeypatch.setattr(pl, "WINDOW_MAX_TURNS", limit)
    clean = pl.Lake(str(tmp_path / "clean"))
    _run(spark, spark_world, cfg, clean, "ivf")

    orig = pl.detect_encode_retrieve

    def failing(tb, *a, **k):
        def boom(batches):
            for rb in batches:
                if rb.num_rows and pc.max(rb.column("batch_id")).as_py() >= 2:
                    raise RuntimeError("simulated window failure")
                yield rb

        df = orig(tb, *a, **k)
        return df.mapInArrow(boom, df.schema)

    lake = pl.Lake(str(tmp_path / "crashed"))
    monkeypatch.setattr(pl, "detect_encode_retrieve", failing)
    with pytest.raises(Exception, match="simulated window failure"):
        _run(spark, spark_world, cfg, lake, "ivf")
    assert lake.completed_batches() == {0, 1}
    assert not os.path.exists(os.path.join(lake.path("mentions"), "batch_id=2"))

    monkeypatch.setattr(pl, "detect_encode_retrieve", orig)
    _run(spark, spark_world, cfg, lake, "ivf")
    assert _snapshot(lake.root) == _snapshot(clean.root)
