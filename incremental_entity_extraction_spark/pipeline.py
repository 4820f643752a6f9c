"""Incremental pipeline driver: lake layout, windowed batch loop, checkpoint/resume.

Reference lifecycle (scripts/eval_kbp.py:734-805): reset RW KB, then for each
batch file in CLI order run encode → retrieve → NIL → cluster → add-to-KB →
save.  Cross-batch state lives in the RW FAISS index + Postgres + driver
globals (eval_kbp.py:39-41).

Here the state is lake tables, so every batch is idempotent and the run is
resumable (north_rule):

* ``new_entities``   — the RW index (id, indexer, embedding, ...), partitioned
  by batch_id; re-broadcast at each window boundary (SURVEY.md §1.6).
* ``prev_clusters``  — cluster summaries per batch.
* ``triples``        — the KG, partitioned by batch_id.
* ``lineage``        — one row per completed batch (checkpoint marker);
  resume = skip the longest committed prefix of the batch order.
* ``metrics``        — per-batch counters + timings, written as each batch
  commits.

Every write replaces exactly the batch's own partition, so re-running a
batch after a crash is idempotent.  A WINDOW of consecutive batches (at
most ``WINDOW_MAX_TURNS`` turns) is one Spark job: the fused
detect→encode→retrieve→NIL stage (operators/fused.py) runs inside the one
Arrow collect that brings the window's rows to the driver, retrieving
against the KB as it stood at window start.  Only the RW entities change
between batches (the reference's RW index, eval_kbp.py:626-652), so each
batch is then finished on the driver with no Spark job (``run_batch``):
its rows search the entities that the window's earlier batches added,
merge those candidates into their own and re-score NIL, which gives
exactly the candidates a per-batch loop would have found.  The driver
writes ``mentions``, ``triples``, ``candidates``, ``new_entities``,
``prev_clusters`` and ``metrics`` with pyarrow (``Lake.put_partition``:
one file per ``batch_id=N/``, and a re-run with no rows removes the
partition).  Ids stay deterministic because they are contiguous over
canonical order + previous max (operators/kb.py), not a function of task
scheduling, and each batch's rows are written in (conv_id, turn_idx,
start_tok) order, whatever partitions the window job spread them over.

Skew: a window of ≥ 1 000 turns is repartitioned on (conv_id, turn_idx) —
the turn index acts as the salt, so a hot conversation (Zipf head) spreads
across partitions instead of pinning one task (SURVEY.md §4 "salted
repartition").
"""

from __future__ import annotations

import itertools
import json
import os
import shutil
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from incremental_entity_extraction_spark.config import DEFAULT_CONFIG, PipelineConfig
# the four per-batch kernels are imported for _driver_clusters, which
# resolves them through this module's globals at call time
from incremental_entity_extraction_spark.operators.clustering import (  # noqa: F401
    CLUSTER_KERNELS,
    CLUSTER_SCHEMA,
    QUADRATIC_MODES,
    cc_summarize_pdf,
    cluster_summarize_batches,
    greedy_summarize_pdf,
    kernel_columns,
    tfidf_summarize_pdf,
    three_step_summarize_pdf,
)

from incremental_entity_extraction_spark.operators.fused import (
    _candidate_arrays,
    _candidates_list_array,
    detect_encode_retrieve,
)
from incremental_entity_extraction_spark.operators.kb import (
    assign_new_entity_ids,
    new_entity_rows_pdf,
)
from incremental_entity_extraction_spark.operators.nil import (
    NIL_FIELDS,
    nil_columns,
)
from incremental_entity_extraction_spark.operators.retrieval import (
    KBShard,
    build_kb_shards,
    merge_candidates,
    topk_candidates_columnar,
)
from incremental_entity_extraction_spark.operators.triples import (
    TRIPLES_SCHEMA,
    cluster_triples,
    mention_triples,
)

# driver gate of the modes whose kernels hold n×n matrices
# (clustering.QUADRATIC_MODES: three_step, tfidf).  A batch of theirs with
# at most this many NIL rows is clustered + summarized ON THE DRIVER (the
# mode's per-batch kernel, clustering.CLUSTER_KERNELS) from the batch's
# collected rows; above it the NIL rows go back to Spark, the same kernel
# runs in one applyInPandas task per batch, and the summary rows are
# collected.  8192 rows bound tfidf's float64 kernel matrix at 512 MB.
# cc and greedy_replay score in row tiles (O(n·tile) memory) and run on the
# driver at every NIL size.
DRIVER_CLUSTER_MAX = 8192

# turns per window: consecutive batches whose turns sum to at most this run
# as ONE Spark job (a window holds at least one batch).  It bounds the
# driver memory of a window's rows (``run_batch``): 50 000 turns is ~30 000
# mentions, ~30 MB of 256-d encodings.
WINDOW_MAX_TURNS = 50_000

# pyarrow schemas of the lake tables the driver writes, each the one Spark's
# writer gave it (batch_id is the partition), so a lake that mixes older
# Spark-written partitions with driver-written ones reads through Lake.read
_DRIVER_TABLES = {
    "new_entities": pa.schema([
        ("id", pa.int64()),
        ("indexer", pa.int32()),
        ("wikipedia_id", pa.int64()),
        ("title", pa.string()),
        ("descr", pa.string()),
        ("type_", pa.string()),
        ("embedding", pa.list_(pa.float32())),
    ]),
    "prev_clusters": pa.schema([
        ("cluster_label", pa.string()),
        ("title", pa.string()),
        ("nelements", pa.int32()),
        ("mentions_id", pa.list_(pa.string())),
        ("mentions", pa.list_(pa.string())),
        ("index_id", pa.int64()),
        ("index_indexer", pa.int32()),
    ]),
    "mentions": pa.schema([
        pa.field("mention_id", pa.string(), False),
        pa.field("conv_id", pa.string(), False),
        pa.field("turn_idx", pa.int32(), False),
        pa.field("start_tok", pa.int32(), False),
        pa.field("mention", pa.string(), False),
        ("context_left", pa.string()),
        ("context_right", pa.string()),
        ("max_bi", pa.float32()),
        ("secondiff", pa.float64()),
        ("nil_score", pa.float64()),
        ("is_nil", pa.bool_()),
        ("top_id", pa.int64()),
        ("top_indexer", pa.int32()),
        ("top_wikipedia_id", pa.int64()),
        ("top_title", pa.string()),
    ]),
    "triples": TRIPLES_SCHEMA,
    "candidates": pa.schema([
        pa.field("mention_id", pa.string(), False),
        pa.field("candidates", pa.list_(pa.field("element", pa.struct([
            pa.field("id", pa.int64(), False),
            pa.field("indexer", pa.int32(), False),
            ("wikipedia_id", pa.int64()),
            ("title", pa.string()),
            pa.field("score", pa.float32(), False),
            pa.field("norm_score", pa.float32(), False),
        ]))), False),
    ]),
}


def _pinned(rows: pa.Table, table: str) -> pa.Table:
    """``rows``' columns of ``table``, cast to its pinned schema."""
    schema = _DRIVER_TABLES[table]
    return rows.select(schema.names).cast(schema)


def _driver_clusters(
    nil: pa.Table, cfg: PipelineConfig, cluster_mode: str
) -> pd.DataFrame:
    """The driver path: the SAME per-batch kernel
    ``clustering.cluster_summarize_batches`` runs, on the batch's collected
    NIL rows.  Every cc and greedy_replay batch takes it, and a three_step
    or tfidf batch at or below ``DRIVER_CLUSTER_MAX`` NIL rows; its rows
    are identical to that Spark path's (pinned by
    tests/test_pipeline_e2e.py gate-parity)."""
    pdf = nil.select(kernel_columns(cluster_mode)).to_pandas()
    th = float(cfg.greedy_threshold)
    # looked up at call time, so a wrapper patched onto this module sees it
    kernel = globals()[CLUSTER_KERNELS[cluster_mode]]
    parts = [kernel(g, th) for _, g in pdf.groupby("batch_id", sort=True)]
    if not parts:
        return pd.DataFrame(columns=[f.name for f in CLUSTER_SCHEMA.fields])
    return pd.concat(parts, ignore_index=True)


@dataclass
class Lake:
    """Parquet-directory lake (Iceberg-table stand-in; same layout maps 1:1
    onto Iceberg partitioned tables on a real cluster)."""

    root: str

    def path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def write_partition(self, df: DataFrame, table: str) -> None:
        """Idempotent: dynamic overwrite of only the batch_id partitions in df.
        The pipeline no longer calls it (every lake table is driver-written,
        ``put_partition``); it stays as the Spark writer that older lakes'
        partitions came from, which the resume tests rebuild with it.

        The dynamic mode is asserted here (it is a runtime-settable conf)
        rather than trusted from session setup: under Spark's default STATIC
        mode every per-batch write would truncate the whole table, silently
        leaving only the last batch and corrupting resume."""
        df.sparkSession.conf.set(
            "spark.sql.sources.partitionOverwriteMode", "dynamic"
        )
        df.write.mode("overwrite").partitionBy("batch_id").parquet(self.path(table))

    def put_partition(self, table: str, batch_id: int, rows: pa.Table) -> None:
        """Replace ``table``'s ``batch_id=N`` partition with ``rows``, as
        one parquet file written on the driver.  The file is staged in a
        hidden sibling (readers skip dot-names) and swapped in by rename, so
        a re-run replaces the partition whole; no rows remove it (Spark's
        dynamic overwrite leaves a partition the frame has no rows for).
        Plain encoding and no schema metadata: dictionaries and the arrow
        schema would only grow these small files past Spark's own."""
        base = self.path(table)
        part = os.path.join(base, f"batch_id={int(batch_id)}")
        stage = os.path.join(base, f".batch_id={int(batch_id)}.tmp")
        shutil.rmtree(stage, ignore_errors=True)
        if rows.num_rows:
            os.makedirs(stage)
            pq.write_table(
                rows.replace_schema_metadata(None),
                os.path.join(stage, "part-00000.parquet"),
                use_dictionary=False, store_schema=False,
            )
        shutil.rmtree(part, ignore_errors=True)
        if rows.num_rows:
            os.rename(stage, part)

    def read(self, spark: SparkSession, table: str) -> DataFrame | None:
        p = self.path(table)
        if not os.path.exists(p):
            return None
        # a run whose batches all produced 0 rows leaves a data-less
        # directory; read.parquet would fail with UNABLE_TO_INFER_SCHEMA
        has_data = any(
            fn.endswith(".parquet")
            for _, _, files in os.walk(p)
            for fn in files
        )
        if not has_data:
            return None
        # manifest-governed tables (object-store maintenance protocol,
        # operators/manifest.py) must resolve through the committed
        # manifest: between a compaction commit and its vacuum a partition
        # dir legitimately holds BOTH the superseded and the compacted
        # files, and a plain directory read would double every row
        from incremental_entity_extraction_spark.operators.manifest import (
            current_manifest,
            read_table,
        )

        if current_manifest(p) is not None:
            return read_table(spark, p)
        return spark.read.parquet(p)

    # --- lineage (checkpoint markers), tiny JSON lines on the driver -----
    def lineage_path(self) -> str:
        return os.path.join(self.root, "lineage.jsonl")

    # A line is committed once its trailing newline is on disk: a crash
    # mid-append leaves a torn final line, which counts as not committed.
    def completed_batches(self) -> set[int]:
        p = self.lineage_path()
        if not os.path.exists(p):
            return set()
        with open(p) as f:
            committed = f.read().split("\n")[:-1]
        return {json.loads(line)["batch_id"] for line in committed if line.strip()}

    def mark_complete(self, batch_id: int, stats: dict) -> None:
        os.makedirs(self.root, exist_ok=True)
        p = self.lineage_path()
        if os.path.exists(p) and os.path.getsize(p):
            with open(p, "r+b") as f:
                f.seek(-1, os.SEEK_END)
                if f.read(1) != b"\n":  # cut a torn tail before appending
                    f.seek(0)
                    f.truncate(f.read().rfind(b"\n") + 1)
        with open(p, "a") as f:
            f.write(json.dumps({"batch_id": batch_id, **stats}) + "\n")


RETRIEVAL_MODES = ("broadcast", "ivf")


def _check_modes(retrieval_mode: str, cluster_mode: str) -> None:
    if retrieval_mode not in RETRIEVAL_MODES:
        raise ValueError(
            f"unknown retrieval_mode {retrieval_mode!r}: "
            f"expected {' | '.join(RETRIEVAL_MODES)}"
        )
    if cluster_mode not in CLUSTER_KERNELS:
        raise ValueError(
            f"unknown cluster_mode {cluster_mode!r}: "
            f"expected {' | '.join(CLUSTER_KERNELS)}"
        )


def _merge_window_entities(
    rows: pa.Table, shards: list, cfg: PipelineConfig, by_norm: bool
) -> pa.Table:
    """``rows`` with the top-k of ``shards`` merged into their candidates
    and the ``nil.NIL_FIELDS`` columns re-scored from the merged lists."""
    enc = pc.list_flatten(rows["encoding"]).to_numpy()
    counts, *flat = topk_candidates_columnar(
        enc.reshape(rows.num_rows, -1), shards, cfg.top_k,
        float(cfg.vector_norm) ** 2,
    )
    counts, fields = merge_candidates(
        rows["candidates"].combine_chunks(), counts, _candidate_arrays(*flat),
        cfg.top_k, by_norm,
    )
    new = dict(zip(
        [f.name for f in NIL_FIELDS], nil_columns(counts, *fields[:5], cfg)
    ))
    new["candidates"] = _candidates_list_array(
        counts, fields, rows.schema.field("candidates").type
    )
    for name, col in new.items():
        i = rows.schema.get_field_index(name)
        rows = rows.set_column(i, rows.schema.field(i), col)
    return rows


def run_batch(
    rows: pa.Table,
    shards: list,
    next_rw_id: int,
    cfg: PipelineConfig,
    cluster_mode: str = "cc",
    retrieval_mode: str = "broadcast",
    persist_candidates: bool = False,
    spark: SparkSession | None = None,
):
    """One batch, finished on the driver from its rows of the window job
    (``BatchLoop``): ``(tables, clusters)``.  No Spark job runs here unless
    a three_step or tfidf batch's NIL set is above ``DRIVER_CLUSTER_MAX``.

    ``rows`` are the batch's ``fused.FUSED_SCHEMA`` rows in (conv_id,
    turn_idx, start_tok) order: every mention with its encoding, its
    candidates against the KB as it stood at window start, and the NIL
    columns scored from them.  ``shards`` are the RW entities that the
    window's earlier batches added (``[]`` for a window's first batch),
    searched here with the fused stage's kernel
    (``retrieval.topk_candidates_columnar``):

    * ``'broadcast'``: ``KBShard``s;
    * ``'ivf'``: the index shard's centroids, ``n_probe`` and tombstones
      (an ``ann_index.IVFShard`` with no files) followed by one rows shard
      per in-window delta — only the probed buckets count, as in the
      window job.

    Their candidates merge into the rows' own (``retrieval.merge_candidates``,
    in the kernel's total order) and NIL is re-scored
    (``nil.nil_columns``), so every row ends with exactly the candidates
    and NIL score it would have had against the KB at its own batch's
    start.

    * ``tables``: pyarrow tables of ``mentions``, ``triples`` and
      ``candidates`` in their pinned schemas (``candidates`` empty unless
      persisted), for ``BatchPersist`` to write.  The ``mentions`` /
      ``linked_to`` triples come from the mention rows, the ``member_of``
      / ``canonical_name`` ones from ``clusters``.
    * ``clusters``: pandas, one ``CLUSTER_SCHEMA`` row per new entity plus
      its ``index_id`` / ``index_indexer``, in id order; ``BatchPersist``
      writes ``new_entities`` and ``prev_clusters`` from it and threads the
      RW delta to the next batch.

    Driver memory: ONE WINDOW's mention rows (``WINDOW_MAX_TURNS``), each
    with its encoding (n × dim × 4 B), its candidate list and ≈200–300 B
    of text, held until the window's last batch is finished.
    Clustering runs the mode's kernel on the driver; cc and greedy_replay
    hold one score tile at a time (``cluster_math.tile_rows``), so they do
    at every NIL size.  ``DRIVER_CLUSTER_MAX`` decides only where a
    three_step or tfidf batch clusters: above it the NIL slice goes back to
    Spark (``createDataFrame`` on ``spark``) for
    ``cluster_summarize_batches``, and only the summary rows come back."""
    _check_modes(retrieval_mode, cluster_mode)
    if (
        retrieval_mode == "ivf" and shards
        and getattr(shards[0], "centroids", None) is None
    ):
        raise ValueError(
            "retrieval_mode='ivf' needs the index shard first: the "
            "window's new entities are probed under its centroids "
            "(ann_index.IVFShard)"
        )
    if shards and rows.num_rows:
        rows = _merge_window_entities(
            rows, shards, cfg, by_norm=retrieval_mode == "ivf"
        )
    n_nil = int(pc.sum(rows["is_nil"]).as_py() or 0)
    # Table.filter with no match gives a table createDataFrame rejects (an
    # empty list column with no chunk); slice(0, 0) keeps one
    nil = rows.filter(rows["is_nil"]) if n_nil else rows.slice(0, 0)
    if cluster_mode not in QUADRATIC_MODES or n_nil <= DRIVER_CLUSTER_MAX:
        clusters = _driver_clusters(nil, cfg, cluster_mode)
    else:
        nil_df = (spark or SparkSession.active()).createDataFrame(
            nil.select(kernel_columns(cluster_mode))
        )
        clusters = cluster_summarize_batches(nil_df, cfg, cluster_mode).toPandas()
    clusters = assign_new_entity_ids(clusters, next_rw_id, cfg)
    mentions = _pinned(rows, "mentions")
    tables = {
        "mentions": mentions,
        "triples": pa.concat_tables(
            [mention_triples(mentions, cfg), cluster_triples(clusters)]
        ),
        "candidates": (
            _pinned(rows, "candidates") if persist_candidates
            else _DRIVER_TABLES["candidates"].empty_table()
        ),
    }
    return tables, clusters


class BatchPersist:
    """Async persist of one batch's lake tables, all written on the driver
    with pyarrow (``Lake.put_partition``): a Spark write of a few hundred
    rows costs ~0.2 s of CPU, pyarrow ~5 ms.

    ``start`` submits every write to a thread pool at once: ``mentions``,
    ``triples`` and ``candidates`` as ``run_batch`` built them, and
    ``new_entities`` / ``prev_clusters`` from the cluster rows.  An empty
    table removes the batch's earlier partition, so a re-run that finds no
    mentions, or that no longer persists candidates, leaves none of the
    earlier attempt's rows.  The mention / NIL counts are read off the
    ``mentions`` rows.  The driver holds the batch's tables until
    ``finish``: its mention rows, its triples and its cluster rows (see
    ``run_batch`` for the bound).

    ``rw_delta`` returns the new-entities rows for RW-state threading — the
    one cross-batch data dependency — without waiting on any write, so the
    driver can start computing batch N+1 while batch N's writes drain;
    ``finish`` joins the writes and must complete before batch N is marked
    in the lineage.

    The wide ``candidates array<struct>`` column is NOT persisted in
    ``mentions`` — it dominates bytes at scale and is recomputable; pass
    ``persist_candidates=True`` to emit it as a separate ``candidates``
    table when an eval workflow needs the full lists
    (evaluation/metrics.linking_recall_at_k)."""

    def __init__(self) -> None:
        self._ex: ThreadPoolExecutor | None = None
        self._futs: list = []
        self._pdf: pd.DataFrame | None = None
        self._stats: dict = {}

    def start(
        self,
        lake: Lake,
        batch_id: int,
        tables: dict[str, pa.Table],
        clusters: pd.DataFrame,
        cfg: PipelineConfig,
    ) -> "BatchPersist":
        mentions = tables["mentions"]
        self._stats = {
            "n_mentions": mentions.num_rows,
            "n_nil": int(pc.sum(mentions["is_nil"]).as_py() or 0),
        }
        self._pdf = new_entity_rows_pdf(clusters, cfg)
        writes = dict(tables)
        for t, pdf in (("new_entities", self._pdf), ("prev_clusters", clusters)):
            writes[t] = pa.Table.from_pandas(
                pdf, schema=_DRIVER_TABLES[t], preserve_index=False
            )
        self._ex = ThreadPoolExecutor(max_workers=len(writes))
        self._futs = [
            self._ex.submit(lake.put_partition, t, batch_id, rows)
            for t, rows in writes.items()
        ]
        return self

    def rw_delta(self) -> pd.DataFrame:
        """The new-entities rows for RW-state threading (never waits on the
        table writes)."""
        return self._pdf

    def finish(self) -> dict:
        """Join all writes; returns the batch's mention/NIL counts.  Must
        run before the batch is marked complete in the lineage."""
        try:
            for f in self._futs:
                f.result()
        finally:
            self._ex.shutdown(wait=False)
        return self._stats


def _windows(todo: list[int], batch_counts: dict[int, int]) -> list[list[int]]:
    """``todo`` cut into windows: runs of consecutive batches whose turns
    sum to at most ``WINDOW_MAX_TURNS``; a larger batch is a window alone."""
    windows: list[list[int]] = []
    turns = 0
    for b in todo:
        if windows and turns + batch_counts[b] <= WINDOW_MAX_TURNS:
            windows[-1].append(b)
            turns += batch_counts[b]
        else:
            windows.append([b])
            turns = batch_counts[b]
    return windows


def _batch_counts(frame: DataFrame) -> dict[int, int]:
    """Turns per ``batch_id`` in ONE Spark job with no shuffle: each task
    counts its partition's batch ids (``pc.value_counts``) and the driver
    sums one row per (batch, partition), so it holds O(batches ×
    partitions), not O(turns).  A ``groupBy`` count is two jobs under
    AQE."""

    def _count(batches):
        seen: dict = {}
        for rb in batches:
            vc = pc.value_counts(rb.column(0))
            for b, n in zip(vc.field("values").to_pylist(),
                            vc.field("counts").to_pylist()):
                seen[b] = seen.get(b, 0) + n
        if seen:
            yield pa.RecordBatch.from_arrays(
                [pa.array(list(seen), pa.int64()),
                 pa.array(list(seen.values()), pa.int64())],
                names=["batch_id", "n"],
            )

    counts: dict[int, int] = {}
    rows = frame.select("batch_id").mapInArrow(_count, "batch_id long, n long")
    for b, n in rows.collect():
        counts[b] = counts.get(b, 0) + n
    return counts


@dataclass
class BatchLoop:
    """The incremental batch loop that both drivers step: ``run_incremental``
    runs it once over the whole frame, the streaming driver once per
    micro-batch (streaming/incremental.py).

    ``run`` cuts the batches to do into windows (``WINDOW_MAX_TURNS``) and
    runs ONE Spark job per window: the fused detect→encode→retrieve→NIL
    stage over all the window's turns, against the shards as they stood at
    window start, collected once as Arrow (``_collect_window``).  Each
    batch is then finished on the driver (``run_batch``, called once per
    batch through this module's global), searching the RW entities that
    the window's earlier batches added.  A batch therefore adds no Spark
    job; only a three_step or tfidf NIL set above ``DRIVER_CLUSTER_MAX``
    sends its clustering back to Spark.

    The shards at window start:

    * broadcast mode: the RO KB — broadcast ONCE per loop (a per-batch
      re-broadcast of an unchanged KB pays a driver pickle and defeats
      the Python workers' broadcast-id cache, fused.detect_encode_retrieve)
      — plus one per-window broadcast of the RW rows committed before the
      window;
    * ivf mode: ``ann_index.index_shard`` over the persisted index model
      (built or loaded at the first ``run``) and every drained delta file,
      broadcast per window; the driver holds no RW state beyond the
      window's deltas.

    A window's shards are built only after the previous window's last
    batch has drained, so they hold every batch before it.  Windows are
    re-formed from the lake at each ``run``: the lineage prefix is the only
    resume contract.  A window job that fails marks none of its batches,
    and the resume re-forms windows from the first uncommitted batch; a
    lost executor makes Spark retry the tasks of the one job first.  A
    batch that fails on the driver leaves the window's earlier batches
    committed.  Driver memory is one window's rows (``run_batch``).

    ``dels`` are tombstoned entity ids: filtered out of the RW state in
    broadcast mode (the caller filters ``kb_ro``), masked before the top-k
    in ivf mode; ``close`` releases the RO broadcast."""

    spark: SparkSession
    kb_ro: DataFrame
    lake: Lake
    cfg: PipelineConfig = DEFAULT_CONFIG
    cluster_mode: str = "cc"
    n_shards: int = 1
    resume: bool = True
    partitions: int | None = None
    known_words: frozenset | None = None
    persist_candidates: bool = False
    dels: list[int] = field(default_factory=list)
    encoder: object = None
    retrieval_mode: str = "broadcast"
    ann_rebuild_threshold: float | None = None
    salt_repartition: bool | None = None

    def __post_init__(self) -> None:
        # a bad mode fails here, before any Spark job
        _check_modes(self.retrieval_mode, self.cluster_mode)
        self.ann = self.retrieval_mode == "ivf"
        # ivf mode never collects the KB — that is its point
        self.ro_shards_bc = None if self.ann else self.spark.sparkContext.broadcast(
            build_kb_shards(self.kb_ro, self.n_shards)
        )
        self.ann_model = None

    def close(self) -> None:
        if self.ro_shards_bc is not None:
            self.ro_shards_bc.unpersist()
            self.ro_shards_bc = None

    def _salted(self, tb: DataFrame, n_turns: int) -> DataFrame:
        """salt_repartition True/False forces every window; None decides PER
        WINDOW: an explicit ``partitions`` is a request to shape the
        window's partitioning (the partition-invariance tests rely on it);
        otherwise the salt shuffle exists for (a) parallelism — a
        byte-contiguous batch in the source parquet lands in ~one scan
        split — and (b) hot-conversation skew; for tiny windows it buys
        neither (single-task fused compute is already cheap) and its
        ~0.2 s stage is pure serial floor (profiled), so skip below ~1000
        turns.  A computed task count of 1 skips it too: a hash shuffle
        into one partition buys neither."""
        salt = (
            self.salt_repartition if self.salt_repartition is not None
            else self.partitions is not None or n_turns >= 1000
        )
        if not salt:
            return tb
        if self.partitions is not None:
            n = self.partitions
        else:
            # ~2000 turns per task, bounded by executor slots: tiny windows
            # shouldn't schedule 2×cores tasks, huge ones shouldn't underfill
            par = self.spark.sparkContext.defaultParallelism
            n = int(min(par * 2, max(par // 2, n_turns / 2000, 1)))
        if n == 1:
            return tb
        return tb.repartition(n, "conv_id", "turn_idx")  # turn_idx = skew salt

    def _collect_window(
        self,
        frame: DataFrame,
        window: list[int],
        n_turns: int,
        rw_pdf: pd.DataFrame,
        index=None,
    ) -> pa.Table:
        """The window's ONE Spark job: the fused stage over its turns,
        collected as Arrow — every mention with its encoding, its
        candidates and NIL columns against the RO KB (``index``, the IVF
        index shard, in ivf mode) and the RW rows ``rw_pdf`` — sorted by
        (batch_id, conv_id, turn_idx, start_tok).  The per-window
        broadcasts are released once the collect has run or failed."""
        sc = self.spark.sparkContext
        if self.ann:
            shards_bc, extra_bc = sc.broadcast([index]), None
        else:
            shards_bc = self.ro_shards_bc
            extra_bc = sc.broadcast([KBShard(rw_pdf)]) if len(rw_pdf) else None
        tb = self._salted(frame.filter(F.col("batch_id").isin(window)), n_turns)
        try:
            rows = detect_encode_retrieve(
                tb, self.cfg, [], known_words=self.known_words,
                encoder=self.encoder, shards_bc=shards_bc,
                extra_shards_bc=extra_bc,
            ).toArrow()
        finally:
            for bc in (extra_bc, shards_bc if self.ann else None):
                if bc is not None:
                    bc.unpersist()
        return rows.sort_by([
            (c, "ascending")
            for c in ("batch_id", "conv_id", "turn_idx", "start_tok")
        ])

    def run(self, frame: DataFrame) -> list[dict]:
        """Run the frame's batches in ascending batch_id order, one window
        at a time; returns one stats row per batch run.  Every batch's
        writes have drained and its lineage mark has landed when this
        returns — ``foreachBatch`` needs that, because the stream
        checkpoint commits when the handler returns."""
        spark, lake, cfg, ann, dels = (
            self.spark, self.lake, self.cfg, self.ann, self.dels
        )
        # ONE job sizes every batch AND enumerates the batch ids
        batch_counts = _batch_counts(frame)
        # incremental contract: batch N+1's output depends on batch N's RW
        # state, so only the longest committed PREFIX of the batch order
        # counts as done — a gap in the lineage (mid-run corruption, manual
        # partition delete) invalidates every later batch, which is then
        # re-run; each re-run replaces its batch_id=N partitions whole
        # (Lake.put_partition), byte-identically.
        completed = lake.completed_batches() if self.resume else set()
        todo = list(
            itertools.dropwhile(lambda b: b in completed, sorted(batch_counts))
        )
        if not todo:
            return []

        # rebuild RW state from the committed batches below the first batch
        # this run executes
        drained: set[int] = {int(b) for b in completed if b < todo[0]}
        lake_rw = lake.read(spark, "new_entities") if drained else None
        rw_pdf = pd.DataFrame(columns=[
            "id", "indexer", "wikipedia_id", "title", "descr", "type_",
            "embedding",
        ])
        if ann:
            # ivf mode exists for the beyond-broadcast regime, so RW state
            # must not accrete in driver memory: drained entities live in
            # the index's delta files, and the driver holds only the
            # current window's deltas
            next_rw_id = 0
            if lake_rw is not None:
                mx = (
                    lake_rw.filter(F.col("batch_id").isin(sorted(drained)))
                    .agg(F.max("id"))
                    .first()[0]
                )
                next_rw_id = int(mx) + 1 if mx is not None else 0
        else:
            if lake_rw is not None:
                rw_pdf = lake_rw.filter(
                    F.col("batch_id").isin(sorted(drained))
                ).drop("batch_id").toPandas()
            # deleted RW ids are never reassigned: next_rw_id is taken
            # before the tombstone filter
            next_rw_id = int(rw_pdf["id"].max()) + 1 if len(rw_pdf) else 0
            if dels and len(rw_pdf):
                rw_pdf = rw_pdf[~rw_pdf["id"].isin(dels)].reset_index(drop=True)

        # ---- build-once ANN index (FAISS build/serialize/load/add
        # semantics, pipeline/indexer/main.py:178-214; operators/ann_index.py)
        if ann:
            from incremental_entity_extraction_spark.operators.ann_index import (
                IVFShard,
                backfill_missing_deltas,
                ensure_ann_index,
                index_shard,
                persist_delta,
                rows_shard,
                rw_delta_rows,
            )
            from incremental_entity_extraction_spark.operators.retrieval_ann import (  # noqa: E501
                composite_corpus,
            )

            if self.ann_model is None:
                # trained/bucketed ONCE per (corpus, params); a resume run
                # loads the persisted model + rows and pays zero retraining.
                # With ``ann_rebuild_threshold`` set, drained RW entities
                # (the accreted deltas, frozen-centroid-assigned since build)
                # are offered as the drift training fold: when
                # deltas-since-training exceed the threshold ratio, ensure
                # rebuilds once with them in the k-means sample and the
                # backfill below re-adds them under the new model.
                delta_corpus = None
                if self.ann_rebuild_threshold is not None and lake_rw is not None:
                    delta_corpus = composite_corpus(
                        lake_rw.filter(F.col("batch_id").isin(sorted(drained)))
                        .select("id", "indexer", "embedding")
                    )
                self.ann_model = ensure_ann_index(
                    composite_corpus(self.kb_ro.select(
                        "id", "indexer", "wikipedia_id", "title", "embedding"
                    )),
                    lake.path("ann_index"),
                    mode=self.retrieval_mode,
                    rebuild_threshold=self.ann_rebuild_threshold,
                    delta_corpus=delta_corpus,
                )
            # backfill: drained batches whose delta commit is missing (a lake
            # written by an older index layout, or a fingerprint-change
            # rebuild that wiped the rows) are re-assigned from new_entities
            # — tiny per-batch frames, frozen model, byte-deterministic
            if drained:
                backfill_missing_deltas(
                    self.ann_model, spark, lake_rw, drained, cfg.rw_indexer_id
                )
            # the in-window search probes under the index's centroids and
            # masks its tombstones
            probe = IVFShard(self.ann_model.centroids, self.ann_model.n_probe, dels)
        ann_model = self.ann_model

        stats_rows = []
        # pipeline parallelism across the batch boundary: batch N's table
        # writes drain while batch N+1 is finished — the ONLY cross-batch
        # dependency is the (tiny) RW delta, which BatchPersist.rw_delta()
        # returns immediately.  Lineage is marked strictly after finish(), so
        # a crash mid-overlap leaves batch N unmarked and the prefix-resume
        # re-runs it idempotently.
        pending: tuple | None = None

        def _drain(p) -> None:
            b_prev, bp_prev, extra, delta = p
            stats = {**bp_prev.finish(), **extra}
            if ann:
                # index delta BEFORE the lineage mark: a crash in between
                # leaves the batch unmarked, so the re-run rewrites the
                # file byte-identically (frozen model ⇒ deterministic
                # assignment).  Zero-entity batches commit a marker-only
                # persist so resume never re-scans them.
                persist_delta(ann_model, spark, delta, int(b_prev))
            # the batch's metrics row, before the lineage mark: a run that
            # fails later still leaves metrics for every batch it committed
            lake.put_partition("metrics", b_prev, pa.Table.from_pylist([stats]))
            lake.mark_complete(int(b_prev), stats)
            drained.add(int(b_prev))  # its delta file joins the next index shard
            stats_rows.append({"batch_id": int(b_prev), **stats})

        try:
            for window in _windows(todo, batch_counts):
                if pending is not None:
                    # the window's shards must hold every earlier batch
                    _drain(pending)
                    pending = None
                t0 = time.time()
                rows = self._collect_window(
                    frame, window, sum(batch_counts[b] for b in window), rw_pdf,
                    index_shard(ann_model, drained, dels) if ann else None,
                )
                ends = np.searchsorted(
                    rows["batch_id"].to_numpy(), window, side="right"
                )
                new: list = []  # shards of the entities this window added
                for b, lo, hi in zip(window, [0, *ends[:-1]], ends):
                    tables, clusters = run_batch(
                        rows.slice(lo, hi - lo),
                        [probe, *new] if ann and new else new,
                        next_rw_id, cfg, self.cluster_mode,
                        self.retrieval_mode, self.persist_candidates, spark,
                    )
                    # S7 analogue: persist the enriched mention table per
                    # batch (reference pickles outdata per batch,
                    # eval_kbp.py:654-658); encodings/candidates are dropped
                    # — recomputable and dominate bytes.
                    bp = BatchPersist().start(lake, int(b), tables, clusters, cfg)
                    # thread RW state forward (small dimension delta)
                    add_pdf = bp.rw_delta()
                    delta = None
                    if len(add_pdf):
                        next_rw_id = max(next_rw_id, int(add_pdf["id"].max()) + 1)
                        if ann:
                            # reaches the index files when the batch drains
                            delta = rw_delta_rows(
                                ann_model, add_pdf, cfg.rw_indexer_id
                            )
                            new.append(rows_shard(delta))
                        else:
                            rw_pdf = (
                                pd.concat([rw_pdf, add_pdf], ignore_index=True)
                                if len(rw_pdf) else add_pdf
                            )
                            new.append(KBShard(add_pdf))
                    if pending is not None:
                        _drain(pending)
                        pending = None
                    # wall_s = compute wall (the window job for its first
                    # batch, then cluster→ids→RW delta); the table writes
                    # drain during the NEXT batch's compute and are not
                    # charged
                    pending = (
                        int(b),
                        bp,
                        {
                            "n_clusters": int(len(add_pdf)),
                            "wall_s": round(time.time() - t0, 3),
                        },
                        delta,
                    )
                    t0 = time.time()
            if pending is not None:
                _drain(pending)
                pending = None
        except BaseException:
            # a batch failed while the previous one's writes were draining:
            # join them and mark it if they succeeded (its work is valid and
            # the prefix-resume will restart from the failed batch); swallow
            # drain errors so the original failure propagates
            if pending is not None:
                try:
                    _drain(pending)
                except Exception:
                    pass
            raise
        return stats_rows


def run_incremental(
    spark: SparkSession,
    transcripts: DataFrame,
    kb_ro: DataFrame,
    lake: Lake,
    cfg: PipelineConfig = DEFAULT_CONFIG,
    cluster_mode: str = "cc",
    n_shards: int = 1,
    resume: bool = True,
    partitions: int | None = None,
    known_words: frozenset | None = None,
    persist_candidates: bool = False,
    deleted_entity_ids: set[int] | None = None,
    encoder=None,
    retrieval_mode: str = "broadcast",
    single_batch: bool = False,
    ann_rebuild_threshold: float | None = None,
    salt_repartition: bool | None = None,
) -> list[dict]:
    """Loop over batch_id in ascending order, threading KB state through the
    lake; resumable via the lineage table (``BatchLoop``).

    ``single_batch=True`` is the reference's ``--no-incremental`` mode
    (scripts/eval_kbp.py:773-785, which concatenates every batch into one):
    all rows are mapped to batch_id 0 and the pipeline makes exactly ONE
    pass — one RW state, one lineage row.  With an empty KB delta the
    emitted triples are identical to the incremental run (pytest-asserted);
    they diverge exactly when later batches would have linked against
    entities discovered in earlier ones, which is the point of the flag.

    ``deleted_entity_ids`` are KB tombstones: the reference indexer returns
    dummy score=-1000 candidates when an entity's vector outlives its
    metadata (pipeline/indexer/main.py:121-135) and eval drops them
    (scripts/eval_kbp.py:242-279); here metadata rides the vector, so a
    delete removes the row from every shard before broadcast — deleted
    entities can never be retrieved, the same net semantics without the
    sentinel round-trip.  Deleted RW ids are never reassigned (``next_rw_id``
    is computed before the tombstone filter)."""
    dels = sorted(int(i) for i in deleted_entity_ids) if deleted_entity_ids else []
    if dels:
        kb_ro = kb_ro.filter(~F.col("id").isin(dels))
    if single_batch:
        transcripts = transcripts.withColumn(
            "batch_id", F.lit(0).cast(transcripts.schema["batch_id"].dataType)
        )
    loop = BatchLoop(
        spark, kb_ro, lake, cfg, cluster_mode, n_shards, resume, partitions,
        known_words, persist_candidates, dels, encoder, retrieval_mode,
        ann_rebuild_threshold, salt_repartition,
    )
    try:
        return loop.run(transcripts)
    finally:
        loop.close()
