"""Incremental pipeline driver: lake layout, per-batch run, checkpoint/resume.

Reference lifecycle (scripts/eval_kbp.py:734-805): reset RW KB, then for each
batch file in CLI order run encode → retrieve → NIL → cluster → add-to-KB →
save.  Cross-batch state lives in the RW FAISS index + Postgres + driver
globals (eval_kbp.py:39-41).

Here the state is lake tables, so every batch is idempotent and the run is
resumable (north_rule):

* ``new_entities``   — the RW index (id, indexer, embedding, ...), partitioned
  by batch_id; re-broadcast at each batch boundary (SURVEY.md §1.6).
* ``prev_clusters``  — cluster summaries per batch.
* ``triples``        — the KG, partitioned by batch_id.
* ``lineage``        — one row per completed batch (checkpoint marker);
  resume = skip the longest committed prefix of the batch order.
* ``metrics``        — per-batch counters + timings (+ eval metrics when gold
  labels are supplied).

Writes use dynamic partition overwrite on batch_id, so re-running a batch
after a crash replaces exactly its own partitions — ids stay deterministic
because they are ``row_number`` over canonical order + previous max
(operators/kb.py), not a function of task scheduling.

Skew: per-batch work is repartitioned on (conv_id, turn_idx) — the turn
index acts as the salt, so a hot conversation (Zipf head) spreads across
partitions instead of pinning one task (SURVEY.md §4 "salted repartition").
"""

from __future__ import annotations

import itertools
import json
import os
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from incremental_entity_extraction_spark.config import DEFAULT_CONFIG, PipelineConfig
# the four per-batch kernels are imported for _driver_cluster_assign, which
# resolves them through this module's globals at call time
from incremental_entity_extraction_spark.operators.clustering import (  # noqa: F401
    CLUSTER_KERNELS,
    CLUSTER_SCHEMA,
    cc_summarize_pdf,
    cluster_cc,
    cluster_summarize_batches,
    greedy_summarize_pdf,
    kernel_frame,
    summarize_clusters_df,
    tfidf_summarize_pdf,
    three_step_summarize_pdf,
)

from incremental_entity_extraction_spark.operators.fused import (
    detect_encode_retrieve,
)
from incremental_entity_extraction_spark.operators.kb import (
    assign_new_entity_ids,
    new_entity_rows,
    new_entity_rows_pdf,
)
from incremental_entity_extraction_spark.operators.nil import predict_nil
from incremental_entity_extraction_spark.operators.retrieval import (
    KBShard,
    build_kb_shards,
)
from incremental_entity_extraction_spark.operators.triples import (
    cluster_triples,
    mention_triples,
)

# driver gate: batches whose NIL set is at most this many rows are
# clustered + summarized + id-assigned ON THE DRIVER (the mode's per-batch
# kernel, clustering.CLUSTER_KERNELS, on the collected frame) and
# re-parallelized via createDataFrame.  Above the gate the same kernel runs
# in one applyInPandas task per batch — a single executor thread doing the
# identical single-threaded work — so below it the driver path is the same
# compute minus an applyInPandas shuffle, a global window and a
# localCheckpoint (≈0.3 s/batch of pure job latency at sf0.1).  8192 rows
# bound the collect at ~8 MB of encodings (dim 256) and the cc score matrix
# at 256 MB in ~8 MB tiles.  Above the gate, cc alone runs the distributed
# chain (broadcast sweep / LSH + star-CC) instead of one task.
DRIVER_CLUSTER_MAX = 8192

_CLUSTERS_WITH_IDS_SCHEMA = T.StructType(
    list(CLUSTER_SCHEMA.fields)
    + [
        T.StructField("index_id", T.LongType(), False),
        T.StructField("index_indexer", T.IntegerType(), False),
    ]
)


def _driver_cluster_assign(
    nil_df: DataFrame, cfg: PipelineConfig, cluster_mode: str, next_rw_id: int
) -> tuple[DataFrame, pd.DataFrame]:
    """Tiny-NIL-batch fast path: collect, run the SAME per-batch kernel
    ``clustering.cluster_summarize_batches`` runs, assign ids in the SAME
    canonical order as operators/kb.assign_new_entity_ids (nelements desc,
    title asc, first-member asc — pandas stable sort ≡ the window sort;
    UTF-8 byte order ≡ Python str order on all codepoints), and
    re-parallelize.
    Output rows are identical to the paths above the gate (pinned by
    tests/test_pipeline_e2e.py gate-parity).  Returns (DataFrame, the same
    rows as pandas) so the caller can derive the RW delta driver-side
    instead of collecting back rows the driver just created."""
    spark = nil_df.sparkSession
    pdf = kernel_frame(nil_df, cluster_mode).toPandas()
    th = float(cfg.greedy_threshold)
    # looked up at call time, so a wrapper patched onto this module sees it
    kernel = globals()[CLUSTER_KERNELS[cluster_mode]]
    parts = [kernel(g, th) for _, g in pdf.groupby("batch_id", sort=True)]
    cols = [f.name for f in CLUSTER_SCHEMA.fields]
    clusters = (
        pd.concat(parts, ignore_index=True)
        if parts
        else pd.DataFrame(columns=cols)
    )
    if len(clusters):
        clusters = (
            clusters.assign(_first=clusters["mentions_id"].str[0])
            .sort_values(
                ["nelements", "title", "_first"],
                ascending=[False, True, True],
                kind="stable",
            )
            .drop(columns="_first")
            .reset_index(drop=True)
        )
    clusters["index_id"] = np.arange(len(clusters), dtype=np.int64) + int(
        next_rw_id
    )
    clusters["index_indexer"] = np.int32(cfg.rw_indexer_id)
    clusters = clusters[cols + ["index_id", "index_indexer"]]
    return (
        spark.createDataFrame(clusters, schema=_CLUSTERS_WITH_IDS_SCHEMA),
        clusters,
    )


@dataclass
class Lake:
    """Parquet-directory lake (Iceberg-table stand-in; same layout maps 1:1
    onto Iceberg partitioned tables on a real cluster)."""

    root: str

    def path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def write_partition(self, df: DataFrame, table: str) -> None:
        """Idempotent: dynamic overwrite of only the batch_id partitions in df.

        The dynamic mode is asserted here (it is a runtime-settable conf)
        rather than trusted from session setup: under Spark's default STATIC
        mode every per-batch write would truncate the whole table, silently
        leaving only the last batch and corrupting resume."""
        df.sparkSession.conf.set(
            "spark.sql.sources.partitionOverwriteMode", "dynamic"
        )
        df.write.mode("overwrite").partitionBy("batch_id").parquet(self.path(table))

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


def run_batch(
    transcripts_batch: DataFrame,
    ro_shards: list[KBShard],
    rw_pdf: pd.DataFrame,
    next_rw_id: int,
    cfg: PipelineConfig,
    cluster_mode: str = "cc",
    known_words: frozenset | None = None,
    encoder=None,
    retrieval_mode: str = "broadcast",
    kb_ro_df: DataFrame | None = None,
    rw_df: DataFrame | None = None,
    ann_model=None,
    ann_extra_rows=None,
    ann_allowed_batches: list[int] | None = None,
    ro_shards_bc=None,
):
    """One batch: transcripts -> (nil_scored, clusters_with_ids, new_entities,
    triples, rw_add_pdf).  Nothing is collected except the (small)
    cluster/new-entity tables needed to thread state to the next batch.
    ``rw_add_pdf`` is the RW delta already in pandas form when the
    driver-gated clustering path ran (None otherwise) — pass it to
    ``BatchPersist.start(rw_pdf_precomputed=...)`` to skip the collect job.

    ``retrieval_mode='broadcast'`` (default): KB shards broadcast, fused
    single-hop detect→encode→retrieve — exact, for KBs within the broadcast
    budget (the reference's regime).  ``'ivf'`` / ``'ivf_pq'``: the KB stays
    a DataFrame (``kb_ro_df`` + the RW delta) and candidates come from the
    PERSISTED ANN index ``ann_model`` (required — ``BatchLoop`` builds one
    per run, operators/ann_index.py), scanned with frozen
    centroids/codebooks — approximate, for entity dimensions beyond
    broadcast.  ``ann_extra_rows`` is the one in-flight delta and
    ``ann_allowed_batches`` the drained-batch visibility set.  These modes
    take RW state only as ``rw_df`` (a DataFrame — ``BatchLoop`` threads it
    through the lake's ``new_entities`` table so driver memory never
    accretes); a non-empty ``rw_pdf`` raises, because its entities would
    have KB metadata but no index rows."""
    if cluster_mode not in CLUSTER_KERNELS:
        raise ValueError(
            f"unknown cluster_mode {cluster_mode!r}: "
            f"expected {' | '.join(CLUSTER_KERNELS)}"
        )
    rw_bc = None  # per-batch RW broadcast; unpersisted after the barrier
    if retrieval_mode in ("ivf", "ivf_pq"):
        if ann_model is None:
            raise ValueError(
                f"retrieval_mode={retrieval_mode!r} needs a prebuilt ann_model "
                "(run_incremental builds one; see operators/ann_index.py)"
            )
        if len(rw_pdf):
            raise ValueError(
                f"retrieval_mode={retrieval_mode!r} takes RW state as rw_df, "
                "not rw_pdf"
            )
        from incremental_entity_extraction_spark.operators.fused import (
            detect_encode,
        )
        from incremental_entity_extraction_spark.operators.retrieval_ann import (
            retrieve_topk_indexed,
        )

        kb_cols = ["id", "indexer", "wikipedia_id", "title", "embedding"]
        kb_df = kb_ro_df.select(*kb_cols)
        if rw_df is not None:
            kb_df = kb_df.unionByName(rw_df.select(*kb_cols))
        # one fused detect+encode hop (not two chained mapInPandas), then
        # the distributed ANN scan — the KB is never collected or broadcast.
        # Checkpointed because the enriched plan references it twice (the
        # query side of the ANN search AND the join-back mentions side) —
        # without it the detect+encode kernel would run once per branch.
        encoded = detect_encode(
            transcripts_batch, cfg, known_words=known_words, encoder=encoder
        ).localCheckpoint()
        enriched = retrieve_topk_indexed(
            encoded, kb_df, cfg, ann_model,
            extra_rows=ann_extra_rows,
            allowed_batches=ann_allowed_batches,
        )
    else:
        # fused single-hop stage (operators/fused.py): one Python worker per
        # task instead of three chained ones; identical output to the composed
        # detect_mentions → encode_mentions_df → retrieve_topk chain.
        # ``ro_shards_bc`` (BatchLoop) reuses ONE broadcast of the RO
        # KB across every batch — only the small RW shard is broadcast per
        # batch; direct callers without it keep the single-broadcast path.
        rw_shards = (
            [KBShard(rw_pdf.reset_index(drop=True))] if len(rw_pdf) else []
        )
        if ro_shards_bc is not None:
            # run_batch owns the per-batch RW broadcast so it can be
            # unpersisted after the nil_scored checkpoint barrier — letting
            # the fused stage broadcast it internally would leak one
            # Broadcast of the growing RW KB per batch over a long stream
            if rw_shards:
                rw_bc = transcripts_batch.sparkSession.sparkContext.broadcast(
                    rw_shards
                )
            enriched = detect_encode_retrieve(
                transcripts_batch, cfg, [], known_words=known_words,
                encoder=encoder, shards_bc=ro_shards_bc,
                extra_shards_bc=rw_bc,
            )
        else:
            enriched = detect_encode_retrieve(
                transcripts_batch, cfg, list(ro_shards) + rw_shards,
                known_words=known_words, encoder=encoder,
            )
    # two materialization barriers by design (SURVEY.md §3.1): clustering is
    # iterative, and the KB append is the batch boundary.  The NIL count the
    # driver gate needs rides this checkpoint action as an Observation — no
    # standalone count job per batch.
    try:
        nil_scored = predict_nil(enriched, cfg)
        gate_obs = Observation()
        nil_scored = nil_scored.observe(
            gate_obs, F.sum(F.col("is_nil").cast("long")).alias("n_nil")
        ).localCheckpoint()
    finally:
        if rw_bc is not None:
            # once the eager checkpoint materialized the fused stage this
            # batch's RW broadcast is dead weight (driver pickle + every
            # worker's broadcast registry); the finally keeps a FAILED
            # batch (e.g. transient executor loss mid-checkpoint) from
            # stranding one grown-RW-shard broadcast per retry
            rw_bc.unpersist()

    nil_df = nil_scored.filter(F.col("is_nil")).select(
        "mention_id", "conv_id", "turn_idx", "start_tok", "batch_id",
        "mention", "context_left", "context_right", "encoding",
    )
    n_nil = int(gate_obs.get["n_nil"] or 0)
    rw_add_pdf = None  # driver-gated batches precompute the RW delta
    if n_nil <= DRIVER_CLUSTER_MAX:
        # tiny-batch driver path: same kernels, no applyInPandas shuffle, no
        # window job, no checkpoint — replaces ≈0.3 s of per-batch job
        # latency with one small collect (_driver_cluster_assign docstring)
        clusters_with_ids, clusters_pdf = _driver_cluster_assign(
            nil_df, cfg, cluster_mode, next_rw_id
        )
        rw_add_pdf = new_entity_rows_pdf(clusters_pdf, cfg)
    else:
        if cluster_mode == "cc":
            # n_nil from the checkpoint Observation: no standalone count job
            clusters = summarize_clusters_df(
                nil_df, cluster_cc(nil_df, cfg, n_rows=n_nil), cfg
            )
        else:
            clusters = cluster_summarize_batches(nil_df, cfg, cluster_mode)
        # clusters are small; checkpoint so the downstream actions (table
        # writes + triples) don't each replay the clustering
        clusters_with_ids = assign_new_entity_ids(
            clusters, next_rw_id, cfg
        ).localCheckpoint()
    labels = clusters_with_ids.select(
        F.explode("mentions_id").alias("mention_id"), "cluster_label"
    )
    new_entities = new_entity_rows(clusters_with_ids, cfg)

    triples = mention_triples(nil_scored, cfg).unionByName(
        cluster_triples(nil_scored, labels, clusters_with_ids)
    )
    return nil_scored, clusters_with_ids, new_entities, triples, rw_add_pdf


class BatchPersist:
    """Async persist of one batch's lake tables.

    ``start`` submits every independent job (4-5 table writes + the RW-delta
    collect) to a thread pool at once — the inputs are ``localCheckpoint``-ed
    in ``run_batch`` so the jobs share no recomputation, and concurrent
    submission overlaps their fixed per-job scheduling cost (the dominant
    term for small batches).  Mention/NIL stats ride the mentions write via
    ``Observation`` instead of a separate aggregation job.

    ``rw_delta`` blocks only on the (tiny) new-entities collect — the one
    cross-batch data dependency — so the driver can start computing batch
    N+1 while batch N's writes drain; ``finish`` joins the writes and must
    complete before batch N is marked in the lineage.

    The wide ``candidates array<struct>`` column is NOT persisted in
    ``mentions`` — it dominates bytes at scale and is recomputable; pass
    ``persist_candidates=True`` to emit it as a separate ``candidates``
    table when an eval workflow needs the full lists
    (evaluation/metrics.linking_recall_at_k)."""

    def __init__(self) -> None:
        self._ex: ThreadPoolExecutor | None = None
        self._futs: list = []
        self._fut_pdf = None
        self._pdf: pd.DataFrame | None = None
        self._obs: Observation | None = None

    def start(
        self,
        lake: Lake,
        nil_scored: DataFrame,
        clusters_with_ids: DataFrame,
        new_entities: DataFrame,
        triples: DataFrame,
        persist_candidates: bool = False,
        rw_pdf_precomputed: pd.DataFrame | None = None,
        out_parts: int | None = None,
    ) -> "BatchPersist":
        self._obs = Observation()
        mentions_out = nil_scored.drop("encoding", "candidates").observe(
            self._obs,
            F.count(F.lit(1)).alias("n_mentions"),
            F.sum(F.when(F.col("is_nil"), 1).otherwise(0)).alias("n_nil"),
        )

        # ``out_parts`` (round 8, guide §6 small-files): the write-task count
        # the batch's row volume justifies — run_incremental passes
        # ~turns/2000, the same per-task sizing _batch_partitions uses for
        # compute.  Without it a 1 250-turn batch wrote every table through
        # 16-32 tasks (driver-created frames inherit defaultParallelism), so
        # a 4-batch sf0.1 lake held 269 parquet files and each write job
        # paid a multi-task commit.  coalesce NEVER increases partitioning,
        # so big batches keep their write parallelism unchanged.
        def _sized(df: DataFrame) -> DataFrame:
            return df.coalesce(out_parts) if out_parts else df

        jobs: list[tuple[DataFrame, str]] = [
            (_sized(mentions_out), "mentions"),
            (_sized(triples), "triples"),
            (_sized(new_entities), "new_entities"),
            (
                _sized(
                    clusters_with_ids.select(
                        "cluster_label", "title", "nelements", "mentions_id",
                        "mentions", "index_id", "index_indexer", "batch_id",
                    )
                ),
                "prev_clusters",
            ),
        ]
        if persist_candidates:
            jobs.append(
                (
                    _sized(
                        nil_scored.select("mention_id", "candidates", "batch_id")
                    ),
                    "candidates",
                )
            )
        self._ex = ThreadPoolExecutor(max_workers=len(jobs) + 1)
        self._futs = [self._ex.submit(lake.write_partition, df, t) for df, t in jobs]
        if rw_pdf_precomputed is not None:
            # driver-gated batches already hold the delta rows in pandas
            # (kb.new_entity_rows_pdf) — no collect job needed
            self._pdf = rw_pdf_precomputed
        else:
            self._fut_pdf = self._ex.submit(
                new_entities.drop("batch_id").toPandas
            )
        return self

    def rw_delta(self) -> pd.DataFrame:
        """The new-entities rows for RW-state threading (blocks only on the
        small collect — or returns immediately when precomputed — never on
        the table writes)."""
        return self._pdf if self._fut_pdf is None else self._fut_pdf.result()

    def finish(self) -> dict:
        """Join all writes; returns the observed mention/NIL stats.  Must
        run before the batch is marked complete in the lineage."""
        try:
            for f in self._futs:
                f.result()
        finally:
            self._ex.shutdown(wait=False)
        got = self._obs.get
        return {
            "n_mentions": int(got["n_mentions"]),
            "n_nil": int(got["n_nil"] or 0),
        }


@dataclass
class BatchLoop:
    """The incremental batch loop that both drivers step: ``run_incremental``
    runs it once over the whole frame, the streaming driver once per
    micro-batch (streaming/incremental.py).

    The loop object owns the run-lifetime state — the ONE broadcast of the
    RO KB (per-batch re-broadcast of an unchanged KB pays a driver pickle
    per batch and defeats the Python workers' broadcast-id cache,
    fused.detect_encode_retrieve) and, in the ANN modes, the persisted index
    model, built or loaded at the first ``run``.  Everything else is
    re-derived from the lake at each ``run``, so the lineage prefix is the
    only resume contract.  ``dels`` are tombstoned entity ids, filtered out
    of the RW state (the caller filters ``kb_ro``); ``close`` releases the
    broadcast."""

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
        self.ann = self.retrieval_mode in ("ivf", "ivf_pq")
        # ANN modes never collect the KB — that is their point
        self.ro_shards = (
            build_kb_shards(self.kb_ro, self.n_shards)
            if self.retrieval_mode == "broadcast" else []
        )
        self.ro_shards_bc = (
            self.spark.sparkContext.broadcast(self.ro_shards)
            if self.ro_shards else None
        )
        self.ann_model = None

    def close(self) -> None:
        if self.ro_shards_bc is not None:
            self.ro_shards_bc.unpersist()
            self.ro_shards_bc = None

    def _salted(self, tb: DataFrame, n_turns: int) -> DataFrame:
        """salt_repartition True/False forces every batch; None decides PER
        BATCH: an explicit ``partitions`` is a request to shape the batch's
        partitioning (the partition-invariance tests rely on it); otherwise
        the salt shuffle exists for (a) parallelism — a byte-contiguous
        batch in the source parquet lands in ~one scan split — and (b)
        hot-conversation skew; for tiny batches it buys neither
        (single-task fused compute is already cheap) and its ~0.2 s/batch
        stage is pure serial floor (profiled), so skip below ~1000
        turns/batch.  Per-batch, NOT the run average: one 50k-turn batch
        among many tiny ones must still get its salt and its task count."""
        salt = (
            self.salt_repartition if self.salt_repartition is not None
            else self.partitions is not None or n_turns >= 1000
        )
        if not salt:
            return tb
        if self.partitions is not None:
            n = self.partitions
        else:
            # ~2000 turns per task, bounded by executor slots: tiny batches
            # shouldn't schedule 2×cores tasks, huge ones shouldn't underfill
            par = self.spark.sparkContext.defaultParallelism
            n = int(min(par * 2, max(par // 2, n_turns / 2000, 1)))
        return tb.repartition(n, "conv_id", "turn_idx")  # turn_idx = skew salt

    def run(self, frame: DataFrame) -> list[dict]:
        """Run the frame's batches in ascending batch_id order; returns one
        stats row per batch run.  Every batch's writes have drained and its
        lineage mark has landed when this returns — ``foreachBatch`` needs
        that, because the stream checkpoint commits when the handler
        returns."""
        spark, lake, cfg, ann, dels = (
            self.spark, self.lake, self.cfg, self.ann, self.dels
        )
        # ONE job sizes every batch AND enumerates the batch ids
        batch_counts = {
            r["batch_id"]: int(r["n"])
            for r in frame.groupBy("batch_id")
            .agg(F.count("*").alias("n"))
            .collect()
        }
        # incremental contract: batch N+1's output depends on batch N's RW
        # state, so only the longest committed PREFIX of the batch order
        # counts as done — a gap in the lineage (mid-run corruption, manual
        # partition delete) invalidates every later batch, which is then
        # re-run; dynamic partition overwrite makes the re-runs
        # byte-identical replacements.
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
        last_delta_pdf: pd.DataFrame | None = None
        if ann:
            # ANN modes exist for the beyond-broadcast regime, so RW state
            # must not accrete in driver memory: it stays IN the lake's
            # ``new_entities`` table.  The driver keeps only ``next_rw_id``
            # plus the single in-flight delta whose async write has not
            # drained yet (bounded at one batch); each batch's KB union reads
            # the drained partitions back as a DataFrame (_rw_state_df).
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
        ann_inflight: pd.DataFrame | None = None  # in-flight delta index rows
        if ann:
            from incremental_entity_extraction_spark.operators.ann_index import (
                BASE_BATCH,
                backfill_missing_deltas,
                ensure_ann_index,
                persist_delta,
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
                    composite_corpus(self.kb_ro.select("id", "indexer", "embedding")),
                    lake.path("ann_index"),
                    mode=self.retrieval_mode,
                    rebuild_threshold=self.ann_rebuild_threshold,
                    delta_corpus=delta_corpus,
                )
            # backfill: drained batches whose delta commit is missing (a lake
            # written by a pre-index version, or a fingerprint-change rebuild
            # that wiped the rows dir) are re-assigned from new_entities —
            # tiny per-batch frames, frozen model, byte-deterministic
            if drained:
                backfill_missing_deltas(
                    self.ann_model, spark, lake_rw, drained, cfg.rw_indexer_id
                )
        ann_model = self.ann_model

        def _rw_state_df() -> DataFrame | None:
            """ANN modes: the RW entity table as a DataFrame — lake partitions
            of drained batches + the one not-yet-drained in-memory delta."""
            if not ann:
                return None
            parts: list[DataFrame] = []
            cur = lake.read(spark, "new_entities")
            if cur is not None and drained:
                parts.append(
                    cur.filter(F.col("batch_id").isin(sorted(drained)))
                    .drop("batch_id")
                )
            if last_delta_pdf is not None and len(last_delta_pdf):
                parts.append(spark.createDataFrame(last_delta_pdf))
            if not parts:
                return None
            out = parts[0]
            for extra in parts[1:]:
                out = out.unionByName(extra)
            if dels:
                out = out.filter(~F.col("id").isin(dels))
            return out

        stats_rows = []
        # pipeline parallelism across the batch boundary: batch N's table
        # writes drain while batch N+1 computes — the ONLY cross-batch
        # dependency is the (tiny) RW delta, which BatchPersist.rw_delta()
        # returns immediately.  Lineage is marked strictly after finish(), so
        # a crash mid-overlap leaves batch N unmarked and the prefix-resume
        # re-runs it idempotently.
        pending: tuple | None = None

        def _drain(p) -> None:
            b_prev, bp_prev, extra, idx_rows = p
            stats = {**bp_prev.finish(), **extra}
            if ann_model is not None:
                # index delta BEFORE the lineage mark: a crash in between
                # leaves the batch unmarked, so the re-run overwrites the
                # partition byte-identically (frozen model ⇒ deterministic
                # assignment).  Zero-entity batches commit a marker-only
                # persist so resume never re-scans them.
                persist_delta(ann_model, spark, idx_rows, int(b_prev))
            lake.mark_complete(int(b_prev), stats)
            drained.add(int(b_prev))  # its new_entities partition is readable
            stats_rows.append({"batch_id": int(b_prev), **stats})

        try:
            for b in todo:
                t0 = time.time()
                nb_turns = batch_counts[b]
                tb = self._salted(
                    frame.filter(F.col("batch_id") == int(b)), nb_turns
                )
                nil_scored, clusters_with_ids, new_entities, triples, rw_add = (
                    run_batch(
                        tb, self.ro_shards, rw_pdf, next_rw_id, cfg,
                        self.cluster_mode, self.known_words, self.encoder,
                        self.retrieval_mode, self.kb_ro,
                        rw_df=_rw_state_df(),
                        ann_model=ann_model, ann_extra_rows=ann_inflight,
                        ann_allowed_batches=(
                            [BASE_BATCH] + sorted(drained) if ann else None
                        ),
                        ro_shards_bc=self.ro_shards_bc,
                    )
                )
                # S7 analogue: persist the enriched mention table per batch
                # (reference pickles outdata per batch, eval_kbp.py:654-658);
                # encodings/candidates are dropped — recomputable and
                # dominate bytes.
                bp = BatchPersist().start(
                    lake, nil_scored, clusters_with_ids, new_entities, triples,
                    self.persist_candidates, rw_pdf_precomputed=rw_add,
                    # write-task count sized like the compute (~2000
                    # turns/task, see BatchPersist.start): tiny batches write
                    # one file per table instead of one per
                    # default-parallelism partition
                    out_parts=max(1, nb_turns // 2000),
                )
                # thread RW state forward (small dimension delta)
                add_pdf = bp.rw_delta()
                if ann:
                    # keep only this batch's delta in memory; older batches
                    # are read back from the lake once their writes drain
                    last_delta_pdf = add_pdf
                    ann_inflight = rw_delta_rows(
                        ann_model, add_pdf, int(b), cfg.rw_indexer_id
                    )
                    if len(add_pdf):
                        next_rw_id = max(next_rw_id, int(add_pdf["id"].max()) + 1)
                elif len(add_pdf):
                    rw_pdf = (
                        pd.concat([rw_pdf, add_pdf], ignore_index=True)
                        if len(rw_pdf)
                        else add_pdf
                    )
                    next_rw_id = int(rw_pdf["id"].max()) + 1
                if pending is not None:
                    _drain(pending)
                    pending = None
                # wall_s = compute wall (detect→cluster→ids→RW delta); the
                # table writes drain during the NEXT batch's compute and are
                # not charged
                pending = (
                    int(b),
                    bp,
                    {
                        "n_clusters": int(len(add_pdf)),
                        "wall_s": round(time.time() - t0, 3),
                    },
                    ann_inflight,
                )
            if pending is not None:
                _drain(pending)
                pending = None
        except BaseException:
            # batch N+1's compute failed while batch N's writes were
            # draining: join them and mark N if they succeeded (its work is
            # valid and the prefix-resume will restart from N+1); swallow
            # drain errors so the original failure propagates
            if pending is not None:
                try:
                    _drain(pending)
                except Exception:
                    pass
            raise

        # a handful of driver rows — createDataFrame spreads them over
        # defaultParallelism partitions; one write task is the right size
        metrics_df = spark.createDataFrame(pd.DataFrame(stats_rows)).coalesce(1)
        lake.write_partition(metrics_df, "metrics")
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
