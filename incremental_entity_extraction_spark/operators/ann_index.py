"""S6 at ANN scale — a build-once, incrementally-added IVF(-PQ) index
persisted as a lake table.

Reference semantics: the FAISS index is trained and built ONCE, serialized
to disk, loaded at service start, and new cluster centers are incrementally
ADDED to it (pipeline/biencoder/blink/indexer/faiss_indexer.py:34-43
serialize/load; pipeline/indexer/main.py:178-214 add, 216-251 dump) — the
index is never retrained per batch.  Re-counting, re-sampling, re-training
k-means and re-bucketing the ENTIRE KB every batch would be byte-identical
each time by the deterministic-seed contract: per-batch O(|KB|) work for
O(1) information.  This module is the one ANN engine on the pipeline path:

* ``build_ann_index``   — train coarse centroids (+ PQ codebooks) once on a
  deterministic sample, bucket/encode the corpus once, persist rows as a
  parquet lake table dir-partitioned by ``(added_batch, bucket)`` plus a
  tiny ``model.npz`` (centroids/codebooks/params) — the serialize half of
  S6.
* ``load_ann_index`` / ``ensure_ann_index`` — the deserialize half; a
  params/corpus-fingerprint match reuses the persisted index (resume pays
  zero retraining), a mismatch rebuilds.
* ``assign_delta``      — FAISS ``add`` semantics: new vectors are assigned
  with FROZEN centroids/codebooks (driver-side NumPy; deltas are cluster
  centers, tiny by construction) and appended as their own
  ``added_batch=N`` partition — idempotent under dynamic partition
  overwrite, so a crashed batch re-run replaces exactly its own rows.
* ``ann_index_search``  — per-batch retrieval against the persisted rows:
  queries are bucketed DRIVER-side (one collect of the batch's
  encodings), the rows table is scanned with ``bucket IN (probed)``
  partition pruning, and each scan partition scores only the queries
  probing its buckets — one matmul (ivf) or ADC LUT gathers (pq) per
  bucket block, local top-k EMITTED TIE-INCLUSIVELY so the global window
  merge is partitioning-invariant, never a corpus-sized shuffle or
  broadcast.

Per-batch cost is O(probed index bytes + |delta|), never an O(|KB| scan +
shuffle + k-means); the index table itself is the unit the lake
maintenance (compaction/vacuum) and a 1000-executor scan both want.

The partition column is ``added_batch`` (NOT ``batch_id``) on purpose:
``maintenance.vacuum_lake`` reclaims ``batch_id=`` partitions absent from
the lineage, and the index base (``added_batch=-1``) must never be judged
an orphan.  Delta partitions are keyed by the batch that produced them and
are rewritten byte-identically when a batch re-runs.
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from incremental_entity_extraction_spark.operators.similarity_search import (
    _TOPK_SCHEMA,
    _coarse_sample,
    _derive_ivf_params,
    _normalize,
    _pq_subdims,
    kmeans_centroids,
    pq_encode,
    pq_train_codebooks,
)

BASE_BATCH = -1          # added_batch value of the build-time corpus rows
_MODEL_FILE = "model.npz"
_ROWS_DIR = "rows"

_ROWS_SCHEMA_IVF = T.StructType(
    [
        T.StructField("added_batch", T.IntegerType(), False),
        T.StructField("bucket", T.IntegerType(), False),
        T.StructField("id", T.LongType(), False),
        T.StructField("vecn", T.ArrayType(T.FloatType()), False),
    ]
)
_ROWS_SCHEMA_PQ = T.StructType(
    [
        T.StructField("added_batch", T.IntegerType(), False),
        T.StructField("bucket", T.IntegerType(), False),
        T.StructField("id", T.LongType(), False),
        T.StructField("code", T.BinaryType(), False),
    ]
)


@dataclass
class AnnIndexModel:
    """Driver-side handle: the tiny trained model + where the rows live.

    ``centroids`` is (n_centroids, dim) float32 with unit rows; ``books``
    is the (m, J, dim//m) residual PQ codebook stack for mode='ivf_pq',
    else None.  Everything corpus-sized stays in the rows table."""

    path: str
    mode: str                  # "ivf" | "ivf_pq"
    centroids: np.ndarray
    books: np.ndarray | None
    n_probe: int
    seed: int
    n_corpus: int              # build-time corpus rows (cache-validation key)
    corpus_fp: int = 0         # order-independent content fingerprint
    train_size: int = 0        # training-sample budget the model was built at
    m_subvectors: int = 0      # resolved PQ subspace count (0 for mode='ivf')
    n_delta_at_build: int = 0  # delta rows folded into training at build time

    @property
    def rows_path(self) -> str:
        return os.path.join(self.path, _ROWS_DIR)

    @property
    def dim(self) -> int:
        return int(self.centroids.shape[1])


def _save_model(m: AnnIndexModel) -> None:
    """Atomic single-file model dump (write temp + rename) — the
    faiss_indexer.py:34-43 serialize analogue."""
    os.makedirs(m.path, exist_ok=True)
    tmp = os.path.join(m.path, f".{_MODEL_FILE}.tmp")
    meta = {
        "mode": m.mode,
        "n_probe": int(m.n_probe),
        "seed": int(m.seed),
        "n_corpus": int(m.n_corpus),
        "corpus_fp": int(m.corpus_fp),
        "train_size": int(m.train_size),
        "m_subvectors": int(m.m_subvectors),
        "n_delta_at_build": int(m.n_delta_at_build),
    }
    with open(tmp, "wb") as f:
        np.savez(
            f,
            centroids=m.centroids,
            books=m.books if m.books is not None else np.empty(0, np.float32),
            meta=np.frombuffer(json.dumps(meta).encode(), dtype=np.uint8),
        )
    os.replace(tmp, os.path.join(m.path, _MODEL_FILE))


def _corpus_stats(cvec: DataFrame) -> tuple[int, int]:
    """(row count, order-independent content fingerprint) in ONE scan.

    A content hash catches what a bare count cannot: an in-place
    re-encode, or one entity replaced by another with the count unchanged
    — either would otherwise let ``ensure_ann_index`` serve a stale index
    against changed vectors.  The combiner is SUM of per-row
    xxhash64(id, vec), taken mod 2^64 (accumulated in decimal so it never
    overflows): commutative (partitioning/order-invariant) like xor but
    WITHOUT xor's pair-cancellation — with bit_xor, replacing a
    duplicated row pair (A, A) by (D, D) left the fingerprint unchanged
    (h^h = 0 on both sides)."""
    row = cvec.agg(
        F.count("*").alias("n"),
        F.sum(
            F.xxhash64("id", "vec").cast(T.DecimalType(38, 0))
        ).alias("fp"),
    ).first()
    n = int(row["n"])
    fp = int(row["fp"]) % (1 << 64) if row["fp"] is not None else 0
    return n, fp


def load_ann_index(path: str) -> AnnIndexModel | None:
    """Deserialize a persisted index model; None when absent/unreadable."""
    p = os.path.join(path, _MODEL_FILE)
    if not os.path.exists(p):
        return None
    try:
        with np.load(p) as z:
            meta = json.loads(bytes(z["meta"].tobytes()).decode())
            books = z["books"]
            return AnnIndexModel(
                path=path,
                mode=meta["mode"],
                centroids=z["centroids"],
                books=books if books.size else None,
                n_probe=int(meta["n_probe"]),
                seed=int(meta["seed"]),
                n_corpus=int(meta["n_corpus"]),
                corpus_fp=int(meta.get("corpus_fp", 0)),
                # legacy models (pre round-6) lack these; 0 ⇒ reuse-check
                # mismatch ⇒ rebuild — the safe direction
                train_size=int(meta.get("train_size", 0)),
                m_subvectors=int(meta.get("m_subvectors", 0)),
                n_delta_at_build=int(meta.get("n_delta_at_build", 0)),
            )
    except Exception:
        return None


def _assign_pdf(
    model: AnnIndexModel, ids: np.ndarray, vecs: np.ndarray, added_batch: int
) -> pd.DataFrame:
    """Frozen-model assignment of a small (driver-side) vector block ->
    index-row frame.  Vectorized NumPy; used for deltas only."""
    Xn = _normalize(vecs.astype(np.float32))
    assign = np.argmax(Xn @ model.centroids.T, axis=1).astype("int32")
    out = {
        "added_batch": np.full(len(ids), added_batch, dtype="int32"),
        "bucket": assign,
        "id": ids.astype(np.int64),
    }
    if model.mode == "ivf_pq":
        codes = pq_encode(Xn - model.centroids[assign], model.books)
        out["code"] = [c.tobytes() for c in codes]
    else:
        out["vecn"] = list(map(list, Xn))
    return pd.DataFrame(out)


def build_ann_index(
    corpus: DataFrame,
    path: str,
    mode: str = "ivf",
    n_centroids: int | None = None,
    n_probe: int | None = None,
    m_subvectors: int | None = None,
    seed: int = 11,
    train_size: int = 100_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_extra: DataFrame | None = None,
    _stats: tuple[int, int] | None = None,
) -> AnnIndexModel:
    """Train once, bucket/encode the corpus once, persist rows + model.

    The ONLY collects are the corpus count and the ≤``train_size`` training
    sample; the corpus itself is bucketed via one vectorized
    ``mapInPandas`` pass and written shuffled-by-bucket so each bucket dir
    holds one file-set.  Parameter derivation, seeding and k-means are the
    shared ``similarity_search`` code (``_derive_ivf_params`` /
    ``kmeans_centroids``), so the ivf and ivf_pq modes derive the same
    buckets at the same seed.

    ``train_extra`` (same id/vec columns as ``corpus``) folds accreted
    delta vectors into the k-means TRAINING sample only — persisted base
    rows stay corpus-only, so the base/delta bookkeeping (and the
    backfill that re-adds deltas under the new model) is undisturbed.
    This is the drift-rebuild half of ``rebuild_threshold`` (see
    ``ensure_ann_index``) and deliberately EXCEEDS the reference, whose
    FAISS ``add`` keeps build-time centroids forever
    (faiss_indexer.py:34-43): a drifting stream there loses recall
    silently.  The model records ``n_delta_at_build`` so the threshold
    measures deltas accreted SINCE the training set last saw them."""
    if mode not in ("ivf", "ivf_pq"):
        raise ValueError(f"unknown ann index mode {mode!r}: ivf | ivf_pq")
    cvec = corpus.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    # _stats: (n, fp) precomputed by ensure_ann_index so a
    # fingerprint-mismatch rebuild does not re-scan the corpus a second time
    n, fp = _stats if _stats is not None else _corpus_stats(cvec)
    if n == 0:
        raise ValueError("build_ann_index: empty corpus")
    n_centroids, n_probe = _derive_ivf_params(n, n_centroids, n_probe)
    n_extra = 0
    train_vec = cvec
    if train_extra is not None:
        evec = train_extra.select(
            F.col(id_col).alias("id"), F.col(vec_col).alias("vec")
        )
        n_extra = evec.count()
        if n_extra:
            train_vec = cvec.unionByName(evec)
    X = _coarse_sample(train_vec, n + n_extra, train_size, seed)
    C = kmeans_centroids(X, n_centroids, seed=seed)
    books = None
    if mode == "ivf_pq":
        Xn = _normalize(X)
        R = Xn - C[np.argmax(Xn @ C.T, axis=1)]
        books = pq_train_codebooks(R, _pq_subdims(X.shape[1], m_subvectors),
                                   seed=seed)
    model = AnnIndexModel(
        path=path, mode=mode, centroids=C, books=books,
        n_probe=n_probe, seed=seed, n_corpus=n, corpus_fp=fp,
        train_size=train_size,
        m_subvectors=int(books.shape[0]) if books is not None else 0,
        n_delta_at_build=int(n_extra),
    )

    spark = corpus.sparkSession
    bc_C = spark.sparkContext.broadcast(C)
    bc_books = spark.sparkContext.broadcast(books)
    pq = mode == "ivf_pq"
    schema = _ROWS_SCHEMA_PQ if pq else _ROWS_SCHEMA_IVF

    def _bucket(it):
        Cm, bk = bc_C.value, bc_books.value
        for pdf in it:
            if len(pdf) == 0:
                continue
            Xp = _normalize(
                np.stack([np.asarray(v, dtype=np.float32) for v in pdf["vec"]])
            )
            assign = np.argmax(Xp @ Cm.T, axis=1)
            out = {
                "added_batch": np.full(len(pdf), BASE_BATCH, dtype="int32"),
                "bucket": assign.astype("int32"),
                "id": pdf["id"].to_numpy(dtype=np.int64),
            }
            if pq:
                out["code"] = [
                    c.tobytes() for c in pq_encode(Xp - Cm[assign], bk)
                ]
            else:
                out["vecn"] = list(map(list, Xp))
            yield pd.DataFrame(out)

    rows = cvec.mapInPandas(_bucket, schema=schema)
    rows_path = model.rows_path
    # crash-ordered full replace: INVALIDATE the old model first (a crash
    # mid-build must leave "no index", never an old model paired with
    # new/partial rows that ensure_ann_index would serve), then clear stale
    # bucket dirs + delta markers, write each bucket as one co-located
    # file-set (hash shuffle on bucket), and only then commit the new model.
    try:
        os.remove(os.path.join(path, _MODEL_FILE))
    except FileNotFoundError:
        pass
    shutil.rmtree(rows_path, ignore_errors=True)
    for mk in _delta_marker_files(path):
        os.remove(mk)
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    (
        rows.repartition("bucket")
        .write.mode("overwrite")
        .partitionBy("added_batch", "bucket")
        .parquet(rows_path)
    )
    _save_model(model)
    return model


def ensure_ann_index(
    corpus: DataFrame,
    path: str,
    mode: str = "ivf",
    n_centroids: int | None = None,
    n_probe: int | None = None,
    m_subvectors: int | None = None,
    seed: int = 11,
    train_size: int = 100_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rebuild_threshold: float | None = None,
    delta_corpus: DataFrame | None = None,
) -> AnnIndexModel:
    """Load the persisted index when its (mode, seed, geometry, corpus
    count+content fingerprint) matches, else (re)build.  The fingerprint is
    one combined count + SUM-of-xxhash64 (mod 2^64) scan (``_corpus_stats``
    — sum, NOT bit_xor, deliberately: xor's pair-cancellation lets a
    duplicated row pair swap pass unseen; rationale there) — the same cost
    class as a count, but it also catches in-place re-encodes and
    same-count entity swaps, which a bare count would silently serve stale
    results for.  ``n_probe`` is NOT part of the fingerprint: it is a pure
    search-time knob the stored rows are independent of, so a changed
    value just updates the persisted model instead of forcing a full
    retrain + corpus rewrite.

    ``rebuild_threshold`` is the drift knob FAISS lacks: deltas are
    assigned under FROZEN build-time centroids (``assign_delta``,
    faiss_indexer.py:34-43 shares the property), so a stream whose
    distribution drifts away from the build-time corpus silently loses
    recall as deltas accrete.  When the ratio of deltas accreted SINCE the
    model last trained (persisted delta rows − ``n_delta_at_build``) to
    the rows the training last saw (base + ``n_delta_at_build``) exceeds
    the threshold, the index is rebuilt ONCE with ``delta_corpus`` (the
    accreted delta vectors, same id/vec columns as ``corpus``) folded into
    the k-means training sample; the caller's usual
    ``backfill_missing_deltas`` pass then re-adds the deltas under the new
    centroids, and ``n_delta_at_build`` resets the ratio so the next run
    reuses.  ``None`` (default) keeps exact FAISS-add semantics — deltas
    never trigger retraining — which the resume byte-identity contract
    assumes.  A tripped threshold with ``delta_corpus=None`` is IGNORED,
    not acted on: the rebuild wipes the persisted delta rows, and without
    the delta vectors in hand they could never be restored (and the reset
    ratio would re-trip forever) — see the inline guard.  The delta-row count is one partition-pruned parquet
    footer count (``added_batch != base``), the same cost class as the
    fingerprint scan."""
    existing = load_ann_index(path)
    stats = None
    if existing is not None and existing.mode == mode and existing.seed == seed:
        cvec = corpus.select(
            F.col(id_col).alias("id"), F.col(vec_col).alias("vec")
        )
        stats = _corpus_stats(cvec)
        n, fp = stats
        want_c, want_p = _derive_ivf_params(n, n_centroids, n_probe)
        # geometry/budget must match what THIS caller asked for, not just
        # what some earlier build used: a reused ivf_pq index with a
        # different subspace count or training-sample budget would return
        # exact re-ranked scores (hiding the mismatch) with the recall
        # characteristics of the OLD geometry
        geom_ok = existing.train_size == train_size and (
            mode != "ivf_pq"
            or existing.m_subvectors
            == _pq_subdims(existing.centroids.shape[1], m_subvectors)
        )
        if (
            geom_ok
            and existing.n_corpus == n
            and existing.corpus_fp == fp
            and existing.centroids.shape[0] == min(want_c, n)
            and os.path.isdir(existing.rows_path)
        ):
            if rebuild_threshold is not None and delta_corpus is not None:
                # delta_corpus is REQUIRED for a drift rebuild, not just
                # preferred: rebuilding wipes the persisted delta rows, and
                # the caller's backfill can only restore rows it can read
                # back — a rebuild triggered without the delta vectors in
                # hand (e.g. new_entities unreadable, nothing drained yet)
                # would (a) permanently drop the wiped deltas from the
                # index and (b) record n_delta_at_build=0, re-tripping the
                # threshold and retraining on EVERY subsequent run
                n_delta = _count_delta_rows(corpus.sparkSession, existing)
                fresh = n_delta - existing.n_delta_at_build
                seen = existing.n_corpus + existing.n_delta_at_build
                if seen > 0 and fresh > rebuild_threshold * seen:
                    return build_ann_index(
                        corpus, path, mode=mode, n_centroids=n_centroids,
                        n_probe=n_probe, m_subvectors=m_subvectors, seed=seed,
                        train_size=train_size, id_col=id_col, vec_col=vec_col,
                        train_extra=delta_corpus, _stats=stats,
                    )
            if existing.n_probe != want_p:
                existing.n_probe = want_p
                _save_model(existing)
            return existing
    return build_ann_index(
        corpus, path, mode=mode, n_centroids=n_centroids, n_probe=n_probe,
        m_subvectors=m_subvectors, seed=seed, train_size=train_size,
        id_col=id_col, vec_col=vec_col, train_extra=delta_corpus,
        _stats=stats,
    )


def assign_delta(
    model: AnnIndexModel, ids: np.ndarray, vecs: np.ndarray, added_batch: int
) -> pd.DataFrame:
    """FAISS-``add`` analogue: assign new vectors under the FROZEN model.
    Returns the index-row frame (not yet persisted) so the caller can keep
    the one in-flight delta in memory and persist it when the batch drains
    (mirrors the pipeline's RW-state threading)."""
    if len(ids) == 0:
        return pd.DataFrame(
            columns=[f.name for f in
                     (_ROWS_SCHEMA_PQ if model.mode == "ivf_pq"
                      else _ROWS_SCHEMA_IVF).fields]
        )
    return _assign_pdf(model, np.asarray(ids), np.asarray(vecs), added_batch)


def _count_delta_rows(spark: SparkSession, model: AnnIndexModel) -> int:
    """Persisted delta rows (``added_batch != BASE_BATCH``) — partition
    pruning keeps this to the delta dirs' parquet footers, so it costs
    metadata reads, not a corpus scan.  0 when the rows table is missing
    (the caller's reuse check already rejects that state)."""
    schema = _ROWS_SCHEMA_PQ if model.mode == "ivf_pq" else _ROWS_SCHEMA_IVF
    try:
        return (
            spark.read.schema(schema)
            .parquet(model.rows_path)
            .filter(F.col("added_batch") != BASE_BATCH)
            .count()
        )
    except Exception:
        return 0


_DELTA_MARKER = "delta_ok_"


def _delta_marker_files(path: str) -> list[str]:
    if not os.path.isdir(path):
        return []
    return [
        os.path.join(path, e)
        for e in os.listdir(path)
        if e.startswith(_DELTA_MARKER)
    ]


def existing_delta_batches(model: AnnIndexModel) -> set[int]:
    """``added_batch`` values whose delta persist COMMITTED — read from the
    per-batch marker files, not from partition-dir existence: a crash
    mid-``persist_delta`` can leave a partial ``added_batch=N`` directory,
    and dir-existence would then skip the backfill forever (the batch is
    already in the lineage, so nothing else re-runs it).  The marker is
    written strictly after the partition write succeeds; re-persisting is
    idempotent (dynamic overwrite).  Batches that discovered zero entities
    get a marker too, so resume never re-scans them."""
    out: set[int] = set()
    for mk in _delta_marker_files(model.path):
        try:
            out.add(int(os.path.basename(mk)[len(_DELTA_MARKER):]))
        except ValueError:
            continue
    return out


def persist_delta(
    model: AnnIndexModel,
    spark: SparkSession,
    delta_pdf: pd.DataFrame | None,
    added_batch: int,
) -> None:
    """Write a delta frame as its own ``added_batch`` partition(s) —
    dynamic overwrite, so a re-run batch replaces exactly its own rows —
    then commit the batch's marker file.  An empty/None delta writes only
    the marker (records "this batch's delta is complete: nothing")."""
    if delta_pdf is not None and len(delta_pdf):
        schema = _ROWS_SCHEMA_PQ if model.mode == "ivf_pq" else _ROWS_SCHEMA_IVF
        df = spark.createDataFrame(
            delta_pdf[[f.name for f in schema.fields]], schema=schema
        )
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        (
            df.coalesce(1)
            .write.mode("overwrite")
            .partitionBy("added_batch", "bucket")
            .parquet(model.rows_path)
        )
    marker = os.path.join(model.path, f"{_DELTA_MARKER}{int(added_batch)}")
    tmp = marker + ".tmp"
    with open(tmp, "w") as f:
        f.write("")
    os.replace(tmp, marker)


def rw_delta_rows(
    model: AnnIndexModel,
    add_pdf: pd.DataFrame | None,
    batch_id: int,
    rw_indexer_id: int,
) -> pd.DataFrame | None:
    """A batch's RW delta (``new_entities`` rows: id, embedding, ...) ->
    index rows under the FROZEN model (FAISS ``add``), with the pipeline's
    composite (indexer, id) key.  Deleted RW ids keep their index rows;
    they can surface as neighbor ids but drop at metadata hydration
    (inner join) — the same net semantics as the reference's dummy-score
    sentinel for vector-without-metadata (indexer/main.py:121-135)."""
    from incremental_entity_extraction_spark.operators.retrieval_ann import (
        composite_keys_np,
    )

    if add_pdf is None or not len(add_pdf):
        return None
    keys = composite_keys_np(
        add_pdf["id"].to_numpy(),
        np.full(len(add_pdf), rw_indexer_id, dtype=np.int64),
    )
    vecs = np.stack([np.asarray(v, np.float32) for v in add_pdf["embedding"]])
    return assign_delta(model, keys, vecs, int(batch_id))


def backfill_missing_deltas(
    model: AnnIndexModel,
    spark: SparkSession,
    rw_df: DataFrame | None,
    batch_ids,
    rw_indexer_id: int,
) -> None:
    """Persist index deltas (and their commit markers) for completed
    batches that lack one — a lake written by a pre-index code version, or
    a fingerprint-change rebuild that wiped the rows table.  Called by
    ``pipeline.BatchLoop.run`` before the first batch of each run.

    When ``rw_df`` is None (the ``new_entities`` table is unreadable),
    NOTHING is persisted — markers included: the table may be absent
    because it is a partially-restored lake, and recording "delta
    complete: nothing" would permanently mask the entities once the table
    reappears.  Re-checking an empty ``missing`` set per run costs one
    directory listing."""
    missing = sorted(
        {int(b) for b in batch_ids} - existing_delta_batches(model)
    )
    if not missing or rw_df is None:
        return
    for b in missing:
        pdf = (
            rw_df.filter(F.col("batch_id") == int(b))
            .drop("batch_id")
            .toPandas()
        )
        persist_delta(
            model, spark, rw_delta_rows(model, pdf, b, rw_indexer_id), b
        )


def _collect_queries(
    queries: DataFrame, id_col: str, vec_col: str
) -> tuple[np.ndarray, np.ndarray]:
    pdf = queries.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("vec")
    ).toPandas()
    if len(pdf) == 0:
        return np.empty(0, np.int64), np.empty((0, 0), np.float32)
    Q = _normalize(np.stack([np.asarray(v, np.float32) for v in pdf["vec"]]))
    return pdf["id"].to_numpy(dtype=np.int64), Q


def _tie_inclusive_topk(S: np.ndarray, kk: int) -> tuple[np.ndarray, np.ndarray]:
    """(rows, cols) of every entry ranking in the row-wise top ``kk`` OF
    ``S``, ties at the boundary INCLUDED.  Emitting boundary ties makes the
    local selection partitioning-invariant: the global window (score desc,
    id asc) sees every tied contender no matter how the bucket's rows were
    split across scan tasks, so resume/partition-invariance holds even for
    exactly-equal scores."""
    kk = min(kk, S.shape[1])
    kth = np.partition(-S, kk - 1, axis=1)[:, kk - 1]
    mask = (-S) <= kth[:, None]
    mask &= np.isfinite(S)
    return np.nonzero(mask)


def ann_index_search(
    model: AnnIndexModel,
    spark: SparkSession,
    queries: DataFrame,
    k: int = 10,
    n_probe: int | None = None,
    rerank: int | None = None,
    rerank_corpus: DataFrame | None = None,
    extra_rows: pd.DataFrame | None = None,
    allowed_batches: list[int] | None = None,
    exclude_self: bool = False,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_mode: str = "driver",
) -> DataFrame:
    """Top-k neighbors from the persisted index.  Output = the engines'
    shared ``(query_id, neighbor_id, cosine, rank)`` contract
    (score = f32-matmul cosine for ivf, exact f64 re-ranked cosine for pq —
    same dtypes as ``cosine_topk_join``).

    ``query_mode='driver'`` (default — the incremental regime, where a
    batch's mention set is modest):

    * queries are collected ONCE and bucketed on the driver: no query
      explosion through a shuffle, no per-row Python;
    * the rows table is read with ``added_batch IN allowed`` and
      ``bucket IN probed`` — both partition-dir columns, so unprobed
      buckets and undrained batches are PRUNED at the file listing;
    * each scan task scores its bucket blocks against only the queries
      probing that bucket, emitting local top-k tie-inclusively; a window
      merge keeps the global top-k.

    ``query_mode='cogroup'`` (unbounded query sets — e.g. an all-pairs
    near-dup sweep over the whole corpus): nothing query-sized reaches the
    driver either — queries are bucketed distributed (the Arrow-native
    ``_bucketed_queries`` explode) and scored against the persisted rows
    with a ``cogroup(bucket)``; the corpus side comes pre-bucketed from the
    index (no per-call training or corpus bucketing).  Bucket pruning is
    moot there: an unbounded query set probes essentially every bucket.

    Shared: ``extra_rows`` is the one in-flight delta (assigned but not
    yet persisted) — unioned into the scan, bounded at one batch; pq mode
    additionally needs ``rerank_corpus`` (id, vec) for the exact re-rank
    join of the ≤|Q|·rerank shortlist.
    """
    if query_mode == "cogroup":
        return _search_cogroup(
            model, spark, queries, k, n_probe, rerank, rerank_corpus,
            extra_rows, allowed_batches, exclude_self, id_col, vec_col,
        )
    if query_mode != "driver":
        raise ValueError(f"unknown query_mode {query_mode!r}: driver | cogroup")
    qids, Q = _collect_queries(queries, id_col, vec_col)
    if len(qids) == 0:
        return spark.createDataFrame([], _TOPK_SCHEMA)
    npb = min(n_probe or model.n_probe, model.centroids.shape[0])
    probe = np.argsort(-(Q @ model.centroids.T), axis=1)[:, :npb]
    probed = np.unique(probe)
    # bucket -> indices of the queries probing it (driver-side inverse map)
    order = np.argsort(probe.ravel(), kind="stable")
    flat_q = np.repeat(np.arange(len(Q)), npb)[order]
    sorted_b = probe.ravel()[order]
    starts = np.searchsorted(sorted_b, probed, side="left")
    ends = np.searchsorted(sorted_b, probed, side="right")
    bucket_queries = {
        int(b): flat_q[s:e] for b, s, e in zip(probed, starts, ends)
    }
    bc = spark.sparkContext.broadcast(
        (Q, qids, bucket_queries, model.books if model.mode == "ivf_pq" else None,
         model.centroids if model.mode == "ivf_pq" else None)
    )

    pq = model.mode == "ivf_pq"
    if pq and rerank is None:
        rerank = max(4 * k, 32)
    kk_local = rerank if pq else k

    rows = _read_rows(
        model, spark, probed.tolist(), allowed_batches, extra_rows
    )
    score_name = "pq_score" if pq else "cosine"
    local_schema = T.StructType(
        [
            T.StructField("query_id", T.LongType(), False),
            T.StructField("neighbor_id", T.LongType(), False),
            T.StructField(score_name, T.DoubleType(), False),
        ]
    )

    def _scan(it):
        Qm, qid, bq, books, cents = bc.value
        for pdf in it:
            if len(pdf) == 0:
                continue
            for b, grp in pdf.groupby("bucket", sort=False):
                qidx = bq.get(int(b))
                if qidx is None or len(qidx) == 0:
                    continue
                Qb = Qm[qidx]
                cids = grp["id"].to_numpy(dtype=np.int64)
                if pq:
                    mM, _, dsub = books.shape
                    codes = np.frombuffer(
                        b"".join(grp["code"]), dtype=np.uint8
                    ).reshape(len(grp), mM)
                    # ADC: score = q·centroid_b + Σ_m LUT[m] gathers
                    S = np.tile(
                        (Qb @ cents[int(b)]).astype(np.float32)[:, None],
                        (1, len(grp)),
                    )
                    for mi in range(mM):
                        lut = Qb[:, mi * dsub:(mi + 1) * dsub] @ books[mi].T
                        S += lut[:, codes[:, mi]]
                else:
                    Vb = np.stack(
                        [np.asarray(v, np.float32) for v in grp["vecn"]]
                    )
                    S = Qb @ Vb.T
                if exclude_self:
                    S = np.where(
                        qid[qidx][:, None] == cids[None, :], -np.inf, S
                    )
                r, c = _tie_inclusive_topk(S, kk_local)
                yield pd.DataFrame(
                    {
                        "query_id": qid[qidx][r],
                        "neighbor_id": cids[c],
                        score_name: S[r, c].astype(float),
                    }
                )

    local = rows.mapInPandas(_scan, schema=local_schema)
    return _rank_and_finish(
        local, score_name, pq, k, rerank, queries, rerank_corpus,
        id_col, vec_col,
    )


def _rank_and_finish(
    local: DataFrame,
    score_name: str,
    pq: bool,
    k: int,
    rerank: int | None,
    queries: DataFrame,
    rerank_corpus: DataFrame | None,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Global window merge of the per-task local top-k; pq mode continues
    into the exact re-rank of the shortlist."""
    w = Window.partitionBy("query_id").orderBy(
        F.desc(score_name), F.asc("neighbor_id")
    )
    ranked = local.withColumn("rank", F.row_number().over(w))
    if not pq:
        return ranked.filter(F.col("rank") <= k).select(
            "query_id", "neighbor_id", "cosine", "rank"
        )

    if rerank_corpus is None:
        raise ValueError("ann_index_search: pq mode needs rerank_corpus")
    shortlist = ranked.filter(F.col("rank") <= rerank).select(
        "query_id", "neighbor_id"
    )
    # exact re-rank: broadcast the small shortlist + query vectors against
    # the corpus — the same f64 dot/norm expression family as
    # cosine_topk_join, so cosines are comparable across engines
    qv = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    nv = rerank_corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
    )
    joined = nv.join(F.broadcast(shortlist), "neighbor_id").join(
        F.broadcast(qv), "query_id"
    )
    dot = F.aggregate(
        F.zip_with("qv", "cv", lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norm = lambda col: F.sqrt(  # noqa: E731
        F.aggregate(col, F.lit(0.0), lambda acc, x: acc + x * x)
    )
    scored = joined.withColumn(
        "cosine", (dot / (norm(F.col("qv")) * norm(F.col("cv")))).cast("double")
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def _search_cogroup(
    model: AnnIndexModel,
    spark: SparkSession,
    queries: DataFrame,
    k: int,
    n_probe: int | None,
    rerank: int | None,
    rerank_corpus: DataFrame | None,
    extra_rows: pd.DataFrame | None,
    allowed_batches: list[int] | None,
    exclude_self: bool,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Distributed-queries search: a ``cogroup(bucket)`` of the exploded
    queries with the corpus side read pre-bucketed from the persisted index
    (zero per-call training or corpus bucketing).  Nothing query- or
    corpus-sized touches the driver — the path for unbounded query sets."""
    from incremental_entity_extraction_spark.operators.similarity_search import (
        _bucketed_queries,
    )

    pq = model.mode == "ivf_pq"
    if pq and rerank is None:
        rerank = max(4 * k, 32)
    kk_local = rerank if pq else k
    npb = min(n_probe or model.n_probe, model.centroids.shape[0])
    bc_C = spark.sparkContext.broadcast(model.centroids)
    bc_books = spark.sparkContext.broadcast(model.books)
    queries_b = _bucketed_queries(queries, id_col, vec_col, bc_C, npb)
    # probed=None: an unbounded query set probes essentially every bucket,
    # so no bucket filter (a 4096-literal isin would only bloat the plan)
    rows = _read_rows(model, spark, None, allowed_batches, extra_rows)

    score_name = "pq_score" if pq else "cosine"
    local_schema = T.StructType(
        [
            T.StructField("query_id", T.LongType(), False),
            T.StructField("neighbor_id", T.LongType(), False),
            T.StructField(score_name, T.DoubleType(), False),
        ]
    )

    def _score(cdf: pd.DataFrame, qdf: pd.DataFrame) -> pd.DataFrame:
        if len(cdf) == 0 or len(qdf) == 0:
            return pd.DataFrame(
                {"query_id": [], "neighbor_id": [], score_name: []}
            )
        Qb = np.stack([np.asarray(v, np.float32) for v in qdf["vecn"]])
        qids = qdf["id"].to_numpy(dtype=np.int64)
        cids = cdf["id"].to_numpy(dtype=np.int64)
        b = int(cdf["bucket"].iloc[0])
        if pq:
            books = bc_books.value
            mM, _, dsub = books.shape
            codes = np.frombuffer(
                b"".join(cdf["code"]), dtype=np.uint8
            ).reshape(len(cdf), mM)
            S = np.tile(
                (Qb @ bc_C.value[b]).astype(np.float32)[:, None],
                (1, len(cdf)),
            )
            for mi in range(mM):
                lut = Qb[:, mi * dsub:(mi + 1) * dsub] @ books[mi].T
                S += lut[:, codes[:, mi]]
        else:
            Vb = np.stack([np.asarray(v, np.float32) for v in cdf["vecn"]])
            S = Qb @ Vb.T
        if exclude_self:
            S = np.where(qids[:, None] == cids[None, :], -np.inf, S)
        r, c = _tie_inclusive_topk(S, kk_local)
        return pd.DataFrame(
            {
                "query_id": qids[r],
                "neighbor_id": cids[c],
                score_name: S[r, c].astype(float),
            }
        )

    local = (
        rows.groupby("bucket")
        .cogroup(queries_b.groupby("bucket"))
        .applyInPandas(_score, schema=local_schema)
    )
    return _rank_and_finish(
        local, score_name, pq, k, rerank, queries, rerank_corpus,
        id_col, vec_col,
    )


def _read_rows(
    model: AnnIndexModel,
    spark: SparkSession,
    probed: list[int] | None,
    allowed_batches: list[int] | None,
    extra_rows: pd.DataFrame | None,
) -> DataFrame:
    """The scan side: persisted partitions (pruned to probed buckets —
    ``None`` means all — and, when given, to drained ``added_batch``
    values) ∪ the in-flight delta."""
    data_col = "code" if model.mode == "ivf_pq" else "vecn"
    schema = _ROWS_SCHEMA_PQ if model.mode == "ivf_pq" else _ROWS_SCHEMA_IVF
    rows = spark.read.schema(schema).parquet(model.rows_path)
    if probed is not None:
        rows = rows.filter(F.col("bucket").isin(probed))
    if allowed_batches is not None:
        rows = rows.filter(F.col("added_batch").isin(list(allowed_batches)))
    rows = rows.select("bucket", "id", data_col)
    if extra_rows is not None and len(extra_rows):
        keep = (
            extra_rows[extra_rows["bucket"].isin(probed)]
            if probed is not None
            else extra_rows
        )
        if len(keep):
            extra_df = spark.createDataFrame(
                keep[["bucket", "id", data_col]],
                schema=T.StructType([schema[1], schema[2], schema[3]]),
            )
            rows = rows.unionByName(extra_df)
    return rows
