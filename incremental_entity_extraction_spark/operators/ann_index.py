"""S6 at ANN scale — a build-once, incrementally-added IVF index persisted in
the lake and searched as a shard kind of the fused retrieval kernel.

Reference semantics: the FAISS index is trained and built ONCE, serialized
to disk, loaded at service start, and new cluster centers are incrementally
ADDED to it (pipeline/biencoder/blink/indexer/faiss_indexer.py:34-43
serialize/load; pipeline/indexer/main.py:178-214 add, 216-251 dump) — the
index is never retrained per batch.  One indexer call answers a batch's
k-NN search AND its metadata hydration (indexer/main.py:81-169); so does
one task here:

* ``build_ann_index``  — train coarse centroids once on a deterministic
  sample, then each build task buckets its share of the corpus and writes
  it with pyarrow as ``rows/added_batch=-1/part-<partition>.parquet``,
  sorted by ``(bucket, id)`` with one row group per bucket, plus a tiny
  ``model.npz`` (centroids + params + fingerprints + the base file names).
  A corpus that is its own training sample and one file's worth of rows
  is bucketed and written by the driver instead, to the same bytes.
  Rows carry their own metadata: ``bucket, id (composite key), vecn,
  wikipedia_id, title``.
* ``load_ann_index`` / ``ensure_ann_index`` — the deserialize half; a
  params/corpus-fingerprint match reuses the persisted index (resume pays
  zero retraining).  A change of metadata alone rewrites the base rows
  under the frozen centroids — no k-means.
* ``assign_delta`` / ``persist_delta`` — FAISS ``add``: new vectors are
  assigned under the FROZEN centroids on the driver (deltas are cluster
  centers, tiny by construction) and written by the driver as one file per
  batch (temp + rename) before the batch's ``delta_ok_N`` marker.
* ``IVFShard`` / ``ivf_topk_columnar`` — the search.  The index shard
  (centroids, ``n_probe``, tombstones, the visible file list) is broadcast
  once per window of batches (``pipeline.BatchLoop``); the deltas the
  window's batches add are merged in on the driver under the same
  centroids (``pipeline._merge_window_entities``).  Each task probes its
  queries, reads only the probed row groups (selected from footer
  statistics, cached per Python worker under a byte cap), scores exactly
  within them and emits hydrated, ranked candidates — no query collect,
  no directory listing, no shuffle, no join.

Visibility is the caller's file list, never a directory listing: an
undrained batch's file may exist on disk (a crash after the persist,
before the lineage mark) and stays invisible until the batch commits.

The partition column is ``added_batch`` (NOT ``batch_id``) on purpose:
``maintenance.vacuum_lake`` reclaims ``batch_id=`` partitions absent from
the lineage, and the index base (``added_batch=-1``) must never be judged
an orphan.
"""

from __future__ import annotations

import json
import os
import shutil
from collections import OrderedDict
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark import TaskContext
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from incremental_entity_extraction_spark.operators.retrieval_ann import (
    _IDX_SHIFT,
    composite_keys_np,
)
from incremental_entity_extraction_spark.operators.similarity_search import (
    _coarse_sample,
    _derive_ivf_params,
    _normalize,
    kmeans_centroids,
    vector_matrix,
)

BASE_BATCH = -1          # added_batch value of the build-time corpus rows
_MODEL_FILE = "model.npz"
_ROWS_DIR = "rows"
_ROWS_FILE = "part-0.parquet"   # a delta's one file
_BASE_FILE_ROWS = 1 << 16       # corpus rows per base file (one build task)
_SCORE_CHUNK_ROWS = 1024        # queries probed and scored per block
_CACHE_MAX_BYTES = 256 << 20    # row-group blocks kept per Python worker

_ROWS_SCHEMA = pa.schema(
    [
        pa.field("bucket", pa.int32(), False),
        pa.field("id", pa.int64(), False),
        pa.field("vecn", pa.list_(pa.float32()), False),
        pa.field("wikipedia_id", pa.int64(), False),
        pa.field("title", pa.string(), False),
    ]
)


def _dots(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """Row-wise f32 dot products ``A @ B.T``, each entry computed from its
    own row pair only.  BLAS blocks a matmul by its shape, so the same
    query scored among different co-batched queries can differ in the last
    bit; einsum's fixed per-entry reduction keeps a query's probes and
    scores independent of which other queries share its task."""
    return np.einsum("id,jd->ij", A, B)


@dataclass
class AnnIndexModel:
    """Driver-side handle: the tiny trained model + where the rows live.

    ``centroids`` is (n_centroids, dim) float32 with unit rows.  Everything
    corpus-sized stays in the rows files."""

    path: str
    centroids: np.ndarray
    n_probe: int
    seed: int
    n_corpus: int              # build-time corpus rows (cache-validation key)
    corpus_fp: int = 0         # order-independent fingerprint of (id, vec)
    meta_fp: int = 0           # ... of (id, wikipedia_id, title)
    train_size: int = 0        # training-sample budget the model was built at
    n_delta_at_build: int = 0  # delta rows folded into training at build time
    base_files: tuple = ()     # file names of the base rows, one per task

    @property
    def rows_path(self) -> str:
        return os.path.join(self.path, _ROWS_DIR)

    @property
    def base_path(self) -> str:
        return os.path.join(self.rows_path, f"added_batch={BASE_BATCH}")

    @property
    def dim(self) -> int:
        return int(self.centroids.shape[1])

    def batch_file(self, added_batch: int) -> str:
        return os.path.join(
            self.rows_path, f"added_batch={int(added_batch)}", _ROWS_FILE
        )

    def file_key(self, added_batch: int) -> tuple | None:
        """``(path, size, mtime_ns)`` of a batch's rows file, None when the
        batch wrote no rows — the workers' cache key."""
        p = self.batch_file(added_batch)
        try:
            st = os.stat(p)
        except FileNotFoundError:
            return None
        return (p, st.st_size, st.st_mtime_ns)

    def base_keys(self) -> list[tuple] | None:
        """File keys of the recorded base files; None when one is
        missing (a crash mid-rewrite), so the caller rewrites the base."""
        keys = []
        for name in self.base_files:
            p = os.path.join(self.base_path, name)
            try:
                st = os.stat(p)
            except FileNotFoundError:
                return None
            keys.append((p, st.st_size, st.st_mtime_ns))
        return keys if keys else None


def _save_model(m: AnnIndexModel) -> None:
    """Atomic single-file model dump (write temp + rename) — the
    faiss_indexer.py:34-43 serialize analogue."""
    os.makedirs(m.path, exist_ok=True)
    tmp = os.path.join(m.path, f".{_MODEL_FILE}.tmp")
    meta = {
        "mode": "ivf",
        "n_probe": int(m.n_probe),
        "seed": int(m.seed),
        "n_corpus": int(m.n_corpus),
        "corpus_fp": int(m.corpus_fp),
        "meta_fp": int(m.meta_fp),
        "train_size": int(m.train_size),
        "n_delta_at_build": int(m.n_delta_at_build),
        "base_files": list(m.base_files),
    }
    with open(tmp, "wb") as f:
        np.savez(
            f,
            centroids=m.centroids,
            meta=np.frombuffer(json.dumps(meta).encode(), dtype=np.uint8),
        )
    os.replace(tmp, os.path.join(m.path, _MODEL_FILE))


def load_ann_index(path: str) -> AnnIndexModel | None:
    """Deserialize a persisted index model; None when absent, unreadable or
    of a retired layout (the caller then rebuilds)."""
    p = os.path.join(path, _MODEL_FILE)
    if not os.path.exists(p):
        return None
    try:
        with np.load(p) as z:
            meta = json.loads(bytes(z["meta"].tobytes()).decode())
            if meta["mode"] != "ivf" or "base_files" not in meta:
                return None
            return AnnIndexModel(
                path=path,
                centroids=z["centroids"],
                n_probe=int(meta["n_probe"]),
                seed=int(meta["seed"]),
                n_corpus=int(meta["n_corpus"]),
                corpus_fp=int(meta["corpus_fp"]),
                meta_fp=int(meta["meta_fp"]),
                train_size=int(meta["train_size"]),
                n_delta_at_build=int(meta["n_delta_at_build"]),
                base_files=tuple(meta["base_files"]),
            )
    except Exception:
        return None


def _corpus_frame(corpus: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(id, vec, wikipedia_id, title); metadata columns the corpus lacks
    are null, and the stored rows then carry -1 / ""."""
    cols = set(corpus.columns)

    def meta(name, typ):
        src = F.col(name) if name in cols else F.lit(None)
        return src.cast(typ).alias(name)

    return corpus.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("vec"),
        meta("wikipedia_id", "long"), meta("title", "string"),
    )


def _corpus_stats(cvec: DataFrame) -> tuple[int, int, int]:
    """(row count, (id, vec) fingerprint, (id, wikipedia_id, title)
    fingerprint) in ONE scan.

    A content hash catches what a bare count cannot: an in-place
    re-encode, or one entity replaced by another with the count unchanged
    — either would otherwise let ``ensure_ann_index`` serve a stale index
    against changed vectors.  The combiner is SUM of per-row xxhash64,
    taken mod 2^64 (accumulated in decimal so it never overflows):
    commutative (partitioning/order-invariant) like xor but WITHOUT xor's
    pair-cancellation — with bit_xor, replacing a duplicated row pair
    (A, A) by (D, D) left the fingerprint unchanged (h^h = 0 on both
    sides)."""

    def fp(*cols):
        return F.sum(F.xxhash64(*cols).cast(T.DecimalType(38, 0)))

    row = cvec.agg(
        F.count("*").alias("n"),
        fp("id", "vec").alias("fp"),
        fp("id", "wikipedia_id", "title").alias("meta_fp"),
    ).first()

    def mod(v):
        return int(v) % (1 << 64) if v is not None else 0

    return int(row["n"]), mod(row["fp"]), mod(row["meta_fp"])


def _list_array(X: np.ndarray) -> pa.ListArray:
    """(n, dim) float32 matrix -> arrow list<float> column, zero per-row work
    (one flat values buffer + arithmetic offsets)."""
    n, dim = X.shape
    return pa.ListArray.from_arrays(
        pa.array(np.arange(n + 1, dtype=np.int64) * dim, type=pa.int32()),
        pa.array(X.ravel(), type=pa.float32()),
    )


def _rows_table(
    centroids: np.ndarray,
    keys: np.ndarray,
    vecs: np.ndarray,
    wids: np.ndarray,
    titles: np.ndarray,
) -> pa.Table:
    """Frozen-centroid assignment of a vector block -> index rows sorted by
    ``(bucket, id)``."""
    Xn = _normalize(np.asarray(vecs, np.float32))
    bucket = np.argmax(_dots(Xn, centroids), axis=1).astype(np.int32)
    keys = np.asarray(keys, np.int64)
    order = np.lexsort((keys, bucket))
    return pa.Table.from_arrays(
        [
            pa.array(bucket[order]),
            pa.array(keys[order]),
            _list_array(Xn[order]),
            pa.array(np.asarray(wids, np.int64)[order]),
            pa.array(np.asarray(titles, object)[order], type=pa.string()),
        ],
        schema=_ROWS_SCHEMA,
    )


def _write_rows(path: str, rows: pa.Table) -> None:
    """One parquet file, one row group per bucket, by temp + rename: a
    reader never sees a partial file, and a re-run replaces it whole.
    Plain encoding: unique floats and titles would only grow under a
    dictionary.  Only ``bucket`` needs statistics (the row-group map)."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = os.path.join(os.path.dirname(path), f".{os.path.basename(path)}.tmp")
    bucket = rows.column("bucket").to_numpy()
    cuts = np.flatnonzero(np.diff(bucket)) + 1
    with pq.ParquetWriter(tmp, _ROWS_SCHEMA, use_dictionary=False,
                          write_statistics=["bucket"]) as w:
        for s, e in zip(np.r_[0, cuts], np.r_[cuts, len(bucket)]):
            w.write_table(rows.slice(int(s), int(e - s)),
                          row_group_size=int(e - s))
    os.replace(tmp, path)


def _base_rows(centroids: np.ndarray, tbl: pa.Table) -> pa.Table:
    """Corpus rows ``(id, vec, wikipedia_id, title)`` -> index rows under
    ``centroids``; missing metadata is stored as -1 / ""."""
    return _rows_table(
        centroids,
        tbl.column("id").to_numpy(),
        vector_matrix(tbl.column("vec")),
        tbl.column("wikipedia_id").fill_null(-1).to_numpy(),
        tbl.column("title").fill_null("").to_numpy(zero_copy_only=False),
    )


def _fits_driver(n: int, n_extra: int, train_size: int) -> bool:
    """Whether the base is built on the driver: the k-means sample is the
    whole corpus already (so the driver holds it anyway), and the base is
    one file.  Above that, build tasks write the base (``_write_base``)."""
    return n + n_extra <= train_size and n <= _BASE_FILE_ROWS


def _write_base(
    cvec: DataFrame, model: AnnIndexModel, n: int, local: pa.Table | None = None
) -> None:
    """Write the base rows under ``model.centroids``; their file names land
    in ``model.base_files`` (the caller saves the model after).

    ``local`` is the corpus already collected on the driver, passed when it
    ``_fits_driver``: the driver buckets it and writes one
    ``part-0.parquet``, with no Spark job.  Otherwise each build task
    buckets its partition and writes it with pyarrow as
    ``part-<partition>.parquet``.  Partitions are coalesced (no shuffle) to
    about ``_BASE_FILE_ROWS`` rows each, so a small corpus is one file, the
    same bytes as the driver's, and a large one stays spread over tasks."""
    out = model.base_path
    shutil.rmtree(out, ignore_errors=True)
    if local is not None:
        _write_rows(os.path.join(out, _ROWS_FILE),
                    _base_rows(model.centroids, local))
        model.base_files = (_ROWS_FILE,)
        return
    sc = cvec.sparkSession.sparkContext
    bc_C = sc.broadcast(model.centroids)

    def _write(it):
        rbs = [rb for rb in it if rb.num_rows]
        if not rbs:
            return
        name = f"part-{TaskContext.get().partitionId()}.parquet"
        _write_rows(os.path.join(out, name),
                    _base_rows(bc_C.value, pa.Table.from_batches(rbs)))
        yield pa.RecordBatch.from_pydict({"name": [name]})

    n_files = max(1, -(-n // _BASE_FILE_ROWS))
    try:
        rows = cvec.coalesce(n_files).mapInArrow(_write, "name string").collect()
    finally:
        bc_C.unpersist()
    model.base_files = tuple(sorted(r["name"] for r in rows))


def build_ann_index(
    corpus: DataFrame,
    path: str,
    n_centroids: int | None = None,
    n_probe: int | None = None,
    seed: int = 11,
    train_size: int = 100_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_extra: DataFrame | None = None,
    _stats: tuple[int, int, int] | None = None,
) -> AnnIndexModel:
    """Train once, bucket the corpus once, persist rows + model.

    The ONLY collects are the corpus stats and the ≤``train_size`` training
    sample.  ``corpus`` carries ``id_col``, ``vec_col`` and optionally
    ``wikipedia_id`` / ``title`` (``retrieval_ann.composite_corpus`` passes
    them through); the rows store them so the search hydrates in place.

    When the sample is the whole corpus and the base is one file
    (``_fits_driver``: ``n + n_extra <= train_size`` and ``n <=
    _BASE_FILE_ROWS``), the training collect takes every corpus column and
    the driver writes the base from it, so the build starts no Python
    worker; the files are byte-identical to the Spark build's.  Above that
    rule the build tasks write the base (``_write_base``).

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
    cvec = _corpus_frame(corpus, id_col, vec_col)
    # _stats: precomputed by ensure_ann_index so a fingerprint-mismatch
    # rebuild does not re-scan the corpus a second time
    n, fp, meta_fp = _stats if _stats is not None else _corpus_stats(cvec)
    if n == 0:
        raise ValueError("build_ann_index: empty corpus")
    n_centroids, n_probe = _derive_ivf_params(n, n_centroids, n_probe)
    n_extra = 0
    if train_extra is not None:
        evec = train_extra.select(
            F.col(id_col).alias("id"), F.col(vec_col).alias("vec")
        )
        n_extra = evec.count()
    local = None
    if _fits_driver(n, n_extra, train_size):
        # the whole corpus, then the extra vectors: the order the union
        # below gives, so the centroids do not depend on the path
        local = cvec.toArrow()
        X = vector_matrix(local.column("vec"))
        if n_extra:
            X = np.concatenate(
                [X, vector_matrix(evec.select("vec").toArrow().column("vec"))]
            )
    else:
        train_vec = cvec.select("id", "vec")
        if n_extra:
            train_vec = train_vec.unionByName(evec)
        X = _coarse_sample(train_vec, n + n_extra, train_size, seed)
    model = AnnIndexModel(
        path=path, centroids=kmeans_centroids(X, n_centroids, seed=seed),
        n_probe=n_probe, seed=seed, n_corpus=n, corpus_fp=fp,
        meta_fp=meta_fp, train_size=train_size, n_delta_at_build=int(n_extra),
    )
    # crash-ordered full replace: INVALIDATE the old model first (a crash
    # mid-build must leave "no index", never an old model paired with
    # new/partial rows that ensure_ann_index would serve), then clear the
    # rows + delta markers, write the base, and only then commit the model
    try:
        os.remove(os.path.join(path, _MODEL_FILE))
    except FileNotFoundError:
        pass
    shutil.rmtree(model.rows_path, ignore_errors=True)
    for mk in _delta_marker_files(path):
        os.remove(mk)
    _write_base(cvec, model, n, local)
    _save_model(model)
    return model


def _check_mode(mode: str) -> None:
    if mode != "ivf":
        raise ValueError(f"unknown ann index mode {mode!r}: ivf")


def ensure_ann_index(
    corpus: DataFrame,
    path: str,
    mode: str = "ivf",
    n_centroids: int | None = None,
    n_probe: int | None = None,
    seed: int = 11,
    train_size: int = 100_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rebuild_threshold: float | None = None,
    delta_corpus: DataFrame | None = None,
) -> AnnIndexModel:
    """Load the persisted index when its (seed, geometry, corpus
    count + content fingerprint) matches, else (re)build.  The fingerprints
    come from one combined count + SUM-of-xxhash64 scan (``_corpus_stats``)
    — the same cost class as a count, but it also catches in-place
    re-encodes and same-count entity swaps, which a bare count would
    silently serve stale results for.  ``n_probe`` is NOT part of the
    fingerprint: it is a pure search-time knob the stored rows are
    independent of, so a changed value just updates the persisted model.

    A metadata-only change (same ids and vectors, different
    ``wikipedia_id`` / ``title``) keeps the trained centroids and rewrites
    the base rows under them: no k-means.  A base built from a
    metadata-less corpus and reused by the pipeline pays exactly this
    once.  The rows are written first and the model last, so a crash in
    between leaves a fingerprint mismatch (or a missing base file) that
    the next call redoes the same way.

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
    ratio would re-trip forever) — see the inline guard.  The delta-row
    count is read from the delta files' parquet footers."""
    _check_mode(mode)
    existing = load_ann_index(path)
    stats = None
    if existing is not None and existing.seed == seed:
        cvec = _corpus_frame(corpus, id_col, vec_col)
        stats = _corpus_stats(cvec)
        n, fp, meta_fp = stats
        want_c, want_p = _derive_ivf_params(n, n_centroids, n_probe)
        if (
            existing.train_size == train_size
            and existing.n_corpus == n
            and existing.corpus_fp == fp
            and existing.centroids.shape[0] == min(want_c, n)
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
                fresh = _count_delta_rows(existing) - existing.n_delta_at_build
                seen = existing.n_corpus + existing.n_delta_at_build
                if seen > 0 and fresh > rebuild_threshold * seen:
                    return build_ann_index(
                        corpus, path, n_centroids=n_centroids,
                        n_probe=n_probe, seed=seed, train_size=train_size,
                        id_col=id_col, vec_col=vec_col,
                        train_extra=delta_corpus, _stats=stats,
                    )
            if existing.meta_fp != meta_fp or existing.base_keys() is None:
                existing.meta_fp = meta_fp
                local = cvec.toArrow() if _fits_driver(n, 0, train_size) else None
                _write_base(cvec, existing, n, local)
                _save_model(existing)
            if existing.n_probe != want_p:
                existing.n_probe = want_p
                _save_model(existing)
            return existing
    return build_ann_index(
        corpus, path, n_centroids=n_centroids, n_probe=n_probe, seed=seed,
        train_size=train_size, id_col=id_col, vec_col=vec_col,
        train_extra=delta_corpus, _stats=stats,
    )


def assign_delta(
    model: AnnIndexModel,
    ids: np.ndarray,
    vecs: np.ndarray,
    wikipedia_ids: np.ndarray | None = None,
    titles: np.ndarray | None = None,
) -> pa.Table:
    """FAISS-``add`` analogue: assign new vectors under the FROZEN model.
    Returns the index rows (not yet persisted) so the caller can search the
    window's deltas in memory and persist each when its batch drains.
    Missing metadata is stored as -1 / ""."""
    n = len(ids)
    return _rows_table(
        model.centroids,
        np.asarray(ids),
        np.asarray(vecs, np.float32).reshape(n, model.dim),
        np.full(n, -1) if wikipedia_ids is None else wikipedia_ids,
        np.full(n, "", object) if titles is None else titles,
    )


def _count_delta_rows(model: AnnIndexModel) -> int:
    """Persisted delta rows (``added_batch != BASE_BATCH``), from the delta
    files' parquet footers — metadata reads, not a scan."""
    if not os.path.isdir(model.rows_path):
        return 0
    files = (
        os.path.join(model.rows_path, d, _ROWS_FILE)
        for d in os.listdir(model.rows_path)
        if d != os.path.basename(model.base_path)
    )
    return sum(pq.read_metadata(f).num_rows for f in files if os.path.isfile(f))


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
    per-batch marker files, not from file existence: a crash between a
    delta's file and its marker leaves the file without the commit, and
    file-existence would then skip the backfill forever (the batch is
    already in the lineage, so nothing else re-runs it).  The marker is
    written strictly after the file; re-persisting is idempotent.  Batches
    that discovered zero entities get a marker too, so resume never
    re-scans them."""
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
    delta_pdf: pa.Table | None,
    added_batch: int,
) -> None:
    """Write a delta's rows as the batch's one file (temp + rename, so a
    re-run batch replaces exactly its own rows), then commit the batch's
    marker file.  An empty/None delta removes any file an earlier attempt
    of the batch left and writes only the marker (records "this batch's
    delta is complete: nothing"); a stale file would otherwise become
    visible once the batch drains.  Driver-side pyarrow: a delta is one
    batch's new entities, far below a Spark write's fixed cost.  ``spark``
    is unused and kept for callers."""
    if delta_pdf is not None and len(delta_pdf):
        _write_rows(model.batch_file(added_batch), delta_pdf)
    else:
        shutil.rmtree(
            os.path.dirname(model.batch_file(added_batch)), ignore_errors=True
        )
    marker = os.path.join(model.path, f"{_DELTA_MARKER}{int(added_batch)}")
    tmp = marker + ".tmp"
    with open(tmp, "w") as f:
        f.write("")
    os.replace(tmp, marker)


def rw_delta_rows(
    model: AnnIndexModel, add_pdf, rw_indexer_id: int
) -> pa.Table | None:
    """A batch's RW delta (``new_entities`` rows: id, embedding, ...) ->
    index rows under the FROZEN model (FAISS ``add``), with the pipeline's
    composite (indexer, id) key and the entities' metadata.  Deleted RW ids
    keep their index rows; the search masks them before its top-k."""
    if add_pdf is None or not len(add_pdf):
        return None
    keys = composite_keys_np(
        add_pdf["id"].to_numpy(),
        np.full(len(add_pdf), rw_indexer_id, dtype=np.int64),
    )
    vecs = np.stack([np.asarray(v, np.float32) for v in add_pdf["embedding"]])
    return assign_delta(
        model, keys, vecs,
        add_pdf["wikipedia_id"].fillna(-1).to_numpy(np.int64),
        add_pdf["title"].fillna("").astype(str).to_numpy(object),
    )


def backfill_missing_deltas(
    model: AnnIndexModel,
    spark: SparkSession,
    rw_df: DataFrame | None,
    batch_ids,
    rw_indexer_id: int,
) -> None:
    """Persist index deltas (and their commit markers) for completed
    batches that lack one — a lake written by an older index layout, or a
    fingerprint-change rebuild that wiped the rows.  Called by
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
        persist_delta(model, spark, rw_delta_rows(model, pdf, rw_indexer_id), b)


# ---------------------------------------------------------------------------
# search: the persisted index as a shard of topk_candidates_columnar
# ---------------------------------------------------------------------------
class IVFShard:
    """One broadcastable piece of the persisted index.

    The INDEX shard holds ``centroids``, ``n_probe``, the tombstoned entity
    ids ``dels`` and the visible ``files`` — ``(path, size, mtime_ns)``
    keys the driver resolved, so no task lists a directory.  Further shards
    in the same list add ``files``; their ``centroids`` is None."""

    __slots__ = ("centroids", "n_probe", "dels", "files")

    def __init__(self, centroids=None, n_probe=0, dels=(), files=()):
        self.centroids = centroids
        self.n_probe = int(n_probe)
        self.dels = np.asarray(sorted(dels), dtype=np.int64)
        self.files = tuple(files)


def index_shard(model: AnnIndexModel, batches=(), dels=()) -> IVFShard:
    """The index shard over the recorded base files plus the delta files of
    ``batches`` (drained batches; those that added no rows have no file)."""
    deltas = (model.file_key(b) for b in sorted(batches))
    return IVFShard(
        model.centroids, model.n_probe, dels,
        [*(model.base_keys() or ()), *(k for k in deltas if k is not None)],
    )


def _split_blocks(rows: pa.Table) -> dict:
    """Rows sorted by bucket -> ``{bucket: (keys, vecn, wikipedia_id,
    title)}`` NumPy blocks."""
    bucket = rows.column("bucket").to_numpy()
    keys = rows.column("id").to_numpy()
    V = vector_matrix(rows.column("vecn"))
    wid = rows.column("wikipedia_id").to_numpy()
    title = rows.column("title").to_numpy(zero_copy_only=False)
    cuts = np.flatnonzero(np.diff(bucket)) + 1
    return {
        int(bucket[s]): (keys[s:e], V[s:e], wid[s:e], title[s:e])
        for s, e in zip(np.r_[0, cuts], np.r_[cuts, len(bucket)])
    }


def _block_nbytes(blk: tuple) -> int:
    keys, V, wid, title = blk
    return keys.nbytes + V.nbytes + wid.nbytes + title.nbytes + sum(
        len(t) for t in title
    )


class _BlockCache:
    """Per Python worker: each file's ``{bucket: row group}`` footer map,
    and an LRU of decoded row-group blocks keyed by ``(file key, bucket)``
    holding at most ``_CACHE_MAX_BYTES``.  Files are immutable once
    visible (a re-run batch rewrites its file, which changes the key), so a
    cached block never needs re-reading; entries of files outside the
    current file list are dropped."""

    def __init__(self):
        self.footers: dict = {}
        self.blocks: OrderedDict = OrderedDict()
        self.nbytes = 0

    def retain(self, fkeys) -> None:
        live = set(fkeys)
        self.footers = {f: m for f, m in self.footers.items() if f in live}
        for ck in [ck for ck in self.blocks if ck[0] not in live]:
            self.nbytes -= self.blocks.pop(ck)[1]

    def get(self, fkey: tuple, buckets) -> dict:
        """``{bucket: block}`` of the file's row groups among ``buckets``.
        The returned blocks stay valid whatever the cap evicts later."""
        rg_of = self.footers.get(fkey)
        if rg_of is None:
            md = pq.read_metadata(fkey[0])
            rg_of = self.footers[fkey] = {
                int(md.row_group(i).column(0).statistics.min): i
                for i in range(md.num_row_groups)
            }
        out, pf = {}, None
        for b in buckets:
            if b not in rg_of:
                continue
            ent = self.blocks.get((fkey, b))
            if ent is None:
                if pf is None:
                    pf = pq.ParquetFile(fkey[0])
                (blk,) = _split_blocks(pf.read_row_group(rg_of[b])).values()
                ent = self.blocks[(fkey, b)] = (blk, _block_nbytes(blk))
                self.nbytes += ent[1]
            else:
                self.blocks.move_to_end((fkey, b))
            out[b] = ent[0]
        while self.nbytes > _CACHE_MAX_BYTES and self.blocks:
            self.nbytes -= self.blocks.popitem(last=False)[1][1]
        return out


_WORKER_CACHE = _BlockCache()


def _tie_inclusive_topk(S: np.ndarray, kk: int) -> tuple[np.ndarray, np.ndarray]:
    """(rows, cols) of every finite entry ranking in the row-wise top
    ``kk`` of ``S``, ties at the boundary INCLUDED, so the exact
    (score desc, key asc) merge sees every tied contender."""
    kk = min(kk, S.shape[1])
    kth = np.partition(-S, kk - 1, axis=1)[:, kk - 1]
    mask = (-S) <= kth[:, None]
    mask &= np.isfinite(S)
    return np.nonzero(mask)


def ivf_topk_columnar(
    enc: np.ndarray, shards: list[IVFShard], k: int, norm2: float
) -> tuple:
    """``topk_candidates_columnar`` over the persisted index: probe each
    query's ``n_probe`` nearest centroids (``argsort(-(Qn @ C.T))``), score
    the f32 cosine exactly against every visible row of those buckets,
    mask tombstones, keep the top ``k`` by (cosine desc, composite key
    asc), and emit them ordered by (score desc, key asc) with
    ``score = f32(f64(cos)·norm2)`` and ``norm_score = f32(cos)``.
    ``shards[0]`` is the index shard."""
    index = shards[0]
    C, dels = index.centroids, index.dels
    files = [f for s in shards for f in s.files]
    _WORKER_CACHE.retain(files)
    npb = min(index.n_probe, C.shape[0])
    parts = []
    for lo in range(0, len(enc), _SCORE_CHUNK_ROWS):
        Q = _normalize(np.asarray(enc[lo:lo + _SCORE_CHUNK_ROWS], np.float32))
        probe = np.argsort(-_dots(Q, C), axis=1)[:, :npb]
        order = np.argsort(probe.ravel(), kind="stable")
        qs = np.repeat(np.arange(len(Q)), npb)[order]
        bs = probe.ravel()[order]
        ub, starts = np.unique(bs, return_index=True)
        ends = np.r_[starts[1:], len(bs)]
        ub = ub.tolist()
        sources = [_WORKER_CACHE.get(f, ub) for f in files]
        for b, s, e in zip(ub, starts, ends):
            qidx = qs[s:e]
            for src in sources:
                blk = src.get(b)
                if blk is None:
                    continue
                keys, V, wid, title = blk
                S = _dots(Q[qidx], V)
                if len(dels):
                    S[:, np.isin(keys % _IDX_SHIFT, dels)] = -np.inf
                r, c = _tie_inclusive_topk(S, k)
                parts.append((lo + qidx[r], S[r, c], keys[c], wid[c], title[c]))
    if not parts:
        return (
            np.zeros(len(enc), np.int32), np.empty(0, np.int64),
            np.empty(0, np.int32), np.empty(0, np.int64),
            np.empty(0, object), np.empty(0, np.float32),
            np.empty(0, np.float32),
        )
    q, cos, key, wid, title = (np.concatenate(a) for a in zip(*parts))
    o = np.lexsort((key, -cos, q))
    q, cos, key, wid, title = q[o], cos[o], key[o], wid[o], title[o]
    rank = np.arange(len(q)) - np.searchsorted(q, q)
    keep = rank < k
    q, cos, key, wid, title = q[keep], cos[keep], key[keep], wid[keep], title[keep]
    score = (cos.astype(np.float64) * norm2).astype(np.float32)
    o = np.lexsort((key, -score, q))
    key = key[o]
    return (
        np.bincount(q, minlength=len(enc)).astype(np.int32),
        key % _IDX_SHIFT,
        (key // _IDX_SHIFT).astype(np.int32),
        wid[o],
        title[o],
        score[o],
        cos[o],
    )
