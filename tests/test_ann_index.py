"""Build-once ANN index (operators/ann_index.py): S6 serialize/load parity,
FAISS-add delta semantics and visibility, the search kernel against a NumPy
IVF reference, recall vs the exact engine, and the partition invariance of
the fused stage that runs it."""

import dataclasses
import os

import numpy as np
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from incremental_entity_extraction_spark.operators import ann_index as ai
from incremental_entity_extraction_spark.operators.ann_index import (
    assign_delta,
    build_ann_index,
    ensure_ann_index,
    existing_delta_batches,
    index_shard,
    load_ann_index,
    persist_delta,
)
from incremental_entity_extraction_spark.operators.retrieval import (
    topk_candidates_columnar,
)
from incremental_entity_extraction_spark.operators.similarity_search import (
    cosine_topk_join,
)


def _df(spark, ids, X):
    return spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in zip(ids, X)],
        "vec_id long, embedding array<float>",
    )


@pytest.fixture(scope="module")
def embs(spark):
    rng = np.random.default_rng(7)
    # 12 loose clusters so IVF bucketing has structure to find
    centers = rng.normal(size=(12, 32)).astype(np.float32) * 4
    X = np.stack([centers[i % 12] + rng.normal(size=32) for i in range(400)])
    return _df(spark, range(400), X.astype(np.float32))


@pytest.fixture(scope="module")
def built(spark, embs, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("annidx") / "idx")
    model = build_ann_index(embs, path, n_centroids=12, seed=11)
    return model, embs


def _vecs(df):
    return np.stack(
        [np.asarray(v, np.float32) for v in df.toPandas()["embedding"]]
    )


def search(model, Q, k, batches=(), dels=(), n_probe=None):
    """Kernel entry point: per query, the [(id, score)] list in rank order."""
    if n_probe is not None:
        model = dataclasses.replace(model, n_probe=n_probe)
    counts, ids, _, _, _, sc, norm_sc = topk_candidates_columnar(
        np.asarray(Q, np.float32), [index_shard(model, batches, dels)], k, 1.0
    )
    np.testing.assert_array_equal(sc, norm_sc)  # norm2 = 1
    bounds = np.r_[0, np.cumsum(counts)]
    return [
        list(zip(ids[s:e].tolist(), sc[s:e].tolist()))
        for s, e in zip(bounds[:-1], bounds[1:])
    ]


def _ids(lists):
    return [[i for i, _ in row] for row in lists]


def _recall(got, exact_df, qids):
    exact = exact_df.toPandas().groupby("query_id")["neighbor_id"].apply(set)
    hits = sum(len(set(g) & exact[q]) for q, g in zip(qids, _ids(got)))
    return hits / sum(len(exact[q]) for q in qids)


def test_build_search_recall(spark, built):
    """Recall on the real neighbours: the query's own row (always in its
    first probed bucket) is dropped from both sides."""
    model, embs = built
    q = embs.limit(60)
    qids = q.toPandas()["vec_id"].tolist()
    got = [
        [(i, s) for i, s in row if i != qid][:5]
        for qid, row in zip(qids, search(model, _vecs(q), 6, n_probe=6))
    ]
    exact = cosine_topk_join(q, embs, k=5)
    assert _recall(got, exact, qids) >= 0.9


def _assert_rows_file(path):
    """Sorted by (bucket, id), one row group per bucket."""
    tbl = pq.read_table(path)
    assert tbl.column_names == ["bucket", "id", "vecn", "wikipedia_id", "title"]
    b = tbl.column("bucket").to_numpy()
    keys = tbl.column("id").to_numpy()
    assert (np.lexsort((keys, b)) == np.arange(len(b))).all()
    md = pq.read_metadata(path)
    assert md.num_row_groups == len(np.unique(b))
    for i in range(md.num_row_groups):
        st = md.row_group(i).column(0).statistics
        assert st.min == st.max
    return keys


def test_rows_layout_one_file_row_group_per_bucket(spark, built, tmp_path):
    """A small corpus is one base file; a larger one is written by several
    build tasks, one file each, and searches exactly like the one file."""
    model, embs = built
    assert model.base_files == ("part-0.parquet",)
    assert os.listdir(model.base_path) == ["part-0.parquet"]
    _assert_rows_file(os.path.join(model.base_path, "part-0.parquet"))

    orig = ai._BASE_FILE_ROWS
    ai._BASE_FILE_ROWS = 100
    try:
        split = build_ann_index(
            embs.repartition(4), str(tmp_path / "split"), n_centroids=12,
            seed=11,
        )
    finally:
        ai._BASE_FILE_ROWS = orig
    assert len(split.base_files) == 4
    assert sorted(os.listdir(split.base_path)) == sorted(split.base_files)
    assert load_ann_index(split.path).base_files == split.base_files
    keys = np.concatenate([
        _assert_rows_file(os.path.join(split.base_path, f))
        for f in split.base_files
    ])
    assert sorted(keys.tolist()) == list(range(400))

    # the same model over a one-file base: identical ids, ranks and scores
    one = dataclasses.replace(split, path=str(tmp_path / "one"))
    ai._write_base(ai._corpus_frame(embs, "vec_id", "embedding"), one, 400)
    assert one.base_files == ("part-0.parquet",)
    Q = _vecs(embs.limit(60))
    assert search(split, Q, 5) == search(one, Q, 5)


def _base_bytes(model):
    """Base file name -> bytes."""
    base = {}
    for name in model.base_files:
        with open(os.path.join(model.base_path, name), "rb") as f:
            base[name] = f.read()
    return base


def _index_files(model):
    """(``model.npz`` bytes, base file bytes) of a persisted index."""
    with open(os.path.join(model.path, "model.npz"), "rb") as f:
        return f.read(), _base_bytes(model)


def test_driver_base_write_matches_spark_write(spark, built, tmp_path):
    """Under one model, the driver's base write and the build tasks' write
    produce the same ``part-0.parquet``, byte for byte."""
    model, embs = built
    cvec = ai._corpus_frame(embs, "vec_id", "embedding").repartition(3)
    on_driver = dataclasses.replace(model, path=str(tmp_path / "driver"))
    ai._write_base(cvec, on_driver, 400, cvec.toArrow())
    in_tasks = dataclasses.replace(model, path=str(tmp_path / "tasks"))
    ai._write_base(cvec, in_tasks, 400)
    assert on_driver.base_files == in_tasks.base_files == ("part-0.parquet",)
    assert _base_bytes(on_driver) == _base_bytes(in_tasks)


@pytest.mark.parametrize("extra", [False, True])
def test_driver_build_matches_spark_build(spark, embs, tmp_path, monkeypatch,
                                          extra):
    """A corpus within the rule (its own training sample, one base file) is
    built on the driver with no build task; forcing the build tasks gives
    the same index files.  Extra training vectors follow the corpus, as in
    the build tasks' union."""
    train_extra = None
    if extra:
        train_extra = embs.filter(F.col("vec_id") < 50).withColumn(
            "embedding", F.transform("embedding", lambda x: x * -1.0)
        )

    def build(name):
        return build_ann_index(
            embs, str(tmp_path / name), n_centroids=12, seed=11,
            train_extra=train_extra,
        )

    spark_write = ai._write_base
    with monkeypatch.context() as m:
        def no_tasks(cvec, model, n, local=None):
            assert local is not None, "the build ran Spark tasks"
            return spark_write(cvec, model, n, local)

        m.setattr(ai, "_write_base", no_tasks)
        on_driver = build("driver")
    with monkeypatch.context() as m:
        m.setattr(ai, "_fits_driver", lambda *a: False)
        in_tasks = build("tasks")
    assert on_driver.n_delta_at_build == (50 if extra else 0)
    assert _index_files(on_driver) == _index_files(in_tasks)


def test_worker_cache_byte_cap(built):
    """A search that probes more row groups than the cache may hold gives
    the same results, and the cache stays under its cap."""
    model, embs = built
    Q = _vecs(embs)
    cache = ai._WORKER_CACHE
    cache.retain(())
    want = search(model, Q, 5, n_probe=12)
    total, n_blocks = cache.nbytes, len(cache.blocks)
    assert n_blocks == 12
    orig = ai._CACHE_MAX_BYTES
    ai._CACHE_MAX_BYTES = total // 4
    try:
        cache.retain(())
        assert search(model, Q, 5, n_probe=12) == want
        assert 0 < cache.nbytes <= total // 4
        assert len(cache.blocks) < n_blocks
        assert search(model, Q, 5, n_probe=12) == want  # warm, capped
    finally:
        ai._CACHE_MAX_BYTES = orig
        cache.retain(())


def test_model_roundtrip_and_reuse(spark, built, embs):
    model, _ = built
    loaded = load_ann_index(model.path)
    assert loaded is not None
    assert loaded.seed == model.seed
    np.testing.assert_array_equal(loaded.centroids, model.centroids)
    assert loaded.n_corpus == model.n_corpus

    # matching fingerprint -> ensure loads, does NOT retrain
    calls = []
    orig = ai.kmeans_centroids
    ai.kmeans_centroids = lambda *a, **k: (calls.append(1), orig(*a, **k))[1]
    try:
        m2 = ensure_ann_index(embs, model.path, mode="ivf", n_centroids=12)
        assert calls == []
        np.testing.assert_array_equal(m2.centroids, model.centroids)
        # param change -> rebuild
        ensure_ann_index(embs, model.path, mode="ivf", n_centroids=6)
        assert calls == [1]
        with pytest.raises(ValueError, match="unknown ann index mode"):
            ensure_ann_index(embs, model.path, mode="ivf_pq")
    finally:
        ai.kmeans_centroids = orig
        # restore the original index for later tests
        build_ann_index(embs, model.path, n_centroids=12, seed=11)


def test_delta_add_and_visibility(spark, built):
    """Drained delta files are visible; a written but undrained batch file
    is not — visibility is the caller's file list, never a directory
    listing.  (A delta still in its window is merged on the driver:
    tests/test_window_merge.py.)"""
    model, _ = built
    rng = np.random.default_rng(3)
    new_vecs = rng.normal(size=(5, 32)).astype(np.float32) * 3
    new_ids = np.arange(1000, 1005, dtype=np.int64)
    delta = assign_delta(model, new_ids, new_vecs)
    assert len(delta) == 5

    def top1(lists):
        return [row[0][0] for row in lists]

    # drained visibility: the self vector is top-1 once the file is written
    persist_delta(model, spark, delta, 0)
    assert existing_delta_batches(model) == {0}
    assert top1(search(model, new_vecs, 3, batches=[0])) == new_ids.tolist()

    # undrained batches are invisible (crash-window isolation)
    got = search(model, new_vecs, 3)
    assert not set(sum(_ids(got), [])) & set(new_ids.tolist())

    # idempotent rewrite: the batch's one file is replaced, results equal
    before = search(model, new_vecs, 3, batches=[0])
    persist_delta(model, spark, delta, 0)
    assert os.listdir(os.path.dirname(model.batch_file(0))) == ["part-0.parquet"]
    assert search(model, new_vecs, 3, batches=[0]) == before
    assert ai._count_delta_rows(model) == 5


def _numpy_ivf(C, n_probe, corpus_keys, corpus_X, Q, k, dels=()):
    """Reference IVF: the same bucket assignment and probes, exact f64
    cosine within the probed buckets, ranked by (cosine desc, key asc)."""
    Xn = corpus_X / np.linalg.norm(corpus_X, axis=1, keepdims=True)
    bucket = np.argmax(np.einsum("id,jd->ij", Xn, C), axis=1)
    Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)
    probe = np.argsort(-np.einsum("id,jd->ij", Qn, C), axis=1)[:, :n_probe]
    out = []
    for qi in range(len(Q)):
        cand = np.flatnonzero(
            np.isin(bucket, probe[qi]) & ~np.isin(corpus_keys, list(dels))
        )
        cos = Xn[cand].astype(np.float64) @ Qn[qi].astype(np.float64)
        o = np.lexsort((corpus_keys[cand], -cos))[:k]
        out.append(corpus_keys[cand][o].tolist())
    return out


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_kernel_matches_numpy_ivf_reference(spark, tmp_path, seed):
    """Base + two drained deltas, with tombstones in each: identical ids
    and ranks to the NumPy reference."""
    rng = np.random.default_rng(seed)
    centers = rng.normal(size=(10, 24)).astype(np.float32) * 3
    X = (centers[np.arange(300) % 10] + rng.normal(size=(300, 24))).astype(
        np.float32
    )
    model = build_ann_index(
        _df(spark, range(300), X[:240]), str(tmp_path / "idx"),
        n_centroids=10, n_probe=3, seed=seed,
    )
    ids = np.arange(300, dtype=np.int64)
    persist_delta(model, spark, assign_delta(model, ids[240:270], X[240:270]), 0)
    persist_delta(model, spark, assign_delta(model, ids[270:], X[270:]), 1)
    dels = [int(ids[5]), int(ids[250]), int(ids[280])]
    Q = (centers[rng.integers(0, 10, 50)] + rng.normal(size=(50, 24))).astype(
        np.float32
    )
    got = _ids(search(model, Q, 7, batches=[0, 1], dels=dels))
    want = _numpy_ivf(model.centroids, 3, ids, X, Q, 7, dels)
    assert got == want


def test_search_partitioning_invariant(spark, spark_world, cfg, tmp_path):
    """The fused stage over 1 and 4 mention partitions gives identical
    candidates, scores included: a query's probes and scores do not depend
    on which other queries share its task."""
    from incremental_entity_extraction_spark.operators.fused import (
        detect_encode_retrieve,
    )
    from incremental_entity_extraction_spark.operators.retrieval_ann import (
        composite_corpus,
    )

    model = build_ann_index(
        composite_corpus(spark_world["entities_kb"]), str(tmp_path / "idx")
    )
    shard = index_shard(model)

    def run(df):
        pdf = detect_encode_retrieve(df, cfg, [shard]).select(
            "mention_id", "candidates"
        ).toPandas()
        return {
            r.mention_id: [tuple(c.values()) if isinstance(c, dict) else tuple(c)
                           for c in r.candidates]
            for r in pdf.itertuples()
        }

    t = spark_world["transcripts"]
    one = run(t.repartition(1))
    four = run(t.repartition(4, "conv_id", "turn_idx"))
    assert len(one) > 0 and one == four
    assert all(len(c) == cfg.top_k for c in one.values())


def test_empty_queries(spark, built, cfg):
    model, _ = built
    counts, ids, *_ = topk_candidates_columnar(
        np.empty((0, 32), np.float32), [index_shard(model)], 5, 1.0
    )
    assert len(counts) == 0 and len(ids) == 0

    from incremental_entity_extraction_spark.operators.fused import (
        detect_encode_retrieve,
    )

    empty = spark.createDataFrame(
        [], "conv_id string, turn_idx int, batch_id int, text string"
    )
    assert detect_encode_retrieve(empty, cfg, [index_shard(model)]).count() == 0


def test_content_fingerprint_triggers_rebuild(spark, embs, tmp_path):
    """A same-count content change (one vector re-encoded in place) must
    rebuild — a bare row-count fingerprint would silently serve the stale
    index against changed vectors."""
    path = str(tmp_path / "fp_idx")
    build_ann_index(embs, path, n_centroids=12, seed=11)

    calls = []
    orig = ai.kmeans_centroids
    ai.kmeans_centroids = lambda *a, **k: (calls.append(1), orig(*a, **k))[1]
    try:
        # unchanged corpus: loads, no retrain
        ensure_ann_index(embs, path, mode="ivf", n_centroids=12)
        assert calls == []
        # one vector mutated, count unchanged: must rebuild.  The mutated
        # branch is cast back to array<float> — otherwise when/otherwise
        # type-unifies the WHOLE column to array<double>, every row's hash
        # changes, and the test would pass even for a fingerprint blind to
        # single-row edits
        mutated = embs.withColumn(
            "embedding",
            F.when(
                F.col("vec_id") == 0,
                F.transform("embedding", lambda x: x + F.lit(1.0)).cast(
                    "array<float>"
                ),
            ).otherwise(F.col("embedding")),
        )
        ensure_ann_index(mutated, path, mode="ivf", n_centroids=12)
        assert calls == [1]
    finally:
        ai.kmeans_centroids = orig


def test_metadata_change_rewrites_rows_without_training(spark, embs, tmp_path):
    """A base built without metadata, reused with it, keeps its centroids
    and rewrites the rows with titles; a crash between the rows and the
    model (stale fingerprint) is redone by the next call."""
    path = str(tmp_path / "meta_idx")
    model = build_ann_index(embs, path, n_centroids=12, seed=11)
    assert set(pq.read_table(model.base_path)["title"].to_pylist()) == {""}
    with_meta = embs.withColumn("wikipedia_id", F.col("vec_id") + 7).withColumn(
        "title", F.concat(F.lit("t"), F.col("vec_id").cast("string"))
    )
    calls, writes = [], []
    orig, orig_w = ai.kmeans_centroids, ai._write_base
    ai.kmeans_centroids = lambda *a, **k: (calls.append(1), orig(*a, **k))[1]
    ai._write_base = lambda *a: (writes.append(1), orig_w(*a))[1]
    try:
        m2 = ensure_ann_index(with_meta, path, n_centroids=12)
        assert calls == [] and writes == [1]
        np.testing.assert_array_equal(m2.centroids, model.centroids)
        rows = pq.read_table(m2.base_path).to_pandas()
        assert (rows["title"] == "t" + rows["id"].astype(str)).all()
        assert (rows["wikipedia_id"] == rows["id"] + 7).all()
        # unchanged: nothing rewritten
        ensure_ann_index(with_meta, path, n_centroids=12)
        assert writes == [1]
        # crash after the rows, before the model: the next call redoes it
        m2.meta_fp = model.meta_fp
        ai._save_model(m2)
        ensure_ann_index(with_meta, path, n_centroids=12)
        assert calls == [] and writes == [1, 1]
        # a base file lost mid-rewrite: rewritten under the same centroids
        os.remove(os.path.join(m2.base_path, m2.base_files[0]))
        m3 = ensure_ann_index(with_meta, path, n_centroids=12)
        assert calls == [] and writes == [1, 1, 1]
        assert m3.base_keys() is not None
    finally:
        ai.kmeans_centroids, ai._write_base = orig, orig_w


def test_n_probe_change_updates_model_without_rebuild(spark, embs, tmp_path):
    """n_probe is a search-time knob the stored rows are independent of —
    changing it must update the persisted model, not retrain + rewrite."""
    path = str(tmp_path / "np_idx")
    build_ann_index(embs, path, n_centroids=12, n_probe=4, seed=11)

    calls = []
    orig = ai.kmeans_centroids
    ai.kmeans_centroids = lambda *a, **k: (calls.append(1), orig(*a, **k))[1]
    try:
        m = ensure_ann_index(embs, path, mode="ivf", n_centroids=12, n_probe=7)
        assert calls == []
        assert m.n_probe == 7
        assert load_ann_index(path).n_probe == 7  # persisted, not just in-memory
    finally:
        ai.kmeans_centroids = orig


def test_geometry_mismatch_triggers_rebuild(spark, embs, tmp_path):
    """An index built with one training budget or centroid count must NOT
    be silently reused by a caller asking for another."""
    path = str(tmp_path / "geom_idx")
    build_ann_index(embs, path, n_centroids=12, seed=11)

    calls = []
    orig = ai.kmeans_centroids
    ai.kmeans_centroids = lambda *a, **k: (calls.append(1), orig(*a, **k))[1]
    try:
        ensure_ann_index(embs, path, n_centroids=12)
        assert calls == []
        # different training budget -> rebuild
        m = ensure_ann_index(embs, path, n_centroids=12, train_size=200)
        assert calls == [1] and m.train_size == 200
        # different centroid count -> rebuild
        m = ensure_ann_index(embs, path, n_centroids=8, train_size=200)
        assert calls == [1, 1] and m.centroids.shape[0] == 8
    finally:
        ai.kmeans_centroids = orig


def test_rebuild_threshold_recovers_drift_recall(spark, tmp_path):
    """The drift knob FAISS lacks: deltas assigned under frozen build-time
    centroids scatter noise-driven when the stream drifts into a subspace
    the training never saw, and probe sets miss them (recall collapses).
    Crossing ``rebuild_threshold`` retrains ONCE with the deltas folded
    into the k-means sample; re-adding the deltas under the new model
    restores recall.  Below-threshold runs (and the run right after the
    rebuild, whose ratio reset) must reuse without retraining."""
    rng = np.random.default_rng(5)
    dim = 16

    # base: 8 tight clusters living entirely in dims 0..7
    base_X = np.zeros((600, dim), dtype=np.float32)
    for i in range(600):
        base_X[i, i % 8] = 4.0
    base_X[:, :8] += rng.normal(size=(600, 8)).astype(np.float32) * 0.2
    base = _df(spark, range(600), base_X)

    # drift: a cluster in dims 8..15 — orthogonal to every base centroid,
    # so frozen-model assignment is decided by per-vector noise alone
    u = np.zeros(dim, dtype=np.float32)
    u[8:] = 1.0
    drift_X = (
        np.tile(u, (200, 1))
        + rng.normal(size=(200, dim)).astype(np.float32) * 0.35
    ).astype(np.float32)
    drift_ids = np.arange(2000, 2200, dtype=np.int64)
    drift = _df(spark, drift_ids, drift_X)
    corpus_full = base.unionByName(drift)

    q_X = (
        np.tile(u, (40, 1))
        + rng.normal(size=(40, dim)).astype(np.float32) * 0.35
    ).astype(np.float32)
    q = _df(spark, range(9000, 9040), q_X)
    exact = cosine_topk_join(q, corpus_full, k=10)
    qids = list(range(9000, 9040))

    path = str(tmp_path / "drift_idx")
    model = build_ann_index(
        base, path, n_centroids=12, n_probe=2, seed=11
    )
    persist_delta(model, spark, assign_delta(model, drift_ids, drift_X), 0)

    before = _recall(search(model, q_X, 10, batches=[0]), exact, qids)
    assert before <= 0.6  # noise-scattered deltas vs 2-of-12 probes

    calls = []
    orig = ai.kmeans_centroids
    ai.kmeans_centroids = lambda *a, **k: (calls.append(1), orig(*a, **k))[1]
    try:
        # 200/600 = 0.33 > 0.25 -> exactly one drift rebuild
        m2 = ensure_ann_index(
            base, path, mode="ivf", n_centroids=12, n_probe=2,
            rebuild_threshold=0.25, delta_corpus=drift,
        )
        assert calls == [1]
        assert m2.n_delta_at_build == 200
        # the rebuild wiped the delta rows/markers; re-add them under the
        # new model — the pipeline's backfill_missing_deltas step
        assert existing_delta_batches(m2) == set()
        persist_delta(m2, spark, assign_delta(m2, drift_ids, drift_X), 0)
        after = _recall(search(m2, q_X, 10, batches=[0]), exact, qids)
        assert after >= 0.85 and after > before
        # ratio reset: the immediate next run reuses, no second rebuild
        m3 = ensure_ann_index(
            base, path, mode="ivf", n_centroids=12, n_probe=2,
            rebuild_threshold=0.25, delta_corpus=drift,
        )
        assert calls == [1]
        np.testing.assert_array_equal(m3.centroids, m2.centroids)
        # default threshold=None keeps exact FAISS-add semantics: even the
        # drifted state never retrains
        m4 = ensure_ann_index(base, path, mode="ivf", n_centroids=12, n_probe=2)
        assert calls == [1]
        np.testing.assert_array_equal(m4.centroids, m2.centroids)
    finally:
        ai.kmeans_centroids = orig


def test_tripped_threshold_without_delta_corpus_is_ignored(spark, embs, tmp_path):
    """A tripped drift threshold with ``delta_corpus=None`` must NOT
    rebuild: rebuilding wipes the persisted delta rows, and without the
    delta vectors in hand the caller's backfill could never restore them
    (permanent recall hole) — and the recorded ``n_delta_at_build=0``
    would re-trip the threshold on every later run, retraining forever.
    The scenario is real: a caller whose ``new_entities`` table is
    unreadable (or that has drained nothing yet) passes None while the
    index still holds committed delta rows."""
    rng = np.random.default_rng(3)
    path = str(tmp_path / "guard_idx")
    model = build_ann_index(embs, path, n_centroids=12, seed=11)
    d_ids = np.arange(5000, 5300, dtype=np.int64)  # 300/400 >> 0.25
    d_X = rng.normal(size=(300, 32)).astype(np.float32)
    persist_delta(model, spark, assign_delta(model, d_ids, d_X), 0)

    calls = []
    orig = ai.kmeans_centroids
    ai.kmeans_centroids = lambda *a, **k: (calls.append(1), orig(*a, **k))[1]
    try:
        m2 = ensure_ann_index(
            embs, path, mode="ivf", n_centroids=12,
            rebuild_threshold=0.25, delta_corpus=None,
        )
    finally:
        ai.kmeans_centroids = orig
    assert calls == []  # reused, NOT retrained
    np.testing.assert_array_equal(m2.centroids, model.centroids)
    assert existing_delta_batches(m2) == {0}  # delta rows survived
    got = search(m2, d_X[:1], 5, batches=[0])
    assert 5000 in set(_ids(got)[0])  # deltas still searchable


def test_empty_delta_commits_marker_only(spark, embs, tmp_path):
    """A zero-entity batch persists a marker (so resume backfill never
    re-scans it) but no rows file."""
    path = str(tmp_path / "mk_idx")
    model = build_ann_index(embs, path, n_centroids=12, seed=11)
    persist_delta(model, spark, None, 7)
    assert existing_delta_batches(model) == {7}
    assert not os.path.isdir(os.path.join(model.rows_path, "added_batch=7"))
    assert model.file_key(7) is None
    # a re-run that finds nothing removes the file an earlier attempt left:
    # it must not turn visible once the batch drains
    rng = np.random.default_rng(4)
    delta = assign_delta(
        model, np.arange(900, 903), rng.normal(size=(3, 32)).astype(np.float32)
    )
    persist_delta(model, spark, delta, 8)
    assert model.file_key(8) is not None
    persist_delta(model, spark, delta[:0], 8)
    assert model.file_key(8) is None
    assert existing_delta_batches(model) == {7, 8}
    assert ai._count_delta_rows(model) == 0
    # a rebuild wipes the markers along with the rows (deltas invalidated)
    build_ann_index(embs, path, n_centroids=12, seed=11)
    assert existing_delta_batches(model) == set()
