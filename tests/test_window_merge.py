"""The in-window merge (``pipeline._merge_window_entities``) scores only the
(row, entity) pairs that can enter a row's top k.  Its output must equal,
bit for bit and lake byte for lake byte, the unpruned merge it replaced:
the fused stage's top-k over the window's new entities
(``retrieval.topk_candidates_columnar``), merged into every row's list
(``retrieval.merge_candidates``) and NIL re-scored on every row
(``nil.nil_columns``), kept here as the reference.  No Spark session: the
rows are built with the same kernels the window job runs."""

import io
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

import incremental_entity_extraction_spark.pipeline as pl
from incremental_entity_extraction_spark.config import PipelineConfig
from incremental_entity_extraction_spark.functions.cluster_math import tile_rows
from incremental_entity_extraction_spark.operators.ann_index import (
    IVFShard,
    _dots,
    _list_array,
    _rows_table,
    _write_rows,
)
from incremental_entity_extraction_spark.operators.fused import (
    _candidate_arrays,
    _candidates_list_array,
)
from incremental_entity_extraction_spark.operators.nil import (
    NIL_FIELDS,
    nil_columns,
)
from incremental_entity_extraction_spark.operators.retrieval import (
    KBShard,
    _pair_scores,
    merge_candidates,
    topk_candidates_columnar,
)
from incremental_entity_extraction_spark.operators.retrieval_ann import (
    composite_keys_np,
)
from incremental_entity_extraction_spark.operators.similarity_search import (
    _normalize,
)

RO, RW = 10, 20  # indexer ids of the KB and of the window's new entities


def _reference(rows: pa.Table, shards: list, cfg, by_norm: bool) -> pa.Table:
    """The unpruned merge: every row searched, merged and NIL re-scored."""
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


def _fused_rows(enc: np.ndarray, shards: list, cfg) -> pa.Table:
    """Mention rows as the window job emits them: encoding, candidates
    against ``shards`` and the NIL columns."""
    counts, *flat = topk_candidates_columnar(
        enc, shards, cfg.top_k, float(cfg.vector_norm) ** 2
    )
    fields = _candidate_arrays(*flat)
    cols = {
        "mention_id": pa.array([f"m{i}" for i in range(len(enc))]),
        "encoding": _list_array(enc),
        "candidates": _candidates_list_array(counts, fields),
    }
    for f, col in zip(NIL_FIELDS, nil_columns(counts, *fields[:5], cfg)):
        cols[f.name] = col
    return pa.table(cols)


def _parquet(t: pa.Table) -> bytes:
    buf = io.BytesIO()
    pq.write_table(t, buf)
    return buf.getvalue()


def _assert_same(got: pa.Table, want: pa.Table) -> None:
    assert got.schema == want.schema
    assert got.equals(want)
    for name in ("max_bi", "secondiff", "nil_score"):
        np.testing.assert_array_equal(
            got[name].to_numpy().view(np.uint8), want[name].to_numpy().view(np.uint8)
        )
    cg, cw = (pc.list_flatten(t["candidates"]) for t in (got, want))
    for f in ("score", "norm_score"):
        np.testing.assert_array_equal(
            pc.struct_field(cg, f).to_numpy().view(np.uint32),
            pc.struct_field(cw, f).to_numpy().view(np.uint32),
        )
    assert _parquet(got) == _parquet(want)


def _vectors(rng, n, d, centers=None, norm=10.0):
    X = rng.normal(size=(n, d))
    if centers is not None:
        X += centers[rng.integers(0, len(centers), n)]
    X *= norm / np.linalg.norm(X, axis=1, keepdims=True)
    return X.astype(np.float32)


def _entities(rng, ids, X, indexer):
    return pd.DataFrame({
        "id": np.asarray(ids, np.int64),
        "indexer": np.full(len(ids), indexer, np.int32),
        "wikipedia_id": rng.integers(-1, 10**6, len(ids)),
        "title": [f"e{i}" for i in ids],
        "embedding": list(X),
    })


# ---- broadcast mode --------------------------------------------------------
def _broadcast_case(enc, kb, new, cfg):
    """(pruned, reference) for rows scored against ``kb`` merging ``new``."""
    rows = _fused_rows(enc, [KBShard(kb)] if len(kb) else [], cfg)
    got = pl._merge_window_entities(rows, pl.WindowEntities.of_rw(new), cfg)
    return got, _reference(rows, [KBShard(new)], cfg, by_norm=False)


@pytest.mark.parametrize("seed", range(8))
def test_broadcast_fuzz_equals_unpruned(seed):
    rng = np.random.default_rng(seed)
    d = int(rng.choice([3, 16, 64]))
    k = int(rng.integers(1, 8))
    cfg = PipelineConfig(top_k=k)
    centers = rng.normal(size=(6, d)) * 2
    n_kb = int(rng.integers(0, 60))
    kb = _entities(rng, np.arange(n_kb), _vectors(rng, n_kb, d, centers), RO)
    m = int(rng.integers(1, 60))
    new = _entities(rng, 1000 + np.arange(m), _vectors(rng, m, d, centers), RW)
    enc = _vectors(rng, int(rng.integers(1, 120)), d, centers)
    got, want = _broadcast_case(enc, kb, new, cfg)
    _assert_same(got, want)


def test_lists_shorter_than_k():
    """A KB of fewer than k entities leaves every list short, so every
    window entity may enter, whatever its score."""
    rng = np.random.default_rng(1)
    cfg = PipelineConfig(top_k=6)
    kb = _entities(rng, range(3), _vectors(rng, 3, 16), RO)
    new = _entities(rng, 1000 + np.arange(5), _vectors(rng, 5, 16), RW)
    enc = _vectors(rng, 40, 16)
    got, want = _broadcast_case(enc, kb, new, cfg)
    assert set(pc.list_value_length(got["candidates"]).to_pylist()) == {6}
    _assert_same(got, want)
    # and a KB with no entities at all: every list starts empty
    got, want = _broadcast_case(enc, kb.iloc[:0], new, cfg)
    assert set(pc.list_value_length(got["candidates"]).to_pylist()) == {5}
    _assert_same(got, want)


def _ids(t: pa.Table, row: int) -> list:
    return [(c["indexer"], c["id"]) for c in t["candidates"][row].as_py()]


@pytest.mark.parametrize("wins", [True, False])
def test_exact_tie_with_kth_decided_by_indexer_and_id(wins):
    """A window entity with the k-th candidate's own vector scores the
    same bits: it takes the k-th slot only if its (indexer, id) is lower."""
    rng = np.random.default_rng(2)
    cfg = PipelineConfig(top_k=4)
    kb = _entities(rng, range(30), _vectors(rng, 30, 16), RO)
    enc = _vectors(rng, 8, 16)
    rows = _fused_rows(enc, [KBShard(kb)], cfg)
    kth = rows["candidates"][0].as_py()[-1]
    vec = kb.loc[kb["id"] == kth["id"], "embedding"].iloc[0]
    new = _entities(rng, [kth["id"] + (-1 if wins else 1)], [vec], RO)
    got = pl._merge_window_entities(rows, pl.WindowEntities.of_rw(new), cfg)
    assert got["candidates"][0].as_py()[-1]["score"] == kth["score"]
    assert (got["candidates"][0].as_py()[-1]["id"] != kth["id"]) == wins
    _assert_same(got, _reference(rows, [KBShard(new)], cfg, by_norm=False))


def test_near_ties_inside_the_margin():
    """An entity a few ulps from a row's k-th score whose exact key reaches
    it while the merge's own BLAS product puts it below: a threshold on
    the BLAS key alone would drop a pair that enters the row's top k."""
    rng = np.random.default_rng(3)
    d, k = 256, 5
    cfg = PipelineConfig(top_k=k)
    kb = _entities(rng, range(40), _vectors(rng, 40, d), RO)
    enc = _vectors(rng, 16, d)
    rows = _fused_rows(enc, [KBShard(kb)], cfg)
    kth = rows["candidates"][0].as_py()[-1]
    base = kb.loc[kb["id"] == kth["id"], "embedding"].iloc[0]
    # perturb a few coordinates by a few ulps
    trial = np.repeat(base[None, :], 4000, axis=0)
    at = rng.integers(0, d, (4000, 3))
    steps = rng.integers(-4, 5, (4000, 3)).astype(np.float32)
    rows_i = np.arange(4000)[:, None]
    trial[rows_i, at] += steps * np.spacing(np.abs(trial[rows_i, at]))
    exact = _pair_scores(enc[:1], trial[None, :, :])[0]
    s_k = np.float32(kth["score"])
    Q = pc.list_flatten(rows["encoding"]).to_numpy().reshape(len(enc), d)

    def window(t):  # one indexer below the KB's, so a tie with s_k wins
        return _entities(rng, [500], trial[t : t + 1], RO - 1)

    # the first entity that the merge's own product (its row tile against
    # this one entity) puts below s_k, though its exact key reaches it
    t = next(
        t for t in np.flatnonzero(exact >= s_k)
        if (Q @ pl.WindowEntities.of_rw(window(t)).E.T)[0, 0] < s_k
    )
    new = window(t)
    got = pl._merge_window_entities(rows, pl.WindowEntities.of_rw(new), cfg)
    assert (RO - 1, 500) in _ids(got, 0)
    _assert_same(got, _reference(rows, [KBShard(new)], cfg, by_norm=False))


def test_all_zero_encodings():
    """Zero rows score 0 against everything: every entity ties at the
    k-th key and the (indexer, id) order decides.  (Three entities: the
    reference ranks a pool of 2k by BLAS key, and argpartition, not
    (indexer, id), picks that pool among more exact ties.)"""
    rng = np.random.default_rng(4)
    cfg = PipelineConfig(top_k=3)
    kb = _entities(rng, range(20), _vectors(rng, 20, 8), RO)
    enc = _vectors(rng, 10, 8)
    enc[::3] = 0
    new = _entities(rng, [2, 7, 1000], _vectors(rng, 3, 8), 5)
    got, want = _broadcast_case(enc, kb, new, cfg)
    assert _ids(got, 0) == [(5, 2), (5, 7), (5, 1000)]
    _assert_same(got, want)


def test_more_rows_than_one_tile():
    """Enough window entities that the rows span three tiles, and a tile
    keeps more pairs than one re-scoring chunk holds."""
    rng = np.random.default_rng(5)
    d, k, m = 64, 20, 4100
    cfg = PipelineConfig(top_k=k)
    assert 2 * tile_rows(m) < 1200
    kb = _entities(rng, range(500), _vectors(rng, 500, d), RO)
    new = _entities(rng, 1000 + np.arange(m), _vectors(rng, m, d), RW)
    enc = _vectors(rng, 1200, d)
    got, want = _broadcast_case(enc, kb, new, cfg)
    _assert_same(got, want)


# ---- ivf mode --------------------------------------------------------------
def _index_file(tmp_path, name, rows: pa.Table):
    p = str(tmp_path / name / "part-0.parquet")
    _write_rows(p, rows)
    st = os.stat(p)
    return (p, st.st_size, st.st_mtime_ns)


def _index_rows(C, rng, ids, X, indexer):
    return _rows_table(
        C, composite_keys_np(ids, np.full(len(ids), indexer)), X,
        rng.integers(-1, 10**6, len(ids)),
        np.array([f"e{i}" for i in ids], object),
    )


def _rebucket(rows: pa.Table, bucket: np.ndarray) -> pa.Table:
    """``rows`` moved to ``bucket``s the frozen centroids did not pick,
    re-sorted by (bucket, id) as index rows are."""
    rows = rows.set_column(0, rows.schema.field(0), pa.array(bucket, pa.int32()))
    return rows.take(np.lexsort((rows["id"].to_numpy(), bucket)))


def _ivf_case(tmp_path, C, n_probe, dels, enc, kb_rows, new_rows, cfg):
    """(rows, pruned, reference): rows scored against the index base
    ``kb_rows``, then merged with the window's ``new_rows``."""
    base = _index_file(tmp_path, "base", kb_rows)
    rows = _fused_rows(enc, [IVFShard(C, n_probe, dels, [base])], cfg)
    ents = pl.WindowEntities.of_index_rows(new_rows, IVFShard(C, n_probe, dels))
    got = pl._merge_window_entities(rows, ents, cfg)
    delta = _index_file(tmp_path, "delta", new_rows)
    want = _reference(rows, [IVFShard(C, n_probe, dels, [delta])], cfg, True)
    return rows, got, want


@pytest.mark.parametrize("seed", range(8))
def test_ivf_fuzz_equals_unpruned(tmp_path, seed):
    rng = np.random.default_rng(100 + seed)
    d = int(rng.choice([4, 16, 64]))
    k = int(rng.integers(1, 8))
    cfg = PipelineConfig(top_k=k)
    n_c = int(rng.integers(1, 9))
    centers = rng.normal(size=(n_c, d)) * 2
    C = _normalize(centers.astype(np.float32))
    n_kb, m = int(rng.integers(1, 80)), int(rng.integers(1, 40))
    kb_rows = _index_rows(C, rng, np.arange(n_kb), _vectors(rng, n_kb, d, centers), RO)
    new_rows = _index_rows(C, rng, 1000 + np.arange(m),
                           _vectors(rng, m, d, centers), RW)
    dels = rng.choice(np.r_[np.arange(n_kb), 1000 + np.arange(m)],
                      int(rng.integers(0, 4)), replace=False)
    enc = _vectors(rng, int(rng.integers(1, 120)), d, centers)
    rows, got, want = _ivf_case(tmp_path, C, int(rng.integers(1, n_c + 1)),
                                dels, enc, kb_rows, new_rows, cfg)
    _assert_same(got, want)


def test_ivf_tombstones_and_unprobed_buckets(tmp_path):
    """Each query's own direction joins the window three times: once
    tombstoned, once in a bucket the query does not probe, once in the
    bucket it does.  Only the last may enter, though each would be the
    row's top candidate."""
    rng = np.random.default_rng(7)
    d, k = 16, 3
    cfg = PipelineConfig(top_k=k)
    centers = rng.normal(size=(6, d)) * 3
    C = _normalize(centers.astype(np.float32))
    kb_rows = _index_rows(C, rng, np.arange(60), _vectors(rng, 60, d, centers), RO)
    enc = _vectors(rng, 6, d, centers)
    probe = np.argsort(-_dots(_normalize(enc), C), axis=1)[:, 0]
    ids = 1000 + np.arange(18)
    new_rows = _index_rows(C, rng, ids, np.repeat(enc, 3, axis=0), RW)
    own = new_rows["id"].to_numpy() % (1 << 40) - 1000
    new_rows = _rebucket(new_rows, np.where(
        own % 3 == 1, (probe[own // 3] + 1) % len(C), new_rows["bucket"].to_numpy()
    ))
    rows, got, want = _ivf_case(
        tmp_path, C, 1, ids[::3], enc, kb_rows, new_rows, cfg
    )
    for r in range(len(enc)):
        rw = [i for x, i in _ids(got, r) if x == RW]
        assert rw[:1] == [1000 + 3 * r + 2]
        assert 1000 + 3 * r not in rw and 1000 + 3 * r + 1 not in rw
    _assert_same(got, want)


def test_ivf_ties_short_lists_and_zero_rows(tmp_path):
    """ivf rows short of k (n_probe 1 over sparse buckets), zero encodings,
    and two window entities that copy a row's lowest-cosine candidate, one
    under a lower and one under a higher (indexer, id)."""
    rng = np.random.default_rng(8)
    d, k = 8, 4
    cfg = PipelineConfig(top_k=k)
    centers = rng.normal(size=(8, d)) * 3
    C = _normalize(centers.astype(np.float32))
    kb_X = _vectors(rng, 20, d, centers)
    kb_rows = _index_rows(C, rng, np.arange(20), kb_X, RO)
    enc = _vectors(rng, 30, d, centers)
    enc[::4] = 0
    base = _index_file(tmp_path, "probe", kb_rows)
    first = _fused_rows(enc, [IVFShard(C, 1, (), [base])], cfg)
    lengths = pc.list_value_length(first["candidates"]).to_pylist()
    assert min(lengths) < k
    full = next(r for r in range(1, 30) if r % 4 and lengths[r] == k)
    low = min(first["candidates"][full].as_py(), key=lambda c: c["norm_score"])
    vec = kb_X[low["id"]][None, :]
    new_rows = pa.concat_tables([
        _index_rows(C, rng, [5000], vec, RO - 1),
        _index_rows(C, rng, [5001], vec, RO + 1),
        _index_rows(C, rng, 1000 + np.arange(6), _vectors(rng, 6, d, centers), RW),
    ])
    new_rows = _rebucket(new_rows, new_rows["bucket"].to_numpy())
    rows, got, want = _ivf_case(tmp_path, C, 1, (), enc, kb_rows, new_rows, cfg)
    assert (RO - 1, 5000) in _ids(got, full)
    assert (RO + 1, 5001) not in _ids(got, full)
    _assert_same(got, want)
