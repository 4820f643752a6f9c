"""M6/M7 NIL prediction and M8/M11 clustering parity tests."""

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from incremental_entity_extraction_spark.functions.cluster_math import (
    greedy_cluster_labels,
    medoid_index,
    modal_value,
)
from incremental_entity_extraction_spark.operators.clustering import (
    cc_summarize_pdf,
    cluster_summarize_batches,
)
from incremental_entity_extraction_spark.operators.encode import encode_mentions_df
from incremental_entity_extraction_spark.operators.mentions import detect_mentions
from incremental_entity_extraction_spark.operators.nil import predict_nil
from incremental_entity_extraction_spark.operators.retrieval import (
    build_kb_shards,
    retrieve_topk,
)
from incremental_entity_extraction_spark.oracle.reference import (
    nil_score_from_features,
    oracle_detect_mentions,
    oracle_nil,
    oracle_topk,
)
from incremental_entity_extraction_spark.functions.featurizer import encode_mentions


def _nil_scored(spark, spark_world, cfg):
    mentions = detect_mentions(spark_world["transcripts"])
    encoded = encode_mentions_df(mentions, cfg)
    shards = build_kb_shards(spark_world["entities_kb"], n_shards=1)
    return predict_nil(retrieve_topk(encoded, cfg, shards), cfg)


def _oracle_nil_scored(world, cfg):
    om = oracle_detect_mentions(world.transcripts)
    enc = encode_mentions(
        om["context_left"], om["mention"], om["context_right"],
        cfg.dim, cfg.vector_norm, cfg.max_context_tokens,
    )
    om = om.assign(candidates=oracle_topk(enc, world.entities_kb, cfg))
    return oracle_nil(om, cfg), enc


def test_nil_decisions_match_oracle(spark, spark_world, world, cfg):
    got = _nil_scored(spark, spark_world, cfg).toPandas()
    exp, _ = _oracle_nil_scored(world, cfg)
    got = got.sort_values("mention_id").reset_index(drop=True)
    exp = exp.sort_values("mention_id").reset_index(drop=True)
    assert list(got["mention_id"]) == list(exp["mention_id"])
    assert list(got["is_nil"]) == list(exp["is_nil"])
    np.testing.assert_allclose(got["max_bi"], exp["max_bi"], rtol=1e-4)
    np.testing.assert_allclose(got["nil_score"], exp["nil_score"], rtol=1e-3)
    assert list(got["top_wikipedia_id"].fillna(-9)) == list(
        exp["top_wikipedia_id"].fillna(-9)
    )


def test_nil_logistic_closed_form_sanity(cfg):
    # high max_bi + high secondiff => confidently linked
    assert nil_score_from_features(95.0, 60.0, cfg) > 0.99
    # low max_bi => NIL
    assert nil_score_from_features(30.0, 5.0, cfg) < 0.01


def test_nil_columns_rows_with_zero_one_and_many_candidates(cfg):
    """``nil_columns`` over flat top-k arrays: a row with no candidates is
    NIL with score 0.0 and null features and top_*; a lone candidate's
    margin is over 0.0; scores equal the oracle's closed form exactly."""
    import pyarrow as pa

    from incremental_entity_extraction_spark.operators.nil import nil_columns

    counts = np.array([0, 1, 3, 0, 2])
    score = np.array([71.3, 90.1, 40.2, 39.9, 55.5, 55.5], dtype=np.float32)
    ids = pa.array(np.arange(6, dtype=np.int64) + 100)
    titles = pa.array([f"t{i}" for i in range(6)])
    cols = nil_columns(counts, ids, ids, ids, titles, score, cfg)
    max_bi, secondiff, nil_score, is_nil, top_id, _, _, top_title = (
        c.to_pylist() for c in cols
    )
    s = score.astype(np.float64)
    feats = [None, (s[0], s[0]), (s[1], s[1] - s[2]), None, (s[4], 0.0)]
    want = [0.0 if f is None else nil_score_from_features(*f, cfg) for f in feats]
    assert nil_score == want
    assert is_nil == [f is None or w < cfg.nil_threshold for f, w in zip(feats, want)]
    assert secondiff == [None if f is None else f[1] for f in feats]
    assert max_bi == [None, s[0], s[1], None, s[4]]
    assert top_id == [None, 100, 101, None, 104]
    assert top_title == [None, "t0", "t1", None, "t4"]


def _greedy_labels(nil_df, cfg):
    """(mention_id, cluster_label) from the greedy_replay kernel's rows."""
    return cluster_summarize_batches(nil_df, cfg, "greedy_replay").select(
        F.explode("mentions_id").alias("mention_id"), "cluster_label"
    )


def test_greedy_replay_matches_oracle_loop(spark, spark_world, world, cfg):
    nil_scored = _nil_scored(spark, spark_world, cfg)
    nil_df = nil_scored.filter(F.col("is_nil")).select(
        "mention_id", "conv_id", "turn_idx", "start_tok", "batch_id",
        "mention", "encoding",
    )
    labels = _greedy_labels(nil_df, cfg).toPandas()

    exp_nil, enc = _oracle_nil_scored(world, cfg)
    mask = exp_nil["is_nil"].to_numpy()
    got_map = dict(zip(labels["mention_id"], labels["cluster_label"]))
    # per batch, replay the oracle loop and compare cluster partitions
    for b in sorted(exp_nil["batch_id"].unique()):
        sel = mask & (exp_nil["batch_id"] == b).to_numpy()
        sub = exp_nil[sel].reset_index(drop=True)
        if len(sub) == 0:
            continue
        olabels = greedy_cluster_labels(enc[sel], cfg.greedy_threshold)
        # same-cluster iff same oracle label — compare as partitions
        oracle_part = {}
        for mid, lab in zip(sub["mention_id"], olabels):
            oracle_part.setdefault(lab, set()).add(mid)
        got_part = {}
        for mid in sub["mention_id"]:
            got_part.setdefault(got_map[mid], set()).add(mid)
        assert sorted(map(sorted, oracle_part.values())) == sorted(
            map(sorted, got_part.values())
        )


def _pairwise_f1(part_a: dict, part_b: dict) -> float:
    def pairs(part):
        out = set()
        for members in part.values():
            ms = sorted(members)
            for i in range(len(ms)):
                for j in range(i + 1, len(ms)):
                    out.add((ms[i], ms[j]))
        return out

    pa, pb = pairs(part_a), pairs(part_b)
    if not pa and not pb:
        return 1.0
    inter = len(pa & pb)
    p = inter / len(pb) if pb else 1.0
    r = inter / len(pa) if pa else 1.0
    return 2 * p * r / (p + r) if (p + r) else 0.0


def _cc_clusters(spark, spark_world, cfg) -> pd.DataFrame:
    """The cc kernel's summary rows, one ``cc_summarize_pdf`` call per
    batch, as the pipeline's driver path makes them."""
    nil_pdf = (
        _nil_scored(spark, spark_world, cfg)
        .filter(F.col("is_nil"))
        .select(
            "mention_id", "conv_id", "turn_idx", "start_tok", "batch_id",
            "mention", "encoding",
        )
        .toPandas()
    )
    th = float(cfg.greedy_threshold)
    return pd.concat(
        [cc_summarize_pdf(g, th) for _, g in nil_pdf.groupby("batch_id")],
        ignore_index=True,
    )


def test_cc_close_to_oracle_greedy(spark, spark_world, world, cfg):
    """CC on the threshold graph vs the oracle's sequential loop: the ≥0.95
    budget from SURVEY.md §7.4 (they differ only on order-dependent chains)."""
    clusters = _cc_clusters(spark, spark_world, cfg)
    got_part = dict(zip(clusters["cluster_label"], map(set, clusters["mentions_id"])))

    exp_nil, enc = _oracle_nil_scored(world, cfg)
    mask = exp_nil["is_nil"].to_numpy()
    oracle_part = {}
    for b in sorted(exp_nil["batch_id"].unique()):
        sel = mask & (exp_nil["batch_id"] == b).to_numpy()
        sub = exp_nil[sel].reset_index(drop=True)
        if len(sub) == 0:
            continue
        olabels = greedy_cluster_labels(enc[sel], cfg.greedy_threshold)
        for mid, lab in zip(sub["mention_id"], olabels):
            oracle_part.setdefault(f"{b}:{lab}", set()).add(mid)
    assert _pairwise_f1(oracle_part, got_part) >= 0.95


def test_summarize_clusters_fields(spark, spark_world, cfg):
    clusters = _cc_clusters(spark, spark_world, cfg)
    assert len(clusters)
    assert (clusters["nelements"] == clusters["mentions_id"].map(len)).all()
    for _, row in clusters.iterrows():
        assert row["cluster_label"] == min(row["mentions_id"])
        assert row["title"] == modal_value(row["mentions"])
        assert len(row["center"]) == cfg.dim


def test_cluster_math_kernels():
    assert modal_value(["b", "a", "b"]) == "b"
    assert modal_value(["b", "a"]) == "a"  # tie -> lexicographic
    enc = np.array([[0, 0], [1, 0], [10, 0]], dtype=np.float32)
    assert medoid_index(enc) == 1
    labels = greedy_cluster_labels(
        np.array([[10, 0], [10, 0.1], [0, 10]], dtype=np.float32), threshold=80.0
    )
    assert labels[0] == labels[1] != labels[2]


def _scale_world(dim: int, seed: int = 5) -> tuple[pd.DataFrame, np.ndarray]:
    """20 000 NIL rows at norm 10: 1 500 tight clusters of 1–12 members,
    300 chains of 6 vectors 25° apart along a great circle (neighbours
    score 90.6, vectors two steps apart 64.3) and single random vectors,
    rows shuffled against their mention_ids."""
    rng = np.random.default_rng(seed)

    def unit(x):
        return x / np.linalg.norm(x, axis=-1, keepdims=True)

    parts = []
    for size in rng.integers(1, 13, 1_500):
        c = unit(rng.standard_normal(dim))
        parts.append(unit(c + 0.02 * rng.standard_normal((size, dim))))
    for _ in range(300):
        u = unit(rng.standard_normal(dim))
        v = unit(rng.standard_normal(dim))
        v = unit(v - (v @ u) * u)
        a = np.radians(25.0) * np.arange(6)[:, None]
        parts.append(np.cos(a) * u + np.sin(a) * v)
    n_solo = 20_000 - sum(len(p) for p in parts)
    parts.append(unit(rng.standard_normal((n_solo, dim))))
    enc = (10.0 * np.concatenate(parts)).astype(np.float32)
    enc = enc[rng.permutation(len(enc))]
    pdf = pd.DataFrame({
        "batch_id": 0,
        "conv_id": [f"c{i // 50:04d}" for i in range(len(enc))],
        "turn_idx": np.arange(len(enc)) % 50,
        "start_tok": 0,
        "mention_id": [f"m{i:06d}" for i in rng.permutation(len(enc))],
        "mention": [f"s{i % 97}" for i in range(len(enc))],
        "encoding": list(enc),
    })
    return pdf, enc


def test_cc_kernel_clusters_20000_rows_in_tile_memory(cfg):
    """``cc_summarize_pdf`` on 20 000 NIL rows peaks under 64 MB of
    ``tracemalloc`` (the n×n adjacency alone would be 400 MB) and labels
    every row with the smallest mention_id of its component, as a BFS over
    the threshold graph (scored in float64, away from the threshold) finds
    it."""
    import tracemalloc

    pdf, enc = _scale_world(cfg.dim)
    th = float(cfg.greedy_threshold)

    # BFS oracle over neighbour lists scored in float64
    x = enc.astype(np.float64)
    nbrs = []
    for i0 in range(0, len(x), 1_000):
        s = x[i0 : i0 + 1_000] @ x.T
        assert not (np.abs(s - th) < 0.5).any()  # no pair near the threshold
        nbrs.extend(np.flatnonzero(row > th) for row in s)
    ids = pdf["mention_id"].tolist()
    want, seen = {}, np.zeros(len(x), dtype=bool)
    for s0 in range(len(x)):
        if seen[s0]:
            continue
        comp, stack = [], [s0]
        seen[s0] = True
        while stack:
            u = stack.pop()
            comp.append(u)
            for v in nbrs[u]:
                if not seen[v]:
                    seen[v] = True
                    stack.append(v)
        label = min(ids[u] for u in comp)
        want.update((ids[u], label) for u in comp)

    tracemalloc.start()
    try:
        out = cc_summarize_pdf(pdf, th)
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    got = {m: r for r, ms in zip(out["cluster_label"], out["mentions_id"]) for m in ms}
    assert got == want
    assert len(out) == len(set(want.values())) < 19_000
    assert peak < 64 << 20, f"peak {peak / 2**20:.1f} MB"


def test_medoid_totals_tiled_bit_equal_full_formula():
    """``distance_totals`` (row blocks) gives the bits of the one-shot
    m×m×dim formula: at m = 1 200 and dim = 256 (1.4 GB one-shot) it stays
    under 32 MB of ``tracemalloc`` and equals the formula applied to each
    row on its own; at dim = 4 it equals the whole m×m×dim formula."""
    import tracemalloc

    from incremental_entity_extraction_spark.functions.cluster_math import (
        distance_totals,
    )

    def full_rows(e, i0, i1=None):
        """The one-shot formula's totals of rows i0..i1 (default: one)."""
        rows = e[i0 : i0 + 1 if i1 is None else i1]
        d2 = ((rows[:, None, :] - e[None, :, :]) ** 2).sum(-1)
        return np.sqrt(np.maximum(d2, 0)).sum(1)

    rng = np.random.default_rng(11)
    enc = (10 * rng.standard_normal((1_200, 256))).astype(np.float32)
    tracemalloc.start()
    try:
        tot = distance_totals(enc)
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert peak < 32 << 20, f"peak {peak / 2**20:.1f} MB"
    want = np.concatenate([full_rows(enc, i) for i in range(len(enc))])
    assert tot.dtype == want.dtype == np.float32
    assert np.array_equal(tot, want)
    assert medoid_index(enc) == int(np.argmin(want))

    small = (10 * rng.standard_normal((1_200, 4))).astype(np.float32)
    assert np.array_equal(distance_totals(small), full_rows(small, 0, len(small)))
