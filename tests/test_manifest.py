"""Manifest-pointer table commits (operators/manifest.py): compacted files
land alongside live ones invisibly, ONE conditional pointer write is the
commit, readers resolve through the manifest, and vacuum only touches
unreferenced files.  Covers both crash windows (pre-flip, post-flip) AND
both concurrency collisions (staged-manifest put-if-absent, pointer CAS),
each over BOTH store implementations — the POSIX table and the in-memory
fake object store (table_store.py)."""

import os
import threading

import pytest
from pyspark.sql import functions as F

from incremental_entity_extraction_spark.operators import manifest as mf
from incremental_entity_extraction_spark.operators.table_store import (
    FakeObjectStore,
    PosixStore,
    StoreConflict,
)


def _write_world(spark, root):
    """Two batch partitions, several small files each."""
    for b in (0, 1):
        df = spark.range(100 * b, 100 * b + 100).select(
            F.col("id"),
            (F.col("id") * 2).alias("v"),
            F.lit(b).alias("batch_id"),
        )
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        df.repartition(4).write.mode("overwrite").partitionBy(
            "batch_id"
        ).parquet(root)


def _rows(spark, root, store=None):
    return {
        (r["id"], r["v"], r["batch_id"])
        for r in mf.read_table(spark, root, store=store).collect()
    }


@pytest.fixture()
def world(spark, tmp_path):
    root = str(tmp_path / "tbl")
    _write_world(spark, root)
    return root


@pytest.fixture(params=["posix", "fake"])
def make_store(request):
    return PosixStore if request.param == "posix" else FakeObjectStore


def test_refresh_and_manifest_read_equals_dir_read(spark, world, make_store):
    st = make_store(world)
    plain = {
        (r["id"], r["v"], r["batch_id"])
        for r in spark.read.parquet(world).collect()
    }
    assert mf.current_manifest(world, store=st) is None
    mf.refresh_manifest(world, store=st)
    m = mf.current_manifest(world, store=st)
    assert m is not None and set(m["files"]) == {"batch_id=0", "batch_id=1"}
    assert _rows(spark, world, st) == plain


def test_empty_governed_partition_is_not_pinned(spark, world, make_store):
    """A partition committed with no files counts as ungoverned: once a
    writer repopulates it, reads see its rows and a refresh lists its
    files instead of keeping the vacuous empty list."""
    st = make_store(world)
    pdir = os.path.join(world, "batch_id=1")
    for f in os.listdir(pdir):
        os.remove(os.path.join(pdir, f))
    mf.refresh_manifest(world, store=st)
    assert mf.current_manifest(world, store=st)["files"]["batch_id=1"] == []
    _write_batch(spark, world, 1, 500, 580, 2)
    expect = {(i, 2 * i, 0) for i in range(100)} | {
        (i, 2 * i, 1) for i in range(500, 580)
    }
    assert _rows(spark, world, st) == expect
    mf.refresh_manifest(world, store=st)
    got = mf.current_manifest(world, store=st)["files"]["batch_id=1"]
    assert got == sorted(f for f in os.listdir(pdir) if f.endswith(".parquet"))
    assert got
    assert _rows(spark, world, st) == expect


def test_compact_commit_and_both_crash_windows(spark, world, make_store):
    st = make_store(world)
    before = _rows(spark, world, st)
    mf.refresh_manifest(world, store=st)
    m1 = mf.current_manifest(world, store=st)
    n_files_before = sum(len(v) for v in m1["files"].values())
    assert n_files_before >= 8  # 4 files per partition

    # pre-flip crash: compacted files are staged alongside, manifest object
    # staged, pointer NOT flipped -> readers still see the old file set
    st1 = mf.compact_table_manifest(
        spark, world, target_file_bytes=1 << 30, older_than_seconds=0.0,
        store=st, _crash_before_flip=True,
    )
    assert st1["partitions_compacted"] == 2 and not st1["committed"]
    assert mf.current_manifest(world, store=st)["seq"] == m1["seq"]
    assert _rows(spark, world, st) == before
    # the new files really are on disk alongside (invisible orphans)
    orphans = [
        f
        for f in os.listdir(os.path.join(world, "batch_id=0"))
        if f.startswith("compact-")
    ]
    assert orphans

    # a blind retry collides with the crashed attempt's staged manifest
    # (same next seq) — put-if-absent makes this LOUD, never a silent
    # overwrite; recovery = vacuum the staged orphan first
    with pytest.raises(mf.ConcurrentMaintenance):
        mf.compact_table_manifest(
            spark, world, target_file_bytes=1 << 30, older_than_seconds=0.0,
            store=st,
        )
    assert mf.current_manifest(world, store=st)["seq"] == m1["seq"]
    assert _rows(spark, world, st) == before
    # the staged-never-committed manifest ages from its own mtime: with a
    # zero window vacuum clears it (and the crashed attempt's data files)
    removed = mf.vacuum_unreferenced(world, older_than_seconds=0.0, store=st)
    assert any(r.startswith("_manifests/") for r in removed)
    assert any(r.endswith(".parquet") for r in removed)

    # retry to completion: ONE pointer flip commits the compacted set
    st2 = mf.compact_table_manifest(
        spark, world, target_file_bytes=1 << 30, older_than_seconds=0.0,
        store=st,
    )
    assert st2["committed"] and st2["partitions_compacted"] == 2
    m2 = mf.current_manifest(world, store=st)
    assert m2["seq"] > m1["seq"]
    assert sum(len(v) for v in m2["files"].values()) == 2  # 1 file/partition
    assert _rows(spark, world, st) == before

    # post-flip crash window == committed state with orphaned OLD files:
    # reads already resolve through the new manifest; vacuum reclaims the
    # unreferenced files and the superseded manifest, reads unchanged
    removed = mf.vacuum_unreferenced(world, older_than_seconds=0.0, store=st)
    assert removed  # old small files + superseded manifest(s)
    assert _rows(spark, world, st) == before
    for part in ("batch_id=0", "batch_id=1"):
        live = mf.current_manifest(world, store=st)["files"][part]
        on_disk = [
            f
            for f in os.listdir(os.path.join(world, part))
            if f.endswith(".parquet")
        ]
        assert sorted(on_disk) == sorted(live)

    # idempotent: nothing left to compact or vacuum
    st3 = mf.compact_table_manifest(
        spark, world, target_file_bytes=1 << 30, older_than_seconds=0.0,
        store=st,
    )
    assert st3["partitions_compacted"] == 0
    assert mf.vacuum_unreferenced(world, older_than_seconds=0.0, store=st) == []


def test_concurrent_compactions_exactly_one_commits(spark, world, make_store):
    """The round-6 verdict hole: two maintenance passes that both read seq N
    must NOT last-write-win.  The loser hits the staged-manifest
    put-if-absent and raises ConcurrentMaintenance; the table stays
    consistent and the loser's staged files are vacuum-able orphans."""
    st = make_store(world)
    before = _rows(spark, world, st)
    mf.refresh_manifest(world, store=st)
    base_seq = mf.current_manifest(world, store=st)["seq"]

    # maintainer A: full pass, stalls right before its flip (still holds
    # the staged manifest-<N+1>)
    a = mf.compact_table_manifest(
        spark, world, target_file_bytes=1 << 30, older_than_seconds=0.0,
        store=st, _crash_before_flip=True,
    )
    assert a["partitions_compacted"] == 2
    # maintainer B: starts from the SAME base seq -> loses the
    # put-if-absent on manifest-<N+1>, loudly
    with pytest.raises(mf.ConcurrentMaintenance):
        mf.compact_table_manifest(
            spark, world, target_file_bytes=1 << 30, older_than_seconds=0.0,
            store=st,
        )
    # nothing committed, reads unchanged, both losers' files invisible
    assert mf.current_manifest(world, store=st)["seq"] == base_seq
    assert _rows(spark, world, st) == before
    # A resumes and flips (its staged manifest references ITS files) —
    # the table converges to one winner
    name = f"manifest-{base_seq + 1:08d}.json"
    _, ptr_etag = mf._read_pointer(st)
    mf._flip_pointer(st, name, ptr_etag)
    assert mf.current_manifest(world, store=st)["seq"] == base_seq + 1
    assert _rows(spark, world, st) == before
    mf.vacuum_unreferenced(world, older_than_seconds=0.0, store=st)
    assert _rows(spark, world, st) == before


def test_pointer_cas_rejects_stale_commit(spark, world, make_store):
    """A maintainer whose pointer read went stale (someone else committed in
    between) must fail its flip instead of clobbering the newer commit."""
    st = make_store(world)
    mf.refresh_manifest(world, store=st)
    stale_name, stale_etag = mf._read_pointer(st)
    # someone else commits (refresh bumps the seq and moves the pointer)
    mf.refresh_manifest(world, store=st)
    cur = mf.current_manifest(world, store=st)
    with pytest.raises(mf.ConcurrentMaintenance):
        mf._flip_pointer(st, stale_name, stale_etag)
    assert mf.current_manifest(world, store=st)["seq"] == cur["seq"]


def test_fake_store_cas_race_injection(spark, world):
    """The fake's before_cas hook lands a racing commit INSIDE the CAS
    window — after this pass read the pointer, before its conditional
    write.  The conditional write must lose; the racer's commit survives."""
    st = FakeObjectStore(world)
    before = _rows(spark, world, st)
    mf.refresh_manifest(world, store=st)

    def racer(key):
        # a refresh would collide at manifest STAGING (this pass already
        # staged the next seq) — to hit the CAS itself, the racer commits
        # a distinct generation referencing the original live files
        st.before_cas = None
        files = {
            p: [
                f for f in st.list_data_files(p)
                if not f.startswith("compact-")
            ]
            for p in st.list_partitions()
        }
        name = mf._write_manifest(st, files, 3)
        _, e = mf._read_pointer(st)
        mf._flip_pointer(st, name, e)

    st.before_cas = racer
    with pytest.raises(mf.ConcurrentMaintenance):
        mf.compact_table_manifest(
            spark, world, target_file_bytes=1 << 30, older_than_seconds=0.0,
            store=st,
        )
    # the racer's commit is the current state; reads are consistent
    assert mf.current_manifest(world, store=st) is not None
    assert _rows(spark, world, st) == before
    mf.vacuum_unreferenced(world, older_than_seconds=0.0, store=st)
    assert _rows(spark, world, st) == before


def test_threaded_compactions_never_double_commit(spark, world, make_store):
    """Two genuinely concurrent full passes: legal outcomes are serial
    success or one loud ConcurrentMaintenance loss — never two commits of
    the same base seq, never an inconsistent read."""
    st = make_store(world)
    before = _rows(spark, world, st)
    mf.refresh_manifest(world, store=st)
    base_seq = mf.current_manifest(world, store=st)["seq"]
    results: list = [None, None]

    def run(i):
        try:
            results[i] = mf.compact_table_manifest(
                spark, world, target_file_bytes=1 << 30,
                older_than_seconds=0.0, store=st,
            )
        except mf.ConcurrentMaintenance as e:
            results[i] = e

    ts = [threading.Thread(target=run, args=(i,)) for i in range(2)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    commits = [r for r in results if isinstance(r, dict) and r["committed"]]
    losses = [r for r in results if isinstance(r, mf.ConcurrentMaintenance)]
    skips = [
        r for r in results
        if isinstance(r, dict) and not r["committed"]
        and r["partitions_compacted"] == 0
    ]  # a strictly-serial second pass finds 1 file/partition: no-op
    assert len(commits) + len(losses) + len(skips) == 2 and len(commits) >= 1
    # every committed generation is distinct (no last-write-win)
    assert mf.current_manifest(world, store=st)["seq"] > base_seq
    assert _rows(spark, world, st) == before
    mf.vacuum_unreferenced(world, older_than_seconds=0.0, store=st)
    assert _rows(spark, world, st) == before


@pytest.mark.parametrize("kind", ["posix", "fake"])
def test_store_conditional_ops(tmp_path, kind):
    """The store contract itself: put-if-absent collides on an existing
    key, CAS succeeds only against the live etag, deletes are idempotent."""
    st = (PosixStore if kind == "posix" else FakeObjectStore)(str(tmp_path))
    tag1 = st.put_meta_if_absent("_current_manifest", b"gen-1")
    with pytest.raises(StoreConflict):
        st.put_meta_if_absent("_current_manifest", b"gen-1b")
    data, etag = st.get_meta("_current_manifest")
    assert data == b"gen-1" and etag == tag1
    with pytest.raises(StoreConflict):
        st.put_meta_if_matches("_current_manifest", b"gen-2", "bogus-etag")
    tag2 = st.put_meta_if_matches("_current_manifest", b"gen-2", tag1)
    assert st.get_meta("_current_manifest") == (b"gen-2", tag2)
    with pytest.raises(StoreConflict):  # CAS on a missing key
        st.put_meta_if_matches("_manifests/nope.json", b"x", tag2)
    st.put_meta_if_absent("_manifests/manifest-1.json", b"{}")
    assert st.list_meta("_manifests") == ["_manifests/manifest-1.json"]
    assert st.meta_mtime("_manifests/manifest-1.json") > 0
    st.delete_meta("_manifests/manifest-1.json")
    st.delete_meta("_manifests/manifest-1.json")  # idempotent
    assert st.list_meta("_manifests") == []


def test_uncovered_partitions_stay_visible_and_writer_safe(spark, world):
    mf.refresh_manifest(world)
    mf.compact_table_manifest(
        spark, world, target_file_bytes=1 << 30, older_than_seconds=0.0
    )
    mf.vacuum_unreferenced(world, older_than_seconds=0.0)
    # a NEW batch written after the manifest commit (the pipeline's normal
    # dynamic-overwrite write) must be visible without a manifest refresh
    df = spark.range(200, 260).select(
        F.col("id"), (F.col("id") * 2).alias("v"), F.lit(2).alias("batch_id")
    )
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    df.repartition(3).write.mode("overwrite").partitionBy("batch_id").parquet(
        world
    )
    got = _rows(spark, world)
    assert {r for r in got if r[2] == 2} == {
        (i, 2 * i, 2) for i in range(200, 260)
    }
    # and vacuum must NOT touch the uncovered partition (writer territory)
    assert mf.vacuum_unreferenced(world, older_than_seconds=0.0) == []
    assert len(
        [
            f
            for f in os.listdir(os.path.join(world, "batch_id=2"))
            if f.endswith(".parquet")
        ]
    ) == 3


def _write_batch(spark, root, batch_id, lo, hi, n_files):
    df = spark.range(lo, hi).select(
        F.col("id"),
        (F.col("id") * 2).alias("v"),
        F.lit(batch_id).alias("batch_id"),
    )
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    df.repartition(n_files).write.mode("overwrite").partitionBy(
        "batch_id"
    ).parquet(root)


def _age(root, part, seconds=7200):
    import time

    past = time.time() - seconds
    pdir = os.path.join(root, part)
    for f in os.listdir(pdir):
        os.utime(os.path.join(pdir, f), (past, past))


def test_recent_partition_not_annexed(spark, world):
    """A partition skipped by the in-flight window (or absent from the old
    manifest) must NOT be claimed by the new manifest: the writer will
    overwrite it with fresh file names, and an annexed keep-set would turn
    the next vacuum into data loss."""
    mf.refresh_manifest(world)
    _age(world, "batch_id=0")
    _age(world, "batch_id=1")
    _write_batch(spark, world, 2, 200, 260, 3)  # in-flight, inside window
    st = mf.compact_table_manifest(
        spark, world, target_file_bytes=1 << 30, older_than_seconds=1800
    )
    assert st["committed"] and st["partitions_compacted"] == 2
    assert "batch_id=2" not in mf.current_manifest(world)["files"]
    # the writer re-runs batch 2 (resume) -> fresh file names
    _write_batch(spark, world, 2, 300, 360, 2)
    removed = mf.vacuum_unreferenced(world, older_than_seconds=0.0)
    assert not any("batch_id=2" in r for r in removed)  # writer territory
    got = _rows(spark, world)
    assert {r for r in got if r[2] == 2} == {(i, 2 * i, 2) for i in range(300, 360)}


def test_governed_rewrite_self_heals(spark, world):
    """A lineage re-run that rewrites a manifest-GOVERNED partition without
    refresh_manifest leaves a stale manifest entry.  Reads must fall back
    to the directory, vacuum must not delete the live rewrite, and the
    next compaction drops/re-governs the coverage."""
    mf.refresh_manifest(world)
    mf.compact_table_manifest(
        spark, world, target_file_bytes=1 << 30, older_than_seconds=0.0
    )
    mf.vacuum_unreferenced(world, older_than_seconds=0.0)
    _write_batch(spark, world, 1, 500, 580, 2)  # rewrite governed batch 1
    expect = {(i, 2 * i, 0) for i in range(0, 100)} | {
        (i, 2 * i, 1) for i in range(500, 580)
    }
    assert _rows(spark, world) == expect  # stale entry -> dir fallback
    removed = mf.vacuum_unreferenced(world, older_than_seconds=0.0)
    assert not any("batch_id=1" in r for r in removed)  # live files kept
    st = mf.compact_table_manifest(
        spark, world, target_file_bytes=1 << 30, older_than_seconds=0.0
    )
    assert st["committed"]
    assert _rows(spark, world) == expect
    m = mf.current_manifest(world)
    for f in m["files"].get("batch_id=1", []):
        assert os.path.exists(os.path.join(world, "batch_id=1", f))


def test_preflip_crash_retry_on_uncovered_partition(spark, world):
    """Pre-flip crash while compacting a partition the old manifest did not
    cover leaves compact-* orphans in writer territory.  Reads must not
    double-count them, and the retry (after vacuum clears the staged
    manifest) must treat only the original files as the source (orphans
    excluded) and converge."""
    mf.refresh_manifest(world)  # covers batches 0,1 only
    _write_batch(spark, world, 2, 200, 260, 3)
    _age(world, "batch_id=0")
    _age(world, "batch_id=1")
    _age(world, "batch_id=2")
    before = _rows(spark, world)
    st = mf.compact_table_manifest(
        spark, world, target_file_bytes=1 << 30, older_than_seconds=1800,
        _crash_before_flip=True,
    )
    assert st["partitions_compacted"] == 3 and not st["committed"]
    p2 = os.path.join(world, "batch_id=2")
    assert [f for f in os.listdir(p2) if f.startswith("compact-")]
    assert _rows(spark, world) == before  # orphans invisible
    # clear the crashed attempt's staged manifest (seq conflict otherwise)
    mf.vacuum_unreferenced(world, older_than_seconds=0.0)
    st2 = mf.compact_table_manifest(
        spark, world, target_file_bytes=1 << 30, older_than_seconds=1800
    )
    assert st2["committed"] and st2["partitions_compacted"] == 3
    assert _rows(spark, world) == before
    mf.vacuum_unreferenced(world, older_than_seconds=0.0)
    assert _rows(spark, world) == before
    live2 = mf.current_manifest(world)["files"]["batch_id=2"]
    assert sorted(
        f for f in os.listdir(p2) if f.endswith(".parquet")
    ) == sorted(live2)


def test_vacuum_sweeps_ungoverned_compact_orphans(spark, world):
    """The round-6 advice leak: a pre-flip crash in a NEVER-governed
    partition leaves compact-* orphans that no later pass collected unless
    compaction happened to govern that partition.  Vacuum must reclaim
    ripe ones (they can only be staging orphans, per read_table's
    invariant) while leaving the writer's own files and FRESH orphans (a
    possibly in-flight staging) alone."""
    import time

    mf.refresh_manifest(world)  # governs batches 0,1
    _write_batch(spark, world, 2, 200, 260, 2)  # never governed
    p2 = os.path.join(world, "batch_id=2")
    old = time.time() - 7200
    ripe = os.path.join(p2, "compact-00000009-deadbeef-00000.parquet")
    fresh = os.path.join(p2, "compact-00000009-deadbeef-00001.parquet")
    for fake in (ripe, fresh):
        with open(fake, "wb") as f:
            f.write(b"orphan")
    os.utime(ripe, (old, old))
    before = _rows(spark, world)
    removed = mf.vacuum_unreferenced(world, older_than_seconds=3600.0)
    assert removed == [os.path.join("batch_id=2", os.path.basename(ripe))]
    assert not os.path.exists(ripe) and os.path.exists(fresh)
    # writer files untouched, reads unchanged
    assert len(
        [
            f
            for f in os.listdir(p2)
            if f.endswith(".parquet") and not f.startswith("compact-")
        ]
    ) == 2
    assert _rows(spark, world) == before


def test_lake_read_resolves_manifest(spark, world):
    """The pipeline's read surface (Lake.read) must resolve through the
    committed manifest: between a compaction commit and its vacuum, the
    partition dirs legitimately hold BOTH file generations, and a plain
    directory read doubles every row."""
    from incremental_entity_extraction_spark.pipeline import Lake

    lake = Lake(os.path.dirname(world))
    table = os.path.basename(world)
    before = {
        (r["id"], r["v"], r["batch_id"])
        for r in lake.read(spark, table).collect()
    }
    mf.refresh_manifest(world)
    mf.compact_table_manifest(
        spark, world, target_file_bytes=1 << 30, older_than_seconds=0.0
    )
    # sanity: the hazard is real — a plain dir read now double-counts
    assert spark.read.parquet(world).count() == 2 * len(before)
    got = {
        (r["id"], r["v"], r["batch_id"])
        for r in lake.read(spark, table).collect()
    }
    assert got == before


def test_row_count_mismatch_aborts_without_commit(spark, world, monkeypatch):
    mf.refresh_manifest(world)
    m1 = mf.current_manifest(world)
    orig = mf._stage_compacted_files

    def bad_stage(spark_, st_, part, files, want, seq_tag):
        # corrupt: silently compact only a subset of the input files, so
        # the staged output holds fewer rows than the referenced set
        return orig(spark_, st_, part, files[:-1], want, seq_tag)

    monkeypatch.setattr(mf, "_stage_compacted_files", bad_stage)
    before = _rows(spark, world)
    with pytest.raises(RuntimeError, match="row-count mismatch"):
        mf.compact_table_manifest(
            spark, world, target_file_bytes=1 << 30, older_than_seconds=0.0
        )
    assert mf.current_manifest(world)["seq"] == m1["seq"]
    assert _rows(spark, world) == before


def test_vacuum_retention_runs_from_supersede_commit_not_file_mtime(
    spark, world
):
    """The round-6 review finding: compaction only touches partitions whose
    files already predate the in-flight window, so keying vacuum retention
    to file mtime expires the old files the instant the pointer flips — a
    reader that resolved the old manifest just before the flip would lose
    them mid-scan.  Retention must run from the SUPERSEDE commit."""
    import time

    mf.refresh_manifest(world)
    # age the data files past a 1h window so compaction will take them
    old = time.time() - 7200
    for part in ("batch_id=0", "batch_id=1"):
        pdir = os.path.join(world, part)
        for f in os.listdir(pdir):
            if f.endswith(".parquet"):
                os.utime(os.path.join(pdir, f), (old, old))
    st = mf.compact_table_manifest(
        spark, world, target_file_bytes=1 << 30, older_than_seconds=3600.0
    )
    assert st["committed"] and st["partitions_compacted"] == 2
    before = _rows(spark, world)

    # superseded SECONDS ago (though written hours ago): the 1h window
    # must keep both the old data files and the superseded manifest
    assert mf.vacuum_unreferenced(world, older_than_seconds=3600.0) == []
    assert _rows(spark, world) == before

    # backdate the supersede commit (the current manifest generation):
    # the same window now reclaims the old files AND the old manifest
    mdir = os.path.join(world, "_manifests")
    with open(os.path.join(world, "_current_manifest")) as fh:
        cur = fh.read().strip()
    os.utime(os.path.join(mdir, cur), (old, old))
    removed = mf.vacuum_unreferenced(world, older_than_seconds=3600.0)
    assert any(f.endswith(".parquet") for f in removed)
    assert any(f.startswith("_manifests/") for f in removed)
    assert _rows(spark, world) == before
    # idempotent
    assert mf.vacuum_unreferenced(world, older_than_seconds=3600.0) == []


def test_supersede_times_property_matches_linear_scan():
    """_supersede_times (one-pass map) must agree with the obvious
    per-file linear scan of committed history on arbitrary histories:
    a file referenced by the newest generation in view maps to +inf,
    a dropped file maps to the commit mtime of the generation AFTER its
    newest reference, and unreferenced files are absent."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    files_st = st.dictionaries(
        st.sampled_from(["batch_id=0", "batch_id=1"]),
        st.lists(
            st.sampled_from([f"f{i}.parquet" for i in range(6)]),
            max_size=4,
            unique=True,
        ),
        max_size=2,
    )
    hist_st = st.lists(files_st, min_size=1, max_size=5).map(
        lambda gens: [
            (seq + 1, 1000.0 + 10.0 * seq, files)
            for seq, files in enumerate(gens)
        ]
    )

    @given(hist_st)
    @settings(max_examples=200, deadline=None)
    def check(history):
        got = mf._supersede_times(history)
        all_refs = {
            (part, f)
            for _, _, files in history
            for part, names in files.items()
            for f in names
        }
        assert set(got) == all_refs
        for part, f in all_refs:
            last = max(
                i
                for i, (_, _, files) in enumerate(history)
                if f in files.get(part, ())
            )
            expect = (
                history[last + 1][1]
                if last + 1 < len(history)
                else float("inf")
            )
            assert got[(part, f)] == expect

    check()


def test_refresh_excludes_unreferenced_compact_orphans(spark, world):
    """refresh_manifest (bootstrap/resync) must not annex compact-* staging
    orphans left by a crashed pre-flip pass: annexing would double every
    row of the partition in the committed state.  Committed compact files
    (referenced by the current manifest) must survive the resync."""
    mf.refresh_manifest(world)
    # commit a real compaction so batch 0/1's live files ARE compact-*
    mf.compact_table_manifest(
        spark, world, target_file_bytes=1 << 30, older_than_seconds=0.0
    )
    mf.vacuum_unreferenced(world, older_than_seconds=0.0)
    before = _rows(spark, world)
    # a crashed pre-flip attempt leaves a staged orphan alongside
    p0 = os.path.join(world, "batch_id=0")
    orphan = os.path.join(p0, "compact-00000099-feedface-00000.parquet")
    live = [f for f in os.listdir(p0) if f.endswith(".parquet")]
    import shutil as _sh

    _sh.copyfile(os.path.join(p0, live[0]), orphan)
    # resync: the new manifest must keep the committed compact files and
    # exclude the orphan — reads unchanged, no double rows
    mf.refresh_manifest(world)
    m = mf.current_manifest(world)
    assert os.path.basename(orphan) not in m["files"]["batch_id=0"]
    assert set(live) <= set(m["files"]["batch_id=0"])
    assert _rows(spark, world) == before


def test_refresh_between_compaction_and_vacuum_no_double_read(
    spark, world, make_store
):
    """Round-7 advice: refresh_manifest called in the window BETWEEN a
    committed compaction and its vacuum — the partition dir legitimately
    holds BOTH the superseded originals and the committed compact-* files —
    must snapshot the referenced set only.  Annexing the superseded
    originals alongside would commit a manifest that double-reads every
    such partition, and nothing self-heals that state (all files exist, so
    read_table trusts the manifest)."""
    st = make_store(world)
    before = _rows(spark, world, st)
    mf.refresh_manifest(world, store=st)
    mf.compact_table_manifest(
        spark, world, target_file_bytes=1 << 30, older_than_seconds=0.0,
        store=st,
    )
    committed = mf.current_manifest(world, store=st)["files"]
    # NO vacuum yet: superseded originals still on disk beside compact-*
    mf.refresh_manifest(world, store=st)
    m = mf.current_manifest(world, store=st)
    assert m["files"] == committed, "refresh must keep the referenced set"
    assert _rows(spark, world, st) == before, "rows must not double"
    # vacuum still reclaims the superseded originals afterwards
    assert mf.vacuum_unreferenced(
        world, older_than_seconds=0.0, store=st
    ) != []
    assert _rows(spark, world, st) == before


@pytest.mark.parametrize("kind", ["posix", "fake"])
def test_ingest_data_put_if_absent(tmp_path, kind):
    """The data plane is conditional too: ingesting a staged file under a
    name that already exists (a replayed crash attempt) must raise, never
    overwrite the live object; the staged source survives the refusal."""
    st = (PosixStore if kind == "posix" else FakeObjectStore)(str(tmp_path))
    pdir = tmp_path / "batch_id=0"
    pdir.mkdir()
    src1 = tmp_path / ".stage1.parquet"
    src2 = tmp_path / ".stage2.parquet"
    src1.write_bytes(b"first")
    src2.write_bytes(b"second")
    st.ingest_data("batch_id=0", "compact-x-00000.parquet", str(src1))
    assert not src1.exists()  # moved in
    with pytest.raises(StoreConflict):
        st.ingest_data("batch_id=0", "compact-x-00000.parquet", str(src2))
    # live object untouched, loser's staging intact for cleanup
    assert (pdir / "compact-x-00000.parquet").read_bytes() == b"first"
    assert src2.read_bytes() == b"second"


@pytest.mark.parametrize("kind", ["posix", "fake"])
def test_cas_serializes_under_thread_contention(tmp_path, kind):
    """N threads CAS-loop the same key: every successful write must have
    read the value it replaced (no lost update), and the final value must
    equal the number of successes — the linearizability property the
    pointer flip relies on."""
    st = (PosixStore if kind == "posix" else FakeObjectStore)(str(tmp_path))
    st.put_meta_if_absent("_current_manifest", b"0")
    n_threads, per_thread = 8, 10
    wins = []

    def run(tid):
        for _ in range(per_thread):
            while True:
                data, etag = st.get_meta("_current_manifest")
                try:
                    st.put_meta_if_matches(
                        "_current_manifest",
                        str(int(data) + 1).encode(),
                        etag,
                    )
                    wins.append(tid)
                    break
                except StoreConflict:
                    continue  # lost the race — re-read and retry

    ts = [threading.Thread(target=run, args=(i,)) for i in range(n_threads)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    data, _ = st.get_meta("_current_manifest")
    assert int(data) == n_threads * per_thread == len(wins)
