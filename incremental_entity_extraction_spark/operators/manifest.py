"""Manifest-pointer table commits — the object-store-safe maintenance path.

``maintenance.compact_lake_table`` swaps partition directories with two
POSIX renames, which is atomic on a local filesystem and REFUSED on object
stores (rename there is copy+delete; the crash window is proportional to
partition bytes).  This module is the protocol that works on both — the
parquet-dir analogue of Iceberg's ``rewrite_data_files`` + snapshot-commit
split:

* data files are IMMUTABLE and never renamed or overwritten: a compaction
  writes its output files ALONGSIDE the live ones under fresh unique names
  (on a real object store Spark PUTs them directly; the POSIX simulation
  stages and hard-links into place, invisible to MANIFEST-RESOLVED readers
  — which is why a table that has a committed manifest MUST be read through
  ``read_table``/``Lake.read``, both manifest-aware; a plain
  ``spark.read.parquet(dir)`` or a DuckDB directory glob on such a table
  double-reads every compacted-but-not-yet-vacuumed partition.  The
  entry-query DuckDB oracles are safe because the bench kg lake is a fresh
  ``mkdtemp`` dir no maintenance ever runs on);
* a table's readable state is a JSON **manifest** (`_manifests/
  manifest-<seq>.json`) mapping partition dir -> exact data-file names;
* the COMMIT is one small conditional metadata write: flipping the
  ``_current_manifest`` pointer to name the new manifest — either way
  readers see the old file set or the new one, never a mix, and the crash
  window is one metadata-sized operation.  Both metadata writes are
  CONDITIONAL through ``table_store``: the staged manifest is created
  put-if-absent (two maintainers that both read seq N collide LOUDLY on
  ``manifest-<N+1>.json`` instead of last-write-winning), and the pointer
  flip is a compare-and-swap against the etag this maintainer read at the
  start (a pointer moved by anyone else fails the commit).  On S3/GCS these
  are native preconditions; ``PosixStore`` enforces the same semantics with
  link-based creates and an flock'd CAS.  Either failure raises
  ``ConcurrentMaintenance`` — the loser's staged files are never
  reader-visible and age out through ``vacuum_unreferenced``;
* files orphaned by superseded manifests are garbage-collected later by
  ``vacuum_unreferenced`` (pure deletes — object-store-safe) behind a
  retention window measured from the SUPERSEDE commit (the manifest
  generation that dropped the file), so a reader that resolved the old
  manifest just before the flip keeps its files for the full window.

Readers resolve manifest-covered partitions through the file list (with
``basePath`` so the partition column still comes from the path) and fall
back to plain directory listing for partitions the manifest does not cover
yet — new batches written since the last maintenance pass remain visible
without a manifest refresh, mirroring how this lake's writers (dynamic
partition overwrite + lineage) commit outside the manifest.  A
lineage-driven re-run that rewrites a manifest-covered partition must be
followed by ``refresh_manifest`` (or just re-compaction); the standard
``older_than_seconds`` window keeps maintenance clear of live writers.

Every function takes an optional ``store`` (``table_store.PosixStore`` by
default) — the seam where an s3/gs client with native conditional PUTs
plugs in without touching protocol logic.

No reference analogue (the reference persists driver-side pickles,
scripts/eval_kbp.py:654-658); this is the at-scale lake surface round-5's
review asked to be execution rather than a design note, with round-6's
unconditional-write hole closed.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession

from incremental_entity_extraction_spark.operators.table_store import (
    PosixStore,
    StoreConflict,
)

_MANIFEST_PREFIX = "_manifests"
_POINTER = "_current_manifest"


class ConcurrentMaintenance(RuntimeError):
    """Another maintenance pass staged or committed against this table
    between this pass's read of the pointer and its commit (or a crashed
    pass left a staged manifest holding the next sequence number).  The
    table is untouched by the loser: its staged data files and manifest are
    never reader-visible and age out via ``vacuum_unreferenced``.  Re-run
    maintenance after the other pass finishes — or, for a crashed pass,
    after the retention window lets vacuum clear its staged manifest."""


def _store(root: str, store) -> PosixStore:
    return store if store is not None else PosixStore(root)


def _manifest_key(name: str) -> str:
    return f"{_MANIFEST_PREFIX}/{name}"


def _read_pointer(st) -> tuple[str | None, str | None]:
    """(manifest_name, pointer_etag) — the etag is the CAS token for the
    commit that will supersede this read."""
    got = st.get_meta(_POINTER)
    if got is None:
        return None, None
    data, etag = got
    return data.decode().strip(), etag


def _load_manifest(st, name: str | None) -> dict | None:
    if not name:
        return None
    got = st.get_meta(_manifest_key(name))
    if got is None:
        return None
    try:
        return json.loads(got[0])
    except ValueError:
        return None


def current_manifest(root: str, store=None) -> dict | None:
    """The manifest the pointer currently names, or None (no pointer /
    unreadable — callers fall back to directory listing)."""
    st = _store(root, store)
    name, _ = _read_pointer(st)
    return _load_manifest(st, name)


def _write_manifest(st, files_by_part: dict[str, list[str]], seq: int) -> str:
    """Stage manifest ``seq`` (NOT yet committed — the pointer still names
    the old one).  put-if-absent: a concurrent or crashed maintainer that
    already staged this sequence number raises ConcurrentMaintenance
    instead of being silently overwritten.  Returns the staged name."""
    name = f"manifest-{seq:08d}.json"
    payload = json.dumps(
        {"seq": seq, "created": time.time(), "files": files_by_part}
    ).encode()
    try:
        st.put_meta_if_absent(_manifest_key(name), payload)
    except StoreConflict as e:
        raise ConcurrentMaintenance(
            f"manifest seq {seq} is already staged or committed "
            f"({name}): another maintenance pass read the same base "
            "sequence — see ConcurrentMaintenance"
        ) from e
    return name


def _flip_pointer(st, manifest_name: str, expected_etag: str | None) -> None:
    """THE commit: one conditional metadata write.  CAS against the etag
    read at the start of this pass (put-if-absent when bootstrapping a
    pointer-less table) — a pointer moved by any other maintainer fails
    here, loudly, writing nothing."""
    data = manifest_name.encode()
    try:
        if expected_etag is None:
            st.put_meta_if_absent(_POINTER, data)
        else:
            st.put_meta_if_matches(_POINTER, data, expected_etag)
    except StoreConflict as e:
        raise ConcurrentMaintenance(
            "pointer moved since this maintenance pass began: commit "
            f"of {manifest_name} abandoned (staged files are invisible "
            "orphans; vacuum reclaims them)"
        ) from e


def _intact(st, part: str, files) -> bool:
    """A governed partition's committed file list still describes it: every
    file exists.  An empty list counts as rewritten — ``all()`` over it is
    vacuously true, which would pin a partition committed with no files to
    ``[]`` after a writer repopulates it."""
    return bool(files) and all(st.data_exists(part, f) for f in files)


def refresh_manifest(root: str, store=None) -> str:
    """Snapshot the CURRENT directory state into a committed manifest —
    bootstrap for a table that never had one, or resync after a
    lineage-driven partition rewrite.  Resolution mirrors ``read_table``
    partition by partition, so a refresh commits exactly the state a read
    would have seen:

    * a GOVERNED partition whose referenced files are all intact
      (``_intact``: a non-empty list) keeps the referenced list VERBATIM —
      any extra non-compact files beside a committed ``compact-*``
      generation are the superseded originals of a not-yet-vacuumed
      compaction (a writer rewrite would have removed the referenced
      files), and annexing them would double-read every such partition
      (round-7 advice);
    * otherwise (ungoverned, or governed-but-rewritten) the directory is
      the truth, EXCLUDING unreferenced ``compact-*`` files: per
      ``read_table``'s invariant those can only be staging orphans of a
      crashed pre-flip pass, and annexing them would double rows too."""
    st = _store(root, store)
    ptr_name, ptr_etag = _read_pointer(st)
    prev = _load_manifest(st, ptr_name)
    seq = int(prev["seq"]) + 1 if prev else 1
    prev_files = prev["files"] if prev else {}
    referenced = {
        (part, f)
        for part, names in prev_files.items()
        for f in (names if isinstance(names, (list, tuple)) else ())
    }
    files = {}
    for p in st.list_partitions():
        ref = prev_files.get(p)
        ref_list = list(ref) if isinstance(ref, (list, tuple)) else None
        if ref_list is not None and _intact(st, p, ref_list):
            files[p] = ref_list
        else:
            files[p] = [
                f
                for f in st.list_data_files(p)
                if not f.startswith("compact-") or (p, f) in referenced
            ]
    name = _write_manifest(st, files, seq)
    _flip_pointer(st, name, ptr_etag)
    return name


def read_table(spark: SparkSession, root: str, store=None) -> DataFrame:
    """Manifest-resolved read: manifest-covered partitions scan EXACTLY the
    committed file list (``basePath`` keeps the partition column coming
    from the path); partitions the manifest does not know about yet fall
    back to their directory listing.  Without a pointer this is a plain
    directory read."""
    st = _store(root, store)
    m = current_manifest(root, store=st)
    if m is None:
        return spark.read.parquet(root)
    paths: list[str] = []
    covered = m["files"]

    def _live_ungoverned(part: str) -> list[str]:
        # outside manifest governance, compact-* files can only be orphans
        # of a crashed pre-flip compaction attempt (a committed compaction
        # puts its partition IN the manifest; a writer overwrite empties
        # the dir) — reading them would double rows
        return [
            st.data_path(part, f)
            for f in st.list_data_files(part)
            if not f.startswith("compact-")
        ]

    for part, files in covered.items():
        if _intact(st, part, files):
            paths.extend(st.data_path(part, f) for f in files)
        else:
            # a writer rewrote this governed partition (lineage re-run,
            # dynamic partition overwrite -> fresh file names) without a
            # refresh_manifest: the manifest entry is stale, the directory
            # is the truth
            paths.extend(_live_ungoverned(part))
    for part in st.list_partitions():
        if part not in covered:
            paths.extend(_live_ungoverned(part))
    if not paths:
        return spark.read.parquet(root)
    return spark.read.option("basePath", root).parquet(*paths)


def _stage_compacted_files(
    spark: SparkSession, st, part: str, files: list[str], want: int,
    seq_tag: str,
) -> list[str]:
    """Write ``want`` compacted files for one partition ALONGSIDE the live
    ones under fresh unique names; returns the new file names.  Readers
    cannot see them until a manifest referencing them is committed.  The
    POSIX simulation stages through a hidden dir and ingests with
    put-if-absent semantics (``seq_tag`` carries a per-run token, so even a
    replayed crash attempt never collides with a live name — standing in
    for an object store's direct PUT; nothing live is touched either way)."""
    src = spark.read.option("basePath", st.root).parquet(
        *(st.data_path(part, f) for f in files)
    ).drop(*[p.split("=")[0] for p in part.split("/")])
    stage = st.scratch_dir(f"{seq_tag}_{part.replace('/', '_')}")
    shutil.rmtree(stage, ignore_errors=True)
    src.coalesce(want).write.mode("overwrite").parquet(stage)
    out: list[str] = []
    staged = sorted(f for f in os.listdir(stage) if f.endswith(".parquet"))
    for i, f in enumerate(staged):
        name = f"compact-{seq_tag}-{i:05d}.parquet"
        st.ingest_data(part, name, os.path.join(stage, f))
        out.append(name)
    shutil.rmtree(stage, ignore_errors=True)
    return out


def compact_table_manifest(
    spark: SparkSession,
    root: str,
    target_file_bytes: int = 128 << 20,
    older_than_seconds: float = 3600.0,
    store=None,
    _crash_before_flip: bool = False,
) -> dict:
    """Object-store-safe compaction: write compacted files alongside, stage
    a manifest referencing them, verify row counts, then commit with ONE
    conditional pointer write.  A crash anywhere before the flip leaves the
    table reading the old manifest (new files are invisible orphans); after
    the flip, the new one (old files are orphans for
    ``vacuum_unreferenced``).  A CONCURRENT maintenance pass loses exactly
    one of the two conditional writes and raises ``ConcurrentMaintenance``
    — never a silent last-write-win.

    ``older_than_seconds`` skips partitions written within the window (the
    in-flight writer guard shared with the directory-based maintenance).
    ``_crash_before_flip`` stops right before the commit — the test hook
    for the pre-flip crash window."""
    st = _store(root, store)
    stats = {
        "partitions_compacted": 0,
        "files_before": 0,
        "files_after": 0,
        "committed": False,
    }
    if not os.path.isdir(root):
        return stats
    if current_manifest(root, store=st) is None:
        refresh_manifest(root, store=st)
    ptr_name, ptr_etag = _read_pointer(st)
    m = _load_manifest(st, ptr_name)
    cutoff = time.time() - older_than_seconds
    next_seq = int(m["seq"]) + 1
    # the run token keeps a retry's data-file names disjoint from a crashed
    # attempt's (same seq) — data ingest never collides; the manifest
    # staging below is the loud concurrency collision point
    seq_tag = f"{next_seq:08d}-{uuid.uuid4().hex[:8]}"
    new_files: dict[str, list[str]] = {}
    changed = False
    for part in st.list_partitions():
        governed = part in m["files"]
        if governed and _intact(st, part, m["files"][part]):
            files = m["files"][part]
        else:
            if governed:
                # a writer rewrote this governed partition (lineage re-run,
                # fresh file names) without refresh_manifest: the manifest
                # entry is stale — drop coverage (commit a manifest without
                # it) and treat the directory as the truth again
                governed = False
                changed = True
            # live listing for uncovered territory EXCLUDES compact-*
            # files: there they can only be orphans of a crashed pre-flip
            # attempt, and including them would both double the staged
            # rows and corrupt the row-count verification
            files = [
                f for f in st.list_data_files(part)
                if not f.startswith("compact-")
            ]
        stats["files_before"] += len(files)
        total = sum(st.data_size(part, f) for f in files)
        want = max(1, math.ceil(total / target_file_bytes))
        newest = max(
            (st.data_mtime(part, f) for f in files), default=float("inf")
        )
        if len(files) <= want or newest > cutoff:
            stats["files_after"] += len(files)
            # carry forward ONLY partitions the old manifest already
            # governed: annexing a skipped (in-flight or writer-territory)
            # partition would hand vacuum a keep-set that goes stale on
            # the writer's next overwrite and delete the live copies
            if governed:
                new_files[part] = files
            continue
        compacted = _stage_compacted_files(spark, st, part, files, want, seq_tag)
        n_before = (
            spark.read.option("basePath", st.root)
            .parquet(*(st.data_path(part, f) for f in files))
            .count()
        )
        n_after = (
            spark.read.option("basePath", st.root)
            .parquet(*(st.data_path(part, f) for f in compacted))
            .count()
        )
        if n_after != n_before:
            for f in compacted:  # abandon: plain deletes, nothing was live
                st.delete_data(part, f)
            raise RuntimeError(
                f"manifest compaction row-count mismatch in {root}/{part}: "
                f"{n_before} before vs {n_after} after — aborted, old "
                "manifest still committed"
            )
        new_files[part] = compacted
        stats["partitions_compacted"] += 1
        stats["files_after"] += len(compacted)
        changed = True
    if not changed:
        return stats
    name = _write_manifest(st, new_files, next_seq)
    if _crash_before_flip:
        return stats  # pre-flip crash window: pointer still names the old set
    _flip_pointer(st, name, ptr_etag)
    stats["committed"] = True
    return stats


def _committed_history(st, cur_seq: int) -> list[tuple[int, float, dict]]:
    """Committed manifest generations (seq <= current), oldest first, as
    (seq, commit_mtime, files).  Staged-but-never-flipped manifests
    (seq > current) are NOT history — their files were never readable.
    Malformed entries (missing keys, null seq) and objects deleted by a
    concurrent maintenance pass between list and read are SKIPPED, not
    fatal — vacuum must never wedge on one bad manifest."""
    hist: list[tuple[int, float, dict]] = []
    for key in st.list_meta(_MANIFEST_PREFIX):
        if not key.endswith(".json"):
            continue
        got = st.get_meta(key)
        if got is None:
            continue
        try:
            m = json.loads(got[0])
            seq = int(m["seq"])
            files = m["files"]
            mtime = st.meta_mtime(key)
        except (OSError, ValueError, KeyError, TypeError):
            continue
        if not isinstance(files, dict):
            continue
        if seq <= cur_seq:
            hist.append((seq, mtime, files))
    hist.sort()
    return hist


def _supersede_times(
    history: list[tuple[int, float, dict]],
) -> dict[tuple[str, str], float]:
    """ONE pass over committed history -> {(part, file): supersede_mtime}.
    A file's supersede moment is the commit mtime of the generation AFTER
    the newest one referencing it; files still referenced by the newest
    generation in view map to +inf (never ripe — covers a concurrently
    truncated history where the true current manifest is missing).  Built
    once per vacuum call: a per-orphan rescan of the history would be
    O(orphans x generations x files)."""
    out: dict[tuple[str, str], float] = {}
    for i, (_, _, files) in enumerate(history):
        succ = history[i + 1][1] if i + 1 < len(history) else float("inf")
        for part, names in files.items():
            for f in names if isinstance(names, (list, tuple)) else ():
                out[(part, f)] = succ
    return out


def vacuum_unreferenced(
    root: str, older_than_seconds: float = 3600.0, store=None
) -> list[str]:
    """Garbage-collect data files the CURRENT manifest does not reference —
    the leftovers of superseded manifests and pre-flip crashes.  Pure
    deletes (object-store-safe, idempotent).  The retention window is
    measured from the moment a file became UNREFERENCED (the commit mtime
    of the first manifest generation that dropped it), NOT the file's own
    write mtime: compaction only touches partitions whose files already
    predate the in-flight window, so an mtime-keyed window would expire the
    instant the pointer flips and a reader mid-scan on the old manifest
    would lose its files.  Files no committed generation ever referenced
    (pre-flip crash stagings) fall back to their own mtime — they were
    never reader-visible, so the mtime window only has to outlast the
    staging->flip gap.  That same rule sweeps ``compact-*`` orphans out of
    partitions the current manifest does NOT govern (a pre-flip crash in
    never-governed territory): per ``read_table``'s invariant those can
    only be staging orphans, and before round 7 they leaked until some
    later compaction happened to govern the partition.  Superseded manifest
    files age the same way (from their successor's commit).  Returns the
    table-relative paths deleted."""
    st = _store(root, store)
    ptr_name, _ = _read_pointer(st)
    m = _load_manifest(st, ptr_name)
    if m is None:
        return []  # no committed state to judge references against
    cutoff = time.time() - older_than_seconds
    cur_seq = int(m["seq"])
    history = _committed_history(st, cur_seq)
    superseded_at = _supersede_times(history)
    removed: list[str] = []
    for part in st.list_partitions():
        governed = part in m["files"]
        keep = set(m["files"][part]) if governed else set()
        if governed and not _intact(st, part, keep):
            # a writer rewrote this governed partition since the manifest
            # committed (fresh file names): the keep-set is stale, and
            # deleting by it would remove the only live copies — skip; the
            # next compaction pass drops the stale coverage
            continue
        for f in st.list_data_files(part):
            if f in keep:
                continue
            if not governed and not f.startswith("compact-"):
                continue  # writer territory — only compact-* names can be
                # orphans there (writers never produce them)
            # one aging rule for every orphan: a once-referenced file ripes
            # from its supersede commit; a never-committed staging orphan
            # (absent from all committed history) from its own mtime — it
            # was never reader-visible, so the window only has to outlast
            # the staging->flip gap
            ripe_at = superseded_at.get((part, f))
            if ripe_at is None:
                ripe_at = st.data_mtime(part, f)
            if ripe_at <= cutoff:
                st.delete_data(part, f)
                removed.append(os.path.join(part, f))
    commit_mtimes = {seq: mt for seq, mt, _ in history}
    cur_key = _manifest_key(ptr_name) if ptr_name else None
    for key in st.list_meta(_MANIFEST_PREFIX):
        if key == cur_key or not key.endswith(".json"):
            continue
        got = st.get_meta(key)
        if got is None:
            continue
        try:
            seq = int(json.loads(got[0])["seq"])
        except (ValueError, KeyError, TypeError):
            seq = None
        # a superseded generation ages from its successor's commit; a
        # staged-never-committed one (seq > current, or unparseable)
        # from its own mtime
        successors = (
            [mt for s, mt in commit_mtimes.items() if s > seq]
            if seq is not None and seq < cur_seq
            else []
        )
        try:
            aged_from = min(successors) if successors else st.meta_mtime(key)
        except OSError:
            continue
        if aged_from <= cutoff:
            st.delete_meta(key)
            removed.append(key)
    return removed
