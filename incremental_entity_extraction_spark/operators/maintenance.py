"""Lake maintenance: small-file compaction for incrementally-written tables.

The incremental pipeline writes one file-set per (table, batch_id) partition
per batch (pipeline.Lake.put_partition), and the
streaming driver does the same per micro-batch — at 10^12-turn scale that
accretes thousands of small parquet files per partition, and small files
are the classic lake killer (every scan pays per-file open/footer costs;
the driver pays listing).  Real deployments run this as the Iceberg
``rewrite_data_files`` / ``OPTIMIZE`` maintenance action; the parquet-dir
lake gets the same semantics here:

* per partition directory, if the file count exceeds what
  ``target_file_bytes`` requires, the partition is rewritten with
  ``coalesce`` (no shuffle — compaction is a narrow rewrite) to
  ``ceil(bytes / target)`` files;
* the rewrite is staged in a dot-prefixed sibling dir (invisible to Spark's
  file listing), row-count-verified, then swapped in with two renames —
  a crash mid-swap leaves either the old or the new partition complete,
  and ``recover`` puts a half-swapped partition back on the next call;
* untouched partitions are not read at all (maintenance must not scan the
  table); content is byte-equal rows, so resume/lineage semantics are
  unaffected — compaction never changes WHAT a partition holds, only how
  many files hold it.

No reference analogue (the reference's outputs are driver-side pickles,
scripts/eval_kbp.py:654-658); this is part of the at-scale lake surface.
"""

from __future__ import annotations

import math
import os
import shutil

from pyspark.sql import SparkSession

# URI schemes whose "rename" is copy+delete (no atomicity): the two-rename
# partition swap below is only crash-safe on a POSIX filesystem
_NON_ATOMIC_SCHEMES = ("s3://", "s3a://", "s3n://", "gs://", "abfs://",
                       "abfss://", "wasb://", "wasbs://", "oss://", "cos://")


def _assert_posix_rename(root: str, op: str) -> None:
    """The swap/delete protocol here relies on POSIX ``rename(2)`` atomicity
    — explicitly ASSERTED, not assumed: on an object store (where a
    10^12-turn lake actually lives) rename is copy+delete and the crash
    window is proportional to partition bytes, not two metadata ops.  The
    correct object-store design is a manifest-pointer commit — write the
    compacted files under a new name, then atomically flip ONE small
    manifest object that readers resolve the file list through (exactly
    Iceberg's ``rewrite_data_files`` + snapshot-commit split, which this
    module is the parquet-dir analogue of).  That protocol IS implemented
    — ``operators.manifest`` (immutable data files, staged manifest,
    single pointer-flip commit, unreferenced-file vacuum) — so object-store
    paths are refused here with a working alternative rather than silently
    made crash-unsafe."""
    low = root.lower()
    if any(low.startswith(s) for s in _NON_ATOMIC_SCHEMES):
        raise NotImplementedError(
            f"{op}: {root!r} is on an object store; the two-rename partition "
            "swap is only atomic on POSIX filesystems. Use the manifest-"
            "pointer protocol instead (operators.manifest."
            "compact_table_manifest + vacuum_unreferenced + read_table: "
            "immutable files, one-object pointer flip as the commit), or "
            "the real Iceberg actions at that scale."
        )


def _partition_dirs(root: str) -> list[str]:
    return sorted(
        e
        for e in os.listdir(root)
        if "=" in e
        and not e.startswith((".", "_"))
        and os.path.isdir(os.path.join(root, e))
    )


def _data_files(pdir: str) -> list[str]:
    return [f for f in os.listdir(pdir) if f.endswith(".parquet")]


def _recover_half_swap(root: str) -> None:
    """A crash between the two swap renames leaves ``.compact_old_<part>``
    holding the original partition with the live dir absent; restore it.
    Leftover tmp/old dirs from completed swaps are just deleted."""
    for e in os.listdir(root):
        full = os.path.join(root, e)
        if e.startswith(".compact_old_"):
            live = os.path.join(root, e[len(".compact_old_") :])
            if not os.path.exists(live):
                os.rename(full, live)
            else:
                shutil.rmtree(full, ignore_errors=True)
        elif e.startswith(".compact_tmp_"):
            shutil.rmtree(full, ignore_errors=True)


def _newest_mtime(pdir: str) -> float:
    """Newest mtime under a partition dir; +inf when the dir vanishes
    mid-walk (a concurrent swap/delete) — 'infinitely fresh' makes every
    retention window skip it, the conservative direction."""
    try:
        out = os.path.getmtime(pdir)
    except OSError:
        return float("inf")
    for dirpath, _dirs, files in os.walk(pdir):
        for f in files:
            try:
                out = max(out, os.path.getmtime(os.path.join(dirpath, f)))
            except OSError:
                pass
    return out


def compact_lake_table(
    spark: SparkSession,
    lake,
    table: str,
    target_file_bytes: int = 128 << 20,
    older_than_seconds: float = 3600.0,
) -> dict:
    """Compact every partition of ``lake/table`` whose file count exceeds
    ``ceil(partition_bytes / target_file_bytes)``.  Returns
    ``{partitions_compacted, files_before, files_after, bytes_total}``.
    Idempotent: a second call is a no-op.

    ``older_than_seconds`` (default 1 h) skips partitions written within
    the window — the same in-flight guard as ``vacuum_lake``: compacting a
    partition a resumed writer is concurrently overwriting could swap the
    PRE-overwrite rewrite in after the writer's commit.  Pass 0 only when
    no writer can be active."""
    import time

    root = lake.path(table)
    _assert_posix_rename(root, "compact_lake_table")
    stats = {
        "partitions_compacted": 0,
        "files_before": 0,
        "files_after": 0,
        "bytes_total": 0,
    }
    if not os.path.isdir(root):
        return stats
    _recover_half_swap(root)
    cutoff = time.time() - older_than_seconds
    for part in _partition_dirs(root):
        pdir = os.path.join(root, part)
        files = _data_files(pdir)
        total = sum(os.path.getsize(os.path.join(pdir, f)) for f in files)
        stats["files_before"] += len(files)
        stats["bytes_total"] += total
        want = max(1, math.ceil(total / target_file_bytes))
        if len(files) <= want or _newest_mtime(pdir) > cutoff:
            stats["files_after"] += len(files)
            continue
        # partition-dir read: the partition column lives in the dir name,
        # not the files, so the rewritten files keep the exact layout
        df = spark.read.parquet(pdir)
        n_rows = df.count()
        tmp = os.path.join(root, f".compact_tmp_{part}")
        shutil.rmtree(tmp, ignore_errors=True)
        df.coalesce(want).write.mode("overwrite").parquet(tmp)
        n_after = spark.read.parquet(tmp).count()
        if n_after != n_rows:
            shutil.rmtree(tmp, ignore_errors=True)
            raise RuntimeError(
                f"compaction row-count mismatch in {pdir}: "
                f"{n_rows} before vs {n_after} after — aborted, original kept"
            )
        old = os.path.join(root, f".compact_old_{part}")
        shutil.rmtree(old, ignore_errors=True)
        os.rename(pdir, old)
        os.rename(tmp, pdir)
        shutil.rmtree(old, ignore_errors=True)
        stats["partitions_compacted"] += 1
        stats["files_after"] += len(_data_files(pdir))
    return stats


def vacuum_lake(
    lake,
    tables: list[str] | None = None,
    older_than_seconds: float = 3600.0,
) -> dict:
    """Delete partition directories whose batch never completed — the
    companion to prefix-resume (pipeline.run_incremental): lineage is marked
    strictly AFTER a batch's writes drain, so any ``batch_id=N`` partition
    absent from the lineage came from a crashed or abandoned run.  Resume
    would overwrite such partitions byte-identically when the batch re-runs
    (dynamic overwrite), but a batch that never re-runs — a shrunken input,
    a run switched to ``single_batch`` — leaves them to silently pollute
    direct table reads.  (Iceberg analogue: orphan-file removal /
    ``remove_orphan_files``.)

    ``older_than_seconds`` (default 1 h) is the same retention guard
    Iceberg's ``remove_orphan_files`` uses: a RUNNING pipeline's current
    batch is also "written but not yet in lineage", so partitions touched
    within the window are never deleted — without it, vacuuming
    concurrently with a writer would destroy the in-flight batch between
    its write and its lineage mark.  Pass 0 only when no writer can be
    active.

    Returns ``{table: [removed batch_ids]}`` — recorded only after the
    delete actually succeeded (deletion errors propagate rather than being
    reported as cleaned).  Never touches the lineage, non-partition files,
    or compaction staging (dot-dirs; ``compact_lake_table`` recovers its
    own)."""
    import time

    _assert_posix_rename(lake.root, "vacuum_lake")
    if not os.path.exists(lake.lineage_path()):
        # no lineage == nothing can be judged orphaned.  Without this guard
        # a lake copied/mounted WITHOUT its lineage.jsonl would read as
        # "no batch ever completed" and vacuum would destroy every
        # partition older than the window (Iceberg's remove_orphan_files
        # likewise refuses when table metadata is missing).
        return {}
    completed = lake.completed_batches()
    cutoff = time.time() - older_than_seconds
    if tables is None:
        tables = sorted(
            t
            for t in os.listdir(lake.root)
            if os.path.isdir(lake.path(t)) and not t.startswith((".", "_"))
        ) if os.path.isdir(lake.root) else []
    removed: dict[str, list[int]] = {}
    for table in tables:
        root = lake.path(table)
        if not os.path.isdir(root):
            continue
        for part in _partition_dirs(root):
            key, _, val = part.partition("=")
            if key != "batch_id":
                continue
            try:
                batch_id = int(val)
            except ValueError:
                continue
            pdir = os.path.join(root, part)
            if batch_id not in completed and _newest_mtime(pdir) <= cutoff:
                shutil.rmtree(pdir)
                removed.setdefault(table, []).append(batch_id)
    return removed
