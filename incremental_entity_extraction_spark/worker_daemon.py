"""Python worker daemon that re-reads a zip archive only when it changed.

Before every task Spark's worker calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``), and for each zip on
``sys.path`` that makes ``zipimport`` re-read the archive's whole
directory: about 0.2 s of CPU per task for ``pyspark.zip`` (1 328
entries).  This daemon, which ``session.get_spark`` sets as
``spark.python.daemon.module``, lets that call re-read an archive only
when its ``(size, mtime_ns)`` differs from the last read, then runs
Spark's own daemon.  Directory finders are still invalidated, so a file
that ``addPyFile`` ships mid-session is importable by the next task.

    python -m incremental_entity_extraction_spark.worker_daemon
"""

from __future__ import annotations

import os
import zipimport

_read = zipimport.zipimporter.invalidate_caches
_stamps: dict[str, tuple[int, int]] = {}  # archive -> stamp at its last read


def invalidate_caches(importer: zipimport.zipimporter) -> None:
    try:
        st = os.stat(importer.archive)
    except OSError:  # gone: let zipimport drop its directory
        _stamps.pop(importer.archive, None)
        _read(importer)
        return
    stamp = (st.st_size, st.st_mtime_ns)
    if _stamps.get(importer.archive) != stamp:
        _read(importer)  # stamped before the read: a later write re-reads
        _stamps[importer.archive] = stamp


def main() -> None:
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    main()
