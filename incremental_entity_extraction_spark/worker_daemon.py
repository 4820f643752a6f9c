"""Python worker daemon: imports the stages' libraries once, and re-reads a
zip archive only when it changed.

``session.get_spark`` sets this module as ``spark.python.daemon.module``.
Spark's daemon forks one process per Python worker, so whatever the daemon
has imported before ``pyspark.daemon.manager()`` runs, every worker
inherits, copy-on-write, without importing it again.  ``main`` imports
numpy, pandas, pyarrow and ``operators.fused`` (the fused stage, which
pulls in the kernels, retrieval, NIL and the IVF index) first; a worker's
first task then pays no import storm, and no warm-up job is needed.  A
module the daemon imported is in every worker's ``sys.modules`` already:
a later ``addPyFile`` that ships a module of the same name does not
replace it, and the tasks run the daemon's copy.

Before every task Spark's worker calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``), and for each zip on
``sys.path`` that makes ``zipimport`` re-read the archive's whole
directory: about 0.2 s of CPU per task for ``pyspark.zip`` (1 328
entries).  This daemon lets that call re-read an archive only when its
``(size, mtime_ns)`` differs from the last read, then runs Spark's own
daemon.  Directory finders are still invalidated, so a file that
``addPyFile`` ships mid-session is importable by the next task.

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
    # imported once here, before the fork, instead of once per worker
    import numpy  # noqa: F401
    import pandas  # noqa: F401
    import pyarrow  # noqa: F401
    from pyspark import daemon

    import incremental_entity_extraction_spark.operators.fused  # noqa: F401

    daemon.manager()


if __name__ == "__main__":
    main()
