"""The package's Python worker daemon (worker_daemon.py): Spark tasks run
under it, it imports the stages' libraries before it forks the workers, and
it re-reads a zip archive on sys.path only when the archive changed."""

import json
import os
import subprocess
import sys
import uuid
import zipfile
import zipimport

from incremental_entity_extraction_spark import worker_daemon
from incremental_entity_extraction_spark.session import (
    DAEMON_MODULE,
    daemon_importable,
)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PREIMPORTED = (
    "numpy",
    "pandas",
    "pyarrow",
    "incremental_entity_extraction_spark.operators.fused",
)


def _python(code: str, env=None) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "-c", code], cwd=ROOT, env=env, capture_output=True,
        text=True, timeout=180,
    )


def _zip(path, modules: dict) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, body in modules.items():
            z.writestr(f"{name}.py", body)


def test_tasks_run_under_the_package_daemon(spark):
    assert spark.conf.get("spark.python.daemon.module") == DAEMON_MODULE

    def probe(_):
        import zipimport

        yield zipimport.zipimporter.invalidate_caches.__code__.co_filename

    got = spark.sparkContext.parallelize(range(2), 2).mapPartitions(probe).collect()
    assert got and all(f.endswith("worker_daemon.py") for f in got)


def test_zip_added_mid_session_is_importable_by_the_next_task(spark, tmp_path):
    name = f"iee_probe_{uuid.uuid4().hex[:8]}"
    path = tmp_path / f"{name}.zip"
    _zip(path, {name: "VALUE = 41\n"})
    spark.sparkContext.addPyFile(str(path))

    def use(_):
        import importlib

        yield importlib.import_module(name).VALUE + 1

    assert spark.sparkContext.parallelize([0], 1).mapPartitions(use).collect() == [42]


def test_archive_reread_only_when_changed(tmp_path, monkeypatch):
    monkeypatch.setattr(worker_daemon, "_stamps", {})
    reads = []
    real = worker_daemon._read
    monkeypatch.setattr(
        worker_daemon, "_read", lambda imp: (reads.append(imp.archive), real(imp))
    )
    path = str(tmp_path / "lib.zip")
    _zip(path, {"iee_a": "A = 1\n"})
    imp = zipimport.zipimporter(path)
    worker_daemon.invalidate_caches(imp)
    worker_daemon.invalidate_caches(imp)  # unchanged: kept
    assert reads == [path]
    assert imp.find_spec("iee_b") is None

    _zip(path, {"iee_a": "A = 1\n", "iee_b": "B = 2\n"})  # changed: re-read
    worker_daemon.invalidate_caches(imp)
    assert reads == [path, path]
    assert imp.find_spec("iee_b") is not None

    os.remove(path)  # gone: its directory is dropped
    worker_daemon.invalidate_caches(imp)
    assert imp.find_spec("iee_a") is None


def test_daemon_importable_decision(tmp_path):
    other = str(tmp_path)
    # the package root as the JVM's cwd, which `python -m` puts on sys.path
    assert daemon_importable({}, ROOT)
    assert not daemon_importable({"PYTHONSAFEPATH": "1"}, ROOT)
    # elsewhere, only a PYTHONPATH entry that holds the package counts
    assert not daemon_importable({}, other)
    assert daemon_importable({"PYTHONPATH": os.pathsep.join([other, ROOT])}, other)
    # a --py-files zip on PYTHONPATH reaches workers only per task
    zipped = os.path.join(ROOT, "dist", "iees.zip")
    assert not daemon_importable({"PYTHONPATH": zipped}, other)
    # a relative entry resolves against the cwd the daemon starts in
    assert daemon_importable({"PYTHONPATH": os.path.basename(ROOT)}, os.path.dirname(ROOT))


def test_daemon_imports_stage_modules_before_it_forks():
    """A task cannot show this (a worker reused from an earlier job holds the
    modules either way), so the daemon runs in its own process with Spark's
    manager, which forks the workers, replaced by a probe of ``sys.modules``."""
    code = f"""
import json, sys
import pyspark.daemon
before = set(sys.modules)
pyspark.daemon.manager = lambda: print(json.dumps(
    {{"before": sorted(before), "at_fork": sorted(sys.modules)}}))
from incremental_entity_extraction_spark import worker_daemon
worker_daemon.main()
"""
    out = _python(code)
    assert out.returncode == 0, out.stderr
    got = json.loads(out.stdout.splitlines()[-1])
    assert set(PREIMPORTED) <= set(got["at_fork"])
    assert PREIMPORTED[-1] not in got["before"]


def test_fork_after_preimport_runs_blas_in_the_child():
    """The workers fork from a process that has loaded BLAS; with its
    threads unpinned, a child's matmul must still finish (no pool lock
    inherited mid-use)."""
    code = f"""
import os, signal, sys
import numpy as np
for m in {PREIMPORTED!r}:
    __import__(m)
a = np.random.default_rng(0).random((512, 512))
assert np.isfinite(a @ a).all()
pid = os.fork()
if pid == 0:
    signal.alarm(60)  # a deadlocked child dies instead of hanging
    b = np.random.default_rng(1).random((512, 512))
    os._exit(0 if np.isfinite(b @ b).all() else 3)
_, status = os.waitpid(pid, 0)
sys.exit(os.waitstatus_to_exitcode(status))
"""
    env = {
        k: v for k, v in os.environ.items()
        if k not in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS")
    }
    out = _python(code, env)
    assert out.returncode == 0, (out.returncode, out.stderr)
