"""The --py-files deploy zip (tools/make_pyfiles_zip.py) ships every package
module.  jobs/*.py refuse to run from a stale zip, and the spark-submit test
rebuilds it before it runs, so this check runs first."""

import os
import sys
import time
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from tools.make_pyfiles_zip import ZIP_PATH, build, check_zip  # noqa: E402


def test_built_zip_is_in_sync():
    assert check_zip() == [], f"rebuild {ZIP_PATH}: python tools/make_pyfiles_zip.py"


def test_build_ships_every_module(tmp_path):
    path = build(str(tmp_path / "iees.zip"))
    assert check_zip(path) == []
    names = zipfile.ZipFile(path).namelist()
    assert "incremental_entity_extraction_spark/worker_daemon.py" in names


def test_build_is_reproducible(tmp_path):
    """Two builds of the same tree are byte-identical, however far apart:
    entries carry no build time (zip stamps have 2 s resolution)."""
    first = build(str(tmp_path / "a.zip"))
    time.sleep(2.1)
    second = build(str(tmp_path / "b.zip"))
    with open(first, "rb") as a, open(second, "rb") as b:
        assert a.read() == b.read()
