"""Build (or verify) dist/iees.zip for spark-submit --py-files.

A stale zip silently ships old code to every executor, so the jobs/*.py
entry points call :func:`check_zip` on startup and refuse to run when the
zip bytes differ from the source tree.  Rebuild with::

    python tools/make_pyfiles_zip.py            # (re)build dist/iees.zip
    python tools/make_pyfiles_zip.py --check    # exit 1 if stale/missing
"""

from __future__ import annotations

import os
import sys
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "incremental_entity_extraction_spark"
ZIP_PATH = os.path.join(ROOT, "dist", "iees.zip")


def source_entries(root: str = ROOT) -> dict[str, bytes]:
    """arcname -> file bytes for every package .py in the working tree."""
    entries: dict[str, bytes] = {}
    for dirpath, _dirnames, filenames in os.walk(os.path.join(root, PKG)):
        if "__pycache__" in dirpath:
            continue
        for fn in sorted(filenames):
            if fn.endswith(".py"):
                full = os.path.join(dirpath, fn)
                with open(full, "rb") as f:
                    entries[os.path.relpath(full, root)] = f.read()
    return entries


def check_zip(zip_path: str = ZIP_PATH, root: str = ROOT) -> list[str]:
    """Return a list of human-readable mismatches between the zip and the
    source tree (empty == in sync).  A missing zip is NOT a mismatch — only
    an existing-but-stale artifact can silently ship old code."""
    if not os.path.exists(zip_path):
        return []
    if not os.path.isdir(os.path.join(root, PKG)):
        # no source tree next to the job (cluster-mode staging dir, bare
        # deploy of zip+jobs): there is nothing to compare against — the
        # guard must not refuse a deploy it cannot audit
        return []
    expected = source_entries(root)
    problems: list[str] = []
    with zipfile.ZipFile(zip_path) as z:
        names = set(z.namelist())
        for arc, body in expected.items():
            arc_posix = arc.replace(os.sep, "/")
            if arc_posix not in names:
                problems.append(f"missing from zip: {arc_posix}")
            elif z.read(arc_posix) != body:
                problems.append(f"differs from source: {arc_posix}")
        for extra in sorted(names - {a.replace(os.sep, "/") for a in expected}):
            if extra.endswith(".py"):
                problems.append(f"not in source tree: {extra}")
    return problems


def zip_in_use(zip_name: str = "iees.zip") -> bool:
    """True when this process was launched with the --py-files zip: the zip
    (or a staged copy of it) is on sys.path, or named in the spark-submit
    args.  A plain source-checkout run (`python jobs/run_pipeline.py`)
    imports from the tree and never touches the zip."""
    if any(os.path.basename(p) == zip_name for p in sys.path):
        return True
    return zip_name in os.environ.get("PYSPARK_SUBMIT_ARGS", "")


def require_fresh_zip(zip_path: str = ZIP_PATH, root: str = ROOT) -> None:
    """Fail when dist/iees.zip is out of sync with the tree AND this run is
    actually executing from it (``zip_in_use``) — a spark-submit --py-files
    run must never silently execute stale code.  A local source-checkout run
    that never passes --py-files only gets a warning: it isn't running the
    zip, so forcing a rebuild would block a dev on an artifact they aren't
    using.

    Called by jobs/run_pipeline.py and jobs/link_text.py before any Spark
    work."""
    problems = check_zip(zip_path, root)
    if not problems:
        return
    detail = "\n  ".join(problems[:20])
    msg = (
        f"{zip_path} is STALE relative to the source tree "
        f"({len(problems)} mismatched entries):\n  {detail}\n"
        "Rebuild it first: python tools/make_pyfiles_zip.py"
    )
    if zip_in_use():
        raise SystemExit(msg)
    print(
        f"WARNING: {msg}\n(continuing: this run imports from the source "
        "tree, not the zip)",
        file=sys.stderr,
    )


def build(zip_path: str = ZIP_PATH, root: str = ROOT) -> str:
    """Write the zip reproducibly: entries in sorted order, each with a
    fixed timestamp and mode, so the same tree always gives the same
    bytes."""
    os.makedirs(os.path.dirname(zip_path), exist_ok=True)
    entries = {
        arc.replace(os.sep, "/"): body for arc, body in source_entries(root).items()
    }
    with zipfile.ZipFile(zip_path, "w") as z:
        for arc, body in sorted(entries.items()):
            info = zipfile.ZipInfo(arc, date_time=(1980, 1, 1, 0, 0, 0))
            info.compress_type = zipfile.ZIP_DEFLATED
            info.create_system = 3  # unix, so external_attr holds the mode
            info.external_attr = 0o644 << 16
            z.writestr(info, body)
    return zip_path


def main() -> None:
    if "--check" in sys.argv[1:]:
        if not os.path.exists(ZIP_PATH):
            print(f"{ZIP_PATH}: absent (nothing to check; build it first)")
            raise SystemExit(1)
        problems = check_zip()
        if problems:
            print(f"{ZIP_PATH}: STALE ({len(problems)} mismatches)")
            for pr in problems:
                print(f"  {pr}")
            raise SystemExit(1)
        print(f"{ZIP_PATH}: in sync with source tree")
        return
    print(build())


if __name__ == "__main__":
    main()
