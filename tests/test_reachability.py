"""Every top-level function and class of the package is reached — checked
without Spark.

Roots are the entry points: the code of ``jobs/``, ``perfbench/``,
``tools/`` and ``examples/`` (their own ``test_*.py`` files excluded) and
the module-level statements of every package module.  A top-level
definition of the package is reached when its name appears in a root or in
the body of a reached definition, in any package module; the test follows
that to a fixed point.  Names are matched as text over the code, read with
``ast``: identifiers, attribute names and the words of string literals, but
neither docstrings nor import statements, so a docstring that mentions a
function or an import that nothing calls reaches nothing.  Two definitions
of one name are reached together.

A definition that only tests reach is either deleted or listed in
``ALLOWED`` with the ROADMAP item that decides its fate.  An allowed
definition stays on purpose, so what it uses counts as reached.
"""

import ast
import os
import re

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "incremental_entity_extraction_spark"
ENTRY_DIRS = ("jobs", "perfbench", "tools", "examples")

# module (dotted, below the package) -> names, "*" for every definition;
# each entry names the ROADMAP item that owns it
ALLOWED = {
    # item 6: the per-batch evaluation report from the lake
    "evaluation.metrics": {"*"},
    "operators.nil_training": {"fit_nil_model"},
    "operators.oracle_modes": {"*"},
    # item 9: wiring the reference's own inputs into jobs/run_pipeline.py
    "operators.jsonl_source": {"read_transcripts_jsonl"},
    "operators.catalogue": {"ingest_entity_catalogue"},
    # item 9, still to decide: the real-model encoder adapter (no job takes
    # an encoder) and the exact top-k the ANN recall tests measure against
    "operators.torch_encoder": {"make_torch_encoder"},
    "operators.similarity_search": {"cosine_topk_join"},
}

_WORD = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def _py_files(top):
    for dirpath, dirnames, filenames in os.walk(os.path.join(ROOT, top)):
        dirnames[:] = sorted(d for d in dirnames if not d.startswith((".", "__")))
        for fn in sorted(filenames):
            if fn.endswith(".py"):
                yield os.path.join(dirpath, fn)


def _docstrings(tree):
    """ids of the docstring nodes of every module, class and function."""
    out = set()
    for node in ast.walk(tree):
        if isinstance(
            node,
            (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef),
        ) and node.body:
            first = node.body[0]
            if isinstance(first, ast.Expr) and isinstance(
                getattr(first, "value", None), ast.Constant
            ) and isinstance(first.value.value, str):
                out.add(id(first.value))
    return out


def _names(nodes, docs):
    """The names the code of ``nodes`` mentions."""
    out = set()
    for top in nodes:
        if isinstance(top, (ast.Import, ast.ImportFrom)):
            continue
        for node in ast.walk(top):
            if isinstance(node, ast.Name):
                out.add(node.id)
            elif isinstance(node, ast.Attribute):
                out.add(node.attr)
            elif (
                isinstance(node, ast.Constant)
                and isinstance(node.value, str)
                and id(node) not in docs
            ):
                out.update(_WORD.findall(node.value))
    return out


def _scan():
    """(root names, {(module, name): names its body mentions})."""
    roots, defs = set(), {}
    for top in ENTRY_DIRS:
        for path in _py_files(top):
            if os.path.basename(path).startswith("test_"):
                continue
            with open(path) as f:
                tree = ast.parse(f.read(), filename=path)
            roots |= _names(tree.body, _docstrings(tree))
    for path in _py_files(PKG):
        rel = os.path.relpath(path, os.path.join(ROOT, PKG))
        module = rel[: -len(".py")].replace(os.sep, ".")
        with open(path) as f:
            tree = ast.parse(f.read(), filename=path)
        docs = _docstrings(tree)
        kinds = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
        for node in tree.body:
            if isinstance(node, kinds):
                defs[(module, node.name)] = _names([node], docs) - {node.name}
        roots |= _names([n for n in tree.body if not isinstance(n, kinds)], docs)
    return roots, defs


def _allowed(module, name):
    return bool(ALLOWED.get(module, set()) & {"*", name})


def _unreached():
    seen, defs = _scan()
    todo = [key for key in defs if key[1] in seen or _allowed(*key)]
    reached = set()
    while todo:
        key = todo.pop()
        if key in reached:
            continue
        reached.add(key)
        fresh = defs[key] - seen
        seen |= fresh
        todo += [k for k in defs if k[1] in fresh and k not in reached]
    return sorted(set(defs) - reached), defs


def test_every_definition_is_reached_or_allowed():
    unreached, _ = _unreached()
    bad = [f"{m}.{n}" for m, n in unreached if not _allowed(m, n)]
    assert not bad, (
        "package definitions that no job, tool, benchmark or example "
        f"reaches (delete them, or allow them with their ROADMAP item): {bad}"
    )


def test_allowlist_names_existing_definitions():
    """A stale entry would let a later definition of that name through."""
    _, defs = _unreached()
    modules = {m for m, _ in defs}
    for module, names in ALLOWED.items():
        assert module in modules, f"{module} is gone: drop its ALLOWED entry"
        for name in names - {"*"}:
            assert (module, name) in defs, f"{module}.{name} is gone"
