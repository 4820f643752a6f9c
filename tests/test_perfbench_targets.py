"""The functions ``perfbench/spans.py`` traces must still exist where it
patches them: a refactor that renames or moves one fails here, in tier-1,
instead of breaking ``perfbench/run.py --trace 1`` runs."""

import importlib.util
import os
import sys

import pytest

SPANS = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "perfbench", "spans.py",
)


def _targets():
    spec = importlib.util.spec_from_file_location("perfbench_spans", SPANS)
    spans = sys.modules[spec.name] = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(spans)
    return spans._targets()


@pytest.mark.parametrize(
    "owner, attr, name", _targets(), ids=lambda x: x if isinstance(x, str) else ""
)
def test_traced_function_exists(owner, attr, name):
    assert attr in owner.__dict__, f"{name}: {owner.__name__}.{attr} is gone"
    assert callable(owner.__dict__[attr])
