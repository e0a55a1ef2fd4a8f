"""The benchmark traces the engine by wrapping the entry points listed in
perfbench/spans.py. A rename in the engine would silently drop a traced
layer, so each listed (module, class, attribute) must resolve. No Spark
session is started."""

import importlib

import pytest

from perfbench.spans import ENTRY_POINTS


@pytest.mark.parametrize("span,module,cls,attr", ENTRY_POINTS, ids=[e[0] for e in ENTRY_POINTS])
def test_entry_point_resolves(span, module, cls, attr):
    owner = importlib.import_module(module)
    if cls is not None:
        owner = getattr(owner, cls)
    assert callable(getattr(owner, attr)), span
