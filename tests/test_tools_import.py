"""Every script under tools/ still imports: a deleted helper that a
tool still imports fails here, not at the next manual run.  Also the
engine-module swap tools/ab_compare.py makes between its two trees."""

from __future__ import annotations

import glob
import importlib.util
import os
import sys

import pytest

TOOLS = sorted(glob.glob(os.path.join(os.path.dirname(__file__), "..", "tools", "*.py")))


@pytest.mark.parametrize("path", TOOLS, ids=os.path.basename)
def test_tool_imports(path):
    name = "tool_" + os.path.basename(path)[:-3]
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    sys.modules[name] = mod
    try:
        spec.loader.exec_module(mod)  # not as __main__, so main() does not run
    finally:
        del sys.modules[name]


def test_ab_compare_use_tree_swaps_engine_modules():
    """use_tree puts exactly one tree's saved engine modules into
    sys.modules: the other tree's leave, non-engine modules stay."""
    import types

    path = os.path.join(os.path.dirname(__file__), "..", "tools", "ab_compare.py")
    spec = importlib.util.spec_from_file_location("tool_ab_compare_swap", path)
    ab = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(ab)
    pkg = ab.PKG
    saved = ab._engine_modules()
    a = {pkg: types.ModuleType(pkg), pkg + ".io": types.ModuleType(pkg + ".io")}
    b = {pkg: types.ModuleType(pkg)}
    try:
        ab.use_tree(a)
        assert ab._engine_modules() == a
        ab.use_tree(b)
        assert ab._engine_modules() == b and "os" in sys.modules
    finally:
        ab.use_tree(saved)
    assert ab._engine_modules() == saved
