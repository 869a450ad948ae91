"""Every script under tools/ still imports: a deleted helper that a
tool still imports fails here, not at the next manual run."""

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
