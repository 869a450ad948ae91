"""Smoke tests for the driver contract (__spark_entry__.py)."""

from __future__ import annotations

import importlib.util
import os
import sys


def _entry_mod():
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "__spark_entry__.py")
    spec = importlib.util.spec_from_file_location("__spark_entry__", path)
    mod = importlib.util.module_from_spec(spec)
    sys.modules["__spark_entry__"] = mod
    spec.loader.exec_module(mod)
    return mod


def test_entry_runs(spark):
    mod = _entry_mod()
    df = mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert "should_optimize" in df.columns


def test_queries_oracle_keys_align(spark):
    mod = _entry_mod()
    q = mod.queries()
    o = mod.oracle_sql()
    assert set(o) <= set(q)
    assert len(q) >= 13


def test_every_query_runs_at_smoke_sf(spark, sf_dir):
    mod = _entry_mod()
    for name, fn in mod.queries().items():
        df = fn(spark, sf_dir)
        assert df.count() >= 0, name
