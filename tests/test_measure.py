"""tools/measure.py reads counters that do not move with host steal:
operator rows, exchanges and join strategies of a query's last run."""

from __future__ import annotations

import importlib.util
import os
import sys

import pytest

import iceberg_aws_event_based_table_management_spark.io as eio


def _load_measure():
    path = os.path.join(os.path.dirname(__file__), "..", "tools", "measure.py")
    spec = importlib.util.spec_from_file_location("measure", path)
    mod = importlib.util.module_from_spec(spec)
    sys.modules["measure"] = mod
    spec.loader.exec_module(mod)
    return mod


measure = _load_measure()

KEYS = {
    "query", "build_s", "plan_s", "exec_s",
    "jobs", "stages", "tasks", "shuffle_write_bytes", "shuffle_read_bytes",
    "spill_bytes", "exchanges", "joins", "exec_sum_s", "per_stage", "operators",
}


@pytest.fixture(scope="module")
def agg(spark, sf_dir):
    return measure.measure(spark, "agg_pricing_summary", sf_dir)


def test_record_keys(agg):
    assert set(agg) == KEYS
    assert set(agg["per_stage"][0]) == {
        "stage", "run_s", "tasks", "shuffle_read_bytes", "shuffle_write_bytes",
    }
    assert set(agg["operators"][0]) == {"execution", "op", "rows"}


def test_scan_rows_are_the_table_rows(agg, sf_dir):
    scans = [o["rows"] for o in agg["operators"] if o["op"].startswith("Scan")]
    assert scans == [eio.parquet_num_rows(sf_dir, "lineitem")]


def test_agg_counters_pinned(agg):
    assert agg["exchanges"] == 1
    assert agg["joins"] == {}
    assert agg["stages"] == len(agg["per_stage"])


def test_join_headliner_counters_pinned(spark, sf_dir):
    """dedup_ngram_jaccard runs Spark work while it is built, so a
    window marked after the build misses one of its exchanges."""
    rec = measure.measure(spark, "dedup_ngram_jaccard", sf_dir)
    assert rec["exchanges"] == 7
    assert rec["joins"] == {"BroadcastHashJoin": 2}
