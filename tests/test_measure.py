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

COUNTERS = {
    "jobs", "stages", "tasks", "shuffle_write_bytes", "shuffle_read_bytes",
    "spill_bytes", "exchanges",
}
KEYS = COUNTERS | {
    "query", "cold_s", "runs_s", "build_s", "plan_s", "exec_s",
    "joins", "exec_sum_s", "per_stage", "operators",
}

#: (exchanges, joins per strategy) of perfbench's query_mix at sf0.001.
MIX_PINS = {
    "should_optimize_decision": (1, {}),
    "binpack_group_assignment": (1, {}),
    "agg_pricing_summary": (1, {}),
    "dedup_exact_documents": (1, {}),
    "topk_similarity_bruteforce": (0, {}),
    "tfidf_top_terms": (8, {"BroadcastHashJoin": 1, "BroadcastNestedLoopJoin": 1}),
    "stream_tumbling_commits_per_hour": (1, {}),
    "bm25_topk_retrieval": (7, {"BroadcastHashJoin": 1, "BroadcastNestedLoopJoin": 1}),
}


@pytest.fixture(scope="module")
def mix(spark, sf_dir):
    return {name: measure.measure(spark, name, sf_dir) for name in MIX_PINS}


@pytest.fixture(scope="module")
def agg(mix):
    return mix["agg_pricing_summary"]


def test_record_keys(agg):
    assert set(agg) == KEYS
    assert len(agg["runs_s"]) == measure.RUNS
    assert set(agg["per_stage"][0]) == {
        "stage", "run_s", "tasks", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
    }
    assert set(agg["operators"][0]) == {"execution", "op", "rows"}


def test_scan_rows_are_the_table_rows(agg, sf_dir):
    scans = [o["rows"] for o in agg["operators"] if o["op"].startswith("Scan")]
    assert scans == [eio.parquet_num_rows(sf_dir, "lineitem")]


def test_agg_counters_pinned(agg):
    # exchanges and joins: MIX_PINS
    assert agg["stages"] == len(agg["per_stage"])


def test_join_headliner_counters_pinned(spark, sf_dir):
    """dedup_ngram_jaccard runs Spark work while it is built, so a
    window marked after the build misses one of its exchanges."""
    rec = measure.measure(spark, "dedup_ngram_jaccard", sf_dir)
    assert rec["exchanges"] == 7
    assert rec["joins"] == {"BroadcastHashJoin": 2}


def test_pins_cover_the_query_mix():
    from perfbench.workloads import QUERY_MIX

    assert set(MIX_PINS) == set(QUERY_MIX)


@pytest.mark.parametrize("name", sorted(MIX_PINS))
def test_query_mix_counters_pinned(mix, name):
    exchanges, joins = MIX_PINS[name]
    assert (mix[name]["exchanges"], mix[name]["joins"]) == (exchanges, joins)


def test_run_once_counts_its_own_job(spark, sf_dir):
    run = measure.run_once(spark, lambda s, d: s.range(10), sf_dir)
    assert set(run) == set(measure.TIMES) | COUNTERS
    assert (run["jobs"], run["exchanges"]) == (1, 0)
