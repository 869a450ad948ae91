"""bench.py output contract: the driver keeps only a fixed-size tail
of stdout and json-parses the LAST line, so the compact headline
record must always be printed last and stay small.  Round 6 lost its
official perf record (`BENCH_r06.json parsed: null`) because the
cold/per-run transparency fields made the single output line overflow
that tail window — this locks the two-line fix structurally, without
running the (minutes-long) bench itself.
"""

from __future__ import annotations

import ast
from pathlib import Path

BENCH = Path(__file__).resolve().parents[1] / "bench.py"


def _main_prints():
    """The json.dumps payload dicts of every print() in bench.main,
    in source order."""
    tree = ast.parse(BENCH.read_text())
    main = next(n for n in tree.body if isinstance(n, ast.FunctionDef) and n.name == "main")
    payloads = []
    for node in ast.walk(main):
        if not (isinstance(node, ast.Call) and getattr(node.func, "id", None) == "print"):
            continue
        for arg in ast.walk(node):
            if (
                isinstance(arg, ast.Call)
                and getattr(arg.func, "attr", None) == "dumps"
                and arg.args
                and isinstance(arg.args[0], ast.Dict)
            ):
                keys = [k.value for k in arg.args[0].keys if isinstance(k, ast.Constant)]
                payloads.append(keys)
    return payloads


def test_compact_headline_line_is_last_and_minimal():
    payloads = _main_prints()
    assert len(payloads) >= 2, "expected transparency + compact headline prints"
    last = payloads[-1]
    # the driver-parsed record: exactly the compact contract keys, no
    # per-run transparency fields that can overflow the stdout tail
    # cpus / shuffle_partitions: the effective parallelism the timings
    # were taken at, so a reader can tell a run that ignored the
    # requested core count from a slow one
    assert set(last) == {
        "metric", "value", "unit", "queries", "sf", "cpus", "shuffle_partitions"
    }, last
    assert "queries_runs" not in last and "queries_cold" not in last
    # the verbose transparency record exists and comes BEFORE it, with
    # each query's layer split and work counters beside its walls
    assert any({"queries_runs", "layers"} <= set(p) for p in payloads[:-1]), payloads


def test_headline_names_are_registered():
    """Every bench HEADLINE query must exist in the registry — a
    rename/demotion that breaks bench.py would otherwise only surface
    as a KeyError in the driver's per-round bench run."""
    import importlib.util
    import sys

    spec = importlib.util.spec_from_file_location("bench", str(BENCH))
    bench = importlib.util.module_from_spec(spec)
    sys.modules.setdefault("bench", bench)
    spec.loader.exec_module(bench)

    import iceberg_aws_event_based_table_management_spark as engine

    engine.load_all_queries()
    qmap = engine.query_map()
    missing = [n for n in bench.HEADLINE if n not in qmap]
    assert not missing, missing
    assert len(set(bench.HEADLINE)) == len(bench.HEADLINE), "duplicate headline names"
