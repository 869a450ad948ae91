"""tools/smoke_all.py keeps a crashed query's error and every finished
query's seconds on disk after each query, and smoke_compare reads it."""

from __future__ import annotations

import importlib.util
import json
import os

import iceberg_aws_event_based_table_management_spark as engine

TOOLS = os.path.join(os.path.dirname(__file__), "..", "tools")


def _load(name):
    spec = importlib.util.spec_from_file_location("tool_" + name, os.path.join(TOOLS, name + ".py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_smoke_record_survives_a_failing_query(spark, sf_dir, tmp_path, monkeypatch, capsys):
    smoke_all, smoke_compare = _load("smoke_all"), _load("smoke_compare")
    out = tmp_path / "smoke.json"
    engine.load_all_queries()
    agg = engine.query_map()["agg_pricing_summary"]
    seen_on_disk = []

    def boom(spark, sf_dir):
        seen_on_disk.append(json.loads(out.read_text()))
        raise RuntimeError("boom")

    monkeypatch.setattr(smoke_all.engine, "query_map", lambda: {"a_ok": agg, "b_boom": boom})
    monkeypatch.setattr(smoke_all, "get_spark", lambda name: spark)
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", sf_dir)
    smoke_all.main(["--out", str(out)])

    (before,) = seen_on_disk
    assert before["n_done"] == 1 and isinstance(before["per_query_sec_or_err"]["a_ok"], float)
    rec = json.loads(out.read_text())
    assert rec["sf_dir"] == sf_dir and rec["n_done"] == 2 and rec["session_restarts"] == []
    per = rec["per_query_sec_or_err"]
    assert isinstance(per["a_ok"], float) and per["a_ok"] > 0
    assert per["b_boom"] == "ERR RuntimeError: boom"

    capsys.readouterr()
    monkeypatch.setattr("sys.argv", ["smoke_compare.py", str(out), str(out)])
    smoke_compare.main()
    assert "  b_boom: ERR RuntimeError: boom" in capsys.readouterr().out
