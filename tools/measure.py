"""Time registered queries and say where the time went.

    SPARK_GRAFT_SF_DIR=DIR python tools/measure.py [query ...]

Prints one JSON line per query (default: bench.HEADLINE; DIR defaults
as in bench.py).  Per query: one untimed warm
pass, then 3 runs of build -> ``executedPlan()`` -> noop sink, the
perfbench ``query_mix`` protocol.  The record holds the medians of
``build_s``, ``plan_s`` and ``exec_s`` and, for the last run, what the
Spark status store kept of it (the UI stays off):

- window totals from ``perfbench.probe.SparkCounters`` (jobs, stages,
  tasks, shuffle bytes, spill, exchanges), marked before the build so
  work a query does eagerly while it is built counts too;
- ``joins``: join operators per strategy in the executed plans;
- ``per_stage``: executor run time, tasks and shuffle bytes of each
  completed stage, and their run-time sum ``exec_sum_s``;
- ``operators``: ``number of output rows`` of each plan node.

A scale sweep is ``tools/build_sf1.py --mult K --out D`` followed by
``SPARK_GRAFT_SF_DIR=D python tools/measure.py ...``.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import iceberg_aws_event_based_table_management_spark as engine  # noqa: E402
from perfbench.probe import SparkCounters, _seq  # noqa: E402

RUNS = 3


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _settle(counters: SparkCounters) -> None:
    """Wait until the status store has seen every event so far; the
    listener bus feeds it asynchronously."""
    counters._jsc.listenerBus().waitUntilEmpty()


def _stages(counters: SparkCounters, job_mark: int) -> list[dict]:
    store = counters._jsc.statusStore()
    jobs = counters._jobs_after(job_mark)
    out = []
    for sid in sorted({sid for j in jobs for sid in _seq(j.stageIds())}):
        st = store.lastStageAttempt(sid)
        if st.status().toString() != "COMPLETE":
            continue  # skipped: its shuffle output was reused
        out.append({
            "stage": sid,
            "run_s": st.executorRunTime() / 1000.0,
            "tasks": st.numCompleteTasks(),
            "shuffle_read_bytes": st.shuffleReadBytes(),
            "shuffle_write_bytes": st.shuffleWriteBytes(),
        })
    return out


def _executions(counters: SparkCounters, exec_mark: int) -> tuple[dict, list[dict]]:
    """Join strategies and per-operator output rows of every SQL
    execution after ``exec_mark``."""
    sql = counters._sql
    joins: dict[str, int] = {}
    operators = []
    for e in _seq(sql.executionsList()):
        eid = e.executionId()
        if eid <= exec_mark:
            continue
        values = sql.executionMetrics(eid)
        for node in _seq(sql.planGraph(eid).allNodes()):
            op = node.name().strip()
            if op.endswith("Join") or op == "CartesianProduct":
                joins[op] = joins.get(op, 0) + 1
            for m in _seq(node.metrics()):
                if m.name() == "number of output rows" and values.contains(m.accumulatorId()):
                    rows = int(values.apply(m.accumulatorId()).replace(",", ""))
                    operators.append({"execution": eid, "op": op, "rows": rows})
    return joins, operators


def measure(spark, name: str, sf_dir: str) -> dict:
    """Layer timings and status-store counters for one registered query."""
    engine.load_all_queries()
    fn = engine.query_map()[name]
    counters = SparkCounters(spark)
    _noop(fn(spark, sf_dir))  # warm: JIT, codegen, page cache
    build, plan, execute = [], [], []
    for _ in range(RUNS):
        _settle(counters)
        mark = counters.mark()
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        t1 = time.perf_counter()
        df._jdf.queryExecution().executedPlan()
        t2 = time.perf_counter()
        _noop(df)
        t3 = time.perf_counter()
        build.append(t1 - t0)
        plan.append(t2 - t1)
        execute.append(t3 - t2)
    _settle(counters)
    stages = _stages(counters, mark[0])
    joins, operators = _executions(counters, mark[1])
    return {
        "query": name,
        "build_s": round(statistics.median(build), 4),
        "plan_s": round(statistics.median(plan), 4),
        "exec_s": round(statistics.median(execute), 4),
        **counters.window(mark),
        "joins": joins,
        "exec_sum_s": round(sum(s["run_s"] for s in stages), 3),
        "per_stage": stages,
        "operators": operators,
    }


def main() -> int:
    from bench import HEADLINE
    from iceberg_aws_event_based_table_management_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("ebtm-measure")
    spark.sparkContext.setLogLevel("ERROR")
    for name in sys.argv[1:] or HEADLINE:
        print(json.dumps(measure(spark, name, sf_dir)), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
