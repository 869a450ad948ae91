"""Time registered queries and say where the time went.

    SPARK_GRAFT_SF_DIR=DIR python tools/measure.py [query ...]

Prints one JSON line per query (default: bench.HEADLINE; DIR defaults
to /root/testdata/sf0.1).  ``run_once`` is the one timed run of a query
in this repo; ``bench.py``, ``smoke_all.py`` and ``ab_compare.py`` time
through it.  It runs build -> ``executedPlan()`` -> noop sink, the
perfbench ``query_mix`` protocol, and a query's wall is ``build_s +
exec_s``: build plus the sink, which plans the write again.

``measure`` is one warm run, then 3 timed runs.  Its record holds the
warm run's wall (``cold_s``), each timed run's wall (``runs_s``), the
medians of ``build_s``, ``plan_s`` and ``exec_s`` and, for the last
run, what the Spark status store kept of it (the UI stays off):

- window totals as ``perfbench.probe.SparkCounters.window`` counts
  them (jobs, stages, tasks, shuffle bytes, spill, exchanges), marked
  before the build so work a query does eagerly while it is built
  counts too;
- ``joins``: join operators per strategy in the executed plans;
- ``per_stage``: executor run time, tasks, shuffle bytes and spill of
  each completed stage, and their run-time sum ``exec_sum_s``;
- ``operators``: ``number of output rows`` of each plan node.

A scale sweep is ``tools/build_sf1.py --mult K --out D`` followed by
``SPARK_GRAFT_SF_DIR=D python tools/measure.py ...`` (or ``bench.py``).
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
from perfbench.probe import SparkCounters, _seq, exchange_count  # noqa: E402
from py4j.protocol import Py4JJavaError  # noqa: E402

RUNS = 3
TIMES = ("build_s", "plan_s", "exec_s")


def _settle(counters: SparkCounters) -> None:
    """Wait until the status store has seen every event so far; the
    listener bus feeds it asynchronously."""
    counters._jsc.listenerBus().waitUntilEmpty()


def _mark(counters: SparkCounters) -> tuple[int, int]:
    """(highest job id, highest SQL execution id) so far.  Read from the
    list ends — ``jobsList(None)`` is newest-first, ``executionsList()``
    oldest-first — so a read costs a few py4j calls however many jobs
    and executions the session has retained."""
    jobs = counters._jsc.statusStore().jobsList(None)
    execs = counters._sql.executionsList()
    n = execs.size()
    return (
        jobs.head().jobId() if jobs.nonEmpty() else -1,
        execs.apply(n - 1).executionId() if n else -1,
    )


def _jobs_after(counters: SparkCounters, job_mark: int) -> list:
    """The jobs after ``job_mark``, walking the newest-first list only
    down to the mark."""
    jobs = counters._jsc.statusStore().jobsList(None)
    out = []
    for i in range(jobs.size()):
        j = jobs.apply(i)
        if j.jobId() <= job_mark:
            break
        out.append(j)
    return out


def _executions_after(counters: SparkCounters, exec_mark: int) -> list:
    """The SQL executions after ``exec_mark``, oldest first, walking the
    oldest-first list back from its end only down to the mark."""
    execs = counters._sql.executionsList()
    out = []
    for i in range(execs.size() - 1, -1, -1):
        e = execs.apply(i)
        if e.executionId() <= exec_mark:
            break
        out.append(e)
    return out[::-1]


def _stages(counters: SparkCounters, jobs: list) -> list[dict]:
    """Executor run time, tasks, shuffle bytes and spill of each stage
    the ``jobs`` completed."""
    store = counters._jsc.statusStore()
    out = []
    for sid in sorted({sid for j in jobs for sid in _seq(j.stageIds())}):
        try:
            st = store.lastStageAttempt(sid)
        except Py4JJavaError:
            continue  # dropped: a full store drops skipped stages first
        if st.status().toString() != "COMPLETE":
            continue  # skipped: its shuffle output was reused
        out.append({
            "stage": sid,
            "run_s": st.executorRunTime() / 1000.0,
            "tasks": st.numCompleteTasks(),
            "shuffle_read_bytes": st.shuffleReadBytes(),
            "shuffle_write_bytes": st.shuffleWriteBytes(),
            "spill_bytes": st.memoryBytesSpilled() + st.diskBytesSpilled(),
        })
    return out


def _window(counters: SparkCounters, mark: tuple[int, int]) -> dict:
    """``SparkCounters.window``'s totals, summed over ``_stages``:
    ``window`` raises on a stage the store has dropped, which a long
    session reaches (a full test run did: "No stage with id N")."""
    jobs = _jobs_after(counters, mark[0])
    stages = _stages(counters, jobs)
    out = {"jobs": len(jobs), "stages": len(stages)}
    for key in ("tasks", "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes"):
        out[key] = sum(s[key] for s in stages)
    out["exchanges"] = sum(
        exchange_count(e.physicalPlanDescription()) for e in _executions_after(counters, mark[1])
    )
    return out


def _executions(counters: SparkCounters, exec_mark: int) -> tuple[dict, list[dict]]:
    """Join strategies and per-operator output rows of every SQL
    execution after ``exec_mark``."""
    sql = counters._sql
    joins: dict[str, int] = {}
    operators = []
    for e in _executions_after(counters, exec_mark):
        eid = e.executionId()
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


def sf_dir_from_env() -> str:
    return os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def wall(run: dict) -> float:
    return run["build_s"] + run["exec_s"]


def run_once(spark, fn, sf_dir: str) -> dict:
    """One timed run of query callable ``fn``: seconds to build, plan
    and noop-sink it, and the status-store totals of the work it did.
    Settling and counting stay outside the timed windows."""
    counters = SparkCounters(spark)
    _settle(counters)
    mark = _mark(counters)  # before the build: eager builds count too
    t0 = time.perf_counter()
    df = fn(spark, sf_dir)
    t1 = time.perf_counter()
    df._jdf.queryExecution().executedPlan()
    t2 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    t3 = time.perf_counter()
    _settle(counters)
    return {"build_s": t1 - t0, "plan_s": t2 - t1, "exec_s": t3 - t2, **_window(counters, mark)}


def measure(spark, name: str, sf_dir: str) -> dict:
    """Layer timings and status-store counters for one registered query."""
    engine.load_all_queries()
    fn = engine.query_map()[name]
    counters = SparkCounters(spark)
    cold = run_once(spark, fn, sf_dir)  # warm: JIT, codegen, page cache
    runs = [run_once(spark, fn, sf_dir) for _ in range(RUNS - 1)]
    mark = _mark(counters)  # the run before settled: this opens the last run's window
    runs.append(run_once(spark, fn, sf_dir))
    stages = _stages(counters, _jobs_after(counters, mark[0]))
    joins, operators = _executions(counters, mark[1])
    return {
        "query": name,
        "cold_s": round(wall(cold), 4),
        "runs_s": [round(wall(r), 4) for r in runs],
        **{k: round(statistics.median(r[k] for r in runs), 4) for k in TIMES},
        **{k: v for k, v in runs[-1].items() if k not in TIMES},
        "joins": joins,
        "exec_sum_s": round(sum(s["run_s"] for s in stages), 3),
        "per_stage": stages,
        "operators": operators,
    }


def main() -> int:
    from bench import HEADLINE
    from iceberg_aws_event_based_table_management_spark.session import get_spark

    sf_dir = sf_dir_from_env()
    spark = get_spark("ebtm-measure")
    spark.sparkContext.setLogLevel("ERROR")
    for name in sys.argv[1:] or HEADLINE:
        print(json.dumps(measure(spark, name, sf_dir)), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
