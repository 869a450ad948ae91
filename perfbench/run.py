"""Benchmark entry point.

    python3 perfbench/run.py --workload {commit_loop,query_mix,trigger_replay}
        --seed N --seconds S --trace {0,1}

Run from the repository root.  Starts one Spark session on local[nproc],
generates the workload's inputs from the seed, warms up, measures
round(S / unit seconds) whole units of work (at least one), checks the
outputs, and prints one JSON line last:
``{"correct", "attempted", "failed", "metrics"}``.  With --trace 0 the
metrics are the end-to-end ones; with --trace 1 the run measures one
untraced unit, one unit with span wrappers installed and one more
untraced unit, and reports per-layer metrics from the traced unit,
tracing overhead included.  The line before it carries the full
run record; the record and the spans are also written under
``.perfbench/results/``.  Everything the run writes stays inside the
repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "iceberg_aws_event_based_table_management_spark"
DRIVER_MEMORY = "1g"


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["commit_loop", "query_mix", "trigger_replay"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def _configure_env(work: str, cpus: int) -> None:
    """Keep Spark's scratch space, the JVM's temp dir and Python's
    tempfile inside the checkout; size the session to this machine."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            # a fixed set of JIT compiler threads, so their CPU can be
            # told apart from the program's (probe.jit_cpu_s)
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UseDynamicNumberOfCompilerThreads'",
            "--conf spark.ui.retainedJobs=100000",
            "--conf spark.ui.retainedStages=100000",
            "--conf spark.sql.ui.retainedExecutions=100000",
            "pyspark-shell",
        ]
    )


def _stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - last resort, then wait again
            proc.kill()
            proc.wait(timeout=30)


#: Module attributes wrapped in a traced run, by engine module; the
#: span of each is named "<module>.<attribute>".
TRACED = {
    "maintenance": ("append_snapshot", "read_snapshots", "compact_table", "file_inventory", "plan_binpack_groups"),
    "trigger": ("decide_optimize",),
    "jobs": ("evaluate_and_maybe_optimize",),
    "replay": ("replay_dir", "read_stream", "stateful_trigger_stream", "run_to_memory", "run_stateful_trigger"),
}


def _install_tracer(tracer) -> None:
    """Wrap the module attributes each layer is entered through."""
    import dataclasses

    from iceberg_aws_event_based_table_management_spark import registry
    from iceberg_aws_event_based_table_management_spark.operators import jobs, maintenance, trigger
    from iceberg_aws_event_based_table_management_spark.streaming import replay

    from perfbench.workloads import QUERY_MIX

    modules = {"maintenance": maintenance, "trigger": trigger, "jobs": jobs, "replay": replay}
    for mod, fns in TRACED.items():
        for fn in fns:
            # pyspark 4.1's listener cannot parse a query-start event that
            # carries job tags, so spans around stream starts tag no jobs
            tracer.wrap(modules[mod], fn, f"{mod}.{fn}", tag_jobs=mod != "replay")
    tracer.wrap(jobs.CommitReporter, "reported_append", "jobs.reported_append")
    tracer.wrap_async_job(jobs.LocalCompactionExecutor, "jobs.compaction_job")
    # registry entries are frozen dataclasses: swap in traced copies
    originals = {n: registry.QUERIES[n] for n in QUERY_MIX if n in registry.QUERIES}
    for n, q in originals.items():
        registry.QUERIES[n] = dataclasses.replace(q, fn=tracer.traced(q.fn, f"q.{n}"))
    tracer.on_uninstall(lambda: registry.QUERIES.update(originals))


def _layer_metrics(tracer, counters, outcome, units, session_s) -> dict:
    from perfbench.tracing import self_times
    from perfbench.workloads import QUERY_MIX

    spans = [s for s in tracer.spans if s.end is not None]
    selfs = self_times(spans)

    def total(name):
        return sum(s.duration for s in spans if s.name == name)

    def calls(name):
        return sum(1 for s in spans if s.name == name)

    def self_total(name):
        return sum(selfs[s.id] for s in spans if s.name == name)

    m = {
        "session.start_s": session_s,
        "jobs.reported_append.self_s": self_total("jobs.reported_append"),
        "jobs.evaluate.self_s": self_total("jobs.evaluate_and_maybe_optimize"),
        "maintenance.append_snapshot.s": total("maintenance.append_snapshot"),
        "maintenance.append_snapshot.calls": calls("maintenance.append_snapshot"),
        "maintenance.read_snapshots.s": total("maintenance.read_snapshots"),
        "maintenance.compact_table.s": total("maintenance.compact_table"),
        "maintenance.compact_table.calls": calls("maintenance.compact_table"),
        "maintenance.file_inventory.s": total("maintenance.file_inventory"),
        "maintenance.plan_binpack_groups.s": total("maintenance.plan_binpack_groups"),
        "trigger.decide.calls": calls("trigger.decide_optimize"),
        "trigger.decide.s": total("trigger.decide_optimize"),
        "jobs.writer_wait_s": sum(u.extra.get("writer_wait_s", 0.0) for u in units),
        "queries.build_s": sum(total(f"q.{n}") for n in QUERY_MIX),
        "queries.plan_s": total("queries.plan"),
        "queries.exec_s": total("queries.exec"),
    }
    for n in QUERY_MIX:
        m[f"q.{n}.s"] = sum(s.duration for s in spans if s.name == "query" and s.request == n)
    for key in (
        "maintenance.snapshot_files_end",
        "maintenance.orphan_sidecars_end",
        "maintenance.bytes_rewritten",
        "jobs.fired",
        "jobs.failed",
        "replay.batches",
        "replay.add_batch_s",
        "replay.planning_s",
        "replay.wal_commit_s",
        "replay.state_commit_s",
        "replay.state_rows_end",
        "replay.state_memory_bytes",
    ):
        m[key] = outcome.get(key, 0)
    for key in ("jobs", "stages", "tasks", "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes", "exchanges"):
        m[f"spark.{key}"] = counters.get(key, 0)
    return m


def _unit(workload, jvm_pid: int):
    """One unit of work, with the CPU seconds the program spent on it:
    this process, the driver JVM's threads and the Python workers,
    less the JVM's JIT compiler threads (warm-up, not the program)."""
    from perfbench.probe import jit_cpu_s, tree_cpu_s

    cpu0, jit0 = tree_cpu_s(os.getpid()), jit_cpu_s(jvm_pid)
    unit = workload.unit()
    unit.cpu_s = tree_cpu_s(os.getpid()) - cpu0 - (jit_cpu_s(jvm_pid) - jit0)
    return unit


def _run_units(workload, seconds: float, jvm_pid: int) -> list:
    """round(seconds / workload.UNIT_S) whole units, at least one.

    The count depends on --seconds only, never on how fast this machine
    runs, so every run of a workload measures the same work."""
    return [_unit(workload, jvm_pid) for _ in range(max(1, round(seconds / workload.UNIT_S)))]


def main(argv=None) -> int:
    args = _parse(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: engine package {PACKAGE!r} not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench", f"work-{args.workload}-{args.seed}-{os.getpid()}")
    results = os.path.join(ROOT, ".perfbench", "results")
    _configure_env(work, cpus)

    import pyspark
    from pyspark import SparkContext

    from perfbench import probe, tracing
    from perfbench.stats import error_rate
    from perfbench.workloads import FIGURES, WORKLOADS, Checks, summarize, tally

    from iceberg_aws_event_based_table_management_spark.session import get_spark

    checks = Checks()
    spark = None
    try:
        with probe.ResourceMonitor() as mon:
            t_setup = time.perf_counter()
            spark = get_spark(f"perfbench-{args.workload}")
            session_s = time.perf_counter() - t_setup
            spark.sparkContext.setLogLevel("ERROR")
            workload = WORKLOADS[args.workload](spark, os.path.join(work, "data"), args.seed)
            workload.generate()
            warm_extra = workload.warm(checks) or 0.0  # seconds spent outside set-up
            setup_s = time.perf_counter() - t_setup - warm_extra

            counters = probe.SparkCounters(spark)
            tracer = None
            if args.trace:
                # untraced, traced, untraced: the overhead estimate
                # cancels a linear drift such as a still-warming JIT
                untraced = [workload.unit()]
                tracer = tracing.Tracer(spark.sparkContext)
                workload.tracer = tracer
                _install_tracer(tracer)
            mark = counters.mark()
            t_measure = time.perf_counter()
            jvm_pid = SparkContext._gateway.proc.pid
            units = [_unit(workload, jvm_pid)] if args.trace else _run_units(workload, args.seconds, jvm_pid)
            measured_s = time.perf_counter() - t_measure
            window = counters.window(mark)
            if tracer is not None:
                tracer.uninstall()
                workload.tracer = None
                span_counters = counters.per_tag(mark, "pbspan-")
                untraced.append(workload.unit())
            workload.check(checks)
            outcome = workload.outcome(units)
            mon.sample_now()
        all_units = units + (untraced if tracer is not None else [])
        attempted, failed = tally(all_units, checks)
        e2e = summarize(units)
        figures = dict.fromkeys(FIGURES, 0.0) | workload.figures(units, outcome)
        metrics_e2e = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "cpu_per_op_s": {"value": e2e["cpu_per_op_s"], "unit": "s"},
            "peak_pss_mb": {"value": mon.peak_pss_bytes / 2**20, "unit": "MB"},
        }
        record = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "context": {
                "cpus": cpus,
                "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
                "driver_memory": DRIVER_MEMORY,
                "pyspark": pyspark.__version__,
                "python": sys.version.split()[0],
                "git_commit": probe.git_commit(ROOT),
                "seed": args.seed,
                "cpu_steal_share": mon.steal_share,
            },
            "units": len(units),
            "measured_s": measured_s,
            "n_ops": e2e["n_ops"],
            "op_geomean_s": e2e["op_geomean_s"],
            "throughput_per_s": e2e["throughput_per_s"],
            "unit_cpu_s": [u.cpu_s for u in units],
            "op_p50_s": e2e["op_p50_s"],
            "op_tail": e2e["op_tail"],
            "unit_s": e2e["unit_s"],
            "op_latencies_s": [[round(x, 4) for x in u.op_latencies] for u in units],
            "error_rate": error_rate(attempted, failed),
            "failures": checks.failed[:20],
            "end_to_end": {k: v["value"] for k, v in metrics_e2e.items()},
            "workload_figures": figures,
            "spark": window,
            "outcome": outcome,
        }
        if tracer is not None:
            layers = _layer_metrics(tracer, window, outcome, units, session_s)
            traced_unit_s = units[0].wall_s
            untraced_unit_s = statistics.mean(u.wall_s for u in untraced)
            layers["tracing.overhead_s"] = traced_unit_s - untraced_unit_s
            layers["error_rate"] = record["error_rate"]
            layers["op_geomean_s"] = e2e["op_geomean_s"]
            layers["throughput_per_s"] = e2e["throughput_per_s"]
            layers.update(figures)
            record["per_layer"] = layers
            record["tracing"] = {
                "untraced_unit_s": [u.wall_s for u in untraced],
                "traced_unit_s": traced_unit_s,
                "overhead_s": layers["tracing.overhead_s"],
                "bypass_sites": tracing.bypass_sites(os.path.join(ROOT, PACKAGE), TRACED),
                "spans": len(tracer.spans),
            }
            for s in tracer.spans:
                s.counters = span_counters.get(f"pbspan-{s.id}", {})
            stem = f"{args.workload}-seed{args.seed}"
            tracer.write(os.path.join(results, f"{stem}-spans.jsonl"), t_setup)
            metrics = {k: {"value": v, "unit": _layer_unit(k)} for k, v in layers.items()}
        else:
            metrics = metrics_e2e
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    os.makedirs(results, exist_ok=True)
    with open(os.path.join(results, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    print(json.dumps(record, default=str))
    print(
        json.dumps(
            {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}
        )
    )
    return 0


def _layer_unit(name: str) -> str:
    if name.endswith("bytes") or name.endswith("bytes_rewritten"):
        return "bytes"
    if name.endswith("per_s"):
        return "1/s"
    if name.endswith("_s") or name.endswith(".s"):
        return "s"
    if name.endswith("_amp") or name == "error_rate":
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
