"""The three workloads.

Each workload generates its inputs from the seed, warms up, then runs
whole *units* of measured work; a unit has a fixed size, so metrics do
not depend on how many units fit in the run.  Operations are timed
from the harness around public engine calls; with a tracer the same
calls also record spans.
"""

from __future__ import annotations

import contextlib
import dataclasses
import os
import random
import statistics
import time

import pyarrow.parquet as pq

from . import datagen, oracle
from .stats import beyond, geomean, percentile, tail_percentile

NOW = "2024-01-31 00:00:00"  # config.NOW_LITERAL: just past the events' span


@dataclasses.dataclass
class Unit:
    """One unit of measured work."""

    wall_s: float
    op_latencies: list[float]
    throughput: float  # items per second, per the workload's definition
    extra: dict = dataclasses.field(default_factory=dict)
    #: what each latency is of (same order); repeated across units, so
    #: each operation gets one median over the run.  Empty: by position.
    op_keys: list[str] = dataclasses.field(default_factory=list)
    cpu_s: float = 0.0  # program CPU seconds (process tree less JIT threads), set by the harness


def op_medians(units: list[Unit]) -> list[float]:
    """Each operation's median latency over the units: a run that
    repeats its work reports every operation once, robust to a slow
    pass."""
    by_key: dict = {}
    for u in units:
        for k, x in zip(u.op_keys or range(len(u.op_latencies)), u.op_latencies):
            by_key.setdefault(k, []).append(x)
    return [statistics.median(v) for v in by_key.values()]


class Checks:
    """Output checks; each one is an attempted operation."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed: list[str] = []

    def expect(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed.append(what)


def tally(units: list[Unit], checks: Checks) -> tuple[int, int]:
    """(attempted, failed): every operation and every output check
    counts once; an operation that raised or a check that mismatched
    counts as failed."""
    attempted = sum(u.extra["attempted_ops"] for u in units) + checks.attempted
    failed = sum(u.extra["failed_ops"] for u in units) + len(checks.failed)
    return attempted, failed


class Workload:
    """Shared plumbing: the optional tracer the harness attaches."""

    name = ""
    UNIT_S = 10.0  # nominal seconds of one unit on 4 cores; sets units per run
    tag_jobs = True  # tag the Spark jobs of each span (see Tracer.span)

    def __init__(self, spark, work: str, seed: int) -> None:
        self.spark, self.work, self.seed = spark, work, seed
        self.tracer = None

    def span(self, name: str, request: str | None = None):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name, request=request, tag_jobs=self.tag_jobs)

    def check(self, checks: Checks) -> None:
        pass

    def outcome(self, units: list[Unit]) -> dict:
        return {}

    def figures(self, units: list[Unit], outcome: dict) -> dict:
        """This workload's own figures, a subset of ``FIGURES``."""
        return {}


#: Figures each workload reports about itself (0 on the other workloads).
FIGURES = (
    "commit_p50_s",
    "commit_p90_s",
    "commit_p90_beyond",
    "commits_per_s",
    "optimize_lag_p50_s",
    "files_per_table_end",
    "write_amp",
    "space_amp",
    "query_total_s",
    "query_geomean_s",
    "stream_state_events_per_s",
    "stream_table_events_per_s",
)


def _ls_parquet(d: str) -> dict[str, int]:
    try:
        names = os.listdir(d)
    except FileNotFoundError:
        return {}
    out = {}
    for n in names:
        if n.endswith(".parquet"):
            try:
                out[n] = os.path.getsize(os.path.join(d, n))
            except FileNotFoundError:
                continue
    return out


def _dir_bytes(d: str) -> int:
    return sum(
        os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(d) for f in fs
    )


# -- commit_loop --------------------------------------------------------


class CommitLoop(Workload):
    """A closed-loop writer committing lineitem slices through
    ``CommitReporter.reported_append`` under engine defaults (commit
    threshold 10, async ``local-compaction`` executor).  A unit is one
    epoch on fresh tables: table 0 takes ten commits and fires a
    compaction, the writer commits to table 1 while that job runs, then
    commits to table 0 again, first waiting for its in-flight job."""

    name = "commit_loop"
    UNIT_S = 20.0
    SCHEDULE = (0,) * 10 + (1, 0)  # table index of each commit
    THRESHOLD = 10  # config.COMMIT_THRESHOLD
    ROWS_PER_COMMIT = 3000
    LINEITEM_DDL = (
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
        "l_quantity double, l_extendedprice double, l_discount double, l_tax double, "
        "l_returnflag string, l_linestatus string, l_shipdate timestamp_ntz"
    )

    def __init__(self, spark, work: str, seed: int) -> None:
        super().__init__(spark, work, seed)
        self.n_commits = len(self.SCHEDULE)
        self.epochs = 0
        self.jobs: list = []
        self.tables: list[str] = []
        self.appended_rows: dict[str, int] = {}
        self.written: dict[str, dict[str, int]] = {}

    def _slice(self, i: int):
        return self.spark.read.schema(self.LINEITEM_DDL).parquet(
            os.path.join(self.work, "slices", f"c{i:04d}.parquet")
        )

    def generate(self) -> None:
        d = os.path.join(self.work, "slices")
        os.makedirs(d, exist_ok=True)
        for i, t in enumerate(datagen.commit_slices(self.seed, self.n_commits, self.ROWS_PER_COMMIT)):
            pq.write_table(t, os.path.join(d, f"c{i:04d}.parquet"))

    def warm(self, checks: Checks) -> None:
        from iceberg_aws_event_based_table_management_spark.operators import jobs

        rep = jobs.CommitReporter(self.spark, {"optimize-data.commit-threshold": "2"})
        table = os.path.join(self.work, "warm", "tbl")
        for i in range(2):
            job = rep.reported_append(self._slice(i), table)
        if job is not None:
            job.wait_for_completion()

    def unit(self) -> Unit:
        from iceberg_aws_event_based_table_management_spark.operators import jobs

        epoch = self.epochs
        self.epochs += 1
        rep = jobs.CommitReporter(self.spark)
        tables = [os.path.join(self.work, f"epoch{epoch}", f"tbl{j}") for j in sorted(set(self.SCHEDULE))]
        inflight: dict[str, object] = {}
        fired: list = []
        lat: list[float] = []
        keys: list[str] = []
        wait_s = 0.0
        failed_ops = 0
        t_start = time.perf_counter()
        for i in range(self.n_commits):
            table = tables[self.SCHEDULE[i]]
            job = inflight.pop(table, None)
            if job is not None:
                w0 = time.perf_counter()
                try:
                    job.wait_for_completion()
                except RuntimeError:
                    pass  # reported by the SUCCEEDED check
                wait_s += time.perf_counter() - w0
            self._note_files(table)
            t0 = time.perf_counter()
            try:
                with self.span("commit", request=f"commit-{epoch}-{i}"):
                    job = rep.reported_append(self._slice(i), table)
            except Exception:  # noqa: BLE001 - a failed commit counts, the loop goes on
                failed_ops += 1
                continue
            lat.append(time.perf_counter() - t0)
            keys.append(f"commit{i}")
            self.appended_rows[table] = self.appended_rows.get(table, 0) + self.ROWS_PER_COMMIT
            self._note_files(table)
            if job is not None:
                inflight[table] = job
                fired.append(job)
        t_end = time.perf_counter()
        for job in inflight.values():
            try:
                job.wait_for_completion()
            except RuntimeError:
                pass
        for t in tables:
            self._note_files(t)
        self.tables.extend(tables)
        self.jobs.extend(fired)
        return Unit(
            wall_s=t_end - t_start,
            op_latencies=lat,
            op_keys=keys,
            throughput=len(lat) / (t_end - t_start),
            extra={
                "writer_wait_s": wait_s,
                "failed_ops": failed_ops,
                "attempted_ops": self.n_commits,
                "tables": tables,
                "jobs": fired,
            },
        )

    def _note_files(self, table: str) -> None:
        """Remember every data file ever seen; compaction deletes its
        inputs, so appends are noted right after their commit."""
        self.written.setdefault(table, {}).update(_ls_parquet(os.path.join(table, "data")))

    def _snapshots(self, table: str) -> list[tuple[int, str]]:
        t = pq.read_table(os.path.join(table, "_snapshots"), columns=["snapshot_id", "operation"])
        return sorted(zip(t.column("snapshot_id").to_pylist(), t.column("operation").to_pylist()))

    def check(self, checks: Checks) -> None:
        for table in self.tables:
            data = os.path.join(table, "data")
            rows = sum(pq.read_metadata(os.path.join(data, f)).num_rows for f in _ls_parquet(data))
            checks.expect(rows == self.appended_rows.get(table, -1), f"{table}: rows {rows}")
            n_replace = sum(1 for _, op in self._snapshots(table) if op == "replace")
            commits = self.appended_rows.get(table, 0) // self.ROWS_PER_COMMIT
            checks.expect(n_replace == commits // self.THRESHOLD, f"{table}: {n_replace} REPLACE snapshots")
        for job in self.jobs:
            checks.expect(job.state == "SUCCEEDED", f"job on {job.table_dir} ended {job.state}")

    def outcome(self, units: list[Unit]) -> dict:
        """Read/write/space amplification, optimize lag and file counts."""
        tables = [t for u in units for t in u.extra["tables"]]
        jobs = [j for u in units for j in u.extra["jobs"]]
        appended = written = end_bytes = 0
        lags, files_end, sidecars, snap_files = [], [], 0, 0
        for table in tables:
            seen = self.written.get(table, {})
            app = sum(v for k, v in seen.items() if k.startswith("part-"))
            snaps_dir = os.path.join(table, "_snapshots")
            snap_bytes = sum(_ls_parquet(snaps_dir).values())
            appended += app
            written += sum(seen.values()) + snap_bytes
            end_bytes += _dir_bytes(table)
            data = os.path.join(table, "data")
            files_end.append(len(_ls_parquet(data)))
            names = set(os.listdir(data))
            sidecars += sum(
                1 for n in names if n.endswith(".crc") and n[1:-4] not in names
            )
            snap_files += len(_ls_parquet(snaps_dir))
            last_append = None
            for sid, op in self._snapshots(table):
                if op == "append":
                    last_append = sid
                elif op == "replace" and last_append is not None:
                    lags.append((sid - last_append) / 1e9)
        return {
            "files_per_table_end": sum(files_end) / len(files_end),
            "write_amp": written / appended,
            "space_amp": end_bytes / appended,
            "optimize_lag_p50_s": percentile(lags, 50) if lags else 0.0,
            "maintenance.orphan_sidecars_end": sidecars,
            "maintenance.snapshot_files_end": snap_files,
            "maintenance.bytes_rewritten": sum(
                v for t in tables for k, v in self.written.get(t, {}).items() if k.startswith("compacted-")
            ),
            "jobs.fired": len(jobs),
            "jobs.failed": sum(1 for j in jobs if j.state != "SUCCEEDED"),
        }

    def figures(self, units: list[Unit], outcome: dict) -> dict:
        lat = [x for u in units for x in u.op_latencies]
        keys = ("optimize_lag_p50_s", "files_per_table_end", "write_amp", "space_amp")
        return {
            "commit_p50_s": percentile(lat, 50),
            "commit_p90_s": percentile(lat, 90),
            "commit_p90_beyond": beyond(lat, 90),
            "commits_per_s": statistics.median(u.throughput for u in units),
            **{k: outcome[k] for k in keys},
        }


# -- query_mix ----------------------------------------------------------

#: Headline queries from bench.py, one or more per operator family:
#: control plane, maintenance planning, relational, dedup, similarity,
#: text and streaming-as-batch.
QUERY_MIX = (
    "should_optimize_decision",
    "binpack_group_assignment",
    "agg_pricing_summary",
    "dedup_exact_documents",
    "topk_similarity_bruteforce",
    "tfidf_top_terms",
    "stream_tumbling_commits_per_hour",
    "bm25_topk_retrieval",
)


class QueryMix(Workload):
    """The query mix at sf0.01: a unit is one pass over every query in a
    seeded order, each built, planned (``executedPlan``) and forced
    through the noop sink."""

    name = "query_mix"
    UNIT_S = 10 / 3  # three passes in a 10 s run
    SF = 0.01

    def __init__(self, spark, work: str, seed: int) -> None:
        super().__init__(spark, work, seed)
        self.sf_dir = os.path.join(work, "sf")
        self.passes = 0

    def generate(self) -> None:
        datagen.write_tables(self.sf_dir, self.seed, self.SF)

    def _qmap(self):
        import iceberg_aws_event_based_table_management_spark as engine

        engine.load_all_queries()
        return engine.query_map()

    def warm(self, checks: Checks) -> float:
        """One pass that collects each result and checks it against the
        DuckDB oracle, then one plain pass; returns the seconds spent in
        the oracle, which are not part of set-up."""
        import iceberg_aws_event_based_table_management_spark as engine

        qmap, omap = self._qmap(), engine.oracle_map()
        con = oracle.connect(self.sf_dir)
        oracle_s = 0.0
        for name in QUERY_MIX:
            try:
                tbl = qmap[name](self.spark, self.sf_dir).toArrow()
            except Exception as e:  # noqa: BLE001 - a failing query is a failed check
                checks.expect(False, f"{name}: {type(e).__name__}: {e}"[:300])
                continue
            t0 = time.perf_counter()
            cols = tbl.schema.names
            rows = [tuple(r[c] for c in cols) for r in tbl.to_pylist()]
            dcols, drows = oracle.run_oracle(con, omap[name])
            why = oracle.mismatch(cols, rows, dcols, drows)
            oracle_s += time.perf_counter() - t0
            checks.expect(why is None, f"{name}: {why}")
        con.close()
        self.unit()  # one more pass: the code the first ran is still part interpreted
        return oracle_s

    def unit(self) -> Unit:
        qmap = self._qmap()
        order = list(QUERY_MIX)
        random.Random(self.seed * 1000 + self.passes).shuffle(order)
        self.passes += 1
        lat, keys, failed = [], [], 0
        t_start = time.perf_counter()
        for name in order:
            try:
                t0 = time.perf_counter()
                with self.span("query", request=name):
                    df = qmap[name](self.spark, self.sf_dir)  # build
                    with self.span("queries.plan"):
                        df._jdf.queryExecution().executedPlan()
                    with self.span("queries.exec"):
                        df.write.format("noop").mode("overwrite").save()
                lat.append(time.perf_counter() - t0)
                keys.append(name)
            except Exception:  # noqa: BLE001 - counted as a failed operation
                failed += 1
        wall = time.perf_counter() - t_start
        return Unit(
            wall_s=wall,
            op_latencies=lat,
            op_keys=keys,
            throughput=len(lat) / wall,
            extra={"failed_ops": failed, "attempted_ops": len(order)},
        )

    def figures(self, units: list[Unit], outcome: dict) -> dict:
        return {
            "query_total_s": statistics.median(sum(u.op_latencies) for u in units),
            "query_geomean_s": geomean(op_medians(units)),
        }


# -- trigger_replay -----------------------------------------------------


class TriggerReplay(Workload):
    """The sf0.01 ``events`` commit log replayed through both
    stateful-trigger forms: ``stateful_trigger_stream`` into
    ``run_to_memory`` (state-store form) and ``run_stateful_trigger``
    (foreachBatch into a snapshot table).  A unit is one replay of each
    form, with the chunk arrival order permuted by seed."""

    name = "trigger_replay"
    tag_jobs = False  # these spans start streaming queries
    SF = 0.01
    CHUNKS = 4

    def __init__(self, spark, work: str, seed: int) -> None:
        super().__init__(spark, work, seed)
        self.sf_dir = os.path.join(work, "sf")
        self.replays = 0
        self.results: list[tuple[str, dict]] = []
        self.listener = None

    def generate(self) -> None:
        from iceberg_aws_event_based_table_management_spark.streaming import replay

        datagen.write_tables(self.sf_dir, self.seed, self.SF, names=("events",))
        self.n_events = pq.read_metadata(os.path.join(self.sf_dir, "events.parquet")).num_rows
        self.replay_path = replay.replay_dir(self.spark, self.sf_dir, self.work, self.CHUNKS)

    def _attach_listener(self):
        if self.listener is None:
            from .probe import ProgressListener

            self.listener = ProgressListener()
            self.spark.streams.addListener(self.listener)
        return self.listener

    def _permute(self, path: str, order: list[int]) -> None:
        base = 1_600_000_000
        for pos, chunk in enumerate(order):
            cdir = os.path.join(path, f"chunk={chunk}")
            for f in os.listdir(cdir):
                os.utime(os.path.join(cdir, f), (base + pos + 1, base + pos + 1))

    def _run_forms(self, path: str, tag: str):
        """Replay both forms; returns per-form (seconds, decisions, progress)."""
        from iceberg_aws_event_based_table_management_spark.streaming import replay

        listener = self._attach_listener()
        out = {}
        before = set(listener.terminated)
        t0 = time.perf_counter()
        with self.span("replay.state_form", request=f"state-{tag}"):
            stream = replay.stateful_trigger_stream(replay.read_stream(self.spark, path), now=NOW)
            table = replay.run_to_memory(stream, f"pb_state_{tag}", output_mode="update")
        t_state = time.perf_counter() - t0
        final: dict[str, dict] = {}
        for r in table.collect():
            d = r.asDict()
            if d["table_name"] not in final or d["n_commits_seen"] > final[d["table_name"]]["n_commits_seen"]:
                final[d["table_name"]] = d
        for d in final.values():
            d.pop("n_commits_seen")
        out["state"] = (t_state, final, listener.ended_since(before))

        before = set(listener.terminated)
        t0 = time.perf_counter()
        with self.span("replay.table_form", request=f"table-{tag}"):
            rows = replay.run_stateful_trigger(
                self.spark, path, os.path.join(self.work, f"fb_{tag}"), now=NOW
            ).collect()
        t_table = time.perf_counter() - t0
        out["table"] = (
            t_table,
            {r["table_name"]: r.asDict() for r in rows},
            listener.ended_since(before),
        )
        return out

    def warm(self, checks: Checks) -> None:
        self._run_forms(self.replay_path, "warm")

    def unit(self) -> Unit:
        k = self.replays
        self.replays += 1
        order = list(range(1, self.CHUNKS + 1))
        random.Random(self.seed * 1000 + k).shuffle(order)
        self._permute(self.replay_path, order)
        forms = self._run_forms(self.replay_path, f"u{k}")
        lat, keys, progress_all = [], [], []
        for form, (_, decisions, progress) in forms.items():
            self.results.append((f"{form} order={order}", decisions))
            progress_all.extend(progress)
            for p in progress:
                ms = p["duration_ms"].get("triggerExecution", 0)
                if ms > 0:
                    lat.append(ms / 1000)
                    keys.append(f"{form}.batch{p['batch_id']}")
        t_state, t_table = forms["state"][0], forms["table"][0]
        return Unit(
            wall_s=t_state + t_table,
            op_latencies=lat,
            op_keys=keys,
            throughput=2 * self.n_events / (t_state + t_table),
            extra={
                "stream_state_events_per_s": self.n_events / t_state,
                "stream_table_events_per_s": self.n_events / t_table,
                "failed_ops": 0,
                "attempted_ops": 2,
                "progress": progress_all,
            },
        )

    def figures(self, units: list[Unit], outcome: dict) -> dict:
        return {
            k: statistics.median(u.extra[k] for u in units)
            for k in ("stream_state_events_per_s", "stream_table_events_per_s")
        }

    def expected_decisions(self) -> dict:
        from iceberg_aws_event_based_table_management_spark import io
        from iceberg_aws_event_based_table_management_spark.operators import trigger

        rows = trigger.decide_optimize(io.snapshots(self.spark, self.sf_dir), now=NOW).collect()
        return {r["table_name"]: r.asDict() for r in rows}

    def check(self, checks: Checks) -> None:
        expected = self.expected_decisions()
        for what, got in self.results:
            bad = [t for t in expected if got.get(t) != expected[t]]
            checks.expect(
                not bad and len(got) == len(expected),
                f"{what}: {len(bad)} tables differ from the batch decision",
            )

    def outcome(self, units: list[Unit]) -> dict:
        p = [x for u in units for x in u.extra["progress"]]
        last_state = [x for x in p if x["state"]]
        last = last_state[-1]["state"] if last_state else []

        def total(key):
            return sum(x["duration_ms"].get(key, 0) for x in p) / 1000

        return {
            "replay.batches": len(p),
            "replay.add_batch_s": total("addBatch"),
            "replay.planning_s": total("queryPlanning"),
            "replay.wal_commit_s": total("walCommit"),
            "replay.state_commit_s": sum(s["commit_ms"] for x in p for s in x["state"]) / 1000,
            "replay.state_rows_end": sum(s["rows_total"] for s in last),
            "replay.state_memory_bytes": sum(s["memory_bytes"] for s in last),
        }


WORKLOADS = {w.name: w for w in (CommitLoop, QueryMix, TriggerReplay)}


def summarize(units: list[Unit]) -> dict:
    """Per-run end-to-end figures from the measured units."""
    lat = [x for u in units for x in u.op_latencies]
    return {
        "op_p50_s": percentile(lat, 50),
        "op_tail": tail_percentile(lat),  # None below 20 samples
        "op_geomean_s": geomean(op_medians(units)),
        "cpu_per_op_s": statistics.median(u.cpu_s / max(1, len(u.op_latencies)) for u in units),
        "throughput_per_s": statistics.median(u.throughput for u in units),
        "unit_s": statistics.median(u.wall_s for u in units),
        "n_ops": len(lat),
    }
