"""Job-runner plumbing — the Executor SPI re-expressed locally.

Models the reference's executor layer (SURVEY SS2-A A13, A17-A20):

- `Executor` SPI: `initialize(table, properties)` / `execute()`
  (Executor.java:17,22)
- dynamic dispatch by impl name via a registry (the Python analog of
  `loadExecutor`'s reflection, AwsTableManagementMetricsEvaluator.java:152-176)
- rendered job-script sink: writes the generated SQL/PySpark script to
  a file before running (`createFile`, BaseEmrOptimizeDataExecutor.java:82-89;
  PYTHON_JOB_TEMPLATE, EmrServerlessOptimizeDataExecutor.java:41-44)
- async submit + synchronous status polling every sleep-wait-ms
  (`synchronous-enabled` / `waitFor*`, AwsManageProperties.java:20-29,
  AthenaOptimizeDataExecutor.java:122-155)

The remote AWS backends become one local backend: a thread running the
native compaction (operators.maintenance).  The SPI shape is kept so a
real remote backend (e.g. an Iceberg `CALL system.rewrite_data_files`)
can slot in unchanged.
"""

from __future__ import annotations

import os
import threading
import time
import uuid
from typing import Protocol

from pyspark.sql import SparkSession

from .. import config, io
from . import maintenance

PYTHON_JOB_TEMPLATE = (
    "from pyspark.sql import SparkSession\n"
    "spark = SparkSession.builder.getOrCreate()\n"
    'spark.sql("%s").show()\n'
)


def render_python_job(sql: str) -> str:
    """A18: the 3-line generated PySpark driver
    (EmrServerlessOptimizeDataExecutor.java:123-135)."""
    return PYTHON_JOB_TEMPLATE % sql


def write_job_script(script_dir: str, content: str, suffix: str) -> str:
    """A17: job-script file sink — `query-<uuid>.sql|py`
    (EmrOnEksOptimizeDataExecutor.java:70-71; EmrServerless...:61-62)."""
    os.makedirs(script_dir, exist_ok=True)
    path = os.path.join(script_dir, f"query-{uuid.uuid4()}.{suffix}")
    with open(path, "w", encoding="utf-8") as fh:
        fh.write(content)
    return path


class Executor(Protocol):
    """The SPI (Executor.java:9-23)."""

    def initialize(self, table_dir: str, properties: dict[str, str]) -> None: ...

    def execute(self) -> None: ...


_EXECUTORS: dict[str, type] = {}


def register_executor(name: str):
    def deco(cls):
        _EXECUTORS[name] = cls
        cls.impl_name = name
        return cls

    return deco


def load_executor(impl: str) -> Executor:
    """A13: dynamic dispatch — registry lookup standing in for the
    no-arg-constructor reflection of `loadExecutor` (:152-176)."""
    try:
        return _EXECUTORS[impl]()
    except KeyError:
        raise ValueError(f"Cannot initialize Executor implementation {impl}") from None


class JobState:
    SUBMITTED = "SUBMITTED"
    RUNNING = "RUNNING"
    SUCCEEDED = "SUCCEEDED"
    FAILED = "FAILED"
    CANCELLED = "CANCELLED"

    TERMINAL = frozenset({"SUCCEEDED", "FAILED", "CANCELLED"})


# Per-backend poll-state vocabularies, mapped onto the canonical machine
# above.  Each dict mirrors one of the reference's four pollers:
# - athena:         QUEUED/RUNNING + FAILED/CANCELLED raise
#                   (AthenaOptimizeDataExecutor.java:122-155)
# - emr-ec2:        PENDING/RUNNING loop (EmrOnEc2OptimizeDataExecutor.java:101-130)
# - emr-eks:        SUBMITTED/PENDING/RUNNING loop
#                   (EmrOnEksOptimizeDataExecutor.java:165-196)
# - emr-serverless: +SCHEDULED pre-state
#                   (EmrServerlessOptimizeDataExecutor.java:154-186)
BACKEND_STATES: dict[str, dict[str, str]] = {
    "athena": {
        "QUEUED": JobState.SUBMITTED,
        "RUNNING": JobState.RUNNING,
        "SUCCEEDED": JobState.SUCCEEDED,
        "FAILED": JobState.FAILED,
        "CANCELLED": JobState.CANCELLED,
    },
    "emr-ec2": {
        "PENDING": JobState.SUBMITTED,
        "RUNNING": JobState.RUNNING,
        "COMPLETED": JobState.SUCCEEDED,
        "FAILED": JobState.FAILED,
        "INTERRUPTED": JobState.FAILED,
        "CANCEL_PENDING": JobState.RUNNING,
        "CANCELLED": JobState.CANCELLED,
    },
    "emr-eks": {
        "SUBMITTED": JobState.SUBMITTED,
        "PENDING": JobState.SUBMITTED,
        "RUNNING": JobState.RUNNING,
        "COMPLETED": JobState.SUCCEEDED,
        "FAILED": JobState.FAILED,
        "CANCEL_PENDING": JobState.RUNNING,
        "CANCELLED": JobState.CANCELLED,
    },
    "emr-serverless": {
        "SUBMITTED": JobState.SUBMITTED,
        "SCHEDULED": JobState.SUBMITTED,
        "PENDING": JobState.SUBMITTED,
        "RUNNING": JobState.RUNNING,
        "SUCCESS": JobState.SUCCEEDED,
        "FAILED": JobState.FAILED,
        "CANCELLING": JobState.RUNNING,
        "CANCELLED": JobState.CANCELLED,
    },
}


def normalize_backend_state(backend: str, raw_state: str) -> str:
    """Map a backend-specific poll state onto the canonical JobState —
    the four `waitFor*` loops collapse to one machine, but the
    per-backend vocabularies remain addressable for a real remote
    executor slotting into the SPI."""
    try:
        return BACKEND_STATES[backend][raw_state]
    except KeyError:
        raise ValueError(f"unknown state {raw_state!r} for backend {backend!r}") from None


@register_executor("local-compaction")
class LocalCompactionExecutor:
    """The in-process stand-in for the four AWS executors: submits the
    rewrite asynchronously and exposes the same poll-until-terminal
    state machine (A19/A20)."""

    def __init__(self) -> None:
        self.table_dir: str | None = None
        self.properties: dict[str, str] = {}
        self.state = JobState.SUBMITTED
        self.error: BaseException | None = None
        self.result: maintenance.CompactionResult | None = None
        self.script_path: str | None = None
        self._thread: threading.Thread | None = None
        self._spark: SparkSession | None = None
        self._state_lock = threading.Lock()

    def initialize(self, table_dir: str, properties: dict[str, str]) -> None:
        # config validation mirrors BaseEmrOptimizeDataExecutor.java:55-58
        if not table_dir:
            raise ValueError("table_dir is required")
        self.table_dir = table_dir
        self.properties = dict(properties)
        self._spark = SparkSession.getActiveSession()

    def _set_state(self, new: str) -> None:
        """Terminal-state transition that never overwrites a cancel:
        once CANCELLED is observed by a poller, a late worker-thread
        completion must not resurrect the job (the AWS services make
        the same guarantee — a StopQueryExecution'd query stays
        CANCELLED even if the engine finished the work)."""
        with self._state_lock:
            if self.state != JobState.CANCELLED:
                self.state = new

    def _run(self) -> None:
        self._set_state(JobState.RUNNING)
        try:
            strategy = self.properties.get("optimize-data.strategy", config.STRATEGY_BINPACK)
            sort_order = self.properties.get("optimize-data.sort-order")
            self.result = maintenance.compact_table(
                self._spark,
                self.table_dir,
                strategy=strategy,
                sort_order=sort_order.split(",") if sort_order else None,
                max_group_size_bytes=int(
                    self.properties.get(
                        "optimize-data.options.max-file-group-size-bytes",
                        config.MAX_FILE_GROUP_SIZE_BYTES,
                    )
                ),
                target_file_size_bytes=int(
                    self.properties.get("optimize-data.target-file-size-bytes", 128 * 1024 * 1024)
                ),
                partial_progress=self.properties.get(
                    "optimize-data.options.partial-progress.enabled", "true"
                )
                == "true",
            )
            self._set_state(JobState.SUCCEEDED)
        except BaseException as e:  # noqa: BLE001 — reported via poll, like the AWS state machines
            self.error = e
            self._set_state(JobState.FAILED)

    def cancel(self) -> str:
        """The StopQueryExecution / CancelSteps / CancelJobRun analog:
        accepted in any non-terminal state; the poll loop then surfaces
        CANCELLED and raises, mirroring Athena's CANCELLED branch
        (AthenaOptimizeDataExecutor.java:138-140)."""
        with self._state_lock:
            if self.state not in JobState.TERMINAL:
                self.state = JobState.CANCELLED
            return self.state

    def execute(self) -> None:
        """A19: fire-and-forget submit; A17/A18: persist the rendered
        job script first, like every EMR backend does."""
        sql = render_optimize_sql(os.path.basename(self.table_dir), self.properties)
        self.script_path = write_job_script(
            os.path.join(self.table_dir, "_jobs"), render_python_job(sql), "py"
        )
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        if self.properties.get("optimize-data.synchronous-enabled", "false") == "true":
            self.wait_for_completion()

    def wait_for_completion(self, timeout_s: float = 600.0) -> str:
        """A20: synchronous poll loop every sleep-wait-ms until a
        terminal state; FAILED raises, like Athena's
        `waitForQueryToComplete` (AthenaOptimizeDataExecutor.java:133-140)."""
        sleep_ms = int(self.properties.get("optimize-data.sleep-wait-ms", config.SLEEP_WAIT_MS))
        deadline = time.time() + timeout_s
        while self.state in (JobState.SUBMITTED, JobState.RUNNING):
            if time.time() > deadline:
                raise TimeoutError("compaction job did not finish in time")
            time.sleep(min(sleep_ms / 1000.0, 0.05))
        if self.state == JobState.FAILED:
            raise RuntimeError(f"compaction job failed: {self.error}") from self.error
        if self.state == JobState.CANCELLED:
            # Athena raises on CANCELLED exactly like FAILED
            # (AthenaOptimizeDataExecutor.java:138-140)
            raise RuntimeError("compaction job was cancelled")
        return self.state


def render_optimize_sql(
    table_name: str, properties: dict[str, str], catalog: str = config.CATALOG_NAME
) -> str:
    """Driver-side A14/A15: the `CALL <cat>.system.rewrite_data_files`
    command string the reference ships to every backend
    (`buildSparkSqlOptimizeDataFilesCommand`, EMRSparkUtil.java:101-128;
    options literal :136-162).  Option entries render sorted — the
    reference's HashMap order is arbitrary, sorted is the deterministic
    improvement the query-surface render (queries/control_plane.py
    sql_command_render) also makes.  Defaults mirror
    AwsManageProperties.java:48-56."""
    opts = {
        k[len(config.OPTIONS_PREFIX) :]: v
        for k, v in properties.items()
        if k.startswith(config.OPTIONS_PREFIX)
    } or {
        "max-file-group-size-bytes": str(config.MAX_FILE_GROUP_SIZE_BYTES),
        "partial-progress.enabled": "true",
    }
    body = ",".join(f"'{k}','{v}'" for k, v in sorted(opts.items()))
    parts = [f"table => '{table_name}'", f"options => map({body})"]
    strategy = properties.get("optimize-data.strategy", config.STRATEGY_BINPACK)
    parts.append(f"strategy => '{strategy}'")
    sort_order = properties.get("optimize-data.sort-order")
    if sort_order:
        parts.append(f"sort_order => '{sort_order}'")
    return f"CALL {catalog}.system.rewrite_data_files({', '.join(parts)})"


@register_executor("iceberg-call")
class IcebergCallExecutor:
    """The real-Iceberg table-format seam, made concrete: renders the
    same CALL every reference backend ships and submits it to the
    session's OWN SQL engine — the in-process analog of the spark-sql
    shell each EMR backend boots (EmrOnEc2OptimizeDataExecutor.java:88-94,
    EMRSparkUtil.java:27).

    Requires an Iceberg catalog on the session (iceberg-spark-runtime
    on the classpath + `spark.sql.catalog.<name>` configured);
    `initialize()` fails fast with an actionable message when absent —
    this container carries no Iceberg runtime, so tests cover the
    rendering and the gate, not a live CALL.  Swapping
    'local-compaction' for 'iceberg-call' in `optimize-data.impl` is
    the ONLY change needed to manage genuine Iceberg tables (same SPI,
    Executor.java:9-23)."""

    def __init__(self) -> None:
        self.table_identifier: str | None = None
        self.properties: dict[str, str] = {}
        self.state = JobState.SUBMITTED
        self.error: BaseException | None = None
        self.sql_text: str | None = None
        self._spark: SparkSession | None = None
        self._catalog = config.CATALOG_NAME

    def initialize(self, table_identifier: str, properties: dict[str, str]) -> None:
        if not table_identifier:
            raise ValueError("table identifier is required")
        self.table_identifier = table_identifier
        self.properties = dict(properties)
        self._catalog = self.properties.get("optimize-data.catalog-name", config.CATALOG_NAME)
        self._spark = SparkSession.getActiveSession()
        configured = None
        if self._spark is not None:
            try:
                configured = self._spark.conf.get(f"spark.sql.catalog.{self._catalog}")
            except Exception:
                configured = None
        if not configured:
            raise RuntimeError(
                f"Iceberg catalog {self._catalog!r} is not configured on this session: "
                f"set spark.sql.catalog.{self._catalog} to an Iceberg catalog impl "
                "(iceberg-spark-runtime on the classpath), or use the "
                "'local-compaction' executor for parquet-backed tables"
            )

    def execute(self) -> None:
        """Renders + submits the CALL synchronously (the procedure is
        itself a blocking Spark job — the async/poll split the AWS
        backends need does not apply in-process)."""
        self.sql_text = render_optimize_sql(
            self.table_identifier, self.properties, catalog=self._catalog
        )
        self.state = JobState.RUNNING
        try:
            self._spark.sql(self.sql_text).collect()  # procedure result is 1 summary row
            self.state = JobState.SUCCEEDED
        except BaseException as e:  # noqa: BLE001 — surfaced like the poll path
            self.error = e
            self.state = JobState.FAILED
            raise


class CommitReporter:
    """The `MetricsReporter` analog — the write-path hook that makes the
    engine self-managing (AwsTableManagementMetricsEvaluator.java:36:
    `implements MetricsReporter`, the reference's ONLY extension point
    into the write path).

    The reference's catalog invokes `report(CommitReport)` after every
    commit (:64-85); here the engine's own writers call
    `reported_append` (or `report` directly), so a table that merely
    receives writes accumulates `_snapshots` rows and gets compacted
    when the trigger fires — no manual event construction anywhere.

    Semantics carried over:
    - null guard (:66): a missing table_dir raises;
    - commit-kind filter (:68): only write-path operations trigger
      evaluation — scan/metadata events are dropped;
    - recursion guard (:93-99): REPLACE commits (compaction's own
      writes) never re-trigger, and reporter properties are stripped
      from the spawned job's config by evaluate_and_maybe_optimize.
    """

    #: write-path commit kinds (DataOperations.APPEND/OVERWRITE/DELETE);
    #: REPLACE is deliberately absent — see the recursion guard above.
    TRIGGERING_OPERATIONS = frozenset({"append", "overwrite", "delete"})

    def __init__(self, spark: SparkSession, properties: dict[str, str] | None = None) -> None:
        self.spark = spark
        self.properties = dict(properties or {})

    def report(self, table_dir: str, operation: str) -> "LocalCompactionExecutor | None":
        if not table_dir:
            raise ValueError("report() requires a table_dir")  # Preconditions (:66)
        if operation not in self.TRIGGERING_OPERATIONS:
            return None
        return evaluate_and_maybe_optimize(self.spark, table_dir, self.properties)

    def reported_append(
        self, df, table_dir: str, n_files: int = 1
    ) -> "LocalCompactionExecutor | None":
        """The reporting write path: append data files (the one Spark
        write) + an 'append' lineage row (a pyarrow file write, no
        Spark job; maintenance.append_snapshot), then push the commit
        event through report() — write and evaluation in one call,
        exactly the loop the reference closes via the catalog
        callback."""
        df.repartition(n_files).write.mode("append").parquet(os.path.join(table_dir, "data"))
        maintenance.append_snapshot(self.spark, table_dir, "append")
        return self.report(table_dir, "append")


def evaluate_and_maybe_optimize(
    spark: SparkSession,
    table_dir: str,
    properties: dict[str, str] | None = None,
    *,
    now: str | None = None,
) -> LocalCompactionExecutor | None:
    """The end-to-end main path (SURVEY SS3.1): read the table's
    snapshot lineage, run the trigger decision, and if it fires,
    dispatch the configured executor — the `report()` ->
    `shouldOptimizeDataFiles` -> `executor.execute()` chain
    (AwsTableManagementMetricsEvaluator.java:64-85).

    The decision runs on the driver with no Spark job: the lineage is
    read with pyarrow (`io.read_lineage`) and cut by
    `trigger.decide_on_driver`, as the reference walks
    `SnapshotUtil.currentAncestors` inside its commit callback.  The
    registered queries keep the Spark form (`trigger.decide_optimize`),
    which gives the same rows.

    `now` defaults to wall-clock UTC in epoch milliseconds — correct
    for this PLUMBING path, matching the reference's
    `System.currentTimeMillis()`; commit timestamps are in micros, so a
    whole-second clock would read a fresh commit's age up to 1 s short.
    A pinned `now` is a UTC timestamp literal, as the oracle-checked
    query path (`time_threshold_trigger` / `should_optimize_decision`)
    always passes, so results are reproducible."""
    from . import trigger

    properties = dict(properties or {})
    decision = trigger.decide_on_driver(
        io.read_lineage(os.path.join(table_dir, "_snapshots")),
        now_ms=time.time_ns() // 1_000_000 if now is None else trigger.epoch_ms_of(now),
        commit_threshold=int(
            properties.get("optimize-data.commit-threshold", config.COMMIT_THRESHOLD)
        ),
        time_threshold_ms=int(
            properties.get("optimize-data.time-threshold-ms", config.TIME_THRESHOLD_MS)
        ),
        replace_op="replace",
    ).get(os.path.basename(table_dir))
    if decision is None or not decision[-1]:  # should_optimize
        return None
    # recursion guard: strip reporter keys before handing config to the
    # spawned job (A11; AwsTableManagementMetricsEvaluator.java:93-99)
    job_props = {k: v for k, v in properties.items() if k not in config.REPORTER_PROPERTIES}
    executor = load_executor(properties.get("optimize-data.impl", "local-compaction"))
    executor.initialize(table_dir, job_props)
    executor.execute()
    return executor
