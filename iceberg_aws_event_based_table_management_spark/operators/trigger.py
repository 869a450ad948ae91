"""The optimize-trigger evaluator — the reference's brain.

Re-expresses ``shouldOptimizeDataFiles``
(AwsTableManagementMetricsEvaluator.java:108-140)
over a snapshot-lineage table:

  1. order each table's snapshots newest-first (SnapshotUtil.currentAncestors, :74)
  2. stop at the most recent REPLACE commit (:114-117)
  3. fire when any remaining snapshot is older than time-threshold-ms (:119-126)
     OR the remaining count reaches commit-threshold (:128-135)

The reference walks the lineage imperatively with early exit; the
cut formulations below are equivalent (the early exits only
short-circuit an OR), and the rule itself is one function, ``fires``.

Two forms of the cut, one per caller:

- queries decide with Spark (``decide_optimize``): a set-based window
  + aggregation, one shuffle on table_name.  The registered queries
  decide over every table of the events-derived lineage, which grows
  with the data, so the work stays on the executors.
- a commit decides on the driver (``decide_on_driver``): one
  vectorized pass over its own table's lineage log, one row per
  commit of that one table.  Like the reference's walk inside the
  commit callback, it runs no engine job; a Spark plan over those
  rows cost two jobs and more than half of a quiet commit's time.
  The foreachBatch replay decides the same way over its accumulated
  log, and the managed-state stream runs the same cut,
  ``pending_cut``, once per state bucket per micro-batch
  (streaming/replay.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import config
from ..io import epoch_ms


def rank_lineage(snapshots: DataFrame) -> DataFrame:
    """A6: latest-first lineage rank per table (ties broken by snapshot_id)."""
    w = Window.partitionBy("table_name").orderBy(F.desc("ts"), F.desc("snapshot_id"))
    return snapshots.withColumn("lineage_rank", F.row_number().over(w))


def _flag_pending(snapshots: DataFrame, replace_op: str) -> DataFrame:
    """The ranked lineage with ``is_pending``: strictly newer than the
    table's newest REPLACE commit (the whole lineage when it has none).

    A per-table window min over the REPLACE ranks — no join needed, one
    pass over the ranked lineage, and both windows share one exchange.
    The min is its own column so the window computes it once.
    """
    replace_rank = F.min(
        F.when(F.col("operation") == F.lit(replace_op), F.col("lineage_rank"))
    ).over(Window.partitionBy("table_name"))
    rr = F.col("replace_rank")
    return (
        rank_lineage(snapshots)
        .withColumn("replace_rank", replace_rank)
        .withColumn("is_pending", rr.isNull() | (F.col("lineage_rank") < rr))
        .drop("replace_rank")
    )


def pending_since_replace(snapshots: DataFrame, replace_op: str = config.REPLACE_OPERATION) -> DataFrame:
    """A7: snapshots strictly newer than the newest REPLACE commit."""
    return _flag_pending(snapshots, replace_op).filter(F.col("is_pending")).drop("is_pending")


def fires(n, age, commit_threshold: int, time_threshold_ms: int) -> tuple:
    """The time-OR-count rule (:119-135) over a pending count ``n`` and
    an oldest-pending age ``age`` (-1 when nothing is pending):
    ``(time_trigger, commit_trigger, should_optimize)``.  Plain
    operators, so ``n`` and ``age`` may be Columns or ints."""
    time_trigger = age >= time_threshold_ms
    commit_trigger = n >= commit_threshold
    return time_trigger, commit_trigger, time_trigger | commit_trigger


def decision_columns(
    n: Column, age: Column, commit_threshold: int, time_threshold_ms: int
) -> list[Column]:
    """The five decision columns every Spark trigger form emits."""
    time_trigger, commit_trigger, should = fires(n, age, commit_threshold, time_threshold_ms)
    return [
        n.alias("n_commits_since_replace"),
        age.alias("max_pending_age_ms"),
        time_trigger.alias("time_trigger"),
        commit_trigger.alias("commit_trigger"),
        should.alias("should_optimize"),
    ]


def decide_optimize(
    snapshots: DataFrame,
    *,
    now: str = config.NOW_LITERAL,
    commit_threshold: int = config.COMMIT_THRESHOLD,
    time_threshold_ms: int = config.TIME_THRESHOLD_MS,
    replace_op: str = config.REPLACE_OPERATION,
) -> DataFrame:
    """A10: full trigger decision per table.

    Returns one row per table:
      table_name, n_commits_since_replace, max_pending_age_ms (-1 when
      no pending commits), time_trigger, commit_trigger, should_optimize.

    ``now`` is always an explicit parameter — never wall clock — so the
    decision is reproducible (and oracle-checkable).
    """
    now_ms = F.unix_millis(F.lit(now).cast("timestamp"))
    # Aggregating over the flagged lineage covers tables with zero
    # pending commits, so no distinct + left join is needed (one
    # shuffle on table_name total).
    agg = _flag_pending(snapshots, replace_op).groupBy("table_name").agg(
        F.count(F.when(F.col("is_pending"), 1)).alias("n_pending"),
        F.max(F.when(F.col("is_pending"), now_ms - epoch_ms("ts"))).alias("max_age"),
    )
    n = F.coalesce(F.col("n_pending"), F.lit(0))
    age = F.coalesce(F.col("max_age"), F.lit(-1)).cast("long")
    return agg.select(
        F.col("table_name"), *decision_columns(n, age, commit_threshold, time_threshold_ms)
    )


def epoch_ms_of(now: str) -> int:
    """Epoch milliseconds of a UTC timestamp literal: the driver twin
    of ``unix_millis(cast(now AS timestamp))`` in a UTC session."""
    import pandas as pd

    return int(pd.Timestamp(now, tz="UTC").value // 1_000_000)


def pending_cut(lineage, replace_op: str = config.REPLACE_OPERATION):
    """The REPLACE cut of ``lineage`` (a pyarrow Table as
    ``io.read_lineage`` returns it, ``ts`` in epoch micros), per table:
    the pending rows are those strictly after the table's newest
    REPLACE in (ts, snapshot_id) order — the whole lineage when it has
    none — which is the cut ``_flag_pending`` makes with a window.

    Returns ``(names, n, oldest, tail)``: the sorted table names, and
    aligned with them the pending count and the oldest pending epoch-ms
    (-1 when nothing is pending); ``tail`` is each table's newest
    REPLACE row and its pending rows.  Any rows cut away can never be
    pending again, so the cut of ``tail`` plus new rows equals the cut
    of the whole lineage plus them: the state form keeps ``tail`` as
    its state (streaming/replay.stateful_trigger_stream).

    One sort, then array arithmetic: each table is a contiguous run of
    the sorted rows, and its pending rows are the tail of that run
    after its last REPLACE."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    t = lineage.sort_by([(c, "ascending") for c in ("table_name", "ts", "snapshot_id")])
    names = t["table_name"].combine_chunks().dictionary_encode()
    table = names.indices.to_numpy()  # ascending: codes follow first appearance
    rows = np.arange(len(t))
    replace = pc.equal(t["operation"], replace_op).fill_null(False).to_numpy(zero_copy_only=False)
    ids = np.arange(len(names.dictionary))
    start, end = np.searchsorted(table, ids), np.searchsorted(table, ids, side="right")
    first_pending = start.copy()
    np.maximum.at(first_pending, table[replace], rows[replace] + 1)
    n = end - first_pending
    ts_ms = t["ts"].to_numpy() // 1000  # floor, as unix_millis truncates micros
    oldest = np.where(n > 0, ts_ms[np.minimum(first_pending, len(t) - 1)], -1)
    tail = t.filter(pa.array(rows >= np.maximum(start, first_pending - 1)[table]))
    return names.dictionary.to_pylist(), n, oldest, tail


def decide_on_driver(
    lineage,
    *,
    now_ms: int,
    commit_threshold: int = config.COMMIT_THRESHOLD,
    time_threshold_ms: int = config.TIME_THRESHOLD_MS,
    replace_op: str = config.REPLACE_OPERATION,
) -> dict[str, tuple[int, int, bool, bool, bool]]:
    """``decide_optimize``'s rows without a Spark job: table_name ->
    (n_commits_since_replace, max_pending_age_ms, time_trigger,
    commit_trigger, should_optimize), from ``pending_cut``."""
    out = {}
    names, pending, oldest, _ = pending_cut(lineage, replace_op)
    for name, n, o in zip(names, pending.tolist(), oldest.tolist()):
        age = now_ms - o if n else -1
        out[name] = (n, age, *fires(n, age, commit_threshold, time_threshold_ms))
    return out


#: The columns of ``decide_optimize``'s rows.
DECISION_SCHEMA = T.StructType(
    [
        T.StructField("table_name", T.StringType()),
        T.StructField("n_commits_since_replace", T.LongType()),
        T.StructField("max_pending_age_ms", T.LongType()),
        T.StructField("time_trigger", T.BooleanType()),
        T.StructField("commit_trigger", T.BooleanType()),
        T.StructField("should_optimize", T.BooleanType()),
    ]
)


def decision_frame(spark: SparkSession, decided: dict) -> DataFrame:
    """Rows shaped as ``decide_on_driver`` returns them (table_name ->
    the other five columns) as a DataFrame of ``decide_optimize``'s
    columns.  Built from Arrow, it is a local relation: Spark builds
    and collects it without a job or a Python worker task, where a
    list of rows goes through ``parallelize`` and a worker."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    rows = [dict(zip(DECISION_SCHEMA.names, (name, *row))) for name, row in decided.items()]
    table = pa.Table.from_pylist(rows, schema=to_arrow_schema(DECISION_SCHEMA))
    return spark.createDataFrame(table, DECISION_SCHEMA)
