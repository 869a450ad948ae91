"""The optimize-trigger evaluator — the reference's brain, Spark-first.

Re-expresses ``shouldOptimizeDataFiles``
(/root/reference/.../AwsTableManagementMetricsEvaluator.java:108-140)
as declarative DataFrame logic over a snapshot-lineage table:

  1. order each table's snapshots newest-first (SnapshotUtil.currentAncestors, :74)
  2. stop at the most recent REPLACE commit (:114-117)
  3. fire when any remaining snapshot is older than time-threshold-ms (:119-126)
     OR the remaining count reaches commit-threshold (:128-135)

The reference walks the lineage imperatively with early exit; the
set-based window formulation below is equivalent (the early exits only
short-circuit an OR) and is what scales: one shuffle on table_name,
window + aggregation, no driver-side iteration.  At 100 TB the
snapshots table is metadata (rows ~ number of commits), so this is
cheap; partitioning by table_name keeps the window bounded per table.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

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


def decision_columns(
    n: Column, age: Column, commit_threshold: int, time_threshold_ms: int
) -> list[Column]:
    """The time-OR-count rule (:119-135) over a pending count ``n`` and
    an oldest-pending age ``age`` (-1 when nothing is pending): the
    five decision columns every trigger form emits."""
    time_trigger = age >= F.lit(time_threshold_ms)
    commit_trigger = n >= F.lit(commit_threshold)
    return [
        n.alias("n_commits_since_replace"),
        age.alias("max_pending_age_ms"),
        time_trigger.alias("time_trigger"),
        commit_trigger.alias("commit_trigger"),
        (time_trigger | commit_trigger).alias("should_optimize"),
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
