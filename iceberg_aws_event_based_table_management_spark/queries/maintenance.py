"""Tier B — compaction planning/invariant queries (SURVEY.md SS2-B).

The physical rewrite lives in operators/maintenance.py (exercised by
the invariant tests, SURVEY SS5.4); these queries express its *plan*
and its *invariants* declaratively over the `_files` inventory so the
DuckDB oracle can check them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import config, io
from ..operators import gates
from ..operators.maintenance import BINPACK_FLAT_MAX_FILES, plan_binpack_groups
from ..registry import register

CAP = config.FIXTURE_GROUP_CAP_BYTES
TARGET = 50_000_000  # fixture-scale target output file size

_PLAN_CTE = f"""
  files AS ({io.FILES_CTE}),
  planned AS (
    SELECT table_name, file_path, file_size_bytes, record_count,
           CAST(FLOOR((SUM(file_size_bytes) OVER (
                  PARTITION BY table_name
                  ORDER BY file_size_bytes DESC, file_path
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                ) - file_size_bytes) / {CAP}) AS BIGINT) AS group_id
    FROM files
  )
"""


@register(
    "binpack_group_assignment",
    tier="B",
    oracle=f"WITH {_PLAN_CTE} SELECT table_name, file_path, file_size_bytes, group_id FROM planned",
)
def binpack_group_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B1/B3: binpack group planning — files packed into <= cap groups
    via per-table running cumsum (the window formulation of the
    rewrite's file-group sizing, AwsManageProperties.java:48-50).  Each
    group is an independent partial-progress commit."""
    # io.files has one row per lineitem row: its footer sizes the window
    return plan_binpack_groups(
        io.files(spark, sf_dir),
        CAP,
        two_level=gates.corpus_exceeds(sf_dir, "lineitem", BINPACK_FLAT_MAX_FILES),
    ).select(
        "table_name", "file_path", "file_size_bytes", "group_id"
    )


@register(
    "compaction_rowcount_invariant",
    tier="B",
    oracle=f"""
    WITH {_PLAN_CTE},
    post AS (
      SELECT table_name, group_id,
             COUNT(*) AS files_in_group,
             SUM(file_size_bytes) AS group_bytes,
             SUM(record_count) AS group_records,
             CAST(CEIL(CAST(SUM(file_size_bytes) AS DOUBLE) / {TARGET}) AS BIGINT) AS files_after
      FROM planned GROUP BY table_name, group_id
    )
    SELECT table_name,
           COUNT(*) AS n_groups,
           CAST(SUM(files_in_group) AS BIGINT) AS files_before,
           CAST(SUM(files_after) AS BIGINT) AS files_after,
           CAST(SUM(group_bytes) AS BIGINT) AS total_bytes,
           CAST(SUM(group_records) AS BIGINT) AS total_records,
           SUM(files_after) < SUM(files_in_group) AS file_count_reduced
    FROM post GROUP BY table_name
    """,
)
def compaction_rowcount_invariant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B1: the compaction invariants as a query — per table, the
    planned rewrite keeps bytes/records constant while strictly
    reducing file count (files_after = ceil(group_bytes/target) per
    group).  Mirrors what the reference trusts Iceberg to guarantee
    (SURVEY SS5.4)."""
    planned = plan_binpack_groups(
        io.files(spark, sf_dir),
        CAP,
        two_level=gates.corpus_exceeds(sf_dir, "lineitem", BINPACK_FLAT_MAX_FILES),
    )
    post = planned.groupBy("table_name", "group_id").agg(
        F.count("*").alias("files_in_group"),
        F.sum("file_size_bytes").alias("group_bytes"),
        F.sum("record_count").alias("group_records"),
        F.ceil(F.sum("file_size_bytes").cast("double") / TARGET).cast("long").alias("files_after"),
    )
    return post.groupBy("table_name").agg(
        F.count("*").alias("n_groups"),
        F.sum("files_in_group").alias("files_before"),
        F.sum("files_after").alias("files_after"),
        F.sum("group_bytes").alias("total_bytes"),
        F.sum("group_records").alias("total_records"),
        (F.sum("files_after") < F.sum("files_in_group")).alias("file_count_reduced"),
    )


@register(
    "sort_compaction_order",
    tier="B",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_shipdate,
           ROW_NUMBER() OVER (ORDER BY l_shipdate, l_orderkey, l_linenumber) AS write_order
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '2001-01-01'
    """,
)
def sort_compaction_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B2: sort-strategy rewrite order — the globally sorted layout
    (`strategy=sort`, sort_order, EMRSparkUtil.java:118-124) captured
    as an explicit write_order rank, computed the way the physical
    rewrite runs it: range-partition on the sort order + per-partition
    rank + broadcast cumulative offsets (operators/skew.
    global_row_number) — no single-node sort.  The r13 sf10 smoke
    measured the old bare `row_number() OVER (ORDER BY ...)` form
    funnelling ~60M filtered rows through ONE task (18.5 s, the exact
    WindowExec-without-partition shape the plan sweep now bans)."""
    from ..operators.skew import global_row_number

    li = io.table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") >= F.lit("2001-01-01").cast("timestamp")
    )
    return global_row_number(
        li.select("l_orderkey", "l_linenumber", "l_shipdate"),
        ["l_shipdate", "l_orderkey", "l_linenumber"],
        "write_order",
    ).select("l_orderkey", "l_linenumber", "l_shipdate", "write_order")


def _zorder_oracle() -> str:
    from ..operators.maintenance import zorder_value_sql

    mins = {c: f"(SELECT MIN({c}) FROM lineitem)" for c in ("l_partkey", "l_suppkey")}
    ranges = {
        c: f"((SELECT MAX({c}) FROM lineitem) - (SELECT MIN({c}) FROM lineitem))"
        for c in ("l_partkey", "l_suppkey")
    }
    zv = zorder_value_sql(["l_partkey", "l_suppkey"], bits=8, mins=mins, ranges=ranges)
    return f"""
    SELECT ({zv} >> 8) AS zbucket,
           COUNT(*) AS n_rows,
           MIN(l_partkey) AS min_part, MAX(l_partkey) AS max_part,
           MIN(l_suppkey) AS min_supp, MAX(l_suppkey) AS max_supp
    FROM lineitem
    GROUP BY 1
    """


@register("sort_compaction_zorder", tier="B", oracle=_zorder_oracle())
def sort_compaction_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B2 (z-order flavor): the clustering key behind Iceberg's
    `rewrite_data_files(strategy => 'sort', sort_order =>
    'zorder(l_partkey, l_suppkey)')` — Morton-interleave the two
    equi-width-bucketed keys, then aggregate per z-bucket (the
    per-output-file key-range stats a z-ordered rewrite produces;
    both dimensions' ranges shrink together, which is what makes
    multi-column scan pruning work).  Two passes: a scalar min/max
    stats agg, then map-side bit math — no global ranking window, so
    it scales to any row count."""
    from ..operators.maintenance import zorder_value

    li = io.table(spark, sf_dir, "lineitem")
    st = li.agg(
        F.min("l_partkey"), F.max("l_partkey"), F.min("l_suppkey"), F.max("l_suppkey")
    ).collect()[0]
    mins = {"l_partkey": int(st[0]), "l_suppkey": int(st[2])}
    ranges = {"l_partkey": int(st[1]) - int(st[0]), "l_suppkey": int(st[3]) - int(st[2])}
    zv = zorder_value(["l_partkey", "l_suppkey"], bits=8, mins=mins, ranges=ranges)
    return (
        li.withColumn("zbucket", F.shiftright(zv, 8))
        .groupBy("zbucket")
        .agg(
            F.count("*").alias("n_rows"),
            F.min("l_partkey").alias("min_part"),
            F.max("l_partkey").alias("max_part"),
            F.min("l_suppkey").alias("min_supp"),
            F.max("l_suppkey").alias("max_supp"),
        )
    )


@register(
    "compaction_benefit_estimate",
    tier="B",
    oracle=f"""
    WITH files AS ({io.FILES_CTE}),
    per_file AS (
      SELECT table_name, file_size_bytes,
             CASE WHEN file_size_bytes < {TARGET} THEN 1 ELSE 0 END AS is_small
      FROM files
    )
    SELECT table_name,
           COUNT(*) AS n_files,
           CAST(SUM(is_small) AS BIGINT) AS n_small_files,
           CAST(SUM(is_small * file_size_bytes) AS BIGINT) AS small_bytes,
           CAST(SUM(1 - is_small)
                + CEIL(CAST(SUM(is_small * file_size_bytes) AS DOUBLE) / {TARGET})
                AS BIGINT) AS est_files_after,
           CAST(COUNT(*)
                - SUM(1 - is_small)
                - CEIL(CAST(SUM(is_small * file_size_bytes) AS DOUBLE) / {TARGET})
                AS BIGINT) AS files_saved
    FROM per_file GROUP BY table_name
    """,
)
def compaction_benefit_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E60: compaction benefit estimator — the decision metric in
    front of the B1 planner: per table, how many files sit below the
    target output size, how many files a binpack rewrite would leave
    (small files repacked at target size; right-sized files
    untouched), and the net file-count reduction.  This is the
    'should we even schedule optimize-data' signal the reference's
    commit/age thresholds approximate (AwsManageProperties.java:11-18)
    — computed from the inventory instead of the commit log.

    Scale shape: one agg over the file inventory (metadata, not data)
    keyed by table — map-side combine, bounded keys, no joins."""
    small = (F.col("file_size_bytes") < TARGET).cast("long")
    est_after = F.sum(1 - small) + F.ceil(
        F.sum(small * F.col("file_size_bytes")).cast("double") / TARGET
    )
    return (
        io.files(spark, sf_dir)
        .groupBy("table_name")
        .agg(
            F.count("*").alias("n_files"),
            F.sum(small).cast("long").alias("n_small_files"),
            F.sum(small * F.col("file_size_bytes")).cast("long").alias("small_bytes"),
            est_after.cast("long").alias("est_files_after"),
            (F.count("*") - est_after).cast("long").alias("files_saved"),
        )
    )


_RETENTION_KEEP_LAST = 5
_RETENTION_MAX_AGE_TS = "2024-01-21 00:00:00"  # NOW - 10 d over the fixture's range


@register(
    "snapshot_retention_policies",
    tier="B",
    oracle=f"""
    WITH snaps AS ({io.SNAPSHOTS_CTE}),
    ranked AS (
      SELECT table_name, ts, operation,
             ROW_NUMBER() OVER (PARTITION BY table_name
                                ORDER BY ts DESC, snapshot_id DESC) AS rn,
             MAX(CASE WHEN operation = 'purchase' THEN ts END)
               OVER (PARTITION BY table_name) AS last_replace_ts
      FROM snaps
    ),
    evaluated AS (
      SELECT table_name,
             CASE WHEN rn <= {_RETENTION_KEEP_LAST} THEN 1 ELSE 0 END AS keep_count,
             CASE WHEN ts >= TIMESTAMP '{_RETENTION_MAX_AGE_TS}' THEN 1 ELSE 0 END AS keep_age,
             CASE WHEN last_replace_ts IS NULL OR ts >= last_replace_ts
                  THEN 1 ELSE 0 END AS keep_replace
      FROM ranked
    ),
    per_policy AS (
      SELECT table_name, 'keep_last_{_RETENTION_KEEP_LAST}' AS policy,
             CAST(SUM(keep_count) AS BIGINT) AS n_keep,
             CAST(SUM(1 - keep_count) AS BIGINT) AS n_expire
      FROM evaluated GROUP BY table_name
      UNION ALL
      SELECT table_name, 'keep_max_age',
             CAST(SUM(keep_age) AS BIGINT), CAST(SUM(1 - keep_age) AS BIGINT)
      FROM evaluated GROUP BY table_name
      UNION ALL
      SELECT table_name, 'keep_since_replace',
             CAST(SUM(keep_replace) AS BIGINT), CAST(SUM(1 - keep_replace) AS BIGINT)
      FROM evaluated GROUP BY table_name
    )
    SELECT * FROM per_policy
    """,
)
def snapshot_retention_policies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E61: snapshot retention policy simulation — before running E1's
    expire, evaluate the three standard policies side by side per
    table: keep the N newest, keep everything younger than the age
    cutoff, keep everything since the last REPLACE (the optimize
    watermark A7 stops at).  The ops report that picks expire
    parameters instead of guessing them.

    Scale shape: both windows and all three policy aggs share ONE
    exchange on table_name over the metadata-sized snapshot log;
    the three policy branches are a union of aggregations over the
    same flagged projection (the log is scanned once per branch of a
    union over an already-shuffled cached shape — bounded by the
    metadata table, not the data)."""
    w_rank = Window.partitionBy("table_name").orderBy(F.desc("ts"), F.desc("snapshot_id"))
    w_tbl = Window.partitionBy("table_name")
    flagged = io.snapshots(spark, sf_dir).select(
        "table_name",
        (F.row_number().over(w_rank) <= _RETENTION_KEEP_LAST)
        .cast("long")
        .alias("keep_count"),
        (F.col("ts") >= F.lit(_RETENTION_MAX_AGE_TS).cast("timestamp_ntz"))
        .cast("long")
        .alias("keep_age"),
        (
            F.max(
                F.when(F.col("operation") == config.REPLACE_OPERATION, F.col("ts"))
            )
            .over(w_tbl)
            .isNull()
            | (
                F.col("ts")
                >= F.max(
                    F.when(F.col("operation") == config.REPLACE_OPERATION, F.col("ts"))
                ).over(w_tbl)
            )
        )
        .cast("long")
        .alias("keep_replace"),
    )

    def policy(flag: str, name: str) -> DataFrame:
        return flagged.groupBy("table_name").agg(
            F.lit(name).alias("policy"),
            F.sum(flag).cast("long").alias("n_keep"),
            F.sum(1 - F.col(flag)).cast("long").alias("n_expire"),
        ).select("table_name", "policy", "n_keep", "n_expire")

    return (
        policy("keep_count", f"keep_last_{_RETENTION_KEEP_LAST}")
        .unionByName(policy("keep_age", "keep_max_age"))
        .unionByName(policy("keep_replace", "keep_since_replace"))
    )


_SKIP_LO = "1995-03-01"
_SKIP_HI = "1995-08-31"


@register(
    "files_skipping_estimate",
    tier="B",
    oracle=f"""
    WITH fstats AS (
      SELECT 't' || CAST(l_orderkey % {config.FILES_TABLE_COUNT} AS VARCHAR)
               AS table_name,
             l_orderkey // 100 AS file_no,
             MIN(l_shipdate) AS min_shipdate,
             MAX(l_shipdate) AS max_shipdate,
             COUNT(*) AS record_count
      FROM lineitem GROUP BY 1, 2
    ),
    judged AS (
      SELECT table_name, record_count,
             (max_shipdate < DATE '{_SKIP_LO}'
              OR min_shipdate > DATE '{_SKIP_HI}') AS skipped,
             (min_shipdate >= DATE '{_SKIP_LO}'
              AND max_shipdate <= DATE '{_SKIP_HI}') AS full_match
      FROM fstats
    )
    SELECT table_name,
           COUNT(*) AS n_files,
           CAST(SUM(CASE WHEN skipped THEN 1 ELSE 0 END) AS BIGINT)
             AS n_skipped,
           CAST(SUM(CASE WHEN full_match THEN 1 ELSE 0 END) AS BIGINT)
             AS n_full_match,
           CAST(SUM(CASE WHEN NOT skipped THEN record_count ELSE 0 END)
                AS BIGINT) AS rows_scanned,
           ROUND(CAST(SUM(CASE WHEN skipped THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS skip_fraction
    FROM judged GROUP BY table_name
    """,
)
def files_skipping_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E74 — min/max file-skipping estimator: the manifest-evaluator
    logic Iceberg runs at scan planning (InclusiveMetricsEvaluator —
    the reason compaction pays off: fewer, better-clustered files skip
    more).  Each emulated data file (100-order slices of lineitem,
    richer than io.files' one-row files) carries l_shipdate min/max
    stats; for a ship-date range predicate the estimator classifies
    every file as skipped (no overlap), fully matched (contained —
    Iceberg's residual-free case), or scanned, and reports per-table
    skip ratios + rows actually scanned.  This is the observability
    query a table-management service runs to QUANTIFY what a sort/
    zorder rewrite (B2) would buy before submitting it — the
    evidence-driven version of the reference's blind commit-count
    trigger (AwsManageProperties.java:11-13).

    Scale shape: file stats are ONE groupBy over the raw table (in a
    real lake they already exist in manifests — zero scan); the
    judge + rollup then run on file-count-sized metadata.  Nothing
    else shuffles."""
    li = io.table(spark, sf_dir, "lineitem")
    fstats = li.groupBy(
        F.concat(
            F.lit("t"), (F.col("l_orderkey") % config.FILES_TABLE_COUNT).cast("string")
        ).alias("table_name"),
        (F.col("l_orderkey") / 100).cast("long").alias("file_no"),
    ).agg(
        F.min("l_shipdate").alias("min_shipdate"),
        F.max("l_shipdate").alias("max_shipdate"),
        F.count("*").alias("record_count"),
    )
    lo, hi = F.lit(_SKIP_LO).cast("date"), F.lit(_SKIP_HI).cast("date")
    judged = fstats.select(
        "table_name",
        "record_count",
        ((F.col("max_shipdate") < lo) | (F.col("min_shipdate") > hi)).alias("skipped"),
        ((F.col("min_shipdate") >= lo) & (F.col("max_shipdate") <= hi)).alias(
            "full_match"
        ),
    )
    return judged.groupBy("table_name").agg(
        F.count("*").alias("n_files"),
        F.sum(F.col("skipped").cast("long")).alias("n_skipped"),
        F.sum(F.col("full_match").cast("long")).alias("n_full_match"),
        F.sum(F.when(~F.col("skipped"), F.col("record_count")).otherwise(0))
        .cast("long")
        .alias("rows_scanned"),
        F.round(
            F.sum(F.col("skipped").cast("long")).cast("double") / F.count("*"), 6
        ).alias("skip_fraction"),
    )
