"""Compaction invariant tests (SURVEY.md SS5.4) + the end-to-end
event->decision->compaction path (SS3.1) against real parquet dirs."""

from __future__ import annotations

import os
import threading
import time
import types

import pytest
from pyspark.sql import functions as F

from iceberg_aws_event_based_table_management_spark import config, io
from iceberg_aws_event_based_table_management_spark.operators import jobs, maintenance


@pytest.fixture()
def small_table(spark, sf_dir, tmp_path):
    """A parquet table written as 40 deliberately tiny files."""
    table_dir = str(tmp_path / "t_lineitem")
    df = io.table(spark, sf_dir, "lineitem")
    maintenance.write_table(spark, df, table_dir, n_files=40)
    return table_dir


def _checksums(spark, table_dir):
    df = spark.read.parquet(os.path.join(table_dir, "data"))
    row = df.agg(
        F.count("*").alias("n"),
        F.sum(F.floor("l_quantity").cast("long")).alias("q"),
        F.sum(F.xxhash64("l_orderkey", "l_linenumber") % 1_000_000_007).alias("keyhash"),
    ).collect()[0]
    return (row["n"], row["q"], row["keyhash"])


def test_binpack_reduces_files_preserves_data(spark, small_table):
    pre = _checksums(spark, small_table)
    res = maintenance.compact_table(
        spark,
        small_table,
        max_group_size_bytes=10_000_000,
        target_file_size_bytes=1_000_000,
    )
    post = _checksums(spark, small_table)
    assert post == pre, "compaction must preserve rows exactly"
    assert res.files_after < res.files_before
    assert res.rows_after == res.rows_before
    names = set(os.listdir(os.path.join(small_table, "data")))
    orphans = [n for n in names if n.endswith(".crc") and n[1:-4] not in names]
    assert not orphans, "each dropped input's .crc sidecar goes with it"


def test_compaction_plans_on_the_driver(spark, small_table, monkeypatch):
    """compact_table plans its groups from its own listing of data/:
    no Spark inventory, no window plan, and data/ is listed once
    before the rewrite (and once after, for the result)."""

    def no_spark_plan(*a, **k):
        raise AssertionError("compact_table planned through Spark")

    monkeypatch.setattr(maintenance, "file_inventory", no_spark_plan)
    monkeypatch.setattr(maintenance, "plan_binpack_groups", no_spark_plan)
    real, listed = maintenance._list_data_files, []

    def counted(table_dir):
        listed.append(table_dir)
        return real(table_dir)

    monkeypatch.setattr(maintenance, "_list_data_files", counted)
    res = maintenance.compact_table(spark, small_table, max_group_size_bytes=10_000_000)
    assert listed == [small_table, small_table]
    assert res.files_before == 40 and res.rows_after == res.rows_before


def test_partial_progress_one_replace_per_group(spark, small_table):
    res = maintenance.compact_table(
        spark,
        small_table,
        max_group_size_bytes=200_000,  # force multiple groups
        target_file_size_bytes=1_000_000,
        partial_progress=True,
    )
    assert res.n_groups > 1
    snaps = maintenance.read_snapshots(spark, small_table)
    n_replace = snaps.filter(F.col("operation") == "replace").count()
    assert n_replace == res.n_groups == len(res.replace_snapshot_ids)


def test_compaction_groups_match_plan(spark, small_table):
    """compact_table's driver grouping matches the Spark plan: one
    rewrite per distinct group_id of plan_binpack_groups."""
    cap = 200_000
    inv = maintenance.file_inventory(spark, small_table)
    plan = maintenance.plan_binpack_groups(inv, cap, two_level=False).collect()
    res = maintenance.compact_table(
        spark, small_table, max_group_size_bytes=cap, target_file_size_bytes=1_000_000
    )
    assert res.files_before == len(plan) == 40
    assert res.n_groups == len({r["group_id"] for r in plan}) > 1
    assert res.rows_after == res.rows_before


def test_sort_strategy_orders_rows(spark, small_table):
    maintenance.compact_table(
        spark,
        small_table,
        strategy=config.STRATEGY_SORT,
        sort_order=["l_shipdate", "l_orderkey", "l_linenumber"],
        target_file_size_bytes=10_000_000_000,  # single output file -> total order
    )
    files = maintenance._list_data_files(small_table)
    assert len(files) == 1
    pdf = spark.read.parquet(files[0]).select("l_shipdate", "l_orderkey", "l_linenumber").toPandas()
    assert pdf.sort_values(["l_shipdate", "l_orderkey", "l_linenumber"]).reset_index(
        drop=True
    ).equals(pdf.reset_index(drop=True))


def test_replace_watermark_stops_trigger(spark, small_table):
    """After compaction, the REPLACE snapshot suppresses the trigger
    (the reference's recursion-avoidance, SURVEY SS4.1)."""
    from iceberg_aws_event_based_table_management_spark.operators import trigger

    maintenance.compact_table(spark, small_table)
    snaps = maintenance.read_snapshots(spark, small_table)
    d = trigger.decide_optimize(
        snaps, now="2030-01-01 00:00:00", replace_op="replace"
    ).collect()[0]
    assert d["n_commits_since_replace"] == 0
    assert not d["should_optimize"]


def test_end_to_end_evaluate_and_optimize(spark, small_table):
    """SS3.1 main path: commits accumulate -> decision fires -> executor
    compacts -> second evaluation is quiet."""
    for _ in range(config.COMMIT_THRESHOLD):
        maintenance.append_snapshot(spark, small_table, "append")
    ex = jobs.evaluate_and_maybe_optimize(
        spark,
        small_table,
        {"optimize-data.synchronous-enabled": "true", "metrics-reporter-impl": "x"},
    )
    assert ex is not None
    assert ex.state == jobs.JobState.SUCCEEDED
    assert ex.result.files_after < ex.result.files_before
    assert "metrics-reporter-impl" not in ex.properties  # recursion guard (A11)
    script = open(ex.script_path).read()
    assert script.startswith("from pyspark.sql")
    assert jobs.render_optimize_sql(os.path.basename(small_table), ex.properties) in script
    # freshly compacted -> no re-trigger within thresholds
    ex2 = jobs.evaluate_and_maybe_optimize(spark, small_table, {})
    assert ex2 is None


def test_load_executor_unknown_impl_raises(spark):
    with pytest.raises(ValueError, match="Cannot initialize Executor"):
        jobs.load_executor("org.example.DoesNotExist")


def test_zorder_value_interleaves_bits(spark):
    """z(x, y) must interleave the scaled bucket bits: with mins=0 and
    range 2^bits-1 the scaling is identity, so z(x,y) is the classic
    Morton number (x even bits, y odd bits)."""
    df = spark.createDataFrame(
        [(0, 0), (1, 0), (0, 1), (1, 1), (3, 5), (255, 255)], "x long, y long"
    )
    zv = maintenance.zorder_value(
        ["x", "y"], bits=8, mins={"x": 0, "y": 0}, ranges={"x": 255, "y": 255}
    )
    got = {(r["x"], r["y"]): r["z"] for r in df.withColumn("z", zv).collect()}

    def morton(x, y):
        z = 0
        for i in range(8):
            z |= ((x >> i) & 1) << (2 * i)
            z |= ((y >> i) & 1) << (2 * i + 1)
        return z

    for (x, y), z in got.items():
        assert z == morton(x, y), f"z({x},{y}) = {z}, want {morton(x, y)}"


def test_zorder_sort_clusters_both_dimensions(spark, sf_dir):
    """Range-splitting a z-ordered sort must shrink BOTH key ranges per
    chunk vs a single-column sort (the multi-dimensional clustering
    property that makes z-order rewrites prune on every clustered
    column)."""
    li = io.table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    st = li.agg(
        F.min("l_partkey"), F.max("l_partkey"), F.min("l_suppkey"), F.max("l_suppkey")
    ).collect()[0]
    mins = {"l_partkey": int(st[0]), "l_suppkey": int(st[2])}
    ranges = {"l_partkey": int(st[1]) - int(st[0]), "l_suppkey": int(st[3]) - int(st[2])}
    zv = maintenance.zorder_value(["l_partkey", "l_suppkey"], bits=8, mins=mins, ranges=ranges)
    n_chunks = 64
    from pyspark.sql import Window

    chunk = F.ntile(n_chunks).over(Window.orderBy(zv, "l_partkey", "l_suppkey"))
    spans = (
        li.withColumn("chunk", chunk)
        .groupBy("chunk")
        .agg(
            (F.max("l_partkey") - F.min("l_partkey")).alias("pspan"),
            (F.max("l_suppkey") - F.min("l_suppkey")).alias("sspan"),
        )
        .agg(F.avg("pspan").alias("p"), F.avg("sspan").alias("s"))
        .collect()[0]
    )
    # unsorted-baseline span ~ full key range; z-order chunks must be
    # far tighter on BOTH dimensions simultaneously
    assert spans["p"] < ranges["l_partkey"] * 0.5, spans
    assert spans["s"] < ranges["l_suppkey"] * 0.5, spans


def test_cancel_while_running_poll_raises(spark, small_table):
    """A20 cancel path: cancel a submitted job -> state CANCELLED ->
    poll raises, mirroring Athena's CANCELLED branch
    (AthenaOptimizeDataExecutor.java:138-140)."""
    ex = jobs.load_executor("local-compaction")
    ex.initialize(small_table, {})
    ex.execute()
    assert ex.cancel() == jobs.JobState.CANCELLED
    with pytest.raises(RuntimeError, match="cancelled"):
        ex.wait_for_completion(timeout_s=30)
    # a late worker-thread completion must not resurrect the job
    if ex._thread is not None:
        ex._thread.join(timeout=120)
    assert ex.state == jobs.JobState.CANCELLED


def test_cancel_after_success_is_noop(spark, small_table):
    ex = jobs.load_executor("local-compaction")
    ex.initialize(small_table, {"optimize-data.synchronous-enabled": "true"})
    ex.execute()
    assert ex.state == jobs.JobState.SUCCEEDED
    assert ex.cancel() == jobs.JobState.SUCCEEDED  # terminal states stick


def test_wait_wakes_on_the_terminal_event(tmp_path, monkeypatch):
    """wait_for_completion sleeps in no poll loop: a job that finishes,
    fails or is cancelled while a caller waits wakes it through the
    event every terminal transition sets.  jobs sees a `time` whose
    sleep raises; the global module stays intact for py4j's threads."""
    release = threading.Event()

    def gated_compaction(spark_, table_dir, **kwargs):
        assert release.wait(30)
        if kwargs["strategy"] == "fail":
            raise OSError("rewrite failed")
        return "done"

    def no_sleep(_seconds):
        raise AssertionError("wait_for_completion polled")

    monkeypatch.setattr(maintenance, "compact_table", gated_compaction)

    def submit(props):
        release.clear()
        ex = jobs.load_executor("local-compaction")
        ex.initialize(str(tmp_path / "t_wait"), props)
        ex.execute()
        return ex

    monkeypatch.setattr(
        jobs, "time", types.SimpleNamespace(time=time.time, time_ns=time.time_ns, sleep=no_sleep)
    )
    ex = submit({})
    threading.Timer(0.2, release.set).start()
    assert ex.wait_for_completion(timeout_s=30) == jobs.JobState.SUCCEEDED
    assert ex.result == "done"

    ex = submit({"optimize-data.strategy": "fail"})
    threading.Timer(0.2, release.set).start()
    with pytest.raises(RuntimeError, match="rewrite failed"):
        ex.wait_for_completion(timeout_s=30)

    ex = submit({})
    threading.Timer(0.2, ex.cancel).start()
    with pytest.raises(RuntimeError, match="cancelled"):
        ex.wait_for_completion(timeout_s=30)
    release.set()
    ex._thread.join(timeout=30)
    assert not ex._thread.is_alive()
    assert ex.state == jobs.JobState.CANCELLED


def test_target_file_size_option_reaches_the_rewrite(spark, small_table):
    """`optimize-data.options.target-file-size-bytes` is in the CALL's
    options map, and the local rewrite runs that CALL: setting it
    changes both the rendered command and the files written."""
    key = "optimize-data.options.target-file-size-bytes"
    assert "'target-file-size-bytes'" not in jobs.render_optimize_sql("t", {})
    assert "'target-file-size-bytes','50000'" in jobs.render_optimize_sql("t", {key: "50000"})
    total = sum(os.path.getsize(p) for p in maintenance._list_data_files(small_table))
    ex = jobs.load_executor("local-compaction")
    ex.initialize(small_table, {key: "50000", "optimize-data.synchronous-enabled": "true"})
    ex.execute()
    assert "'target-file-size-bytes','50000'" in open(ex.script_path).read()
    assert ex.result.files_after == -(-total // 50_000) > 1
    assert ex.result.rows_after == ex.result.rows_before


def test_commit_reporter_closes_the_loop(spark, sf_dir, tmp_path):
    """The MetricsReporter analog end-to-end: a table that merely
    receives writes gets compacted when the commit threshold fires —
    no manual event construction
    (AwsTableManagementMetricsEvaluator.java:36,64-85)."""
    table_dir = str(tmp_path / "t_hooked")
    chunk = io.table(spark, sf_dir, "lineitem").limit(200)
    maintenance.write_table(spark, chunk, table_dir, n_files=2)  # commit 1
    reporter = jobs.CommitReporter(
        spark, {"optimize-data.synchronous-enabled": "true"}
    )
    fired = []
    for i in range(config.COMMIT_THRESHOLD - 1):  # commits 2..10
        ex = reporter.reported_append(chunk, table_dir, n_files=2)
        fired.append(ex)
    assert all(e is None for e in fired[:-1]), "trigger fired early"
    ex = fired[-1]
    assert ex is not None, "10th commit must fire the trigger"
    assert ex.state == jobs.JobState.SUCCEEDED
    assert ex.result.files_after < ex.result.files_before
    snaps = maintenance.read_snapshots(spark, table_dir)
    assert snaps.filter(F.col("operation") == "replace").count() >= 1
    # the compaction REPLACE is the new watermark: next write is quiet
    assert reporter.reported_append(chunk, table_dir, n_files=1) is None


def test_commit_reporter_filters_non_write_events(spark, small_table):
    """A2/A3 semantics on the hook: scan events and REPLACE commits
    never trigger; a null table raises."""
    reporter = jobs.CommitReporter(spark)
    assert reporter.report(small_table, "replace") is None  # recursion guard
    assert reporter.report(small_table, "scan") is None  # commit-kind filter
    with pytest.raises(ValueError, match="table_dir"):
        reporter.report("", "append")


def test_render_optimize_sql_matches_reference_shape():
    """A14/A15 driver-side render: table/options/strategy/sort_order in
    the reference's argument order, options sorted, defaults from
    AwsManageProperties.java:48-56."""
    sql = jobs.render_optimize_sql("db.t1", {})
    assert sql == (
        "CALL aws_ebtm.system.rewrite_data_files(table => 'db.t1', "
        "options => map('max-file-group-size-bytes','10737418240',"
        "'partial-progress.enabled','true'), strategy => 'binpack')"
    )
    sql2 = jobs.render_optimize_sql(
        "db.t2",
        {
            "optimize-data.options.zz": "1",
            "optimize-data.options.aa": "2",
            "optimize-data.strategy": "sort",
            "optimize-data.sort-order": "c1 ASC,c2 DESC",
        },
    )
    assert sql2 == (
        "CALL aws_ebtm.system.rewrite_data_files(table => 'db.t2', "
        "options => map('aa','2','zz','1'), strategy => 'sort', "
        "sort_order => 'c1 ASC,c2 DESC')"
    )


def test_iceberg_call_executor_gates_on_catalog(spark):
    """The 'iceberg-call' executor is registered in the SPI and fails
    fast (actionable message) when the session has no Iceberg catalog —
    the swap-ready seam for real Iceberg tables."""
    ex = jobs.load_executor("iceberg-call")
    with pytest.raises(RuntimeError, match="iceberg-spark-runtime"):
        ex.initialize("db.t1", {})
    with pytest.raises(ValueError, match="identifier"):
        ex.initialize("", {})


def test_commit_reporter_concurrent_writers_fire_exactly_once(
    spark, sf_dir, tmp_path
):
    """r5 verdict #7: two interleaved reported_append streams (two
    reporter instances — two writers) on ONE table must fire exactly
    one compaction per threshold cycle, at the threshold, and the
    compaction's own REPLACE commit must never cascade into another
    trigger.  Runs two full cycles so the post-replace reset is
    exercised under the same interleaving."""
    table_dir = str(tmp_path / "t_two_writers")
    chunk = io.table(spark, sf_dir, "lineitem").limit(120)
    maintenance.write_table(spark, chunk, table_dir, n_files=2)  # commit 1
    writers = [
        jobs.CommitReporter(spark, {"optimize-data.synchronous-enabled": "true"}),
        jobs.CommitReporter(spark, {"optimize-data.synchronous-enabled": "true"}),
    ]
    fired_at: list[int] = []
    n_appends = 2 * config.COMMIT_THRESHOLD + 3
    for i in range(n_appends):
        ex = writers[i % 2].reported_append(chunk, table_dir, n_files=2)
        if ex is not None:
            assert ex.state == jobs.JobState.SUCCEEDED
            fired_at.append(i + 2)  # cumulative commit number
    # cycle 1: initial write + appends reach the threshold at append
    # commit 10; cycle 2: the replace resets the window, so the fire
    # recurs exactly 10 append commits later — and nothing in between
    # (one fire per cycle, none early, none late).
    assert fired_at == [
        config.COMMIT_THRESHOLD,
        config.COMMIT_THRESHOLD * 2,
    ], fired_at
    snaps = maintenance.read_snapshots(spark, table_dir)
    n_replaces = snaps.filter(F.col("operation") == "replace").count()
    assert n_replaces == len(fired_at), "a REPLACE commit re-triggered compaction"
    # interleaving never loses a write: every append from both writers
    # (plus the initial table write) is in the lineage
    n_appends_seen = snaps.filter(F.col("operation") == "append").count()
    assert n_appends_seen == n_appends + 1


def test_binpack_two_level_cumsum_equals_flat(spark, sf_dir):
    """The r11 two-level prefix-sum (size-bucket partials + broadcast
    offsets) must reproduce the flat per-table window's group ids
    EXACTLY — bucket ranges are disjoint so descending-bucket order is
    the global size-desc order, and the integer cumsum decomposes
    losslessly."""
    from iceberg_aws_event_based_table_management_spark import io
    from iceberg_aws_event_based_table_management_spark.operators.maintenance import (
        plan_binpack_groups,
    )

    inv = io.files(spark, sf_dir)
    cap = 50_000_000

    def rows(plan):
        # Compare as a sorted multiset of full rows, not a dict keyed on
        # file_path: dict last-write-wins made the comparison depend on
        # collect() partition order whenever paths collided (the r11
        # flake; paths are unique now, but the multiset form is
        # order-proof either way).
        return sorted(
            (r.table_name, r.file_path, r.file_size_bytes, r.group_id)
            for r in plan.collect()
        )

    flat = rows(plan_binpack_groups(inv, cap, two_level=False))
    two = rows(plan_binpack_groups(inv, cap, two_level=True))
    assert flat == two and len(flat) > 0
