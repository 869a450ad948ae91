"""The per-commit path runs Spark only for the data write: the
`_snapshots` lineage row is a pyarrow file, the trigger decision reads
the lineage with pyarrow and cuts it on the driver, the Spark lineage
read has a fixed schema, and compaction counts rows from parquet
footers.  Lineage files from the earlier Spark writer (INT96 `ts`)
read back as the same rows both ways."""

from __future__ import annotations

import datetime
import os
import uuid

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from iceberg_aws_event_based_table_management_spark import io
from iceberg_aws_event_based_table_management_spark.operators import jobs, maintenance, trigger

NOW = "2030-01-01 00:00:00"


def _spark_lineage_write(spark, snapshots_dir, rows):
    """The lineage writer this package used before, writing ``rows`` as
    one file: a Spark job, `ts` stored as Spark's default INT96."""
    df = spark.createDataFrame(rows, "table_name string, snapshot_id long, operation string")
    df = df.withColumn("ts", F.timestamp_micros(F.expr("snapshot_id div 1000")))
    df.select("table_name", "snapshot_id", "ts", "operation").coalesce(1).write.mode(
        "append"
    ).parquet(snapshots_dir)


def _ts_physical_types(snapshots_dir):
    out = set()
    for name in os.listdir(snapshots_dir):
        if name.endswith(".parquet") and not name.startswith("."):
            schema = pq.read_metadata(os.path.join(snapshots_dir, name)).schema
            out.add(schema.column(schema.names.index("ts")).physical_type)
    return out


def test_old_and_new_lineage_files_read_as_one_schema(spark, tmp_path):
    table_dir = str(tmp_path / "t_mixed")
    snaps_dir = os.path.join(table_dir, "_snapshots")
    base = 1_700_000_000_000_000_000  # ns
    old_rows = [
        ("t_mixed", base, "append"),
        ("t_mixed", base + 1_000_000_000, "replace"),
        ("t_mixed", base + 2_000_000_000, "append"),
    ]
    _spark_lineage_write(spark, snaps_dir, old_rows)
    new_id = maintenance.append_snapshot(spark, table_dir, "append", base + 3_000_123_456)
    assert _ts_physical_types(snaps_dir) == {"INT96", "INT64"}
    assert not [n for n in os.listdir(snaps_dir) if n.startswith(".") and n.endswith(".parquet")]

    snaps = maintenance.read_snapshots(spark, table_dir)
    assert snaps.dtypes == [
        ("table_name", "string"), ("snapshot_id", "bigint"), ("ts", "timestamp"), ("operation", "string"),
    ]
    rows = [tuple(r) for r in snaps.orderBy("snapshot_id").collect()]
    epoch = datetime.datetime(1970, 1, 1)
    want = [
        (t, sid, epoch + datetime.timedelta(microseconds=sid // 1000), op)
        for t, sid, op in old_rows + [("t_mixed", new_id, "append")]
    ]
    assert rows == want

    args = dict(now=NOW, commit_threshold=2, replace_op="replace")
    in_memory = spark.createDataFrame(rows, io.LINEAGE_DDL)
    got = trigger.decide_optimize(snaps, **args).collect()
    assert got == trigger.decide_optimize(in_memory, **args).collect()
    assert got[0]["n_commits_since_replace"] == 2 and got[0]["should_optimize"]

    # an in-flight hidden file: neither reader may see its REPLACE
    listed = set(os.listdir(snaps_dir))
    io.append_lineage_row(snaps_dir, "t_mixed", base + 4_000_000_000, "replace")
    (written,) = set(os.listdir(snaps_dir)) - listed
    hidden = os.path.join(snaps_dir, f".{written}")
    os.rename(os.path.join(snaps_dir, written), hidden)
    assert pq.read_table(hidden).num_rows == 1
    lineage = io.read_lineage(snaps_dir)
    assert lineage.schema.names == ["table_name", "snapshot_id", "ts", "operation"]
    assert str(lineage.schema.field("ts").type) == "int64"
    by_driver = sorted(
        (t, sid, epoch + datetime.timedelta(microseconds=ts), op)
        for t, sid, ts, op in zip(*(lineage[c].to_pylist() for c in lineage.schema.names))
    )
    by_spark = maintenance.read_snapshots(spark, table_dir).orderBy("snapshot_id").collect()
    assert by_driver == [tuple(r) for r in by_spark]
    assert by_driver == want
    decided = trigger.decide_on_driver(
        lineage, now_ms=trigger.epoch_ms_of(NOW), commit_threshold=2, replace_op="replace"
    )
    assert decided == {"t_mixed": tuple(got[0])[1:]}


def _jobs(spark, fn):
    """(fn(), number of Spark jobs it ran)."""
    sc = spark.sparkContext
    group = f"commit-path-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture()
def committed_table(spark, tmp_path):
    table_dir = str(tmp_path / "t_counted")
    chunk = spark.range(300).selectExpr("id", "id % 7 AS k")
    maintenance.write_table(spark, chunk, table_dir, n_files=2)
    return table_dir, chunk


def test_commit_path_spark_job_counts(spark, committed_table):
    """Spark jobs per step: a quiet commit is its data write (shuffle +
    write, 2 jobs) and nothing else; the trigger decision runs no job;
    the Spark lineage read builds without a job; a one-group compaction
    is its rewrite (schema read, shuffle, write: 3 jobs), planned on the
    driver with nothing for bookkeeping.  A Spark lineage write, a Spark
    decision, a schema-inferring lineage read or a Spark group plan
    would raise these counts."""
    table_dir, chunk = committed_table
    reporter = jobs.CommitReporter(spark)
    fired, n_commit = _jobs(spark, lambda: reporter.reported_append(chunk, table_dir, n_files=2))
    assert fired is None and n_commit == 2
    fired, n_eval = _jobs(spark, lambda: jobs.evaluate_and_maybe_optimize(spark, table_dir, {}))
    assert fired is None and n_eval == 0
    _, n_read = _jobs(spark, lambda: maintenance.read_snapshots(spark, table_dir))
    assert n_read == 0
    res, n_compact = _jobs(spark, lambda: maintenance.compact_table(spark, table_dir))
    assert res.n_groups == 1 and res.rows_before == res.rows_after == 600
    assert n_compact == 3


def test_fresh_commit_age_is_not_negative(spark, tmp_path):
    """`now` is read in milliseconds: with a zero time threshold the
    first commit to a fresh table is old enough to fire.  A
    whole-second clock reads the commit's age as negative and stays
    quiet."""
    table_dir = str(tmp_path / "t_fresh")
    reporter = jobs.CommitReporter(spark, {"optimize-data.time-threshold-ms": "0"})
    job = reporter.reported_append(spark.range(10), table_dir)
    assert job is not None
    assert job.wait_for_completion() == jobs.JobState.SUCCEEDED
