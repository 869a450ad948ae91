"""IO-layer contract: the invariants that broke under the driver's
session in rounds 1-3 (event timestamps surfacing differently across
Spark versions/sessions), locked as tests."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from iceberg_aws_event_based_table_management_spark import io


def test_events_ts_is_always_ntz(spark, sf_dir):
    """io.table normalizes events.ts to TIMESTAMP_NTZ regardless of
    how the session surfaces the parquet timestamp column — the naive
    type matches the DuckDB oracle's timestamps."""
    df = io.table(spark, sf_dir, "events")
    assert dict(df.dtypes)["ts"] == "timestamp_ntz"
    # values are naive wall clock
    first = df.orderBy("event_id").select("ts").first().ts
    assert isinstance(first, datetime.datetime)
    assert first.tzinfo is None


def test_epoch_helpers_accept_ntz(spark, sf_dir):
    """unix_millis/unix_micros reject NTZ in Spark >= 4.1; the io
    helpers must keep working on the NTZ surface and agree with each
    other at 1000x."""
    df = io.table(spark, sf_dir, "events").select(
        io.epoch_ms("ts").alias("ms"), io.epoch_us("ts").alias("us")
    )
    row = df.agg(
        F.count(F.when(F.col("us") - F.col("ms") * 1000 >= 1000, 1)).alias("bad"),
        F.count("*").alias("n"),
    ).first()
    assert row.n > 0 and row.bad == 0


def test_events_ltz_surface_normalized_to_ntz(spark, sf_dir, tmp_path):
    """A host session can surface the events timestamp as plain LTZ
    'timestamp' (e.g. micros parquet with inferTimestampNTZ disabled).
    io.table must normalize THAT path to NTZ too — the round-1-3
    failure class was exactly a session-dependent ts surface leaking
    through.  Simulate by rewriting events with an LTZ ts (written as
    isAdjustedToUTC=true micros, which always reads back as LTZ)."""
    ev = io.table(spark, sf_dir, "events")
    ltz_dir = str(tmp_path / "ltz")
    ev.withColumn("ts", F.col("ts").cast("timestamp")).write.parquet(f"{ltz_dir}/events.parquet")
    df = io.table(spark, ltz_dir, "events")
    assert dict(df.dtypes)["ts"] == "timestamp_ntz"
    # UTC session: the wall-clock values survive the LTZ round-trip
    orig = ev.orderBy("event_id").select("ts").first().ts
    back = df.orderBy("event_id").select("ts").first().ts
    assert back == orig


def test_events_nanos_file_reads_as_the_fixture_values(spark, sf_dir, tmp_path):
    """The fixtures store events.ts as TIMESTAMP(MICROS); a copy written
    as TIMESTAMP(NANOS), 999 ns past each fixture instant, must read
    through io.table as the fixture's own NTZ values (truncated to
    micros, as DuckDB does)."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    t = pq.read_table(f"{sf_dir}/events.parquet")
    ns = pc.add(t["ts"].cast(pa.timestamp("ns")).cast(pa.int64()), 999).cast(pa.timestamp("ns"))
    d = tmp_path / "nanos"
    d.mkdir()
    pq.write_table(
        t.set_column(t.schema.get_field_index("ts"), "ts", ns),
        d / "events.parquet",
        version="2.6",
        coerce_timestamps=None,
    )
    schema = pq.read_metadata(d / "events.parquet").schema
    assert "nanoseconds" in str(schema.column(schema.names.index("ts")).logical_type)

    got = io.table(spark, str(d), "events")
    assert dict(got.dtypes)["ts"] == "timestamp_ntz"
    want = io.table(spark, sf_dir, "events").orderBy("event_id").collect()
    assert got.orderBy("event_id").collect() == want


def test_snapshots_projection_matches_cte_columns(spark, sf_dir):
    """The Spark snapshots() projection and its oracle CTE must stay
    in lockstep on column names (the driver sorts columns by name
    before hashing)."""
    cols = set(io.snapshots(spark, sf_dir).columns)
    for c in cols:
        assert c in io.SNAPSHOTS_CTE, f"column {c} missing from SNAPSHOTS_CTE"
    assert cols == {"table_name", "snapshot_id", "ts", "operation"}


def test_table_memo_returns_same_handle_and_invalidates_on_rebuild(spark, tmp_path):
    """The per-session io.table memo (r15 build-latency optimization)
    must (a) return the SAME DataFrame handle for an unchanged file —
    that is the whole win, no re-listing — and (b) drop the handle when
    the fixture file is REBUILT (new mtime): the memo-less failure mode
    was a stale file listing whose resolved files no longer exist
    (scratch dirs populated in stages, tests/test_streaming.py)."""
    import os
    import shutil

    src = "/root/testdata/sf0.001/nation.parquet"
    d = str(tmp_path / "memo")
    os.makedirs(d)
    dst = f"{d}/nation.parquet"
    shutil.copyfile(src, dst)
    os.utime(dst, (1_000_000_000, 1_000_000_000))

    df1 = io.table(spark, d, "nation")
    df2 = io.table(spark, d, "nation")
    assert df1 is df2, "unchanged file must hit the memo"
    n1 = df1.count()

    # rebuild: halve the table, bump mtime
    half = df1.limit(max(1, n1 // 2)).toPandas()
    os.remove(dst)
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.Table.from_pandas(half), dst)
    os.utime(dst, (2_000_000_000, 2_000_000_000))

    df3 = io.table(spark, d, "nation")
    assert df3 is not df1, "rebuilt file must MISS the memo"
    assert df3.count() == max(1, n1 // 2)
