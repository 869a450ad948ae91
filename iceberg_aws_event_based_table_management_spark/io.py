"""Fixture IO layer (SURVEY.md SS7 M0) + derived control tables.

Loads the driver-generated parquet tables and builds the two derived
Iceberg-metadata analogs (FIXTURES.md):

- ``_snapshots``  : snapshot lineage, from ``events``
- ``_files``      : data-file inventory, from ``lineitem``

Both are plain DataFrame projections, so the DuckDB oracle rebuilds
them as CTEs (see ``SNAPSHOTS_CTE`` / ``FILES_CTE``).

It is also the only module that touches parquet files without Spark:
footer reads (row counts, column bytes, row groups) and the managed tables'
``_snapshots`` lineage log, whose one-row commit records are written
with pyarrow (``append_lineage_row``).  The log is read back two ways:
with pyarrow (``read_lineage``) by the commit path's trigger decision,
and by Spark under one fixed schema (``LINEAGE_DDL``,
maintenance.read_snapshots) — the analog of Iceberg's snapshot log,
which a commit extends and reads without running an engine job.
"""

from __future__ import annotations

import os
import uuid
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import config

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
SMOKE_SF_DIR = "/root/testdata/sf0.001"
ORACLE_SF_DIR = "/root/testdata/sf0.01"


def parquet_footers(paths: list[str]) -> list | None:
    """Parquet FOOTER metadata of each file in ``paths`` — pure
    driver-side file metadata, no Spark job, so query construction
    stays lazy.  None when any footer is unreadable (remote path,
    not-yet-written table); the caller decides what an unknown size
    means (operators/gates.py)."""
    try:
        import pyarrow as pa
        import pyarrow.parquet as pq
    except ImportError:
        return None
    try:
        return [pq.read_metadata(f) for f in paths]
    except (OSError, pa.ArrowException):
        return None


def parquet_rows(paths: list[str]) -> int | None:
    """Exact row count of the parquet files ``paths`` from their
    footers; None when a footer is unreadable."""
    mds = parquet_footers(paths)
    return None if mds is None else sum(md.num_rows for md in mds)


def input_row_groups(df: DataFrame) -> int | None:
    """Σ row groups over the parquet files a frame scans
    (``inputFiles()``), from their footers.  A row group is the unit a
    scan split cannot divide, so this bounds the scan's useful
    parallelism without parsing ``maxPartitionBytes``.  None for
    in-memory frames, non-local URIs and unreadable footers."""
    uris = [urlparse(f) for f in df.inputFiles()]
    if not uris or any(u.scheme not in ("", "file") for u in uris):
        return None
    mds = parquet_footers([u.path for u in uris])
    return None if mds is None else sum(md.num_row_groups for md in mds)


def _fixture_files(sf_dir: str, name: str) -> list[str]:
    """The parquet files of a fixture table: a single file or a
    directory of nested part files."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    if not os.path.isdir(path):
        return [path]
    return [
        os.path.join(root, f)
        for root, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    ]


def _footers(sf_dir: str, name: str) -> list | None:
    """``parquet_footers`` of every file of a fixture table."""
    return parquet_footers(_fixture_files(sf_dir, name))


def parquet_num_rows(sf_dir: str, name: str) -> int | None:
    """Exact row count of a fixture table from its footers; None when
    a footer is unreadable."""
    return parquet_rows(_fixture_files(sf_dir, name))


def parquet_column_bytes(sf_dir: str, name: str, column: str) -> int | None:
    """Σ total_UNCOMPRESSED_size of `column`'s chunks over every row
    group of a fixture table, from its footers; None when a footer is
    unreadable or no chunk of `column` exists.  Uncompressed size keeps
    the compression codec out of the measure: zstd on a repetitive
    corpus can beat any assumed ratio, so a compressed-byte measure
    could under-count and pick the broadcast past its payload cap.
    Residual caveat: a corpus of mass EXACT-duplicate values whose
    dictionary encoding sticks stores each distinct value once and can
    still under-count; on unique-value columns the writer falls back
    to PLAIN and this tracks logical bytes within ~3% (measured on the
    sf0.001-0.1 fixtures)."""
    mds = _footers(sf_dir, name)
    if mds is None:
        return None
    chunks = [
        md.row_group(rg).column(ci)
        for md in mds
        for rg in range(md.num_row_groups)
        for ci in range(md.row_group(rg).num_columns)
    ]
    sizes = [c.total_uncompressed_size for c in chunks if c.path_in_schema == column]
    return sum(sizes) if sizes else None


#: Per-session memo of the fixture-table DataFrame HANDLES (lazy plans,
#: zero rows held): repeated io.table calls were paying a fresh parquet
#: file-listing + footer schema read per query build (~40-80 ms each,
#: profiled r15 — ~2-4 s of the 40-query bench was re-listing the same
#: ten static fixture paths).  The memo returns the same immutable
#: DataFrame object, exactly like resolving a registered catalog table
#: twice; every action against it still scans parquet from disk.  Keyed
#: weakly by session so stopped sessions drop their entries, and by
#: absolute path so relative/absolute spellings share one handle.
_TABLE_CACHE: "weakref.WeakKeyDictionary[SparkSession, dict]" = None  # type: ignore[assignment]


def _table_cache_for(spark: SparkSession) -> dict:
    global _TABLE_CACHE
    if _TABLE_CACHE is None:
        import weakref

        _TABLE_CACHE = weakref.WeakKeyDictionary()
    per = _TABLE_CACHE.get(spark)
    if per is None:
        per = {}
        _TABLE_CACHE[spark] = per
    return per


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown fixture table {name!r}")
    cache = _table_cache_for(spark)
    # Memo key includes the table file's mtime (one os.stat, no Spark
    # job): a REBUILT fixture (scratch dirs populated in stages — the
    # r11 ADVICE events_max_ts contract, tests/test_streaming.py) must
    # not come back as the prior build's stale file listing (r15: the
    # mtime-less memo returned plans whose resolved files no longer
    # existed).  Missing path -> mtime None; the read below raises its
    # own clear error.
    path = f"{sf_dir}/{name}.parquet"
    try:
        mtime = os.stat(path).st_mtime_ns
    except OSError:
        mtime = None
    key = (os.path.abspath(sf_dir), name, mtime)
    if name == "events":
        # The fixture events.parquet stores ts as TIMESTAMP(MICROS,
        # isAdjustedToUTC=false), which reads as a timestamp.  An events
        # file written with TIMESTAMP(NANOS) is read too: Spark (4.1.2
        # included) rejects it unless nanosAsLong is set, and then
        # surfaces it as long ns.  Callers may hand us an externally
        # built session (the evaluator runs inside the host's session,
        # AwsTableManagementMetricsEvaluator.java:64-85), so set the
        # legacy conf defensively and branch on what the read actually
        # produced rather than assuming either behavior.
        try:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        except Exception:
            pass
        # The always-NTZ ts contract and io.epoch_ms/epoch_us (which
        # cast NTZ->LTZ before unix_millis) are only correct in a UTC
        # session.  The package factory pins UTC, but the evaluator may
        # run inside an externally built host session — pin it here too
        # (runtime-settable SQL conf) rather than silently shifting
        # every epoch-derived value.
        try:
            spark.conf.set("spark.sql.session.timeZone", "UTC")
        except Exception:
            pass
    # Cache check sits BELOW the events conf pins so an externally
    # built session that drifts its timezone mid-run is re-pinned on
    # every events read, cached handle or not.
    if key in cache:
        return cache[key]
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        ts_type = dict(df.dtypes)["ts"]
        if ts_type == "bigint":
            # Legacy long-ns surface: truncate to us exactly as DuckDB does.
            # Integer div — double division would lose precision at
            # 2^63-scale nanos.  Cast to NTZ so both read paths agree with
            # the DuckDB oracle's naive micros timestamps.
            df = df.withColumn(
                "ts", F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz")
            )
        elif ts_type.startswith("timestamp"):
            # A host session with inferTimestampNTZ disabled surfaces the
            # micros/isAdjustedToUTC=false fixture as plain LTZ timestamp;
            # normalize unconditionally so EVERY read path honors the NTZ
            # contract (no-op when the read already produced NTZ).  In the
            # UTC session pinned above the wall-clock value is preserved.
            df = df.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
        else:
            raise TypeError(f"unexpected events.ts type {ts_type!r}")
    cache[key] = df
    return df


def table_rows(spark: SparkSession, sf_dir: str, name: str) -> int:
    """Exact row count of a fixture table, for arithmetic that must
    equal the oracle's ``COUNT(*)`` (plan branches go through
    ``gates.corpus_exceeds`` instead).  The footers answer without a
    Spark job; an unreadable footer falls back to an engine-side count
    (one job) rather than a guess, so the count is the same either
    way."""
    n = parquet_num_rows(sf_dir, name)
    return table(spark, sf_dir, name).count() if n is None else n


def epoch_ms(col) -> F.Column:
    """NTZ-safe epoch milliseconds.

    ``unix_millis()`` is strict about TIMESTAMP input in Spark >= 4.1
    and rejects the TIMESTAMP_NTZ that events.ts now reads as.  The
    cast interprets the wall clock in the session timezone — UTC both
    in this engine's session factory and in the driver's session (the
    datetime-suite oracle hash-matched under it) — which matches
    DuckDB's naive epoch math.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.unix_millis(c.cast("timestamp"))


def epoch_us(col) -> F.Column:
    """NTZ-safe epoch microseconds (see epoch_ms)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.unix_micros(c.cast("timestamp"))


def snapshots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-lineage table (SURVEY SS1.1): one row per commit event.

    Models ``SnapshotUtil.currentAncestors`` input
    (AwsTableManagementMetricsEvaluator.java:74): table identity from
    user_id, snapshot id from event_id, operation from event_type.
    """
    return snapshots_from(table(spark, sf_dir, "events"))


def snapshots_from(events: DataFrame) -> DataFrame:
    """The events -> snapshot-lineage projection over any events frame:
    the fixture table, a replayed stream, or one of its micro-batches."""
    return events.select(
        F.concat(F.lit("t"), F.col("user_id").cast("string")).alias("table_name"),
        F.col("event_id").alias("snapshot_id"),
        F.col("ts"),
        F.col("event_type").alias("operation"),
    )


# Exact oracle equivalent of snapshots_from() — keep in lockstep.
SNAPSHOTS_CTE = """
  SELECT 't' || CAST(user_id AS VARCHAR) AS table_name,
         event_id AS snapshot_id,
         ts,
         event_type AS operation
  FROM events
"""


#: The one schema of a managed table's ``_snapshots`` lineage log: the
#: ``snapshots_from`` columns, with ``ts`` an instant (UTC micros).
#: Files from an earlier Spark writer store ``ts`` as INT96 and files
#: from ``append_lineage_row`` as TIMESTAMP(MICROS, UTC); both read
#: back as TimestampType under this schema, and no read of the log
#: runs a schema-inference job.
LINEAGE_DDL = "table_name string, snapshot_id long, ts timestamp, operation string"


def append_lineage_row(snapshots_dir: str, table_name: str, snapshot_id: int, operation: str) -> None:
    """Write one lineage row — ``ts`` is ``snapshot_id // 1000`` micros
    — as a new parquet file in ``snapshots_dir``, with pyarrow and no
    Spark job.  The file is written under a hidden name and renamed
    into place, so a concurrent reader never lists a half-written file
    (Spark and pyarrow both skip names starting with '.')."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    row = pa.table(
        {
            "table_name": pa.array([table_name], pa.string()),
            "snapshot_id": pa.array([snapshot_id], pa.int64()),
            "ts": pa.array([snapshot_id // 1000], pa.timestamp("us", tz="UTC")),
            "operation": pa.array([operation], pa.string()),
        }
    )
    os.makedirs(snapshots_dir, exist_ok=True)
    name = f"part-{uuid.uuid4().hex}.parquet"
    hidden = os.path.join(snapshots_dir, f".{name}")
    pq.write_table(row, hidden)
    os.rename(hidden, os.path.join(snapshots_dir, name))


def read_lineage(snapshots_dir: str):
    """The lineage log in ``snapshots_dir`` as one pyarrow Table
    (table_name, snapshot_id, ts as int64 epoch micros, operation),
    read with pyarrow and no Spark job — the commit path's read
    (operators/trigger.decide_on_driver).

    Reads each visible ``*.parquet`` file: in-flight hidden ``.part-*``
    names, ``_SUCCESS`` and ``.crc`` sidecars are skipped, as Spark's
    reader skips them.  ``ts`` is normalised one file at a time,
    because the files disagree on its type: INT96 from the earlier
    Spark writer, TIMESTAMP(MICROS, UTC) from ``append_lineage_row``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema(
        [
            ("table_name", pa.string()),
            ("snapshot_id", pa.int64()),
            ("ts", pa.int64()),  # epoch micros
            ("operation", pa.string()),
        ]
    )
    parts = []
    for name in sorted(os.listdir(snapshots_dir)):
        if name.startswith((".", "_")) or not name.endswith(".parquet"):
            continue
        path = os.path.join(snapshots_dir, name)
        with pq.ParquetFile(path, coerce_int96_timestamp_unit="us") as f:
            t = f.read(columns=schema.names)
        ts = t["ts"].cast(pa.timestamp("us")).cast(pa.int64())
        parts.append(t.set_column(schema.get_field_index("ts"), "ts", ts).cast(schema))
    return pa.concat_tables(parts) if parts else schema.empty_table()


def files(spark: SparkSession, sf_dir: str, n_tables: int = config.FILES_TABLE_COUNT) -> DataFrame:
    """Data-file inventory analog of the Iceberg `<table>.files` metadata
    table, derived deterministically from lineitem (FIXTURES.md).

    NB: double->bigint casts use an explicit FLOOR because Spark
    truncates while DuckDB rounds; FLOOR makes both engines agree.
    """
    return files_from(table(spark, sf_dir, "lineitem"), n_tables)


def files_from(li: DataFrame, n_tables: int = config.FILES_TABLE_COUNT) -> DataFrame:
    """The `_files` projection over an arbitrary lineitem subset — used
    both for the full inventory and for 'live manifest' slices
    (lifecycle orphan-file planning).

    file_path is UNIQUE per row (a real file inventory never has two
    files at one path): the synthetic lineitem is NOT unique on
    (l_orderkey, l_linenumber) — 45,832 distinct of 60,000 at sf0.01 —
    so the path folds in l_partkey, l_suppkey, and floor(l_quantity),
    which disambiguates every duplicate at all generated scale factors
    (verified sf0.001/0.01/0.1/1).  Uniqueness also makes the binpack
    ORDER BY (file_size_bytes DESC, file_path) tie-break total, so
    group ids are deterministic.  Map-side only — no shuffle.
    """
    return li.select(
        F.concat(F.lit("t"), (F.col("l_orderkey") % n_tables).cast("string")).alias("table_name"),
        F.concat(
            F.lit("f"),
            F.col("l_orderkey").cast("string"),
            F.lit("-"),
            F.col("l_linenumber").cast("string"),
            F.lit("-"),
            F.col("l_partkey").cast("string"),
            F.lit("-"),
            F.col("l_suppkey").cast("string"),
            F.lit("-"),
            F.floor(F.col("l_quantity")).cast("long").cast("string"),
        ).alias("file_path"),
        F.floor(F.col("l_extendedprice") * 1000).cast("long").alias("file_size_bytes"),
        F.floor(F.col("l_quantity")).cast("long").alias("record_count"),
    )


# The file_path expression, shared by FILES_CTE and any oracle that
# rebuilds a manifest slice from a lineitem subset — keep in lockstep
# with files_from above.
FILES_PATH_SQL = (
    "'f' || CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR)"
    " || '-' || CAST(l_partkey AS VARCHAR) || '-' || CAST(l_suppkey AS VARCHAR)"
    " || '-' || CAST(CAST(FLOOR(l_quantity) AS BIGINT) AS VARCHAR)"
)

FILES_CTE = f"""
  SELECT 't' || CAST(l_orderkey % {config.FILES_TABLE_COUNT} AS VARCHAR) AS table_name,
         {FILES_PATH_SQL} AS file_path,
         CAST(FLOOR(l_extendedprice * 1000) AS BIGINT) AS file_size_bytes,
         CAST(FLOOR(l_quantity) AS BIGINT) AS record_count
  FROM lineitem
"""
