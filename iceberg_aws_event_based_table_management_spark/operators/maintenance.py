"""Tier B — compaction (the work the reference delegates to Athena/EMR).

Implements `rewrite_data_files` semantics natively over parquet-backed
tables with an explicit `_snapshots` lineage log, mirroring:

- binpack strategy, <= max-file-group-size-bytes groups
  (AwsManageProperties.java:48-54; Athena `OPTIMIZE ... REWRITE DATA
  USING BIN_PACK`, AthenaOptimizeDataExecutor.java:35)
- sort strategy (`strategy=sort`, sort_order -> global orderBy;
  EMRSparkUtil.java:118-124)
- partial progress: one independent commit per file group
  (`partial-progress.enabled`, AwsManageProperties.java:48-50)
- the compaction commit is a REPLACE snapshot — the watermark the
  trigger evaluator stops at (AwsTableManagementMetricsEvaluator.java:114)

Scale notes: `compact_table` plans its groups on the driver from the
one listing of `data/` it makes anyway (rows ~ file count — tiny even
at 100 TB of data), as Iceberg's rewrite plans from the file list it
holds; `plan_binpack_groups` is the same formula as a Spark window for
the query path.  The rewrite itself is one
`spark.read(group).repartition(n)` job per group, where n =
ceil(group_bytes / target_file_bytes), so no single task ever sees
more than one output file's worth of data.  Nothing is collected to
the driver.
"""

from __future__ import annotations

import os
import time
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import config, io


_BINPACK_BUCKET_BYTES = 2_000_000
#: Flat-window threshold: at or below this many inventory rows the
#: single per-table cumsum window is cheaper than the two-level's extra
#: shuffle + broadcast join (measured ~0.9 s overhead at sf0.1's 600k
#: rows vs a 2.3x win at sf10's 60M).  Callers gate `two_level` on it.
BINPACK_FLAT_MAX_FILES = 2_000_000
#: Output file size when a job sets no `target-file-size-bytes` option.
TARGET_FILE_SIZE_BYTES = 128 * 1024 * 1024


def plan_binpack_groups(
    files: DataFrame, cap_bytes: int, two_level: bool = True
) -> DataFrame:
    """Assign each data file to a rewrite group of <= cap_bytes (B1/B3).

    Deterministic first-fit-over-sorted-order via running cumsum:
    files ordered (size desc, path), group = floor(exclusive_cumsum /
    cap).  Expressible identically in SQL (the oracle uses the same
    formula) and on the driver (`binpack_listing`, which
    `compact_table` runs over its own listing).

    The cumsum is TWO-LEVEL (r11: the sf10 audit caught the flat
    per-table window at exponent 1.26 / 54 s — one partition per
    table means a 7.5M-row sort+spill in a single task).  Files
    bucket by fixed-width size ranges (floor(size / 2 MB)); bucket
    ranges are disjoint, so descending bucket order IS the global
    (size desc) order restricted to buckets, and

        running(row) = Σ sizes of strictly-larger buckets (offset)
                     + within-bucket running sum

    reproduces the flat window's integer cumsum EXACTLY.  The inner
    window gets tables × buckets partitions (parallel, bounded); the
    offsets table is tables × buckets rows — broadcast; no stats pass
    or driver action, the bucket boundaries are constants.

    `two_level=False` keeps the flat window for small inventories (at
    most BINPACK_FLAT_MAX_FILES = 2M rows by `gates.corpus_exceeds` on
    a footer) — the two-level's extra
    shuffle costs more than it saves there.  An unknown size takes the
    two-level path (its failure mode is a small constant, the flat
    window's is a single-task spill).
    """
    if not two_level:
        w = (
            Window.partitionBy("table_name")
            .orderBy(F.desc("file_size_bytes"), "file_path")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        running = F.sum("file_size_bytes").over(w)
        return files.withColumn(
            "group_id",
            F.floor((running - F.col("file_size_bytes")) / F.lit(cap_bytes)).cast(
                "long"
            ),
        )
    files = files.withColumn(
        "_bkt", F.floor(F.col("file_size_bytes") / F.lit(_BINPACK_BUCKET_BYTES))
    )
    w_in = (
        Window.partitionBy("table_name", "_bkt")
        .orderBy(F.desc("file_size_bytes"), "file_path")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    files = files.withColumn("_rsum_in", F.sum("file_size_bytes").over(w_in))
    w_off = (
        Window.partitionBy("table_name")
        .orderBy(F.desc("_bkt"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        files.groupBy("table_name", "_bkt")
        .agg(F.sum("file_size_bytes").alias("_btot"))
        .withColumn("_boff", F.coalesce(F.sum("_btot").over(w_off), F.lit(0)))
        .select("table_name", "_bkt", "_boff")
    )
    running = F.col("_boff") + F.col("_rsum_in")
    return (
        files.join(F.broadcast(offsets), ["table_name", "_bkt"])
        .withColumn(
            "group_id",
            F.floor((running - F.col("file_size_bytes")) / F.lit(cap_bytes)).cast(
                "long"
            ),
        )
        .drop("_bkt", "_rsum_in", "_boff")
    )


@dataclass
class CompactionResult:
    table_dir: str
    n_groups: int
    files_before: int
    files_after: int
    # footer row counts of the data files (no Spark job); None when a
    # footer is unreadable
    rows_before: int | None
    rows_after: int | None
    replace_snapshot_ids: list[int]


def _list_data_files(table_dir: str) -> list[str]:
    data_dir = os.path.join(table_dir, "data")
    return sorted(
        os.path.join(data_dir, f)
        for f in os.listdir(data_dir)
        if f.endswith(".parquet")
    )


def append_snapshot(spark: SparkSession, table_dir: str, operation: str, snapshot_id: int | None = None) -> int:
    """Append one row to the table's `_snapshots` lineage log (B4): one
    small parquet file from `io.append_lineage_row`, no Spark job — a
    commit extends the log the way an Iceberg commit extends its
    snapshot log.  `spark` is unused; callers keep passing it.

    The REPLACE row written by compaction is exactly what
    `pending_since_replace` (A7) later treats as the optimize
    watermark.
    """
    if snapshot_id is None:
        snapshot_id = time.time_ns()
    io.append_lineage_row(
        os.path.join(table_dir, "_snapshots"), os.path.basename(table_dir), snapshot_id, operation
    )
    return snapshot_id


def read_snapshots(spark: SparkSession, table_dir: str) -> DataFrame:
    """The table's lineage log under `io.LINEAGE_DDL`; building it runs
    no Spark job."""
    return spark.read.schema(io.LINEAGE_DDL).parquet(os.path.join(table_dir, "_snapshots"))


def write_table(spark: SparkSession, df: DataFrame, table_dir: str, n_files: int) -> None:
    """Materialize a parquet table dir with an initial append snapshot."""
    df.repartition(n_files).write.mode("overwrite").parquet(os.path.join(table_dir, "data"))
    append_snapshot(spark, table_dir, "append")


def _sized_data_files(table_dir: str) -> list[tuple[str, int]]:
    return [(p, os.path.getsize(p)) for p in _list_data_files(table_dir)]


def file_inventory(spark: SparkSession, table_dir: str) -> DataFrame:
    """The `<table>.files` metadata analog, from the real filesystem
    (building it runs no Spark job)."""
    rows = [(os.path.basename(table_dir), p, n) for p, n in _sized_data_files(table_dir)]
    return spark.createDataFrame(rows, "table_name string, file_path string, file_size_bytes long")


def binpack_listing(files: list[tuple[str, int]], cap_bytes: int) -> list[tuple[str, int, int]]:
    """`plan_binpack_groups`' formula over one table's (path, size)
    listing, on the driver: files ordered (size desc, path), group =
    floor(exclusive running sum / cap).  Returns (path, size, group_id)
    in that order.  Integer division, where the Spark form divides in
    doubles; the two agree below 2^52 bytes."""
    out, running = [], 0
    for path, size in sorted(files, key=lambda f: (-f[1], f[0])):
        out.append((path, size, running // cap_bytes))
        running += size
    return out


def compact_table(
    spark: SparkSession,
    table_dir: str,
    *,
    strategy: str = config.STRATEGY_BINPACK,
    sort_order: list[str] | None = None,
    max_group_size_bytes: int = config.MAX_FILE_GROUP_SIZE_BYTES,
    target_file_size_bytes: int = TARGET_FILE_SIZE_BYTES,
    partial_progress: bool = True,
) -> CompactionResult:
    """The native `rewrite_data_files` (B1/B2/B3/B4).

    Reads each planned file group, rewrites it as ceil(bytes/target)
    files (optionally globally sorted), atomically swaps the group's
    files, and commits one REPLACE snapshot per group (partial
    progress) or one for the whole run.
    """
    files = _sized_data_files(table_dir)
    groups: dict[int, list[tuple[str, int]]] = {}
    for path, size, gid in binpack_listing(files, max_group_size_bytes):
        groups.setdefault(gid, []).append((path, size))
    rows_before = io.parquet_rows([p for p, _ in files])

    replace_ids: list[int] = []
    data_dir = os.path.join(table_dir, "data")
    for gid in sorted(groups):
        paths = sorted(p for p, _ in groups[gid])
        n_bytes = sum(n for _, n in groups[gid])
        n_out = max(1, -(-n_bytes // target_file_size_bytes))  # ceil
        df = spark.read.parquet(*paths)
        if strategy == config.STRATEGY_SORT:
            if not sort_order:
                raise ValueError("sort strategy requires sort_order")
            df = df.repartitionByRange(n_out, *sort_order).sortWithinPartitions(*sort_order)
        else:
            df = df.repartition(n_out)
        staged = os.path.join(table_dir, f"_staged-{uuid.uuid4().hex}")
        df.write.mode("overwrite").parquet(staged)
        # swap: move staged files in, drop originals and their checksum
        # sidecars (per-group commit)
        for p in paths:
            os.remove(p)
            crc = os.path.join(os.path.dirname(p), f".{os.path.basename(p)}.crc")
            if os.path.exists(crc):
                os.remove(crc)
        for f_ in os.listdir(staged):
            if f_.endswith(".parquet"):
                os.rename(
                    os.path.join(staged, f_),
                    os.path.join(data_dir, f"compacted-{uuid.uuid4().hex}.parquet"),
                )
        for leftover in os.listdir(staged):
            os.remove(os.path.join(staged, leftover))
        os.rmdir(staged)
        if partial_progress:
            replace_ids.append(append_snapshot(spark, table_dir, "replace"))
    if not partial_progress:
        replace_ids.append(append_snapshot(spark, table_dir, "replace"))

    after = _list_data_files(table_dir)
    files_after = len(after)
    rows_after = io.parquet_rows(after)
    return CompactionResult(
        table_dir=table_dir,
        n_groups=len(groups),
        files_before=len(files),
        files_after=files_after,
        rows_before=rows_before,
        rows_after=rows_after,
        replace_snapshot_ids=replace_ids,
    )


def zorder_value(cols: list, bits: int = 16, *, mins: dict | None = None, ranges: dict | None = None):
    """Z-order (Morton) curve value over 2+ numeric columns — the
    clustering key behind Iceberg's `rewrite_data_files(strategy =>
    'sort', sort_order => 'zorder(a, b)')`, computed Spark-side.

    Each column is scaled to a [0, 2^bits) integer via (val - min) *
    2^bits / (range + 1) — an order-preserving equi-width bucketing
    that needs only per-column min/max (one cheap stats pass, no
    global ranking window) — then the bucket bits are interleaved.
    Sorting / range-partitioning by the result places rows that are
    close in ALL dimensions into the same files, so predicates on any
    clustered column prune most files at scan time.

    `mins`/`ranges` map column name -> precomputed stats (driver
    scalars).  Returns a Column; callers sort or repartitionByRange on
    it.
    """
    assert mins is not None and ranges is not None
    scaled = []
    for c in cols:
        lo, rng = mins[c], ranges[c]
        scaled.append(
            F.least(
                F.lit(2**bits - 1),
                F.floor(((F.col(c) - F.lit(lo)) * F.lit(2**bits)) / F.lit(rng + 1)),
            ).cast("long")
        )
    z = F.lit(0).cast("long")
    for i in range(bits):
        for j, s in enumerate(scaled):
            bit = F.shiftright(s, i).bitwiseAND(F.lit(1))
            z = z + F.shiftleft(bit, i * len(cols) + j)
    return z


def zorder_value_sql(cols: list, bits: int = 16, *, mins: dict, ranges: dict) -> str:
    """The identical z-value formula as DuckDB SQL (oracle parity)."""
    scaled = [
        f"CAST(LEAST({2**bits - 1}, FLOOR((({c}) - ({mins[c]})) * {2**bits} / ({ranges[c]} + 1))) AS BIGINT)"
        for c in cols
    ]
    terms = []
    for i in range(bits):
        for j, s in enumerate(scaled):
            terms.append(f"((({s} >> {i}) & 1) << {i * len(cols) + j})")
    return "(" + " + ".join(terms) + ")"
