"""Engine defaults mirroring the reference's config surface.

Every constant cites the reference key it models
(/root/reference/src/main/java/org/apache/iceberg/aws/manage/AwsManageProperties.java).
The fixture `events` table has no literal ``replace`` operation, so the
compaction-watermark operation is parameterized (FIXTURES.md note) and
defaults to ``purchase``.
"""

from __future__ import annotations

# optimize-data.commit-threshold (AwsManageProperties.java:11-13)
COMMIT_THRESHOLD = 10
# optimize-data.time-threshold-ms, 3 h (AwsManageProperties.java:15-18)
TIME_THRESHOLD_MS = 10_800_000
# optimize-data.options.max-file-group-size-bytes, 10 GiB
# (AwsManageProperties.java:48-50); fixtures pass a scaled-down cap.
MAX_FILE_GROUP_SIZE_BYTES = 10_737_418_240
# optimize-data.strategy (AwsManageProperties.java:52-54)
STRATEGY_BINPACK = "binpack"
STRATEGY_SORT = "sort"
# DataOperations.REPLACE analog in the fixture event vocabulary
# (AwsTableManagementMetricsEvaluator.java:114; FIXTURES.md).
REPLACE_OPERATION = "purchase"

# Deterministic "now" for time-threshold queries: just past the fixture
# ts range (events span 2024-01-01..2024-01-30); wall clock is never
# used so the DuckDB oracle hashes identically (SURVEY.md SS5.1).
NOW_LITERAL = "2024-01-31 00:00:00"

# Reporter keys stripped before spawning a maintenance job to break
# trigger recursion (AwsTableManagementMetricsEvaluator.java:93-99).
REPORTER_PROPERTIES = (
    "metrics-reporter-impl",
    "optimize-data.impl",
    "optimize-data.commit-threshold",
    "optimize-data.time-threshold-ms",
)

# Key prefixes for config sub-map projection (EMRSparkUtil.java:72-77,137-141).
OPTIONS_PREFIX = "optimize-data.options."
SPARK_CONFIGS_PREFIX = "optimize-data.spark.configs."

# Catalog name used in rendered CALL statements (EMRSparkUtil.java:25).
CATALOG_NAME = "aws_ebtm"

# Fixture-scale binpack cap: the 10 GiB production default scaled to the
# synthetic _files inventory (file_size_bytes ~ l_extendedprice*1000,
# i.e. ~1e7 per file, ~6 files/table-group at sf0.01).
FIXTURE_GROUP_CAP_BYTES = 200_000_000
# Number of synthetic tables the lineitem-derived _files inventory is
# sharded into (FIXTURES.md: table_name = concat('t', l_orderkey % K)).
FILES_TABLE_COUNT = 8
