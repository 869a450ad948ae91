"""Tier D (part 5) — training-data-pipeline extensions (SURVEY.md
§2-E E101-E106).

Fourth batch of LLM-corpus / lakehouse-observability operators:
leakage-safe cluster-holdout splitting (near-dup clusters never
straddle train/val/test), winnowing document fingerprints (the MOSS
local-substring scheme — the positional complement of whole-doc
MinHash), product-quantization codes over the embedding table (the
memory-bound half of an IVF-PQ ANN index), incremental
materialized-view maintenance (merge base+delta partial aggregates
instead of recomputing — the query shape Iceberg incremental scans
exist to feed), a file min/max overlap-depth audit (the clustering-
quality metric that quantifies what a sort/z-order rewrite buys,
companion to E74's skip estimator), and an engine-neutral HyperLogLog
(register-based; upgrades the rows-only C20 to an oracle-exact
formulation, complementing E99's KMV order-statistics sketch).

All built-in-function formulations (no Python UDFs); every query
carries an exact DuckDB oracle.  Engine-neutral hashing reuses
operators/dedup.neutral_word_hash (md5-derived, 60-bit) so DuckDB
reproduces every hash bit, register index, and rank exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import config, io
from ..operators import dedup as D
from ..operators import gates
from ..operators import similarity as S
from ..operators.dedup import neutral_word_hash
from ..registry import register

# DuckDB mirror of operators/dedup.neutral_word_hash(col) — identical
# to the template in pipeline_ext3.py (kept local: query modules don't
# import each other, so registration order stays the rotation's call).
_NEUTRAL_HASH = (
    "CAST(list_reduce(string_split('0' || substr(md5({col}), 1, 15), ''),"
    " (acc, c) -> CAST(acc AS BIGINT) * 16"
    " + strpos('0123456789abcdef', c) - 1) AS BIGINT)"
)

# Word-3-gram CTE with per-document positions (the positional variant
# of queries/dedup._GRAMS_CTE, which is DISTINCT and position-free).
_POS_GRAMS_CTE = r"""
  ws AS (
    SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS w
    FROM documents
  ),
  pg AS (
    SELECT doc_id, i AS pos, array_to_string(w[i:i+2], ' ') AS gram
    FROM ws, UNNEST(generate_series(1, len(w) - 2)) AS t(i)
  ),
  pgf AS (SELECT * FROM pg WHERE gram <> '')
"""

# Whole-doc-dedup grams + verified-pair + recursive-closure CTE chain —
# the same shapes dedup_near_clusters uses (queries/dedup.py:104,242).
_CLUSTER_COMP_CTE = r"""
  ws AS (
    SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS w
    FROM documents
  ),
  grams AS (
    SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS shingle
    FROM ws, UNNEST(generate_series(1, len(w) - 2)) AS t(i)
  ),
  gramsf AS (SELECT * FROM grams WHERE shingle <> ''),
  sizes AS (SELECT doc_id, COUNT(*) AS n FROM gramsf GROUP BY doc_id),
  inter AS (
    SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b, COUNT(*) AS n_common
    FROM gramsf a JOIN gramsf b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
  ),
  pairs AS (
    SELECT doc_id_a, doc_id_b
    FROM inter
    JOIN sizes sa ON doc_id_a = sa.doc_id
    JOIN sizes sb ON doc_id_b = sb.doc_id
    WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.5
  ),
  edges AS (
    SELECT doc_id_a AS s, doc_id_b AS d FROM pairs
    UNION ALL
    SELECT doc_id_b AS s, doc_id_a AS d FROM pairs
  ),
  reach(s, d) AS (
    SELECT s, d FROM edges
    UNION
    SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s
  ),
  comp AS (
    SELECT s AS doc_id, LEAST(s, MIN(d)) AS component_id
    FROM reach GROUP BY s
  )
"""


@register(
    "split_cluster_holdout",
    tier="D",
    oracle=f"""
    WITH RECURSIVE {_CLUSTER_COMP_CTE},
    assign AS (
      SELECT d.doc_id, d.n_chars,
             COALESCE(c.component_id, d.doc_id) AS component_id
      FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
    ),
    bucketed AS (
      SELECT *,
             {_NEUTRAL_HASH.format(col="CAST(component_id AS VARCHAR) || ':holdout'")}
               % 10 AS bucket
      FROM assign
    )
    SELECT CASE WHEN bucket < 8 THEN 'train'
                WHEN bucket = 8 THEN 'val'
                ELSE 'test' END AS split,
           COUNT(*) AS n_docs,
           COUNT(DISTINCT component_id) AS n_clusters,
           CAST(SUM(n_chars) AS BIGINT) AS n_chars_total
    FROM bucketed GROUP BY 1
    """,
)
def split_cluster_holdout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E101: leakage-safe train/val/test split — the unit of assignment
    is the NEAR-DUP CLUSTER, not the document.  E41's per-doc hash
    split leaks: if doc A (train) and its near-duplicate A' (test)
    straddle the boundary, eval measures memorization.  Here every doc
    is mapped to its connected component over the verified Jaccard≥0.5
    pair graph (singletons are their own cluster), and the split
    bucket is hashed from the CLUSTER id, so a whole duplicate family
    lands on one side.  This is the dedup-aware split every published
    LLM data pipeline ends with (and the reason D1/D2 run first).

    Scale shape: clusters come from the candidate-pair node set
    (duplicate-count-sized, operators/dedup.connected_components);
    the corpus-side work is one broadcast-able left join of the
    (doc_id → component) map plus a map-side hash — the corpus text
    never shuffles.  Bucket hashing from the engine-neutral md5 makes
    the assignment reproducible across engines and reruns (auditable,
    like E79's sampler)."""
    docs = io.table(spark, sf_dir, "documents").select("doc_id", "text", "n_chars")
    pairs = D.jaccard_pairs(
        D.shingles(docs.select("doc_id", "text"), 3, hashed=True),
        threshold=0.5,
        broadcast_sizes=not gates.corpus_exceeds(sf_dir),
    )
    comp = D.connected_components(pairs)
    assign = docs.join(comp, "doc_id", "left").select(
        "doc_id",
        "n_chars",
        F.coalesce("component_id", "doc_id").alias("component_id"),
    )
    bucket = neutral_word_hash(
        F.concat(F.col("component_id").cast("string"), F.lit(":holdout"))
    ) % 10
    return (
        assign.withColumn("bucket", bucket)
        .withColumn(
            "split",
            F.when(F.col("bucket") < 8, "train")
            .when(F.col("bucket") == 8, "val")
            .otherwise("test"),
        )
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("component_id").alias("n_clusters"),
            F.sum("n_chars").cast("long").alias("n_chars_total"),
        )
    )


_WINNOW_W = 4  # window width in shingles (MOSS default ballpark)


@register(
    "text_winnow_fingerprints",
    tier="D",
    oracle=f"""
    WITH {_POS_GRAMS_CTE},
    h AS (
      SELECT doc_id, pos, {_NEUTRAL_HASH.format(col="gram")} AS h FROM pgf
    ),
    seq AS (
      SELECT doc_id, h,
             ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS rn,
             COUNT(*) OVER (PARTITION BY doc_id) AS n
      FROM h
    ),
    wm AS (
      SELECT doc_id, n, rn,
             MIN(h) OVER (PARTITION BY doc_id ORDER BY rn
                          ROWS BETWEEN CURRENT ROW AND {_WINNOW_W - 1} FOLLOWING)
               AS fp
      FROM seq
    ),
    sel AS (
      SELECT DISTINCT doc_id, n AS n_grams, fp
      FROM wm WHERE rn <= GREATEST(n - {_WINNOW_W - 1}, 1)
    ),
    shared AS (
      SELECT fp FROM sel GROUP BY fp HAVING COUNT(DISTINCT doc_id) >= 2
    )
    SELECT s.doc_id,
           MIN(s.n_grams) AS n_grams,
           COUNT(*) AS n_fingerprints,
           CAST(SUM(CASE WHEN sh.fp IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_shared_fp
    FROM sel s LEFT JOIN shared sh ON s.fp = sh.fp
    GROUP BY s.doc_id
    """,
)
def text_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E102: winnowing fingerprints (Schleimer/Wilkerson/Aiken, the
    MOSS scheme): slide a width-{w} window over each document's
    POSITIONAL 3-gram hash sequence and keep each window's minimum —
    guaranteeing any shared substring of ≥ w+2 words produces a shared
    fingerprint, with ~2/(w+1) selection density.  This is the
    LOCAL-substring complement of whole-doc MinHash (D2): MinHash
    finds near-identical documents; winnowing finds copied PASSAGES
    inside otherwise-different documents (boilerplate, quotations,
    contamination at paragraph granularity).  Docs shorter than one
    full window contribute their global minimum.  Output per doc:
    positional gram count, selected fingerprint count, and how many of
    its fingerprints also occur in another doc (the copy signal).

    Scale shape: gram hashing is map-side; the winnow is ONE window
    partitioned by doc_id (rows-frame min over a bounded lookahead —
    no second shuffle for the count, it shares the partitioning); the
    cross-doc sharing join moves only the selected fingerprints
    (~2/(w+1) x gram count, three longs a row), never text.  At
    100 TB the shared-fp table is further shrunk by a df-cap like
    E50's before any pairwise expansion — here it feeds a per-doc
    count only, which stays linear."""
    docs = io.table(spark, sf_dir, "documents")
    d = docs.withColumn("w", F.split(F.lower("text"), r"\s+"))
    z = F.arrays_zip(
        F.col("w"), F.slice("w", 2, 1_000_000_000), F.slice("w", 3, 1_000_000_000)
    )
    gram = F.transform(
        z, lambda s: F.when(s["2"].isNotNull(), F.concat_ws(" ", s["w"], s["1"], s["2"]))
    )
    pg = (
        d.select("doc_id", F.posexplode(gram).alias("pos", "gram"))
        .filter(F.col("gram").isNotNull() & (F.col("gram") != ""))
        .select("doc_id", "pos", neutral_word_hash(F.col("gram")).alias("h"))
    )
    byposw = Window.partitionBy("doc_id").orderBy("pos")
    docw = Window.partitionBy("doc_id")
    seq = pg.select(
        "doc_id",
        "h",
        F.row_number().over(byposw).alias("rn"),
        F.count("*").over(docw).alias("n"),
    )
    winw = Window.partitionBy("doc_id").orderBy("rn").rowsBetween(0, _WINNOW_W - 1)
    sel = (
        seq.select(
            "doc_id",
            F.col("n").alias("n_grams"),
            "rn",
            F.min("h").over(winw).alias("fp"),
        )
        .filter(F.col("rn") <= F.greatest(F.col("n_grams") - (_WINNOW_W - 1), F.lit(1)))
        .select("doc_id", "n_grams", "fp")
        .distinct()
        # sel feeds the shared-fp aggregate AND the final join, but
        # column pruning projects the two copies differently, so
        # exchange reuse never fires and the whole gram+triple-window
        # chain executed TWICE (r15 plan audit: two full Scan->Generate
        # ->Window subtrees).  Materialize the selected fingerprints
        # once — ~2/(w+1) of the gram rows, three longs a row.
        .localCheckpoint(eager=False)
    )
    # sel is DISTINCT over (doc_id, n_grams, fp) and n_grams is a
    # per-doc constant, so (doc_id, fp) rows are unique here and
    # count(*) per fp IS the distinct-doc count — count-distinct would
    # plan an extra dedupe exchange (keys=(fp, doc_id)) before the fp
    # aggregation for rows that are already distinct (r15: 3 -> 2
    # exchanges on this branch, one HashAggregate phase removed).
    shared = (
        sel.groupBy("fp")
        .agg(F.count("*").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("fp")
    )
    return (
        sel.join(shared.withColumn("is_shared", F.lit(1)), "fp", "left")
        .groupBy("doc_id")
        .agg(
            F.min("n_grams").alias("n_grams"),
            F.count("*").alias("n_fingerprints"),
            F.sum(F.coalesce("is_shared", F.lit(0))).cast("long").alias("n_shared_fp"),
        )
    )


_PQ_BLOCKS = 4
_PQ_SUBDIM = 16  # 64-dim embeddings -> 4 blocks x 16 dims
_PQ_K = 4  # centroids per block (deterministic: 4 lowest vec_ids)


def _pq_block_dist_sql(b: int) -> str:
    off = b * _PQ_SUBDIM
    return (
        f"CAST(list_sum(list_transform(generate_series(1, {_PQ_SUBDIM}),"
        f" j -> (x.xq[{off} + j] - c.cq[{off} + j])"
        f" * (x.xq[{off} + j] - c.cq[{off} + j]))) AS BIGINT) AS d{b}"
    )


@register(
    "embedding_pq_codes",
    tier="D",
    oracle=f"""
    WITH x AS (
      SELECT vec_id,
             list_transform(embedding,
               e -> CAST(FLOOR(CAST(e AS DOUBLE) * {float(S.VEC_Q)}) AS BIGINT)) AS xq
      FROM embeddings
    ),
    cent AS (
      SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS code_id, xq AS cq
      FROM x ORDER BY vec_id LIMIT {_PQ_K}
    ),
    d AS (
      SELECT x.vec_id, c.code_id,
             {", ".join(_pq_block_dist_sql(b) for b in range(_PQ_BLOCKS))}
      FROM x CROSS JOIN cent c
    ),
    r AS (
      SELECT vec_id, code_id, d0, d1, d2, d3,
             ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d0, code_id) AS r0,
             ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d1, code_id) AS r1,
             ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, code_id) AS r2,
             ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d3, code_id) AS r3
      FROM d
    )
    SELECT b0.vec_id,
           b0.code_id AS code0, b1.code_id AS code1,
           b2.code_id AS code2, b3.code_id AS code3,
           b0.d0 + b1.d1 + b2.d2 + b3.d3 AS distortion
    FROM (SELECT vec_id, code_id, d0 FROM r WHERE r0 = 1) b0
    JOIN (SELECT vec_id, code_id, d1 FROM r WHERE r1 = 1) b1 USING (vec_id)
    JOIN (SELECT vec_id, code_id, d2 FROM r WHERE r2 = 1) b2 USING (vec_id)
    JOIN (SELECT vec_id, code_id, d3 FROM r WHERE r3 = 1) b3 USING (vec_id)
    """,
)
def embedding_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E103: product-quantization encoding — split each 64-dim
    embedding into {blocks} sub-vectors of {subdim} dims, assign each
    sub-vector to its nearest of {k} per-block centroids (exact
    quantized-L2, ties → lowest code), emit the {blocks}-byte code plus
    total distortion.  PQ is the memory side of an IVF-PQ ANN index
    (E53/D3 give the IVF coarse step): 64 floats (256 B) compress to
    {blocks} codes, and distortion is the recall-budget signal.
    Deterministic codebook (sub-vectors of the {k} lowest vec_ids —
    the k-means++ stand-in E53 uses) keeps it engine-exact.

    Exactness: distances are int64 over floor(x*2^20) quantized
    components (operators/similarity.py VEC_Q); (2*2^20)^2*16 dims
    < 2^47 per block — no overflow, both engines bit-identical.

    Scale shape: the codebook is k x 64 ints — broadcast; per-vector
    block distances are map-side zip_with/aggregate over the {k}
    broadcast rows; the per-block argmin is a min(struct) partial agg
    keyed on vec_id (combines map-side, one shuffle of code-sized
    rows).  Training a real codebook = E53's Lloyd loop per block,
    same shapes; encoding — this query — is the hot recurring pass."""
    x = io.table(spark, sf_dir, "embeddings").select(
        "vec_id", S.quantize(F.col("embedding")).alias("xq")
    )
    cent = (
        x.orderBy("vec_id")
        .limit(_PQ_K)
        .select(
            (F.row_number().over(Window.orderBy("vec_id")) - 1)
            .cast("long")
            .alias("code_id"),
            F.col("xq").alias("cq"),
        )
    )

    def block_dist(b: int) -> F.Column:
        off = b * _PQ_SUBDIM
        return F.aggregate(
            F.zip_with(
                F.slice("xq", off + 1, _PQ_SUBDIM),
                F.slice("cq", off + 1, _PQ_SUBDIM),
                lambda a, c: (a - c) * (a - c),
            ),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        ).alias(f"d{b}")

    dists = x.crossJoin(F.broadcast(cent)).select(
        "vec_id", "code_id", *[block_dist(b) for b in range(_PQ_BLOCKS)]
    )
    picks = dists.groupBy("vec_id").agg(
        *[
            F.min(F.struct(F.col(f"d{b}"), F.col("code_id"))).alias(f"m{b}")
            for b in range(_PQ_BLOCKS)
        ]
    )
    return picks.select(
        "vec_id",
        *[F.col(f"m{b}.code_id").alias(f"code{b}") for b in range(_PQ_BLOCKS)],
        sum(F.col(f"m{b}.d{b}") for b in range(_PQ_BLOCKS)).alias("distortion"),
    )


_MV_CUTOFF = "1997-01-01"


@register(
    "agg_incremental_maintenance",
    tier="C",
    oracle=f"""
    WITH base AS (
      SELECT o_custkey,
             COUNT(*) AS n_orders,
             CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS total_cents,
             MAX(o_orderdate) AS last_order
      FROM orders WHERE o_orderdate < TIMESTAMP '{_MV_CUTOFF}'
      GROUP BY o_custkey
    ),
    delta AS (
      SELECT o_custkey,
             COUNT(*) AS n_orders,
             CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS total_cents,
             MAX(o_orderdate) AS last_order
      FROM orders WHERE o_orderdate >= TIMESTAMP '{_MV_CUTOFF}'
      GROUP BY o_custkey
    ),
    partials AS (
      SELECT * FROM base UNION ALL SELECT * FROM delta
    )
    SELECT o_custkey,
           CAST(SUM(n_orders) AS BIGINT) AS n_orders,
           CAST(SUM(total_cents) AS BIGINT) AS total_cents,
           MAX(last_order) AS last_order
    FROM partials GROUP BY o_custkey
    """,
)
def agg_incremental_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E104: incremental materialized-view maintenance — the per-
    customer order summary (count, lifetime cents, last order) is kept
    as a BASE aggregate state and refreshed by merging the DELTA
    batch's partial aggregate, never rescanning history.  Emulated
    here by splitting orders at {cutoff}: base state from the history
    partition, delta from the new batch, merged by summing counts/
    sums and maxing last-order — the algebraic-aggregate property
    (commutative monoid partials) that makes a metric incrementally
    maintainable at all.  This is the consumer-side query shape
    Iceberg incremental scans (changelog E5, appended-files-since-
    snapshot) exist to feed: the reference's event-driven service
    triggers table maintenance; this is the analogous event-driven
    VIEW maintenance over the same commit stream.  Oracle recomputes
    from scratch — passing proves merge(base, delta) == full rescan.

    Scale shape: both partials aggregate map-side first; at 100 TB
    the base state is a stored table (custkey-bucketed), so a refresh
    shuffles only the delta partial + changed-key state rows — work
    ∝ batch size, exactly like E39's incremental dedup admission.
    MIN/MAX survive inserts-only (this pipeline is append-only, as
    Iceberg commits are); deletes would demote last_order to a
    re-aggregable sketch or tombstone log."""
    orders = io.table(spark, sf_dir, "orders")
    cutoff = F.lit(_MV_CUTOFF).cast("timestamp")

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("o_custkey").agg(
            F.count("*").alias("n_orders"),
            F.sum(F.floor(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("total_cents"),
            F.max("o_orderdate").alias("last_order"),
        )

    base = partial(orders.filter(F.col("o_orderdate") < cutoff))
    delta = partial(orders.filter(F.col("o_orderdate") >= cutoff))
    return (
        base.unionByName(delta)
        .groupBy("o_custkey")
        .agg(
            F.sum("n_orders").cast("long").alias("n_orders"),
            F.sum("total_cents").cast("long").alias("total_cents"),
            F.max("last_order").alias("last_order"),
        )
    )


_OVERLAP_FILES_TABLES = config.FILES_TABLE_COUNT  # mirror E74's file slicing


@register(
    "files_overlap_depth",
    tier="B",
    oracle=f"""
    WITH fstats AS (
      SELECT 't' || CAST(l_orderkey % {_OVERLAP_FILES_TABLES} AS VARCHAR)
               AS table_name,
             l_orderkey // 100 AS file_no,
             MIN(l_partkey) AS min_pk, MAX(l_partkey) AS max_pk,
             MIN(l_orderkey) AS min_ok, MAX(l_orderkey) AS max_ok
      FROM lineitem GROUP BY 1, 2
    ),
    ev AS (
      SELECT table_name, 'l_partkey' AS key_col, min_pk AS pos, 0 AS kind,
             1::BIGINT AS delta FROM fstats
      UNION ALL
      SELECT table_name, 'l_partkey', max_pk, 1, -1::BIGINT FROM fstats
      UNION ALL
      SELECT table_name, 'l_orderkey', min_ok, 0, 1::BIGINT FROM fstats
      UNION ALL
      SELECT table_name, 'l_orderkey', max_ok, 1, -1::BIGINT FROM fstats
    ),
    sweep AS (
      SELECT table_name, key_col, kind,
             CAST(SUM(delta) OVER (
               PARTITION BY table_name, key_col ORDER BY pos, kind
               RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS depth
      FROM ev
    )
    SELECT table_name, key_col,
           COUNT(*) AS n_files,
           ROUND(AVG(depth), 6) AS avg_depth,
           MAX(depth) AS max_depth
    FROM sweep WHERE kind = 0
    GROUP BY table_name, key_col
    """,
)
def files_overlap_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E105: file min/max overlap-depth audit — for each emulated data
    file's [min, max] range of a key, how many files' ranges cover its
    start point (the "stabbing depth").  Depth ~1 means the key is
    clustered (a point predicate opens one file); depth ~n_files means
    every scan touches everything.  Run over BOTH the layout key
    (l_orderkey — files are orderkey slices, so depth ≈ 1) and an
    unclustered key (l_partkey — depth ≈ n_files), the contrast IS the
    measured benefit a sort/z-order rewrite (B2) would deliver — the
    before/after pair to E74's predicate-specific skip estimate, and
    the metric the reference's blind commit-count trigger
    (AwsManageProperties.java:11-13) lacks.

    Depth via interval sweep, not pairwise: each file contributes a
    +1 event at its min and a -1 at its max; a RANGE-framed running
    sum ordered by (pos, kind) — starts before ends at equal pos, so
    closed intervals touching at a boundary count as overlapping —
    gives the open-interval count at every start.  RANGE (peer-
    inclusive) makes tied rows share one deterministic value in both
    engines.  O(F log F) on file-count METADATA vs O(F²) pairwise.

    Scale shape: file stats are one groupBy over the raw table (in a
    real lake they're free from manifests); events are 4 rows per
    file; the sweep is one window per (table, key) over metadata.
    Nothing touches data rows after the stats pass."""
    li = io.table(spark, sf_dir, "lineitem")
    fstats = li.groupBy(
        F.concat(
            F.lit("t"), (F.col("l_orderkey") % _OVERLAP_FILES_TABLES).cast("string")
        ).alias("table_name"),
        (F.col("l_orderkey") / 100).cast("long").alias("file_no"),
    ).agg(
        F.min("l_partkey").alias("min_pk"),
        F.max("l_partkey").alias("max_pk"),
        F.min("l_orderkey").alias("min_ok"),
        F.max("l_orderkey").alias("max_ok"),
    )

    def events(key_col: str, lo: str, hi: str) -> DataFrame:
        start = fstats.select(
            "table_name",
            F.lit(key_col).alias("key_col"),
            F.col(lo).alias("pos"),
            F.lit(0).alias("kind"),
            F.lit(1).cast("long").alias("delta"),
        )
        end = fstats.select(
            "table_name",
            F.lit(key_col).alias("key_col"),
            F.col(hi).alias("pos"),
            F.lit(1).alias("kind"),
            F.lit(-1).cast("long").alias("delta"),
        )
        return start.unionByName(end)

    ev = events("l_partkey", "min_pk", "max_pk").unionByName(
        events("l_orderkey", "min_ok", "max_ok")
    )
    sweepw = (
        Window.partitionBy("table_name", "key_col")
        .orderBy("pos", "kind")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sweep = ev.select(
        "table_name", "key_col", "kind", F.sum("delta").over(sweepw).alias("depth")
    )
    return (
        sweep.filter(F.col("kind") == 0)
        .groupBy("table_name", "key_col")
        .agg(
            F.count("*").alias("n_files"),
            F.round(F.avg("depth"), 6).alias("avg_depth"),
            F.max("depth").alias("max_depth"),
        )
    )


_HLL_M = 64  # registers (p = 6)
_HLL_REST_BITS = 54  # 60-bit neutral hash minus 6 register-index bits
# alpha_m * m^2 * 2^54-scale numerator, precomputed so both engines do
# ONE double division (deterministic IEEE op) — no cross-engine libm.
_HLL_NUMERATOR = 0.7093409548395029 * _HLL_M * _HLL_M * float(2 ** (_HLL_REST_BITS + 1))
_HLL_LINEAR_CUTOFF = 2.5 * _HLL_M


@register(
    "distinct_hll_neutral",
    tier="D",
    oracle=f"""
    WITH toks AS (
      SELECT source, unnest(regexp_split_to_array(lower(text), '\\s+')) AS word
      FROM documents
    ),
    tk AS (SELECT source, word FROM toks WHERE word <> ''),
    h AS (
      SELECT source, word, {_NEUTRAL_HASH.format(col="word")} AS h FROM tk
    ),
    rho AS (
      SELECT source,
             h >> {_HLL_REST_BITS} AS reg,
             CASE WHEN h & ((1::BIGINT << {_HLL_REST_BITS}) - 1) = 0
                  THEN {_HLL_REST_BITS + 1}
                  ELSE {_HLL_REST_BITS + 1}
                       - length(format('{{:b}}',
                           h & ((1::BIGINT << {_HLL_REST_BITS}) - 1)))
             END AS rho
      FROM h
    ),
    regs AS (SELECT source, reg, MAX(rho) AS rmax FROM rho GROUP BY 1, 2),
    grid AS (
      SELECT s.source, g.reg
      FROM (SELECT DISTINCT source FROM documents) s
      CROSS JOIN (SELECT unnest(generate_series(0, {_HLL_M - 1})) AS reg) g
    ),
    full_regs AS (
      SELECT grid.source, COALESCE(r.rmax, 0) AS rmax0
      FROM grid LEFT JOIN regs r ON grid.source = r.source AND grid.reg = r.reg
    ),
    acc AS (
      SELECT source,
             CAST(SUM(1::BIGINT << ({_HLL_REST_BITS + 1} - rmax0)) AS BIGINT)
               AS s_int,
             CAST(SUM(CASE WHEN rmax0 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS v
      FROM full_regs GROUP BY source
    ),
    est AS (
      SELECT source, v AS n_zero_registers,
             CASE WHEN v > 0
                   AND {_HLL_NUMERATOR!r} / s_int <= {_HLL_LINEAR_CUTOFF!r}
                  THEN ROUND({float(_HLL_M)!r} * ln({float(_HLL_M)!r} / v), 4)
                  ELSE ROUND({_HLL_NUMERATOR!r} / s_int, 4)
             END AS hll_estimate
      FROM acc
    ),
    exact AS (
      SELECT source, COUNT(*) AS n_tokens,
             COUNT(DISTINCT word) AS exact_distinct
      FROM tk GROUP BY source
    )
    SELECT e.source, e.n_tokens, e.exact_distinct,
           est.n_zero_registers, est.hll_estimate
    FROM exact e JOIN est ON e.source = est.source
    """,
)
def distinct_hll_neutral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E106: engine-neutral HyperLogLog — per-source distinct-word
    estimate from m={m} max-leading-zero registers over the 60-bit
    md5 hash (top 6 bits pick the register, rho = leading zeros of
    the remaining {rb} bits + 1), with the standard linear-counting
    fallback when the raw estimate ≤ 2.5m and empty registers remain.
    C20 ships Spark's native HLL as rows-only (its sketch is engine-
    specific); this register-level formulation is oracle-EXACT: both
    engines compute identical registers bit for bit, the harmonic sum
    is INTEGER (Σ 2^(55-rho) in int64 — no float accumulation-order
    dependence), and the estimate is one IEEE division.  Bit-length
    via binary-string length (Spark `bin`, DuckDB `format('{{:b}}')`)
    keeps rho pure-integer.  Complements E99's KMV: HLL registers are
    64 BYTES of mergeable state vs KMV's k values — the sketch a
    100 TB profiler actually ships per (source, column).

    Scale shape: hash/register/rho are map-side; MAX(rho) partials
    combine map-side into ≤ m rows per source (the whole point of
    HLL — state is O(m), merge is element-wise max, exactly how
    per-partition sketches union); the register grid join is
    |sources| x m metadata.  Exact COUNT DISTINCT rides along as the
    audit anchor the sketch replaces at scale."""
    docs = io.table(spark, sf_dir, "documents")
    tk = docs.select(
        "source", F.explode(F.split(F.lower("text"), r"\s+")).alias("word")
    ).filter(F.col("word") != "")
    rest_mask = (1 << _HLL_REST_BITS) - 1
    h = tk.select("source", "word", neutral_word_hash(F.col("word")).alias("h"))
    rest = F.col("h").bitwiseAND(F.lit(rest_mask))
    rho = h.select(
        "source",
        F.shiftright("h", _HLL_REST_BITS).alias("reg"),
        F.when(rest == 0, F.lit(_HLL_REST_BITS + 1))
        .otherwise(F.lit(_HLL_REST_BITS + 1) - F.length(F.bin(rest)))
        .alias("rho"),
    )
    regs = rho.groupBy("source", "reg").agg(F.max("rho").alias("rmax"))
    grid = (
        docs.select("source")
        .distinct()
        .withColumn("reg", F.explode(F.sequence(F.lit(0), F.lit(_HLL_M - 1))))
    )
    full_regs = grid.join(regs, ["source", "reg"], "left").select(
        "source", F.coalesce("rmax", F.lit(0)).alias("rmax0")
    )
    acc = full_regs.groupBy("source").agg(
        F.sum(
            F.expr(f"shiftleft(1L, CAST({_HLL_REST_BITS + 1} - rmax0 AS INT))")
        )
        .cast("long")
        .alias("s_int"),
        F.sum(F.when(F.col("rmax0") == 0, 1).otherwise(0)).cast("long").alias("v"),
    )
    raw = F.lit(_HLL_NUMERATOR) / F.col("s_int")
    linear = F.lit(float(_HLL_M)) * F.log(F.lit(float(_HLL_M)) / F.col("v"))
    est = acc.select(
        "source",
        F.col("v").alias("n_zero_registers"),
        F.round(
            F.when((F.col("v") > 0) & (raw <= F.lit(_HLL_LINEAR_CUTOFF)), linear).otherwise(
                raw
            ),
            4,
        ).alias("hll_estimate"),
    )
    exact = tk.groupBy("source").agg(
        F.count("*").alias("n_tokens"),
        F.countDistinct("word").alias("exact_distinct"),
    )
    return exact.join(est, "source")
