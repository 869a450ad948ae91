"""Tier D — deduplication queries (SURVEY.md SS2-D D1/D2 +
BASELINE.json dedup family: exact, MinHash-LSH, SimHash, n-gram
Jaccard).  Engine logic in operators/dedup.py.

The fixture corpus has no byte-identical documents (verified), so the
exact-dedup query replays a deterministic subset as duplicates; the
corpus DOES contain planted near-duplicate pairs (word-3-gram Jaccard
>= 0.8), which the MinHash/Jaccard paths must surface (asserted in
tests/test_dedup.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import io
from ..operators import dedup as D
from ..operators import gates
from ..registry import register


def _with_replayed_dups(documents: DataFrame) -> DataFrame:
    """documents + every 10th doc re-ingested under a new id."""
    dups = documents.filter(F.col("doc_id") % 10 == 0).withColumn(
        "doc_id", F.col("doc_id") + 1_000_000
    )
    return documents.unionByName(dups)


_DUPED_CTE = """
  duped AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0
  )
"""


@register(
    "dedup_exact_documents",
    tier="D",
    oracle=f"""
    WITH {_DUPED_CTE}
    SELECT sha256(text) AS content_hash,
           MIN(doc_id) AS surviving_doc_id,
           COUNT(*) AS n_copies
    FROM duped GROUP BY sha256(text)
    """,
)
def dedup_exact_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1: exact dedup by sha256(text) over a corpus with replayed
    duplicates — survivor = min doc_id, with copy counts.  One shuffle
    on the hash; at 100 TB this is the cheapest dedup pass and runs
    first in the pipeline."""
    duped = _with_replayed_dups(io.table(spark, sf_dir, "documents").select("doc_id", "text"))
    return duped.groupBy(F.sha2("text", 256).alias("content_hash")).agg(
        F.min("doc_id").alias("surviving_doc_id"),
        F.count("*").alias("n_copies"),
    )


@register(
    "dedup_near_candidates",
    tier="D",
    oracle=r"""
    WITH ws AS (
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
    )
    SELECT doc_id_a, doc_id_b
    FROM inter
    JOIN sizes sa ON doc_id_a = sa.doc_id
    JOIN sizes sb ON doc_id_b = sb.doc_id
    WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.5
    """,
)
def dedup_near_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D2: MinHash-LSH candidate pairs: word-3-shingles ->
    32-permutation MinHash signature -> 8 bands x 4 rows banding ->
    bucket equi-join.  The LSH bucket join is the 100 TB path (no
    quadratic blowup).  With the fixed MinHash seeds, the candidate
    set on the fixture corpus is empirically EXACTLY the Jaccard>=0.5
    pair set (verified at sf0.001 and sf0.01: no false positives or
    negatives), so the exact-pair SQL is a valid oracle here; in
    general LSH candidates are a superset/subset and the recall bound
    is what tests/test_dedup.py asserts."""
    docs = io.table(spark, sf_dir, "documents").select("doc_id", "text")
    sh = D.shingles(docs, 3)
    sig = D.minhash_signatures(sh, num_hashes=32)
    # the doc count bounds every bucket's membership — the hot-bucket
    # split engages only when a bucket COULD exceed the cap (r16, from
    # the r15 VERDICT #1).
    return D.lsh_candidate_pairs(
        sig, bands=8, rows_per_band=4,
        split_hot=gates.corpus_exceeds(sf_dir, cutoff=D.LSH_BUCKET_CAP),
    )


_GRAMS_CTE = r"""
  ws AS (
    SELECT doc_id, lang, regexp_split_to_array(lower(text), '\s+') AS w
    FROM documents
  ),
  grams AS (
    SELECT DISTINCT doc_id, lang, array_to_string(w[i:i+2], ' ') AS shingle
    FROM ws, UNNEST(generate_series(1, len(w) - 2)) AS t(i)
  ),
  gramsf AS (SELECT * FROM grams WHERE shingle <> '')
"""


_JACCARD_ORACLE = f"""
    WITH {_GRAMS_CTE},
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM gramsf GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b, COUNT(*) AS n_common
      FROM gramsf a JOIN gramsf b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_id_a, doc_id_b, n_common,
           sa.n AS n_a, sb.n AS n_b,
           ROUND(CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON doc_id_a = sa.doc_id
    JOIN sizes sb ON doc_id_b = sb.doc_id
    WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.5
    """


@register("dedup_ngram_jaccard", tier="D", oracle=_JACCARD_ORACLE)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D2-exact: word-3-gram Jaccard pairs >= 0.5 — surfaces the
    fixture's planted near-duplicates.  The shingle equi-join is the
    selective candidate generator; at scale it runs AFTER LSH blocking
    (dedup_near_candidates) so only candidates are verified."""
    docs = io.table(spark, sf_dir, "documents").select("doc_id", "text")
    # hashed=True: shingles here are pure equality keys (jaccard_pairs
    # hashes them immediately anyway) — skip materializing the gram
    # strings (r15, §2.3 narrower types at the hottest row count).
    sh = D.shingles(docs, 3, hashed=True)
    pairs = D.jaccard_pairs(sh, threshold=0.5, broadcast_sizes=not gates.corpus_exceeds(sf_dir))
    return pairs.select(
        "doc_id_a",
        "doc_id_b",
        "n_common",
        "n_a",
        "n_b",
        F.round("jaccard", 6).alias("jaccard"),
    )


_SIMHASH_BITS = 60
# fp CTE chain (no WITH / no final select) — shared with the hamming
# pair join in pipeline_ext7.
_SIMHASH_FP_CTE = (
    r"""
    words AS (
      SELECT doc_id, UNNEST(list_filter(regexp_split_to_array(lower(text), '\s+'),
                                        w -> w <> '')) AS word
      FROM documents
    ),
    hashed AS (
      SELECT doc_id,
             CAST(list_reduce(string_split('0' || substr(md5(word), 1, 15), ''),
                              (acc, c) -> CAST(acc AS BIGINT) * 16
                                          + strpos('0123456789abcdef', c) - 1)
                  AS BIGINT) AS h
      FROM words
    ),
    bit_sums AS (
      SELECT doc_id,
             """
    + ",\n             ".join(
        f"SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS b{b}"
        for b in range(_SIMHASH_BITS)
    )
    + """
      FROM hashed GROUP BY doc_id
    ),
    fp AS (
      SELECT doc_id,
             """
    + "\n             + ".join(
        f"(CASE WHEN b{b} > 0 THEN CAST({2**b} AS BIGINT) ELSE 0 END)"
        for b in range(_SIMHASH_BITS)
    )
    + """ AS simhash
      FROM bit_sums
    )"""
)
_SIMHASH_ORACLE = (
    "WITH "
    + _SIMHASH_FP_CTE
    + """
    SELECT simhash, COUNT(*) AS n_docs, MIN(doc_id) AS min_doc_id
    FROM fp GROUP BY simhash HAVING COUNT(*) >= 1
    """
)


@register("dedup_simhash_buckets", tier="D", oracle=_SIMHASH_ORACLE)
def dedup_simhash_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup buckets: 60-bit sign fingerprints over the
    engine-neutral md5-derived word hash (operators/dedup.py
    neutral_word_hash), so DuckDB reproduces every fingerprint exactly
    — the former xxhash64 formulation was rows-only by necessity.
    Docs sharing a fingerprint are near-dup candidates.
    Sign-aggregation is one explode + one groupBy — linear, no
    pairwise work."""
    docs = io.table(spark, sf_dir, "documents").select("doc_id", "text")
    fp = D.simhash(docs)
    return (
        fp.groupBy("simhash")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("min_doc_id"))
        .filter(F.col("n_docs") >= 1)
    )


@register("dedup_near_verified", tier="D", oracle=_JACCARD_ORACLE)
def dedup_near_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D2 composed, the 100 TB pipeline shape: LSH banding generates
    candidate pairs (linear-ish), exact n-gram Jaccard verifies ONLY
    those candidates (`block=` semi-join) — the full-corpus pairwise
    join never runs.  Verification is exact Jaccard >= tau, so the
    oracle is the same SQL as dedup_ngram_jaccard: with the fixed
    MinHash seeds the LSH stage has 100% recall on the fixture corpus
    (every planted pair lands in a shared band bucket — also asserted
    in tests/test_dedup_similarity.py), making the blocked composition
    equal the unblocked exact result.

    The shingle table feeds BOTH the signature path and the verify
    path; localCheckpoint materializes the extraction once (executor-
    local, no driver traffic — on a cluster this is persist())."""
    docs = io.table(spark, sf_dir, "documents").select("doc_id", "text")
    sh = D.shingles(docs, 3).localCheckpoint(eager=False)
    # prof feeds the band pipeline (signature) AND the verify stage's
    # per-doc sizes from ONE groupBy(doc_id) — the separate
    # sizes-count aggregation was a second full pass + doc-keyed
    # shuffle over the same checkpointed shingle table.  The
    # checkpoint is what makes the fusion real: unmaterialized,
    # column pruning rewrites the sizes consumer back to its own
    # count-only aggregation (verified in the physical plan — the
    # winnow lesson again).  prof is doc-count-sized (33 longs/doc).
    prof = D.minhash_signatures(sh, num_hashes=32, with_count=True).localCheckpoint(
        eager=False
    )
    cands = D.lsh_candidate_pairs(
        prof.select("doc_id", "signature"), bands=8, rows_per_band=4,
        split_hot=gates.corpus_exceeds(sf_dir, cutoff=D.LSH_BUCKET_CAP),
    )
    # The FOOTER gate keeps the small-corpus broadcast fast path and
    # flips to shuffle_hash only past the doc cutoff (r12 ADVICE).
    verified = D.jaccard_pairs(
        sh, block=cands, threshold=0.5,
        broadcast_sizes=not gates.corpus_exceeds(sf_dir),
        input_cached=True,
        sizes=prof.select("doc_id", "n_shingles"),
    )
    return verified.select(
        "doc_id_a", "doc_id_b", "n_common", "n_a", "n_b", F.round("jaccard", 6).alias("jaccard")
    )


@register(
    "dedup_near_clusters",
    tier="D",
    oracle=f"""
    WITH RECURSIVE {_GRAMS_CTE},
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
    SELECT component_id,
           COUNT(*) AS n_docs,
           string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS members
    FROM comp GROUP BY component_id
    """,
)
def dedup_near_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D2 completed: near-duplicate CLUSTERS via connected components
    over the verified pair graph — survivor = min doc_id per component.
    Pairwise survivors under-deduplicate transitive chains (A~B, B~C
    keeps A and B); components keep exactly one doc per cluster.  The
    oracle computes the same components with a recursive-CTE transitive
    closure.  Components run over the candidate-pair node set
    (duplicate-count-sized), never the corpus.

    `members` is a comma-joined string, not array<long>: the grading
    harness canonicalizes results with pandas sort_values, which cannot
    sort rows on list-valued cells (r4 driver TypeError)."""
    docs = io.table(spark, sf_dir, "documents").select("doc_id", "text")
    pairs = D.jaccard_pairs(
        D.shingles(docs, 3, hashed=True),
        threshold=0.5,
        broadcast_sizes=not gates.corpus_exceeds(sf_dir),
    )
    comp = D.connected_components(pairs)
    return comp.groupBy("component_id").agg(
        F.count("*").alias("n_docs"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list("doc_id")),
                lambda x: x.cast("string"),
            ),
            ",",
        ).alias("members"),
    )


@register(
    "dedup_incremental_batch",
    tier="D",
    oracle="""
    WITH base AS (
      SELECT doc_id, sha256(text) AS h FROM documents WHERE doc_id % 5 <> 3
    ),
    batch AS (
      SELECT doc_id, sha256(text) AS h FROM documents WHERE doc_id % 5 = 3
      UNION ALL
      SELECT doc_id + 2000000, sha256(text) FROM documents WHERE doc_id % 10 = 0
      UNION ALL
      SELECT doc_id + 3000000, sha256(text) FROM documents WHERE doc_id % 20 = 3
    ),
    seen AS (SELECT DISTINCT h FROM base),
    flags AS (
      SELECT b.doc_id, s.h IS NOT NULL AS dup_of_base,
             ROW_NUMBER() OVER (PARTITION BY b.h ORDER BY b.doc_id) AS rk
      FROM batch b LEFT JOIN seen s USING (h)
    )
    SELECT doc_id,
           CASE WHEN dup_of_base THEN 'dup_of_base'
                WHEN rk > 1 THEN 'dup_in_batch'
                ELSE 'new' END AS reason,
           (NOT dup_of_base AND rk = 1) AS admitted
    FROM flags
    """,
)
def dedup_incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E39: incremental ingest dedup — an incoming batch (new docs +
    re-ingested corpus docs + intra-batch repeats, all derived
    deterministically from the fixture) admitted against the existing
    corpus's seen-hash set.  The full-corpus re-dedup
    (dedup_exact_documents) is the bootstrap; THIS is the shape every
    subsequent ingest runs — the corpus contributes only its hash
    index, and all work is proportional to the batch."""
    docs = io.table(spark, sf_dir, "documents").select("doc_id", "text")
    base = docs.filter(F.col("doc_id") % 5 != 3)
    batch = (
        docs.filter(F.col("doc_id") % 5 == 3)
        .unionByName(
            docs.filter(F.col("doc_id") % 10 == 0).withColumn(
                "doc_id", F.col("doc_id") + 2_000_000
            )
        )
        .unionByName(
            docs.filter(F.col("doc_id") % 20 == 3).withColumn(
                "doc_id", F.col("doc_id") + 3_000_000
            )
        )
    )
    return D.incremental_admit(base, batch)


@register(
    "corpus_version_diff",
    tier="E",
    oracle="""
    WITH v1 AS (
      SELECT doc_id, sha256(text) AS h FROM documents WHERE doc_id % 7 <> 2
    ),
    v2 AS (
      SELECT doc_id,
             sha256(CASE WHEN doc_id % 11 = 0 THEN text || ' [rev2]' ELSE text END) AS h
      FROM documents WHERE doc_id % 5 <> 4
    ),
    j AS (
      SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
             a.h AS h1, b.h AS h2
      FROM v1 a FULL OUTER JOIN v2 b ON a.doc_id = b.doc_id
    )
    SELECT doc_id,
           CASE WHEN h1 IS NULL THEN 'added'
                WHEN h2 IS NULL THEN 'removed'
                WHEN h1 <> h2 THEN 'changed'
                ELSE 'unchanged' END AS status
    FROM j
    """,
)
def corpus_version_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E40: dataset-version diff — per-doc added/removed/changed/
    unchanged between two corpus versions (derived deterministically
    from the fixture: v1 drops doc_id%7==2, v2 drops %5==4 and revises
    %11==0).  One full-outer join on doc_id comparing content hashes;
    both sides hash only (text never shuffles).  Complements E5's
    commit-activity CDC: that diffs the table's COMMIT history, this
    diffs the table's CONTENT between two pinned versions — the audit
    a training-data registry runs before promoting a corpus build."""
    docs = io.table(spark, sf_dir, "documents").select("doc_id", "text")
    v1 = docs.filter(F.col("doc_id") % 7 != 2).select(
        "doc_id", F.sha2(F.col("text"), 256).alias("h1")
    )
    v2 = docs.filter(F.col("doc_id") % 5 != 4).select(
        "doc_id",
        F.sha2(
            F.when(
                F.col("doc_id") % 11 == 0, F.concat(F.col("text"), F.lit(" [rev2]"))
            ).otherwise(F.col("text")),
            256,
        ).alias("h2"),
    )
    j = v1.join(v2, "doc_id", "full_outer")
    status = (
        F.when(F.col("h1").isNull(), F.lit("added"))
        .when(F.col("h2").isNull(), F.lit("removed"))
        .when(F.col("h1") != F.col("h2"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return j.select("doc_id", status.alias("status"))


# Cross-set incremental near-dup: batch ids are offset into disjoint
# ranges so the single-corpus LSH/Jaccard machinery applies unchanged
# and a pair is cross-set iff exactly one side is >= the offset.
_INC_OFFSET = 1_000_000
# The batch is moved out of the corpus (doc_id % 5 == 3, a fifth of it);
# edited re-ingests are added on top (doc_id % 10 == 1, a tenth).  The
# oracle's inc_base / inc_batch spell out the same split.
_INC_BATCH_MOD, _INC_BATCH_REM = 5, 3
_INC_REINGEST_MOD, _INC_REINGEST_REM = 10, 1


def _inc_split(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(base, batch) of dedup_incremental_neardup; batch ids are offset."""
    in_batch = F.col("doc_id") % _INC_BATCH_MOD == _INC_BATCH_REM
    batch = (
        docs.filter(in_batch)
        .withColumn("doc_id", F.col("doc_id") + _INC_OFFSET)
        .unionByName(
            docs.filter(F.col("doc_id") % _INC_REINGEST_MOD == _INC_REINGEST_REM).select(
                (F.col("doc_id") + 2 * _INC_OFFSET).alias("doc_id"),
                F.concat("text", F.lit(" zz9")).alias("text"),
            )
        )
    )
    return docs.filter(~in_batch), batch


#: Corpus size past which base + batch could fill an LSH hot bucket:
#: base and batch split the corpus, the re-ingests add
#: 1/_INC_REINGEST_MOD of it, and as much again is margin, so a corpus
#: at or under it keeps base + batch under the bucket cap.  Floored, so
#: it can only err toward splitting.
_INC_SPLIT_CUTOFF = D.LSH_BUCKET_CAP * _INC_REINGEST_MOD // (_INC_REINGEST_MOD + 2)


_INC_GRAMS = r"""
  inc_base AS (
    SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 3
  ),
  inc_batch AS (
    SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 5 = 3
    UNION ALL
    SELECT doc_id + 2000000, text || ' zz9' FROM documents WHERE doc_id % 10 = 1
  ),
  ws_b AS (
    SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS w FROM inc_base
  ),
  ws_q AS (
    SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS w FROM inc_batch
  ),
  grams_b AS (
    SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS shingle
    FROM ws_b, UNNEST(generate_series(1, len(w) - 2)) AS t(i)
  ),
  grams_q AS (
    SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS shingle
    FROM ws_q, UNNEST(generate_series(1, len(w) - 2)) AS t(i)
  ),
  gramsf_b AS (SELECT * FROM grams_b WHERE shingle <> ''),
  gramsf_q AS (SELECT * FROM grams_q WHERE shingle <> '')
"""


@register(
    "dedup_incremental_neardup",
    tier="D",
    oracle=f"""
    WITH {_INC_GRAMS},
    sz_b AS (SELECT doc_id, COUNT(*) AS n FROM gramsf_b GROUP BY doc_id),
    sz_q AS (SELECT doc_id, COUNT(*) AS n FROM gramsf_q GROUP BY doc_id),
    inter AS (
      SELECT q.doc_id AS batch_doc_id, b.doc_id AS base_doc_id, COUNT(*) AS n_common
      FROM gramsf_q q JOIN gramsf_b b ON q.shingle = b.shingle
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT i.batch_doc_id, i.base_doc_id,
             CAST(i.n_common AS DOUBLE)
               / (sq.n + sb.n - i.n_common) AS jaccard
      FROM inter i
      JOIN sz_q sq ON i.batch_doc_id = sq.doc_id
      JOIN sz_b sb ON i.base_doc_id = sb.doc_id
      WHERE CAST(i.n_common AS DOUBLE) / (sq.n + sb.n - i.n_common) >= 0.5
    ),
    best AS (
      SELECT batch_doc_id, base_doc_id, jaccard FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY batch_doc_id
                                     ORDER BY jaccard DESC, base_doc_id) AS rk
        FROM scored
      ) WHERE rk = 1
    )
    SELECT q.doc_id AS batch_doc_id,
           CASE WHEN b.base_doc_id IS NOT NULL THEN 'near_dup' ELSE 'new' END AS verdict,
           b.base_doc_id AS best_base_id,
           ROUND(b.jaccard, 6) AS best_jaccard
    FROM inc_batch q LEFT JOIN best b ON q.doc_id = b.batch_doc_id
    """,
)
def dedup_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E63: incremental NEAR-dup admission — E39's production shape
    extended from exact hashes to near-duplicates: an incoming batch
    (genuinely new docs + lightly edited re-ingests of corpus docs) is
    screened against the existing corpus via LSH banding, and only
    banded candidates get exact Jaccard verification; each batch doc
    comes back 'near_dup' (with its best corpus match and score) or
    'new'.  This is the crawl-refresh admission gate: the corpus
    contributes its (re-usable, persistable) band index, and all
    pairwise work is proportional to the batch's candidates.

    Oracle exactness: same recall argument as dedup_near_verified —
    with the fixed MinHash seeds the banded stage has 100% recall on
    the fixture's cross-set near-dups (asserted in
    tests/test_dedup_similarity.py), so the blocked composition equals
    the exact cross-set Jaccard the oracle computes.

    Scale shape: shingle/signature work is linear per side; the band
    bucket join is the only candidate generator (never batch x corpus);
    verification touches candidates only; the final best-match pick is
    a per-batch-doc min(struct) agg."""
    docs = io.table(spark, sf_dir, "documents").select("doc_id", "text")
    base, batch = _inc_split(docs)
    combined = base.unionByName(batch)
    # sh feeds signatures AND verification — materialize once
    # (executor-local).
    sh = D.shingles(combined, 3).localCheckpoint(eager=False)
    # One groupBy(doc_id) yields signatures AND the verify stage's
    # per-doc sizes (minhash_signatures with_count) — checkpointed so
    # column pruning cannot split the consumers back into two
    # aggregations over sh (the dedup_near_verified fusion, r15).
    prof = D.minhash_signatures(sh, num_hashes=32, with_count=True).localCheckpoint(
        eager=False
    )
    # Emission is restricted to cross pairs INSIDE the band emitter
    # (cross_at): base ids < offset <= batch ids, so (a < offset <= b)
    # is exactly the base x batch candidate set.  Admission only ever
    # needs cross pairs; base×base near-dups (the bulk of a replicated
    # corpus's banded candidates) are now never materialized at all —
    # r12 dropped them before the size joins, r15 drops them before
    # the pair explode + distinct (identical output, candidate work
    # ∝ cross candidates only).
    cross_cands = D.lsh_candidate_pairs(
        prof.select("doc_id", "signature"), bands=8, rows_per_band=4,
        cross_at=_INC_OFFSET,
        split_hot=gates.corpus_exceeds(sf_dir, cutoff=_INC_SPLIT_CUTOFF),
    )
    # Footer-gate the size-join strategy like dedup_near_verified
    # above (r12 ADVICE).  cross_at pushes the cross-set restriction
    # into the verify emitter too (r15): base x base co-occurring
    # pairs — the bulk of the corpus's pair volume — are never emitted
    # or shuffled into the intersection count; the block semi-join
    # that used to drop them post-shuffle now only prunes cross pairs
    # outside the LSH candidate set.
    cross = D.jaccard_pairs(
        sh, block=cross_cands, threshold=0.5,
        broadcast_sizes=not gates.corpus_exceeds(sf_dir),
        input_cached=True,
        cross_at=_INC_OFFSET,
        sizes=prof.select("doc_id", "n_shingles"),
    )
    best = (
        cross.groupBy("doc_id_b")
        .agg(F.min(F.struct((-F.col("jaccard")).alias("nj"), F.col("doc_id_a").alias("a"))).alias("m"))
        .select(
            F.col("doc_id_b").alias("batch_doc_id"),
            F.col("m.a").alias("best_base_id"),
            (-F.col("m.nj")).alias("best_jaccard"),
        )
    )
    return (
        batch.select(F.col("doc_id").alias("batch_doc_id"))
        .join(best, "batch_doc_id", "left")
        .select(
            "batch_doc_id",
            F.when(F.col("best_base_id").isNotNull(), "near_dup")
            .otherwise("new")
            .alias("verdict"),
            "best_base_id",
            F.round("best_jaccard", 6).alias("best_jaccard"),
        )
    )


@register(
    "dedup_segment_windows",
    tier="D",
    oracle=rf"""
    WITH {_DUPED_CTE},
    ws AS (
      SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS w
      FROM duped
    ),
    segs AS (
      SELECT doc_id, i AS seg_no,
             array_to_string(w[(i * 16 + 1):(i * 16 + 16)], ' ') AS seg
      FROM ws,
           UNNEST(generate_series(0,
             CAST(CEIL(len(w) / 16.0) AS BIGINT) - 1)) AS t(i)
    ),
    r AS (
      SELECT doc_id,
             ROW_NUMBER() OVER (PARTITION BY sha256(seg)
                                ORDER BY doc_id, seg_no) AS rn
      FROM segs
    )
    SELECT doc_id,
           COUNT(*) AS n_segments,
           CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_segments,
           ROUND(CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS dup_fraction
    FROM r GROUP BY doc_id
    """,
)
def dedup_segment_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E65 — segment-level exact dedup (the line-level dedup pass of
    CCNet/RefinedWeb, expressed over fixed 16-word windows since the
    fixture has no newlines): every doc is cut into consecutive
    16-word segments; a segment instance is a duplicate when an
    identical segment occurs earlier in the corpus (first occurrence
    by (doc_id, seg_no) survives).  Output: per-doc segment counts and
    the duplicated fraction — the signal the cleaning pass uses to
    strip boilerplate segments or drop mostly-duplicated docs.  Runs
    over the corpus with replayed duplicates so whole-doc dups show up
    as dup_fraction 1.0 on the replayed copy.

    Scale shape: segmentation is a narrow transform (split + slice —
    corpus text never shuffles); the first-occurrence rule is ONE
    window over sha2(segment) — a single shuffle on a 256-bit key,
    uniformly distributed by construction (no skew unless a segment
    is genuinely hot, which is exactly the boilerplate case the window
    then counts); the per-doc rollup partial-aggregates map-side."""
    duped = _with_replayed_dups(
        io.table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    return D.segment_dedup_stats(duped, seg_words=16)


@register(
    "dedup_cross_source_matrix",
    tier="D",
    oracle=r"""
    WITH ws AS (
      SELECT source, regexp_split_to_array(lower(text), '\s+') AS w
      FROM documents
    ),
    segs AS (
      SELECT DISTINCT source,
             sha256(array_to_string(w[(i * 16 + 1):(i * 16 + 16)], ' ')) AS h
      FROM ws,
           UNNEST(generate_series(0,
             CAST(CEIL(len(w) / 16.0) AS BIGINT) - 1)) AS t(i)
    )
    SELECT a.source AS source_a, b.source AS source_b,
           COUNT(*) AS n_shared_segments
    FROM segs a JOIN segs b ON a.h = b.h AND a.source < b.source
    GROUP BY 1, 2
    """,
)
def dedup_cross_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E70 — cross-source contamination matrix: for every pair of
    corpus sources, how many distinct 16-word segments they share —
    the governance report that catches mirror sites, syndicated
    content, and benchmark text leaking in through multiple crawl
    sources (the fixture's sources share 66 segments at sf0.01, zero
    whole documents — exactly the case only segment granularity sees).

    Scale shape: NOT a self-join — segments group by hash and each
    group emits pairs from its sorted distinct-source set (bounded by
    the source count, ~dozens, so per-group work is trivially small);
    the matrix rollup aggregates on source-pair keys.  One shuffle on
    the segment hash, one on the (tiny) pair key — same grouped-pairs
    shape as jaccard_pairs (operators/dedup.py), which never
    materializes candidates beyond true co-occurrences."""
    docs = io.table(spark, sf_dir, "documents").select("source", "text")
    d = docs.withColumn("w", F.split(F.lower("text"), r"\s+"))
    nseg = F.ceil(F.size("w") / F.lit(16)).cast("int")
    segs = d.select(
        "source",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), nseg - 1),
                # xxhash64 internal equality key (r15): the oracle's
                # sha256 only ever feeds the group-by; same ~2^-64
                # collision class as the repo's other hashed keys,
                # 8-byte shuffle rows instead of 64-char hex.
                lambda s: F.xxhash64(F.array_join(F.slice("w", s * 16 + 1, 16), " ")),
            )
        ).alias("h"),
    ).distinct()
    srcs = (
        segs.groupBy("h")
        .agg(F.array_sort(F.collect_set("source")).alias("srcs"))
        .filter(F.size("srcs") >= 2)
    )
    # sorted distinct sources -> each element pairs with its suffix:
    # every (a < b) pair exactly once (the jaccard_pairs trick)
    pair_structs = F.flatten(
        F.transform(
            F.col("srcs"),
            lambda x, i: F.transform(
                F.slice(
                    F.col("srcs"), i + 2, F.greatest(F.size("srcs") - i - 1, F.lit(1))
                ),
                lambda y: F.struct(x.alias("source_a"), y.alias("source_b")),
            ),
        )
    )
    return (
        srcs.select(F.explode(pair_structs).alias("p"))
        .groupBy(
            F.col("p.source_a").alias("source_a"),
            F.col("p.source_b").alias("source_b"),
        )
        .agg(F.count("*").alias("n_shared_segments"))
    )


@register(
    "dedup_containment_pairs",
    tier="D",
    oracle=r"""
    WITH aug AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 2000000 AS doc_id,
             array_to_string(
               (regexp_split_to_array(lower(text), '\s+'))[
                 1:greatest(CAST(FLOOR(len(regexp_split_to_array(lower(text), '\s+'))
                                        * 0.4) AS BIGINT), 3)], ' ') AS text
      FROM documents WHERE doc_id % 20 = 0
    ),
    ws AS (
      SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS w FROM aug
    ),
    grams AS (
      SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS s
      FROM ws, UNNEST(generate_series(1, len(w) - 2)) AS t(i)
    ),
    gramsf AS (SELECT * FROM grams WHERE s <> ''),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM gramsf GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b, COUNT(*) AS n_common
      FROM gramsf a JOIN gramsf b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_id_a, doc_id_b, n_common,
           ROUND(CAST(n_common AS DOUBLE) / least(sa.n, sb.n), 6) AS containment,
           ROUND(CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common), 6) AS jaccard,
           (CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) < 0.5)
             AS jaccard_missed
    FROM inter
    JOIN sizes sa ON doc_id_a = sa.doc_id
    JOIN sizes sb ON doc_id_b = sb.doc_id
    WHERE CAST(n_common AS DOUBLE) / least(sa.n, sb.n) >= 0.8
    """,
)
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E77 — containment near-dup (asymmetric): pairs where the
    SMALLER doc's shingles are >=80% contained in the other —
    |A∩B| / min(|A|,|B|).  This is the quote-inclusion/truncation case
    symmetric Jaccard structurally misses: the corpus is augmented
    with 40%-length truncations of every 20th doc, and 27 of the 52
    qualifying pairs at sf0.01 have Jaccard < 0.5 (flagged
    `jaccard_missed`) — invisible to D2's threshold entirely.

    Scale shape: reuses the grouped-pairs machinery (one shuffle,
    df-capped, never a shingle self-join); containment is computed
    from the same (n_common, n_a, n_b) aggregates Jaccard uses — the
    asymmetric metric costs nothing extra."""
    docs = io.table(spark, sf_dir, "documents").select("doc_id", "text")
    w = F.split(F.lower("text"), r"\s+")
    n_keep = F.greatest(F.floor(F.size(w) * 0.4).cast("int"), F.lit(3))
    trunc = docs.filter(F.col("doc_id") % 20 == 0).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"),
        F.array_join(F.slice(w, 1, n_keep), " ").alias("text"),
    )
    aug = docs.unionByName(trunc)
    pairs = D.jaccard_pairs(
        D.shingles(aug, 3, hashed=True),
        threshold=0.0,
        broadcast_sizes=not gates.corpus_exceeds(sf_dir),
    )
    containment = F.col("n_common").cast("double") / F.least("n_a", "n_b")
    return (
        pairs.filter(containment >= 0.8)
        .select(
            "doc_id_a",
            "doc_id_b",
            "n_common",
            F.round(containment, 6).alias("containment"),
            F.round("jaccard", 6).alias("jaccard"),
            (F.col("jaccard") < 0.5).alias("jaccard_missed"),
        )
    )
