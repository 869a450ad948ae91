"""Tier D (part 2) — training-data-pipeline extensions (SURVEY.md
SS2-E E18-E24).

Operations a large-scale LLM training-data pipeline runs beyond
dedup/similarity/quality: eval-set contamination detection, stratified
sampling, corpus vocabulary statistics, balanced shard assignment,
TF-IDF term scoring, data-mixture rebalancing weights, and sequence
packing by token budget.  All built-in-function formulations (no
Python UDFs); every query carries an exact DuckDB oracle.

Scale notes per query docstring — the common rules: the eval set and
per-group quotas are broadcast-sized, corpora are only ever shuffled on
aggregation keys, and every LIMIT sits behind a total order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import io
from ..operators import dedup as D
from ..operators import gates
from ..operators import text as TXo
from ..registry import register

_TOKEN_RE_SQL = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"  # keep in lockstep with operators/text.TOKEN_RE

# word-3-gram CTE (same shape as dedup's oracle grams, parameterized by
# source relation)
_GRAMS = r"""
  ws_{alias} AS (
    SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS w
    FROM {rel}
  ),
  grams_{alias} AS (
    SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS shingle
    FROM ws_{alias}, UNNEST(generate_series(1, len(w) - 2)) AS t(i)
  ),
  gramsf_{alias} AS (SELECT * FROM grams_{alias} WHERE shingle <> '')
"""


@register(
    "text_contamination_eval_overlap",
    tier="D",
    oracle=f"""
    WITH
    {_GRAMS.format(alias="ev", rel="(SELECT * FROM documents WHERE doc_id % 100 = 0)")},
    {_GRAMS.format(alias="tr", rel="(SELECT * FROM documents WHERE doc_id % 100 <> 0)")},
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM gramsf_tr GROUP BY doc_id),
    inter AS (
      SELECT t.doc_id AS doc_id, e.doc_id AS eval_doc_id, COUNT(*) AS n_common
      FROM gramsf_tr t JOIN gramsf_ev e ON t.shingle = e.shingle
      GROUP BY 1, 2
    )
    SELECT i.doc_id, i.eval_doc_id, i.n_common,
           ROUND(CAST(i.n_common AS DOUBLE) / s.n, 6) AS contamination
    FROM inter i JOIN sizes s ON i.doc_id = s.doc_id
    WHERE CAST(i.n_common AS DOUBLE) / s.n >= 0.05
    """,
)
def text_contamination_eval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E18: eval-set contamination detection — word-3-gram overlap of
    every training document against a held-out eval set (doc_id % 100
    == 0), reporting pairs whose shared-shingle fraction >= 5% of the
    training doc's shingles.

    Scale shape: the eval set is small by construction, so its shingle
    table broadcasts; the corpus shingle table is joined map-side and
    aggregated on (doc, eval_doc) — one shuffle, no corpus self-join.
    This is the pre-training decontamination pass run over every corpus
    refresh."""
    docs = io.table(spark, sf_dir, "documents").select("doc_id", "text")
    ev = docs.filter(F.col("doc_id") % 100 == 0)
    tr = docs.filter(F.col("doc_id") % 100 != 0)
    # hashed=True on BOTH sides (consistent basis — r15): the shingle
    # is a pure equality key, so the broadcast eval index carries
    # 8-byte longs instead of gram strings.
    ev_sh = D.shingles(ev, 3, hashed=True).withColumnRenamed("doc_id", "eval_doc_id")
    tr_sh = D.shingles(tr, 3, hashed=True)
    sizes = tr_sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    inter = (
        tr_sh.join(F.broadcast(ev_sh), "shingle")
        .groupBy("doc_id", "eval_doc_id")
        .agg(F.count("*").alias("n_common"))
    )
    return (
        inter.join(sizes, "doc_id")
        .withColumn(
            "contamination", F.round(F.col("n_common") / F.col("n"), 6)
        )
        .filter(F.col("n_common") / F.col("n") >= 0.05)
        .select("doc_id", "eval_doc_id", "n_common", "contamination")
    )


@register(
    "sample_stratified_by_lang",
    tier="D",
    oracle="""
    WITH hashed AS (
      SELECT doc_id, lang,
             (doc_id * 2654435761) % 4294967296 AS h
      FROM documents
    ),
    ranked AS (
      SELECT doc_id, lang, h,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h, doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY lang) AS n_lang
      FROM hashed
    )
    SELECT lang, doc_id
    FROM ranked
    WHERE rn <= (n_lang + 4) // 5
    """,
)
def sample_stratified_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E19: deterministic stratified sampling — a 20% quota per
    language stratum, chosen by multiplicative integer hash of doc_id
    (Knuth 2654435761), so the sample is reproducible across engines
    and runs (no RNG state).  Quota uses integer ceil ((n+4) div 5):
    float 0.2*n would round differently across engines.

    Scale shape: one window per stratum — partitioned by lang, never a
    global sort; at 100 TB strata are independent partitions and the
    hash-rank is a per-partition top-k."""
    docs = io.table(spark, sf_dir, "documents").select("doc_id", "lang")
    hashed = docs.withColumn(
        "h", (F.col("doc_id") * F.lit(2654435761)) % F.lit(4294967296)
    )
    w = Window.partitionBy("lang").orderBy("h", "doc_id")
    ranked = hashed.withColumn("rn", F.row_number().over(w)).withColumn(
        "n_lang", F.count("*").over(Window.partitionBy("lang"))
    )
    return ranked.filter(
        F.col("rn") <= F.expr("(n_lang + 4) div 5")
    ).select("lang", "doc_id")


@register(
    "corpus_token_topk",
    tier="D",
    oracle=r"""
    WITH toks AS (
      SELECT unnest(regexp_split_to_array(lower(text), '\s+')) AS token
      FROM documents
    )
    SELECT token, COUNT(*) AS n_occurrences
    FROM toks WHERE token <> ''
    GROUP BY token
    ORDER BY n_occurrences DESC, token
    LIMIT 50
    """,
)
def corpus_token_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E20: corpus vocabulary statistics — whitespace-token frequency
    top-50 with a total order (count desc, token asc) so the LIMIT is
    deterministic.

    Scale shape: explode is narrow; the count is one hash aggregation
    with map-side partials; top-k is TakeOrderedAndProject (local heaps
    + single reduce, never a global sort of the vocabulary)."""
    toks = (
        io.table(spark, sf_dir, "documents")
        .select(F.explode(F.split(F.lower("text"), r"\s+")).alias("token"))
        .filter(F.col("token") != "")
    )
    return (
        toks.groupBy("token")
        .agg(F.count("*").alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), "token")
        .limit(50)
    )


@register(
    "shard_assignment_balanced",
    tier="D",
    oracle="""
    WITH ranked AS (
      SELECT doc_id, n_chars,
             ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id) AS rn
      FROM documents
    )
    SELECT (rn - 1) % 8 AS shard_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM ranked
    GROUP BY 1
    """,
)
def shard_assignment_balanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E21: balanced training-shard assignment — serpentine-free
    round-robin over docs ranked by size (n_chars desc), so each of the
    8 shards lands within one max-doc of equal total bytes; the shard
    id is then the partition key the training-data writer
    partitionBy()s on.

    Scale note: the global size rank runs on operators/skew.
    global_row_number (range-partition on (n_chars DESC, doc_id) +
    per-partition rank + broadcast cumulative offsets) — the bare
    `row_number() OVER (ORDER BY ...)` form this replaces (r14 verdict
    What's-wrong #2) funnels one row PER DOCUMENT through a single
    task, corpus-proportional at 100 TB (~10^9-10^10 rows).  The
    device sorts (n_chars, doc_id) pairs only — 16 bytes/row of
    range-partitioned metadata; the text column never moves."""
    from ..operators.skew import global_row_number

    ranked = global_row_number(
        io.table(spark, sf_dir, "documents").select("doc_id", "n_chars"),
        [F.desc("n_chars"), F.col("doc_id")],
        "rn",
    )
    return (
        ranked.withColumn("shard_id", ((F.col("rn") - 1) % 8).cast("int"))
        .groupBy("shard_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


@register(
    "tfidf_top_terms",
    tier="D",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\s+')) AS token
      FROM documents
    ),
    tf AS (
      SELECT doc_id, token, COUNT(*) AS tf
      FROM toks WHERE token <> '' GROUP BY doc_id, token
    ),
    df AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
    n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.token,
             ROUND(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS tfidf
      FROM tf JOIN df ON tf.token = df.token CROSS JOIN n
    ),
    ranked AS (
      SELECT doc_id, token, tfidf,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY tfidf DESC, token) AS rank
      FROM scored
    )
    SELECT doc_id, token, tfidf, rank FROM ranked WHERE rank <= 3
    """,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E22: TF-IDF top-3 terms per document — tf from per-doc token
    counts, df from the (doc, token) pairs, idf = ln(N/df), rank on
    the ROUNDED score (both engines rank identical values) with token
    tiebreak.

    Scale shape: two hash aggregations (tf, then df) + a join on token
    + one per-doc window.  N arrives via a 1-row cross join, not a
    driver constant.  The df table is VOCABULARY-sized — fine to
    broadcast on a small corpus, but an open-web vocabulary is 1e8+
    types (multi-GB), so the join strategy is footer-gated
    (operators/gates.py, the r13 registry-wide broadcast sweep's one
    true positive): small corpus -> explicit broadcast, big ->
    per-partition shuffle_hash build on token."""
    docs = io.table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.lower("text"), r"\s+")).alias("token")
    ).filter(F.col("token") != "")
    tf = toks.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    df = tf.groupBy("token").agg(F.count("*").alias("df"))
    n = docs.agg(F.countDistinct("doc_id").alias("n_docs"))
    scored = (
        tf.join(gates.pin_join_side(df, not gates.corpus_exceeds(sf_dir)), "token")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "token",
            F.round(
                F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")), 6
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), "token")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "token", "tfidf", "rank")
    )


@register(
    "corpus_mixture_weights",
    tier="D",
    oracle=f"""
    WITH per_source AS (
      SELECT source,
             COUNT(*) AS n_docs,
             CAST(SUM(len(regexp_extract_all(text, '{_TOKEN_RE_SQL}'))) AS BIGINT) AS total_tokens
      FROM documents GROUP BY source
    ),
    tot AS (
      SELECT CAST(SUM(total_tokens) AS BIGINT) AS corpus_tokens,
             COUNT(*) AS n_sources
      FROM per_source
    )
    SELECT s.source, s.n_docs, s.total_tokens,
           ROUND(CAST(s.total_tokens AS DOUBLE) / t.corpus_tokens, 6) AS token_share,
           ROUND((1.0 / t.n_sources)
                 / (CAST(s.total_tokens AS DOUBLE) / t.corpus_tokens), 6) AS sampling_weight
    FROM per_source s CROSS JOIN tot t
    """,
)
def corpus_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E23: data-mixture rebalancing — per-source token shares and the
    sampling weight that rebalances each source to a uniform target
    mixture (weight = target_share / actual_share).  The knob every
    training-data pipeline sets before sampling a corpus.

    Scale shape: one hash aggregation over the corpus; the totals table
    is O(sources) and joins back as a 1-row broadcast.  Weights are
    ratios of exact integer token sums, rounded — engine-stable."""
    docs = io.table(spark, sf_dir, "documents")
    per_source = (
        docs.withColumn("n_tokens", TXo.token_count_col())
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
        )
    )
    tot = per_source.agg(
        F.sum("total_tokens").cast("long").alias("corpus_tokens"),
        F.count("*").alias("n_sources"),
    )
    share = F.col("total_tokens").cast("double") / F.col("corpus_tokens")
    return per_source.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "total_tokens",
        F.round(share, 6).alias("token_share"),
        F.round((F.lit(1.0) / F.col("n_sources")) / share, 6).alias("sampling_weight"),
    )


@register(
    "pack_sequences_token_budget",
    tier="D",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             CAST(len(regexp_extract_all(text, '{_TOKEN_RE_SQL}')) AS BIGINT) AS n_tokens
      FROM documents
    ),
    ordered AS (
      SELECT doc_id, n_tokens,
             SUM(n_tokens) OVER (ORDER BY doc_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - n_tokens AS start_offset
      FROM toks
    )
    SELECT CAST(start_offset // 4096 AS BIGINT) AS pack_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           ROUND(CAST(SUM(n_tokens) AS DOUBLE) / 4096.0, 6) AS fill_ratio
    FROM ordered
    GROUP BY 1
    """,
)
def pack_sequences_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E24: sequence packing — assign documents to fixed token-budget
    packs (4096) by running token offset, the batch-construction step
    before training (same cumsum-bin shape as the B1 file binpack,
    applied to documents).  Offsets are exact integer sums, so pack
    ids are engine-identical.

    Scale shape: the running offset runs on operators/skew.
    global_cumsum (range-partition on doc_id + per-partition running
    sum + broadcast earlier-partition totals) over (doc_id, n_tokens)
    pairs — token-count metadata, never text.  The bare `SUM() OVER
    (ORDER BY doc_id)` form this replaces (r14 verdict What's-wrong
    #2) held one row PER DOCUMENT in a single task — corpus-
    proportional, the B1 cumsum shape over documents.  n_tokens is
    pre-cast to long, so the full-corpus running sum is overflow-safe
    (the device's stated contract)."""
    from ..operators.skew import global_cumsum

    toks = (
        io.table(spark, sf_dir, "documents")
        .select("doc_id", TXo.token_count_col().cast("long").alias("n_tokens"))
    )
    ordered = global_cumsum(toks, ["doc_id"], "n_tokens", "_cum").withColumn(
        "start_offset", F.col("_cum") - F.col("n_tokens")
    )
    return (
        ordered.withColumn("pack_id", F.expr("start_offset div 4096"))
        .groupBy("pack_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.round(F.sum("n_tokens").cast("double") / F.lit(4096.0), 6).alias("fill_ratio"),
        )
    )


from .text import _STOP_SQL  # noqa: E402  (kept in lockstep with operators/text.STOPWORDS)

# per-document heuristic quality score `q`, identical expression to
# operators/text.quality_score_col() — every op (divide/multiply/least/
# add over integer-derived doubles) is a single correctly-rounded IEEE
# step with a fixed evaluation order, so ROUND(...,6) is bit-identical
# across Spark and DuckDB and safe to ORDER BY (tiebreak doc_id).
_QUALITY = r"""
  q_scored AS (
    SELECT *,
           CAST(len(regexp_split_to_array(trim(lower(text)), '\s+')) AS DOUBLE) AS q_words,
           CAST(length(text) AS DOUBLE) AS q_chars,
           CAST(len(regexp_extract_all(text, '[^\w\s]')) AS DOUBLE) AS q_punct,
           CAST(len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                                w -> w IN ({stop}))) AS DOUBLE) AS q_stop
    FROM documents
  ),
  q_docs AS (
    SELECT * EXCLUDE (q_words, q_chars, q_punct, q_stop),
           ROUND(0.4 * least(q_words / 100.0, 1.0)
               + 0.4 * least(q_stop / greatest(q_words, 1.0) * 4, 1.0)
               + 0.2 * (1 - least(q_punct / greatest(q_chars, 1.0) * 10, 1.0)), 6) AS q
    FROM q_scored
  )
""".format(stop="{stop}")


@register(
    "dedup_cluster_survivors",
    tier="D",
    oracle=f"""
    WITH RECURSIVE
    {_GRAMS.format(alias="d", rel="documents")},
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM gramsf_d GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b, COUNT(*) AS n_common
      FROM gramsf_d a JOIN gramsf_d b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    prs AS (
      SELECT doc_id_a, doc_id_b
      FROM inter
      JOIN sizes sa ON doc_id_a = sa.doc_id
      JOIN sizes sb ON doc_id_b = sb.doc_id
      WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.5
    ),
    edges AS (
      SELECT doc_id_a AS s, doc_id_b AS d FROM prs
      UNION ALL
      SELECT doc_id_b AS s, doc_id_a AS d FROM prs
    ),
    reach(s, d) AS (
      SELECT s, d FROM edges
      UNION
      SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s
    ),
    comp AS (
      SELECT s AS doc_id, LEAST(s, MIN(d)) AS component_id
      FROM reach GROUP BY s
    ),
    {_QUALITY.format(stop=_STOP_SQL)},
    labeled AS (
      SELECT q.doc_id, COALESCE(c.component_id, q.doc_id) AS component_id, q.q
      FROM q_docs q LEFT JOIN comp c ON q.doc_id = c.doc_id
    ),
    rk AS (
      SELECT *, row_number() OVER (PARTITION BY component_id
                                   ORDER BY q DESC, doc_id) AS r
      FROM labeled
    )
    SELECT component_id,
           COUNT(*) AS n_members,
           MAX(CASE WHEN r = 1 THEN doc_id END) AS survivor_doc_id,
           MAX(CASE WHEN r = 1 THEN q END) AS survivor_quality
    FROM rk GROUP BY component_id
    """,
)
def dedup_cluster_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E26: the dedup pipeline's final decision — near-dup components
    (E25) joined back to the corpus, survivor = HIGHEST-QUALITY member
    (tiebreak doc_id), not min id: the doc a corpus build actually
    keeps.  Unclustered docs are their own singleton component
    (coalesce to doc_id).

    Scale shape: components run over the candidate-pair node set
    (duplicate-count-sized); the corpus join is keyed on doc_id; the
    survivor window and the member count share one component_id
    shuffle.  Quality ranks on ROUND(q,6) with doc_id tiebreak —
    engine-identical ordering."""
    docs = io.table(spark, sf_dir, "documents").select("doc_id", "text")
    pairs = D.jaccard_pairs(
        D.shingles(docs, 3, hashed=True),
        threshold=0.5,
        broadcast_sizes=not gates.corpus_exceeds(sf_dir),
    )
    comp = D.connected_components(pairs)
    scored = docs.select("doc_id", TXo.quality_score_col().alias("q"))
    labeled = scored.join(comp, "doc_id", "left").withColumn(
        "component_id", F.coalesce("component_id", "doc_id")
    )
    # Survivor = argmax by (q DESC, doc_id ASC), expressed as ONE hash
    # aggregation via max(struct(q, -doc_id)) instead of the former
    # row_number window + groupBy (r16, guide §2.3): the window needed
    # a full sort of the corpus rows within each component partition
    # and shipped EVERY doc row through the component_id exchange; the
    # struct-max aggregate is map-side partial — the exchange carries
    # one partial row per (component x map partition) and no sort
    # runs.  Tie/null semantics are identical: struct comparison is
    # lexicographic, -doc_id turns the ASC tiebreak into a max, and a
    # null q orders below any non-null q in both forms.
    agg = labeled.groupBy("component_id").agg(
        F.count("*").alias("n_members"),
        F.max(
            F.struct(F.col("q").alias("q"), (-F.col("doc_id")).alias("nd"))
        ).alias("b"),
    )
    return agg.select(
        "component_id",
        "n_members",
        (-F.col("b.nd")).alias("survivor_doc_id"),
        F.col("b.q").alias("survivor_quality"),
    )


@register(
    "curriculum_interleave",
    tier="D",
    oracle=f"""
    WITH
    {_QUALITY.format(stop=_STOP_SQL)},
    ranked AS (
      SELECT doc_id, source, q,
             row_number() OVER (PARTITION BY source ORDER BY q DESC, doc_id) AS src_rank
      FROM q_docs
    ),
    sidx AS (
      SELECT source, row_number() OVER (ORDER BY source) AS src_idx
      FROM (SELECT DISTINCT source FROM documents)
    )
    SELECT r.doc_id, r.source, CAST(r.src_rank AS BIGINT) AS src_rank,
           CAST(r.src_rank AS BIGINT) * 1000000 + s.src_idx AS interleave_key
    FROM ranked r JOIN sidx s USING (source)
    """,
)
def curriculum_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E27: curriculum/interleave ordering — quality-ranked docs per
    source, round-robin interleaved across sources: sort by
    interleave_key and every source contributes its best remaining doc
    in turn (quality-descending curriculum, mixture preserved batch to
    batch).

    Scale shape: NO global window over the corpus.  The per-source
    rank partitions by source; the interleave key is rank arithmetic
    (src_rank * 1e6 + src_idx) against a broadcast source index —
    map-side, monotone in (src_rank, src_idx).  A dense global
    row_number would single-partition the corpus; the key orders
    identically without it."""
    docs = io.table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    scored = docs.select("doc_id", "source", TXo.quality_score_col().alias("q"))
    srcs = scored.select("source").distinct()
    src_idx = srcs.withColumn(
        "src_idx", F.row_number().over(Window.orderBy("source")).cast("long")
    )
    ranked = scored.withColumn(
        "src_rank",
        F.row_number()
        .over(Window.partitionBy("source").orderBy(F.desc("q"), F.asc("doc_id")))
        .cast("long"),
    )
    return ranked.join(F.broadcast(src_idx), "source").select(
        "doc_id",
        "source",
        "src_rank",
        (F.col("src_rank") * 1_000_000 + F.col("src_idx")).alias("interleave_key"),
    )


@register(
    "source_token_budget",
    tier="D",
    oracle=f"""
    WITH
    {_QUALITY.format(stop=_STOP_SQL)},
    toks AS (
      SELECT doc_id, source, q,
             CAST(len(regexp_extract_all(text, '{_TOKEN_RE_SQL}')) AS BIGINT) AS n_tokens
      FROM q_docs
    ),
    offs AS (
      SELECT *,
             SUM(n_tokens) OVER (PARTITION BY source ORDER BY q DESC, doc_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - n_tokens AS start_offset
      FROM toks
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN start_offset < 800 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN start_offset < 800 THEN n_tokens ELSE 0 END) AS BIGINT)
             AS kept_tokens
    FROM offs GROUP BY source
    """,
)
def source_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E28: per-source token budgeting — admit each source's docs in
    quality order until the source's token budget (800) is exhausted;
    a doc is admitted iff the budget isn't spent when it starts (the
    greedy prefix rule, so the last admitted doc may overshoot).  The
    subsetting knob that pairs with E23's mixture weights.

    Scale shape: one window partitioned by source over (q, n_tokens)
    metadata — never text; integer token cumsums are engine-exact.
    Skewed sources are AQE's problem at the window shuffle; the final
    agg reuses the same partitioning."""
    docs = io.table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    toks = docs.select(
        "doc_id",
        "source",
        TXo.quality_score_col().alias("q"),
        TXo.token_count_col().cast("long").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy(F.desc("q"), F.asc("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    offs = toks.withColumn("start_offset", F.sum("n_tokens").over(w) - F.col("n_tokens"))
    kept = F.col("start_offset") < 800
    return offs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(kept, 1).otherwise(0)).cast("long").alias("n_kept"),
        F.sum(F.when(kept, F.col("n_tokens")).otherwise(0)).cast("long").alias("kept_tokens"),
    )


@register(
    "corpus_length_histogram",
    tier="E",
    oracle="""
    SELECT source,
           n_chars // 100 AS bucket,
           (n_chars // 100) * 100 AS bucket_lo,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS bucket_chars
    FROM documents
    GROUP BY source, n_chars // 100
    """,
)
def corpus_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E36: fixed-width document-length histogram per source (the
    corpus-shape report every ingest run emits).  Fixed 100-char
    buckets are computed map-side from the metadata column — no min/max
    pre-pass, no second scan; one agg shuffle keyed on (source,
    bucket), both bounded."""
    docs = io.table(spark, sf_dir, "documents")
    bucket = F.floor(F.col("n_chars") / 100).cast("long")
    return (
        docs.select("source", bucket.alias("bucket"), "n_chars")
        .groupBy("source", "bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("bucket_chars"),
        )
        .select(
            "source",
            "bucket",
            (F.col("bucket") * 100).alias("bucket_lo"),
            "n_docs",
            "bucket_chars",
        )
    )


@register(
    "quality_gate_adaptive",
    tier="E",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, lang,
             ROUND(0.4 * least(CAST(len(regexp_split_to_array(trim(lower(text)), '\\s+')) AS DOUBLE) / 100.0, 1.0)
                 + 0.4 * least(CAST(len(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                                      w -> w IN ({_STOP_SQL}))) AS DOUBLE)
                         / greatest(CAST(len(regexp_split_to_array(trim(lower(text)), '\\s+')) AS DOUBLE), 1.0) * 4, 1.0)
                 + 0.2 * (1 - least(CAST(len(regexp_extract_all(text, '[^\\w\\s]')) AS DOUBLE)
                          / greatest(CAST(length(text) AS DOUBLE), 1.0) * 10, 1.0)), 6) AS q
      FROM documents
    ),
    ranked AS (
      SELECT doc_id, lang, q,
             ROUND(percent_rank() OVER (PARTITION BY lang ORDER BY q, doc_id), 6) AS q_pctile
      FROM scored
    )
    SELECT doc_id, lang, q AS quality_score, q_pctile
    FROM ranked WHERE q_pctile >= 0.5
    """,
)
def quality_gate_adaptive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E37: ADAPTIVE quality gating — keep each language's top half by
    quality percentile, not a fixed global threshold (fixed thresholds
    over/under-prune low/high-resource languages; percentile gates are
    mixture-preserving).  quality is the registered map-side score
    (text_quality_score); the percentile is one window per lang with a
    doc_id tiebreak so ranks are engine-stable.  One shuffle total."""
    docs = io.table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(F.asc("q"), F.asc("doc_id"))
    return (
        docs.select("doc_id", "lang", TXo.quality_score_col().alias("q"))
        .withColumn("q_pctile", F.round(F.percent_rank().over(w), 6))
        .filter(F.col("q_pctile") >= 0.5)
        .select(
            "doc_id",
            "lang",
            F.col("q").alias("quality_score"),
            "q_pctile",
        )
    )


@register(
    "split_train_val_test",
    tier="E",
    oracle=r"""
    WITH hashed AS (
      SELECT doc_id, lang,
             CAST(list_reduce(string_split('0' || substr(md5(text), 1, 15), ''),
                              (acc, c) -> CAST(acc AS BIGINT) * 16
                                          + strpos('0123456789abcdef', c) - 1)
                  AS BIGINT) % 100 AS bucket
      FROM documents
    )
    SELECT doc_id, lang,
           CASE WHEN bucket < 1 THEN 'val'
                WHEN bucket < 2 THEN 'test'
                ELSE 'train' END AS split
    FROM hashed
    """,
)
def split_train_val_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E41: deterministic train/val/test assignment (98/1/1) by CONTENT
    hash, not row order or RNG — re-ingesting, re-partitioning, or
    re-running can never move a document across splits, and exact
    duplicates land in the same split (no train->val leakage through
    dups).  Map-side expression on the engine-neutral md5 hash
    (operators/dedup.py neutral_word_hash), zero shuffle."""
    from ..operators.dedup import neutral_word_hash

    docs = io.table(spark, sf_dir, "documents")
    bucket = neutral_word_hash(F.col("text")) % 100
    split = (
        F.when(bucket < 1, F.lit("val"))
        .when(bucket < 2, F.lit("test"))
        .otherwise(F.lit("train"))
    )
    return docs.select("doc_id", "lang", split.alias("split"))


@register(
    "text_rarity_score",
    tier="E",
    oracle=r"""
    WITH words AS (
      SELECT doc_id, UNNEST(list_filter(regexp_split_to_array(lower(text), '\s+'),
                                        w -> w <> '')) AS word
      FROM documents
    ),
    freq AS (SELECT word, COUNT(*) AS n_w FROM words GROUP BY word)
    SELECT w.doc_id,
           COUNT(*) AS n_words,
           ROUND(CAST(SUM(f.n_w) AS DOUBLE) / COUNT(*), 6) AS mean_word_freq,
           ROUND(CAST(SUM(CASE WHEN f.n_w <= 2 THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS rare_ratio
    FROM words w JOIN freq f USING (word)
    GROUP BY w.doc_id
    """,
)
def text_rarity_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E42: corpus-frequency rarity scoring (the CCNet-style LM-quality
    proxy without the LM): per doc, the mean corpus frequency of its
    words and the fraction of rare words (corpus count <= 2).  High
    rare_ratio = gibberish/OOV-heavy candidates; unusually high
    mean_word_freq = boilerplate.  All accumulators are exact integer
    counts — the only float op is one final division, so scores are
    engine-identical with no quantization needed.  Shape: one vocab
    agg, one word-keyed join back (broadcast while the vocab fits,
    shuffle join at scale), one per-doc agg."""
    docs = io.table(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id", F.explode(F.split(F.lower("text"), r"\s+")).alias("word")
    ).filter(F.col("word") != "")
    freq = words.groupBy("word").agg(F.count("*").alias("n_w"))
    return (
        words.join(freq, "word")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_words"),
            F.round(F.sum("n_w").cast("double") / F.count("*"), 6).alias(
                "mean_word_freq"
            ),
            F.round(
                F.sum((F.col("n_w") <= 2).cast("long")).cast("double") / F.count("*"), 6
            ).alias("rare_ratio"),
        )
    )


@register(
    "corpus_mixture_apply",
    tier="E",
    oracle=rf"""
    WITH toks AS (
      SELECT doc_id, source, text,
             len(regexp_extract_all(text, '{_TOKEN_RE_SQL}')) AS n_tokens
      FROM documents
    ),
    per_source AS (
      SELECT source, COUNT(*) AS n_docs,
             CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
      FROM toks GROUP BY source
    ),
    tot AS (
      SELECT CAST(SUM(total_tokens) AS BIGINT) AS corpus_tokens,
             COUNT(*) AS n_sources
      FROM per_source
    ),
    thresh AS (
      SELECT source, n_docs,
             (1000000 * t.corpus_tokens) // (t.n_sources * s.total_tokens) AS admit_ppm
      FROM per_source s CROSS JOIN tot t
    ),
    admitted AS (
      SELECT d.source, th.n_docs, th.admit_ppm,
             CASE WHEN CAST(list_reduce(string_split('0' || substr(md5(d.text), 1, 15), ''),
                              (acc, c) -> CAST(acc AS BIGINT) * 16
                                          + strpos('0123456789abcdef', c) - 1)
                       AS BIGINT) % 1000000 < th.admit_ppm
                  THEN 1 ELSE 0 END AS admit,
             d.n_tokens
      FROM toks d JOIN thresh th USING (source)
    )
    SELECT source, n_docs, admit_ppm,
           CAST(SUM(admit) AS BIGINT) AS n_admitted,
           CAST(SUM(admit * n_tokens) AS BIGINT) AS admitted_tokens
    FROM admitted GROUP BY source, n_docs, admit_ppm
    """,
)
def corpus_mixture_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E46: APPLY the E23 mixture weights — down-sample
    over-represented sources toward the uniform token target by
    deterministic content-hash thresholding: admit iff
    neutral_hash(text) % 1e6 < admit_ppm, where admit_ppm =
    (1e6 * corpus_tokens) div (n_sources * src_tokens) is computed in
    PURE int64 arithmetic (no float weight ever materializes).
    Content-keyed admission is reproducible across runs/partitionings
    and keeps exact dups together, like E41.  Shape: one corpus agg,
    O(sources) threshold table broadcast back, one final per-source
    agg."""
    from ..operators.dedup import neutral_word_hash

    docs = io.table(spark, sf_dir, "documents").withColumn(
        "n_tokens", TXo.token_count_col()
    )
    per_source = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
    )
    tot = per_source.agg(
        F.sum("total_tokens").cast("long").alias("corpus_tokens"),
        F.count("*").alias("n_sources"),
    )
    thresh = (
        per_source.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            F.expr("(1000000 * corpus_tokens) div (n_sources * total_tokens)").alias(
                "admit_ppm"
            ),
        )
    )
    admit = (neutral_word_hash(F.col("text")) % 1_000_000 < F.col("admit_ppm")).cast(
        "long"
    )
    return (
        docs.join(F.broadcast(thresh), "source")
        .select("source", "n_docs", "admit_ppm", admit.alias("admit"), "n_tokens")
        .groupBy("source", "n_docs", "admit_ppm")
        .agg(
            F.sum("admit").cast("long").alias("n_admitted"),
            F.sum(F.col("admit") * F.col("n_tokens")).cast("long").alias(
                "admitted_tokens"
            ),
        )
    )


@register(
    "audit_k_anonymity",
    tier="E",
    oracle="""
    WITH cells AS (
      SELECT lang, source, n_chars // 100 AS len_bucket, COUNT(*) AS k
      FROM documents GROUP BY 1, 2, 3
    )
    SELECT lang, source, len_bucket, k, k < 5 AS reidentification_risk
    FROM cells
    """,
)
def audit_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E48: k-anonymity audit — group sizes over the quasi-identifier
    cell (lang, source, length bucket); cells with k < 5 are
    re-identification risks that a release pipeline must suppress or
    generalize.  Pairs with text_pii_redact: redaction removes direct
    identifiers, this audits the quasi-identifiers that remain.  One
    bounded-key agg; the bucket is map-side integer math."""
    docs = io.table(spark, sf_dir, "documents")
    return (
        docs.groupBy(
            "lang",
            "source",
            F.floor(F.col("n_chars") / 100).cast("long").alias("len_bucket"),
        )
        .agg(F.count("*").alias("k"))
        .select("lang", "source", "len_bucket", "k", (F.col("k") < 5).alias("reidentification_risk"))
    )


@register(
    "text_interdoc_ngram_coverage",
    tier="D",
    oracle=f"""
    WITH
    {_GRAMS.format(alias="c", rel="documents")},
    df AS (
      SELECT shingle, COUNT(*) AS df FROM gramsf_c GROUP BY shingle
    )
    SELECT g.doc_id,
           COUNT(*) AS n_grams,
           CAST(SUM(CASE WHEN df.df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_shared,
           ROUND(CAST(SUM(CASE WHEN df.df >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS shared_fraction
    FROM gramsf_c g JOIN df ON g.shingle = df.shingle
    GROUP BY g.doc_id
    """,
)
def text_interdoc_ngram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E66 — inter-document duplication coverage: for each doc, the
    fraction of its distinct word-3-grams that also occur in at least
    one other document.  This is the cross-document complement of E29
    (intra-doc repetition) and E50 (global boilerplate mining): a high
    shared_fraction marks template/mirror pages that slip past exact
    and even near-dup pair detection — the Gopher/Dolma 'duplicate
    n-gram fraction' cleaning signal.

    Scale shape: the shingle doc-frequency table is the same global
    index E50 builds (one groupBy on the gram); the join back to the
    per-doc gram table is a shuffle on the gram key, and the per-doc
    rollup partial-aggregates.  No self-join, no pair explosion — cost
    is linear in total shingles.  (Since shingles() emits per-doc
    DISTINCT grams, COUNT(*) per gram IS its document frequency.)"""
    # hashed=True: grams are pure equality keys here (r15).  The join
    # side carries ONLY the df>=2 grams (absent means df=1 — the vast
    # majority at web scale, the E50 boilerplate-index lesson), so the
    # vocabulary-sized df table never sits on a join side; a left join
    # with a presence flag replaces the inner join against the full df
    # table (every row matched anyway, so totals are unchanged).
    sh = D.shingles(
        io.table(spark, sf_dir, "documents").select("doc_id", "text"), 3, hashed=True
    )
    dfc = (
        sh.groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") >= 2)
        .select("shingle", F.lit(1).alias("is_shared"))
    )
    shared = F.sum(F.coalesce("is_shared", F.lit(0)).cast("long"))
    return (
        sh.join(dfc, "shingle", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            shared.alias("n_shared"),
            F.round(shared.cast("double") / F.count("*"), 6).alias("shared_fraction"),
        )
    )
