"""Tier D (part 31) — graph link prediction, retrieval quality,
LM smoothing, and sequential testing (SURVEY.md §2-E E242-E245).

Round-10 batch: Adamic-Adar link prediction over the
customer-part bipartite graph, an nDCG@10 retrieval audit with
integer position weights, Kneser-Ney absolutely-discounted bigram
probabilities in pure rational arithmetic, and a Wald SPRT conversion
monitor with integer log-likelihood-ratio weights.

Exactness discipline as ext17/ext24: every statistic that CAN be an
integer IS one.  The three operators that touch a transcendental
(Adamic-Adar's 1/ln(deg), nDCG's 1/log2(pos+1), SPRT's ln-ratio
weights) quantize it to an INTEGER ppm weight FIRST — per small-int
degree, per rank position (a 10-element literal table shared verbatim
by both engines), or per hypothesis pair (two module-level literals)
— so every sum is an exact integer sum and no float accumulation
order can differ cross-engine.  Kneser-Ney needs no transcendental at
all: with discount D = 3/4 the probability is a single rational whose
numerator/denominator are exact integer products (decimal(38,0) /
HUGEINT with fail-stop overflow guards), floored to ppm through ONE
division.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import io
from ..registry import register
from .pipeline_ext17 import _no_silent_overflow

# ---------------------------------------------------------------------------
# E242: Adamic-Adar link prediction
# ---------------------------------------------------------------------------

_AA_MAX_DEG = 40  # hub cap: parts bought by more customers carry ~no signal
_AA_TOP = 20


@register(
    "link_adamic_adar_topk",
    tier="D",
    oracle=f"""
    WITH purchases AS (
      SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ),
    deg AS (
      SELECT p, COUNT(*) AS d FROM purchases GROUP BY p
      HAVING COUNT(*) BETWEEN 2 AND {_AA_MAX_DEG}
    ),
    w AS (
      SELECT p, CAST(FLOOR(1000000.0 / ln(d)) AS BIGINT) AS w_ppm FROM deg
    ),
    pairs AS (
      SELECT a.c AS cust_a, b.c AS cust_b,
             CAST(COUNT(*) AS BIGINT) AS n_common,
             CAST(SUM(w.w_ppm) AS BIGINT) AS aa_score_ppm
      FROM purchases a
      JOIN purchases b ON a.p = b.p AND a.c < b.c
      JOIN w ON w.p = a.p
      GROUP BY 1, 2
    )
    SELECT cust_a, cust_b, n_common, aa_score_ppm
    FROM pairs
    ORDER BY aa_score_ppm DESC, cust_a, cust_b
    LIMIT {_AA_TOP}
    """,
)
def link_adamic_adar_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E242: Adamic-Adar link prediction on the customer-part bipartite
    graph (Adamic & Adar 2003, "Friends and neighbors on the Web") —
    the classic common-neighbor score that down-weights popular
    neighbors: AA(a,b) = Σ_{{p ∈ Γ(a)∩Γ(b)}} 1/ln(deg(p)).  Top-20
    customer pairs most likely to share future purchases — the
    recommendation / entity-linkage primitive over any co-occurrence
    graph (doc-shingle, user-item, author-paper).

    Exactness: each shared part contributes the INTEGER weight
    floor(1e6/ln(deg)) — deg is a small exact integer, ln of a small
    int is correctly rounded in both engines (the E86 precedent), and
    quantizing per-part BEFORE the sum makes the pair score an exact
    integer sum, immune to float accumulation order.  Ties broken by
    (cust_a, cust_b) — a total order.

    Scale shape: the pair join runs on the HUB-CAPPED posting lists
    (2 ≤ deg ≤ {_AA_MAX_DEG}) — the standard link-prediction move,
    since a part bought by everyone contributes ≈1/ln(huge) ≈ 0
    signal while costing deg² candidate pairs; with the cap, work is
    Σ_p deg(p)² ≤ {_AA_MAX_DEG}·Σ_p deg(p) — posting-proportional,
    never all-pairs.  Top-k is TakeOrdered (no global sort
    materialization)."""
    purchases = (
        io.table(spark, sf_dir, "orders")
        .join(io.table(spark, sf_dir, "lineitem"), F.col("o_orderkey") == F.col("l_orderkey"))
        .select(F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    w = (
        purchases.groupBy("p")
        .agg(F.count("*").alias("d"))
        .filter((F.col("d") >= 2) & (F.col("d") <= _AA_MAX_DEG))
        .select(
            F.col("p").alias("wp"),
            F.floor(1_000_000.0 / F.log("d")).cast("long").alias("w_ppm"),
        )
    )
    # Restrict posting lists to the hub-capped parts BEFORE pairing (r10
    # ADVICE): joining w first bounds the self-join input, so the
    # executed plan matches the documented Σ deg² ≤ cap·Σ deg work
    # bound — without this, a deg-d hub materializes ~d²/2 candidate
    # rows that the weight join then discards (session.py sets no CBO,
    # so Spark keeps syntactic join order).
    capped = purchases.join(w, purchases.p == F.col("wp")).select("c", "p", "w_ppm")
    a = capped.alias("a")
    b = capped.select("c", "p").alias("b")
    pairs = (
        a.join(b, (F.col("a.p") == F.col("b.p")) & (F.col("a.c") < F.col("b.c")))
        .groupBy(F.col("a.c").alias("cust_a"), F.col("b.c").alias("cust_b"))
        .agg(
            F.count("*").cast("long").alias("n_common"),
            F.sum("w_ppm").cast("long").alias("aa_score_ppm"),
        )
    )
    return pairs.orderBy(
        F.desc("aa_score_ppm"), "cust_a", "cust_b"
    ).limit(_AA_TOP)


# ---------------------------------------------------------------------------
# E243: nDCG@10 retrieval audit
# ---------------------------------------------------------------------------

_NDCG_K = 10
_NDCG_QUERY_MOD = 100  # doc_id % 100 == 0 are the query documents
# floor(1e6 / log2(pos+1)) for pos 1..10 — the ONE transcendental,
# quantized to a literal table both engines share verbatim
_NDCG_WPOS = [int(1_000_000 // math.log2(pos + 1)) for pos in range(1, _NDCG_K + 1)]


@register(
    "retrieval_ndcg_audit",
    tier="D",
    oracle=f"""
    WITH w AS (
      SELECT * FROM (VALUES
        {", ".join(f"({i + 1}, {w})" for i, w in enumerate(_NDCG_WPOS))}
      ) AS t(pos, w_ppm)
    ),
    q AS (
      SELECT doc_id, source, lang FROM documents
      WHERE doc_id % {_NDCG_QUERY_MOD} = 0
    ),
    ws AS (
      SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS wd
      FROM documents
    ),
    grams AS (
      SELECT DISTINCT doc_id, array_to_string(wd[i:i+2], ' ') AS shingle
      FROM ws, UNNEST(generate_series(1, len(wd) - 2)) AS t(i)
      WHERE array_to_string(wd[i:i+2], ' ') <> ''
    ),
    overlap AS (
      SELECT qa.doc_id AS query_id, ca.doc_id AS cand_id,
             COUNT(*) AS n_overlap
      FROM grams qa
      JOIN q ON qa.doc_id = q.doc_id
      JOIN grams ca ON ca.shingle = qa.shingle AND ca.doc_id <> qa.doc_id
      GROUP BY 1, 2
    ),
    ranked AS (
      SELECT o.query_id, o.cand_id,
             ROW_NUMBER() OVER (PARTITION BY o.query_id
                                ORDER BY o.n_overlap DESC, o.cand_id) AS pos,
             CASE WHEN d.source = q.source AND d.lang = q.lang THEN 3
                  WHEN d.source = q.source THEN 1 ELSE 0 END AS gain
      FROM overlap o
      JOIN documents d ON d.doc_id = o.cand_id
      JOIN q ON q.doc_id = o.query_id
    ),
    topk AS (SELECT * FROM ranked WHERE pos <= {_NDCG_K}),
    ideal AS (
      SELECT query_id, gain,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY gain DESC, cand_id) AS ipos
      FROM topk
    )
    SELECT t.query_id,
           CAST(COUNT(*) AS BIGINT) AS n_ranked,
           CAST(SUM(t.gain * w.w_ppm) AS BIGINT) AS dcg_ppm,
           CAST(SUM(i.gain * wi.w_ppm) AS BIGINT) AS idcg_ppm,
           CAST(FLOOR(CAST(SUM(t.gain * w.w_ppm) AS DOUBLE) * 1000000
                      / NULLIF(SUM(i.gain * wi.w_ppm), 0)) AS BIGINT)
             AS ndcg_ppm
    FROM topk t
    JOIN w ON w.pos = t.pos
    JOIN ideal i ON i.query_id = t.query_id AND i.ipos = t.pos
    JOIN w wi ON wi.pos = i.ipos
    GROUP BY t.query_id
    """,
)
def retrieval_ndcg_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E243: nDCG@{_NDCG_K} retrieval-quality audit (Järvelin &
    Kekäläinen 2002) — every doc_id % {_NDCG_QUERY_MOD} == 0 document
    is a query; candidates are ranked by 3-gram shingle overlap
    (desc, doc_id asc — a total order), graded relevance is derived
    from metadata (same source+lang = 3, same source = 1, else 0),
    and each query reports DCG/IDCG/nDCG over its top-{_NDCG_K}.  The
    eval harness every retrieval stack (E128 BM25, E144 RRF, the ANN
    family) needs before its rankings can be trusted.

    Exactness: the position discount 1/log2(pos+1) is quantized to a
    10-element INTEGER ppm literal table computed once and embedded
    verbatim in both engines, so DCG and IDCG are exact integer dot
    products; nDCG crosses IEEE once (floored ppm, NULL when IDCG=0).
    IDCG re-ranks the SAME retrieved top-{_NDCG_K} (the standard
    local-ideal convention), keeping both sums over identical row
    sets.

    Scale shape: query set is corpus_size/{_NDCG_QUERY_MOD} rows; the
    overlap join runs query-shingles × posting lists (postings-
    proportional, the BM25 shape); ranking windows partition by query
    — bounded fan-in; the final aggregate is queries × {_NDCG_K}
    rows."""
    from ..operators import dedup as D

    docs = io.table(spark, sf_dir, "documents")
    q = docs.filter(F.col("doc_id") % _NDCG_QUERY_MOD == 0).select(
        F.col("doc_id").alias("query_id"),
        F.col("source").alias("q_source"),
        F.col("lang").alias("q_lang"),
    )
    # localCheckpoint (the ext23/ext27 pattern): grams feeds BOTH the
    # query side (qg) and the candidate side of the overlap join —
    # without materialization the corpus-sized shingle explode runs
    # twice per consumer (the exact recompute ext27's E219 fix killed
    # after it OOMed a bare 1g driver-mimic session).
    grams = D.shingles(docs.select("doc_id", "text"), 3).localCheckpoint(eager=False)
    qg = grams.join(
        q.select("query_id"), grams.doc_id == F.col("query_id")
    ).select("query_id", "shingle")
    overlap = (
        qg.join(
            grams.select(F.col("doc_id").alias("cand_id"), "shingle"), "shingle"
        )
        .filter(F.col("cand_id") != F.col("query_id"))
        .groupBy("query_id", "cand_id")
        .agg(F.count("*").alias("n_overlap"))
    )
    meta = docs.select(
        F.col("doc_id").alias("cand_id"),
        F.col("source").alias("c_source"),
        F.col("lang").alias("c_lang"),
    )
    byq = Window.partitionBy("query_id").orderBy(F.desc("n_overlap"), "cand_id")
    ranked = (
        overlap.join(meta, "cand_id")
        .join(q, "query_id")
        .select(
            "query_id",
            "cand_id",
            F.row_number().over(byq).alias("pos"),
            F.when(
                (F.col("c_source") == F.col("q_source"))
                & (F.col("c_lang") == F.col("q_lang")),
                3,
            )
            .when(F.col("c_source") == F.col("q_source"), 1)
            .otherwise(0)
            .alias("gain"),
        )
        .filter(F.col("pos") <= _NDCG_K)
    )
    warr = F.array(*[F.lit(w) for w in _NDCG_WPOS])
    ibyq = Window.partitionBy("query_id").orderBy(F.desc("gain"), "cand_id")
    ideal = ranked.select(
        "query_id", "gain", F.row_number().over(ibyq).alias("ipos")
    ).select(
        "query_id",
        (F.col("gain") * F.element_at(warr, F.col("ipos"))).alias("iterm"),
    )
    dcg = ranked.select(
        "query_id",
        (F.col("gain") * F.element_at(warr, F.col("pos"))).alias("term"),
    )
    agg_d = dcg.groupBy("query_id").agg(
        F.count("*").cast("long").alias("n_ranked"),
        F.sum("term").cast("long").alias("dcg_ppm"),
    )
    agg_i = ideal.groupBy("query_id").agg(F.sum("iterm").cast("long").alias("idcg_ppm"))
    return agg_d.join(agg_i, "query_id").select(
        "query_id",
        "n_ranked",
        "dcg_ppm",
        "idcg_ppm",
        F.floor(
            F.col("dcg_ppm").cast("double")
            * 1_000_000
            / F.nullif(F.col("idcg_ppm"), F.lit(0))
        )
        .cast("long")
        .alias("ndcg_ppm"),
    )


# ---------------------------------------------------------------------------
# E244: Kneser-Ney discounted bigram probabilities
# ---------------------------------------------------------------------------

_KN_TOP = 20


@register(
    "kneser_ney_bigram_probs",
    tier="D",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, i AS pos, wd[i] AS word,
             CASE WHEN i > 1 THEN wd[i-1] END AS prev
      FROM (
        SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS wd
        FROM documents
      ), UNNEST(generate_series(1, len(wd))) AS t(i)
      WHERE wd[i] <> ''
    ),
    bi AS (
      SELECT prev AS w1, word AS w2, CAST(COUNT(*) AS HUGEINT) AS c
      FROM toks WHERE prev IS NOT NULL AND prev <> ''
      GROUP BY 1, 2
    ),
    ctot AS (SELECT w1, SUM(c) AS ct, COUNT(*) AS n1fwd FROM bi GROUP BY w1),
    cback AS (SELECT w2, CAST(COUNT(*) AS HUGEINT) AS n1back FROM bi GROUP BY w2),
    tot AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n1tot FROM bi)
    SELECT b.w1, b.w2, CAST(b.c AS BIGINT) AS c,
           CAST(FLOOR(CAST((4 * b.c - 3) * t.n1tot
                           + 3 * ct.n1fwd * cb.n1back AS DOUBLE) * 1000000
                      / CAST(4 * ct.ct * t.n1tot AS DOUBLE)) AS BIGINT)
             AS p_kn_ppm
    FROM bi b
    JOIN ctot ct ON ct.w1 = b.w1
    JOIN cback cb ON cb.w2 = b.w2
    CROSS JOIN tot t
    ORDER BY c DESC, b.w1, b.w2
    LIMIT {_KN_TOP}
    """,
)
def kneser_ney_bigram_probs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E244: Kneser-Ney bigram probabilities with absolute discount
    D = 3/4 (Kneser & Ney 1995; Chen & Goodman 1998's benchmark
    smoothing) — the LM-smoothing standard behind every n-gram
    quality filter: P(w2|w1) = max(c-D,0)/c(w1·) + D·N1+(w1·)/c(w1·)
    · N1+(·w2)/N1+(··).  Reported for the top-{_KN_TOP} bigrams — the
    completion of E196's add-one perplexity with the smoothing a real
    corpus LM would use.

    Exactness: with D = 3/4 the whole expression is ONE rational —
    ((4c-3)·N1tot + 3·N1fwd·N1back) / (4·c(w1·)·N1tot) — whose
    numerator and denominator are exact integer products
    (decimal(38,0) Spark / HUGEINT DuckDB, fail-stop overflow
    guards); the probability crosses IEEE once, floored to ppm.  No
    transcendental anywhere.  Observed bigrams have c ≥ 1 so the
    max(·,0) is vacuous and elided identically in both engines.

    Scale shape: three vocabulary-keyed partial-agg count tables (the
    E196 shape — never doc-keyed), one 1-row total broadcast, and a
    TakeOrdered top-{_KN_TOP}; at open-web scale everything buckets on
    hash(w1)/hash(w2)."""
    dec = "decimal(38,0)"
    toks = (
        io.table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.posexplode(F.split(F.lower("text"), r"\s+")).alias("pos0", "word"),
        )
        .filter(F.col("word") != "")
        .select(
            "doc_id",
            "word",
            F.lag("word")
            .over(Window.partitionBy("doc_id").orderBy(F.col("pos0")))
            .alias("prev"),
        )
    )
    bi = (
        toks.filter(F.col("prev").isNotNull() & (F.col("prev") != ""))
        .groupBy(F.col("prev").alias("w1"), F.col("word").alias("w2"))
        .agg(F.count("*").cast(dec).alias("c"))
    )
    ctot = bi.groupBy("w1").agg(
        F.sum("c").cast(dec).alias("ct"), F.count("*").cast(dec).alias("n1fwd")
    )
    cback = bi.groupBy("w2").agg(F.count("*").cast(dec).alias("n1back"))
    tot = bi.agg(F.count("*").cast(dec).alias("n1tot"))
    num = _no_silent_overflow(
        (
            (F.lit(4).cast(dec) * F.col("c") - F.lit(3)) * F.col("n1tot")
            + F.lit(3).cast(dec) * F.col("n1fwd") * F.col("n1back")
        ).cast(dec),
        "E244 numerator",
    )
    den = _no_silent_overflow(
        (F.lit(4).cast(dec) * F.col("ct") * F.col("n1tot")).cast(dec),
        "E244 denominator",
    )
    return (
        bi.join(ctot, "w1")
        .join(cback, "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            F.col("c").cast("long").alias("c"),
            F.floor(num.cast("double") * 1_000_000 / den.cast("double"))
            .cast("long")
            .alias("p_kn_ppm"),
        )
        .orderBy(F.desc("c"), "w1", "w2")
        .limit(_KN_TOP)
    )


# ---------------------------------------------------------------------------
# E245: Wald SPRT conversion monitor
# ---------------------------------------------------------------------------

_SPRT_P0 = 0.45  # H0: purchase share among {purchase, click}
_SPRT_P1 = 0.55  # H1
_SPRT_ALPHA = 0.05
_SPRT_BETA = 0.05
# integer ppm LLR increments and barriers — the transcendentals,
# quantized once, shared verbatim by both engines
_SPRT_W1 = math.floor(math.log(_SPRT_P1 / _SPRT_P0) * 1_000_000)
_SPRT_W0 = math.floor(math.log((1 - _SPRT_P1) / (1 - _SPRT_P0)) * 1_000_000)
_SPRT_A = math.floor(math.log((1 - _SPRT_BETA) / _SPRT_ALPHA) * 1_000_000)
_SPRT_B = math.floor(math.log(_SPRT_BETA / (1 - _SPRT_ALPHA)) * 1_000_000)


@register(
    "sprt_conversion_monitor",
    tier="D",
    oracle=f"""
    WITH daily AS (
      SELECT user_id % 2 AS variant,
             CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_success,
             CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_failure
      FROM events
      WHERE event_type IN ('purchase', 'click')
      GROUP BY 1, 2
    ),
    walk AS (
      SELECT variant, day, n_success, n_failure,
             CAST(SUM(n_success * ({_SPRT_W1}) + n_failure * ({_SPRT_W0}))
               OVER (PARTITION BY variant ORDER BY day
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS llr_cum_ppm
      FROM daily
    )
    SELECT variant, day, n_success, n_failure, llr_cum_ppm,
           CASE WHEN llr_cum_ppm >= {_SPRT_A} THEN 'accept_h1'
                WHEN llr_cum_ppm <= {_SPRT_B} THEN 'accept_h0'
                ELSE 'continue' END AS decision
    FROM walk
    """,
)
def sprt_conversion_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E245: Wald sequential probability ratio test (Wald 1945) on the
    daily purchase-vs-click share per variant (user_id parity) — the
    always-valid sequential monitor that lets an experiment STOP the
    day the evidence crosses a barrier instead of waiting for a fixed
    horizon: cumulative LLR walk with H0 p={_SPRT_P0} vs H1
    p={_SPRT_P1}, barriers ln((1-β)/α) / ln(β/(1-α)) at
    α=β={_SPRT_ALPHA}.  Completes the testing family (E176 fixed-
    horizon z-test, E198 MDE, E230 Page-Hinkley drift) with its
    sequential member.

    Exactness: the per-observation LLR increments ln(p1/p0) and
    ln((1-p1)/(1-p0)) are quantized ONCE to integer ppm module
    literals ({_SPRT_W1} / {_SPRT_W0}), so the cumulative walk is an
    exact integer running sum — no float accumulation order, no
    transcendental at query time; barriers are integer ppm literals
    and the decision is integer comparison.

    Scale shape: one (variant, day)-keyed partial agg over the event
    stream, then a 2-partition running-sum window over ~days rows —
    metadata-sized state, the E132/E133 fold shape."""
    ev = io.table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "click")
    )
    daily = (
        ev.groupBy(
            (F.col("user_id") % 2).alias("variant"),
            F.date_trunc("day", "ts").cast("timestamp_ntz").alias("day"),
        )
        .agg(
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            .cast("long")
            .alias("n_success"),
            F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
            .cast("long")
            .alias("n_failure"),
        )
    )
    walk = Window.partitionBy("variant").orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    out = daily.withColumn(
        "llr_cum_ppm",
        F.sum(
            F.col("n_success") * F.lit(_SPRT_W1)
            + F.col("n_failure") * F.lit(_SPRT_W0)
        )
        .over(walk)
        .cast("long"),
    )
    return out.select(
        "variant",
        "day",
        "n_success",
        "n_failure",
        "llr_cum_ppm",
        F.when(F.col("llr_cum_ppm") >= _SPRT_A, "accept_h1")
        .when(F.col("llr_cum_ppm") <= _SPRT_B, "accept_h0")
        .otherwise("continue")
        .alias("decision"),
    )
