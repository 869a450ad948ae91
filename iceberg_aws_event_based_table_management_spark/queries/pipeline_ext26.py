"""Tier D (part 27) — econometrics on the order stream and
lexical-statistics text QA (SURVEY.md §2-E E213-E219).

Twenty-sixth batch, registered in round 9: fixed-point log-log price-elasticity
OLS per brand, brand share-shift (cannibalization) across the early/
late halves of the order stream, level-1 binary-segmentation
changepoint detection on the daily series, session gap/duration
percentile stats on the C42 islands, and three lexical-richness
gauges (hapax ratio, sentence stats, Yule's K).

Exactness discipline as ext24/ext25: logs are quantized to integer
micro-units per row BEFORE summation (fixed-point regression — ln is
bit-identical cross-engine per the E86 precedent, so the floor is
deterministic and the sums are exact integers), every percentile is a
nearest-rank sorted pick over a total order, and each output crosses
IEEE through one identically-parenthesized expression.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import io
from ..registry import register
from .pipeline_ext17 import _no_silent_overflow

# ---------------------------------------------------------------------------
# E213: price-elasticity OLS per brand (fixed-point log-log regression)
# ---------------------------------------------------------------------------


@register(
    "price_elasticity_ols",
    tier="D",
    oracle="""
    WITH pts AS (
      SELECT p.p_brand,
             CAST(FLOOR(ln(CAST(l.l_quantity AS DOUBLE)) * 1000000) AS BIGINT)
               AS x,
             CAST(FLOOR(ln(CAST(ROUND(l.l_extendedprice * 100, 0) AS DOUBLE))
                        * 1000000) AS BIGINT) AS y
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ),
    s AS (
      SELECT p_brand,
             CAST(COUNT(*) AS HUGEINT) AS n,
             CAST(SUM(x) AS HUGEINT) AS sx, CAST(SUM(y) AS HUGEINT) AS sy,
             SUM(CAST(x AS HUGEINT) * y) AS sxy,
             SUM(CAST(x AS HUGEINT) * x) AS sxx
      FROM pts GROUP BY p_brand
    )
    SELECT p_brand,
           CAST(n AS BIGINT) AS n_lines,
           CAST(FLOOR((CAST(n * sxy - sx * sy AS DOUBLE)
                       / CAST(n * sxx - sx * sx AS DOUBLE)) * 1000000)
                AS BIGINT) AS elasticity_ppm,
           CAST(FLOOR(CAST(sy * sxx - sx * sxy AS DOUBLE)
                      / CAST(n * sxx - sx * sx AS DOUBLE)) AS BIGINT)
             AS intercept_micro
    FROM s
    """,
)
def price_elasticity_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E213: log-log OLS of ln(price) on ln(quantity) per brand — the
    textbook price-elasticity readout (slope ~0 here because TPC-H
    prices are quantity-independent, which is itself the null-result
    a pricing review wants confirmed).  E180 adjusts means with a
    covariate; this fits the demand curve.

    Exactness: FIXED-POINT regression — each row's ln(quantity) and
    ln(price_cents) is floored to integer MICRO-units first (ln is
    bit-identical cross-engine on integer inputs, the E86 precedent,
    so the quantization is deterministic), making all five sufficient
    statistics exact HUGEINT/decimal(38,0) integers with no float
    accumulation-order dependence; slope and intercept each cross
    IEEE once.  The statistic is exactly OLS of the quantized pairs
    (stated, not hidden).

    Scale shape: one broadcast dim join + one brand-keyed
    map-side-combinable rollup; output is |brands| rows."""
    li = io.table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    pt = io.table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    pts = li.join(F.broadcast(pt), li.l_partkey == pt.p_partkey).select(
        "p_brand",
        F.floor(F.log(F.col("l_quantity").cast("double")) * 1000000)
        .cast("long")
        .alias("x"),
        F.floor(
            F.log(F.round(F.col("l_extendedprice") * 100, 0).cast("double")) * 1000000
        )
        .cast("long")
        .alias("y"),
    )
    dec = "decimal(38,0)"
    s = pts.groupBy("p_brand").agg(
        F.count("*").cast(dec).alias("n"),
        F.sum("x").cast(dec).alias("sx"),
        F.sum("y").cast(dec).alias("sy"),
        F.sum(
            _no_silent_overflow((F.col("x").cast(dec) * F.col("y")).cast(dec), "E213 xy")
        )
        .cast(dec)
        .alias("sxy"),
        F.sum(
            _no_silent_overflow((F.col("x").cast(dec) * F.col("x")).cast(dec), "E213 xx")
        )
        .cast(dec)
        .alias("sxx"),
    )
    sxx_c = _no_silent_overflow(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(dec), "E213 Sxx"
    ).cast("double")
    sxy_c = _no_silent_overflow(
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(dec), "E213 Sxy"
    ).cast("double")
    icept = _no_silent_overflow(
        (F.col("sy") * F.col("sxx") - F.col("sx") * F.col("sxy")).cast(dec),
        "E213 icept",
    ).cast("double")
    return s.select(
        "p_brand",
        F.col("n").cast("long").alias("n_lines"),
        F.floor(F.try_divide(sxy_c, sxx_c) * 1000000).cast("long").alias("elasticity_ppm"),
        F.floor(F.try_divide(icept, sxx_c)).cast("long").alias("intercept_micro"),
    )


# ---------------------------------------------------------------------------
# E214: brand share-shift (cannibalization scan)
# ---------------------------------------------------------------------------

_SHIFT_SPLIT = "1995-06-01"


@register(
    "cannibalization_share_shift",
    tier="D",
    oracle=f"""
    WITH lines AS (
      SELECT split_part(p.p_type, ' ', 1) AS category,
             p.p_brand,
             l.l_shipdate < TIMESTAMP '{_SHIFT_SPLIT}' AS early,
             CAST(l.l_quantity AS BIGINT) AS q
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ),
    cell AS (
      SELECT category, p_brand,
             CAST(SUM(CASE WHEN early THEN q ELSE 0 END) AS BIGINT) AS q_early,
             CAST(SUM(CASE WHEN early THEN 0 ELSE q END) AS BIGINT) AS q_late
      FROM lines GROUP BY category, p_brand
    ),
    tot AS (
      SELECT category,
             CAST(SUM(q_early) AS BIGINT) AS te,
             CAST(SUM(q_late) AS BIGINT) AS tl
      FROM cell GROUP BY category
    )
    SELECT c.category, c.p_brand, c.q_early, c.q_late,
           CAST(FLOOR(CAST(c.q_early AS DOUBLE) / CAST(t.te AS DOUBLE)
                      * 1000000) AS BIGINT) AS share_early_ppm,
           CAST(FLOOR(CAST(c.q_late AS DOUBLE) / CAST(t.tl AS DOUBLE)
                      * 1000000) AS BIGINT) AS share_late_ppm,
           CAST(FLOOR(CAST(c.q_late AS DOUBLE) / CAST(t.tl AS DOUBLE)
                      * 1000000) AS BIGINT)
             - CAST(FLOOR(CAST(c.q_early AS DOUBLE) / CAST(t.te AS DOUBLE)
                          * 1000000) AS BIGINT) AS shift_ppm
    FROM cell c JOIN tot t ON c.category = t.category
    """,
)
def cannibalization_share_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E214: share-shift (cannibalization) scan — each brand's share
    of its CATEGORY's quantity in the early half vs the late half of
    the order stream ({split} split), and the delta.  A brand gaining
    share while its category is flat is taking it from siblings —
    the substitution diagnosis behind every assortment decision;
    E172's seasonal decomposition explains WHEN, this explains WHO.

    Exactness: quantities are exact integer sums; shares are one IEEE
    division each, floored to ppm; the shift subtracts the FLOORED
    shares (stated — so the delta is exactly reproducible from the
    other two columns).

    Scale shape: broadcast dim join + one (category, brand) rollup +
    one category rollup re-joined — both partial-aggregate map-side;
    output is |category| x |brand| metadata."""
    li = io.table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_shipdate", "l_quantity"
    )
    pt = io.table(spark, sf_dir, "part").select(
        F.col("p_partkey"),
        F.split_part(F.col("p_type"), F.lit(" "), F.lit(1)).alias("category"),
        "p_brand",
    )
    split = F.lit(_SHIFT_SPLIT).cast("timestamp_ntz")
    lines = li.join(F.broadcast(pt), li.l_partkey == pt.p_partkey).select(
        "category",
        "p_brand",
        (F.col("l_shipdate") < split).alias("early"),
        F.col("l_quantity").cast("long").alias("q"),
    )
    cell = lines.groupBy("category", "p_brand").agg(
        F.sum(F.when(F.col("early"), F.col("q")).otherwise(0)).cast("long").alias("q_early"),
        F.sum(F.when(F.col("early"), 0).otherwise(F.col("q"))).cast("long").alias("q_late"),
    )
    tot = cell.groupBy("category").agg(
        F.sum("q_early").cast("long").alias("te"), F.sum("q_late").cast("long").alias("tl")
    )
    j = cell.join(F.broadcast(tot), "category")
    se = F.floor(F.col("q_early").cast("double") / F.col("te").cast("double") * 1000000).cast("long")
    sl = F.floor(F.col("q_late").cast("double") / F.col("tl").cast("double") * 1000000).cast("long")
    return j.select(
        "category",
        "p_brand",
        "q_early",
        "q_late",
        se.alias("share_early_ppm"),
        sl.alias("share_late_ppm"),
        (sl - se).alias("shift_ppm"),
    )


# ---------------------------------------------------------------------------
# E215: level-1 binary-segmentation changepoint
# ---------------------------------------------------------------------------


@register(
    "changepoint_binary_segmentation",
    tier="D",
    oracle="""
    WITH daily AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1
    ),
    idx AS (
      SELECT day, n,
             ROW_NUMBER() OVER (ORDER BY day) AS k,
             SUM(n) OVER (ORDER BY day) AS cs,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM daily) AS nd,
             (SELECT CAST(SUM(n) AS BIGINT) FROM daily) AS s
      FROM daily
    ),
    scored AS (
      SELECT day, k, cs, nd, s,
             (CAST(nd * cs - k * s AS DOUBLE) * CAST(nd * cs - k * s AS DOUBLE))
               / (CAST(k AS DOUBLE) * CAST(nd - k AS DOUBLE)) AS g
      FROM idx WHERE k < nd
    ),
    best AS (
      SELECT day, k, cs, nd, s, g,
             ROW_NUMBER() OVER (ORDER BY g DESC, day) AS rn
      FROM scored
    )
    SELECT CAST(nd AS BIGINT) AS n_days,
           day AS split_day,
           CAST(k AS BIGINT) AS left_days,
           CAST(FLOOR((g / (CAST(nd AS DOUBLE) * CAST(nd AS DOUBLE))) * 1000)
                AS BIGINT) AS between_ss_milli,
           CAST(FLOOR(CAST(cs AS DOUBLE) / CAST(k AS DOUBLE) * 1000) AS BIGINT)
             AS left_mean_milli,
           CAST(FLOOR(CAST(s - cs AS DOUBLE) / CAST(nd - k AS DOUBLE) * 1000)
                AS BIGINT) AS right_mean_milli
    FROM best WHERE rn = 1
    """,
)
def changepoint_binary_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E215: level-1 binary segmentation on the total daily event
    series — the split day maximizing the between-segment sum of
    squares, i.e. the single changepoint a step-change in traffic
    leaves behind.  E134 (CUSUM) accumulates drift against a target;
    binary segmentation needs no target and is the standard first
    pass of every changepoint stack (its recursion is this same scan
    re-run per segment).

    Exactness: the objective g(k) = (nd·cs_k - k·S)² / (k(nd-k)) is
    computed from EXACT integer prefix sums, crosses IEEE through one
    identically-parenthesized expression, and both engines order by
    the bit-identical g with a day tiebreak — so the argmax is
    deterministic; between-SS rescales g by nd² only at output.

    Scale shape: one daily rollup (map-side combinable) + prefix-sum
    windows over the calendar-bounded series + one TakeOrdered row."""
    daily = (
        io.table(spark, sf_dir, "events")
        .groupBy(F.to_date(F.date_trunc("day", "ts")).alias("day"))
        .agg(F.count("*").cast("long").alias("n"))
    )
    tot = daily.agg(
        F.count("*").cast("long").alias("nd"), F.sum("n").cast("long").alias("s")
    )
    w = Window.orderBy("day")
    idx = daily.select(
        "day",
        F.row_number().over(w).alias("k"),
        F.sum("n").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("cs"),
    ).crossJoin(F.broadcast(tot))
    num = (F.col("nd") * F.col("cs") - F.col("k") * F.col("s")).cast("double")
    g = (num * num) / (F.col("k").cast("double") * (F.col("nd") - F.col("k")).cast("double"))
    scored = idx.filter(F.col("k") < F.col("nd")).select(
        "day", "k", "cs", "nd", "s", g.alias("g")
    )
    best = scored.withColumn(
        "rn", F.row_number().over(Window.orderBy(F.desc("g"), "day"))
    ).filter(F.col("rn") == 1)
    return best.select(
        F.col("nd").cast("long").alias("n_days"),
        F.col("day").alias("split_day"),
        F.col("k").cast("long").alias("left_days"),
        F.floor(F.col("g") / (F.col("nd").cast("double") * F.col("nd").cast("double")) * 1000)
        .cast("long")
        .alias("between_ss_milli"),
        F.floor(F.col("cs").cast("double") / F.col("k").cast("double") * 1000)
        .cast("long")
        .alias("left_mean_milli"),
        F.floor(
            (F.col("s") - F.col("cs")).cast("double")
            / (F.col("nd") - F.col("k")).cast("double")
            * 1000
        )
        .cast("long")
        .alias("right_mean_milli"),
    )


# ---------------------------------------------------------------------------
# E216: session gap / duration percentile stats
# ---------------------------------------------------------------------------

_SESS_GAP_MIN = 30


@register(
    "sessionization_gap_stats",
    tier="D",
    oracle=f"""
    WITH flagged AS (
      SELECT user_id, ts,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id)
                       > INTERVAL {_SESS_GAP_MIN} MINUTE
                  THEN 1 ELSE 0 END AS new_session,
             -- floor of the microsecond difference, NOT
             -- date_diff('second') (which counts boundary crossings
             -- and can be off by one vs the floored difference)
             CAST((epoch_us(ts)
                   - epoch_us(LAG(ts) OVER (PARTITION BY user_id
                                            ORDER BY ts, event_id)))
                  // 1000000 AS BIGINT) AS gap_s
      FROM events
    ),
    islands AS (
      SELECT user_id, ts,
             CASE WHEN new_session = 1 THEN gap_s END AS session_gap_s,
             SUM(new_session) OVER (
               PARTITION BY user_id ORDER BY ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
      FROM flagged
    ),
    sessions AS (
      SELECT user_id, session_no,
             CAST((epoch_us(MAX(ts)) - epoch_us(MIN(ts))) // 1000000
                  AS BIGINT) AS dur_s,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM islands GROUP BY user_id, session_no
    ),
    dur_ranked AS (
      SELECT dur_s, n_events,
             ROW_NUMBER() OVER (ORDER BY dur_s, user_id, session_no) AS r,
             COUNT(*) OVER () AS n
      FROM sessions
    ),
    gap_ranked AS (
      SELECT session_gap_s,
             ROW_NUMBER() OVER (ORDER BY session_gap_s, user_id, ts) AS r,
             COUNT(*) OVER () AS n
      FROM islands WHERE session_gap_s IS NOT NULL
    )
    SELECT
      (SELECT CAST(COUNT(*) AS BIGINT) FROM sessions) AS n_sessions,
      (SELECT dur_s FROM dur_ranked WHERE r = CAST(CEIL(n * 0.50) AS BIGINT))
        AS p50_duration_s,
      (SELECT dur_s FROM dur_ranked WHERE r = CAST(CEIL(n * 0.90) AS BIGINT))
        AS p90_duration_s,
      (SELECT dur_s FROM dur_ranked WHERE r = CAST(CEIL(n * 0.99) AS BIGINT))
        AS p99_duration_s,
      (SELECT session_gap_s FROM gap_ranked
       WHERE r = CAST(CEIL(n * 0.50) AS BIGINT)) AS p50_gap_s,
      (SELECT session_gap_s FROM gap_ranked
       WHERE r = CAST(CEIL(n * 0.90) AS BIGINT)) AS p90_gap_s,
      (SELECT CAST(FLOOR(CAST(SUM(n_events) AS DOUBLE)
                         / CAST(COUNT(*) AS DOUBLE) * 1000) AS BIGINT)
       FROM sessions) AS mean_events_milli
    """,
)
def sessionization_gap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E216: the distributional report OVER the C42 sessionization —
    nearest-rank p50/p90/p99 of session duration, p50/p90 of the
    INTER-session gap (the dead time between a user's sessions), and
    mean events per session.  C42 materializes sessions; this is the
    one-row engagement summary dashboards print, and the empirical
    basis for choosing the {g}-minute gap parameter itself.

    Exactness: session islands are the C42 lag+cumsum device over a
    (ts, event_id) total order; durations/gaps are exact integer
    seconds; every percentile is a nearest-rank sorted pick (ceil(qn))
    with full tiebreaks; the one mean crosses IEEE once, floored.

    Scale shape: per-user windows for islands; the percentile ranks
    over the SESSION-count frames run through operators/skew.
    global_row_number (range-partition + local rank + broadcast
    offsets — never a single-partition sort; the r13 sf10 smoke had
    the old unpartitioned form at 45.1 s), with the population counts
    as broadcast 1-row aggregates; output is one row."""
    ev = io.table(spark, sf_dir, "events")
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_s = (io.epoch_us(F.col("ts")) - io.epoch_us(F.lag("ts").over(wu))) / 1_000_000
    flagged = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            gap_s > _SESS_GAP_MIN * 60, 1
        ).otherwise(0).alias("new_session"),
        gap_s.cast("long").alias("gap_s"),
    )
    islands = flagged.select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("new_session") == 1, F.col("gap_s")).alias("session_gap_s"),
        F.sum("new_session")
        .over(wu.rowsBetween(Window.unboundedPreceding, 0))
        .alias("session_no"),
    )
    sessions = islands.groupBy("user_id", "session_no").agg(
        ((io.epoch_us(F.max("ts")) - io.epoch_us(F.min("ts"))) / 1_000_000)
        .cast("long")
        .alias("dur_s"),
        F.count("*").cast("long").alias("n_events"),
    )
    from ..operators.skew import global_row_number

    dur_ranked = global_row_number(
        sessions.select("dur_s", "user_id", "session_no"),
        ["dur_s", "user_id", "session_no"],
        "r",
    ).crossJoin(F.broadcast(sessions.agg(F.count("*").cast("long").alias("n"))))
    gap_rows = islands.filter(F.col("session_gap_s").isNotNull()).select(
        "session_gap_s", "user_id", "ts"
    )
    gaps = global_row_number(
        gap_rows, ["session_gap_s", "user_id", "ts"], "r"
    ).crossJoin(F.broadcast(gap_rows.agg(F.count("*").cast("long").alias("n"))))

    def pick(df: DataFrame, col: str, q: float, name: str) -> DataFrame:
        # a global aggregate, not filter+select: on an EMPTY population
        # (no sessions / no inter-session gaps) the oracle's scalar
        # subquery yields one NULL row, so this side must too
        return df.agg(
            F.max(
                F.when(F.col("r") == F.ceil(F.col("n") * q).cast("long"), F.col(col))
            ).alias(name)
        )

    n_sessions = sessions.agg(F.count("*").cast("long").alias("n_sessions"))
    mean_ev = sessions.agg(
        F.floor(F.sum("n_events").cast("double") / F.count("*").cast("double") * 1000)
        .cast("long")
        .alias("mean_events_milli")
    )
    out = (
        n_sessions.crossJoin(F.broadcast(pick(dur_ranked, "dur_s", 0.50, "p50_duration_s")))
        .crossJoin(F.broadcast(pick(dur_ranked, "dur_s", 0.90, "p90_duration_s")))
        .crossJoin(F.broadcast(pick(dur_ranked, "dur_s", 0.99, "p99_duration_s")))
        .crossJoin(F.broadcast(pick(gaps, "session_gap_s", 0.50, "p50_gap_s")))
        .crossJoin(F.broadcast(pick(gaps, "session_gap_s", 0.90, "p90_gap_s")))
        .crossJoin(F.broadcast(mean_ev))
    )
    return out.select(
        "n_sessions",
        "p50_duration_s",
        "p90_duration_s",
        "p99_duration_s",
        "p50_gap_s",
        "p90_gap_s",
        "mean_events_milli",
    )


# ---------------------------------------------------------------------------
# E217: hapax legomena ratio
# ---------------------------------------------------------------------------


@register(
    "text_hapax_ratio",
    tier="D",
    oracle=r"""
    WITH words AS (
      SELECT source, w.word
      FROM documents,
           UNNEST(regexp_split_to_array(lower(text), '\s+')) AS w(word)
      WHERE w.word <> ''
    ),
    freq AS (
      SELECT source, word, CAST(COUNT(*) AS BIGINT) AS f
      FROM words GROUP BY source, word
    )
    SELECT source,
           CAST(SUM(f) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS vocab,
           CAST(SUM(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
           CAST(SUM(CASE WHEN f = 2 THEN 1 ELSE 0 END) AS BIGINT) AS dis,
           CAST(FLOOR(CAST(SUM(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                      / CAST(COUNT(*) AS DOUBLE) * 1000000) AS BIGINT)
             AS hapax_ratio_ppm
    FROM freq GROUP BY source
    """,
)
def text_hapax_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E217: hapax legomena ratio per source — the share of the
    vocabulary occurring exactly once (dis legomena, f=2, rides
    along).  A high hapax ratio signals productive, diverse text; a
    collapsing one signals templates and boilerplate — the
    frequency-spectrum complement of E58's lexical diversity (TTR)
    and E219's Yule K, and the V₁ input to Good-Turing smoothing.

    Exactness: pure integer counting end to end; one division,
    floored to ppm.

    Scale shape: one (source, word) rollup (map-side combinable,
    vocabulary-keyed) + one source rollup — the word explode never
    re-shuffles at document grain."""
    words = (
        io.table(spark, sf_dir, "documents")
        .select("source", F.explode(F.split(F.lower("text"), r"\s+")).alias("word"))
        .filter(F.col("word") != "")
    )
    freq = words.groupBy("source", "word").agg(F.count("*").cast("long").alias("f"))
    return freq.groupBy("source").agg(
        F.sum("f").cast("long").alias("n_tokens"),
        F.count("*").cast("long").alias("vocab"),
        F.sum(F.when(F.col("f") == 1, 1).otherwise(0)).cast("long").alias("hapax"),
        F.sum(F.when(F.col("f") == 2, 1).otherwise(0)).cast("long").alias("dis"),
        F.floor(
            F.sum(F.when(F.col("f") == 1, 1).otherwise(0)).cast("double")
            / F.count("*").cast("double")
            * 1000000
        )
        .cast("long")
        .alias("hapax_ratio_ppm"),
    )


# ---------------------------------------------------------------------------
# E218: sentence statistics
# ---------------------------------------------------------------------------


@register(
    "text_sentence_stats",
    tier="D",
    oracle=r"""
    WITH sents AS (
      SELECT doc_id, source, trim(s.sent) AS sent
      FROM documents,
           UNNEST(regexp_split_to_array(text, '[.!?]+')) AS s(sent)
      WHERE trim(s.sent) <> ''
    ),
    measured AS (
      SELECT source, doc_id,
             CAST(len(regexp_split_to_array(sent, '\s+')) AS BIGINT) AS n_words
      FROM sents
    )
    SELECT source,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_sentences,
           CAST(SUM(n_words) AS BIGINT) AS n_words,
           CAST(MAX(n_words) AS BIGINT) AS max_sentence_words,
           CAST(FLOOR(CAST(SUM(n_words) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
                      * 1000) AS BIGINT) AS mean_sentence_words_milli,
           CAST(FLOOR(CAST(COUNT(*) AS DOUBLE)
                      / CAST(COUNT(DISTINCT doc_id) AS DOUBLE) * 1000)
                AS BIGINT) AS sentences_per_doc_milli
    FROM measured GROUP BY source
    """,
)
def text_sentence_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E218: sentence-level statistics per source — sentences are the
    maximal [.!?]-delimited non-empty spans; report sentence counts,
    mean/max sentence length in words, and sentences per document.
    Sentence-length profiles are a standard quality-classifier
    feature family (very long "sentences" flag code/tables, very
    short ones flag navigation boilerplate) — the level between E39's
    token stats and E58's document diversity.

    Exactness: the splitter is the same regex both engines; word
    counts are exact list lengths over whitespace splits; the two
    means cross IEEE once each, floored to milli.

    Scale shape: the sentence explode is narrow and document-local;
    one (source) rollup with a distinct-doc count (expand, two-phase);
    no joins."""
    sents = (
        io.table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            "source",
            F.explode(F.split("text", r"[.!?]+")).alias("sent"),
        )
        .select("doc_id", "source", F.trim("sent").alias("sent"))
        .filter(F.col("sent") != "")
    )
    measured = sents.select(
        "source",
        "doc_id",
        F.size(F.split("sent", r"\s+")).cast("long").alias("n_words"),
    )
    return measured.groupBy("source").agg(
        F.countDistinct("doc_id").cast("long").alias("n_docs"),
        F.count("*").cast("long").alias("n_sentences"),
        F.sum("n_words").cast("long").alias("n_words"),
        F.max("n_words").cast("long").alias("max_sentence_words"),
        F.floor(F.sum("n_words").cast("double") / F.count("*").cast("double") * 1000)
        .cast("long")
        .alias("mean_sentence_words_milli"),
        F.floor(
            F.count("*").cast("double") / F.countDistinct("doc_id").cast("double") * 1000
        )
        .cast("long")
        .alias("sentences_per_doc_milli"),
    )


# ---------------------------------------------------------------------------
# E219: Yule's K characteristic
# ---------------------------------------------------------------------------


@register(
    "text_yule_k",
    tier="D",
    oracle=r"""
    WITH words AS (
      SELECT source, w.word
      FROM documents,
           UNNEST(regexp_split_to_array(lower(text), '\s+')) AS w(word)
      WHERE w.word <> ''
    ),
    freq AS (
      SELECT source, word, CAST(COUNT(*) AS BIGINT) AS f
      FROM words GROUP BY source, word
    ),
    s AS (
      SELECT source,
             CAST(SUM(f) AS HUGEINT) AS n,
             CAST(COUNT(*) AS BIGINT) AS vocab,
             SUM(CAST(f AS HUGEINT) * f) AS s2
      FROM freq GROUP BY source
    )
    SELECT source,
           CAST(n AS BIGINT) AS n_tokens,
           vocab,
           CAST(FLOOR((10000.0 * CAST(s2 - n AS DOUBLE))
                      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) * 1000)
                AS BIGINT) AS yule_k_milli
    FROM s
    """,
)
def text_yule_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E219: Yule's K characteristic per source — K = 10⁴·(Σf² - N)/N²
    over the word-frequency spectrum; the classical vocabulary-
    richness constant that, unlike TTR (E58) and the hapax ratio
    (E217), is approximately INVARIANT to text length, which is why
    stylometry uses it to compare sources of wildly different sizes.

    Exactness: N and Σf² are exact HUGEINT/decimal(38,0) integers
    (f² guarded); one identically-parenthesized IEEE expression,
    floored to milli-K.

    Scale shape: one (source, word) rollup + one source rollup, both
    map-side combinable — frequency-spectrum state is 2 integers."""
    words = (
        io.table(spark, sf_dir, "documents")
        .select("source", F.explode(F.split(F.lower("text"), r"\s+")).alias("word"))
        .filter(F.col("word") != "")
    )
    freq = words.groupBy("source", "word").agg(F.count("*").cast("long").alias("f"))
    dec = "decimal(38,0)"
    s = freq.groupBy("source").agg(
        F.sum("f").cast(dec).alias("n"),
        F.count("*").cast("long").alias("vocab"),
        F.sum(
            _no_silent_overflow((F.col("f").cast(dec) * F.col("f")).cast(dec), "E219 f^2")
        )
        .cast(dec)
        .alias("s2"),
    )
    return s.select(
        "source",
        F.col("n").cast("long").alias("n_tokens"),
        "vocab",
        F.floor(
            (F.lit(10000.0) * (F.col("s2") - F.col("n")).cast("double"))
            / (F.col("n").cast("double") * F.col("n").cast("double"))
            * 1000
        )
        .cast("long")
        .alias("yule_k_milli"),
    )
