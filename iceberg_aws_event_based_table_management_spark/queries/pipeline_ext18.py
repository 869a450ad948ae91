"""Tier D (part 19) — robust trends, decomposition, and experiment
stats (SURVEY.md §2-E E171-E178).

Eighteenth batch, registered in round 8: robust trend
estimation (Theil-Sen, rolling OLS), additive seasonal decomposition,
a one-way ANOVA omnibus test, A-priori frequent triples, RFM customer
segmentation, a two-proportion conversion z-test, and near-dup span
alignment — the analytics a corpus/ops team runs on top of the event
and order streams the engine already models.

Exactness discipline (the repo standard): every statistic reduces to
exact integer sufficient statistics first; IEEE is crossed once per
output through an identically-parenthesized expression in Spark and
the DuckDB oracle, floored to ppm.  Medians use the ×2-scaled
sorted-pick device (E160); cross-group float sums use the ordered
array fold (E133's device) so summation order — the one thing SQL
engines never promise — is pinned by construction.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import io
from ..operators import gates
from ..registry import register
from .pipeline_ext8 import _DAILY_CTE, _daily

# ---------------------------------------------------------------------------
# E171: Theil-Sen robust slope of the daily event series
# ---------------------------------------------------------------------------


@register(
    "theilsen_daily_slope",
    tier="D",
    oracle="WITH "
    + _DAILY_CTE
    + """,
    idx AS (
      SELECT event_type, n,
             CAST(day - DATE '1970-01-01' AS BIGINT) AS x
      FROM daily
    ),
    slopes AS (
      SELECT a.event_type,
             CAST(b.n - a.n AS DOUBLE) / CAST(b.x - a.x AS DOUBLE) AS slope
      FROM idx a JOIN idx b
        ON a.event_type = b.event_type AND a.x < b.x
    ),
    agg AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n_pairs,
             list_sort(list(slope)) AS srt
      FROM slopes GROUP BY event_type
    )
    SELECT event_type, n_pairs,
           CAST(FLOOR((srt[(len(srt) + 1) // 2] + srt[len(srt) // 2 + 1])
                      * 500000) AS BIGINT) AS slope_med_ppm
    FROM agg
    """,
)
def theilsen_daily_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E171: Theil-Sen estimator of the daily event-count trend per
    event type — the median of all pairwise slopes.  Up to ~29% of
    the series can be corrupted (outage days, backfill spikes) before
    the estimate moves, where E110's OLS slope chases every outlier;
    this is the robust-trend complement to E160's rolling median and
    E97's MAD.

    Exactness: each slope is ONE IEEE division of exact integers
    (count delta / epoch-day delta — identical in both engines); the
    median uses the ×2-scaled sorted-pick device (sum of the two
    middle doubles is a single IEEE add), and ppm output multiplies
    by 500000 (×2-scale folded into the ppm gate) before one floor.

    Scale shape: the series collapses to (type, day) metadata first,
    so the pairwise set is calendar-bounded — d days yield d(d−1)/2
    slope pairs per type (~66k/year), independent of event volume;
    the per-type sort is one bounded array.  (A corpus spanning
    decades switches to the repeated-median or k-selection form —
    same contract, still never touching row-level data.)"""
    idx = _daily(spark, sf_dir).select(
        "event_type",
        "n",
        F.datediff(F.col("day"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("x"),
    )
    a, b = idx.alias("a"), idx.alias("b")
    slopes = a.join(
        b,
        (F.col("a.event_type") == F.col("b.event_type")) & (F.col("a.x") < F.col("b.x")),
    ).select(
        F.col("a.event_type").alias("event_type"),
        (
            (F.col("b.n") - F.col("a.n")).cast("double")
            / (F.col("b.x") - F.col("a.x")).cast("double")
        ).alias("slope"),
    )
    agg = slopes.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.array_sort(F.collect_list("slope")).alias("srt"),
    )
    ln = F.size("srt")
    med_x2 = F.element_at("srt", ((ln + 1) / 2).cast("int")) + F.element_at(
        "srt", (ln / 2).cast("int") + 1
    )
    return agg.select(
        "event_type",
        "n_pairs",
        F.floor(med_x2 * 500000).cast("long").alias("slope_med_ppm"),
    )


# ---------------------------------------------------------------------------
# E172: additive seasonal decomposition of the daily series
# ---------------------------------------------------------------------------

_MA_HALF = 3  # centered 7-day trend window


@register(
    "seasonal_decompose_daily",
    tier="D",
    oracle="WITH "
    + _DAILY_CTE
    + f""",
    idx AS (
      SELECT event_type, day, n,
             CAST(day - DATE '1970-01-01' AS BIGINT) % 7 AS dow
      FROM daily
    ),
    tr AS (
      SELECT event_type, day, n, dow,
             CAST(SUM(n) OVER w AS BIGINT) AS s7,
             CAST(COUNT(*) OVER w AS BIGINT) AS c7
      FROM idx
      WINDOW w AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN {_MA_HALF} PRECEDING AND {_MA_HALF} FOLLOWING)
    ),
    sea AS (
      SELECT event_type, day, n, dow, s7, c7,
             CAST(SUM(n) OVER (PARTITION BY event_type, dow) AS BIGINT) AS sd,
             CAST(COUNT(*) OVER (PARTITION BY event_type, dow) AS BIGINT) AS cd,
             CAST(SUM(n) OVER (PARTITION BY event_type) AS BIGINT) AS sa,
             CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS ca
      FROM tr
    )
    SELECT event_type, day, n, CAST(dow AS BIGINT) AS dow,
           CAST(FLOOR((CAST(s7 AS DOUBLE) / CAST(c7 AS DOUBLE)) * 1000000)
                AS BIGINT) AS trend_ppm,
           CAST(FLOOR((CAST(sd AS DOUBLE) / CAST(cd AS DOUBLE)
                       - CAST(sa AS DOUBLE) / CAST(ca AS DOUBLE)) * 1000000)
                AS BIGINT) AS seasonal_ppm,
           CAST(FLOOR((CAST(n AS DOUBLE)
                       - CAST(s7 AS DOUBLE) / CAST(c7 AS DOUBLE)
                       - (CAST(sd AS DOUBLE) / CAST(cd AS DOUBLE)
                          - CAST(sa AS DOUBLE) / CAST(ca AS DOUBLE))) * 1000000)
                AS BIGINT) AS resid_ppm
    FROM sea
    WHERE c7 = 7
    """,
)
def seasonal_decompose_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E172: additive seasonal decomposition of the daily event series
    — n = trend + seasonal + residual per (type, day): trend is the
    centered 7-day moving average, seasonal is the day-of-week mean
    minus the overall mean (the E112 profile as an additive term),
    residual is what alerting should actually watch (E45/E131/E160
    fire on raw counts and re-discover the weekend every week).

    Exactness: day-of-week is epoch-day mod 7 (identical arithmetic in
    both engines — no calendar-function Sunday=0-vs-1 skew); every
    component is a ratio of exact integer window sums, combined in ONE
    identically-parenthesized IEEE expression per output and floored
    to ppm.  Edge rows without a full 7-day trend window are dropped
    (c7 = 7), the standard centered-MA contract.

    Scale shape: the corpus collapses to (type, day) metadata first;
    three windows share the per-type partitioning, the dow window adds
    one bounded exchange.  Streaming-ready: all state is per-(type,
    dow) running sums plus a 7-row buffer."""
    idx = _daily(spark, sf_dir).select(
        "event_type",
        "day",
        "n",
        (
            F.datediff(F.col("day"), F.lit("1970-01-01").cast("date")).cast("long") % 7
        ).alias("dow"),
    )
    w7 = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-_MA_HALF, _MA_HALF)
    )
    wd = Window.partitionBy("event_type", "dow")
    wa = Window.partitionBy("event_type")
    tr = idx.select(
        "event_type",
        "day",
        "n",
        "dow",
        F.sum("n").over(w7).cast("long").alias("s7"),
        F.count("*").over(w7).cast("long").alias("c7"),
    )
    sea = tr.select(
        "*",
        F.sum("n").over(wd).cast("long").alias("sd"),
        F.count("*").over(wd).cast("long").alias("cd"),
        F.sum("n").over(wa).cast("long").alias("sa"),
        F.count("*").over(wa).cast("long").alias("ca"),
    )
    trend = F.col("s7").cast("double") / F.col("c7").cast("double")
    seasonal = F.col("sd").cast("double") / F.col("cd").cast("double") - (
        F.col("sa").cast("double") / F.col("ca").cast("double")
    )
    return sea.filter(F.col("c7") == 7).select(
        "event_type",
        "day",
        "n",
        F.col("dow").cast("long").alias("dow"),
        F.floor(trend * 1000000).cast("long").alias("trend_ppm"),
        F.floor(seasonal * 1000000).cast("long").alias("seasonal_ppm"),
        F.floor((F.col("n").cast("double") - trend - seasonal) * 1000000)
        .cast("long")
        .alias("resid_ppm"),
    )


# ---------------------------------------------------------------------------
# E173: one-way ANOVA omnibus test (doc length across sources)
# ---------------------------------------------------------------------------


@register(
    "anova_f_source_lengths",
    tier="D",
    oracle="""
    WITH g AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(n_chars) AS BIGINT) AS sx,
             SUM(CAST(n_chars AS HUGEINT) * n_chars) AS sxx
      FROM documents GROUP BY source
    ),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(n) AS BIGINT) AS nn,
             CAST(SUM(sx) AS BIGINT) AS sx_all,
             CAST(SUM(sxx) AS HUGEINT) AS sxx_all,
             list_reduce(
               list_prepend(CAST(0 AS DOUBLE),
                 list((CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                      / CAST(n AS DOUBLE) ORDER BY source)),
               (acc, x) -> acc + x) AS t
      FROM g
    )
    SELECT k, nn AS n_docs,
           CAST(FLOOR((t - (CAST(sx_all AS DOUBLE) * CAST(sx_all AS DOUBLE))
                           / CAST(nn AS DOUBLE)) * 1000) AS BIGINT)
             AS ssb_milli,
           CAST(FLOOR(((CAST(sxx_all AS DOUBLE)
                        - (CAST(sx_all AS DOUBLE) * CAST(sx_all AS DOUBLE))
                          / CAST(nn AS DOUBLE))
                       - (t - (CAST(sx_all AS DOUBLE) * CAST(sx_all AS DOUBLE))
                              / CAST(nn AS DOUBLE))) * 1000) AS BIGINT)
             AS ssw_milli,
           CAST(FLOOR((((t - (CAST(sx_all AS DOUBLE) * CAST(sx_all AS DOUBLE))
                             / CAST(nn AS DOUBLE)) / CAST(k - 1 AS DOUBLE))
                       / (((CAST(sxx_all AS DOUBLE)
                            - (CAST(sx_all AS DOUBLE) * CAST(sx_all AS DOUBLE))
                              / CAST(nn AS DOUBLE))
                           - (t - (CAST(sx_all AS DOUBLE) * CAST(sx_all AS DOUBLE))
                                  / CAST(nn AS DOUBLE)))
                          / CAST(nn - k AS DOUBLE))) * 1000000) AS BIGINT)
             AS f_ppm
    FROM tot
    """,
)
def anova_f_source_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E173: one-way ANOVA F test — does mean document length differ
    across sources?  The OMNIBUS complement of the pairwise tests the
    engine already carries (E136 Mann-Whitney, E167 KS, E168 EMD test
    one source against another; ANOVA asks the k-group question once,
    without k² comparisons and their multiple-testing problem).

    Exactness: per-group sufficient statistics (n, Σx, Σx²) are exact
    integers (Σx² in HUGEINT/decimal38 — the E170 headroom class);
    the one float hazard in any k-group statistic is the CROSS-GROUP
    sum Σ_g (Σx_g)²/n_g, whose summation order no SQL engine promises
    — it is pinned with the E133 device: terms fold left-to-right over
    a source-ordered list in BOTH engines, seeded with 0.0 (IEEE
    identity on finite doubles).  SSB/SSW/F then cross IEEE through
    identically-parenthesized expressions, floored to milli/ppm.

    Scale shape: one partial-agg rollup to k group rows, then a
    single-row fold over k terms — the mergeable-statistics shape
    (E110's regression state, here the ANOVA state)."""
    docs = io.table(spark, sf_dir, "documents")
    xd = F.col("n_chars").cast("decimal(19,0)")
    g = docs.groupBy("source").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("n_chars").cast("long").alias("sx"),
        F.sum((xd * xd).cast("decimal(38,0)")).alias("sxx"),
    )
    term = (F.col("sx").cast("double") * F.col("sx").cast("double")) / F.col(
        "n"
    ).cast("double")
    tot = g.agg(
        F.count("*").cast("long").alias("k"),
        F.sum("n").cast("long").alias("nn"),
        F.sum("sx").cast("long").alias("sx_all"),
        F.sum("sxx").cast("decimal(38,0)").alias("sxx_all"),
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct(F.col("source"), term.alias("t")))),
                lambda s: s["t"],
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("t"),
    )
    gm = (F.col("sx_all").cast("double") * F.col("sx_all").cast("double")) / F.col(
        "nn"
    ).cast("double")
    ssb = F.col("t") - gm
    sst = F.col("sxx_all").cast("double") - gm
    ssw = sst - ssb
    # try_divide mirrors DuckDB's x/0 -> NULL: with a single source
    # (k=1) or zero residual df the F statistic is undefined, and both
    # engines must agree on NULL rather than ANSI-error (degenerate
    # sweep, r8 verdict #8).
    f_stat = F.try_divide(
        F.try_divide(ssb, (F.col("k") - 1).cast("double")),
        F.try_divide(ssw, (F.col("nn") - F.col("k")).cast("double")),
    )
    return tot.select(
        "k",
        F.col("nn").alias("n_docs"),
        F.floor(ssb * 1000).cast("long").alias("ssb_milli"),
        F.floor(ssw * 1000).cast("long").alias("ssw_milli"),
        F.floor(f_stat * 1000000).cast("long").alias("f_ppm"),
    )


# ---------------------------------------------------------------------------
# E174: A-priori frequent triples
# ---------------------------------------------------------------------------

_TRI_MIN_SUPPORT = 2


@register(
    "basket_triples_apriori",
    tier="D",
    oracle=f"""
    WITH items AS (
      SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
    ),
    fp AS (
      SELECT a.p AS pa, b.p AS pb
      FROM items a JOIN items b ON a.o = b.o AND a.p < b.p
      GROUP BY 1, 2
      HAVING COUNT(*) >= {_TRI_MIN_SUPPORT}
    ),
    pi AS (
      SELECT a.o, a.p AS pa, b.p AS pb
      FROM items a JOIN items b ON a.o = b.o AND a.p < b.p
      JOIN fp ON a.p = fp.pa AND b.p = fp.pb
    )
    SELECT x.pa AS part_a, x.pb AS part_b, y.pb AS part_c,
           CAST(COUNT(*) AS BIGINT) AS support
    FROM pi x
    JOIN pi y ON x.o = y.o AND x.pa = y.pa AND x.pb < y.pb
    JOIN fp ON x.pb = fp.pa AND y.pb = fp.pb
    GROUP BY 1, 2, 3
    HAVING COUNT(*) >= {_TRI_MIN_SUPPORT}
    """,
)
def basket_triples_apriori(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E174: frequent 3-itemsets with A-priori pruning — which part
    TRIPLES co-occur in orders at least {min_support} times, one level
    above E115's pair lift.  The A-priori principle (every subset of a
    frequent set is frequent) is THE market-basket scale move: triple
    instances are generated only from instances of already-frequent
    pairs, and candidates must have all three sub-pairs frequent — at
    sf0.01 that prunes ~157k support-1 triples down to the 12 real
    ones before any 3-way counting happens.

    Exactness: pure integer counting; the oracle runs the identical
    pruned plan (the prune provably loses nothing — a support-s triple
    implies all its pairs have support ≥ s).

    Scale shape: the distinct-items projection is one shuffle; the
    frequent-pair table is support-filtered (small by definition, AQE
    broadcast-converts it); triple instances join pruned pair
    INSTANCES on (order, first-part) — fan-out bounded by per-order
    frequent-pair degree, never the raw k³ of per-order item count."""
    items = (
        io.table(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    a, b = items.alias("a"), items.alias("b")
    raw_pairs = a.join(
        b, (F.col("a.o") == F.col("b.o")) & (F.col("a.p") < F.col("b.p"))
    ).select("a.o", F.col("a.p").alias("pa"), F.col("b.p").alias("pb"))
    fp = (
        raw_pairs.groupBy("pa", "pb")
        .agg(F.count("*").alias("s"))
        .filter(F.col("s") >= _TRI_MIN_SUPPORT)
        .select("pa", "pb")
    )
    pi = raw_pairs.join(fp, ["pa", "pb"], "left_semi")
    x, y = pi.alias("x"), pi.alias("y")
    tri = (
        x.join(
            y,
            (F.col("x.o") == F.col("y.o"))
            & (F.col("x.pa") == F.col("y.pa"))
            & (F.col("x.pb") < F.col("y.pb")),
        )
        .join(
            fp.select(F.col("pa").alias("_fb"), F.col("pb").alias("_fc")),
            (F.col("x.pb") == F.col("_fb")) & (F.col("y.pb") == F.col("_fc")),
            "left_semi",
        )
        .groupBy(
            F.col("x.pa").alias("part_a"),
            F.col("x.pb").alias("part_b"),
            F.col("y.pb").alias("part_c"),
        )
        .agg(F.count("*").cast("long").alias("support"))
        .filter(F.col("support") >= _TRI_MIN_SUPPORT)
    )
    return tri


# ---------------------------------------------------------------------------
# E175: RFM customer segmentation
# ---------------------------------------------------------------------------


@register(
    "rfm_customer_segments",
    tier="D",
    oracle="""
    WITH base AS (
      SELECT o_custkey AS custkey,
             CAST(MAX(o_orderdate) AS TIMESTAMP) AS last_order,
             CAST(COUNT(*) AS BIGINT) AS frequency,
             (CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS DOUBLE)
              / 100.0) AS monetary
      FROM orders GROUP BY o_custkey
    ),
    anchored AS (
      SELECT *,
             CAST(date_diff('day', last_order,
                            (SELECT MAX(o_orderdate) FROM orders)) AS BIGINT)
               AS recency_days
      FROM base
    ),
    scored AS (
      SELECT custkey, recency_days, frequency, monetary,
             CAST(NTILE(5) OVER (ORDER BY recency_days, custkey) AS BIGINT)
               AS r_score_inv,
             CAST(NTILE(5) OVER (ORDER BY frequency, custkey) AS BIGINT)
               AS f_score,
             CAST(NTILE(5) OVER (ORDER BY monetary, custkey) AS BIGINT)
               AS m_score
      FROM anchored
    )
    SELECT custkey, recency_days, frequency, monetary,
           6 - r_score_inv AS r_score, f_score, m_score,
           CAST(6 - r_score_inv AS VARCHAR) || CAST(f_score AS VARCHAR)
             || CAST(m_score AS VARCHAR) AS segment
    FROM scored
    """,
)
def rfm_customer_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E175: RFM segmentation — every customer scored 1-5 on Recency
    (days since last order, anchored to the corpus max so the query is
    reproducible), Frequency (order count), and Monetary (total
    spend), quintiles per dimension, concatenated into the classic
    '555 = champion' segment code.  The standard activation/churn
    cut every growth team asks the warehouse for.

    Exactness: recency/frequency are integers; monetary uses the
    cent-exact order-independent sum (the dec_sum device); quintile
    boundaries are NTILE over a TOTAL order (metric, custkey) — the
    deterministic-tiebreak discipline every ranking query here uses.
    Recency's 'smaller is better' is encoded as 6 − ntile(asc) rather
    than a DESC sort so ties break on the same ascending custkey in
    both engines.

    Scale shape: one groupBy(custkey); the max-date anchor is a
    1-row broadcast; the three quintile scores run through
    operators/skew.global_ntile (range-partition + local rank +
    broadcast offsets — two bounded shuffles each, never a
    single-partition sort), so the scoring stays distributed at any
    customer count.  The scoring is expressed on the aggregated
    frame, never the raw orders."""
    orders = io.table(spark, sf_dir, "orders")
    base = orders.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.max("o_orderdate").alias("last_order"),
        F.count("*").cast("long").alias("frequency"),
        (
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")).cast("double")
            / F.lit(100.0)
        ).alias("monetary"),
    )
    anchor = orders.agg(F.max("o_orderdate").alias("_anchor"))
    anchored = base.crossJoin(F.broadcast(anchor)).select(
        "custkey",
        F.datediff(F.col("_anchor"), F.col("last_order")).cast("long").alias(
            "recency_days"
        ),
        "frequency",
        "monetary",
    )
    from ..operators.skew import global_ntile

    scored = global_ntile(anchored, 5, ["recency_days", "custkey"], "r_score_inv")
    scored = global_ntile(scored, 5, ["frequency", "custkey"], "f_score")
    scored = global_ntile(scored, 5, ["monetary", "custkey"], "m_score")
    scored = scored.select(
        "custkey",
        "recency_days",
        "frequency",
        "monetary",
        F.col("r_score_inv").cast("long").alias("r_score_inv"),
        F.col("f_score").cast("long").alias("f_score"),
        F.col("m_score").cast("long").alias("m_score"),
    )
    r_score = (F.lit(6) - F.col("r_score_inv")).cast("long")
    return scored.select(
        "custkey",
        "recency_days",
        "frequency",
        "monetary",
        r_score.alias("r_score"),
        "f_score",
        "m_score",
        F.concat(
            r_score.cast("string"),
            F.col("f_score").cast("string"),
            F.col("m_score").cast("string"),
        ).alias("segment"),
    )


# ---------------------------------------------------------------------------
# E176: two-proportion conversion z-test
# ---------------------------------------------------------------------------

_ZTEST_WINDOW_MIN = 30
_Z_CRIT_PPM = 1_959_964  # two-sided 5%


@register(
    "conversion_lift_ztest",
    tier="D",
    oracle=f"""
    WITH views AS (
      SELECT event_id, user_id, ts, user_id % 2 AS cohort
      FROM events WHERE event_type = 'view'
    ),
    conv AS (
      SELECT v.event_id, v.cohort,
             EXISTS (
               SELECT 1 FROM events p
               WHERE p.event_type = 'purchase' AND p.user_id = v.user_id
                 AND p.ts > v.ts
                 AND p.ts <= v.ts + INTERVAL {_ZTEST_WINDOW_MIN} MINUTE
             ) AS converted
      FROM views v
    ),
    g AS (
      SELECT
        CAST(SUM(CASE WHEN cohort = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        CAST(SUM(CASE WHEN cohort = 0 AND converted THEN 1 ELSE 0 END) AS BIGINT) AS x_a,
        CAST(SUM(CASE WHEN cohort = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        CAST(SUM(CASE WHEN cohort = 1 AND converted THEN 1 ELSE 0 END) AS BIGINT) AS x_b
      FROM conv
    )
    SELECT n_a, x_a, n_b, x_b,
           CAST(FLOOR((CAST(x_a AS DOUBLE) / CAST(n_a AS DOUBLE)) * 1000000)
                AS BIGINT) AS p_a_ppm,
           CAST(FLOOR((CAST(x_b AS DOUBLE) / CAST(n_b AS DOUBLE)) * 1000000)
                AS BIGINT) AS p_b_ppm,
           CAST(FLOOR(((CAST(x_a AS DOUBLE) / CAST(n_a AS DOUBLE)
                        - CAST(x_b AS DOUBLE) / CAST(n_b AS DOUBLE))
                       / sqrt((CAST(x_a + x_b AS DOUBLE)
                               / CAST(n_a + n_b AS DOUBLE))
                              * (1.0 - CAST(x_a + x_b AS DOUBLE)
                                       / CAST(n_a + n_b AS DOUBLE))
                              * (1.0 / CAST(n_a AS DOUBLE)
                                 + 1.0 / CAST(n_b AS DOUBLE))))
                      * 1000000) AS BIGINT) AS z_ppm,
           abs(CAST(FLOOR(((CAST(x_a AS DOUBLE) / CAST(n_a AS DOUBLE)
                        - CAST(x_b AS DOUBLE) / CAST(n_b AS DOUBLE))
                       / sqrt((CAST(x_a + x_b AS DOUBLE)
                               / CAST(n_a + n_b AS DOUBLE))
                              * (1.0 - CAST(x_a + x_b AS DOUBLE)
                                       / CAST(n_a + n_b AS DOUBLE))
                              * (1.0 / CAST(n_a AS DOUBLE)
                                 + 1.0 / CAST(n_b AS DOUBLE))))
                      * 1000000) AS BIGINT)) >= {_Z_CRIT_PPM} AS significant
    FROM g
    """,
)
def conversion_lift_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E176: two-proportion z-test on view→purchase conversion between
    two user cohorts (deterministic assignment: user_id parity — the
    hash-bucket A/B split run as a query).  The experiment primitive
    the engine's test family lacked: E135's chi-square gates
    categorical drift, E136/E167 compare continuous distributions;
    this one answers 'did the treatment move a conversion RATE'.

    A view converts when the same user purchases within 30 minutes
    (the E67 attribution window as a per-view Bernoulli trial).
    z = (p_a − p_b)/√(p̂(1−p̂)(1/n_a+1/n_b)) under the pooled null.

    Exactness: the four cell counts are exact integers; p's, the
    pooled estimate, and z cross IEEE through one identically-
    parenthesized expression (sqrt is correctly rounded by IEEE-754 —
    the E170 argument), floored to ppm; significance compares the
    FLOORED ppm against 1.96's ppm so the boolean can never straddle a
    rounding boundary differently per engine.

    Scale shape: conversion is a left-semi interval join per view
    (state bounded by the 30-minute window — the E67 stream shape);
    the test itself reduces to one 4-integer row."""
    ev = io.table(spark, sf_dir, "events")
    views = ev.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts", (F.col("user_id") % 2).alias("cohort")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    converted = views.join(
        purchases,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("p_ts") > F.col("ts"))
        & (
            F.col("p_ts")
            <= F.col("ts") + F.expr(f"INTERVAL {_ZTEST_WINDOW_MIN} MINUTES")
        ),
        "left_semi",
    ).select("event_id", "cohort", F.lit(True).alias("converted"))
    conv = views.join(converted.select("event_id", "converted"), "event_id", "left").select(
        "cohort", F.coalesce("converted", F.lit(False)).alias("converted")
    )
    g = conv.agg(
        F.sum(F.when(F.col("cohort") == 0, 1).otherwise(0)).cast("long").alias("n_a"),
        F.sum(F.when((F.col("cohort") == 0) & F.col("converted"), 1).otherwise(0))
        .cast("long")
        .alias("x_a"),
        F.sum(F.when(F.col("cohort") == 1, 1).otherwise(0)).cast("long").alias("n_b"),
        F.sum(F.when((F.col("cohort") == 1) & F.col("converted"), 1).otherwise(0))
        .cast("long")
        .alias("x_b"),
    )
    p_a = F.col("x_a").cast("double") / F.col("n_a").cast("double")
    p_b = F.col("x_b").cast("double") / F.col("n_b").cast("double")
    pooled = (F.col("x_a") + F.col("x_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    ).cast("double")
    z = (p_a - p_b) / F.sqrt(
        pooled
        * (F.lit(1.0) - pooled)
        * (
            F.lit(1.0) / F.col("n_a").cast("double")
            + F.lit(1.0) / F.col("n_b").cast("double")
        )
    )
    z_ppm = F.floor(z * 1000000).cast("long")
    return g.select(
        "n_a",
        "x_a",
        "n_b",
        "x_b",
        F.floor(p_a * 1000000).cast("long").alias("p_a_ppm"),
        F.floor(p_b * 1000000).cast("long").alias("p_b_ppm"),
        z_ppm.alias("z_ppm"),
        (F.abs(z_ppm) >= _Z_CRIT_PPM).alias("significant"),
    )


# ---------------------------------------------------------------------------
# E177: rolling 14-day OLS slope
# ---------------------------------------------------------------------------

_OLS_W = 14


@register(
    "rolling_ols_slope",
    tier="D",
    oracle="WITH "
    + _DAILY_CTE
    + f""",
    idx AS (
      SELECT event_type, day, n,
             CAST(day - DATE '1970-01-01' AS BIGINT) AS x
      FROM daily
    ),
    sums AS (
      SELECT event_type, day, n,
             CAST(COUNT(*) OVER w AS BIGINT) AS c,
             CAST(SUM(x) OVER w AS BIGINT) AS sx,
             CAST(SUM(n) OVER w AS BIGINT) AS sy,
             CAST(SUM(x * n) OVER w AS BIGINT) AS sxy,
             CAST(SUM(x * x) OVER w AS BIGINT) AS sxx
      FROM idx
      WINDOW w AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN {_OLS_W - 1} PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, day, n,
           CAST(FLOOR((CAST({_OLS_W} * sxy - sx * sy AS DOUBLE)
                       / CAST({_OLS_W} * sxx - sx * sx AS DOUBLE)) * 1000000)
                AS BIGINT) AS slope_ppm
    FROM sums WHERE c = {_OLS_W}
    """,
)
def rolling_ols_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E177: rolling 14-day OLS slope of the daily event series per
    type — local trend detection (is this week's drift accelerating),
    the WINDOWED counterpart of E110's whole-series regression and the
    least-squares complement of E171's robust global slope.  x is the
    epoch-day index, so calendar gaps in the series enter the fit as
    real gaps rather than being squeezed out.

    Exactness: all five sufficient sums are exact int64 window
    aggregates (headroom: day-index ~2·10⁴, so w·Σxx and (Σx)² sit
    near 2.4·10¹⁰ — their difference is exact integer arithmetic, no
    catastrophic float cancellation); the slope crosses IEEE once,
    floored to ppm.  Windows shorter than 14 days are dropped.

    Scale shape: the corpus collapses to (type, day) first; one
    rows-frame window computes all sums in a single pass — the same
    bounded streaming state as E131/E133."""
    idx = _daily(spark, sf_dir).select(
        "event_type",
        "day",
        "n",
        F.datediff(F.col("day"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("x"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-(_OLS_W - 1), 0)
    )
    sums = idx.select(
        "event_type",
        "day",
        "n",
        F.count("*").over(w).cast("long").alias("c"),
        F.sum("x").over(w).cast("long").alias("sx"),
        F.sum("n").over(w).cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("n")).over(w).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).over(w).cast("long").alias("sxx"),
    )
    num = (F.lit(_OLS_W) * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = (F.lit(_OLS_W) * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    return sums.filter(F.col("c") == _OLS_W).select(
        "event_type",
        "day",
        "n",
        F.floor((num / den) * 1000000).cast("long").alias("slope_ppm"),
    )


# ---------------------------------------------------------------------------
# E178: near-dup span alignment
# ---------------------------------------------------------------------------


@register(
    "dedup_pair_span_align",
    tier="D",
    oracle=r"""
    WITH ws AS (
      SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS w
      FROM documents
    ),
    pgrams AS (
      SELECT doc_id, CAST(i AS BIGINT) AS pos,
             array_to_string(w[i:i+2], ' ') AS shingle
      FROM ws, UNNEST(generate_series(1, len(w) - 2)) AS t(i)
      WHERE array_to_string(w[i:i+2], ' ') <> ''
    ),
    grams AS (SELECT DISTINCT doc_id, shingle FROM pgrams),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM grams GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b, COUNT(*) AS n_common
      FROM grams a JOIN grams b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    prs AS (
      SELECT doc_id_a, doc_id_b
      FROM inter
      JOIN sizes sa ON doc_id_a = sa.doc_id
      JOIN sizes sb ON doc_id_b = sb.doc_id
      WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.5
    ),
    m AS (
      SELECT p.doc_id_a, p.doc_id_b, ga.pos AS pa, gb.pos AS pb
      FROM prs p
      JOIN pgrams ga ON ga.doc_id = p.doc_id_a
      JOIN pgrams gb ON gb.doc_id = p.doc_id_b AND gb.shingle = ga.shingle
    ),
    runs AS (
      SELECT doc_id_a, doc_id_b, pa - pb AS diag,
             pa - ROW_NUMBER() OVER (PARTITION BY doc_id_a, doc_id_b, pa - pb
                                     ORDER BY pa) AS grp
      FROM m
    ),
    rl AS (
      SELECT doc_id_a, doc_id_b, CAST(COUNT(*) AS BIGINT) AS run_len
      FROM runs GROUP BY doc_id_a, doc_id_b, diag, grp
    )
    SELECT r.doc_id_a, r.doc_id_b,
           MAX(r.run_len) AS longest_run,
           MAX(r.run_len) + 2 AS longest_span_words,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM m
            WHERE m.doc_id_a = r.doc_id_a AND m.doc_id_b = r.doc_id_b)
             AS n_pos_matches
    FROM rl r GROUP BY r.doc_id_a, r.doc_id_b
    """,
)
def dedup_pair_span_align(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E178: span alignment for near-duplicate pairs — for every
    Jaccard ≥ 0.5 candidate pair (the D2/E116 verification output),
    the LONGEST run of consecutively matching word-3-shingles and its
    word-span.  Jaccard says HOW MUCH two docs share; this says WHERE
    and HOW CONTIGUOUSLY — the forensic view that separates wholesale
    copies (one long span) from templated boilerplate (many short
    spans), and the evidence a takedown/dedup review actually reads.

    Algorithm: positional shingles (posexplode BEFORE the distinct
    that feeds Jaccard) matched within each pair; a match at (pa, pb)
    extends a run iff both positions advance by 1, i.e. consecutive
    matches share the DIAGONAL pa − pb — so runs are islands of
    consecutive pa within (pair, diagonal), the E44 gaps-and-islands
    device on the alignment matrix' diagonals (the same reduction
    local sequence alignment uses for exact k-mer chaining).

    Exactness: pure integer positions and counts end-to-end.

    Scale shape: positional matching runs ONLY over verified
    candidate pairs (duplicate-count-sized, never corpus²); per-pair
    work is Σ per-shingle match multiplicity — bounded by doc length
    times boilerplate multiplicity, the same budget the verification
    join already paid.  One window + two aggs, all partitioned by
    pair."""
    docs = io.table(spark, sf_dir, "documents").select("doc_id", "text")
    # positional 3-gram shingles: same construction as operators.dedup
    # .shingles() but KEEPING duplicates and emitting the 1-based word
    # position (the oracle's generate_series i)
    d = docs.withColumn("w", F.split(F.lower("text"), r"\s+"))
    z = F.arrays_zip(
        F.col("w"), F.slice("w", 2, 1_000_000_000), F.slice("w", 3, 1_000_000_000)
    )
    gram = F.transform(
        z, lambda s: F.when(s["2"].isNotNull(), F.concat_ws(" ", s["w"], s["1"], s["2"]))
    )
    pgrams = (
        d.select("doc_id", F.posexplode(gram).alias("pos0", "shingle"))
        .filter(F.col("shingle").isNotNull() & (F.col("shingle") != ""))
        .select("doc_id", (F.col("pos0") + 1).cast("long").alias("pos"), "shingle")
    )
    from ..operators import dedup as D

    # Footer gate (the E116 device, centralized in operators/gates.py
    # r13): the positional-gram table is corpus-shingle-sized, and
    # Catalyst's static estimate planned it as a BroadcastExchange —
    # a ~GB hash relation at 500k docs that OOMed the r12 sf10 smoke.
    # Past the doc cutoff (or on an unreadable footer — the safe
    # direction) both gram joins and the verification's size joins pin
    # shuffle_hash; below, the broadcast plans stay byte-identical.
    big = gates.corpus_exceeds(sf_dir)
    pairs = D.jaccard_pairs(
        D.shingles(docs, 3, hashed=True), threshold=0.5, broadcast_sizes=not big
    ).select("doc_id_a", "doc_id_b")
    if big:
        pgrams = pgrams.hint("shuffle_hash")
    ga = pgrams.select(
        F.col("doc_id").alias("doc_id_a"), F.col("pos").alias("pa"), "shingle"
    )
    gb = pgrams.select(
        F.col("doc_id").alias("doc_id_b"), F.col("pos").alias("pb"), "shingle"
    )
    m = pairs.join(ga, "doc_id_a").join(gb, ["doc_id_b", "shingle"]).select(
        "doc_id_a", "doc_id_b", "pa", "pb"
    )
    md = m.select(
        "doc_id_a", "doc_id_b", "pa", (F.col("pa") - F.col("pb")).alias("diag")
    )
    wrun = Window.partitionBy("doc_id_a", "doc_id_b", "diag").orderBy("pa")
    runs = md.select(
        "doc_id_a", "doc_id_b", "diag", (F.col("pa") - F.row_number().over(wrun)).alias("grp")
    )
    rl = runs.groupBy("doc_id_a", "doc_id_b", "diag", "grp").agg(
        F.count("*").cast("long").alias("run_len")
    )
    spans = rl.groupBy("doc_id_a", "doc_id_b").agg(
        F.max("run_len").alias("longest_run"),
        (F.max("run_len") + 2).alias("longest_span_words"),
    )
    nmatch = m.groupBy("doc_id_a", "doc_id_b").agg(
        F.count("*").cast("long").alias("n_pos_matches")
    )
    return spans.join(nmatch, ["doc_id_a", "doc_id_b"])
