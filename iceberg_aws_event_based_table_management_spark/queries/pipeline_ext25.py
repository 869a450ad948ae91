"""Tier D (part 26) — model-quality curves, distribution audits, and
demand analytics (SURVEY.md §2-E E206-E212).

Twenty-fifth batch, registered in round 9: the cumulative lift/gains curve by
score decile, the full Gini-impurity split scan over a value grid,
per-source KS distance against the rest of the corpus, pairwise
vocabulary overlap coefficients, Holt's linear-trend exponential
smoothing (sequential recurrence as an ordered fold), Croston's
intermittent-demand method (the same fold device with interval
state), and the ABC-XYZ inventory matrix on exact integer
revenue/variability classes.

Exactness discipline as ext24: integer sufficient statistics
(HUGEINT/decimal(38,0) guarded), folds in explicit day/rank order for
every sequential recurrence (the E133 device), smoothing constants as
exact binary fractions (0.5, 0.25) so the float recurrences are
bit-identical cross-engine, one identically-parenthesized IEEE
expression per output, floored to ppm/milli.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import io
from ..registry import register
from .pipeline_ext17 import _no_silent_overflow

# ---------------------------------------------------------------------------
# E206: cumulative lift / gains curve by score decile
# ---------------------------------------------------------------------------


@register(
    "lift_curve_deciles",
    tier="D",
    oracle="""
    WITH scored AS (
      SELECT c.c_custkey,
             CAST(ROUND(c.c_acctbal * 100, 0) AS BIGINT) AS score,
             CASE WHEN EXISTS (SELECT 1 FROM orders o
                               WHERE o.o_custkey = c.c_custkey)
                  THEN 1 ELSE 0 END AS pos
      FROM customer c
    ),
    deciled AS (
      SELECT pos,
             NTILE(10) OVER (ORDER BY score DESC, c_custkey) AS decile
      FROM scored
    ),
    per AS (
      SELECT decile,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(pos) AS BIGINT) AS npos
      FROM deciled GROUP BY decile
    ),
    cum AS (
      SELECT decile, n, npos,
             SUM(n) OVER (ORDER BY decile) AS cum_n,
             SUM(npos) OVER (ORDER BY decile) AS cum_pos,
             (SELECT SUM(n) FROM per) AS tot_n,
             (SELECT SUM(npos) FROM per) AS tot_pos
      FROM per
    )
    SELECT decile, n AS n_customers, npos AS n_buyers,
           CAST(FLOOR((CAST(cum_pos AS DOUBLE) / CAST(tot_pos AS DOUBLE))
                      * 1000000) AS BIGINT) AS cum_gain_ppm,
           CAST(FLOOR(((CAST(cum_pos AS DOUBLE) * CAST(tot_n AS DOUBLE))
                       / (CAST(cum_n AS DOUBLE) * CAST(tot_pos AS DOUBLE)))
                      * 1000000) AS BIGINT) AS cum_lift_ppm
    FROM cum
    """,
)
def lift_curve_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E206: cumulative gains and lift by score decile — score the
    customers by account balance, outcome = placed at least one
    order, and read off "the top-k% of the score captures what share
    of the buyers" plus the lift over random targeting.  THE
    model-quality curve every targeting/campaign review starts from;
    E148 (classifier_auc_exact) gives the area, this gives the curve.

    Exactness: deciles are NTILE over a total order (score DESC,
    custkey); per-decile and cumulative counts are exact integers;
    gain and lift each cross IEEE through one identically-
    parenthesized expression, floored to ppm.

    Scale shape: the outcome flag is a semi-join (orders -> exists);
    the deciles run through operators/skew.global_ntile
    (range-partition + local rank + broadcast offsets — never a
    single-partition sort over the customer frame); the curve itself
    is a 10-row window."""
    c = io.table(spark, sf_dir, "customer")
    o = io.table(spark, sf_dir, "orders").select("o_custkey").distinct()
    scored = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .select(
            "c_custkey",
            F.round(F.col("c_acctbal") * 100, 0).cast("long").alias("score"),
            F.when(F.col("o_custkey").isNull(), 0).otherwise(1).alias("pos"),
        )
    )
    from ..operators.skew import global_ntile

    deciled = global_ntile(
        scored, 10, [F.desc("score"), F.col("c_custkey")], "decile"
    ).select("pos", "decile")
    per = deciled.groupBy("decile").agg(
        F.count("*").cast("long").alias("n"), F.sum("pos").cast("long").alias("npos")
    )
    w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    tot = per.agg(
        F.sum("n").cast("long").alias("tot_n"), F.sum("npos").cast("long").alias("tot_pos")
    )
    cum = per.select(
        "decile",
        "n",
        "npos",
        F.sum("n").over(w).alias("cum_n"),
        F.sum("npos").over(w).alias("cum_pos"),
    ).crossJoin(F.broadcast(tot))
    # try_divide: zero total positives (no customer has any order in a
    # degenerate fixture) leaves gain/lift undefined — DuckDB NULL
    return cum.select(
        "decile",
        F.col("n").alias("n_customers"),
        F.col("npos").alias("n_buyers"),
        F.floor(
            F.try_divide(F.col("cum_pos").cast("double"), F.col("tot_pos").cast("double"))
            * 1000000
        )
        .cast("long")
        .alias("cum_gain_ppm"),
        F.floor(
            F.try_divide(
                F.col("cum_pos").cast("double") * F.col("tot_n").cast("double"),
                F.col("cum_n").cast("double") * F.col("tot_pos").cast("double"),
            )
            * 1000000
        )
        .cast("long")
        .alias("cum_lift_ppm"),
    )


# ---------------------------------------------------------------------------
# E207: Gini impurity split scan over a value grid
# ---------------------------------------------------------------------------

_GINI_PRICE_CENTS = 150_000  # label: retail price above $1500


@register(
    "gini_impurity_split_scan",
    tier="D",
    oracle=f"""
    WITH grid AS (
      SELECT p_size,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN ROUND(p_retailprice * 100, 0)
                                > {_GINI_PRICE_CENTS} THEN 1 ELSE 0 END)
                  AS BIGINT) AS pos
      FROM part GROUP BY p_size
    ),
    pre AS (
      SELECT p_size,
             SUM(n) OVER (ORDER BY p_size) AS nl,
             SUM(pos) OVER (ORDER BY p_size) AS posl,
             (SELECT SUM(n) FROM grid) AS nt,
             (SELECT SUM(pos) FROM grid) AS post
      FROM grid
    ),
    scan AS (
      SELECT p_size AS threshold,
             CAST(nl AS BIGINT) AS n_le, CAST(posl AS BIGINT) AS pos_le,
             CAST(FLOOR((((CAST(nl AS DOUBLE)
                           - (CAST(posl AS DOUBLE) * CAST(posl AS DOUBLE)
                              + CAST(nl - posl AS DOUBLE) * CAST(nl - posl AS DOUBLE))
                             / CAST(nl AS DOUBLE))
                          + (CAST(nt - nl AS DOUBLE)
                             - (CAST(post - posl AS DOUBLE) * CAST(post - posl AS DOUBLE)
                                + CAST((nt - nl) - (post - posl) AS DOUBLE)
                                  * CAST((nt - nl) - (post - posl) AS DOUBLE))
                               / CAST(nt - nl AS DOUBLE)))
                         / CAST(nt AS DOUBLE)) * 1000000) AS BIGINT)
               AS weighted_gini_ppm
      FROM pre
      WHERE nl < nt
    ),
    best AS (
      SELECT MIN(weighted_gini_ppm) AS mg FROM scan
    ),
    best_t AS (
      SELECT MIN(threshold) AS mt FROM scan, best
      WHERE weighted_gini_ppm = mg
    )
    SELECT threshold, n_le, pos_le, weighted_gini_ppm,
           (weighted_gini_ppm = best.mg AND threshold = best_t.mt) AS is_best
    FROM scan, best, best_t
    """,
)
def gini_impurity_split_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E207: the FULL Gini-impurity curve over every candidate split
    threshold of p_size predicting the expensive-part label — E178
    (tree_split_gini_quantity) reports the best split; the scan is
    what a feature-engineering review actually reads (is the optimum
    sharp or a plateau?), and it is the inner loop of any decision-
    tree trainer on a value grid.

    Exactness: the grid rollup yields exact (n, pos) per size; prefix
    sums over the 50-row grid give every threshold's left/right
    counts in one window pass (no per-threshold rescan); weighted
    Gini = (nL·GL + nR·GR)/n crosses IEEE through one identically-
    parenthesized expression using the algebraic form nX·GX =
    nX - (pos² + neg²)/nX; the best flag compares floored integers
    with a threshold tiebreak.

    Scale shape: ONE map-side-combinable rollup over the scan to a
    ≤50-row grid; everything after is metadata-sized windows.  The
    same plan at 100 TB: the grid never grows past the value domain."""
    price_pos = F.when(
        F.round(F.col("p_retailprice") * 100, 0) > _GINI_PRICE_CENTS, 1
    ).otherwise(0)
    grid = (
        io.table(spark, sf_dir, "part")
        .groupBy("p_size")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(price_pos).cast("long").alias("pos"),
        )
    )
    w = Window.orderBy("p_size").rowsBetween(Window.unboundedPreceding, 0)
    tot = grid.agg(
        F.sum("n").cast("long").alias("nt"), F.sum("pos").cast("long").alias("post")
    )
    pre = grid.select(
        "p_size",
        F.sum("n").over(w).alias("nl"),
        F.sum("pos").over(w).alias("posl"),
    ).crossJoin(F.broadcast(tot))
    nl, posl = F.col("nl").cast("double"), F.col("posl").cast("double")
    nr = (F.col("nt") - F.col("nl")).cast("double")
    posr = (F.col("post") - F.col("posl")).cast("double")
    negl = (F.col("nl") - F.col("posl")).cast("double")
    negr = ((F.col("nt") - F.col("nl")) - (F.col("post") - F.col("posl"))).cast("double")
    # try_divide, not "/": the nl<nt filter guards nr>0 on every row
    # that REACHES the projection, but Catalyst is free to reorder this
    # expression ahead of the filter conjunct when it fuses the best_t
    # equality into one BroadcastNestedLoopJoin condition — ANSI
    # div-by-zero would fire on the filtered-out last grid row.  NULL
    # never survives the filter, so results are unchanged.
    wg = F.try_divide(
        (nl - F.try_divide(posl * posl + negl * negl, nl))
        + (nr - F.try_divide(posr * posr + negr * negr, nr)),
        F.col("nt").cast("double"),
    )
    scan = pre.filter(F.col("nl") < F.col("nt")).select(
        F.col("p_size").alias("threshold"),
        F.col("nl").cast("long").alias("n_le"),
        F.col("posl").cast("long").alias("pos_le"),
        F.floor(wg * 1000000).cast("long").alias("weighted_gini_ppm"),
    )
    best = scan.agg(F.min("weighted_gini_ppm").alias("mg"))
    best_t = (
        scan.join(F.broadcast(best), scan.weighted_gini_ppm == F.col("mg"))
        .agg(F.min("threshold").alias("mt"))
    )
    return (
        scan.crossJoin(F.broadcast(best))
        .crossJoin(F.broadcast(best_t))
        .select(
            "threshold",
            "n_le",
            "pos_le",
            "weighted_gini_ppm",
            (
                (F.col("weighted_gini_ppm") == F.col("mg"))
                & (F.col("threshold") == F.col("mt"))
            ).alias("is_best"),
        )
    )


# ---------------------------------------------------------------------------
# E208: per-source KS distance vs the rest of the corpus
# ---------------------------------------------------------------------------


@register(
    "ks_statistic_by_source",
    tier="D",
    oracle="""
    WITH per AS (
      SELECT source, n_chars, CAST(COUNT(*) AS BIGINT) AS c
      FROM documents GROUP BY source, n_chars
    ),
    tot AS (
      SELECT n_chars, CAST(SUM(c) AS BIGINT) AS ct FROM per GROUP BY n_chars
    ),
    sizes AS (SELECT source, CAST(SUM(c) AS BIGINT) AS ns FROM per GROUP BY source),
    grid AS (
      SELECT s.source, t.n_chars, COALESCE(p.c, 0) AS c, t.ct
      FROM (SELECT DISTINCT source FROM per) s
      CROSS JOIN tot t
      LEFT JOIN per p ON p.source = s.source AND p.n_chars = t.n_chars
    ),
    cums AS (
      SELECT source, n_chars,
             SUM(c) OVER (PARTITION BY source ORDER BY n_chars) AS cs,
             SUM(ct) OVER (PARTITION BY source ORDER BY n_chars) AS call
      FROM grid
    ),
    dev AS (
      SELECT c.source, c.n_chars, z.ns,
             (SELECT SUM(ns) FROM sizes) AS nall,
             ABS(CAST(c.cs AS HUGEINT) * ((SELECT SUM(ns) FROM sizes) - z.ns)
                 - CAST(c.call - c.cs AS HUGEINT) * z.ns) AS num
      FROM cums c JOIN sizes z ON c.source = z.source
    ),
    ranked AS (
      SELECT source, ns, n_chars, num,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY num DESC, n_chars) AS rn
      FROM dev
    )
    SELECT source,
           CAST(ns AS BIGINT) AS n_docs,
           n_chars AS at_chars,
           CAST(FLOOR((CAST(num AS DOUBLE)
                       / (CAST(ns AS DOUBLE)
                          * CAST((SELECT SUM(ns) FROM sizes) - ns AS DOUBLE)))
                      * 1000000) AS BIGINT) AS ks_ppm
    FROM ranked WHERE rn = 1
    """,
)
def ks_statistic_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E208: per-source Kolmogorov-Smirnov distance between the
    source's document-length distribution and the REST of the corpus
    — E167 compares two fixed halves; this is the one-vs-rest sweep
    that ranks WHICH source is the distributional outlier, with the
    length at which the ECDFs diverge most riding along.

    Exactness: the ECDF difference is kept as the exact integer
    |cs·n_rest - c_rest·ns| (cross-multiplied, HUGEINT/decimal38
    guarded) over the shared value grid; the max and its argmin-value
    tiebreak are integer comparisons; ONE division per source at the
    end, floored to ppm.

    Scale shape: per-(source, length) rollup partial-aggregates
    map-side; the evaluation grid is |sources| x |distinct lengths| —
    value-domain metadata, not data; cumulative windows partition by
    source."""
    per = (
        io.table(spark, sf_dir, "documents")
        .groupBy("source", "n_chars")
        .agg(F.count("*").cast("long").alias("c"))
    )
    tot = per.groupBy("n_chars").agg(F.sum("c").cast("long").alias("ct"))
    sizes = per.groupBy("source").agg(F.sum("c").cast("long").alias("ns"))
    nall = sizes.agg(F.sum("ns").cast("long").alias("nall"))
    grid = (
        per.select("source")
        .distinct()
        .crossJoin(F.broadcast(tot))
        .join(per, ["source", "n_chars"], "left")
        .select("source", "n_chars", F.coalesce("c", F.lit(0)).alias("c"), "ct")
    )
    w = Window.partitionBy("source").orderBy("n_chars").rowsBetween(
        Window.unboundedPreceding, 0
    )
    dec = "decimal(38,0)"
    cums = grid.select(
        "source",
        "n_chars",
        F.sum("c").over(w).alias("cs"),
        F.sum("ct").over(w).alias("call"),
    )
    dev = (
        cums.join(F.broadcast(sizes), "source")
        .crossJoin(F.broadcast(nall))
        .select(
            "source",
            "n_chars",
            "ns",
            "nall",
            F.abs(
                _no_silent_overflow(
                    (
                        F.col("cs").cast(dec) * (F.col("nall") - F.col("ns"))
                        - (F.col("call") - F.col("cs")).cast(dec) * F.col("ns")
                    ).cast(dec),
                    "E208 ks num",
                )
            ).alias("num"),
        )
    )
    ranked = dev.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("source").orderBy(F.desc("num"), "n_chars")
        ),
    ).filter(F.col("rn") == 1)
    # try_divide: a single-source corpus has an empty "rest" side —
    # DuckDB's x/0 -> NULL must be mirrored
    return ranked.select(
        "source",
        F.col("ns").cast("long").alias("n_docs"),
        F.col("n_chars").alias("at_chars"),
        F.floor(
            F.try_divide(
                F.col("num").cast("double"),
                F.col("ns").cast("double") * (F.col("nall") - F.col("ns")).cast("double"),
            )
            * 1000000
        )
        .cast("long")
        .alias("ks_ppm"),
    )


# ---------------------------------------------------------------------------
# E209: pairwise vocabulary overlap coefficient
# ---------------------------------------------------------------------------


@register(
    "vocab_overlap_coefficient",
    tier="D",
    oracle=r"""
    WITH vocab AS (
      SELECT DISTINCT source, w.word
      FROM documents,
           UNNEST(regexp_split_to_array(lower(text), '\s+')) AS w(word)
      WHERE w.word <> ''
    ),
    sizes AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS v FROM vocab GROUP BY source),
    inter AS (
      SELECT a.source AS source_a, b.source AS source_b,
             CAST(COUNT(*) AS BIGINT) AS n_common
      FROM vocab a JOIN vocab b
        ON a.word = b.word AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT i.source_a, i.source_b, i.n_common,
           CAST(FLOOR((CAST(i.n_common AS DOUBLE)
                       / CAST(LEAST(sa.v, sb.v) AS DOUBLE)) * 1000000)
                AS BIGINT) AS overlap_ppm,
           CAST(FLOOR((CAST(i.n_common AS DOUBLE)
                       / CAST(sa.v + sb.v - i.n_common AS DOUBLE)) * 1000000)
                AS BIGINT) AS jaccard_ppm
    FROM inter i
    JOIN sizes sa ON i.source_a = sa.source
    JOIN sizes sb ON i.source_b = sb.source
    """,
)
def vocab_overlap_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E209: Szymkiewicz-Simpson overlap coefficient (and Jaccard)
    between every source pair's VOCABULARY — |Va∩Vb| / min(|Va|,|Vb|).
    E59 (corpus_term_drift) tracks one vocabulary over time; the
    overlap matrix answers the mixture-design question "which sources
    are lexically redundant?" — overlap ~1 with small Jaccard flags a
    source that is a strict subset of another, invisible to Jaccard
    alone.

    Exactness: vocabularies are DISTINCT (source, word) sets;
    intersections and sizes are exact integers; two divisions per
    pair, floored to ppm.

    Scale shape: the distinct pass partial-aggregates on (source,
    word); the intersection is a word-keyed equi-join whose fan-out
    per word is #sources (bounded), never documents; pair rows are
    |sources|² metadata."""
    vocab = (
        io.table(spark, sf_dir, "documents")
        .select("source", F.explode(F.split(F.lower("text"), r"\s+")).alias("word"))
        .filter(F.col("word") != "")
        .distinct()
    )
    sizes = vocab.groupBy("source").agg(F.count("*").cast("long").alias("v"))
    a, b = vocab.alias("a"), vocab.alias("b")
    inter = (
        a.join(b, (F.col("a.word") == F.col("b.word")) & (F.col("a.source") < F.col("b.source")))
        .groupBy(F.col("a.source").alias("source_a"), F.col("b.source").alias("source_b"))
        .agg(F.count("*").cast("long").alias("n_common"))
    )
    sa = sizes.select(F.col("source").alias("source_a"), F.col("v").alias("va"))
    sb = sizes.select(F.col("source").alias("source_b"), F.col("v").alias("vb"))
    return (
        inter.join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_common",
            F.floor(
                F.col("n_common").cast("double")
                / F.least("va", "vb").cast("double")
                * 1000000
            )
            .cast("long")
            .alias("overlap_ppm"),
            F.floor(
                F.col("n_common").cast("double")
                / (F.col("va") + F.col("vb") - F.col("n_common")).cast("double")
                * 1000000
            )
            .cast("long")
            .alias("jaccard_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# E210: Holt linear-trend exponential smoothing
# ---------------------------------------------------------------------------

_HOLT_ALPHA = 0.5  # exact binary fractions: the float recurrence is
_HOLT_BETA = 0.25  # bit-identical cross-engine
_HOLT_H = 7


@register(
    "holt_linear_forecast",
    tier="D",
    oracle=f"""
    WITH RECURSIVE daily AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1
    ),
    idx AS (
      SELECT ROW_NUMBER() OVER (ORDER BY day) AS t, CAST(n AS DOUBLE) AS x
      FROM daily
    ),
    m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_days FROM idx),
    -- sequential recurrence as a recursive CTE: DuckDB's list_reduce
    -- mutates a struct accumulator field-by-field (observed in
    -- v1.0.0), so multi-field folds are not safe there; the recursion
    -- makes each step's (l, b) read the PREVIOUS step's values by
    -- construction, matching Spark's aggregate() fold op for op.
    st AS (
      SELECT 2 AS t,
             (SELECT x FROM idx WHERE t = 2) AS l,
             (SELECT x FROM idx WHERE t = 2)
               - (SELECT x FROM idx WHERE t = 1) AS b
      WHERE (SELECT n_days FROM m) >= 2
      UNION ALL
      SELECT i.t,
             {_HOLT_ALPHA} * i.x + {1 - _HOLT_ALPHA} * (s.l + s.b),
             {_HOLT_BETA} * (({_HOLT_ALPHA} * i.x
                              + {1 - _HOLT_ALPHA} * (s.l + s.b)) - s.l)
               + {1 - _HOLT_BETA} * s.b
      FROM st s JOIN idx i ON i.t = s.t + 1
    ),
    last AS (SELECT l, b FROM st ORDER BY t DESC LIMIT 1)
    SELECT m.n_days,
           CAST(FLOOR(l * 1000) AS BIGINT) AS level_milli,
           CAST(FLOOR(b * 1000) AS BIGINT) AS trend_milli,
           CAST(FLOOR((l + {_HOLT_H} * b) * 1000) AS BIGINT)
             AS forecast_{_HOLT_H}d_milli
    FROM last, m
    """,
)
def holt_linear_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E210: Holt's linear-trend double exponential smoothing over the
    total daily event series, with the {h}-day-ahead forecast l + {h}b.
    E139 (EWMA) smooths the LEVEL only; Holt carries a trend state, so
    a steadily-growing commit stream forecasts growth instead of
    lagging it.  E168 (MASE backtest) scores forecasts; this produces
    one.

    Exactness: the recurrence l' = αx + (1-α)(l+b), b' = β(l'-l) +
    (1-β)b is SEQUENTIAL by definition, so both engines fold it over
    the day-ordered series (the E133 device) seeded l=x₂, b=x₂-x₁;
    α=0.5 and β=0.25 are exact binary fractions, making every float
    op in the fold bit-identical cross-engine; outputs floored to
    milli.

    Scale shape: the daily rollup partial-aggregates map-side; the
    fold runs once over a calendar-bounded array — the state is two
    doubles, which is why Holt (unlike a window regression) also runs
    happily as a streaming accumulator."""
    daily = (
        io.table(spark, sf_dir, "events")
        .groupBy(F.to_date(F.date_trunc("day", "ts")).alias("day"))
        .agg(F.count("*").cast("long").alias("n"))
    )
    arr = daily.agg(
        F.count("*").cast("long").alias("n_days"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("day", "n"))), lambda s: s["n"].cast("double")
        ).alias("xs"),
    ).filter(F.col("n_days") >= 2)
    a, bcoef = _HOLT_ALPHA, _HOLT_BETA
    init = F.struct(
        (F.element_at("xs", 2)).alias("l"),
        (F.element_at("xs", 2) - F.element_at("xs", 1)).alias("b"),
    )

    def step(acc, x):
        new_l = F.lit(a) * x + F.lit(1 - a) * (acc["l"] + acc["b"])
        new_b = F.lit(bcoef) * (new_l - acc["l"]) + F.lit(1 - bcoef) * acc["b"]
        return F.struct(new_l.alias("l"), new_b.alias("b"))

    fitted = arr.select(
        "n_days",
        F.aggregate(
            F.slice("xs", 3, F.greatest(F.size("xs") - 2, F.lit(0))), init, step
        ).alias("st"),
    )
    return fitted.select(
        "n_days",
        F.floor(F.col("st.l") * 1000).cast("long").alias("level_milli"),
        F.floor(F.col("st.b") * 1000).cast("long").alias("trend_milli"),
        F.floor((F.col("st.l") + _HOLT_H * F.col("st.b")) * 1000)
        .cast("long")
        .alias(f"forecast_{_HOLT_H}d_milli"),
    )


# ---------------------------------------------------------------------------
# E211: Croston's intermittent-demand method
# ---------------------------------------------------------------------------

_CROSTON_ALPHA = 0.25


@register(
    "croston_intermittent_demand",
    tier="D",
    oracle=f"""
    WITH demand AS (
      SELECT p.p_brand,
             CAST(l.l_shipdate AS DATE) AS day,
             CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS d
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY 1, 2
    ),
    bounds AS (
      SELECT MIN(day) AS d0,
             CAST(date_diff('day', MIN(day), MAX(day)) + 1 AS BIGINT) AS n_days
      FROM demand
    ),
    -- Croston's coupled (z, p, q) state machine over the zero-filled
    -- day series collapses EXACTLY into two INDEPENDENT scalar EWMAs:
    -- z folds over demand SIZES (init = first size), p folds over
    -- inter-demand GAPS in days (init = 1-based index of the first
    -- demand day — what q accumulates to), because zero days only
    -- increment q, which the outputs never read.  Scalar folds are
    -- safe in DuckDB list_reduce (the struct-accumulator mutation
    -- footgun only bites multi-field state) and run in milliseconds
    -- where the day-by-day recursion took minutes.
    idx AS (
      SELECT d.p_brand,
             CAST(date_diff('day', b.d0, d.day) + 1 AS DOUBLE) AS t,
             CAST(d.d AS DOUBLE) AS x
      FROM demand d, bounds b
      WHERE d.d > 0
    ),
    arr AS (
      SELECT p_brand,
             CAST(COUNT(*) AS BIGINT) AS k,
             list(x ORDER BY t) AS ds,
             list(t ORDER BY t) AS ts
      FROM idx GROUP BY p_brand
    ),
    fitted AS (
      SELECT p_brand, k,
             list_reduce(ds,
               (a, x) -> {_CROSTON_ALPHA} * x + {1 - _CROSTON_ALPHA} * a) AS z,
             list_reduce(
               list_prepend(ts[1],
                 list_transform(generate_series(2, CAST(k AS INTEGER)),
                                i -> ts[i] - ts[i - 1])),
               (a, g) -> {_CROSTON_ALPHA} * g + {1 - _CROSTON_ALPHA} * a) AS p
      FROM arr
    )
    SELECT f.p_brand,
           b.n_days,
           f.k AS n_demand_days,
           CAST(FLOOR(f.z * 1000) AS BIGINT) AS size_milli,
           CAST(FLOOR(f.p * 1000) AS BIGINT) AS interval_milli,
           CASE WHEN f.p > 0
                THEN CAST(FLOOR((f.z / f.p) * 1000) AS BIGINT)
                ELSE NULL END AS rate_milli
    FROM fitted f, bounds b
    """,
)
def croston_intermittent_demand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E211: Croston's method per brand — the standard forecaster for
    INTERMITTENT demand (many zero days), which naive smoothing
    systematically underforecasts: smooth the nonzero demand SIZES
    (z) and the inter-demand INTERVALS (p) separately with α={a},
    forecast rate = z/p.  The supply-chain complement of E210's
    dense-series Holt.

    Exactness: the state machine (z, p, periods-since-demand,
    started) folds over the zero-filled day-ordered series — the
    recurrence is sequential by definition, and α={a} is an exact
    binary fraction so every float op is bit-identical cross-engine;
    initialization is the standard first-demand convention (z = first
    size, p = index of first demand); outputs floored to milli, rate
    NULL until the first demand.

    Scale shape: demand rollup partial-aggregates on (brand, day);
    the zero-fill spine is |brands| x calendar metadata; one bounded
    fold per brand."""
    li = io.table(spark, sf_dir, "lineitem").select("l_partkey", "l_shipdate", "l_quantity")
    pt = io.table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    demand = (
        li.join(F.broadcast(pt), li.l_partkey == pt.p_partkey)
        .groupBy("p_brand", F.to_date("l_shipdate").alias("day"))
        .agg(F.sum(F.col("l_quantity").cast("long")).cast("long").alias("d"))
    )
    bounds = demand.agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    spine = (
        demand.select("p_brand")
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .select("p_brand", F.explode(F.sequence("d0", "d1")).alias("day"))
    )
    series = spine.join(demand, ["p_brand", "day"], "left").select(
        "p_brand", "day", F.coalesce("d", F.lit(0)).alias("d")
    )
    arr = series.groupBy("p_brand").agg(
        F.count("*").cast("long").alias("n_days"),
        F.sum(F.when(F.col("d") > 0, 1).otherwise(0)).cast("long").alias("n_demand_days"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("day", "d"))), lambda s: s["d"].cast("double")
        ).alias("xs"),
    )
    al = _CROSTON_ALPHA
    init = F.struct(
        F.lit(0.0).alias("z"),
        F.lit(0.0).alias("p"),
        F.lit(1.0).alias("q"),
        F.lit(False).alias("started"),
    )

    def step(acc, x):
        first = F.struct(
            x.alias("z"), acc["q"].alias("p"), F.lit(1.0).alias("q"), F.lit(True).alias("started")
        )
        upd = F.struct(
            (F.lit(al) * x + F.lit(1 - al) * acc["z"]).alias("z"),
            (F.lit(al) * acc["q"] + F.lit(1 - al) * acc["p"]).alias("p"),
            F.lit(1.0).alias("q"),
            F.lit(True).alias("started"),
        )
        idle = F.struct(
            acc["z"].alias("z"), acc["p"].alias("p"), (acc["q"] + 1).alias("q"), acc["started"].alias("started")
        )
        return (
            F.when((x > 0) & ~acc["started"], first)
            .when(x > 0, upd)
            .otherwise(idle)
        )

    fitted = arr.select(
        "p_brand",
        "n_days",
        "n_demand_days",
        F.aggregate("xs", init, step).alias("st"),
    )
    return fitted.select(
        "p_brand",
        "n_days",
        "n_demand_days",
        F.floor(F.col("st.z") * 1000).cast("long").alias("size_milli"),
        F.floor(F.col("st.p") * 1000).cast("long").alias("interval_milli"),
        F.when(
            F.col("st.started") & (F.col("st.p") > 0),
            F.floor(F.col("st.z") / F.col("st.p") * 1000).cast("long"),
        ).alias("rate_milli"),
    )


# ---------------------------------------------------------------------------
# E212: ABC-XYZ inventory matrix
# ---------------------------------------------------------------------------


@register(
    "abc_xyz_inventory",
    tier="D",
    oracle="""
    WITH rev AS (
      SELECT l_partkey,
             CAST(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT)
               AS cents
      FROM lineitem GROUP BY l_partkey
    ),
    weekly AS (
      SELECT l_partkey,
             date_trunc('week', l_shipdate) AS wk,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q
      FROM lineitem GROUP BY 1, 2
    ),
    nweeks AS (
      SELECT CAST(COUNT(DISTINCT date_trunc('week', l_shipdate)) AS BIGINT) AS w
      FROM lineitem
    ),
    var_ AS (
      SELECT l_partkey,
             CAST(SUM(q) AS HUGEINT) AS s,
             SUM(CAST(q AS HUGEINT) * q) AS sqq
      FROM weekly GROUP BY l_partkey
    ),
    abc AS (
      SELECT r.l_partkey, r.cents,
             SUM(r.cents) OVER (ORDER BY r.cents DESC, r.l_partkey) AS cum,
             (SELECT SUM(cents) FROM rev) AS tot
      FROM rev r
    ),
    classed AS (
      SELECT a.l_partkey,
             CASE WHEN a.cum * 10 <= a.tot * 7 THEN 'A'
                  WHEN a.cum * 10 <= a.tot * 9 THEN 'B'
                  ELSE 'C' END AS abc_class,
             CASE WHEN (n.w * v.sqq - v.s * v.s) * 4 <= v.s * v.s THEN 'X'
                  WHEN n.w * v.sqq - v.s * v.s <= v.s * v.s THEN 'Y'
                  ELSE 'Z' END AS xyz_class,
             a.cents
      FROM abc a JOIN var_ v ON a.l_partkey = v.l_partkey
      CROSS JOIN nweeks n
    )
    SELECT abc_class, xyz_class,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(SUM(cents) AS BIGINT) AS revenue_cents
    FROM classed
    GROUP BY abc_class, xyz_class
    """,
)
def abc_xyz_inventory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E212: the ABC-XYZ inventory matrix — parts classed by revenue
    concentration (A: inside the top 70% of cumulative revenue, B: to
    90%, C: rest — E104's Pareto cut made three-way) crossed with
    demand VARIABILITY over the weekly grid (X: CV ≤ 0.5, Y: ≤ 1.0,
    Z: above), the planogram every inventory policy review starts
    from (A-X: automate; C-Z: kill).

    Exactness: every classification is a PURE INTEGER comparison —
    cumulative cents x10 vs total x7/x9 for ABC, and CV² = (W·Σq² -
    S²)/S² cross-multiplied (x4 for the 0.5 line) for XYZ, zero-
    demand weeks entering through W rather than a spine fill — so no
    float ever decides a class; output counts and cents are exact.

    Scale shape: two part-keyed rollups (both map-side combinable);
    the ABC cumulative-revenue ranking runs through operators/skew.
    global_cumsum (range-partition on (cents DESC, partkey) + local
    running sum + broadcast partition offsets) — the r13 sf10 smoke
    measured the old unpartitioned window form at 106.9 s with every
    part row through one task; the matrix is 9 rows."""
    li = io.table(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100, 0).cast("long")
    rev = li.groupBy("l_partkey").agg(F.sum(cents).cast("long").alias("cents"))
    weekly = li.groupBy(
        "l_partkey", F.date_trunc("week", "l_shipdate").alias("wk")
    ).agg(F.sum(F.col("l_quantity").cast("long")).cast("long").alias("q"))
    nweeks = li.agg(
        F.countDistinct(F.date_trunc("week", "l_shipdate")).cast("long").alias("w")
    )
    dec = "decimal(38,0)"
    var_ = weekly.groupBy("l_partkey").agg(
        F.sum("q").cast(dec).alias("s"),
        F.sum(
            _no_silent_overflow((F.col("q").cast(dec) * F.col("q")).cast(dec), "E212 q^2")
        )
        .cast(dec)
        .alias("sqq"),
    )
    tot = rev.agg(F.sum("cents").cast("long").alias("tot"))
    from ..operators.skew import global_cumsum

    abc = global_cumsum(
        rev, [F.desc("cents"), F.col("l_partkey")], "cents", "cum"
    ).crossJoin(F.broadcast(tot))
    cv_num = _no_silent_overflow(
        (F.col("w").cast(dec) * F.col("sqq") - F.col("s") * F.col("s")).cast(dec),
        "E212 cv num",
    )
    s2 = _no_silent_overflow((F.col("s") * F.col("s")).cast(dec), "E212 s^2")
    classed = (
        abc.join(var_, "l_partkey")
        .crossJoin(F.broadcast(nweeks))
        .select(
            F.when(F.col("cum") * 10 <= F.col("tot") * 7, "A")
            .when(F.col("cum") * 10 <= F.col("tot") * 9, "B")
            .otherwise("C")
            .alias("abc_class"),
            F.when(cv_num * 4 <= s2, "X").when(cv_num <= s2, "Y").otherwise("Z").alias(
                "xyz_class"
            ),
            "cents",
        )
    )
    return classed.groupBy("abc_class", "xyz_class").agg(
        F.count("*").cast("long").alias("n_parts"),
        F.sum("cents").cast("long").alias("revenue_cents"),
    )


croston_intermittent_demand.__doc__ = croston_intermittent_demand.__doc__.format(
    a=_CROSTON_ALPHA
)
holt_linear_forecast.__doc__ = holt_linear_forecast.__doc__.format(h=_HOLT_H)
