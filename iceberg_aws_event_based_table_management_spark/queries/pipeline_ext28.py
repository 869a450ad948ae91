"""Tier D (part 29) — language-model smoothing inputs, two-sample
tests, trend/drift detectors, and collinearity diagnostics (SURVEY.md
§2-E E227-E231).

Twenty-eighth batch, registered late in round 9: Good-Turing adjusted
counts and unseen-mass estimate from the frequency spectrum, Welch's
unequal-variance t-test with Cohen's d, the Mann-Kendall
(nonparametric) trend test with tie-corrected variance, the
Page-Hinkley drift detector over the daily series, and variance
inflation factors from the closed-form three-variable correlation
matrix.

Exactness discipline as ext24-ext27: integer sufficient statistics
(HUGEINT/decimal(38,0) guarded), nearest-rank picks, try_divide
mirroring DuckDB's x/0 -> NULL, one identically-parenthesized IEEE
expression per output.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import io
from ..registry import register
from .pipeline_ext17 import _no_silent_overflow

# ---------------------------------------------------------------------------
# E227: Good-Turing adjusted counts / unseen mass
# ---------------------------------------------------------------------------


@register(
    "good_turing_unseen_mass",
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
    spectrum AS (
      SELECT source, f, CAST(COUNT(*) AS BIGINT) AS nf
      FROM freq GROUP BY source, f
    ),
    s AS (
      SELECT source,
             CAST(SUM(f * nf) AS BIGINT) AS n_tokens,
             CAST(SUM(nf) AS BIGINT) AS vocab,
             CAST(COALESCE(SUM(CASE WHEN f = 1 THEN nf END), 0) AS BIGINT) AS n1,
             CAST(COALESCE(SUM(CASE WHEN f = 2 THEN nf END), 0) AS BIGINT) AS n2,
             CAST(COALESCE(SUM(CASE WHEN f = 3 THEN nf END), 0) AS BIGINT) AS n3
      FROM spectrum GROUP BY source
    )
    SELECT source, n_tokens, vocab, n1,
           CAST(FLOOR(CAST(n1 AS DOUBLE) / CAST(n_tokens AS DOUBLE) * 1000000)
                AS BIGINT) AS p0_unseen_ppm,
           CAST(FLOOR(2.0 * n2 / n1 * 1000) AS BIGINT) AS r1_star_milli,
           CAST(FLOOR(3.0 * n3 / n2 * 1000) AS BIGINT) AS r2_star_milli
    FROM s
    """,
)
def good_turing_unseen_mass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E227: Good-Turing smoothing inputs per source — the unseen-mass
    estimate p₀ = N₁/N (the probability the NEXT token is a word never
    seen) and the adjusted counts r* = (r+1)·N_{r+1}/N_r for r=1,2.
    E217 reports the raw spectrum; Good-Turing is what a language
    model DOES with it (Katz backoff's discount), and p₀ is the
    vocabulary-saturation gauge for corpus curation: p₀ falling with
    corpus growth means the source is exhausting its vocabulary.

    Exactness: the frequency-of-frequency spectrum is pure integer
    counting; each output is ONE division of exact integers, floored;
    r* is NULL (DuckDB x/0, Spark try_divide) when the spectrum class
    is empty.

    Scale shape: (source, word) rollup -> (source, f) rollup ->
    source rollup — each map-side combinable; spectrum state is a
    handful of integers per source."""
    words = (
        io.table(spark, sf_dir, "documents")
        .select("source", F.explode(F.split(F.lower("text"), r"\s+")).alias("word"))
        .filter(F.col("word") != "")
    )
    freq = words.groupBy("source", "word").agg(F.count("*").cast("long").alias("f"))
    spectrum = freq.groupBy("source", "f").agg(F.count("*").cast("long").alias("nf"))
    s = spectrum.groupBy("source").agg(
        F.sum(F.col("f") * F.col("nf")).cast("long").alias("n_tokens"),
        F.sum("nf").cast("long").alias("vocab"),
        F.coalesce(F.sum(F.when(F.col("f") == 1, F.col("nf"))), F.lit(0))
        .cast("long")
        .alias("n1"),
        F.coalesce(F.sum(F.when(F.col("f") == 2, F.col("nf"))), F.lit(0))
        .cast("long")
        .alias("n2"),
        F.coalesce(F.sum(F.when(F.col("f") == 3, F.col("nf"))), F.lit(0))
        .cast("long")
        .alias("n3"),
    )
    return s.select(
        "source",
        "n_tokens",
        "vocab",
        "n1",
        F.floor(F.col("n1").cast("double") / F.col("n_tokens").cast("double") * 1000000)
        .cast("long")
        .alias("p0_unseen_ppm"),
        F.floor(F.try_divide(F.lit(2.0) * F.col("n2"), F.col("n1").cast("double")) * 1000)
        .cast("long")
        .alias("r1_star_milli"),
        F.floor(F.try_divide(F.lit(3.0) * F.col("n3"), F.col("n2").cast("double")) * 1000)
        .cast("long")
        .alias("r2_star_milli"),
    )


# ---------------------------------------------------------------------------
# E228: Welch's t-test + Cohen's d
# ---------------------------------------------------------------------------

_WELCH_LANG = "en"


@register(
    "welch_ttest_lengths",
    tier="D",
    oracle=f"""
    WITH g AS (
      SELECT lang = '{_WELCH_LANG}' AS grp,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(n_chars) AS HUGEINT) AS s,
             SUM(CAST(n_chars AS HUGEINT) * n_chars) AS sq
      FROM documents GROUP BY 1
    ),
    w AS (
      SELECT
        (SELECT n FROM g WHERE grp) AS n1,
        (SELECT n FROM g WHERE NOT grp) AS n2,
        (SELECT CAST(s AS DOUBLE) / n FROM g WHERE grp) AS m1,
        (SELECT CAST(s AS DOUBLE) / n FROM g WHERE NOT grp) AS m2,
        (SELECT CAST(n * sq - s * s AS DOUBLE)
                / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))
         FROM g WHERE grp) AS v1,
        (SELECT CAST(n * sq - s * s AS DOUBLE)
                / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))
         FROM g WHERE NOT grp) AS v2
    )
    SELECT n1 AS n_en, n2 AS n_other,
           CAST(FLOOR(((m1 - m2) / sqrt(v1 / n1 + v2 / n2)) * 1000) AS BIGINT)
             AS t_milli,
           CAST(FLOOR(((v1 / n1 + v2 / n2) * (v1 / n1 + v2 / n2))
                      / ((v1 / n1) * (v1 / n1) / (n1 - 1)
                         + (v2 / n2) * (v2 / n2) / (n2 - 1)) * 1000)
                AS BIGINT) AS welch_df_milli,
           CAST(FLOOR(((m1 - m2)
                       / sqrt(((n1 - 1) * v1 + (n2 - 1) * v2)
                              / (n1 + n2 - 2))) * 1000) AS BIGINT)
             AS cohens_d_milli
    FROM w
    """,
)
def welch_ttest_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E228: Welch's unequal-variance t-test of mean document length,
    '{lg}' vs the rest — the two-sample location test that does NOT
    assume equal variances (the Student's-t trap), with the
    Welch-Satterthwaite effective df and Cohen's d (pooled-sd effect
    size) riding along: t says whether the difference is detectable,
    d says whether it MATTERS.  Completes the two-sample family next
    to E166 (Mann-Whitney, ranks) and E167 (KS, whole distribution).

    Exactness: per-group (n, Σx, Σx²) are exact integers; sample
    variances cross IEEE through the identical n-scaled expression;
    t, df, and d are each one identically-parenthesized expression
    with a correctly-rounded sqrt, floored to milli.

    Scale shape: ONE two-group rollup over the scan (map-side
    combinable); the composition is a 1-row select."""
    dec = "decimal(38,0)"
    docs = io.table(spark, sf_dir, "documents").select(
        (F.col("lang") == _WELCH_LANG).alias("grp"), "n_chars"
    )
    g = docs.groupBy("grp").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("n_chars").cast(dec).alias("s"),
        F.sum(
            _no_silent_overflow(
                (F.col("n_chars").cast(dec) * F.col("n_chars")).cast(dec), "E228 x^2"
            )
        )
        .cast(dec)
        .alias("sq"),
    )
    # try_divide: a single-document group has no sample variance;
    # aggregates (not filter+crossJoin): a corpus with only one lang
    # group must still yield ONE row of NULLs like the oracle's scalar
    # subqueries (degenerate sweep)
    var = F.try_divide(
        (F.col("n") * F.col("sq") - F.col("s") * F.col("s")).cast("double"),
        F.col("n").cast("double") * (F.col("n") - 1).cast("double"),
    )
    mean = F.col("s").cast("double") / F.col("n").cast("double")
    stats = g.select("grp", F.col("n").alias("n_"), mean.alias("m_"), var.alias("v_"))
    w = stats.agg(
        F.max(F.when(F.col("grp"), F.col("n_"))).alias("n1"),
        F.max(F.when(~F.col("grp"), F.col("n_"))).alias("n2"),
        F.max(F.when(F.col("grp"), F.col("m_"))).alias("m1"),
        F.max(F.when(~F.col("grp"), F.col("m_"))).alias("m2"),
        F.max(F.when(F.col("grp"), F.col("v_"))).alias("v1"),
        F.max(F.when(~F.col("grp"), F.col("v_"))).alias("v2"),
    )
    se1 = F.col("v1") / F.col("n1")
    se2 = F.col("v2") / F.col("n2")
    t = F.try_divide(F.col("m1") - F.col("m2"), F.sqrt(se1 + se2))
    df = F.try_divide(
        (se1 + se2) * (se1 + se2),
        se1 * se1 / (F.col("n1") - 1) + se2 * se2 / (F.col("n2") - 1),
    )
    pooled = F.sqrt(
        F.try_divide(
            (F.col("n1") - 1) * F.col("v1") + (F.col("n2") - 1) * F.col("v2"),
            (F.col("n1") + F.col("n2") - 2).cast("double"),
        )
    )
    return w.select(
        F.col("n1").cast("long").alias("n_en"),
        F.col("n2").cast("long").alias("n_other"),
        F.floor(t * 1000).cast("long").alias("t_milli"),
        F.floor(df * 1000).cast("long").alias("welch_df_milli"),
        F.floor(F.try_divide(F.col("m1") - F.col("m2"), pooled) * 1000)
        .cast("long")
        .alias("cohens_d_milli"),
    )


welch_ttest_lengths.__doc__ = welch_ttest_lengths.__doc__.format(lg=_WELCH_LANG)


# ---------------------------------------------------------------------------
# E229: Mann-Kendall trend test
# ---------------------------------------------------------------------------


@register(
    "mann_kendall_trend",
    tier="D",
    oracle="""
    WITH daily AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1
    ),
    s AS (
      SELECT CAST(COALESCE(SUM(CASE WHEN b.n > a.n THEN 1
                                    WHEN b.n < a.n THEN -1
                                    ELSE 0 END), 0) AS BIGINT) AS s_stat
      FROM daily a JOIN daily b ON a.day < b.day
    ),
    m AS (
      SELECT CAST(COUNT(*) AS HUGEINT) AS nd FROM daily
    ),
    ties AS (
      SELECT CAST(COALESCE(SUM(CAST(t AS HUGEINT) * (t - 1) * (2 * t + 5)), 0)
                  AS HUGEINT) AS tie_term
      FROM (SELECT COUNT(*) AS t FROM daily GROUP BY n)
    )
    SELECT CAST(m.nd AS BIGINT) AS n_days,
           s.s_stat,
           CAST(FLOOR(((CAST(s.s_stat AS DOUBLE)
                        - CASE WHEN s.s_stat > 0 THEN 1
                               WHEN s.s_stat < 0 THEN -1 ELSE 0 END)
                       / sqrt(CAST(m.nd * (m.nd - 1) * (2 * m.nd + 5)
                                   - ties.tie_term AS DOUBLE) / 18.0))
                      * 1000) AS BIGINT) AS z_milli,
           CASE WHEN s.s_stat > 0 THEN 'increasing'
                WHEN s.s_stat < 0 THEN 'decreasing'
                ELSE 'none' END AS trend
    FROM s, m, ties
    """,
)
def mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E229: Mann-Kendall nonparametric trend test on the total daily
    event series — S = Σ_{{i<j}} sign(x_j - x_i) with the tie-corrected
    variance and continuity-corrected z.  E171 (Theil-Sen) estimates
    the SLOPE robustly; Mann-Kendall is its companion SIGNIFICANCE
    test (same pair structure), the standard pair in environmental/
    ops monitoring because neither assumes normality.

    Exactness: S and the tie term are pure integers over the
    calendar-bounded day-pair join (the documented Theil-Sen d²/2
    device — volume-independent); one sqrt + one division, floored.

    Scale shape: one daily rollup; the pair join is calendar-bounded
    metadata (d²/2 pairs regardless of event volume); ties roll up on
    the value grid."""
    dec = "decimal(38,0)"
    daily = (
        io.table(spark, sf_dir, "events")
        .groupBy(F.to_date(F.date_trunc("day", "ts")).alias("day"))
        .agg(F.count("*").cast("long").alias("n"))
    )
    a, b = daily.alias("a"), daily.alias("b")
    s = a.join(b, F.col("a.day") < F.col("b.day")).agg(
        F.coalesce(
            F.sum(
                F.when(F.col("b.n") > F.col("a.n"), 1)
                .when(F.col("b.n") < F.col("a.n"), -1)
                .otherwise(0)
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("s_stat")
    )
    m = daily.agg(F.count("*").cast(dec).alias("nd"))
    ties = (
        daily.groupBy("n")
        .agg(F.count("*").cast(dec).alias("t"))
        .agg(
            F.coalesce(
                F.sum(
                    _no_silent_overflow(
                        (F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)).cast(dec),
                        "E229 ties",
                    )
                ),
                F.lit(0),
            )
            .cast(dec)
            .alias("tie_term")
        )
    )
    j = s.crossJoin(F.broadcast(m)).crossJoin(F.broadcast(ties))
    cc = (
        F.when(F.col("s_stat") > 0, 1).when(F.col("s_stat") < 0, -1).otherwise(0)
    )
    var = (
        (
            F.col("nd") * (F.col("nd") - 1) * (2 * F.col("nd") + 5) - F.col("tie_term")
        ).cast("double")
        / 18.0
    )
    return j.select(
        F.col("nd").cast("long").alias("n_days"),
        "s_stat",
        F.floor(
            F.try_divide((F.col("s_stat") - cc).cast("double"), F.sqrt(var)) * 1000
        )
        .cast("long")
        .alias("z_milli"),
        F.when(F.col("s_stat") > 0, "increasing")
        .when(F.col("s_stat") < 0, "decreasing")
        .otherwise("none")
        .alias("trend"),
    )


# ---------------------------------------------------------------------------
# E230: Page-Hinkley drift detector
# ---------------------------------------------------------------------------

_PH_DELTA = 0.0  # drift magnitude allowance (exact literal)
_PH_LAMBDA_MILLI = 500_000  # alarm threshold in milli-units of the statistic


@register(
    "page_hinkley_drift",
    tier="D",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1
    ),
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS nd, CAST(SUM(n) AS BIGINT) AS s
      FROM daily
    ),
    cum AS (
      SELECT day,
             SUM(CAST(nd AS HUGEINT) * n - s) OVER (ORDER BY day) AS c
      FROM daily, m
    ),
    ph AS (
      SELECT day, c,
             MIN(c) OVER (ORDER BY day
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS runmin,
             (SELECT nd FROM m) AS nd
      FROM cum
    ),
    scored AS (
      SELECT day,
             CAST(c - runmin AS DOUBLE) / CAST(nd AS DOUBLE) AS ph_val
      FROM ph
    ),
    peak AS (
      SELECT day, ph_val,
             ROW_NUMBER() OVER (ORDER BY ph_val DESC, day) AS rn
      FROM scored
    ),
    alarm AS (
      SELECT MIN(day) AS alarm_day
      FROM scored WHERE ph_val * 1000 > {_PH_LAMBDA_MILLI}
    )
    SELECT (SELECT CAST(nd AS BIGINT) FROM m) AS n_days,
           p.day AS peak_day,
           CAST(FLOOR(p.ph_val * 1000) AS BIGINT) AS ph_max_milli,
           a.alarm_day,
           a.alarm_day IS NOT NULL AS alarmed
    FROM peak p, alarm a WHERE p.rn = 1
    """,
)
def page_hinkley_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E230: Page-Hinkley drift detector over the total daily event
    series (two-pass reference-mean variant, stated): PH_t =
    max(0, cum_t - min cum) where cum accumulates (x - mean), alarm
    when PH exceeds λ.  E134 (CUSUM) detects a level SHIFT against a
    target; Page-Hinkley is the streaming-ML drift test (its running
    min IS the reset device) — the form concept-drift monitors run on
    model error streams.

    Exactness: deviations are n-scaled exact integers (nd·x - S), so
    cum and the running min are integers; the statistic rescales by
    nd at the END with one division; peak/alarm picks break ties on
    day.

    Scale shape: one daily rollup + two stacked windows on one
    calendar-bounded sort + a TakeOrdered row — the E191 drawdown
    shape exactly (PH is drawdown flipped)."""
    dec = "decimal(38,0)"
    daily = (
        io.table(spark, sf_dir, "events")
        .groupBy(F.to_date(F.date_trunc("day", "ts")).alias("day"))
        .agg(F.count("*").cast("long").alias("n"))
    )
    m = daily.agg(
        F.count("*").cast("long").alias("nd"), F.sum("n").cast("long").alias("s")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    cum = daily.crossJoin(F.broadcast(m)).select(
        "day",
        "nd",
        F.sum(
            _no_silent_overflow(
                (F.col("nd").cast(dec) * F.col("n") - F.col("s")).cast(dec), "E230 dev"
            )
        )
        .over(w)
        .alias("c"),
    )
    scored = cum.select(
        "day",
        "nd",
        (
            (F.col("c") - F.min("c").over(w)).cast("double")
            / F.col("nd").cast("double")
        ).alias("ph_val"),
    )
    peak = scored.withColumn(
        "rn", F.row_number().over(Window.orderBy(F.desc("ph_val"), "day"))
    ).filter(F.col("rn") == 1)
    alarm = scored.agg(
        F.min(
            F.when(F.col("ph_val") * 1000 > _PH_LAMBDA_MILLI, F.col("day"))
        ).alias("alarm_day")
    )
    return peak.crossJoin(F.broadcast(alarm)).select(
        F.col("nd").cast("long").alias("n_days"),
        F.col("day").alias("peak_day"),
        F.floor(F.col("ph_val") * 1000).cast("long").alias("ph_max_milli"),
        "alarm_day",
        F.col("alarm_day").isNotNull().alias("alarmed"),
    )


# ---------------------------------------------------------------------------
# E231: variance inflation factors
# ---------------------------------------------------------------------------


@register(
    "vif_multicollinearity",
    tier="D",
    oracle="""
    WITH v AS (
      SELECT CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) AS x,
             CAST(l_quantity AS BIGINT) AS y,
             CAST(ROUND(l_discount * 100, 0) AS BIGINT) AS z
      FROM lineitem
    ),
    s AS (
      SELECT CAST(COUNT(*) AS HUGEINT) AS n,
             CAST(COALESCE(SUM(x), 0) AS HUGEINT) AS sx,
             CAST(COALESCE(SUM(y), 0) AS HUGEINT) AS sy,
             CAST(COALESCE(SUM(z), 0) AS HUGEINT) AS sz,
             COALESCE(SUM(CAST(x AS HUGEINT) * y), 0) AS sxy,
             COALESCE(SUM(CAST(x AS HUGEINT) * z), 0) AS sxz,
             COALESCE(SUM(CAST(y AS HUGEINT) * z), 0) AS syz,
             COALESCE(SUM(CAST(x AS HUGEINT) * x), 0) AS sxx,
             COALESCE(SUM(CAST(y AS HUGEINT) * y), 0) AS syy,
             COALESCE(SUM(CAST(z AS HUGEINT) * z), 0) AS szz
      FROM v
    ),
    r AS (
      SELECT CAST(n AS BIGINT) AS n_rows,
             (CAST(n * sxy - sx * sy AS DOUBLE)
              / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                 * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))) AS rxy,
             (CAST(n * sxz - sx * sz AS DOUBLE)
              / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                 * sqrt(CAST(n * szz - sz * sz AS DOUBLE)))) AS rxz,
             (CAST(n * syz - sy * sz AS DOUBLE)
              / (sqrt(CAST(n * syy - sy * sy AS DOUBLE))
                 * sqrt(CAST(n * szz - sz * sz AS DOUBLE)))) AS ryz
      FROM s
    )
    SELECT n_rows,
           CAST(FLOOR(1.0 / (1.0 - (rxy * rxy + rxz * rxz
                                    - 2.0 * rxy * rxz * ryz)
                                   / (1.0 - ryz * ryz)) * 1000)
                AS BIGINT) AS vif_price_milli,
           CAST(FLOOR(1.0 / (1.0 - (rxy * rxy + ryz * ryz
                                    - 2.0 * rxy * rxz * ryz)
                                   / (1.0 - rxz * rxz)) * 1000)
                AS BIGINT) AS vif_quantity_milli,
           CAST(FLOOR(1.0 / (1.0 - (rxz * rxz + ryz * ryz
                                    - 2.0 * rxy * rxz * ryz)
                                   / (1.0 - rxy * rxy)) * 1000)
                AS BIGINT) AS vif_discount_milli
    FROM r
    """,
)
def vif_multicollinearity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E231: variance inflation factors for the (price, quantity,
    discount) triple — VIF_x = 1/(1-R²_x|yz) with R² in closed form
    from the pairwise correlations (R²_x|yz = (r_xy² + r_xz² -
    2·r_xy·r_xz·r_yz)/(1 - r_yz²)).  The collinearity gate every
    regression (E110, E213) should pass first: VIF > 5 means the
    coefficient is unstable.  Same one-scan sufficient statistics as
    E205, composed differently.

    Exactness: the nine integer sufficient statistics are exact
    (HUGEINT/decimal38 guarded); each pairwise r and each VIF crosses
    IEEE through one identically-parenthesized expression, floored to
    milli.

    Scale shape: ONE map-side-combinable aggregation; 1-row output."""
    dec = "decimal(38,0)"
    v = io.table(spark, sf_dir, "lineitem").select(
        F.round(F.col("l_extendedprice") * 100, 0).cast("long").alias("x"),
        F.col("l_quantity").cast("long").alias("y"),
        F.round(F.col("l_discount") * 100, 0).cast("long").alias("z"),
    )

    def p(u: str, w_: str):
        return F.coalesce(
            F.sum(
                _no_silent_overflow(
                    (F.col(u).cast(dec) * F.col(w_)).cast(dec), f"E231 {u}*{w_}"
                )
            ),
            F.lit(0),
        ).cast(dec)

    s = v.agg(
        F.count("*").cast(dec).alias("n"),
        F.coalesce(F.sum("x"), F.lit(0)).cast(dec).alias("sx"),
        F.coalesce(F.sum("y"), F.lit(0)).cast(dec).alias("sy"),
        F.coalesce(F.sum("z"), F.lit(0)).cast(dec).alias("sz"),
        p("x", "y").alias("sxy"),
        p("x", "z").alias("sxz"),
        p("y", "z").alias("syz"),
        p("x", "x").alias("sxx"),
        p("y", "y").alias("syy"),
        p("z", "z").alias("szz"),
    )

    def corr(suv: str, u: str, w_: str):
        num = (F.col("n") * F.col(suv) - F.col(f"s{u}") * F.col(f"s{w_}")).cast("double")
        du = F.sqrt(
            (F.col("n") * F.col(f"s{u}{u}") - F.col(f"s{u}") * F.col(f"s{u}")).cast("double")
        )
        dw = F.sqrt(
            (F.col("n") * F.col(f"s{w_}{w_}") - F.col(f"s{w_}") * F.col(f"s{w_}")).cast(
                "double"
            )
        )
        return F.try_divide(num, du * dw)

    rxy, rxz, ryz = corr("sxy", "x", "y"), corr("sxz", "x", "z"), corr("syz", "y", "z")

    def vif(r1, r2, r3):
        # VIF for the variable whose correlations with the other two
        # are r1, r2, and whose partners correlate r3 with each other
        r2_given = F.try_divide(r1 * r1 + r2 * r2 - F.lit(2.0) * rxy * rxz * ryz, F.lit(1.0) - r3 * r3)
        return F.try_divide(F.lit(1.0), F.lit(1.0) - r2_given)

    return s.select(
        F.col("n").cast("long").alias("n_rows"),
        F.floor(vif(rxy, rxz, ryz) * 1000).cast("long").alias("vif_price_milli"),
        F.floor(vif(rxy, ryz, rxz) * 1000).cast("long").alias("vif_quantity_milli"),
        F.floor(vif(rxz, ryz, rxy) * 1000).cast("long").alias("vif_discount_milli"),
    )
