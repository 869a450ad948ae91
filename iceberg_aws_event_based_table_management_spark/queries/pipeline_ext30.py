"""Tier D (part 31) — divergence, forecast-quality, concentration,
and higher-moment profiles (SURVEY.md §2-E E237-E240).

Thirtieth batch, registered late in round 9: per-source KL divergence
against the corpus length distribution (the directed companion of
E188's symmetric-ish PSI), Theil's U2 forecast-quality ratio for the
seasonal-naive forecaster (the relative-accuracy complement of E189's
MASE), the Herfindahl-Hirschman concentration index per category, and
the standardized skewness/kurtosis moment profile per source.

Exactness discipline as the rest of the round: integer sufficient
statistics with overflow guards, Laplace smoothing stated, folds in
explicit bin order (E133), try_divide on degenerate denominators, one
identically-parenthesized IEEE expression per output.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import io
from ..registry import register
from .pipeline_ext17 import _no_silent_overflow

# ---------------------------------------------------------------------------
# E237: per-source KL divergence vs the corpus length distribution
# ---------------------------------------------------------------------------

_KL_BINS = 10


@register(
    "kl_divergence_sources",
    tier="D",
    oracle=f"""
    WITH lens AS (SELECT source, n_chars FROM documents),
    srt AS (SELECT list_sort(list(n_chars)) AS sl FROM lens),
    edges AS (
      SELECT list_transform(generate_series(1, {_KL_BINS - 1}),
                            k -> sl[CAST(CEIL(k * len(sl) / {_KL_BINS}.0)
                                        AS INTEGER)]) AS b
      FROM srt
    ),
    binned AS (
      SELECT l.source,
             1 + len(list_filter(e.b, x -> l.n_chars > x)) AS bin
      FROM lens l, edges e
    ),
    per AS (
      SELECT source, bin, CAST(COUNT(*) AS BIGINT) AS c
      FROM binned GROUP BY source, bin
    ),
    grid AS (
      SELECT s.source, b.bin, COALESCE(p.c, 0) AS c
      FROM (SELECT DISTINCT source FROM per) s
      CROSS JOIN (SELECT CAST(unnest(generate_series(1, {_KL_BINS}))
                          AS BIGINT) AS bin) b
      LEFT JOIN per p ON p.source = s.source AND p.bin = b.bin
    ),
    tot AS (
      SELECT bin, CAST(SUM(c) AS BIGINT) AS ct FROM grid GROUP BY bin
    ),
    sizes AS (
      SELECT source, CAST(SUM(c) AS BIGINT) AS ns FROM grid GROUP BY source
    ),
    contrib AS (
      SELECT g.source, g.bin,
             ((CAST(g.c AS DOUBLE) + 0.5)
              / (CAST(z.ns AS DOUBLE) + {_KL_BINS / 2}))
             * ln(((CAST(g.c AS DOUBLE) + 0.5)
                   / (CAST(z.ns AS DOUBLE) + {_KL_BINS / 2}))
                  / ((CAST(t.ct AS DOUBLE) + 0.5)
                     / ((SELECT SUM(ns) FROM sizes) + {_KL_BINS / 2})))
               AS kc,
             z.ns
      FROM grid g
      JOIN tot t ON g.bin = t.bin
      JOIN sizes z ON g.source = z.source
    )
    SELECT source,
           CAST(MIN(ns) AS BIGINT) AS n_docs,
           CAST(FLOOR(list_reduce(
                  list_prepend(CAST(0 AS DOUBLE), list(kc ORDER BY bin)),
                  (a, x) -> a + x) * 1000000) AS BIGINT) AS kl_ppm
    FROM contrib GROUP BY source
    """,
)
def kl_divergence_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E237: KL divergence D(source ‖ corpus) of each source's length
    distribution against the pooled corpus on the corpus-decile grid —
    the DIRECTED divergence (how surprised the corpus model is by this
    source) next to E188's PSI (symmetric-ish, per-bin) and E208's KS
    (max-gap): KL is the one that prices the surprise in nats, the
    quantity mixture-weight optimizers (E60) actually trade off.

    Mechanics: bin edges are corpus-wide nearest-rank deciles (total
    order, exact); both distributions are Laplace-smoothed
    ((c+0.5)/(n+B/2), stated) so no bin is ever empty; each bin's
    contribution crosses IEEE once (ln bit-identical, E86) and the
    cross-bin sum folds in BIN ORDER (the E133 device).

    Scale shape: edges are one bounded sorted pick; binning is a
    map-side comparison against 9 broadcast edges; the evaluation grid
    is |sources| x 10 metadata."""
    lens = io.table(spark, sf_dir, "documents").select("source", "n_chars")
    ranked = lens.select(
        "n_chars",
        F.row_number().over(Window.orderBy("n_chars", "source")).alias("r"),
        F.count("*")
        .over(Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
        .alias("n"),
    )
    edges = ranked.agg(
        *[
            F.max(
                F.when(
                    F.col("r") == F.ceil(F.lit(k) * F.col("n") / _KL_BINS).cast("long"),
                    F.col("n_chars"),
                )
            ).alias(f"e{k}")
            for k in range(1, _KL_BINS)
        ]
    ).select(F.array(*[F.col(f"e{k}") for k in range(1, _KL_BINS)]).alias("b"))
    binned = lens.crossJoin(F.broadcast(edges)).select(
        "source",
        (1 + F.size(F.filter("b", lambda x: F.col("n_chars") > x)))
        .cast("long")
        .alias("bin"),
    )
    per = binned.groupBy("source", "bin").agg(F.count("*").cast("long").alias("c"))
    bins = lens.sparkSession.range(1, _KL_BINS + 1).select(
        F.col("id").cast("long").alias("bin")
    )
    grid = (
        per.select("source")
        .distinct()
        .crossJoin(F.broadcast(bins))
        .join(per, ["source", "bin"], "left")
        .select("source", "bin", F.coalesce("c", F.lit(0)).alias("c"))
    )
    tot = grid.groupBy("bin").agg(F.sum("c").cast("long").alias("ct"))
    sizes = grid.groupBy("source").agg(F.sum("c").cast("long").alias("ns"))
    nall = sizes.agg(F.sum("ns").cast("long").alias("nall"))
    half = _KL_BINS / 2
    contrib = (
        grid.join(F.broadcast(tot), "bin")
        .join(F.broadcast(sizes), "source")
        .crossJoin(F.broadcast(nall))
        .select(
            "source",
            "bin",
            "ns",
            (
                ((F.col("c").cast("double") + 0.5) / (F.col("ns").cast("double") + half))
                * F.log(
                    ((F.col("c").cast("double") + 0.5) / (F.col("ns").cast("double") + half))
                    / (
                        (F.col("ct").cast("double") + 0.5)
                        / (F.col("nall").cast("double") + half)
                    )
                )
            ).alias("kc"),
        )
    )
    return contrib.groupBy("source").agg(
        F.min("ns").cast("long").alias("n_docs"),
        F.floor(
            F.aggregate(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("bin", "kc"))),
                    lambda s: s["kc"],
                ),
                F.lit(0.0),
                lambda a, x: a + x,
            )
            * 1000000
        )
        .cast("long")
        .alias("kl_ppm"),
    )


# ---------------------------------------------------------------------------
# E238: Theil's U2 forecast-quality ratio
# ---------------------------------------------------------------------------


@register(
    "theil_u2_forecast",
    tier="D",
    oracle="""
    WITH daily AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1
    ),
    lagged AS (
      SELECT day, n,
             LAG(n, 1) OVER (ORDER BY day) AS naive,
             LAG(n, 7) OVER (ORDER BY day) AS seasonal
      FROM daily
    ),
    scored AS (
      SELECT n, naive, seasonal FROM lagged
      WHERE naive IS NOT NULL AND seasonal IS NOT NULL
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_scored,
             SUM(CAST(n - seasonal AS HUGEINT) * (n - seasonal)) AS sse_seasonal,
             SUM(CAST(n - naive AS HUGEINT) * (n - naive)) AS sse_naive
      FROM scored
    )
    SELECT n_scored,
           CAST(sse_seasonal AS BIGINT) AS sse_seasonal,
           CAST(sse_naive AS BIGINT) AS sse_naive,
           CAST(FLOOR(sqrt(CAST(sse_seasonal AS DOUBLE)
                           / CAST(sse_naive AS DOUBLE)) * 1000) AS BIGINT)
             AS theil_u2_milli
    FROM s
    """,
)
def theil_u2_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E238: Theil's U2 for the seasonal-naive forecaster — the RMSE
    ratio √(SSE_seasonal / SSE_naive) over the days where both the
    last-week and the last-day forecast exist.  U2 < 1 means weekly
    seasonality beats the random walk; E189 (MASE) scales by mean
    ABSOLUTE error, U2 by squared error — quoting both is standard
    forecast-review practice because they disagree exactly when a few
    large misses dominate.

    Exactness: both SSEs are exact HUGEINT/decimal(38,0) integer sums
    of squared integer errors over the SAME scored-day set; one sqrt
    of one division, floored to milli; a perfectly-predicted naive
    (SSE=0) leaves U2 undefined (try_divide -> NULL).

    Scale shape: one daily rollup; ONE window sort provides both
    lags; a 3-integer row out."""
    dec = "decimal(38,0)"
    daily = (
        io.table(spark, sf_dir, "events")
        .groupBy(F.to_date(F.date_trunc("day", "ts")).alias("day"))
        .agg(F.count("*").cast("long").alias("n"))
    )
    wl = Window.orderBy("day")
    lagged = daily.select(
        "n",
        F.lag("n", 1).over(wl).alias("naive"),
        F.lag("n", 7).over(wl).alias("seasonal"),
    ).filter(F.col("naive").isNotNull() & F.col("seasonal").isNotNull())
    s = lagged.agg(
        F.count("*").cast("long").alias("n_scored"),
        F.sum(
            _no_silent_overflow(
                (
                    (F.col("n") - F.col("seasonal")).cast(dec)
                    * (F.col("n") - F.col("seasonal"))
                ).cast(dec),
                "E238 seasonal err^2",
            )
        )
        .cast(dec)
        .alias("sse_seasonal"),
        F.sum(
            _no_silent_overflow(
                ((F.col("n") - F.col("naive")).cast(dec) * (F.col("n") - F.col("naive"))).cast(
                    dec
                ),
                "E238 naive err^2",
            )
        )
        .cast(dec)
        .alias("sse_naive"),
    )
    return s.select(
        "n_scored",
        F.col("sse_seasonal").cast("long").alias("sse_seasonal"),
        F.col("sse_naive").cast("long").alias("sse_naive"),
        F.floor(
            F.sqrt(
                F.try_divide(
                    F.col("sse_seasonal").cast("double"), F.col("sse_naive").cast("double")
                )
            )
            * 1000
        )
        .cast("long")
        .alias("theil_u2_milli"),
    )


# ---------------------------------------------------------------------------
# E239: Herfindahl-Hirschman concentration index
# ---------------------------------------------------------------------------


@register(
    "herfindahl_category",
    tier="D",
    oracle="""
    WITH lines AS (
      SELECT split_part(p.p_type, ' ', 1) AS category,
             p.p_brand,
             CAST(ROUND(l.l_extendedprice * 100, 0) AS BIGINT) AS cents
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ),
    cell AS (
      SELECT category, p_brand, CAST(SUM(cents) AS HUGEINT) AS rev
      FROM lines GROUP BY category, p_brand
    ),
    tot AS (
      SELECT category, CAST(SUM(rev) AS HUGEINT) AS t,
             CAST(COUNT(*) AS BIGINT) AS n_brands
      FROM cell GROUP BY category
    )
    SELECT c.category,
           t.n_brands,
           CAST(FLOOR(CAST(SUM(c.rev * c.rev) AS DOUBLE)
                      / (CAST(t.t AS DOUBLE) * CAST(t.t AS DOUBLE))
                      * 1000000) AS BIGINT) AS hhi_ppm,
           CAST(FLOOR((CAST(SUM(c.rev * c.rev) AS DOUBLE)
                       / (CAST(t.t AS DOUBLE) * CAST(t.t AS DOUBLE))
                       - 1.0 / t.n_brands)
                      / (1.0 - 1.0 / t.n_brands) * 1000000) AS BIGINT)
             AS normalized_hhi_ppm
    FROM cell c JOIN tot t ON c.category = t.category
    GROUP BY c.category, t.n_brands, t.t
    """,
)
def herfindahl_category(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E239: Herfindahl-Hirschman index of brand revenue concentration
    within each category — HHI = Σ share², the antitrust-standard
    concentration number (10000·HHI > 2500 = highly concentrated),
    plus the normalized form (HHI - 1/n)/(1 - 1/n) that is comparable
    across categories with different brand counts.  Completes the
    concentration family: E104 top-k share, E126 Gini, E225 Lorenz —
    HHI is the one regulators and category managers quote.

    Exactness: HHI = Σrev² / (Σrev)² keeps every sum an exact
    HUGEINT/decimal(38,0) integer (no per-share rounding compounds);
    one division per output, floored to ppm; a single-brand category
    normalizes to NULL (0/0, try_divide).

    Scale shape: broadcast dim join + (category, brand) rollup +
    category rollup — all map-side combinable; |categories| rows."""
    dec = "decimal(38,0)"
    li = io.table(spark, sf_dir, "lineitem").select("l_partkey", "l_extendedprice")
    pt = io.table(spark, sf_dir, "part").select(
        "p_partkey",
        F.split_part(F.col("p_type"), F.lit(" "), F.lit(1)).alias("category"),
        "p_brand",
    )
    cell = (
        li.join(F.broadcast(pt), li.l_partkey == pt.p_partkey)
        .groupBy("category", "p_brand")
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 100, 0).cast("long"))
            .cast(dec)
            .alias("rev")
        )
    )
    tot = cell.groupBy("category").agg(
        F.sum("rev").cast(dec).alias("t"), F.count("*").cast("long").alias("n_brands")
    )
    j = cell.join(F.broadcast(tot), "category")
    hhi = F.sum(
        _no_silent_overflow((F.col("rev") * F.col("rev")).cast(dec), "E239 rev^2")
    ).cast("double") / (
        F.first("t").cast("double") * F.first("t").cast("double")
    )
    inv_n = F.lit(1.0) / F.first("n_brands")
    return j.groupBy("category").agg(
        F.first("n_brands").alias("n_brands"),
        F.floor(hhi * 1000000).cast("long").alias("hhi_ppm"),
        F.floor(F.try_divide(hhi - inv_n, F.lit(1.0) - inv_n) * 1000000)
        .cast("long")
        .alias("normalized_hhi_ppm"),
    )


# ---------------------------------------------------------------------------
# E240: skewness / kurtosis moment profile
# ---------------------------------------------------------------------------


@register(
    "moments_skew_kurtosis",
    tier="D",
    oracle="""
    WITH s AS (
      SELECT source,
             CAST(COUNT(*) AS HUGEINT) AS n,
             CAST(SUM(n_chars) AS HUGEINT) AS s1,
             SUM(CAST(n_chars AS HUGEINT) * n_chars) AS s2,
             SUM(CAST(n_chars AS HUGEINT) * n_chars * n_chars) AS s3,
             SUM(CAST(n_chars AS HUGEINT) * n_chars * n_chars * n_chars) AS s4
      FROM documents GROUP BY source
    ),
    m AS (
      SELECT source, CAST(n AS BIGINT) AS n_docs,
             CAST(n * s2 - s1 * s1 AS DOUBLE)
               / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS m2,
             (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(s3 AS DOUBLE)
              - 3.0 * CAST(n AS DOUBLE) * CAST(s1 AS DOUBLE) * CAST(s2 AS DOUBLE)
              + 2.0 * CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS m3,
             (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                * CAST(s4 AS DOUBLE)
              - 4.0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(s1 AS DOUBLE)
                * CAST(s3 AS DOUBLE)
              + 6.0 * CAST(n AS DOUBLE) * CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                * CAST(s2 AS DOUBLE)
              - 3.0 * CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                * CAST(s1 AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                * CAST(n AS DOUBLE)) AS m4
      FROM s
    )
    SELECT source, n_docs,
           CAST(FLOOR(m3 / (sqrt(m2) * sqrt(m2) * sqrt(m2)) * 1000) AS BIGINT)
             AS skewness_milli,
           CAST(FLOOR((m4 / (m2 * m2) - 3.0) * 1000) AS BIGINT)
             AS excess_kurtosis_milli
    FROM m
    """,
)
def moments_skew_kurtosis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E240: standardized skewness g₁ = m₃/m₂^1.5 and excess kurtosis
    g₂ = m₄/m₂² - 3 of document length per source — the tail-shape
    profile above mean/variance: positive skew = a long-document tail
    (the web-scrape signature), high kurtosis = outlier-heavy.  The
    moment family's completion over E97 (MAD), E126 (Gini), E181
    (trimmed mean).

    Exactness: the four power sums are exact HUGEINT/decimal(38,0)
    integers (quartic terms guarded — n_chars ≤ ~10⁴ keeps x⁴ ≤ 10¹⁶
    per row, x n docs within the 38-digit envelope); the central-
    moment expansions and standardizations are identically-
    parenthesized double expressions with m₂^1.5 spelled as three
    sqrt factors so both engines issue the same ops; floored to
    milli; a constant source (m₂=0) is NULL via try_divide.

    Scale shape: ONE map-side-combinable rollup carrying 5 integers
    per source; |sources| rows out."""
    dec = "decimal(38,0)"
    x = F.col("n_chars").cast(dec)
    s = (
        io.table(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(
            F.count("*").cast(dec).alias("n"),
            F.sum("n_chars").cast(dec).alias("s1"),
            F.sum(_no_silent_overflow((x * F.col("n_chars")).cast(dec), "E240 x^2"))
            .cast(dec)
            .alias("s2"),
            F.sum(
                _no_silent_overflow(
                    (x * F.col("n_chars") * F.col("n_chars")).cast(dec), "E240 x^3"
                )
            )
            .cast(dec)
            .alias("s3"),
            F.sum(
                _no_silent_overflow(
                    (x * F.col("n_chars") * F.col("n_chars") * F.col("n_chars")).cast(dec),
                    "E240 x^4",
                )
            )
            .cast(dec)
            .alias("s4"),
        )
    )
    nd = F.col("n").cast("double")
    s1, s2, s3, s4 = (F.col(c).cast("double") for c in ("s1", "s2", "s3", "s4"))
    m2 = (F.col("n") * F.col("s2") - F.col("s1") * F.col("s1")).cast("double") / (nd * nd)
    m3 = (nd * nd * s3 - F.lit(3.0) * nd * s1 * s2 + F.lit(2.0) * s1 * s1 * s1) / (
        nd * nd * nd
    )
    m4 = (
        nd * nd * nd * s4
        - F.lit(4.0) * nd * nd * s1 * s3
        + F.lit(6.0) * nd * s1 * s1 * s2
        - F.lit(3.0) * s1 * s1 * s1 * s1
    ) / (nd * nd * nd * nd)
    return s.select(
        "source",
        F.col("n").cast("long").alias("n_docs"),
        F.floor(F.try_divide(m3, F.sqrt(m2) * F.sqrt(m2) * F.sqrt(m2)) * 1000)
        .cast("long")
        .alias("skewness_milli"),
        F.floor((F.try_divide(m4, m2 * m2) - F.lit(3.0)) * 1000)
        .cast("long")
        .alias("excess_kurtosis_milli"),
    )
