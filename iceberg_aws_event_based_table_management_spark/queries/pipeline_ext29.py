"""Tier D (part 30) — long-memory, extreme-value, capability, and
randomness diagnostics on the event/order series (SURVEY.md §2-E
E232-E236).

Twenty-ninth batch, registered late in round 9: the rescaled-range Hurst
exponent (long-memory gauge), Gumbel block-maxima fitting with a
return level (extreme-value capacity planning), the Cp/Cpk process-
capability indices on shipping lag, the Wald-Wolfowitz runs test for
randomness, and the Ljung-Box portmanteau autocorrelation test.

Exactness discipline as ext24-ext28: n-scaled integer deviations,
HUGEINT/decimal(38,0) guarded quadratics, nearest-rank medians,
ordered folds for every cross-row float sum (the E133 device),
mathematical constants as exact literals, try_divide on degenerate
denominators, one identically-parenthesized IEEE expression per
output.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import io
from ..registry import register
from .pipeline_ext17 import _no_silent_overflow

_DAILY_TOTAL_CTE = """
    daily AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1
    )"""


def _daily_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        io.table(spark, sf_dir, "events")
        .groupBy(F.to_date(F.date_trunc("day", "ts")).alias("day"))
        .agg(F.count("*").cast("long").alias("n"))
    )


# ---------------------------------------------------------------------------
# E232: rescaled-range Hurst exponent
# ---------------------------------------------------------------------------

_HURST_WINDOWS = (4, 8, 16)


def _hurst_w_sql(w: int) -> str:
    return f"""
    blocks_{w} AS (
      SELECT (t - 1) // {w} AS blk, t, n
      FROM idx
    ),
    full_{w} AS (
      SELECT blk FROM blocks_{w} GROUP BY blk HAVING COUNT(*) = {w}
    ),
    stats_{w} AS (
      SELECT b.blk, CAST(SUM(b.n) AS HUGEINT) AS s,
             SUM(CAST({w} AS HUGEINT) * b.n * ({w} * b.n))
               AS _unused
      FROM blocks_{w} b JOIN full_{w} f ON b.blk = f.blk
      GROUP BY b.blk
    ),
    dev_{w} AS (
      SELECT b.blk, b.t,
             SUM(CAST({w} AS HUGEINT) * b.n - st.s)
               OVER (PARTITION BY b.blk ORDER BY b.t) AS cum,
             CAST({w} AS HUGEINT) * b.n - st.s AS dv
      FROM blocks_{w} b
      JOIN full_{w} f ON b.blk = f.blk
      JOIN stats_{w} st ON b.blk = st.blk
    ),
    rs_{w} AS (
      SELECT blk,
             (CAST(GREATEST(MAX(cum), 0) - LEAST(MIN(cum), 0) AS DOUBLE)
              / {w})
             / sqrt(CAST(SUM(CAST(dv AS HUGEINT) * dv) AS DOUBLE)
                    / ({w}.0 * {w} * {w})) AS rs
      FROM dev_{w} GROUP BY blk
    ),
    mean_{w} AS (
      SELECT {w} AS w,
             list_reduce(list_prepend(CAST(0 AS DOUBLE),
                                      list(rs ORDER BY blk)),
                         (a, x) -> a + x)
               / CAST(COUNT(*) AS DOUBLE) AS mean_rs,
             CAST(COUNT(*) AS BIGINT) AS n_blocks
      FROM rs_{w}
    )"""


@register(
    "hurst_exponent_rs",
    tier="D",
    oracle="WITH "
    + _DAILY_TOTAL_CTE
    + """,
    idx AS (
      SELECT ROW_NUMBER() OVER (ORDER BY day) AS t, n FROM daily
    ),"""
    + ",".join(_hurst_w_sql(w) for w in _HURST_WINDOWS)
    + f""",
    pts AS (
      {" UNION ALL ".join(f"SELECT w, mean_rs, n_blocks FROM mean_{w}" for w in _HURST_WINDOWS)}
    ),
    reg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS k,
             list_reduce(list_prepend(CAST(0 AS DOUBLE),
                                      list(ln(CAST(w AS DOUBLE)) ORDER BY w)),
                         (a, x) -> a + x) AS slx,
             list_reduce(list_prepend(CAST(0 AS DOUBLE),
                                      list(ln(mean_rs) ORDER BY w)),
                         (a, x) -> a + x) AS sly,
             list_reduce(list_prepend(CAST(0 AS DOUBLE),
                                      list(ln(CAST(w AS DOUBLE)) * ln(mean_rs)
                                           ORDER BY w)),
                         (a, x) -> a + x) AS slxy,
             list_reduce(list_prepend(CAST(0 AS DOUBLE),
                                      list(ln(CAST(w AS DOUBLE))
                                           * ln(CAST(w AS DOUBLE)) ORDER BY w)),
                         (a, x) -> a + x) AS slxx
      FROM pts WHERE mean_rs > 0
    )
    SELECT k AS n_window_sizes,
           CAST(FLOOR(((CAST(k AS DOUBLE) * slxy - slx * sly)
                       / (CAST(k AS DOUBLE) * slxx - slx * slx)) * 1000)
                AS BIGINT) AS hurst_milli
    FROM reg
    """,
)
def hurst_exponent_rs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E232: rescaled-range (R/S) Hurst exponent of the total daily
    event series — for window sizes {ws}, split the series into
    complete blocks, compute each block's range of cumulative
    mean-deviations over its standard deviation, and fit ln(mean R/S)
    on ln(w): H ≈ 0.5 is memoryless, H > 0.5 long-range persistent
    (bursts cluster — the capacity-planning regime), H < 0.5
    mean-reverting.  The long-memory gauge E169's fixed-lag ACF
    cannot see.

    Exactness: block deviations are w-scaled exact integers (w·x -
    S_b), so cumulative deviations, ranges, and the dev² sums are
    integers; each block's R/S crosses IEEE once; the per-w block
    mean and the 3-point log-log regression fold in block/w order
    (the E133 device); ln is bit-identical cross-engine (E86).

    Scale shape: one daily rollup; per-w block windows partition by
    block over the calendar-bounded series; the regression is a
    3-row fold."""
    dec = "decimal(38,0)"
    daily = _daily_total(spark, sf_dir)
    idx = daily.select(
        F.row_number().over(Window.orderBy("day")).alias("t"), "n"
    )
    pts = None
    for w in _HURST_WINDOWS:
        blocks = idx.select(((F.col("t") - 1) / w).cast("long").alias("blk"), "t", "n")
        full = blocks.groupBy("blk").agg(F.count("*").alias("c")).filter(
            F.col("c") == w
        ).select("blk")
        stats = (
            blocks.join(full, "blk")
            .groupBy("blk")
            .agg(F.sum("n").cast(dec).alias("s"))
        )
        wb = Window.partitionBy("blk").orderBy("t").rowsBetween(
            Window.unboundedPreceding, 0
        )
        dev = (
            blocks.join(full, "blk")
            .join(stats, "blk")
            .select(
                "blk",
                "t",
                _no_silent_overflow(
                    (F.lit(w).cast(dec) * F.col("n") - F.col("s")).cast(dec),
                    f"E232 dev w={w}",
                ).alias("dv"),
            )
            .withColumn("cum", F.sum("dv").over(wb))
        )
        # try_divide: an all-tied block has zero std (degenerate sweep)
        rs = dev.groupBy("blk").agg(
            F.try_divide(
                (
                    F.greatest(F.max("cum"), F.lit(0))
                    - F.least(F.min("cum"), F.lit(0))
                ).cast("double")
                / w,
                F.sqrt(
                    F.sum(
                        _no_silent_overflow(
                            (F.col("dv").cast(dec) * F.col("dv")).cast(dec),
                            f"E232 dv^2 w={w}",
                        )
                    ).cast("double")
                    / (float(w) * w * w)
                ),
            ).alias("rs")
        )
        # no NULL filter: a tied block's NULL rs poisons the whole w's
        # mean in BOTH engines (the struct survives collect_list with a
        # null field; DuckDB's list() keeps NULLs) and the w drops at
        # the mean_rs > 0 gate — identical composition either side
        mean_w = rs.agg(
            F.lit(w).alias("w"),
            F.try_divide(
                F.aggregate(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("blk", "rs"))),
                        lambda s_: s_["rs"],
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ),
                F.count("*").cast("double"),
            ).alias("mean_rs"),
            F.count("*").cast("long").alias("n_blocks"),
        )
        pts = mean_w if pts is None else pts.unionByName(mean_w)
    reg = pts.filter(F.col("mean_rs") > 0).agg(
        F.count("*").cast("long").alias("k"),
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("w", "mean_rs"))),
                lambda s_: F.log(s_["w"].cast("double")),
            ),
            F.lit(0.0),
            lambda a, x: a + x,
        ).alias("slx"),
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("w", "mean_rs"))),
                lambda s_: F.log(s_["mean_rs"]),
            ),
            F.lit(0.0),
            lambda a, x: a + x,
        ).alias("sly"),
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("w", "mean_rs"))),
                lambda s_: F.log(s_["w"].cast("double")) * F.log(s_["mean_rs"]),
            ),
            F.lit(0.0),
            lambda a, x: a + x,
        ).alias("slxy"),
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("w", "mean_rs"))),
                lambda s_: F.log(s_["w"].cast("double")) * F.log(s_["w"].cast("double")),
            ),
            F.lit(0.0),
            lambda a, x: a + x,
        ).alias("slxx"),
    )
    kd = F.col("k").cast("double")
    slope = F.try_divide(
        kd * F.col("slxy") - F.col("slx") * F.col("sly"),
        kd * F.col("slxx") - F.col("slx") * F.col("slx"),
    )
    return reg.select(
        F.col("k").alias("n_window_sizes"),
        F.floor(slope * 1000).cast("long").alias("hurst_milli"),
    )


hurst_exponent_rs.__doc__ = hurst_exponent_rs.__doc__.format(ws=_HURST_WINDOWS)


# ---------------------------------------------------------------------------
# E233: Gumbel block maxima + return level
# ---------------------------------------------------------------------------

_EULER_GAMMA = 0.5772156649015329
_PI = 3.141592653589793
_SQRT6 = 2.449489742783178
_GUMBEL_T = 52


@register(
    "gumbel_weekly_maxima",
    tier="D",
    oracle="WITH "
    + _DAILY_TOTAL_CTE
    + f""",
    weekly AS (
      SELECT date_trunc('week', day) AS wk, CAST(MAX(n) AS BIGINT) AS mx
      FROM daily GROUP BY 1
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(mx) AS HUGEINT) AS sm,
             SUM(CAST(mx AS HUGEINT) * mx) AS smm
      FROM weekly
    ),
    fit AS (
      SELECT k,
             CAST(sm AS DOUBLE) / k AS m,
             sqrt(CAST(k * smm - sm * sm AS DOUBLE)
                  / (CAST(k AS DOUBLE) * CAST(k - 1 AS DOUBLE)))
               * {_SQRT6} / {_PI} AS beta
      FROM s
    )
    SELECT k AS n_weeks,
           CAST(FLOOR((m - {_EULER_GAMMA} * beta) * 1000) AS BIGINT) AS mu_milli,
           CAST(FLOOR(beta * 1000) AS BIGINT) AS beta_milli,
           CAST(FLOOR(((m - {_EULER_GAMMA} * beta)
                       - beta * ln(-ln(1.0 - 1.0 / {_GUMBEL_T})))
                      * 1000) AS BIGINT) AS return_level_{_GUMBEL_T}w_milli
    FROM fit
    """,
)
def gumbel_weekly_maxima(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E233: Gumbel extreme-value fit on WEEKLY MAXIMA of the daily
    event count — method-of-moments (β = s·√6/π, μ = m̄ - γβ) plus
    the {t}-week return level μ - β·ln(-ln(1-1/{t})): "the busiest
    day you should expect in a year".  E131 flags past spikes; EVT
    extrapolates to the spike you have NOT seen yet — the
    capacity-planning number.  Block maxima (not peaks-over-
    threshold) because the weekly grid is the natural block.

    Exactness: weekly maxima and their (k, Σ, Σ²) are exact integers;
    γ, π, √6, and the return-period constant are exact literals; β,
    μ, and the return level each cross IEEE once (ln bit-identical,
    E86), floored to milli; a single week makes β undefined
    (try_divide -> NULL).

    Scale shape: daily rollup -> weekly max rollup (both map-side
    combinable) -> one 3-integer row."""
    dec = "decimal(38,0)"
    daily = _daily_total(spark, sf_dir)
    weekly = daily.groupBy(F.date_trunc("week", "day").alias("wk")).agg(
        F.max("n").cast("long").alias("mx")
    )
    s = weekly.agg(
        F.count("*").cast("long").alias("k"),
        F.sum("mx").cast(dec).alias("sm"),
        F.sum(
            _no_silent_overflow((F.col("mx").cast(dec) * F.col("mx")).cast(dec), "E233 mx^2")
        )
        .cast(dec)
        .alias("smm"),
    )
    m = F.col("sm").cast("double") / F.col("k").cast("double")
    beta = (
        F.sqrt(
            F.try_divide(
                (F.col("k") * F.col("smm") - F.col("sm") * F.col("sm")).cast("double"),
                F.col("k").cast("double") * (F.col("k") - 1).cast("double"),
            )
        )
        * _SQRT6
        / _PI
    )
    mu = m - _EULER_GAMMA * beta
    rl = mu - beta * F.log(-F.log(F.lit(1.0) - 1.0 / _GUMBEL_T))
    return s.select(
        F.col("k").alias("n_weeks"),
        F.floor(mu * 1000).cast("long").alias("mu_milli"),
        F.floor(beta * 1000).cast("long").alias("beta_milli"),
        F.floor(rl * 1000).cast("long").alias(f"return_level_{_GUMBEL_T}w_milli"),
    )


gumbel_weekly_maxima.__doc__ = gumbel_weekly_maxima.__doc__.format(t=_GUMBEL_T)


# ---------------------------------------------------------------------------
# E234: Cp / Cpk process capability
# ---------------------------------------------------------------------------

_CPK_LSL_DAYS = 0
_CPK_USL_DAYS = 120


@register(
    "cpk_shipping_capability",
    tier="D",
    oracle=f"""
    WITH lag AS (
      SELECT o.o_orderpriority,
             CAST(date_diff('day', o.o_orderdate, l.l_shipdate) AS BIGINT) AS d
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    s AS (
      SELECT o_orderpriority,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(d) AS HUGEINT) AS sd,
             SUM(CAST(d AS HUGEINT) * d) AS sdd
      FROM lag GROUP BY o_orderpriority
    ),
    fit AS (
      SELECT o_orderpriority, n,
             CAST(sd AS DOUBLE) / n AS m,
             sqrt(CAST(n * sdd - sd * sd AS DOUBLE)
                  / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))) AS sig
      FROM s
    )
    SELECT o_orderpriority,
           n AS n_lines,
           CAST(FLOOR(m * 1000) AS BIGINT) AS mean_lag_milli,
           CAST(FLOOR(sig * 1000) AS BIGINT) AS std_lag_milli,
           CAST(FLOOR(({_CPK_USL_DAYS} - {_CPK_LSL_DAYS}) / (6.0 * sig) * 1000)
                AS BIGINT) AS cp_milli,
           CAST(FLOOR(LEAST({_CPK_USL_DAYS} - m, m - {_CPK_LSL_DAYS})
                      / (3.0 * sig) * 1000) AS BIGINT) AS cpk_milli
    FROM fit
    """,
)
def cpk_shipping_capability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E234: Cp / Cpk process-capability indices of the order-to-ship
    lag per priority against a [{l}, {u}]-day spec — the SPC numbers
    an ops SLA review quotes: Cp measures whether the PROCESS SPREAD
    fits the spec at all, Cpk whether it fits WHERE the process is
    centered (Cpk ≪ Cp = off-center).  E63 reports the lag
    percentiles; capability indexes them against the contract.

    Exactness: lags are exact integer days (both engines diff
    midnight-aligned dates); (n, Σ, Σ²) exact; mean/std/Cp/Cpk each
    cross IEEE once, floored to milli; a single-line group makes the
    std undefined (try_divide -> NULL).

    Scale shape: one orderkey equi-join + one priority rollup
    (map-side combinable); 5-row output."""
    dec = "decimal(38,0)"
    li = io.table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    o = io.table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority", "o_orderdate"
    )
    lag = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "o_orderpriority",
        F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate"))
        .cast("long")
        .alias("d"),
    )
    s = lag.groupBy("o_orderpriority").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("d").cast(dec).alias("sd"),
        F.sum(
            _no_silent_overflow((F.col("d").cast(dec) * F.col("d")).cast(dec), "E234 d^2")
        )
        .cast(dec)
        .alias("sdd"),
    )
    m = F.col("sd").cast("double") / F.col("n").cast("double")
    sig = F.sqrt(
        F.try_divide(
            (F.col("n") * F.col("sdd") - F.col("sd") * F.col("sd")).cast("double"),
            F.col("n").cast("double") * (F.col("n") - 1).cast("double"),
        )
    )
    # try_divide: a zero-variance group (all-tied lags) has no defined
    # capability — DuckDB's x/0 -> NULL mirrored (degenerate sweep)
    return s.select(
        "o_orderpriority",
        F.col("n").alias("n_lines"),
        F.floor(m * 1000).cast("long").alias("mean_lag_milli"),
        F.floor(sig * 1000).cast("long").alias("std_lag_milli"),
        F.floor(
            F.try_divide(
                F.lit(float(_CPK_USL_DAYS - _CPK_LSL_DAYS)), F.lit(6.0) * sig
            )
            * 1000
        )
        .cast("long")
        .alias("cp_milli"),
        F.floor(
            F.try_divide(
                F.least(F.lit(_CPK_USL_DAYS) - m, m - _CPK_LSL_DAYS), F.lit(3.0) * sig
            )
            * 1000
        )
        .cast("long")
        .alias("cpk_milli"),
    )


cpk_shipping_capability.__doc__ = cpk_shipping_capability.__doc__.format(
    l=_CPK_LSL_DAYS, u=_CPK_USL_DAYS
)


# ---------------------------------------------------------------------------
# E235: Wald-Wolfowitz runs test
# ---------------------------------------------------------------------------


@register(
    "runs_test_daily",
    tier="D",
    oracle="WITH "
    + _DAILY_TOTAL_CTE
    + """,
    ranked AS (
      SELECT day, n,
             ROW_NUMBER() OVER (ORDER BY n, day) AS r,
             COUNT(*) OVER () AS nd
      FROM daily
    ),
    med AS (
      SELECT n AS m FROM ranked
      WHERE r = CAST(CEIL(nd / 2.0) AS BIGINT)
    ),
    signs AS (
      SELECT day, n > (SELECT m FROM med) AS above
      FROM daily
    ),
    changes AS (
      SELECT above,
             CASE WHEN above <> LAG(above) OVER (ORDER BY day)
                  THEN 1 ELSE 0 END AS chg
      FROM signs
    ),
    runs AS (
      SELECT CAST(1 + COALESCE(SUM(chg), 0) AS BIGINT) AS r_runs,
             CAST(SUM(CASE WHEN above THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             CAST(SUM(CASE WHEN above THEN 0 ELSE 1 END) AS BIGINT) AS n2
      FROM changes
    )
    SELECT n1 + n2 AS n_days, n1 AS n_above, n2 AS n_below, r_runs,
           CAST(FLOOR(((CAST(r_runs AS DOUBLE)
                        - (1.0 + 2.0 * n1 * n2 / (n1 + n2)))
                       / sqrt((2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2))
                              / (CAST(n1 + n2 AS DOUBLE)
                                 * CAST(n1 + n2 AS DOUBLE)
                                 * CAST(n1 + n2 - 1 AS DOUBLE))))
                      * 1000) AS BIGINT) AS z_milli
    FROM runs
    """,
)
def runs_test_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E235: Wald-Wolfowitz runs test on the daily series' above/
    below-median sequence — too FEW runs means regime clustering
    (busy weeks), too MANY means oscillation; the randomness
    pre-check a forecaster (E210) should pass before trusting iid
    residual assumptions.  Median split uses the exact nearest-rank
    median with ties falling to the 'below' side (stated).

    Exactness: the median is a sorted pick over a (n, day) total
    order; run and side counts are pure integers from one lag window;
    E[R] and Var[R] are the closed forms evaluated in one
    identically-parenthesized expression, one sqrt, floored to milli;
    an all-one-side series zeroes the variance (try_divide -> NULL).

    Scale shape: one daily rollup; the rank/lag windows run over the
    calendar-bounded series."""
    daily = _daily_total(spark, sf_dir)
    ranked = daily.select(
        "n",
        F.row_number().over(Window.orderBy("n", "day")).alias("r"),
        F.count("*")
        .over(Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
        .alias("nd"),
    )
    med = ranked.filter(
        F.col("r") == F.ceil(F.col("nd") / 2.0).cast("long")
    ).select(F.col("n").alias("m"))
    signs = daily.crossJoin(F.broadcast(med)).select(
        "day", (F.col("n") > F.col("m")).alias("above")
    )
    wl = Window.orderBy("day")
    runs = signs.select(
        "above",
        F.when(
            F.col("above") != F.lag("above").over(wl), 1
        ).otherwise(0).alias("chg"),
    ).agg(
        (1 + F.coalesce(F.sum("chg"), F.lit(0))).cast("long").alias("r_runs"),
        F.sum(F.when(F.col("above"), 1).otherwise(0)).cast("long").alias("n1"),
        F.sum(F.when(F.col("above"), 0).otherwise(1)).cast("long").alias("n2"),
    )
    n1, n2 = F.col("n1"), F.col("n2")
    nd = (n1 + n2).cast("double")
    # try_divide: a single-day series (n-1 = 0) has no runs variance
    e_r = F.lit(1.0) + F.lit(2.0) * n1 * n2 / (n1 + n2)
    var_r = F.try_divide(
        F.lit(2.0) * n1 * n2 * (F.lit(2.0) * n1 * n2 - n1 - n2),
        nd * nd * (n1 + n2 - 1).cast("double"),
    )
    return runs.select(
        (n1 + n2).alias("n_days"),
        n1.alias("n_above"),
        n2.alias("n_below"),
        "r_runs",
        F.floor(F.try_divide(F.col("r_runs").cast("double") - e_r, F.sqrt(var_r)) * 1000)
        .cast("long")
        .alias("z_milli"),
    )


# ---------------------------------------------------------------------------
# E236: Ljung-Box portmanteau test
# ---------------------------------------------------------------------------

_LB_LAGS = 7


def _lb_lag_sql(k: int) -> str:
    return f"""
             CAST(SUM(CASE WHEN lag{k} IS NULL THEN 0
                           ELSE CAST(nd * n - s AS HUGEINT)
                                * (nd * lag{k} - s) END) AS DOUBLE)
             / CAST(SUM(CAST(nd * n - s AS HUGEINT) * (nd * n - s)) AS DOUBLE)"""


@register(
    "ljung_box_q",
    tier="D",
    oracle="WITH "
    + _DAILY_TOTAL_CTE
    + f""",
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS nd, CAST(SUM(n) AS BIGINT) AS s
      FROM daily
    ),
    lagged AS (
      SELECT d.n, m.nd, m.s,
             {", ".join(f"LAG(d.n, {k}) OVER (ORDER BY d.day) AS lag{k}" for k in range(1, _LB_LAGS + 1))}
      FROM daily d, m
    ),
    rho AS (
      SELECT MIN(nd) AS nd,
             {", ".join(f"({_lb_lag_sql(k)}) AS rho{k}" for k in range(1, _LB_LAGS + 1))}
      FROM lagged
    )
    SELECT nd AS n_days,
           {_LB_LAGS} AS df,
           CAST(FLOOR(rho1 * 1000000) AS BIGINT) AS rho1_ppm,
           CAST(FLOOR(CAST(nd AS DOUBLE) * (nd + 2)
                      * ({" + ".join(f"rho{k} * rho{k} / (nd - {k})" for k in range(1, _LB_LAGS + 1))})
                      * 1000) AS BIGINT) AS q_milli
    FROM rho
    """,
)
def ljung_box_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E236: Ljung-Box portmanteau test over lags 1..{L} of the total
    daily series — Q = n(n+2)·Σ ρ̂_k²/(n-k), the "is there ANY
    autocorrelation" test (chi-square with {L} df under the null).
    E169 reports two chosen lags; Ljung-Box aggregates the whole
    short-lag structure into one decision statistic — the residual
    whiteness check for E210's forecasts.

    Exactness: every ρ̂_k uses the E169 n-scaled integer-deviation
    device (HUGEINT products); the Q composition is one fixed
    7-term identically-parenthesized expression (no variable-order
    float sum), floored to milli.

    Scale shape: one daily rollup; ONE window sort provides all {L}
    lags; one 9-number row out."""
    dec = "decimal(38,0)"
    daily = _daily_total(spark, sf_dir)
    m = daily.agg(
        F.count("*").cast("long").alias("nd"), F.sum("n").cast("long").alias("s")
    )
    wl = Window.orderBy("day")
    lagged = daily.crossJoin(F.broadcast(m)).select(
        "n",
        "nd",
        "s",
        *[F.lag("n", k).over(wl).alias(f"lag{k}") for k in range(1, _LB_LAGS + 1)],
    )
    dev = _no_silent_overflow(
        (F.col("nd").cast(dec) * F.col("n") - F.col("s")).cast(dec), "E236 dev"
    )

    def rho(k: int):
        num = F.sum(
            F.when(F.col(f"lag{k}").isNull(), F.lit(0).cast(dec)).otherwise(
                _no_silent_overflow(
                    (dev * (F.col("nd").cast(dec) * F.col(f"lag{k}") - F.col("s"))).cast(
                        dec
                    ),
                    f"E236 cross k={k}",
                )
            )
        ).cast("double")
        den = F.sum(
            _no_silent_overflow((dev * dev).cast(dec), "E236 dev^2")
        ).cast("double")
        # try_divide: a constant (or single-day) series has zero
        # total deviation — DuckDB's x/0 -> NULL mirrored
        return F.try_divide(num, den)

    rhos = lagged.agg(
        F.min("nd").alias("nd"),
        *[rho(k).alias(f"rho{k}") for k in range(1, _LB_LAGS + 1)],
    )
    ndd = F.col("nd").cast("double")
    q = (
        ndd
        * (F.col("nd") + 2)
        * sum(
            F.col(f"rho{k}") * F.col(f"rho{k}") / (F.col("nd") - k)
            for k in range(1, _LB_LAGS + 1)
        )
    )
    return rhos.select(
        F.col("nd").alias("n_days"),
        F.lit(_LB_LAGS).cast("int").alias("df"),
        F.floor(F.col("rho1") * 1000000).cast("long").alias("rho1_ppm"),
        F.floor(q * 1000).cast("long").alias("q_milli"),
    )


ljung_box_q.__doc__ = ljung_box_q.__doc__.format(L=_LB_LAGS)
