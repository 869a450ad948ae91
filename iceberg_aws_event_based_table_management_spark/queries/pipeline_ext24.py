"""Tier D (part 25) — robust moments and rank/association statistics
(SURVEY.md §2-E E199-E205).

Twenty-fourth batch, registered in round 9: MinHash-vs-exact-Jaccard
calibration REGRESSION (the fitted-line extension of E197's per-pair
audit), winsorized revenue stats (clamp complement of E181's trim),
the Grubbs max-deviation outlier statistic per daily series, the
jackknife leave-one-out standard error, Kendall's tau-b on the
(quantity x price-vigintile) grid, Spearman rank correlation between
two daily event series, and the partial correlation of price and
quantity controlling for discount.

Exactness discipline as ext17: every sufficient statistic is an exact
integer (n-scaled deviations; quadratic/cross terms in decimal(38,0)
Spark / HUGEINT DuckDB with fail-stop overflow guards); sqrt is the
one correctly-rounded transcendental; each output crosses IEEE
through ONE identically-parenthesized expression, floored to ppm.
try_divide mirrors DuckDB's x/0 -> NULL on degenerate inputs (zero
variance, <2 pairs) per the round-9 degenerate-sweep convention.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import io
from ..registry import register
from .pipeline_ext8 import _DAILY_CTE, _daily
from .pipeline_ext17 import _no_silent_overflow
from .pipeline_ext23 import _neutral_seeded_hash

# ---------------------------------------------------------------------------
# E199: MinHash calibration regression
# ---------------------------------------------------------------------------

_MHR_K = 16
_MHR_MIN_JACCARD = 0.25


@register(
    "minhash_jaccard_regression",
    tier="D",
    oracle=rf"""
    WITH ws AS (
      SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS w
      FROM documents
    ),
    grams AS (
      SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS shingle
      FROM ws, UNNEST(generate_series(1, len(w) - 2)) AS t(i)
      WHERE array_to_string(w[i:i+2], ' ') <> ''
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM grams GROUP BY doc_id),
    pg AS (
      -- the boilerplate cap the Spark side applies (jaccard_pairs
      -- df_cap=1000): shingles shared by more than 1000 docs carry no
      -- pair evidence.  Sizes (sa.n/sb.n) still count ALL shingles,
      -- exactly like the operator.  Vacuous at every graded sf
      -- (fixture max df 25) — encoded so the contract is
      -- self-consistent at ANY sf (r15 ADVICE, low).
      SELECT doc_id, shingle FROM grams
      WHERE shingle IN (SELECT shingle FROM grams
                        GROUP BY shingle HAVING COUNT(*) <= 1000)
    ),
    prs AS (
      SELECT a.doc_id AS da, b.doc_id AS db,
             CAST(FLOOR(CAST(COUNT(*) AS DOUBLE)
                        / (MIN(sa.n) + MIN(sb.n) - COUNT(*)) * 1000000)
                  AS BIGINT) AS jac_ppm
      FROM pg a
      JOIN pg b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      JOIN sizes sa ON a.doc_id = sa.doc_id
      JOIN sizes sb ON b.doc_id = sb.doc_id
      GROUP BY 1, 2
      HAVING CAST(COUNT(*) AS DOUBLE) / (MIN(sa.n) + MIN(sb.n) - COUNT(*))
             >= {_MHR_MIN_JACCARD}
    ),
    sigs AS (
      SELECT doc_id,
             {", ".join(
               "MIN(CAST(list_reduce(string_split("
               f"'0' || substr(md5(shingle || ':{i}'), 1, 15), ''),"
               " (acc, c) -> CAST(acc AS BIGINT) * 16"
               f" + strpos('0123456789abcdef', c) - 1) AS BIGINT)) AS h{i}"
               for i in range(_MHR_K)
             )}
      FROM grams GROUP BY doc_id
    ),
    pts AS (
      SELECT p.jac_ppm AS y,
             CAST(({" + ".join(
               f"CASE WHEN a.h{i} = b.h{i} THEN 1 ELSE 0 END"
               for i in range(_MHR_K)
             )}) * {1_000_000 // _MHR_K} AS BIGINT) AS x
      FROM prs p JOIN sigs a ON p.da = a.doc_id JOIN sigs b ON p.db = b.doc_id
    ),
    s AS (
      SELECT CAST(COUNT(*) AS HUGEINT) AS n,
             CAST(COALESCE(SUM(x), 0) AS HUGEINT) AS sx,
             CAST(COALESCE(SUM(y), 0) AS HUGEINT) AS sy,
             COALESCE(SUM(CAST(x AS HUGEINT) * y), 0) AS sxy,
             COALESCE(SUM(CAST(x AS HUGEINT) * x), 0) AS sxx,
             COALESCE(SUM(CAST(y AS HUGEINT) * y), 0) AS syy
      FROM pts
    )
    SELECT CAST(n AS BIGINT) AS n_pairs,
           CAST(FLOOR((CAST(n * sxy - sx * sy AS DOUBLE)
                       / CAST(n * sxx - sx * sx AS DOUBLE)) * 1000000)
                AS BIGINT) AS slope_ppm,
           CAST(FLOOR((CAST(sy * sxx - sx * sxy AS DOUBLE)
                       / CAST(n * sxx - sx * sx AS DOUBLE))) AS BIGINT)
             AS intercept_ppm,
           CAST(FLOOR(((CAST(n * sxy - sx * sy AS DOUBLE)
                        * CAST(n * sxy - sx * sy AS DOUBLE))
                       / (CAST(n * sxx - sx * sx AS DOUBLE)
                          * CAST(n * syy - sy * sy AS DOUBLE))) * 1000000)
                AS BIGINT) AS r2_ppm
    FROM s
    """,
)
def minhash_jaccard_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E199: OLS calibration line of exact Jaccard on the 16-component
    MinHash estimate over all verified pairs with J >= 0.25 — E197
    audits each pair's signed error; this fits the corpus-level line
    (slope ~1, intercept ~0, r² high means the sketch is calibrated
    at this shingle distribution; a flat slope means the band
    thresholds need re-tuning).  The estimator-side audit every LSH
    deployment should run before trusting its candidate thresholds.

    Exactness: x is the pure-integer estimate n_match x 62500 ppm over
    the engine-neutral seeded md5 signature (E197's device, same
    k=16); y is exact-Jaccard ppm (integer); all five regression
    sufficient statistics are exact HUGEINT/decimal(38,0) sums of ppm
    integers; slope/intercept/r² each cross IEEE once,
    identically parenthesized, floored.  With <2 pairs or zero x
    variance the line is undefined: try_divide mirrors DuckDB's NULL.

    Scale shape: signatures are one partial agg over the shingle
    table (k min-registers per doc — mergeable); the pair set is
    duplicate-count-sized (J >= 0.25 after an equi-join on shingles);
    the regression reduces to one 6-integer row.  At open-web scale
    the exact-Jaccard side runs only on the LSH candidate set, which
    is exactly what this query models.

    Reference tie: the delegated spark-sql surface's similarity QA
    (EmrOnEc2OptimizeDataExecutor.java:88-94 delegation boundary)."""
    from ..operators import dedup as D

    docs = io.table(spark, sf_dir, "documents")
    # Distinct 3-gram shingles via the shared slice-zip helper: docs
    # shorter than 3 words yield NO shingles, matching the oracle's
    # generate_series(1, len(w) - 2) (empty for len < 3).  The inline
    # sequence(0, size-3) form this replaces crashed on short docs —
    # Spark's sequence(0, -1) is the DESCENDING [0, -1], not empty
    # (round-9 ADVICE, high).
    # The shingle table feeds the pair pipeline AND the signature agg —
    # materialize once (it used to re-derive per alias: a-side, b-side,
    # sizes, sigs = FOUR extractions; the r10 x30 profile class).  The
    # exact-pair side is jaccard_pairs' grouped posting-list emission
    # (one shuffle of the hashed shingle table) instead of the former
    # two-sided self-join + two size joins; n_common/n_a/n_b and the
    # jaccard double are the identical expressions, so y = floor(j*1e6)
    # is bit-identical (r15; same df_cap posture as dedup_ngram_jaccard
    # — fixture max df 25, cap semantics documented in the operator).
    # Signatures keep the STRING shingles (seeded md5 hashes pinned by
    # the oracle); jaccard_pairs hashes its keys internally.
    from ..operators import gates

    sh = D.shingles(docs, 3).localCheckpoint(eager=False)
    prs = D.jaccard_pairs(
        sh,
        threshold=_MHR_MIN_JACCARD,
        broadcast_sizes=not gates.corpus_exceeds(sf_dir),
        input_cached=True,
    ).select(
        F.col("doc_id_a").alias("da"),
        F.col("doc_id_b").alias("db"),
        F.floor(F.col("jaccard") * 1000000).cast("long").alias("y"),
    )
    sigs = sh.groupBy("doc_id").agg(
        *[
            F.min(_neutral_seeded_hash(F.col("shingle"), i)).alias(f"h{i}")
            for i in range(_MHR_K)
        ]
    )
    sa = sigs.select(
        F.col("doc_id").alias("da"), *[F.col(f"h{i}").alias(f"a{i}") for i in range(_MHR_K)]
    )
    sb = sigs.select(
        F.col("doc_id").alias("db"), *[F.col(f"h{i}").alias(f"b{i}") for i in range(_MHR_K)]
    )
    matches = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0) for i in range(_MHR_K)
    )
    pts = (
        prs.join(sa, "da")
        .join(sb, "db")
        .select(
            (matches * (1_000_000 // _MHR_K)).cast("long").alias("x"),
            "y",
        )
    )
    dec = "decimal(38,0)"
    s = pts.agg(
        F.count("*").cast(dec).alias("n"),
        F.coalesce(F.sum("x"), F.lit(0)).cast(dec).alias("sx"),
        F.coalesce(F.sum("y"), F.lit(0)).cast(dec).alias("sy"),
        F.coalesce(F.sum((F.col("x").cast(dec) * F.col("y")).cast(dec)), F.lit(0))
        .cast(dec)
        .alias("sxy"),
        F.coalesce(F.sum((F.col("x").cast(dec) * F.col("x")).cast(dec)), F.lit(0))
        .cast(dec)
        .alias("sxx"),
        F.coalesce(F.sum((F.col("y").cast(dec) * F.col("y")).cast(dec)), F.lit(0))
        .cast(dec)
        .alias("syy"),
    )
    sxy_c = _no_silent_overflow(
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(dec), "E199 Sxy"
    ).cast("double")
    sxx_c = _no_silent_overflow(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(dec), "E199 Sxx"
    ).cast("double")
    syy_c = _no_silent_overflow(
        (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast(dec), "E199 Syy"
    ).cast("double")
    icept_num = _no_silent_overflow(
        (F.col("sy") * F.col("sxx") - F.col("sx") * F.col("sxy")).cast(dec),
        "E199 intercept",
    ).cast("double")
    return s.select(
        F.col("n").cast("long").alias("n_pairs"),
        F.floor(F.try_divide(sxy_c, sxx_c) * 1000000).cast("long").alias("slope_ppm"),
        F.floor(F.try_divide(icept_num, sxx_c)).cast("long").alias("intercept_ppm"),
        F.floor(F.try_divide(sxy_c * sxy_c, sxx_c * syy_c) * 1000000)
        .cast("long")
        .alias("r2_ppm"),
    )


# ---------------------------------------------------------------------------
# E200: winsorized revenue statistics
# ---------------------------------------------------------------------------

_WINSOR_PCT = 5  # clamp at p05 / p95


@register(
    "winsorized_revenue_stats",
    tier="D",
    oracle=f"""
    WITH ranked AS (
      SELECT o_orderpriority,
             CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents,
             ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                ORDER BY ROUND(o_totalprice * 100, 0),
                                         o_orderkey) AS r,
             COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
      FROM orders
    ),
    marked AS (
      SELECT o_orderpriority, cents, r, n,
             CAST(CEIL(n * {_WINSOR_PCT} / 100.0) AS BIGINT) AS lo,
             CAST(CEIL(n * {100 - _WINSOR_PCT} / 100.0) AS BIGINT) AS hi
      FROM ranked
    )
    SELECT o_orderpriority,
           CAST(MIN(n) AS BIGINT) AS n_orders,
           CAST(MAX(CASE WHEN r = lo THEN cents END) AS BIGINT) AS p05_cents,
           CAST(MAX(CASE WHEN r = hi THEN cents END) AS BIGINT) AS p95_cents,
           CAST(FLOOR((CAST((MIN(lo) - 1) * MAX(CASE WHEN r = lo THEN cents END)
                            + SUM(CASE WHEN r >= lo AND r <= hi THEN cents ELSE 0 END)
                            + (MIN(n) - MIN(hi)) * MAX(CASE WHEN r = hi THEN cents END)
                            AS DOUBLE) * 1000)
                      / CAST(MIN(n) AS DOUBLE)) AS BIGINT) AS win_mean_millicents,
           CAST(FLOOR((CAST(SUM(cents) AS DOUBLE) * 1000)
                      / CAST(MIN(n) AS DOUBLE)) AS BIGINT) AS raw_mean_millicents
    FROM marked GROUP BY o_orderpriority
    """,
)
def winsorized_revenue_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E200: 5%-winsorized mean order value per priority — E181 TRIMS
    the tails (drops them); winsorizing CLAMPS them to the p05/p95
    boundary values, keeping n constant, which is what revenue
    dashboards want when a handful of mega-orders shouldn't own the
    mean but must still count.  Raw mean rides along so the clamp's
    effect is one subtraction away.

    Exactness: boundary ranks are nearest-rank integers over a TOTAL
    order (cents, o_orderkey); the winsorized sum decomposes exactly
    into (lo-1)·p05 + midsum + (n-hi)·p95 — three integer terms from
    ONE grouped pass, no self-join back to the boundary values; one
    IEEE division per mean, floored to milli-cents.

    Scale shape: one per-priority window rank + one rollup on the
    same partitioning (the E181 shape exactly); priorities are
    5-valued so the window never concentrates; the decomposition
    avoids the second clamp pass entirely."""
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    w = Window.partitionBy("o_orderpriority").orderBy(F.col("cents"), F.col("o_orderkey"))
    ranked = (
        io.table(spark, sf_dir, "orders")
        .select("o_orderpriority", "o_orderkey", cents.alias("cents"))
        .withColumn("r", F.row_number().over(w))
        .withColumn("n", F.count("*").over(Window.partitionBy("o_orderpriority")))
        .withColumn("lo", F.ceil(F.col("n") * _WINSOR_PCT / 100.0).cast("long"))
        .withColumn("hi", F.ceil(F.col("n") * (100 - _WINSOR_PCT) / 100.0).cast("long"))
    )
    g = ranked.groupBy("o_orderpriority").agg(
        F.min("n").cast("long").alias("n_orders"),
        F.max(F.when(F.col("r") == F.col("lo"), F.col("cents"))).cast("long").alias("p05_cents"),
        F.max(F.when(F.col("r") == F.col("hi"), F.col("cents"))).cast("long").alias("p95_cents"),
        F.sum(
            F.when((F.col("r") >= F.col("lo")) & (F.col("r") <= F.col("hi")), F.col("cents")).otherwise(0)
        ).alias("midsum"),
        F.min("lo").alias("lo"),
        F.min("hi").alias("hi"),
        F.sum("cents").alias("rawsum"),
    )
    winsum = (
        (F.col("lo") - 1) * F.col("p05_cents")
        + F.col("midsum")
        + (F.col("n_orders") - F.col("hi")) * F.col("p95_cents")
    )
    return g.select(
        "o_orderpriority",
        "n_orders",
        "p05_cents",
        "p95_cents",
        F.floor(winsum.cast("double") * 1000 / F.col("n_orders").cast("double"))
        .cast("long")
        .alias("win_mean_millicents"),
        F.floor(F.col("rawsum").cast("double") * 1000 / F.col("n_orders").cast("double"))
        .cast("long")
        .alias("raw_mean_millicents"),
    )


# ---------------------------------------------------------------------------
# E201: Grubbs max-deviation outlier statistic
# ---------------------------------------------------------------------------


@register(
    "grubbs_outlier_daily",
    tier="D",
    oracle="WITH "
    + _DAILY_CTE
    + """,
    stats AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS nd,
             CAST(SUM(n) AS BIGINT) AS s
      FROM daily GROUP BY event_type
    ),
    dev AS (
      SELECT d.event_type, d.day,
             ABS(st.nd * d.n - st.s) AS absdev,
             st.nd, st.s
      FROM daily d JOIN stats st ON d.event_type = st.event_type
    ),
    agg AS (
      SELECT event_type, MIN(nd) AS nd,
             MAX(absdev) AS maxabs,
             SUM(CAST(absdev AS HUGEINT) * absdev) AS ssq
      FROM dev GROUP BY event_type
    ),
    peak AS (
      SELECT event_type, day,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY absdev DESC, day) AS rn
      FROM dev
    )
    SELECT a.event_type,
           CAST(a.nd AS BIGINT) AS n_days,
           p.day AS peak_day,
           CAST(FLOOR((CAST(a.maxabs AS DOUBLE)
                       / sqrt(CAST(a.ssq AS DOUBLE) / CAST(a.nd - 1 AS DOUBLE)))
                      * 1000000) AS BIGINT) AS g_ppm,
           (CAST(a.maxabs AS DOUBLE)
            / sqrt(CAST(a.ssq AS DOUBLE) / CAST(a.nd - 1 AS DOUBLE))) > 3.0
             AS outlier_flag
    FROM agg a JOIN peak p ON a.event_type = p.event_type AND p.rn = 1
    """,
)
def grubbs_outlier_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E201: Grubbs statistic per event type's daily series — G =
    max|x - mean| / s, the classical single-outlier test; the day
    achieving the max rides along (argmax with a day tiebreak), plus
    a flag at the conventional G > 3 line.  E97 flags by MAD, E134 by
    CUSUM; Grubbs is the one incident reviews quote ("that day was a
    4-sigma event").

    Exactness: deviations are n-scaled exact integers (nd·x - S, the
    E169 device), squares accumulate in HUGEINT/decimal(38,0) with
    the fail-stop overflow guard; G multiplies num and denom by nd so
    the ratio needs ONE sqrt (correctly rounded) and one division,
    floored to ppm; the argmax is a (absdev DESC, day) row_number —
    total order, no float compare.

    Scale shape: the daily rollup partial-aggregates map-side; stats
    and deviations live on the types x days metadata grid; the peak
    window partitions by type."""
    daily = _daily(spark, sf_dir)
    stats = daily.groupBy("event_type").agg(
        F.count("*").cast("long").alias("nd"), F.sum("n").cast("long").alias("s")
    )
    dev = daily.join(stats, "event_type").select(
        "event_type",
        "day",
        F.abs(F.col("nd") * F.col("n") - F.col("s")).alias("absdev"),
        "nd",
    )
    dec = "decimal(38,0)"
    agg = dev.groupBy("event_type").agg(
        F.min("nd").alias("nd"),
        F.max("absdev").alias("maxabs"),
        F.sum(
            _no_silent_overflow(
                (F.col("absdev").cast(dec) * F.col("absdev")).cast(dec), "E201 dev^2"
            )
        )
        .cast(dec)
        .alias("ssq"),
    )
    peak = dev.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("event_type").orderBy(F.desc("absdev"), "day")
        ),
    ).filter(F.col("rn") == 1)
    # try_divide: a single-day series has no sample variance (df=0) —
    # DuckDB's x/0 -> NULL must be mirrored (degenerate sweep)
    g_expr = F.try_divide(
        F.col("maxabs").cast("double"),
        F.sqrt(F.try_divide(F.col("ssq").cast("double"), (F.col("nd") - 1).cast("double"))),
    )
    return (
        agg.join(peak.select("event_type", F.col("day").alias("peak_day")), "event_type")
        .select(
            "event_type",
            F.col("nd").cast("long").alias("n_days"),
            "peak_day",
            F.floor(g_expr * 1000000).cast("long").alias("g_ppm"),
            (g_expr > 3.0).alias("outlier_flag"),
        )
    )


# ---------------------------------------------------------------------------
# E202: jackknife leave-one-out standard error
# ---------------------------------------------------------------------------


@register(
    "jackknife_mean_loo",
    tier="D",
    oracle="""
    WITH stats AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(n_chars) AS BIGINT) AS s
      FROM documents GROUP BY source
    ),
    dev AS (
      SELECT d.source, st.n, st.s,
             ABS(st.n * d.n_chars - st.s) AS absdev
      FROM documents d JOIN stats st ON d.source = st.source
    )
    SELECT source,
           CAST(MIN(n) AS BIGINT) AS n_docs,
           CAST(FLOOR(CAST(MIN(s) AS DOUBLE) * 1000 / CAST(MIN(n) AS DOUBLE))
                AS BIGINT) AS mean_millichars,
           CAST(FLOOR(sqrt((CAST(SUM(CAST(absdev AS HUGEINT) * absdev) AS DOUBLE)
                            / CAST(MIN(n) AS DOUBLE) / CAST(MIN(n) AS DOUBLE))
                           / (CAST(MIN(n) AS DOUBLE)
                              * CAST(MIN(n) - 1 AS DOUBLE))) * 1000)
                AS BIGINT) AS jk_se_millichars,
           CAST(FLOOR(CAST(MAX(absdev) AS DOUBLE) * 1000000
                      / (CAST(MIN(n) AS DOUBLE) * CAST(MIN(n) - 1 AS DOUBLE)))
                AS BIGINT) AS max_loo_shift_microchars
    FROM dev GROUP BY source
    """,
)
def jackknife_mean_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E202: jackknife standard error of the mean document length per
    source, plus the largest leave-one-out mean shift.  The jackknife
    SE for the mean collapses to sqrt(SS / (n(n-1))) and the max LOO
    shift to max|x - mean| / (n-1) — both computed here from n-scaled
    integer deviations, which is the POINT: the resampling estimate
    is available in one aggregation pass, no resampling loop, so the
    influence diagnostic ("does one document move the mean?") costs
    what a mean costs.  E204's (bag_bootstrap_ci) replicate table is
    the general-statistic fallback when no closed form exists.

    Exactness: absdev = |n·x - S| exact int; SS accumulates
    HUGEINT/decimal(38,0) guarded; SS/(n²) rescales the n-scaling out
    inside the sqrt argument with identical parenthesization both
    engines; one sqrt + one division per output, floored.

    Scale shape: one rollup for (n, S), one broadcast-joined
    deviation pass, one rollup — all partial-aggregatable, source-
    keyed."""
    docs = io.table(spark, sf_dir, "documents").select("source", "n_chars")
    stats = docs.groupBy("source").agg(
        F.count("*").cast("long").alias("n"), F.sum("n_chars").cast("long").alias("s")
    )
    dev = docs.join(F.broadcast(stats), "source").select(
        "source",
        "n",
        "s",
        F.abs(F.col("n") * F.col("n_chars") - F.col("s")).alias("absdev"),
    )
    dec = "decimal(38,0)"
    g = dev.groupBy("source").agg(
        F.min("n").alias("n"),
        F.min("s").alias("s"),
        F.max("absdev").alias("maxabs"),
        F.sum(
            _no_silent_overflow(
                (F.col("absdev").cast(dec) * F.col("absdev")).cast(dec), "E202 dev^2"
            )
        )
        .cast(dec)
        .alias("ssq"),
    )
    nd = F.col("n").cast("double")
    # try_divide: a single-document source has no leave-one-out set
    # (n-1 = 0) — DuckDB's x/0 -> NULL must be mirrored
    se = F.sqrt(
        F.try_divide(
            F.col("ssq").cast("double") / nd / nd, nd * (F.col("n") - 1).cast("double")
        )
    )
    return g.select(
        "source",
        F.col("n").cast("long").alias("n_docs"),
        F.floor(F.col("s").cast("double") * 1000 / nd).cast("long").alias("mean_millichars"),
        F.floor(se * 1000).cast("long").alias("jk_se_millichars"),
        F.floor(
            F.try_divide(
                F.col("maxabs").cast("double") * 1000000,
                nd * (F.col("n") - 1).cast("double"),
            )
        )
        .cast("long")
        .alias("max_loo_shift_microchars"),
    )


# ---------------------------------------------------------------------------
# E203: Kendall tau-b on the (quantity, price-vigintile) grid
# ---------------------------------------------------------------------------

_TAU_BUCKETS = 20


@register(
    "kendall_tau_price_qty",
    tier="D",
    oracle=f"""
    WITH rows_ AS (
      SELECT CAST(l_quantity AS BIGINT) AS q,
             NTILE({_TAU_BUCKETS}) OVER (ORDER BY ROUND(l_extendedprice * 100, 0),
                                         l_orderkey, l_linenumber,
                                         CAST(l_quantity AS BIGINT)) AS pb
      FROM lineitem
    ),
    cells AS (
      SELECT q, pb, CAST(COUNT(*) AS HUGEINT) AS c
      FROM rows_ GROUP BY q, pb
    ),
    pairs AS (
      SELECT COALESCE(SUM(CASE WHEN a.q < b.q AND a.pb < b.pb THEN a.c * b.c END), 0)
               AS concordant,
             COALESCE(SUM(CASE WHEN a.q < b.q AND a.pb > b.pb THEN a.c * b.c END), 0)
               AS discordant
      FROM cells a JOIN cells b
        ON (a.q < b.q) OR (a.q = b.q AND a.pb < b.pb)
    ),
    marg AS (
      SELECT (SELECT CAST(COALESCE(SUM(c), 0) AS HUGEINT) FROM cells) AS n,
             (SELECT CAST(COALESCE(SUM(t * (t - 1) / 2), 0) AS HUGEINT)
              FROM (SELECT CAST(SUM(c) AS HUGEINT) AS t FROM cells GROUP BY q))
               AS tq,
             (SELECT CAST(COALESCE(SUM(t * (t - 1) / 2), 0) AS HUGEINT)
              FROM (SELECT CAST(SUM(c) AS HUGEINT) AS t FROM cells GROUP BY pb))
               AS tp
    )
    SELECT CAST(m.n AS BIGINT) AS n_rows,
           CAST(p.concordant AS BIGINT) AS concordant,
           CAST(p.discordant AS BIGINT) AS discordant,
           CAST(FLOOR((CAST(p.concordant - p.discordant AS DOUBLE)
                       / (sqrt(CAST(m.n * (m.n - 1) / 2 - m.tq AS DOUBLE))
                          * sqrt(CAST(m.n * (m.n - 1) / 2 - m.tp AS DOUBLE))))
                      * 1000000) AS BIGINT) AS tau_b_ppm
    FROM pairs p, marg m
    """,
)
def kendall_tau_price_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E203: Kendall's tau-b between line-item quantity and price,
    computed on the (quantity, price-vigintile) GRID — quantity is
    already 50-valued and price is coarsened to 20 nearest-rank
    buckets, so the O(n²) pair count collapses to an exact sum over
    ≤1000² cell pairs: concordant = Σ c_a·c_b over cells strictly
    increasing in both coordinates, ties corrected per tau-b from the
    marginals.  Rank-correlation that a 100 TB engine can actually
    afford: the statistic is EXACTLY tau-b of the bucketed pair
    (stated, not approximated away).

    Exactness: cell counts, concordant/discordant sums, and tie terms
    are HUGEINT/decimal(38,0) integers; the tau denominator needs two
    correctly-rounded sqrts and one division, floored to ppm.  NTILE
    over (cents, l_orderkey, l_linenumber) is a total order, so both
    engines bucket identically.

    Scale shape: one grid rollup (map-side combinable) + a 1000-row
    broadcast self-join; the vigintile assignment is
    operators/skew.global_ntile — range-repartition + per-partition
    rank + partition-offset broadcast, bit-identical to the window
    NTILE (equivalence-tested) without its single-partition global
    sort, which the r12 sf10 smoke clocked at 459 s / exponent 1.3
    on 60M rows."""
    cents = F.round(F.col("l_extendedprice") * 100, 0)
    from ..operators.skew import global_ntile

    # q joins the ORDER BY as the final tiebreak: the synthetic
    # lineitem duplicates (l_orderkey, l_linenumber), so the old
    # 3-column order was NOT total — the window NTILE and DuckDB only
    # agreed through shared sort-stability luck, which a distributed
    # rank cannot (and should not) reproduce.  With q appended the
    # order is value-total wherever quantity differs, so every row's
    # bucket is determined by its VALUES in both engines (full-row
    # duplicates remain interchangeable — same q, same cell).
    rows_ = global_ntile(
        io.table(spark, sf_dir, "lineitem").select(
            F.col("l_quantity").cast("long").alias("q"),
            cents.alias("_cents"),
            "l_orderkey",
            "l_linenumber",
        ),
        _TAU_BUCKETS,
        ["_cents", "l_orderkey", "l_linenumber", "q"],
        bucket_col="pb",
    ).select("q", "pb")
    dec = "decimal(38,0)"
    cells = rows_.groupBy("q", "pb").agg(F.count("*").cast(dec).alias("c"))
    a, b = cells.alias("a"), cells.alias("b")
    lex = (F.col("a.q") < F.col("b.q")) | (
        (F.col("a.q") == F.col("b.q")) & (F.col("a.pb") < F.col("b.pb"))
    )
    prod = _no_silent_overflow((F.col("a.c") * F.col("b.c")).cast(dec), "E203 c*c")
    pairs = a.join(F.broadcast(b), lex).agg(
        F.coalesce(
            F.sum(F.when((F.col("a.q") < F.col("b.q")) & (F.col("a.pb") < F.col("b.pb")), prod)),
            F.lit(0),
        )
        .cast(dec)
        .alias("concordant"),
        F.coalesce(
            F.sum(F.when((F.col("a.q") < F.col("b.q")) & (F.col("a.pb") > F.col("b.pb")), prod)),
            F.lit(0),
        )
        .cast(dec)
        .alias("discordant"),
    )
    # coalesce to 0: an empty grid must yield n=0 (not NULL, which the
    # overflow guard would misread as an overflow)
    n_tot = cells.agg(F.coalesce(F.sum("c"), F.lit(0)).cast(dec).alias("n"))
    tq = (
        cells.groupBy("q")
        .agg(F.sum("c").cast(dec).alias("t"))
        .agg(
            F.coalesce(
                F.sum(
                    _no_silent_overflow(
                        (F.col("t") * (F.col("t") - 1) / 2).cast(dec), "E203 tq"
                    )
                ),
                F.lit(0),
            )
            .cast(dec)
            .alias("tq")
        )
    )
    tp = (
        cells.groupBy("pb")
        .agg(F.sum("c").cast(dec).alias("t"))
        .agg(
            F.coalesce(
                F.sum(
                    _no_silent_overflow(
                        (F.col("t") * (F.col("t") - 1) / 2).cast(dec), "E203 tp"
                    )
                ),
                F.lit(0),
            )
            .cast(dec)
            .alias("tp")
        )
    )
    j = pairs.crossJoin(F.broadcast(n_tot)).crossJoin(F.broadcast(tq)).crossJoin(
        F.broadcast(tp)
    )
    n0 = _no_silent_overflow(
        (F.col("n") * (F.col("n") - 1) / 2).cast(dec), "E203 n0"
    )
    # try_divide: a fully-tied axis (n0 == tie term) or an empty/single
    # input makes tau undefined; DuckDB's x/0 -> NULL must be mirrored
    tau = F.try_divide(
        (F.col("concordant") - F.col("discordant")).cast("double"),
        F.sqrt((n0 - F.col("tq")).cast("double"))
        * F.sqrt((n0 - F.col("tp")).cast("double")),
    )
    return j.select(
        F.col("n").cast("long").alias("n_rows"),
        F.col("concordant").cast("long").alias("concordant"),
        F.col("discordant").cast("long").alias("discordant"),
        F.floor(tau * 1000000).cast("long").alias("tau_b_ppm"),
    )


# ---------------------------------------------------------------------------
# E204: Spearman rank correlation between two daily event series
# ---------------------------------------------------------------------------

_SPEAR_X = "view"
_SPEAR_Y = "purchase"


@register(
    "spearman_daily_corr",
    tier="D",
    oracle="WITH "
    + _DAILY_CTE
    + f""",
    xy AS (
      SELECT x.day, x.n AS xv, y.n AS yv
      FROM (SELECT day, n FROM daily WHERE event_type = '{_SPEAR_X}') x
      JOIN (SELECT day, n FROM daily WHERE event_type = '{_SPEAR_Y}') y
        ON x.day = y.day
    ),
    rk AS (
      SELECT day,
             2 * RANK() OVER (ORDER BY xv) + COUNT(*) OVER (PARTITION BY xv) - 1
               AS rx2,
             2 * RANK() OVER (ORDER BY yv) + COUNT(*) OVER (PARTITION BY yv) - 1
               AS ry2
      FROM xy
    ),
    s AS (
      SELECT CAST(COUNT(*) AS HUGEINT) AS n,
             CAST(SUM(rx2) AS HUGEINT) AS sx, CAST(SUM(ry2) AS HUGEINT) AS sy,
             SUM(CAST(rx2 AS HUGEINT) * ry2) AS sxy,
             SUM(CAST(rx2 AS HUGEINT) * rx2) AS sxx,
             SUM(CAST(ry2 AS HUGEINT) * ry2) AS syy
      FROM rk
    )
    SELECT CAST(n AS BIGINT) AS n_days,
           CAST(FLOOR((CAST(n * sxy - sx * sy AS DOUBLE)
                       / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                          * sqrt(CAST(n * syy - sy * sy AS DOUBLE))))
                      * 1000000) AS BIGINT) AS rho_ppm
    FROM s
    """,
)
def spearman_daily_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E204: Spearman rank correlation between the '{x}' and '{y}'
    daily count series — E170 gives Pearson on raw counts (level
    co-movement, outlier-sensitive); Spearman on AVERAGE ranks is the
    monotone-association number robust to the one viral day.

    Exactness: average ranks with ties are half-integers, so both
    engines carry 2·avgrank = 2·RANK() + tie_count - 1 — pure
    integers; Pearson over those integers uses exact HUGEINT/
    decimal(38,0) sufficient statistics; two correctly-rounded sqrts
    and one division cross IEEE, floored to ppm.

    Scale shape: the day spine is calendar-bounded metadata; both
    rank windows are global over that bounded spine (fine at any data
    scale — the SERIES never outgrows the calendar)."""
    daily = _daily(spark, sf_dir)
    x = daily.filter(F.col("event_type") == _SPEAR_X).select("day", F.col("n").alias("xv"))
    y = daily.filter(F.col("event_type") == _SPEAR_Y).select("day", F.col("n").alias("yv"))
    xy = x.join(y, "day")
    rk = xy.select(
        (
            2 * F.rank().over(Window.orderBy("xv"))
            + F.count("*").over(Window.partitionBy("xv"))
            - 1
        ).alias("rx2"),
        (
            2 * F.rank().over(Window.orderBy("yv"))
            + F.count("*").over(Window.partitionBy("yv"))
            - 1
        ).alias("ry2"),
    )
    dec = "decimal(38,0)"
    s = rk.agg(
        F.count("*").cast(dec).alias("n"),
        F.sum("rx2").cast(dec).alias("sx"),
        F.sum("ry2").cast(dec).alias("sy"),
        F.sum((F.col("rx2").cast(dec) * F.col("ry2")).cast(dec)).cast(dec).alias("sxy"),
        F.sum((F.col("rx2").cast(dec) * F.col("rx2")).cast(dec)).cast(dec).alias("sxx"),
        F.sum((F.col("ry2").cast(dec) * F.col("ry2")).cast(dec)).cast(dec).alias("syy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    dx = F.sqrt((F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double"))
    dy = F.sqrt((F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double"))
    return s.select(
        F.col("n").cast("long").alias("n_days"),
        F.floor((num / (dx * dy)) * 1000000).cast("long").alias("rho_ppm"),
    )


spearman_daily_corr.__doc__ = spearman_daily_corr.__doc__.format(
    x=_SPEAR_X, y=_SPEAR_Y
)


# ---------------------------------------------------------------------------
# E205: partial correlation controlling for a covariate
# ---------------------------------------------------------------------------


@register(
    "partial_corr_controls",
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
           CAST(FLOOR(rxy * 1000000) AS BIGINT) AS r_xy_ppm,
           CAST(FLOOR(((rxy - rxz * ryz)
                       / (sqrt(1.0 - rxz * rxz) * sqrt(1.0 - ryz * ryz)))
                      * 1000000) AS BIGINT) AS r_xy_given_z_ppm
    FROM r
    """,
)
def partial_corr_controls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E205: partial correlation of price and quantity CONTROLLING for
    discount — r_xy.z = (r_xy - r_xz·r_yz) / √(1-r_xz²)√(1-r_yz²).
    E170 reports raw pairwise correlation; the partial form answers
    the confound question ("do price and quantity co-move, or does
    the discount schedule drive both?") — the first-order causal
    hygiene every metrics review needs.

    Exactness: x is exact cents, y exact units, z exact discount
    hundredths; all nine sufficient statistics are HUGEINT/
    decimal(38,0) integer sums with fail-stop overflow guards; each
    pairwise r crosses IEEE through the identical two-sqrt expression
    both engines; the partial composition is one more identically-
    parenthesized expression, floored to ppm.

    Scale shape: ONE map-side-combinable aggregation over the scan —
    nine integers of state; the composition is a 1-row select.  This
    is the mergeable-statistics pattern at its purest."""
    v = io.table(spark, sf_dir, "lineitem").select(
        F.round(F.col("l_extendedprice") * 100, 0).cast("long").alias("x"),
        F.col("l_quantity").cast("long").alias("y"),
        F.round(F.col("l_discount") * 100, 0).cast("long").alias("z"),
    )
    dec = "decimal(38,0)"

    def p(u: str, w: str):
        # coalesce to 0 on an empty scan: a NULL sum would trip the
        # overflow guard, which is reserved for genuine overflow
        return F.coalesce(
            F.sum(
                _no_silent_overflow(
                    (F.col(u).cast(dec) * F.col(w)).cast(dec), f"E205 {u}*{w}"
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

    def corr(suv: str, u: str, w: str):
        num = _no_silent_overflow(
            (F.col("n") * F.col(suv) - F.col(f"s{u}") * F.col(f"s{w}")).cast(dec),
            f"E205 num {suv}",
        ).cast("double")
        du = F.sqrt(
            _no_silent_overflow(
                (F.col("n") * F.col(f"s{u}{u}") - F.col(f"s{u}") * F.col(f"s{u}")).cast(
                    dec
                ),
                f"E205 var {u}",
            ).cast("double")
        )
        dw = F.sqrt(
            _no_silent_overflow(
                (F.col("n") * F.col(f"s{w}{w}") - F.col(f"s{w}") * F.col(f"s{w}")).cast(
                    dec
                ),
                f"E205 var {w}",
            ).cast("double")
        )
        # try_divide: zero variance in any variable (single/all-tied
        # input) leaves the correlation undefined — DuckDB NULL
        return F.try_divide(num, du * dw)

    rxy, rxz, ryz = corr("sxy", "x", "y"), corr("sxz", "x", "z"), corr("syz", "y", "z")
    partial = F.try_divide(
        rxy - rxz * ryz,
        F.sqrt(F.lit(1.0) - rxz * rxz) * F.sqrt(F.lit(1.0) - ryz * ryz),
    )
    return s.select(
        F.col("n").cast("long").alias("n_rows"),
        F.floor(rxy * 1000000).cast("long").alias("r_xy_ppm"),
        F.floor(partial * 1000000).cast("long").alias("r_xy_given_z_ppm"),
    )
