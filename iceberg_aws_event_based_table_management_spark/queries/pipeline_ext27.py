"""Tier D (part 28) — LSH tuning, sampling design, multiple testing,
resampling, calibration, and inequality/linkage audits (SURVEY.md
§2-E E220-E226).

Twenty-seventh batch, registered in round 9: the MinHash band/row tuning
audit (precision/recall per (bands, rows) configuration), Neyman
optimal sample allocation across strata, Benjamini-Hochberg FDR
correction over per-source mean tests, a DETERMINISTIC Poisson
bootstrap CI (hash-derived weights, CDF thresholds embedded as
literals so no engine libm is involved), isotonic calibration via the
minimax (pool-adjacent-violators) formula on a bounded bin grid, the
Lorenz curve at vigintile points, and a Fellegi-Sunter-style
feature-agreement scorecard over blocked customer-supplier pairs.

Exactness discipline as ext24-ext26.  The one new device: where a
continuous distribution function is unavoidable (the normal CDF in
BH), it is computed by the Abramowitz-Stegun 7.1.26 polynomial with
IDENTICAL literal constants in both engines and floored to micro —
the exp() it contains matched bit-for-bit cross-engine in E196
(text_bigram_perplexity), and all downstream BH decisions compare
floored integers only.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import io
from ..registry import register
from .pipeline_ext17 import _no_silent_overflow
from .pipeline_ext23 import _neutral_seeded_hash

# ---------------------------------------------------------------------------
# E220: MinHash band/row tuning audit
# ---------------------------------------------------------------------------

_BT_K = 16
_BT_CONFIGS = [(16, 1), (8, 2), (4, 4), (2, 8)]  # (bands, rows/band)
_BT_TRUE_J = 0.5


def _bt_sig_sql() -> str:
    return ", ".join(
        "MIN(CAST(list_reduce(string_split("
        f"'0' || substr(md5(shingle || ':{i}'), 1, 15), ''),"
        " (acc, c) -> CAST(acc AS BIGINT) * 16"
        f" + strpos('0123456789abcdef', c) - 1) AS BIGINT)) AS h{i}"
        for i in range(_BT_K)
    )


def _bt_band_union_sql() -> str:
    parts = []
    for b, r in _BT_CONFIGS:
        for band in range(b):
            cols = " || '|' || ".join(
                f"CAST(h{band * r + j} AS VARCHAR)" for j in range(r)
            )
            parts.append(
                f"SELECT '{b}x{r}' AS config, doc_id, {band} AS band_no, "
                f"{cols} AS band_val FROM sigs"
            )
    return " UNION ALL ".join(parts)


@register(
    "dedup_band_tuning_audit",
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
    truth AS (
      SELECT a.doc_id AS da, b.doc_id AS db
      FROM grams a
      JOIN grams b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      JOIN sizes sa ON a.doc_id = sa.doc_id
      JOIN sizes sb ON b.doc_id = sb.doc_id
      GROUP BY 1, 2, sa.n, sb.n
      HAVING CAST(COUNT(*) AS DOUBLE) / (sa.n + sb.n - COUNT(*))
             >= {_BT_TRUE_J}
    ),
    sigs AS (
      SELECT doc_id, {_bt_sig_sql()}
      FROM grams GROUP BY doc_id
    ),
    bands AS ({_bt_band_union_sql()}),
    cand AS (
      SELECT DISTINCT a.config, a.doc_id AS da, b.doc_id AS db
      FROM bands a JOIN bands b
        ON a.config = b.config AND a.band_no = b.band_no
       AND a.band_val = b.band_val AND a.doc_id < b.doc_id
    ),
    per AS (
      SELECT c.config,
             CAST(COUNT(*) AS BIGINT) AS n_candidates,
             CAST(SUM(CASE WHEN t.da IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_caught
      FROM cand c LEFT JOIN truth t ON c.da = t.da AND c.db = t.db
      GROUP BY c.config
    ),
    nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_true FROM truth)
    SELECT p.config,
           CAST(split_part(p.config, 'x', 1) AS BIGINT) AS bands,
           CAST(split_part(p.config, 'x', 2) AS BIGINT) AS rows_per_band,
           p.n_candidates, p.n_caught, nt.n_true,
           CAST(FLOOR(CAST(p.n_caught AS DOUBLE)
                      / CAST(p.n_candidates AS DOUBLE) * 1000000) AS BIGINT)
             AS precision_ppm,
           CAST(FLOOR(CAST(p.n_caught AS DOUBLE)
                      / CAST(nt.n_true AS DOUBLE) * 1000000) AS BIGINT)
             AS recall_ppm
    FROM per p, nt
    """,
)
def dedup_band_tuning_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E220: LSH band/row tuning audit — run the SAME 16-component
    MinHash signature through four (bands x rows) configurations
    (16x1, 8x2, 4x4, 2x8), generate each configuration's candidate
    pairs by banding, and score precision/recall against the exact
    Jaccard >= {j} truth set.  The S-curve trade every LSH deployment
    tunes blind is made measurable: more bands -> higher recall,
    lower precision.  E197 audits the estimator; this audits the
    CANDIDATE GENERATOR the estimator feeds.

    Exactness: signatures use the engine-neutral seeded md5 device
    (E197), so both engines band identically; candidate sets are
    DISTINCT pair sets from banding equi-joins; truth is the exact
    shingle-join Jaccard; counts are exact integers with one division
    per rate.

    Scale shape: signatures are one partial agg; banding emits all 30
    (config, band) rows per doc in ONE map-side explode (the D2
    band_table device — the previous 30-frame unionByName re-planned
    the signature aggregation once per frame, the dominant cost of the
    r13 sf10 smoke's 178 s cell); candidates come from (config,
    band_no, band_val) equi-joins over the checkpointed band table —
    work tracks collision counts, never all-pairs.  Truth reuses
    jaccard_pairs' grouped-pair emission (ONE shuffle of the shingle
    table, df_cap=None so the set is the exact corpus-wide Jaccard
    truth) instead of a three-shuffle shingle self-join; at scale the
    truth join runs only on a candidate-sized set (here corpus-wide,
    as the audit)."""
    from ..operators import dedup as D
    from ..operators import gates

    docs = io.table(spark, sf_dir, "documents")
    # Shared slice-zip shingle helper — short docs (<3 words) yield no
    # shingles, matching the oracle; replaces the sequence(0, size-3)
    # inline form that crashed on short docs because Spark's
    # sequence(0, -1) is the descending [0, -1] (round-9 ADVICE, high).
    # localCheckpoint (the ext23/E197 pattern): grams feeds the
    # signature agg AND the truth pipeline — without materialization
    # every consumer re-runs the shingle extraction, and the
    # concurrent recomputes OOM the BARE 1g driver-mimic session at
    # sf0.01.
    grams = D.shingles(docs, 3).localCheckpoint(eager=False)
    # Exact corpus-wide truth set: grouped-pair emission + size joins
    # (operators/dedup.jaccard_pairs), df_cap=None — no shingle is
    # dropped, so this is the same pair set the old a×b shingle
    # self-join produced, in one shuffle instead of three.  The
    # checkpointed input is unprobeable, so the size-join strategy is
    # footer-gated explicitly (broadcast below the doc cutoff).
    truth = (
        D.jaccard_pairs(
            grams,
            threshold=_BT_TRUE_J,
            df_cap=None,
            broadcast_sizes=not gates.corpus_exceeds(sf_dir),
        )
        .select(F.col("doc_id_a").alias("da"), F.col("doc_id_b").alias("db"))
        .localCheckpoint(eager=False)
    )
    sigs = grams.groupBy("doc_id").agg(
        *[
            F.min(_neutral_seeded_hash(F.col("shingle"), i)).alias(f"h{i}")
            for i in range(_BT_K)
        ]
    )
    # All 30 (config, band) rows per doc from ONE pass over the
    # signature table; checkpointed because the candidate self-join
    # reads it twice (the lsh_candidate_pairs pattern — doc_count x 30
    # rows of three small columns).
    bands = (
        sigs.select(
            "doc_id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(f"{bb}x{r}").alias("config"),
                            F.lit(band).alias("band_no"),
                            F.concat_ws(
                                "|",
                                *[
                                    F.col(f"h{band * r + j}").cast("string")
                                    for j in range(r)
                                ],
                            ).alias("band_val"),
                        )
                        for bb, r in _BT_CONFIGS
                        for band in range(bb)
                    ]
                )
            ).alias("b"),
        )
        .select("doc_id", "b.config", "b.band_no", "b.band_val")
        .localCheckpoint(eager=False)
    )
    ba, bbb = bands.alias("x"), bands.alias("y")
    cand = (
        ba.join(
            bbb,
            (F.col("x.config") == F.col("y.config"))
            & (F.col("x.band_no") == F.col("y.band_no"))
            & (F.col("x.band_val") == F.col("y.band_val"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.config").alias("config"),
            F.col("x.doc_id").alias("da"),
            F.col("y.doc_id").alias("db"),
        )
        .distinct()
    )
    per = (
        cand.join(truth.withColumn("hit", F.lit(1)), ["da", "db"], "left")
        .groupBy("config")
        .agg(
            F.count("*").cast("long").alias("n_candidates"),
            F.sum(F.coalesce("hit", F.lit(0))).cast("long").alias("n_caught"),
        )
    )
    nt = truth.agg(F.count("*").cast("long").alias("n_true"))
    return (
        per.crossJoin(F.broadcast(nt))
        .select(
            "config",
            F.split_part(F.col("config"), F.lit("x"), F.lit(1)).cast("long").alias("bands"),
            F.split_part(F.col("config"), F.lit("x"), F.lit(2))
            .cast("long")
            .alias("rows_per_band"),
            "n_candidates",
            "n_caught",
            "n_true",
            F.floor(
                F.col("n_caught").cast("double") / F.col("n_candidates").cast("double") * 1000000
            )
            .cast("long")
            .alias("precision_ppm"),
            F.floor(F.col("n_caught").cast("double") / F.col("n_true").cast("double") * 1000000)
            .cast("long")
            .alias("recall_ppm"),
        )
    )


dedup_band_tuning_audit.__doc__ = dedup_band_tuning_audit.__doc__.format(j=_BT_TRUE_J)


# ---------------------------------------------------------------------------
# E221: Neyman optimal sample allocation
# ---------------------------------------------------------------------------

_NEYMAN_BUDGET = 1000


@register(
    "stratified_neyman_allocation",
    tier="D",
    oracle=f"""
    WITH s AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS nh,
             CAST(SUM(n_chars) AS HUGEINT) AS sx,
             SUM(CAST(n_chars AS HUGEINT) * n_chars) AS sxx
      FROM documents GROUP BY source
    ),
    wt AS (
      SELECT source, nh,
             CAST(nh AS DOUBLE)
               * sqrt(CAST(nh * sxx - sx * sx AS DOUBLE)
                      / (CAST(nh AS DOUBLE) * CAST(nh - 1 AS DOUBLE))
                      / CAST(nh AS DOUBLE)) AS w
      FROM s
    ),
    shares AS (
      SELECT source, nh, w,
             (SELECT SUM(w) FROM wt) AS wtot,
             (SELECT SUM(nh) FROM wt) AS ntot
      FROM wt
    ),
    fl AS (
      SELECT source, nh,
             CAST(FLOOR({_NEYMAN_BUDGET} * w / wtot) AS BIGINT) AS base,
             {_NEYMAN_BUDGET} * w / wtot
               - FLOOR({_NEYMAN_BUDGET} * w / wtot) AS rem,
             CAST(FLOOR({_NEYMAN_BUDGET} * CAST(nh AS DOUBLE)
                        / CAST(ntot AS DOUBLE)) AS BIGINT) AS prop_alloc,
             w, wtot
      FROM shares
    ),
    ranked AS (
      SELECT source, nh, base, prop_alloc,
             ROW_NUMBER() OVER (ORDER BY rem DESC, source) AS rr,
             (SELECT {_NEYMAN_BUDGET} - SUM(base) FROM fl) AS leftover
      FROM fl
    )
    SELECT source,
           nh AS n_docs,
           base + CASE WHEN rr <= leftover THEN 1 ELSE 0 END AS neyman_alloc,
           prop_alloc,
           CAST(FLOOR(1000000.0 * base / {_NEYMAN_BUDGET}) AS BIGINT)
             AS weight_share_ppm
    FROM ranked
    """,
)
def stratified_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E221: Neyman optimal allocation of a {b}-document QA sample
    across sources — allocate proportionally to N_h·S_h (stratum size
    times stratum standard deviation), the allocation that minimizes
    the variance of the stratified mean at fixed budget; proportional
    allocation rides along for contrast.  E33 draws a stratified
    sample given quotas; this computes the quotas worth drawing.

    Exactness: the sufficient statistics are exact integers; the
    weight needs one sqrt (correctly rounded); fractional seats are
    settled by LARGEST REMAINDER with a source tiebreak (identical
    float remainders both engines — same parenthesization), so
    allocations are integers summing exactly to the budget.

    Scale shape: one source rollup; everything after is |sources|-row
    metadata."""
    dec = "decimal(38,0)"
    s = (
        io.table(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("nh"),
            F.sum("n_chars").cast(dec).alias("sx"),
            F.sum(
                _no_silent_overflow(
                    (F.col("n_chars").cast(dec) * F.col("n_chars")).cast(dec),
                    "E221 x^2",
                )
            )
            .cast(dec)
            .alias("sxx"),
        )
    )
    nhd = F.col("nh").cast("double")
    # try_divide throughout: a single-document stratum has no S_h
    # (df=0), and an all-tied corpus has wtot=0 — DuckDB's x/0 -> NULL
    # must be mirrored (degenerate sweep)
    w_expr = nhd * F.sqrt(
        F.try_divide(
            F.try_divide(
                (F.col("nh") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double"),
                nhd * (F.col("nh") - 1).cast("double"),
            ),
            nhd,
        )
    )
    wt = s.select("source", "nh", w_expr.alias("w"))
    tot = wt.agg(F.sum("w").alias("wtot"), F.sum("nh").cast("long").alias("ntot"))
    fl = wt.crossJoin(F.broadcast(tot)).select(
        "source",
        "nh",
        F.floor(F.try_divide(_NEYMAN_BUDGET * F.col("w"), F.col("wtot")))
        .cast("long")
        .alias("base"),
        (
            F.try_divide(_NEYMAN_BUDGET * F.col("w"), F.col("wtot"))
            - F.floor(F.try_divide(_NEYMAN_BUDGET * F.col("w"), F.col("wtot")))
        ).alias("rem"),
        F.floor(_NEYMAN_BUDGET * F.col("nh").cast("double") / F.col("ntot").cast("double"))
        .cast("long")
        .alias("prop_alloc"),
    )
    leftover = fl.agg((F.lit(_NEYMAN_BUDGET) - F.sum("base")).cast("long").alias("leftover"))
    ranked = fl.withColumn(
        "rr", F.row_number().over(Window.orderBy(F.desc("rem"), "source"))
    ).crossJoin(F.broadcast(leftover))
    return ranked.select(
        "source",
        F.col("nh").alias("n_docs"),
        (F.col("base") + F.when(F.col("rr") <= F.col("leftover"), 1).otherwise(0))
        .cast("long")
        .alias("neyman_alloc"),
        "prop_alloc",
        F.floor(F.lit(1000000.0) * F.col("base") / _NEYMAN_BUDGET)
        .cast("long")
        .alias("weight_share_ppm"),
    )


stratified_neyman_allocation.__doc__ = stratified_neyman_allocation.__doc__.format(
    b=_NEYMAN_BUDGET
)


# ---------------------------------------------------------------------------
# E222: Benjamini-Hochberg FDR correction
# ---------------------------------------------------------------------------

_BH_Q_MICRO = 50_000  # q = 0.05 in micro units

# Abramowitz-Stegun 7.1.26 erf approximation constants (identical
# literals both engines; |error| < 1.5e-7)
_AS_P = 0.3275911
_AS_A = (0.254829592, -0.284496736, 1.421413741, -1.453152027, 1.061405429)
_SQRT2 = 1.4142135623730951


def _p_two_sided_sql(z: str) -> str:
    x = f"(ABS({z}) / {_SQRT2})"
    t = f"(1.0 / (1.0 + {_AS_P} * {x}))"
    poly = (
        f"((((({_AS_A[4]} * {t} + {_AS_A[3]}) * {t} + {_AS_A[2]}) * {t} "
        f"+ {_AS_A[1]}) * {t} + {_AS_A[0]}) * {t})"
    )
    return f"({poly} * exp(-({x} * {x})))"


def _p_two_sided_col(z: Column) -> Column:
    x = F.abs(z) / F.lit(_SQRT2)
    t = F.lit(1.0) / (F.lit(1.0) + F.lit(_AS_P) * x)
    poly = (
        (
            (
                ((F.lit(_AS_A[4]) * t + F.lit(_AS_A[3])) * t + F.lit(_AS_A[2])) * t
                + F.lit(_AS_A[1])
            )
            * t
            + F.lit(_AS_A[0])
        )
        * t
    )
    return poly * F.exp(-(x * x))


@register(
    "bh_fdr_correction",
    tier="D",
    oracle=f"""
    WITH s AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS nh,
             CAST(SUM(n_chars) AS HUGEINT) AS sx
      FROM documents GROUP BY source
    ),
    g AS (
      SELECT CAST(SUM(nh) AS HUGEINT) AS n,
             CAST(SUM(sx) AS HUGEINT) AS sxa,
             (SELECT SUM(CAST(n_chars AS HUGEINT) * n_chars) FROM documents)
               AS sxx,
             CAST(COUNT(*) AS BIGINT) AS m
      FROM s
    ),
    z AS (
      SELECT s.source, s.nh,
             ((CAST(s.sx AS DOUBLE) / CAST(s.nh AS DOUBLE)
               - CAST(g.sxa AS DOUBLE) / CAST(g.n AS DOUBLE))
              * sqrt(CAST(s.nh AS DOUBLE)))
             / sqrt(CAST(g.n * g.sxx - g.sxa * g.sxa AS DOUBLE)
                    / (CAST(g.n AS DOUBLE) * CAST(g.n AS DOUBLE))) AS zval,
             g.m
      FROM s, g
    ),
    p AS (
      SELECT source, nh, m,
             CAST(FLOOR(zval * 1000) AS BIGINT) AS z_milli,
             CAST(FLOOR({_p_two_sided_sql("zval")} * 1000000) AS BIGINT)
               AS p_micro
      FROM z
    ),
    ranked AS (
      SELECT source, nh, m, z_milli, p_micro,
             ROW_NUMBER() OVER (ORDER BY p_micro NULLS LAST, source) AS k
      FROM p
    ),
    cutoff AS (
      SELECT COALESCE(MAX(CASE WHEN p_micro * m <= k * {_BH_Q_MICRO}
                               THEN k END), 0) AS kmax
      FROM ranked
    )
    SELECT r.source, r.nh AS n_docs, r.z_milli, r.p_micro,
           CAST(r.k AS BIGINT) AS bh_rank,
           r.k <= c.kmax AS rejected
    FROM ranked r, cutoff c
    """,
)
def bh_fdr_correction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E222: Benjamini-Hochberg step-up FDR correction at q=0.05 over
    the per-source mean-length z-tests — the multiple-testing hygiene
    E135's single chi-square gate lacks: with 20 sources, one "significant"
    outlier is expected by chance; BH controls the false-discovery
    rate across the whole battery.  Rejection is STEP-UP: every rank
    at or below the largest k with p_(k) <= k·q/m rejects.

    Exactness: z comes from exact integer sufficient statistics
    through identically-parenthesized expressions; the normal CDF is
    the Abramowitz-Stegun 7.1.26 polynomial with IDENTICAL literal
    constants both engines (the exp() it contains matched
    bit-for-bit in E196), floored to micro; every BH comparison is
    then PURE INTEGER (p_micro·m <= k·q_micro), so no decision rides
    on a float boundary.

    Scale shape: one source rollup + one global row; the BH sort is
    |sources|-row metadata."""
    dec = "decimal(38,0)"
    docs = io.table(spark, sf_dir, "documents").select("source", "n_chars")
    s = docs.groupBy("source").agg(
        F.count("*").cast("long").alias("nh"), F.sum("n_chars").cast(dec).alias("sx")
    )
    g = docs.agg(
        F.count("*").cast(dec).alias("n"),
        F.sum("n_chars").cast(dec).alias("sxa"),
        F.sum(
            _no_silent_overflow(
                (F.col("n_chars").cast(dec) * F.col("n_chars")).cast(dec), "E222 x^2"
            )
        )
        .cast(dec)
        .alias("sxx"),
    ).crossJoin(s.agg(F.count("*").cast("long").alias("m")))
    z = s.crossJoin(F.broadcast(g)).select(
        "source",
        "nh",
        "m",
        F.try_divide(
            (
                F.col("sx").cast("double") / F.col("nh").cast("double")
                - F.col("sxa").cast("double") / F.col("n").cast("double")
            )
            * F.sqrt(F.col("nh").cast("double")),
            F.sqrt(
                (F.col("n") * F.col("sxx") - F.col("sxa") * F.col("sxa")).cast("double")
                / (F.col("n").cast("double") * F.col("n").cast("double"))
            ),
        ).alias("zval"),
    )
    p = z.select(
        "source",
        "nh",
        "m",
        F.floor(F.col("zval") * 1000).cast("long").alias("z_milli"),
        F.floor(_p_two_sided_col(F.col("zval")) * 1000000).cast("long").alias("p_micro"),
    )
    # NULLS LAST explicitly: Spark ascending defaults nulls FIRST,
    # DuckDB nulls LAST — an undefined p (zero corpus variance) must
    # rank identically in both engines
    ranked = p.withColumn(
        "k", F.row_number().over(Window.orderBy(F.asc_nulls_last("p_micro"), "source"))
    )
    cutoff = ranked.agg(
        F.coalesce(
            F.max(
                F.when(
                    F.col("p_micro") * F.col("m") <= F.col("k") * _BH_Q_MICRO, F.col("k")
                )
            ),
            F.lit(0),
        ).alias("kmax")
    )
    return ranked.crossJoin(F.broadcast(cutoff)).select(
        "source",
        F.col("nh").alias("n_docs"),
        "z_milli",
        "p_micro",
        F.col("k").cast("long").alias("bh_rank"),
        (F.col("k") <= F.col("kmax")).alias("rejected"),
    )


# ---------------------------------------------------------------------------
# E223: deterministic Poisson bootstrap CI
# ---------------------------------------------------------------------------

_BOOT_B = 100
# Poisson(1) CDF thresholds, precomputed once and embedded as literals
# in BOTH engines' queries — no engine libm is involved in the weights
_POIS_CDF = (
    "0.36787944117144233",
    "0.7357588823428847",
    "0.9196986029286058",
    "0.9810118431238463",
    "0.9963401531726563",
    "0.9994058151824183",
    "0.999916758850712",
    "0.9999897508033253",
    "0.999998874797402",
)
_U_SCALE = float(1 << 60)


def _w_case_sql(u: str) -> str:
    whens = " ".join(
        f"WHEN {u} < {c} THEN {k}" for k, c in enumerate(_POIS_CDF)
    )
    return f"(CASE {whens} ELSE {len(_POIS_CDF)} END)"


@register(
    "bag_bootstrap_ci",
    tier="D",
    oracle=f"""
    WITH reps AS (
      SELECT d.doc_id, d.n_chars, r.b,
             CAST(list_reduce(string_split(
                    '0' || substr(md5(CAST(d.doc_id AS VARCHAR) || ':' ||
                                      CAST(r.b AS VARCHAR)), 1, 15), ''),
                  (acc, c) -> CAST(acc AS BIGINT) * 16
                              + strpos('0123456789abcdef', c) - 1) AS BIGINT)
               AS h
      FROM documents d,
           (SELECT unnest(generate_series(1, {_BOOT_B})) AS b) r
    ),
    weighted AS (
      SELECT b, n_chars,
             {_w_case_sql(f"(CAST(h AS DOUBLE) / {_U_SCALE!r})")} AS w
      FROM reps
    ),
    means AS (
      SELECT b,
             CAST(SUM(CAST(w AS BIGINT) * n_chars) AS BIGINT) AS sw_x,
             CAST(SUM(w) AS BIGINT) AS sw
      FROM weighted GROUP BY b
      HAVING SUM(w) > 0
    ),
    rm AS (
      SELECT b, CAST(sw_x AS DOUBLE) / CAST(sw AS DOUBLE) AS mean_b,
             ROW_NUMBER() OVER (
               ORDER BY CAST(sw_x AS DOUBLE) / CAST(sw AS DOUBLE), b) AS r,
             COUNT(*) OVER () AS nb
      FROM means
    ),
    base AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(FLOOR(CAST(SUM(n_chars) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
                        * 1000) AS BIGINT) AS mean_millichars
      FROM documents
    )
    SELECT base.n_docs, base.mean_millichars,
           (SELECT CAST(nb AS BIGINT) FROM rm LIMIT 1) AS b_replicas,
           (SELECT CAST(FLOOR(mean_b * 1000) AS BIGINT) FROM rm
            WHERE r = CAST(CEIL(nb * 0.025) AS BIGINT)) AS ci_lo_millichars,
           (SELECT CAST(FLOOR(mean_b * 1000) AS BIGINT) FROM rm
            WHERE r = CAST(CEIL(nb * 0.975) AS BIGINT)) AS ci_hi_millichars
    FROM base
    """,
)
def bag_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E223: DETERMINISTIC Poisson bootstrap 95% CI for the mean
    document length — {B} replicas where document d's weight in
    replica b is the Poisson(1) inverse-CDF of a hash-derived uniform
    (the engine-neutral 60-bit md5 of (doc_id, b)), the standard
    Poisson approximation to multinomial resampling (Chamandy et al.,
    "Estimating Uncertainty for Massive Data Streams", 2012).  E202's
    jackknife covers the mean in closed form; the bootstrap device
    generalizes to ANY statistic — this query is the template, made
    reproducible: no RNG, so the CI is a stable regression target.

    Exactness: u = h/2^60 is one exact IEEE division of an integer
    hash both engines compute bit-for-bit; the Poisson CDF thresholds
    are PRECOMPUTED LITERALS (no engine libm); weights are small
    integers, so every replica's (Σwx, Σw) is exact; one division per
    replica mean; the CI picks are nearest-rank over a (mean, b)
    total order.

    Scale shape: the replica explode is a map-side flatMap (x{B});
    per-replica sums partial-aggregate into {B} rows of two integers
    — the bootstrap at 100 TB is exactly this shape, with the explode
    fused into the scan."""
    docs = io.table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    reps = docs.crossJoin(
        F.broadcast(
            docs.sparkSession.range(1, _BOOT_B + 1).select(F.col("id").alias("b"))
        )
    ).select(
        "b",
        "n_chars",
        _neutral_seeded_hash(F.col("doc_id").cast("string"), 0)
        .alias("_unused")
        if False
        else F.conv(
            F.substring(
                F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":"), F.col("b").cast("string"))),
                1,
                15,
            ),
            16,
            10,
        )
        .cast("long")
        .alias("h"),
    )
    u = F.col("h").cast("double") / F.lit(_U_SCALE)
    w = F.lit(len(_POIS_CDF))
    for k in range(len(_POIS_CDF) - 1, -1, -1):
        w = F.when(u < float(_POIS_CDF[k]), k).otherwise(w)
    weighted = reps.select("b", "n_chars", w.alias("w"))
    means = (
        weighted.groupBy("b")
        .agg(
            F.sum(F.col("w").cast("long") * F.col("n_chars")).cast("long").alias("sw_x"),
            F.sum("w").cast("long").alias("sw"),
        )
        .filter(F.col("sw") > 0)
    )
    rm = means.select(
        "b", (F.col("sw_x").cast("double") / F.col("sw").cast("double")).alias("mean_b")
    ).select(
        "mean_b",
        F.row_number().over(Window.orderBy("mean_b", "b")).alias("r"),
        F.count("*")
        .over(Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
        .alias("nb"),
    )
    base = docs.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.floor(F.sum("n_chars").cast("double") / F.count("*").cast("double") * 1000)
        .cast("long")
        .alias("mean_millichars"),
    )
    # aggregates, not filter+select: on an EMPTY corpus the replica
    # table is empty, and a filter would yield 0 rows where the
    # oracle's scalar subqueries yield one NULL row — a global agg
    # always returns exactly one row (NULL when nothing matched)
    nb = rm.agg(F.max("nb").cast("long").alias("b_replicas"))
    lo = rm.agg(
        F.max(
            F.when(
                F.col("r") == F.ceil(F.col("nb") * 0.025).cast("long"),
                F.floor(F.col("mean_b") * 1000).cast("long"),
            )
        ).alias("ci_lo_millichars")
    )
    hi = rm.agg(
        F.max(
            F.when(
                F.col("r") == F.ceil(F.col("nb") * 0.975).cast("long"),
                F.floor(F.col("mean_b") * 1000).cast("long"),
            )
        ).alias("ci_hi_millichars")
    )
    return (
        base.crossJoin(F.broadcast(nb))
        .crossJoin(F.broadcast(lo))
        .crossJoin(F.broadcast(hi))
        .select("n_docs", "mean_millichars", "b_replicas", "ci_lo_millichars", "ci_hi_millichars")
    )


# ---------------------------------------------------------------------------
# E224: isotonic calibration via the minimax (PAV) formula
# ---------------------------------------------------------------------------

_ISO_BINS = 20


@register(
    "isotonic_calibration_pav",
    tier="D",
    oracle=f"""
    WITH scored AS (
      SELECT NTILE({_ISO_BINS}) OVER (ORDER BY ROUND(c.c_acctbal * 100, 0),
                                      c.c_custkey) AS bin,
             CASE WHEN EXISTS (SELECT 1 FROM orders o
                               WHERE o.o_custkey = c.c_custkey)
                  THEN 1 ELSE 0 END AS pos
      FROM customer c
    ),
    binned AS (
      SELECT bin, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(pos) AS BIGINT) AS pos
      FROM scored GROUP BY bin
    ),
    pre AS (
      SELECT bin, n, pos,
             SUM(n) OVER (ORDER BY bin) AS cn,
             SUM(pos) OVER (ORDER BY bin) AS cpos
      FROM binned
    ),
    intervals AS (
      SELECT a.bin AS j, b.bin AS k,
             CAST(b.cpos - (a.cpos - a.pos) AS DOUBLE)
               / CAST(b.cn - (a.cn - a.n) AS DOUBLE) AS avg_jk
      FROM pre a JOIN pre b ON a.bin <= b.bin
    ),
    inner_min AS (
      SELECT g.bin AS i, iv.j, MIN(iv.avg_jk) AS m_ij
      FROM (SELECT bin FROM binned) g
      JOIN intervals iv ON iv.j <= g.bin AND iv.k >= g.bin
      GROUP BY g.bin, iv.j
    ),
    fitted AS (
      SELECT i AS bin, MAX(m_ij) AS fit
      FROM inner_min GROUP BY i
    )
    SELECT b.bin,
           b.n AS n_customers,
           b.pos AS n_buyers,
           CAST(FLOOR(CAST(b.pos AS DOUBLE) / CAST(b.n AS DOUBLE) * 1000000)
                AS BIGINT) AS raw_rate_ppm,
           CAST(FLOOR(f.fit * 1000000) AS BIGINT) AS isotonic_rate_ppm
    FROM binned b JOIN fitted f ON b.bin = f.bin
    """,
)
def isotonic_calibration_pav(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E224: isotonic calibration of the buy rate on the account-
    balance score, computed by the MINIMAX formula — the closed form
    of pool-adjacent-violators: fit_i = max_{{j<=i}} min_{{k>=i}}
    avg(y over bins j..k) (Robertson-Wright-Dykstra).  E151's
    reliability bins show raw calibration; the isotonic fit is the
    monotone regression a calibrated scorer actually ships, and the
    sequential PAV pooling loop becomes two grouped min/max passes
    over a bounded interval grid — fully declarative, no iteration.

    Exactness: bins are NTILE over a total order; interval averages
    come from exact integer prefix sums with ONE division each; the
    min/max lattice runs on those identically-computed doubles, so
    both engines pick identical fits; floored to ppm.

    Scale shape: the binning rollup is data-sized (map-side
    combinable after the NTILE, which is the documented E175 global-
    sort pattern); the interval grid is B(B+1)/2 = {n} rows of
    metadata."""
    c = io.table(spark, sf_dir, "customer")
    o = io.table(spark, sf_dir, "orders").select("o_custkey").distinct()
    scored = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .select(
            F.ntile(_ISO_BINS)
            .over(
                Window.orderBy(F.round(F.col("c_acctbal") * 100, 0), F.col("c_custkey"))
            )
            .alias("bin"),
            F.when(F.col("o_custkey").isNull(), 0).otherwise(1).alias("pos"),
        )
    )
    binned = scored.groupBy("bin").agg(
        F.count("*").cast("long").alias("n"), F.sum("pos").cast("long").alias("pos")
    )
    wpre = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    pre = binned.select(
        "bin",
        "n",
        "pos",
        F.sum("n").over(wpre).alias("cn"),
        F.sum("pos").over(wpre).alias("cpos"),
    )
    a, b = pre.alias("a"), pre.alias("b")
    intervals = a.join(b, F.col("a.bin") <= F.col("b.bin")).select(
        F.col("a.bin").alias("j"),
        F.col("b.bin").alias("k"),
        (
            (F.col("b.cpos") - (F.col("a.cpos") - F.col("a.pos"))).cast("double")
            / (F.col("b.cn") - (F.col("a.cn") - F.col("a.n"))).cast("double")
        ).alias("avg_jk"),
    )
    grid = binned.select("bin")
    inner_min = (
        grid.join(
            intervals,
            (F.col("j") <= F.col("bin")) & (F.col("k") >= F.col("bin")),
        )
        .groupBy("bin", "j")
        .agg(F.min("avg_jk").alias("m_ij"))
    )
    fitted = inner_min.groupBy("bin").agg(F.max("m_ij").alias("fit"))
    return binned.join(fitted, "bin").select(
        "bin",
        F.col("n").alias("n_customers"),
        F.col("pos").alias("n_buyers"),
        F.floor(F.col("pos").cast("double") / F.col("n").cast("double") * 1000000)
        .cast("long")
        .alias("raw_rate_ppm"),
        F.floor(F.col("fit") * 1000000).cast("long").alias("isotonic_rate_ppm"),
    )


isotonic_calibration_pav.__doc__ = isotonic_calibration_pav.__doc__.format(
    n=_ISO_BINS * (_ISO_BINS + 1) // 2
)


# ---------------------------------------------------------------------------
# E225: Lorenz curve at vigintile points
# ---------------------------------------------------------------------------

_LORENZ_POINTS = 20


@register(
    "lorenz_curve_points",
    tier="D",
    oracle=f"""
    WITH rev AS (
      SELECT c.c_custkey,
             CAST(COALESCE(SUM(CAST(ROUND(o.o_totalprice * 100, 0) AS BIGINT)),
                           0) AS BIGINT) AS cents
      FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY c.c_custkey
    ),
    ranked AS (
      SELECT cents,
             ROW_NUMBER() OVER (ORDER BY cents, c_custkey) AS r,
             SUM(cents) OVER (ORDER BY cents, c_custkey) AS cum,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM rev) AS n,
             (SELECT CAST(SUM(cents) AS BIGINT) FROM rev) AS tot
      FROM rev
    ),
    pts AS (
      SELECT CAST(p AS BIGINT) AS pct_x_{_LORENZ_POINTS},
             CAST(CEIL(n * p / {_LORENZ_POINTS}.0) AS BIGINT) AS rr
      FROM (SELECT unnest(generate_series(1, {_LORENZ_POINTS})) AS p), ranked
      GROUP BY 1, 2
    )
    SELECT p.pct_x_{_LORENZ_POINTS} AS vigintile,
           CAST(p.rr AS BIGINT) AS n_customers_cum,
           CAST(r.cum AS BIGINT) AS revenue_cents_cum,
           CAST(FLOOR(CAST(r.cum AS DOUBLE) / CAST(r.tot AS DOUBLE) * 1000000)
                AS BIGINT) AS cum_share_ppm,
           CAST(p.pct_x_{_LORENZ_POINTS} * {1_000_000 // _LORENZ_POINTS}
                - FLOOR(CAST(r.cum AS DOUBLE) / CAST(r.tot AS DOUBLE) * 1000000)
                AS BIGINT) AS equality_gap_ppm
    FROM pts p JOIN ranked r ON r.r = p.rr
    """,
)
def lorenz_curve_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E225: the Lorenz curve of customer revenue at vigintile points
    — cumulative revenue share of the bottom p/20 of customers
    (zero-order customers included at 0), with the gap to the
    equality diagonal.  E104 reports the top-k concentration number
    and E126 the Gini coefficient of lengths; the curve is what the
    inequality statement looks like, point by point, and the Gini is
    twice the area between this curve and the diagonal.

    Exactness: revenue is exact cents with zero-customers kept by the
    left join; curve points are nearest-rank picks (ceil(pn/20)) on a
    (cents, custkey) total order; cumulative sums are exact integers;
    one division per point, floored to ppm.

    Scale shape: one customer rollup; the ranking is the E175
    global-sort pattern; output is 20 rows."""
    c = io.table(spark, sf_dir, "customer").select("c_custkey")
    o = io.table(spark, sf_dir, "orders").select(
        "o_custkey", F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents")
    )
    rev = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.coalesce(F.sum("cents"), F.lit(0)).cast("long").alias("cents"))
    )
    wr = Window.orderBy("cents", "c_custkey")
    tot = rev.agg(
        F.count("*").cast("long").alias("n"), F.sum("cents").cast("long").alias("tot")
    )
    ranked = rev.select(
        "cents",
        F.row_number().over(wr).alias("r"),
        F.sum("cents").over(wr.rowsBetween(Window.unboundedPreceding, 0)).alias("cum"),
    ).crossJoin(F.broadcast(tot))
    pts = (
        rev.sparkSession.range(1, _LORENZ_POINTS + 1)
        .select(F.col("id").alias("vigintile"))
        .crossJoin(F.broadcast(tot))
        .select(
            "vigintile",
            F.ceil(F.col("n") * F.col("vigintile") / float(_LORENZ_POINTS))
            .cast("long")
            .alias("rr"),
        )
    )
    # try_divide: zero total revenue (degenerate fixture where no order
    # matches any customer) makes every share undefined — DuckDB NULL
    share = F.floor(
        F.try_divide(F.col("cum").cast("double"), F.col("tot").cast("double")) * 1000000
    ).cast("long")
    return pts.join(ranked, pts.rr == ranked.r).select(
        "vigintile",
        F.col("rr").cast("long").alias("n_customers_cum"),
        F.col("cum").cast("long").alias("revenue_cents_cum"),
        share.alias("cum_share_ppm"),
        (F.col("vigintile") * (1_000_000 // _LORENZ_POINTS) - share)
        .cast("long")
        .alias("equality_gap_ppm"),
    )


# ---------------------------------------------------------------------------
# E226: entity-resolution feature-agreement scorecard
# ---------------------------------------------------------------------------

_ER_BAND_CENTS = 50_000  # acctbal blocking band: $500


@register(
    "entity_resolution_scorecard",
    tier="D",
    oracle=f"""
    WITH cust AS (
      SELECT c_custkey AS id, c_nationkey AS nat,
             CAST(ROUND(c_acctbal * 100, 0) AS BIGINT) AS bal,
             -- FLOOR division, not // : DuckDB's // truncates toward
             -- zero, so negative balances would band differently from
             -- Spark's floor(a/b)
             CAST(FLOOR(CAST(ROUND(c_acctbal * 100, 0) AS DOUBLE)
                        / {_ER_BAND_CENTS}) AS BIGINT) AS band
      FROM customer
    ),
    supp AS (
      SELECT s_suppkey AS id, s_nationkey AS nat,
             CAST(ROUND(s_acctbal * 100, 0) AS BIGINT) AS bal,
             CAST(FLOOR(CAST(ROUND(s_acctbal * 100, 0) AS DOUBLE)
                        / {_ER_BAND_CENTS}) AS BIGINT) AS band
      FROM supplier
    ),
    pairs AS (
      SELECT c.id AS cid, s.id AS sid,
             CASE WHEN ABS(c.bal - s.bal) <= 10000 THEN 1 ELSE 0 END AS f_bal,
             CASE WHEN c.id % 97 = s.id % 97 THEN 1 ELSE 0 END AS f_key
      FROM cust c JOIN supp s
        ON c.nat = s.nat AND c.band = s.band
    ),
    patt AS (
      SELECT f_bal, f_key, CAST(COUNT(*) AS BIGINT) AS n_pairs
      FROM pairs GROUP BY f_bal, f_key
    ),
    marg AS (
      SELECT (SELECT CAST(SUM(n_pairs) AS BIGINT) FROM patt) AS n,
             (SELECT CAST(SUM(CASE WHEN f_bal = 1 THEN n_pairs ELSE 0 END)
                          AS BIGINT) FROM patt) AS n_bal,
             (SELECT CAST(SUM(CASE WHEN f_key = 1 THEN n_pairs ELSE 0 END)
                          AS BIGINT) FROM patt) AS n_key
    )
    SELECT p.f_bal, p.f_key, p.n_pairs,
           CAST(FLOOR(CAST(p.n_pairs AS DOUBLE) / CAST(m.n AS DOUBLE)
                      * 1000000) AS BIGINT) AS pattern_share_ppm,
           CAST(FLOOR(ln((CAST(p.n_pairs AS DOUBLE) * CAST(m.n AS DOUBLE))
                         / (CAST(CASE WHEN p.f_bal = 1 THEN m.n_bal
                                      ELSE m.n - m.n_bal END AS DOUBLE)
                            * CAST(CASE WHEN p.f_key = 1 THEN m.n_key
                                        ELSE m.n - m.n_key END AS DOUBLE)))
                      * 1000) AS BIGINT) AS pmi_milli
    FROM patt p, marg m
    """,
)
def entity_resolution_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E226: Fellegi-Sunter-style feature-agreement scorecard over
    BLOCKED customer-supplier candidate pairs — block on (nation,
    $500 balance band), extract two agreement features (balance
    within $100; key congruence mod 97 as the stand-in for a noisy
    shared identifier), and report each agreement PATTERN's pair
    count plus its PMI against feature independence — the
    log-likelihood-weight table a probabilistic linker thresholds
    on (E83 blocks and picks nearest names; this audits whether the
    features are informative at all: PMI ~ 0 everywhere means the
    block is random).

    Exactness: features and pattern counts are pure integers over the
    blocked join; the PMI is one identically-parenthesized expression
    using ln (bit-identical cross-engine, the E86 precedent), floored
    to milli.

    Scale shape: the blocked equi-join bounds candidate pairs by
    block sizes (never |C| x |S|); pattern rollup partial-aggregates;
    output is 4 rows."""
    cust = io.table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("cid"),
        F.col("c_nationkey").alias("nat"),
        F.round(F.col("c_acctbal") * 100, 0).cast("long").alias("bal"),
    )
    supp = io.table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("sid"),
        F.col("s_nationkey").alias("snat"),
        F.round(F.col("s_acctbal") * 100, 0).cast("long").alias("sbal"),
    )
    band = lambda col: F.floor(col / _ER_BAND_CENTS).cast("long")  # noqa: E731
    pairs = cust.join(
        supp,
        (F.col("nat") == F.col("snat")) & (band(F.col("bal")) == band(F.col("sbal"))),
    ).select(
        F.when(F.abs(F.col("bal") - F.col("sbal")) <= 10000, 1).otherwise(0).alias("f_bal"),
        F.when(F.col("cid") % 97 == F.col("sid") % 97, 1).otherwise(0).alias("f_key"),
    )
    patt = pairs.groupBy("f_bal", "f_key").agg(F.count("*").cast("long").alias("n_pairs"))
    marg = patt.agg(
        F.sum("n_pairs").cast("long").alias("n"),
        F.sum(F.when(F.col("f_bal") == 1, F.col("n_pairs")).otherwise(0))
        .cast("long")
        .alias("n_bal"),
        F.sum(F.when(F.col("f_key") == 1, F.col("n_pairs")).otherwise(0))
        .cast("long")
        .alias("n_key"),
    )
    j = patt.crossJoin(F.broadcast(marg))
    pb = F.when(F.col("f_bal") == 1, F.col("n_bal")).otherwise(F.col("n") - F.col("n_bal"))
    pk = F.when(F.col("f_key") == 1, F.col("n_key")).otherwise(F.col("n") - F.col("n_key"))
    pmi = F.log(
        (F.col("n_pairs").cast("double") * F.col("n").cast("double"))
        / (pb.cast("double") * pk.cast("double"))
    )
    return j.select(
        "f_bal",
        "f_key",
        "n_pairs",
        F.floor(F.col("n_pairs").cast("double") / F.col("n").cast("double") * 1000000)
        .cast("long")
        .alias("pattern_share_ppm"),
        F.floor(pmi * 1000).cast("long").alias("pmi_milli"),
    )
