"""Tier D (part 23) — keyphrases, predictability, dedup-graph QA,
aging (SURVEY.md §2-E E192-E195).

Twenty-second batch, registered in round 8 and STAGED with E171-E191
for the round-9 grading window: RAKE keyphrase extraction (the
classic stopword-delimited co-occurrence scorer, run corpus-wide),
transition entropy (how PREDICTABLE each event type's successor is —
the uncertainty complement of E185's argmax backtest), the candidate-
pair degree profile (dedup-graph QA: hub documents are template
pages), and open-order aging buckets (the receivables-style ops
report).

Same exactness discipline; the two float sums with engine-dependent
order (per-phrase member-score sum, per-type entropy) fold over
position-/type-ordered lists (the E133 device).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import io
from ..operators.text import STOPWORDS
from ..registry import register

# ---------------------------------------------------------------------------
# E192: RAKE keyphrase extraction
# ---------------------------------------------------------------------------

_RAKE_TOP = 20
_RAKE_MAX_PHRASE = 4
_STOP_SQL_LIST = ", ".join(f"'{w}'" for w in STOPWORDS)


@register(
    "text_rake_keyphrases",
    tier="D",
    oracle=rf"""
    WITH words AS (
      SELECT doc_id, i AS pos, w[i] AS word,
             w[i] IN ({_STOP_SQL_LIST}) AS is_stop
      FROM (SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS w
            FROM documents),
           UNNEST(generate_series(1, len(w))) AS t(i)
      WHERE w[i] <> ''
    ),
    islands AS (
      SELECT doc_id, pos, word,
             SUM(CASE WHEN is_stop THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY pos) AS phrase_id
      FROM words
      QUALIFY NOT is_stop
    ),
    phrases AS (
      SELECT doc_id, phrase_id,
             string_agg(word, ' ' ORDER BY pos) AS phrase,
             CAST(COUNT(*) AS BIGINT) AS plen
      FROM islands GROUP BY doc_id, phrase_id
      HAVING COUNT(*) <= {_RAKE_MAX_PHRASE}
    ),
    members AS (
      SELECT p.doc_id, p.phrase_id, p.phrase, p.plen, i.word, i.pos
      FROM phrases p
      JOIN islands i ON p.doc_id = i.doc_id AND p.phrase_id = i.phrase_id
    ),
    wstats AS (
      SELECT word,
             CAST(COUNT(*) AS BIGINT) AS freq,
             CAST(SUM(plen) AS BIGINT) AS deg
      FROM members GROUP BY word
    ),
    scored AS (
      SELECT m.phrase,
             list_reduce(
               list_prepend(CAST(0 AS DOUBLE),
                 list(CAST(w.deg AS DOUBLE) / CAST(w.freq AS DOUBLE)
                      ORDER BY m.pos)),
               (a, x) -> a + x) AS score
      FROM members m JOIN wstats w ON m.word = w.word
      GROUP BY m.doc_id, m.phrase_id, m.phrase
    )
    SELECT phrase,
           CAST(COUNT(*) AS BIGINT) AS n_occurrences,
           CAST(FLOOR(MIN(score) * 1000000) AS BIGINT) AS score_ppm
    FROM scored
    GROUP BY phrase
    ORDER BY score_ppm DESC, phrase
    LIMIT {_RAKE_TOP}
    """,
)
def text_rake_keyphrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E192: RAKE (Rapid Automatic Keyword Extraction) over the corpus
    — candidate phrases are maximal stopword-free word runs (≤4
    words), each scored Σ deg(w)/freq(w) over its members, where
    freq(w) counts a word's phrase memberships and deg(w) sums the
    lengths of phrases containing it (co-occurrence including self).
    The classic unsupervised keyphrase extractor (Rose et al. 2010) as
    a pure DataFrame pipeline — the corpus-QA view of WHAT the corpus
    is about, one level above E20's raw term counts and E22's TF-IDF.

    Exactness: phrase segmentation is the gaps-and-islands device
    (phrase_id = running stopword count — one per-doc window over word
    positions); freq/deg are exact integers; each member's deg/freq
    crosses IEEE once, and the per-phrase member sum — the one float
    sum whose order SQL never promises — folds in POSITION order via
    the E133 device.  Identical phrase instances score identically, so
    MIN(score) per phrase is order-free; top-20 ties break on the
    phrase string.

    Scale shape: word explode is narrow (positions stay in-doc); one
    per-doc window; word stats partial-aggregate map-side (vocabulary-
    keyed); the member join is word-keyed with the stats side
    vocabulary-sized (AQE-broadcastable after the frequency cut);
    TakeOrdered top-k."""
    d = io.table(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.lower("text"), r"\s+").alias("w")
    )
    words = (
        d.select("doc_id", F.posexplode("w").alias("pos0", "word"))
        .filter(F.col("word") != "")
        .select(
            "doc_id",
            (F.col("pos0") + 1).alias("pos"),
            "word",
            F.col("word").isin(*STOPWORDS).alias("is_stop"),
        )
    )
    wdoc = Window.partitionBy("doc_id").orderBy("pos")
    islands = (
        words.withColumn(
            "phrase_id", F.sum(F.when(F.col("is_stop"), 1).otherwise(0)).over(wdoc)
        )
        .filter(~F.col("is_stop"))
        .select("doc_id", "pos", "word", "phrase_id")
    )
    phrases = (
        islands.groupBy("doc_id", "phrase_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "word"))),
                    lambda s: s["word"],
                ),
                " ",
            ).alias("phrase"),
            F.count("*").cast("long").alias("plen"),
        )
        .filter(F.col("plen") <= _RAKE_MAX_PHRASE)
    )
    members = phrases.join(islands, ["doc_id", "phrase_id"]).select(
        "doc_id", "phrase_id", "phrase", "plen", "word", "pos"
    )
    wstats = members.groupBy("word").agg(
        F.count("*").cast("long").alias("freq"),
        F.sum("plen").cast("long").alias("deg"),
    )
    member_score = F.col("deg").cast("double") / F.col("freq").cast("double")
    scored = (
        members.join(wstats, "word")
        .groupBy("doc_id", "phrase_id", "phrase")
        .agg(
            F.aggregate(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("pos"), member_score.alias("ms")))
                    ),
                    lambda s: s["ms"],
                ),
                F.lit(0.0),
                lambda a, x: a + x,
            ).alias("score")
        )
    )
    return (
        scored.groupBy("phrase")
        .agg(
            F.count("*").cast("long").alias("n_occurrences"),
            F.floor(F.min("score") * 1000000).cast("long").alias("score_ppm"),
        )
        .orderBy(F.desc("score_ppm"), "phrase")
        .limit(_RAKE_TOP)
    )


# ---------------------------------------------------------------------------
# E193: transition entropy (successor predictability)
# ---------------------------------------------------------------------------


@register(
    "transition_entropy",
    tier="D",
    oracle="""
    WITH seq AS (
      SELECT event_type AS cur,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS nxt
      FROM events
    ),
    t AS (
      SELECT cur, nxt, CAST(COUNT(*) AS BIGINT) AS c
      FROM seq WHERE nxt IS NOT NULL GROUP BY cur, nxt
    ),
    g AS (
      SELECT cur,
             CAST(SUM(c) AS BIGINT) AS n,
             CAST(COUNT(*) AS BIGINT) AS n_successors,
             list_reduce(
               list_prepend(CAST(0 AS DOUBLE),
                 list(CAST(c AS DOUBLE) * log2(CAST(c AS DOUBLE)) ORDER BY nxt)),
               (a, x) -> a + x) AS sclogc
      FROM t GROUP BY cur
    )
    SELECT cur, n AS n_transitions, n_successors,
           CAST(FLOOR((log2(CAST(n AS DOUBLE)) - sclogc / CAST(n AS DOUBLE))
                      * 1000000) AS BIGINT) AS entropy_bits_ppm
    FROM g
    """,
)
def transition_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E193: Shannon entropy of each event type's successor
    distribution — how PREDICTABLE is the next step?  0 bits = one
    deterministic successor (E185's argmax model will score ~100%);
    log₂(types) bits = anyone's guess (no model can beat chance).
    The uncertainty bound that contextualizes E185's accuracy and
    E71's matrix — an accuracy of 45% is great at 2.2 bits and
    terrible at 0.3.

    Exactness: H = log₂(n) − (Σ c·log₂ c)/n over exact integer counts
    (the E86 n-scaled entropy identity — no per-term probability
    division); the cross-successor sum folds in successor order via
    the E133 device; log₂ matches cross-engine per the E86 precedent.

    Scale shape: one per-user lead window (shared with E71/E185), one
    types²-bounded rollup, one ≤types-element fold per row."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = io.table(spark, sf_dir, "events").select(
        F.col("event_type").alias("cur"),
        F.lead("event_type").over(w).alias("nxt"),
    )
    t = seq.filter(F.col("nxt").isNotNull()).groupBy("cur", "nxt").agg(
        F.count("*").cast("long").alias("c")
    )
    g = t.groupBy("cur").agg(
        F.sum("c").cast("long").alias("n"),
        F.count("*").cast("long").alias("n_successors"),
        F.aggregate(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col("nxt"),
                            (
                                F.col("c").cast("double")
                                * F.log2(F.col("c").cast("double"))
                            ).alias("t"),
                        )
                    )
                ),
                lambda s: s["t"],
            ),
            F.lit(0.0),
            lambda a, x: a + x,
        ).alias("sclogc"),
    )
    return g.select(
        "cur",
        F.col("n").alias("n_transitions"),
        "n_successors",
        F.floor(
            (
                F.log2(F.col("n").cast("double"))
                - F.col("sclogc") / F.col("n").cast("double")
            )
            * 1000000
        )
        .cast("long")
        .alias("entropy_bits_ppm"),
    )


# ---------------------------------------------------------------------------
# E194: dedup candidate-graph degree profile
# ---------------------------------------------------------------------------


@register(
    "dedup_degree_profile",
    tier="D",
    oracle=r"""
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
    deg AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS degree
      FROM (SELECT doc_id_a AS doc_id FROM prs
            UNION ALL
            SELECT doc_id_b AS doc_id FROM prs)
      GROUP BY doc_id
    )
    SELECT degree,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(doc_id) AS BIGINT) AS example_doc_id
    FROM deg GROUP BY degree
    """,
)
def dedup_degree_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E194: degree profile of the near-dup candidate graph — how many
    docs have exactly k Jaccard≥0.5 partners, with an example doc per
    degree.  The dedup-QA histogram: a healthy corpus is dominated by
    degree 1-2 (pairwise dupes); a heavy tail of high-degree hubs
    means TEMPLATE pages (one boilerplate shape matching dozens), the
    case where pair-at-a-time review is the wrong tool and cluster
    resolution (E25/E26) must run instead.  This is the query that
    DECIDES which path to take, from the same pair table both paths
    consume.

    Exactness: pure integer counting over the verified pair set (the
    dedup_ngram_jaccard oracle's pairs).

    Scale shape: degrees = one rollup over the pair table (duplicate-
    count-sized, never corpus-sized); the profile is ≤max-degree
    rows."""
    from ..operators import dedup as D
    from ..operators import gates

    docs = io.table(spark, sf_dir, "documents").select("doc_id", "text")
    pairs = D.jaccard_pairs(
        D.shingles(docs, 3, hashed=True),
        threshold=0.5,
        broadcast_sizes=not gates.corpus_exceeds(sf_dir),
    ).select("doc_id_a", "doc_id_b")
    ends = pairs.select(F.col("doc_id_a").alias("doc_id")).unionAll(
        pairs.select(F.col("doc_id_b").alias("doc_id"))
    )
    deg = ends.groupBy("doc_id").agg(F.count("*").cast("long").alias("degree"))
    return deg.groupBy("degree").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.min("doc_id").cast("long").alias("example_doc_id"),
    )


# ---------------------------------------------------------------------------
# E195: open-order aging buckets
# ---------------------------------------------------------------------------

_AGING_EDGES = (30, 90, 180)


@register(
    "orders_aging_buckets",
    tier="D",
    oracle=f"""
    WITH anchor AS (SELECT MAX(o_orderdate) AS mx FROM orders),
    aged AS (
      SELECT o_orderpriority,
             CAST(date_diff('day', o_orderdate, a.mx) AS BIGINT) AS age_days,
             o_totalprice
      FROM orders, anchor a
      WHERE o_orderstatus = 'O'
    ),
    bucketed AS (
      SELECT o_orderpriority,
             CASE WHEN age_days <= 30 THEN '0-30'
                  WHEN age_days <= 90 THEN '31-90'
                  WHEN age_days <= 180 THEN '91-180'
                  ELSE '180+' END AS age_bucket,
             o_totalprice
      FROM aged
    )
    SELECT o_orderpriority, age_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           (CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS DOUBLE)
            / 100.0) AS open_value
    FROM bucketed
    GROUP BY o_orderpriority, age_bucket
    """,
)
def orders_aging_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E195: open-order aging — orders still in status 'O', bucketed
    by days outstanding (0-30 / 31-90 / 91-180 / 180+, anchored to
    the corpus max date for reproducibility) per priority, with
    cent-exact open value.  The receivables-aging shape every ops/
    finance review runs; on table-management streams the same query
    ages UNCOMPACTED partitions (B1's backlog) — the bucket edges are
    the only domain-specific part.

    Exactness: ages are integer days; the value sum is the dec_sum
    device; buckets are pure integer comparisons.

    Scale shape: status filter pushes to the scan; the anchor is a
    1-row broadcast; one (priority, bucket)-bounded rollup."""
    orders = io.table(spark, sf_dir, "orders")
    anchor = orders.agg(F.max("o_orderdate").alias("mx"))
    aged = (
        orders.filter(F.col("o_orderstatus") == "O")
        .crossJoin(F.broadcast(anchor))
        .select(
            "o_orderpriority",
            F.datediff(F.col("mx"), F.col("o_orderdate")).cast("long").alias("age_days"),
            "o_totalprice",
        )
    )
    bucket = (
        F.when(F.col("age_days") <= _AGING_EDGES[0], F.lit("0-30"))
        .when(F.col("age_days") <= _AGING_EDGES[1], F.lit("31-90"))
        .when(F.col("age_days") <= _AGING_EDGES[2], F.lit("91-180"))
        .otherwise(F.lit("180+"))
    )
    return (
        aged.select("o_orderpriority", bucket.alias("age_bucket"), "o_totalprice")
        .groupBy("o_orderpriority", "age_bucket")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            (
                F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")).cast(
                    "double"
                )
                / F.lit(100.0)
            ).alias("open_value"),
        )
    )
