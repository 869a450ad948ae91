"""Deduplication operators for training-data pipelines (SURVEY.md SS2-D
D1/D2 + BASELINE.json north-star ops).

Five dedup families over the `documents` table, all shuffle-conscious:

- exact:      content hash -> keep min doc_id per hash (one shuffle)
- minhash:    word-shingle MinHash signatures + LSH banding — candidate
              pairs via equi-join on (band, band_hash) buckets, so the
              join never goes quadratic; verification joins only the
              candidates (the 100 TB path)
- simhash:    64-bit sign-aggregated fingerprint; near-dups = equal
              fingerprint buckets (or small hamming distance on
              candidates)
- ngram:      exact word-3-gram Jaccard on blocked candidate pairs
- embedding:  cosine near-dup over the embeddings table (see
              operators/similarity.py)

Hash choice: xxhash64 with per-permutation seeds — JVM-side, codegen'd,
no Python boundary anywhere in the signature computation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .. import io


def exact_dedup(documents: DataFrame, keep: str = "min") -> DataFrame:
    """D1: exact dedup by sha256(text); deterministic survivor = min
    doc_id per hash.  groupBy-join-free formulation: one window rank
    per hash partition."""
    w = Window.partitionBy("content_hash").orderBy("doc_id")
    return (
        documents.withColumn("content_hash", F.sha2("text", 256))
        .withColumn("rank_in_group", F.row_number().over(w))
        .filter(F.col("rank_in_group") == 1)
        .drop("rank_in_group")
    )


def shingles(documents: DataFrame, n: int = 3, hashed: bool = False) -> DataFrame:
    """Distinct word n-gram shingles per document: (doc_id, shingle).

    Formulated as arrays_zip of the word array with its shifted slices
    — the split runs a fixed number of times per row (a slice-per-index
    transform would re-evaluate it per element, ~40% slower), the whole
    op is narrow (no shuffle), and docs shorter than n yield no
    shingles.  Only n=3 is wired (the standard near-dup shingle width).

    `hashed=True` emits the 64-bit xxhash64 of the word triple instead
    of the joined string — for consumers that only ever use shingles
    as equality keys (jaccard_pairs hashes them immediately anyway):
    the ~30-byte gram string is never materialized and array_distinct
    runs over 8-byte longs.  Distinctness and co-occurrence are
    identical up to the SAME ~2^-64 collision class the hashed join
    key already accepts (word -> string mapping is injective for
    whitespace-split words, and a 3-gram join string is never empty,
    so the string form's empty-filter has no analogue to replicate).
    MinHash consumers need the string (seeded xxhash64(shingle, i)
    signatures are pinned by the candidate-set oracles) and must NOT
    pass this."""
    if n != 3:
        raise NotImplementedError("shingles() is specialized for n=3")
    # Extraction is narrow — no shuffle on a real corpus, where input
    # splits already provide parallelism.  The local fixture is ONE
    # parquet row group (file splits cannot divide a row group, so no
    # split-size setting can help); only in that degenerate case
    # spread the CPU-bound transform chain.  The guard keeps the 100 TB
    # path shuffle-free: thousands of row groups -> no repartition,
    # corpus text never moves.  File-backed frames are sized from
    # their footers (io.input_row_groups, no RDD conversion); in-memory
    # frames and non-local URIs keep the exact .rdd.getNumPartitions()
    # probe (~0.2 s per fresh plan, r12).
    d = documents
    spread = d.sparkSession.sparkContext.defaultParallelism
    n_in = io.input_row_groups(d)
    if n_in is None:
        n_in = d.rdd.getNumPartitions()
    if n_in < min(4, spread):
        d = d.repartition(spread, "doc_id")
    d = d.withColumn("w", F.split(F.lower("text"), r"\s+"))
    z = F.arrays_zip(F.col("w"), F.slice("w", 2, 1_000_000_000), F.slice("w", 3, 1_000_000_000))
    if hashed:
        gram = F.transform(
            z, lambda s: F.when(s["2"].isNotNull(), F.xxhash64(s["w"], s["1"], s["2"]))
        )
        return d.select(
            "doc_id",
            F.explode(F.array_distinct(F.filter(gram, lambda g: g.isNotNull()))).alias(
                "shingle"
            ),
        )
    gram = F.transform(
        z, lambda s: F.when(s["2"].isNotNull(), F.concat_ws(" ", s["w"], s["1"], s["2"]))
    )
    return (
        d.select(
            "doc_id",
            F.explode(F.array_distinct(F.filter(gram, lambda g: g.isNotNull()))).alias("shingle"),
        )
        .filter(F.col("shingle") != "")
    )


def minhash_signatures(
    sh: DataFrame, num_hashes: int = 32, with_count: bool = False
) -> DataFrame:
    """MinHash signature per doc: for each of `num_hashes` seeded hash
    functions, the min over the doc's shingles.  Computed as ONE
    aggregation of `num_hashes` independent min(xxhash64) accumulators
    — no per-permutation shuffle, no Python, and no per-shingle-row
    array materialization: hashing inline inside the partial agg beats
    building a 32-element array column first by ~15% steady-state
    (A/B'd at sf0.1, identical signatures), and the allocation it
    avoids is per shingle row — the hottest row count in the repo."""
    # Built as ONE parsed expression string: the per-seed Column-object
    # loop cost ~num_hashes x 4 py4j round-trips of driver latency per
    # query BUILD (guide §3.3 — plan construction was the bottleneck,
    # profiled r15); one F.expr parse is a single round-trip and yields
    # the identical Catalyst tree (int seed literal, same xxhash64).
    # `with_count` additionally emits n_shingles from the SAME
    # aggregation — the fused (signature, size) pass for callers that
    # would otherwise run a second groupBy(doc_id) over the same
    # shingle table just to count it (jaccard_pairs' sizes): one
    # corpus-row pass and one doc-keyed shuffle instead of two (§1.1
    # minimum passes).  The signature values are identical either way.
    from pyspark.sql.types import LongType

    if isinstance(sh.schema["shingle"].dataType, LongType):
        # shingles(hashed=True) input would silently yield
        # xxhash64(long, i) signatures that diverge from the
        # string-pinned candidate-set oracles (r15 ADVICE, low) — the
        # same LongType sniff jaccard_pairs uses, but REJECTING here
        # because no caller may legitimately re-seed a hashed gram.
        raise TypeError(
            "minhash_signatures requires STRING shingles: the seeded "
            "signature hashes are pinned by the candidate-set oracles; "
            "a LongType column (shingles(hashed=True)) would silently "
            "change every signature"
        )
    mins = ", ".join(f"min(xxhash64(shingle, {i}))" for i in range(num_hashes))
    aggs = [F.expr(f"array({mins}) AS signature")]
    if with_count:
        aggs.append(F.expr("count(*) AS n_shingles"))
    return sh.groupBy("doc_id").agg(*aggs)


def band_table(
    signatures: DataFrame, bands: int = 8, rows_per_band: int = 4
) -> DataFrame:
    """The LSH band INDEX: (doc_id, band_id, band_hash), one row per
    doc per band — three longs, doc_count x bands rows.  This is the
    table a production pipeline PERSISTS between batches (bucketed on
    (band_id, band_hash)) so incremental admission only ever computes
    signatures for the new batch; locked by
    tests/test_dedup_similarity.py round-tripping it through parquet."""
    assert bands * rows_per_band <= 64
    # One parsed expression instead of a bands x ~8 py4j Column-object
    # loop (guide §3.3; see minhash_signatures) — identical tree.
    structs = ", ".join(
        f"named_struct('band_id', {b}, 'band_hash', "
        f"xxhash64(array_join(transform("
        f"slice(signature, {b * rows_per_band + 1}, {rows_per_band}), "
        f"x -> CAST(x AS STRING)), ',')))"
        for b in range(bands)
    )
    return signatures.select(
        "doc_id", F.explode(F.expr(f"array({structs})")).alias("band")
    ).select("doc_id", "band.band_id", "band.band_hash")


def _suffix_pair_structs(list_col: "str | F.Column") -> "F.Column":
    """All (a < b) pairs from an ASCENDING array column, emitted as
    structs by pairing each element with its suffix — every unordered
    pair exactly once, map-side, no join.  Shared by the posting-list
    pair emitters (jaccard_pairs, lsh_candidate_pairs)."""
    col = F.col(list_col) if isinstance(list_col, str) else list_col
    return F.flatten(
        F.transform(
            col,
            lambda x, i: F.transform(
                F.slice(
                    col,
                    i + 2,
                    F.greatest(F.size(col) - i - 1, F.lit(1)),
                ),
                lambda y: F.struct(x.alias("doc_id_a"), y.alias("doc_id_b")),
            ),
        )
    )


def _cross_pair_structs(lo: "F.Column", hi: "F.Column") -> "F.Column":
    """Every (x, y) pair from two arrays where every element of `lo` is
    strictly below every element of `hi` — the cross-product emission
    shared by the cross_at filters and the hot-bucket chunk pairing."""
    return F.flatten(
        F.transform(
            lo,
            lambda x: F.transform(
                hi, lambda y: F.struct(x.alias("doc_id_a"), y.alias("doc_id_b"))
            ),
        )
    )


#: Bucket-size bound for lsh_candidate_pairs' posting-list emitter: a
#: bucket at the cap emits at most cap^2/2 ≈ 34M pairs from one task
#: (a few seconds — a sane task quantum) and a chunk-pair work row
#: carries at most 2*cap*8 B = 128 KB of doc ids; a smaller cap
#: over-fragments (chunk-pair rows grow as (m/cap)^2).  Buckets above
#: it — thousands of near-identical docs sharing one band hash,
#: exactly what a 100 TB web crawl contains (r15 VERDICT #1) — are
#: split into bounded chunk pairs and spread across the cluster
#: instead of exploding O(m^2) pairs in ONE task.  Callers gate the
#: split on it: a corpus of at most this many docs cannot fill a hot
#: bucket.
LSH_BUCKET_CAP = 8192


def lsh_candidate_pairs(
    signatures: DataFrame,
    bands: int = 8,
    rows_per_band: int = 4,
    cross_at: int | None = None,
    bucket_cap: int = LSH_BUCKET_CAP,
    split_hot: bool = True,
) -> DataFrame:
    """LSH banding: hash each band of the signature; docs sharing any
    (band_id, band_hash) bucket become candidate pairs.  The bucket
    grouping is the scale move — candidates ~ true near-dups, not n^2.

    Bucket co-membership is computed as groupBy(band_id, band_hash) +
    in-group suffix-pair emission, NOT a self-join (the jaccard_pairs
    r13 shape, applied here in r15): the band table shuffles ONCE
    instead of feeding two join sides, which also removes the
    localCheckpoint (single consumer now) and its build-time planning
    pass.  Output is the identical distinct (doc_id_a < doc_id_b) pair
    set — each bucket's sorted member list emits exactly the pairs the
    a.doc_id < b.doc_id join emitted.

    `cross_at` restricts emission to pairs straddling an id boundary
    (a < cross_at <= b) — the incremental-admission filter (E63) pushed
    INTO the emitter, so a replicated corpus's base x base bucket pairs
    are never materialized, instead of being generated and then
    filtered out.  At production scale the band table itself is the
    persistable INDEX (band_table) kept between batches.

    HOT BUCKETS (r15 VERDICT #1, guide §2.5): a degenerate bucket —
    m near-identical docs sharing one (band_id, band_hash) — would
    emit m^2/2 pairs from ONE task under the plain posting-list
    emission.  Buckets over `bucket_cap` members therefore take a
    bounded SPLIT path: the sorted member list is sliced into
    ceil(m/cap) contiguous chunks, every chunk pair (ca <= cb) becomes
    one work row carrying at most 2*cap ids, the work rows are
    repartitioned (spreading a single bucket's quadratic emission
    across the cluster), and each row emits its intra-chunk suffix
    pairs (ca == cb) or inter-chunk cross pairs (ca < cb; slices are
    contiguous ranges of an ascending array, so every dsa element is
    below every dsb element).  The pair SET is exactly the plain
    emission's — chunking partitions the (i < j) index pairs by the
    chunks of i and j — pinned by the adversarial property tests.
    Buckets at or under the cap keep the identical one-row emission
    (fixture corpora never leave this branch; the hot subtree's
    exchanges carry zero rows).  The per-bucket collect_list buffer
    stays linear in m (8 bytes/member — the residual, documented:
    splitting the AGGREGATION itself would cost every normal corpus a
    second full pass over the band table, the wrong trade).

    `split_hot=False` builds the single-chain plan with no split:
    callers pass `gates.corpus_exceeds(sf_dir, cutoff=LSH_BUCKET_CAP)`,
    since a bucket can never hold more members than the corpus has
    docs, so a corpus at or under the cap PROVES every bucket cold.
    The split machinery (its posting-list checkpoint, dead hot subtree
    and empty exchange cost a measured ~5-10% on the LSH queries)
    engages only where the hazard exists.  An unknown size splits (the safe direction, like every gate in
    this package: the unsafe direction is an unbounded single-task
    O(m^2) straggler, the safe one a few extra empty stages)."""
    banded = band_table(signatures, bands, rows_per_band)
    groups = (
        banded.groupBy("band_id", "band_hash")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ds"))
        .filter(F.size("ds") >= 2)
    )

    def _pair_structs(ds: "F.Column") -> "F.Column":
        if cross_at is None:
            return _suffix_pair_structs(ds)
        return _cross_pair_structs(
            F.filter(ds, lambda x: x < F.lit(cross_at)),
            F.filter(ds, lambda x: x >= F.lit(cross_at)),
        )

    if not split_hot:
        return (
            groups.select(F.explode(_pair_structs(F.col("ds"))).alias("p"))
            .select("p.doc_id_a", "p.doc_id_b")
            .distinct()
        )

    # Two consumers below (cold emission, hot split) — materialize the
    # posting lists once or the whole band/signature subtree's reduce
    # aggregation runs twice (the winnow/fused-profile lesson: branch
    # duplication splits shared subtrees unless checkpointed).
    groups = groups.localCheckpoint(eager=False)

    cold_pairs = (
        groups.filter(F.size("ds") <= bucket_cap)
        .select(F.explode(_pair_structs(F.col("ds"))).alias("p"))
        .select("p.doc_id_a", "p.doc_id_b")
    )

    # Hot branch: chunk-pair work rows, bounded and spread.  Zero rows
    # for any corpus whose buckets respect the cap; its map side reuses
    # the cold branch's exchange (identical banded subtree).
    nch = F.ceil(F.size("ds") / F.lit(bucket_cap)).cast("int")
    chunk_pairs = F.flatten(
        F.transform(
            F.sequence(F.lit(0), nch - 1),
            lambda ca: F.transform(
                F.sequence(ca, nch - 1),
                lambda cb: F.struct(ca.alias("ca"), cb.alias("cb")),
            ),
        )
    )
    hot_rows = (
        groups.filter(F.size("ds") > bucket_cap)
        .select(
            "band_id",
            "band_hash",
            F.explode(chunk_pairs).alias("cp"),
            F.col("ds"),
        )
        .select(
            "band_id",
            "band_hash",
            F.col("cp.ca").alias("ca"),
            F.col("cp.cb").alias("cb"),
            F.slice(F.col("ds"), F.col("cp.ca") * bucket_cap + 1, bucket_cap).alias("dsa"),
            F.slice(F.col("ds"), F.col("cp.cb") * bucket_cap + 1, bucket_cap).alias("dsb"),
        )
        .repartition("band_id", "band_hash", "ca", "cb")
    )
    if cross_at is None:
        hot_structs = F.when(
            F.col("ca") == F.col("cb"), _suffix_pair_structs(F.col("dsa"))
        ).otherwise(_cross_pair_structs(F.col("dsa"), F.col("dsb")))
    else:
        # Uniform for intra AND inter rows: ascending contiguous
        # slices mean every qualifying (a < cross_at <= b) pair is
        # lo(dsa) x hi(dsb) — for ca == cb that IS the chunk's
        # straddling pair set; for ca < cb all dsa < dsb already.
        hot_structs = _cross_pair_structs(
            F.filter(F.col("dsa"), lambda x: x < F.lit(cross_at)),
            F.filter(F.col("dsb"), lambda x: x >= F.lit(cross_at)),
        )
    hot_pairs = hot_rows.select(F.explode(hot_structs).alias("p")).select(
        "p.doc_id_a", "p.doc_id_b"
    )
    return cold_pairs.unionByName(hot_pairs).distinct()


def jaccard_pairs(
    sh: DataFrame,
    block: DataFrame | None = None,
    threshold: float = 0.5,
    df_cap: int | None = 1000,
    broadcast_sizes: bool = False,
    input_cached: bool = False,
    cross_at: int | None = None,
    sizes: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for pairs sharing >=1 shingle
    (optionally restricted to a candidate/block set).

    intersection via shingle equi-join + count; union = |A|+|B|-inter.
    The shingle join is the selective path: only co-occurring shingles
    produce pairs.

    Three scale moves: (1) the pairing key is xxhash64(shingle) — an
    8-byte fixed-width key instead of a 20-30-byte string, which
    roughly halves shuffle bytes and hash-probe cost (collisions at 64
    bits are ~n^2/2^64, negligible even at 100 TB shingle counts);
    (2) co-occurrence is computed as group-by-shingle + in-group pair
    emission, NOT a self-join: the shingle table shuffles ONCE (the
    former a-side/b-side/df-agg formulation shuffled it three times),
    each posting list materializes as a sorted doc-id array, and pairs
    are emitted by a map-side array transform;
    (3) `df_cap` drops shingles appearing in more than df_cap documents
    — a boilerplate shingle in k docs otherwise emits k^2/2 pairs, the
    one quadratic blowout this operator had at corpus scale (one hot
    navbar shingle at df=10^6 is 5*10^11 pairs).  With the grouped
    shape the cap is FREE: one size(ds) filter on the already-built
    posting list, no extra aggregation, and it also bounds per-group
    memory (df_cap * 8 bytes = 8 KB worst case).  Dropping is sound
    for near-dup detection: a df>1000 shingle is boilerplate (same
    rationale as text_boilerplate_ngrams' df>=3 on a 500-doc fixture)
    and contributes ~0 evidence toward Jaccard >= 0.5 between any
    specific pair.  Doc sizes (n_a/n_b) still count ALL shingles, so
    scores for surviving pairs are unchanged — the fixture's max df is
    25, so the oracle is exactly preserved.

    `broadcast_sizes` pins the strategy for the two per-doc size
    joins: the sizes table is CORPUS-sized (one row per doc), and
    Catalyst's post-agg estimate reliably undershoots it, so at big
    corpora a static BroadcastExchange of ~doc_count rows races the
    shingle stages for one heap and dies (r12 sf10 smoke; the E116
    lesson again).  The default False pins shuffle_hash, the safe
    direction for an input of unknown size; callers with a corpus
    handle pass `not gates.corpus_exceeds(sf_dir)` to keep the
    small-corpus broadcast fast path."""
    from pyspark.sql.types import LongType

    if not isinstance(sh.schema["shingle"].dataType, LongType):
        sh = sh.select("doc_id", F.xxhash64("shingle").alias("shingle"))
    # else: shingles(hashed=True) input — already the 8-byte key.
    if not input_cached:
        # The hashed projection feeds two consumers (sizes, groups) —
        # materialize once so a fresh shingle extraction does not run
        # twice.  When the CALLER already checkpointed the shingle
        # table (`input_cached`), both consumers re-read that cache and
        # re-hash (cheap, map-side); skipping the second checkpoint
        # removes a serial materialization barrier and its build-time
        # physical-planning pass (r15 profile).
        sh = sh.localCheckpoint(eager=False)
    if sizes is None:
        sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    # else: caller supplies (doc_id, n_shingles) — typically riding the
    # MinHash signature aggregation (minhash_signatures with_count), so
    # the shingle table is aggregated by doc_id ONCE instead of twice.
    # Per-doc shingles are distinct, so any per-doc count of the same
    # table is the same number.
    groups = sh.groupBy("shingle").agg(F.array_sort(F.collect_list("doc_id")).alias("ds"))
    if df_cap is not None:
        groups = groups.filter(F.size("ds") <= df_cap)
    if cross_at is None:
        # ds is ascending and per-doc shingles are distinct, so pairing
        # each element with its suffix yields every (a < b) pair exactly
        # once
        pair_structs = _suffix_pair_structs("ds")
    else:
        # Incremental admission (E63): only pairs straddling the id
        # boundary (a < cross_at <= b) can ever survive the cross-set
        # `block` semi-join, so emit exactly those map-side (the
        # lsh_candidate_pairs cross_at pattern) instead of emitting
        # every in-group pair and discarding base x base — the bulk of
        # a replicated corpus's co-occurring pairs — AFTER the
        # intersection-count shuffle.  n_common for each surviving
        # pair counts the same shared shingles, so the scored output
        # is identical; the pair explode and the inter shuffle shrink
        # to the cross volume.
        lo = F.filter(F.col("ds"), lambda x: x < F.lit(cross_at))
        hi = F.filter(F.col("ds"), lambda x: x >= F.lit(cross_at))
        pair_structs = F.flatten(
            F.transform(
                lo,
                lambda x: F.transform(
                    hi, lambda y: F.struct(x.alias("doc_id_a"), y.alias("doc_id_b"))
                ),
            )
        )
    inter = (
        groups.select(F.explode(pair_structs).alias("p"))
        .groupBy(F.col("p.doc_id_a").alias("doc_id_a"), F.col("p.doc_id_b").alias("doc_id_b"))
        .agg(F.count("*").alias("n_common"))
    )
    if block is not None:
        inter = inter.join(block, ["doc_id_a", "doc_id_b"], "left_semi")
    sa = sizes.select(F.col("doc_id").alias("doc_id_a"), F.col("n_shingles").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_id_b"), F.col("n_shingles").alias("n_b"))
    if not broadcast_sizes:
        sa = sa.hint("shuffle_hash")
        sb = sb.hint("shuffle_hash")
    return (
        inter.join(sa, "doc_id_a")
        .join(sb, "doc_id_b")
        .withColumn(
            "jaccard",
            F.col("n_common").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_id_a", "doc_id_b", "n_common", "n_a", "n_b", "jaccard")
    )


def neutral_word_hash(col) -> "F.Column":
    """Engine-neutral 60-bit word hash: first 15 hex chars of md5,
    parsed base-16.  Identical in Spark (conv) and DuckDB (list_reduce
    over hex digits), which makes every hash-derived operator built on
    it exactly SQL-oracle-able.  At raw-throughput scale swap in
    xxhash64 — the hash is a pluggable expression and nothing
    downstream depends on which one runs."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def simhash(documents: DataFrame, bits: int = 60) -> DataFrame:
    """SimHash fingerprint: per word-hash bit, sum +/-1 weighted by
    term frequency; fingerprint bit = sign.  Expressed as explode ->
    per-bit conditional sums -> bit reassembly, all JVM-side.  Uses
    the 60-bit neutral_word_hash so fingerprints are engine-exact
    (DuckDB computes the identical value bit for bit)."""
    # neutral_word_hash yields 60 bits, all below the sign bit; the
    # floor exists because the HOF reassembly's half = bits // 2 lane
    # split degenerates at bits < 2 (half == 0 would probe an empty
    # sequence) — fail loudly here instead of inside Catalyst (r15
    # ADVICE, low; every caller uses bits=60).
    assert 2 <= bits <= 60, f"simhash requires 2 <= bits <= 60, got {bits}"
    words = documents.select(
        "doc_id", F.explode(F.split(F.lower("text"), r"\s+")).alias("word")
    ).filter(F.col("word") != "")
    hashed = words.select("doc_id", neutral_word_hash(F.col("word")).alias("h"))
    # bit b of fingerprint = 1 iff sum over words of (bit set ? +1 : -1)
    # > 0, computed as 2*sum(bit_b) > n — identical sign, but the
    # per-word-row aggregate update is a bare shift+and instead of a
    # CASE WHEN per bit (~15% off the dominant word-row agg, A/B'd at
    # sf0.1 with bit-identical fingerprints); the per-doc threshold
    # arithmetic moves to the doc-sized reassembly select.
    # The aggregate is built as parsed expression strings (the former
    # Column-object loops cost ~500 py4j round-trips ≈ 2 s of driver
    # latency per query BUILD — r15 profile, guide §3.3), and SWAR-
    # packed two bit-counters per long: accumulator p_j carries count
    # of bit j in its low 32 bits and count of bit j+bits/2 in its
    # high 32.  Lanes cannot carry into each other: each count is at
    # most the doc's word count, and a document is a single string
    # cell (< 2^31 chars, hence < 2^31 words).  Halving the
    # accumulator count halves the per-doc partial-agg state shipped
    # in the shuffle (§2.3, narrower state) and the planning cost of
    # the aggregate; the unpacked s_b values — and therefore the
    # fingerprints — are bit-identical (pinned by the property tests'
    # collected fingerprints and the DuckDB oracles).
    half = bits // 2
    packed = [
        F.expr(
            f"sum((shiftright(h, {j}) & 1) | "
            f"shiftleft(shiftright(h, {j + half}) & 1, 32)) AS p{j}"
        )
        for j in range(half)
    ]
    solo = (
        [F.expr(f"sum(shiftright(h, {bits - 1}) & 1) AS s{bits - 1}")]
        if bits % 2
        else []
    )
    bit_sums = hashed.groupBy("doc_id").agg(F.expr("count(*) AS n"), *packed, *solo)

    # Reassembly as ONE higher-order aggregate over the packed-counter
    # array instead of a `bits`-term CASE-WHEN sum: the flat chain was
    # ~500 expression nodes that Catalyst re-analyzed AND re-planned on
    # every query build (~0.6 s analysis + ~1.5 s at the consumer's
    # localCheckpoint physical planning, r15 build profile); the loop
    # form is ~30 nodes.  Arithmetic is identical lane unpacking
    # (low 32 bits = count of bit j, high 32 = count of bit j+half;
    # fingerprint bit set iff 2*count > n), so the fingerprints are
    # bit-identical — pinned by the property tests and DuckDB oracles.
    arr_cols = [F.col(f"p{j}") for j in range(half)]
    extra = [F.col(f"s{bits - 1}")] if bits % 2 else []
    pa = bit_sums.select("doc_id", "n", F.array(*arr_cols).alias("pa"), *extra)
    hof = (
        f"aggregate(sequence(0, {half - 1}), CAST(0 AS BIGINT), (acc, j) -> acc"
        f" + IF(2 * (element_at(pa, j + 1) & 4294967295) > n,"
        f" shiftleft(CAST(1 AS BIGINT), j), CAST(0 AS BIGINT))"
        f" + IF(2 * shiftright(element_at(pa, j + 1), 32) > n,"
        f" shiftleft(CAST(1 AS BIGINT), j + {half}), CAST(0 AS BIGINT)))"
    )
    if bits % 2:
        hof += (
            f" + (CASE WHEN 2 * s{bits - 1} > n THEN CAST({2 ** (bits - 1)} AS BIGINT)"
            f" ELSE CAST(0 AS BIGINT) END)"
        )
    fp = pa.select("doc_id", F.expr(hof).alias("simhash"))
    return fp


def connected_components(
    pairs: DataFrame, max_iters: int = 25, small_cutoff: int = 200_000
) -> DataFrame:
    """Near-duplicate CLUSTER resolution: union the pair graph into
    connected components, component id = min doc_id in the component
    (the survivor).  Pairwise output alone under-deduplicates: if A~B
    and B~C, pair-wise min-survivor keeps A and B; the component keeps
    only A.

    Min-label propagation to fixpoint: each round every node takes the
    min of its label and its neighbors' labels — converges in graph-
    diameter rounds (near-dup clusters are shallow; the cap is a
    guard).  The iteration runs over the CANDIDATE-PAIR node set (LSH
    output), which is duplicate-count-sized, not corpus-sized; each
    round is one join + one agg, localCheckpoint'ed to truncate
    lineage.  The convergence check counts changed labels — bounded
    metadata, not data.  ADAPTIVE: exhausting max_iters without
    convergence means the graph's diameter exceeds the round cap (a
    pathological duplicate CHAIN at production scale); rather than
    failing — or worse, returning silently-split components — the
    graph is handed to `connected_components_star` below, whose
    large-star/small-star contraction converges in O(log^2 n) rounds
    on ANY shape.  Shallow graphs (the overwhelmingly common near-dup
    case) never pay the extra machinery; deep ones never hit a cliff.

    GATED small-graph path (r12, from the sf10 audit): the iterative
    machinery costs a fixed ~4-6 Spark jobs even on a 256-pair graph
    (the whole sf0.1 candidate set) — pure scheduling overhead.  The
    candidate-pair table is materialized once and counted (a linear
    job the distributed loop pays anyway to build its edge list); at
    or below `small_cutoff` pairs the component labels come from a
    driver-side union-find over the COLLECTED pair list instead —
    bounded by the gate (200k pairs ≈ 3 MB), exact same output
    contract (union-by-min-root makes every root the component min),
    0 further Spark jobs.  Above the cutoff nothing is collected and
    the label-prop/star machinery runs unchanged; tests pin
    driver-path == distributed-path equality.

    LAZINESS EXCEPTION (documented per r12 ADVICE): the gate decision
    needs the pair count, so calling this function runs the upstream
    pair pipeline EAGERLY at plan-construction time — the one operator
    in the package where query construction is not lazy.  This is
    priced in everywhere it matters: the checkpoint is reused by the
    downstream plan (the count is a job the distributed loop would pay
    anyway to build its edge list), bench.py times build+execute
    together so the cost is attributed, and plan-shape tests for CC
    callers know construction executes.  An iterative fixpoint cannot
    be expressed as one lazy Spark plan in any case — every round
    already materializes."""
    und = pairs.select("doc_id_a", "doc_id_b").localCheckpoint(eager=False)
    # ONE bounded job decides the gate AND (when small) delivers the
    # pair list: limit(cutoff+1).collect() materializes the checkpoint,
    # and its length answers "<= cutoff?" exactly — the r15 fusion of
    # the former count job + collect job (two full passes' worth of
    # driver/job-scheduling latency at plan-build time).  The collected
    # head is bounded by the gate (cutoff+1 rows ≈ 3 MB) in BOTH
    # branches; above the cutoff it is discarded and nothing else is
    # ever collected.
    head = und.limit(small_cutoff + 1).collect()
    small = len(head) <= small_cutoff
    if small:
        from pyspark.sql.types import StructField, StructType

        parent: dict = {}

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:
                parent[x], x = r, parent[x]
            return r

        for a, b in head:
            if a not in parent:
                parent[a] = a
            if b not in parent:
                parent[b] = b
            ra, rb = find(a), find(b)
            if ra != rb:
                if ra > rb:
                    ra, rb = rb, ra
                parent[rb] = ra
        id_type = pairs.schema["doc_id_a"].dataType
        schema = StructType(
            [
                StructField("doc_id", id_type),
                StructField("component_id", id_type),
            ]
        )
        # Python-built DataFrames go through an RDD, so Catalyst sees
        # UnknownPartitioning with no size estimate and plans corpus
        # joins of this map as SortMergeJoin — shuffling the CORPUS by
        # doc_id to meet a component map the GATE has just bounded at
        # <= 2*small_cutoff rows (~6 MB).  Hint broadcast: the bound
        # is a proof, not an estimate (r12 gates philosophy), and
        # every downstream corpus join (cluster survivors, holdout
        # split) becomes map-side.  The distributed paths below return
        # unbounded label tables and stay unhinted.
        return F.broadcast(
            pairs.sparkSession.createDataFrame([(v, find(v)) for v in parent], schema)
        )
    edges = und.select(F.col("doc_id_a").alias("src"), F.col("doc_id_b").alias("dst"))
    edges = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint(eager=False)
    labels = (
        edges.select(F.col("src").alias("doc_id")).distinct().withColumn("label", F.col("doc_id"))
    )
    for _ in range(max_iters):
        nbr = (
            edges.join(labels, edges.dst == labels.doc_id)
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        # Carry the convergence flag inside the checkpointed round
        # result, and let the changed-count MATERIALIZE the lazy
        # checkpoint: one action per round instead of an eager
        # checkpoint job followed by a count job (A/B'd ~7% at sf0.1;
        # at scale it halves the loop's job-scheduling overhead), and
        # the next round's join still reads the cached checkpoint.
        new = (
            labels.join(nbr, labels.doc_id == nbr.src, "left")
            .select(
                labels.doc_id,
                F.least(
                    F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
                ).alias("label"),
                (F.col("nbr_label") < F.col("label")).alias("_changed"),
            )
            .localCheckpoint(eager=False)
        )
        changed = new.filter(F.col("_changed")).count()
        labels = new.drop("_changed")
        if changed == 0:
            break
    else:
        # Diameter > max_iters: adaptive fallback to star contraction
        # (r7 verdict #3).  Result is identical by definition —
        # both return (doc_id, component_id = min doc_id).  Handed the
        # CHECKPOINTED pair table (`und`), not `pairs`: the original
        # lineage is the full candidate pipeline, which the gate
        # already executed — re-deriving it for the star edge build
        # would run the whole pair pipeline a second time (r16, from
        # the r15 VERDICT #3 profile note).
        return connected_components_star(und, max_rounds=40)
    return labels.select("doc_id", F.col("label").alias("component_id"))


def connected_components_star(pairs: DataFrame, max_rounds: int = 20) -> DataFrame:
    """Connected components by alternating large-star/small-star
    contraction (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC'14) — the extreme-diameter form of
    `connected_components`: label propagation needs diameter rounds (a
    10^6-node chain = 10^6 rounds), star contraction converges in
    O(log^2 n) rounds on ANY graph shape, each round two bounded-key
    aggregations + joins over the (duplicate-sized) edge set.

    - large-star: every node u computes m = min(neighbors ∪ {u}) and
      rewires its LARGER neighbors to m;
    - small-star: over edges directed large→small, u rewires its
      smaller neighbors (and itself) to their min.

    Convergence is detected by an (edge-count, xxhash64-sum) signature
    going stable — an O(1)-row check per round; a hash collision would
    only DELAY termination by one extra identical round, never corrupt
    the result, because a stable edge set is a fixpoint of both phases.
    Exhausting max_rounds raises (same contract as
    connected_components).  Returns (doc_id, component_id=min doc_id).
    """
    both = pairs.select(F.col("doc_id_a").alias("src"), F.col("doc_id_b").alias("dst"))
    both = both.unionByName(
        both.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    edges = both.distinct().localCheckpoint(eager=True)
    # Node set captured from the CHECKPOINTED edges (not from `pairs`,
    # whose lineage may be an expensive candidate generation): the
    # contraction phases drop self-loops, so a node appearing only in
    # self-loop pairs (doc_id_a == doc_id_b) would otherwise vanish
    # from the output while label propagation returns it with its own
    # label (round-8 ADVICE) — it is re-attached as a singleton below.
    nodes = edges.select(F.col("src").alias("doc_id")).distinct()

    def _sig(e: DataFrame) -> tuple:
        row = e.select(F.xxhash64("src", "dst").alias("x")).agg(
            F.count("*").alias("n"),
            F.coalesce(F.expr("bit_xor(x)"), F.lit(0)).alias("h"),
        ).collect()[0]
        return (row["n"], row["h"])

    def _large_star(e: DataFrame) -> DataFrame:
        # m(u) = min(min neighbor, u); every neighbor v > u rewires to m
        mins = (
            e.groupBy("src")
            .agg(F.min("dst").alias("mn"))
            .select("src", F.least("mn", "src").alias("m"))
        )
        out = (
            e.filter(F.col("dst") > F.col("src"))
            .join(mins, "src")
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .filter(F.col("src") != F.col("dst"))
        )
        # emitted directed large->small; restore both directions
        return out.unionByName(
            out.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        ).distinct()

    def _small_star(e: DataFrame) -> DataFrame:
        # over edges directed large->small: u's smaller neighborhood
        # (all dst < u) plus u itself all rewire to its min
        down = e.filter(F.col("dst") < F.col("src"))
        mins = down.groupBy("src").agg(F.min("dst").alias("m"))
        nbr = down.join(mins, "src").select(F.col("dst").alias("v"), F.col("m"))
        self_ = mins.select(F.col("src").alias("v"), F.col("m"))
        out = nbr.unionByName(self_).filter(F.col("v") != F.col("m")).select(
            F.col("v").alias("src"), F.col("m").alias("dst")
        )
        return out.unionByName(
            out.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        ).distinct()

    sig = _sig(edges)
    for _ in range(max_rounds):
        edges = _small_star(_large_star(edges)).localCheckpoint(eager=True)
        new_sig = _sig(edges)
        if new_sig == sig:
            break
        sig = new_sig
    else:
        raise RuntimeError(
            f"connected_components_star did not converge in {max_rounds} rounds"
        )
    # fixpoint edges form stars child<->root; components = children + roots
    stars = edges.filter(F.col("dst") < F.col("src")).select(
        F.col("src").alias("doc_id"), F.col("dst").alias("component_id")
    )
    roots = stars.select(F.col("component_id").alias("doc_id")).distinct().withColumn(
        "component_id", F.col("doc_id")
    )
    result = stars.unionByName(roots)
    # Self-loop-only nodes (absent from every non-self edge) come back
    # as singleton components — exactly what label propagation returns
    # for them, so the adaptive fallback never changes the row set.
    singletons = nodes.join(result, "doc_id", "left_anti").withColumn(
        "component_id", F.col("doc_id")
    )
    return result.unionByName(singletons)


def incremental_admit(base: DataFrame, batch: DataFrame) -> DataFrame:
    """Incremental ingest dedup — the production shape: an incoming
    batch is admitted against the EXISTING corpus's content-hash set,
    never by re-deduplicating the whole corpus.  Per batch doc:

    - 'dup_of_base'  — content hash already in the corpus
    - 'dup_in_batch' — another batch doc with the same hash and a
                       smaller doc_id wins
    - 'new'          — admitted

    Scale shape: the base side is projected to DISTINCT hashes (the
    seen-hash index — bytes per corpus doc); the batch joins it on h
    and ranks within h, so both exchanges hash-partition on the same
    key and AQE can co-locate them.  Corpus text is never reshuffled;
    at 100 TB the seen-hash set is a maintained index table, and this
    operator is one bounded join + one window over the BATCH only."""
    h = F.sha2(F.col("text"), 256)
    seen = base.select(h.alias("h")).distinct().withColumn("in_base", F.lit(True))
    b = batch.select("doc_id", h.alias("h"))
    w = Window.partitionBy("h").orderBy("doc_id")
    flags = (
        b.join(seen, "h", "left")
        .withColumn("rk", F.row_number().over(w))
        .withColumn("dup_of_base", F.coalesce(F.col("in_base"), F.lit(False)))
    )
    reason = (
        F.when(F.col("dup_of_base"), F.lit("dup_of_base"))
        .when(F.col("rk") > 1, F.lit("dup_in_batch"))
        .otherwise(F.lit("new"))
    )
    return flags.select(
        "doc_id",
        reason.alias("reason"),
        (~F.col("dup_of_base") & (F.col("rk") == 1)).alias("admitted"),
    )


def segment_dedup_stats(documents: DataFrame, seg_words: int = 16) -> DataFrame:
    """Segment-level exact dedup (E65 core): cut each doc into consecutive
    `seg_words`-word segments; a segment instance is a duplicate when
    an identical segment occurs earlier in the corpus (first
    occurrence by (doc_id, seg_no) survives).  Returns per-doc
    (n_segments, n_dup_segments, dup_fraction).

    One shuffle total: the first-occurrence rule is a single
    row_number window over the segment hash — computed MAP-SIDE so the
    shuffle carries an 8-byte xxhash64 key per row instead of the
    ~100-byte segment string it used to re-sort on (r15, §2.3 shuffle
    fewer bytes; the hash is an internal equality key — the oracle's
    sha256 partitioning is reproduced up to the same ~2^-64 collision
    class the repo's other hashed keys accept).  Uniform key, no skew;
    the per-doc rollup partial-aggregates map-side."""
    d = documents.withColumn("w", F.split(F.lower("text"), r"\s+"))
    nseg = F.ceil(F.size("w") / F.lit(seg_words)).cast("int")
    segs = d.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), nseg - 1),
                lambda s: F.xxhash64(
                    F.array_join(F.slice("w", s * seg_words + 1, seg_words), " ")
                ),
            )
        ).alias("seg_no", "h"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("h").orderBy("doc_id", "seg_no")
    r = segs.withColumn("rn", F.row_number().over(w))
    dup = F.sum((F.col("rn") > 1).cast("long"))
    return r.groupBy("doc_id").agg(
        F.count("*").alias("n_segments"),
        dup.alias("n_dup_segments"),
        F.round(dup.cast("double") / F.count("*"), 6).alias("dup_fraction"),
    )
