"""Quality tests for the approximate (rows-only) Tier-D paths: the
LSH candidate generator must recall the exact near-dup pairs, and the
ANN index must recall the brute-force top-k (SURVEY SS5.2)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from iceberg_aws_event_based_table_management_spark import io
from iceberg_aws_event_based_table_management_spark.operators import dedup as D
from iceberg_aws_event_based_table_management_spark.operators import multimodal as M
from iceberg_aws_event_based_table_management_spark.operators import similarity as S


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return io.table(spark, sf_dir, "documents").select("doc_id", "text")


def test_minhash_lsh_recalls_exact_neardups(spark, docs):
    """Every word-3-gram Jaccard >= 0.8 pair must appear in the LSH
    candidate set (near-dup recall), and candidates must stay far from
    the quadratic all-pairs count."""
    sh = D.shingles(docs, 3)
    exact = {
        (r["doc_id_a"], r["doc_id_b"])
        for r in D.jaccard_pairs(sh, threshold=0.8).collect()
    }
    assert exact, "fixture should contain planted near-dups"
    sig = D.minhash_signatures(sh, num_hashes=32)
    cands = {
        (r["doc_id_a"], r["doc_id_b"])
        for r in D.lsh_candidate_pairs(sig, bands=8, rows_per_band=4).collect()
    }
    assert exact <= cands, f"LSH missed near-dups: {exact - cands}"
    n_docs = docs.count()
    assert len(cands) < n_docs * (n_docs - 1) / 4, "LSH candidates ~quadratic: blocking is broken"


def test_exact_dedup_collapses_replayed_dups(spark, docs):
    dups = docs.withColumn("doc_id", F.col("doc_id") + 10_000)
    doubled = docs.unionByName(dups)
    surviving = D.exact_dedup(doubled)
    assert surviving.count() == docs.count()
    assert surviving.agg(F.max("doc_id")).collect()[0][0] < 10_000  # min-id survivor


def test_simhash_neardups_close_in_hamming(spark, docs):
    """Planted near-dup pairs should have close simhash fingerprints."""
    sh = D.shingles(docs, 3)
    near = D.jaccard_pairs(sh, threshold=0.8).select("doc_id_a", "doc_id_b")
    fp = D.simhash(docs)
    fa = fp.select(F.col("doc_id").alias("doc_id_a"), F.col("simhash").alias("h_a"))
    fb = fp.select(F.col("doc_id").alias("doc_id_b"), F.col("simhash").alias("h_b"))
    joined = near.join(fa, "doc_id_a").join(fb, "doc_id_b")
    ham = joined.select(F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b"))).alias("d")).collect()
    assert ham and all(r["d"] <= 16 for r in ham), [r["d"] for r in ham]


def test_ann_lsh_recall_vs_bruteforce(spark, sf_dir):
    emb = io.table(spark, sf_dir, "embeddings")
    q = [float(x) for x in emb.filter(F.col("vec_id") == 7).collect()[0]["embedding"]]
    exact = [r["vec_id"] for r in S.topk_bruteforce(emb, q, 10).collect()]
    approx = {
        r["vec_id"]
        for r in S.ann_topk_lsh(emb, q, k=50, n_planes=6, probe_hamming=2).collect()
    }
    recall = len(set(exact) & approx) / len(exact)
    # fixture vectors are near-random (top cosines ~0.3), the hardest
    # regime for hyperplane LSH; production data with real clusters
    # recalls far higher at the same probe budget.
    assert recall >= 0.3, f"ANN recall too low: {recall} (exact={exact}, approx={approx})"
    # the query vector itself (cosine 1.0) must always be found
    assert 7 in approx


def test_multimodal_feature_extract_shapes(spark, sf_dir):
    media = M.attach_media_columns(io.table(spark, sf_dir, "documents"))
    feats = M.extract_features(media).collect()
    assert len(feats) == 500
    for r in feats[:10]:
        assert r["n_bytes"] > 0
        assert len(r["feature"]) == 4
        assert r["feature"][0] == float(r["n_bytes"])
        assert r["feature"][1] == float(r["first_byte"])


def test_multimodal_decode_stub_is_passthrough():
    assert M.decode_media(b"abc") == b"abc"


def test_ann_ivf_recall_vs_bruteforce(spark, sf_dir):
    """IVF probe of 8/16 inverted lists must recall most of the exact
    top-10 (scanning ~half the corpus on near-random fixture vectors)."""
    emb = io.table(spark, sf_dir, "embeddings")
    q = [float(x) for x in emb.filter(F.col("vec_id") == 7).collect()[0]["embedding"]]
    exact = [r["vec_id"] for r in S.topk_bruteforce(emb, q, 10).collect()]
    approx = {
        r["vec_id"] for r in S.ann_topk_ivf(emb, q, k=50, k_clusters=16, nprobe=8).collect()
    }
    recall = len(set(exact) & approx) / len(exact)
    assert recall >= 0.4, f"IVF recall too low: {recall}"


def test_lsh_verified_pipeline_matches_unblocked_jaccard(spark, docs):
    """The scale composition (LSH candidates -> blocked exact verify)
    must find the same >= 0.8 pairs as the unblocked exact join — LSH
    banding at 8x4 recalls everything the verifier would keep."""
    sh = D.shingles(docs, 3)
    unblocked = {
        (r["doc_id_a"], r["doc_id_b"])
        for r in D.jaccard_pairs(sh, threshold=0.8).collect()
    }
    sig = D.minhash_signatures(sh, num_hashes=32)
    cands = D.lsh_candidate_pairs(sig, bands=8, rows_per_band=4)
    verified = {
        (r["doc_id_a"], r["doc_id_b"])
        for r in D.jaccard_pairs(sh, block=cands, threshold=0.8).collect()
    }
    assert verified == unblocked


def test_knn_join_ties_survive_local_topk(spark):
    """Tie candidates (identical vectors) scattered across partitions:
    the per-batch top-k must keep the globally-winning ids (sim desc,
    id asc), not arbitrary tie members."""
    import numpy as np
    from pyspark.sql import Row, Window
    from pyspark.sql import functions as F

    from iceberg_aws_event_based_table_management_spark.operators.similarity import (
        as_double,
        cosine,
        knn_join,
    )

    rng = np.random.default_rng(7)
    base = rng.normal(size=(4, 8)).astype("float32")
    rows = []
    # 40 candidates: 10 exact copies of each base vector -> massive ties
    for i in range(40):
        rows.append(Row(vec_id=100 + i, embedding=[float(x) for x in base[i % 4]], label=0))
    queries = [Row(vec_id=0, embedding=[float(x) for x in base[0]], label=0),
               Row(vec_id=1, embedding=[float(x) for x in rng.normal(size=8)], label=0)]
    cand = spark.createDataFrame(rows).repartition(8)
    qdf = spark.createDataFrame(queries)

    got = {
        (r.q_id, r.rank): r.n_id
        for r in knn_join(qdf, cand, k=5).collect()
    }

    # reference: exact cross join + window, no local pruning
    q = qdf.select(F.col("vec_id").alias("q_id"), as_double("embedding").alias("qv"))
    c = cand.select(F.col("vec_id").alias("n_id"), as_double("embedding").alias("cv"))
    scored = c.crossJoin(q).select(
        "q_id", "n_id", F.round(cosine(F.col("qv"), F.col("cv")), 6).alias("s")
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("s"), "n_id")
    ref = {
        (r.q_id, r.rank): r.n_id
        for r in scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .collect()
    }
    assert got == ref


def test_ivf_training_invariant_to_partitioning(spark, sf_dir):
    """The determinism contract behind the IVF oracle: every reduction
    in training is integer arithmetic, so centroids must be
    bit-identical under any partition layout (the property that holds
    on a 1000-executor cluster, not just this box)."""
    emb = io.table(spark, sf_dir, "embeddings")
    a = S.ivf_train(emb.repartition(3), k_clusters=8, iters=2)
    b = S.ivf_train(emb.repartition(17, "label"), k_clusters=8, iters=2)
    assert a == b


def test_connected_components_transitive_chain(spark):
    """A~B, B~C, D~E must yield components {A,B,C} and {D,E} labeled by
    their min ids — pairwise min-survivor logic would keep A and B."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "doc_id_a long, doc_id_b long"
    )
    comp = {r["doc_id"]: r["component_id"] for r in D.connected_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_normalize_quantize_int8_hand_computed(spark):
    """E32: [3,4] normalizes to [0.6, 0.8] -> int8 [76, 102]; every
    component is bounded by 127 and the quantized vector reconstructs
    the unit vector within 1/254 per element."""
    from iceberg_aws_event_based_table_management_spark.operators import similarity as S

    df = spark.createDataFrame(
        [(1, [3.0, 4.0], 0), (2, [-1.0, 0.0], 1)],
        "vec_id long, embedding array<float>, label int",
    )
    out = {r["vec_id"]: r for r in S.normalize_quantize_int8(df).collect()}
    assert out[1]["l2_norm"] == 5.0
    assert out[1]["qvec"] == [76, 102]  # round(.6*127)=76.2->76, round(.8*127)=101.6->102
    assert out[2]["qvec"] == [-127, 0]
    for r in out.values():
        assert all(-127 <= q <= 127 for q in r["qvec"])


def test_label_centroid_outlier_ranks_odd_one_out_first(spark):
    """E33: in a label block of near-identical vectors plus one
    orthogonal vector, the orthogonal one gets outlier_rank 1."""
    from iceberg_aws_event_based_table_management_spark.operators import similarity as S

    rows = [
        (1, [1.0, 0.0, 0.0], 0),
        (2, [0.9, 0.1, 0.0], 0),
        (3, [0.95, 0.05, 0.0], 0),
        (4, [0.0, 0.0, 1.0], 0),  # the outlier
        (5, [0.0, 1.0, 0.0], 1),  # singleton label: sim 1, rank 1
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = {r["vec_id"]: r for r in S.label_centroid_outliers(df).collect()}
    assert out[4]["outlier_rank"] == 1
    assert {out[k]["outlier_rank"] for k in (1, 2, 3)} == {2, 3, 4}
    assert out[5]["outlier_rank"] == 1 and out[5]["centroid_sim"] == 1.0


def test_incremental_admit_reasons(spark):
    """E39: batch docs classify as dup_of_base / dup_in_batch / new,
    and exactly one doc per novel hash is admitted."""
    base = spark.createDataFrame([(1, "alpha"), (2, "beta")], ["doc_id", "text"])
    batch = spark.createDataFrame(
        [
            (10, "alpha"),   # dup of base
            (11, "gamma"),   # new
            (12, "gamma"),   # intra-batch dup of 11
            (13, "delta"),   # new
        ],
        ["doc_id", "text"],
    )
    from iceberg_aws_event_based_table_management_spark.operators import dedup as DD

    out = {r["doc_id"]: r for r in DD.incremental_admit(base, batch).collect()}
    assert out[10]["reason"] == "dup_of_base" and not out[10]["admitted"]
    assert out[11]["reason"] == "new" and out[11]["admitted"]
    assert out[12]["reason"] == "dup_in_batch" and not out[12]["admitted"]
    assert out[13]["reason"] == "new" and out[13]["admitted"]


def test_incremental_neardup_lsh_recall_is_total(spark, sf_dir):
    """E63's oracle-exactness rests on the banded stage having 100%
    recall on the fixture's cross-set near-dups: the blocked result
    must contain every pair the UNBLOCKED exact cross-set Jaccard
    finds (and nothing below the threshold)."""
    import iceberg_aws_event_based_table_management_spark as engine
    from iceberg_aws_event_based_table_management_spark import io
    from iceberg_aws_event_based_table_management_spark.operators import dedup as DD
    from iceberg_aws_event_based_table_management_spark.queries.dedup import _INC_OFFSET

    from pyspark.sql import functions as F

    docs = io.table(spark, sf_dir, "documents").select("doc_id", "text")
    base = docs.filter(F.col("doc_id") % 5 != 3)
    batch = (
        docs.filter(F.col("doc_id") % 5 == 3)
        .withColumn("doc_id", F.col("doc_id") + _INC_OFFSET)
        .unionByName(
            docs.filter(F.col("doc_id") % 10 == 1).select(
                (F.col("doc_id") + 2 * _INC_OFFSET).alias("doc_id"),
                F.concat("text", F.lit(" zz9")).alias("text"),
            )
        )
    )
    sh = DD.shingles(base.unionByName(batch), 3)

    def cross(pairs):
        return {
            (r.doc_id_a, r.doc_id_b)
            for r in pairs.filter(
                (F.col("doc_id_a") < _INC_OFFSET) & (F.col("doc_id_b") >= _INC_OFFSET)
            ).collect()
        }

    exact = cross(DD.jaccard_pairs(sh, threshold=0.5))
    sig = DD.minhash_signatures(sh, num_hashes=32)
    blocked = cross(
        DD.jaccard_pairs(sh, block=DD.lsh_candidate_pairs(sig, 8, 4), threshold=0.5)
    )
    assert blocked == exact and exact, "LSH blocking lost cross-set near-dup pairs"


def test_jaccard_df_cap_drops_hot_shingles(spark):
    """The df_cap guard: a boilerplate shingle shared by many docs must
    not produce pairs by itself (it would emit k^2 join rows at scale).
    Docs here share ONLY the boilerplate line; with the cap active they
    produce no pair, while a genuinely near-dup pair still scores."""
    boiler = "subscribe to our newsletter today"
    rows = [(i, f"unique words {i} alpha beta gamma delta {boiler}") for i in range(8)]
    rows += [(100, "the quick brown fox jumps over dogs"),
             (101, "the quick brown fox jumps over cats")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sh = D.shingles(docs, 3)
    pairs = {(r.doc_id_a, r.doc_id_b)
             for r in D.jaccard_pairs(sh, threshold=0.3, df_cap=4).collect()}
    assert (100, 101) in pairs, "near-dup pair lost by the cap"
    assert all(a >= 100 for a, _ in pairs), f"boilerplate-only pairs leaked: {pairs}"


def test_jaccard_df_cap_preserves_scores_below_cap(spark, docs):
    """With the default cap (1000) the fixture result is bit-identical
    to the uncapped computation — max fixture shingle df is 25."""
    sh = D.shingles(docs, 3)
    capped = {tuple(r) for r in D.jaccard_pairs(sh, threshold=0.5).collect()}
    uncapped = {tuple(r) for r in D.jaccard_pairs(sh, threshold=0.5, df_cap=None).collect()}
    assert capped == uncapped


def test_hashed_shingles_jaccard_matches_string_form(spark, docs):
    """shingles(hashed=True) feeds jaccard_pairs pre-hashed 64-bit keys
    (skipping the gram-string materialization); the scored pair output
    must be bit-identical to the string form — the hash basis only
    changes WHICH 64-bit key represents each gram, not distinctness or
    co-occurrence (absent a collision, the accepted ~2^-64 class)."""
    d = docs.limit(80)
    via_str = {tuple(r) for r in
               D.jaccard_pairs(D.shingles(d, 3), threshold=0.3).collect()}
    via_hash = {tuple(r) for r in
                D.jaccard_pairs(D.shingles(d, 3, hashed=True), threshold=0.3).collect()}
    assert via_hash == via_str and len(via_hash) > 0
    assert dict(D.shingles(d, 3, hashed=True).dtypes)["shingle"] == "bigint"


def test_fused_signature_count_matches_separate_passes(spark, docs):
    """minhash_signatures(with_count=True) must return the identical
    signatures as the plain call PLUS the same per-doc shingle count a
    separate groupBy would compute, and jaccard_pairs fed that fused
    sizes frame must be bit-identical to its self-computed sizes —
    the fusion only merges two aggregations of the same table."""
    sh = D.shingles(docs.limit(60), 3)
    prof = {r.doc_id: (tuple(r.signature), r.n_shingles)
            for r in D.minhash_signatures(sh, 32, with_count=True).collect()}
    sig = {r.doc_id: tuple(r.signature)
           for r in D.minhash_signatures(sh, 32).collect()}
    cnt = {r.doc_id: r.n
           for r in sh.groupBy("doc_id").agg(F.count("*").alias("n")).collect()}
    assert {k: v[0] for k, v in prof.items()} == sig
    assert {k: v[1] for k, v in prof.items()} == cnt
    sizes = D.minhash_signatures(sh, 32, with_count=True).select(
        "doc_id", "n_shingles"
    )
    with_sizes = {tuple(r) for r in
                  D.jaccard_pairs(sh, threshold=0.3, sizes=sizes).collect()}
    plain = {tuple(r) for r in D.jaccard_pairs(sh, threshold=0.3).collect()}
    assert with_sizes == plain


def test_jaccard_cross_at_equals_filtered_full_emission(spark, docs):
    """The cross_at verify emitter (E63) must produce EXACTLY the full
    pair set restricted to (a < cross_at <= b) — same pairs, same
    n_common/n_a/n_b/jaccard — since it only moves the cross-set
    restriction from a post-shuffle semi-join into the map-side pair
    emission.  Built over a replicated corpus so base x base and
    batch x batch co-occurring pairs exist and MUST be absent."""
    base = docs.limit(40)
    off = 1_000_000
    batch = base.filter(F.col("doc_id") % 3 == 0).select(
        (F.col("doc_id") + off).alias("doc_id"), "text"
    )
    combined = base.unionByName(batch)
    sh = D.shingles(combined, 3)
    full = {
        tuple(r)
        for r in D.jaccard_pairs(sh, threshold=0.3).collect()
        if r.doc_id_a < off <= r.doc_id_b
    }
    cross = {
        tuple(r)
        for r in D.jaccard_pairs(sh, threshold=0.3, cross_at=off).collect()
    }
    assert cross == full and len(cross) > 0


def test_shingles_no_shuffle_on_wide_input(spark, docs):
    """The 100 TB contract: when the input already has parallel splits,
    shingle extraction must not move corpus text (no Exchange in the
    plan before the generator)."""
    wide = docs.repartition(8)  # simulate a many-split corpus scan
    plan = D.shingles(wide, 3)._jdf.queryExecution().executedPlan().toString()
    # exactly the one Exchange we injected for the simulation
    assert plan.count("Exchange") == 1, plan


def test_knn_join_enforces_broadcast_cap(spark, sf_dir):
    """The query-side bound is a real assert, not a docstring: a query
    table needing more than max_chunks broadcast passes raises with a
    pointer to the LSH path (r11: within the pass cap it CHUNKS — the
    block-nested exact path — instead of refusing)."""
    emb = io.table(spark, sf_dir, "embeddings")
    with pytest.raises(ValueError, match="pass cap"):
        S.knn_join(emb, emb, k=2, max_broadcast_rows=10, max_chunks=2)


def test_knn_join_chunked_equals_single_broadcast(spark, sf_dir):
    """Block-nested chunking is result-invariant: splitting the query
    side into >1 broadcast chunks must return exactly the single-pass
    rows (q_ids are disjoint across chunks; the final window ranks the
    union)."""
    emb = io.table(spark, sf_dir, "embeddings").limit(60)
    one = {
        (r.q_id, r.n_id, r.rank)
        for r in S.knn_join(emb, emb, k=3).collect()
    }
    chunked = {
        (r.q_id, r.n_id, r.rank)
        for r in S.knn_join(emb, emb, k=3, max_broadcast_rows=17).collect()
    }
    assert chunked == one


def test_knn_join_rounding_ties_match_numpy_reference(spark):
    """The r12 composite-key kernel (rint(sim*1e6)*n_b - id_rank +
    argpartition) must select exactly the (sim desc, id asc) top-k of
    the 6-decimal-ROUNDED sims — stress it with candidate triples that
    differ only at the 1e-9 level, so they tie only after rounding and
    the id tie-break decides; reference = numpy cosine + lexsort."""
    import numpy as np
    from pyspark.sql import Row

    from iceberg_aws_event_based_table_management_spark.operators.similarity import (
        knn_join,
    )

    rng = np.random.default_rng(42)
    base = rng.normal(size=(20, 8))
    cand = []
    for i in range(60):
        v = base[i // 3].copy()
        v[0] += (i % 3) * 1e-9  # ties only after round(..., 6)
        cand.append((200 + i, [float(x) for x in v]))
    queries = [(j, [float(x) for x in rng.normal(size=8)]) for j in range(5)]
    k = 4

    cm = np.array([v for _, v in cand], dtype=np.float64)
    cm = cm / np.linalg.norm(cm, axis=1)[:, None]
    c_ids = np.array([i for i, _ in cand])
    expected = set()
    for qid, qv in queries:
        q = np.asarray(qv, dtype=np.float64)
        sims = np.round(cm @ (q / np.linalg.norm(q)), 6)
        order = np.lexsort((c_ids, -sims))[:k]
        for rk, idx in enumerate(order, start=1):
            expected.add((qid, int(c_ids[idx]), rk))

    cdf = spark.createDataFrame(
        [Row(vec_id=i, embedding=v) for i, v in cand]
    ).repartition(7)
    qdf = spark.createDataFrame([Row(vec_id=i, embedding=v) for i, v in queries])
    got = {(r.q_id, r.n_id, r.rank) for r in knn_join(qdf, cdf, k=k).collect()}
    assert got == expected


def test_connected_components_chain_and_convergence_guard(spark):
    """A 6-node chain collapses to one component (min label reaches the
    far end), and an under-budgeted iteration cap ADAPTIVELY falls back
    to star contraction (r7 verdict #3) — never a raise, never silently
    split clusters."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(6)], "doc_id_a long, doc_id_b long"
    )
    comp = {
        r.doc_id: r.component_id
        for r in D.connected_components(pairs, small_cutoff=0).collect()
    }
    assert set(comp.values()) == {0}, comp
    # diameter 6 > max_iters=2: the star fallback must still resolve
    # the full chain into the single min-labeled component
    fb = {
        r.doc_id: r.component_id
        for r in D.connected_components(pairs, max_iters=2, small_cutoff=0).collect()
    }
    assert fb == comp, fb


def test_connected_components_deep_chain_no_cliff(spark):
    """The r7 verdict's chain-graph property: a 10^3-node PATH — the
    worst-case diameter for label propagation (would need 10^3
    rounds) — resolves to one component via the adaptive star
    fallback without hitting any round cap."""
    n = 1000
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_id_a long, doc_id_b long"
    )
    comp = {
        r.doc_id: r.component_id
        for r in D.connected_components(pairs, small_cutoff=0).collect()
    }
    assert len(comp) == n
    assert set(comp.values()) == {0}, sorted(set(comp.values()))[:5]


def test_star_contraction_matches_label_propagation_on_chain(spark):
    """The O(log^2 n)-round star contraction and the diameter-round
    label propagation compute identical components on a worst-case
    (chain) graph plus an isolated pair."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(9)] + [(100, 101)],
        "doc_id_a long, doc_id_b long",
    )
    prop = {
        (r.doc_id, r.component_id)
        for r in D.connected_components(pairs, small_cutoff=0).collect()
    }
    star = {(r.doc_id, r.component_id) for r in D.connected_components_star(pairs).collect()}
    assert star == prop
    assert {c for _, c in star} == {0, 100}


def test_connected_components_driver_gate_matches_distributed(spark):
    """The r12 small-graph gate: the driver union-find path (default —
    the pair count sits under the cutoff) must return the exact row
    set of the distributed label propagation on a graph mixing a
    chain, a triangle-with-chord, self-loop-only nodes, and an
    isolated pair."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (20, 21), (21, 22), (20, 22),
         (7, 7), (9, 9), (50, 51)],
        "doc_id_a long, doc_id_b long",
    )
    gated = {(r.doc_id, r.component_id) for r in D.connected_components(pairs).collect()}
    dist = {
        (r.doc_id, r.component_id)
        for r in D.connected_components(pairs, small_cutoff=0).collect()
    }
    assert gated == dist
    assert gated == {(1, 1), (2, 1), (3, 1), (4, 1),
                     (20, 20), (21, 20), (22, 20),
                     (7, 7), (9, 9), (50, 50), (51, 50)}


def test_star_contraction_keeps_self_loop_only_nodes(spark):
    """A node appearing ONLY in self-loop pairs (doc_id_a ==
    doc_id_b) must survive star contraction as a singleton component
    — label propagation returns it with its own label, and the
    adaptive fallback must never change the output row set (round-8
    ADVICE: the contraction phases filter src != dst, which used to
    drop such nodes entirely)."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 7), (9, 9), (3, 3)],
        "doc_id_a long, doc_id_b long",
    )
    prop = {(r.doc_id, r.component_id) for r in D.connected_components(pairs).collect()}
    star = {(r.doc_id, r.component_id) for r in D.connected_components_star(pairs).collect()}
    assert star == prop
    assert star == {(1, 1), (2, 1), (3, 1), (7, 7), (9, 9)}


def test_band_index_round_trips_through_parquet(spark, sf_dir, tmp_path):
    """The E63 scale claim made concrete: the LSH band index persists
    to parquet and, read back cold, yields EXACTLY the candidate pairs
    the inline path produces — so a production pipeline can keep the
    index between batches and only sign the new batch."""
    from iceberg_aws_event_based_table_management_spark import io
    from iceberg_aws_event_based_table_management_spark.operators import dedup as D
    from pyspark.sql import functions as F

    docs = io.table(spark, sf_dir, "documents").select("doc_id", "text")
    sig = D.minhash_signatures(D.shingles(docs, 3))
    direct = {
        (r.doc_id_a, r.doc_id_b) for r in D.lsh_candidate_pairs(sig).collect()
    }

    path = str(tmp_path / "band_index")
    D.band_table(sig).write.parquet(path)
    persisted = spark.read.parquet(path)
    a, b = persisted.alias("a"), persisted.alias("b")
    from_index = {
        (r.doc_id_a, r.doc_id_b)
        for r in (
            a.join(b, ["band_id", "band_hash"])
            .filter(F.col("a.doc_id") < F.col("b.doc_id"))
            .select(
                F.col("a.doc_id").alias("doc_id_a"),
                F.col("b.doc_id").alias("doc_id_b"),
            )
            .distinct()
            .collect()
        )
    }
    assert from_index == direct and direct


def _lsh_pairs_set(sig, **kw):
    return {(r.doc_id_a, r.doc_id_b) for r in D.lsh_candidate_pairs(sig, **kw).collect()}


def test_lsh_hot_bucket_split_preserves_exact_pairs(spark):
    """Adversarial degenerate corpus (r15 VERDICT #1): many docs share
    ONE signature, so every band bucket is a single hot bucket.  The
    bounded chunk-pair emitter (bucket_cap) must yield EXACTLY the
    uncapped pair set — the cap bounds per-task emission, never
    recall.  Caps that do and do not divide the bucket size evenly
    both exercised (last-chunk-short edge)."""
    from pyspark.sql import Row

    # 57 identical-signature docs (one hot bucket per band) + 20
    # distinct-signature docs + one planted small bucket of 3.
    rows = (
        [Row(doc_id=i, signature=[7] * 32) for i in range(57)]
        + [
            Row(doc_id=1000 + i, signature=[31 * i + j for j in range(32)])
            for i in range(20)
        ]
        + [Row(doc_id=2000 + i, signature=[13] * 32) for i in range(3)]
    )
    sig = spark.createDataFrame(rows)
    ref = _lsh_pairs_set(sig, bands=8, rows_per_band=4, bucket_cap=10**9)
    hot = {(a, b) for a in range(57) for b in range(57) if a < b}
    small = {(2000, 2001), (2000, 2002), (2001, 2002)}
    assert hot <= ref and small <= ref
    for cap in (8, 10, 57, 56):
        assert _lsh_pairs_set(sig, bands=8, rows_per_band=4, bucket_cap=cap) == ref, cap
    # provably-cold gate (doc count <= cap): builds the pre-split
    # single-chain plan, identical pair set
    assert _lsh_pairs_set(sig, bands=8, rows_per_band=4, split_hot=False) == ref


def test_lsh_hot_bucket_split_preserves_cross_at(spark):
    """The incremental-admission (cross_at) emission must also be
    exact through the hot-bucket chunk split: pairs straddling the id
    boundary only, with both boundary sides scattered across chunks."""
    from pyspark.sql import Row

    rows = [Row(doc_id=i, signature=[5] * 32) for i in range(40)]
    sig = spark.createDataFrame(rows)
    ref = _lsh_pairs_set(
        sig, bands=8, rows_per_band=4, cross_at=25, bucket_cap=10**9
    )
    assert ref == {(a, b) for a in range(25) for b in range(25, 40)}
    for cap in (7, 13, 39):
        got = _lsh_pairs_set(
            sig, bands=8, rows_per_band=4, cross_at=25, bucket_cap=cap
        )
        assert got == ref, cap


def test_lsh_unsplit_chain_preserves_cross_at(spark):
    """The provably-cold gate (split_hot=False) emits the same
    boundary-straddling pairs as the split chain."""
    from pyspark.sql import Row

    rows = [Row(doc_id=i, signature=[5] * 32) for i in range(12)] + [
        Row(doc_id=100 + i, signature=[17 * i + j for j in range(32)]) for i in range(4)
    ]
    sig = spark.createDataFrame(rows)
    ref = {(a, b) for a in range(6) for b in range(6, 12)}
    kw = dict(bands=8, rows_per_band=4, cross_at=6)
    assert _lsh_pairs_set(sig, split_hot=False, **kw) == ref
    assert _lsh_pairs_set(sig, bucket_cap=5, **kw) == ref


def test_minhash_signatures_rejects_hashed_shingles(spark):
    """shingles(hashed=True) input must be rejected loudly: seeding
    xxhash64 over the long grams would silently change every
    oracle-pinned signature (r15 ADVICE, low)."""
    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d f")], "doc_id long, text string"
    )
    hashed = D.shingles(docs, 3, hashed=True)
    with pytest.raises(TypeError, match="STRING shingles"):
        D.minhash_signatures(hashed)


def test_simhash_rejects_degenerate_bits(spark):
    """bits < 2 would make the HOF reassembly probe an empty sequence
    inside Catalyst (r15 ADVICE, low) — the guard fails at build."""
    docs = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with pytest.raises(AssertionError, match="2 <= bits <= 60"):
        D.simhash(docs, bits=1)
    with pytest.raises(AssertionError, match="2 <= bits <= 60"):
        D.simhash(docs, bits=61)


def test_dedup_operators_handle_empty_inputs(spark):
    """Empty candidate/corpus inputs — which DO occur at production
    thresholds (no near-dups in a batch, an empty partition of a
    filtered source) — must yield empty results, not errors, through
    the whole dedup operator chain."""
    empty_pairs = spark.createDataFrame([], "doc_id_a long, doc_id_b long")
    assert D.connected_components(empty_pairs).count() == 0
    assert D.connected_components_star(empty_pairs).count() == 0

    empty_docs = spark.createDataFrame([], "doc_id long, text string")
    sh = D.shingles(empty_docs, 3)
    assert sh.count() == 0
    assert D.minhash_signatures(sh).count() == 0
    assert D.jaccard_pairs(sh).count() == 0
    assert D.lsh_candidate_pairs(D.minhash_signatures(sh)).count() == 0
    assert D.simhash(empty_docs).count() == 0
