"""Round-13 hardenings: the centralized broadcast-size gate
(operators/gates.py — r12 verdict #5), the safe-direction flip of
jaccard_pairs' unprobeable-input fallback (r12 ADVICE), the footer
row-group reader behind shingles' spread, the knn_join single-chunk
memory-bound recheck, and the sampled-anchor mode of
agg_approx_distinct (r12 verdict #4)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

import iceberg_aws_event_based_table_management_spark.io as eio
from iceberg_aws_event_based_table_management_spark.operators import dedup as D
from iceberg_aws_event_based_table_management_spark.operators import gates
from iceberg_aws_event_based_table_management_spark.operators import similarity as S


def _analyzed(df) -> str:
    return df._jdf.queryExecution().analyzed().toString()


# ---------------------------------------------------------------------------
# gates.corpus_exceeds / pin_join_side
# ---------------------------------------------------------------------------


def test_corpus_exceeds_small_fixture(sf_dir):
    # sf0.001 documents is far below the 200k cutoff
    assert gates.corpus_exceeds(sf_dir) is False


def test_corpus_exceeds_above_cutoff(sf_dir):
    assert gates.corpus_exceeds(sf_dir, cutoff=1) is True


def test_corpus_exceeds_unreadable_footer_is_big(tmp_path):
    # Unknown size must take the shuffle plan (safe direction): an
    # oversized broadcast OOMs, an unnecessary shuffle costs seconds.
    assert gates.corpus_exceeds(str(tmp_path / "nope")) is True


def test_pin_join_side_strategies(spark, sf_dir):
    docs = eio.table(spark, sf_dir, "documents").select("doc_id")
    j_small = docs.join(
        gates.pin_join_side(docs.select(F.col("doc_id").alias("d2")), True),
        docs.doc_id == F.col("d2"),
    )
    j_big = docs.join(
        gates.pin_join_side(docs.select(F.col("doc_id").alias("d2")), False),
        docs.doc_id == F.col("d2"),
    )
    assert "strategy=broadcast" in _analyzed(j_small)
    assert "strategy=shuffle_hash" in _analyzed(j_big)


# ---------------------------------------------------------------------------
# jaccard_pairs fallback direction (r12 ADVICE, medium)
# ---------------------------------------------------------------------------


def test_jaccard_unprobeable_input_pins_shuffle(spark):
    """A checkpointed/in-memory shingle table has no inputFiles; the
    self-probe must now choose shuffle_hash for the size joins (the
    r12 fallback silently broadcast a corpus-sized sizes table)."""
    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d f")], "doc_id long, text string"
    )
    plan = _analyzed(D.jaccard_pairs(D.shingles(docs, 3)))
    assert plan.count("strategy=shuffle_hash") >= 2


#: Every registered query whose jaccard_pairs size joins are gated on
#: the documents footer.
_FOOTER_GATED_JACCARD = (
    "dedup_near_verified",
    "dedup_incremental_neardup",
    "dedup_ngram_jaccard",
    "dedup_near_clusters",
    "dedup_cluster_survivors",
    "dedup_containment_pairs",
    "dedup_degree_profile",
    "split_cluster_holdout",
)


def test_near_verified_footer_gate(spark, sf_dir, monkeypatch):
    """The jaccard_pairs callers footer-gate broadcast_sizes: big
    corpus -> shuffle_hash pins; small fixture -> broadcast path.  The
    plan asserted is jaccard_pairs' own output: the connected-component
    callers collect their pairs at build time, so the final plan no
    longer contains them."""
    import iceberg_aws_event_based_table_management_spark as engine

    engine.load_all_queries()
    qmap = engine.query_map()
    real = D.jaccard_pairs
    built = []

    def spy(*a, **k):
        built.append(real(*a, **k))
        return built[-1]

    monkeypatch.setattr(D, "jaccard_pairs", spy)

    def pairs_plan(name):
        built.clear()
        qmap[name](spark, sf_dir)
        assert len(built) == 1, name
        return _analyzed(built[0])

    for name in _FOOTER_GATED_JACCARD:
        assert "strategy=shuffle_hash" not in pairs_plan(name), name
    monkeypatch.setattr(eio, "parquet_num_rows", lambda *a, **k: 10**9)
    for name in _FOOTER_GATED_JACCARD:
        assert pairs_plan(name).count("strategy=shuffle_hash") >= 2, name


def test_tfidf_vocab_join_footer_gated(spark, sf_dir, monkeypatch):
    """The r13 registry-wide broadcast sweep's one true positive:
    tfidf_top_terms force-broadcast the VOCABULARY-sized df table.
    Now footer-gated: small corpus keeps the explicit broadcast, big
    corpus pins shuffle_hash on the token join."""
    import iceberg_aws_event_based_table_management_spark as engine

    engine.load_all_queries()
    q = engine.query_map()["tfidf_top_terms"]
    small_plan = _analyzed(q(spark, sf_dir))
    assert "strategy=broadcast" in small_plan
    assert "strategy=shuffle_hash" not in small_plan
    monkeypatch.setattr(eio, "parquet_num_rows", lambda *a, **k: 10**9)
    big_plan = _analyzed(q(spark, sf_dir))
    assert "strategy=shuffle_hash" in big_plan


@pytest.mark.parametrize(
    "name",
    [
        "tfidf_top_terms",
        "dedup_near_verified",
        "dedup_incremental_neardup",
        "dedup_pair_span_align",
        "dedup_minhash_estimate_audit",
        "minhash_jaccard_regression",
        "dedup_band_tuning_audit",
        "pagerank_integer_bipartite",
        "dedup_ngram_jaccard",
        "dedup_near_candidates",
        "binpack_group_assignment",
        "compaction_rowcount_invariant",
    ],
)
def test_forced_big_branch_keeps_rows(spark, sf_dir, monkeypatch, name):
    """Every plan-only gate branch is correct either way (operators/
    gates.py), so forcing the big-corpus branch at a small SF must
    return exactly the rows of the small branch the fixture takes."""
    import iceberg_aws_event_based_table_management_spark as engine

    engine.load_all_queries()
    fn = engine.query_map()[name]
    small = fn(spark, sf_dir).collect()
    monkeypatch.setattr(gates, "corpus_exceeds", lambda *a, **k: True)
    big = fn(spark, sf_dir).collect()
    assert small, name
    assert sorted(big, key=repr) == sorted(small, key=repr), name


def test_forced_big_plans_lsh_split_and_two_level_window(spark, sf_dir, monkeypatch):
    """Forcing the one gate reaches the LSH hot-bucket split (posting
    lists checkpointed, cold and hot branches unioned) and binpack's
    two-level window (the _bkt size bucket)."""
    import iceberg_aws_event_based_table_management_spark as engine

    engine.load_all_queries()
    qmap = engine.query_map()
    small = _analyzed(qmap["dedup_near_candidates"](spark, sf_dir))
    flat = _analyzed(qmap["binpack_group_assignment"](spark, sf_dir))
    monkeypatch.setattr(gates, "corpus_exceeds", lambda *a, **k: True)
    split = _analyzed(qmap["dedup_near_candidates"](spark, sf_dir))
    two = _analyzed(qmap["binpack_group_assignment"](spark, sf_dir))
    assert "Union" not in small and "LogicalRDD" not in small
    assert "Union" in split and "LogicalRDD" in split
    assert "_bkt" not in flat and "_bkt" in two


# ---------------------------------------------------------------------------
# io.input_row_groups: the size read behind shingles' spread
# ---------------------------------------------------------------------------


def test_input_row_groups(spark, sf_dir):
    """A fixture frame is one file with one row group; an in-memory
    frame has no footer, so shingles keeps the exact RDD probe."""
    assert eio.input_row_groups(eio.table(spark, sf_dir, "documents")) == 1
    mem = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    assert eio.input_row_groups(mem) is None


@pytest.mark.parametrize("sf", ["0.01", "0.1"])
def test_input_row_groups_graded_fixtures(spark, sf_dir, sf):
    """The larger graded documents fixtures are one row group too, so
    shingles spreads them as it does sf0.001."""
    sf_dir = os.path.join(os.path.dirname(sf_dir), f"sf{sf}")
    assert eio.input_row_groups(eio.table(spark, sf_dir, "documents")) == 1


def test_input_row_groups_sums_every_file(spark, tmp_path):
    """A directory frame counts the row groups of each of its files."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "t"
    d.mkdir()
    pq.write_table(pa.table({"x": list(range(30))}), str(d / "a.parquet"), row_group_size=10)
    pq.write_table(pa.table({"x": list(range(20))}), str(d / "b.parquet"), row_group_size=10)
    assert eio.input_row_groups(spark.read.parquet(str(d))) == 5


@pytest.mark.parametrize("sf", ["0.001", "0.01", "0.1"])
def test_table_rows_is_count_with_or_without_footers(spark, sf_dir, sf, monkeypatch):
    """semdedup's k comes from ``table_rows``: the footer sum, or the
    engine count when a footer is unreadable — the oracle's COUNT(*)
    either way, so k is the same at every SF."""
    sf_dir = os.path.join(os.path.dirname(sf_dir), f"sf{sf}")
    exact = eio.table(spark, sf_dir, "embeddings").count()
    assert eio.table_rows(spark, sf_dir, "embeddings") == exact
    monkeypatch.setattr(eio, "parquet_num_rows", lambda *a, **k: None)
    assert eio.table_rows(spark, sf_dir, "embeddings") == exact


def test_shingles_spread_follows_footer_row_groups(spark, sf_dir, tmp_path):
    """shingles repartitions a frame of fewer than min(4, parallelism)
    footer row groups and leaves a frame of four row groups on its
    scan splits."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "docs.parquet")
    texts = [f"w{i} x y z" for i in range(40)]
    pq.write_table(pa.table({"doc_id": list(range(40)), "text": texts}), path, row_group_size=10)
    spread = spark.sparkContext.defaultParallelism
    for df, n in ((eio.table(spark, sf_dir, "documents"), 1), (spark.read.parquet(path), 4)):
        assert eio.input_row_groups(df) == n
        assert ("Repartition" in _analyzed(D.shingles(df))) == (n < min(4, spread)), n


# ---------------------------------------------------------------------------
# knn_join single-chunk memory-bound recheck (r12 ADVICE, low)
# ---------------------------------------------------------------------------


def test_knn_join_single_chunk_recheck_raises(spark, monkeypatch):
    """If the sizing count undershoots (nondeterministic query side)
    and the snapshot exceeds max_broadcast_rows, the single-chunk path
    must raise instead of broadcasting an over-cap matrix — AND the
    driver-side pull itself must be bounded: the r13 ADVICE point was
    that a post-pull check fires only after the oversized toPandas()
    already materialized, so the pull now goes through limit(cap+1)
    and the guard sees at most cap+1 rows regardless of snapshot
    size."""
    rows = [(i, [float(i), 1.0]) for i in range(12)]
    q = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cands = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    # patch the CONCRETE class (pyspark.sql.classic) — the abstract
    # pyspark.sql.DataFrame base's count is overridden there
    monkeypatch.setattr(type(q), "count", lambda self: 5)
    pulled = []
    real_toPandas = type(q).toPandas

    def spy_toPandas(self):
        pdf = real_toPandas(self)
        pulled.append(len(pdf))
        return pdf

    monkeypatch.setattr(type(q), "toPandas", spy_toPandas)
    with pytest.raises(ValueError, match="exceeds\\s+max_broadcast_rows"):
        S.knn_join(q, cands, k=2, max_broadcast_rows=10)
    assert pulled and max(pulled) <= 11, (
        f"driver materialized {max(pulled)} rows — the limit(cap+1) "
        "pre-pull bound is gone"
    )


# ---------------------------------------------------------------------------
# agg_approx_distinct sampled-anchor gate (r12 verdict #4)
# ---------------------------------------------------------------------------


def _approx_distinct(spark, sf_dir):
    import iceberg_aws_event_based_table_management_spark as engine

    engine.load_all_queries()
    return engine.query_map()["agg_approx_distinct"](spark, sf_dir)


def test_approx_distinct_full_anchor_below_gate(spark, sf_dir):
    plan = _analyzed(_approx_distinct(spark, sf_dir))
    assert "xxhash64" not in plan  # no slice filter at graded sfs


def test_approx_distinct_unreadable_footer_keeps_full_anchor(
    spark, sf_dir, monkeypatch
):
    # Semantics-preserving direction: unknown size must NOT sample.
    monkeypatch.setattr(eio, "parquet_num_rows", lambda *a, **k: None)
    plan = _analyzed(_approx_distinct(spark, sf_dir))
    assert "xxhash64" not in plan


def test_approx_distinct_sampled_anchor_above_gate(spark, sf_dir, monkeypatch):
    """Above the row cutoff the audit runs on the deterministic 1/64
    key slice: the slice filter is in the plan, the slice is
    key-complete (exact_orders == COUNT(DISTINCT key in slice)), and
    the within-bound audit still evaluates."""
    monkeypatch.setattr(eio, "parquet_num_rows", lambda *a, **k: 10**9)
    df = _approx_distinct(spark, sf_dir)
    assert "xxhash64" in _analyzed(df)
    rows = df.collect()
    # r13 ADVICE: the regime must be explicit in the output — slice
    # counts are not comparable to full-table counts
    assert {r.anchor_mode for r in rows} == {"sampled_1_64"}
    got = {r.l_returnflag: r.exact_orders for r in rows}
    li = eio.table(spark, sf_dir, "lineitem")
    expected = {
        r.l_returnflag: r.n
        for r in li.filter(F.pmod(F.xxhash64("l_orderkey"), F.lit(64)) == 0)
        .groupBy("l_returnflag")
        .agg(F.countDistinct("l_orderkey").alias("n"))
        .collect()
    }
    assert got == expected


# ---------------------------------------------------------------------------
# sort_compaction_zorder_quantile exact-percentile gate (r14)
# ---------------------------------------------------------------------------


def _zq_plan(spark, sf_dir):
    import iceberg_aws_event_based_table_management_spark as engine

    engine.load_all_queries()
    return _analyzed(
        engine.query_map()["sort_compaction_zorder_quantile"](spark, sf_dir)
    )


def test_zorder_quantile_exact_percentile_below_gate(spark, sf_dir):
    # graded sfs: exact percentile, oracle byte-identical
    assert "approx_percentile" not in _zq_plan(spark, sf_dir)


def test_zorder_quantile_unreadable_footer_keeps_exact(spark, sf_dir, monkeypatch):
    # answer-preserving direction: unknown size must NOT approximate
    monkeypatch.setattr(eio, "parquet_num_rows", lambda *a, **k: None)
    assert "approx_percentile" not in _zq_plan(spark, sf_dir)


def test_zorder_quantile_approx_above_gate(spark, sf_dir, monkeypatch):
    """Past the row cutoff the boundary stats pass must run the
    bounded-memory sketch — the exact percentile buffer holds every
    distinct value and was the E117 sf10 smoke's whole cost."""
    monkeypatch.setattr(eio, "parquet_num_rows", lambda *a, **k: 10**9)
    import iceberg_aws_event_based_table_management_spark as engine

    engine.load_all_queries()
    df = engine.query_map()["sort_compaction_zorder_quantile"](spark, sf_dir)
    # the swap happens in the stats COLLECT before the returned plan,
    # so assert behaviorally: the query still runs and returns the
    # same grouping shape (boundaries shift within sketch error)
    rows = df.collect()
    assert rows and all(r.n_rows > 0 for r in rows)


def test_quantile_sketch_fused_branch_matches_three_pass(spark, sf_dir, monkeypatch):
    """The fused one-scan branch of quantile_histogram_sketch engages
    only past 2M lineitem footer rows, so no graded sf runs it.  Force
    it and require the exact rows of the three-pass shape."""
    import iceberg_aws_event_based_table_management_spark as engine

    engine.load_all_queries()
    fn = engine.query_map()["quantile_histogram_sketch"]
    three_pass = fn(spark, sf_dir)
    monkeypatch.setattr(gates, "corpus_exceeds", lambda *a, **k: True)
    fused = fn(spark, sf_dir)
    # fused derives hist and n from the checkpointed value counts
    assert _analyzed(fused).count("LogicalRDD") > _analyzed(three_pass).count("LogicalRDD")
    assert fused.columns == three_pass.columns
    assert sorted(fused.collect()) == sorted(three_pass.collect())


# ---------------------------------------------------------------------------
# dedup_incremental_neardup: the split cutoff on its combined corpus
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("sf", ["0.001", "0.01", "0.1"])
def test_incremental_neardup_bound_unchanged(sf, sf_dir):
    """The cutoff decides the LSH hot-bucket split gate; at the graded
    SFs it must agree with the former bound int(n * 1.2) > bucket cap,
    so no gate flips."""
    from iceberg_aws_event_based_table_management_spark.queries import dedup as Q

    sf_dir = os.path.join(os.path.dirname(sf_dir), f"sf{sf}")
    n = eio.parquet_num_rows(sf_dir, "documents")
    assert (n > Q._INC_SPLIT_CUTOFF) == (int(n * 1.2) > D.LSH_BUCKET_CAP)


def test_incremental_neardup_bound_covers_combined(spark, sf_dir):
    """A corpus at the cutoff keeps base + batch under the bucket cap:
    scale the measured combined/corpus ratio up to the cutoff."""
    from iceberg_aws_event_based_table_management_spark.queries import dedup as Q

    docs = eio.table(spark, sf_dir, "documents").select("doc_id", "text")
    base, batch = Q._inc_split(docs)
    ratio = base.unionByName(batch).count() / docs.count()
    assert Q._INC_SPLIT_CUTOFF * ratio <= D.LSH_BUCKET_CAP
