"""Repo-wide physical-plan hygiene sweep.

test_plans.py locks specific shapes for specific queries; this sweep
asserts the NEGATIVE space for every registered batch query: no
accidental cartesian products, no row-at-a-time Python eval, and no
unbounded global sorts — the three mistakes that silently survive
small-sf correctness checks and then kill a 100 TB run.

Queries that intentionally use an exempt construct are allowlisted
with the reason inline; anything new that trips a rule must either fix
the plan or earn its allowlist entry in review.
"""

from __future__ import annotations

import pytest

import iceberg_aws_event_based_table_management_spark as engine

# Streaming queries execute a real micro-batch run inside the callable
# (bounded aggregates via memory sink; row-level and user x session
# sized outputs via executor-side parquet scratch sinks handed back as
# lazy reads) — their interesting plan is the streaming one, asserted
# in tests/test_streaming.py.  Source round-trips write scratch files.
# Both are excluded from a pure plan sweep.
SKIP = {
    "stream_events_ingest",
    "stream_session_real",  # r9: append-mode watermark run -> parquet scratch sink (no driver collect)
    "stream_watermark_latedrop",
    "stream_latedrop_outoforder",  # r10: out-of-order replay, memory sink of bounded windows
    "stream_stateful_trigger",
    "stream_should_optimize",
    "stream_merge_upsert",
    "source_csv_roundtrip",
    "source_json_roundtrip",
    "source_orc_roundtrip",
    "sink_partitioned_pruning",  # E111: writes a scratch partitioned table
}

# ArrowEvalPython / mapInPandas are the *intended* vectorized escape
# hatches; BatchEvalPython (row-at-a-time) is allowed only in the
# deliberate parity check.
ROW_PYTHON_OK = {
    "udf_tablename_parse_parity",  # parity query: row UDF vs native, by design
}

# A cross/nested-loop join against a literal or 1-row relation is a
# broadcast of O(1) rows, not a cartesian blowup.
NESTED_LOOP_OK = {
    "topk_similarity_bruteforce",  # 1-row query-vector relation
    "similarity_knn_join",  # bounded query side, broadcast by contract
    "tfidf_top_terms",  # 1-row corpus-size relation (broadcast)
    "kneser_ney_bigram_probs",  # E244: 1-row N1+(..) total relation (broadcast)
    "corpus_mixture_weights",  # 1-row corpus-totals relation (broadcast)
    "corpus_mixture_apply",  # same 1-row corpus-totals relation (broadcast)
    "filter_scalar_subquery",  # scalar subquery joins a 1-row aggregate
    "join_range_events_windows",  # C14 non-equi join: small band side broadcast (test_range_join_broadcasts_band_side)
    "kmeans_assign_step",  # E53: k-row centroid relation broadcast by hint
    "dedup_semantic_semdedup",  # E64: same k-row centroid broadcast as E53
    "ann_recall_audit",  # E68: 1-row query-vector relation (bruteforce side)
    "rolling_active_users",  # E75: ~days-row day spine broadcast into the range join
    "wap_publish_gate",  # E55: 1-row count aggregates broadcast
    "corpus_term_drift",  # E57: 1-row share-totals relation broadcast
    "quantile_histogram_sketch",  # E62: 3-row quantile-target relation broadcast into ~120-bin cumulative
    "sketch_heavy_hitters_cms",  # E80: 1-row corpus-token-total relation broadcast (phi threshold)
    "event_cooccurrence_pmi",  # E84: 1-row distinct-user-total relation broadcast
    "benford_first_digit_audit",  # E87: 1-row digit-total relation broadcast
    "composite_top_supplier",  # Q15 shape: 1-row MAX(total_revenue) relation broadcast
    "join_cardinality_sampled_estimate",  # E100: 1-row actual x 1-row estimate glue
    "embedding_pq_codes",  # E103: k-row per-block codebook relation broadcast by hint
    "table_freshness_sla",  # E108: 1-row fleet-now relation broadcast
    "distinct_kmv_set_ops",  # E109: |sources|-row pair frame (tiny both sides, < join)
    "basket_part_lift",  # E115: 1-row basket-total relation broadcast
    "ann_ivfpq_recall_audit",  # E121: 1-row query-vector + k-row codebook broadcasts
    "graph_triangle_census",  # E123: 1-row census glue (edges x nodes x tri x wedges)
    "bm25_topk_retrieval",  # E128: 1-row corpus N/total-tokens relation broadcast
    "rrf_fuse_retrieval",  # E144: inherits E128's 1-row stats broadcast via _bm25_scored
    "survival_km_repurchase",  # E148: 1-row censoring-horizon relation broadcast
    "rolling_distinct_users_7d",  # E153: retention-bounded day spine broadcast into the horizon range join
    "fair_share_allocation",  # E155: 1-row capacity + 1-row water-level broadcasts over the |tables| frame
    "rank_movers_nations",  # E156: 1-row date-span relation broadcast
    "setop_bag_halves",  # E157: 1-row date-span relation broadcast
    "drift_chi_square_gate",  # E135: 1-row span + 1-row period-total broadcasts
    "quantile_normalize_lengths",  # E139: grid x grid CDF theta join — both sides length-bounded metadata, global grid broadcast
    "rfm_customer_segments",  # E175: 1-row max-orderdate anchor broadcast
    "ccf_event_lead_lag",  # E179: 8-row lag frame broadcast over the (day, count) metadata series
    "cuped_adjusted_lift",  # E180: 1-row pooled-stats relation broadcast into the 2-row cohort frame
    "drift_psi_lengths",  # E188: 9-edge reference-decile + 1-row totals broadcasts (bin metadata)
    "orders_aging_buckets",  # E195: 1-row max-date anchor broadcast
    "text_bigram_perplexity",  # E196: 1-row vocabulary-size relation broadcast
    # round-9 batch (E199-E226): every entry below is a broadcast of a
    # 1-row global-statistics relation or a bounded metadata frame —
    # reviewed individually, none multiplies data-sized sides
    "kendall_tau_price_qty",  # E203: <=1000-cell grid self-join (lexicographic pair predicate) + 1-row n/tq/tp broadcasts
    "lift_curve_deciles",  # E206: 1-row (tot_n, tot_pos) relation broadcast into the 10-row curve
    "gini_impurity_split_scan",  # E207: 1-row (nt, post) totals + 1-row best/best_t broadcasts over the <=50-row grid
    "ks_statistic_by_source",  # E208: sources x length-grid fill (value-domain metadata) + 1-row corpus-total broadcast
    "croston_intermittent_demand",  # E211: 1-row (min,max)-date bounds broadcast into the |brands| x calendar spine
    "abc_xyz_inventory",  # E212: 1-row revenue-total + 1-row week-count broadcasts
    "changepoint_binary_segmentation",  # E215: 1-row (nd, S) totals broadcast over the day series
    "sessionization_gap_stats",  # E216: six 1-row percentile/mean aggregates glued into the single output row
    "dedup_band_tuning_audit",  # E220: 1-row truth-count relation broadcast into the 4-config table
    "stratified_neyman_allocation",  # E221: 1-row (wtot, ntot) + 1-row leftover broadcasts over |sources| rows
    "bh_fdr_correction",  # E222: 1-row corpus-stats + 1-row BH-cutoff broadcasts over |sources| rows
    "bag_bootstrap_ci",  # E223: 100-row replica-id frame broadcast into the scan-side explode; 1-row CI glue
    "isotonic_calibration_pav",  # E224: bin-grid interval lattice (B(B+1)/2 = 210 metadata rows)
    "lorenz_curve_points",  # E225: 1-row (n, tot) relation broadcast into the 20-point frame
    "entity_resolution_scorecard",  # E226: 1-row marginals broadcast over the 4-row pattern table
    # round-9 second batch (E227-E236, staged for round 11)
    "mann_kendall_trend",  # E229: calendar-bounded day-pair inequality join (the Theil-Sen d^2/2 device) + 1-row stat glue
    "page_hinkley_drift",  # E230: 1-row (nd, S) totals + 1-row alarm-day broadcasts over the day series
    "runs_test_daily",  # E235: 1-row nearest-rank median broadcast into the sign pass
    "ljung_box_q",  # E236: 1-row (nd, S) totals broadcast into the lag window
    "kl_divergence_sources",  # E237: 9-edge corpus-decile + 1-row corpus-total broadcasts (bin metadata, the E188 shape)
}

# Global Sort without a following limit: legitimate only when the sort
# IS the operator's contract (explicit ORDER BY results / compaction
# orderings) or ranks metadata-sized input.
GLOBAL_SORT_OK = {
    "sort_global_topcustomers",  # C28: the operator under test IS a global sort
    "sort_compaction_order",  # B2: sorted rewrite is the contract
    "sort_compaction_zorder",  # B2: z-ordered rewrite is the contract
    "quantile_histogram_sketch",  # E62: ~120-bin cumulative window (metadata-sized) + the exact-audit anchor the sketch replaces at scale
    "vocab_coverage_curve",  # E127: ranks the VOCABULARY (types, not tokens — metadata next to the corpus); histogram prefix sums at open-web scale
}


@pytest.fixture(scope="module")
def qmap():
    engine.load_all_queries()
    return engine.query_map()


def _executed(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def plans(spark, sf_dir, qmap) -> dict[str, str]:
    """name -> executedPlan string of every swept query under the
    default session config, shared by the four default-plan rules
    below.  Each query is built and planned once: building can run
    eager footer, checkpoint and CC gates, the bulk of the sweep's
    cost."""
    return {
        name: _executed(fn(spark, sf_dir))
        for name, fn in qmap.items()
        if name not in SKIP
    }


def test_no_cartesian_products(plans):
    bad = {}
    for name, plan in plans.items():
        if "CartesianProduct" in plan:
            bad[name] = "CartesianProduct"
        elif "BroadcastNestedLoopJoin" in plan and name not in NESTED_LOOP_OK:
            bad[name] = "BroadcastNestedLoopJoin (not allowlisted)"
    assert not bad, f"cartesian-family joins leaked into: {bad}"


def test_no_row_at_a_time_python(plans):
    bad = [
        name
        for name, plan in plans.items()
        if name not in ROW_PYTHON_OK and "BatchEvalPython" in plan
    ]
    assert not bad, f"row-at-a-time Python UDF in the hot path of: {bad}"


# Corpus-family queries (documents-table readers) that legitimately
# keep an EXPLICIT broadcast when the footer gate reports a huge
# corpus: every entry is a broadcast of a BOUNDED relation — 1-row
# global statistics, per-SOURCE aggregates (|sources| rows, metadata
# next to the corpus), fixed-size grids/lexicons, or an eval set that
# is small by definition — never a corpus-proportional table.  The
# r13 triage of the initial sweep found exactly ONE true positive
# (tfidf_top_terms force-broadcast the full vocabulary-sized df
# table; now footer-gated) — everything below was reviewed and is
# bounded.
CORPUS_BROADCAST_OK: dict[str, str] = {
    "corpus_term_drift": "1-row share-totals relation",
    "tfidf_top_terms": "1-row n_docs relation (the vocab-sized df join is footer-gated since r13)",
    "quantile_normalize_lengths": "length-grid CDF frames (value-domain metadata)",
    "source_length_zscore_outliers": "per-source mean/std stats (|sources| rows)",
    "bm25_topk_retrieval": "1-row corpus N/total-tokens stats + bounded query terms",
    "rrf_fuse_retrieval": "inherits bm25's 1-row stats broadcasts",
    "sketch_heavy_hitters_cms": "1-row token total + fixed wxd CMS table",
    "vocab_oov_rate": "top-K vocabulary (K fixed; 1e5-ish in production)",
    "robust_mad_outliers": "per-source median + MAD frames (|sources| rows)",
    "langid_confusion_matrix": "fixed per-language lexicon + |langs|^2 totals",
    "text_lang_id": "fixed per-language profile lexicon",
    "text_contamination_eval_overlap": "eval-set shingles (eval sets are small by definition)",
    "corpus_mixture_weights": "1-row corpus-totals relation",
    "curriculum_interleave": "per-source index (|sources| rows)",
    "corpus_mixture_apply": "1-row totals + per-source weights",
    "bloom_membership_audit": "bloom bitset positions (fixed filter size m)",
    "wap_publish_gate": "1-row count aggregates",
    "drift_psi_lengths": "9-edge reference deciles + 1-row totals (bin metadata)",
    "text_bigram_perplexity": "1-row vocabulary-size relation",
    "jackknife_mean_loo": "per-source leave-one-out totals (|sources| rows)",
    "ks_statistic_by_source": "per-source grid + 1-row corpus total",
    "vocab_overlap_coefficient": "per-source vocabulary sizes (|sources| rows)",
    "stratified_neyman_allocation": "1-row (wtot,ntot) + leftover frames",
    "bh_fdr_correction": "1-row corpus stats + BH cutoff",
    "bag_bootstrap_ci": "100-row replica-id frame + 1-row CI glue",
    "kl_divergence_sources": "corpus-decile edges + totals (bin metadata)",
    "kneser_ney_bigram_probs": "1-row continuation-total relation",
    # The connected-components SMALL-path component map is bounded at
    # RUNTIME by the gate itself: the driver physically collected
    # <= small_cutoff pairs (~3 MB), so the map is <= 2*small_cutoff
    # rows regardless of what the footer claims — when a corpus is
    # genuinely huge the pair count trips the gate and the distributed
    # (unhinted) label path runs instead (r16; operators/dedup.py
    # connected_components).
    "dedup_cluster_survivors": "CC small-path component map (gate-bounded <= 2*small_cutoff rows)",
    "dedup_near_clusters": "CC small-path component map (gate-bounded <= 2*small_cutoff rows)",
    "split_cluster_holdout": "CC small-path component map (gate-bounded <= 2*small_cutoff rows)",
}


def _non_device_broadcasts(plan: str) -> list[str]:
    """BroadcastExchange nodes that are NOT the operators/skew offsets
    frame.  The skew devices broadcast a <= `partitions`(x|groups|)-row
    per-partition count/total frame keyed on the reserved `_pid`
    column — bounded metadata by construction, exempt the same way the
    unpartitioned-window sweep exempts the `_pid` sentinel.  The frame
    is recognizable structurally: the exchange's immediate child
    subtree (the Project/Aggregate printed directly below it) carries a
    `_pid#` attribute; no corpus-derived relation does."""
    lines = plan.splitlines()
    out = []
    for i, ln in enumerate(lines):
        if "BroadcastExchange" not in ln:
            continue
        subtree = "\n".join(lines[i + 1 : i + 4])
        if "_pid#" not in subtree:
            out.append(ln.strip()[:160])
    return out


def test_no_corpus_broadcast_above_gate(spark, sf_dir, qmap, monkeypatch):
    """The incident class the r12 sf10 smoke caught twice (and E116
    before it): a corpus-derived relation planned as a static
    BroadcastExchange off a garbage compile-time estimate.  The fix
    pattern is the footer gate (operators/gates.py): past the doc
    cutoff every corpus-derived join side pins shuffle_hash.

    This sweep proves the gate wiring registry-wide at the one layer a
    small-sf test CAN prove: with the footer forced huge and Catalyst's
    own static broadcasts disabled (autoBroadcastJoinThreshold=-1, so
    any BroadcastExchange left is an EXPLICIT hint), no documents-
    family query may explicitly broadcast anything that is not an
    allowlisted bounded relation.  (Catalyst's own static mis-estimates
    cannot be simulated at sf0.001 — the standing sf1/sf10 all-query
    smoke remains the instrument for those; this locks the code-side
    half of the invariant.)"""
    import iceberg_aws_event_based_table_management_spark.io as eio
    from iceberg_aws_event_based_table_management_spark.queries import (
        pipeline_ext6 as ext6,
    )

    real_num_rows = eio.parquet_num_rows

    def fake_num_rows(sf, name):
        return 10**9 if name == "documents" else real_num_rows(sf, name)

    monkeypatch.setattr(eio, "parquet_num_rows", fake_num_rows)
    monkeypatch.setattr(ext6, "_PF_BCAST_MAX_SHINGLES", -1)
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    bad = {}
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        for name, fn in qmap.items():
            if name in SKIP:
                continue
            plan = _executed(fn(spark, sf_dir))
            if "documents.parquet" not in plan:
                continue
            if name in CORPUS_BROADCAST_OK:
                continue
            n_bcast = len(_non_device_broadcasts(plan))
            if n_bcast:
                bad[name] = f"{n_bcast} explicit BroadcastExchange with gate=big"
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
    assert not bad, (
        "corpus-family queries explicitly broadcast with the footer gate "
        f"reporting a 10^9-doc corpus: {bad}"
    )


def test_no_unbounded_global_sorts(plans):
    bad = []
    for name, plan in plans.items():
        if name in GLOBAL_SORT_OK:
            continue
        for line in plan.splitlines():
            s = line.strip().lstrip("+-*: ")
            # global sort = Sort over a rangepartitioned exchange; local
            # per-partition sorts (global=false) and TakeOrderedAndProject
            # are fine.
            if s.startswith("Sort ") and "global=true" in s:
                bad.append(name)
                break
    assert not bad, f"unbounded global sort in: {bad}"


# Queries that legitimately keep an UNPARTITIONED window node (ordered
# rank/cumsum with no PARTITION BY, or an all-rows global frame): every
# entry's window input is a BOUNDED frame — calendar-bounded day
# series, value-domain grids, |sources|/|tables|/k-row metadata, or
# fixed-size curve/bin frames — never a data-proportional relation.
# The r14 triage of the initial sweep found two true positives
# (lift_curve_deciles' customer-proportional NTILE and
# sessionization_gap_stats' session-proportional percentile ranks —
# both now on operators/skew's range-partitioned devices) on top of
# the four the r13 sf10 smoke had already measured (abc_xyz_inventory,
# sort_compaction_order, rfm_customer_segments, udtf_binpack_per_table
# — fixed the same way); r15 moved the last three doc-proportional
# entries (shard_assignment_balanced, pack_sequences_token_budget,
# matched_pairs_by_decile — their "metadata pairs" labels were wrong
# at 100x: one row per DOCUMENT is corpus-proportional) onto the same
# devices and deleted their entries, so the sweep now enforces them.
# Everything below was reviewed and is bounded.
UNPART_WINDOW_OK: dict[str, str] = {
    "ann_ivfpq_recall_audit": "per-query candidate lists (k x queries audit frame)",
    "apportion_token_budget": "|sources|-row budget frame",
    "bag_bootstrap_ci": "100-replica stats frame",
    "bh_fdr_correction": "|sources|-row p-value frame",
    "changepoint_binary_segmentation": "calendar-bounded day series",
    "classifier_auc_exact": "ppm score grid (<= 2e6 keys regardless of corpus)",
    "cumulative_unique_users": "retention-bounded day spine",
    "curriculum_interleave": "|sources|-row source index",
    "dedup_semantic_semdedup": "k-row centroid/cluster-id frame",
    "drift_chi_square_gate": "bin metadata",
    "embedding_pq_codes": "per-block codebook frame (k rows)",
    "emd_lengths": "value-domain length grid",
    "fair_share_allocation": "|tables|-row capacity frame",
    "gini_impurity_split_scan": "<= 50-row split grid",
    "hurst_exponent_rs": "calendar-bounded day series (R/S block sizes)",
    "isotonic_calibration_pav": "210-row bin-interval lattice",
    "kl_divergence_sources": "decile-bin metadata",
    "kmeans_assign_step": "k-row centroid frame",
    "lift_curve_deciles": "10-row decile-curve cumulative (the customer NTILE is on the skew device)",
    "ks_two_sample_lengths": "value-domain length grid",
    "ljung_box_q": "day-series lag frame",
    "lorenz_curve_points": "20-point curve frame",
    "mannwhitney_u_lengths": "value-grid rank identity (length domain)",
    "page_hinkley_drift": "calendar-bounded day series",
    "pareto_skyline_customers": "frontier-sized survivors (quantile-bucket pruned)",
    "quantile_histogram_sketch": "~120-bin cumulative",
    "quantile_normalize_lengths": "value-domain CDF grids",
    "rank_movers_nations": "25-nation frame",
    "ratio_to_parent_revenue": "region/nation rollup frame",
    "rrf_fuse_retrieval": "k-bounded fused candidate lists",
    "runs_test_daily": "calendar-bounded day series",
    "sort_global_topcustomers": "C28: the global sort IS the contract",
    "spearman_daily_corr": "calendar-bounded day-series ranks",
    "stratified_neyman_allocation": "|sources|-row allocation frame",
    "survival_km_repurchase": "calendar-bounded event-time day frame",
    "theil_u2_forecast": "calendar-bounded day series",
    "tree_split_gini_quantity": "<= 50-row split grid",
    "vocab_coverage_curve": "vocabulary types (metadata next to the corpus)",
    "zipf_term_exponent": "vocabulary types (metadata next to the corpus)",
}


def _bracket_groups(s: str) -> list[str]:
    """Top-level [...] groups of a physical-plan node line."""
    out: list[str] = []
    depth = 0
    cur: list[str] = []
    for ch in s:
        if ch == "[":
            if depth == 0:
                cur = []
            else:
                cur.append(ch)
            depth += 1
        elif ch == "]":
            depth -= 1
            if depth == 0:
                out.append("".join(cur))
            else:
                cur.append(ch)
        elif depth > 0:
            cur.append(ch)
    return out


def _unpartitioned_windows(plan: str) -> list[str]:
    """Window/WindowGroupLimit nodes with an EMPTY partition spec —
    the Exchange SinglePartition shape that funnels the node's whole
    input through one task.  Disambiguation: `Window [exprs], [G2]`
    is partitioned-without-order when G2 is a partition spec (no
    ASC/DESC) and unpartitioned-with-order when G2 is an order spec.
    Order specs on `_pid` are the operators/skew offset pass — a
    <= `partitions`-row bounded frame by construction — and exempt."""
    out = []
    for line in plan.splitlines():
        s = line.strip().lstrip("+-:* ")
        if s.startswith("Window "):
            g = _bracket_groups(s[len("Window "):])
            if len(g) >= 3:
                continue
            if len(g) == 2:
                spec = g[1]
                if " ASC" not in spec and " DESC" not in spec:
                    continue  # [exprs], [partSpec]: partitioned, unordered frame
                if spec.lstrip().startswith("_pid"):
                    continue  # skew-device offset pass (bounded)
            out.append(s[:160])
        elif s.startswith("WindowGroupLimit "):
            g = _bracket_groups(s[len("WindowGroupLimit "):])
            if g and g[0].strip() == "":
                out.append(s[:160])
    return out


def test_no_unpartitioned_windows_over_data(plans):
    """The r13-verdict incident class: a window with no PARTITION BY
    over a data-proportional relation plans as Exchange
    SinglePartition -> Sort -> Window — one task sorts (and holds)
    the whole input, which the sf10 smoke measured at 15.9-207.6 s
    across four queries and which becomes an OOM at 100 TB.  Every
    registered batch query must either plan zero unpartitioned window
    nodes (the operators/skew devices replace them with
    range-partition + local rank + broadcast offsets, whose only
    unpartitioned window orders on the `_pid` sentinel over a bounded
    count frame) or carry a reviewed bounded-input allowlist entry."""
    bad = {}
    for name, plan in plans.items():
        if name in UNPART_WINDOW_OK:
            continue
        hits = _unpartitioned_windows(plan)
        if hits:
            bad[name] = hits[0]
    assert not bad, f"unpartitioned window over unreviewed input: {bad}"
