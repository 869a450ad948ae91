"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints two JSON lines, a transparency record and then, LAST, the compact one:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...,
   "cpus": N, "shuffle_partitions": N}

Each query is timed by tools/measure.py: forced end-to-end with the
noop sink (full computation, no driver collect), wall = build + sink.
Timings include Catalyst planning but exclude session startup and
JVM/codegen warmup: every headline query runs
once to warm, then 3 timed runs and the MEDIAN is reported —
steady-state throughput, not JIT compile time or Python-worker
fork noise (mapInPandas warm-up showed +-80% single-run variance
between rounds 1 and 2 on identical code).  That is the regime that
matters at 100 TB, where each plan runs for minutes.

A scale decade is ``python tools/build_sf1.py --mult 10 --out D`` (or
``--mult 100``), then ``SPARK_GRAFT_SF_DIR=D python bench.py``; a
query's decade exponent is log(t_hi / t_lo) / log(10) from the two
compact lines.
"""

from __future__ import annotations

import json
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import iceberg_aws_event_based_table_management_spark as engine
from iceberg_aws_event_based_table_management_spark.session import get_spark
from tools.measure import measure, run_once, sf_dir_from_env

# Representative mix: control plane, relational heavy-hitters,
# maintenance planning, dedup/similarity/text extensions, plus the
# round-5 window's heaviest pipeline compositions (connected-component
# survivor resolution, incremental near-dup admission, TF-IDF,
# boilerplate n-grams, histogram-sketch quantiles).
HEADLINE = [
    "should_optimize_decision",
    "agg_pricing_summary",
    "join_inner_orders_customer",
    "window_rank_orders_per_cust",
    "topk_orders_by_price",
    "binpack_group_assignment",
    "merge_upsert_orders",
    "composite_shipping_priority",
    "pipeline_training_corpus",
    "pipeline_rag_corpus",
    "dedup_exact_documents",
    "dedup_ngram_jaccard",
    "topk_similarity_bruteforce",
    "similarity_knn_join",
    "similarity_threshold_pairs",
    "text_token_stats",
    "explode_unnest_tokens",
    "stream_tumbling_commits_per_hour",
    # round-5 additions
    "dedup_cluster_survivors",
    "dedup_incremental_neardup",
    "tfidf_top_terms",
    "text_boilerplate_ngrams",
    "quantile_histogram_sketch",
    # round-5 new operators (E64-E74 representatives)
    "dedup_semantic_semdedup",
    "dedup_segment_windows",
    "text_quality_classifier",
    "event_funnel_conversion",
    # round-5 late additions (E79-E94 representatives)
    "sketch_heavy_hitters_cms",
    "scd2_user_state_intervals",
    "dq_expectations_report",
    "linkage_blocked_nearest_name",
    # round-5 continuation (E101-E125 representatives): the two
    # provable-recall near-dup paths, the full ANN read path, and the
    # heaviest new corpus pass (winnowing)
    "dedup_prefix_filter_pairs",
    "dedup_simhash_hamming",
    "ann_ivfpq_recall_audit",
    "text_winnow_fingerprints",
    # E128-E156 representatives: lexical retrieval + fusion, the
    # typo-blocked linkage join, the kNN label audit, and the
    # survival fold
    "bm25_topk_retrieval",
    "rrf_fuse_retrieval",
    "dedup_edit1_names",
    "label_noise_knn_consensus",
    "survival_km_repurchase",
]

# measure() keys the transparency line leaves out: the walls have their
# own fields, and per-stage / per-operator lists would make the line
# tens of KB (tools/measure.py prints them).
LAYERS_DROP = ("query", "cold_s", "runs_s", "exec_sum_s", "per_stage", "operators")


def main() -> None:
    sf_dir = sf_dir_from_env()
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    engine.load_all_queries()

    spark = get_spark("ebtm-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # warm the JVM + IO path once (excluded from timings)
    run_once(spark, engine.query_map()["scan_parquet"], sf_dir)

    records = {name: measure(spark, name, sf_dir) for name in HEADLINE}
    timings = {n: round(statistics.median(r["runs_s"]), 3) for n, r in records.items()}

    total = round(sum(timings.values()), 3)
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    # queries_cold / queries_runs let a reviewer separate uniform
    # environment inflation (cold and warm move together across
    # rounds) from a plan regression (warm medians move alone) —
    # the r5 verdict's ask — without re-running anything; layers say
    # which layer moved and whether a work counter moved with it.
    # The verbose record goes on its OWN line FIRST; the driver keeps
    # only a fixed-size tail of stdout, and in round 6 a single
    # combined line overflowed that tail and came back `parsed: null`.
    # The compact headline line below must always be LAST so it lands
    # inside the tail window intact.
    print(
        json.dumps(
            {
                "metric": "headline_queries_transparency",
                "queries_cold": {n: round(r["cold_s"], 3) for n, r in records.items()},
                "queries_runs": {n: [round(w, 3) for w in r["runs_s"]] for n, r in records.items()},
                "layers": {
                    n: {k: v for k, v in r.items() if k not in LAYERS_DROP}
                    for n, r in records.items()
                },
                "sf": sf_val,
            }
        )
    )
    print(
        json.dumps(
            {
                "metric": "headline_queries_total",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf_val,
                "cpus": spark.sparkContext.defaultParallelism,
                "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
            }
        )
    )


if __name__ == "__main__":
    main()
