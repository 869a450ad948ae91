"""Property-based equivalence tests (hypothesis): the declarative
window/agg formulations must match straightforward imperative mirrors
of the reference's Java semantics on randomized inputs.

- trigger evaluator, both the Spark form and the driver cut, vs a
  literal re-walk of shouldOptimizeDataFiles
  (AwsTableManagementMetricsEvaluator.java:108-140)
- binpack planner invariants (AwsManageProperties.java:48-50 cap)
- Morton/z-order key vs a bit-twiddling reference

Each hypothesis example packs many tables into ONE DataFrame so a
whole example costs one Spark job, keeping the suite fast.
"""

from __future__ import annotations

import pyarrow as pa
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from iceberg_aws_event_based_table_management_spark.operators import maintenance, trigger

NOW_MS = 1_700_000_000_000
OPS = ("append", "replace", "delete", "overwrite")

snapshot = st.tuples(
    st.one_of(
        st.integers(min_value=0, max_value=50_000_000),  # age offset ms before NOW
        st.integers(min_value=0, max_value=3),  # ts ties between snapshot ids
    ),
    st.sampled_from(OPS),
)
timeline = st.lists(snapshot, min_size=0, max_size=12)
timelines = st.lists(timeline, min_size=0, max_size=20)


def _mirror_decision(snaps, *, ct, tt):
    """Imperative mirror of the Java loop: newest-first walk, stop at
    REPLACE, pending count + oldest pending age (no early exit — the
    early returns in the Java only short-circuit the OR)."""
    ordered = sorted(snaps, key=lambda s: (-s[1], -s[0]))  # desc ts, desc id
    pending = []
    for sid, ts, op in ordered:
        if op == "replace":
            break
        pending.append((sid, ts))
    n = len(pending)
    age = (NOW_MS - min(ts for _, ts in pending)) if pending else -1
    return n, age, age >= tt, n >= ct, (age >= tt or n >= ct)


@settings(max_examples=12, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(timelines)
@example([])  # an empty log
@example([[(5, "append"), (5, "replace"), (5, "delete"), (9, "append")]])  # ts ties at the cut
@example([[(30, "replace"), (20, "append"), (10, "replace"), (3, "append")]])  # several REPLACEs
@example([[(10, "append"), (4, "overwrite"), (0, "replace")]])  # the newest is a REPLACE
@example([[(10, "append"), (4, "delete"), (0, "overwrite")], []])  # no REPLACE
def test_trigger_matches_imperative_reference(spark, tls):
    """The Spark decision and the driver cut both equal the mirror."""
    ct, tt = 5, 10_800_000
    rows, expected = [], {}
    for t_idx, tl in enumerate(tls):
        name = f"t{t_idx}"
        snaps = [
            (sid, NOW_MS - off, op) for sid, (off, op) in enumerate(tl)
        ]
        for sid, ts, op in snaps:
            rows.append((name, sid, ts, op))
        if snaps:
            expected[name] = _mirror_decision(snaps, ct=ct, tt=tt)
    df = spark.createDataFrame(
        rows, "table_name string, snapshot_id long, ts_ms long, operation string"
    ).select("table_name", "snapshot_id", F.timestamp_millis("ts_ms").alias("ts"), "operation")
    now = "2023-11-14 22:13:20"  # == NOW_MS in UTC
    got = {
        r["table_name"]: (
            r["n_commits_since_replace"],
            r["max_pending_age_ms"],
            r["time_trigger"],
            r["commit_trigger"],
            r["should_optimize"],
        )
        for r in trigger.decide_optimize(
            df, now=now, commit_threshold=ct, time_threshold_ms=tt, replace_op="replace"
        ).collect()
    }
    assert got == expected
    # rows reversed, so input order cannot stand in for the id tie-break
    names, sids, ts_ms, ops = zip(*rows[::-1]) if rows else ((), (), (), ())
    lineage = pa.table(
        {
            "table_name": pa.array(names, pa.string()),
            "snapshot_id": pa.array(sids, pa.int64()),
            "ts": pa.array([ms * 1000 for ms in ts_ms], pa.int64()),  # epoch micros
            "operation": pa.array(ops, pa.string()),
        }
    )
    assert trigger.epoch_ms_of(now) == NOW_MS
    on_driver = trigger.decide_on_driver(
        lineage, now_ms=NOW_MS, commit_threshold=ct, time_threshold_ms=tt, replace_op="replace"
    )
    assert on_driver == expected


file_entry = st.tuples(st.integers(min_value=1, max_value=2_000_000_000))
inventories = st.lists(
    st.lists(file_entry, min_size=1, max_size=30), min_size=1, max_size=8
)


@settings(max_examples=12, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(inventories, st.integers(min_value=1_000_000, max_value=4_000_000_000))
def test_binpack_groups_respect_cap(spark, invs, cap):
    rows = [
        (f"t{t}", f"f{t}_{i}", size)
        for t, inv in enumerate(invs)
        for i, (size,) in enumerate(inv)
    ]
    df = spark.createDataFrame(rows, "table_name string, file_path string, file_size_bytes long")
    planned = {
        (r["table_name"], r["file_path"]): r["group_id"]
        for r in maintenance.plan_binpack_groups(df, cap).collect()
    }
    # exact mirror: size-desc/path order, exclusive running sum, floor/cap
    expected = {}
    by_table: dict = {}
    for tname, path, size in rows:
        by_table.setdefault(tname, []).append((path, size))
    for tname, files in by_table.items():
        running = 0
        for path, size in sorted(files, key=lambda f: (-f[1], f[0])):
            expected[(tname, path)] = running // cap
            running += size
    assert planned == expected


@settings(max_examples=30, deadline=None)
@given(
    st.integers(min_value=0, max_value=2**16 - 1),
    st.integers(min_value=0, max_value=2**16 - 1),
)
def test_zorder_matches_bit_twiddling_reference(spark, x, y):
    df = spark.createDataFrame([(x, y)], "x long, y long")
    zv = maintenance.zorder_value(
        ["x", "y"], bits=16, mins={"x": 0, "y": 0}, ranges={"x": 2**16 - 1, "y": 2**16 - 1}
    )
    got = df.select(zv.alias("z")).collect()[0]["z"]
    ref = 0
    for i in range(16):
        ref |= ((x >> i) & 1) << (2 * i)
        ref |= ((y >> i) & 1) << (2 * i + 1)
    assert got == ref


# --- E19/E21: sampling + sharding invariants on randomized corpora ---

doc = st.tuples(
    st.integers(min_value=0, max_value=1_000_000),  # doc_id (deduped below)
    st.sampled_from(("en", "de", "fr", "zh", "es")),
    st.integers(min_value=1, max_value=10_000),  # n_chars
)
corpus = st.lists(doc, min_size=1, max_size=60, unique_by=lambda d: d[0])


def _stratified(spark, rows):
    from pyspark.sql import Window

    df = spark.createDataFrame(rows, "doc_id long, lang string, n_chars long")
    hashed = df.withColumn("h", (F.col("doc_id") * F.lit(2654435761)) % F.lit(4294967296))
    w = Window.partitionBy("lang").orderBy("h", "doc_id")
    ranked = hashed.withColumn("rn", F.row_number().over(w)).withColumn(
        "n_lang", F.count("*").over(Window.partitionBy("lang"))
    )
    return ranked.filter(F.col("rn") <= F.expr("(n_lang + 4) div 5")).select("lang", "doc_id")


@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(corpus)
def test_stratified_sample_quota_exact_per_stratum(spark, rows):
    """The per-stratum quota must be exactly ceil(n/5) (integer form)
    and the sample a subset of the stratum — on any corpus, not just
    the fixture."""
    got = _stratified(spark, rows).collect()
    by_lang: dict[str, set] = {}
    for r in got:
        by_lang.setdefault(r["lang"], set()).add(r["doc_id"])
    pop: dict[str, set] = {}
    for did, lang, _ in rows:
        pop.setdefault(lang, set()).add(did)
    for lang, ids in pop.items():
        want = (len(ids) + 4) // 5
        assert len(by_lang.get(lang, set())) == want, (lang, want)
        assert by_lang.get(lang, set()) <= ids


@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(corpus)
def test_shard_round_robin_counts_and_totals(spark, rows):
    """Size-ranked round-robin: doc counts across shards differ by at
    most 1 and every doc lands in exactly one shard."""
    from pyspark.sql import Window

    df = spark.createDataFrame(rows, "doc_id long, lang string, n_chars long")
    ranked = df.withColumn(
        "rn", F.row_number().over(Window.orderBy(F.desc("n_chars"), "doc_id"))
    )
    out = (
        ranked.withColumn("shard_id", (F.col("rn") - 1) % 8)
        .groupBy("shard_id")
        .agg(F.count("*").alias("n_docs"), F.sum("n_chars").alias("total_chars"))
        .collect()
    )
    counts = [r["n_docs"] for r in out]
    assert sum(counts) == len(rows)
    assert max(counts) - min(counts) <= 1
    assert sum(r["total_chars"] for r in out) == sum(d[2] for d in rows)


# ---------------------------------------------------------------------------
# Grouped-pair Jaccard vs a literal set-arithmetic reference
# ---------------------------------------------------------------------------

_JW = ("alpha", "beta", "gamma", "delta", "eps")
_jdoc = st.lists(st.sampled_from(_JW), min_size=0, max_size=9).map(" ".join)
_jcorpus = st.lists(_jdoc, min_size=1, max_size=10)


def _sh3_py(text):
    ws = text.lower().split()
    return {" ".join(ws[i : i + 3]) for i in range(len(ws) - 2)}


@settings(max_examples=12, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(_jcorpus)
def test_jaccard_pairs_matches_set_arithmetic(spark, corpus):
    """The group-by-shingle pair emission must equal the literal
    per-pair set computation (intersection / union over distinct
    3-gram sets) at any threshold — the rewrite from the self-join
    formulation must not change a single pair or count."""
    from iceberg_aws_event_based_table_management_spark.operators import dedup as D

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(corpus)], "doc_id long, text string"
    )
    got = {
        (r.doc_id_a, r.doc_id_b): (r.n_common, r.n_a, r.n_b)
        for r in D.jaccard_pairs(D.shingles(docs, 3), threshold=0.3).collect()
    }
    want = {}
    sets = {i: _sh3_py(t) for i, t in enumerate(corpus)}
    for a in sets:
        for b in sets:
            if a >= b or not (sets[a] & sets[b]):
                continue
            inter = len(sets[a] & sets[b])
            if inter / (len(sets[a]) + len(sets[b]) - inter) >= 0.3:
                want[(a, b)] = (inter, len(sets[a]), len(sets[b]))
    assert got == want


_jedge = st.tuples(
    st.integers(min_value=0, max_value=14), st.integers(min_value=0, max_value=14)
).filter(lambda e: e[0] != e[1])
_jgraph = st.lists(_jedge, min_size=1, max_size=25)


@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(_jgraph)
def test_star_contraction_matches_union_find(spark, edges):
    """connected_components_star vs a literal union-find on random
    graphs: same node set, same min-labeled components."""
    from iceberg_aws_event_based_table_management_spark.operators import dedup as D

    canon = sorted({(min(a, b), max(a, b)) for a, b in edges})
    pairs = spark.createDataFrame(canon, "doc_id_a long, doc_id_b long")
    got = {(r.doc_id, r.component_id) for r in D.connected_components_star(pairs).collect()}

    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in canon:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {(n, find(n)) for n in parent}
    assert got == want


@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(_jgraph)
def test_adaptive_fallback_matches_union_find(spark, edges):
    """connected_components with max_iters=1 — forcing the round-7
    adaptive star-contraction fallback on (almost) every input — still
    equals a literal union-find on random graph shapes, not just the
    chain the deep-chain test plants."""
    from iceberg_aws_event_based_table_management_spark.operators import dedup as D

    canon = sorted({(min(a, b), max(a, b)) for a, b in edges})
    pairs = spark.createDataFrame(canon, "doc_id_a long, doc_id_b long")
    got = {
        (r.doc_id, r.component_id)
        # small_cutoff=0: the r12 driver gate would otherwise swallow
        # these small graphs before max_iters ever applies
        for r in D.connected_components(pairs, max_iters=1, small_cutoff=0).collect()
    }

    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in canon:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {(n, find(n)) for n in parent}
    assert got == want


@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(_jgraph)
def test_small_graph_gate_matches_union_find(spark, edges):
    """The r12 driver-gate path (the DEFAULT for graphs under the
    200k-pair cutoff) vs an independent literal union-find on random
    graphs — including self-loop pairs, which the gate must keep as
    singleton components like label propagation does."""
    from iceberg_aws_event_based_table_management_spark.operators import dedup as D

    canon = sorted({(min(a, b), max(a, b)) for a, b in edges}) + [(99, 99)]
    pairs = spark.createDataFrame(canon, "doc_id_a long, doc_id_b long")
    got = {(r.doc_id, r.component_id) for r in D.connected_components(pairs).collect()}

    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in canon:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {(n, find(n)) for n in parent}
    assert got == want


# ---------------------------------------------------------------------------
# Round-5 operators: funnel + segment dedup vs imperative mirrors
# ---------------------------------------------------------------------------

_FUNNEL_TYPES = ("view", "click", "purchase", "other")

funnel_event = st.tuples(
    st.integers(min_value=0, max_value=30),  # ts offset (small -> ties across users, strict-after edge cases)
    st.sampled_from(_FUNNEL_TYPES),
)
funnel_users = st.lists(
    st.lists(funnel_event, min_size=0, max_size=10), min_size=1, max_size=12
)


def _mirror_funnel(events):
    """Imperative mirror: walk events in (ts, event_id) order; first
    view, first click strictly after it, first purchase strictly
    after that click."""
    t_view = t_click = t_purchase = None
    for ts, _eid, et in sorted(events):
        if et == "view" and t_view is None:
            t_view = ts
        if et == "click" and t_click is None and t_view is not None and ts > t_view:
            t_click = ts
        if (
            et == "purchase"
            and t_purchase is None
            and t_click is not None
            and ts > t_click
        ):
            t_purchase = ts
    return t_view, t_click, t_purchase


@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(funnel_users)
def test_funnel_stages_match_imperative_walk(spark, users):
    """The stacked running-min window formulation must equal a literal
    ordered walk for every user — including purchases that precede
    their qualifying click (which must NOT count)."""
    from datetime import datetime, timedelta

    from iceberg_aws_event_based_table_management_spark.queries.aggregates import (
        funnel_stage_times,
    )

    base = datetime(2024, 1, 1)
    rows, eid = [], 0
    for uid, evs in enumerate(users):
        for ts_off, et in evs:
            rows.append((uid, eid, base + timedelta(minutes=ts_off), et))
            eid += 1
    if not rows:
        rows = [(0, 0, base, "other")]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp_ntz, event_type string"
    )
    got = {
        r.user_id: (r.t_view, r.t_click, r.t_purchase)
        for r in funnel_stage_times(df).collect()
    }
    per_user: dict[int, list] = {}
    for uid, eid_, ts, et in rows:
        per_user.setdefault(uid, []).append((ts, eid_, et))
    for uid, evs in per_user.items():
        assert got[uid] == _mirror_funnel(evs), (uid, sorted(evs))


seg_word = st.sampled_from(["a", "b", "c"])  # tiny alphabet -> forced collisions
seg_doc = st.lists(seg_word, min_size=1, max_size=12)
seg_corpus = st.lists(seg_doc, min_size=1, max_size=10)


def _mirror_segment_dedup(docs, seg_words):
    """Imperative mirror: first occurrence of each segment string in
    (doc_id, seg_no) order survives; later instances are duplicates."""
    seen = set()
    out = {}
    for doc_id, words in enumerate(docs):
        segs = [
            " ".join(words[i : i + seg_words])
            for i in range(0, len(words), seg_words)
        ]
        n_dup = 0
        for seg in segs:
            if seg in seen:
                n_dup += 1
            else:
                seen.add(seg)
        out[doc_id] = (len(segs), n_dup, round(n_dup / len(segs), 6))
    return out


@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(seg_corpus, st.sampled_from([2, 3]))
def test_segment_dedup_matches_first_occurrence_walk(spark, docs, seg_words):
    """segment_dedup_stats must equal the literal first-occurrence scan
    on randomized corpora with heavy forced collisions, for multiple
    segment widths (the fixture only exercises 16)."""
    from iceberg_aws_event_based_table_management_spark.operators.dedup import (
        segment_dedup_stats,
    )

    df = spark.createDataFrame(
        [(i, " ".join(ws)) for i, ws in enumerate(docs)], "doc_id long, text string"
    )
    got = {
        r.doc_id: (r.n_segments, r.n_dup_segments, r.dup_fraction)
        for r in segment_dedup_stats(df, seg_words=seg_words).collect()
    }
    assert got == _mirror_segment_dedup(docs, seg_words)


# ---------------------------------------------------------------------------
# Global-rank device family (operators/skew.py, r14): property parity
# with the single-partition window forms on randomized frames
# ---------------------------------------------------------------------------

rank_rows = st.lists(
    st.tuples(
        st.integers(min_value=-(10**6), max_value=10**6),  # order value
        st.integers(min_value=-1000, max_value=1000),  # summand
    ),
    min_size=0,
    max_size=120,
)


@given(rows=rank_rows, k=st.integers(min_value=1, max_value=9))
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_rank_devices_match_windows_property(spark, rows, k):
    """global_row_number / global_cumsum / global_ntile must equal
    their single-partition window twins on arbitrary frames —
    duplicates in the order VALUE allowed (the id column makes the
    total order), negative summands allowed, empty frame allowed.
    One example = one small DataFrame, three comparisons."""
    from pyspark.sql import Window

    from iceberg_aws_event_based_table_management_spark.operators.skew import (
        global_cumsum,
        global_ntile,
        global_row_number,
    )

    data = [(i, v, x) for i, (v, x) in enumerate(rows)]
    df = spark.createDataFrame(
        data, "id long, v long, x long"
    ).repartition(5)
    order = ["v", "id"]
    w = Window.orderBy(*order)
    want = {
        (r.id): (r.rn, r.c, r.b)
        for r in df.select(
            "id",
            F.row_number().over(w).alias("rn"),
            F.sum("x")
            .over(w.rowsBetween(Window.unboundedPreceding, 0))
            .alias("c"),
            F.ntile(k).over(w).alias("b"),
        ).collect()
    }
    rn = {
        r.id: r.rn
        for r in global_row_number(df, order, "rn", partitions=4).collect()
    }
    cs = {
        r.id: r.c for r in global_cumsum(df, order, "x", "c", partitions=4).collect()
    }
    nt = {
        r.id: r.bucket
        for r in global_ntile(df, k, order, partitions=4).collect()
    }
    got = {i: (rn[i], cs[i], nt[i]) for i in rn}
    assert got == want
