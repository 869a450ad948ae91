"""Semantic invariants for the E113-E118 operators (value correctness
is the oracle's job; these lock the *guarantees* each operator's
contract promises)."""

from __future__ import annotations

import pytest

import iceberg_aws_event_based_table_management_spark as engine
from iceberg_aws_event_based_table_management_spark import io
from iceberg_aws_event_based_table_management_spark.operators import dedup as D
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def qmap():
    engine.load_all_queries()
    return engine.query_map()


def test_densify_spine_reconciles(spark, sf_dir, qmap):
    """Dense spine accounting: active + zero days == span; the longest
    zero run fits inside the zero-day budget; active days match the
    raw daily rollup."""
    rows = qmap["densify_daily_commits"](spark, sf_dir).collect()
    daily = (
        io.snapshots(spark, sf_dir)
        .groupBy("table_name", F.col("ts").cast("date"))
        .count()
        .groupBy("table_name")
        .count()
        .collect()
    )
    active = {r.table_name: r["count"] for r in daily}
    for r in rows:
        assert r.n_active_days + r.n_zero_days == r.n_days_span, r
        assert 0 <= r.max_zero_run <= r.n_zero_days, r
        assert r.n_active_days == active[r.table_name], r


def test_attribution_credit_is_conserved(spark, sf_dir, qmap):
    """Each touched purchase distributes floor(1e6/m) to each of its m
    touches: total credit lands in (1e6 - m, 1e6] per purchase — so
    channel totals bound between 1e6·P - T and 1e6·P."""
    rows = qmap["attribution_multi_touch"](spark, sf_dir).collect()
    assert rows
    total_credit = sum(r.credit_ppm_total for r in rows)
    total_touches = sum(r.n_touches for r in rows)
    # n_purchases_touched is per-channel; recover the global count
    # independently for the conservation bound.
    ev = io.table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"), "user_id", io.epoch_ms("ts").alias("pt")
    )
    t = ev.filter(F.col("event_type").isin("view", "click")).select(
        "user_id", io.epoch_ms("ts").alias("tt")
    )
    n_touched = (
        p.join(t, "user_id")
        .filter((F.col("tt") <= F.col("pt")) & (F.col("tt") >= F.col("pt") - 7 * 86_400_000))
        .select("pid")
        .distinct()
        .count()
    )
    assert 1_000_000 * n_touched - total_touches < total_credit <= 1_000_000 * n_touched


def test_basket_lift_internally_consistent(spark, sf_dir, qmap):
    """Support bounds and the lift identity hold on every emitted row,
    and the cut is exactly top-20."""
    items = (
        io.table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    n_orders = items.select("l_orderkey").distinct().count()
    rows = qmap["basket_part_lift"](spark, sf_dir).collect()
    assert len(rows) == 20
    for r in rows:
        assert r.part_a < r.part_b
        assert 3 <= r.n_ab <= min(r.n_a, r.n_b)
        assert abs(r.lift - r.n_ab * n_orders / (r.n_a * r.n_b)) < 1e-5, r


def test_prefix_filter_equals_exact_all_pairs(spark, sf_dir, qmap):
    """The completeness theorem, checked end to end: the prefix-
    filtered join must return EXACTLY the all-pairs Jaccard>=0.5
    result — no pair lost to filtering, none invented."""
    docs = io.table(spark, sf_dir, "documents").select("doc_id", "text")
    exact = {
        (r.doc_id_a, r.doc_id_b): r.n_common
        for r in D.jaccard_pairs(D.shingles(docs, 3), threshold=0.5).collect()
    }
    got = {
        (r.doc_id_a, r.doc_id_b): r.n_common
        for r in qmap["dedup_prefix_filter_pairs"](spark, sf_dir).collect()
    }
    assert got == exact
    assert got, "fixture must contain near-dup pairs"


def test_quantile_zorder_buckets_are_balanced(spark, sf_dir, qmap):
    """The point of quantile bucketing: per-dimension bucket loads are
    ~n/16 (within 2x), unlike equi-width under skew; totals reconcile;
    z-values stay in the 8-bit range."""
    rows = qmap["sort_compaction_zorder_quantile"](spark, sf_dir).collect()
    n = io.table(spark, sf_dir, "lineitem").count()
    assert sum(r.n_rows for r in rows) == n
    per_kp: dict[int, int] = {}
    for r in rows:
        assert 0 <= r.zq < 256
        kp = 0
        for i in range(4):  # de-interleave the even bits back into kp
            kp |= ((r.zq >> (2 * i)) & 1) << i
        per_kp[kp] = per_kp.get(kp, 0) + r.n_rows
    assert len(per_kp) == 16
    for kp, cnt in per_kp.items():
        assert n / 32 <= cnt <= n / 8, (kp, cnt, n / 16)


def test_cdc_apply_respects_tombstones(spark, sf_dir, qmap):
    """Row-count accounting from an independent key-class census:
    survivors = base - deleted_latest + inserted_surviving."""
    base_keys = [
        r.o_orderkey
        for r in io.table(spark, sf_dir, "orders").select("o_orderkey").collect()
    ]
    n_base = len(base_keys)
    # latest-op-wins census over the deterministic mod classes
    deleted = {k for k in base_keys if k % 14 == 1} | {k for k in base_keys if k % 7 == 2}
    inserted = {k for k in base_keys if k % 7 == 4}  # never deleted in seq 2
    expect = n_base - len(deleted) + len(inserted)
    rows = qmap["cdc_apply_tombstones"](spark, sf_dir).collect()
    assert sum(r.n_orders for r in rows) == expect
    assert {r.o_orderpriority for r in rows} == {
        r.o_orderpriority
        for r in io.table(spark, sf_dir, "orders")
        .select("o_orderpriority")
        .distinct()
        .collect()
    }


def test_pf_shingle_estimate_metadata_branches(tmp_path):
    """The E116 broadcast gate's size measure (io.parquet_column_bytes
    behind gates.corpus_exceeds(column="text")) must stay pure driver
    metadata (parquet FOOTER, no Spark job) across all path shapes: a
    single parquet file, a directory-of-part-files sink (the
    production layout), and a missing/unreadable path — which must
    gate to "big", never-broadcast, the scale-safe direction.  The
    measure is the text column's UNCOMPRESSED size, so heavy on-disk
    compression (round-8 ADVICE: dictionary/zstd on repetitive
    corpora) cannot flip the bound's conservative direction."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from iceberg_aws_event_based_table_management_spark import io as eio
    from iceberg_aws_event_based_table_management_spark.operators import gates
    from iceberg_aws_event_based_table_management_spark.queries.pipeline_ext6 import (
        _PF_BCAST_MAX_SHINGLES,
    )

    def text_bytes(sf):
        return eio.parquet_column_bytes(str(sf), "documents", "text")

    def big(sf, **kw):
        return gates.corpus_exceeds(
            str(sf), cutoff=_PF_BCAST_MAX_SHINGLES, column="text", **kw
        )

    def write(path, texts):
        tbl = pa.table(
            {"doc_id": list(range(len(texts))), "text": texts}
        )
        pq.write_table(tbl, path, compression="zstd")

    def uncompressed_text_bytes(path):
        md = pq.read_metadata(path)
        return sum(
            md.row_group(rg).column(ci).total_uncompressed_size
            for rg in range(md.num_row_groups)
            for ci in range(md.row_group(rg).num_columns)
            if md.row_group(rg).column(ci).path_in_schema == "text"
        )

    # single file: measure == footer uncompressed text size, and for
    # a unique-doc corpus (the shape the gate serves — exact dedup D1
    # runs upstream) that bounds logical chars ≥ words ≥ shingles,
    # independent of how hard zstd squeezes the file on disk
    import random

    rnd = random.Random(8)
    texts = [
        "".join(rnd.choices("abcdefg hijklmn", k=400)) for _ in range(200)
    ]
    f = tmp_path / "documents.parquet"
    write(f, texts)
    est = text_bytes(tmp_path)
    assert est == uncompressed_text_bytes(f)
    assert est >= sum(len(t) for t in texts)  # ≥ chars ≥ words ≥ shingles
    assert est > f.stat().st_size  # compressed size would under-count
    assert not big(tmp_path)
    assert gates.corpus_exceeds(
        str(tmp_path), cutoff=est - 1, column="text"
    ), "the gate compares the column bytes, not the row count"

    # directory of part files (sum across nested parts)
    d = tmp_path / "dircase" / "documents.parquet"
    (d / "sub").mkdir(parents=True)
    write(d / "part-0.parquet", ["alpha beta gamma"] * 10)
    write(d / "sub" / "part-1.parquet", ["delta epsilon"] * 5)
    assert text_bytes(tmp_path / "dircase") == uncompressed_text_bytes(
        d / "part-0.parquet"
    ) + uncompressed_text_bytes(d / "sub" / "part-1.parquet")

    # missing path: the gate says "big", never force-broadcasting on
    # unknown size
    assert text_bytes(tmp_path / "nope") is None
    assert big(tmp_path / "nope")

    # unreadable footer (not real parquet): same never-broadcast fallback
    bad = tmp_path / "badcase" / "documents.parquet"
    bad.parent.mkdir()
    bad.write_bytes(b"x" * 1234)
    assert big(tmp_path / "badcase")
    # ...unless the branch changes emitted values: unknown=False keeps
    # the exact (small) side
    assert big(tmp_path / "badcase", unknown=False) is False

    # parquet without a text column: metadata we don't understand —
    # never force the broadcast
    nocol = tmp_path / "nocol" / "documents.parquet"
    nocol.parent.mkdir()
    pq.write_table(pa.table({"doc_id": [1, 2]}), nocol)
    assert text_bytes(tmp_path / "nocol") is None
    assert big(tmp_path / "nocol")
