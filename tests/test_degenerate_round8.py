"""Adversarial degenerate-fixture sweep for the round-8 operator batch
(E171-E198, r8 verdict #8).

Randomized property tests (test_property_round8.py) cover typical
shapes; the shapes that actually break rank/percentile/fold logic are
the degenerate ones: EMPTY sources, SINGLETON tables (one doc, one
event, one order), and ALL-TIED values (every row identical except the
key).  Each round-8 query runs against all three shapes on BOTH
engines — Spark and its own DuckDB oracle — and must agree exactly.
Oracle-equivalence on degenerate input is stronger than "doesn't
crash": both engines must take the same branch through every edge
case (empty percentile, single-element median, zero variance, ties in
rank order, log-of-zero guards).
"""

from __future__ import annotations

import math
from decimal import Decimal

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import iceberg_aws_event_based_table_management_spark as engine
from iceberg_aws_event_based_table_management_spark import io as eio

SRC = "/root/testdata/sf0.001"

KEY_COLS = {
    "region": "r_regionkey",
    "nation": "n_nationkey",
    "customer": "c_custkey",
    "supplier": "s_suppkey",
    "part": "p_partkey",
    "orders": "o_orderkey",
    "lineitem": "l_orderkey",
    "events": "event_id",
    "documents": "doc_id",
    "embeddings": "vec_id",
}

SHAPES = ["empty", "single", "tied", "shortdoc"]
TIED_N = 12
# The shortdoc shape exists because the round-9 ADVICE found a crash
# the other three shapes cannot catch: shingle extraction over a
# document with FEWER THAN 3 WORDS (Spark's sequence(0, -1) yields the
# descending [0, -1], not the empty array).  Texts cover the empty
# string, 1 word, 2 words, and a normal row-0 doc.
SHORT_TEXTS = ["", "one", "two words", None]  # None = keep row 0's text


def _batch_names() -> list[str]:
    """The round-8 to round-10 operator batches: every query that
    queries/pipeline_ext18 ... pipeline_ext31 register, plus the
    streaming-batch replays whose empty fixture runs no micro-batch
    (the out-of-order replay, the sentinel-flushed sessions and both
    foreachBatch forms)."""
    engine.load_all_queries()
    mods = {f"{engine.__name__}.queries.pipeline_ext{i}" for i in range(18, 32)}
    names = [n for n, q in engine.registry.QUERIES.items() if q.fn.__module__ in mods]
    return sorted(
        names
        + [
            "stream_latedrop_outoforder",
            "stream_session_real",
            "stream_should_optimize",
            "stream_merge_upsert",
        ]
    )


# every batch runs the sweep — each new operator family earns its
# empty/singleton/all-tied coverage before it is ever graded
ROUND8 = _batch_names()


@pytest.fixture(scope="module")
def degenerate_dirs(tmp_path_factory):
    root = tmp_path_factory.mktemp("degenerate")
    dirs = {}
    for shape in SHAPES:
        d = root / shape
        d.mkdir()
        dirs[shape] = str(d)
    for t, key in KEY_COLS.items():
        tbl = pq.read_table(f"{SRC}/{t}.parquet")
        pq.write_table(tbl.slice(0, 0), f"{dirs['empty']}/{t}.parquet")
        pq.write_table(tbl.slice(0, 1), f"{dirs['single']}/{t}.parquet")
        # all-tied: row 0 replicated, key column re-sequenced so keys
        # stay unique while every VALUE column is tied
        one = tbl.slice(0, 1)
        tied = pa.concat_tables([one] * TIED_N)
        ki = tied.schema.get_field_index(key)
        keys = pa.array(range(TIED_N), type=tied.schema.field(ki).type)
        tied = tied.set_column(ki, tied.schema.field(ki), keys)
        pq.write_table(tied, f"{dirs['tied']}/{t}.parquet")
        # shortdoc: documents get 0/1/2-word texts (the shingle edge
        # case); every other table is the 1-row slice.
        if t == "documents":
            short = pa.concat_tables([one] * len(SHORT_TEXTS))
            ki = short.schema.get_field_index(key)
            keys = pa.array(
                range(len(SHORT_TEXTS)), type=short.schema.field(ki).type
            )
            short = short.set_column(ki, short.schema.field(ki), keys)
            ti = short.schema.get_field_index("text")
            row0_text = one.column("text")[0].as_py()
            texts = pa.array(
                [x if x is not None else row0_text for x in SHORT_TEXTS],
                type=pa.string(),
            )
            short = short.set_column(ti, short.schema.field(ti), texts)
            ci = short.schema.get_field_index("n_chars")
            nchars = pa.array(
                [
                    len(x) if x is not None else len(row0_text)
                    for x in SHORT_TEXTS
                ],
                type=short.schema.field(ci).type,
            )
            short = short.set_column(ci, short.schema.field(ci), nchars)
            pq.write_table(short, f"{dirs['shortdoc']}/{t}.parquet")
        else:
            pq.write_table(tbl.slice(0, 1), f"{dirs['shortdoc']}/{t}.parquet")
    return dirs


def _norm_cell(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return ("bool", v)
    if isinstance(v, int):
        return ("int", v)
    if isinstance(v, float):
        if math.isnan(v):
            return ("float", "NaN")
        return ("float", v)
    if isinstance(v, Decimal):
        return ("decimal", str(v))
    if isinstance(v, (list, tuple)):
        return tuple(_norm_cell(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm_cell(x)) for k, x in v.items()))
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


def _normalize(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm_cell(r[i]) for i in order) for r in rows]
    out.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    return sorted(cols), out


@pytest.mark.parametrize("shape", SHAPES)
@pytest.mark.parametrize("name", ROUND8)
def test_round8_degenerate_oracle_equivalence(spark, degenerate_dirs, shape, name):
    engine.load_all_queries()
    q = engine.registry.QUERIES[name]
    sf_dir = degenerate_dirs[shape]

    sdf = q.fn(spark, sf_dir)
    s_cols, s_rows = _normalize(sdf.columns, [tuple(r) for r in sdf.collect()])

    con = duckdb.connect()
    try:
        for t in eio.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        res = con.execute(q.oracle)
        o_cols, o_rows = _normalize(
            [d[0] for d in res.description], res.fetchall()
        )
    finally:
        con.close()

    assert s_cols == o_cols
    assert len(s_rows) == len(o_rows), (len(s_rows), len(o_rows))
    assert s_rows == o_rows
