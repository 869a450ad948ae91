"""Seeded input generator.

Builds the fixture tables the engine reads (the TPC-H-like star schema,
``events``, ``documents`` and ``embeddings``; schemas in FIXTURES.md) at
a given scale factor, plus the per-commit ``lineitem`` slices that the
commit loop appends.  The same seed always yields byte-identical tables;
each table draws from its own ``SeedSequence`` child, so generating one
table never shifts the values of another.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_COLORS = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "zh", "de", "es", "fr"]
_LANG_P = [0.44, 0.15, 0.14, 0.14, 0.13]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the value "
    "vector window"
).split()

_EPOCH = np.datetime64("1970-01-01", "D")
# events span 2024-01-01 .. 2024-01-31 UTC, like the fixture (config.NOW_LITERAL
# sits just past it)
_EVENTS_START_US = 1_704_067_200_000_000
_EVENTS_SPAN_US = 30 * 86_400 * 1_000_000


def _rng(seed: int, table: str) -> np.random.Generator:
    return np.random.default_rng(np.random.SeedSequence([seed, TABLES.index(table) + 1]))


def _days(start: str, end: str) -> tuple[int, int]:
    a = (np.datetime64(start, "D") - _EPOCH).astype(int)
    b = (np.datetime64(end, "D") - _EPOCH).astype(int)
    return int(a), int(b)


def _day_ts(rng: np.random.Generator, n: int, start: str, end: str) -> pa.Array:
    lo, hi = _days(start, end)
    days = rng.integers(lo, hi + 1, n).astype("int64")
    return pa.array(days * 86_400_000_000, pa.timestamp("us"))


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)], pa.string())


def _sizes(sf: float) -> dict[str, int]:
    return {
        "customer": max(150, int(150_000 * sf)),
        "supplier": max(10, int(10_000 * sf)),
        "part": max(200, int(200_000 * sf)),
        "orders": max(1_500, int(1_500_000 * sf)),
        "lineitem": max(6_000, int(6_000_000 * sf)),
        "events": max(1_000, int(1_000_000 * sf)),
        "users": max(15, int(15_000 * sf)),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def region(seed: int, sf: float) -> pa.Table:
    return pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": pa.array(_REGIONS)}
    )


def nation(seed: int, sf: float) -> pa.Table:
    return pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )


def customer(seed: int, sf: float) -> pa.Table:
    n = _sizes(sf)["customer"]
    rng = _rng(seed, "customer")
    return pa.table(
        {
            "c_custkey": pa.array(np.arange(n, dtype="int64")),
            "c_name": pa.array([f"Customer#{k:09d}" for k in range(n)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n).astype("int32")),
            "c_acctbal": pa.array(_money(rng, n, -999.99, 9999.99)),
            "c_mktsegment": _pick(rng, _SEGMENTS, n),
        }
    )


def supplier(seed: int, sf: float) -> pa.Table:
    n = _sizes(sf)["supplier"]
    rng = _rng(seed, "supplier")
    return pa.table(
        {
            "s_suppkey": pa.array(np.arange(n, dtype="int64")),
            "s_name": pa.array([f"Supplier#{k:09d}" for k in range(n)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n).astype("int32")),
            "s_acctbal": pa.array(_money(rng, n, 0.0, 9999.99)),
        }
    )


def part(seed: int, sf: float) -> pa.Table:
    n = _sizes(sf)["part"]
    rng = _rng(seed, "part")
    keys = np.arange(n, dtype="int64")
    names = np.char.add(
        np.char.add(np.asarray(_COLORS)[rng.integers(0, 8, n)], " "),
        np.asarray(_NOUNS)[rng.integers(0, 8, n)],
    )
    return pa.table(
        {
            "p_partkey": pa.array(keys),
            "p_name": pa.array(names.astype(object), pa.string()),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n)]),
            "p_type": _pick(rng, _PART_TYPES, n),
            "p_size": pa.array(rng.integers(1, 51, n).astype("int32")),
            "p_retailprice": pa.array(np.round(900.0 + (keys % 1000) / 10.0, 1)),
        }
    )


def orders(seed: int, sf: float) -> pa.Table:
    s = _sizes(sf)
    n = s["orders"]
    rng = _rng(seed, "orders")
    return pa.table(
        {
            "o_orderkey": pa.array(np.arange(n, dtype="int64")),
            "o_custkey": pa.array(rng.integers(0, s["customer"], n).astype("int64")),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n),
            "o_totalprice": pa.array(_money(rng, n, 1000.0, 500000.0)),
            "o_orderdate": _day_ts(rng, n, "1995-01-01", "2001-08-01"),
            "o_orderpriority": _pick(rng, _PRIORITIES, n),
        }
    )


def _lineitem_rows(rng: np.random.Generator, n: int, s: dict[str, int]) -> pa.Table:
    return pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, s["orders"], n).astype("int64")),
            "l_partkey": pa.array(rng.integers(0, s["part"], n).astype("int64")),
            "l_suppkey": pa.array(rng.integers(0, s["supplier"], n).astype("int64")),
            "l_linenumber": pa.array(rng.integers(1, 8, n).astype("int32")),
            "l_quantity": pa.array(rng.integers(1, 51, n).astype("float64")),
            "l_extendedprice": pa.array(_money(rng, n, 900.0, 105000.0)),
            "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
            "l_returnflag": _pick(rng, ["A", "N", "R"], n),
            "l_linestatus": _pick(rng, ["F", "O"], n),
            "l_shipdate": _day_ts(rng, n, "1995-01-02", "2001-11-04"),
        }
    )


def lineitem(seed: int, sf: float) -> pa.Table:
    s = _sizes(sf)
    return _lineitem_rows(_rng(seed, "lineitem"), s["lineitem"], s)


def events(seed: int, sf: float) -> pa.Table:
    s = _sizes(sf)
    n = s["events"]
    rng = _rng(seed, "events")
    offsets = np.sort(rng.integers(0, _EVENTS_SPAN_US, n))
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype="int64")),
            "ts": pa.array(_EVENTS_START_US + offsets, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, s["users"], n).astype("int64")),
            "event_type": _pick(rng, _EVENT_TYPES, n),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def documents(seed: int, sf: float) -> pa.Table:
    n = _sizes(sf)["documents"]
    rng = _rng(seed, "documents")
    words = np.asarray(_WORDS)
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            # near-duplicate of an earlier document: the dedup operators' input
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), int(rng.integers(10, 101)))]))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype="int64")),
            "text": pa.array(texts, pa.string()),
            "lang": _pick(rng, _LANGS, n, p=_LANG_P),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def embeddings(seed: int, sf: float) -> pa.Table:
    n = _sizes(sf)["embeddings"]
    rng = _rng(seed, "embeddings")
    x = rng.standard_normal((n, 64)).astype("float32")
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype="int64")),
            "embedding": pa.array(list(x), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n).astype("int32")),
        }
    )


GENERATORS = {
    "region": region,
    "nation": nation,
    "customer": customer,
    "supplier": supplier,
    "part": part,
    "orders": orders,
    "lineitem": lineitem,
    "events": events,
    "documents": documents,
    "embeddings": embeddings,
}


def write_tables(out_dir: str, seed: int, sf: float, names=TABLES) -> str:
    """Write ``<out_dir>/<name>.parquet`` for each table; returns out_dir."""
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        pq.write_table(GENERATORS[name](seed, sf), os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


def commit_slices(seed: int, n_commits: int, rows_per_commit: int, sf: float = 0.1) -> list[pa.Table]:
    """Per-commit ``lineitem`` slices drawn from the sf-scale key space."""
    rng = np.random.default_rng(np.random.SeedSequence([seed, 101]))
    s = _sizes(sf)
    return [_lineitem_rows(rng, rows_per_commit, s) for _ in range(n_commits)]
