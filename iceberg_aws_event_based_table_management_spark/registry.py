"""Query registry: the single source of truth the driver contract
(`__spark_entry__.py`) is generated from.

Each operator from SURVEY.md SS2 registers a named entry carrying the
Spark implementation and (when SQL-expressible) the equivalent DuckDB
oracle SQL.  Column names are aliased identically on both sides — the
driver sorts columns by name before hashing.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Query:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL, or None -> rows-only check
    tier: str  # "A" | "B" | "C" | "D"
    doc: str


QUERIES: dict[str, Query] = {}


def register(name: str, *, oracle: str | None, tier: str, doc: str = "") -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name {name!r}")
        QUERIES[name] = Query(name=name, fn=fn, oracle=oracle, tier=tier, doc=doc or (fn.__doc__ or ""))
        return fn

    return deco


def grading_ledger() -> dict[str, tuple[int, int]]:
    """name -> (latest_grade_round, latest_green_round) from the repo's
    CORRECTNESS_r*.json files, one grading record per round;
    0 means no such row.  Each file is read once.

    Green = value-hash match with no error.  A query registered WITHOUT
    an oracle can only ever earn the weaker rows-only row, so
    rows_match counts for it.  A file that exists but cannot be parsed
    warns and is excluded: it changes the next window's composition,
    which must not happen silently.
    """
    import glob
    import json
    import os
    import re
    import warnings

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    ledger: dict[str, tuple[int, int]] = {}
    for path in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as fh:
                rec = json.load(fh)
        except (OSError, ValueError) as exc:
            warnings.warn(
                f"unparseable driver correctness record {path!r}: {exc}; "
                "excluded from the grading ledger",
                RuntimeWarning,
                stacklevel=2,
            )
            continue
        if not isinstance(rec, dict):
            continue
        for name, row in rec.items():
            if not isinstance(row, dict):
                continue
            rows_only = name in QUERIES and QUERIES[name].oracle is None
            green = not row.get("err") and bool(
                row.get("hash_match") or (rows_only and row.get("rows_match"))
            )
            graded, greened = ledger.get(name, (0, 0))
            ledger[name] = (max(graded, rnd), max(greened, rnd) if green else greened)
    return ledger


def query_map() -> dict[str, QueryFn]:
    return {q.name: q.fn for q in QUERIES.values()}


def oracle_map() -> dict[str, str]:
    return {q.name: q.oracle for q in QUERIES.values() if q.oracle is not None}
