"""Centralized broadcast-size gating for corpus-derived join sides.

The same incident recurred three times (E116/r10, then twice in the
r12 sf10 smoke: dedup_pair_span_align, dedup_minhash_estimate_audit):
Catalyst's COMPILE-TIME size estimate of a corpus-derived aggregate
(post-groupBy sizes, post-window prefix ranks, collect_list sets) is
garbage in both directions, and when it undershoots the
autoBroadcastJoinThreshold a corpus-sized relation is planned as a
static BroadcastExchange — a multi-GB driver/executor hash-relation
build that dies under GC long before the join runs.  AQE cannot save
a STATIC broadcast decision; the only robust fix is to pin the join
strategy from a size signal Catalyst does not have: the parquet
FOOTER row count of the source table (driver-side file metadata, no
Spark job, so query construction stays lazy — io.parquet_num_rows).

This module is that pattern, extracted once (r12 verdict #5), and the
only place a table size becomes a plan branch:

- ``corpus_exceeds(sf_dir, ...)`` — the footer gate: row count, or
                                    one column's uncompressed bytes
- ``pin_join_side(df, small)``    — broadcast | shuffle_hash pin

``shuffle_hash`` (not sort-merge) is the big-corpus pin: the hash
build stays per-partition (no driver relation), and it skips the sort
a merge join would pay on the corpus-sized side.

Which way an UNKNOWN size falls (unreadable footer, absent column) is
the caller's ``unknown=``, and it has exactly two answers:

- ``unknown=True`` (default) for branches that change only the PLAN —
  broadcast vs shuffle, checkpoint vs recompute, one scan vs three.
  Every such plan is correct either way, and the unsafe
  direction is the one that OOMs (an oversized broadcast), while the
  big plan costs a few seconds; so unknown means big.
- ``unknown=False`` for branches that change the emitted VALUES
  (a sampled audit slice, sketch quantiles).  There an unknown size
  must keep the exact answer; so unknown means small.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import io

#: Doc-count ceiling for broadcasting corpus-derived relations
#: (signatures, per-doc sizes, positional grams).  At ~200k docs those
#: relations approach the r12-measured point where a static broadcast
#: hash relation plus the shingle stages' execution memory no longer
#: coexist in a 16 GB heap; past it every gated site pins shuffle_hash.
CORPUS_BROADCAST_MAX_DOCS = 200_000


def corpus_exceeds(
    sf_dir: str,
    table: str = "documents",
    cutoff: int = CORPUS_BROADCAST_MAX_DOCS,
    *,
    column: str | None = None,
    unknown: bool = True,
) -> bool:
    """True when `table`'s footer row count — or, given `column`, that
    column's summed uncompressed bytes — exceeds `cutoff`; `unknown`
    when the footer is unreadable or the column absent (see the module
    docstring for which direction a caller picks)."""
    if column is None:
        n = io.parquet_num_rows(sf_dir, table)
    else:
        n = io.parquet_column_bytes(sf_dir, table, column)
    return unknown if n is None else n > cutoff


def pin_join_side(df: DataFrame, small: bool) -> DataFrame:
    """Pin the join strategy for a corpus-derived relation: explicit
    broadcast below the gate (Catalyst's own estimate is not trusted
    in EITHER direction), per-partition shuffle_hash build above it."""
    return F.broadcast(df) if small else df.hint("shuffle_hash")
