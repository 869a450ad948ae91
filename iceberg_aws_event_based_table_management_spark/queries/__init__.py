"""Query modules; importing them populates the registry.

Each grading round checks the first 50 registered queries, so
load() reorders the registry by one sort key computed from the
grading ledger (registry.grading_ledger, built from the repo's
CORRECTNESS_r*.json files).  In order:

1. Never graded: a query with no grade row has no evidence at all.
2. Latest grade red (latest grade round > latest green round): a
   regression re-grades every round until it is green again.
3. Rewritten since its latest grade (a REGRADE entry whose round is
   later than that grade): the green on record is for a plan that no
   longer exists.  The entry stops counting once a round grades
   the new plan, so stale entries are harmless.
4. Oldest latest-green round first: with 50 slots and ~340 queries,
   every query re-grades within 7 rounds, which catches record-format
   drift and silent regressions in plans nobody touched.
5. Name: a stable tie-break, so the window is deterministic.
"""

from __future__ import annotations

_LOADED = False

# Plans rewritten after their latest grade -> the round of the
# rewrite (key part 3).  Add an entry when a plan changes; it expires by
# itself once a grade from that round or later is on the ledger.
REGRADE: dict[str, int] = {
    "dedup_cluster_survivors": 16,
    "dedup_near_candidates": 16,
    "dedup_near_verified": 16,
    "pipeline_training_corpus": 16,
    "quantile_histogram_sketch": 16,
    "stream_should_optimize": 16,
}


def load() -> None:
    global _LOADED
    if _LOADED:
        return
    from . import (  # noqa: F401
        relational,
        relational_ext,
        scalars,
        sorts_sets,
        similarity,
        text,
        udfs,
        streaming_batch,
        pipeline_ext,
        pipeline_ext2,
        pipeline_ext3,
        pipeline_ext4,
        pipeline_ext5,
        aggregates,
        composite,
        control_plane,
        dedup,
        lifecycle,
        maintenance,
        pipeline_ext6,  # remaining ext modules register last; several import
        # sibling modules' oracle fragments, so keep them after
        # dedup/text/aggregates
        pipeline_ext7,
        pipeline_ext8,
        pipeline_ext9,
        pipeline_ext10,
        pipeline_ext11,
        pipeline_ext12,
        pipeline_ext13,
        pipeline_ext14,
        pipeline_ext15,
        pipeline_ext16,
        pipeline_ext17,
        pipeline_ext18,
        pipeline_ext19,
        pipeline_ext20,
        pipeline_ext21,
        pipeline_ext22,
        pipeline_ext23,
        pipeline_ext24,
        pipeline_ext25,
        pipeline_ext26,
        pipeline_ext27,
        pipeline_ext28,
        pipeline_ext29,
        pipeline_ext30,
        pipeline_ext31,
    )

    from .. import registry

    ledger = registry.grading_ledger()

    def key(name: str) -> tuple[bool, bool, bool, int, str]:
        graded, green = ledger.get(name, (0, 0))
        return (graded > 0, graded <= green, REGRADE.get(name, 0) <= graded, green, name)

    ordered = {n: registry.QUERIES[n] for n in sorted(registry.QUERIES, key=key)}
    registry.QUERIES.clear()
    registry.QUERIES.update(ordered)
    _LOADED = True
