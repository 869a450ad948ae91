"""Interleaved A/B bench of registered queries across two source trees.

The only perf evidence this repo accepts on its drifting VM is an
interleaved same-process comparison (SURVEY §7.-3 machine-state caveat;
the cbbb4b4/e7331e2 protocol): one SparkSession, one JVM, variants
alternated in ABBA blocks so slow monotonic machine drift cancels in
the medians instead of masquerading as a code delta.

Usage:
  SPARK_GRAFT_SF_DIR=D python tools/ab_compare.py \
      --tree-a . --tree-b ../parent --label-a new --label-b old \
      --pairs 4 --out bench_runs/ab_x.json \
      dedup_prefix_filter_pairs sketch_heavy_hitters_cms ...

Each ABBA block contributes 2 runs per variant; --pairs 4 = 8 runs per
variant per query.  A run is ``tools/measure.py``'s ``run_once`` and
its wall is query BUILD + noop-sink execution (the bench.py timed
window).  Beside the walls each side records its last run's
status-store counters (jobs, stages, tasks, shuffle bytes, spill,
exchanges), the work counters that do not move with host steal.
Each tree is imported once; before every run its saved module set is
swapped back into ``sys.modules`` (the package is self-contained and
registry state is module-level), so module-level caches stay warm as
in a steady-state bench, and lazy in-function imports resolve to the
run's own tree.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.measure import TIMES, run_once, sf_dir_from_env, wall  # noqa: E402

PKG = "iceberg_aws_event_based_table_management_spark"


def _engine_modules() -> dict:
    return {m: mod for m, mod in sys.modules.items() if m == PKG or m.startswith(PKG + ".")}


def use_tree(mods: dict) -> None:
    """Swap a tree's saved module set into ``sys.modules``."""
    for m in _engine_modules():
        del sys.modules[m]
    sys.modules.update(mods)


def load_tree(tree: str) -> tuple[dict, dict]:
    """Import the engine package from `tree`: its module set (for
    ``use_tree``) and its query map."""
    use_tree({})
    sys.path = [p for p in sys.path if p != tree]
    sys.path.insert(0, tree)
    import importlib

    engine = importlib.import_module(PKG)
    engine.load_all_queries()
    return _engine_modules(), engine.query_map()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--tree-a", required=True)
    ap.add_argument("--tree-b", required=True)
    ap.add_argument("--label-a", default="A")
    ap.add_argument("--label-b", default="B")
    ap.add_argument("--pairs", type=int, default=4, help="ABBA blocks (2 runs/variant each)")
    ap.add_argument("--out", default=None)
    args = ap.parse_args()
    sf_dir = sf_dir_from_env()

    # Session comes from tree A's factory.  The shared session is only
    # a fair instrument if both trees would have BUILT the same
    # session: if tree B changed session.py conf (shuffle partitions,
    # AQE flags, ...), both variants silently run under A's conf and
    # the A/B attributes a conf delta to code (r13 ADVICE).  Verify
    # byte-identity of the two session factories up front.
    conf_identical = True
    sess_files = {}
    for label, tree in (("a", args.tree_a), ("b", args.tree_b)):
        p = os.path.join(tree, PKG, "session.py")
        with open(p, "rb") as fh:
            sess_files[label] = fh.read()
    if sess_files["a"] != sess_files["b"]:
        conf_identical = False
        print(
            "WARNING: session.py differs between trees — the shared "
            "session runs BOTH variants under tree A's conf; any conf "
            "delta between the trees will be attributed to code. "
            "Recorded as conf_identical=false in the payload.",
            file=sys.stderr,
        )
    trees = {"b": load_tree(args.tree_b), "a": load_tree(args.tree_a)}
    from iceberg_aws_event_based_table_management_spark.session import get_spark

    spark = get_spark("ebtm-ab")
    spark.sparkContext.setLogLevel("ERROR")

    def run_side(side: str, q: str) -> dict:
        mods, qm = trees[side]
        use_tree(mods)
        run = run_once(spark, qm[q], sf_dir)
        mods.update(_engine_modules())  # keep what lazy imports loaded
        return run

    results: dict = {}
    for q in args.queries:
        runs: dict[str, list[float]] = {"a": [], "b": []}
        counters: dict[str, dict] = {}
        order: list[str] = []
        # one warm run per variant (codegen + python-worker fork), untimed record
        warm = {side: round(wall(run_side(side, q)), 3) for side in ("a", "b")}
        for block in range(args.pairs):
            seq = ("a", "b", "b", "a") if block % 2 == 0 else ("b", "a", "a", "b")
            for side in seq:
                run = run_side(side, q)
                runs[side].append(round(wall(run), 3))
                counters[side] = {k: v for k, v in run.items() if k not in TIMES}
                order.append(side)
        med_a = statistics.median(runs["a"])
        med_b = statistics.median(runs["b"])
        results[q] = {
            "median_a": med_a,
            "median_b": med_b,
            "ratio_a_over_b": round(med_a / med_b, 3) if med_b else None,
            "runs_a": runs["a"],
            "runs_b": runs["b"],
            "counters_a": counters["a"],
            "counters_b": counters["b"],
            "warm": warm,
            "order": "".join(order),
        }
        print(
            f"{q}: {args.label_a}={med_a:.3f}s {args.label_b}={med_b:.3f}s "
            f"ratio={results[q]['ratio_a_over_b']} "
            f"exchanges={counters['a']['exchanges']}/{counters['b']['exchanges']} "
            f"jobs={counters['a']['jobs']}/{counters['b']['jobs']}",
            flush=True,
        )

    payload = {
        "protocol": "interleaved ABBA, medians of %d per variant, one session" % (2 * args.pairs),
        "label_a": args.label_a,
        "label_b": args.label_b,
        "tree_a": args.tree_a,
        "tree_b": args.tree_b,
        "sf_dir": sf_dir,
        "conf_identical": conf_identical,
        "session_conf": dict(spark.sparkContext.getConf().getAll()),
        "results": results,
    }
    out = json.dumps(payload, indent=1)
    if args.out:
        with open(args.out, "w") as f:
            f.write(out + "\n")
    print(out)


if __name__ == "__main__":
    main()
