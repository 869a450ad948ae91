"""Standing all-query scale smoke (r12 verdict #2: make it a per-round
regime — it is the only instrument that has ever caught the
overflow / mis-planned-broadcast class that graded sfs cannot trip).

One ``tools/measure.py`` run per registered query at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), single session,
alphabetical order, no warm pass.  Per-query wall seconds (or the
error string) stream to the output JSON after EVERY query, so a crash
keeps the partial record.

Usage:
  SPARK_GRAFT_SF_DIR=/tmp/sf1 python tools/smoke_all.py --out bench_runs/smoke_sf1.json
  python tools/smoke_all.py --out smoke.json --only agg_pricing_summary,tfidf_top_terms
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import sys
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import iceberg_aws_event_based_table_management_spark as engine
from iceberg_aws_event_based_table_management_spark.session import get_spark
from tools.measure import run_once, sf_dir_from_env, wall


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    ap.add_argument("--only", default="", help="comma-separated subset")
    args = ap.parse_args(argv)
    sf_dir = sf_dir_from_env()

    engine.load_all_queries()
    qmap = engine.query_map()
    names = sorted(qmap)
    if args.only:
        only = set(args.only.split(","))
        names = [n for n in names if n in only]

    spark = get_spark("ebtm-smoke")
    spark.sparkContext.setLogLevel("ERROR")

    def _alive() -> bool:
        try:
            spark.sql("SELECT 1").collect()
            return True
        except Exception:
            return False

    per: dict = {}
    restarts: list = []
    payload = {
        "sf_dir": sf_dir,
        "per_query_sec_or_err": per,
        "n_done": 0,
        "session_restarts": restarts,
    }
    for i, name in enumerate(names, 1):
        # Periodic hygiene: 165 queries into the r13 sf10 leg the
        # single JVM OOMed its heap on accumulated session state; drop
        # lingering py4j refs and cached blocks every 25 queries.
        if i % 25 == 0:
            gc.collect()
            try:
                spark.catalog.clearCache()
            except Exception:
                pass
        # A dead SparkContext (heap OOM kills the whole local JVM) is
        # restarted and the query retried ONCE in the fresh session, so
        # one session death cannot invalidate the rest of the smoke and
        # the retried cell tells "query kills a fresh heap" (real defect)
        # from "session had accumulated 165 queries of state" (harness
        # artifact).
        for attempt in ("ERR", "ERR(after restart)"):
            try:
                per[name] = round(wall(run_once(spark, qmap[name], sf_dir)), 3)
                break
            except Exception as exc:  # noqa: BLE001 — record and continue
                per[name] = f"{attempt} {type(exc).__name__}: {str(exc)[:300]}"
                traceback.print_exc(limit=3)
                if attempt != "ERR" or _alive():
                    break
                restarts.append(name)
                spark = get_spark("ebtm-smoke-r%d" % len(restarts))
                spark.sparkContext.setLogLevel("ERROR")
        payload["n_done"] = i
        with open(args.out, "w") as fh:
            json.dump(payload, fh, indent=1)
        print(f"[{i}/{len(names)}] {name}: {per[name]}", flush=True)

    errs = [n for n, v in per.items() if isinstance(v, str)]
    print(f"done: {len(names)} queries, {len(errs)} errors: {errs}")


if __name__ == "__main__":
    main()
