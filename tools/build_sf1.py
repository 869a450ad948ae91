"""Build an sf1-equivalent dataset by x10-replicating sf0.1 with
consistent key offsets (r9 verdict #4: the TPC-H-shaped relational
families have never run past sf0.1 while the document families have
measured x30 curves).

/root/testdata is read-only, so output goes to a scratch dir (default
/tmp/sf1) and bench.py points at it via SPARK_GRAFT_SF_DIR.

Replication discipline — preserve every distribution the engine's
plans depend on, scale only cardinality:

- fact/entity tables (customer, supplier, part, orders, lineitem,
  events, documents, embeddings): copy k offsets every ENTITY key by
  k * stride, with FK columns offset by the SAME stride as their PK
  (l_orderkey tracks o_orderkey, o_custkey tracks c_custkey, ...).
  Join fan-outs, per-key group sizes, and value distributions are
  replicated exactly; group COUNTS grow x10 — precisely how a real
  corpus grows under a fixed workload shape.
- dimension tables (region, nation) stay FIXED: c_nationkey /
  s_nationkey are untouched, so the broadcast-dim joins see x10 fan-in
  per nation, the realistic direction (TPC-H holds nation/region
  constant across sf too).
- events keep their 30-day ts span (densification, not elongation:
  windows per hour grow x10, window COUNT stays — matching how a
  busier catalog commits more per hour).
- documents get a disjoint-vocabulary word suffix and embeddings a
  per-copy random rotation (build_scaled), so duplicate/near-dup
  densities stay fixture-true.

Usage: python tools/build_sf1.py [--out /tmp/sf1] [--mult 10]

A scale sweep builds one directory per multiple and measures each:

    python tools/build_sf1.py --mult 3 --out /tmp/x3
    SPARK_GRAFT_SF_DIR=/tmp/x3 python tools/measure.py dedup_ngram_jaccard

A scale decade is the headline bench at sf0.1 and at --mult 10 (sf1)
or --mult 100 (sf10):

    python tools/build_sf1.py --mult 10 --out /tmp/sf1
    SPARK_GRAFT_SF_DIR=/tmp/sf1 python bench.py

Each query's decade exponent is log(t_hi / t_lo) / log(10), from the
``queries`` of the two runs' compact lines.
"""

from __future__ import annotations

import argparse
import os
import sys
from functools import reduce

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from iceberg_aws_event_based_table_management_spark.session import get_spark

BASE = "/root/testdata/sf0.1"
STRIDE = 10_000_000

# per-table: columns offset by k * STRIDE (PKs and the FKs that
# reference them share the stride, so joins stay consistent)
OFFSET_COLS = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
}
COPY_AS_IS = ["region", "nation"]


def build_scaled(spark, mult: int, out: str) -> None:
    """Write documents and embeddings at ``mult`` x sf0.1 into ``out``.

    Copy k of the documents gets every word suffixed with the copy tag,
    so copies share no shingle/token vocabulary: within-copy duplicate
    structure is replicated exactly, cross-copy similarity is zero, and
    the true output (duplicate pairs, clusters) scales x k.  Identical
    copies would inflate every duplicate cluster k-fold and make pair
    counts grow k^2 by construction, measuring the fixture, not the
    engine."""
    docs = spark.read.parquet(f"{BASE}/documents.parquet")
    parts = []
    for k in range(mult):
        c = docs.withColumn("doc_id", F.col("doc_id") + F.lit(k * STRIDE))
        if k > 0:
            c = c.withColumn(
                "text", F.regexp_replace("text", r"(\S+)", f"$1x{k}")
            ).withColumn("n_chars", F.length("text"))
        parts.append(c)
    scaled = reduce(DataFrame.unionByName, parts).repartition(max(4, 4 * mult))
    scaled.write.mode("overwrite").parquet(os.path.join(out, "documents.parquet"))

    # Embeddings: copy k applies a per-copy random rotation (an
    # isometry): every within-copy inner product, and so every
    # within-copy near-dup / kNN / centroid structure, is preserved
    # exactly, while cross-copy cosines collapse to ~1/sqrt(d).  A
    # sign-flip pattern is not enough: the fixture's vectors put ~60% of
    # their mass in 2 of 64 dims, and flips that spared those dims
    # leaked cross-copy pairs.
    import numpy as np

    emb = spark.read.parquet(f"{BASE}/embeddings.parquet")
    dim = len(emb.select("embedding").first()[0])

    def rotate(k: int):
        q, _ = np.linalg.qr(np.random.RandomState(1000 + k).randn(dim, dim))
        rot = q.astype(np.float64)

        def fn(batches):
            for pdf in batches:
                mat = np.vstack(pdf["embedding"].map(np.asarray).to_numpy())
                pdf = pdf.copy()
                pdf["embedding"] = list((mat @ rot.T).astype(np.float32))
                pdf["vec_id"] = pdf["vec_id"] + k * STRIDE
                # label is the blocking key of the near-dup operators:
                # shared labels would put rotated strangers in one block
                pdf["label"] = pdf["label"] + k * 1000
                yield pdf

        return fn

    eparts = [emb] + [emb.mapInPandas(rotate(k), schema=emb.schema) for k in range(1, mult)]
    scaled = reduce(DataFrame.unionByName, eparts).repartition(max(4, 4 * mult))
    scaled.write.mode("overwrite").parquet(os.path.join(out, "embeddings.parquet"))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default="/tmp/sf1")
    ap.add_argument("--mult", type=int, default=10)
    args = ap.parse_args()

    spark = get_spark("build-sf1")
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(args.out, exist_ok=True)

    for t in COPY_AS_IS:
        spark.read.parquet(f"{BASE}/{t}.parquet").write.mode("overwrite").parquet(
            f"{args.out}/{t}.parquet"
        )
        print(f"{t}: copied", flush=True)

    for t, keys in OFFSET_COLS.items():
        src = spark.read.parquet(f"{BASE}/{t}.parquet")
        # Guard the replication invariant (r10 ADVICE): if any offset
        # column ever exceeds the stride, replicated copies collide and
        # silently corrupt join fan-outs in the scaled dataset.
        maxes = src.agg(*[F.max(c).alias(c) for c in keys]).collect()[0].asDict()
        for col, mx in maxes.items():
            if mx is not None and mx >= STRIDE:
                raise SystemExit(
                    f"build_sf1: {t}.{col} max={mx} >= STRIDE={STRIDE}; "
                    f"raise STRIDE or the x{args.mult} copies will collide"
                )
        parts = []
        for k in range(args.mult):
            c = src
            for col in keys:
                c = c.withColumn(col, F.col(col) + F.lit(k * STRIDE))
            parts.append(c)
        scaled = reduce(DataFrame.unionByName, parts).repartition(4 * args.mult)
        scaled.write.mode("overwrite").parquet(f"{args.out}/{t}.parquet")
        print(f"{t}: x{args.mult}", flush=True)

    build_scaled(spark, args.mult, args.out)
    print(f"documents, embeddings: x{args.mult}", flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
