"""Local mimic of the driver's correctness gate.

Runs every registered query at a given sf dir on Spark AND its DuckDB
oracle, then compares row count, column names, order-insensitive
values, AND Arrow result types.  The type check exists because the
driver hashes typed values: DuckDB widening an integer SUM to
decimal128(38,0) hash-mismatches an int64 Spark column even though
Python compares Decimal(5) == 5 — exactly the round-1/2 failure mode.
Use while iterating; the real gate is the driver's
CORRECTNESS_r{N}.json.

Usage: python tools/check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time
from decimal import Decimal

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pyarrow as pa

import iceberg_aws_event_based_table_management_spark as engine
from iceberg_aws_event_based_table_management_spark import io as eio
from iceberg_aws_event_based_table_management_spark.session import get_spark


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
        return ("float", v)  # exact — mirror worst-case driver hashing
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
    return [cols[i] for i in order], out


def _type_sig(t: pa.DataType) -> str:
    """Canonical signature for an Arrow type.  Unit/tz of timestamps and
    string/large_string width are normalized (engines legitimately
    differ); numeric width and decimal-ness are NOT — that's what the
    driver's value hash is sensitive to."""
    if pa.types.is_timestamp(t):
        return "timestamp"
    if pa.types.is_date(t):
        return "date"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "string"
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return "binary"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return f"list<{_type_sig(t.value_type)}>"
    if pa.types.is_struct(t):
        fields = ", ".join(f"{t.field(i).name}:{_type_sig(t.field(i).type)}" for i in range(t.num_fields))
        return f"struct<{fields}>"
    if pa.types.is_map(t):
        return f"map<{_type_sig(t.key_type)},{_type_sig(t.item_type)}>"
    if pa.types.is_decimal(t):
        return "decimal"
    if pa.types.is_integer(t):
        # the driver's hash tolerates integer width (rank() int32 vs
        # ROW_NUMBER() int64 passed in r1/r2) but NOT decimal-vs-int
        return "int"
    return str(t)  # float32 vs float64 etc. stay distinct


def _sig_map(schema: pa.Schema) -> dict[str, str]:
    return {f.name: _type_sig(f.type) for f in schema}


def main() -> int:
    argv = [a for a in sys.argv[1:] if a != "--bare"]
    bare = "--bare" in sys.argv[1:]
    sf_dir = argv[0] if argv else eio.ORACLE_SF_DIR
    only = set(argv[1:])

    engine.load_all_queries()
    qmap = engine.query_map()
    omap = engine.oracle_map()

    if bare:
        # driver-mimic: a session WITHOUT the package's conf (the
        # driver supplies its own); queries must set what they need
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[16]")
            .config("spark.sql.shuffle.partitions", "16")
            .config("spark.ui.enabled", "false")
            .appName("oracle-check-bare")
            .getOrCreate()
        )
    else:
        spark = get_spark("oracle-check")
    spark.sparkContext.setLogLevel("OFF")
    con = duckdb.connect()
    for t in eio.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    from pyspark.sql.pandas.types import to_arrow_schema

    n_pass = n_fail = n_rows_only = 0
    for name, fn in sorted(qmap.items()):
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            s_cols = sdf.columns
            s_rows = [tuple(r) for r in sdf.collect()]
            s_types = _sig_map(to_arrow_schema(sdf.schema))
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {e}")
            n_fail += 1
            continue
        if name not in omap:
            print(f"rows  {name}: {len(s_rows)} rows (rows-only check) [{time.time()-t0:.1f}s]")
            n_rows_only += 1
            continue
        try:
            tbl = con.execute(omap[name]).arrow()
            d_cols = tbl.schema.names
            d_types = _sig_map(tbl.schema)
            d_rows = [tuple(row[c] for c in d_cols) for row in tbl.to_pylist()]
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {e}")
            n_fail += 1
            continue
        sc, sr = _normalize(s_cols, s_rows)
        dc, dr = _normalize(d_cols, d_rows)
        status = []
        if sc != dc:
            status.append(f"cols spark={sc} duck={dc}")
        else:
            bad_types = {
                c: (s_types[c], d_types[c]) for c in sc if s_types[c] != d_types[c]
            }
            if bad_types:
                status.append(f"arrow types differ: {bad_types}")
        if len(sr) != len(dr):
            status.append(f"rowcount spark={len(sr)} duck={len(dr)}")
        elif sr != dr:
            bad = next(i for i, (a, b) in enumerate(zip(sr, dr)) if a != b)
            status.append(f"values differ at sorted-row {bad}:\n  spark={sr[bad]}\n  duck ={dr[bad]}")
        if status:
            print(f"FAIL  {name}: " + "; ".join(status))
            n_fail += 1
        else:
            print(f"ok    {name}: {len(sr)} rows [{time.time()-t0:.1f}s]")
            n_pass += 1
    print(f"\n{n_pass} ok, {n_fail} fail, {n_rows_only} rows-only")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
