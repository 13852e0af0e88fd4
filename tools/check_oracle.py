"""Local twin of the driver's t2 correctness gate.

Runs every queries() entry on Spark and its oracle_sql() on DuckDB at a
given sf dir, then compares row count, sorted column names, and the
order-insensitive multiset of stringified values — STRICTER than any
reasonable hash compare, so passing here implies passing the driver.

Usage: python tools/check_oracle.py [sf_dir] [query_name_or_pattern ...]

Each name may be a shell-style pattern (``'mm_*' 'dedup_image_*'``);
no names means every registered query.
"""

from __future__ import annotations

import fnmatch
import math
import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402


def nested_output_columns(sdf) -> list[str]:
    """Columns whose type the driver's pandas canonicalizer cannot sort.

    The driver canonicalizes results with DataFrame.sort_values over every
    column; array/map/struct cells arrive as python lists/dicts and raise
    `TypeError: unhashable type` before any compare (this FAILED the gate
    for agg_approx_count_distinct in r1 and emb_pq_encode /
    agg_approx_percentiles in r3).  Registered queries must emit scalar
    columns only — array_join / explode / per-element scalars instead.
    """
    from pyspark.sql import types as T

    return [
        f.name
        for f in sdf.schema.fields
        if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType))
    ]


def norm_cell(v) -> str:
    if v is None:
        return "\\N"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def norm_rows(cols: list[str], rows: list[tuple]) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(norm_cell(r[i]) for i in order) for r in rows)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = sys.argv[2:]

    from specialsid_spark.queries import all_oracles, all_queries
    from specialsid_spark.session import get_spark

    spark = get_spark("check_oracle")
    qs = all_queries()
    oracles = all_oracles()

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    n_pass = n_fail = n_rows_only = 0
    failures: list[str] = []
    for name, fn in sorted(qs.items()):
        if only and not any(fnmatch.fnmatchcase(name, p) for p in only):
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            bad = nested_output_columns(sdf)
            if bad:
                print(
                    f"FAIL {name}: driver-incompatible nested output columns {bad} "
                    "(array/map/struct break the driver's pandas canonicalizer)"
                )
                failures.append(name)
                n_fail += 1
                continue
            s_cols = sdf.columns
            s_rows = [tuple(r) for r in sdf.collect()]
        except Exception:
            print(f"FAIL {name}: spark error\n{traceback.format_exc()}")
            failures.append(name)
            n_fail += 1
            continue
        if name not in oracles:
            n_rows_only += 1
            print(f"rows-only {name}: {len(s_rows)} rows  ({time.time() - t0:.1f}s)")
            if len(s_rows) == 0:
                print(f"  WARNING {name}: zero rows")
            continue
        try:
            res = con.execute(oracles[name])
            d_cols = [d[0] for d in res.description]
            d_rows = res.fetchall()
        except Exception:
            print(f"FAIL {name}: duckdb error\n{traceback.format_exc()}")
            failures.append(name)
            n_fail += 1
            continue
        problems = []
        if sorted(s_cols) != sorted(d_cols):
            problems.append(f"cols spark={sorted(s_cols)} duck={sorted(d_cols)}")
        if len(s_rows) != len(d_rows):
            problems.append(f"rowcount spark={len(s_rows)} duck={len(d_rows)}")
        if not problems:
            ns, nd = norm_rows(s_cols, s_rows), norm_rows(d_cols, d_rows)
            if ns != nd:
                diffs = [(a, b) for a, b in zip(ns, nd) if a != b][:3]
                problems.append(f"values differ; first diffs: {diffs}")
        if problems:
            print(f"FAIL {name}: {'; '.join(problems)}")
            failures.append(name)
            n_fail += 1
        else:
            n_pass += 1
            print(f"PASS {name}: {len(s_rows)} rows  ({time.time() - t0:.1f}s)")

    print(f"\n=== {n_pass} pass, {n_fail} fail, {n_rows_only} rows-only ===")
    if failures:
        print("failures:", " ".join(failures))
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
