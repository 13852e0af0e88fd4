"""A/B timing harness for a SUBSET of queries (r13 optimization round).

Mirrors bench.py's methodology exactly — same session factory, same
warmup, interleaved min-of-N rounds, Arrow toPandas materialization —
so per-query numbers are comparable with bench.py's, while costing
minutes instead of the full 109-query run.

Usage: python tools/ab_time.py <query_or_pattern> [...]

Each name may be a shell-style pattern (``'mm_pdf_*'``), as in
tools/check_oracle.py; a pattern that matches no query is an error.
Env:   AB_ROUNDS (default 3), SPARK_GRAFT_SF_DIR (default sf0.1)
"""

from __future__ import annotations

import fnmatch
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    patterns = sys.argv[1:]
    rounds = int(os.environ.get("AB_ROUNDS", "3"))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from specialsid_spark.catalog import load
    from specialsid_spark.queries import all_queries
    from specialsid_spark.session import get_spark

    spark = get_spark("ab_time")
    qs = all_queries()
    unknown = [p for p in patterns if not fnmatch.filter(qs, p)]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")
    # argument order, so explicit names time in the order given
    names = list(dict.fromkeys(n for p in patterns for n in fnmatch.filter(qs, p)))

    # same warmup as bench.py
    nat = load(spark, sf_dir, "nation")
    reg = load(spark, sf_dir, "region")
    (
        nat.join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .groupBy("r_name")
        .agg(F.count(F.lit(1)).alias("n"))
        .select("r_name", F.sum("n").over(Window.partitionBy("r_name")).alias("w"))
        .toPandas()
    )

    timings = {n: float("inf") for n in names}
    for _ in range(rounds):
        for name in names:
            spark.catalog.clearCache()
            t0 = time.time()
            df = qs[name](spark, sf_dir)
            df.toPandas()
            timings[name] = min(timings[name], time.time() - t0)
    print(json.dumps({n: round(t, 3) for n, t in timings.items()}))
    spark.stop()


if __name__ == "__main__":
    main()
