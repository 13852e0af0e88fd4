"""Stateful-streaming-at-scale study (VERDICT r4 #7): the STATEFUL
operators — session windows, applyInPandasWithState running-max,
stream-stream click-attribution join, and the foreachBatch incremental
rollup — driven at 16× the sf0.1 events volume (~1.6M events) with
wall time AND state-store metrics recorded per operator.

streaming_scale_bench.py covers the stateless cleaner hop; this tool
answers the 100 TB question the hop bench can't: how big does the
state store get, and does the watermark actually bound it?  Metrics
come from each query's progress stream (stateOperators:
numRowsTotal / numRowsUpdated / memoryUsedBytes — the numbers a
production SRE alarms on).

Prints one JSON line per operator + a summary; rows feed BASELINE.md §3.

Usage: python tools/streaming_stateful_bench.py [x16_dir] [n_json_files]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def state_metrics(query) -> dict:
    """Aggregate state-store metrics over a finished query's progress
    events: final numRowsTotal, peak memoryUsedBytes, total updates."""
    total = mem = upd = 0
    batches = 0
    for p in query.recentProgress:
        batches += 1
        for so in p.get("stateOperators", []) if isinstance(p, dict) else []:
            total = max(total, so.get("numRowsTotal", 0))
            mem = max(mem, so.get("memoryUsedBytes", 0))
            upd += so.get("numRowsUpdated", 0)
    return {
        "state_rows": total,
        "state_peak_mem_bytes": mem,
        "state_rows_updated": upd,
        "micro_batches": batches,
    }


def run_query(df_writer, name: str) -> tuple[float, dict]:
    t0 = time.time()
    q = df_writer.trigger(availableNow=True).start()
    q.awaitTermination()
    dt = round(time.time() - t0, 2)
    return dt, state_metrics(q)


def main() -> None:
    x16_dir = sys.argv[1] if len(sys.argv) > 1 else os.path.join(REPO, ".bench_data/x16")
    n_files = int(sys.argv[2]) if len(sys.argv) > 2 else 64

    from pyspark.sql import functions as F

    from specialsid_spark.catalog import load
    from specialsid_spark.operators.snapshot import snapshot_read
    from specialsid_spark.session import get_spark
    from specialsid_spark.streaming.pipeline import (
        streaming_click_attribution_join,
        streaming_incremental_rollup,
        streaming_session_counts,
        streaming_stateful_running_max,
    )

    spark = get_spark("streaming_stateful_bench")
    work = tempfile.mkdtemp(prefix="stream_state16x_")
    results: dict[str, dict] = {}
    try:
        ev = load(spark, x16_dir, "events").select(
            "event_id", F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts"),
            "user_id", "event_type", "value",
        )
        ev_dir = os.path.join(work, "events")
        imp_dir = os.path.join(work, "impressions")
        clk_dir = os.path.join(work, "clicks")
        ev.repartition(n_files).write.mode("overwrite").json(ev_dir)
        ev.filter(F.col("event_type") == "view").repartition(16).write.mode("overwrite").json(imp_dir)
        ev.filter(F.col("event_type") == "click").repartition(16).write.mode("overwrite").json(clk_dir)
        n_ev = spark.read.json(ev_dir).count()
        print(json.dumps({"phase": "generate", "events": n_ev, "files": n_files}))

        # 1. session windows (watermark-bounded session state)
        agg = streaming_session_counts(spark, ev_dir)
        dt, sm = run_query(
            agg.writeStream.format("memory").queryName("sess16").outputMode("complete"),
            "sessions",
        )
        out_rows = spark.sql("SELECT count(*) AS n FROM sess16").collect()[0]["n"]
        results["session_windows"] = {"sec": dt, "out_rows": out_rows, **sm}
        print(json.dumps({"op": "session_windows", **results["session_windows"]}))

        # 2. applyInPandasWithState per-user running max
        st = streaming_stateful_running_max(spark, ev_dir)
        dt, sm = run_query(
            st.writeStream.format("memory").queryName("rmax16").outputMode("update"),
            "running_max",
        )
        out_rows = spark.sql("SELECT count(DISTINCT user_id) AS n FROM rmax16").collect()[0]["n"]
        results["apply_in_pandas_with_state"] = {"sec": dt, "distinct_users": out_rows, **sm}
        print(json.dumps({"op": "apply_in_pandas_with_state", **results["apply_in_pandas_with_state"]}))

        # 3. stream-stream click-attribution join (two watermarked sides)
        joined = streaming_click_attribution_join(spark, imp_dir, clk_dir)
        dt, sm = run_query(
            joined.writeStream.format("memory").queryName("attr16").outputMode("append"),
            "attribution",
        )
        out_rows = spark.sql("SELECT count(*) AS n FROM attr16").collect()[0]["n"]
        results["stream_stream_join"] = {"sec": dt, "attributed": out_rows, **sm}
        print(json.dumps({"op": "stream_stream_join", **results["stream_stream_join"]}))

        # 4. foreachBatch incremental rollup (state lives in the summary
        # table, NOT the state store — the zero-state-store pattern)
        summary = os.path.join(work, "summary")
        t0 = time.time()
        streaming_incremental_rollup(
            spark, ev_dir, summary, os.path.join(work, "ck_roll")
        ).awaitTermination()
        dt = round(time.time() - t0, 2)
        out_rows = snapshot_read(spark, summary).count()
        results["incremental_rollup"] = {"sec": dt, "summary_rows": out_rows, "state_rows": 0}
        print(json.dumps({"op": "incremental_rollup", **results["incremental_rollup"]}))

        print(json.dumps({"metric": "stateful_streaming_16x", "events": n_ev, "ops": results}))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
