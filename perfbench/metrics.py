"""The benchmark's metric catalogue and its result line.

Every metric has a unit and a direction; every per-layer metric also
names the end-to-end metric it should move and on which workload.  A
workload that does not touch a layer reports that layer's metrics as 0.
``BENCHMARK.json`` is ``benchmark_json()`` (the tests check they agree).
"""

from __future__ import annotations

import math

from perfbench.trace import median
from perfbench.workloads import ANALYST, Result

RUN_SECONDS = 10

WORKLOADS = {
    "analyst_mix": "12 short TPC-H and event queries at sf0.01: fixed costs dominate and no "
    "UDF, snapshot, stream or codec runs, so it is the control for write-path changes",
    "daily_ingest": "a 16-page catalogue PDF a day through hop1-hop4, the LSH gate and the cropper, "
    "then compact and vacuum: streaming, commits and codecs, no registered query",
}

# name: (unit, better, bound, meaning)
END_TO_END = {
    "setup_s": ("s", "lower", 0.25,
                "process start to first timed call: session start plus the untimed warm rounds, "
                "input generation excluded"),
    "round_s": ("s", "lower", 0.25,
                "median wall time of one round: a full pass over the query list, or one ingest day"),
    "call_geomean_s": ("s", "lower", 0.25,
                       "geometric mean over queries (or ingest steps) of each one's median "
                       "latency: builder plus toPandas, or one hop or the crop"),
}

MIX = "analyst_mix"
INGEST = "daily_ingest"
BOTH = "analyst_mix,daily_ingest"

# name: (unit, better, what it should move, workloads that exercise it)
PER_LAYER: dict[str, tuple[str, str, str, str]] = {
    "session.start_s": ("s", "lower", "setup_s", BOTH),
    "session.warmup_s": ("s", "lower", "setup_s", BOTH),
    "gen.s": ("s", "lower", "none: input generation, kept apart from setup_s", BOTH),
    "failed_ratio": ("ratio", "lower", "none: failed or wrong calls / calls attempted", BOTH),
    "driver.peak_rss_mb": ("MB", "lower", "none: VmHWM of the Python driver plus the driver JVM", BOTH),
    "queries.calls": ("count", "higher", "none: timed calls", MIX),
    "queries.p50_s": ("s", "lower", "call_geomean_s", MIX),
    "queries.build_s": ("s", "lower", "round_s, call_geomean_s", MIX),
    "queries.materialize_s": ("s", "lower", "round_s, call_geomean_s", MIX),
    "queries.jobs": ("count", "lower", "round_s", MIX),
    "queries.stages": ("count", "lower", "round_s", MIX),
    "queries.tasks": ("count", "lower", "round_s", MIX),
    "queries.in_job_s": ("s", "lower", "round_s", MIX),
    "queries.driver_gap_s": ("s", "lower", "round_s", MIX),
    "queries.executor_cpu_s": ("s", "lower", "round_s", MIX),
    "queries.shuffle_bytes": ("bytes", "lower", "round_s", MIX),
    "queries.spill_bytes": ("bytes", "lower", "round_s", MIX),
    "queries.gc_s": ("s", "lower", "round_s", MIX),
    "queries.tail_s": ("s", "lower", "none: call latency at queries.tail_pct", MIX),
    "queries.tail_pct": ("pct", "higher", "none: the percentile queries.tail_s reports", MIX),
}
for _q in ANALYST:
    PER_LAYER[f"q.{_q}.wall_p50_s"] = ("s", "lower", "round_s, call_geomean_s", MIX)
    PER_LAYER[f"q.{_q}.jobs"] = ("count", "lower", "round_s", MIX)
for _h in ("hop1", "hop2", "hop3", "hop4"):
    PER_LAYER[f"streaming.{_h}.s"] = ("s", "lower", "round_s, call_geomean_s", INGEST)
    PER_LAYER[f"streaming.{_h}.input_rows"] = ("count", "higher", "none: repeats exactly", INGEST)
    PER_LAYER[f"streaming.{_h}.batches"] = ("count", "lower", "round_s", INGEST)
    for _k in ("trigger_ms", "planning_ms", "wal_commit_ms"):
        PER_LAYER[f"streaming.{_h}.{_k}"] = ("ms", "lower", "round_s", INGEST)
PER_LAYER.update({
    "streaming.overhead_s": ("s", "lower", "round_s, call_geomean_s", INGEST),
    "extraction.pages": ("count", "higher", "none: repeats exactly", INGEST),
    "extraction.products": ("count", "higher", "none: repeats exactly", INGEST),
    "snapshot.compact_s": ("s", "lower", "ingest.maintenance_s", INGEST),
    "snapshot.vacuum_s": ("s", "lower", "ingest.maintenance_s", INGEST),
    "snapshot.versions": ("count", "lower", "ingest.index_bytes_per_live_byte", INGEST),
    "snapshot.data_files": ("count", "lower", "ingest.index_bytes_per_live_byte", INGEST),
    "snapshot.table_bytes": ("bytes", "lower", "ingest.index_bytes_per_live_byte", INGEST),
    "snapshot.reclaimed_bytes": ("bytes", "higher", "ingest.index_bytes_per_live_byte", INGEST),
    "snapshot.read_s": ("s", "lower", "none: the check's snapshot_read", INGEST),
    "multimodal.crop_s": ("s", "lower", "round_s, call_geomean_s", INGEST),
    "multimodal.thumbnails": ("count", "higher", "none: repeats exactly", INGEST),
    "jpeg.decode_mb_s": ("MB/s", "higher", "multimodal.crop_s", INGEST),
    "pdf.extract_pages_s": ("s", "lower", "streaming.hop1.s", INGEST),
    "ingest.maintenance_s": ("s", "lower", "none: compact + vacuum per pass, kept apart", INGEST),
    "ingest.index_bytes_per_live_byte": ("ratio", "lower", "ingest.maintenance_s", INGEST),
    "ingest.rows_per_s": ("rows/s", "higher", "round_s", INGEST),
    "trace.round_s": ("s", "lower", "none: round_s with tracing on; minus round_s is the overhead", BOTH),
    "trace.accounted_ratio": ("ratio", "higher",
                              "none: share of the run's wall time inside layer spans", BOTH),
    "trace.gap_check_max_err": ("ratio", "lower",
                                "none: worst |in-job + gap - wall| / wall over the checked calls", BOTH),
    "trace.checked_calls": ("count", "higher",
                            "none: timed calls (queries, hops, crops) checked against the event log", BOTH),
})


def geomean(xs: list[float]) -> float:
    return math.exp(sum(map(math.log, xs)) / len(xs)) if xs else 0.0


def report(res: Result, tracing: bool) -> dict:
    """The result line: every end-to-end metric, or with tracing every
    per-layer metric, by name with its unit."""
    if tracing:
        values = res.layers
        units = {n: u for n, (u, *_rest) in PER_LAYER.items()}
    else:
        values = {
            "setup_s": res.setup_s,
            "round_s": median(res.rounds),
            "call_geomean_s": geomean([median(xs) for xs in res.calls.values() if xs]),
        }
        units = {n: u for n, (u, *_rest) in END_TO_END.items()}
    return {
        "correct": res.correct,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {n: {"value": float(values.get(n, 0)), "unit": u} for n, u in units.items()},
    }


def benchmark_json() -> dict:
    """The ``BENCHMARK.json`` these definitions describe."""
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": n, "why": w} for n, w in WORKLOADS.items()],
        "end_to_end": [
            {"name": n, "unit": u, "better": b, "bound": bound}
            for n, (u, b, bound, _) in END_TO_END.items()
        ],
        "per_layer": [
            {"name": n, "unit": u, "better": b} for n, (u, b, _, _) in PER_LAYER.items()
        ],
    }


if __name__ == "__main__":
    import json

    print(json.dumps(benchmark_json(), indent=2))  # python3 -m perfbench.metrics > BENCHMARK.json
