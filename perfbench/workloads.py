"""The workloads: the analyst query mix and the daily ingest chain.

Each workload runs in one process with one client thread (closed loop:
the next call starts when the previous one returns).  ``run_*`` returns
a ``Result``: the timed samples, the check outcome and, when tracing,
the per-layer figures.
"""

from __future__ import annotations

import decimal
import glob
import os
import sys
import time
import traceback
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from perfbench.trace import Tracer, gap_split, median, read_event_log, tail_percentile

ANALYST = (
    "agg_pricing_summary",
    "join_flagship_revenue",
    "join_broadcast_part_revenue",
    "tpch_q3_shipping_priority",
    "tpch_q6_forecast_revenue",
    "tpch_q10_returned_items",
    "tpch_q18_large_volume",
    "tpch_q9_profit_by_nation_year",
    "ev_session_windows",
    "ev_tumbling_hourly",
    "win_topk_cheapest_parts",
    "ev_retention_cohorts",
)

# Untimed warm rounds run before measuring; they are part of set-up.
# Round times keep falling while the JVM compiles the hot paths.  After
# one warm pass the analyst rounds still fell over the next two (e.g.
# 10.8, 8.7, 6.7 s), so the median of three timed rounds was a
# still-warming round; after two they are flat (e.g. 6.9, 6.7, 6.6 s).
# The ingest days mostly settle after one warm day.  At least three
# rounds are measured, so the median never depends on whether a third
# round fitted in the time (ingest days 7.9, 7.1 s vs 5.9, 5.9, 5.9 s).
MIX_WARM_ROUNDS = 2
INGEST_WARM_DAYS = 1
MIN_ROUNDS = 3

# Scale of the query tables.  The mix is dominated by fixed costs
# (planning, codegen, job scheduling, driver gaps), which do not shrink
# with the data; sf0.01 keeps a whole run within the run-time budget.
SF = 0.01

# daily_ingest shape: pages per catalogue, share of pages repeating an
# earlier day, and a maintenance pass (compact + vacuum) after every K
# days, counting the warm days.  The volume is a run-length cap, not a
# published catalogue size.  Each hop pays a fixed micro-batch cost
# (about 0.6 s, hop4 about 2 s) whatever the volume: going from 4 to 16
# pages a day added about 0.5 s to hop1-hop4 together, while the crop,
# a pure-Python JPEG decode and encode per product on the page, takes
# about 0.18 s a page.  At 16 pages a day is about 7 s, and per-row
# work is about a sixth of the hop time and most of the crop time.
PAGES_PER_DAY = 16
REPEAT_SHARE = 0.25
MAINTAIN_EVERY = 2
# The gate keys each product by its name, so a repeated page's products
# are the same documents, and the three-token text gives every product
# exactly one shingle: near-duplicate means same product, the relation
# under which the streaming gate and the batch referee must agree.
GATE_ID = "xxhash64(product_name)"
GATE_TEXT = "concat_ws(' ', product_name, 'in', 'catalogue')"


@dataclass
class Result:
    setup_s: float
    rounds: list[float]
    calls: dict[str, list[float]]  # latencies per query or ingest step
    attempted: int
    failed: int
    correct: bool
    layers: dict[str, float] = field(default_factory=dict)
    call_spans: list = field(default_factory=list)  # (job group, call name, Span) per timed call


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def peak_rss_mb(spark) -> float:
    """Peak RSS of the Python driver plus the driver JVM it launched."""
    total = vm_hwm_mb(os.getpid())
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is not None:
        total += vm_hwm_mb(proc.pid)
    return total


# ---------------------------------------------------------------------------
# Output checks
# ---------------------------------------------------------------------------


def _norm_cell(v, integral: bool) -> str:
    if v is None or (not isinstance(v, (str, bytes, bytearray)) and pd.isna(v)):
        return "\\N"  # SQL NULL; pandas also surfaces it as NaN / NaT
    if isinstance(v, (float, np.floating)):
        if integral:  # an integer column widened to float by its NULLs
            return str(int(v))
        return repr(float(v))
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, decimal.Decimal):
        return str(v)
    return str(v)


def normalized_rows(cols: list[str], rows, integral: set[str] = frozenset()) -> list[tuple]:
    """Rows as sorted tuples of strings, columns in name order: the
    order-insensitive multiset that ``tools/check_oracle.py`` compares."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        tuple(_norm_cell(r[i], cols[i] in integral) for i in order) for r in rows
    )


def oracle_mismatches(results: dict, sf_dir: str) -> list[str]:
    """Names whose last Spark result differs from its DuckDB oracle in
    column names, row count or row multiset."""
    import duckdb
    from pyspark.sql import types as T

    from specialsid_spark.queries import all_oracles

    oracles = all_oracles()
    con = duckdb.connect()
    for p in sorted(glob.glob(os.path.join(sf_dir, "*.parquet"))):
        name = os.path.basename(p)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")
    bad = []
    for name, (schema, pdf) in results.items():
        res = con.execute(oracles[name])
        d_cols = [d[0] for d in res.description]
        d_rows = res.fetchall()
        s_cols = list(pdf.columns)
        integral = {
            f.name for f in schema.fields if isinstance(f.dataType, T.IntegralType)
        }
        if (
            sorted(s_cols) != sorted(d_cols)
            or len(pdf) != len(d_rows)
            or normalized_rows(s_cols, pdf.itertuples(index=False), integral)
            != normalized_rows(d_cols, d_rows)
        ):
            bad.append(name)
    con.close()
    return bad


# ---------------------------------------------------------------------------
# Query mixes
# ---------------------------------------------------------------------------


def run_mix(spark, sf_dir: str, seconds: float, tracer: Tracer, t_proc: float, t_session: float):
    """Warm passes (set-up), then whole passes over the list until
    ``seconds`` have elapsed and ``MIN_ROUNDS`` passes ran; each call
    is builder + ``toPandas``."""
    from specialsid_spark.queries import all_queries

    names = ANALYST
    qs = all_queries()
    sc = spark.sparkContext
    per_query: dict[str, list[float]] = {n: [] for n in names}
    build: list[float] = []
    mat: list[float] = []
    call_spans: list[tuple[str, str, object]] = []
    last: dict = {}
    failed = attempted = 0

    def call(name: str, rnd: str) -> float | None:
        nonlocal attempted, failed
        attempted += 1
        sc.setJobGroup(f"{name}#{rnd}", name)
        t0 = time.perf_counter()
        try:
            with tracer.span(f"q.{name}", rnd) as sp:
                with tracer.span("queries.build", rnd):
                    df = qs[name](spark, sf_dir)
                t1 = time.perf_counter()
                with tracer.span("queries.materialize", rnd):
                    pdf = df.toPandas()
        except Exception:  # noqa: BLE001 - a failed call is counted, not fatal
            print(f"call {name} failed:", file=sys.stderr)
            traceback.print_exc()
            failed += 1
            return None
        t2 = time.perf_counter()
        last[name] = (df.schema, pdf)
        if rnd != "warm":
            build.append(t1 - t0)
            mat.append(t2 - t1)
            if sp is not None:
                call_spans.append((f"{name}#{rnd}", name, sp))
        return t2 - t0

    with tracer.span("session.warmup", "warm"):
        t_w = time.perf_counter()
        for _ in range(MIX_WARM_ROUNDS):
            for n in names:
                call(n, "warm")
        warm_s = time.perf_counter() - t_w
    setup_s = time.perf_counter() - t_proc

    rounds: list[float] = []
    t_end = time.perf_counter() + seconds
    r = 0
    while len(rounds) < MIN_ROUNDS or time.perf_counter() < t_end:
        rnd = f"analyst_mix#{r}"
        t_r = time.perf_counter()
        with tracer.span("round", rnd):
            for n in names:
                lat = call(n, rnd)
                if lat is not None:
                    per_query[n].append(lat)
        rounds.append(time.perf_counter() - t_r)
        r += 1

    with tracer.span("check", "check"):
        bad = oracle_mismatches(last, sf_dir)
    for name in bad:
        print(f"wrong output: {name}", file=sys.stderr)
    failed += len(bad)
    res = Result(setup_s, rounds, per_query, attempted, failed, failed == 0)
    calls = [x for xs in per_query.values() for x in xs]
    res.layers = {
        "session.start_s": t_session,
        "session.warmup_s": warm_s,
        "driver.peak_rss_mb": peak_rss_mb(spark),
        "queries.build_s": sum(build),
        "queries.materialize_s": sum(mat),
        "queries.calls": len(calls),
        "queries.p50_s": median(calls),
    }
    tail = tail_percentile(calls)
    res.layers["queries.tail_pct"] = tail[0] if tail else 0
    res.layers["queries.tail_s"] = tail[1] if tail else 0.0
    for n in names:
        res.layers[f"q.{n}.wall_p50_s"] = median(per_query[n])
    res.call_spans = call_spans
    return res


def eventlog_layers(res: Result, log_dir: str) -> None:
    """Fold the event log's per-call counts into ``res.layers`` (queries
    only) and check every timed call (queries, hops, crops) against it.

    Every call runs at least one Spark job, so a call whose job group is
    missing from the log means lost events (such as an unread rolled
    part).  In-job time plus driver gap equals the span's wall time by
    construction unless a job of the call's group ran outside its span;
    that is checked to within 5% (10 ms for the shortest calls)."""
    groups = read_event_log(log_dir)
    tot = {k: 0.0 for k in ("jobs", "stages", "tasks", "in_job_s", "driver_gap_s",
                            "executor_cpu_s", "shuffle_bytes", "spill_bytes", "gc_s")}
    jobs_per_query: dict[str, list[int]] = {}
    worst = 0.0
    for group, name, sp in res.call_spans:
        st = groups.get(group)
        if st is None or st.jobs == 0:
            print(f"self-check: no job of call {name} ({group}) in the event log", file=sys.stderr)
            res.correct = False
        in_job, gap = gap_split(sp, st)
        err = abs(in_job + gap - sp.wall)
        worst = max(worst, err / sp.wall)
        if err > max(0.05 * sp.wall, 0.010):
            print(f"self-check: {name} in-job {in_job:.3f} + gap {gap:.3f} != wall {sp.wall:.3f}",
                  file=sys.stderr)
            res.correct = False
        if name not in ANALYST:
            continue
        tot["in_job_s"] += in_job
        tot["driver_gap_s"] += gap
        if st is not None:
            for k in ("jobs", "stages", "tasks", "executor_cpu_s", "shuffle_bytes", "spill_bytes", "gc_s"):
                tot[k] += getattr(st, k)
        jobs_per_query.setdefault(name, []).append(st.jobs if st else 0)
    if jobs_per_query:
        for k, v in tot.items():
            res.layers[f"queries.{k}"] = v
        for n, js in jobs_per_query.items():
            res.layers[f"q.{n}.jobs"] = median(js)
    res.layers["trace.gap_check_max_err"] = worst
    res.layers["trace.checked_calls"] = len(res.call_spans)


# ---------------------------------------------------------------------------
# Daily ingest
# ---------------------------------------------------------------------------


def _files(d: str, pattern: str = "**/*.parquet") -> set[str]:
    return set(glob.glob(os.path.join(d, pattern), recursive=True))


def _dir_bytes(d: str) -> int:
    return sum(os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(d) for f in fs)


class Ingest:
    """Zones, checkpoints and the per-hop progress of one ingest chain."""

    HOPS = ("hop1", "hop2", "hop3", "hop4")
    STEPS = HOPS + ("crop",)

    def __init__(self, spark, work: str, tracer: Tracer, seed: int):
        from perfbench.gen import PagePool

        self.spark, self.tracer = spark, tracer
        self.z = {k: os.path.join(work, k) for k in (
            "raw", "pages", "json", "clean", "index", "thumbs", "ckpt", "live")}
        os.makedirs(self.z["raw"], exist_ok=True)
        t = time.perf_counter()
        self.pool = PagePool(seed)
        self.gen_s = time.perf_counter() - t
        self.hop = {h: {"s": 0.0, "input_rows": 0, "batches": 0, "trigger_ms": 0,
                        "planning_ms": 0, "wal_commit_ms": 0} for h in self.HOPS}
        self.crop_s = 0.0
        self.compact_s: list[float] = []
        self.vacuum_s: list[float] = []
        self.reclaimed = 0
        self.index_ratio: list[float] = []
        self.pages = 0
        self.day_pages: list[bytes] = []
        self.day_pdf = b""
        self.call_spans: list[tuple[str, str, object]] = []

    def _stream(self, name: str, rnd: str, start) -> None:
        t = time.perf_counter()
        with self.tracer.span(f"streaming.{name}", rnd) as span:
            q = start()
            q.awaitTermination()
        if rnd == "warm":
            return
        if span is not None:  # a stream runs its jobs in the job group of its run id
            self.call_spans.append((str(q.runId), name, span))
        h = self.hop[name]
        h["s"] += time.perf_counter() - t
        for p in q.recentProgress:
            h["batches"] += 1
            h["input_rows"] += p.numInputRows
            h["trigger_ms"] += p.durationMs.get("triggerExecution", 0)
            h["planning_ms"] += p.durationMs.get("queryPlanning", 0)
            h["wal_commit_ms"] += p.durationMs.get("walCommit", 0)

    def drop(self, day: int) -> None:
        from perfbench.gen import catalogue_pages
        from specialsid_spark.operators.pdf import build_image_pdf

        self.day_pages = catalogue_pages(self.pool, day, PAGES_PER_DAY, REPEAT_SHARE)
        self.day_pdf = build_image_pdf(self.day_pages)
        with open(os.path.join(self.z["raw"], f"day_{day:04d}.pdf"), "wb") as fh:
            fh.write(self.day_pdf)
        self.pages += len(self.day_pages)

    def day(self, rnd: str) -> list[float]:
        """hop1 -> hop2 -> hop3 -> hop4 -> crop; returns each step's wall."""
        from pyspark.sql import functions as F

        from specialsid_spark.operators.multimodal import crop_regions
        from specialsid_spark.streaming import pipeline as P

        z, ck, sp = self.z, self.z["ckpt"], self.spark
        steps = []
        pages_before, clean_before = _files(z["pages"], "*.parquet"), _files(z["clean"])
        for name, start in (
            ("hop1", lambda: P.hop1_pdf_to_pages(sp, z["raw"], z["pages"], f"{ck}/hop1")),
            ("hop2", lambda: P.hop2_pages_to_products_json(sp, z["pages"], z["json"], f"{ck}/hop2")),
            ("hop3", lambda: P.hop3_json_to_clean(sp, z["json"], z["clean"], f"{ck}/hop3")),
            ("hop4", lambda: P.hop4_incremental_lsh_gate(
                sp, z["clean"], z["index"], f"{ck}/hop4", id_expr=GATE_ID, text_expr=GATE_TEXT)),
        ):
            t = time.perf_counter()
            self._stream(name, rnd, start)
            steps.append(time.perf_counter() - t)
        t = time.perf_counter()
        sp.sparkContext.setJobGroup(f"crop#{rnd}", "crop")
        with self.tracer.span("multimodal.crop", rnd) as span:
            new_pages = sorted(_files(z["pages"], "*.parquet") - pages_before)
            new_clean = sorted(_files(z["clean"]) - clean_before)
            images = sp.read.parquet(*new_pages).select(
                F.concat(F.lit("page_"), F.col("page_no").cast("string"), F.lit(".json")).alias("page_key"),
                F.col("page_bytes").alias("image_bytes"),
            )
            products = sp.read.parquet(*new_clean).select(
                F.col("source_file").alias("page_key"), "product_name", "bounding_box"
            )
            crop_regions(products, images, out_format="jpeg").write.mode("append").parquet(z["thumbs"])
        steps.append(time.perf_counter() - t)
        if rnd != "warm":
            self.crop_s += steps[-1]
            if span is not None:
                self.call_spans.append((f"crop#{rnd}", "crop", span))
        return steps

    def index_bytes_per_live_byte(self) -> float:
        """Index bytes on disk / bytes of the same live rows written once."""
        from specialsid_spark.operators.snapshot import snapshot_read

        live = self.z["live"]
        snapshot_read(self.spark, self.z["index"]).distinct().coalesce(1).write.mode(
            "overwrite"
        ).parquet(live)
        return _dir_bytes(self.z["index"]) / _dir_bytes(live)

    def maintain(self, rnd: str) -> float:
        from specialsid_spark.operators.snapshot import snapshot_compact, snapshot_vacuum

        warm = rnd == "warm"
        self.spark.sparkContext.setJobGroup(f"maintain#{rnd}", "maintain")
        if self.tracer.enabled and not warm:
            with self.tracer.span("ingest.index_sample", rnd):
                self.index_ratio.append(self.index_bytes_per_live_byte())
        before = _dir_bytes(self.z["index"])
        t = time.perf_counter()
        with self.tracer.span("snapshot.compact", rnd):
            snapshot_compact(self.spark, self.z["index"], target_files=None, dedup=True)
        t2 = time.perf_counter()
        with self.tracer.span("snapshot.vacuum", rnd):
            snapshot_vacuum(self.z["index"], keep_last=1)
        t3 = time.perf_counter()
        if not warm:
            self.compact_s.append(t2 - t)
            self.vacuum_s.append(t3 - t2)
            self.reclaimed += max(0, before - _dir_bytes(self.z["index"]))
        return t3 - t

    def check(self) -> tuple[list[str], dict[str, float]]:
        """The admitted set equals the batch greedy keep-lowest referee over
        the whole clean zone, and every product whose box lies on the page
        got a JPEG thumbnail."""
        from pyspark.sql import functions as F

        from perfbench.gen import PAGE_H, PAGE_W
        from specialsid_spark.operators.jpeg import decode_jpeg
        from specialsid_spark.operators.snapshot import snapshot_read, snapshot_versions
        from specialsid_spark.queries.dedup import lsh_band_keys

        sp, z, bad, out = self.spark, self.z, [], {}
        t = time.perf_counter()
        with self.tracer.span("snapshot.read", "check"):
            admitted = {
                r.doc_id
                for r in snapshot_read(sp, z["index"]).filter(F.col("kind") == "doc").collect()
            }
        out["snapshot.read_s"] = time.perf_counter() - t
        clean = sp.read.parquet(z["clean"])
        docs = clean.selectExpr(f"{GATE_ID} AS doc_id", f"{GATE_TEXT} AS text").distinct()
        bands = lsh_band_keys(docs)
        dup = (
            bands.alias("a")
            .join(
                bands.alias("b"),
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.bkey") == F.col("b.bkey"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(F.col("b.doc_id").alias("doc_id"))
            .distinct()
        )
        referee = {r.doc_id for r in docs.select("doc_id").join(dup, "doc_id", "left_anti").collect()}
        if admitted != referee:
            bad.append(f"admitted {len(admitted)} docs, referee keeps {len(referee)}")
        boxes = clean.filter(
            (F.size("bounding_box") == 4)
            & (F.col("bounding_box")[0] < PAGE_H)
            & (F.col("bounding_box")[1] < PAGE_W)
        ).count()
        thumbs = sum(
            decode_jpeg(bytes(r.crop_bytes)) is not None
            for r in sp.read.parquet(z["thumbs"]).select("crop_bytes").collect()
        )
        if thumbs != boxes:
            bad.append(f"{thumbs} thumbnails for {boxes} products with a box on the page")
        out["multimodal.thumbnails"] = thumbs
        out["extraction.products"] = clean.count()
        out["snapshot.versions"] = len(snapshot_versions(z["index"]))
        out["snapshot.data_files"] = len(_files(z["index"]))
        out["snapshot.table_bytes"] = _dir_bytes(z["index"])
        return bad, out


def run_ingest(spark, work: str, seed: int, seconds: float, tracer: Tracer, t_proc: float, t_session: float):
    """``INGEST_WARM_DAYS`` untimed days (set-up), then whole days until
    ``seconds`` have elapsed and ``MIN_ROUNDS`` days ran, with compact +
    vacuum after every ``MAINTAIN_EVERY`` days."""
    from specialsid_spark.operators.jpeg import decode_jpeg
    from specialsid_spark.operators.pdf import extract_page_images

    ing = Ingest(spark, work, tracer, seed)
    t_proc += ing.gen_s  # generation is reported apart from set-up
    rounds, maint = [], []
    calls: dict[str, list[float]] = {s: [] for s in Ingest.STEPS}
    decode_rates, extract_s = [], []

    def one_day(d: int, rnd: str) -> tuple[float, list[float]]:
        ing.drop(d)
        t = time.perf_counter()
        with tracer.span("round", rnd):
            steps = ing.day(rnd)
        wall = time.perf_counter() - t
        if (d + 1) % MAINTAIN_EVERY == 0:
            m = ing.maintain(rnd)
            if rnd != "warm":
                maint.append(m)
        return wall, steps

    t_w = time.perf_counter()
    with tracer.span("session.warmup", "warm"):
        for d in range(INGEST_WARM_DAYS):
            one_day(d, "warm")
    warm_s = time.perf_counter() - t_w
    setup_s = time.perf_counter() - t_proc
    failed = attempted = 0
    t_end = time.perf_counter() + seconds
    d = INGEST_WARM_DAYS
    while len(rounds) < MIN_ROUNDS or time.perf_counter() < t_end:
        attempted += 1
        try:
            wall, steps = one_day(d, f"daily_ingest#{d}")
        except Exception:  # noqa: BLE001 - a failed day is counted, not fatal
            print(f"day {d} failed:", file=sys.stderr)
            traceback.print_exc()
            failed += 1
            break  # the zones are in an unknown state; stop the loop
        rounds.append(wall)
        for s, x in zip(Ingest.STEPS, steps):
            calls[s].append(x)
        if tracer.enabled:  # direct single-core codec timings, outside the day
            t = time.perf_counter()
            with tracer.span("jpeg.decode", "codec"):
                for page in ing.day_pages:
                    decode_jpeg(page)
            decode_rates.append(sum(map(len, ing.day_pages)) / 1e6 / (time.perf_counter() - t))
            t = time.perf_counter()
            with tracer.span("pdf.extract_pages", "codec"):
                extract_page_images(ing.day_pdf)
            extract_s.append(time.perf_counter() - t)
        d += 1
    spark.sparkContext.setJobGroup("check", "check")
    with tracer.span("check", "check"):
        problems, checked = ing.check()
    for p in problems:
        print(f"wrong output: {p}", file=sys.stderr)
    failed += len(problems)
    res = Result(setup_s, rounds, calls, attempted, failed, failed == 0)
    trig = sum(h["trigger_ms"] for h in ing.hop.values()) / 1000.0
    res.layers = {
        "session.start_s": t_session,
        "session.warmup_s": warm_s,
        "gen.s": ing.gen_s,
        "driver.peak_rss_mb": peak_rss_mb(spark),
        "extraction.pages": ing.pages,
        "streaming.overhead_s": sum(h["s"] for h in ing.hop.values()) - trig,
        "snapshot.compact_s": median(ing.compact_s),
        "snapshot.vacuum_s": median(ing.vacuum_s),
        "snapshot.reclaimed_bytes": ing.reclaimed,
        "multimodal.crop_s": ing.crop_s,
        "jpeg.decode_mb_s": median(decode_rates),
        "pdf.extract_pages_s": median(extract_s),
        "ingest.maintenance_s": median(maint),
        "ingest.index_bytes_per_live_byte": median(ing.index_ratio),
        "ingest.rows_per_s": ing.hop["hop3"]["input_rows"] / sum(rounds),
        **checked,
    }
    for h, vals in ing.hop.items():
        for k, v in vals.items():
            res.layers[f"streaming.{h}.{k}"] = v
    res.call_spans = ing.call_spans
    return res
