"""Streaming pipeline tests (SURVEY.md §5.4): chained hops with
availableNow, exactly-once on re-run, incremental processing of new
files, and watermarked event-time aggregation."""

from __future__ import annotations

import json
import time

import pytest

from pyspark.sql import functions as F

from specialsid_spark.operators.extraction import ExtractionConfig
from specialsid_spark.operators.snapshot import snapshot_read
from specialsid_spark.streaming.pipeline import (
    run_full_pipeline,
    streaming_dedup_within_watermark,
    streaming_tumbling_counts,
)


def _write_pdf(path, payload: bytes):
    path.write_bytes(payload)


def test_full_pipeline_and_exactly_once(spark, tmp_path):
    raw = tmp_path / "raw"
    raw.mkdir()
    _write_pdf(raw / "flyer_a.pdf", b"A" * 250)
    _write_pdf(raw / "flyer_b.pdf", b"B" * 120)

    work = tmp_path / "work"
    clean_dir = run_full_pipeline(
        spark, str(raw), str(work), ExtractionConfig(requests_per_second=0)
    )
    out1 = spark.read.parquet(clean_dir)
    n1 = out1.count()
    assert n1 > 0
    # cleaner semantics survived the stream: partition cols derived
    assert set(out1.select("province").distinct().toPandas()["province"]) == {"Gauteng"}
    assert out1.filter(F.col("group_id").isNull()).count() == 0  # UNKNOWN fill

    # T5 exactly-once: re-running the whole chain must add nothing
    clean_dir2 = run_full_pipeline(
        spark, str(raw), str(work), ExtractionConfig(requests_per_second=0)
    )
    assert spark.read.parquet(clean_dir2).count() == n1

    # T1 incremental: a new raw file -> only its rows appended
    _write_pdf(raw / "flyer_c.pdf", b"C" * 90)
    run_full_pipeline(spark, str(raw), str(work), ExtractionConfig(requests_per_second=0))
    n3 = spark.read.parquet(clean_dir).count()
    assert n3 > n1


def test_extraction_fallback_chain_in_stream(spark, tmp_path):
    """T7: first two models down -> third serves; pipeline still lands."""
    raw = tmp_path / "raw"
    raw.mkdir()
    _write_pdf(raw / "x.pdf", b"Z" * 50)
    cfg = ExtractionConfig(
        models=("m1", "m2", "m3"),
        fail_models=frozenset({"m1", "m2"}),
        requests_per_second=0,
    )
    clean_dir = run_full_pipeline(spark, str(raw), str(tmp_path / "work"), cfg)
    assert spark.read.parquet(clean_dir).count() > 0


def _write_events(path, rows):
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def test_streaming_tumbling_counts(spark, tmp_path):
    ev_dir = tmp_path / "events"
    ev_dir.mkdir()
    _write_events(
        ev_dir / "batch1.json",
        [
            {"event_id": 1, "ts": "2024-01-01 10:05:00", "user_id": 1, "event_type": "click", "value": 1.0},
            {"event_id": 2, "ts": "2024-01-01 10:45:00", "user_id": 2, "event_type": "click", "value": 1.0},
            {"event_id": 3, "ts": "2024-01-01 11:05:00", "user_id": 1, "event_type": "view", "value": 1.0},
        ],
    )
    agg = streaming_tumbling_counts(spark, str(ev_dir))
    q = (
        agg.writeStream.format("memory")
        .queryName("tumbling_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    rows = {
        (str(r["win_start"]), r["event_type"]): r["n_events"]
        for r in spark.sql("SELECT * FROM tumbling_test").collect()
    }
    assert rows[("2024-01-01 10:00:00", "click")] == 2
    assert rows[("2024-01-01 11:00:00", "view")] == 1


def test_streaming_dedup_within_watermark(spark, tmp_path):
    ev_dir = tmp_path / "events_dd"
    ev_dir.mkdir()
    _write_events(
        ev_dir / "b.json",
        [
            {"event_id": 1, "ts": "2024-01-01 10:00:00", "user_id": 1, "event_type": "click", "value": 1.0},
            {"event_id": 2, "ts": "2024-01-01 10:10:00", "user_id": 1, "event_type": "click", "value": 2.0},
            {"event_id": 3, "ts": "2024-01-01 10:20:00", "user_id": 2, "event_type": "view", "value": 3.0},
        ],
    )
    dd = streaming_dedup_within_watermark(spark, str(ev_dir))
    q = (
        dd.writeStream.format("memory")
        .queryName("dedup_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    time.sleep(0.5)
    out = spark.sql("SELECT user_id, event_type FROM dedup_test").collect()
    assert len(out) == 2  # (1, click) deduped, (2, view) kept


def test_streaming_content_dedup(spark, tmp_path):
    from specialsid_spark.streaming.pipeline import streaming_content_dedup

    doc_dir = tmp_path / "docs_dd"
    doc_dir.mkdir()
    _write_events(
        doc_dir / "b1.json",
        [
            {"doc_id": 1, "ts": "2024-01-01 10:00:00", "text": "alpha beta"},
            {"doc_id": 2, "ts": "2024-01-01 10:05:00", "text": "gamma delta"},
            {"doc_id": 3, "ts": "2024-01-01 10:10:00", "text": "alpha beta"},  # dup of 1
        ],
    )
    _write_events(
        doc_dir / "b2.json",
        [
            {"doc_id": 4, "ts": "2024-01-01 10:20:00", "text": "gamma delta"},  # dup of 2
            {"doc_id": 5, "ts": "2024-01-01 10:30:00", "text": "epsilon"},
        ],
    )
    dd = streaming_content_dedup(spark, str(doc_dir))
    q = (
        dd.writeStream.format("memory")
        .queryName("content_dedup_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    time.sleep(0.5)
    out = spark.sql("SELECT text FROM content_dedup_test").collect()
    texts = sorted(r["text"] for r in out)
    assert texts == ["alpha beta", "epsilon", "gamma delta"]  # one keeper per content


def test_streaming_session_counts(spark, tmp_path):
    ev_dir = tmp_path / "events_sess"
    ev_dir.mkdir()
    _write_events(
        ev_dir / "b.json",
        [
            # user 1: two events 10 min apart (one session), then a gap
            # > 30 min (second session)
            {"event_id": 1, "ts": "2024-01-01 10:00:00", "user_id": 1, "event_type": "click", "value": 1.0},
            {"event_id": 2, "ts": "2024-01-01 10:10:00", "user_id": 1, "event_type": "view", "value": 1.0},
            {"event_id": 3, "ts": "2024-01-01 12:00:00", "user_id": 1, "event_type": "click", "value": 1.0},
            {"event_id": 4, "ts": "2024-01-01 10:05:00", "user_id": 2, "event_type": "click", "value": 1.0},
        ],
    )
    from specialsid_spark.streaming.pipeline import streaming_session_counts

    agg = streaming_session_counts(spark, str(ev_dir))
    q = (
        agg.writeStream.format("memory")
        .queryName("session_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    rows = sorted(
        (r["user_id"], str(r["session_start"]), r["n_events"])
        for r in spark.sql("SELECT * FROM session_test").collect()
    )
    assert rows == [
        (1, "2024-01-01 10:00:00", 2),
        (1, "2024-01-01 12:00:00", 1),
        (2, "2024-01-01 10:05:00", 1),
    ]


def test_streaming_stateful_running_max(spark, tmp_path):
    ev_dir = tmp_path / "events_state"
    ev_dir.mkdir()
    _write_events(
        ev_dir / "b.json",
        [
            {"event_id": 1, "ts": "2024-01-01 10:00:00", "user_id": 1, "event_type": "click", "value": 5.0},
            {"event_id": 2, "ts": "2024-01-01 10:10:00", "user_id": 1, "event_type": "view", "value": 9.0},
            {"event_id": 3, "ts": "2024-01-01 10:20:00", "user_id": 2, "event_type": "view", "value": 3.0},
        ],
    )
    from specialsid_spark.streaming.pipeline import streaming_stateful_running_max

    st = streaming_stateful_running_max(spark, str(ev_dir))
    q = (
        st.writeStream.format("memory")
        .queryName("stateful_test")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    rows = {
        r["user_id"]: (r["n_events"], r["max_value"])
        for r in spark.sql("SELECT * FROM stateful_test").collect()
    }
    assert rows[1] == (2, 9.0)
    assert rows[2] == (1, 3.0)


def test_hop3_survives_malformed_json(spark, tmp_path):
    """PERMISSIVE parse: a corrupt line must not kill the stream; valid
    rows flow through, the corrupt one becomes an all-null row that the
    cleaner's validity handling retains with defaults (the reference's
    cleaner likewise never aborts a batch, pnp-cleanerLambda.py:61-74)."""
    from specialsid_spark.streaming.pipeline import hop3_json_to_clean

    json_dir = tmp_path / "pro_json"
    json_dir.mkdir()
    good = {
        "product_name": "Rice",
        "brand": "KOO",
        "current_price": 9.99,
        "was_price": None,
        "weight_volume": "2kg",
        "unit": "kg",
        "deal_type": None,
        "multi_buy_quantity": 1,
        "bounding_box": [1, 2, 3, 4],
        "group_id": None,
        "source_path": "data/pro/json/PnP/Gauteng/1_March_-_3_March_2026/page_1.json",
    }
    with open(json_dir / "page_1.json", "w") as f:
        f.write(json.dumps(good) + "\n")
        f.write('{"product_name": "Broken", "current_price": NOT_JSON}\n')
        f.write(json.dumps({**good, "product_name": "Beans"}) + "\n")
    clean_dir = str(tmp_path / "clean")
    q = hop3_json_to_clean(spark, str(json_dir), clean_dir, str(tmp_path / "ckpt"))
    q.awaitTermination(60)
    out = spark.read.parquet(clean_dir)
    names = {r["product_name"] for r in out.select("product_name").collect()}
    assert {"Rice", "Beans"} <= names
    assert out.count() == 3  # corrupt line -> null row, not a crash


def test_streaming_sliding_counts(spark, tmp_path):
    ev_dir = tmp_path / "events_slide"
    ev_dir.mkdir()
    _write_events(
        ev_dir / "b.json",
        [
            {"event_id": 1, "ts": "2024-01-01 10:10:00", "user_id": 1, "event_type": "click", "value": 1.0},
            {"event_id": 2, "ts": "2024-01-01 10:40:00", "user_id": 2, "event_type": "view", "value": 1.0},
        ],
    )
    from specialsid_spark.streaming.pipeline import streaming_sliding_counts

    agg = streaming_sliding_counts(spark, str(ev_dir))
    q = (
        agg.writeStream.format("memory")
        .queryName("sliding_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    rows = {
        str(r["win_start"]): r["n_events"]
        for r in spark.sql("SELECT * FROM sliding_test").collect()
    }
    # event 1 (10:10) in [09:30,10:30) and [10:00,11:00);
    # event 2 (10:40) in [10:00,11:00) and [10:30,11:30)
    assert rows["2024-01-01 09:30:00"] == 1
    assert rows["2024-01-01 10:00:00"] == 2
    assert rows["2024-01-01 10:30:00"] == 1


def test_streaming_stream_stream_join_inner(spark, tmp_path):
    from specialsid_spark.streaming.pipeline import streaming_click_attribution_join

    imp_dir, clk_dir = tmp_path / "imp", tmp_path / "clk"
    imp_dir.mkdir(), clk_dir.mkdir()
    _write_events(
        imp_dir / "b1.json",
        [
            {"event_id": 10, "ts": "2024-01-01 10:00:00", "user_id": 1, "event_type": "imp", "value": 0.0},
            {"event_id": 11, "ts": "2024-01-01 10:00:00", "user_id": 2, "event_type": "imp", "value": 0.0},
        ],
    )
    _write_events(
        clk_dir / "b1.json",
        [
            # in-window click (+10 min) for user 1
            {"event_id": 20, "ts": "2024-01-01 10:10:00", "user_id": 1, "event_type": "click", "value": 1.0},
            # out-of-window click (+2 h) for user 2 -> must NOT join
            {"event_id": 21, "ts": "2024-01-01 12:00:00", "user_id": 2, "event_type": "click", "value": 1.0},
        ],
    )
    joined = streaming_click_attribution_join(spark, str(imp_dir), str(clk_dir))
    q = (
        joined.writeStream.format("memory")
        .queryName("ss_join_inner")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT imp_id, click_id FROM ss_join_inner").collect()
    assert {(r.imp_id, r.click_id) for r in rows} == {(10, 20)}


def test_streaming_stream_stream_join_left_outer_emits_expired(spark, tmp_path):
    """Outer-side rows emit only after the watermark passes their join
    horizon — driven by a second availableNow run on one checkpoint."""
    from specialsid_spark.streaming.pipeline import streaming_click_attribution_join

    imp_dir, clk_dir = tmp_path / "imp", tmp_path / "clk"
    imp_dir.mkdir(), clk_dir.mkdir()
    _write_events(
        imp_dir / "b1.json",
        [{"event_id": 10, "ts": "2024-01-01 10:00:00", "user_id": 1, "event_type": "imp", "value": 0.0}],
    )
    _write_events(
        clk_dir / "b1.json",
        [{"event_id": 20, "ts": "2024-01-01 10:05:00", "user_id": 9, "event_type": "click", "value": 1.0}],
    )

    out_dir = tmp_path / "out"

    def run_once():
        # memory sink cannot resume a checkpoint; a real file sink can
        joined = streaming_click_attribution_join(
            spark, str(imp_dir), str(clk_dir), how="left_outer"
        )
        q = (
            joined.writeStream.format("parquet")
            .option("path", str(out_dir))
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    # late traffic pushes both watermarks far past imp 10's horizon
    _write_events(
        imp_dir / "b2.json",
        [{"event_id": 12, "ts": "2024-01-01 15:00:00", "user_id": 3, "event_type": "imp", "value": 0.0}],
    )
    _write_events(
        clk_dir / "b2.json",
        [{"event_id": 22, "ts": "2024-01-01 15:00:00", "user_id": 8, "event_type": "click", "value": 1.0}],
    )
    run_once()
    rows = spark.read.parquet(str(out_dir)).select("imp_id", "click_id").collect()
    pairs = {(r.imp_id, r.click_id) for r in rows}
    assert (10, None) in pairs, f"expired impression not emitted: {pairs}"


def test_streaming_static_enrich_join(spark, tmp_path):
    """J4/T8: stream-static join drops dim-less users, aggregates per
    segment, and keeps no join state (static side re-evaluated per
    batch)."""
    from specialsid_spark.streaming.pipeline import streaming_static_enrich

    ev_dir = tmp_path / "events"
    ev_dir.mkdir()
    _write_events(
        ev_dir / "b1.json",
        [
            {"event_id": 1, "ts": "2024-01-01 10:05:00", "user_id": 1, "event_type": "click", "value": 2.0},
            {"event_id": 2, "ts": "2024-01-01 10:15:00", "user_id": 2, "event_type": "click", "value": 3.0},
            {"event_id": 3, "ts": "2024-01-01 10:25:00", "user_id": 1, "event_type": "view", "value": 5.0},
            # user 99 has no dim row -> inner join drops it
            {"event_id": 4, "ts": "2024-01-01 10:35:00", "user_id": 99, "event_type": "click", "value": 7.0},
        ],
    )
    dim = spark.createDataFrame(
        [(1, "gold"), (2, "silver")], "user_id long, segment string"
    )
    agg = streaming_static_enrich(spark, str(ev_dir), dim)
    q = (
        agg.writeStream.format("memory")
        .queryName("static_enrich_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    rows = {
        (str(r["win_start"]), r["segment"]): (r["n_events"], r["sum_value"])
        for r in spark.sql("SELECT * FROM static_enrich_test").collect()
    }
    assert rows[("2024-01-01 10:00:00", "gold")] == (2, 7.0)
    assert rows[("2024-01-01 10:00:00", "silver")] == (1, 3.0)
    assert len(rows) == 2  # user 99 contributed nothing


def test_hop3_batch_stream_parity_bulk(spark, tmp_path):
    """Batch/stream parity for hop3 on a BULK corpus: the same product
    JSON (derived deterministically from the sf0.01 `part` table, 2k
    rows exercising every cleaner arm) must produce an identical result
    multiset through the availableNow streaming query and the plain
    batch dataflow, and re-running the stream must add nothing.  The
    16x-volume twin of this check is tools/streaming_scale_bench.py
    (scaling row in BASELINE.md §3)."""
    import os
    import sys

    sys.path.insert(
        0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
    )
    from streaming_scale_bench import checksum, product_json_from_part

    from specialsid_spark.operators.clean import clean_products
    from specialsid_spark.operators.extraction import PRODUCT_JSON_SCHEMA
    from specialsid_spark.streaming.pipeline import hop3_json_to_clean

    json_dir = str(tmp_path / "pro_json")
    clean_dir = str(tmp_path / "clean")
    ckpt = str(tmp_path / "ckpt")

    src = product_json_from_part(spark, "/root/testdata/sf0.01/part.parquet")
    src.repartition(8).write.mode("overwrite").json(json_dir)

    batch = clean_products(spark.read.schema(PRODUCT_JSON_SCHEMA).json(json_dir))
    b_n, b_sum = checksum(batch)
    assert b_n == 2000

    hop3_json_to_clean(spark, json_dir, clean_dir, ckpt).awaitTermination()
    streamed = spark.read.schema(batch.schema).parquet(clean_dir)
    assert checksum(streamed) == (b_n, b_sum)

    # exactly-once: the same checkpoint drains nothing new
    hop3_json_to_clean(spark, json_dir, clean_dir, ckpt).awaitTermination()
    assert checksum(spark.read.schema(batch.schema).parquet(clean_dir)) == (b_n, b_sum)


def test_streaming_corpus_ingest_gate_and_dedup(spark, tmp_path):
    """Curation at the ingest door: quality gate, language filter, PII
    scrub, and content dedup applied IN the stream — and the stateless
    legs produce exactly the batch pipeline's decisions."""
    docs_dir = tmp_path / "docs"
    docs_dir.mkdir()
    good = "the quick brown fox jumps over the lazy dog and more of it"
    spanish = "el perro la casa de madrid el la de el la de uno dos tres"
    short = "too short"
    pii = good + " contact user7@example.com from 10.0.7.1"
    rows = [
        {"doc_id": 1, "ts": "2024-01-01 10:00:00", "text": good},
        {"doc_id": 2, "ts": "2024-01-01 10:01:00", "text": spanish},   # language-filtered
        {"doc_id": 3, "ts": "2024-01-01 10:02:00", "text": short},     # quality-filtered
        {"doc_id": 4, "ts": "2024-01-01 10:03:00", "text": pii},       # scrubbed
        {"doc_id": 5, "ts": "2024-01-01 10:04:00", "text": good},      # content dup of 1
    ]
    import json as _json

    (docs_dir / "batch1.json").write_text("\n".join(_json.dumps(r) for r in rows))

    from specialsid_spark.streaming.pipeline import streaming_corpus_ingest

    q = (
        streaming_corpus_ingest(spark, str(docs_dir))
        .writeStream.format("memory")
        .queryName("corpus_ingest_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    out = {r["doc_id"]: r["text"] for r in spark.sql("SELECT * FROM corpus_ingest_test").collect()}
    assert set(out) == {1, 4}  # 2 lang-filtered, 3 quality-filtered, 5 deduped
    assert "<EMAIL>" in out[4] and "<IP>" in out[4]
    assert "user7@example.com" not in out[4] and "10.0.7.1" not in out[4]
    assert out[1] == good  # clean docs pass through unmodified


def test_streaming_incremental_rollup_foreachbatch(spark, tmp_path):
    """foreachBatch-maintained summary: equals the batch aggregate,
    grows incrementally with new files, re-run merges nothing."""
    import os

    from specialsid_spark.operators.snapshot import snapshot_versions
    from specialsid_spark.streaming.pipeline import streaming_incremental_rollup

    ev_dir = tmp_path / "events_roll"
    ev_dir.mkdir()
    summary = str(tmp_path / "summary")
    ckpt = str(tmp_path / "ckpt")
    _write_events(
        ev_dir / "b1.json",
        [
            {"event_id": 1, "ts": "2024-01-01 10:00:00", "user_id": 1, "event_type": "click", "value": 1.0},
            {"event_id": 2, "ts": "2024-01-01 10:01:00", "user_id": 2, "event_type": "click", "value": 2.0},
            {"event_id": 3, "ts": "2024-01-01 10:02:00", "user_id": 1, "event_type": "view", "value": 5.0},
        ],
    )
    streaming_incremental_rollup(spark, str(ev_dir), summary, ckpt).awaitTermination()
    out = {r["event_type"]: (r["n_events"], r["sum_value"]) for r in snapshot_read(spark, summary).collect()}
    assert out == {"click": (2, 3.0), "view": (1, 5.0)}

    # re-run: checkpoint replays nothing, summary unchanged
    streaming_incremental_rollup(spark, str(ev_dir), summary, ckpt).awaitTermination()
    out2 = {r["event_type"]: (r["n_events"], r["sum_value"]) for r in snapshot_read(spark, summary).collect()}
    assert out2 == out

    # incremental: a new file merges only its rows
    _write_events(
        ev_dir / "b2.json",
        [
            {"event_id": 4, "ts": "2024-01-01 10:10:00", "user_id": 3, "event_type": "click", "value": 10.0},
        ],
    )
    streaming_incremental_rollup(spark, str(ev_dir), summary, ckpt).awaitTermination()
    out3 = {r["event_type"]: (r["n_events"], r["sum_value"]) for r in snapshot_read(spark, summary).collect()}
    assert out3 == {"click": (3, 13.0), "view": (1, 5.0)}

    # two generations on disk: the previous one still reads by version
    versions = snapshot_versions(summary)
    assert len(versions) == 2
    prev = {r["event_type"]: (r["n_events"], r["sum_value"]) for r in snapshot_read(spark, summary, version=versions[0]).collect()}
    assert prev == out
    assert not os.path.exists(summary + "_old")
    assert not os.path.exists(summary + "_next")


def test_streaming_incremental_rollup_replay_idempotent(spark, tmp_path):
    """ADVICE r3: foreachBatch is at-least-once — a crash between the
    merge and the checkpoint commit replays batch 0 with identical data
    under the SAME checkpoint, and without the batch id in the
    summary's manifest tag the replay would double every count.
    Simulated by deleting the checkpoint's commit record for batch 0
    while keeping its metadata (so the checkpoint identity is unchanged
    — the r4-ADVICE identity check must NOT fire here)."""
    import os

    from specialsid_spark.streaming.pipeline import streaming_incremental_rollup

    ev_dir = tmp_path / "events_replay"
    ev_dir.mkdir()
    summary = str(tmp_path / "summary")
    ckpt = str(tmp_path / "ckpt")
    _write_events(
        ev_dir / "b1.json",
        [
            {"event_id": 1, "ts": "2024-01-01 10:00:00", "user_id": 1, "event_type": "click", "value": 1.0},
            {"event_id": 2, "ts": "2024-01-01 10:01:00", "user_id": 2, "event_type": "view", "value": 2.0},
        ],
    )
    streaming_incremental_rollup(spark, str(ev_dir), summary, ckpt).awaitTermination()
    before = {r["event_type"]: (r["n_events"], r["sum_value"]) for r in snapshot_read(spark, summary).collect()}
    assert before == {"click": (1, 1.0), "view": (1, 2.0)}

    # simulate crash-before-checkpoint-commit: drop the batch-0 commit
    # marker (merge already ran, commit never recorded) — on restart
    # Spark re-delivers batch 0 verbatim under the same checkpoint id
    os.remove(os.path.join(ckpt, "commits", "0"))
    crc = os.path.join(ckpt, "commits", ".0.crc")
    if os.path.exists(crc):  # local ChecksumFs sidecar
        os.remove(crc)
    streaming_incremental_rollup(spark, str(ev_dir), summary, ckpt).awaitTermination()
    after = {r["event_type"]: (r["n_events"], r["sum_value"]) for r in snapshot_read(spark, summary).collect()}
    assert after == before, "replayed micro-batch was merged twice"


def test_streaming_incremental_rollup_fresh_checkpoint_fails_loudly(spark, tmp_path):
    """ADVICE r4: a LOST/recreated checkpoint over a surviving summary
    restarts batch ids at 0, and the bare batch_id guard would silently
    skip the batch — data loss if new events arrived before the
    restart.  The checkpoint id in the summary's manifest tag turns
    this into a loud error instead."""
    import shutil

    import pytest
    from pyspark.sql.streaming import StreamingQueryException

    from specialsid_spark.streaming.pipeline import streaming_incremental_rollup

    ev_dir = tmp_path / "events_fresh"
    ev_dir.mkdir()
    summary = str(tmp_path / "summary")
    ckpt = str(tmp_path / "ckpt")
    _write_events(
        ev_dir / "b1.json",
        [{"event_id": 1, "ts": "2024-01-01 10:00:00", "user_id": 1, "event_type": "click", "value": 1.0}],
    )
    streaming_incremental_rollup(spark, str(ev_dir), summary, ckpt).awaitTermination()

    # checkpoint lost entirely; NEW events arrive before the restart —
    # the exact silent-loss scenario: fresh checkpoint restarts at
    # batch 0 and the old guard would mark the new events committed
    shutil.rmtree(ckpt)
    _write_events(
        ev_dir / "b2.json",
        [{"event_id": 2, "ts": "2024-01-01 10:05:00", "user_id": 2, "event_type": "view", "value": 2.0}],
    )
    with pytest.raises(StreamingQueryException, match="checkpoint"):
        streaming_incremental_rollup(
            spark, str(ev_dir), summary, str(tmp_path / "ckpt2")
        ).awaitTermination()


def test_streaming_incremental_rollup_lost_summary_fails_loudly(spark, tmp_path):
    """A summary deleted while its checkpoint survives must not be
    rebuilt from the next batch alone — it would silently hold only the
    new rows.  Past batch 0, a summary with no committed version fails
    the query."""
    import shutil

    from pyspark.sql.streaming import StreamingQueryException

    from specialsid_spark.streaming.pipeline import streaming_incremental_rollup

    ev_dir = tmp_path / "events_lost"
    ev_dir.mkdir()
    summary = str(tmp_path / "summary")
    ckpt = str(tmp_path / "ckpt")
    _write_events(
        ev_dir / "b1.json",
        [{"event_id": 1, "ts": "2024-01-01 10:00:00", "user_id": 1, "event_type": "click", "value": 1.0}],
    )
    streaming_incremental_rollup(spark, str(ev_dir), summary, ckpt).awaitTermination()

    shutil.rmtree(summary)
    _write_events(
        ev_dir / "b2.json",
        [{"event_id": 2, "ts": "2024-01-01 10:05:00", "user_id": 2, "event_type": "view", "value": 2.0}],
    )
    with pytest.raises(StreamingQueryException, match="no committed version"):
        streaming_incremental_rollup(spark, str(ev_dir), summary, ckpt).awaitTermination()


def test_streaming_incremental_rollup_crash_before_publish(spark, tmp_path, monkeypatch):
    """A crash after the merged summary's files are written but before
    its manifest publish fails the query and leaves only orphan files:
    the head still records batch 0, so a restart on the same checkpoint
    applies batch 1 exactly once, and its vacuum reclaims exactly the
    orphans."""
    from pathlib import Path

    from pyspark.sql.streaming import StreamingQueryException

    import specialsid_spark.operators.snapshot as S
    from specialsid_spark.streaming.pipeline import streaming_incremental_rollup

    ev_dir = tmp_path / "events_crash"
    ev_dir.mkdir()
    summary = str(tmp_path / "summary")
    ckpt = str(tmp_path / "ck1")
    _write_events(
        ev_dir / "b1.json",
        [{"event_id": 1, "ts": "2024-01-01 10:00:00", "user_id": 1, "event_type": "click", "value": 3.0}],
    )
    streaming_incremental_rollup(spark, str(ev_dir), summary, ckpt).awaitTermination()
    assert S.snapshot_versions(summary) == [1]

    real_publish = S._publish

    def crash_once(*args, **kwargs):
        monkeypatch.setattr(S, "_publish", real_publish)
        raise RuntimeError("crash before publish")

    monkeypatch.setattr(S, "_publish", crash_once)
    _write_events(
        ev_dir / "b2.json",
        [{"event_id": 2, "ts": "2024-01-01 10:05:00", "user_id": 2, "event_type": "click", "value": 4.0}],
    )
    with pytest.raises(StreamingQueryException, match="crash before publish"):
        streaming_incremental_rollup(spark, str(ev_dir), summary, ckpt).awaitTermination()
    assert S.snapshot_versions(summary) == [1]
    root = Path(summary)
    live = set(S._resolve(summary)[1]["files"])
    orphans = sorted(
        str(p.relative_to(root))
        for p in (root / "data").rglob("*.parquet")
        if str(p.relative_to(root)) not in live
    )
    assert orphans

    reclaimed = []
    real_vacuum = S.snapshot_vacuum

    def recording_vacuum(path, keep_last=2):
        reclaimed.append(real_vacuum(path, keep_last))
        return reclaimed[-1]

    monkeypatch.setattr(S, "snapshot_vacuum", recording_vacuum)
    streaming_incremental_rollup(spark, str(ev_dir), summary, ckpt).awaitTermination()
    out = {r["event_type"]: (r["n_events"], r["sum_value"]) for r in snapshot_read(spark, summary).collect()}
    assert out == {"click": (2, 7.0)}
    assert S.snapshot_versions(summary) == [1, 2]
    assert reclaimed == [orphans]


def test_hop1t_pdf_to_text_stream(spark, tmp_path):
    """r5: the TEXT ingest door — born-digital PDFs dropped in the raw
    zone stream out as per-page extracted text, exactly-once."""
    from specialsid_spark.operators.pdf import build_text_pdf
    from specialsid_spark.streaming.pipeline import hop1t_pdf_to_text

    raw = tmp_path / "raw"
    raw.mkdir()
    (raw / "a.pdf").write_bytes(build_text_pdf(["first page text", "second (p)"]))
    (raw / "b.pdf").write_bytes(build_text_pdf(["solo \\ page"]))
    (raw / "noise.txt").write_bytes(b"ignored by the glob")
    text_dir = str(tmp_path / "text")
    ck = str(tmp_path / "ck_t")
    hop1t_pdf_to_text(spark, str(raw), text_dir, ck).awaitTermination()
    rows = spark.read.parquet(text_dir).collect()
    by_doc: dict = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append((r["page_no"], r["page_text"]))
    texts = sorted(tuple(t for _, t in sorted(v)) for v in by_doc.values())
    assert texts == sorted(
        [("first page text", "second (p)"), ("solo \\ page",)]
    )
    # exactly-once: rerun against the same checkpoint adds nothing
    hop1t_pdf_to_text(spark, str(raw), text_dir, ck).awaitTermination()
    assert spark.read.parquet(text_dir).count() == 3


def test_hop1_emits_real_jpeg_pages_for_image_pdf(spark, tmp_path):
    """r4 D1 closure at the STREAMING surface: a real image-per-page PDF
    dropped in the raw zone must come out of hop1 as decodable JPEG
    page bytes (not byte slices), in page order."""
    import numpy as np

    from specialsid_spark.operators.jpeg import decode_jpeg, encode_jpeg
    from specialsid_spark.operators.pdf import build_image_pdf
    from specialsid_spark.streaming.pipeline import hop1_pdf_to_pages

    imgs = [
        encode_jpeg(24, 16, 1, np.full((16, 24, 1), 40 + 10 * p, np.uint8).tobytes(), quality=100)
        for p in range(3)
    ]
    raw = tmp_path / "raw"
    raw.mkdir()
    (raw / "catalogue.pdf").write_bytes(build_image_pdf(imgs))
    pages_dir = str(tmp_path / "pages")
    hop1_pdf_to_pages(spark, str(raw), pages_dir, str(tmp_path / "ck")).awaitTermination()
    rows = spark.read.parquet(pages_dir).orderBy("page_no").collect()
    assert [bytes(r["page_bytes"]) for r in rows] == imgs
    for p, r in enumerate(rows):
        w, h, ch, px = decode_jpeg(bytes(r["page_bytes"]))
        assert (w, h, ch) == (24, 16, 1)
        assert set(px) == {40 + 10 * p}  # uniform q100 gray is exact


def _has_protobuf() -> bool:
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


@pytest.mark.skipif(
    not _has_protobuf(),
    # The precise missing piece (probed r5): importing
    # pyspark.sql.streaming.proto.StateMessage_pb2 — the generated
    # client for the typed-state server — raises
    # `ModuleNotFoundError: No module named 'google'` (google.protobuf
    # is not installed and pip installs are disallowed in this
    # container; a stub protobuf cannot satisfy the server's real
    # varint wire format, so vendoring is not honest).  The operator
    # itself (streaming/pipeline.py streaming_stateful_value_stats_tws)
    # is implemented and this test runs wherever protobuf exists.
    reason=(
        "pyspark.sql.streaming.proto.StateMessage_pb2 import fails: "
        "ModuleNotFoundError: No module named 'google' (google.protobuf "
        "absent; pip install disallowed)"
    ),
)
def test_streaming_transform_with_state_value_stats(spark, tmp_path):
    """Spark 4 transformWithStateInPandas: per-user (count, sum, max)
    in a typed ValueState — state carries across micro-batches and the
    result equals the batch aggregate."""
    from specialsid_spark.streaming.pipeline import streaming_stateful_value_stats_tws

    ev_dir = tmp_path / "events_tws"
    ev_dir.mkdir()
    _write_events(
        ev_dir / "b1.json",
        [
            {"event_id": 1, "ts": "2024-01-01 10:00:00", "user_id": 1, "event_type": "click", "value": 2.0},
            {"event_id": 2, "ts": "2024-01-01 10:01:00", "user_id": 1, "event_type": "view", "value": 7.0},
            {"event_id": 3, "ts": "2024-01-01 10:02:00", "user_id": 2, "event_type": "click", "value": 5.0},
        ],
    )
    out = streaming_stateful_value_stats_tws(spark, str(ev_dir))
    q = (
        out.writeStream.format("memory")
        .queryName("tws_stats")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck_tws"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = {
        r["user_id"]: (r["n_events"], r["sum_value"], r["max_value"])
        for r in spark.sql("SELECT * FROM tws_stats").collect()
    }
    assert rows == {1: (2, 9.0, 7.0), 2: (1, 5.0, 5.0)}

    # second micro-batch: state must accumulate, not reset
    _write_events(
        ev_dir / "b2.json",
        [{"event_id": 4, "ts": "2024-01-01 10:10:00", "user_id": 1, "event_type": "click", "value": 10.0}],
    )
    q2 = (
        streaming_stateful_value_stats_tws(spark, str(ev_dir))
        .writeStream.format("memory")
        .queryName("tws_stats2")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck_tws"))
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination()
    rows2 = {
        r["user_id"]: (r["n_events"], r["sum_value"], r["max_value"])
        for r in spark.sql("SELECT * FROM tws_stats2").collect()
    }
    assert rows2[1] == (3, 19.0, 10.0)


def _write_docs(path, rows):
    import json

    with open(path, "w") as fh:
        for r in rows:
            fh.write(json.dumps(r) + "\n")


def test_streaming_snapshot_ivm_parity_and_growth(spark, tmp_path):
    """r6 VERDICT #9 — the snapshot-IVM streaming twin: each micro-batch
    commits to the manifest table and the summary is maintained from
    snapshot DIFFS; result must equal the batch recompute over the
    table's latest version (stream-vs-batch parity), and a second file
    refreshes incrementally."""
    from specialsid_spark.operators.snapshot import (
        snapshot_read,
        snapshot_versions,
    )
    from specialsid_spark.streaming.pipeline import streaming_snapshot_ivm

    docs_dir = tmp_path / "docs_ivm"
    docs_dir.mkdir()
    table = str(tmp_path / "tbl")
    summary = str(tmp_path / "summary")
    ckpt = str(tmp_path / "ckpt")
    _write_docs(
        docs_dir / "b1.json",
        [{"doc_id": i, "ts": "2024-01-01 10:00:00", "value": i * 10} for i in range(20)],
    )
    streaming_snapshot_ivm(spark, str(docs_dir), table, summary, ckpt).awaitTermination()
    assert snapshot_versions(table) == [1]

    def batch_recompute():
        from pyspark.sql import functions as F

        return {
            r["grp"]: (r["n"], r["s"])
            for r in snapshot_read(spark, table)
            .groupBy((F.col("doc_id") % 7).cast("long").alias("grp"))
            .agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                F.sum("value").cast("long").alias("s"),
            )
            .collect()
        }

    def summary_rows():
        return {
            r["grp"]: (r["n_rows"], r["sum_value"])
            for r in snapshot_read(spark, summary).collect()
        }

    assert summary_rows() == batch_recompute()

    # incremental: a second micro-batch commits v2 and folds its diff
    _write_docs(
        docs_dir / "b2.json",
        [{"doc_id": 100 + i, "ts": "2024-01-01 11:00:00", "value": 7} for i in range(5)],
    )
    streaming_snapshot_ivm(spark, str(docs_dir), table, summary, ckpt).awaitTermination()
    assert snapshot_versions(table) == [1, 2]
    assert summary_rows() == batch_recompute()

    # idle re-run: no new versions, summary untouched
    before = summary_rows()
    streaming_snapshot_ivm(spark, str(docs_dir), table, summary, ckpt).awaitTermination()
    assert snapshot_versions(table) == [1, 2]
    assert summary_rows() == before


def test_streaming_snapshot_ivm_replay_idempotent_both_halves(spark, tmp_path):
    """A crash-replayed micro-batch must neither COMMIT twice (the
    manifest tag dedupes the table half) nor MERGE twice (the summary's
    own manifest tag dedupes the summary half)."""
    import os

    from specialsid_spark.operators.snapshot import snapshot_versions
    from specialsid_spark.streaming.pipeline import streaming_snapshot_ivm

    docs_dir = tmp_path / "docs_replay"
    docs_dir.mkdir()
    table = str(tmp_path / "tbl")
    summary = str(tmp_path / "summary")
    ckpt = str(tmp_path / "ckpt")
    _write_docs(
        docs_dir / "b1.json",
        [{"doc_id": i, "ts": "2024-01-01 10:00:00", "value": 3} for i in range(10)],
    )
    streaming_snapshot_ivm(spark, str(docs_dir), table, summary, ckpt).awaitTermination()
    before = {
        r["grp"]: (r["n_rows"], r["sum_value"])
        for r in snapshot_read(spark, summary).collect()
    }
    # crash window: merge + commit ran, checkpoint commit record lost
    os.remove(os.path.join(ckpt, "commits", "0"))
    crc = os.path.join(ckpt, "commits", ".0.crc")
    if os.path.exists(crc):
        os.remove(crc)
    streaming_snapshot_ivm(spark, str(docs_dir), table, summary, ckpt).awaitTermination()
    assert snapshot_versions(table) == [1], "replayed batch committed twice"
    after = {
        r["grp"]: (r["n_rows"], r["sum_value"])
        for r in snapshot_read(spark, summary).collect()
    }
    assert after == before, "replayed batch merged twice"


def test_streaming_neardup_parity_with_batch_lsh(spark, tmp_path):
    """The near-dup ingest gate must reproduce the batch pipeline's
    greedy keep-lowest-id survivor set when the stream delivers ordered
    slices: survivors == all docs minus every doc_b of the batch LSH
    candidate join over the same corpus."""
    from pyspark.sql import functions as F

    from specialsid_spark.queries.dedup import lsh_band_keys
    from specialsid_spark.streaming.pipeline import streaming_neardup_ingest

    # corpus with REAL near-dups: base docs + light token edits
    base = [
        "the quick brown fox jumps over the lazy dog near the river bank today",
        "spark shuffles data between stages when wide dependencies appear in plans",
        "minhash banding buckets similar documents together with high probability",
        "completely unrelated text about cooking pasta with garlic and olive oil",
    ]
    rows = []
    for i in range(16):
        t = base[i % 4]
        if i >= 8:
            t = t.replace("the", "a") if i % 2 else t + " extra token"
        rows.append({"doc_id": i, "ts": "2024-01-01 10:00:00", "text": t})

    docs_dir = tmp_path / "docs_nd"
    docs_dir.mkdir()
    index = str(tmp_path / "nd_index")
    ckpt = str(tmp_path / "nd_ckpt")
    # two ordered slices
    _write_docs(docs_dir / "b1.json", rows[:8])
    streaming_neardup_ingest(spark, str(docs_dir), index, ckpt).awaitTermination()
    _write_docs(docs_dir / "b2.json", rows[8:])
    streaming_neardup_ingest(spark, str(docs_dir), index, ckpt).awaitTermination()

    kept_stream = {
        r.doc_id
        for r in snapshot_read(spark, index).filter(F.col("kind") == "doc").collect()
    }

    # batch survivor set over the same corpus
    all_docs = spark.createDataFrame(
        [(r["doc_id"], r["text"]) for r in rows], "doc_id long, text string"
    )
    bands = lsh_band_keys(all_docs)
    a, b = bands.alias("a"), bands.alias("b")
    dup_b = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("b.doc_id").alias("doc_id"))
        .distinct()
    )
    kept_batch = {
        r.doc_id
        for r in all_docs.select("doc_id").join(dup_b, "doc_id", "left_anti").collect()
    }
    assert kept_stream == kept_batch
    # sanity: the gate actually dropped near-dups
    assert len(kept_stream) < 16


def test_streaming_neardup_replay_idempotent(spark, tmp_path):
    import os

    from pyspark.sql import functions as F

    from specialsid_spark.streaming.pipeline import streaming_neardup_ingest

    docs_dir = tmp_path / "docs_ndr"
    docs_dir.mkdir()
    index = str(tmp_path / "ndr_index")
    ckpt = str(tmp_path / "ndr_ckpt")
    _write_docs(
        docs_dir / "b1.json",
        [
            {"doc_id": i, "ts": "2024-01-01 10:00:00", "text": f"unique text {i} " * 5}
            for i in range(6)
        ],
    )
    streaming_neardup_ingest(spark, str(docs_dir), index, ckpt).awaitTermination()
    before = sorted(
        r.doc_id
        for r in snapshot_read(spark, index).filter(F.col("kind") == "doc").collect()
    )
    # crash window: merge ran, checkpoint commit record lost
    os.remove(os.path.join(ckpt, "commits", "0"))
    crc = os.path.join(ckpt, "commits", ".0.crc")
    if os.path.exists(crc):
        os.remove(crc)
    streaming_neardup_ingest(spark, str(docs_dir), index, ckpt).awaitTermination()
    after = sorted(
        r.doc_id
        for r in snapshot_read(spark, index).filter(F.col("kind") == "doc").collect()
    )
    assert after == before


def test_streaming_neardup_retention_ages_buckets_out(spark, tmp_path):
    """With a retention horizon, a band bucket last seen before
    (batch max event time - horizon) is evicted BEFORE gating: a later
    near-dup of the expired document is ADMITTED, and the persisted
    index stays bounded (the expired band rows are gone) — while
    inside the horizon the same near-dup is still dropped."""
    from pyspark.sql import functions as F

    from specialsid_spark.streaming.pipeline import streaming_neardup_ingest

    text = "the quick brown fox jumps over the lazy dog near the river bank today"
    near = text + " extra token"

    def run(tag, batches, retention):
        docs_dir = tmp_path / f"docs_{tag}"
        docs_dir.mkdir()
        index = str(tmp_path / f"{tag}_index")
        ckpt = str(tmp_path / f"{tag}_ckpt")
        for i, rows in enumerate(batches):
            _write_docs(docs_dir / f"b{i}.json", rows)
            streaming_neardup_ingest(
                spark, str(docs_dir), index, ckpt, retention_seconds=retention
            ).awaitTermination()
        idx = snapshot_read(spark, index)
        kept = {r.doc_id for r in idx.filter(F.col("kind") == "doc").collect()}
        n_bands = idx.filter(F.col("kind") == "band").count()
        return kept, n_bands

    b1 = [{"doc_id": 1, "ts": "2024-01-01 10:00:00", "text": text}]
    b2 = [{"doc_id": 2, "ts": "2024-01-01 12:00:00", "text": near}]

    # near-dup arrives 2 h later; 1 h horizon -> bucket expired -> ADMITTED
    kept, n_bands = run("age", [b1, b2], retention=3600)
    assert kept == {1, 2}
    # the expired doc-1 bands were evicted; only doc-2's bands remain
    assert n_bands == 4

    # same flow inside the horizon (1 day) -> still DROPPED
    kept, n_bands = run("keep", [b1, b2], retention=86400)
    assert kept == {1}

    # bounded state under continuous ingest: distinct texts, 1 h apart,
    # 90 min horizon -> at most ~2 batches' bands alive at any time
    batches = [
        [{
            "doc_id": i,
            "ts": f"2024-01-01 {10 + i:02d}:00:00",
            "text": f"wholly distinct document number {i} " * 3,
        }]
        for i in range(6)
    ]
    kept, n_bands = run("bound", batches, retention=5400)
    assert kept == set(range(6))  # all unique: every doc admitted
    assert n_bands <= 2 * 4  # horizon bound, NOT 6 batches x 4 bands


def test_streaming_neardup_retention_replay_idempotent(spark, tmp_path):
    """The event-time cutoff derives from the data, so replaying a
    batch after a lost commit record reproduces the identical index."""
    import os

    from pyspark.sql import functions as F

    from specialsid_spark.streaming.pipeline import streaming_neardup_ingest

    docs_dir = tmp_path / "docs_rr"
    docs_dir.mkdir()
    index = str(tmp_path / "rr_index")
    ckpt = str(tmp_path / "rr_ckpt")
    _write_docs(
        docs_dir / "b1.json",
        [
            {"doc_id": i, "ts": f"2024-01-01 10:{i:02d}:00", "text": f"unique text {i} " * 5}
            for i in range(6)
        ],
    )
    streaming_neardup_ingest(
        spark, str(docs_dir), index, ckpt, retention_seconds=3600
    ).awaitTermination()
    snap = lambda: sorted(  # noqa: E731
        (r.kind, r.band, r.bkey, r.doc_id, str(r.last_seen))
        for r in snapshot_read(spark, index).collect()
    )
    before = snap()
    os.remove(os.path.join(ckpt, "commits", "0"))
    crc = os.path.join(ckpt, "commits", ".0.crc")
    if os.path.exists(crc):
        os.remove(crc)
    streaming_neardup_ingest(
        spark, str(docs_dir), index, ckpt, retention_seconds=3600
    ).awaitTermination()
    assert snap() == before


def test_streaming_scd2_parity_with_batch_build(spark, tmp_path):
    """The incrementally-maintained SCD2 dimension must equal the batch
    ev_scd2_user_segments build over the same events, delivered as two
    ordered slices — change points, intervals, and is_current flags."""
    from specialsid_spark.streaming.pipeline import (
        scd2_intervals,
        streaming_scd2_maintain,
    )

    rows = []
    vals = [5.0, 30.0, 30.5, 80.0, 10.0, 10.1, 60.0, 20.0]
    eid = 0
    for u in (1, 2, 3):
        for i, v in enumerate(vals):
            rows.append(
                {
                    "event_id": eid,
                    "ts": f"2024-01-0{1 + i // 4} 0{i % 4}:0{u}:00",
                    "user_id": u,
                    "value": v + u,  # shift bands per user
                }
            )
            eid += 1
    rows.sort(key=lambda r: (r["ts"], r["event_id"]))

    ev_dir = tmp_path / "scd_events"
    ev_dir.mkdir()
    dim = str(tmp_path / "scd_dim")
    ckpt = str(tmp_path / "scd_ckpt")
    half = len(rows) // 2
    _write_docs(ev_dir / "b1.json", rows[:half])
    streaming_scd2_maintain(spark, str(ev_dir), dim, ckpt).awaitTermination()
    _write_docs(ev_dir / "b2.json", rows[half:])
    streaming_scd2_maintain(spark, str(ev_dir), dim, ckpt).awaitTermination()

    got = [tuple(r) for r in scd2_intervals(spark, dim).collect()]

    # batch twin over the SAME events via the shared ANSI string
    from specialsid_spark.queries.events import _ANSI_SCD2_SQL

    full = spark.createDataFrame(
        [(r["event_id"], r["ts"], r["user_id"], "x", r["value"]) for r in rows],
        "event_id long, ts string, user_id long, event_type string, value double",
    ).selectExpr(
        "event_id", "CAST(ts AS TIMESTAMP) AS ts", "user_id", "event_type", "value"
    )
    full.createOrReplaceTempView("events")
    want = [tuple(r) for r in spark.sql(_ANSI_SCD2_SQL).collect()]
    assert got == want
    assert len(got) > 6  # real transitions, not one row per user


def test_streaming_cusum_monitor_matches_sequential_reference(spark, tmp_path):
    """The streaming monitor's two registers must evolve exactly like
    the textbook recurrence over closed hours, with state carried
    across a checkpointed restart (second availableNow run)."""
    from specialsid_spark.streaming.pipeline import streaming_cusum_monitor

    mu = 500  # target mean, cents
    ev_dir = tmp_path / "events_cusum"
    ev_dir.mkdir()
    ckpt = str(tmp_path / "ckpt_cusum")

    # hours 10..13 for type 'click': 5.0, 5.0, 20.0, 20.0 (level shift),
    # hour 14 stays open.  'view' stays on target throughout.
    def ev(i, ts, typ, v):
        return {"event_id": i, "ts": ts, "user_id": 1, "event_type": typ, "value": v}

    _write_events(
        ev_dir / "b1.json",
        [
            ev(1, "2024-01-01 10:00:00", "click", 5.0),
            ev(2, "2024-01-01 11:00:00", "click", 5.0),
            ev(3, "2024-01-01 10:30:00", "view", 5.0),
            ev(4, "2024-01-01 11:30:00", "view", 5.0),
            ev(5, "2024-01-01 12:00:00", "click", 20.0),
            ev(6, "2024-01-01 12:10:00", "view", 5.0),
        ],
    )

    def run_once():
        # foreachBatch sink: the memory sink cannot recover from a
        # checkpoint, and recovery is the point of the second run
        out: dict = {}

        def sink(bdf, _bid):
            for r in bdf.collect():
                out[r["event_type"]] = r

        st = streaming_cusum_monitor(spark, str(ev_dir), mu_cents=mu)
        q = (
            st.writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(60)
        return out

    run_once()
    _write_events(
        ev_dir / "b2.json",
        [
            ev(7, "2024-01-01 13:00:00", "click", 20.0),
            ev(8, "2024-01-01 13:20:00", "view", 5.0),
            ev(9, "2024-01-01 14:00:00", "click", 5.0),
            ev(10, "2024-01-01 14:00:00", "view", 5.0),
        ],
    )
    got = run_once()

    def reference(hour_cents):
        s_up = s_dn = n_up = n_dn = 0
        for yc in hour_cents:
            s_up = max(0, s_up + (4 * yc - 5 * mu))
            s_dn = max(0, s_dn + (3 * mu - 4 * yc))
            n_up += 1 if s_up > 8 * mu else 0
            n_dn += 1 if s_dn > 8 * mu else 0
        return s_up, s_dn, n_up, n_dn

    # click closed hours: 10, 11, 12, 13 -> [500, 500, 2000, 2000]
    s_up, s_dn, n_up, n_dn = reference([500, 500, 2000, 2000])
    c = got["click"]
    assert (c["s_up"], c["s_dn"], c["n_up_flags"], c["n_dn_flags"]) == (
        s_up, s_dn, n_up, n_dn,
    )
    assert c["n_hours_closed"] == 4
    assert n_up > 0, "the planted +1500c shift must breach H = 8*mu"
    # view stays on target: both registers at zero, no flags
    v = got["view"]
    assert (v["s_up"], v["s_dn"], v["n_up_flags"], v["n_dn_flags"]) == (0, 0, 0, 0)
    assert v["n_hours_closed"] == 4
    assert c["n_late_dropped"] == 0 and v["n_late_dropped"] == 0

    # ADVICE r9 regression: an event for a long-CLOSED hour must be
    # dropped-and-counted, never folded back (the r9 code re-inserted
    # hour 10 and applied its residual a second time, corrupting the
    # registers permanently)
    _write_events(
        ev_dir / "b3.json",
        [ev(11, "2024-01-01 10:05:00", "click", 7.0)],
    )
    got3 = run_once()
    c3 = got3["click"]
    assert (c3["s_up"], c3["s_dn"], c3["n_up_flags"], c3["n_dn_flags"]) == (
        s_up, s_dn, n_up, n_dn,
    ), "late event for a closed hour must not perturb the registers"
    assert c3["n_hours_closed"] == 4
    assert c3["n_late_dropped"] == 1


def test_hop4_incremental_lsh_gate_chains_after_hop3(spark, tmp_path):
    """r12 (VERDICT r11 #6): hop3's clean zone chains into the
    snapshot-backed incremental MinHash-LSH gate.  Two ordered daily
    drops flow json -> hop3 -> hop4; the persisted snapshot index
    accumulates; survivors must equal the batch pipeline's greedy
    keep-lowest-id set over the same corpus; and a crash-replayed
    micro-batch is a no-op (tag short-circuit)."""
    import json as _json
    import os

    from pyspark.sql import functions as F

    from specialsid_spark.operators.snapshot import snapshot_read, snapshot_versions
    from specialsid_spark.streaming.pipeline import (
        hop3_json_to_clean,
        hop4_incremental_lsh_gate,
    )

    base = [
        "the quick brown fox jumps over the lazy dog near the river bank today",
        "spark shuffles data between stages when wide dependencies appear in plans",
        "minhash banding buckets similar documents together with high probability",
        "completely unrelated text about cooking pasta with garlic and olive oil",
    ]

    def product(i: int) -> dict:
        t = base[i % 4]
        if i >= 8:
            t = t.replace("the", "a") if i % 2 else t + " extra token"
        return {
            "product_name": f"P{i:02d} {t}",
            "brand": "KOO",
            "current_price": 9.99,
            "was_price": None,
            "weight_volume": "2kg",
            "unit": "kg",
            "deal_type": None,
            "multi_buy_quantity": 1,
            "bounding_box": [1, 2, 3, 4],
            "group_id": None,
            "source_path": "data/pro/json/PnP/Gauteng/1_March_-_3_March_2026/"
                           f"page_{i}.json",
        }

    json_dir = tmp_path / "pro_json"
    json_dir.mkdir()
    clean_dir = str(tmp_path / "clean")
    ckpt3 = str(tmp_path / "ckpt3")
    ckpt4 = str(tmp_path / "ckpt4")
    index = str(tmp_path / "lsh_index")
    id_expr = "CAST(regexp_extract(product_name, 'P([0-9]+)', 1) AS BIGINT)"
    text_expr = "product_name"

    def drop(name, lo, hi):
        with open(json_dir / name, "w") as fh:
            for i in range(lo, hi):
                fh.write(_json.dumps(product(i)) + "\n")
        hop3_json_to_clean(spark, str(json_dir), clean_dir, ckpt3).awaitTermination()
        hop4_incremental_lsh_gate(
            spark, clean_dir, index, ckpt4, id_expr=id_expr, text_expr=text_expr
        ).awaitTermination()

    drop("b1.json", 0, 8)
    v_after_1 = snapshot_versions(index)
    drop("b2.json", 8, 16)
    kept_stream = {
        r.doc_id
        for r in snapshot_read(spark, index)
        .filter(F.col("kind") == "doc")
        .collect()
    }

    # batch greedy keep-lowest referee over the SAME cleaned corpus
    # (ids are arrival-ordered, so sequential gating == global greedy)
    docs = (
        spark.read.parquet(clean_dir)
        .selectExpr(f"{id_expr} AS doc_id", f"{text_expr} AS text")
        .distinct()
    )
    kept_batch = _lsh_keep_lowest(docs)
    assert kept_stream == kept_batch
    assert len(kept_stream) < 16  # the gate really dropped near-dups
    assert len(snapshot_versions(index)) > len(v_after_1)  # index accumulated

    # crash window: hop4's checkpoint commit record lost AFTER the
    # snapshot commit -> replay must hit the tag and change nothing
    commits = sorted(os.listdir(os.path.join(ckpt4, "commits")))
    last = [c for c in commits if not c.startswith(".")][-1]
    os.remove(os.path.join(ckpt4, "commits", last))
    crc = os.path.join(ckpt4, "commits", f".{last}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    versions_before = snapshot_versions(index)
    hop4_incremental_lsh_gate(
        spark, clean_dir, index, ckpt4, id_expr=id_expr, text_expr=text_expr
    ).awaitTermination()
    assert snapshot_versions(index) == versions_before
    kept_replay = {
        r.doc_id
        for r in snapshot_read(spark, index)
        .filter(F.col("kind") == "doc")
        .collect()
    }
    assert kept_replay == kept_stream


def test_streaming_ann_postings_ingest_matches_batch_assignment(
    spark, tmp_path, assign_clusters_sql
):
    """r12: streaming embedding drops index against the FROZEN
    persisted quantizer — the accumulated postings must equal a batch
    assignment of the same vectors by the independent SQL referee, and
    a crash-replayed micro-batch must be a no-op (tag short-circuit)."""
    import json as _json
    import os

    from specialsid_spark.operators.kmeans import _mu_vec, assign_clusters, kmeans_fit
    from specialsid_spark.operators.snapshot import (
        snapshot_commit,
        snapshot_read,
        snapshot_versions,
    )
    from specialsid_spark.queries.vectors import ivf_centroids_from_table
    from specialsid_spark.streaming.pipeline import streaming_ann_postings_ingest

    from pyspark.sql import functions as F

    # deterministic toy corpus: 24 vectors in 4 obvious clusters
    def vec(i):
        base = [0.0] * 8
        base[i % 4] = 1.0 + (i % 3) * 0.01
        return {"vec_id": i, "embedding": base}

    base_rows = [vec(i) for i in range(12)]
    drop1 = [vec(i) for i in range(12, 18)]
    drop2 = [vec(i) for i in range(18, 24)]

    base_df = spark.createDataFrame(
        [(r["vec_id"], r["embedding"]) for r in base_rows],
        "vec_id long, embedding array<double>",
    )
    centroids, _ = kmeans_fit(base_df, k=4, iterations=2, dim=8)
    qt = str(tmp_path / "quantizer")
    snapshot_commit(
        spark.createDataFrame(
            [(i, c) for i, c in enumerate(centroids)],
            "cid int, centroid array<bigint>",
        ).coalesce(1),
        qt,
    )
    pt = str(tmp_path / "postings")
    snapshot_commit(
        assign_clusters(
            base_df.select("vec_id", _mu_vec(F.col("embedding")).alias("mu")),
            centroids,
        ).select("vec_id", "cid").coalesce(1),
        pt,
    )

    vdir = tmp_path / "vec_drops"
    vdir.mkdir()
    ckpt = str(tmp_path / "ann_ckpt")
    for name, rows in (("d1.json", drop1), ("d2.json", drop2)):
        with open(vdir / name, "w") as fh:
            for r in rows:
                fh.write(_json.dumps(r) + "\n")
        streaming_ann_postings_ingest(
            spark, str(vdir), qt, pt, ckpt
        ).awaitTermination()

    got = {
        (r.vec_id, r.cid) for r in snapshot_read(spark, pt).collect()
    }
    all_df = spark.createDataFrame(
        [(r["vec_id"], r["embedding"]) for r in base_rows + drop1 + drop2],
        "vec_id long, embedding array<double>",
    )
    want = {
        (r.vec_id, r.cid)
        for r in assign_clusters_sql(
            all_df.select("vec_id", _mu_vec(F.col("embedding")).alias("mu")),
            ivf_centroids_from_table(spark, qt),
        ).select("vec_id", "cid").collect()
    }
    assert got == want
    assert len(got) == 24

    # crash window: checkpoint commit record lost AFTER the snapshot
    # commit -> replay must hit the tag and append nothing
    commits = [c for c in sorted(os.listdir(os.path.join(ckpt, "commits")))
               if not c.startswith(".")]
    os.remove(os.path.join(ckpt, "commits", commits[-1]))
    crc = os.path.join(ckpt, "commits", f".{commits[-1]}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    before = snapshot_versions(pt)
    streaming_ann_postings_ingest(spark, str(vdir), qt, pt, ckpt).awaitTermination()
    assert snapshot_versions(pt) == before
    assert {(r.vec_id, r.cid) for r in snapshot_read(spark, pt).collect()} == want


def test_hop4_index_compaction_vacuum_preserves_gate(spark, tmp_path):
    """r13 (VERDICT r12 #4): the band-index lifecycle.  The hop4 gate
    grows a snapshot version per drop forever; after N drops,
    snapshot_compact(dedup=True) + snapshot_vacuum(keep_last=1) must
    (a) reclaim bytes, (b) collapse history to one version, (c) leave
    the gate-visible membership (band set + admitted doc set)
    bit-identical, and (d) gate the NEXT drop exactly as the batch
    greedy keep-lowest referee over the full corpus."""
    import json as _json
    import os

    from pyspark.sql import functions as F

    from specialsid_spark.operators.snapshot import (
        snapshot_compact,
        snapshot_read,
        snapshot_vacuum,
        snapshot_versions,
    )
    from specialsid_spark.streaming.pipeline import (
        hop3_json_to_clean,
        hop4_incremental_lsh_gate,
    )

    base = [
        "the quick brown fox jumps over the lazy dog near the river bank today",
        "spark shuffles data between stages when wide dependencies appear in plans",
        "minhash banding buckets similar documents together with high probability",
        "completely unrelated text about cooking pasta with garlic and olive oil",
    ]

    def product(i: int) -> dict:
        t = base[i % 4]
        if i >= 8:
            t = t.replace("the", "a") if i % 2 else t + " extra token"
        return {
            "product_name": f"P{i:02d} {t}",
            "brand": "KOO",
            "current_price": 9.99,
            "was_price": None,
            "weight_volume": "2kg",
            "unit": "kg",
            "deal_type": None,
            "multi_buy_quantity": 1,
            "bounding_box": [1, 2, 3, 4],
            "group_id": None,
            "source_path": "data/pro/json/PnP/Gauteng/1_March_-_3_March_2026/"
                           f"page_{i}.json",
        }

    json_dir = tmp_path / "pro_json"
    json_dir.mkdir()
    clean_dir = str(tmp_path / "clean")
    ckpt3 = str(tmp_path / "ckpt3")
    ckpt4 = str(tmp_path / "ckpt4")
    index = str(tmp_path / "lsh_index")
    id_expr = "CAST(regexp_extract(product_name, 'P([0-9]+)', 1) AS BIGINT)"
    text_expr = "product_name"

    def drop(name, lo, hi):
        with open(json_dir / name, "w") as fh:
            for i in range(lo, hi):
                fh.write(_json.dumps(product(i)) + "\n")
        hop3_json_to_clean(spark, str(json_dir), clean_dir, ckpt3).awaitTermination()
        hop4_incremental_lsh_gate(
            spark, clean_dir, index, ckpt4, id_expr=id_expr, text_expr=text_expr
        ).awaitTermination()

    def table_bytes() -> int:
        return sum(
            os.path.getsize(os.path.join(r, f))
            for r, _, fs in os.walk(index)
            for f in fs
        )

    def membership():
        idx = snapshot_read(spark, index)
        bands = {
            (r.band, r.bkey)
            for r in idx.filter(F.col("kind") == "band").collect()
        }
        docs = {
            r.doc_id for r in idx.filter(F.col("kind") == "doc").collect()
        }
        return bands, docs

    drop("b1.json", 0, 8)
    drop("b2.json", 8, 16)
    assert len(snapshot_versions(index)) >= 2  # one version per drop
    bands_before, docs_before = membership()
    bytes_before = table_bytes()

    snapshot_compact(spark, index, target_files=None, dedup=True)
    removed = snapshot_vacuum(index, keep_last=1)
    assert removed  # pre-compaction data files really reclaimed
    assert len(snapshot_versions(index)) == 1  # history truncated
    assert table_bytes() < bytes_before  # bytes reclaimed on disk
    assert membership() == (bands_before, docs_before)  # gate-identical

    # the NEXT drop gates correctly against the compacted index
    drop("b3.json", 16, 24)
    _, kept_stream = membership()
    docs = (
        spark.read.parquet(clean_dir)
        .selectExpr(f"{id_expr} AS doc_id", f"{text_expr} AS text")
        .distinct()
    )
    kept_batch = _lsh_keep_lowest(docs)
    assert kept_stream == kept_batch


def test_hop4_incremental_simhash_gate_parity_and_replay(spark, tmp_path):
    """r13: the SimHash streaming gate over two ordered drops must (a)
    admit exactly what a sequential plain-DataFrame replay of the same
    radius-3 rule admits (stream/batch parity — the index is shareable
    with the daily batch gate), and (b) treat a crash-replayed
    micro-batch as a no-op (tag short-circuit).  Near-dups are word
    PERMUTATIONS of earlier docs: signatures build on distinct token
    sets, so a permutation is Hamming 0 — deterministic radius hits
    without relying on vote margins."""
    import os

    from pyspark.sql import functions as F

    from specialsid_spark.operators.snapshot import (
        snapshot_read,
        snapshot_versions,
    )
    from specialsid_spark.queries.dedup import (
        _simhash_block_sigs,
        simhash_ham_to_index,
        simhash_probes,
    )
    from specialsid_spark.streaming.pipeline import hop4_incremental_simhash_gate

    base = [
        "quick brown fox jumps over lazy dog near river bank today",
        "spark shuffles data between stages when wide dependencies appear",
        "banding buckets similar documents together with high probability",
        "unrelated text about cooking pasta with garlic and olive oil",
    ]
    perm = [" ".join(reversed(t.split())) for t in base]
    fresh = [
        "completely new subject matter one about mountains and glaciers",
        "another novel document regarding harbor cranes and cargo ships",
        "fresh content on violin practice scales and bow technique",
        "distinct prose concerning beekeeping hives and clover fields",
    ]
    clean_dir = str(tmp_path / "clean")
    ckpt = str(tmp_path / "ckpt")
    index = str(tmp_path / "sh_index")

    def write_drop(rows):
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(
            1
        ).write.mode("append").parquet(clean_dir)

    def run_gate():
        hop4_incremental_simhash_gate(
            spark, clean_dir, index, ckpt, id_expr="doc_id", text_expr="text"
        ).awaitTermination()

    # drop 1: 4 originals + 4 permuted twins (intra-batch near-dups)
    write_drop(
        [(i, base[i]) for i in range(4)] + [(4 + i, perm[i]) for i in range(4)]
    )
    run_gate()
    # drop 2: 4 more permuted twins (corpus hits) + 4 fresh docs
    write_drop(
        [(8 + i, perm[i]) for i in range(4)]
        + [(12 + i, fresh[i]) for i in range(4)]
    )
    run_gate()
    kept_stream = {
        r.doc_id
        for r in snapshot_read(spark, index)
        .filter(F.col("kind") == "doc")
        .collect()
    }
    assert kept_stream == {0, 1, 2, 3, 12, 13, 14, 15}

    # sequential plain-DataFrame referee: same rule, no snapshot machinery
    ham = simhash_ham_to_index()
    idx_probes = None
    kept_batch: set[int] = set()
    for lo in (0, 8):
        drop = spark.createDataFrame(
            [(i, ([base, perm, perm, fresh][i // 4])[i % 4])
             for i in range(lo, lo + 8)],
            "doc_id long, text string",
        )
        bp = simhash_probes(
            _simhash_block_sigs(spark, clean_dir, 32, docs=drop)
        ).localCheckpoint(eager=True)
        ids = bp.select("doc_id").distinct()
        if idx_probes is not None:
            hitc = (
                bp.join(idx_probes, ["band", "v"])
                .filter(ham <= 3).select("doc_id").distinct()
            )
            ids = ids.join(hitc, "doc_id", "left_anti")
        lower = bp.select(
            F.col("doc_id").alias("doc_b"), "band", F.col("v"),
            *[F.col(f"blk{b}").alias(f"iblk{b}") for b in range(4)],
        )
        intra = (
            bp.join(lower, ["band", "v"])
            .filter((F.col("doc_id") > F.col("doc_b")) & (ham <= 3))
            .select("doc_id").distinct()
        )
        admitted = ids.join(intra, "doc_id", "left_anti")
        kept_batch |= {r.doc_id for r in admitted.collect()}
        new = bp.join(admitted, "doc_id").select(
            "band", "v",
            *[F.col(f"blk{b}").alias(f"iblk{b}") for b in range(4)],
        )
        idx_probes = (
            new if idx_probes is None else idx_probes.unionByName(new)
        ).localCheckpoint(eager=True)
    assert kept_stream == kept_batch

    # crash window: checkpoint commit record lost AFTER the snapshot
    # commit -> replay must hit the idempotency tag and change nothing
    commits = sorted(os.listdir(os.path.join(ckpt, "commits")))
    last = [c for c in commits if not c.startswith(".")][-1]
    os.remove(os.path.join(ckpt, "commits", last))
    crc = os.path.join(ckpt, "commits", f".{last}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    versions_before = snapshot_versions(index)
    run_gate()
    assert snapshot_versions(index) == versions_before


def _lsh_keep_lowest(docs):
    """Batch greedy keep-lowest LSH referee over a (doc_id, text) frame:
    the doc ids no lower doc_id shares a band bucket with."""
    from pyspark.sql import functions as F

    from specialsid_spark.queries.dedup import lsh_band_keys

    bands = lsh_band_keys(docs)
    dup_b = (
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
    return {
        r.doc_id
        for r in docs.select("doc_id").join(dup_b, "doc_id", "left_anti").collect()
    }


_GATE_BASE = [
    "the quick brown fox jumps over the lazy dog near the river bank today",
    "spark shuffles data between stages when wide dependencies appear in plans",
    "minhash banding buckets similar documents together with high probability",
    "completely unrelated text about cooking pasta with garlic and olive oil",
]


def _lsh_gate_doc(i: int) -> tuple[int, str]:
    """Doc i of the hop4 LSH fixtures: ids >= 8 are edited copies."""
    t = _GATE_BASE[i % 4]
    if i >= 8:
        t = t.replace("the", "a") if i % 2 else t + " extra token"
    return i, f"P{i:02d} {t}"


def _admitted(spark, index):
    from pyspark.sql import functions as F

    from specialsid_spark.operators.snapshot import snapshot_read

    return {
        r.doc_id
        for r in snapshot_read(spark, index).filter(F.col("kind") == "doc").collect()
    }


def test_hop4_lsh_stream_extends_batch_written_index(spark, tmp_path):
    """One table, two drivers: drop 1 is gated the way the daily batch
    query gates a day (lsh_gate over lsh_band_keys), drop 2 streams
    through hop4 against the SAME table, and the admitted set equals
    the batch greedy keep-lowest referee over both drops."""
    from specialsid_spark.queries.dedup import lsh_band_keys, lsh_gate
    from specialsid_spark.streaming.pipeline import hop4_incremental_lsh_gate

    schema = "doc_id long, text string"
    index = str(tmp_path / "lsh_index")
    clean_dir = str(tmp_path / "clean")
    drop1 = spark.createDataFrame([_lsh_gate_doc(i) for i in range(8)], schema)
    lsh_gate(lsh_band_keys(drop1), index)
    spark.createDataFrame(
        [_lsh_gate_doc(i) for i in range(8, 16)], schema
    ).coalesce(1).write.parquet(clean_dir)
    hop4_incremental_lsh_gate(
        spark, clean_dir, index, str(tmp_path / "ckpt"),
        id_expr="doc_id", text_expr="text",
    ).awaitTermination()

    both = spark.createDataFrame([_lsh_gate_doc(i) for i in range(16)], schema)
    kept = _admitted(spark, index)
    assert kept == _lsh_keep_lowest(both)
    assert len(kept) < 16  # the gate really dropped near-dups


def test_hop4_simhash_stream_extends_batch_written_index(spark, tmp_path):
    """The SimHash twin of the shared-table case: drop 1 gated the way
    dedup_incremental_simhash gates a day (simhash_gate over
    simhash_probes), drop 2 through hop4 against the same table.  The
    survivors are the ones test_hop4_incremental_simhash_gate_parity_and_replay
    pins: the 4 originals and the 4 fresh docs."""
    from specialsid_spark.queries.dedup import (
        _simhash_block_sigs,
        simhash_gate,
        simhash_probes,
    )
    from specialsid_spark.streaming.pipeline import hop4_incremental_simhash_gate

    base = [
        "quick brown fox jumps over lazy dog near river bank today",
        "spark shuffles data between stages when wide dependencies appear",
        "banding buckets similar documents together with high probability",
        "unrelated text about cooking pasta with garlic and olive oil",
    ]
    perm = [" ".join(reversed(t.split())) for t in base]
    fresh = [
        "completely new subject matter one about mountains and glaciers",
        "another novel document regarding harbor cranes and cargo ships",
        "fresh content on violin practice scales and bow technique",
        "distinct prose concerning beekeeping hives and clover fields",
    ]
    schema = "doc_id long, text string"
    index = str(tmp_path / "sh_index")
    clean_dir = str(tmp_path / "clean")
    drop1 = spark.createDataFrame(
        [(i, base[i]) for i in range(4)] + [(4 + i, perm[i]) for i in range(4)],
        schema,
    )
    simhash_gate(
        simhash_probes(_simhash_block_sigs(spark, clean_dir, 32, docs=drop1)),
        index,
    )
    spark.createDataFrame(
        [(8 + i, perm[i]) for i in range(4)] + [(12 + i, fresh[i]) for i in range(4)],
        schema,
    ).coalesce(1).write.parquet(clean_dir)
    hop4_incremental_simhash_gate(
        spark, clean_dir, index, str(tmp_path / "ckpt"),
        id_expr="doc_id", text_expr="text",
    ).awaitTermination()

    assert _admitted(spark, index) == {0, 1, 2, 3, 12, 13, 14, 15}


def test_hop4_recreated_checkpoint_gates_new_docs(spark, tmp_path):
    """A recreated hop4 checkpoint restarts batch_id at 0.  Its batches
    must not match the old run's replay tags: the novel doc of the next
    drop is admitted, and the re-gated old docs are corpus hits, so no
    old doc is added twice."""
    import shutil

    from specialsid_spark.streaming.pipeline import hop4_incremental_lsh_gate

    schema = "doc_id long, text string"
    index, clean_dir, ckpt = (str(tmp_path / n) for n in ("lsh_index", "clean", "ckpt"))

    def gate():
        hop4_incremental_lsh_gate(
            spark, clean_dir, index, ckpt, id_expr="doc_id", text_expr="text"
        ).awaitTermination()

    spark.createDataFrame(
        [_lsh_gate_doc(i) for i in range(4)], schema
    ).coalesce(1).write.parquet(clean_dir)
    gate()
    assert _admitted(spark, index) == {0, 1, 2, 3}
    shutil.rmtree(ckpt)
    spark.createDataFrame(
        [(10, "P10 a novel document about glaciers and mountain huts in deep winter")],
        schema,
    ).coalesce(1).write.mode("append").parquet(clean_dir)
    gate()
    assert _admitted(spark, index) == {0, 1, 2, 3, 10}
    assert snapshot_read(spark, index).filter(F.col("kind") == "doc").count() == 5


def test_streaming_ann_postings_recreated_checkpoint_raises(spark, tmp_path):
    """The ANN postings append is not idempotent across checkpoints: a
    recreated checkpoint's batch 0 must neither match the old run's tag
    (skipping its drop) nor append the drop a second time.  It raises,
    and the postings table is unchanged."""
    import shutil

    from specialsid_spark.operators.kmeans import _mu_vec, assign_clusters, kmeans_fit
    from specialsid_spark.operators.snapshot import snapshot_commit, snapshot_versions
    from specialsid_spark.streaming.pipeline import streaming_ann_postings_ingest

    def vec(i):
        e = [0.0] * 8
        e[i % 4] = 1.0 + (i % 3) * 0.01
        return i, e

    base_df = spark.createDataFrame(
        [vec(i) for i in range(8)], "vec_id long, embedding array<double>"
    )
    centroids, _ = kmeans_fit(base_df, k=4, iterations=2, dim=8)
    qt, pt = str(tmp_path / "quantizer"), str(tmp_path / "postings")
    snapshot_commit(
        spark.createDataFrame(
            list(enumerate(centroids)), "cid int, centroid array<bigint>"
        ).coalesce(1),
        qt,
    )
    snapshot_commit(
        assign_clusters(
            base_df.select("vec_id", _mu_vec(F.col("embedding")).alias("mu")), centroids
        ).select("vec_id", "cid").coalesce(1),
        pt,
    )
    vdir = tmp_path / "vec_drops"
    vdir.mkdir()
    with open(vdir / "d1.json", "w") as fh:
        for i in range(8, 12):
            vid, e = vec(i)
            fh.write(json.dumps({"vec_id": vid, "embedding": e}) + "\n")
    ckpt = str(tmp_path / "ann_ckpt")
    streaming_ann_postings_ingest(spark, str(vdir), qt, pt, ckpt).awaitTermination()
    before = snapshot_versions(pt)
    assert snapshot_read(spark, pt).count() == 12

    shutil.rmtree(ckpt)
    with pytest.raises(Exception, match="another checkpoint"):
        streaming_ann_postings_ingest(spark, str(vdir), qt, pt, ckpt).awaitTermination()
    assert snapshot_versions(pt) == before


# Spark jobs of one hop4 LSH micro-batch against an existing index, as
# the event log groups them by SQL execution: 3 for the eager band
# barrier, 4 for the verdict's checkpoint (probe + verdict with its AQE
# stage jobs) and 3 for the commit write.  The index read plans with no
# job (its manifest records the schema).  An extra eager barrier in the
# gate adds jobs and fails.
_HOP4_LSH_BATCH_JOBS = 10


def test_hop4_lsh_micro_batch_job_ceiling(spark, tmp_path):
    """Counts the jobs of one hop4_incremental_lsh_gate micro-batch
    through the stream's job group (its run id) and the status tracker,
    and pins the count as a ceiling."""
    from specialsid_spark.streaming.pipeline import hop4_incremental_lsh_gate

    clean_dir = str(tmp_path / "clean")

    def drop(lo: int, hi: int):
        spark.createDataFrame(
            [_lsh_gate_doc(i) for i in range(lo, hi)], "doc_id long, text string"
        ).coalesce(1).write.mode("append").parquet(clean_dir)
        q = hop4_incremental_lsh_gate(
            spark, clean_dir, str(tmp_path / "index"), str(tmp_path / "ckpt"),
            id_expr="doc_id", text_expr="text",
        )
        q.awaitTermination()
        return q

    drop(0, 8)  # the first micro-batch creates the index
    q = drop(8, 16)
    assert len(q.recentProgress) == 1  # one micro-batch
    jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(str(q.runId))
    assert 0 < len(jobs) <= _HOP4_LSH_BATCH_JOBS
