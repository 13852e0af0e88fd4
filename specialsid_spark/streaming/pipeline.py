"""Structured Streaming pipeline (SURVEY.md §2.9 T1–T5, §3 entry point 1).

The reference's event graph — S3 ObjectCreated notifications chaining
four Lambdas (infrastructure/main.tf:234-263) — maps to chained
checkpointed file-source streaming queries:

    raw PDFs --(hop1: page explode)--> interim pages
             --(hop2: vision extraction)--> pro JSON
             --(hop3: clean + normalize)--> clean parquet (partitioned)

Each hop reads the previous hop's sink directory (T3 async chaining ≡
downstream stream on upstream sink), uses ``Trigger.AvailableNow`` for
scheduled/backfill runs (T2/T4 — the reference's recursive
continuation-token backfill *disappears*: checkpoints resume natively),
and gets exactly-once end-to-end from checkpoint + file-sink commit
logs (T5 — every skip-if-exists idempotency check in the reference is
subsumed).

At 100 TB: `maxFilesPerTrigger` bounds each micro-batch; the clean sink
is Hive-partitioned so downstream readers prune; no state store is
needed for hops 1–3 (stateless transforms), and the watermarked event
aggregations (T8) bound their state by event time.
"""

from __future__ import annotations

import json
import os
from pathlib import Path

import pandas as pd  # module-level: pandas_udf type hints must
# resolve in module globals under `from __future__ import annotations`

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from specialsid_spark.operators.clean import clean_products
from specialsid_spark.operators.extraction import (
    PRODUCT_JSON_SCHEMA,
    ExtractionConfig,
    extract_products,
)
from specialsid_spark.operators.multimodal import explode_pdf_pages


def hop1_pdf_to_pages(
    spark: SparkSession,
    raw_dir: str,
    pages_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """T1: binaryFile stream over the raw zone (*.pdf) -> page rows."""
    reader = (
        spark.readStream.format("binaryFile")
        .schema("path string, modificationTime timestamp, length long, content binary")
        .option("pathGlobFilter", "*.pdf")  # P3 suffix filter at the source
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    raw = reader.load(raw_dir).select(
        F.col("path").alias("source_path"), F.col("content")
    )
    pages = explode_pdf_pages(
        raw.withColumnRenamed("source_path", "doc_path").select(
            F.xxhash64("doc_path").alias("doc_id"), F.col("content").alias("blob")
        )
    )
    return (
        pages.writeStream.format("parquet")
        .option("path", pages_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def hop1t_pdf_to_text(
    spark: SparkSession,
    raw_dir: str,
    text_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """T1∘X4 (r5): the TEXT ingest door — binaryFile stream over the
    raw zone (*.pdf) -> per-page extracted text (explode_pdf_text's
    content-stream interpreter) -> parquet text zone.  The streaming
    twin of mm_pdf_text_corpus_pipeline's batch hop: this is how a
    100 TB born-digital PDF lake becomes an LLM text corpus
    incrementally, exactly-once, with `maxFilesPerTrigger` bounding
    each micro-batch.  Undecodable pages land as NULL text rows so
    downstream curation can count them (loud degrade, never dropped
    silently)."""
    from specialsid_spark.operators.multimodal import explode_pdf_text

    reader = (
        spark.readStream.format("binaryFile")
        .schema("path string, modificationTime timestamp, length long, content binary")
        .option("pathGlobFilter", "*.pdf")
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    raw = reader.load(raw_dir).select(
        F.xxhash64("path").alias("doc_id"), F.col("content").alias("blob")
    )
    return (
        explode_pdf_text(raw)
        .writeStream.format("parquet")
        .option("path", text_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def hop2_pages_to_products_json(
    spark: SparkSession,
    pages_dir: str,
    json_dir: str,
    checkpoint_dir: str,
    config: ExtractionConfig | None = None,
) -> StreamingQuery:
    """T1+D2: page stream -> extraction harness -> pro-zone JSON."""
    pages = (
        spark.readStream.schema("doc_id long, page_no int, page_bytes binary")
        .parquet(pages_dir)
        .select(
            F.concat(
                F.lit("data/pro/json/PnP/Gauteng/flyer/page_"),
                F.col("page_no").cast("string"),
                F.lit(".json"),
            ).alias("path"),
            F.col("page_bytes").alias("content"),
        )
    )
    products = extract_products(pages, config)
    return (
        products.writeStream.format("json")
        .option("path", json_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def hop3_json_to_clean(
    spark: SparkSession,
    json_dir: str,
    clean_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """T1: pro-JSON stream -> cleaner -> partitioned clean parquet."""
    raw = spark.readStream.schema(PRODUCT_JSON_SCHEMA).json(json_dir)
    cleaned = clean_products(raw)
    return (
        cleaned.writeStream.format("parquet")
        .option("path", clean_dir)
        .option("checkpointLocation", checkpoint_dir)
        .partitionBy("province", "date_range")
        .trigger(availableNow=True)
        .start()
    )


def run_full_pipeline(
    spark: SparkSession,
    raw_dir: str,
    work_dir: str,
    config: ExtractionConfig | None = None,
) -> str:
    """Entry point 1: the whole chain, each hop awaited (availableNow).
    Returns the clean-zone path.  Re-running is a no-op (exactly-once)."""
    pages_dir = os.path.join(work_dir, "interim_pages")
    json_dir = os.path.join(work_dir, "pro_json")
    clean_dir = os.path.join(work_dir, "clean")
    ckpt = os.path.join(work_dir, "_checkpoints")

    hop1_pdf_to_pages(spark, raw_dir, pages_dir, os.path.join(ckpt, "hop1")).awaitTermination()
    hop2_pages_to_products_json(
        spark, pages_dir, json_dir, os.path.join(ckpt, "hop2"), config
    ).awaitTermination()
    hop3_json_to_clean(spark, json_dir, clean_dir, os.path.join(ckpt, "hop3")).awaitTermination()
    return clean_dir


# ---------------------------------------------------------------------------
# T8: watermarked event-time aggregation (the `events` surface).
# ---------------------------------------------------------------------------


def streaming_tumbling_counts(
    spark: SparkSession,
    events_dir: str,
    watermark: str = "1 hour",
    window_size: str = "1 hour",
) -> DataFrame:
    """readStream over an events directory -> watermark -> tumbling
    window counts.  Caller attaches the sink (tests use memory sink)."""
    ev = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string, value double"
        ).json(events_dir)
    )
    return (
        ev.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window_size).alias("w"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("win_start"), "event_type", "n_events")
    )


def streaming_dedup_within_watermark(
    spark: SparkSession, events_dir: str, watermark: str = "1 hour"
) -> DataFrame:
    """T8: dropDuplicatesWithinWatermark on (user_id, event_type) — the
    streaming twin of ev_dedup_first_per_key with bounded state."""
    ev = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string, value double"
        ).json(events_dir)
    )
    return ev.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["user_id", "event_type"]
    )


def streaming_content_dedup(
    spark: SparkSession, docs_dir: str, watermark: str = "1 hour"
) -> DataFrame:
    """X1 ∘ T8: streaming exact deduplication by CONTENT — the streaming
    twin of the batch `dedup_exact_hash` query.  Incoming documents are
    keyed on md5(text) (16-byte state per distinct document, never the
    text itself) and dropped if the same content was already seen inside
    the watermark horizon.

    This is how a continuously-ingesting corpus pipeline dedups at the
    door: state is bounded by the watermark (an exact-once-ever dedup
    instead keys the sink's idempotent writer, hop3 pattern), and the
    keeper is first-arrival — deterministic under event time because
    late data beyond the watermark is dropped by contract."""
    docs = spark.readStream.schema("doc_id long, ts timestamp, text string").json(
        docs_dir
    )
    return (
        docs.withColumn("text_hash", F.md5("text"))
        .withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["text_hash"])
    )


def streaming_session_counts(
    spark: SparkSession,
    events_dir: str,
    watermark: str = "1 hour",
    gap: str = "30 minutes",
) -> DataFrame:
    """T8: session windows in a stream — per-user sessions close when no
    event arrives within `gap`; watermark bounds session state.  The
    streaming twin of the batch ev_session_windows query."""
    ev = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string, value double"
        ).json(events_dir)
    )
    return (
        ev.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def streaming_stateful_running_max(
    spark: SparkSession, events_dir: str, watermark: str = "1 hour"
) -> DataFrame:
    """T8/U4: custom stateful operator via applyInPandasWithState — a
    per-user running maximum `value` with event count, state kept across
    micro-batches and dropped once the watermark passes (GroupStateTimeout
    on event time).  This is the 'operator Spark lacks' escape hatch:
    arbitrary per-key state with bounded cleanup.
    """
    from pyspark.sql.streaming.state import (  # noqa: PLC0415
        GroupState,
        GroupStateTimeout,
    )

    ev = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string, value double"
        ).json(events_dir)
    )

    out_schema = "user_id long, n_events long, max_value double"
    state_schema = "n long, mx double"

    def update(key, pdfs, state: GroupState):
        n, mx = (state.get if state.exists else (0, float("-inf")))
        for pdf in pdfs:
            n += len(pdf)
            if len(pdf):
                mx = max(mx, float(pdf["value"].max()))
        state.update((n, mx))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "max_value": [mx]}
        )

    return (
        ev.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def streaming_sliding_counts(
    spark: SparkSession,
    events_dir: str,
    watermark: str = "1 hour",
    window_size: str = "1 hour",
    slide: str = "30 minutes",
) -> DataFrame:
    """T8: sliding windows in a stream — each event lands in
    size/slide overlapping windows; watermark bounds retained state.
    Streaming twin of the batch ev_sliding_1h_30m query."""
    ev = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string, value double"
        ).json(events_dir)
    )
    return (
        ev.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window_size, slide).alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("win_start"), "n_events")
    )


def streaming_click_attribution_join(
    spark: SparkSession,
    impressions_dir: str,
    clicks_dir: str,
    how: str = "inner",
    watermark: str = "1 hour",
    max_delay: str = "30 minutes",
) -> DataFrame:
    """T8: stream-stream join — attribute each click to the impression
    that preceded it within `max_delay` (ad-attribution shape; the
    reference's cropper join J1 done between two live streams instead
    of two batch zones).

    Both sides carry watermarks and the join condition bounds click time
    to [impression ts, ts + max_delay], so the state store can evict an
    impression once the click watermark passes its delay horizon —
    bounded state at any scale.  `how="left_outer"` additionally emits
    never-clicked impressions after their horizon expires (emission
    happens on a LATER micro-batch, once the watermark has advanced —
    availableNow over a static directory never advances past the last
    batch, so outer results need a subsequent trigger; the test drives
    this with two runs against one checkpoint).
    """
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double"
    imp = (
        spark.readStream.schema(schema)
        .json(impressions_dir)
        .select(
            F.col("event_id").alias("imp_id"),
            F.col("user_id"),
            F.col("ts").alias("imp_ts"),
        )
        .withWatermark("imp_ts", watermark)
    )
    clk = (
        spark.readStream.schema(schema)
        .json(clicks_dir)
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("click_user"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", watermark)
    )
    cond = (
        (imp.user_id == clk.click_user)
        & (clk.click_ts >= imp.imp_ts)
        & (clk.click_ts <= imp.imp_ts + F.expr(f"INTERVAL {max_delay}"))
    )
    return imp.join(clk, cond, how).select(
        "imp_id", "user_id", "imp_ts", "click_id", "click_ts"
    )


def streaming_static_enrich(
    spark: SparkSession,
    events_dir: str,
    dim: DataFrame,
    watermark: str = "1 hour",
    window_size: str = "1 hour",
) -> DataFrame:
    """T8/J4: stream-static join — enrich each micro-batch with a
    static dimension (user -> segment), then windowed per-segment
    rollup.

    Stream-static joins keep NO join state: every micro-batch
    hash-joins the current static side, so the dimension can be
    swapped between restarts without touching the checkpoint.  The
    broadcast hint keeps the stream side shuffle-free at any scale —
    the canonical enrichment layout for a 100 TB/day event firehose
    against a bounded dimension."""
    ev = spark.readStream.schema(
        "event_id long, ts timestamp, user_id long, event_type string, value double"
    ).json(events_dir)
    return (
        ev.withWatermark("ts", watermark)
        .join(F.broadcast(dim), "user_id")
        .groupBy(F.window("ts", window_size).alias("w"), F.col("segment"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value"))
        .select(F.col("w.start").alias("win_start"), "segment", "n_events", "sum_value")
    )


def streaming_corpus_ingest(
    spark: SparkSession, docs_dir: str, watermark: str = "1 hour"
) -> DataFrame:
    """The curation pipeline at the INGEST DOOR (streaming twin of the
    stateless + dedup legs of `pipeline_corpus_curation`): a document
    stream flows through the quality gate (length + lexical diversity),
    the language filter (en), PII scrubbing, and md5-content dedup
    within the watermark horizon — so only clean, deduplicated, scrubbed
    documents ever land in the bronze corpus.

    Composition note: the quality/language/scrub legs are pure column
    expressions (stateless — identical plans batch or stream), and the
    only stateful operator is dropDuplicatesWithinWatermark keyed on the
    16-byte content hash, so state stays bounded at any ingest rate.
    The batch twin of each leg is oracle-checked (pipeline_corpus_
    curation, cur_pii_scrub); the stream test asserts batch/stream
    parity of the whole composition plus dedup behavior."""
    from pyspark.sql import functions as F  # noqa: PLC0415

    from specialsid_spark.operators.textops import lang_guess, quality_gate, tokens  # noqa: PLC0415
    from specialsid_spark.queries.curation import _PII_EMAIL, _PII_IPV4  # noqa: PLC0415

    docs = spark.readStream.schema("doc_id long, ts timestamp, text string").json(
        docs_dir
    )
    toks = tokens("text")
    english = docs.filter(quality_gate(toks) & (lang_guess(toks) == "en"))
    scrubbed = english.withColumn(
        "text",
        F.regexp_replace(
            F.regexp_replace("text", _PII_EMAIL, "<EMAIL>"), _PII_IPV4, "<IP>"
        ),
    )
    return (
        scrubbed.withColumn("text_hash", F.md5("text"))
        .withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["text_hash"])
    )


def _checkpoint_id(checkpoint_dir: str) -> str:
    """The streaming query id recorded in ``checkpoint_dir``: the same
    across restarts from one checkpoint, new for a recreated one ("" if
    the query has not started).  ``batch_id`` restarts at 0 with a new
    checkpoint, so a replay token must carry this id as well."""
    meta_file = os.path.join(checkpoint_dir, "metadata")
    if not os.path.exists(meta_file):
        return ""
    with open(meta_file) as fh:
        return json.load(fh).get("id", "")


def _summary_stream(
    source: DataFrame, path: str, checkpoint_dir: str, context: str, merge
) -> StreamingQuery:
    """Maintain the snapshot table at ``path`` from ``source``, exactly
    once per micro-batch.  ``merge(batch_df, batch_id, current)`` returns
    the new summary from the batch and the table's head (None before the
    first commit); it is committed as an overwrite whose manifest tag
    ``"{query_id}:{batch_id}"`` is the replay token, so the data and the
    record of the batch it applied become visible in ONE atomic publish
    (operators/snapshot.py).  A crash before the publish leaves only
    orphan files and the batch replays; a replayed batch at or below
    the head's id is skipped.  A head written under another checkpoint
    id, or a missing table past batch 0, fails loudly: replaying into
    either would silently drop batches.  Vacuum after each commit keeps
    two generations on disk."""
    from specialsid_spark.operators.snapshot import (
        _resolve,
        snapshot_commit,
        snapshot_read,
        snapshot_vacuum,
    )

    def run(batch_df: DataFrame, batch_id: int) -> None:
        query_id = _checkpoint_id(checkpoint_dir)
        try:
            head, manifest = _resolve(path)
        except FileNotFoundError:
            if batch_id > 0:
                raise ValueError(
                    f"{context}: summary at {path} has no committed version "
                    f"but checkpoint {checkpoint_dir} is at batch {batch_id} "
                    "— the summary was lost or predates snapshot commits. "
                    "Merging into an empty summary would silently drop "
                    "batches; delete the checkpoint (full rebuild) or "
                    "restore the summary."
                ) from None
            current = None
        else:
            applied_query, _, applied_id = manifest.get("tag", "").rpartition(":")
            if applied_query != query_id:
                raise ValueError(
                    f"{context}: summary at {path} was built by checkpoint "
                    f"id {applied_query!r} but the current checkpoint is "
                    f"{query_id!r} — the checkpoint dir was lost or "
                    "recreated over an existing summary. Replaying into it "
                    "could silently drop batches; delete the summary (full "
                    "rebuild) or restore the original checkpoint."
                )
            if batch_id <= int(applied_id):
                return  # crash-replayed batch: already merged
            current = snapshot_read(batch_df.sparkSession, path, head)
        snapshot_commit(
            merge(batch_df, batch_id, current),
            path,
            mode="overwrite",
            tag=f"{query_id}:{batch_id}",
        )
        snapshot_vacuum(path)

    return (
        source.writeStream.foreachBatch(run)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def streaming_decontaminate_ingest(
    spark: SparkSession,
    docs_dir: str,
    eval_grams: frozenset[str],
    k: int = 5,
    max_frac: float = 0.0,
) -> DataFrame:
    """Curation ∘ T1: the eval-set decontamination gate at the ingest
    door — the streaming twin of cur_ngram_decontaminate.  Documents
    whose distinct k-gram overlap with the benchmark set exceeds
    ``max_frac`` (default: ANY overlap) never enter the corpus.

    Grams are the batch query's: ``word_shingles`` over ``tokens()``,
    in Spark; the eval-gram set ships to executors once in the closure
    of ONE scalar pandas UDF that counts each doc's hits (real eval
    suites are a few million shingles — broadcast territory).
    Stateless, no shuffle, no state store.  The UDF is marked
    nondeterministic so the keep filter is not pushed below it: pushed,
    the filter would carry a second copy of the UDF and every doc's
    grams would cross Arrow twice.  NULL text has no grams, so it
    passes with n_grams = n_eval_hits = 0.  Returns the surviving
    stream with per-doc overlap columns so downstream audits can see
    what was near-missed; the caller attaches the sink."""
    from specialsid_spark.operators.textops import (  # noqa: PLC0415
        tokens,
        word_shingles,
    )

    @F.pandas_udf("long")
    def _eval_hits(grams: pd.Series) -> pd.Series:
        return grams.map(lambda g: len(eval_grams.intersection(g))).astype("int64")

    eval_hits = _eval_hits.asNondeterministic()

    docs = spark.readStream.schema("doc_id long, ts timestamp, text string").json(
        docs_dir
    )
    scored = (
        docs.withColumn("toks", tokens("text"))
        .withColumn("grams", word_shingles(F.col("toks"), k))
        .select(
            "doc_id",
            "ts",
            "text",
            F.size("grams").cast("long").alias("n_grams"),
            eval_hits("grams").alias("n_eval_hits"),
        )
    )
    frac = F.col("n_eval_hits") / F.greatest(F.col("n_grams"), F.lit(1))
    return scored.filter(frac <= max_frac)


def streaming_incremental_rollup(
    spark: SparkSession,
    events_dir: str,
    summary_path: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """T3/A1 ∘ streaming: MAINTAIN a per-event-type summary table from a
    stream via ``foreachBatch`` — each micro-batch's partial counts are
    merged into the summary (read-modify-write of a tiny aggregate, NOT
    a rescan of history).  This is the incremental-view pattern for
    metrics a 100 TB/day firehose feeds: state lives in the summary
    table itself, so the streaming query needs no state store at all.

    foreachBatch is at-least-once; the summary is a snapshot table
    committed through :func:`_summary_stream`, whose tagged manifest
    publish (operators/snapshot.py) makes each batch effectively-once.
    The batch function gets a NORMAL DataFrame, so the merge reuses the
    same groupBy/unionByName operators as batch code."""

    def merge(
        batch_df: DataFrame, batch_id: int, current: DataFrame | None
    ) -> DataFrame:
        partial = batch_df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value")
        )
        if current is None:
            return partial
        return (
            current.unionByName(partial)
            .groupBy("event_type")
            .agg(
                F.sum("n_events").alias("n_events"),
                F.sum("sum_value").alias("sum_value"),
            )
        )

    ev = spark.readStream.schema(
        "event_id long, ts timestamp, user_id long, event_type string, value double"
    ).json(events_dir)
    return _summary_stream(
        ev, summary_path, checkpoint_dir, "streaming_incremental_rollup", merge
    )


def streaming_snapshot_ivm(
    spark: SparkSession,
    docs_dir: str,
    table_path: str,
    summary_path: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """S10 ∘ T3 ∘ streaming (r6, VERDICT #9): the snapshot-IVM loop at
    the ingest door — each micro-batch is COMMITTED to the manifest
    snapshot table, and the downstream summary is maintained from the
    resulting SNAPSHOT DIFF (signed partial aggregates, zero-count
    retraction), never from a rescan.  This is the streaming twin of
    the batch `clean_snapshot_incremental_refresh` query: identical
    diff→signed-partials→union-reaggregate algebra, so stream and batch
    produce the same summary by construction.

    Exactly-once has TWO halves here, each a tagged snapshot commit
    that publishes its token atomically with its data:

    * the TABLE commit: ``snapshot_commit(tag=stream-batch-N)``, so a
      crash-replayed batch finds its version via
      ``snapshot_version_by_tag`` instead of appending twice;
    * the SUMMARY commit, through :func:`_summary_stream`; it lands
      after the table commit, so a summary that records batch N implies
      the table holds it.

    A replay therefore re-derives the SAME diff (manifests are
    immutable) and the merge layer decides idempotently whether it was
    applied.  At 100 TB the refresh cost tracks each batch's changed
    files — the manifest prunes everything else."""
    from specialsid_spark.operators.snapshot import (
        snapshot_commit,
        snapshot_diff,
        snapshot_read,
        snapshot_version_by_tag,
    )

    grp = (F.col("doc_id") % 7).cast("long").alias("grp")

    def merge(
        batch_df: DataFrame, batch_id: int, current: DataFrame | None
    ) -> DataFrame:
        tag = f"stream-batch-{batch_id}"
        v = snapshot_version_by_tag(table_path, tag)
        if v is None:
            v = snapshot_commit(batch_df, table_path, mode="append", tag=tag)
        # the batch's rows are exactly the diff from the version before
        # its own, also when its append rebased past another writer
        parent = v - 1 if v > 1 else None
        if parent is None:
            deltas = (
                snapshot_read(batch_df.sparkSession, table_path, v)
                .groupBy(grp)
                .agg(
                    F.count(F.lit(1)).cast("long").alias("n_rows"),
                    F.sum("value").cast("long").alias("sum_value"),
                )
            )
        else:
            sign = F.when(F.col("change_type") == "insert", F.lit(1)).otherwise(
                F.lit(-1)
            )
            deltas = (
                snapshot_diff(batch_df.sparkSession, table_path, parent, v)
                .select(grp, sign.alias("sgn"), "value")
                .groupBy("grp")
                .agg(
                    F.sum("sgn").cast("long").alias("n_rows"),
                    F.sum(F.col("sgn") * F.col("value"))
                    .cast("long")
                    .alias("sum_value"),
                )
            )
        if current is None:
            return deltas
        return (
            current.unionByName(deltas)
            .groupBy("grp")
            .agg(
                F.sum("n_rows").cast("long").alias("n_rows"),
                F.sum("sum_value").cast("long").alias("sum_value"),
            )
            .where(F.col("n_rows") > 0)  # retraction drops the group
        )

    docs = spark.readStream.schema("doc_id long, ts timestamp, value long").json(
        docs_dir
    )
    return _summary_stream(
        docs, summary_path, checkpoint_dir, "streaming_snapshot_ivm", merge
    )


def streaming_hll_registers(
    spark: SparkSession,
    events_dir: str,
    summary_path: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """T8 ∘ sketches: maintain per-event-type HyperLogLog registers
    (operators/sketches.py — the SAME md5-derived registers the batch
    query agg_hll_manual builds) incrementally at the ingest door.

    Each micro-batch reduces to its partial (event_type, bucket,
    max-rho) rows and MAX-merges them into the register table, a
    snapshot table committed through :func:`_summary_stream`.
    MAX-merge is idempotent AND associative — precisely why HLL is the
    distinct-count structure a 100 TB/day firehose can maintain: the
    summary is at most |types| * 1024 rows forever, replays cannot
    inflate it, and registers built on different days / partitions /
    engines combine losslessly.  Distinct user_id per event type is the
    demo target (the classic "daily uniques" metric)."""
    from specialsid_spark.operators.sketches import hll_bucket, hll_rho

    def merge(
        batch_df: DataFrame, batch_id: int, current: DataFrame | None
    ) -> DataFrame:
        h = batch_df.select(
            "event_type", F.md5(F.col("user_id").cast("string")).alias("hh")
        )
        partial = (
            h.select(
                "event_type",
                hll_bucket(F.col("hh")).alias("bucket"),
                hll_rho("hh").alias("rho"),
            )
            .groupBy("event_type", "bucket")
            .agg(F.max("rho").alias("mj"))
        )
        if current is None:
            return partial
        return (
            current.withColumnRenamed("mj", "rho")
            .unionByName(partial.withColumnRenamed("mj", "rho"))
            .groupBy("event_type", "bucket")
            .agg(F.max("rho").alias("mj"))
        )

    ev = spark.readStream.schema(
        "event_id long, ts timestamp, user_id long, event_type string, value double"
    ).json(events_dir)
    return _summary_stream(
        ev, summary_path, checkpoint_dir, "streaming_hll_registers", merge
    )


def streaming_cms_counters(
    spark: SparkSession,
    events_dir: str,
    summary_path: str,
    checkpoint_dir: str,
    d: int = 4,
    w: int = 512,
) -> StreamingQuery:
    """T8 ∘ sketches, the frequency twin of streaming_hll_registers: a
    count-min counter matrix over event user_ids maintained per
    micro-batch.  CMS counters merge by ADDITION — which is NOT
    idempotent under replay, so unlike the MAX-merged HLL this sink is
    only correct because :func:`_summary_stream`'s tagged snapshot
    commit makes each batch effectively-once (the same reason the count
    rollup is safe).  The summary is d*w rows forever; heavy-hitter
    point queries read it with min-over-rows, batch or streaming
    alike."""

    def merge(
        batch_df: DataFrame, batch_id: int, current: DataFrame | None
    ) -> DataFrame:
        j = F.explode(F.array(*[F.lit(i) for i in range(d)])).alias("j")
        cells = batch_df.select(F.col("user_id").cast("string").alias("k"), j)
        partial = (
            cells.select(
                "j",
                (
                    F.conv(
                        # row j = hex chars [8j, 8j+8) of ONE digest per
                        # key — same derivation as agg_countmin_topk, so
                        # batch and streaming counters are THE SAME sketch
                        F.substring(F.md5(F.col("k")), 1 + 8 * F.col("j"), 8),
                        16,
                        10,
                    ).cast("long")
                    % w
                ).alias("col"),
            )
            .groupBy("j", "col")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        if current is None:
            return partial
        return (
            current.unionByName(partial)
            .groupBy("j", "col")
            .agg(F.sum("c").alias("c"))
        )

    ev = spark.readStream.schema(
        "event_id long, ts timestamp, user_id long, event_type string, value double"
    ).json(events_dir)
    return _summary_stream(
        ev, summary_path, checkpoint_dir, "streaming_cms_counters", merge
    )


def hll_summary_estimates(spark: SparkSession, summary_path: str) -> DataFrame:
    """Read a maintained register table and produce per-type distinct
    estimates — the exact dyadic arithmetic of agg_hll_manual, so a
    register table maintained by the STREAM yields bit-identical
    estimates to one built by the batch query over the same rows."""
    from specialsid_spark.operators.sketches import hll_estimate, hll_s33
    from specialsid_spark.operators.snapshot import snapshot_read

    regs = snapshot_read(spark, summary_path)
    agg = regs.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_hit"),
        F.sum(F.pow(F.lit(2.0), 33 - F.col("mj")).cast("long")).alias("s_hit"),
    )
    s33 = hll_s33(F.col("s_hit"), F.col("n_hit"))
    return agg.select(
        "event_type",
        F.col("n_hit").cast("long").alias("n_registers_hit"),
        s33.cast("long").alias("s33"),
        F.round(hll_estimate(s33), 3).alias("hll_estimate"),
    ).orderBy("event_type")


def streaming_stateful_value_stats_tws(
    spark: SparkSession, events_dir: str, watermark: str = "1 hour"
) -> DataFrame:
    """T8/U4 on Spark 4's NEW arbitrary-stateful API
    (`transformWithStateInPandas`, the successor to
    applyInPandasWithState): a per-user running (count, sum, max) of
    event values kept in a typed ValueState inside a StatefulProcessor.

    Why both APIs ship here: applyInPandasWithState (the r2 operator
    above) is the stable classic; transformWithState is where Spark is
    going — composable typed state (value/list/map), timers, and state
    schema evolution — so a user migrating their custom operators finds
    both surfaces re-expressed.  The state is one 3-field tuple per
    user: bounded, shuffle-partitioned by key, exactly the shape that
    scales to 100 TB/day keyed streams."""
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle  # noqa: PLC0415

    ev = spark.readStream.schema(
        "event_id long, ts timestamp, user_id long, event_type string, value double"
    ).json(events_dir)

    class ValueStats(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self.state = handle.getValueState(
                "stats", "n long, total double, mx double"
            )

        def handleInputRows(self, key, rows, timerValues):
            n, total, mx = (
                self.state.get() if self.state.exists() else (0, 0.0, float("-inf"))
            )
            for pdf in rows:
                n += len(pdf)
                if len(pdf):
                    total += float(pdf["value"].sum())
                    mx = max(mx, float(pdf["value"].max()))
            self.state.update((n, total, mx))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "sum_value": [total], "max_value": [mx]}
            )

        def close(self) -> None:
            pass

    return (
        ev.withWatermark("ts", watermark)
        .groupBy("user_id")
        .transformWithStateInPandas(
            ValueStats(),
            outputStructType="user_id long, n_events long, sum_value double, max_value double",
            outputMode="Update",
            timeMode="None",
        )
    )


def streaming_neardup_ingest(
    spark: SparkSession,
    docs_dir: str,
    index_path: str,
    checkpoint_dir: str,
    retention_seconds: int | None = None,
) -> StreamingQuery:
    """X1 ∘ T8 (r6): MinHash-LSH NEAR-dup gating at the ingest door —
    the near-dup twin of `streaming_content_dedup` (which is exact-hash
    only).  Each micro-batch's documents are banded with the SAME
    signature kernel as the batch pipeline (dedup.lsh_band_keys, 16
    components, 4 bands of 4, s* ≈ 0.71) and a document is dropped when
    ANY of its band buckets was already occupied — by a prior batch
    (the persisted index) or by a lower-id document in the same batch —
    the batch pipeline's greedy keep-lowest-id rule, evaluated by the
    same dedup.lsh_verdict the gates use, so a stream over ordered
    slices reproduces the batch survivor set bit-for-bit (tested).
    Unlike lsh_gate's index, which holds only ADMITTED docs' bands,
    this index holds every SEEN doc's bands with their ``last_seen``.

    State design for 100 TB: the index holds (band, bkey) pairs — 16
    bytes per band per SEEN document, never text or signatures — and is
    a snapshot table committed through :func:`_summary_stream`, so
    replays are idempotent.  Kept doc_ids ride the same table as
    kind='doc' rows: one atomic publish covers the index AND the
    survivor list.

    Retention horizon (r7, VERDICT #5): with ``retention_seconds`` set,
    every band row carries ``last_seen`` = the max EVENT time of the
    docs that touched it, and rows older than (batch max event time -
    horizon) are evicted BEFORE gating — so a later near-dup of an
    expired document is ADMITTED, the index size is bounded by the
    horizon's document flow instead of growing monotonically forever,
    and — because the cutoff derives from event time in the data, not
    wall clock — replays stay byte-idempotent.  The same idea as the
    watermark bounding streaming_content_dedup's state, applied to a
    foreachBatch-owned table."""
    from specialsid_spark.queries.dedup import lsh_band_keys, lsh_verdict

    docs = spark.readStream.schema("doc_id long, ts timestamp, text string").json(
        docs_dir
    )

    def merge(
        batch_df: DataFrame, batch_id: int, current: DataFrame | None
    ) -> DataFrame:
        bands = (
            lsh_band_keys(batch_df.select("doc_id", "text"))
            .join(batch_df.select("doc_id", "ts"), "doc_id")
            .localCheckpoint(eager=True)
        )
        cutoff = None
        if retention_seconds is not None:
            # event-time horizon: data-derived (replay-idempotent),
            # 1-row bounded collect
            mx = batch_df.agg(F.max("ts")).collect()[0][0]
            if mx is not None:
                import datetime as _dt  # noqa: PLC0415

                cutoff = mx - _dt.timedelta(seconds=retention_seconds)

        if current is None:
            prior_bands = None
            prior_docs = None
        else:
            current = current.localCheckpoint(eager=True)
            prior_bands = current.filter(F.col("kind") == "band").select(
                "band", "bkey", "last_seen"
            )
            if cutoff is not None:
                # evict BEFORE gating: an expired bucket no longer
                # blocks, and no longer occupies state.  NULL
                # last_seen (band rows of docs whose ts is NULL) =
                # unknown age: keep — the gate may only err toward
                # blocking, never toward wrongly admitting a dup; the
                # row picks up a real last_seen on its next touch.
                prior_bands = prior_bands.filter(
                    F.col("last_seen").isNull()
                    | (F.col("last_seen") >= F.lit(cutoff))
                )
            prior_docs = current.filter(F.col("kind") == "doc")
        # dup if any band bucket is occupied by a prior batch or by a
        # lower-id doc of the SAME batch: the shared LSH gate rule.
        # Docs too short to shingle have no band rows and stay kept.
        dups = lsh_verdict(
            bands,
            prior_bands.select("band", "bkey") if prior_bands is not None else None,
        ).filter("admitted = 0")
        kept = (
            batch_df.select("doc_id")
            .distinct()
            .join(dups, "doc_id", "left_anti")
            .select(
                F.lit("doc").alias("kind"),
                F.lit(None).cast("int").alias("band"),
                F.lit(None).cast("string").alias("bkey"),
                "doc_id",
                F.lit(None).cast("timestamp").alias("last_seen"),
            )
        )
        new_bands = bands.groupBy("band", "bkey").agg(
            F.max("ts").alias("last_seen")
        )
        all_bands = (
            new_bands.unionByName(prior_bands)
            if prior_bands is not None
            else new_bands
        )
        band_rows = (
            all_bands.groupBy("band", "bkey")
            .agg(F.max("last_seen").alias("last_seen"))
            .select(
                F.lit("band").alias("kind"),
                F.col("band").cast("int").alias("band"),
                "bkey",
                F.lit(None).cast("long").alias("doc_id"),
                "last_seen",
            )
        )
        out = kept.unionByName(band_rows)
        if prior_docs is not None:
            out = out.unionByName(
                prior_docs.select(
                    "kind", "band", "bkey", "doc_id", "last_seen"
                )
            ).distinct()
        return out

    return _summary_stream(
        docs, index_path, checkpoint_dir, "streaming_neardup_ingest", merge
    )


def streaming_scd2_maintain(
    spark: SparkSession,
    events_dir: str,
    dim_path: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """T8 ∘ lakehouse (r7): STREAMING SCD Type 2 dimension maintenance —
    the incremental twin of the batch ``ev_scd2_user_segments`` build.
    The maintained table holds the dimension's CHANGE POINTS
    (user_id, ts, event_id, segment); validity intervals derive from
    them with one lead() at read time, so the stored state is exactly
    the information content of the dimension, nothing derived.

    Per micro-batch (committed through :func:`_summary_stream`, so
    replays are effectively-once): each user's last stored change point seeds a
    lag() window over that user's new events in event order, and only
    genuine segment transitions append.  Contract: event time moves
    forward across batches per user (the file-source + watermark
    arrangement every hop here uses); a late event older than a stored
    change point would need interval splitting — the documented
    re-derivation path is replaying the affected users through the
    batch build.

    At 100 TB: state grows with segment TRANSITIONS (the dimension's
    true size), not event volume; each batch shuffles once on user_id."""
    ev = spark.readStream.schema(
        "event_id long, ts timestamp, user_id long, value double"
    ).json(events_dir)

    segment = (
        F.when(F.col("value") < 21, "low")
        .when(F.col("value") < 57, "mid")
        .otherwise("high")
    )

    def merge(
        batch_df: DataFrame, batch_id: int, current: DataFrame | None
    ) -> DataFrame:
        from pyspark.sql.window import Window  # noqa: PLC0415

        rows = (
            batch_df.select("user_id", "ts", "event_id", segment.alias("segment"))
            .localCheckpoint(eager=True)
            .withColumn("is_state", F.lit(0))
        )
        if current is not None:
            current = current.localCheckpoint(eager=True)
            wlast = Window.partitionBy("user_id").orderBy(
                F.col("ts").desc(), F.col("event_id").desc()
            )
            last = (
                current.withColumn("rn", F.row_number().over(wlast))
                .filter(F.col("rn") == 1)
                .select("user_id", "ts", "event_id", "segment")
                .withColumn("is_state", F.lit(1))
            )
            rows = rows.unionByName(last)
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        changed = (
            rows.withColumn("prev", F.lag("segment").over(w))
            .filter(
                (F.col("is_state") == 0)
                & (F.col("prev").isNull() | (F.col("prev") != F.col("segment")))
            )
            .select("user_id", "ts", "event_id", "segment")
        )
        if current is None:
            return changed
        return current.select(
            "user_id", "ts", "event_id", "segment"
        ).unionByName(changed)

    return _summary_stream(
        ev, dim_path, checkpoint_dir, "streaming_scd2_maintain", merge
    )


def scd2_intervals(spark: SparkSession, dim_path: str) -> DataFrame:
    """Materialize SCD2 validity intervals from the maintained
    change-point table: one lead() per user, open intervals are
    current — identical output contract to ev_scd2_user_segments."""
    from pyspark.sql.window import Window  # noqa: PLC0415

    from specialsid_spark.operators.snapshot import snapshot_read

    cp = snapshot_read(spark, dim_path)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        cp.withColumn("valid_to", F.lead("ts").over(w))
        .select(
            "user_id",
            "segment",
            F.col("ts").cast("string").alias("valid_from"),
            F.col("valid_to").cast("string"),
            F.when(F.lead("ts").over(w).isNull(), 1)
            .otherwise(0)
            .cast("int")
            .alias("is_current"),
        )
        .orderBy("user_id", "valid_from")
    )


def streaming_cusum_monitor(
    spark: SparkSession,
    events_dir: str,
    mu_cents: int,
    watermark: str = "1 hour",
) -> DataFrame:
    """T8/W extension (r9 wave 2): per-type streaming CUSUM drift
    monitor — the control-chart setting of the batch
    `ev_cusum_changepoint`: the target mean mu is a DESIGN PARAMETER
    (given in cents), because an online monitor cannot know the corpus
    mean; everything else matches the batch formulation exactly, with
    residuals in the same 4x-scaled integer units so kappa = mu/4 and
    H = 2*mu stay exact integers.

    Per-key state is what the batch prefix-sum identity says a
    sequential evaluation needs: the two CUSUM registers (s_up, s_dn),
    the two flag counters, plus ALL open hour buckets and the
    last-closed hour.  An hour closes when a LATER hour arrives for
    the key (event-time ordering within the key — the file-source
    arrangement every hop here uses).  Residuals per closed hour:
    r_up = 4*yc - 5*mu_cents, r_dn = 3*mu_cents - 4*yc; breach when a
    register exceeds H = 8*mu_cents (scaled units).

    Lateness contract (ADVICE r9): an event for an hour that has
    ALREADY CLOSED cannot be folded into the registers without
    re-applying that hour's residual — the r9 version re-inserted and
    double-closed it, permanently corrupting s_up/s_dn.  Now such
    events are DROPPED AND COUNTED (`n_late_dropped`), the standard
    control-chart discipline; events for any still-open hour (even
    out-of-order across batches) merge into their buffered bucket
    exactly.  A zero n_late_dropped certifies the monitor saw a
    loss-free hour-monotone feed.

    Scale shape: state is 7 integers + the open-hour buffer (bounded
    by the watermark horizon in hours) per event_type — O(|keys|),
    never O(events); each micro-batch shuffles (event_type, hour,
    cents) partials only."""
    from pyspark.sql.streaming.state import (  # noqa: PLC0415
        GroupState,
        GroupStateTimeout,
    )

    ev = spark.readStream.schema(
        "event_id long, ts timestamp, user_id long, event_type string, value double"
    ).json(events_dir)

    out_schema = (
        "event_type string, n_hours_closed long, s_up long, s_dn long,"
        " n_up_flags long, n_dn_flags long, open_hour long, open_sum long,"
        " n_late_dropped long"
    )
    state_schema = (
        "s_up long, s_dn long, n_up long, n_dn long, n_closed long,"
        " last_closed long, n_late long,"
        " open_hours array<long>, open_sums array<long>"
    )
    h_thresh = 8 * mu_cents

    def update(key, pdfs, state: GroupState):
        if state.exists:
            (s_up, s_dn, n_up, n_dn, n_closed, last_closed, n_late,
             open_hours, open_sums) = state.get
        else:
            s_up = s_dn = n_up = n_dn = n_closed = n_late = 0
            last_closed = -1
            open_hours, open_sums = [], []
        hours: dict[int, int] = dict(zip(open_hours or [], open_sums or []))
        for pdf in pdfs:
            if not len(pdf):
                continue
            hs = (pdf["ts"].astype("int64") // (3_600 * 10**9)).astype("int64")
            cents = (pdf["value"] * 100).round().astype("int64")
            for h, c in zip(hs, cents):
                h = int(h)
                if h <= last_closed:
                    # too late to fold without double-applying the
                    # hour's residual: drop + count (see docstring)
                    n_late += 1
                    continue
                hours[h] = hours.get(h, 0) + int(c)
        if hours:
            ordered = sorted(hours)
            for h in ordered[:-1]:  # every hour older than the newest closes
                yc = hours.pop(h)
                s_up = max(0, s_up + (4 * yc - 5 * mu_cents))
                s_dn = max(0, s_dn + (3 * mu_cents - 4 * yc))
                n_up += 1 if s_up > h_thresh else 0
                n_dn += 1 if s_dn > h_thresh else 0
                n_closed += 1
                last_closed = h
        open_hours = sorted(hours)
        open_sums = [hours[h] for h in open_hours]
        state.update(
            (s_up, s_dn, n_up, n_dn, n_closed, last_closed, n_late,
             open_hours, open_sums)
        )
        yield pd.DataFrame(
            {
                "event_type": [key[0]],
                "n_hours_closed": [n_closed],
                "s_up": [s_up],
                "s_dn": [s_dn],
                "n_up_flags": [n_up],
                "n_dn_flags": [n_dn],
                "open_hour": [open_hours[-1] if open_hours else -1],
                "open_sum": [open_sums[-1] if open_sums else 0],
                "n_late_dropped": [n_late],
            }
        )

    return (
        ev.withWatermark("ts", watermark)
        .groupBy("event_type")
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def _parquet_data_schema(path: str) -> T.StructType:
    """The data columns of the Spark-written parquet directory ``path``,
    as Spark records them in every file's footer: ONE driver-side footer
    read of the first data file, where ``spark.read.parquet(path).schema``
    runs a Spark job.  Hidden names (``_spark_metadata``, ``.crc``) are
    skipped as Spark skips them.  A stream given these columns infers
    the ``key=value`` partition columns from the directory listing
    itself, so its schema is the one a batch read infers."""
    import pyarrow.parquet as pq  # noqa: PLC0415

    root = Path(path)
    files = sorted(
        f
        for f in root.rglob("*.parquet")
        if not any(p.startswith(("_", ".")) for p in f.relative_to(root).parts)
    )
    if not files:
        raise FileNotFoundError(f"no parquet data file under {path}")
    meta = pq.read_schema(files[0]).metadata
    return T.StructType.fromJson(
        json.loads(meta[b"org.apache.spark.sql.parquet.row.metadata"])
    )


def _hop4_gate_stream(
    spark: SparkSession,
    clean_dir: str,
    index_table: str,
    checkpoint_dir: str,
    id_expr: str,
    text_expr: str,
    name: str,
    keys_of,
    gate,
) -> StreamingQuery:
    """The stream body both hop4 gates share: the clean zone streams
    into a foreachBatch that projects (doc_id, text) through
    ``id_expr``/``text_expr``, builds the batch's signature key rows
    with ``keys_of`` behind ONE eager barrier (the verdict reads them
    three times and the commit once more), and hands them to ``gate``
    (queries/dedup.py lsh_gate / simhash_gate) with the tag
    ``hop4-<name>-<checkpoint id>-<batch_id>``.  The gate's commit
    carries that tag, so commit and idempotency token become visible in
    the same atomic manifest publish and a crash-replayed micro-batch is
    a no-op (snapshot_version_by_tag short-circuit).  A recreated
    checkpoint has a new id, so its batches never match the old run's
    tags: they re-gate the clean zone, and every doc the index already
    holds is a corpus hit, so nothing is admitted twice."""
    from specialsid_spark.operators.snapshot import snapshot_version_by_tag

    stream = spark.readStream.schema(_parquet_data_schema(clean_dir)).parquet(clean_dir)

    def run(batch_df: DataFrame, batch_id: int) -> None:
        tag = f"hop4-{name}-{_checkpoint_id(checkpoint_dir)}-{batch_id}"
        if snapshot_version_by_tag(index_table, tag) is not None:
            return  # replayed micro-batch: already committed
        docs = (
            batch_df.selectExpr(
                f"{id_expr} AS doc_id", f"{text_expr} AS text"
            )
            .filter("doc_id IS NOT NULL AND text <> ''")
            .distinct()
        )
        gate(keys_of(docs).localCheckpoint(eager=True), index_table, tag=tag)

    return (
        stream.writeStream.foreachBatch(run)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def hop4_incremental_lsh_gate(
    spark: SparkSession,
    clean_dir: str,
    index_table: str,
    checkpoint_dir: str,
    id_expr: str = "xxhash64(source_file, product_name)",
    text_expr: str = "concat_ws(' ', product_name, brand)",
) -> StreamingQuery:
    """T1 ∘ X1: the incremental MinHash-LSH dedup gate CHAINED AFTER
    hop3 — each clean-zone micro-batch goes through
    queries/dedup.py::lsh_gate, the same verdict-and-commit path
    dedup_incremental_lsh runs per daily drop: (1) probe the PERSISTED
    snapshot band index, (2) intra-dedup the micro-batch with the
    greedy keep-lowest-id rule, and (3) append the admitted docs' bands
    AND their doc ids as ONE tagged snapshot commit (replay-safe, see
    _hop4_gate_stream).

    vs. streaming_neardup_ingest: same gate semantics, different table
    layout — this one APPENDS to a snapshot table that the daily batch
    gate writes in the same layout and can share, where
    streaming_neardup_ingest rewrites its whole index per batch.

    At 100 TB: each batch's probe joins its band keys against the WHOLE
    persisted index (a broadcast or sort-merge join over every
    generation), so a micro-batch costs O(index), not O(batch) — ROADMAP
    direction 2 is the fix.  The index table is distinct (band, bkey)
    pairs + admitted doc ids, append-only and vacuumable."""
    from specialsid_spark.queries.dedup import lsh_band_keys, lsh_gate

    return _hop4_gate_stream(
        spark, clean_dir, index_table, checkpoint_dir, id_expr, text_expr,
        "lsh", lsh_band_keys, lsh_gate,
    )


def streaming_ann_postings_ingest(
    spark: SparkSession,
    vectors_dir: str,
    quantizer_table: str,
    postings_table: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """X2 ∘ T1 (r12): the streaming form of sim_ivf_incremental_add's
    add step — new embedding drops stream in as JSON, each micro-batch
    is assigned against the FROZEN persisted quantizer (centroids load
    from the snapshot table; a bounded k-row collect) by the same
    ``assign_clusters`` kernel as the batch add, in one map-side pass,
    and the (vec_id, cid) postings append as ONE tagged snapshot
    commit, so crash-replayed micro-batches short-circuit on the
    idempotency tag ``ann-add-<checkpoint id>-<batch_id>``.  The append
    is not idempotent across checkpoints, so a postings table that
    already holds ``ann-add`` commits of another checkpoint id raises
    ValueError instead of appending the drops a second time.  The index
    never stores vectors and never touches prior generations; any
    postings version stays time-travelable.

    At 100 TB: a daily embedding drop indexes in one pass over the
    drop — the k centroids ride the kernel's closure, the commit is
    append-only."""
    from specialsid_spark.operators.kmeans import assign_clusters, lattice
    from specialsid_spark.operators.snapshot import (
        _read_manifest,
        snapshot_commit,
        snapshot_versions,
    )
    from specialsid_spark.queries.vectors import ivf_centroids_from_table

    vecs = spark.readStream.schema("vec_id long, embedding array<double>").json(
        vectors_dir
    )

    def add_batch(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        own = f"ann-add-{_checkpoint_id(checkpoint_dir)}-"
        tag = f"{own}{batch_id}"
        tags = {
            _read_manifest(postings_table, v).get("tag") or ""
            for v in snapshot_versions(postings_table)
        }
        if tag in tags:
            return  # replayed micro-batch
        foreign = sorted(t for t in tags if t.startswith("ann-add-") and not t.startswith(own))
        if foreign:
            raise ValueError(
                f"streaming_ann_postings_ingest: postings at {postings_table} "
                f"hold commits of another checkpoint ({foreign[-1]!r}) but the "
                f"current checkpoint {checkpoint_dir} tags {own!r} — the "
                "checkpoint dir was lost or recreated. Appending would add "
                "its drops a second time; rebuild the postings or restore "
                "the original checkpoint."
            )
        centroids = ivf_centroids_from_table(sess, quantizer_table)
        mu = batch_df.select("vec_id", lattice(F.col("embedding")).alias("mu"))
        postings = assign_clusters(mu, centroids).select("vec_id", "cid")
        snapshot_commit(postings.coalesce(1), postings_table, mode="append", tag=tag)

    return (
        vecs.writeStream.foreachBatch(add_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def hop4_incremental_simhash_gate(
    spark: SparkSession,
    clean_dir: str,
    index_table: str,
    checkpoint_dir: str,
    id_expr: str = "xxhash64(source_file, product_name)",
    text_expr: str = "concat_ws(' ', product_name, brand)",
) -> StreamingQuery:
    """T1 ∘ X1: the incremental SimHash dedup gate CHAINED AFTER hop3,
    for pipelines whose near-dup definition is bit-flip tolerance
    rather than Jaccard banding.  Each clean-zone micro-batch goes
    through queries/dedup.py::simhash_gate, the same verdict-and-commit
    path dedup_incremental_simhash runs per daily drop: (1) probe the
    PERSISTED snapshot probe index for any admitted signature within
    Hamming 3 (radius verified IN the pigeonhole join — exact), (2)
    intra-dedup the micro-batch with the greedy keep-lowest-id rule at
    the same radius, and (3) append the admitted docs' probe rows AND
    their doc ids as ONE tagged snapshot commit (replay-safe, see
    _hop4_gate_stream).

    At 100 TB: each batch's probe joins its block keys (4 rows x 4
    longs per doc) against the WHOLE persisted index (a broadcast or
    sort-merge join over every generation), so a micro-batch costs
    O(index), not O(batch) — ROADMAP direction 2 is the fix.  The index
    table is append-only, vacuumable, and written in the daily batch
    gate's layout."""
    from specialsid_spark.queries.dedup import (
        _simhash_block_sigs,
        simhash_gate,
        simhash_probes,
    )

    def probes_of(docs: DataFrame) -> DataFrame:
        return simhash_probes(
            _simhash_block_sigs(docs.sparkSession, clean_dir, 32, docs=docs)
        )

    return _hop4_gate_stream(
        spark, clean_dir, index_table, checkpoint_dir, id_expr, text_expr,
        "simhash", probes_of, simhash_gate,
    )
