"""Deterministic sketch queries (queries/aggregates.py): the md5-built
HLL and count-min carry real probabilistic guarantees — pin them, not
just cross-engine equality (the oracle gate already proves that).

HLL accuracy is pinned at sf0.01: sf0.001's ~1.1k distinct orders per
flag sit inside the 2.5m small-range regime where the RAW estimate
(deliberately uncorrected, see the query docstring) overshoots.
"""

from __future__ import annotations

from specialsid_spark.operators.snapshot import snapshot_read
from specialsid_spark.queries import all_queries

SF001 = "/root/testdata/sf0.01"


def test_hll_manual_accuracy(spark):
    rows = all_queries()["agg_hll_manual"](spark, SF001).collect()
    assert len(rows) == 3
    for r in rows:
        assert r.n_exact > 2.5 * 1024, "fixture must be past small-range"
        rel = abs(r.hll_estimate - r.n_exact) / r.n_exact
        # 1.04/sqrt(1024) ~ 3.3% expected sigma; 10% is a 3-sigma bound
        assert rel < 0.10, (r.l_returnflag, rel)
        # registers and the dyadic sum stay on the integer lattice
        assert 0 < r.n_registers_hit <= 1024
        assert r.s33 > 0


def test_countmin_one_sided_and_tight(spark, sf_dir):
    rows = all_queries()["agg_countmin_topk"](spark, sf_dir).collect()
    assert len(rows) == 10
    total = sum(r.exact_n for r in rows)  # lower bound on stream size N
    for r in rows:
        # the CMS guarantee: never underestimates...
        assert r.overestimate >= 0
        assert r.cms_estimate == r.exact_n + r.overestimate
    # ...and with d=4 rows the min is within e*N/w of exact whp; the
    # true N is bounded by the whole fixture (~6k rows at sf0.001), so
    # a generous 5%-of-top-counts bound stays red on a broken hash mix
    n_stream = max(total, 6000)
    for r in rows:
        assert r.overestimate <= max(64, 0.05 * n_stream), (
            r.l_suppkey,
            r.overestimate,
        )


def _write_events(path, rows):
    import json

    with open(path, "w") as fh:
        for r in rows:
            fh.write(json.dumps(r) + "\n")


def _batch_registers(spark, rows):
    """The batch twin: registers over the same rows via sketches.py."""
    from pyspark.sql import functions as F

    from specialsid_spark.operators.sketches import hll_bucket, hll_rho

    df = spark.createDataFrame(
        [(r["event_type"], r["user_id"]) for r in rows],
        "event_type string, user_id long",
    )
    h = df.select("event_type", F.md5(F.col("user_id").cast("string")).alias("hh"))
    return {
        (r["event_type"], r["bucket"]): r["mj"]
        for r in h.select(
            "event_type",
            hll_bucket(F.col("hh")).alias("bucket"),
            hll_rho("hh").alias("rho"),
        )
        .groupBy("event_type", "bucket")
        .agg(F.max("rho").alias("mj"))
        .collect()
    }


def test_streaming_hll_registers_match_batch_and_replay(spark, tmp_path):
    """Registers maintained incrementally over two micro-batches equal
    the batch build over the union; a checkpointed re-run merges
    nothing (MAX-merge idempotence under the crash-safe protocol)."""
    from specialsid_spark.streaming.pipeline import (
        hll_summary_estimates,
        streaming_hll_registers,
    )

    ev_dir = tmp_path / "ev"
    ev_dir.mkdir()
    summary = str(tmp_path / "hll_summary")
    ckpt = str(tmp_path / "hll_ckpt")
    b1 = [
        {"event_id": i, "ts": "2024-01-01 10:00:00", "user_id": 100 + i,
         "event_type": "click" if i % 2 else "view", "value": 1.0}
        for i in range(40)
    ]
    _write_events(ev_dir / "b1.json", b1)
    streaming_hll_registers(spark, str(ev_dir), summary, ckpt).awaitTermination()

    b2 = [
        {"event_id": 1000 + i, "ts": "2024-01-01 11:00:00", "user_id": 120 + i,
         "event_type": "click", "value": 1.0}
        for i in range(40)
    ]
    _write_events(ev_dir / "b2.json", b2)
    streaming_hll_registers(spark, str(ev_dir), summary, ckpt).awaitTermination()

    got = {
        (r["event_type"], r["bucket"]): r["mj"]
        for r in snapshot_read(spark, summary).collect()
    }
    assert got == _batch_registers(spark, b1 + b2)

    # re-run with nothing new: checkpoint replays nothing, bytes equal
    streaming_hll_registers(spark, str(ev_dir), summary, ckpt).awaitTermination()
    again = {
        (r["event_type"], r["bucket"]): r["mj"]
        for r in snapshot_read(spark, summary).collect()
    }
    assert again == got

    # estimates come out of the maintained table with the batch formula;
    # 60 distinct users per type at m=1024 sits deep in the small-range
    # regime, so only sanity (positive, register count consistent) is
    # asserted here — accuracy is pinned at scale in test_hll_manual
    est = {r["event_type"]: r for r in hll_summary_estimates(spark, summary).collect()}
    n_click = len({r["user_id"] for r in b1 + b2 if r["event_type"] == "click"})
    assert est["click"]["n_registers_hit"] == len(
        {b for (t, b) in got if t == "click"}
    )
    assert est["click"]["hll_estimate"] > 0
    assert n_click > 0


def test_pca_from_gram_matches_numpy(spark):
    """The split PCA (distributed exact-integer Gram + driver eigh)
    reproduces numpy PCA done directly on the micro-unit matrix."""
    import numpy as np

    from specialsid_spark.operators.pca import fit_pca, pca_components
    from specialsid_spark.queries import all_queries

    sf = "/root/testdata/sf0.001"
    gram_df = all_queries()["emb_gram_matrix"](spark, sf)
    vals, vecs = fit_pca(gram_df, dim=64, k=8)

    # independent reference: numpy all the way from the parquet floats
    import pyarrow.parquet as pq

    emb = pq.read_table(f"{sf}/embeddings.parquet").to_pandas()["embedding"]
    x = np.floor(np.stack(emb.to_numpy()).astype(np.float64) * 1_000_000)
    ref_vals, ref_vecs = pca_components(x.T @ x, 8)

    assert np.allclose(vals, ref_vals, rtol=1e-12)
    assert np.allclose(vecs, ref_vecs, atol=1e-9)
    # components are orthonormal and explain descending variance
    assert np.allclose(vecs.T @ vecs, np.eye(8), atol=1e-9)
    assert all(vals[i] >= vals[i + 1] for i in range(7))


def test_streaming_cms_counters_match_batch_and_replay(spark, tmp_path):
    """CMS counters maintained over two micro-batches equal one batch
    build over the union, and a checkpointed re-run adds nothing —
    SUM-merge is only safe because the summary's tagged snapshot commit
    makes each batch effectively-once."""
    from pyspark.sql import functions as F

    from specialsid_spark.streaming.pipeline import streaming_cms_counters

    ev_dir = tmp_path / "ev_cms"
    ev_dir.mkdir()
    summary = str(tmp_path / "cms_summary")
    ckpt = str(tmp_path / "cms_ckpt")
    b1 = [
        {"event_id": i, "ts": "2024-01-01 10:00:00", "user_id": i % 7,
         "event_type": "click", "value": 1.0}
        for i in range(50)
    ]
    b2 = [
        {"event_id": 100 + i, "ts": "2024-01-01 11:00:00", "user_id": i % 3,
         "event_type": "view", "value": 1.0}
        for i in range(30)
    ]
    _write_events(ev_dir / "b1.json", b1)
    streaming_cms_counters(spark, str(ev_dir), summary, ckpt).awaitTermination()
    _write_events(ev_dir / "b2.json", b2)
    streaming_cms_counters(spark, str(ev_dir), summary, ckpt).awaitTermination()

    got = {
        (r["j"], r["col"]): r["c"] for r in snapshot_read(spark, summary).collect()
    }
    # batch reference over the union, same hash derivation
    df = spark.createDataFrame(
        [(str(r["user_id"]),) for r in b1 + b2], "k string"
    )
    j = F.explode(F.array(*[F.lit(i) for i in range(4)])).alias("j")
    ref = {
        (r["j"], r["col"]): r["c"]
        for r in df.select("k", j)
        .select(
            "j",
            (
                F.conv(
                    F.substring(F.md5(F.col("k")), 1 + 8 * F.col("j"), 8),
                    16,
                    10,
                ).cast("long")
                % 512
            ).alias("col"),
        )
        .groupBy("j", "col")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }
    assert got == ref
    # total mass invariant: every row of the matrix sums to the stream size
    for row in range(4):
        assert sum(c for (jj, _), c in got.items() if jj == row) == len(b1) + len(b2)

    # replay: re-run with the same checkpoint adds nothing
    streaming_cms_counters(spark, str(ev_dir), summary, ckpt).awaitTermination()
    again = {
        (r["j"], r["col"]): r["c"] for r in snapshot_read(spark, summary).collect()
    }
    assert again == got


def test_kmv_overlap_estimate_near_truth(spark):
    """KMV Jaccard estimate vs ground truth at sf0.01: k=256 gives
    sigma ~ 1/sqrt(k) ~ 6%; assert a 3-sigma band.  Truth is computed
    independently from the parquet."""
    import duckdb

    from specialsid_spark.queries import all_queries

    sf = "/root/testdata/sf0.01"
    row = all_queries()["agg_kmv_corpus_overlap"](spark, sf).collect()[0]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW orders AS SELECT * FROM read_parquet('{sf}/orders.parquet')"
    )
    inter, union = con.execute(
        """
        WITH a AS (SELECT DISTINCT o_custkey k FROM orders WHERE o_orderkey % 2 = 0),
             b AS (SELECT DISTINCT o_custkey k FROM orders WHERE o_orderkey % 2 = 1)
        SELECT (SELECT COUNT(*) FROM a JOIN b USING (k)),
               (SELECT COUNT(*) FROM (SELECT k FROM a UNION SELECT k FROM b))
        """
    ).fetchone()
    truth = inter / union
    assert row.n_inter_exact == inter
    assert abs(row.jaccard_est - truth) < 0.18, (row.jaccard_est, truth)


def test_streaming_decontaminate_ingest(spark, tmp_path):
    """The ingest-door decontamination gate drops exactly the docs
    whose 5-grams overlap the eval set, batch/stream identical; a
    re-run replays nothing (checkpointed file source)."""
    import json

    from specialsid_spark.streaming.pipeline import streaming_decontaminate_ingest

    docs_dir = tmp_path / "docs"
    docs_dir.mkdir()
    sink = str(tmp_path / "clean_docs")
    ckpt = str(tmp_path / "ckpt_decon")
    eval_text = "alpha beta gamma delta epsilon zeta"
    toks = eval_text.split()
    eval_grams = frozenset(
        " ".join(toks[i : i + 5]) for i in range(len(toks) - 4)
    )
    rows = [
        {"doc_id": 1, "ts": "2024-01-01 10:00:00",
         "text": "clean words only nothing shared here at all today ok"},
        {"doc_id": 2, "ts": "2024-01-01 10:01:00",
         "text": "prefix alpha beta gamma delta epsilon suffix"},  # contaminated
        {"doc_id": 3, "ts": "2024-01-01 10:02:00",
         "text": "alpha beta gamma delta unrelated tail words"},  # 4-gram only: clean
        {"doc_id": 4, "ts": "2024-01-01 10:03:00",
         "text": None},  # NULL text: must surface as n_grams=0, not token 'nan'
    ]
    with open(docs_dir / "b1.json", "w") as fh:
        for r in rows:
            fh.write(json.dumps(r) + "\n")
    q = (
        streaming_decontaminate_ingest(spark, str(docs_dir), eval_grams)
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = {r["doc_id"]: r for r in spark.read.parquet(sink).collect()}
    assert set(out) == {1, 3, 4}
    assert out[3]["n_eval_hits"] == 0  # 4-gram overlap is below the k=5 radar
    assert out[1]["n_grams"] == len(rows[0]["text"].split()) - 4
    # NULL text passes through flagged undecodable, never the 'nan' token
    assert out[4]["text"] is None
    assert out[4]["n_grams"] == 0 and out[4]["n_eval_hits"] == 0

    # exactly-once: re-run processes nothing new
    q2 = (
        streaming_decontaminate_ingest(spark, str(docs_dir), eval_grams)
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination()
    assert spark.read.parquet(sink).count() == 3


def test_streaming_decontaminate_tokenizes_like_batch(spark, tmp_path):
    """The stream gate splits text with the batch query's ``tokens()``:
    on a leading tab, a U+00A0 and empty text its gram counts and hits
    equal the batch rule's (word_shingles over tokens), where Python's
    ``str.split`` would give 1 gram, 2 grams (one a hit) and 0 grams."""
    import json

    from pyspark.sql import functions as F

    from specialsid_spark.operators.textops import tokens, word_shingles
    from specialsid_spark.streaming.pipeline import streaming_decontaminate_ingest

    docs_dir = tmp_path / "docs"
    docs_dir.mkdir()
    texts = {1: "\tthe a b c d", 2: "a\u00a0b c d e f", 3: ""}
    with open(docs_dir / "b1.json", "w") as fh:
        for doc_id, text in texts.items():
            fh.write(json.dumps({"doc_id": doc_id, "ts": "2024-01-01 10:00:00",
                                 "text": text}) + "\n")
    eval_grams = frozenset({"b c d e f"})
    q = (
        streaming_decontaminate_ingest(spark, str(docs_dir), eval_grams)
        .writeStream.format("memory")
        .queryName("decon_tokenizer_parity")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    stream = {
        r.doc_id: (r.n_grams, r.n_eval_hits)
        for r in spark.table("decon_tokenizer_parity").collect()
    }
    batch = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    grams = batch.select("doc_id", tokens("text").alias("toks")).select(
        "doc_id", word_shingles(F.col("toks"), k=5).alias("grams")
    )
    want = {
        r.doc_id: (len(r.grams), len(set(r.grams) & eval_grams))
        for r in grams.collect()
    }
    assert want == {1: (2, 0), 2: (1, 0), 3: (0, 0)}
    assert stream == want
