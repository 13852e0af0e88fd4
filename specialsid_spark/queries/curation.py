"""Training-data pipeline utilities beyond dedup/similarity: splits,
shard packing, contamination checks (BASELINE.json north star).

All three are the operations a 100 TB pre-training corpus pass needs
between "curated documents" and "training shards", expressed as pure
dataflow with cross-engine-portable determinism (md5-based hashing —
Spark's built-in `hash` is Murmur3 and DuckDB's differs, so content
hashes, not engine hashes, drive every decision).
"""

from __future__ import annotations

import hashlib

import pandas as pd  # module-level: pandas_udf type hints must
# resolve in module globals under `from __future__ import annotations`
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from specialsid_spark.catalog import load_parallel
from specialsid_spark.operators.kmeans import idot, lattice
from specialsid_spark.operators.textops import lang_guess, tokens, word_kgrams
from specialsid_spark.operators.rows import map_rows
from specialsid_spark.queries import register


@register(
    "cur_train_test_split",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 2))::INT AS bucket
      FROM documents
    )
    SELECT CASE WHEN bucket < 230 THEN 'train' ELSE 'eval' END AS split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(doc_id) AS BIGINT) AS min_doc,
           CAST(MAX(doc_id) AS BIGINT) AS max_doc
    FROM t
    GROUP BY 1 ORDER BY 1
    """,
)
def cur_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~90/10 train/eval split: first md5 byte of the doc
    id < 230 -> train.  Content-hash bucketing is stable across engines,
    runs, and cluster sizes — the property a reproducible corpus split
    needs (row_number or rand() splits are neither)."""
    d = load_parallel(spark, sf_dir, "documents")
    bucket = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2), 16, 10).cast(
        "int"
    )
    return (
        d.select(F.when(bucket < 230, "train").otherwise("eval").alias("split"), "doc_id")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .orderBy("split")
    )


_TOKENS_PER_SHARD = 4000


@register(
    "cur_token_packing",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, len(string_split_regex(lower(trim(text)), '\\s+')) AS n_tokens
      FROM documents
    ),
    c AS (
      SELECT doc_id, n_tokens,
             SUM(n_tokens) OVER (ORDER BY doc_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum_tokens
      FROM t
    )
    SELECT CAST((cum_tokens - 1) // {_TOKENS_PER_SHARD} AS BIGINT) AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS shard_tokens
    FROM c
    GROUP BY 1 ORDER BY 1
    """,
)
def cur_token_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget shard packing: running token cumsum over a stable
    doc order, shard = (cumsum-1) div budget — each training shard gets
    ~{_TOKENS_PER_SHARD} tokens regardless of document-length skew.

    The cumsum is the classic DISTRIBUTED two-pass prefix sum, not a
    global window (which would funnel the whole corpus through one
    task): range-partition on doc_id (disjoint ascending key ranges,
    so partition id order == global doc order), aggregate one subtotal
    per partition, exclusive-scan those <=n_partitions numbers on the
    driver (the same bounded-collect class as the 1-row min/max
    bounds), and add each partition's offset to a WITHIN-partition
    running sum.  Every window in the plan is partitioned by pid — no
    SinglePartition Exchange anywhere (pinned in test_plan_shapes.py).
    The localCheckpoint pins partition ids: both the subtotal job and
    the final pass must see the identical placement."""
    d = load_parallel(spark, sf_dir, "documents")
    t = d.select("doc_id", F.size(tokens("text")).alias("n_tokens"))
    part = (
        t.repartitionByRange(32, "doc_id")
        .withColumn("pid", F.spark_partition_id())
        .localCheckpoint()
    )
    subs = part.groupBy("pid").agg(F.sum("n_tokens").alias("sub")).collect()
    run, offsets = 0, {}
    for r in sorted(subs, key=lambda r: r.pid):
        offsets[r.pid] = run
        run += r.sub
    off = F.create_map(
        *[F.lit(x) for pid_o in sorted(offsets.items()) for x in pid_o]
    )
    w = (
        Window.partitionBy("pid")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = part.select(
        "n_tokens",
        (off[F.col("pid")] + F.sum("n_tokens").over(w)).alias("cum_tokens"),
    )
    shard = ((F.col("cum_tokens") - 1) / _TOKENS_PER_SHARD).cast("long")
    return (
        c.groupBy(shard.alias("shard"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("shard_tokens"),
        )
        .orderBy("shard")
    )


# a tiny stand-in for a benchmark blocklist (eval-set shingles that must
# not leak into training data); entries chosen to occur in the fixture
# corpus at every scale factor so the check is non-trivially exercised
_BLOCKLIST = (
    "big order scan",
    "row column sort",
    "group slow spark",
)


@register(
    "cur_contamination_check",
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
               FROM documents),
    sh AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(range(1, greatest(len(toks) - 1, 1)),
                    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS shingle
      FROM t
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits
    FROM sh
    WHERE shingle IN {_BLOCKLIST!r}
    GROUP BY doc_id
    ORDER BY doc_id
    """,
)
def cur_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination check: which documents contain any
    blocklisted eval shingle, and how many.  The blocklist is a
    broadcast-able dimension (a real one is a few million shingles —
    still broadcast territory); the corpus side streams through one
    shingle explode + semi-join, shuffling only matches."""
    from specialsid_spark.operators.textops import word_shingles  # noqa: PLC0415

    d = load_parallel(spark, sf_dir, "documents")
    tk = d.select("doc_id", tokens("text").alias("toks"))
    sh = tk.select(
        "doc_id", F.explode(word_shingles(F.col("toks"), k=3)).alias("shingle")
    )
    block = spark.createDataFrame([(s,) for s in _BLOCKLIST], "shingle string")
    return (
        sh.join(F.broadcast(block), "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
        .orderBy("doc_id")
    )


_SQL_TOKS = "string_split_regex(lower(trim(text)), '\\s+')"
_SQL_GRAMS = (
    "list_transform(range(1, greatest(len(toks) - 1, 1)),"
    " i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])"
)


@register(
    "cur_gopher_repetition",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
    w AS (SELECT doc_id, unnest(toks) AS word FROM t),
    wc AS (SELECT doc_id, word, COUNT(*) AS c FROM w GROUP BY doc_id, word),
    tops AS (SELECT doc_id, MAX(c) AS top_c, SUM(c) AS n_words FROM wc GROUP BY doc_id),
    tri AS (
      SELECT doc_id, len(grams) AS n_g, len(list_distinct(grams)) AS n_d
      FROM (SELECT doc_id, {_SQL_GRAMS} AS grams FROM t)
    )
    SELECT tops.doc_id,
           round(CAST(top_c AS DOUBLE) / CAST(n_words AS DOUBLE), 6) AS top_word_frac,
           round(CAST(n_g - n_d AS DOUBLE) / CAST(greatest(n_g, 1) AS DOUBLE), 6)
             AS dup_trigram_frac,
           (CAST(top_c AS DOUBLE) / CAST(n_words AS DOUBLE) > 0.1
            OR CAST(n_g - n_d AS DOUBLE) / CAST(greatest(n_g, 1) AS DOUBLE) > 0.3)
             AS is_repetitive
    FROM tops JOIN tri ON tops.doc_id = tri.doc_id
    ORDER BY tops.doc_id
    """,
)
def cur_gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality filter (the Gopher/MassiveText rules
    re-expressed): per-document most-frequent-word fraction and
    duplicate-3-gram fraction, with the standard reject thresholds.

    The trigram side is a pure per-row HOF (size - distinct size) — no
    shuffle at all.  The top-word side is the classic explode +
    two-level aggregate; the first groupBy(doc_id, word) does map-side
    partial aggregation, so the exchange carries one row per distinct
    (doc, word), not one per token — at 100 TB that is the difference
    between shuffling the corpus and shuffling its vocabulary profile.
    """
    d = load_parallel(spark, sf_dir, "documents")
    t = d.select("doc_id", tokens("text").alias("toks"))
    wc = (
        t.select("doc_id", F.explode("toks").alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tops = wc.groupBy("doc_id").agg(
        F.max("c").alias("top_c"), F.sum("c").alias("n_words")
    )
    grams = t.select("doc_id", word_kgrams(F.col("toks")).alias("grams"))
    tri = grams.select(
        "doc_id",
        F.size("grams").alias("n_g"),
        F.size(F.array_distinct("grams")).alias("n_d"),
    )
    twf = F.col("top_c").cast("double") / F.col("n_words").cast("double")
    dtf = (F.col("n_g") - F.col("n_d")).cast("double") / F.greatest(
        F.col("n_g"), F.lit(1)
    ).cast("double")
    return (
        tops.join(tri, "doc_id")
        .select(
            "doc_id",
            F.round(twf, 6).alias("top_word_frac"),
            F.round(dtf, 6).alias("dup_trigram_frac"),
            ((twf > 0.1) | (dtf > 0.3)).alias("is_repetitive"),
        )
        .orderBy("doc_id")
    )


@register(
    "cur_boilerplate_trigrams",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
    sh AS (SELECT doc_id, unnest(list_distinct({_SQL_GRAMS})) AS gram FROM t),
    df AS (SELECT gram, COUNT(*) AS doc_freq FROM sh GROUP BY gram)
    SELECT gram, CAST(doc_freq AS BIGINT) AS doc_freq,
           CAST(row_number() OVER (ORDER BY doc_freq DESC, gram) AS BIGINT) AS rk
    FROM df
    ORDER BY doc_freq DESC, gram
    LIMIT 10
    """,
)
def cur_boilerplate_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate detection: the corpus-wide most document-frequent
    trigrams (headers/footers/navigation in a web crawl).  Distinct
    shingles per doc, then a doc-frequency aggregate — identical plan
    shape to the MinHash shingle pass, so at scale the two share one
    scan.  Top-10 is TakeOrderedAndProject: no global sort.
    """
    d = load_parallel(spark, sf_dir, "documents")
    t = d.select("doc_id", tokens("text").alias("toks"))
    sh = t.select(
        "doc_id", F.explode(F.array_distinct(word_kgrams(F.col("toks")))).alias("gram")
    )
    df = sh.groupBy("gram").agg(F.count(F.lit(1)).alias("doc_freq"))
    # top-10 FIRST (TakeOrderedAndProject — per-partition partial top-k,
    # no global sort), THEN rank the surviving 10 rows; ranking before
    # the cut would single-partition the whole vocabulary.
    top = df.orderBy(F.col("doc_freq").desc(), "gram").limit(10)
    w = Window.orderBy(F.col("doc_freq").desc(), "gram")
    return top.withColumn("rk", F.row_number().over(w).cast("long")).orderBy(
        F.col("doc_freq").desc(), "gram"
    )


@register(
    "cur_stratified_sample",
    oracle="""
    WITH h AS (
      SELECT doc_id, lang,
             ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100
               AS bucket
      FROM documents
    )
    SELECT doc_id, lang, CAST(bucket AS BIGINT) AS bucket
    FROM h WHERE bucket < 20
    ORDER BY doc_id
    """,
)
def cur_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 20% per-language sample via content-hash bucketing
    (md5 of the key, not engine hash — reproducible across engines,
    re-runs, and cluster sizes, unlike `sample()` which is seed- and
    partitioning-dependent).  Pure map-side filter: at 100 TB this
    prunes 80% of rows before any downstream shuffle.
    """
    d = load_parallel(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 100
    )
    return (
        d.select("doc_id", "lang", bucket.alias("bucket"))
        .filter(F.col("bucket") < 20)
        .orderBy("doc_id")
    )


@register(
    "cur_chunk_documents",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents WHERE doc_id < 50),
    starts AS (
      SELECT t.doc_id, t.toks, g.s
      FROM t, LATERAL unnest(generate_series(1, greatest(len(t.toks), 1), 24)) AS g(s)
    )
    SELECT doc_id,
           CAST((s - 1) / 24 AS BIGINT) AS chunk_idx,
           CAST(len(toks[s : s + 31]) AS INT) AS chunk_len,
           md5(array_to_string(toks[s : s + 31], ' ')) AS chunk_hash
    FROM starts
    ORDER BY doc_id, chunk_idx
    """,
)
def cur_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-shard chunking: fixed 32-token windows with 8-token
    overlap (stride 24) per document — the pre-tokenization split a
    context-bounded trainer needs.  Pure per-row HOF (sequence of
    starts -> slice -> hash): zero shuffle, chunk provenance kept as
    (doc_id, chunk_idx, content hash) so downstream exact-dedup can run
    at chunk granularity.
    """
    d = load_parallel(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    t = d.select("doc_id", tokens("text").alias("toks"))
    starts = t.select(
        "doc_id",
        "toks",
        F.explode(
            F.sequence(F.lit(1), F.greatest(F.size("toks"), F.lit(1)), F.lit(24))
        ).alias("s"),
    )
    chunk = F.slice(F.col("toks"), F.col("s"), 32)
    return (
        starts.select(
            "doc_id",
            (((F.col("s") - 1) / 24).cast("long")).alias("chunk_idx"),
            F.size(chunk).cast("int").alias("chunk_len"),
            F.md5(F.concat_ws(" ", chunk)).alias("chunk_hash"),
        )
        .orderBy("doc_id", "chunk_idx")
    )


@register(
    "cur_mixture_weights",
    oracle="""
    WITH per_src AS (
      SELECT source, lang, COUNT(*) AS n_docs,
             SUM(CAST(n_chars AS BIGINT)) AS n_chars
      FROM documents GROUP BY source, lang
    ),
    tot AS (SELECT SUM(n_chars) AS total_chars, COUNT(*) AS n_cells FROM per_src)
    SELECT source, lang,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_chars AS BIGINT) AS n_chars,
           CAST(n_chars AS DOUBLE) / CAST(tot.total_chars AS DOUBLE) AS current_share,
           round(CAST(tot.total_chars AS DOUBLE)
                 / (CAST(tot.n_cells AS DOUBLE) * CAST(n_chars AS DOUBLE)), 6)
             AS uniform_weight
    FROM per_src CROSS JOIN tot
    ORDER BY source, lang
    """,
)
def cur_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source/language mixture re-weighting: measure each (source, lang)
    cell's share of corpus bytes and emit the sampling weight that would
    flatten the mixture to uniform (target_share / current_share).  The
    per-cell aggregate is map-side-combined; the global total is a
    1-row broadcast — the standard two-level aggregate shape, nothing
    scales with corpus size after the first reduction.
    """
    d = load_parallel(spark, sf_dir, "documents")
    per_src = d.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("n_chars").cast("long")).alias("n_chars"),
    )
    tot = per_src.agg(
        F.sum("n_chars").alias("total_chars"), F.count(F.lit(1)).alias("n_cells")
    )
    return (
        per_src.join(F.broadcast(tot))
        .select(
            "source",
            "lang",
            "n_docs",
            "n_chars",
            (F.col("n_chars").cast("double") / F.col("total_chars").cast("double")).alias(
                "current_share"
            ),
            F.round(
                F.col("total_chars").cast("double")
                / (F.col("n_cells").cast("double") * F.col("n_chars").cast("double")),
                6,
            ).alias("uniform_weight"),
        )
        .orderBy("source", "lang")
    )


@register(
    "cur_source_caps",
    oracle="""
    WITH ranked AS (
      SELECT doc_id, source, n_chars,
             row_number() OVER (PARTITION BY source
                                ORDER BY n_chars DESC, doc_id) AS rk
      FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_kept,
           CAST(SUM(n_chars) AS BIGINT) AS kept_chars,
           CAST(MIN(doc_id) AS BIGINT) AS min_doc
    FROM ranked
    WHERE rk <= 50
    GROUP BY source
    ORDER BY source
    """,
)
def cur_source_caps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document caps (the domain-cap every web-scale corpus
    applies so no single source dominates the mixture): keep the top-50
    docs per source by length, deterministic doc_id tie-break.

    Scale shape: one shuffle on `source` + a rank window — and because
    the predicate is rank <= K, Spark runs it as a WindowGroupLimit
    (top-K per group pushed below the full sort), never materializing
    the unbounded rank."""
    d = load_parallel(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(F.col("n_chars").desc(), "doc_id")
    return (
        d.select("doc_id", "source", "n_chars", F.row_number().over(w).alias("rk"))
        .filter(F.col("rk") <= 50)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("n_chars").alias("kept_chars"),
            F.min("doc_id").alias("min_doc"),
        )
        .orderBy("source")
    )


@register(
    "cur_lang_mismatch",
    oracle="""
    WITH t AS (SELECT doc_id, lang,
                      string_split_regex(lower(trim(text)), '\\s+') AS toks
               FROM documents),
    v AS (
      SELECT doc_id, lang,
             len(list_filter(toks, t -> t IN ('the','and','of')))  AS v_en,
             len(list_filter(toks, t -> t IN ('el','la','de')))    AS v_es,
             len(list_filter(toks, t -> t IN ('le','la','et')))    AS v_fr,
             len(list_filter(toks, t -> t IN ('der','die','und'))) AS v_de
      FROM t
    ),
    guessed AS (
      SELECT doc_id, lang,
             CASE WHEN v_en >= v_es AND v_en >= v_fr AND v_en >= v_de THEN 'en'
                  WHEN v_es >= v_fr AND v_es >= v_de THEN 'es'
                  WHEN v_fr >= v_de THEN 'fr'
                  ELSE 'de' END AS lang_guess
      FROM v
    )
    SELECT lang, lang_guess,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(doc_id) AS BIGINT) AS example_doc
    FROM guessed
    GROUP BY lang, lang_guess
    ORDER BY lang, lang_guess
    """,
)
def cur_lang_mismatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared-vs-detected language confusion matrix — the QA pass that
    catches mislabeled documents before they poison a per-language
    mixture.  Reuses the stopword-vote heuristic of
    `text_langid_heuristic` (same fixed tie-break), aggregated against
    the table's declared `lang` column; one codegen'd scan + one tiny
    groupBy."""
    d = load_parallel(spark, sf_dir, "documents")
    t = d.select("doc_id", "lang", tokens("text").alias("toks"))
    return (
        t.select("doc_id", "lang", lang_guess(F.col("toks")).alias("lang_guess"))
        .groupBy("lang", "lang_guess")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("example_doc"),
        )
        .orderBy("lang", "lang_guess")
    )


_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_IPV4 = r"\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}"


@register(
    "cur_pii_scrub",
    oracle=f"""
    WITH aug AS (
      -- deterministic PII injection (same derivation on both engines):
      -- the synthetic corpus carries no PII, so the fixture plants an
      -- email + an IP on every 5th document; the OPERATOR is the scrub
      SELECT doc_id,
             text || CASE WHEN doc_id % 5 = 0
               THEN ' contact user' || CAST(doc_id AS VARCHAR)
                    || '@example.com from 10.0.'
                    || CAST(doc_id % 256 AS VARCHAR) || '.1'
               ELSE '' END AS text
      FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{_PII_EMAIL}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(text, '{_PII_IPV4}')) AS BIGINT) AS n_ips,
           md5(regexp_replace(regexp_replace(text, '{_PII_EMAIL}', '<EMAIL>', 'g'),
                              '{_PII_IPV4}', '<IP>', 'g')) AS scrubbed_md5
    FROM aug
    ORDER BY doc_id
    """,
)
def cur_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing for a training corpus: global regex redaction of
    emails and IPv4 addresses, plus per-doc match counts for the
    redaction audit trail.  Both regexes are written in the common
    Java-regex/RE2 subset so Spark and the DuckDB oracle replace the
    exact same spans; the value check compares md5 of the scrubbed text
    (never shipping the text through the compare).

    Scale shape: one codegen'd projection over the scan — no shuffle,
    no UDF; regexp_replace/regexp_count are JVM-side and the audit
    aggregate (if rolled up downstream) shuffles two ints per doc."""
    d = load_parallel(spark, sf_dir, "documents")
    aug = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.concat(
                    F.lit(" contact user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.com from 10.0."),
                    (F.col("doc_id") % 256).cast("string"),
                    F.lit(".1"),
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return aug.select(
        "doc_id",
        F.regexp_count("text", F.lit(_PII_EMAIL)).cast("long").alias("n_emails"),
        F.regexp_count("text", F.lit(_PII_IPV4)).cast("long").alias("n_ips"),
        F.md5(
            F.regexp_replace(
                F.regexp_replace("text", _PII_EMAIL, "<EMAIL>"), _PII_IPV4, "<IP>"
            )
        ).alias("scrubbed_md5"),
    ).orderBy("doc_id")


_BLOOM_WORDS = 128  # 128 x 32-bit words = 4096-bit filter
_BLOOM_K = 3  # hash functions (md5 hex slices)


def _sql_bloom_words() -> str:
    """DuckDB: the 128 bit_or word aggregates building the filter."""
    return ", ".join(
        f"bit_or(CASE WHEN p // 32 = {w} THEN (CAST(1 AS BIGINT) << CAST(p % 32 AS INT))"
        f" ELSE 0 END) AS w{w}"
        for w in range(_BLOOM_WORDS)
    )


@register(
    "cur_contamination_bloom",
    oracle=f"""
    WITH ref AS (SELECT md5(text) AS h FROM documents WHERE doc_id % 97 = 0),
    bits AS (
      SELECT (('0x' || substring(r.h, 8 * j.j + 1, 8))::BIGINT % {_BLOOM_WORDS * 32}) AS p
      FROM ref r CROSS JOIN (SELECT unnest(range(0, {_BLOOM_K})) AS j) j
    ),
    bloom AS (
      SELECT [{", ".join(f"w{w}" for w in range(_BLOOM_WORDS))}] AS bm
      FROM (SELECT {_sql_bloom_words()} FROM bits)
    ),
    probes AS (
      SELECT doc_id, md5(text) AS h,
             list_transform(range(0, {_BLOOM_K}),
                            j -> ('0x' || substring(md5(text), 8 * j + 1, 8))::BIGINT
                                 % {_BLOOM_WORDS * 32}) AS ps
      FROM documents
    ),
    flags AS (
      SELECT p.doc_id,
             len(list_filter(p.ps,
                             q -> ((b.bm[CAST(q // 32 AS INT) + 1] >> CAST(q % 32 AS INT)) & 1) = 1))
               = {_BLOOM_K} AS bloom_hit,
             p.h IN (SELECT h FROM ref) AS exact_hit
      FROM probes p CROSS JOIN bloom b
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN bloom_hit THEN 1 ELSE 0 END) AS BIGINT) AS n_bloom_hits,
           CAST(SUM(CASE WHEN exact_hit THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_hits,
           CAST(SUM(CASE WHEN bloom_hit AND NOT exact_hit THEN 1 ELSE 0 END) AS BIGINT)
             AS n_false_positives
    FROM flags
    """,
)
def cur_contamination_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter contamination pre-screen — the scale path when the
    reference set is too big to broadcast EXACTLY (1e9+ eval shingles):
    a {_BLOOM_WORDS * 32}-bit / k={_BLOOM_K} filter is built as a
    DISTRIBUTED bit_or aggregate (one shuffle of 128-long partials, the
    SimHash expression-string pattern), broadcast as one 1-row array,
    and every corpus document tests membership map-side.  Bloom "maybe"
    hits then flow to the exact check — here computed for ALL docs so
    the query also MEASURES the false-positive rate instead of assuming
    the textbook formula; in production only the (tiny) maybe-set pays
    the exact join.

    The reference set is the deterministic doc_id %% 97 == 0 slice,
    keyed by md5(text) — content hashes, never engine hashes, so both
    engines build bit-identical filters."""
    d = load_parallel(spark, sf_dir, "documents")
    ref = d.filter(F.col("doc_id") % 97 == 0).select(F.md5("text").alias("h"))
    bits = ref.selectExpr(f"explode(sequence(0, {_BLOOM_K - 1})) AS j", "h").selectExpr(
        f"CAST(conv(substring(h, 8 * j + 1, 8), 16, 10) AS BIGINT) % {_BLOOM_WORDS * 32} AS p"
    )
    word_exprs = [
        f"bit_or(CASE WHEN p div 32 = {w} THEN shiftleft(CAST(1 AS BIGINT), CAST(p % 32 AS INT))"
        f" ELSE 0 END) AS w{w}"
        for w in range(_BLOOM_WORDS)
    ]
    bloom = bits.groupBy().agg(
        *[F.expr(e) for e in word_exprs]
    ).selectExpr(f"array({', '.join(f'w{w}' for w in range(_BLOOM_WORDS))}) AS bm")
    probes = d.selectExpr(
        "doc_id",
        "md5(text) AS h",
        f"transform(sequence(0, {_BLOOM_K - 1}),"
        f" j -> CAST(conv(substring(md5(text), 8 * j + 1, 8), 16, 10) AS BIGINT)"
        f" % {_BLOOM_WORDS * 32}) AS ps",
    )
    flags = (
        probes.crossJoin(F.broadcast(bloom))
        .join(F.broadcast(ref.distinct().withColumnRenamed("h", "rh")),
              F.col("h") == F.col("rh"), "left")
        .selectExpr(
            "doc_id",
            f"forall(ps, q -> ((element_at(bm, CAST(q div 32 AS INT) + 1)"
            f" >> CAST(q % 32 AS INT)) & 1) = 1) AS bloom_hit",
            "rh IS NOT NULL AS exact_hit",
        )
    )
    return flags.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.when(F.col("bloom_hit"), 1).otherwise(0)).cast("long").alias("n_bloom_hits"),
        F.sum(F.when(F.col("exact_hit"), 1).otherwise(0)).cast("long").alias("n_exact_hits"),
        F.sum(F.when(F.col("bloom_hit") & ~F.col("exact_hit"), 1).otherwise(0))
        .cast("long")
        .alias("n_false_positives"),
    )


from specialsid_spark.operators.cdc import sql_cdc_chunks  # noqa: E402


@register(
    "cur_cdc_chunks",
    # The Gear closed form (32-step memory) is restated as 32 lag()
    # terms in SQL — every boundary position and every chunk hash is
    # value-compared, over the WHOLE documents table (no codec cost).
    oracle="WITH docs AS (SELECT doc_id, text FROM documents),\n"
    + sql_cdc_chunks("docs")
    + "ORDER BY doc_id, chunk_idx",
)
def cur_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking (Gear rolling hash, operators/cdc.py):
    split every document at positions where the 32-char Gear hash hits
    the mask — boundaries depend only on local content, so chunk hashes
    survive upstream insertions/deletions, which is what makes
    chunk-level exact-dedup effective on a near-duplicate crawl corpus
    (fixed windows — cur_chunk_documents — lose all alignment after one
    inserted byte).

    Scale shape: per-document numpy inside mapInPandas — 32 shifted
    adds per doc, no per-char Python, no row inflation, zero shuffle
    before the final sort.  Downstream dedup is then a groupBy on
    chunk_md5 (hash-only shuffle), same as dedup_exact_hash."""
    from specialsid_spark.operators.cdc import cdc_chunks

    d = load_parallel(spark, sf_dir, "documents")

    def kernel(doc_id, text):
        for ci, (start, ln, chunk) in enumerate(cdc_chunks(text)):
            yield doc_id, ci, start, ln, hashlib.md5(chunk.encode()).hexdigest()

    schema = ("doc_id long, chunk_idx long, start_pos int, chunk_len int,"
              " chunk_md5 string")
    return map_rows(d.select("doc_id", "text"), kernel, schema).orderBy("doc_id", "chunk_idx")


@register(
    "cur_cdc_dedup_stats",
    # Chunk-level dedup over CDC chunks: how much of the corpus is
    # duplicated content at chunk granularity — the number a storage /
    # curation pass reports before deciding to dedup.  Restated by
    # grouping the oracle chunk listing on its hash.
    oracle="WITH docs AS (SELECT doc_id, text FROM documents),\n"
    "chunks AS (WITH " + sql_cdc_chunks("docs") + "),\n"
    """
    g AS (
      SELECT chunk_md5, count(*) AS n_copies, sum(chunk_len) AS total_chars,
             min(chunk_len) AS chunk_len
      FROM chunks GROUP BY chunk_md5
    )
    SELECT CAST(count(*) AS BIGINT) AS n_unique_chunks,
           CAST(sum(n_copies) AS BIGINT) AS n_chunks,
           CAST(sum(total_chars) AS BIGINT) AS total_chars,
           CAST(sum(CASE WHEN n_copies > 1 THEN (n_copies - 1) * chunk_len
                         ELSE 0 END) AS BIGINT) AS dup_chars
    FROM g
    """,
)
def cur_cdc_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level CDC dedup accounting: unique vs total chunks and
    the chars reclaimable by keeping one copy per chunk hash.  The
    shuffle carries (md5, len) only — never chunk text — so the 100 TB
    version moves ~48 bytes per chunk."""
    chunks = cur_cdc_chunks(spark, sf_dir)
    g = chunks.groupBy("chunk_md5").agg(
        F.count("*").alias("n_copies"),
        F.sum("chunk_len").alias("total_chars"),
        F.min("chunk_len").alias("chunk_len"),
    )
    return g.agg(
        F.count("*").cast("long").alias("n_unique_chunks"),
        F.sum("n_copies").cast("long").alias("n_chunks"),
        F.sum("total_chars").cast("long").alias("total_chars"),
        F.sum(
            F.when(F.col("n_copies") > 1,
                   (F.col("n_copies") - 1) * F.col("chunk_len")).otherwise(0)
        ).cast("long").alias("dup_chars"),
    )


_DECON_K = 5        # n-gram width for eval-overlap decontamination
_DECON_MOD = 17     # doc_id % MOD == 0 -> held-out "benchmark" slice
_SQL_GRAMS5 = (
    "list_transform(range(1, greatest(len(toks) - 3, 1)),"
    " i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||"
    " toks[i+3] || ' ' || toks[i+4])"
)


@register(
    "cur_ngram_decontaminate",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
    g AS (SELECT doc_id, list_distinct({_SQL_GRAMS5}) AS grams FROM t),
    eg AS (SELECT DISTINCT unnest(grams) AS gram FROM g
           WHERE doc_id % {_DECON_MOD} = 0),
    tg AS (SELECT doc_id, unnest(grams) AS gram FROM g
           WHERE doc_id % {_DECON_MOD} <> 0),
    hits AS (
      SELECT tg.doc_id, COUNT(*) AS n_hits
      FROM tg JOIN eg ON tg.gram = eg.gram
      GROUP BY tg.doc_id
    )
    SELECT g.doc_id,
           CAST(len(grams) AS BIGINT) AS n_grams,
           CAST(COALESCE(n_hits, 0) AS BIGINT) AS n_eval_hits,
           round(CAST(COALESCE(n_hits, 0) AS DOUBLE)
                 / CAST(greatest(len(grams), 1) AS DOUBLE), 6) AS contaminated_frac,
           COALESCE(n_hits, 0) > 0 AS is_contaminated
    FROM g LEFT JOIN hits ON g.doc_id = hits.doc_id
    WHERE g.doc_id % {_DECON_MOD} <> 0
    ORDER BY g.doc_id
    """,
)
def cur_ngram_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination by n-gram overlap (the GPT-3/PaLM
    recipe): a held-out benchmark slice (doc_id % 17 == 0 stands in for
    the eval suite) contributes its distinct 5-gram shingles; every
    training document reports how many of ITS distinct 5-grams appear in
    that set, plus the contaminated fraction and a drop flag.

    Scale shape: real eval suites are tiny next to the corpus, so their
    distinct-gram table broadcasts; the training corpus is shingled
    ONCE — each exploded distinct gram picks up a hit flag from a
    broadcast left join map-side, and one groupBy(doc_id) produces both
    the gram count and the hit count.  The corpus text is never
    shuffled, only (doc_id, gram-hit) aggregates; the doc spine rejoin
    is a column-pruned id scan."""
    from specialsid_spark.operators.textops import word_shingles  # noqa: PLC0415

    d = load_parallel(spark, sf_dir, "documents")
    is_eval = F.col("doc_id") % _DECON_MOD == 0
    t = d.select("doc_id", tokens("text").alias("toks"))
    # localCheckpoint: the shingle array feeds THREE consumers (eval-gram
    # set, train explode, doc spine).  Without the lineage break Catalyst
    # inlines the regex split into every gram reference AND pushes the
    # generator's size()>0 filter below the repartition into the
    # single-file scan task — measured 20s serial vs 0.9s materialized
    # at sf0.1.  Materializing (doc_id, grams) once on the repartitioned
    # layout is exactly the working set both passes need.
    g = t.select(
        "doc_id", word_shingles(F.col("toks"), k=_DECON_K).alias("grams")
    ).localCheckpoint(eager=True)
    eg = (
        g.where(is_eval)
        .select(F.explode("grams").alias("gram"))
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    marked = (
        g.where(~is_eval)
        .select("doc_id", F.explode("grams").alias("gram"))
        .join(F.broadcast(eg), "gram", "left")
    )
    stats = marked.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_grams_agg"),
        F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("n_hits"),
    )
    spine = d.select("doc_id").where(~is_eval)
    n_hits = F.coalesce(F.col("n_hits"), F.lit(0))
    n_grams = F.coalesce(F.col("n_grams_agg"), F.lit(0))
    return (
        spine.join(stats, "doc_id", "left")
        .select(
            "doc_id",
            n_grams.cast("long").alias("n_grams"),
            n_hits.cast("long").alias("n_eval_hits"),
            F.round(
                n_hits.cast("double") / F.greatest(n_grams, F.lit(1)).cast("double"), 6
            ).alias("contaminated_frac"),
            (n_hits > 0).alias("is_contaminated"),
        )
        .orderBy("doc_id")
    )


_WS_CAP = 200  # tokens at which sampling probability saturates at 1


@register(
    "cur_weighted_sample",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             CAST(len({_SQL_TOKS}) AS BIGINT) AS n_tokens,
             ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS hv
      FROM documents
    )
    SELECT doc_id, n_tokens
    FROM t
    WHERE hv * {_WS_CAP} < 4294967296 * n_tokens
    ORDER BY doc_id
    """,
)
def cur_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-proportional Bernoulli sampling (importance sampling for
    corpus downsizing): keep each doc with probability min(1,
    n_tokens / {_WS_CAP}), decided by an EXACT integer cross-
    multiplication against a 32-bit md5 word — hv * CAP < 2^32 * w.
    No floats anywhere, so the sample is bit-reproducible across
    engines, runs, partitionings, and cluster sizes (rand()-based
    sampling is none of these), and re-running a 100 TB downsample
    yields the identical corpus — the property dataset versioning
    needs.  Pure map-side filter; nothing shuffles but the output."""
    d = load_parallel(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        F.size(tokens("text")).cast("long").alias("n_tokens"),
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        .alias("hv"),
    )
    return (
        t.where(F.col("hv") * _WS_CAP < F.lit(4294967296) * F.col("n_tokens"))
        .select("doc_id", "n_tokens")
        .orderBy("doc_id")
    )


# Messy-URL fixture construction: four query-string spellings of the
# same parameters, default ports, mixed-case scheme/host, fragments,
# trailing slashes — every variant of doc groups sharing doc_id % 50
# canonicalizes to the same URL.
_SQL_RAW_URL = """
      CASE WHEN doc_id % 2 = 0 THEN 'HTTP' ELSE 'https' END || '://' ||
      'WWW.Example' || CAST(doc_id % 7 AS VARCHAR) || '.COM' ||
      CASE WHEN doc_id % 3 = 0 THEN
        CASE WHEN doc_id % 2 = 0 THEN ':80' ELSE ':443' END ELSE '' END ||
      '/a/' || CAST(doc_id % 50 AS VARCHAR) ||
      CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END ||
      CASE doc_id % 4
        WHEN 0 THEN '?b=2&a=1'
        WHEN 1 THEN '?a=1&b=2'
        WHEN 2 THEN '?utm_source=x&a=1&b=2'
        ELSE '?a=1&utm_campaign=y&b=2' END ||
      CASE WHEN doc_id % 11 = 0 THEN '#frag' ELSE '' END
"""


def _raw_url() -> F.Column:
    """Spark twin of _SQL_RAW_URL."""
    did = F.col("doc_id")
    scheme = F.when(did % 2 == 0, F.lit("HTTP")).otherwise(F.lit("https"))
    port = F.when(
        did % 3 == 0, F.when(did % 2 == 0, F.lit(":80")).otherwise(F.lit(":443"))
    ).otherwise(F.lit(""))
    q = (
        F.when(did % 4 == 0, F.lit("?b=2&a=1"))
        .when(did % 4 == 1, F.lit("?a=1&b=2"))
        .when(did % 4 == 2, F.lit("?utm_source=x&a=1&b=2"))
        .otherwise(F.lit("?a=1&utm_campaign=y&b=2"))
    )
    return F.concat(
        scheme,
        F.lit("://WWW.Example"),
        (did % 7).cast("string"),
        F.lit(".COM"),
        port,
        F.lit("/a/"),
        (did % 50).cast("string"),
        F.when(did % 5 == 0, F.lit("/")).otherwise(F.lit("")),
        q,
        F.when(did % 11 == 0, F.lit("#frag")).otherwise(F.lit("")),
    )


@register(
    "cur_url_canonicalize",
    oracle=f"""
    WITH raw AS (
      SELECT doc_id, {_SQL_RAW_URL} AS url FROM documents
    ),
    parts AS (
      SELECT doc_id, url,
             lower(regexp_extract(url, '^([A-Za-z]+)://', 1)) AS scheme,
             lower(regexp_extract(url, '^[A-Za-z]+://([^/?#]*)', 1)) AS hostport,
             regexp_extract(url, '^[A-Za-z]+://[^/?#]*([^?#]*)', 1) AS path,
             regexp_extract(url, '\\?([^#]*)', 1) AS q
      FROM raw
    ),
    canon AS (
      SELECT doc_id,
             scheme || '://' ||
             CASE WHEN scheme = 'http'  THEN regexp_replace(hostport, ':80$',  '')
                  WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$', '')
                  ELSE hostport END ||
             CASE WHEN path IN ('', '/') THEN '/'
                  ELSE regexp_replace(path, '/$', '') END ||
             CASE WHEN len(list_filter(string_split(q, '&'),
                                       p -> NOT starts_with(p, 'utm_'))) = 0 THEN ''
                  ELSE '?' || array_to_string(
                         list_sort(list_filter(string_split(q, '&'),
                                               p -> NOT starts_with(p, 'utm_'))), '&')
             END AS curl
      FROM parts
    ),
    groups AS (
      SELECT curl, CAST(COUNT(*) AS BIGINT) AS n_raw FROM canon GROUP BY curl
    )
    SELECT n_raw AS group_size,
           CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(SUM(('0x' || substring(md5(curl), 1, 8))::BIGINT) AS BIGINT) AS curl_ck
    FROM groups
    GROUP BY 1 ORDER BY 1
    """,
)
def cur_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-frontier URL canonicalization — the dedup step BEFORE any
    fetch happens (reference scope: the reference's scraper visits a
    hand-curated URL list, reference main.py; at crawl scale the
    frontier itself needs dedup).  Rules: lowercase scheme+host, strip
    default ports (:80/:443), drop fragments, drop utm_* tracking
    params, sort the remaining query params, trim trailing slashes.
    Fixture URLs are derived deterministically from doc_id with every
    messiness class injected; the output is the canonical-group-size
    histogram plus a canonical-string checksum, so any canonicalization
    drift breaks the hash.  All string ops are native Column expressions
    (zero Python in the hot path); pure map work until the group-by on
    the canonical key — at 100 TB that shuffle carries canonical URLs
    only, and the histogram is map-side combinable."""
    d = load_parallel(spark, sf_dir, "documents")
    raw = d.select("doc_id", _raw_url().alias("url"))
    scheme = F.lower(F.regexp_extract("url", r"^([A-Za-z]+)://", 1))
    hostport = F.lower(F.regexp_extract("url", r"^[A-Za-z]+://([^/?#]*)", 1))
    path = F.regexp_extract("url", r"^[A-Za-z]+://[^/?#]*([^?#]*)", 1)
    q = F.regexp_extract("url", r"\?([^#]*)", 1)
    host = (
        F.when(scheme == "http", F.regexp_replace(hostport, r":80$", ""))
        .when(scheme == "https", F.regexp_replace(hostport, r":443$", ""))
        .otherwise(hostport)
    )
    kept = F.array_sort(
        F.filter(F.split(q, "&"), lambda p: ~p.startswith("utm_"))
    )
    curl = F.concat(
        scheme,
        F.lit("://"),
        host,
        F.when(path.isin("", "/"), F.lit("/")).otherwise(
            F.regexp_replace(path, r"/$", "")
        ),
        F.when(F.size(kept) == 0, F.lit("")).otherwise(
            F.concat(F.lit("?"), F.array_join(kept, "&"))
        ),
    )
    groups = (
        raw.select(curl.alias("curl"))
        .groupBy("curl")
        .agg(F.count(F.lit(1)).alias("n_raw"))
    )
    return (
        groups.groupBy(F.col("n_raw").alias("group_size"))
        .agg(
            F.count(F.lit(1)).alias("n_groups"),
            F.sum(
                F.conv(F.substring(F.md5("curl"), 1, 8), 16, 10).cast("long")
            ).alias("curl_ck"),
        )
        .orderBy("group_size")
    )


_PSEUDO_KEY = "corpus-v1"  # rotation-versioned pseudonymization key


@register(
    "cur_pseudonymize_ids",
    oracle=f"""
    WITH p AS (
      SELECT user_id,
             substring(sha256('{_PSEUDO_KEY}:' || CAST(user_id AS VARCHAR)), 1, 16)
               AS pseud
      FROM (SELECT DISTINCT user_id FROM events)
    ),
    j AS (
      SELECT e.event_type, p.pseud
      FROM events e JOIN p ON p.user_id = e.user_id
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT pseud) AS BIGINT) AS n_pseudonyms,
           CAST(SUM(('0x' || substring(pseud, 1, 8))::BIGINT) AS BIGINT) AS pseud_ck
    FROM j
    GROUP BY 1 ORDER BY 1
    """,
)
def cur_pseudonymize_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed ID pseudonymization for training corpora: user ids are
    replaced by a truncated sha256 of a versioned key + the id — the
    standard practice that keeps identities unlinkable outside the key
    holder while staying CONSISTENT (the same user maps to the same
    pseudonym, so dedup / session / retention analyses still work on
    the pseudonymized corpus — n_pseudonyms per event_type equals the
    true distinct-user count, which the oracle checks).  Not an HMAC:
    inputs here are fixed-format `key:id` strings, so length-extension
    is irrelevant; a production deployment with attacker-supplied
    strings would use a real HMAC.

    Scale shape: the pseudonym map is one distinct + map-side hash per
    id (no driver state, no lookup table to ship); the join keys on
    user_id and would co-partition with any session/retention pass."""
    from specialsid_spark.catalog import load  # noqa: PLC0415

    e = load(spark, sf_dir, "events")
    p = (
        e.select("user_id")
        .distinct()
        .select(
            "user_id",
            F.substring(
                F.sha2(
                    F.concat(F.lit(_PSEUDO_KEY + ":"), F.col("user_id").cast("string")),
                    256,
                ),
                1,
                16,
            ).alias("pseud"),
        )
    )
    return (
        e.join(p, "user_id")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("pseud").alias("n_pseudonyms"),
            F.sum(
                F.conv(F.substring("pseud", 1, 8), 16, 10).cast("long")
            ).alias("pseud_ck"),
        )
        .orderBy("event_type")
    )


_MIX_BUDGET = 20000  # global token budget apportioned across sources


@register(
    "cur_domain_mixture",
    # r8 (VERDICT #7) — the static data-mixing step every pretraining
    # run performs: integer largest-remainder apportionment of a global
    # token budget across sources, deterministic greedy fill per
    # source, stride-scheduling interleave keys.  The oracle recomputes
    # every stage; sum(target_tokens) == budget EXACTLY by
    # construction, and interleave_ck pins the emission order.
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source,
             CAST(len({_SQL_TOKS}) AS BIGINT) AS n_tokens,
             ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS hv
      FROM documents
    ),
    src AS (
      SELECT source, ('0x' || substring(md5(source), 1, 2))::INT % 7 + 1 AS w
      FROM (SELECT DISTINCT source FROM t)
    ),
    tot AS (SELECT SUM(w) AS tw FROM src),
    quota AS (
      SELECT s.source, s.w,
             ({_MIX_BUDGET} * s.w) // tt.tw AS q,
             ({_MIX_BUDGET} * s.w) % tt.tw AS rem
      FROM src s CROSS JOIN tot tt
    ),
    sq AS (SELECT SUM(q) AS sumq FROM quota),
    tgt AS (
      SELECT source, w,
             q + CASE WHEN row_number() OVER (ORDER BY rem DESC, source)
                           <= {_MIX_BUDGET} - (SELECT sumq FROM sq)
                      THEN 1 ELSE 0 END AS target_tokens
      FROM quota
    ),
    ordered AS (
      SELECT doc_id, source, n_tokens,
             SUM(n_tokens) OVER (PARTITION BY source ORDER BY hv, doc_id
                                 ROWS UNBOUNDED PRECEDING) AS cum
      FROM t
    ),
    kept AS (
      SELECT o.doc_id, o.source, o.n_tokens, g.w, g.target_tokens,
             row_number() OVER (PARTITION BY o.source
                                ORDER BY o.cum, o.doc_id) AS k
      FROM ordered o JOIN tgt g USING (source)
      WHERE o.cum - o.n_tokens < g.target_tokens
    )
    SELECT source, CAST(w AS INT) AS weight,
           CAST(target_tokens AS BIGINT) AS target_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_kept,
           CAST(SUM(n_tokens) AS BIGINT) AS kept_tokens,
           CAST(SUM(k * (420 // w) * (doc_id % 997)) AS BIGINT) AS interleave_ck
    FROM kept
    GROUP BY source, w, target_tokens
    ORDER BY source
    """,
)
def cur_domain_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture sampling (r8, VERDICT #7): given per-source
    weights and a global token budget, emit the deterministic weighted
    mixture — the static data-mixing step between "curated corpus" and
    "training run" (composes cur_source_caps + cur_weighted_sample).

    Three integer-exact stages, no floats anywhere:
    1. APPORTION: largest-remainder method splits the budget across
       sources exactly (floor quotas, +1 to the sources with the
       largest remainders) — Σ target_tokens == budget, always.
    2. FILL: within each source, docs in md5-priority order (a
       deterministic shuffle) accumulate until the first prefix that
       reaches the target; a source with fewer tokens than its target
       contributes everything it has (the exhaustion path is exercised
       at sf0.01: high-weight sources run out).
    3. INTERLEAVE: each kept doc gets a stride-scheduling virtual time
       k·(420/w) (420 = lcm(1..7), so strides are exact integers);
       merging all sources by vtime yields the classic
       weighted-fair-queueing interleave without ANY global sort —
       the checksum Σ vtime·(doc_id % 997) pins the order per source.

    Scale shape: one shuffle on `source` for the cumulative-sum window
    (partitioned, never global); the apportionment windows run on the
    DISTINCT-SOURCE frame — a handful of rows, broadcast back.  At
    100 TB with ~dozens of domains this is a per-source streaming scan
    plus two broadcast joins; the interleave is rank arithmetic, not a
    sort."""
    d = load_parallel(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        "source",
        F.size(tokens("text")).cast("long").alias("n_tokens"),
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        .alias("hv"),
    )
    src = (
        t.select("source")
        .distinct()
        .select(
            "source",
            (
                F.conv(F.substring(F.md5("source"), 1, 2), 16, 10).cast("int") % 7 + 1
            ).alias("w"),
        )
    )
    tot = src.agg(F.sum("w").alias("tw"))
    quota = src.join(F.broadcast(tot)).select(
        "source",
        "w",
        (F.lit(_MIX_BUDGET) * F.col("w") / F.col("tw")).cast("long").alias("q"),
        (F.lit(_MIX_BUDGET) * F.col("w") % F.col("tw")).alias("rem"),
    )
    sumq = quota.agg(F.sum("q").alias("sumq"))
    # largest-remainder ranking runs on the distinct-source frame (a
    # handful of rows) — the one place an unpartitioned window is the
    # RIGHT shape, not a scale hazard.
    wr = Window.orderBy(F.col("rem").desc(), "source")
    tgt = (
        quota.join(F.broadcast(sumq))
        .select(
            "source",
            "w",
            (
                F.col("q")
                + F.when(
                    F.row_number().over(wr) <= F.lit(_MIX_BUDGET) - F.col("sumq"), 1
                ).otherwise(0)
            ).alias("target_tokens"),
        )
    )
    wcum = (
        Window.partitionBy("source")
        .orderBy("hv", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ordered = t.select(
        "doc_id", "source", "n_tokens", F.sum("n_tokens").over(wcum).alias("cum")
    )
    wk = Window.partitionBy("source").orderBy("cum", "doc_id")
    kept = (
        ordered.join(F.broadcast(tgt), "source")
        .filter(F.col("cum") - F.col("n_tokens") < F.col("target_tokens"))
        .select(
            "doc_id",
            "source",
            "n_tokens",
            "w",
            "target_tokens",
            F.row_number().over(wk).alias("k"),
        )
    )
    return (
        kept.groupBy("source", "w", "target_tokens")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("n_tokens").alias("kept_tokens"),
            F.sum(
                F.col("k") * (F.lit(420) / F.col("w")).cast("long") * (F.col("doc_id") % 997)
            ).alias("interleave_ck"),
        )
        .select(
            "source",
            F.col("w").cast("int").alias("weight"),
            F.col("target_tokens").cast("long").alias("target_tokens"),
            "n_kept",
            "kept_tokens",
            "interleave_ck",
        )
        .orderBy("source")
    )


@register(
    "cur_robots_gate",
    # RFC 9309 politeness gate (r9; r10 adds §2.2.1 same-token group
    # COMBINING per ADVICE r9): per doc, a fixture robots.txt
    # exercising every spec behavior — group selection by longest
    # user-agent token with * fallback, rule union across repeated
    # same-agent groups (k=1 and k=6 are decidable ONLY under the
    # combine), longest-match rule precedence, Allow-beats-Disallow
    # ties, * and $ wildcards, the empty-Disallow allow-all form,
    # Crawl-delay, Sitemap collection — against 8 decision cases whose
    # verdicts the oracle restates in closed form from doc_id
    # arithmetic.  A parser or matcher defect anywhere flips an
    # `allowed` flag and fails the hash.
    oracle="""
    WITH docs AS (SELECT doc_id FROM documents),
    ks AS (SELECT unnest(range(0, 8)) AS k)
    SELECT d.doc_id, CAST(ks.k AS INT) AS k,
           CASE WHEN ks.k <= 5 THEN 'specialsbot'
                WHEN ks.k = 6 THEN 'otherbot' ELSE 'emptybot' END AS agent,
           CASE ks.k
             WHEN 0 THEN '/public/page' || d.doc_id || '.html'
             WHEN 1 THEN '/private/x' || d.doc_id || '.html'
             WHEN 2 THEN '/private/specials-' || d.doc_id || '.html'
             WHEN 3 THEN '/file' || d.doc_id || '.tmp'
             WHEN 4 THEN '/file' || d.doc_id || '.tmp.bak'
             WHEN 5 THEN '/private/specials-x' || d.doc_id || '.html'
             WHEN 6 THEN '/public/page' || d.doc_id || '.html'
             ELSE '/anything/' || d.doc_id
           END AS path,
           CAST(CASE WHEN ks.k IN (0, 1, 2, 4, 6, 7) THEN 1 ELSE 0 END AS BIGINT)
             AS allowed,
           CASE WHEN ks.k <= 5 THEN CAST(1 + d.doc_id % 5 AS DOUBLE) END
             AS crawl_delay,
           CAST(2 AS BIGINT) AS n_sitemaps
    FROM docs d, ks
    ORDER BY d.doc_id, k
    """,
)
def cur_robots_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-politeness decisions inside the plan (operators/robots.py
    — RFC 9309 parse + most-specific-match).  The reference is a web
    scraper; at 100 TB a crawl frontier joins ONE parsed robots file
    per host (hosts are Heaps-bounded like distinct words) onto
    millions of candidate URLs, so the eval is a per-row Arrow-batch
    call with no shuffle — here each doc stands in for a host."""
    from specialsid_spark.operators.robots import (
        crawl_delay,
        is_allowed,
        parse_robots,
    )

    d = load_parallel(spark, sf_dir, "documents")

    def kernel(doc_id):
        txt = (
            f"# retailer robots fixture {doc_id}\n"
            "User-agent: specialsbot\n"
            "Disallow: /private/\n"
            f"Allow: /private/specials-{doc_id}.html\n"
            "Disallow: /*.tmp$\n"
            f"Crawl-delay: {1 + doc_id % 5}\n"
            "\n"
            "User-agent: emptybot\n"
            "Disallow:\n"
            "\n"
            "User-agent: *\n"
            "Disallow: /\n"
            "\n"
            # repeated-group forms (RFC 9309 §2.2.1: same-token
            # groups MUST combine — ADVICE r9): a second
            # specialsbot group re-allows one private page, a
            # second * group opens /public/
            "User-agent: specialsbot\n"
            f"Allow: /private/x{doc_id}.html\n"
            "\n"
            "User-agent: *\n"
            "Allow: /public/\n"
            "\n"
            f"Sitemap: https://example.test/sitemap-{doc_id}.xml\n"
            "Sitemap: https://example.test/sitemap-extra.xml\n"
        )
        robots = parse_robots(txt)
        cases = [
            ("specialsbot", f"/public/page{doc_id}.html"),
            ("specialsbot", f"/private/x{doc_id}.html"),
            ("specialsbot", f"/private/specials-{doc_id}.html"),
            ("specialsbot", f"/file{doc_id}.tmp"),
            ("specialsbot", f"/file{doc_id}.tmp.bak"),
            ("specialsbot", f"/private/specials-x{doc_id}.html"),
            ("otherbot", f"/public/page{doc_id}.html"),
            ("emptybot", f"/anything/{doc_id}"),
        ]
        for k, (agent, path) in enumerate(cases):
            yield (doc_id, k, agent, path, int(is_allowed(robots, agent, path)),
                   crawl_delay(robots, agent), len(robots.sitemaps))

    return map_rows(
        d.select("doc_id"), kernel,
        "doc_id long, k int, agent string, path string,"
        " allowed long, crawl_delay double, n_sitemaps long",
    ).orderBy("doc_id", "k")


# --- DSIR: data selection with importance resampling (Xie et al. 2023) ---
#
# Select raw-corpus documents whose hashed-n-gram feature distribution
# matches a trusted target slice: per-bucket importance log-weights
# ln(p_target(b)/p_raw(b)) under +1-smoothed hashed-unigram bag models,
# summed per document, then Gumbel-top-k sampling (deterministic Gumbel
# noise derived from the doc-id content hash).  Weights are quantized
# to integer micro-nats per BUCKET (512 buckets), so every per-document
# score is an exact integer sum.

_DSIR_B = 512
_DSIR_LW = (
    "CAST(FLOOR(LN("
    "(CAST(COALESCE(ct, 0) + 1 AS DOUBLE) * CAST(nr + 512 AS DOUBLE))"
    " / (CAST(cr + 1 AS DOUBLE) * CAST(nt + 512 AS DOUBLE))"
    ") * 1000000) AS BIGINT)"
)
_DSIR_GUMBEL = (
    "CAST(FLOOR(-LN(-LN(CAST(ug + 1 AS DOUBLE) / 1048578.0)) * 1000000)"
    " AS BIGINT)"
)


@register(
    "cur_dsir_importance_sample",
    oracle=f"""
    WITH tk AS MATERIALIZED (
      SELECT doc_id, lang, unnest({_SQL_TOKS}) AS tok FROM documents
    ),
    feat AS MATERIALIZED (
      SELECT doc_id, lang,
             ('0x' || substring(md5(tok), 1, 8))::BIGINT % {_DSIR_B} AS b
      FROM tk
    ),
    tgt AS MATERIALIZED (
      SELECT b, CAST(COUNT(*) AS BIGINT) AS ct FROM feat
      WHERE lang = 'en' GROUP BY b
    ),
    raw AS MATERIALIZED (
      SELECT b, CAST(COUNT(*) AS BIGINT) AS cr FROM feat GROUP BY b
    ),
    tot AS MATERIALIZED (
      SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM feat WHERE lang = 'en')
               AS nt,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM feat) AS nr
    ),
    lw AS MATERIALIZED (
      SELECT b, {_DSIR_LW} AS lw_mu
      FROM (SELECT r.b AS b, g.ct AS ct, r.cr AS cr, tot.nt AS nt,
                   tot.nr AS nr
            FROM raw r LEFT JOIN tgt g ON g.b = r.b, tot)
    ),
    docw AS MATERIALIZED (
      SELECT f.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_tokens,
             CAST(SUM(l.lw_mu) AS BIGINT) AS logw_mu
      FROM feat f JOIN lw l ON l.b = f.b
      GROUP BY f.doc_id
    ),
    gm AS MATERIALIZED (
      SELECT doc_id, n_tokens, logw_mu, {_DSIR_GUMBEL} AS gumbel_mu
      FROM (SELECT *,
              ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                % 1048576 AS ug
            FROM docw)
    ),
    rk AS (
      SELECT doc_id, n_tokens, logw_mu, gumbel_mu,
             CAST(logw_mu + gumbel_mu AS BIGINT) AS score_mu,
             CAST(ROW_NUMBER() OVER (
               ORDER BY logw_mu + gumbel_mu DESC, doc_id) AS BIGINT) AS rnk,
             COUNT(*) OVER () AS n_all
      FROM gm
    )
    SELECT doc_id, n_tokens, logw_mu, gumbel_mu, score_mu, rnk
    FROM rk WHERE rnk * 5 <= n_all
    ORDER BY rnk
    """,
)
def cur_dsir_importance_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): pick the 20% of the
    raw corpus that best matches a trusted target distribution — here
    the English slice stands in for the target domain.  Hashed-unigram
    bag models (md5 bucket % 512) with +1 smoothing give per-bucket
    importance log-weights; a document's log-weight is the sum over its
    token occurrences; Gumbel-top-k (noise derived from the doc-id
    content hash, not rand()) performs the without-replacement sample.

    Scale shape: the model is two 512-row aggregates + one 512-row
    weight table broadcast to the per-token stream; the only
    corpus-sized shuffle is the map-side-combining per-document sum.
    The Gumbel top-20% rank is a two-pass range-partitioned prefix
    rank (VERDICT r10 #4, the cur_token_packing idiom): range-partition
    by the (score DESC, doc_id) key, collect 32 per-partition
    subtotals as rank offsets, rank WITHIN partitions only — no
    SinglePartition Exchange anywhere, and the same offsets yield the
    total count for the rnk*5 <= n_all cut."""
    scored = _dsir_gm(spark, sf_dir).select(
        "doc_id",
        "n_tokens",
        "logw_mu",
        "gumbel_mu",
        (F.col("logw_mu") + F.col("gumbel_mu")).cast("long").alias("score_mu"),
    )
    # global (score DESC, doc_id) rank without a SinglePartition sort:
    # doc_id makes the key unique, so range order + within-partition
    # order IS the total order, and the 32 collected subtotals double
    # as both the rank offsets and the n_all for the 20% cut
    part = (
        scored.repartitionByRange(
            32, F.col("score_mu").desc(), F.col("doc_id")
        )
        .withColumn("pid", F.spark_partition_id())
        .localCheckpoint()
    )
    subs = sorted(
        part.groupBy("pid").agg(F.count(F.lit(1)).alias("c")).collect(),
        key=lambda r: r.pid,
    )
    if not subs:
        return scored.withColumn("rnk", F.lit(1).cast("long")).limit(0)
    n_all, offsets = 0, {}
    for r in subs:
        offsets[r.pid] = n_all
        n_all += r.c
    off = F.create_map(
        *[F.lit(x) for pid_o in sorted(offsets.items()) for x in pid_o]
    )
    w = Window.partitionBy("pid").orderBy(F.desc("score_mu"), "doc_id")
    rnk = (off[F.col("pid")] + F.row_number().over(w)).cast("long")
    return (
        part.select(
            "doc_id", "n_tokens", "logw_mu", "gumbel_mu", "score_mu",
            rnk.alias("rnk"),
        )
        .filter(F.col("rnk") <= F.lit(n_all // 5))
        .orderBy("rnk")
    )


def _dsir_gm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR's corpus-scale portion — hashed features, importance
    weights, per-document Gumbel-perturbed scores.  Split out (r11) so
    the broadcast-shape plan pin can see THIS stage's lineage (the
    rank pass above checkpoints its input)."""
    d = load_parallel(spark, sf_dir, "documents")
    feat = (
        d.select("doc_id", "lang", F.explode(tokens("text")).alias("tok"))
        .select(
            "doc_id",
            "lang",
            (
                F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long")
                % _DSIR_B
            ).alias("b"),
        )
        .localCheckpoint(eager=True)
    )
    # r13 opt: ONE map-side-combining pass builds both bag models as
    # conditional sums per bucket (ct = 0 for never-target buckets ==
    # the old left join's COALESCE(ct, 0)), and the two corpus totals
    # derive from the 512-row table — folding four occurrence-level
    # passes (target counts, raw counts, two totals) into one.
    bstats = feat.groupBy("b").agg(
        F.count(F.lit(1)).cast("long").alias("cr"),
        F.sum((F.col("lang") == "en").cast("long")).cast("long").alias("ct"),
    )
    tot = bstats.agg(
        F.sum("ct").cast("long").alias("nt"),
        F.sum("cr").cast("long").alias("nr"),
    )
    lw = bstats.crossJoin(F.broadcast(tot)).select(
        "b", F.expr(_DSIR_LW).alias("lw_mu")
    )
    docw = (
        feat.join(F.broadcast(lw), "b")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum("lw_mu").cast("long").alias("logw_mu"),
        )
    )
    return docw.withColumn(
        "ug",
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 1048576,
    ).select(
        "doc_id", "n_tokens", "logw_mu", F.expr(_DSIR_GUMBEL).alias("gumbel_mu")
    )


# --- semantic decontamination (r10) -----------------------------------------
#
# The FineWeb/DCLM-style semantic step that completes the n-gram
# (cur_ngram_decontaminate) / Bloom (cur_contamination_bloom) family:
# eval-set items that survive verbatim string checks can still leak into
# the training corpus as near-copies in EMBEDDING space.  The check
# joins corpus embeddings against a (broadcast) eval table under a
# cosine threshold via sign-bit LSH blocking — never all-pairs — and
# ships its OWN recall referee: the exact broadcast scan runs alongside
# on the same rows, so each eval item reports how many true matches the
# blocked path recovered (the dedup_lsh_recall_referee discipline).
#
# Everything happens on a coarse integer lattice (floor(x*512)) so the
# threshold compare 100*dot^2 >= 81*|a|^2*|b|^2 (tau = 0.9) is exact
# 64-bit integer arithmetic in both engines: |q_i| <= 269 at |x| < 0.53,
# so dot^2 <= 2.2e13 and 100*dot^2 <= 2.2e15 << 2^63 (and << 2^53, so
# even a double-typed intermediate would stay exact).
#
# The eval table is DERIVED deterministically from the corpus so the
# fixture contains known contamination: every 25th vector seeds an eval
# item; even eval_ids get a +-2 lattice jitter of their seed (a true
# near-copy, cos ~ 0.9999 — planted contamination) and odd eval_ids get
# the REVERSED vector (cos against everything ~ U(0, 0.46) on this
# corpus — clean).  Multi-probe (<= 2 sign-bit flips, 37 probes of 256
# buckets) absorbs jitter-induced sign flips on near-zero coordinates.

_SEM_SCALE = 512
_SEM_TAU_NUM = 81  # tau^2 = 81/100  ->  tau = 0.9
_SEM_TAU_DEN = 100
_SEM_EVAL_MOD = 25
_SEM_DIMS = (1, 9, 17, 25, 33, 41, 49, 57)  # 1-based sign-probe dims
_SEM_MASKS = (
    [0]
    + [1 << i for i in range(8)]
    + [(1 << i) | (1 << j) for i in range(8) for j in range(i + 1, 8)]
)


def _sql_sem_bucket(col: str) -> str:
    return " + ".join(
        f"(CASE WHEN {col}[{d}] >= 0 THEN {1 << i} ELSE 0 END)"
        for i, d in enumerate(_SEM_DIMS)
    )


_SQL_SEM_DECON = f"""
    WITH e AS (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
                            x -> CAST(floor(x * {_SEM_SCALE}) AS BIGINT)) AS q
      FROM embeddings
    ),
    ev0 AS (
      SELECT CAST(vec_id // {_SEM_EVAL_MOD} AS BIGINT) AS eval_id,
             CASE WHEN (vec_id // {_SEM_EVAL_MOD}) % 2 = 0
                  THEN list_transform(generate_series(1, len(q)),
                         i -> q[i] + ((i * 7 + vec_id // {_SEM_EVAL_MOD}) % 5 - 2))
                  ELSE list_reverse(q)
             END AS qe
      FROM e WHERE vec_id % {_SEM_EVAL_MOD} = 0
    ),
    ev AS (
      SELECT eval_id, qe,
             CAST(list_dot_product(qe, qe) AS BIGINT) AS nqe,
             {_sql_sem_bucket('qe')} AS bucket
      FROM ev0
    ),
    tr AS (
      SELECT vec_id, q,
             CAST(list_dot_product(q, q) AS BIGINT) AS nq,
             {_sql_sem_bucket('q')} AS bucket
      FROM e
    ),
    exact AS (
      SELECT ev.eval_id,
             CAST(COUNT(*) AS BIGINT) AS n_exact,
             MAX(({_SEM_TAU_DEN} * 1000
                  * CAST(list_dot_product(ev.qe, tr.q) AS BIGINT)
                  * CAST(list_dot_product(ev.qe, tr.q) AS BIGINT))
                 // (ev.nqe * tr.nq)) AS max_cos2_e5
      FROM ev JOIN tr ON TRUE
      WHERE CAST(list_dot_product(ev.qe, tr.q) AS BIGINT) > 0
        AND {_SEM_TAU_DEN}
              * CAST(list_dot_product(ev.qe, tr.q) AS BIGINT)
              * CAST(list_dot_product(ev.qe, tr.q) AS BIGINT)
            >= {_SEM_TAU_NUM} * ev.nqe * tr.nq
      GROUP BY 1
    ),
    probes AS (
      SELECT ev.eval_id, ev.qe, ev.nqe, xor(ev.bucket, m.m) AS bucket
      FROM ev CROSS JOIN (SELECT unnest({list(_SEM_MASKS)}) AS m) m
    ),
    lsh AS (
      SELECT p.eval_id, CAST(COUNT(*) AS BIGINT) AS n_lsh
      FROM probes p JOIN tr ON p.bucket = tr.bucket
      WHERE CAST(list_dot_product(p.qe, tr.q) AS BIGINT) > 0
        AND {_SEM_TAU_DEN}
              * CAST(list_dot_product(p.qe, tr.q) AS BIGINT)
              * CAST(list_dot_product(p.qe, tr.q) AS BIGINT)
            >= {_SEM_TAU_NUM} * p.nqe * tr.nq
      GROUP BY 1
    )
    SELECT ev.eval_id,
           CAST(CASE WHEN ev.eval_id % 2 = 0 THEN 1 ELSE 0 END AS BIGINT)
             AS planted,
           COALESCE(exact.n_exact, CAST(0 AS BIGINT)) AS n_exact,
           COALESCE(lsh.n_lsh, CAST(0 AS BIGINT)) AS n_lsh,
           COALESCE(exact.max_cos2_e5, CAST(-1 AS BIGINT)) AS max_cos2_e5,
           CASE WHEN COALESCE(exact.n_exact, 0) = 0 THEN CAST(-1 AS BIGINT)
                ELSE CAST((1000 * COALESCE(lsh.n_lsh, 0))
                          // exact.n_exact AS BIGINT)
           END AS recall_permille
    FROM ev
    LEFT JOIN exact USING (eval_id)
    LEFT JOIN lsh USING (eval_id)
    ORDER BY ev.eval_id
    """


def _sem_bucket(col: str) -> F.Column:
    b = F.lit(0)
    for i, d in enumerate(_SEM_DIMS):
        b = b + F.when(F.element_at(col, d) >= 0, F.lit(1 << i)).otherwise(0)
    return b


@register("cur_semantic_decontaminate", oracle=_SQL_SEM_DECON)
def cur_semantic_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic (embedding-space) train/eval decontamination with a
    built-in recall referee — see the module-tail comment block for the
    fixture construction and the integer-lattice threshold algebra.

    Scale shape (100 TB): the corpus side maps each vector to ONE
    bucket key and one hash-join probe — no explosion, no corpus
    shuffle beyond the per-eval aggregate of matched pairs (bounded by
    |contamination|, not |corpus|).  The eval table (a benchmark suite,
    thousands-to-millions of rows) explodes x37 probes and broadcasts.
    The exact referee side IS a broadcast nested-loop scan — linear in
    the corpus, the honest audit; production runs it on a deterministic
    sample when |eval| is too large for full audit.  Counterpart of the
    reference's string-level contamination checks (SURVEY.md north
    star; no reference file computes in embedding space)."""
    emb = load_parallel(spark, sf_dir, "embeddings")
    e = emb.select("vec_id", lattice(F.col("embedding"), _SEM_SCALE).alias("q"))
    ev0 = e.filter(F.col("vec_id") % _SEM_EVAL_MOD == 0).select(
        F.expr(f"CAST(vec_id DIV {_SEM_EVAL_MOD} AS BIGINT)").alias("eval_id"),
        "q",
    )
    jitter = F.transform(
        F.col("q"),
        lambda x, i: x + ((i + 1) * 7 + F.col("eval_id")) % 5 - 2,
    )
    ev = ev0.select(
        "eval_id",
        F.when(F.col("eval_id") % 2 == 0, jitter)
        .otherwise(F.reverse(F.col("q")))
        .alias("qe"),
    ).select(
        "eval_id",
        "qe",
        idot(F.col("qe"), F.col("qe")).alias("nqe"),
        _sem_bucket("qe").alias("bucket"),
    )
    tr = e.select(
        "vec_id",
        "q",
        idot(F.col("q"), F.col("q")).alias("nq"),
        _sem_bucket("q").alias("bucket"),
    )

    def matches(pairs: DataFrame) -> DataFrame:
        d = pairs.withColumn("dp", idot(F.col("qe"), F.col("q")))
        return d.filter(
            (F.col("dp") > 0)
            & (
                _SEM_TAU_DEN * F.col("dp") * F.col("dp")
                >= _SEM_TAU_NUM * F.col("nqe") * F.col("nq")
            )
        )

    exact = (
        matches(F.broadcast(ev).crossJoin(tr))
        .groupBy("eval_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_exact"),
            F.max(
                F.expr(
                    f"({_SEM_TAU_DEN} * 1000 * dp * dp) DIV (nqe * nq)"
                )
            ).alias("max_cos2_e5"),
        )
    )
    masks = F.explode(F.array([F.lit(m) for m in _SEM_MASKS])).alias("m")
    probes = ev.select(
        "eval_id", "qe", "nqe", F.col("bucket"), masks
    ).select(
        "eval_id",
        "qe",
        "nqe",
        F.col("bucket").bitwiseXOR(F.col("m")).alias("bucket"),
    )
    lsh = (
        matches(F.broadcast(probes).join(tr, "bucket"))
        .groupBy("eval_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_lsh"))
    )
    return (
        ev.select("eval_id")
        .join(exact, "eval_id", "left")
        .join(lsh, "eval_id", "left")
        .select(
            "eval_id",
            F.when(F.col("eval_id") % 2 == 0, F.lit(1))
            .otherwise(0)
            .cast("long")
            .alias("planted"),
            F.coalesce(F.col("n_exact"), F.lit(0).cast("long")).alias("n_exact"),
            F.coalesce(F.col("n_lsh"), F.lit(0).cast("long")).alias("n_lsh"),
            F.coalesce(F.col("max_cos2_e5"), F.lit(-1).cast("long")).alias(
                "max_cos2_e5"
            ),
            F.when(F.coalesce(F.col("n_exact"), F.lit(0)) == 0, F.lit(-1).cast("long"))
            .otherwise(
                F.expr("CAST((1000 * COALESCE(n_lsh, 0)) DIV n_exact AS BIGINT)")
            )
            .alias("recall_permille"),
        )
        .orderBy("eval_id")
    )


# --- Aho-Corasick blocklist gate (r10) ---------------------------------------

_AC_BLOCKLIST = ("slow", "table table", "scan scan", "agg", "a a", "batch")
_BLOCK_THRESHOLD = 10

_SQL_AC_BLOCKLIST = f"""
    WITH pats AS (
      SELECT * FROM (VALUES {", ".join(f"('{p}')" for p in _AC_BLOCKLIST)}) p(pat)
    ),
    pos AS (
      SELECT unnest(range(1, (SELECT MAX(len(text)) FROM documents) + 1)) AS i
    ),
    hits AS (
      SELECT d.doc_id, p.pat, COUNT(*) AS c
      FROM documents d, pats p, pos r
      WHERE r.i + len(p.pat) - 1 <= len(d.text)
        AND substr(d.text, CAST(r.i AS INT), CAST(len(p.pat) AS INT)) = p.pat
      GROUP BY 1, 2
    ),
    perdoc AS (
      SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_hits,
             CAST(COUNT(*) AS BIGINT) AS n_patterns
      FROM hits GROUP BY doc_id
    )
    SELECT d.doc_id,
           COALESCE(p.n_hits, CAST(0 AS BIGINT)) AS n_hits,
           COALESCE(p.n_patterns, CAST(0 AS BIGINT)) AS n_patterns,
           CAST(CASE WHEN COALESCE(p.n_hits, 0) >= {_BLOCK_THRESHOLD}
                THEN 1 ELSE 0 END AS BIGINT) AS blocked
    FROM documents d LEFT JOIN perdoc p USING (doc_id)
    ORDER BY d.doc_id
    """


@register("cur_blocklist_scrub", oracle=_SQL_AC_BLOCKLIST)
def cur_blocklist_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-pattern blocklist gate (operators/ahocorasick.py): one
    Aho-Corasick pass counts every occurrence of every blocklist
    pattern per document — overlapping matches and nested patterns
    included (the fixture blocklist has both: "table table" matches
    twice inside "table table table", and "a a" / "agg" land inside
    longer tokens) — then documents at or above the hit threshold are
    flagged.  The oracle restates the exact same semantics as a
    positions scan (count of i where substr(text, i, |p|) = p), which
    is what the automaton's output-link sum computes in O(|text|)
    instead of O(|text| * K).

    Scale shape: the automaton builds once from the KB-sized blocklist
    and ships in the mapInPandas closure; matching is a pure per-row
    scan with zero shuffle before the final sort — the curation-gate
    shape (cf. cur_gopher_repetition) at 100 TB."""
    from specialsid_spark.operators.ahocorasick import AhoCorasick

    d = load_parallel(spark, sf_dir, "documents").select("doc_id", "text")
    ac = AhoCorasick(list(_AC_BLOCKLIST))
    threshold = _BLOCK_THRESHOLD

    def kernel(doc_id, text):
        c = ac.counts(text)
        yield doc_id, sum(c), sum(1 for x in c if x)

    scored = map_rows(d, kernel, "doc_id long, n_hits long, n_patterns long")
    return scored.select(
        "doc_id",
        "n_hits",
        "n_patterns",
        F.when(F.col("n_hits") >= threshold, F.lit(1))
        .otherwise(0)
        .cast("long")
        .alias("blocked"),
    ).orderBy("doc_id")


_SEQ_LEN = 512


@register(
    "cur_sequence_packing",
    # r11 — the trainer-facing twin of cur_token_packing: CONCAT-AND-
    # CHUNK sample packing.  The whitespace-token stream, concatenated
    # in stable doc order, is cut into fixed 512-token training
    # sequences; documents split across cut points (the standard
    # packed-pretraining shape).  Per sequence: how many docs
    # contribute, how many arrived mid-document (carryover — the
    # attention-mask reset count), and the token fill (SEQ everywhere
    # but the ragged tail).  All integer arithmetic over the same
    # cumsum both engines compute identically.
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             len(string_split_regex(lower(trim(text)), '\\s+')) AS n_tokens
      FROM documents
    ),
    c AS (
      SELECT doc_id, n_tokens,
             SUM(n_tokens) OVER (ORDER BY doc_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS cum
      FROM t
    ),
    spans AS (
      SELECT doc_id, n_tokens, cum - n_tokens AS lo, cum,
             CAST((cum - n_tokens) // {_SEQ_LEN} AS BIGINT) AS s0,
             CAST((cum - 1) // {_SEQ_LEN} AS BIGINT) AS s1
      FROM c WHERE n_tokens > 0
    ),
    hits AS (
      SELECT sp.doc_id, sp.lo, sp.cum, sp.s0, gs.seq
      FROM spans sp, LATERAL UNNEST(generate_series(sp.s0, sp.s1)) AS gs(seq)
    )
    SELECT seq,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN s0 < seq THEN 1 ELSE 0 END) AS BIGINT)
             AS n_carryover,
           CAST(SUM(LEAST(cum, (seq + 1) * {_SEQ_LEN})
                    - GREATEST(lo, seq * {_SEQ_LEN})) AS BIGINT) AS seq_tokens
    FROM hits
    GROUP BY seq
    ORDER BY seq
    """,
)
def cur_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4/curation extension (r11) — SAMPLE PACKING, the last step
    before a pretraining dataloader: the corpus token stream (stable
    doc order) is cut into fixed {SEQ}-token sequences; emits per
    sequence the contributing-doc count, the carryover count (docs
    continuing across the left cut — where the attention mask resets),
    and the fill.  Packing efficiency and mask-reset density are the
    two numbers a packed-batch pipeline monitors.

    Scale shape: the cumsum is the distributed two-pass prefix sum
    (range-partition + driver-side offsets — the cur_token_packing
    idiom, no SinglePartition window); each doc then explodes to only
    the sequences it overlaps (output-bound fan-out) and one hash
    aggregation groups by sequence."""
    d = load_parallel(spark, sf_dir, "documents")
    t = d.select("doc_id", F.size(tokens("text")).alias("n_tokens"))
    part = (
        t.repartitionByRange(32, "doc_id")
        .withColumn("pid", F.spark_partition_id())
        .localCheckpoint()
    )
    subs = part.groupBy("pid").agg(F.sum("n_tokens").alias("sub")).collect()
    run, offsets = 0, {}
    for r in sorted(subs, key=lambda r: r.pid):
        offsets[r.pid] = run
        run += r.sub
    off = F.create_map(
        *[F.lit(x) for pid_o in sorted(offsets.items()) for x in pid_o]
    )
    w = (
        Window.partitionBy("pid")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    spans = (
        part.select(
            "doc_id",
            "n_tokens",
            (off[F.col("pid")] + F.sum("n_tokens").over(w)).alias("cum"),
        )
        .filter(F.col("n_tokens") > 0)
        .select(
            "doc_id",
            (F.col("cum") - F.col("n_tokens")).alias("lo"),
            "cum",
            F.floor((F.col("cum") - F.col("n_tokens")) / _SEQ_LEN)
            .cast("long")
            .alias("s0"),
            F.floor((F.col("cum") - 1) / _SEQ_LEN).cast("long").alias("s1"),
        )
    )
    hits = spans.select(
        "lo", "cum", "s0",
        F.explode(F.sequence("s0", "s1")).alias("seq"),
    )
    return (
        hits.groupBy("seq")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("s0") < F.col("seq")).cast("long")).alias(
                "n_carryover"
            ),
            F.sum(
                F.least(F.col("cum"), (F.col("seq") + 1) * _SEQ_LEN)
                - F.greatest(F.col("lo"), F.col("seq") * _SEQ_LEN)
            ).cast("long").alias("seq_tokens"),
        )
        .orderBy("seq")
    )


@register(
    "cur_epoch_shard_assignment",
    oracle="""
    WITH h AS (
      SELECT doc_id,
             md5(CAST(doc_id AS VARCHAR) || ':epoch:1') AS hx
      FROM documents
    ),
    a AS (
      SELECT doc_id,
             ('0x' || substring(hx, 1, 8))::BIGINT % 8 AS shard,
             ('0x' || substring(hx, 9, 8))::BIGINT AS ord_key
      FROM h
    ),
    r AS (
      SELECT shard, doc_id,
             ROW_NUMBER() OVER (PARTITION BY shard
                                ORDER BY ord_key, doc_id) AS pos
      FROM a
    )
    SELECT shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(doc_id % 1000000007) % 1000000007 AS BIGINT) AS id_sum,
           CAST(SUM((pos * doc_id) % 1000000007) % 1000000007 AS BIGINT)
             AS perm_checksum
    FROM r
    GROUP BY shard
    ORDER BY shard
    """,
)
def cur_epoch_shard_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r12 — deterministic EPOCH SHUFFLE + shard assignment, the last
    hop before a training dataloader: every document is (a) assigned to
    one of 8 shards and (b) given a pseudo-random position WITHIN its
    shard, both derived from md5(doc_id || ':epoch:' || N) so a new
    epoch literal reshuffles everything reproducibly with zero state.
    The emitted ``perm_checksum`` (sum of pos*doc_id mod p) pins the
    ENTIRE within-shard permutation, not just membership — a different
    shuffle order is a hash-red, which is the point: training-data
    order must be bit-reproducible across reruns and engines.

    Scale shape: the within-shard rank is the repo's two-pass
    range-partitioned rank (the text_kn_perplexity / cur_dsir pattern —
    VERDICT r10 #3), NOT a Window.partitionBy(shard): 8 shards would
    mean 8 reducer tasks at 100 TB.  Range-partition on (shard,
    ord_key, doc_id), collect only the bounded per-(partition, shard)
    counts (<= 32x8 rows), and compose pos = offset + local row_number
    — every sort stays partition-local.  Content-hash (md5), never
    engine hash (Murmur3 differs across engines)."""
    d = load_parallel(spark, sf_dir, "documents")
    hx = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":epoch:1")))
    a = d.select(
        "doc_id",
        (F.conv(F.substring(hx, 1, 8), 16, 10).cast("long") % 8).alias("shard"),
        F.conv(F.substring(hx, 9, 8), 16, 10).cast("long").alias("ord_key"),
    )
    part = (
        a.repartitionByRange(32, "shard", "ord_key", "doc_id")
        .withColumn("pid", F.spark_partition_id())
        .localCheckpoint()
    )
    # bounded collect: one row per (range-partition, shard), <= 32*8
    subs = part.groupBy("pid", "shard").agg(F.count(F.lit(1)).alias("c")).collect()
    running: dict = {}
    offsets: dict = {}
    for row in sorted(subs, key=lambda r: (r.shard, r.pid)):
        offsets[(row.pid, row.shard)] = running.get(row.shard, 0)
        running[row.shard] = running.get(row.shard, 0) + row.c
    off = F.create_map(
        *[
            F.lit(x)
            for (pid, sh), o in sorted(offsets.items())
            for x in (pid * 8 + sh, o)
        ]
    )
    w = Window.partitionBy("pid", "shard").orderBy("ord_key", "doc_id")
    r = part.select(
        "shard",
        "doc_id",
        (
            off[F.col("pid") * 8 + F.col("shard")] + F.row_number().over(w)
        ).alias("pos"),
    )
    return (
        r.groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            (F.sum(F.col("doc_id") % 1000000007) % 1000000007)
            .cast("long")
            .alias("id_sum"),
            # mod PER ROW before summing (r12 review): a mod-after-sum
            # would wrap Spark's non-ANSI LONG running sum at ~10M docs
            # while DuckDB sums in exact HUGEINT — the CUSUM bug class
            (F.sum((F.col("pos") * F.col("doc_id")) % 1000000007) % 1000000007)
            .cast("long")
            .alias("perm_checksum"),
        )
        .orderBy("shard")
    )


@register(
    "cur_fim_transform",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {_SQL_TOKS} AS toks,
             md5(CAST(doc_id AS VARCHAR) || ':fim') AS hx
      FROM documents
    ),
    s AS (
      SELECT doc_id, toks, len(toks) AS n,
             ('0x' || substring(hx, 1, 8))::BIGINT AS u1,
             ('0x' || substring(hx, 9, 8))::BIGINT AS u2
      FROM t
    ),
    p AS (
      SELECT doc_id, toks, n,
             CASE WHEN n >= 3 THEN 1 + (u1 % (n - 2)) ELSE 0 END AS p1,
             CASE WHEN n >= 3
                  THEN (1 + (u1 % (n - 2))) + 1
                       + (u2 % (n - (1 + (u1 % (n - 2))) - 1))
                  ELSE 0 END AS p2
      FROM s
    )
    SELECT doc_id,
           CAST(n AS BIGINT) AS n_tokens,
           CAST(p1 AS BIGINT) AS p1,
           CAST(p2 AS BIGINT) AS p2,
           CAST(CASE WHEN n >= 3 THEN 1 ELSE 0 END AS INT) AS fim_applied,
           md5(CASE WHEN n >= 3 THEN
                 '<PRE>' || array_to_string(toks[1:p1], ' ')
                 || '<SUF>' || array_to_string(toks[p2+1:n], ' ')
                 || '<MID>' || array_to_string(toks[p1+1:p2], ' ')
               ELSE array_to_string(toks, ' ') END) AS fim_md5
    FROM p
    ORDER BY doc_id
    """,
)
def cur_fim_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r12 — FILL-IN-MIDDLE transformation (Bavarian et al. 2022, the
    OpenAI FIM paper; standard for code-corpus pre-training): each
    document is split at two deterministic pseudo-random token points
    into (prefix, middle, suffix) and re-serialized as
    <PRE>prefix<SUF>suffix<MID>middle, teaching the model to infill.
    Split points derive from md5(doc_id || ':fim') so the transform is
    reproducible across engines and epochs; docs under 3 tokens pass
    through unchanged (fim_applied = 0).  The emitted fim_md5 pins the
    ENTIRE transformed byte sequence, so the oracle value-checks the
    reassembly itself, not just the split arithmetic.

    Scale shape: a pure per-row projection — no shuffle except the
    final presentation sort; at 100 TB this runs at scan speed.
    Content-hash split points, never engine hashes or RNG."""
    d = load_parallel(spark, sf_dir, "documents")
    hx = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":fim")))
    t = d.select(
        "doc_id",
        tokens("text").alias("toks"),
        F.conv(F.substring(hx, 1, 8), 16, 10).cast("long").alias("u1"),
        F.conv(F.substring(hx, 9, 8), 16, 10).cast("long").alias("u2"),
    ).withColumn("n", F.size("toks").cast("long"))
    p1 = F.when(F.col("n") >= 3, F.lit(1) + F.col("u1") % (F.col("n") - 2)).otherwise(
        F.lit(0)
    )
    t = t.withColumn("p1", p1)
    p2 = F.when(
        F.col("n") >= 3,
        F.col("p1") + 1 + F.col("u2") % (F.col("n") - F.col("p1") - 1),
    ).otherwise(F.lit(0))
    t = t.withColumn("p2", p2)
    fim = F.concat(
        F.lit("<PRE>"),
        F.array_join(F.slice("toks", F.lit(1), F.col("p1").cast("int")), " "),
        F.lit("<SUF>"),
        F.array_join(
            F.slice(
                "toks",
                (F.col("p2") + 1).cast("int"),
                (F.col("n") - F.col("p2")).cast("int"),
            ),
            " ",
        ),
        F.lit("<MID>"),
        F.array_join(
            F.slice(
                "toks",
                (F.col("p1") + 1).cast("int"),
                (F.col("p2") - F.col("p1")).cast("int"),
            ),
            " ",
        ),
    )
    return t.select(
        "doc_id",
        F.col("n").alias("n_tokens"),
        F.col("p1").cast("long").alias("p1"),
        F.col("p2").cast("long").alias("p2"),
        (F.col("n") >= 3).cast("int").alias("fim_applied"),
        F.md5(
            F.when(F.col("n") >= 3, fim).otherwise(F.array_join("toks", " "))
        ).alias("fim_md5"),
    ).orderBy("doc_id")


# Unicode-normalization fixtures (r13): the synthetic corpus is pure
# ASCII (NFKC-invariant), so the fixture plants NFKC-divergent suffixes
# — ligatures, fullwidth forms, a combining accent, a zero-width Cf
# char, NBSP, a vulgar fraction, a superscript — whose normalized
# forms are HAND-DERIVED from the Unicode data tables (the spec-fixture
# discipline: the oracle pins expected outputs, it never runs a
# normalizer).  in/out pairs verified against unicodedata 15.x.
_UNI_RAW = (
    " \ufb01nal \ufb02ight",            # fi/fl ligatures
    " \uff38\uff11\uff12\uff13 \u339e",  # fullwidth X123, SQUARE KM
    " cafe\u0301 zero\u200bwidth",      # combining acute + ZWSP (Cf)
    " \u00bd\u00a0dozen \u2075",       # 1/2 vulgar, NBSP, superscript 5
)
_UNI_NORM = (
    " final flight",
    " X123 km",
    " caf\u00e9 zerowidth",
    " 1\u20442 dozen 5",                 # U+2044 FRACTION SLASH
)


@register(
    "cur_unicode_normalize",
    oracle=f"""
    SELECT doc_id,
           md5(text || CASE doc_id % 4
                 WHEN 0 THEN '{_UNI_NORM[0]}'
                 WHEN 1 THEN '{_UNI_NORM[1]}'
                 WHEN 2 THEN '{_UNI_NORM[2]}'
                 ELSE '{_UNI_NORM[3]}' END) AS norm_md5,
           CAST(length(text || CASE doc_id % 4
                 WHEN 0 THEN '{_UNI_RAW[0]}'
                 WHEN 1 THEN '{_UNI_RAW[1]}'
                 WHEN 2 THEN '{_UNI_RAW[2]}'
                 ELSE '{_UNI_RAW[3]}' END) AS INT) AS n_in_chars,
           CAST(length(text || CASE doc_id % 4
                 WHEN 0 THEN '{_UNI_NORM[0]}'
                 WHEN 1 THEN '{_UNI_NORM[1]}'
                 WHEN 2 THEN '{_UNI_NORM[2]}'
                 ELSE '{_UNI_NORM[3]}' END) AS INT) AS n_out_chars
    FROM documents
    ORDER BY doc_id
    """,
)
def cur_unicode_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4, r13 — Unicode normalization, the cleanup pass every
    real-world curation pipeline runs BEFORE tokenization/dedup (the
    same byte sequence must fingerprint identically whether the crawl
    delivered ligatures, fullwidth forms, or combining sequences):
    NFKC-normalize, then strip format characters (category Cf:
    zero-width space/joiners, BOM).  Spark has no built-in NFKC, so
    this is a declared Python path — one Arrow-batched pandas_udf,
    per-row independent, no shuffle before the final sort (UDFs are
    the slow path, but a correctness-critical one with no JVM
    equivalent; at 100 TB it pipelines inside the scan stage).

    The oracle never runs a normalizer: the planted suffixes'
    normalized forms are hand-derived from the Unicode tables
    (UAX #15 / the UCD compatibility mappings), and the ASCII corpus
    text is NFKC-invariant by construction — so both the md5 and the
    code-point counts pin the implementation against the spec, not
    against itself."""
    @F.pandas_udf("string")
    def nfkc_clean(s: pd.Series) -> pd.Series:
        import unicodedata as u  # noqa: PLC0415

        def f(x: str) -> str:
            n = u.normalize("NFKC", x)
            return "".join(ch for ch in n if u.category(ch) != "Cf")

        return s.map(f)

    d = load_parallel(spark, sf_dir, "documents")
    suffix = (
        F.when(F.col("doc_id") % 4 == 0, _UNI_RAW[0])
        .when(F.col("doc_id") % 4 == 1, _UNI_RAW[1])
        .when(F.col("doc_id") % 4 == 2, _UNI_RAW[2])
        .otherwise(_UNI_RAW[3])
    )
    aug = d.select(
        "doc_id", F.concat(F.col("text"), suffix).alias("atext")
    )
    return aug.select(
        "doc_id",
        F.md5(nfkc_clean("atext").cast("binary")).alias("norm_md5"),
        F.length("atext").cast("int").alias("n_in_chars"),
        F.length(nfkc_clean("atext")).cast("int").alias("n_out_chars"),
    ).orderBy("doc_id")


@register(
    "cur_quality_roc_sweep",
    # The oracle restates the sweep: score = English stopword hits in
    # the token stream, label = the declared lang, thresholds = every
    # OBSERVED score value (predict en iff score >= t); counts come
    # from one cumulative window over the per-score histogram.
    oracle="""
    WITH t AS (
      SELECT doc_id,
             string_split_regex(lower(trim(text)), '\\s+') AS toks,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS label
      FROM documents
    ),
    scored AS (
      SELECT len(list_filter(toks,
                 x -> x IN ('the','and','of','to','in','is'))) AS score,
             label
      FROM t
    ),
    hist AS (
      SELECT score,
             SUM(label) AS pos,
             COUNT(*) - SUM(label) AS neg
      FROM scored GROUP BY score
    ),
    tot AS (SELECT SUM(pos) AS p, SUM(neg) AS n FROM hist),
    cum AS (
      SELECT score,
             SUM(pos) OVER (ORDER BY score DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tp,
             SUM(neg) OVER (ORDER BY score DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fp
      FROM hist
    )
    SELECT CAST(score AS BIGINT) AS threshold,
           CAST(tp AS BIGINT) AS tp,
           CAST(fp AS BIGINT) AS fp,
           CAST(p - tp AS BIGINT) AS fn,
           CAST(n - fp AS BIGINT) AS tn,
           CAST((1000 * tp) // p AS BIGINT) AS tpr_permille,
           CAST((1000 * fp) // n AS BIGINT) AS fpr_permille
    FROM cum, tot
    ORDER BY threshold
    """,
)
def cur_quality_roc_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4/curation, r13 — gate-threshold calibration as a dataflow: the
    full ROC sweep of a CHEAP quality/langid signal (English stopword
    hits per document) against the corpus's declared labels, one row
    per observed score value with exact integer confusion counts
    (predict positive iff score >= threshold).  This is the operation
    that turns "we have a cheap scorer" into "we gate at t because the
    measured FPR there is x" — every curation pipeline runs it before
    trusting a gate, and re-runs it whenever the corpus mix drifts.

    Scale shape: ONE corpus pass builds the per-score histogram with a
    map-side-combining groupBy (shuffle carries |distinct scores|
    partials, bounded by max doc length, NOT corpus rows); the
    cumulative window then runs over that summary-sized histogram —
    the unpartitioned window is deliberate and safe for the same
    reason the sketch queries' merge steps are (input is the
    histogram, never the corpus; same discipline as
    agg_qdigest_quantiles' subtree cut).  Integer permille ratios — no
    float in the verdict."""
    d = load_parallel(spark, sf_dir, "documents")
    scored = d.select(
        F.expr(
            "size(filter(split(lower(trim(text)), '\\\\s+'),"
            " x -> x IN ('the','and','of','to','in','is')))"
        ).alias("score"),
        (F.col("lang") == "en").cast("int").alias("label"),
    )
    hist = scored.groupBy("score").agg(
        F.sum("label").alias("pos"),
        (F.count(F.lit(1)) - F.sum("label")).alias("neg"),
    )
    tot = hist.agg(
        F.sum("pos").alias("p"), F.sum("neg").alias("n")
    )
    w = Window.orderBy(F.desc("score")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = hist.select(
        "score",
        F.sum("pos").over(w).alias("tp"),
        F.sum("neg").over(w).alias("fp"),
    )
    return (
        cum.crossJoin(F.broadcast(tot))
        .select(
            F.col("score").cast("long").alias("threshold"),
            F.col("tp").cast("long").alias("tp"),
            F.col("fp").cast("long").alias("fp"),
            (F.col("p") - F.col("tp")).cast("long").alias("fn"),
            (F.col("n") - F.col("fp")).cast("long").alias("tn"),
            F.expr("(1000 * tp) DIV p").cast("long").alias("tpr_permille"),
            F.expr("(1000 * fp) DIV n").cast("long").alias("fpr_permille"),
        )
        .orderBy("threshold")
    )


@register(
    "cur_tokenizer_fertility",
    # The oracle restates the per-language rollup: pieces = the GPT-2
    # style pre-tokenizer regex (runs of letters | runs of digits |
    # single other non-space), words = whitespace tokens, bytes =
    # octet length; fertility = integer permille ratios.
    oracle="""
    WITH t AS (
      SELECT lang,
             len(regexp_extract_all(lower(text),
                 '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS pieces,
             len(string_split_regex(lower(trim(text)), '\\s+')) AS words,
             strlen(text) AS bytes
      FROM documents
    ),
    g AS (
      SELECT lang,
             COUNT(*) AS n_docs,
             SUM(pieces) AS n_pieces,
             SUM(words) AS n_words,
             SUM(bytes) AS n_bytes
      FROM t GROUP BY lang
    )
    SELECT lang,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_pieces AS BIGINT) AS n_pieces,
           CAST(n_words AS BIGINT) AS n_words,
           CAST(n_bytes AS BIGINT) AS n_bytes,
           CAST(CASE WHEN n_bytes = 0 THEN -1
                ELSE (1000 * n_pieces) // n_bytes END AS BIGINT)
             AS pieces_per_kb,
           CAST(CASE WHEN n_words = 0 THEN -1
                ELSE (1000 * n_pieces) // n_words END AS BIGINT)
             AS pieces_per_kword
    FROM g
    ORDER BY lang
    """,
)
def cur_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4/curation, r13 — tokenizer FERTILITY by language: how many
    pre-tokenizer pieces the corpus costs per kilobyte and per
    thousand whitespace words, grouped by the declared language.  This
    is the metric multilingual curation actually budgets with — a
    letter-run tokenizer explodes CJK text into per-character pieces
    (tests/test_curation_metrics.py pins the zh >> en ordering on real
    Chinese text; the FIXTURE corpus's declared labels are
    text-independent ASCII, same honesty note as text_langid_trained),
    so shard token budgets, mixture weights, and cost-per-language
    estimates all key off this table; re-measured whenever the
    tokenizer or the corpus mix changes.  Reuses text_bpe_token_count's
    GPT-2-style regex so the two views of "token cost" stay consistent.

    Scale shape: ONE corpus pass, all JVM-side regexp, map-side
    combining groupBy on lang — the shuffle carries |langs| partial
    sums, not documents.  Integer permille ratios; zero denominators
    pinned to -1 rather than erroring (empty-language guard)."""
    return fertility_rollup(load_parallel(spark, sf_dir, "documents"))


def fertility_rollup(d: DataFrame) -> DataFrame:
    """The fertility rollup over any (lang, text) frame — factored so
    tests can drive it with real multilingual text."""
    t = d.select(
        "lang",
        F.size(
            F.regexp_extract_all(
                F.lower("text"), F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]"), 0
            )
        ).alias("pieces"),
        F.size(tokens("text")).alias("words"),
        F.octet_length("text").alias("bytes"),
    )
    g = t.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("pieces").cast("long").alias("n_pieces"),
        F.sum("words").cast("long").alias("n_words"),
        F.sum("bytes").cast("long").alias("n_bytes"),
    )
    return g.select(
        "lang",
        "n_docs",
        "n_pieces",
        "n_words",
        "n_bytes",
        F.expr(
            "CASE WHEN n_bytes = 0 THEN -1"
            " ELSE (1000 * n_pieces) DIV n_bytes END"
        ).cast("long").alias("pieces_per_kb"),
        F.expr(
            "CASE WHEN n_words = 0 THEN -1"
            " ELSE (1000 * n_pieces) DIV n_words END"
        ).cast("long").alias("pieces_per_kword"),
    ).orderBy("lang")
