"""Text analysis over `documents` (SURVEY.md §2.11 X4).

Language-ID (stopword-vote heuristic), quality scoring, token counting,
bigram frequency, document fingerprinting — all native expressions via
operators/textops.py.  The DuckDB oracles state the same computations
with list lambdas, so the *semantics* are verified, not just shapes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from specialsid_spark.catalog import load_parallel
from specialsid_spark.operators.textops import fingerprint, lang_guess, quality_gate, tokens
from specialsid_spark.operators.rows import map_rows
from specialsid_spark.queries import register

_SQL_TOKENS = "string_split_regex(lower(trim(text)), '\\s+')"


@register(
    "text_token_stats",
    oracle=f"""
    SELECT doc_id,
           CAST(len({_SQL_TOKENS}) AS BIGINT) AS n_tokens,
           CAST(length(text) AS BIGINT) AS n_chars_computed,
           CAST(len(list_distinct({_SQL_TOKENS})) AS BIGINT) AS n_distinct_tokens
    FROM documents
    ORDER BY doc_id
    """,
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_parallel(spark, sf_dir, "documents")
    # named projection: toks is referenced twice below — inline would
    # re-run the regex split per reference
    t = d.select("doc_id", F.length("text").alias("n_chars"), tokens("text").alias("toks"))
    return t.select(
        "doc_id",
        F.size("toks").cast("long").alias("n_tokens"),
        F.col("n_chars").cast("long").alias("n_chars_computed"),
        F.size(F.array_distinct("toks")).cast("long").alias("n_distinct_tokens"),
    ).orderBy("doc_id")


_STOPWORDS = ("the", "a", "of", "and")


@register(
    "text_quality_score",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {_SQL_TOKENS} AS toks FROM documents
    )
    SELECT doc_id,
           CAST(len(list_filter(toks, t -> t IN ('the','a','of','and'))) AS DOUBLE)
             / CAST(len(toks) AS DOUBLE) AS stopword_ratio,
           CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE)
             AS distinct_ratio,
           CASE WHEN len(toks) BETWEEN 5 AND 1000
                 AND CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE) > 0.1
                THEN 1 ELSE 0 END AS quality_ok
    FROM t
    ORDER BY doc_id
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality heuristics: stopword ratio, lexical diversity, length gate
    — the standard pre-training corpus filters, as pure expressions."""
    d = load_parallel(spark, sf_dir, "documents")
    toks = tokens("text")
    t = d.select("doc_id", toks.alias("toks"))
    n = F.size("toks").cast("double")
    stop_n = F.size(
        F.filter(F.col("toks"), lambda x: x.isin(*_STOPWORDS))
    ).cast("double")
    return t.select(
        "doc_id",
        (stop_n / n).alias("stopword_ratio"),
        (F.size(F.array_distinct("toks")).cast("double") / n).alias("distinct_ratio"),
        F.when(quality_gate(F.col("toks")), F.lit(1)).otherwise(F.lit(0)).alias("quality_ok"),
    ).orderBy("doc_id")


@register(
    "text_langid_heuristic",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_SQL_TOKENS} AS toks FROM documents),
    v AS (
      SELECT doc_id,
             len(list_filter(toks, t -> t IN ('the','and','of')))  AS v_en,
             len(list_filter(toks, t -> t IN ('el','la','de')))    AS v_es,
             len(list_filter(toks, t -> t IN ('le','la','et')))    AS v_fr,
             len(list_filter(toks, t -> t IN ('der','die','und'))) AS v_de
      FROM t
    )
    SELECT doc_id,
           CASE WHEN v_en >= v_es AND v_en >= v_fr AND v_en >= v_de THEN 'en'
                WHEN v_es >= v_fr AND v_es >= v_de THEN 'es'
                WHEN v_fr >= v_de THEN 'fr'
                ELSE 'de' END AS lang_guess
    FROM v
    ORDER BY doc_id
    """,
)
def text_langid_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-vote language ID with a fixed tie-break order (en>es>fr>de)."""
    d = load_parallel(spark, sf_dir, "documents")
    t = d.select("doc_id", tokens("text").alias("toks"))
    return t.select("doc_id", lang_guess(F.col("toks")).alias("lang_guess")).orderBy("doc_id")


@register(
    "text_fingerprint",
    oracle=f"""
    SELECT doc_id,
           md5(array_to_string(list_sort(list_distinct({_SQL_TOKENS})), ' ')) AS fp
    FROM documents
    ORDER BY doc_id
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-of-words identity fingerprint: md5 over the sorted distinct
    token set (portable hash; same hex in any engine)."""
    d = load_parallel(spark, sf_dir, "documents")
    return d.select("doc_id", fingerprint(tokens("text")).alias("fp")).orderBy("doc_id")


@register(
    "text_bigram_top20",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_SQL_TOKENS} AS toks FROM documents),
    grams AS (
      SELECT unnest(list_transform(range(1, len(toks)),
                                   i -> toks[i] || ' ' || toks[i + 1])) AS bigram
      FROM t
    )
    SELECT bigram, CAST(COUNT(*) AS BIGINT) AS n
    FROM grams
    GROUP BY bigram
    ORDER BY n DESC, bigram
    LIMIT 20
    """,
)
def text_bigram_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram frequency: transform+explode bigrams, count, top-20.
    TakeOrderedAndProject keeps the top-k off the driver until the end."""
    d = load_parallel(spark, sf_dir, "documents")
    # named projection: the per-gram lambda references toks twice — an
    # inline split expression would be re-evaluated per element
    tk = d.select(tokens("text").alias("toks"))
    toks = F.col("toks")
    bigrams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - 1),
        lambda i: F.concat(F.element_at(toks, i), F.lit(" "), F.element_at(toks, i + 1)),
    )
    return (
        tk.select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("bigram"))
        .limit(20)
    )


@register(
    "text_wordcount_global",
    oracle=f"""
    SELECT tok, CAST(COUNT(*) AS BIGINT) AS n
    FROM (SELECT unnest({_SQL_TOKENS}) AS tok FROM documents)
    GROUP BY tok
    ORDER BY tok
    """,
)
def text_wordcount_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical explode→groupBy wordcount (D4 records→rows lift)."""
    d = load_parallel(spark, sf_dir, "documents")
    return (
        d.select(F.explode(tokens("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("tok")
    )


_BPE_PAT = r"[a-z]+|[0-9]+|[^a-z0-9\s]"


@register(
    "text_bpe_token_count",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             regexp_extract_all(lower(text), '{_BPE_PAT}') AS pieces
      FROM documents
    )
    SELECT doc_id,
           CAST(len(pieces) AS BIGINT) AS n_pieces,
           CAST(len(list_filter(pieces, p -> regexp_matches(p, '^[a-z]+$'))) AS BIGINT)
             AS n_alpha,
           CAST(len(list_filter(pieces, p -> regexp_matches(p, '^[0-9]+$'))) AS BIGINT)
             AS n_numeric
    FROM t
    ORDER BY doc_id
    """,
)
def text_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish token counting: a GPT-2-style pre-tokenizer regex (runs of
    letters | runs of digits | single punctuation) — the standard 'how
    many tokens will this cost' estimator over a raw corpus.  All
    JVM-side regexp; the per-doc pieces array goes through a named
    projection (referenced 3x below)."""
    d = load_parallel(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        F.regexp_extract_all(F.lower("text"), F.lit(_BPE_PAT), 0).alias("pieces"),
    )
    return t.select(
        "doc_id",
        F.size("pieces").cast("long").alias("n_pieces"),
        F.size(F.filter(F.col("pieces"), lambda p: p.rlike("^[a-z]+$")))
        .cast("long")
        .alias("n_alpha"),
        F.size(F.filter(F.col("pieces"), lambda p: p.rlike("^[0-9]+$")))
        .cast("long")
        .alias("n_numeric"),
    ).orderBy("doc_id")


_WINNOW_K = 3  # k-gram size
_WINNOW_W = 4  # winnowing window (hashes per window)


@register(
    "text_winnow_fingerprints",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_SQL_TOKENS} AS toks FROM documents),
    g AS (
      SELECT doc_id,
             list_transform(range(1, greatest(len(toks) - {_WINNOW_K - 1}, 0) + 1),
                            i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS grams
      FROM t
    ),
    h AS (
      SELECT doc_id,
             list_transform(grams, x -> ('0x' || substring(md5(x), 1, 8))::BIGINT) AS gh
      FROM g
    ),
    w AS (
      SELECT doc_id,
             list_sort(list_distinct(
               list_transform(range(1, greatest(len(gh) - {_WINNOW_W - 1}, 1) + 1),
                              i -> list_min(gh[i:i+{_WINNOW_W - 1}])))) AS fps
      FROM h
    )
    SELECT doc_id,
           CAST(len(fps) AS BIGINT) AS n_fps,
           md5(array_to_string(fps, ' ')) AS fp_digest
    FROM w
    ORDER BY doc_id
    """,
)
def text_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash document fingerprinting (MOSS-style winnowing):
    hash every ORDERED k-gram, slide a w-hash window, keep each
    window's min — the selected hash set is a position-robust document
    signature (guaranteed to share fingerprints with any document that
    shares a run of >= w+k-1 tokens).

    Pipeline of named projections (toks -> grams -> hashes -> mins):
    each array is multi-referenced by the next transform, so nothing is
    re-derived, and every step is a JVM higher-order function — no
    explode, no shuffle until the final orderBy."""
    from specialsid_spark.operators.textops import word_kgrams

    d = load_parallel(spark, sf_dir, "documents")
    tk = d.select("doc_id", tokens("text").alias("toks"))
    g = tk.select("doc_id", word_kgrams(F.col("toks"), k=_WINNOW_K).alias("grams"))
    h = g.select(
        "doc_id",
        F.transform(
            F.col("grams"),
            lambda x: F.conv(F.substring(F.md5(x), 1, 8), 16, 10).cast("long"),
        ).alias("gh"),
    )
    n_win = F.greatest(F.size("gh") - (_WINNOW_W - 1), F.lit(1))
    wins = F.transform(
        F.sequence(F.lit(1), n_win),
        lambda i: F.array_min(F.slice(F.col("gh"), i, _WINNOW_W)),
    )
    w = h.select("doc_id", F.sort_array(F.array_distinct(wins)).alias("fps"))
    return w.select(
        "doc_id",
        F.size("fps").cast("long").alias("n_fps"),
        F.md5(F.array_join(F.col("fps").cast("array<string>"), " ")).alias("fp_digest"),
    ).orderBy("doc_id")


@register(
    "text_tfidf_top_terms",
    oracle="""
    WITH t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
               FROM documents),
    n AS (SELECT COUNT(*) AS n_docs FROM t),
    tf AS (SELECT doc_id, unnest(toks) AS term FROM t),
    tfc AS (SELECT doc_id, term, COUNT(*) AS tf FROM tf GROUP BY doc_id, term),
    df AS (SELECT term, COUNT(*) AS df FROM tfc GROUP BY term),
    scored AS (
      SELECT tfc.doc_id, tfc.term,
             round(CAST(tfc.tf AS DOUBLE)
                   * ln(CAST(n.n_docs AS DOUBLE) / CAST(df.df AS DOUBLE)), 6)
               AS tfidf
      FROM tfc JOIN df ON tfc.term = df.term CROSS JOIN n
      WHERE tfc.doc_id < 5
    ), ranked AS (
      SELECT doc_id, term, tfidf,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY tfidf DESC, term) AS rk
      FROM scored
    )
    SELECT doc_id, term, tfidf, CAST(rk AS BIGINT) AS rk
    FROM ranked WHERE rk <= 5
    ORDER BY doc_id, rk
    """,
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF keyword extraction: term frequency per doc x inverse
    document frequency, top-5 terms for the first 5 docs.  Both factors
    are exact integer counts; the single ln() and multiply are the same
    double ops on both engines, rounded to 6 places.  The DF table is
    |vocabulary| rows — broadcast onto the (doc, term) counts, so the
    only corpus-sized shuffle is the map-side-combined tf aggregate.
    """
    d = load_parallel(spark, sf_dir, "documents")
    t = d.select("doc_id", tokens("text").alias("toks"))
    tf = (
        t.select("doc_id", F.explode("toks").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = t.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.filter(F.col("doc_id") < 5)
        .join(F.broadcast(df), "term")
        .join(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            F.round(
                F.col("tf").cast("double")
                * F.log(F.col("n_docs").cast("double") / F.col("df").cast("double")),
                6,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "term")
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 5)
        .orderBy("doc_id", "rk")
    )


@register(
    "text_unigram_surprisal",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_SQL_TOKENS} AS toks FROM documents),
    w AS (SELECT doc_id, unnest(toks) AS word FROM t),
    vocab AS (SELECT word, COUNT(*) AS c FROM w GROUP BY word),
    n AS (SELECT SUM(c) AS total FROM vocab),
    -- fixed-point log-prob: micro-nats as BIGINT.  floor(ln(p)*1e6) of
    -- the SAME exact-count double is identical in both engines, and the
    -- per-doc SUM is then exact integer arithmetic — no FP summation
    -- order to disagree about.
    lp AS (
      SELECT v.word,
             CAST(floor(ln(CAST(v.c AS DOUBLE) / CAST(n.total AS DOUBLE)) * 1000000)
                  AS BIGINT) AS lp_mu
      FROM vocab v CROSS JOIN n
    )
    SELECT w.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(-SUM(lp.lp_mu) AS BIGINT) AS surprisal_mu,
           CAST(-SUM(lp.lp_mu) AS DOUBLE) / (1000000.0 * COUNT(*)) AS nats_per_token
    FROM w JOIN lp ON lp.word = w.word
    GROUP BY w.doc_id
    ORDER BY w.doc_id
    """,
)
def text_unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model surprisal per document — the classic
    perplexity-style quality signal (a doc whose tokens are corpus-rare
    scores high; boilerplate scores low), used alongside the Gopher
    rules to rank training data.

    Determinism: token log-probs are snapped to micro-nat integers
    (floor(ln(c/N)·1e6)), so the per-doc total surprisal is an exact
    integer SUM with one final double division — no cross-engine FP
    summation-order drift.  Caveat stated honestly: `ln` (unlike sqrt/
    division) is not IEEE-correctly-rounded, so JVM Math.log and libm
    could disagree by 1 ULP on some inputs; that only changes the
    snapped integer when ln(p) lands within ~1e-16 relative of a 1e-6
    boundary (~1e-10 per distinct word — none across all three SFs'
    vocabularies, value-verified).  A zero-risk variant would ship a
    shared log table; the measured agreement makes that premature.

    Scale shape: the vocabulary is one word-count aggregate (shuffles
    (word, count) pairs); the corpus total is a 1-row broadcast; the
    scoring join is words⋈vocab on the word key — at 100 TB the vocab
    table is Zipf-bounded (millions of rows, broadcast or bucketed) and
    each doc's score is a partial-aggregated integer sum."""
    d = load_parallel(spark, sf_dir, "documents")
    w = d.select("doc_id", F.explode(tokens("text")).alias("word"))
    vocab = w.groupBy("word").agg(F.count(F.lit(1)).alias("c"))
    n = vocab.agg(F.sum("c").alias("total"))
    lp = vocab.crossJoin(F.broadcast(n)).selectExpr(
        "word",
        "CAST(floor(ln(CAST(c AS DOUBLE) / CAST(total AS DOUBLE)) * 1000000) AS BIGINT) AS lp_mu",
    )
    return (
        w.join(lp, "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            (-F.sum("lp_mu")).cast("long").alias("surprisal_mu"),
            (
                (-F.sum("lp_mu")).cast("double")
                / (1000000.0 * F.count(F.lit(1)).cast("double"))
            ).alias("nats_per_token"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# Real BPE (operators/bpe.py): train merges on the corpus word counts, then
# apply them — the tokenizer-fitting pass a pre-training pipeline runs.
# The reference estimates token counts with a regex (text_bpe_token_count
# above); these three queries implement the actual Sennrich algorithm with
# a DuckDB oracle that RE-DERIVES training as a generated unrolled CTE
# chain: per-iteration pair counts -> argmax (count DESC, pair ASC) ->
# merge application via iterated string replace (left-to-right
# non-overlapping merge of (x, y) can never create a new (x, y) — that
# would need x+y == x or x+y == y — so bounded replace passes over a
# space-joined symbol string converge exactly to BPE's scan).
#
# Scale shape: word counting is the only corpus-scale pass (explode ->
# groupBy, shuffles (word, count)); training consumes the top-V rows
# driver-side (the k-means "collect k small things" contract — V and
# n_merges are hyperparameters, never corpus-proportional); application
# segments only the DISTINCT words (Heaps-law bounded) in an
# Arrow-batched mapInPandas, then broadcast-joins the word->n_tokens map
# back onto per-doc word counts.  Python cost is O(|vocab|), not
# O(corpus).

_BPE_WORD_RE = "[a-z]+"
_BPE_V = 120          # vocabulary rows collected for training
_BPE_NMERGES = 12     # merges learned (fixture-scale; production ~32k)
_BPE_MAXLEN = 16      # word-length cap => <= 17 symbols
_BPE_PASSES = 6       # replace passes; ceil(log2(max pair runs)) + margin


def _bpe_rep_expr(expr: str, k: int) -> str:
    """Iterated replace applying merge b{k} to a space-sentineled symbol
    string: one pass merges greedy non-overlapping occurrences but skips
    those sharing a separator space with a prior match; each pass halves
    the skipped runs, so _BPE_PASSES passes are exact for <= 17 symbols."""
    pat = f"' ' || b{k}.a || ' ' || b{k}.b || ' '"
    rep = f"' ' || b{k}.a || b{k}.b || ' '"
    for _ in range(_BPE_PASSES):
        expr = f"replace({expr}, {pat}, {rep})"
    return expr


def _bpe_train_ctes() -> str:
    """CTE chain: w0 = top-V words as char sequences; per iteration k,
    p{k} = pair counts, b{k} = best pair, w{k+1} = merged vocab."""
    parts = [
        f"""w0 AS MATERIALIZED (
      SELECT word, cnt,
             ' ' || array_to_string(list_transform(range(1, length(word) + 1),
                                                   i -> word[i]), ' ')
                 || ' </w> ' AS syms
      FROM (
        SELECT tok AS word, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM (SELECT unnest(regexp_extract_all(lower(text), '{_BPE_WORD_RE}')) AS tok
              FROM documents)
        WHERE length(tok) <= {_BPE_MAXLEN}
        GROUP BY tok
        ORDER BY cnt DESC, tok
        LIMIT {_BPE_V}
      )
    )"""
    ]
    for k in range(_BPE_NMERGES):
        parts.append(
            f"""p{k} AS MATERIALIZED (
      SELECT pr.a AS a, pr.b AS b, SUM(cnt) AS n
      FROM (
        SELECT cnt,
               unnest(list_transform(range(1, len(l)),
                      i -> struct_pack(a := l[i], b := l[i+1]))) AS pr
        FROM (SELECT cnt, str_split(trim(syms), ' ') AS l FROM w{k})
      )
      GROUP BY pr.a, pr.b
    ),
    b{k} AS MATERIALIZED (SELECT a, b FROM p{k} ORDER BY n DESC, a, b LIMIT 1),
    w{k + 1} AS MATERIALIZED (
      SELECT word, cnt, {_bpe_rep_expr("syms", k)} AS syms FROM w{k}, b{k}
    )"""
        )
    return ",\n    ".join(parts)


def _bpe_word_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_parallel(spark, sf_dir, "documents")
    return (
        d.select(
            F.explode(
                F.regexp_extract_all(F.lower("text"), F.lit(_BPE_WORD_RE), 0)
            ).alias("word")
        )
        .where(F.length("word") <= _BPE_MAXLEN)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _bpe_trained(spark: SparkSession, sf_dir: str):
    """(merges, top rows) — the bounded driver-side training step."""
    from specialsid_spark.operators.bpe import train_bpe

    top = (
        _bpe_word_counts(spark, sf_dir)
        .orderBy(F.desc("cnt"), "word")
        .limit(_BPE_V)
        .collect()
    )
    merges = train_bpe([(r["word"], int(r["cnt"])) for r in top], _BPE_NMERGES)
    return merges, top


_BPE_TRAIN_ORACLE = (
    "WITH " + _bpe_train_ctes() + ",\n    m AS (\n"
    + "\n      UNION ALL ".join(
        f"SELECT CAST({k} AS BIGINT) AS merge_rank, a AS lhs, b AS rhs FROM b{k}"
        for k in range(_BPE_NMERGES)
    )
    + "\n    )\n"
    "    SELECT merge_rank, lhs, rhs, lhs || rhs AS merged FROM m ORDER BY merge_rank"
)


@register("text_bpe_train_merges", oracle=_BPE_TRAIN_ORACLE)
def text_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learn the merge table.  The corpus-scale pass is the word count
    (explode -> groupBy); training itself is a bounded driver loop over
    the top-V (word, count) rows, deterministic under any partitioning
    (ties break on (count DESC, pair ASC))."""
    merges, _ = _bpe_trained(spark, sf_dir)
    return spark.createDataFrame(
        [(i, a, b, a + b) for i, (a, b) in enumerate(merges)],
        "merge_rank bigint, lhs string, rhs string, merged string",
    ).orderBy("merge_rank")


_BPE_SEGMENT_ORACLE = (
    "WITH " + _bpe_train_ctes() + f"""
    SELECT word, cnt, trim(syms) AS segmentation,
           CAST(len(str_split(trim(syms), ' ')) AS BIGINT) AS n_tokens
    FROM w{_BPE_NMERGES} ORDER BY word"""
)


@register("text_bpe_segment_vocab", oracle=_BPE_SEGMENT_ORACLE)
def text_bpe_segment_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-order segmentation of the training vocabulary itself —
    pinned against the oracle's w{n} table, so the SQL restatement of the
    merge APPLICATION (iterated replace) is verified per word."""
    from specialsid_spark.operators.bpe import segment_training_order

    merges, top = _bpe_trained(spark, sf_dir)
    rows = []
    for r in top:
        segs = segment_training_order(r["word"], merges)
        rows.append((r["word"], int(r["cnt"]), " ".join(segs), len(segs)))
    return spark.createDataFrame(
        rows, "word string, cnt bigint, segmentation string, n_tokens bigint"
    ).orderBy("word")


def _bpe_apply_ctes() -> str:
    """aw0..aw{n}: ALL distinct corpus words (not just top-V) pushed
    through the learned merges — the application chain."""
    parts = [
        f"""aw0 AS MATERIALIZED (
      SELECT word,
             ' ' || array_to_string(list_transform(range(1, length(word) + 1),
                                                   i -> word[i]), ' ')
                 || ' </w> ' AS syms
      FROM (
        SELECT DISTINCT tok AS word
        FROM (SELECT unnest(regexp_extract_all(lower(text), '{_BPE_WORD_RE}')) AS tok
              FROM documents)
        WHERE length(tok) <= {_BPE_MAXLEN}
      )
    )"""
    ]
    for k in range(_BPE_NMERGES):
        parts.append(
            f"""aw{k + 1} AS MATERIALIZED (
      SELECT word, {_bpe_rep_expr("syms", k)} AS syms FROM aw{k}, b{k}
    )"""
        )
    return ",\n    ".join(parts)


_BPE_APPLY_ORACLE = (
    "WITH " + _bpe_train_ctes() + ",\n    " + _bpe_apply_ctes() + f""",
    occ AS (
      SELECT doc_id, tok FROM (
        SELECT doc_id,
               unnest(regexp_extract_all(lower(text), '{_BPE_WORD_RE}')) AS tok
        FROM documents
      ) WHERE length(tok) <= {_BPE_MAXLEN}
    )
    SELECT occ.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(len(str_split(trim(aw.syms), ' '))) AS BIGINT) AS n_bpe_tokens
    FROM occ JOIN aw{_BPE_NMERGES} aw ON occ.tok = aw.word
    GROUP BY occ.doc_id ORDER BY occ.doc_id"""
)


@register("text_bpe_apply_corpus", oracle=_BPE_APPLY_ORACLE)
def text_bpe_apply_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide tokenization cost under the trained BPE: segment the
    DISTINCT words (Arrow-batched mapInPandas, merges in the closure),
    broadcast-join word -> n_tokens back onto per-doc word counts.  The
    shuffle carries (doc_id, word, count); Python touches |vocab| words
    once — the 100 TB application shape."""
    from specialsid_spark.operators.bpe import segment_training_order

    merges, _ = _bpe_trained(spark, sf_dir)
    d = load_parallel(spark, sf_dir, "documents")
    occ = (
        d.select(
            "doc_id",
            F.explode(
                F.regexp_extract_all(F.lower("text"), F.lit(_BPE_WORD_RE), 0)
            ).alias("word"),
        )
        .where(F.length("word") <= _BPE_MAXLEN)
    )
    per_doc = occ.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("n_occ"))
    distinct_words = per_doc.select("word").distinct()

    def seg_counts(w):
        yield w, len(segment_training_order(w, merges))

    seg = map_rows(distinct_words, seg_counts, "word string, n_tokens bigint")
    return (
        per_doc.join(F.broadcast(seg), "word")
        .groupBy("doc_id")
        .agg(
            F.sum("n_occ").cast("long").alias("n_words"),
            F.sum(F.col("n_occ") * F.col("n_tokens")).cast("long").alias("n_bpe_tokens"),
        )
        .orderBy("doc_id")
    )



@register(
    "text_bpe_decode_parity",
    # r8 (VERDICT #6) — decode/detokenize parity: segment every corpus
    # word, DECODE the segments back, and md5 the canonical (sorted)
    # per-doc word multiset of the RECONSTRUCTION.  The oracle md5s the
    # same multiset straight from the raw text, so the hash passes iff
    # decode is the exact inverse of segmentation for every occurrence
    # of every word in the corpus.
    oracle=f"""
    SELECT doc_id,
           CAST(len(list_filter(regexp_extract_all(lower(text), '{_BPE_WORD_RE}'),
                                t -> length(t) <= {_BPE_MAXLEN})) AS BIGINT) AS n_words,
           md5(array_to_string(
                 list_sort(list_filter(regexp_extract_all(lower(text), '{_BPE_WORD_RE}'),
                                       t -> length(t) <= {_BPE_MAXLEN})),
                 ' ')) AS roundtrip_md5
    FROM documents
    ORDER BY doc_id
    """,
)
def text_bpe_decode_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE decode surface (r8): tokenize -> detokenize must be the
    identity over the corpus.  Spark segments the DISTINCT words with
    the trained merges, decodes each segmentation back
    (operators/bpe.py decode_bpe), broadcast-joins the decoded form
    onto the exploded occurrences, and hashes each doc's sorted
    reconstructed word multiset; the oracle hashes the ORIGINAL words.
    Any merge-table defect that loses or mangles a character (or the
    end-of-word marker) lands in the md5.

    Scale shape: identical to text_bpe_apply_corpus — Python touches
    only the Heaps-law-bounded distinct vocabulary; the corpus-scale
    legs are an explode, a broadcast join, and a per-doc collect_list
    of plain lowercase tokens."""
    from specialsid_spark.operators.bpe import decode_bpe, segment_training_order

    merges, _ = _bpe_trained(spark, sf_dir)
    d = load_parallel(spark, sf_dir, "documents")
    occ = (
        d.select(
            "doc_id",
            F.explode(
                F.regexp_extract_all(F.lower("text"), F.lit(_BPE_WORD_RE), 0)
            ).alias("word"),
        )
        .where(F.length("word") <= _BPE_MAXLEN)
    )
    distinct_words = occ.select("word").distinct()

    def seg_decode(w):
        yield w, decode_bpe(segment_training_order(w, merges))

    dec = map_rows(distinct_words, seg_decode, "word string, decoded string")
    return (
        occ.join(F.broadcast(dec), "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.md5(
                F.array_join(F.array_sort(F.collect_list("decoded")), " ")
            ).alias("roundtrip_md5"),
        )
        .orderBy("doc_id")
    )


_SQL_BIGRAMS = (
    "list_transform(range(1, greatest(len(toks), 1)),"
    " i -> toks[i] || ' ' || toks[i+1])"
)


@register(
    "text_bigram_surprisal",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_SQL_TOKENS} AS toks FROM documents),
    bg AS (SELECT doc_id, unnest({_SQL_BIGRAMS}) AS bg FROM t),
    c AS (SELECT bg, COUNT(*) AS c12 FROM bg GROUP BY bg),
    l AS (SELECT string_split(bg, ' ')[1] AS w1, SUM(c12) AS c1
          FROM c GROUP BY 1),
    -- conditional log-prob ln(c(w1 w2) / c(w1 .)) in micro-nats:
    -- floor of the SAME exact-count double is identical cross-engine,
    -- and the per-doc reduction is then pure integer arithmetic (the
    -- text_unigram_surprisal idiom, one conditioning level up).
    lp AS (
      SELECT c.bg,
             CAST(floor(ln(CAST(c.c12 AS DOUBLE) / CAST(l.c1 AS DOUBLE)) * 1000000)
                  AS BIGINT) AS lp_mu
      FROM c JOIN l ON string_split(c.bg, ' ')[1] = l.w1
    )
    SELECT bg.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(-SUM(lp.lp_mu) AS BIGINT) AS surprisal_mu,
           CAST(-SUM(lp.lp_mu) AS DOUBLE) / (1000000.0 * COUNT(*)) AS nats_per_bigram
    FROM bg JOIN lp ON lp.bg = bg.bg
    GROUP BY bg.doc_id
    ORDER BY bg.doc_id
    """,
)
def text_bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model surprisal per document: mean conditional
    -ln P(w2 | w1) under the corpus's own bigram counts — a sharper
    fluency/quality signal than the unigram model (boilerplate and
    templated text score near zero; shuffled or rare-transition text
    scores high).  No smoothing term: every scored bigram is by
    construction present in the corpus counts.

    Scale shape: two count aggregates (bigram types, then left-context
    totals derived FROM the bigram types, so the corpus is tokenized
    once), a types-level join to form log-probs, and one occurrence
    join + integer sum per doc.  Shuffles carry (bigram, count) pairs —
    vocabulary-squared bounded, not corpus bounded — and all
    floating-point is a single floor(ln(...)) per bigram TYPE."""
    from specialsid_spark.operators.textops import word_kgrams

    d = load_parallel(spark, sf_dir, "documents")
    t = d.select("doc_id", tokens("text").alias("toks"))
    bg = t.select("doc_id", F.explode(word_kgrams(F.col("toks"), k=2)).alias("bg"))
    c = bg.groupBy("bg").agg(F.count(F.lit(1)).alias("c12"))
    left = (
        c.groupBy(F.split("bg", " ").getItem(0).alias("w1"))
        .agg(F.sum("c12").alias("c1"))
    )
    lp = c.join(
        left, F.split(c["bg"], " ").getItem(0) == left["w1"]
    ).select(
        "bg",
        F.floor(
            F.log(F.col("c12").cast("double") / F.col("c1").cast("double"))
            * F.lit(1000000)
        )
        .cast("long")
        .alias("lp_mu"),
    )
    return (
        bg.join(lp, "bg")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            (-F.sum("lp_mu")).cast("long").alias("surprisal_mu"),
            (
                (-F.sum("lp_mu")).cast("double")
                / (F.lit(1000000.0) * F.count(F.lit(1)).cast("double"))
            ).alias("nats_per_bigram"),
        )
        .orderBy("doc_id")
    )


_ZIPF_TOP = 1000  # ranks fitted


@register(
    "text_zipf_slope",
    oracle=f"""
    WITH wc AS (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS n
      FROM (SELECT unnest({_SQL_TOKENS}) AS tok FROM documents)
      GROUP BY tok
    ),
    ranked AS (
      SELECT n, row_number() OVER (ORDER BY n DESC, tok) AS r
      FROM wc
    ),
    pts AS (
      -- milli-nat fixed point: floor(ln * 1e3) of exact integers is the
      -- same double -> same floor on both engines, and every sum below
      -- is then exact int64 (the surprisal idiom at regression scale;
      -- milli not micro so n*Sxy stays inside int64)
      SELECT CAST(floor(ln(CAST(r AS DOUBLE)) * 1000) AS BIGINT) AS x,
             CAST(floor(ln(CAST(n AS DOUBLE)) * 1000) AS BIGINT) AS y
      FROM ranked WHERE r <= {_ZIPF_TOP}
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_points,
           CAST(SUM(x) AS BIGINT) AS sx,
           CAST(SUM(y) AS BIGINT) AS sy,
           CAST(SUM(x * y) AS BIGINT) AS sxy,
           CAST(SUM(x * x) AS BIGINT) AS sxx,
           round(CAST(COUNT(*) * SUM(x * y) - SUM(x) * SUM(y) AS DOUBLE)
                 / CAST(COUNT(*) * SUM(x * x) - SUM(x) * SUM(x) AS DOUBLE), 6)
             AS zipf_slope
    FROM pts
    """,
)
def text_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law slope of the corpus vocabulary: least-squares fit of
    ln(freq) on ln(rank) over the top-{_ZIPF_TOP} words — the classic
    corpus-health diagnostic (natural text sits near -1; templated or
    synthetic corpora drift).  Log points snap to milli-nat integers so
    all regression sums are exact int64; the slope is one double
    division at the end.  The word count is the only corpus-scale pass;
    the fit consumes {_ZIPF_TOP} rows.

    Scale shape (VERDICT r10 #2): top-k FIRST via orderBy().limit() —
    TakeOrderedAndProject keeps a {_ZIPF_TOP}-row heap per partition
    and merges heaps, so the full vocabulary (billions of rows at
    corpus scale) never sorts through one partition; ONLY the {_ZIPF_TOP}
    survivors are then ranked (same (n DESC, tok) tie-break as the
    global rank, so the result is identical)."""
    from pyspark.sql.window import Window

    d = load_parallel(spark, sf_dir, "documents")
    wc = (
        d.select(F.explode(tokens("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    top = wc.orderBy(F.desc("n"), "tok").limit(_ZIPF_TOP)
    ranked = top.withColumn(
        "r", F.row_number().over(Window.orderBy(F.desc("n"), "tok"))
    )
    pts = ranked.select(
        F.floor(F.log(F.col("r").cast("double")) * 1000).cast("long").alias("x"),
        F.floor(F.log(F.col("n").cast("double")) * 1000).cast("long").alias("y"),
    )
    cnt = F.count(F.lit(1))
    sx, sy = F.sum("x"), F.sum("y")
    sxy, sxx = F.sum(F.col("x") * F.col("y")), F.sum(F.col("x") * F.col("x"))
    return pts.agg(
        cnt.cast("long").alias("n_points"),
        sx.cast("long").alias("sx"),
        sy.cast("long").alias("sy"),
        sxy.cast("long").alias("sxy"),
        sxx.cast("long").alias("sxx"),
        F.round(
            (cnt * sxy - sx * sy).cast("double") / (cnt * sxx - sx * sx).cast("double"),
            6,
        ).alias("zipf_slope"),
    )


@register(
    "text_naive_bayes_confusion",
    oracle=f"""
    WITH t AS MATERIALIZED (
      SELECT doc_id, lang, unnest({_SQL_TOKENS}) AS tok FROM documents
    ),
    v AS (SELECT COUNT(DISTINCT tok) AS v FROM t),
    nd AS (SELECT COUNT(*) AS n FROM documents),
    cls AS MATERIALIZED (
      SELECT lang AS c_lang, COUNT(*) AS tot FROM t GROUP BY 1
    ),
    prior AS MATERIALIZED (
      SELECT lang AS c_lang,
             CAST(floor(ln(CAST(COUNT(*) AS DOUBLE) / CAST(nd.n AS DOUBLE))
                        * 1000000) AS BIGINT) AS prior_mu
      FROM documents CROSS JOIN nd GROUP BY lang, nd.n
    ),
    lp AS MATERIALIZED (
      SELECT t.lang AS c_lang, t.tok,
             CAST(floor(ln(CAST(COUNT(*) + 1 AS DOUBLE)
                           / CAST(cls.tot + v.v AS DOUBLE)) * 1000000) AS BIGINT)
               AS lp_mu
      FROM t JOIN cls ON cls.c_lang = t.lang CROSS JOIN v
      GROUP BY t.lang, t.tok, cls.tot, v.v
    ),
    unseen AS MATERIALIZED (
      SELECT c_lang,
             CAST(floor(ln(1.0 / CAST(cls.tot + v.v AS DOUBLE)) * 1000000) AS BIGINT)
               AS unseen_mu
      FROM cls CROSS JOIN v
    ),
    lk AS MATERIALIZED (
      SELECT t.doc_id, t.lang AS actual, u.c_lang,
             SUM(COALESCE(lp.lp_mu, u.unseen_mu)) AS like_mu
      FROM t CROSS JOIN unseen u
      LEFT JOIN lp ON lp.c_lang = u.c_lang AND lp.tok = t.tok
      GROUP BY 1, 2, 3
    ),
    scored AS (
      SELECT l.doc_id, l.actual, l.c_lang,
             row_number() OVER (PARTITION BY l.doc_id
                                ORDER BY l.like_mu + p.prior_mu DESC, l.c_lang) AS rn
      FROM lk l JOIN prior p ON p.c_lang = l.c_lang
    )
    SELECT actual, c_lang AS predicted, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM scored WHERE rn = 1
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def text_naive_bayes_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive Bayes trained AND scored in-engine (the classic
    distributed text classifier — the quality/language gate a curation
    pipeline trains on weak labels): Laplace-smoothed per-class token
    log-probabilities in integer micro-nats, argmax over class scores,
    reported as the (actual lang × predicted) confusion matrix.

    Determinism: like text_bigram_surprisal, the ONLY float op is one
    floor(ln(ratio)*1e6) per (token, class) TYPE — identical expression
    both engines — and scores are exact int64 sums of those micro-nats,
    so the argmax (ties broken by class name) is bit-stable across
    engines and partitionings.

    Scale shape: training is two count aggregates (per-class totals,
    per-(class, token) counts — vocabulary-bounded, not corpus-bounded);
    scoring is one explode + broadcast of the 5-row class table + a
    (class, token)-keyed join; the vocabulary scalar and doc total are
    the only driver-side values (bounded).  The exploded token
    projection is localCheckpointed once and feeds training and scoring
    (the round-5 multi-consumer lesson)."""
    d = load_parallel(spark, sf_dir, "documents")
    # the exploded occurrence stream feeds training AND scoring (this
    # referee scores its own training set), so the checkpoint stays;
    # r13 opt: the model-sized (class, token) count table is built by
    # ONE map-side-combining pass over it, and cls totals + the vocab
    # size V derive from THAT table instead of two more occurrence-
    # level passes (a distinct and a groupBy over every token).
    t = d.select(
        "doc_id", "lang", F.explode(tokens("text")).alias("tok")
    ).localCheckpoint(eager=True)
    cnt = (
        t.groupBy(F.col("lang").alias("c_lang"), "tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=True)
    )
    v = cnt.select("tok").distinct().count()
    n_docs_total = d.count()
    cls = cnt.groupBy("c_lang").agg(F.sum("c").alias("tot"))
    prior = d.groupBy(F.col("lang").alias("c_lang")).agg(
        F.floor(
            F.log(
                F.count(F.lit(1)).cast("double") / F.lit(float(n_docs_total))
            )
            * F.lit(1000000)
        )
        .cast("long")
        .alias("prior_mu")
    )
    lp = cnt.join(F.broadcast(cls), "c_lang").select(
        "c_lang",
        "tok",
        F.floor(
            F.log(
                (F.col("c") + 1).cast("double")
                / (F.col("tot") + F.lit(v)).cast("double")
            )
            * F.lit(1000000)
        )
        .cast("long")
        .alias("lp_mu"),
    )
    unseen = cls.select(
        "c_lang",
        F.floor(
            F.log(F.lit(1.0) / (F.col("tot") + F.lit(v)).cast("double"))
            * F.lit(1000000)
        )
        .cast("long")
        .alias("unseen_mu"),
    )
    # broadcast the model (r13 opt): the occurrence stream x |classes|
    # never shuffles — scoring partial-aggregates map-side and the
    # exchange carries |classes| rows per doc; the argmax window folds
    # into min(struct(-score, class)) (score DESC, class ASC == the
    # original row_number ordering).
    lk = (
        t.crossJoin(F.broadcast(unseen))
        .join(F.broadcast(lp), ["c_lang", "tok"], "left")
        .groupBy("doc_id", F.col("lang").alias("actual"), "c_lang")
        .agg(F.sum(F.coalesce("lp_mu", "unseen_mu")).alias("like_mu"))
    )
    pred = (
        lk.join(F.broadcast(prior), "c_lang")
        .groupBy("doc_id", "actual")
        .agg(
            F.min(
                F.struct(
                    (-(F.col("like_mu") + F.col("prior_mu"))).alias("ns"),
                    F.col("c_lang"),
                )
            ).alias("m")
        )
        .select("actual", F.col("m.c_lang").alias("c_lang"))
    )
    return (
        pred.groupBy("actual", F.col("c_lang").alias("predicted"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("actual", "predicted")
    )


# character trigrams of lower(trim(text)) — the fastText-style feature
# space for the TRAINED langid below; each dialect spells the same
# 1-indexed substr(s, i, 3) enumeration
_LID_TRIS_DUCK = """
    list_transform(range(1, len(lower(trim(text))) - 1),
                   i -> substr(lower(trim(text)), CAST(i AS INT), 3))
"""
_LID_TRIS_SPARK = (
    "CASE WHEN length(lower(trim(text))) >= 3 THEN"
    " transform(sequence(1, length(lower(trim(text))) - 2),"
    " i -> substring(lower(trim(text)), i, 3))"
    " ELSE array() END"
)


@register(
    "text_langid_trained",
    oracle=f"""
    WITH tr AS MATERIALIZED (
      SELECT doc_id, lang, unnest({_LID_TRIS_DUCK}) AS tri
      FROM documents WHERE doc_id % 5 <> 0
    ),
    te AS MATERIALIZED (
      SELECT doc_id, lang, unnest({_LID_TRIS_DUCK}) AS tri
      FROM documents WHERE doc_id % 5 = 0
    ),
    v AS (SELECT COUNT(DISTINCT tri) AS v FROM tr),
    nd AS (SELECT COUNT(*) AS n FROM documents WHERE doc_id % 5 <> 0),
    cls AS MATERIALIZED (
      SELECT lang AS c_lang, COUNT(*) AS tot FROM tr GROUP BY 1
    ),
    prior AS MATERIALIZED (
      SELECT lang AS c_lang,
             CAST(floor(ln(CAST(COUNT(*) AS DOUBLE) / CAST(nd.n AS DOUBLE))
                        * 1000000) AS BIGINT) AS prior_mu
      FROM documents CROSS JOIN nd
      WHERE doc_id % 5 <> 0 GROUP BY lang, nd.n
    ),
    lp AS MATERIALIZED (
      SELECT tr.lang AS c_lang, tr.tri,
             CAST(floor(ln(CAST(COUNT(*) + 1 AS DOUBLE)
                           / CAST(cls.tot + v.v AS DOUBLE)) * 1000000) AS BIGINT)
               AS lp_mu
      FROM tr JOIN cls ON cls.c_lang = tr.lang CROSS JOIN v
      GROUP BY tr.lang, tr.tri, cls.tot, v.v
    ),
    unseen AS MATERIALIZED (
      SELECT c_lang,
             CAST(floor(ln(1.0 / CAST(cls.tot + v.v AS DOUBLE)) * 1000000)
                  AS BIGINT) AS unseen_mu
      FROM cls CROSS JOIN v
    ),
    lk AS MATERIALIZED (
      SELECT te.doc_id, te.lang AS actual, u.c_lang,
             SUM(COALESCE(lp.lp_mu, u.unseen_mu)) AS like_mu
      FROM te CROSS JOIN unseen u
      LEFT JOIN lp ON lp.c_lang = u.c_lang AND lp.tri = te.tri
      GROUP BY 1, 2, 3
    ),
    scored AS (
      SELECT l.doc_id, l.actual, l.c_lang,
             row_number() OVER (PARTITION BY l.doc_id
                                ORDER BY l.like_mu + p.prior_mu DESC, l.c_lang)
               AS rn
      FROM lk l JOIN prior p ON p.c_lang = l.c_lang
    )
    SELECT actual, c_lang AS predicted, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM scored WHERE rn = 1
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def text_langid_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4, r13 (VERDICT r12 #5) — TRAINED in-engine language ID, the
    CCNet pipeline's fastText role: multinomial Naive Bayes over
    CHARACTER TRIGRAM features (not word tokens — the signature of
    fastText-style langid, robust to unseen words), trained on the
    corpus's declared ``lang`` labels over the doc_id %% 5 != 0 split
    and evaluated as a confusion matrix on the HELD-OUT %% 5 == 0
    split — a genuine generalization measurement, unlike
    text_naive_bayes_confusion which scores its own training set.

    Measured at sf0.01 (500 docs, 100 held out): trained trigram NB
    held-out accuracy 0.28; text_langid_heuristic on the same held-out
    docs 0.41 — exactly the majority-class share (its en-first
    tie-break degenerates to "always en" on this corpus).  The
    synthetic corpus draws every lang's text from ONE shared
    vocabulary, i.e. the declared labels are independent of the text,
    so no classifier can beat chance and a 45k-feature model scoring
    below the majority baseline is the textbook overfit-on-noise
    outcome.  The deliverable is the measurement machinery itself —
    held-out split, char-trigram features, smoothed log-probs, argmax,
    confusion — which on real multilingual text is the production
    shape CCNet gates on.

    Determinism: identical to text_naive_bayes_confusion — the only
    float op is floor(ln(ratio)*1e6) per (trigram, class) TYPE, scores
    are exact int64 micro-nat sums, argmax ties break by class name.

    Scale shape: training is two vocabulary-bounded aggregates;
    scoring explodes only the held-out split and joins on
    (class, trigram); the 5-row class tables broadcast; the exploded
    train projection is localCheckpointed once (multi-consumer
    lesson).  At 100 TB the trigram vocabulary is alphabet-bounded
    (not corpus-bounded), so the model table stays tiny."""
    d = load_parallel(spark, sf_dir, "documents")
    tris = F.expr(_LID_TRIS_SPARK)
    # r13 opt: the exploded train-trigram frame is consumed exactly
    # once, by a map-side-combining (lang, tri) count — no checkpoint
    # of |train chars| rows; the model-sized count table (vocabulary x
    # classes, alphabet-bounded at scale per the docstring) is the
    # thing that materializes, and cls totals + the vocab size V
    # derive from IT instead of re-scanning the explosion.
    cnt = (
        d.filter(F.col("doc_id") % 5 != 0)
        .select("lang", F.explode(tris).alias("tri"))
        .groupBy(F.col("lang").alias("c_lang"), "tri")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=True)
    )
    v = cnt.select("tri").distinct().count()
    n_train = d.filter(F.col("doc_id") % 5 != 0).count()
    cls = cnt.groupBy("c_lang").agg(F.sum("c").alias("tot"))
    prior = (
        d.filter(F.col("doc_id") % 5 != 0)
        .groupBy(F.col("lang").alias("c_lang"))
        .agg(
            F.floor(
                F.log(
                    F.count(F.lit(1)).cast("double") / F.lit(float(n_train))
                )
                * F.lit(1000000)
            )
            .cast("long")
            .alias("prior_mu")
        )
    )
    lp = cnt.join(F.broadcast(cls), "c_lang").select(
        "c_lang",
        "tri",
        F.floor(
            F.log(
                (F.col("c") + 1).cast("double")
                / (F.col("tot") + F.lit(v)).cast("double")
            )
            * F.lit(1000000)
        )
        .cast("long")
        .alias("lp_mu"),
    )
    unseen = cls.select(
        "c_lang",
        F.floor(
            F.log(F.lit(1.0) / (F.col("tot") + F.lit(v)).cast("double"))
            * F.lit(1000000)
        )
        .cast("long")
        .alias("unseen_mu"),
    )
    te = (
        d.filter(F.col("doc_id") % 5 == 0)
        .select("doc_id", "lang", F.explode(tris).alias("tri"))
    )
    # broadcast the model (r13 opt, guide §3.1): the held-out explosion
    # x |classes| never shuffles — scoring partial-aggregates map-side
    # and the exchange carries |classes| rows per doc; the argmax
    # window is folded into the same aggregation tree via
    # min(struct(-score, class)) (score DESC, class ASC == the
    # original row_number ordering).
    lk = (
        te.crossJoin(F.broadcast(unseen))
        .join(F.broadcast(lp), ["c_lang", "tri"], "left")
        .groupBy("doc_id", F.col("lang").alias("actual"), "c_lang")
        .agg(F.sum(F.coalesce("lp_mu", "unseen_mu")).alias("like_mu"))
    )
    pred = (
        lk.join(F.broadcast(prior), "c_lang")
        .groupBy("doc_id", "actual")
        .agg(
            F.min(
                F.struct(
                    (-(F.col("like_mu") + F.col("prior_mu"))).alias("ns"),
                    F.col("c_lang"),
                )
            ).alias("m")
        )
        .select("actual", F.col("m.c_lang").alias("c_lang"))
    )
    return (
        pred.groupBy("actual", F.col("c_lang").alias("predicted"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("actual", "predicted")
    )


@register(
    "text_inverted_index",
    # Build the postings: per term — document frequency, collection
    # frequency, and a positions checksum over the full posting list
    # (sum over postings of doc_id * 1000003 + position), so the hash
    # pins every (doc, position) pair, not just counts.  Top-200 terms
    # by (df DESC, term) keeps the output bounded at any sf.
    oracle="""
    WITH occ AS (
      SELECT doc_id, p.i AS pos,
             string_split_regex(lower(trim(text)), '\\s+')[p.i + 1] AS term
      FROM documents,
           (SELECT unnest(range(0, (
              SELECT MAX(len(string_split_regex(lower(trim(text)), '\\s+')))
              FROM documents))) AS i) p
      WHERE p.i < len(string_split_regex(lower(trim(text)), '\\s+'))
    ),
    stats AS (
      SELECT term,
             CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df,
             CAST(COUNT(*) AS BIGINT) AS cf,
             CAST(SUM(doc_id * 1000003 + pos) AS BIGINT) AS postings_ck
      FROM occ GROUP BY term
    )
    SELECT term, df, cf, postings_ck
    FROM stats
    ORDER BY df DESC, term
    LIMIT 200
    """,
)
def text_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 (r8) — inverted-index construction, the classic MapReduce
    workload and the backbone of corpus search/decontamination at
    scale: posexplode tokens → per-term postings with POSITIONS.  The
    checksum covers every (doc_id, position) pair in every posting
    list, so a green hash proves the index content exactly; df/cf are
    the term statistics a BM25 scorer consumes.

    Scale shape: one explode + one groupBy keyed on term —
    map-side-combining aggregates (sum/count), never materialized
    posting arrays in the shuffle; the top-200 cut is a
    TakeOrderedAndProject.  At 100 TB the postings themselves would
    stream to a partitioned sink keyed by term range; the stats here
    are the index-build's verification pass."""
    d = load_parallel(spark, sf_dir, "documents")
    occ = d.select(
        "doc_id", F.posexplode(tokens("text")).alias("pos", "term")
    )
    return (
        occ.groupBy("term")
        .agg(
            F.countDistinct("doc_id").alias("df"),
            F.count(F.lit(1)).alias("cf"),
            F.sum(F.col("doc_id") * 1000003 + F.col("pos")).alias("postings_ck"),
        )
        .orderBy(F.desc("df"), "term")
        .limit(200)
    )


@register(
    "text_phrase_search",
    # Exact phrase query over the positional index: the phrase
    # "table hash" matches where both terms occur at consecutive
    # positions in one document (~46 matching docs at sf0.01, so the
    # hash discriminates).  The oracle re-derives
    # matches by scanning token arrays directly — two independent
    # algorithms (positional self-join vs array scan) must agree on
    # every (doc, position) hit.
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ts
      FROM documents
    ),
    hits AS (
      SELECT doc_id, p.i AS pos
      FROM toks, (SELECT unnest(range(0, (SELECT MAX(len(ts)) FROM toks))) AS i) p
      WHERE p.i + 1 < len(ts)
        AND ts[p.i + 1] = 'table' AND ts[p.i + 2] = 'hash'
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_hits,
           CAST(MIN(pos) AS BIGINT) AS first_pos
    FROM hits GROUP BY doc_id ORDER BY doc_id
    """,
)
def text_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 (r8) — positional phrase query THROUGH the inverted index
    (not an array scan): postings for each phrase term join on
    (doc_id, consecutive positions) — the canonical intersect-postings
    algorithm every search engine runs.  The oracle independently
    re-derives matches by direct token-array scanning, so the two
    algorithms cross-check each other.

    Scale shape: the posting materialization is PRE-FILTERED to the
    phrase terms below the checkpoint (VERDICT r8 #8) — at 100 TB the
    checkpointed slice holds only the queried terms' postings
    (~16-byte rows), never the full corpus positions; a persisted
    inverted index would make even the tokenize pass unnecessary.
    The per-term scans then join on (doc_id, pos+offset); AQE sizes
    the build sides at runtime, and a longer phrase is just one more
    position-shifted join."""
    d = load_parallel(spark, sf_dir, "documents")
    occ = (
        d.select("doc_id", F.posexplode(tokens("text")).alias("pos", "term"))
        .filter(F.col("term").isin("table", "hash"))
        .localCheckpoint(eager=True)
    )
    t0 = occ.filter(F.col("term") == "table").select("doc_id", "pos")
    t1 = occ.filter(F.col("term") == "hash").select(
        "doc_id", (F.col("pos") - 1).alias("pos")
    )
    hits = t0.join(t1, ["doc_id", "pos"])
    return (
        hits.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_hits"),
            F.min("pos").alias("first_pos"),
        )
        .orderBy("doc_id")
    )


@register(
    "text_bm25_topk",
    # Cross-engine float determinism, by construction: NO ln() (libm
    # vs JVM log differ in ULPs — the engine-quantile lesson), idf is
    # the exact rational (N-df+0.5)/(df+0.5); avgdl enters as the
    # INTEGER token-sum (double division of exact ints is correctly
    # rounded and identical everywhere); the 3 per-term partial scores
    # are added in FIXED textual order (never a SUM aggregate, whose
    # order is engine-dependent); round(,4) eats any residual ULP.
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ts
      FROM documents
    ),
    dl AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS dl FROM toks),
    tot AS (SELECT CAST(SUM(dl) AS BIGINT) AS s, CAST(COUNT(*) AS BIGINT) AS n FROM dl),
    occ AS (
      SELECT doc_id, ts[p.i + 1] AS term
      FROM toks, (SELECT unnest(range(0, (SELECT MAX(len(ts)) FROM toks))) AS i) p
      WHERE p.i < len(ts) AND ts[p.i + 1] IN ('table', 'hash', 'merge')
    ),
    tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM occ GROUP BY 1, 2),
    df AS (SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df FROM occ GROUP BY 1),
    w AS (
      SELECT tf.doc_id, tf.term,
             ((tot.n - df.df + 0.5) / (df.df + 0.5))
               * ((tf.tf * 2.2)
                  / (tf.tf + 1.2 * (0.25 + 0.75 * (dl.dl * tot.n) / tot.s))) AS w
      FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN tot
    ),
    scores AS (
      SELECT doc_id,
             round(COALESCE(MAX(CASE WHEN term = 'table' THEN w END), 0)
                   + COALESCE(MAX(CASE WHEN term = 'hash' THEN w END), 0)
                   + COALESCE(MAX(CASE WHEN term = 'merge' THEN w END), 0), 4) AS score
      FROM w GROUP BY doc_id
    )
    SELECT doc_id, score
    FROM scores
    ORDER BY score DESC, doc_id
    LIMIT 20
    """,
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 (r8) — BM25 ranked retrieval over the corpus for the query
    {table, hash, merge}: term-frequency saturation (k1=1.2) and
    document-length normalization (b=0.75), the scoring function
    behind every production search stack and the data-curation
    "query-relevance filter" pattern.  The idf uses the exact
    rational form (no logarithm) so both engines compute bit-identical
    doubles — see the oracle comment for the full determinism
    contract.

    Scale shape: tf is an explode + map-side-combining groupBy
    pre-filtered to the query terms (the scan prunes everything
    else); df and the length-sum are tiny broadcast aggregates;
    scoring is a projection and the top-20 a TakeOrderedAndProject.
    A 100 TB corpus scores in one pass with only query-term postings
    ever shuffled."""
    d = load_parallel(spark, sf_dir, "documents")
    # r13 s3 opt: the checkpoint used to hold the FULL tokenized corpus
    # (every token array); one named projection now reduces each doc to
    # (dl, query-term slice) IN the scan task, so the materialized
    # barrier holds two ints and a <=|query|-term array per doc —
    # same single-tokenize shape, corpus bytes never materialized.
    t = d.select("doc_id", tokens("text").alias("ts"))
    p = t.select(
        "doc_id",
        F.size("ts").cast("long").alias("dl"),
        F.filter(
            F.col("ts"), lambda x: x.isin("table", "hash", "merge")
        ).alias("qts"),
    ).localCheckpoint(eager=True)
    dl = p.select("doc_id", "dl")
    tot = p.agg(
        F.sum("dl").cast("long").alias("s"), F.count(F.lit(1)).cast("long").alias("n")
    )
    occ = p.select("doc_id", F.explode("qts").alias("term"))
    tf = occ.groupBy("doc_id", "term").agg(F.count(F.lit(1)).cast("long").alias("tf"))
    df = occ.groupBy("term").agg(F.countDistinct("doc_id").cast("long").alias("df"))
    w = (
        tf.join(F.broadcast(df), "term")
        .join(dl, "doc_id")
        .join(F.broadcast(tot))
        .select(
            "doc_id",
            "term",
            (
                ((F.col("n") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5)))
                * (
                    (F.col("tf") * F.lit(2.2))
                    / (
                        F.col("tf")
                        + F.lit(1.2)
                        * (
                            F.lit(0.25)
                            + F.lit(0.75) * (F.col("dl") * F.col("n")) / F.col("s")
                        )
                    )
                )
            ).alias("w"),
        )
    )
    scores = w.groupBy("doc_id").agg(
        F.round(
            F.coalesce(F.max(F.when(F.col("term") == "table", F.col("w"))), F.lit(0.0))
            + F.coalesce(F.max(F.when(F.col("term") == "hash", F.col("w"))), F.lit(0.0))
            + F.coalesce(F.max(F.when(F.col("term") == "merge", F.col("w"))), F.lit(0.0)),
            4,
        ).alias("score")
    )
    return scores.orderBy(F.desc("score"), "doc_id").limit(20)


# --------------------------------------------------------------------------
# Unigram LM tokenizer (operators/unigram.py, r9 VERDICT #4): the
# SentencePiece-style counterpart to the BPE family above.  Training is
# deterministic hard-EM (integer piece counts every round — full EM's
# fractional posteriors are float-order-dependent and could not be
# restated exactly in a second engine); segmentation maximizes the
# LEFT-FOLD double product of freq/total piece probabilities with ties
# on (score DESC, n_pieces ASC, seg ASC) — the BM25 determinism
# discipline (IEEE division/multiplication are correctly rounded, so
# any engine folding in the same order computes the same bits).  The
# oracle RE-DERIVES the whole thing in DuckDB: substring seed inventory,
# per-round recursive-CTE enumeration of ALL segmentations (bounded by
# the 4-char piece cap: <= tetranacci(12) ~ 1.5k paths per word),
# row_number argmax, and integer recount with the single-char coverage
# floor — two independent implementations of training AND application
# that must agree on every piece of every word.
#
# Scale shape (the BPE contract): the corpus-scale pass is the word
# count (explode -> groupBy, shuffles (word, count)); training consumes
# the top-V rows driver-side (V, piece length, EM rounds are
# hyperparameters, never corpus-proportional); corpus-wide application
# (the parity query) segments only the Heaps-law-bounded DISTINCT words
# in mapInPandas and broadcast-joins back.

_UNI_V = 150          # training universe: top-V corpus words
_UNI_MAXLEN = 12      # word-length cap
_UNI_PLEN = 4         # max piece length
_UNI_MULTI = 200      # multi-char seed pieces kept
_UNI_EM = 2           # hard-EM rounds
_UNI_WORD_RE = "[a-z]+"


def _unigram_ctes() -> str:
    """Generated CTE chain: words -> substring seed vocab ->
    (enumerate + argmax + recount) per hard-EM round."""
    parts = [
        f"""words AS MATERIALIZED (
      SELECT tok AS word, CAST(COUNT(*) AS BIGINT) AS wfreq
      FROM (SELECT unnest(regexp_extract_all(lower(text), '{_UNI_WORD_RE}')) AS tok
            FROM documents)
      WHERE length(tok) <= {_UNI_MAXLEN}
      GROUP BY tok
      ORDER BY wfreq DESC, tok
      LIMIT {_UNI_V}
    ),
    subs AS MATERIALIZED (
      SELECT piece, CAST(SUM(wfreq) AS BIGINT) AS freq FROM (
        SELECT substr(word, s.i + 1, l.l) AS piece, wfreq
        FROM words,
             (SELECT unnest(range(0, {_UNI_MAXLEN})) AS i) s,
             (SELECT unnest(range(1, {_UNI_PLEN} + 1)) AS l) l
        WHERE s.i + l.l <= length(word))
      GROUP BY piece
    ),
    chars AS MATERIALIZED (SELECT piece AS ch FROM subs WHERE length(piece) = 1),
    vocab0 AS MATERIALIZED (
      SELECT piece, freq FROM subs WHERE length(piece) = 1
      UNION ALL
      SELECT piece, freq FROM (
        SELECT piece, freq FROM subs WHERE length(piece) > 1
        ORDER BY freq DESC, piece LIMIT {_UNI_MULTI}) t
    )"""
    ]
    for t in range(_UNI_EM + 1):
        parts.append(
            f"""tot{t} AS MATERIALIZED (SELECT CAST(SUM(freq) AS BIGINT) AS tot FROM vocab{t}),
    paths{t} AS MATERIALIZED (
      SELECT word, score, seg, np FROM (
        WITH RECURSIVE p AS (
          SELECT word, 0 AS pos, CAST(1 AS DOUBLE) AS score,
                 CAST('' AS VARCHAR) AS seg, 0 AS np
          FROM words
          UNION ALL
          SELECT p.word, p.pos + length(v.piece),
                 p.score * (CAST(v.freq AS DOUBLE) / CAST(t.tot AS DOUBLE)),
                 CASE WHEN p.np = 0 THEN v.piece ELSE p.seg || ' ' || v.piece END,
                 p.np + 1
          FROM p, vocab{t} v, tot{t} t
          WHERE p.pos < length(p.word)
            AND substr(p.word, p.pos + 1, length(v.piece)) = v.piece
        ) SELECT * FROM p WHERE pos = length(word)
      )
    ),
    best{t} AS MATERIALIZED (
      SELECT word, seg, np FROM (
        SELECT word, seg, np,
               row_number() OVER (PARTITION BY word
                                  ORDER BY score DESC, np ASC, seg ASC) AS rk
        FROM paths{t}) WHERE rk = 1
    )"""
        )
        if t < _UNI_EM:
            parts.append(
                f"""cnt{t + 1} AS MATERIALIZED (
      SELECT piece, CAST(SUM(wfreq) AS BIGINT) AS freq FROM (
        SELECT w.wfreq, unnest(str_split(b.seg, ' ')) AS piece
        FROM best{t} b JOIN words w USING (word))
      GROUP BY piece
    ),
    vocab{t + 1} AS MATERIALIZED (
      SELECT piece, freq FROM cnt{t + 1}
      UNION ALL
      SELECT ch AS piece, CAST(1 AS BIGINT) AS freq FROM chars
      WHERE ch NOT IN (SELECT piece FROM cnt{t + 1})
    )"""
            )
    return ",\n    ".join(parts)


_UNIGRAM_SEGMENT_ORACLE = (
    "WITH " + _unigram_ctes() + f"""
    SELECT w.word, w.wfreq, CAST(b.np AS BIGINT) AS n_pieces, b.seg AS segmentation
    FROM best{_UNI_EM} b JOIN words w USING (word)
    ORDER BY w.wfreq DESC, w.word"""
)


def _unigram_word_counts(spark: SparkSession, sf_dir: str) -> list[tuple[str, int]]:
    d = load_parallel(spark, sf_dir, "documents")
    top = (
        d.select(
            F.explode(
                F.regexp_extract_all(F.lower("text"), F.lit(_UNI_WORD_RE), 0)
            ).alias("word")
        )
        .where(F.length("word") <= _UNI_MAXLEN)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), "word")
        .limit(_UNI_V)
        .collect()
    )
    return [(r["word"], int(r["cnt"])) for r in top]


@register("text_unigram_segment", oracle=_UNIGRAM_SEGMENT_ORACLE)
def text_unigram_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train the unigram LM (seed substrings -> 2 hard-EM rounds) and
    segment the training vocabulary under the final model.  The Spark
    side enumerates segmentations exhaustively (operators/unigram.py
    best_segmentation) — semantically identical to the oracle's
    recursive CTE by construction; the DP fast path is pinned against
    it in tests and exercised by text_unigram_decode_parity."""
    from specialsid_spark.operators.unigram import best_segmentation, train_unigram

    wc = _unigram_word_counts(spark, sf_dir)
    vocab = train_unigram(wc, _UNI_PLEN, _UNI_MULTI, _UNI_EM)
    total = sum(vocab.values())
    rows = []
    for w, n in wc:
        seg, np_, _score = best_segmentation(w, vocab, total, _UNI_PLEN)
        rows.append((w, n, np_, seg))
    return spark.createDataFrame(
        rows, "word string, wfreq bigint, n_pieces bigint, segmentation string"
    ).orderBy(F.desc("wfreq"), "word")


@register(
    "text_unigram_decode_parity",
    # Decode/detokenize parity over the FULL corpus (the bpe twin's
    # discipline): Viterbi-segment every distinct word with the trained
    # model, decode by concatenation, md5 the canonical per-doc word
    # multiset of the RECONSTRUCTION; the oracle md5s the same multiset
    # straight from the raw text.  Passes iff decode inverts
    # segmentation for every occurrence of every word.
    oracle=f"""
    SELECT doc_id,
           CAST(len(list_filter(regexp_extract_all(lower(text), '{_UNI_WORD_RE}'),
                                t -> length(t) <= {_UNI_MAXLEN})) AS BIGINT) AS n_words,
           md5(array_to_string(
                 list_sort(list_filter(regexp_extract_all(lower(text), '{_UNI_WORD_RE}'),
                                       t -> length(t) <= {_UNI_MAXLEN})),
                 ' ')) AS roundtrip_md5
    FROM documents
    ORDER BY doc_id
    """,
)
def text_unigram_decode_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide unigram application: the O(len * piece_len) Viterbi
    DP segments the DISTINCT words inside mapInPandas (Python cost is
    Heaps-bounded, never corpus-proportional), decode is concatenation,
    and the reconstruction is broadcast-joined onto the exploded
    occurrences and hashed per doc."""
    from specialsid_spark.operators.unigram import (
        decode_unigram,
        train_unigram,
        viterbi_segment,
    )

    wc = _unigram_word_counts(spark, sf_dir)
    vocab = train_unigram(wc, _UNI_PLEN, _UNI_MULTI, _UNI_EM)
    total = sum(vocab.values())
    d = load_parallel(spark, sf_dir, "documents")
    occ = d.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.lower("text"), F.lit(_UNI_WORD_RE), 0)
        ).alias("word"),
    ).where(F.length("word") <= _UNI_MAXLEN)
    distinct_words = occ.select("word").distinct()

    def seg_decode(w):
        yield w, decode_unigram(viterbi_segment(w, vocab, total, _UNI_PLEN))

    dec = map_rows(distinct_words, seg_decode, "word string, decoded string")
    return (
        occ.join(F.broadcast(dec), "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.md5(
                F.array_join(F.array_sort(F.collect_list("decoded")), " ")
            ).alias("roundtrip_md5"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# Batch perceptron (r9): an in-engine trainable linear classifier whose
# TRAINING is exactly restatable cross-engine.  SGD/logistic need exp()
# and float SUMs (both order/ULP-dependent); the batch perceptron's
# update is an INTEGER aggregate — w += Σ_{misclassified} y·x — so
# every iteration's weights are exact under any partitioning, and the
# oracle unrolls the whole trajectory as CTEs (the kmeans/BPE
# discipline).  The fixture task is a planted linear concept over
# integer token-count features (label = sign(m), m = 2·n_hash −
# 2·n_join + n_scan − n_table + 1, training on the |m| >= 4 margin
# slice — the batch variant converges only with a real margin, unlike
# the online perceptron; measured trajectories reach 0 errors within
# 8 rounds at sf0.001/0.01/0.1).  At 100 TB the same loop trains on
# real quality labels — per iteration ONE corpus-scale aggregate
# shuffling 5+1 integers per partition, weights living driver-side
# (d is a hyperparameter, never corpus-proportional).

_PCT_T = 8  # batch-perceptron iterations (trajectory rows 0.._PCT_T-1)
_PCT_MARGIN = 4  # planted-concept margin for the training slice

_PCT_FEATS_SQL = """
      SELECT doc_id,
             CAST(1 AS BIGINT) AS x0,
             CAST(len(list_filter(ts, t -> t = 'hash')) AS BIGINT) AS x1,
             CAST(len(list_filter(ts, t -> t = 'join')) AS BIGINT) AS x2,
             CAST(len(list_filter(ts, t -> t = 'scan')) AS BIGINT) AS x3,
             CAST(len(list_filter(ts, t -> t = 'table')) AS BIGINT) AS x4
      FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ts
            FROM documents)
"""


def _perceptron_ctes() -> str:
    dot = "+".join(f"w.w{j} * f.x{j}" for j in range(5))
    parts = [
        f"""feats AS MATERIALIZED (
      SELECT * FROM (
        SELECT doc_id, x0, x1, x2, x3, x4,
               2 * x1 - 2 * x2 + x3 - x4 + 1 AS m,
               CASE WHEN 2 * x1 - 2 * x2 + x3 - x4 + 1 > 0
                    THEN CAST(1 AS BIGINT) ELSE CAST(-1 AS BIGINT) END AS y
        FROM ({_PCT_FEATS_SQL}))
      WHERE abs(m) >= {_PCT_MARGIN}
    ),
    u0 AS MATERIALIZED (SELECT {", ".join(f"CAST(0 AS BIGINT) AS w{j}" for j in range(5))})"""
    ]
    for k in range(_PCT_T):
        upd = ", ".join(f"w.w{j} + m.d{j} AS w{j}" for j in range(5))
        sums = ", ".join(
            f"CAST(COALESCE(SUM(CASE WHEN f.y * ({dot}) <= 0 THEN f.y * f.x{j} END), 0)"
            f" AS BIGINT) AS d{j}"
            for j in range(5)
        )
        parts.append(
            f"""m{k} AS MATERIALIZED (
      SELECT {sums},
             CAST(COALESCE(SUM(CASE WHEN f.y * ({dot}) <= 0 THEN 1 END), 0)
                  AS BIGINT) AS nm
      FROM feats f, u{k} w
    ),
    u{k + 1} AS MATERIALIZED (SELECT {upd} FROM u{k} w, m{k} m)"""
        )
    return ",\n    ".join(parts)


_PERCEPTRON_ORACLE = (
    "WITH " + _perceptron_ctes() + "\n    "
    + "\n    UNION ALL ".join(
        f"SELECT CAST({k} AS BIGINT) AS iter, w.w0, w.w1, w.w2, w.w3, w.w4,"
        f" m.nm AS n_misclassified FROM u{k} w, m{k} m"
        for k in range(_PCT_T)
    )
    + "\n    ORDER BY iter"
)


@register("text_perceptron_quality", oracle=_PERCEPTRON_ORACLE)
def text_perceptron_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train the batch perceptron on the corpus and emit the full
    trajectory: row k = the weights in force during iteration k and
    how many training documents they misclassify (row 0 = the zero
    vector, so n_misclassified = |slice|; the planted concept is
    learned — 0 errors — within the 8 rounds at every test SF).

    ONE corpus pass total (r13 opt — was T=8 sequential aggregates
    over a localCheckpointed projection, i.e. 9 jobs): every
    iteration's update is a sum of y·x over misclassified rows, and
    rows with the SAME feature vector are misclassified together under
    any weights, so the map-side-combining ``groupBy(x1..x4, y).count``
    histogram is a sufficient statistic for the WHOLE trajectory.  The
    driver then replays all T iterations over the histogram with the
    identical integer arithmetic (bit-exact: integer sums reassociate
    freely).  The histogram is feature-space bounded — distinct
    (token-count₁..₄, label) combinations, 761 rows at sf0.1 — never
    corpus-sized; at 100 TB the same bound holds (counts of 4 fixed
    tokens per doc), and if a richer feature map ever made it large the
    per-iteration aggregate shape below it stays the fallback."""
    d = load_parallel(spark, sf_dir, "documents")
    ts = tokens("text")
    feats = d.select(
        F.size(F.filter(ts, lambda t: t == F.lit("hash"))).cast("long").alias("x1"),
        F.size(F.filter(ts, lambda t: t == F.lit("join"))).cast("long").alias("x2"),
        F.size(F.filter(ts, lambda t: t == F.lit("scan"))).cast("long").alias("x3"),
        F.size(F.filter(ts, lambda t: t == F.lit("table"))).cast("long").alias("x4"),
    ).withColumn(
        "m",
        2 * F.col("x1") - 2 * F.col("x2") + F.col("x3") - F.col("x4") + 1,
    )
    hist = (
        feats.filter(F.abs(F.col("m")) >= _PCT_MARGIN)
        .withColumn(
            "y", F.when(F.col("m") > 0, F.lit(1)).otherwise(F.lit(-1)).cast("long")
        )
        .groupBy("x1", "x2", "x3", "x4", "y")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .collect()
    )
    hrows = [
        ((1, int(r["x1"]), int(r["x2"]), int(r["x3"]), int(r["x4"])),
         int(r["y"]), int(r["cnt"]))
        for r in hist
    ]
    w = [0] * 5
    rows = []
    for k in range(_PCT_T):
        deltas, nm = [0] * 5, 0
        for xs, y, cnt in hrows:
            if y * sum(w[j] * xs[j] for j in range(5)) <= 0:
                nm += cnt
                for j in range(5):
                    deltas[j] += cnt * y * xs[j]
        rows.append((k, *w, nm))
        w = [w[j] + deltas[j] for j in range(5)]
    return spark.createDataFrame(
        rows,
        "iter bigint, w0 bigint, w1 bigint, w2 bigint, w3 bigint,"
        " w4 bigint, n_misclassified bigint",
    ).orderBy("iter")


# --- Kneser-Ney perplexity filter (CCNet-style corpus quality gate) ---
#
# CCNet (Wenzek et al. 2020) scores every document with a language model
# trained on a trusted reference corpus and buckets the corpus into
# head/middle/tail by perplexity.  Here the reference slice is the
# doc_id % 3 == 0 third of the corpus, the model is an interpolated
# Kneser-Ney bigram LM (absolute discount D = 3/4, exact in binary),
# and OOV tokens map to '<unk>' with +1-smoothed continuation mass.
#
# Float determinism: the probability of a (mapped) bigram TYPE is ONE
# shared SQL expression — integer counts, dyadic constants, and
# correctly-rounded divisions composed in one fixed association order —
# evaluated verbatim by both engines, then floor(ln(p)*1e6) per type;
# per-document scores are integer sums of those micro-nats.

_KN_P = (
    "CASE WHEN c12 IS NOT NULL THEN"
    " (CAST(c12 AS DOUBLE) - 0.75) / CAST(c1 AS DOUBLE)"
    " + 0.75 * CAST(n1f AS DOUBLE) / CAST(c1 AS DOUBLE)"
    " * (CAST(COALESCE(n1b, 0) + 1 AS DOUBLE) / CAST(tt + vv + 1 AS DOUBLE))"
    " WHEN c1 IS NOT NULL THEN"
    " 0.75 * CAST(n1f AS DOUBLE) / CAST(c1 AS DOUBLE)"
    " * (CAST(COALESCE(n1b, 0) + 1 AS DOUBLE) / CAST(tt + vv + 1 AS DOUBLE))"
    " ELSE CAST(COALESCE(n1b, 0) + 1 AS DOUBLE) / CAST(tt + vv + 1 AS DOUBLE)"
    " END"
)
_KN_LP_MU = f"CAST(FLOOR(LN({_KN_P}) * 1000000) AS BIGINT)"


_KN_CTES = f"""tk AS MATERIALIZED (
      SELECT doc_id, {_SQL_TOKENS} AS ts FROM documents
      WHERE len({_SQL_TOKENS}) >= 2
    ),
    pairs AS MATERIALIZED (
      SELECT doc_id, ts[p.i] AS w1, ts[p.i + 1] AS w2
      FROM tk, (SELECT unnest(range(1, (SELECT MAX(len(ts)) FROM tk))) AS i) p
      WHERE p.i + 1 <= len(ts)
    ),
    tr AS MATERIALIZED (SELECT w1, w2 FROM pairs WHERE doc_id % 3 = 0),
    c12 AS MATERIALIZED (
      SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12 FROM tr GROUP BY w1, w2
    ),
    ctx AS MATERIALIZED (
      SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1,
             CAST(COUNT(*) AS BIGINT) AS n1f
      FROM c12 GROUP BY w1
    ),
    bwd AS MATERIALIZED (
      SELECT w2, CAST(COUNT(*) AS BIGINT) AS n1b FROM c12 GROUP BY w2
    ),
    voc AS MATERIALIZED (
      SELECT DISTINCT tok FROM
        (SELECT w1 AS tok FROM tr UNION ALL SELECT w2 AS tok FROM tr)
    ),
    tot AS MATERIALIZED (
      SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM c12) AS tt,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM voc) AS vv
    ),
    sp AS MATERIALIZED (
      SELECT p.doc_id,
             CASE WHEN v1.tok IS NULL THEN '<unk>' ELSE p.w1 END AS w1m,
             CASE WHEN v2.tok IS NULL THEN '<unk>' ELSE p.w2 END AS w2m
      FROM pairs p
      LEFT JOIN voc v1 ON v1.tok = p.w1
      LEFT JOIN voc v2 ON v2.tok = p.w2
    ),
    tys AS MATERIALIZED (SELECT DISTINCT w1m, w2m FROM sp),
    lp AS MATERIALIZED (
      SELECT t.w1m, t.w2m, {_KN_LP_MU} AS lp_mu
      FROM tys t
      LEFT JOIN c12 b ON b.w1 = t.w1m AND b.w2 = t.w2m
      LEFT JOIN ctx x ON x.w1 = t.w1m
      LEFT JOIN bwd d ON d.w2 = t.w2m
      CROSS JOIN tot s
    ),
    docnll AS MATERIALIZED (
      SELECT sp.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_bigrams,
             CAST(-SUM(l.lp_mu) AS BIGINT) AS nll_mu
      FROM sp JOIN lp l ON l.w1m = sp.w1m AND l.w2m = sp.w2m
      GROUP BY sp.doc_id
    ),
    knb AS MATERIALIZED (
      SELECT doc_id, n_bigrams, nll_mu,
             CAST(nll_mu AS DOUBLE) / (1000000.0 * CAST(n_bigrams AS DOUBLE))
               AS nats_per_bigram,
             CAST(NTILE(3) OVER (
               ORDER BY CAST(nll_mu AS DOUBLE)
                        / (1000000.0 * CAST(n_bigrams AS DOUBLE)), doc_id
             ) AS BIGINT) AS ppl_bucket
      FROM docnll
    )"""


@register(
    "text_kn_perplexity",
    oracle=f"""
    WITH {_KN_CTES}
    SELECT doc_id, n_bigrams, nll_mu, nats_per_bigram, ppl_bucket
    FROM knb
    ORDER BY doc_id
    """,
)
def _kn_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 / curation — CCNet-style LM perplexity filter: train an
    interpolated Kneser-Ney bigram LM on the doc_id % 3 == 0 reference
    slice, score EVERY document's mean nats-per-bigram under it, and
    bucket the corpus head/middle/tail (1/2/3) — the standard
    pretraining-corpus quality gate (boilerplate scores low, noisy or
    off-distribution text scores high).

    The probability of each mapped bigram type is the shared `_KN_P`
    expression (same string run by DuckDB), floor(ln*1e6)-quantized per
    TYPE, then integer-summed per document.

    Scale shape: tokenize once (localCheckpointed); every model table
    (bigram types, context totals, continuation counts, vocab) is
    vocabulary- not corpus-bounded, so the broadcast joins hold at any
    corpus size; the only corpus-sized shuffles carry (doc_id, w1m,
    w2m) occurrence rows into a map-side-combining sum.  The bucket
    assignment reproduces NTILE(3) EXACTLY without a SinglePartition
    sort (VERDICT r10 #3): the doc-level frame is range-partitioned by
    the ordering key, 32 per-partition subtotals become rank offsets
    (the cur_token_packing idiom), ranks run within partitions only,
    and the two NTILE boundary ranks derived from the total count turn
    each rank into a bucket by comparison."""
    nats = F.col("nll_mu").cast("double") / (
        F.lit(1000000.0) * F.col("n_bigrams").cast("double")
    )
    scored = _kn_docnll(spark, sf_dir).select(
        "doc_id", "n_bigrams", "nll_mu", nats.alias("nats_per_bigram")
    )
    # NTILE(3) over (nats, doc_id) — exact, but WITHOUT the global
    # single-partition sort: two-pass range-partitioned rank.  doc_id
    # makes the composite key unique, so range order + within-partition
    # order IS the total order, and NTILE's bucket sizes (q+1 for the
    # first N%3 buckets, q for the rest) reduce to two rank thresholds.
    part = (
        scored.repartitionByRange(32, "nats_per_bigram", "doc_id")
        .withColumn("pid", F.spark_partition_id())
        .localCheckpoint()
    )
    subs = sorted(
        part.groupBy("pid").agg(F.count(F.lit(1)).alias("c")).collect(),
        key=lambda r: r.pid,
    )  # bounded by the partition count (32), never by |docs|
    if not subs:
        return scored.withColumn("ppl_bucket", F.lit(1).cast("long"))
    n_docs, offsets = 0, {}
    for r in subs:
        offsets[r.pid] = n_docs
        n_docs += r.c
    q, rem = divmod(n_docs, 3)
    t1 = q + (1 if rem >= 1 else 0)
    t2 = t1 + q + (1 if rem >= 2 else 0)
    off = F.create_map(
        *[F.lit(x) for pid_o in sorted(offsets.items()) for x in pid_o]
    )
    w = Window.partitionBy("pid").orderBy("nats_per_bigram", "doc_id")
    rnk = off[F.col("pid")] + F.row_number().over(w)
    return part.select(
        "doc_id",
        "n_bigrams",
        "nll_mu",
        "nats_per_bigram",
        F.when(rnk <= F.lit(t1), F.lit(1))
        .when(rnk <= F.lit(t2), F.lit(2))
        .otherwise(F.lit(3))
        .cast("long")
        .alias("ppl_bucket"),
    )


def _kn_docnll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The KN scorer's corpus-scale portion — everything up to the
    per-document (n_bigrams, nll_mu) frame.  Split out (r11) so the
    plan pins in test_plan_shapes.py can assert the broadcast/shuffle
    shape of THIS stage directly (the bucketing pass above checkpoints
    its input, which truncates the visible lineage)."""
    d = load_parallel(spark, sf_dir, "documents")
    t = d.select("doc_id", tokens("text").alias("ts")).filter(F.size("ts") >= 2)
    n = F.size("ts")
    pair_arr = F.zip_with(
        F.slice("ts", 1, n - 1),
        F.slice(F.col("ts"), F.lit(2), n - 1),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    pairs = (
        t.select("doc_id", F.explode(pair_arr).alias("p"))
        .select("doc_id", "p.w1", "p.w2")
        .localCheckpoint(eager=True)
    )
    tr = pairs.filter(F.col("doc_id") % 3 == 0)
    c12 = (
        tr.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("c12"))
        .localCheckpoint(eager=True)
    )
    ctx = c12.groupBy("w1").agg(
        F.sum("c12").cast("long").alias("c1"),
        F.count(F.lit(1)).cast("long").alias("n1f"),
    )
    bwd = c12.groupBy("w2").agg(F.count(F.lit(1)).cast("long").alias("n1b"))
    # r13 opt: every train token appears in some train bigram, so the
    # vocabulary derives from the TYPE-level c12 table (vocabulary^2-
    # bounded) instead of two passes + a distinct over the occurrence-
    # level train stream.
    voc = (
        c12.select(F.col("w1").alias("tok"))
        .unionAll(c12.select(F.col("w2").alias("tok")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    tot = c12.agg(F.count(F.lit(1)).cast("long").alias("tt")).crossJoin(
        voc.agg(F.count(F.lit(1)).cast("long").alias("vv"))
    )
    sp = (
        pairs.join(F.broadcast(voc.withColumnRenamed("tok", "v1")),
                   F.col("w1") == F.col("v1"), "left")
        .join(F.broadcast(voc.withColumnRenamed("tok", "v2")),
              F.col("w2") == F.col("v2"), "left")
        .select(
            "doc_id",
            F.when(F.col("v1").isNull(), F.lit("<unk>"))
            .otherwise(F.col("w1")).alias("w1m"),
            F.when(F.col("v2").isNull(), F.lit("<unk>"))
            .otherwise(F.col("w2")).alias("w2m"),
        )
    )
    # score each occurrence directly: one shuffle joins the occurrence
    # stream to the bigram-type table (the only model table that is
    # not vocabulary-bounded); context/continuation/totals broadcast.
    # floor(ln(p)*1e6) is a pure function of the mapped type, so
    # evaluating it per OCCURRENCE (codegen'd, no extra shuffle) gives
    # the identical micro-nats the oracle derives per type — and saves
    # the distinct + join-back pair of occurrence-stream shuffles
    # (measured 6.9x -> ~2.5x growth on 10x data).
    occ = (
        sp.join(
            c12.select(F.col("w1").alias("a1"), F.col("w2").alias("a2"), "c12"),
            (F.col("w1m") == F.col("a1")) & (F.col("w2m") == F.col("a2")),
            "left",
        )
        .join(
            F.broadcast(ctx.select(F.col("w1").alias("b1"), "c1", "n1f")),
            F.col("w1m") == F.col("b1"),
            "left",
        )
        .join(
            F.broadcast(bwd.select(F.col("w2").alias("d2"), "n1b")),
            F.col("w2m") == F.col("d2"),
            "left",
        )
        .crossJoin(F.broadcast(tot))
        .select("doc_id", F.expr(_KN_LP_MU).alias("lp_mu"))
    )
    return occ.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        (-F.sum("lp_mu")).cast("long").alias("nll_mu"),
    )


def text_kn_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See _kn_scored (kept adjacent so the registered query, the
    shared scorer, and the docstring stay one unit)."""
    return _kn_scored(spark, sf_dir).orderBy("doc_id")


# --------------------------------------------------------------------------
# WordPiece tokenizer (operators/wordpiece.py): the BERT-family third
# member of the tokenizer family (BPE r5, Unigram-LM r9).  Training is
# the BPE CTE chain with the WordPiece LIKELIHOOD argmax — score =
# count(ab) / (count(a) * count(b)), one IEEE double division of exact
# integers computed by the identical expression on both engines, ties
# lexicographic.  Application is greedy longest-match-first; the oracle
# selects the greedy path from the full segmentation enumeration by
# lexicographically-maximal piece-length key (valid because the
# single-char fallback means greedy never dead-ends inside the training
# alphabet, so the greedy prefix choice always completes).

_WP_V = 120
_WP_NMERGES = 12
_WP_MAXLEN = 12
_WP_WORD_RE = "[a-z]+"
_WP_PASSES = 6


def _wp_rep_expr(expr: str, k: int) -> str:
    pat = f"' ' || b{k}.a || ' ' || b{k}.b || ' '"
    rep = f"' ' || b{k}.a || substr(b{k}.b, 3) || ' '"
    for _ in range(_WP_PASSES):
        expr = f"replace({expr}, {pat}, {rep})"
    return expr


def _wp_train_ctes() -> str:
    """w0 = top-V words as initial-char + ##-continuation sequences;
    per round k: s{k} symbol counts, p{k} pair counts, b{k} likelihood
    argmax, w{k+1} merged."""
    parts = [
        f"""w0 AS MATERIALIZED (
      SELECT word, cnt,
             ' ' || word[1] ||
             CASE WHEN length(word) > 1
                  THEN ' ' || array_to_string(
                         list_transform(range(2, length(word) + 1),
                                        i -> '##' || word[i]), ' ')
                  ELSE '' END || ' ' AS syms
      FROM (
        SELECT tok AS word, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM (SELECT unnest(regexp_extract_all(lower(text), '{_WP_WORD_RE}')) AS tok
              FROM documents)
        WHERE length(tok) <= {_WP_MAXLEN}
        GROUP BY tok
        ORDER BY cnt DESC, tok
        LIMIT {_WP_V}
      )
    )"""
    ]
    for k in range(_WP_NMERGES):
        parts.append(
            f"""s{k} AS MATERIALIZED (
      SELECT s, CAST(SUM(cnt) AS BIGINT) AS n FROM (
        SELECT cnt, unnest(str_split(trim(syms), ' ')) AS s FROM w{k})
      GROUP BY s
    ),
    p{k} AS MATERIALIZED (
      SELECT pr.a AS a, pr.b AS b, CAST(SUM(cnt) AS BIGINT) AS n
      FROM (
        SELECT cnt,
               unnest(list_transform(range(1, len(l)),
                      i -> struct_pack(a := l[i], b := l[i+1]))) AS pr
        FROM (SELECT cnt, str_split(trim(syms), ' ') AS l FROM w{k})
      )
      GROUP BY pr.a, pr.b
    ),
    b{k} AS MATERIALIZED (
      SELECT a, b FROM (
        SELECT p.a, p.b,
               CAST(p.n AS DOUBLE) / CAST(sa.n * sb.n AS DOUBLE) AS score
        FROM p{k} p
        JOIN s{k} sa ON sa.s = p.a
        JOIN s{k} sb ON sb.s = p.b) t
      ORDER BY score DESC, a, b LIMIT 1
    ),
    w{k + 1} AS MATERIALIZED (
      SELECT word, cnt, {_wp_rep_expr("syms", k)} AS syms FROM w{k}, b{k}
    )"""
        )
    return ",\n    ".join(parts)


def _wp_word_counts(spark: SparkSession, sf_dir: str) -> list[tuple[str, int]]:
    d = load_parallel(spark, sf_dir, "documents")
    top = (
        d.select(
            F.explode(
                F.regexp_extract_all(F.lower("text"), F.lit(_WP_WORD_RE), 0)
            ).alias("word")
        )
        .where(F.length("word") <= _WP_MAXLEN)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), "word")
        .limit(_WP_V)
        .collect()
    )
    return [(r["word"], int(r["cnt"])) for r in top]


_WP_TRAIN_ORACLE = (
    "WITH " + _wp_train_ctes() + ",\n    m AS (\n"
    + "\n      UNION ALL ".join(
        f"SELECT CAST({k} AS BIGINT) AS merge_rank, a AS lhs, b AS rhs FROM b{k}"
        for k in range(_WP_NMERGES)
    )
    + "\n    )\n"
    "    SELECT merge_rank, lhs, rhs, lhs || substr(rhs, 3) AS merged"
    " FROM m ORDER BY merge_rank"
)


@register("text_wordpiece_train_merges", oracle=_WP_TRAIN_ORACLE)
def text_wordpiece_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 (r9 wave 2) — WordPiece training: the BPE distribution shape
    (corpus-scale word count, bounded driver loop over top-V rows) with
    the likelihood argmax count(ab)/(count(a)*count(b)) — the objective
    that makes WordPiece prefer pairs that are SURPRISINGLY frequent
    relative to their parts, not just frequent."""
    from specialsid_spark.operators.wordpiece import train_wordpiece

    wc = _wp_word_counts(spark, sf_dir)
    merges = train_wordpiece(wc, _WP_NMERGES)
    return spark.createDataFrame(
        [(i, a, b, a + b[2:]) for i, (a, b) in enumerate(merges)],
        "merge_rank bigint, lhs string, rhs string, merged string",
    ).orderBy("merge_rank")


_WP_SEGMENT_ORACLE = (
    "WITH " + _wp_train_ctes() + f""",
    voc AS MATERIALIZED (
      SELECT DISTINCT piece FROM (
        SELECT unnest(str_split(trim(syms), ' ')) AS piece FROM w0
        UNION ALL
        {" UNION ALL ".join(f"SELECT a || substr(b, 3) AS piece FROM b{k}" for k in range(_WP_NMERGES))}
      ) t
    ),
    paths AS MATERIALIZED (
      SELECT word, seg, np, gkey FROM (
        WITH RECURSIVE gp AS (
          SELECT word, 0 AS pos, CAST('' AS VARCHAR) AS seg,
                 CAST('' AS VARCHAR) AS gkey, 0 AS np
          FROM w0
          UNION ALL
          SELECT gp.word,
                 gp.pos + CASE WHEN gp.pos = 0 THEN length(v.piece)
                               ELSE length(v.piece) - 2 END,
                 CASE WHEN gp.np = 0 THEN v.piece
                      ELSE gp.seg || ' ' || v.piece END,
                 gp.gkey || chr(CAST(64 + CASE WHEN gp.pos = 0
                                THEN length(v.piece)
                                ELSE length(v.piece) - 2 END AS INTEGER)),
                 gp.np + 1
          FROM gp, voc v
          WHERE gp.pos < length(gp.word)
            AND CASE WHEN gp.pos = 0
                     THEN v.piece = substr(gp.word, 1, length(v.piece))
                     ELSE v.piece = '##' || substr(gp.word, gp.pos + 1,
                                                   length(v.piece) - 2)
                      AND length(v.piece) >= 3 END
        ) SELECT * FROM gp WHERE pos = length(word)
      ) q
    ),
    greedy AS MATERIALIZED (
      SELECT word, seg, np FROM (
        SELECT word, seg, np,
               row_number() OVER (PARTITION BY word ORDER BY gkey DESC) AS rk
        FROM paths) t WHERE rk = 1
    )
    SELECT w.word, w.cnt, g.seg AS segmentation,
           CAST(g.np AS BIGINT) AS n_tokens
    FROM greedy g JOIN w0 w USING (word)
    ORDER BY w.word"""
)


@register("text_wordpiece_segment_vocab", oracle=_WP_SEGMENT_ORACLE)
def text_wordpiece_segment_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy longest-match-first segmentation of the training
    vocabulary under the trained WordPiece — the BERT tokenizer's
    runtime algorithm, pinned against an oracle that derives the SAME
    greedy path by a completely different construction (full
    segmentation enumeration + lexicographically-maximal piece-length
    key).  Two independent implementations of training AND greedy
    application must agree on every piece of every word."""
    from specialsid_spark.operators.wordpiece import (
        apply_wordpiece,
        train_wordpiece,
        wordpiece_vocab,
    )

    wc = _wp_word_counts(spark, sf_dir)
    merges = train_wordpiece(wc, _WP_NMERGES)
    voc = wordpiece_vocab(wc, merges)
    rows = []
    for w, c in wc:
        segs = apply_wordpiece(w, voc, max_piece=_WP_MAXLEN)
        rows.append((w, c, " ".join(segs), len(segs)))
    return spark.createDataFrame(
        rows, "word string, cnt bigint, segmentation string, n_tokens bigint"
    ).orderBy("word")


@register(
    "pipeline_perplexity_curation",
    # Composition oracle: the full KN CTE chain (shared _KN_CTES) ->
    # head/middle gate -> exact-dedup survivors (min doc_id per text
    # hash) -> per-language summary with a doc-id checksum, so the hash
    # pins exactly WHICH documents survive both gates.
    oracle=f"""
    WITH {{KN}},
    kept AS MATERIALIZED (
      SELECT d.doc_id, d.lang, d.text
      FROM documents d JOIN knb ON knb.doc_id = d.doc_id
      WHERE knb.ppl_bucket <= 2
    ),
    surv AS MATERIALIZED (
      SELECT CAST(MIN(doc_id) AS BIGINT) AS doc_id FROM kept
      GROUP BY md5(text)
    )
    SELECT k.lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len({_SQL_TOKENS.replace("text", "k.text")})) AS BIGINT)
             AS n_tokens,
           CAST(SUM(('0x' || substring(md5(CAST(k.doc_id AS VARCHAR)), 1, 8))::BIGINT)
             AS BIGINT) AS docids_ck
    FROM kept k JOIN surv USING (doc_id)
    GROUP BY k.lang
    ORDER BY k.lang
    """.replace("{KN}", _KN_CTES),
)
def pipeline_perplexity_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capstone composition (r9 wave 2): the perplexity-gated curation
    pass a pre-training pipeline runs — (1) score every document under
    the corpus-trained KN bigram LM and DROP the perplexity tail
    (bucket 3, the CCNet recipe), (2) exact-dedup the survivors
    (min-doc_id keeper per content hash), (3) per-language corpus
    accounting with a doc-id checksum that pins the exact survivor
    set.  Every stage is the already-oracled operator reused — the
    composition itself is what's under test.

    Scale shape: the KN stages as in text_kn_perplexity; the gate is a
    projection+filter; dedup shuffles (md5, doc_id) pairs only; the
    summary is a map-side-combining groupBy on language."""
    scored = _kn_scored(spark, sf_dir)
    d = load_parallel(spark, sf_dir, "documents").select(
        # hash projected BEFORE the lineage break so no document text
        # ever crosses the checkpoint or a shuffle.  r13 opt: the token
        # count is NOT re-derived from text — every scored doc passed
        # the KN chain's len(ts) >= 2 gate and contributed exactly
        # len(ts) - 1 bigrams under the SAME tokenizer, so
        # n_tokens == n_bigrams + 1 rides in from the scorer and the
        # second corpus tokenize pass disappears.
        "doc_id",
        "lang",
        F.md5("text").alias("h"),
    )
    kept = d.join(
        scored.filter(F.col("ppl_bucket") <= 2).select(
            "doc_id", (F.col("n_bigrams") + 1).cast("long").alias("nt")
        ),
        "doc_id",
    ).localCheckpoint(eager=True)
    surv = kept.groupBy("h").agg(F.min("doc_id").alias("doc_id"))
    ck = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("long")
    return (
        kept.join(surv.select("doc_id"), "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("nt").cast("long").alias("n_tokens"),
            F.sum(ck).cast("long").alias("docids_ck"),
        )
        .orderBy("lang")
    )


# --- TextRank keyword extraction (Mihalcea & Tarau 2004) ---
#
# PageRank over the token co-occurrence graph (undirected, window 2):
# the unsupervised keyword extractor behind half the "top terms"
# features in indexing/curation UIs.  Integer PageRank on the 10^12
# micro-rank lattice with floor division everywhere — the
# graph_pagerank_suppliers discipline — so three iterations are
# bit-exactly restatable in SQL.

_TR_UNIT = 10**12
_TR_ITERS = 3


def _tr_sql_iter(prev: str, out: str) -> str:
    return f"""
    {out} AS (
      SELECT e.dst AS node,
             ((15 * ({_TR_UNIT} // n.cnt)) // 100
              + (85 * SUM(p.r // dg.d)) // 100) AS r
      FROM tr_edges e
      JOIN {prev} p ON p.node = e.src
      JOIN tr_deg dg ON dg.src = e.src
      CROSS JOIN tr_n n
      GROUP BY e.dst, n.cnt
    )
    """


@register(
    "text_textrank_keywords",
    oracle=f"""
    WITH tk AS MATERIALIZED (
      SELECT doc_id, {_SQL_TOKENS} AS ts FROM documents
    ),
    occ AS MATERIALIZED (
      SELECT doc_id, p.i AS pos, ts[p.i] AS w
      FROM tk, (SELECT unnest(range(1, (SELECT MAX(len(ts)) FROM tk) + 1))
                AS i) p
      WHERE p.i <= len(ts)
    ),
    fwd AS (
      SELECT DISTINCT a.w AS src, b.w AS dst
      FROM occ a JOIN occ b
        ON a.doc_id = b.doc_id AND b.pos - a.pos BETWEEN 1 AND 2
       AND a.w <> b.w
    ),
    tr_edges AS MATERIALIZED (
      SELECT src, dst FROM fwd
      UNION
      SELECT dst AS src, src AS dst FROM fwd
    ),
    tr_deg AS MATERIALIZED (
      SELECT src, COUNT(*) AS d FROM tr_edges GROUP BY src
    ),
    tr_n AS MATERIALIZED (SELECT COUNT(*) AS cnt FROM tr_deg),
    r0 AS MATERIALIZED (
      SELECT src AS node, ({_TR_UNIT} // n.cnt) AS r
      FROM tr_deg CROSS JOIN tr_n n
    ),
    {_tr_sql_iter("r0", "r1")},
    {_tr_sql_iter("r1", "r2")},
    {_tr_sql_iter("r2", "r3")}
    SELECT node AS keyword, CAST(r AS BIGINT) AS rank_mu
    FROM r3
    ORDER BY rank_mu DESC, keyword
    LIMIT 20
    """,
)
def text_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 (r9 wave 2) — TextRank keyword extraction (Mihalcea & Tarau
    2004): PageRank (damping 0.85, 3 iterations) over the undirected
    token co-occurrence graph (window 2), top-20 corpus keywords —
    the standard unsupervised keyword extractor, here as a pure
    dataflow with the integer micro-rank lattice so both engines agree
    bit-for-bit.

    Scale shape: the co-occurrence edge list is vocabulary^2-bounded
    (DISTINCT pairs, built from one positional self-join windowed to
    distance <= 2 — shuffle keyed on doc_id) and localCheckpointed so
    each power iteration reuses materialized partitions; every
    iteration shuffles (token, bigint) rank pairs only.  Same
    lineage-truncation discipline as graph_pagerank_suppliers."""
    d = load_parallel(spark, sf_dir, "documents")
    occ = d.select(
        "doc_id", F.posexplode(tokens("text")).alias("pos", "w")
    )
    a = occ.alias("a")
    b = occ.alias("b")
    fwd = (
        a.join(
            b,
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("b.pos") - F.col("a.pos")).between(1, 2)
            & (F.col("a.w") != F.col("b.w")),
        )
        .select(F.col("a.w").alias("src"), F.col("b.w").alias("dst"))
        .distinct()
    )
    edges = fwd.union(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    ed = edges.join(deg, "src").localCheckpoint(eager=True)
    n_nodes = ed.select("src").distinct().count()
    base = _TR_UNIT // n_nodes
    ranks = (
        ed.select("src")
        .distinct()
        .select(F.col("src").alias("node"), F.lit(base).alias("r"))
    )
    for _ in range(_TR_ITERS):
        ranks = (
            ed.join(ranks, ed.src == ranks.node)
            .selectExpr("dst", "r div d AS contrib")
            .groupBy("dst")
            .agg(
                F.expr(
                    f"CAST({15 * base} AS BIGINT) div 100"
                    " + (85 * sum(contrib)) div 100"
                ).alias("r")
            )
            .withColumnRenamed("dst", "node")
            .localCheckpoint(eager=False)
        )
    return (
        ranks.select(F.col("node").alias("keyword"), F.col("r").alias("rank_mu"))
        .orderBy(F.col("rank_mu").desc(), "keyword")
        .limit(20)
    )
