"""Deduplication over `documents` / `embeddings` (SURVEY.md §2.11 X1).

Exact (hash-groupBy), MinHash+LSH (shingle → minhash → band → bucket
join), SimHash, n-gram Jaccard, embedding-cosine near-dup — each with a
DuckDB oracle computing the identical quantity (portable md5-based
hashing; integer-exact set arithmetic; sequential-fold cosine).

Scale shape: every variant is shuffle-bounded by |docs|·K signatures or
by candidate pairs that share a bucket — never by |docs|² — which is
what makes them run at 100 TB.  (The brute-force Jaccard here joins on
shared shingles, i.e. it IS the blocked form.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from specialsid_spark.catalog import load_parallel
from specialsid_spark.operators.kmeans import lattice
from specialsid_spark.operators.snapshot import (
    snapshot_commit,
    snapshot_read,
    snapshot_versions,
)
from specialsid_spark.operators.textops import (
    SQL_MINHASH_BASES,
    SQL_TOKEN_DIGEST16,
    SQL_TOKEN_MD5S,
    band_key,
    lang_guess,
    minhash_bases,
    minhash_component,
    quality_gate,
    simhash16_from_digests,
    sql_minhash_component,
    sql_simhash16_digests,
    token_digest16,
    tokens,
    word_shingles,
)
from specialsid_spark.operators.rows import map_rows
from specialsid_spark.queries import register

_SQL_TOKENS = "string_split_regex(lower(trim(text)), '\\s+')"
_SQL_SHINGLES = (
    "list_distinct(list_transform(range(1, greatest(len(toks) - 1, 1)),"
    " i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))"
)


@register(
    "dedup_exact_hash",
    oracle="""
    SELECT md5(text) AS text_hash,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(doc_id) AS BIGINT) AS keeper_doc
    FROM documents
    GROUP BY md5(text)
    ORDER BY text_hash
    """,
)
def dedup_exact_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on content; keeper = min doc_id.
    At scale the md5 groupBy shuffles 16-byte keys, not documents."""
    d = load_parallel(spark, sf_dir, "documents")
    return (
        d.groupBy(F.md5("text").alias("text_hash"))
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("keeper_doc"))
        .orderBy("text_hash")
    )


def _exploded_shingles_df(d: DataFrame) -> DataFrame:
    """(doc_id, shingle) rows from any (doc_id, text) frame.

    The token array MUST go through a named projection before the
    shingle transform: the per-gram lambda references it k times, and an
    inline ``split`` expression is re-evaluated on every reference
    (measured 7x slower).  The multi-referenced projection survives
    CollapseProject, so each row tokenizes exactly once.

    A frame that already carries a ``toks`` column (a shared tokenized
    projection — the multi-consumer lesson) is used as-is."""
    tk = (
        d
        if "toks" in d.columns
        else d.select("doc_id", tokens("text").alias("toks"))
    )
    return tk.select(
        "doc_id", F.explode(word_shingles(F.col("toks"), k=3)).alias("shingle")
    )


def _exploded_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _exploded_shingles_df(load_parallel(spark, sf_dir, "documents"))


_MAX_SHINGLE_DF = 64  # stop-shingle cap: boilerplate shared by >64 docs
# is excluded from BOTH the blocking join and the set sizes.  At test SFs
# no shingle reaches it (max df: 7 at sf0.01, 25 at sf0.1 — results are
# byte-identical with or without), but at corpus scale it bounds the
# hottest join key to df^2 <= 4096 pair rows, making the self-join
# skew-proof where a viral boilerplate shingle would otherwise produce
# a billion-row key group.


@register(
    "dedup_ngram_jaccard_pairs",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_SQL_TOKENS} AS toks FROM documents),
    sh AS (SELECT doc_id, {_SQL_SHINGLES} AS shingles FROM t),
    ex0 AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
    keep AS (SELECT shingle FROM ex0 GROUP BY shingle HAVING COUNT(*) <= {_MAX_SHINGLE_DF}),
    ex AS (SELECT doc_id, shingle FROM ex0 JOIN keep USING (shingle)),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM ex GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
      FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(shared AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - shared AS DOUBLE) AS jaccard
    FROM pairs
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(shared AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - shared AS DOUBLE) >= 0.2
    ORDER BY doc_a, doc_b
    """,
)
def dedup_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-gram Jaccard near-dup: explode shingles, drop stop-shingles
    (df > 64: boilerplate contributes nothing to
    discrimination and everything to join skew), self-join on shared
    shingle (the blocking step), exact integer set arithmetic over the
    kept shingle sets."""
    # exploded shingles are read 4x (df filter, two join sides, sizes):
    # persist; shingles are distinct per doc, so set size == row count
    ex0 = _exploded_shingles(spark, sf_dir).persist()
    keep = ex0.groupBy("shingle").agg(F.count(F.lit(1)).alias("df")).filter(
        F.col("df") <= _MAX_SHINGLE_DF
    ).select("shingle")
    ex = ex0.join(keep, "shingle").persist()
    sizes = ex.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = ex.alias("a")
    b = ex.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    jac = F.col("shared").cast("double") / (
        F.col("sa.n_sh") + F.col("sb.n_sh") - F.col("shared")
    ).cast("double")
    return (
        pairs.join(sa, F.col("sa.doc_id") == F.col("doc_a"))
        .join(sb, F.col("sb.doc_id") == F.col("doc_b"))
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= 0.2)
        .orderBy("doc_a", "doc_b")
    )


_N_MINHASH = 16  # 16 components -> 4 bands of 4 (production shape)
_BAND_R = 4  # rows per band; candidate threshold s* = (1/b)^(1/r) ~ 0.71
_N_BANDS = _N_MINHASH // _BAND_R


def _sql_bands() -> str:
    """DuckDB twin of the band projection: one row per (doc, band)."""
    rows = []
    for bi in range(_N_BANDS):
        comps = " || '|' || ".join(
            f"mh{_BAND_R * bi + j}::VARCHAR" for j in range(_BAND_R)
        )
        rows.append(f"SELECT doc_id, {bi} AS band, md5({comps}) AS bkey FROM sigs")
    return "bands AS (" + " UNION ALL ".join(rows) + ")"


def _minhash_sigs_df(d: DataFrame) -> DataFrame:
    """MinHash signatures from any (doc_id, text) frame — shared by the
    registered batch queries AND the streaming near-dup ingest gate.

    Shape (the _simhash_block_sigs discipline): every CW component is
    materialized as a plain column BEFORE the aggregate, so the 16 MINs
    reference attributes only and the groupBy partial-aggregates
    map-side — the shuffle carries one 17-long partial per (doc,
    partition), never the shingle occurrence stream.  (The previous
    repartition("doc_id") barrier kept CollapseProject from inlining
    u1/u2 into the agg expressions but paid a full occurrence-stream
    exchange for it; the named u1/u2 projection survives on its own —
    multi-referenced non-cheap expressions don't collapse — exactly
    like the md5/digest projections in the SimHash kernel.)"""
    ex = _exploded_shingles_df(d)
    # md5 through a named projection -> hashed exactly once per shingle
    hashed = ex.select("doc_id", F.md5("shingle").alias("h"))
    u1, u2 = minhash_bases(F.col("h"))
    based = hashed.select("doc_id", u1.alias("u1"), u2.alias("u2"))
    comps = based.select(
        "doc_id",
        *[
            minhash_component(F.col("u1"), F.col("u2"), j).alias(f"c{j}")
            for j in range(_N_MINHASH)
        ],
    )
    return comps.groupBy("doc_id").agg(
        *[F.min(f"c{j}").alias(f"mh{j}") for j in range(_N_MINHASH)]
    )


def _minhash_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _minhash_sigs_df(load_parallel(spark, sf_dir, "documents"))


def _band_structs() -> F.Column:
    """array<struct<band, bkey>> over the mh0..mhN signature columns."""
    return F.array(
        *[
            F.struct(
                F.lit(bi).alias("band"),
                band_key(
                    *[F.col(f"mh{_BAND_R * bi + j}") for j in range(_BAND_R)]
                ).alias("bkey"),
            )
            for bi in range(_N_BANDS)
        ]
    )


def lsh_band_keys(d: DataFrame) -> DataFrame:
    """(doc_id, band, bkey) LSH banding for any (doc_id, text) frame —
    the building block the streaming ingest gate shares with the batch
    candidate join."""
    sigs = _minhash_sigs_df(d)
    return sigs.select("doc_id", F.explode(_band_structs()).alias("b")).select(
        "doc_id", F.col("b.band").alias("band"), F.col("b.bkey").alias("bkey")
    )


def simhash_probes(sigs: DataFrame) -> DataFrame:
    """Pigeonhole probe expansion of (doc_id, blk0..blk3) SimHash
    signatures: 4 rows per doc — (doc_id, band, v, blk0..blk3), where
    (band, v) is the block key and the full signature rides along for
    in-join radius verification (simhash_verdict)."""
    return sigs.select(
        "doc_id",
        *[F.col(f"blk{b}") for b in range(4)],
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"), F.col(f"blk{b}").alias("v")
                    )
                    for b in range(4)
                ]
            )
        ).alias("p"),
    ).select(
        "doc_id",
        F.col("p.band").alias("band"),
        F.col("p.v").alias("v"),
        *[F.col(f"blk{b}") for b in range(4)],
    )


def simhash_ham_to_index() -> "F.Column":
    """Hamming distance column between a probe row's blk0..blk3 and an
    index row's iblk0..iblk3 (post-join projection)."""
    return sum(
        F.bit_count(F.col(f"blk{i}").bitwiseXOR(F.col(f"iblk{i}")))
        for i in range(4)
    )


# The incremental near-dup gates: one verdict rule per signature family
# (lsh_verdict, simhash_verdict) and one verdict-and-commit path over a
# persisted snapshot index (lsh_gate, simhash_gate).  The daily batch
# queries below and the hop4 streams (streaming/pipeline.py) both call
# these, so the gate rule, the index layout and the barrier placement
# live here once for both drivers.


def _verdict(seeds: DataFrame, hitc: DataFrame | None, hiti: DataFrame) -> DataFrame:
    """(doc_id, hit_corpus, hit_intra, admitted) for every doc of
    ``seeds``: ONE map-side-combined groupBy over zero-flag seed rows
    unioned with the corpus-probe hits ``hitc`` (None: no prior index)
    and the intra-batch hits ``hiti`` — one small doc_id shuffle, with
    no distinct or left join per hit kind."""

    def flags(df: DataFrame, hc: int, hi: int) -> DataFrame:
        return df.select("doc_id", F.lit(hc).alias("hc"), F.lit(hi).alias("hi"))

    rows = flags(seeds, 0, 0).unionByName(flags(hiti, 0, 1))
    if hitc is not None:
        rows = rows.unionByName(flags(hitc, 1, 0))
    return (
        rows.groupBy("doc_id")
        .agg(F.max("hc").alias("hc"), F.max("hi").alias("hi"))
        .select(
            "doc_id",
            F.col("hc").cast("int").alias("hit_corpus"),
            F.col("hi").cast("int").alias("hit_intra"),
            ((F.col("hc") + F.col("hi")) == 0).cast("int").alias("admitted"),
        )
    )


def lsh_verdict(bands: DataFrame, index: DataFrame | None = None) -> DataFrame:
    """The MinHash-LSH gate rule over one batch's lsh_band_keys rows.

    A doc is a corpus hit when any of its (band, bkey) buckets is in
    ``index`` (a (band, bkey) frame, None when there is no prior index),
    and an intra hit when a lower doc_id of the same batch shares a
    bucket (greedy keep-lowest).  The probe is a LEFT SEMI join on the
    band keys, so the index side stays joinable on its storage layout —
    a bucketed band table feeds it without an index shuffle (the
    window/union single-shuffle shape measured slower,
    OPTIMIZATION_r13.md).  Returns (doc_id, hit_corpus, hit_intra,
    admitted), one row per doc with band rows."""
    hitc = (
        None if index is None
        else bands.join(index, ["band", "bkey"], "left_semi")
    )
    mins = bands.groupBy("band", "bkey").agg(F.min("doc_id").alias("m"))
    hiti = bands.join(mins, ["band", "bkey"]).filter(F.col("doc_id") > F.col("m"))
    return _verdict(bands, hitc, hiti)


def simhash_verdict(probes: DataFrame, index: DataFrame | None = None) -> DataFrame:
    """The SimHash gate rule over one batch's simhash_probes rows.

    A doc is a corpus hit when any ``index`` row ((band, v, blk0..blk3),
    None when there is no prior index) lies within Hamming 3, and an
    intra hit when a lower doc_id of the same batch does.  Candidates
    come from an equi join on the pigeonhole block key (band, v) and the
    radius is verified IN the join — exact, not probabilistic: 3 flipped
    bits across 4 disjoint blocks leave >= 1 block untouched, so every
    qualifying pair shares a block key.  Same output as lsh_verdict."""
    ham = simhash_ham_to_index()

    def index_side(df: DataFrame, *extra: F.Column) -> DataFrame:
        return df.select(
            *extra, "band", "v",
            *[F.col(f"blk{b}").alias(f"iblk{b}") for b in range(4)],
        )

    hitc = (
        None if index is None
        else probes.join(index_side(index), ["band", "v"]).filter(ham <= 3)
    )
    lower = index_side(probes, F.col("doc_id").alias("doc_b"))
    hiti = probes.join(lower, ["band", "v"]).filter(
        (F.col("doc_id") > F.col("doc_b")) & (ham <= 3)
    )
    return _verdict(probes, hitc, hiti)


def _index_rows(
    keys: DataFrame, kind: str, admitted: DataFrame | None = None
) -> DataFrame:
    """The one gate-table layout, (kind, <key columns>, doc_id): distinct
    ``kind`` rows carry the key columns of ``keys`` with a NULL doc_id,
    and 'doc' rows carry the ``admitted`` doc ids with NULL keys."""
    cols = [c for c in keys.columns if c != "doc_id"]
    rows = keys.select(
        F.lit(kind).alias("kind"), *cols, F.lit(None).cast("long").alias("doc_id")
    ).distinct()
    if admitted is None:
        return rows
    return rows.unionByName(
        admitted.select(
            F.lit("doc").alias("kind"),
            *[F.lit(None).cast(keys.schema[c].dataType).alias(c) for c in cols],
            "doc_id",
        )
    )


def _gate(verdict, keys: DataFrame, table: str, kind: str, tag: str | None) -> DataFrame:
    """Verdict-and-commit over the persisted index ``table``: probe its
    ``kind`` rows (when the table has committed), compute ``verdict``
    under ONE lazy localCheckpoint, and append the admitted docs' key
    rows and doc ids as ONE snapshot commit carrying ``tag`` (the
    streaming replay token).  The commit write is the first action over
    the verdict: it materializes the checkpoint in its own SQL execution
    (probe + verdict, 4 jobs with AQE's stage jobs on a hop4 LSH
    micro-batch) and then writes (3 jobs); the returned frame reuses the
    checkpointed blocks.  Reading the index plans with no job, since its
    manifest records the schema."""
    index = None
    if snapshot_versions(table):
        cols = [c for c in keys.columns if c != "doc_id"]
        index = (
            snapshot_read(keys.sparkSession, table)
            .filter(F.col("kind") == kind)
            .select(*cols)
        )
    res = verdict(keys, index).localCheckpoint(eager=False)
    admitted = res.filter(F.col("admitted") == 1).select("doc_id")
    snapshot_commit(
        _index_rows(keys.join(admitted, "doc_id"), kind, admitted).coalesce(1),
        table,
        mode="append",
        tag=tag,
    )
    return res


def lsh_gate(bands: DataFrame, table: str, tag: str | None = None) -> DataFrame:
    """Gate one batch's lsh_band_keys rows against the persisted band
    index ``table`` and commit its admitted docs; returns the
    lsh_verdict frame.  Index rows are (kind='band', band, bkey)."""
    return _gate(lsh_verdict, bands, table, "band", tag)


def simhash_gate(probes: DataFrame, table: str, tag: str | None = None) -> DataFrame:
    """Gate one batch's simhash_probes rows against the persisted probe
    index ``table`` and commit its admitted docs; returns the
    simhash_verdict frame.  Index rows are (kind='probe', band, v,
    blk0..blk3)."""
    return _gate(simhash_verdict, probes, table, "probe", tag)


def _sql_minhash_sigs() -> str:
    mins = ", ".join(
        f"min({sql_minhash_component(j)}) AS mh{j}" for j in range(_N_MINHASH)
    )
    return f"""
    t AS (SELECT doc_id, {_SQL_TOKENS} AS toks FROM documents),
    sh AS (SELECT doc_id, {_SQL_SHINGLES} AS shingles FROM t),
    ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
    based AS (SELECT doc_id, {SQL_MINHASH_BASES} FROM ex),
    sigs AS (SELECT doc_id, {mins} FROM based GROUP BY doc_id)
    """


@register(
    "dedup_minhash_signatures",
    oracle=f"""
    WITH {_sql_minhash_sigs()}
    SELECT doc_id, {", ".join(f"mh{j}" for j in range(_N_MINHASH))}
    FROM sigs ORDER BY doc_id
    """,
)
def dedup_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures (16 components) — the strongly-checked core of
    the LSH pipeline: every signature value hash-compared cross-engine."""
    return _minhash_sigs(spark, sf_dir).orderBy("doc_id")


@register(
    "dedup_minhash_lsh_candidates",
    oracle=f"""
    WITH {_sql_minhash_sigs()},
    {_sql_bands()}
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
    ORDER BY doc_a, doc_b
    """,
)
def dedup_minhash_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding: 4 bands of 4 rows; docs sharing any band bucket are
    candidate near-dups (threshold s* = (1/4)^(1/4) ~ 0.71 — the
    real near-dup regime, vs 0.5 for the round-1 4x2 toy shape).
    Join key = (band, bucket-hash): at scale the shuffle carries
    doc_id + 16-byte keys only."""
    # signature table is tiny (|docs| x 16 hashes): persist it so the
    # shingle+md5 pipeline runs ONCE, not once per band per join side
    sigs = _minhash_sigs(spark, sf_dir).persist()
    # single projection + explode (not a 4-way union): one subtree, so
    # the self-join below reuses one exchange instead of re-deriving
    bands = sigs.select("doc_id", F.explode(_band_structs()).alias("b")).select(
        "doc_id", F.col("b.band").alias("band"), F.col("b.bkey").alias("bkey")
    )
    a = bands.alias("a")
    b = bands.alias("b")
    out = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
        .orderBy("doc_a", "doc_b")
    )
    return out


@register(
    "dedup_simhash",
    oracle=f"""
    WITH t AS (SELECT doc_id, list_distinct({_SQL_TOKENS}) AS toks FROM documents),
    g AS (SELECT doc_id, {SQL_TOKEN_DIGEST16.format(toks="toks")} AS digs FROM t)
    SELECT doc_id, CAST({sql_simhash16_digests("digs")} AS BIGINT) AS simhash
    FROM g ORDER BY doc_id
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash per document (bitwise majority vote over token
    md5 bits) — near-dups share signatures within small Hamming radius.

    Two-projection shape: (1) per-token 16-bit digests (ONE md5 per
    token), (2) 16 bit-vote aggregates over the digest attribute.  The
    digest array is referenced 16 times, so the projection survives
    CollapseProject and hashing is not re-derived per bit."""
    d = load_parallel(spark, sf_dir, "documents")
    t = d.select(
        "doc_id", token_digest16(F.array_distinct(tokens("text"))).alias("digs")
    )
    return t.select(
        "doc_id", simhash16_from_digests(F.col("digs")).cast("long").alias("simhash")
    ).orderBy("doc_id")


_EMB_TILE_B = 8  # block count; tiles = B(B+1)/2 independent GEMM tasks


def _emb_tile_memberships(e: DataFrame, B: int) -> DataFrame:
    """Explode each vector into the tiles its block participates in.

    A vector in block g belongs to every tile whose block pair includes
    g: pk = i*B + j over {(g, j): j >= g} U {(i, g): i < g}.  A
    cross-block pair meets in exactly ONE tile; a same-block pair meets
    once in tile (g, g) under the id< filter inside the kernel.

    The reverse arm uses slice(0..B-1, 1, blk) = [0, blk), which is
    EMPTY at blk=0 — sequence(0, blk-1) would instead yield [0, -1]
    there (Spark sequence steps -1 when start > stop), duplicating tile
    (0,0) membership and fabricating a negative tile key.  Pinned by
    tests/test_queries_smoke.py::test_emb_tile_memberships_exact."""
    return e.select(
        "vec_id",
        "mu",
        "blk",
        F.explode(
            F.concat(
                F.transform(
                    F.sequence(F.col("blk"), F.lit(B - 1)),
                    lambda j: F.col("blk") * B + j,
                ),
                F.transform(
                    F.slice(F.sequence(F.lit(0), F.lit(B - 1)), 1, F.col("blk").cast("int")),
                    lambda i: i * B + F.col("blk"),
                ),
            )
        ).alias("pk"),
    )


@register(
    "dedup_embedding_cosine_top20",
    oracle="""
    WITH e AS (SELECT vec_id,
                      list_transform(CAST(embedding AS DOUBLE[]),
                                     x -> CAST(floor(x * 1000000) AS BIGINT)) AS mu
               FROM embeddings)
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           round(CAST(list_dot_product(a.mu, b.mu) AS DOUBLE)
                 / (sqrt(CAST(list_dot_product(a.mu, a.mu) AS DOUBLE))
                    * sqrt(CAST(list_dot_product(b.mu, b.mu) AS DOUBLE))),
                 6) AS cos_sim
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    ORDER BY cos_sim DESC, vec_a, vec_b
    LIMIT 20
    """,
)
def dedup_embedding_cosine_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup: exact top-20 most-similar pairs by cosine,
    computed as BLOCKED all-pairs tiles (distributed-GEMM shape) with a
    numpy matmul per tile — no join, no cartesian, no per-pair fold.

    Exact global top-k over arbitrary-similarity data inherently costs
    O(n^2) comparisons (the test corpus tops out at cos~0.5, where no
    LSH family separates candidates from noise — measured: 20 bands x 2
    sign bits admits 99.7% of all pairs).  What CAN scale is the plan
    shape: each vector lands in block g = vec_id % B; every unordered
    block pair (i,j), i<=j, is one tile key, and a vector joins the
    tiles where its block is a member.  groupBy(tile).applyInPandas
    computes the (n/B)x(n/B) similarity block as ONE BLAS matmul and
    emits only the tile's top-20, so the global TakeOrderedAndProject
    ranks B(B+1)/2 x 20 rows.  B scales with sqrt(cluster) so every
    tile fits executor memory.  (Measured at sf0.1: 9.3s as a JVM
    fold-per-pair equi-join -> 1.4s as tile matmuls.)

    Components are snapped to integer micro-units (floor(x*1e6), the
    sim_topk_pandas_udf trick): dot products stay < 2^53 so numpy's
    float64 matmul, Spark's fold, and DuckDB's list_dot_product are all
    EXACT integer arithmetic — bit-identical across engines regardless
    of summation order.  For *threshold* near-dup (cos >= 0.9, the real
    dedup workload), use sim_lsh_bucketed_topk / sim_ivf_topk in
    queries/similarity.py, where bucketing prunes.
    Plan pinned join-free + cartesian-free by test_plan_shapes.py."""
    import numpy as np
    import pandas as pd

    B = _EMB_TILE_B
    e = load_parallel(spark, sf_dir, "embeddings").select(
        "vec_id",
        lattice(F.col("embedding")).alias("mu"),
        (F.col("vec_id") % B).alias("blk"),
    )
    tiles = _emb_tile_memberships(e, B)

    def tile_topk(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        pk = int(key[0])
        i, j = pk // B, pk % B
        a = pdf[pdf["blk"] == i]
        b = pdf[pdf["blk"] == j]
        if a.empty or b.empty:
            return pd.DataFrame({"vec_a": [], "vec_b": [], "cos_sim": []}).astype(
                {"vec_a": "int64", "vec_b": "int64", "cos_sim": "float64"}
            )
        ma = np.stack(a["mu"].to_numpy()).astype(np.float64)
        mb = np.stack(b["mu"].to_numpy()).astype(np.float64)
        ids_a = a["vec_id"].to_numpy()
        ids_b = b["vec_id"].to_numpy()
        # micro-unit ints in float64: every product/sum below is exact
        cs = (ma @ mb.T) / np.outer(
            np.sqrt((ma * ma).sum(axis=1)), np.sqrt((mb * mb).sum(axis=1))
        )
        ia, ib = np.meshgrid(np.arange(len(ids_a)), np.arange(len(ids_b)), indexing="ij")
        keep = (ids_a[ia] < ids_b[ib]) if i == j else np.ones_like(ia, dtype=bool)
        flat_a, flat_b, flat_cs = ids_a[ia[keep]], ids_b[ib[keep]], cs[keep]
        lo, hi = np.minimum(flat_a, flat_b), np.maximum(flat_a, flat_b)
        if len(flat_cs) > 20:
            # Partial top-k in ORACLE order (cos DESC, vec_a, vec_b), not by
            # cos alone: exact integer cosines make ties real (duplicate
            # embeddings all at 1.0), and an argpartition cut keeps an
            # arbitrary tied subset while the oracle keeps the
            # lexicographically smallest pairs.
            order = np.lexsort((hi, lo, -flat_cs))[:20]
            lo, hi, flat_cs = lo[order], hi[order], flat_cs[order]
        return pd.DataFrame({"vec_a": lo, "vec_b": hi, "cos_sim": flat_cs})

    scored = tiles.groupBy("pk").applyInPandas(
        tile_topk, "vec_a long, vec_b long, cos_sim double"
    )
    return (
        scored.select("vec_a", "vec_b", F.round("cos_sim", 6).alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), "vec_a", "vec_b")
        .limit(20)
    )


@register(
    "dedup_cc_clusters",
    oracle=f"""
    WITH RECURSIVE {_sql_minhash_sigs()},
    {_sql_bands()},
    pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
    ),
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION ALL SELECT doc_b, doc_a FROM pairs
    ),
    nodes AS (SELECT DISTINCT a AS doc FROM edges),
    reach(doc, root) AS (
      SELECT doc, doc FROM nodes
      UNION
      SELECT e.b, r.root FROM reach r JOIN edges e ON e.a = r.doc
    )
    SELECT doc AS doc_id, CAST(MIN(root) AS BIGINT) AS cluster_id
    FROM reach
    GROUP BY doc
    ORDER BY doc_id
    """,
)
def dedup_cc_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1 completion: LSH candidate pairs -> duplicate CLUSTERS via
    connected components (iterative min-label propagation; cluster id =
    smallest doc_id in the component — the canonical keeper).

    Scale shape: each iteration is one join edges⋈labels + a min-agg —
    shuffle bounded by |edges|; iterations = graph diameter (near-dup
    clusters are shallow, typically <= 5).  Convergence is checked with
    a driver-side count of changed labels (an O(1) scalar per round,
    not a data collect).  The DuckDB oracle states the same fixpoint as
    a recursive CTE, so the iterative Spark formulation is value-checked
    against a declarative twin.
    """
    return _cc_labels(spark, sf_dir).orderBy("doc_id")


def _cc_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unordered (doc_id, cluster_id) labels — the propagation body of
    dedup_cc_clusters, factored (r12 review) so consumers that shuffle
    the labels again (dedup_cluster_representatives' election join)
    don't pay the registered query's presentation-sort exchange."""
    pairs = dedup_minhash_lsh_candidates(spark, sf_dir).select("doc_a", "doc_b")
    # localCheckpoint (not persist) everywhere in the loop: each round's
    # plan would otherwise embed every prior round's join — lineage (and
    # optimizer time) snowballs with iteration count.  Checkpointing
    # truncates the lineage so round N plans against a materialized
    # scan, keeping per-iteration planning O(1).
    edges = (
        pairs.selectExpr("doc_a AS a", "doc_b AS b")
        .unionAll(pairs.selectExpr("doc_b AS a", "doc_a AS b"))
        .localCheckpoint(eager=True)
    )
    labels = (
        edges.select(F.col("a").alias("doc"))
        .distinct()
        .withColumn("cluster_id", F.col("doc"))
        .localCheckpoint(eager=True)
    )
    for _ in range(20):  # diameter bound; converges far earlier
        neighbor_min = (
            edges.join(labels, edges.b == labels.doc)
            .groupBy(F.col("a").alias("doc"))
            .agg(F.min("cluster_id").alias("nmin"))
        )
        new_labels = (
            labels.join(neighbor_min, "doc", "left")
            .select(
                "doc",
                F.least(
                    F.col("cluster_id"), F.coalesce("nmin", F.col("cluster_id"))
                ).alias("cluster_id"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "doc")
            .filter(F.col("n.cluster_id") != F.col("o.cluster_id"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels.select(
        F.col("doc").alias("doc_id"), F.col("cluster_id").cast("long")
    )


def _sql_simhash_block_sigs(w: int, prefix: str = "", source: str = "documents") -> str:
    """DuckDB CTEs producing (doc_id, blk0..blk3): a 4*w-bit SimHash as
    four w-bit blocks.  Block b is voted from the bits of the b-th w-bit
    slice of each token's single md5 (plain bit order: bit k of block b
    = bit k of that slice) — one hash per token at ANY width; widening
    the signature only widens the slices.  ``prefix`` namespaces the CTE
    names so the fragment composes with other CTE chains, and ``source``
    lets the signatures build over any (doc_id, text) relation (the
    curation pipeline signatures only the quality/language survivors)."""
    hexw = w // 4
    dig_cols = ", ".join(
        f"list_transform(md5s, m -> ('0x' || substring(m, {hexw * b + 1}, {hexw}))::BIGINT)"
        f" AS d{b}"
        for b in range(4)
    )
    blk_cols = ", ".join(
        "("
        + " + ".join(
            f"CASE WHEN list_sum(list_transform(d{b}, v -> ((v >> {k}) & 1) * 2 - 1)) >= 0"
            f" THEN {1 << k}::BIGINT ELSE 0 END"
            for k in range(w)
        )
        + f") AS blk{b}"
        for b in range(4)
    )
    return f"""
    {prefix}t AS (SELECT doc_id, list_distinct({_SQL_TOKENS}) AS toks FROM {source}),
    {prefix}m AS (SELECT doc_id, {SQL_TOKEN_MD5S.format(toks="toks")} AS md5s
                  FROM {prefix}t WHERE len(toks) > 0),
    {prefix}g AS (SELECT doc_id, {dig_cols} FROM {prefix}m),
    {prefix}sigs AS (SELECT doc_id, {blk_cols} FROM {prefix}g)
    """


def _simhash_block_sigs(
    spark: SparkSession, sf_dir: str, w: int, docs: DataFrame | None = None
) -> DataFrame:
    """(doc_id, blk0..blk3): THE SimHash kernel, parameterized by block
    width ``w`` — signature width is 4*w bits (w=16 -> 64-bit, w=32 ->
    128-bit; the radius-3 pigeonhole join downstream is width-agnostic).

    Shape: explode distinct tokens -> ONE md5 + four w-bit digest ints
    per token -> groupBy(doc_id) with 4*w codegen'd conditional SUMs
    (bit k votes +1/-1) -> four block columns from the vote signs.

    Why explode+agg instead of array folds: Spark's higher-order
    functions are CodegenFallback (interpreted per element), measured
    ~4x slower here; plain SUM aggregates stay in whole-stage codegen
    AND partial-aggregate map-side, so the shuffle carries one 4*w-int
    partial per (doc, partition), not tokens.

    Width rule (measured, BASELINE.md §3): the block key space 2^w must
    dwarf the corpus or pigeonhole blocking saturates into random
    collisions — 4x16-bit blocks produced 195M collision rows at 80k
    docs (205s at 16x) vs 33s for 4x32.  Block width >= ~2*log2(corpus):
    w=32 carries ~1e6-1e8 docs; at 1e10 docs (100 TB) use a 256-bit
    signature as 4x64-bit blocks — same plan, wider slices.

    ``docs`` overrides the source relation (any (doc_id, text) frame);
    default is the full documents table.

    Implementation note: the 4*w vote sums are built as FOUR SQL
    expression strings (one per block, parsed JVM-side by F.expr), not
    4*w Python Column objects — the Column route costs ~1,500 py4j
    round-trips and measured ~2s of DRIVER time per call at w=32,
    dwarfing the 0.7s of actual executor work.  Wrapping each block's
    32 conditional SUMs in one string keeps plan construction ~10 py4j
    calls; Catalyst extracts the identical 4*w aggregate functions
    either way, so the executed plan (map-side partial SUMs -> one
    shuffle of 4*w-int partials keyed on doc_id) is unchanged."""
    hexw = w // 4
    d = docs if docs is not None else load_parallel(spark, sf_dir, "documents")
    # a frame already carrying `toks` (shared tokenized projection)
    # skips the re-tokenize; array_distinct is per-doc either way
    tok_col = (
        F.col("toks") if "toks" in d.columns else tokens("text")
    )
    ex = d.select(
        "doc_id", F.explode(F.array_distinct(tok_col)).alias("tok")
    ).selectExpr("doc_id", "md5(tok) AS m")
    g = ex.selectExpr(
        "doc_id",
        *[
            f"CAST(conv(substring(m, {hexw * b + 1}, {hexw}), 16, 10) AS BIGINT) AS d{b}"
            for b in range(4)
        ],
    )
    blk_exprs = [
        " + ".join(
            f"CASE WHEN sum(CAST(shiftright(d{b}, {k}) & 1 AS INT) * 2 - 1) >= 0"
            f" THEN CAST({1 << k} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
            for k in range(w)
        )
        for b in range(4)
    ]
    return g.groupBy("doc_id").agg(
        *[F.expr(e).alias(f"blk{b}") for b, e in enumerate(blk_exprs)]
    )


def _sql_radius3_pairs(sigs_cte: str) -> str:
    """DuckDB radius-3 pigeonhole pair join over any (doc_id, blk0..blk3)
    signature CTE — width-agnostic (blocks are BIGINT either way)."""
    ham = " + ".join(f"bit_count(xor(a.blk{i}, b.blk{i}))" for i in range(4))
    return f"""
    WITH {sigs_cte},
    probes AS (
      SELECT doc_id, 0 AS band, blk0 AS v, blk0, blk1, blk2, blk3 FROM sigs
      UNION ALL SELECT doc_id, 1, blk1, blk0, blk1, blk2, blk3 FROM sigs
      UNION ALL SELECT doc_id, 2, blk2, blk0, blk1, blk2, blk3 FROM sigs
      UNION ALL SELECT doc_id, 3, blk3, blk0, blk1, blk2, blk3 FROM sigs
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST({ham} AS BIGINT) AS hamming
    FROM probes a JOIN probes b
      ON a.band = b.band AND a.v = b.v AND a.doc_id < b.doc_id
    WHERE {ham} <= 3
    ORDER BY doc_a, doc_b
    """


def _radius3_pairs(sigs: DataFrame) -> DataFrame:
    """Pairs within Hamming radius 3 over 4-block signatures, via
    pigeonhole blocking: 3 flipped bits across 4 disjoint blocks leave
    >= 1 block untouched, so every radius-3 pair shares at least one
    exact (block_idx, block_value) key — candidate generation is a
    4-row-per-doc equi-join, EXACT for the stated radius, never
    |docs|^2.  The full 4-block signature rides along on both probe
    sides (4 ints — cheaper than re-joining the signature table onto
    millions of candidate rows), so xor+popcount verification happens
    IN the join projection and the dedup `distinct` runs on the small
    post-filter pair set, not the raw candidates."""
    # lazy barrier (r14): both probe sides of the self-join read the
    # checkpointed signature blocks computed once inside the pair job —
    # the eager variant spent a whole extra job materializing them first
    sigs = sigs.localCheckpoint(eager=False)
    probes = sigs.select(
        "doc_id",
        *[F.col(f"blk{b}") for b in range(4)],
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band"), F.col(f"blk{b}").alias("v"))
                    for b in range(4)
                ]
            )
        ).alias("p"),
    ).select(
        "doc_id",
        *[F.col(f"blk{b}") for b in range(4)],
        F.col("p.band").alias("band"),
        F.col("p.v").alias("v"),
    )
    a = probes.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"blk{b}").alias(f"a_blk{b}") for b in range(4)],
        "band",
        "v",
    )
    b = probes.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"blk{b}").alias(f"b_blk{b}") for b in range(4)],
        F.col("band").alias("bband"),
        F.col("v").alias("bv"),
    )
    ham = sum(
        F.bit_count(F.col(f"a_blk{i}").bitwiseXOR(F.col(f"b_blk{i}")))
        for i in range(4)
    )
    return (
        a.join(
            b,
            (F.col("band") == F.col("bband"))
            & (F.col("v") == F.col("bv"))
            & (F.col("doc_a") < F.col("doc_b")),
        )
        .select("doc_a", "doc_b", ham.cast("long").alias("hamming"))
        .filter(F.col("hamming") <= 3)
        .distinct()
        .orderBy("doc_a", "doc_b")
    )


@register(
    "pipeline_corpus_curation",
    oracle=f"""
    WITH {_sql_minhash_sigs()},
    {_sql_bands()},
    near_dupes AS (
      SELECT DISTINCT b.doc_id
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
    ),
    quality AS (
      SELECT doc_id, text, toks,
             len(toks) AS n_tokens,
             len(list_filter(toks, t -> t IN ('the','and','of'))) AS v_en,
             len(list_filter(toks, t -> t IN ('el','la','de')))   AS v_es,
             len(list_filter(toks, t -> t IN ('le','la','et')))   AS v_fr,
             len(list_filter(toks, t -> t IN ('der','die','und'))) AS v_de
      FROM t JOIN documents USING (doc_id)
      WHERE len(toks) BETWEEN 5 AND 1000
        AND CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) > 0.1
    ),
    english AS (
      SELECT doc_id, text, n_tokens FROM quality
      WHERE v_en >= v_es AND v_en >= v_fr AND v_en >= v_de
    ),
    exact_keepers AS (
      SELECT MIN(doc_id) AS doc_id FROM english GROUP BY md5(text)
    ),
    {_sql_simhash_block_sigs(32, prefix="sh_")},
    sh_probes AS (
      SELECT doc_id, 0 AS band, blk0 AS v, blk0, blk1, blk2, blk3 FROM sh_sigs
      UNION ALL SELECT doc_id, 1, blk1, blk0, blk1, blk2, blk3 FROM sh_sigs
      UNION ALL SELECT doc_id, 2, blk2, blk0, blk1, blk2, blk3 FROM sh_sigs
      UNION ALL SELECT doc_id, 3, blk3, blk0, blk1, blk2, blk3 FROM sh_sigs
    ),
    sh_dupes AS (
      SELECT DISTINCT b.doc_id
      FROM sh_probes a JOIN sh_probes b
        ON a.band = b.band AND a.v = b.v AND a.doc_id < b.doc_id
      WHERE bit_count(xor(a.blk0, b.blk0)) + bit_count(xor(a.blk1, b.blk1))
          + bit_count(xor(a.blk2, b.blk2)) + bit_count(xor(a.blk3, b.blk3)) <= 3
    )
    SELECT e.doc_id, CAST(e.n_tokens AS BIGINT) AS n_tokens
    FROM english e
    JOIN exact_keepers k ON k.doc_id = e.doc_id
    WHERE e.doc_id NOT IN (SELECT doc_id FROM near_dupes)
      AND e.doc_id NOT IN (SELECT doc_id FROM sh_dupes)
    ORDER BY e.doc_id
    """,
)
def pipeline_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end training-corpus curation pipeline as ONE dataflow:
    quality gate (length + lexical diversity) -> language filter (en)
    -> exact dedup (md5 keeper) -> near-dup removal (MinHash-LSH +
    128-bit radius-3 SimHash, both greedy keep-lowest-id) -> kept
    corpus.

    Composition of the engine's curation operators, value-checked as a
    whole, and every leg is the SCALE-SAFE variant: 16-component
    MinHash over df-capped shingles, and the width-adequate SimHash
    (4x32-bit pigeonhole blocks — the 64-bit variant saturates past
    ~50k docs).  Scale shape: four groupBys (two signature builders,
    exact hash, band buckets) + two broadcast-able anti-joins of
    doc_ids — everything shuffles hashes/ids/blocks, never document
    text; the quality+language pass is one codegen'd scan."""
    d = load_parallel(spark, sf_dir, "documents")
    # ONE scan+tokenize pass feeds all four legs (r13 opt — quality
    # gate, exact hash, LSH and SimHash legs each re-read the parquet
    # text and the fuzzy legs re-split it).  The checkpoint carries
    # md5(text) instead of text: every downstream decision needs only
    # (hash, toks), so document bytes never leave the scan task.
    tk = d.select(
        "doc_id", F.md5("text").alias("h"), tokens("text").alias("toks")
    ).localCheckpoint(eager=False)
    english = tk.filter(
        quality_gate(F.col("toks")) & (lang_guess(F.col("toks")) == "en")
    ).select("doc_id", "h", F.size("toks").alias("n_tokens"))
    exact_keepers = english.groupBy("h").agg(
        F.min("doc_id").alias("doc_id")
    ).select("doc_id")
    # checkpoint barrier: the self-join below would otherwise re-derive
    # the shingle+minhash pipeline once per side
    lsh_bands = lsh_band_keys(tk).localCheckpoint(eager=False)
    near_dupes = (
        lsh_bands.alias("a")
        .join(
            lsh_bands.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("b.doc_id").alias("doc_id"))
        .distinct()
    )
    # Both near-dup legs run at the ingest level (full table), like the
    # exact-hash leg: measured at 16x, restricting the SimHash leg to
    # quality/language survivors was SLOWER (the gate recomputes on the
    # signature branch while ~all replicated docs pass it) — 16.3s vs
    # 11.3s — so the simpler full-table shape wins at every tested SF.
    simhash_dupes = (
        _radius3_pairs(_simhash_block_sigs(spark, sf_dir, 32, docs=tk))
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    return (
        english.join(exact_keepers, "doc_id", "left_semi")
        .join(near_dupes, "doc_id", "left_anti")
        .join(simhash_dupes, "doc_id", "left_anti")
        .select("doc_id", F.col("n_tokens").cast("long"))
        .orderBy("doc_id")
    )


@register(
    "dedup_simhash_hamming_pairs",
    oracle=f"""
    WITH t AS (SELECT doc_id, list_distinct({_SQL_TOKENS}) AS toks FROM documents),
    g AS (SELECT doc_id, {SQL_TOKEN_DIGEST16.format(toks="toks")} AS digs FROM t),
    sigs AS (SELECT doc_id, {sql_simhash16_digests("digs")} AS sig FROM g),
    probes AS (
      SELECT doc_id, sig, sig AS probe FROM sigs
      UNION ALL
      SELECT doc_id, sig, xor(sig, (1 << b.b)) AS probe
      FROM sigs, (SELECT unnest(range(0, 16)) AS b) b
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM probes a JOIN sigs b ON a.probe = b.sig AND a.doc_id < b.doc_id
    ORDER BY doc_a, doc_b
    """,
)
def dedup_simhash_hamming_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup PAIRS within Hamming distance <= 1, without any
    pairwise comparison: each signature emits itself plus its 16
    one-bit-flip probes (17 rows), and near-dup pairs fall out of an
    equi-join probe==signature.

    This is the classic Hamming-LSH trick: candidate generation cost is
    |docs| x (d+1) tiny rows and one hash join — never |docs|^2 — and
    generalizes to radius r via multi-bit flips.  The same shape at 64
    bits with 4 16-bit blocks covers radius 3 exactly."""
    d = load_parallel(spark, sf_dir, "documents")
    t = d.select(
        "doc_id", token_digest16(F.array_distinct(tokens("text"))).alias("digs")
    )
    # localCheckpoint (not persist): both join sides reuse the
    # materialized signatures without registering a CacheManager entry
    # that would substitute into other queries' plans in this session
    sigs = t.select(
        "doc_id", simhash16_from_digests(F.col("digs")).alias("sig")
    ).localCheckpoint(eager=True)
    flips = F.array(*[F.lit(1 << b) for b in range(16)])
    probes = sigs.select(
        "doc_id",
        F.explode(
            F.concat(F.array(F.col("sig")), F.transform(flips, lambda m: F.col("sig").bitwiseXOR(m)))
        ).alias("probe"),
    )
    b = sigs.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("bsig"))
    out = (
        probes.join(b, (F.col("probe") == F.col("bsig")) & (F.col("doc_id") < F.col("doc_b")))
        .select(F.col("doc_id").alias("doc_a"), "doc_b")
        .distinct()
        .orderBy("doc_a", "doc_b")
    )
    return out



@register(
    "dedup_simhash64_blocks",
    oracle=f"""
    WITH {_sql_simhash_block_sigs(16)}
    SELECT doc_id, blk0, blk1, blk2, blk3 FROM sigs ORDER BY doc_id
    """,
)
def dedup_simhash64_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash signatures, stored AS their four 16-bit blocks —
    the layout the radius-3 pair join needs, and sign-safe in both
    engines (no 1<<63 overflow games).  Small-corpus instantiation of
    the width-parameterized kernel (w=16)."""
    return _simhash_block_sigs(spark, sf_dir, 16).orderBy("doc_id")


@register(
    "dedup_simhash64_radius3_pairs",
    oracle=_sql_radius3_pairs(_sql_simhash_block_sigs(16)),
)
def dedup_simhash64_radius3_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SMALL-CORPUS radius-3 SimHash pairs: 64-bit signatures as 4x16-bit
    pigeonhole blocks.  Correct at any size, but 2^16 block keys saturate
    near ~50k docs (measured: 195M random block collisions / 205s at 80k
    docs) — beyond that use `dedup_simhash_radius3_pairs` (the 128-bit
    production default; same kernel, w=32)."""
    return _radius3_pairs(_simhash_block_sigs(spark, sf_dir, 16))


@register(
    "dedup_simhash_radius3_pairs",
    oracle=_sql_radius3_pairs(_sql_simhash_block_sigs(32)),
)
def dedup_simhash_radius3_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRODUCTION SimHash near-dup: 128-bit signatures, radius-3 pairs
    via 4x32-bit pigeonhole blocks (the width-parameterized kernel at
    w=32; renamed from dedup_simhash128_radius3_pairs in round 3).

    Why 128-bit is the default: a Hamming block join saturates when
    corpus size approaches the block key space.  Measured in the 16x
    scaling study: 4x16-bit blocks at 80k docs produce 195M random
    block collisions (Spark 204s) — 2^16 keys cannot block 8e4 docs.
    4x32-bit blocks give 2^32 keys: expected random collisions at 80k
    docs ~ 3k pairs, and the join cost is driven by TRUE near-dups
    again.  Rule: block width >= ~2*log2(corpus); at 100 TB (1e10 docs)
    that argues 256-bit signatures with 4x64 blocks for radius 3 — same
    plan, wider conv().  Signature cost is one md5 per token regardless
    (blocks are slices of the same digest)."""
    return _radius3_pairs(_simhash_block_sigs(spark, sf_dir, 32))


def _sql_simhash256_sigs() -> str:
    """DuckDB CTEs for 256-bit SimHash signatures as 4 blocks × 2
    unsigned 32-bit limbs (blk{b}h/blk{b}l).  Digest source is sha256
    (md5's 128 bits cannot fill 256 signature bits); limbs stay in
    [0, 2^32) so every value is representable and identical in BIGINT
    on both engines — no 1<<63 sign games, no unsigned-cast dialect."""
    dig_cols = ", ".join(
        f"list_transform(shs, s -> ('0x' || substring(s, {16 * b + 1 + 8 * half}, 8))::BIGINT)"
        f" AS d{b}{'h' if half == 0 else 'l'}"
        for b in range(4)
        for half in range(2)
    )
    limb_cols = ", ".join(
        "("
        + " + ".join(
            f"CASE WHEN list_sum(list_transform(d{b}{hl}, v -> ((v >> {k}) & 1) * 2 - 1)) >= 0"
            f" THEN {1 << k}::BIGINT ELSE 0 END"
            for k in range(32)
        )
        + f") AS blk{b}{hl}"
        for b in range(4)
        for hl in ("h", "l")
    )
    return f"""
    t AS (SELECT doc_id, list_distinct({_SQL_TOKENS}) AS toks FROM documents),
    m AS (SELECT doc_id, list_transform(toks, t -> sha256(t)) AS shs FROM t
          WHERE len(toks) > 0),
    g AS (SELECT doc_id, {dig_cols} FROM m),
    sigs AS (SELECT doc_id, {limb_cols} FROM g)
    """


def _simhash256_block_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, blk0h, blk0l, …, blk3h, blk3l): the width-rule scale
    instantiation — 256-bit signatures as 4×64-bit pigeonhole blocks,
    each block carried as TWO unsigned 32-bit limbs.

    Why limbs instead of w=64 in `_simhash_block_sigs`: a 64-bit block
    value occupies the full BIGINT range — Spark's
    CAST(conv(hex,16,10) AS BIGINT) nulls above 2^63-1 and DuckDB's
    ('0x'…)::BIGINT overflows — so the one-column-per-block layout is
    not representable cross-engine at w=64.  Two 32-bit limbs keep
    every value in [0, 2^32), cost one extra join-key column, and the
    pigeonhole/verify logic is unchanged (equal block ⇔ both limbs
    equal; popcount distributes over limbs).

    This is the 100 TB configuration by the kernel's own measured width
    rule (block ≥ ~2·log2 corpus ⇒ 4×64 at 1e10 docs).  Same plan as
    w=16/32: explode distinct tokens → one sha256 per token (256 digest
    bits; md5 only has 128) → 256 codegen'd conditional SUM votes built
    as 8 SQL expression strings (the py4j-cost lesson from r3) → limb
    values from vote signs."""
    d = load_parallel(spark, sf_dir, "documents")
    ex = d.select(
        "doc_id", F.explode(F.array_distinct(tokens("text"))).alias("tok")
    ).selectExpr("doc_id", "sha2(tok, 256) AS m")
    g = ex.selectExpr(
        "doc_id",
        *[
            f"CAST(conv(substring(m, {16 * b + 1 + 8 * half}, 8), 16, 10) AS BIGINT)"
            f" AS d{b}{'h' if half == 0 else 'l'}"
            for b in range(4)
            for half in range(2)
        ],
    )
    limb_exprs = {
        f"blk{b}{hl}": " + ".join(
            f"CASE WHEN sum(CAST(shiftright(d{b}{hl}, {k}) & 1 AS INT) * 2 - 1) >= 0"
            f" THEN CAST({1 << k} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
            for k in range(32)
        )
        for b in range(4)
        for hl in ("h", "l")
    }
    return g.groupBy("doc_id").agg(
        *[F.expr(e).alias(name) for name, e in limb_exprs.items()]
    )


@register(
    "dedup_simhash256_radius3_pairs",
    oracle=f"""
    WITH {_sql_simhash256_sigs()},
    probes AS (
      {" UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, blk{b}h AS vh, blk{b}l AS vl,"
        " blk0h, blk0l, blk1h, blk1l, blk2h, blk2l, blk3h, blk3l FROM sigs"
        for b in range(4)
      )}
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST({" + ".join(
             f"bit_count(xor(a.blk{i}{hl}, b.blk{i}{hl}))"
             for i in range(4) for hl in ("h", "l")
           )} AS BIGINT) AS hamming
    FROM probes a JOIN probes b
      ON a.band = b.band AND a.vh = b.vh AND a.vl = b.vl AND a.doc_id < b.doc_id
    WHERE {" + ".join(
      f"bit_count(xor(a.blk{i}{hl}, b.blk{i}{hl}))"
      for i in range(4) for hl in ("h", "l")
    )} <= 3
    ORDER BY doc_a, doc_b
    """,
)
def dedup_simhash256_radius3_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """100 TB-CONFIGURATION SimHash near-dup: 256-bit signatures,
    radius-3 pairs via 4×64-bit pigeonhole blocks (two 32-bit limbs per
    block — see `_simhash256_block_sigs` for why).  2^64 block keys
    dwarf any feasible corpus (the width rule's 1e10-doc prescription),
    so block collisions are true near-dups essentially always; the
    runnable proof that the documented scale path actually executes."""
    sigs = _simhash256_block_sigs(spark, sf_dir).localCheckpoint(eager=True)
    limb_names = [f"blk{b}{hl}" for b in range(4) for hl in ("h", "l")]
    probes = sigs.select(
        "doc_id",
        *limb_names,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.col(f"blk{b}h").alias("vh"),
                        F.col(f"blk{b}l").alias("vl"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("p"),
    ).select("doc_id", *limb_names, "p.band", "p.vh", "p.vl")
    a = probes.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(c).alias(f"a_{c}") for c in limb_names],
        "band",
        "vh",
        "vl",
    )
    b = probes.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(c).alias(f"b_{c}") for c in limb_names],
        F.col("band").alias("bband"),
        F.col("vh").alias("bvh"),
        F.col("vl").alias("bvl"),
    )
    ham = sum(
        F.bit_count(F.col(f"a_{c}").bitwiseXOR(F.col(f"b_{c}"))) for c in limb_names
    )
    return (
        a.join(
            b,
            (F.col("band") == F.col("bband"))
            & (F.col("vh") == F.col("bvh"))
            & (F.col("vl") == F.col("bvl"))
            & (F.col("doc_a") < F.col("doc_b")),
        )
        .select("doc_a", "doc_b", ham.cast("long").alias("hamming"))
        .filter(F.col("hamming") <= 3)
        .distinct()
        .orderBy("doc_a", "doc_b")
    )


_SPAN_K = 8  # exact-substring span length, in tokens


@register(
    "dedup_repeated_spans",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_SQL_TOKENS} AS toks FROM documents),
    g AS (
      SELECT doc_id,
             unnest(list_transform(range(1, greatest(len(toks) - {_SPAN_K - 1}, 0) + 1),
                    i -> md5(array_to_string(toks[i:i+{_SPAN_K - 1}], ' ')))) AS span
      FROM t
    ),
    gd AS (SELECT span, COUNT(DISTINCT doc_id) AS nd FROM g GROUP BY span)
    SELECT g.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_spans,
           CAST(SUM(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans,
           CAST(SUM(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS dup_ratio
    FROM g JOIN gd USING (span)
    GROUP BY g.doc_id
    ORDER BY g.doc_id
    """,
)
def dedup_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact repeated-span statistics (the Lee et al. "Deduplicating
    Training Data" ExactSubstr shape, at span granularity): every
    ordered 8-token span is hashed, spans occurring in >= 2 distinct
    documents are "duplicated", and each document reports how much of
    it is corpus-duplicated text.

    Scale shape: the shuffle key is the 32-hex md5 of the span — never
    the span text itself — so shuffle width is constant per span no
    matter how long the tokens are; the positions⋈span-counts join is
    co-partitioned on that same key (one shuffle, reused), and the
    per-doc rollup shuffles doc_id only.  No UDF anywhere."""
    from specialsid_spark.operators.textops import word_kgrams

    d = load_parallel(spark, sf_dir, "documents")
    tk = d.select("doc_id", tokens("text").alias("toks"))
    g = tk.select("doc_id", word_kgrams(F.col("toks"), k=_SPAN_K).alias("grams"))
    pos = g.select(
        "doc_id", F.explode(F.transform(F.col("grams"), F.md5)).alias("span")
    )
    gd = pos.groupBy("span").agg(F.countDistinct("doc_id").alias("nd"))
    dup = F.when(F.col("nd") >= 2, 1).otherwise(0)
    return (
        pos.join(gd, "span")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(dup).alias("n_dup_spans"),
            (F.sum(dup).cast("double") / F.count(F.lit(1)).cast("double")).alias(
                "dup_ratio"
            ),
        )
        .orderBy("doc_id")
    )


@register(
    "dedup_exactsubstr_corpus",
    # r8 (VERDICT #4): the DEDUPLICATED CORPUS itself, not just stats —
    # ExactSubstr's output (Lee et al. 2022) at span granularity.  The
    # oracle recomputes owner selection, interval coverage, and the
    # survivor text md5 end-to-end; a single kept/removed token
    # anywhere flips a hash.
    oracle=f"""
    WITH t AS (SELECT doc_id, {_SQL_TOKENS} AS toks FROM documents),
    g AS (
      SELECT doc_id, u.i AS s,
             md5(array_to_string(toks[u.i:u.i+{_SPAN_K - 1}], ' ')) AS span
      FROM t CROSS JOIN LATERAL (
        SELECT unnest(range(1, greatest(len(toks) - {_SPAN_K - 1}, 0) + 1)) AS i) u
    ),
    gd AS (SELECT span, COUNT(DISTINCT doc_id) AS nd,
                  min({{'d': doc_id, 's': s}}) AS own
           FROM g GROUP BY span),
    rem AS (
      SELECT g.doc_id, g.s
      FROM g JOIN gd USING (span)
      WHERE gd.nd >= 2 AND NOT (g.doc_id = gd.own.d AND g.s = gd.own.s)
    ),
    cov AS (SELECT DISTINCT doc_id, s + o.o AS pos
            FROM rem CROSS JOIN (SELECT unnest(range(0, {_SPAN_K})) AS o) o),
    tok AS (SELECT doc_id, unnest(toks) AS tok,
                   generate_subscripts(toks, 1) AS pos FROM t),
    kept AS (SELECT tok.* FROM tok ANTI JOIN cov USING (doc_id, pos)),
    agg AS (
      SELECT doc_id, COUNT(*) AS n_kept,
             md5(string_agg(tok, ' ' ORDER BY pos)) AS kept_md5
      FROM kept GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(len(t.toks) AS BIGINT) AS n_tokens,
           CAST(coalesce(agg.n_kept, 0) AS BIGINT) AS n_kept,
           coalesce(agg.kept_md5, md5('')) AS kept_md5
    FROM t LEFT JOIN agg USING (doc_id)
    ORDER BY doc_id
    """,
)
def dedup_exactsubstr_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr dedup OUTPUT (r8): remove all but one occurrence of
    every cross-document duplicated {_SPAN_K}-token span and emit the
    surviving corpus (per doc: kept-token count + survivor-text md5).
    Rules, restated verbatim by the oracle: a span is duplicated when
    it occurs in >= 2 distinct docs; its OWNER occurrence is the
    lexicographic min (doc_id, start); every non-owner occurrence's
    token interval [start, start+k) is removed, overlaps unioned by
    position-distinct.

    This is the sorted-shingle-runs formulation of Lee et al.'s
    suffix-array pass: span identity travels as a 32-hex md5, so the
    duplicate GROUPing shuffles constant-width hashes; coverage
    explodes each removed span into k (doc_id, pos) int pairs — k-fold
    on REMOVED spans only, never the corpus — and the final anti-join
    + per-doc rollup shuffle (doc_id, pos) ints.  No UDF anywhere; at
    100 TB nothing in the plan carries span TEXT past the map side."""
    from specialsid_spark.operators.textops import word_kgrams

    d = load_parallel(spark, sf_dir, "documents")
    tk = d.select("doc_id", tokens("text").alias("toks")).localCheckpoint()
    grams = tk.select(
        "doc_id", F.posexplode(word_kgrams(F.col("toks"), k=_SPAN_K))
    ).select("doc_id", F.col("pos").alias("s"), F.md5("col").alias("span"))
    gd = grams.groupBy("span").agg(
        F.countDistinct("doc_id").alias("nd"),
        F.min(F.struct("doc_id", "s")).alias("own"),
    )
    rem = (
        grams.join(gd, "span")
        .filter(
            (F.col("nd") >= 2)
            & ~(
                (F.col("doc_id") == F.col("own.doc_id"))
                & (F.col("s") == F.col("own.s"))
            )
        )
        .select("doc_id", "s")
    )
    cov = rem.select(
        "doc_id", F.explode(F.sequence(F.col("s"), F.col("s") + _SPAN_K - 1)).alias("pos")
    ).distinct()
    tok = tk.select("doc_id", F.posexplode("toks")).select(
        "doc_id", "pos", F.col("col").alias("tok")
    )
    kept = tok.join(cov, ["doc_id", "pos"], "left_anti")
    agg = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.md5(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                    lambda x: x.tok,
                ),
            )
        ).alias("kept_md5"),
    )
    return (
        tk.select("doc_id", F.size("toks").cast("long").alias("n_tokens"))
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
            F.coalesce(F.col("kept_md5"), F.md5(F.lit(""))).alias("kept_md5"),
        )
        .orderBy("doc_id")
    )


_PF_TAU_NUM, _PF_TAU_DEN = 3, 5  # Jaccard threshold 0.6 as an exact rational
_PF_DOCS = 400                   # fixed doc subset (exists at every SF)


@register(
    "dedup_prefix_filter_pairs",
    # The oracle is DELIBERATELY brute force — all pairs over the
    # 400-doc subset with exact set arithmetic — so it independently
    # verifies the prefix filter's COMPLETENESS (a pruned true pair
    # would be a missing row), not just the verified candidates.
    # Threshold compares as integers: J >= 3/5 <=> 5*inter >= 3*union.
    oracle=f"""
    WITH t AS (
      SELECT doc_id, list_distinct({_SQL_TOKENS}) AS toks
      FROM documents WHERE doc_id < {_PF_DOCS}
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(len(list_intersect(a.toks, b.toks)) AS BIGINT) AS n_inter,
           CAST(len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))
                AS BIGINT) AS n_union
    FROM t a JOIN t b ON a.doc_id < b.doc_id
    WHERE {_PF_TAU_DEN} * len(list_intersect(a.toks, b.toks))
          >= {_PF_TAU_NUM} * (len(a.toks) + len(b.toks)
                              - len(list_intersect(a.toks, b.toks)))
    ORDER BY doc_a, doc_b
    """,
)
def dedup_prefix_filter_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-threshold Jaccard similarity join via prefix filtering —
    the AllPairs/PPJoin family (X1's deterministic counterpart to
    MinHash-LSH: no false negatives by construction, no probability).
    Tokens get a GLOBAL rarity order (frequency asc, token asc); each
    doc indexes only its p = n - ceil(tau*n) + 1 rarest tokens, and the
    completeness lemma guarantees every pair with J >= tau shares an
    indexed token.  Candidates then verify with exact integer set
    arithmetic (5*inter >= 3*union — no float threshold).

    Scale shape: the candidate join is keyed on PREFIX tokens only —
    rare by construction, so buckets stay small where a plain
    token-join would explode on stopwords; the verify join carries
    (pair, token) rows for candidate pairs only.  This is the standard
    exact sim-join plan at corpus scale; MinHash-LSH remains the
    approximate fallback when tau must be low.

    The prefix-selection lemma needs only a TOTAL order on tokens, not
    a materialized dense rank — ``(df, tok)`` already is one, so the
    per-doc window orders by it directly.  (r5 shipped a
    ``row_number().over(Window.orderBy(df, tok))`` global rank — a
    no-partitionBy window that funnels the entire vocabulary through
    ONE task; deleted.)  The document token-count rides the same
    per-doc window partition as a COUNT(*) frame — no extra join — and
    the per-doc length lookups in the verify step are shuffle joins
    keyed on the candidate pair's own doc keys: broadcasting a
    one-row-per-document table would be O(corpus) executor memory at
    1e9+ docs.  Only the tok→df join may broadcast (vocabulary is
    Heaps-bounded, << corpus); it is left unhinted for AQE to decide."""
    from pyspark.sql.window import Window

    d = load_parallel(spark, sf_dir, "documents").filter(
        F.col("doc_id") < _PF_DOCS
    )
    dtok = (
        d.select("doc_id", F.explode(tokens("text")).alias("tok"))
        .distinct()
    )
    n_by_doc = dtok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    df_by_tok = dtok.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    wdoc = Window.partitionBy("doc_id")
    ranked = (
        dtok.join(df_by_tok, "tok")
        .withColumn("rn", F.row_number().over(wdoc.orderBy("df", "tok")))
        .withColumn("n", F.count(F.lit(1)).over(wdoc))
    )
    prefix = ranked.where(
        F.col("rn")
        <= F.col("n") - F.expr(f"({_PF_TAU_NUM} * n + {_PF_TAU_DEN - 1}) div {_PF_TAU_DEN}") + 1
    ).select("doc_id", "tok")
    cands = (
        prefix.alias("a")
        .join(prefix.alias("b"), "tok")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    inter = (
        cands.join(dtok.alias("ta"), F.col("doc_a") == F.col("ta.doc_id"))
        .join(
            dtok.alias("tb"),
            (F.col("doc_b") == F.col("tb.doc_id"))
            & (F.col("ta.tok") == F.col("tb.tok")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    na = n_by_doc.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    nb = n_by_doc.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    u = F.col("na") + F.col("nb") - F.col("n_inter")
    return (
        inter.join(na, "doc_a")
        .join(nb, "doc_b")
        .where(_PF_TAU_DEN * F.col("n_inter") >= _PF_TAU_NUM * u)
        .select(
            "doc_a",
            "doc_b",
            F.col("n_inter").cast("long").alias("n_inter"),
            u.cast("long").alias("n_union"),
        )
        .orderBy("doc_a", "doc_b")
    )


@register(
    "dedup_incremental_batch",
    oracle=f"""
    WITH {_sql_minhash_sigs()},
    {_sql_bands()},
    cb AS (SELECT band, bkey FROM bands WHERE doc_id % 5 <> 0),
    bb AS (SELECT doc_id, band, bkey FROM bands WHERE doc_id % 5 = 0),
    hitc AS (SELECT DISTINCT b.doc_id FROM bb b
             JOIN cb c ON c.band = b.band AND c.bkey = b.bkey),
    mins AS (SELECT band, bkey, MIN(doc_id) AS m FROM bb GROUP BY 1, 2),
    hiti AS (SELECT DISTINCT b.doc_id FROM bb b
             JOIN mins m ON m.band = b.band AND m.bkey = b.bkey
                        AND b.doc_id > m.m)
    SELECT d.doc_id,
           CAST(CASE WHEN hc.doc_id IS NOT NULL THEN 1 ELSE 0 END AS INT)
             AS hit_corpus,
           CAST(CASE WHEN hi.doc_id IS NOT NULL THEN 1 ELSE 0 END AS INT)
             AS hit_intra,
           CAST(CASE WHEN hc.doc_id IS NULL AND hi.doc_id IS NULL
                THEN 1 ELSE 0 END AS INT) AS admitted
    FROM (SELECT DISTINCT doc_id FROM bb) d
    LEFT JOIN hitc hc ON hc.doc_id = d.doc_id
    LEFT JOIN hiti hi ON hi.doc_id = d.doc_id
    ORDER BY d.doc_id
    """,
)
def dedup_incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1, r7 — INCREMENTAL near-dup dedup: gate a NEW batch (every
    5th doc, the scale-invariant split) against an EXISTING deduped
    corpus (the rest) without ever pairing the corpus with itself —
    the daily-ingest shape whose cost is |batch| × bands, not
    |corpus|².  The corpus's (band, bkey) index is built in the same
    run, so this calls only the shared gate rule (lsh_verdict): a batch
    doc is dropped when any of its band buckets is already occupied by
    the corpus or by a lower-id doc of the same batch (greedy
    keep-lowest).  Both hit kinds are emitted per doc, so the oracle
    value-checks the DECISION decomposition, not just the survivor
    count.

    At 100 TB: the corpus index is (band, bkey) pairs — rebuildable
    from signatures, the same rows the persisted-index gates keep — and
    the gate shuffles only the batch's band keys."""
    d = load_parallel(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") % 5 != 0).select("doc_id", "text")
    batch = d.filter(F.col("doc_id") % 5 == 0).select("doc_id", "text")
    cb = lsh_band_keys(corpus).select("band", "bkey").distinct()
    bb = lsh_band_keys(batch).localCheckpoint(eager=True)
    return lsh_verdict(bb, cb).orderBy("doc_id")


_PARA_LEN = 12  # tokens per pseudo-paragraph (fixture text has no \n\n)


@register(
    "dedup_paragraph_exact",
    # Keep the globally-FIRST occurrence of every paragraph (min
    # (doc_id, pidx)), drop the rest — the RefinedWeb/Falcon-style
    # paragraph-granular exact dedup between document-level and
    # span-level.  kept_md5 reconstructs each pruned document exactly,
    # so a hash-green row proves which occurrences survived AND their
    # order, not just counts.
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ts
      FROM documents
    ),
    paras AS (
      SELECT doc_id, p.i AS pidx,
             array_to_string(ts[p.i*{_PARA_LEN}+1 : p.i*{_PARA_LEN}+{_PARA_LEN}], ' ') AS para
      FROM toks,
           (SELECT unnest(range(0, (
              SELECT CAST(CEIL(MAX(len(ts)) / {_PARA_LEN}.0) AS BIGINT)
              FROM toks))) AS i) p
      WHERE p.i*{_PARA_LEN} < len(ts)
    ),
    ranked AS (
      SELECT doc_id, pidx, para,
             row_number() OVER (PARTITION BY para ORDER BY doc_id, pidx) AS rk
      FROM paras
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_paras,
           CAST(SUM(CASE WHEN rk = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           md5(COALESCE(string_agg(CASE WHEN rk = 1 THEN para END, ' '
                                   ORDER BY pidx), '')) AS kept_md5
    FROM ranked
    GROUP BY doc_id
    ORDER BY doc_id
    """,
)
def dedup_paragraph_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1 (r8) — paragraph-granular exact dedup, the middle rung of
    the dedup ladder (document-level dedup_exact_hash above,
    ExactSubstr spans below): boilerplate paragraphs repeated across
    crawled pages are the classic contamination Falcon/RefinedWeb
    prune at this granularity.  Fixture texts carry no newlines, so
    paragraphs are non-overlapping 12-token chunks (_PARA_LEN).

    Scale shape: paragraph construction is a shuffle-free projection
    (transform over the token array); the dedup shuffle is keyed on
    the paragraph CONTENT hash carrying only (hash, doc_id, pidx) —
    ~40 bytes per paragraph, never the corpus; the winner-per-group
    min is a partial-aggregating window.  Reconstruction is one
    per-doc groupBy.  At 100 TB this is exactly two shuffles of
    hash-sized rows."""
    from pyspark.sql.window import Window

    d = load_parallel(spark, sf_dir, "documents")
    paras = (
        d.select("doc_id", tokens("text").alias("ts"))
        .select(
            "doc_id",
            F.posexplode(
                F.transform(
                    F.sequence(
                        F.lit(0),
                        ((F.size("ts") - 1) / _PARA_LEN).cast("int"),
                    ),
                    lambda i: F.array_join(
                        F.slice("ts", i * _PARA_LEN + 1, _PARA_LEN), " "
                    ),
                )
            ).alias("pidx", "para"),
        )
    )
    w = Window.partitionBy(F.md5("para"), "para")
    kept = paras.select(
        "doc_id",
        "pidx",
        "para",
        (
            F.min(F.struct("doc_id", "pidx")).over(w)
            == F.struct("doc_id", "pidx")
        ).alias("is_first"),
    )
    return (
        kept.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_paras"),
            F.sum(F.col("is_first").cast("long")).alias("n_kept"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.when(
                                    F.col("is_first"),
                                    F.struct("pidx", "para"),
                                )
                            )
                        ),
                        lambda s: s["para"],
                    ),
                    " ",
                )
            ).alias("kept_md5"),
        )
        .orderBy("doc_id")
    )


@register(
    "pipeline_retrieval_corpus",
    # Composition flagship (r9): paragraph-exact dedup -> rebuild the
    # surviving corpus -> BM25 rank it.  Every stage's oracle fragment
    # is already individually verified (dedup_paragraph_exact,
    # text_bm25_topk); the composition re-derives document lengths,
    # dfs and the corpus size FROM THE DEDUPED corpus, so a defect in
    # either stage (or in how they hand off) shifts every score.  The
    # BM25 float contract is unchanged: exact-rational idf, one
    # pinned formula, fixed-order per-term addition, round(,4).
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ts
      FROM documents
    ),
    paras AS (
      SELECT doc_id, p.i AS pidx,
             array_to_string(ts[p.i*{_PARA_LEN}+1 : p.i*{_PARA_LEN}+{_PARA_LEN}], ' ') AS para
      FROM toks,
           (SELECT unnest(range(0, (
              SELECT CAST(CEIL(MAX(len(ts)) / {_PARA_LEN}.0) AS BIGINT)
              FROM toks))) AS i) p
      WHERE p.i*{_PARA_LEN} < len(ts)
    ),
    ranked AS (
      SELECT doc_id, pidx, para,
             row_number() OVER (PARTITION BY para ORDER BY doc_id, pidx) AS rk
      FROM paras
    ),
    kt AS (
      SELECT doc_id, pidx, string_split(para, ' ') AS pts
      FROM ranked WHERE rk = 1
    ),
    dl AS (
      SELECT doc_id, CAST(SUM(len(pts)) AS BIGINT) AS dl,
             CAST(COUNT(*) AS BIGINT) AS n_kept
      FROM kt GROUP BY doc_id
    ),
    tot AS (SELECT CAST(SUM(dl) AS BIGINT) AS s, CAST(COUNT(*) AS BIGINT) AS n FROM dl),
    occ AS (
      SELECT doc_id, term FROM (SELECT doc_id, unnest(pts) AS term FROM kt)
      WHERE term IN ('table', 'hash', 'merge')
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
    SELECT s.doc_id, s.score, dl.n_kept, dl.dl
    FROM scores s JOIN dl USING (doc_id)
    ORDER BY s.score DESC, s.doc_id
    LIMIT 20
    """,
)
def pipeline_retrieval_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composition flagship (r9) — search over the DEDUPLICATED
    corpus: paragraph-exact dedup prunes cross-document boilerplate,
    the survivors are re-assembled, and BM25 ranks them for the query
    {table, hash, merge}.  Running retrieval after dedup is the
    production order (duplicated boilerplate otherwise dominates both
    dfs and the top-k) and the handoff is where real pipelines break —
    the oracle recomputes every statistic from the deduped corpus.

    Scale shape: the dedup stage is two hash-keyed shuffles of
    ~40-byte rows, the rebuilt corpus never materializes text beyond
    the kept paragraphs (localCheckpointed once, fanned into the
    length and posting legs), and the BM25 stage shuffles only
    query-term postings."""
    d = load_parallel(spark, sf_dir, "documents")
    paras = d.select("doc_id", tokens("text").alias("ts")).select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(
                    F.lit(0), ((F.size("ts") - 1) / _PARA_LEN).cast("int")
                ),
                lambda i: F.array_join(
                    F.slice("ts", i * _PARA_LEN + 1, _PARA_LEN), " "
                ),
            )
        ).alias("pidx", "para"),
    )
    # winner-per-paragraph via a map-side-combining MIN aggregate —
    # unlike dedup_paragraph_exact (which must LABEL every occurrence,
    # hence its window), this stage only needs the winners, so the
    # hash aggregate beats the sort window (measured 6.6x -> ~3x
    # growth on 10x replica-heavy data)
    kept = (
        paras.groupBy(F.md5("para").alias("h"), "para")
        .agg(F.min(F.struct("doc_id", "pidx")).alias("w"))
        .select(
            F.col("w.doc_id").alias("doc_id"),
            F.split("para", " ").alias("pts"),
        )
        .localCheckpoint(eager=True)
    )
    dl = kept.groupBy("doc_id").agg(
        F.sum(F.size("pts")).cast("long").alias("dl"),
        F.count(F.lit(1)).cast("long").alias("n_kept"),
    )
    tot = dl.agg(
        F.sum("dl").cast("long").alias("s"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    occ = kept.select("doc_id", F.explode("pts").alias("term")).filter(
        F.col("term").isin("table", "hash", "merge")
    )
    tf = occ.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    df = occ.groupBy("term").agg(
        F.countDistinct("doc_id").cast("long").alias("df")
    )
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
            + F.coalesce(
                F.max(F.when(F.col("term") == "merge", F.col("w"))), F.lit(0.0)
            ),
            4,
        ).alias("score")
    )
    return (
        scores.join(dl, "doc_id")
        .select("doc_id", "score", "n_kept", "dl")
        .orderBy(F.desc("score"), "doc_id")
        .limit(20)
    )


# --- Content-defined chunking (gear-window CDC) chunk-level dedup ---
#
# The rsync/FastCDC idea at character granularity: a chunk boundary
# falls after position i whenever a rolling hash of the last 8
# characters hits 0 mod 64 (expected chunk ~64 chars), so boundaries
# depend only on LOCAL content — an insertion early in a document
# shifts every byte offset but leaves all downstream chunk identities
# intact, which is exactly what offset-keyed chunking cannot do.  The
# window hash is sum_{j=0..7} gear(char_{i-j}) * 2^j with
# gear(c) = first 8 md5 hex digits of the single character c — integer
# arithmetic end to end, restated verbatim by the DuckDB oracle.

_CDC_WINDOW_SQL = " + ".join(
    f"element_at(g, CAST(i - {j} AS INT)) * {1 << j}" for j in range(8)
)
_CDC_WINDOW_DUCK = " + ".join(f"g[i - {j}] * {1 << j}" for j in range(8))


def cdc_chunks(d: DataFrame) -> DataFrame:
    """Split (doc_id, text) rows at gear-window CDC boundaries; returns
    (doc_id, chunk) with one row per chunk, in document order.  Pure
    per-row projection — no shuffle."""
    ga = d.selectExpr(
        "doc_id",
        "text",
        "length(text) AS n",
    ).selectExpr(
        "doc_id",
        "text",
        "n",
        "transform(sequence(1, n), i -> CAST(conv(substring(md5("
        "substring(text, i, 1)), 1, 8), 16, 10) AS BIGINT)) AS g",
    )
    cu = ga.selectExpr(
        "doc_id",
        "text",
        "concat(array(CAST(0 AS BIGINT)), "
        "transform(filter(sequence(8, greatest(n, 8)), "
        f"i -> i < n AND ({_CDC_WINDOW_SQL}) % 64 = 0), "
        "i -> CAST(i AS BIGINT)), "
        "array(CAST(n AS BIGINT))) AS cs",
    )
    return cu.selectExpr(
        "doc_id",
        "explode(transform(sequence(1, size(cs) - 1), "
        "k -> substring(text, CAST(element_at(cs, k) + 1 AS INT), "
        "CAST(element_at(cs, k + 1) - element_at(cs, k) AS INT)))) AS chunk",
    )


@register(
    "dedup_cdc_chunks",
    oracle=f"""
    WITH d AS MATERIALIZED (
      SELECT doc_id, text, length(text) AS n FROM documents
    ),
    ga AS MATERIALIZED (
      SELECT doc_id, text, n,
             list_transform(generate_series(1, n),
               i -> ('0x' || substring(md5(substr(text, i, 1)), 1, 8))::BIGINT
             ) AS g
      FROM d
    ),
    cu AS MATERIALIZED (
      SELECT doc_id, text,
             list_concat(list_concat(
               [CAST(0 AS BIGINT)],
               list_transform(list_filter(generate_series(8, greatest(n, 8)),
                 i -> i < n AND ({_CDC_WINDOW_DUCK}) % 64 = 0),
                 i -> CAST(i AS BIGINT))),
               [CAST(n AS BIGINT)]) AS cs
      FROM ga
    ),
    chunks AS MATERIALIZED (
      SELECT doc_id,
             substr(text, CAST(cs[p.k] + 1 AS INT),
                    CAST(cs[p.k + 1] - cs[p.k] AS INT)) AS chunk
      FROM cu, (SELECT unnest(range(1, (SELECT MAX(len(cs)) FROM cu))) AS k) p
      WHERE p.k + 1 <= len(cs)
    )
    SELECT md5(chunk) AS chunk_hash,
           CAST(MIN(length(chunk)) AS BIGINT) AS chunk_len,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_occ
    FROM chunks
    GROUP BY md5(chunk)
    ORDER BY n_occ DESC, chunk_hash
    LIMIT 100
    """,
)
def dedup_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1 — content-defined chunking dedup, the storage-level rung of
    the granularity ladder (document -> paragraph -> span -> CHUNK):
    split every document at gear-window rolling-hash boundaries
    (~64-char expected chunks, 8-char window) and aggregate chunk
    occurrences across the corpus; shared boilerplate shows up as
    high-n_occ chunks regardless of where it sits in each document.

    Scale shape: chunking is a pure per-row projection (one md5 per
    character, embarrassingly parallel, no shuffle); the only shuffle
    carries (chunk_hash, doc_id) pairs into a map-side-combining
    aggregate, and the top-100 cut is a TakeOrderedAndProject.  Chunk
    TEXT never leaves the map side — identity travels as md5."""
    d = load_parallel(spark, sf_dir, "documents").select("doc_id", "text")
    chunks = cdc_chunks(d)
    return (
        chunks.groupBy(F.md5("chunk").alias("chunk_hash"))
        .agg(
            F.min(F.length("chunk")).cast("long").alias("chunk_len"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).cast("long").alias("n_occ"),
        )
        .orderBy(F.desc("n_occ"), "chunk_hash")
        .limit(100)
    )


# --- LSH recall referee -----------------------------------------------------

_REF_DOCS = 2000       # deterministic subset: full corpus at sf<=0.01
_REF_TAU_NUM = 7       # exact threshold J >= 7/10 — just below the
_REF_TAU_DEN = 10      # 4x4 banding's s* ~ 0.71, where recall is hardest


def _sql_minhash_sigs_subset() -> str:
    from specialsid_spark.operators.textops import (  # noqa: PLC0415
        SQL_MINHASH_BASES,
        sql_minhash_component,
    )

    mins = ", ".join(
        f"min({sql_minhash_component(j)}) AS mh{j}" for j in range(_N_MINHASH)
    )
    return f"""
    t AS (SELECT doc_id, {_SQL_TOKENS} AS toks FROM documents
          WHERE doc_id < {_REF_DOCS}),
    sh AS (SELECT doc_id, {_SQL_SHINGLES} AS shingles FROM t),
    ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
    based AS (SELECT doc_id, {SQL_MINHASH_BASES} FROM ex),
    sigs AS (SELECT doc_id, {mins} FROM based GROUP BY doc_id)
    """


@register(
    "dedup_lsh_recall_referee",
    oracle=f"""
    WITH {_sql_minhash_sigs_subset()},
    {_sql_bands()},
    cands AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM ex GROUP BY doc_id),
    ep AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
      FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    exact AS (
      SELECT doc_a, doc_b FROM ep
      JOIN sizes sa ON sa.doc_id = ep.doc_a
      JOIN sizes sb ON sb.doc_id = ep.doc_b
      WHERE {_REF_TAU_DEN} * shared
            >= {_REF_TAU_NUM} * (sa.n_sh + sb.n_sh - shared)
    ),
    hit AS (SELECT * FROM exact JOIN cands USING (doc_a, doc_b))
    SELECT
      (SELECT CAST(COUNT(*) AS BIGINT) FROM exact) AS n_exact,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM cands) AS n_candidates,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM hit) AS n_hit,
      CASE WHEN (SELECT COUNT(*) FROM exact) = 0 THEN CAST(-1 AS BIGINT)
           ELSE CAST((1000 * (SELECT COUNT(*) FROM hit))
                     // (SELECT COUNT(*) FROM exact) AS BIGINT)
      END AS recall_permille,
      CASE WHEN (SELECT COUNT(*) FROM cands) = 0 THEN CAST(-1 AS BIGINT)
           ELSE CAST((1000 * (SELECT COUNT(*) FROM hit))
                     // (SELECT COUNT(*) FROM cands) AS BIGINT)
      END AS precision_permille
    """,
)
def dedup_lsh_recall_referee(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1 self-referee (r9 wave 2): measure the 4x4 MinHash-LSH
    banding's recall and precision against the EXACT shingle-Jaccard
    pairs at J >= 0.7 — just below the banding's s* ~ 0.71, the
    operating point where recall is genuinely at risk.  Both sides run
    over the SAME (uncapped) shingle universe the signatures hash, on
    the deterministic doc_id < 2000 subset, so the number is the
    banding's true performance, not an artifact of mismatched
    similarity spaces.  Integer thresholding (10*inter >= 7*union) and
    integer permille ratios — no float in the verdict.

    Scale shape: the exact side is a shingle-sharing blocked join —
    on the bounded referee subset, the honest way to audit a
    probabilistic index (the production dedup path remains the LSH
    pipeline; at 100 TB the referee runs on a deterministic sample
    exactly like this subset).  The LSH side is the production
    banding reused verbatim via lsh_band_keys."""
    d = load_parallel(spark, sf_dir, "documents").filter(
        F.col("doc_id") < _REF_DOCS
    )
    ex = _exploded_shingles_df(d).persist()
    sizes = ex.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    ep = (
        ex.alias("a")
        .join(
            ex.alias("b"),
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    exact = (
        ep.join(sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb")), "doc_b")
        .filter(
            _REF_TAU_DEN * F.col("shared")
            >= _REF_TAU_NUM * (F.col("na") + F.col("nb") - F.col("shared"))
        )
        .select("doc_a", "doc_b")
    )
    bk = lsh_band_keys(d)
    cands = (
        bk.alias("a")
        .join(
            bk.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    exact = exact.localCheckpoint(eager=True)
    cands = cands.localCheckpoint(eager=True)
    ne = exact.agg(F.count(F.lit(1)).cast("long").alias("n_exact"))
    nc = cands.agg(F.count(F.lit(1)).cast("long").alias("n_candidates"))
    nh = exact.join(cands, ["doc_a", "doc_b"]).agg(
        F.count(F.lit(1)).cast("long").alias("n_hit")
    )
    return ne.crossJoin(nc).crossJoin(nh).selectExpr(
        "n_exact",
        "n_candidates",
        "n_hit",
        "CASE WHEN n_exact = 0 THEN CAST(-1 AS BIGINT)"
        " ELSE CAST((1000 * n_hit) DIV n_exact AS BIGINT) END AS recall_permille",
        "CASE WHEN n_candidates = 0 THEN CAST(-1 AS BIGINT)"
        " ELSE CAST((1000 * n_hit) DIV n_candidates AS BIGINT)"
        " END AS precision_permille",
    )


@register(
    "dedup_incremental_lsh",
    # The oracle restates the full 3-day story: day-0 bootstraps the
    # index, day-1 probes it and appends its admitted docs' bands,
    # day-2 probes the ACCUMULATED index.  Decision rule per day is the
    # dedup_incremental_batch gate (corpus-hit = any band bucket already
    # in the index; intra-hit = a lower-id same-day bucket-mate).
    oracle=f"""
    WITH {{sigs}},
    {{bands}},
    b0 AS (SELECT DISTINCT band, bkey FROM bands WHERE doc_id % 3 = 0),
    d1 AS (SELECT doc_id, band, bkey FROM bands WHERE doc_id % 3 = 1),
    d2 AS (SELECT doc_id, band, bkey FROM bands WHERE doc_id % 3 = 2),
    h1c AS (SELECT DISTINCT d.doc_id FROM d1 d
            JOIN b0 c ON c.band = d.band AND c.bkey = d.bkey),
    m1 AS (SELECT band, bkey, MIN(doc_id) AS m FROM d1 GROUP BY 1, 2),
    h1i AS (SELECT DISTINCT d.doc_id FROM d1 d
            JOIN m1 m ON m.band = d.band AND m.bkey = d.bkey
                     AND d.doc_id > m.m),
    r1 AS (SELECT d.doc_id,
                  CASE WHEN hc.doc_id IS NOT NULL THEN 1 ELSE 0 END
                    AS hit_corpus,
                  CASE WHEN hi.doc_id IS NOT NULL THEN 1 ELSE 0 END
                    AS hit_intra
           FROM (SELECT DISTINCT doc_id FROM d1) d
           LEFT JOIN h1c hc ON hc.doc_id = d.doc_id
           LEFT JOIN h1i hi ON hi.doc_id = d.doc_id),
    b1 AS (SELECT band, bkey FROM b0
           UNION
           SELECT DISTINCT band, bkey FROM d1
           WHERE doc_id IN (SELECT doc_id FROM r1
                            WHERE hit_corpus = 0 AND hit_intra = 0)),
    h2c AS (SELECT DISTINCT d.doc_id FROM d2 d
            JOIN b1 c ON c.band = d.band AND c.bkey = d.bkey),
    m2 AS (SELECT band, bkey, MIN(doc_id) AS m FROM d2 GROUP BY 1, 2),
    h2i AS (SELECT DISTINCT d.doc_id FROM d2 d
            JOIN m2 m ON m.band = d.band AND m.bkey = d.bkey
                     AND d.doc_id > m.m),
    r2 AS (SELECT d.doc_id,
                  CASE WHEN hc.doc_id IS NOT NULL THEN 1 ELSE 0 END
                    AS hit_corpus,
                  CASE WHEN hi.doc_id IS NOT NULL THEN 1 ELSE 0 END
                    AS hit_intra
           FROM (SELECT DISTINCT doc_id FROM d2) d
           LEFT JOIN h2c hc ON hc.doc_id = d.doc_id
           LEFT JOIN h2i hi ON hi.doc_id = d.doc_id)
    SELECT doc_id, day,
           CAST(hit_corpus AS INT) AS hit_corpus,
           CAST(hit_intra AS INT) AS hit_intra,
           CAST(CASE WHEN hit_corpus = 0 AND hit_intra = 0
                THEN 1 ELSE 0 END AS INT) AS admitted
    FROM (SELECT doc_id, 1 AS day, hit_corpus, hit_intra FROM r1
          UNION ALL
          SELECT doc_id, 2 AS day, hit_corpus, hit_intra FROM r2)
    ORDER BY doc_id
    """.format(sigs=_sql_minhash_sigs(), bands=_sql_bands()),
)
def dedup_incremental_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1, r12 (VERDICT r11 #6) — incremental MinHash-LSH dedup against
    a PERSISTED, ACCUMULATING band index: the daily-crawl-drop shape.
    dedup_incremental_batch recomputes the corpus bands every run; here
    the corpus's (band, bkey) index lives in a snapshot table
    (operators/snapshot.py) and each day's drop goes through lsh_gate,
    which (1) probes the accumulated index WITHOUT touching corpus text,
    (2) intra-dedups the drop (greedy keep-lowest per bucket), and (3)
    appends only its admitted docs' bands and ids as a new snapshot
    version.  Three deterministic "days" (doc_id mod 3): day 0
    bootstraps version 1, day 1 probes it and appends version 2, day 2
    probes the accumulated v2 index.

    At 100 TB: the index is distinct (band, bkey) pairs — a few bytes
    per corpus doc, append-only, time-travelable (a bad crawl drop
    rolls back by restoring the prior version) — and each daily gate
    shuffles only the new batch's band keys against a bucketable
    parquet table.  hop4_incremental_lsh_gate runs the same lsh_gate
    per micro-batch, so either driver can extend the other's table."""
    return _incremental_lsh(spark, sf_dir)[0]


def _incremental_lsh(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, str, DataFrame]:
    """The 3-day story behind dedup_incremental_lsh and
    dedup_index_compaction: returns (verdict, index table path,
    checkpointed full-corpus band frame)."""
    from pathlib import Path

    from specialsid_spark.session import session_workdir

    d = load_parallel(spark, sf_dir, "documents").select("doc_id", "text")
    t = str(Path(session_workdir("specialsid_lshidx_")) / "band_index")

    # ONE full-corpus banding pass (r13 opt): band keys are per-doc
    # (mins over the doc's OWN shingles), so slicing by day AFTER the
    # signature pass is bit-identical to signing each day's slice —
    # but scans the parquet text once instead of three times and runs
    # one signature shuffle instead of three.  The checkpoint bounds
    # every downstream gate join to the materialized band rows; LAZY
    # (r14): the day-0 bootstrap commit is the first action over it,
    # so the signature pass and the bootstrap write are ONE job.
    bk = lsh_band_keys(d).localCheckpoint(eager=False)

    def day_bands(n: int) -> DataFrame:
        return bk.filter(F.col("doc_id") % 3 == n)

    # day 0: bootstrap — commit the corpus band index (version 1) with
    # NATURAL partitioning (r13, VERDICT r12 #3): the day-0 index of a
    # 100 TB corpus must not serialize through one write task; the
    # manifest is multi-file and snapshot_read globs every data file.
    # The gated days append through lsh_gate with coalesce(1) — a daily
    # drop's band rows are the small-file-hygiene case.
    snapshot_commit(_index_rows(day_bands(0), "band"), t)

    def gate(n: int) -> DataFrame:
        return lsh_gate(day_bands(n), t).select(
            "doc_id", F.lit(n).alias("day"), "hit_corpus", "hit_intra", "admitted"
        )

    r1 = gate(1)
    r2 = gate(2)
    return r1.unionByName(r2).orderBy("doc_id"), t, bk


_COMPACTION_ORACLE = f"""
    WITH {{sigs}},
    {{bands}},
    b0 AS (SELECT DISTINCT band, bkey FROM bands WHERE doc_id % 3 = 0),
    d1 AS (SELECT doc_id, band, bkey FROM bands WHERE doc_id % 3 = 1),
    d2 AS (SELECT doc_id, band, bkey FROM bands WHERE doc_id % 3 = 2),
    h1c AS (SELECT DISTINCT d.doc_id FROM d1 d
            JOIN b0 c ON c.band = d.band AND c.bkey = d.bkey),
    m1 AS (SELECT band, bkey, MIN(doc_id) AS m FROM d1 GROUP BY 1, 2),
    h1i AS (SELECT DISTINCT d.doc_id FROM d1 d
            JOIN m1 m ON m.band = d.band AND m.bkey = d.bkey
                     AND d.doc_id > m.m),
    adm1 AS (SELECT doc_id FROM (SELECT DISTINCT doc_id FROM d1)
             WHERE doc_id NOT IN (SELECT doc_id FROM h1c)
               AND doc_id NOT IN (SELECT doc_id FROM h1i)),
    b1 AS (SELECT band, bkey FROM b0
           UNION
           SELECT DISTINCT band, bkey FROM d1
           WHERE doc_id IN (SELECT doc_id FROM adm1)),
    h2c AS (SELECT DISTINCT d.doc_id FROM d2 d
            JOIN b1 c ON c.band = d.band AND c.bkey = d.bkey),
    m2 AS (SELECT band, bkey, MIN(doc_id) AS m FROM d2 GROUP BY 1, 2),
    h2i AS (SELECT DISTINCT d.doc_id FROM d2 d
            JOIN m2 m ON m.band = d.band AND m.bkey = d.bkey
                     AND d.doc_id > m.m),
    adm2 AS (SELECT doc_id FROM (SELECT DISTINCT doc_id FROM d2)
             WHERE doc_id NOT IN (SELECT doc_id FROM h2c)
               AND doc_id NOT IN (SELECT doc_id FROM h2i)),
    final_bands AS (SELECT band, bkey FROM b1
                    UNION
                    SELECT DISTINCT band, bkey FROM d2
                    WHERE doc_id IN (SELECT doc_id FROM adm2)),
    probe AS (SELECT DISTINCT doc_id FROM bands WHERE doc_id % 3 <> 0),
    hits AS (SELECT DISTINCT b.doc_id
             FROM bands b JOIN final_bands f
               ON f.band = b.band AND f.bkey = b.bkey
             WHERE b.doc_id % 3 <> 0)
    SELECT p.doc_id,
           CAST(CASE WHEN h.doc_id IS NOT NULL THEN 1 ELSE 0 END AS INT)
             AS hit_final,
           CAST((SELECT COUNT(*) FROM final_bands) AS BIGINT)
             AS idx_band_rows,
           CAST((SELECT COUNT(*) FROM adm1)
                + (SELECT COUNT(*) FROM adm2) AS BIGINT) AS idx_doc_rows,
           CAST(1 AS INT) AS idx_versions
    FROM probe p LEFT JOIN hits h ON h.doc_id = p.doc_id
    ORDER BY p.doc_id
""".format(sigs=_sql_minhash_sigs(), bands=_sql_bands())


@register("dedup_index_compaction", oracle=_COMPACTION_ORACLE)
def dedup_index_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1 lifecycle, r13 (VERDICT r12 #4) — the band-index RETENTION
    story: the incremental gate grows a snapshot version per daily
    drop forever, so compose the snapshot verbs into its maintenance
    plan.  Runs the 3-day dedup_incremental_lsh story, then (1)
    snapshot_compact(dedup=True) rewrites the accumulated index into
    ONE deduplicated generation with natural partitioning, (2)
    snapshot_vacuum(keep_last=1) truncates version history and
    reclaims every pre-compaction data file, and (3) replays a probe
    of all day-1/day-2 docs against the compacted index — proving
    compaction changed NO gate-visible set membership (hit_final per
    doc) while the manifest chain collapsed to one version
    (idx_versions) holding exactly the distinct band/doc rows
    (idx_band_rows / idx_doc_rows).

    At 100 TB: compaction is one distinct + rewrite over an index that
    is bytes per corpus doc (never the corpus), vacuum is manifest
    arithmetic + file unlinks, and the deduplicated generation keeps
    the probe join's build side minimal.  Byte-level reclamation and
    streaming-gate parity are pinned in tests/test_streaming.py."""
    from specialsid_spark.operators.snapshot import snapshot_compact, snapshot_vacuum

    _res, t, bk = _incremental_lsh(spark, sf_dir)
    snapshot_compact(spark, t, target_files=None, dedup=True)
    snapshot_vacuum(t, keep_last=1)
    n_versions = len(snapshot_versions(t))

    idx = snapshot_read(spark, t)
    band_rows = idx.filter(F.col("kind") == "band").select("band", "bkey")
    # one aggregate answers both manifest counts (r13 opt — was two
    # count jobs, each a separate scan of the compacted snapshot)
    cnt = idx.agg(
        F.sum((F.col("kind") == "band").cast("long")).alias("nb"),
        F.sum((F.col("kind") == "doc").cast("long")).alias("nd"),
    ).collect()[0]
    n_band, n_doc = int(cnt["nb"] or 0), int(cnt["nd"] or 0)

    # probe bands = the day-1/day-2 slices of the band frame the gate
    # run just checkpointed (r13 opt) — identical rows to re-signing
    # the probe docs, minus a full tokenize/shingle/minhash pass
    pb = bk.filter(F.col("doc_id") % 3 != 0)
    hits = (
        pb.join(band_rows, ["band", "bkey"], "left_semi")
        .select("doc_id").distinct().withColumn("hit", F.lit(1))
    )
    return (
        pb.select("doc_id").distinct()
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("hit", F.lit(0)).cast("int").alias("hit_final"),
            F.lit(n_band).cast("long").alias("idx_band_rows"),
            F.lit(n_doc).cast("long").alias("idx_doc_rows"),
            F.lit(n_versions).cast("int").alias("idx_versions"),
        )
        .orderBy("doc_id")
    )


@register(
    "dedup_cluster_representatives",
    oracle=f"""
    WITH RECURSIVE {_sql_minhash_sigs()},
    {_sql_bands()},
    pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
    ),
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION ALL SELECT doc_b, doc_a FROM pairs
    ),
    nodes AS (SELECT DISTINCT a AS doc FROM edges),
    reach(doc, root) AS (
      SELECT doc, doc FROM nodes
      UNION
      SELECT e.b, r.root FROM reach r JOIN edges e ON e.a = r.doc
    ),
    cl AS (
      SELECT doc AS doc_id, MIN(root) AS cluster_id FROM reach GROUP BY doc
    ),
    q AS (
      SELECT doc_id,
             (1000000 * len(list_distinct(toks))) // len(toks) AS q
      FROM t
    ),
    ranked AS (
      SELECT cl.cluster_id, cl.doc_id, q.q,
             ROW_NUMBER() OVER (PARTITION BY cl.cluster_id
                                ORDER BY q.q DESC, cl.doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY cl.cluster_id) AS nm
      FROM cl JOIN q ON q.doc_id = cl.doc_id
    )
    SELECT CAST(cluster_id AS BIGINT) AS cluster_id,
           CAST(doc_id AS BIGINT) AS keeper_id,
           CAST(q AS BIGINT) AS keeper_quality,
           CAST(nm AS BIGINT) AS n_members,
           CAST(nm - 1 AS BIGINT) AS n_dropped
    FROM ranked WHERE rn = 1
    ORDER BY cluster_id
    """,
)
def dedup_cluster_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1, r12 — QUALITY-AWARE cluster representatives: real pipelines
    keep the BEST document of each near-dup cluster, not the lowest id
    (the crawl often finds a boilerplate-wrapped copy first).  Composes
    dedup_cc_clusters' connected components with an integer-exact
    lexical-diversity score (1e6 * distinct_tokens DIV tokens — the
    text_quality_score signal made division-free-deterministic) and
    elects per cluster the highest-quality doc, ties to the lowest id.

    Scale shape: the CC labels are the bounded-diameter min-label
    iteration (see dedup_cc_clusters); the election is one shuffle on
    cluster_id — clusters are near-dup groups, inherently small, so
    per-key state is tiny and skew-free.  The quality join touches only
    clustered docs (an LSH-candidate-bounded fraction of the corpus)."""
    from pyspark.sql.window import Window  # noqa: PLC0415

    labels = _cc_labels(spark, sf_dir)  # (doc_id, cluster_id), unordered
    d = load_parallel(spark, sf_dir, "documents")
    t = d.select("doc_id", tokens("text").alias("toks"))
    q = t.select(
        "doc_id",
        F.expr(
            "(1000000 * CAST(size(array_distinct(toks)) AS BIGINT))"
            " div CAST(size(toks) AS BIGINT)"
        ).alias("q"),
    )
    j = labels.join(q, "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(F.col("q").desc(), "doc_id")
    return (
        j.select(
            "cluster_id",
            "doc_id",
            "q",
            F.row_number().over(w).alias("rn"),
            F.count(F.lit(1)).over(Window.partitionBy("cluster_id")).alias("nm"),
        )
        .filter(F.col("rn") == 1)
        .select(
            F.col("cluster_id").cast("long").alias("cluster_id"),
            F.col("doc_id").cast("long").alias("keeper_id"),
            F.col("q").cast("long").alias("keeper_quality"),
            F.col("nm").cast("long").alias("n_members"),
            (F.col("nm") - 1).cast("long").alias("n_dropped"),
        )
        .orderBy("cluster_id")
    )


def _epoch_shard_manifest(adm: DataFrame) -> DataFrame:
    """The daily-ingest manifest: each admitted doc_id's epoch-1 shard
    (md5 % 8), rolled up to one (shard, n_admitted, id_sum) row per
    shard."""
    hx = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":epoch:1")))
    sharded = adm.select(
        "doc_id",
        (F.conv(F.substring(hx, 1, 8), 16, 10).cast("long") % 8).alias("shard"),
    )
    return (
        sharded.groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_admitted"),
            (F.sum(F.col("doc_id") % 1000000007) % 1000000007)
            .cast("long")
            .alias("id_sum"),
        )
        .orderBy("shard")
    )


@register(
    "pipeline_daily_ingest",
    oracle=f"""
    WITH {{sigs}},
    {{bands}},
    b0 AS (SELECT DISTINCT band, bkey FROM bands WHERE doc_id % 3 = 0),
    d1 AS (SELECT doc_id, band, bkey FROM bands WHERE doc_id % 3 = 1),
    h1c AS (SELECT DISTINCT d.doc_id FROM d1 d
            JOIN b0 c ON c.band = d.band AND c.bkey = d.bkey),
    m1 AS (SELECT band, bkey, MIN(doc_id) AS m FROM d1 GROUP BY 1, 2),
    h1i AS (SELECT DISTINCT d.doc_id FROM d1 d
            JOIN m1 m ON m.band = d.band AND m.bkey = d.bkey
                     AND d.doc_id > m.m),
    adm AS (
      SELECT doc_id FROM (SELECT DISTINCT doc_id FROM d1) d
      WHERE doc_id NOT IN (SELECT doc_id FROM h1c)
        AND doc_id NOT IN (SELECT doc_id FROM h1i)
    ),
    sharded AS (
      SELECT doc_id,
             ('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':epoch:1'),
                                1, 8))::BIGINT % 8 AS shard
      FROM adm
    )
    SELECT shard,
           CAST(COUNT(*) AS BIGINT) AS n_admitted,
           CAST(SUM(doc_id % 1000000007) % 1000000007 AS BIGINT) AS id_sum
    FROM sharded
    GROUP BY shard
    ORDER BY shard
    """.format(sigs=_sql_minhash_sigs(), bands=_sql_bands()),
)
def pipeline_daily_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r12 composition — the DAILY INGEST pipeline end-to-end in one
    declarative plan: today's crawl drop (doc_id % 3 = 1) is gated
    against the existing corpus's LSH band index (near-dup rejection +
    intra-batch greedy keep-lowest), and the ADMITTED survivors get
    their deterministic epoch-shard assignment — crawl to
    training-shard manifest, the composition of dedup_incremental_lsh's
    gate with cur_epoch_shard_assignment's shuffle.

    Scale shape: band probes shuffle only the drop's band keys; the
    shard rollup is an 8-row aggregate with map-side combine.  All
    decisions are content-hash (md5) — reproducible across engines,
    reruns, and epochs."""
    d = load_parallel(spark, sf_dir, "documents").select("doc_id", "text")
    # ONE banding pass over corpus+drop (r13 opt): band keys are
    # per-doc, so slicing the checkpointed frame by day is identical
    # to running two separate signature pipelines — one text scan and
    # one signature shuffle instead of two.
    bk = lsh_band_keys(
        d.filter(F.col("doc_id") % 3 != 2)
    ).localCheckpoint(eager=True)
    # r13 opt — one bucket shuffle decides the whole gate: corpus rows
    # ride the same window pass as the drop's rows (doc_id NULLed), so
    # corpus-hit (any bucket indexed) and intra-hit (doc above its
    # bucket's batch min; MIN skips NULLs) fall out of one map-side-
    # combined groupBy(doc_id), replacing the semi-join + min-agg-join
    # + three distincts + two anti-joins; the corpus index needs no
    # distinct (the window flag is idempotent under duplicates).
    from pyspark.sql.window import Window

    corpus_idx = bk.filter(F.col("doc_id") % 3 == 0).select(
        F.lit(None).cast("long").alias("doc_id"), "band", "bkey"
    )
    bb = bk.filter(F.col("doc_id") % 3 == 1)
    w = Window.partitionBy("band", "bkey")
    occ = (
        bb.select("doc_id", "band", "bkey")
        .unionByName(corpus_idx)
        .select(
            "doc_id",
            F.max(F.col("doc_id").isNull().cast("int")).over(w).alias("inc"),
            F.min("doc_id").over(w).alias("m"),
        )
        .filter(F.col("doc_id").isNotNull())
    )
    adm = (
        occ.groupBy("doc_id")
        .agg(
            F.max("inc").alias("hc"),
            F.max((F.col("doc_id") > F.col("m")).cast("int")).alias("hi"),
        )
        .filter((F.col("hc") + F.col("hi")) == 0)
        .select("doc_id")
    )
    return _epoch_shard_manifest(adm)


# the PDF daily-ingest door: doc_id cap (the per-run codec budget —
# PDF build/extract is pure-Python mapInPandas, same cap discipline as
# queries/multimodal.py's _N_CODEC_DOCS) and the gate thresholds
_PDI_N = 64
_PDI_MIN_TOKENS = 15
_PDI_MIN_QUALITY = 520000  # 1e6 * distinct_tokens DIV tokens
_PDI_PII_SUFFIX_SQL = (
    "' contact user' || CAST(doc_id AS VARCHAR)"
    " || '@example.com from 10.0.'"
    " || CAST(doc_id % 256 AS VARCHAR) || '.1'"
)


def _pdi_oracle() -> str:
    from specialsid_spark.queries.curation import _PII_EMAIL, _PII_IPV4

    sigs_pdfu = _sql_minhash_sigs().replace("FROM documents", "FROM pdfu")
    return f"""
    WITH pre AS (
      SELECT doc_id,
             substr(text, 1, 240)
             || CASE WHEN doc_id % 5 = 0 THEN {_PDI_PII_SUFFIX_SQL}
                ELSE '' END AS text
      FROM documents WHERE doc_id < {_PDI_N} AND doc_id % 3 = 1
    ),
    gatef AS (
      SELECT doc_id, text,
             string_split_regex(lower(trim(text)), '\\s+') AS toks
      FROM pre
    ),
    gated AS (
      SELECT doc_id, text FROM gatef
      WHERE len(toks) >= {_PDI_MIN_TOKENS}
        AND (1000000 * len(list_distinct(toks))) // len(toks)
              >= {_PDI_MIN_QUALITY}
        AND len(regexp_extract_all(text, '{_PII_EMAIL}')) = 0
        AND len(regexp_extract_all(text, '{_PII_IPV4}')) = 0
        AND len(list_filter(toks, t -> t IN ('the','and','of')))
              >= len(list_filter(toks, t -> t IN ('el','la','de')))
        AND len(list_filter(toks, t -> t IN ('the','and','of')))
              >= len(list_filter(toks, t -> t IN ('le','la','et')))
        AND len(list_filter(toks, t -> t IN ('the','and','of')))
              >= len(list_filter(toks, t -> t IN ('der','die','und')))
    ),
    pdfu AS (
      SELECT doc_id, substr(text, 1, 240) AS text FROM documents
      WHERE doc_id < {_PDI_N} AND doc_id % 3 = 0
      UNION ALL
      SELECT doc_id, text FROM gated
    ),
    {sigs_pdfu},
    {_sql_bands()},
    b0 AS (SELECT DISTINCT band, bkey FROM bands WHERE doc_id % 3 = 0),
    d1 AS (SELECT doc_id, band, bkey FROM bands WHERE doc_id % 3 = 1),
    h1c AS (SELECT DISTINCT d.doc_id FROM d1 d
            JOIN b0 c ON c.band = d.band AND c.bkey = d.bkey),
    m1 AS (SELECT band, bkey, MIN(doc_id) AS m FROM d1 GROUP BY 1, 2),
    h1i AS (SELECT DISTINCT d.doc_id FROM d1 d
            JOIN m1 m ON m.band = d.band AND m.bkey = d.bkey
                     AND d.doc_id > m.m),
    adm AS (
      SELECT doc_id FROM (SELECT DISTINCT doc_id FROM d1) d
      WHERE doc_id NOT IN (SELECT doc_id FROM h1c)
        AND doc_id NOT IN (SELECT doc_id FROM h1i)
    ),
    sharded AS (
      SELECT doc_id,
             ('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':epoch:1'),
                                1, 8))::BIGINT % 8 AS shard
      FROM adm
    )
    SELECT shard,
           CAST(COUNT(*) AS BIGINT) AS n_admitted,
           CAST(SUM(doc_id % 1000000007) % 1000000007 AS BIGINT) AS id_sum
    FROM sharded
    GROUP BY shard
    ORDER BY shard
    """


@register("pipeline_pdf_daily_ingest", oracle=_pdi_oracle())
def pipeline_pdf_daily_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r13 composition (VERDICT r12 #6) — the MULTIMODAL door's daily
    ingest, end-to-end in one plan: today's drop arrives as PDFs (built
    in-run from the fixture text via operators/pdf.py build_text_pdf —
    two 120-char pages per doc, with deterministic PII planted in every
    5th doc's page 2, so the PII travels THROUGH the PDF), then

      raw PDFs -> explode_pdf_text (mapInPandas content-stream
      extraction) -> per-doc reassembly (pages in order) ->
      quality gate (>= 15 tokens AND lexical diversity >= 0.52) ->
      language gate (stopword vote == en) ->
      PII gate (reject docs matching the email/IPv4 regexes —
      cur_pii_scrub's patterns as a REJECT policy) ->
      incremental LSH gate (lsh_verdict, the rule every LSH gate
      shares) against the prior corpus's band index (doc_id %% 3 == 0
      prefix corpus, same door on prior days) ->
      deterministic epoch-shard manifest (md5 %% 8).

    The oracle restates the extracted text as substr(text, 1, 240) ||
    planted-PII — valid because explode_pdf_text's round trip is
    byte-exact (proven by the mm_pdf text queries) — then runs the
    same gates, banding, and shard rollup in DuckDB, so a single byte
    lost anywhere in the PDF build/extract/gate/LSH/shard chain flips
    the hash.

    Scale shape: PDF build+extract are per-row-independent mapInPandas
    (no shuffle); the gates are one codegen'd filter projection; band
    probes shuffle only the gated drop's band keys against the
    bucketable index; the manifest is an 8-row map-side-combined
    aggregate.  The per-run doc cap (_PDI_N) is the codec-budget
    discipline, not a scalability limit — at 100 TB each partition
    extracts its own PDFs independently."""
    from specialsid_spark.operators.multimodal import explode_pdf_text
    from specialsid_spark.operators.pdf import build_text_pdf
    from specialsid_spark.queries.curation import _PII_EMAIL, _PII_IPV4

    d = load_parallel(spark, sf_dir, "documents").select("doc_id", "text")
    d64 = d.filter(F.col("doc_id") < _PDI_N)
    drop = d64.filter(F.col("doc_id") % 3 == 1)

    def build(doc_id, text):
        p1, p2 = text[:120], text[120:240]
        if doc_id % 5 == 0:
            p2 += " contact user%d@example.com from 10.0.%d.1" % (doc_id, doc_id % 256)
        yield doc_id, build_text_pdf([p1, p2])

    pdfs = map_rows(drop, build, "doc_id long, blob binary")
    ext = (
        explode_pdf_text(pdfs)
        .groupBy("doc_id")
        .agg(
            F.array_join(
                F.expr(
                    "transform(array_sort(collect_list("
                    "struct(page_no, page_text))), x -> x.page_text)"
                ),
                "",
            ).alias("text")
        )
    )
    gated = (
        ext.select("doc_id", "text", tokens("text").alias("toks"))
        .filter(F.size("toks") >= _PDI_MIN_TOKENS)
        .filter(
            F.expr(
                "(1000000 * CAST(size(array_distinct(toks)) AS BIGINT))"
                " div CAST(size(toks) AS BIGINT)"
            )
            >= _PDI_MIN_QUALITY
        )
        .filter(F.regexp_count("text", F.lit(_PII_EMAIL)) == 0)
        .filter(F.regexp_count("text", F.lit(_PII_IPV4)) == 0)
        .filter(lang_guess(F.col("toks")) == "en")
        .select("doc_id", "text")
    )
    corpus = d64.filter(F.col("doc_id") % 3 == 0).select(
        "doc_id", F.substring("text", 1, 240).alias("text")
    )
    # ONE banding pass over corpus ∪ gated drop (r13 opt): doc_id % 3
    # distinguishes the two sides, band keys are per-doc, so slicing
    # the checkpointed union replaces two separate signature pipelines.
    # The corpus index is built in this run, so the drop goes through
    # the shared gate rule (lsh_verdict) and nothing is committed.
    bk = lsh_band_keys(corpus.unionByName(gated)).localCheckpoint(eager=True)
    corpus_idx = bk.filter(F.col("doc_id") % 3 == 0).select("band", "bkey")
    adm = (
        lsh_verdict(bk.filter(F.col("doc_id") % 3 == 1), corpus_idx)
        .filter(F.col("admitted") == 1)
        .select("doc_id")
    )
    return _epoch_shard_manifest(adm)


def _sh_ham(a: str, b: str) -> str:
    """DuckDB 4-block Hamming distance between probe aliases."""
    return " + ".join(
        f"bit_count(xor({a}.blk{i}, {b}.blk{i}))" for i in range(4)
    )


@register(
    "dedup_incremental_simhash",
    # The oracle restates the 3-day SimHash gate story: day-0 probes
    # (4 per doc, each carrying the FULL 128-bit signature) bootstrap
    # the index, day-1 probes it with radius-3 verification and
    # appends its admitted docs' probes, day-2 probes the ACCUMULATED
    # index.  Pigeonhole makes the block-key join EXACT for radius 3:
    # 3 flipped bits across 4 disjoint 32-bit blocks leave >= 1 block
    # untouched, so no qualifying pair is missed.
    oracle=f"""
    WITH {_sql_simhash_block_sigs(32)},
    probes AS (
      SELECT doc_id, 0 AS band, blk0 AS v, blk0, blk1, blk2, blk3 FROM sigs
      UNION ALL SELECT doc_id, 1, blk1, blk0, blk1, blk2, blk3 FROM sigs
      UNION ALL SELECT doc_id, 2, blk2, blk0, blk1, blk2, blk3 FROM sigs
      UNION ALL SELECT doc_id, 3, blk3, blk0, blk1, blk2, blk3 FROM sigs
    ),
    p0 AS (SELECT * FROM probes WHERE doc_id % 3 = 0),
    p1 AS (SELECT * FROM probes WHERE doc_id % 3 = 1),
    p2 AS (SELECT * FROM probes WHERE doc_id % 3 = 2),
    h1c AS (SELECT DISTINCT d.doc_id FROM p1 d JOIN p0 c
            ON c.band = d.band AND c.v = d.v
            WHERE {_sh_ham("d", "c")} <= 3),
    h1i AS (SELECT DISTINCT a.doc_id FROM p1 a JOIN p1 b
            ON a.band = b.band AND a.v = b.v AND a.doc_id > b.doc_id
            WHERE {_sh_ham("a", "b")} <= 3),
    r1 AS (SELECT d.doc_id,
                  CASE WHEN hc.doc_id IS NOT NULL THEN 1 ELSE 0 END
                    AS hit_corpus,
                  CASE WHEN hi.doc_id IS NOT NULL THEN 1 ELSE 0 END
                    AS hit_intra
           FROM (SELECT DISTINCT doc_id FROM p1) d
           LEFT JOIN h1c hc ON hc.doc_id = d.doc_id
           LEFT JOIN h1i hi ON hi.doc_id = d.doc_id),
    i1 AS (SELECT band, v, blk0, blk1, blk2, blk3 FROM p0
           UNION
           SELECT band, v, blk0, blk1, blk2, blk3 FROM p1
           WHERE doc_id IN (SELECT doc_id FROM r1
                            WHERE hit_corpus = 0 AND hit_intra = 0)),
    h2c AS (SELECT DISTINCT d.doc_id FROM p2 d JOIN i1 c
            ON c.band = d.band AND c.v = d.v
            WHERE {_sh_ham("d", "c")} <= 3),
    h2i AS (SELECT DISTINCT a.doc_id FROM p2 a JOIN p2 b
            ON a.band = b.band AND a.v = b.v AND a.doc_id > b.doc_id
            WHERE {_sh_ham("a", "b")} <= 3),
    r2 AS (SELECT d.doc_id,
                  CASE WHEN hc.doc_id IS NOT NULL THEN 1 ELSE 0 END
                    AS hit_corpus,
                  CASE WHEN hi.doc_id IS NOT NULL THEN 1 ELSE 0 END
                    AS hit_intra
           FROM (SELECT DISTINCT doc_id FROM p2) d
           LEFT JOIN h2c hc ON hc.doc_id = d.doc_id
           LEFT JOIN h2i hi ON hi.doc_id = d.doc_id)
    SELECT doc_id, day,
           CAST(hit_corpus AS INT) AS hit_corpus,
           CAST(hit_intra AS INT) AS hit_intra,
           CAST(CASE WHEN hit_corpus = 0 AND hit_intra = 0
                THEN 1 ELSE 0 END AS INT) AS admitted
    FROM (SELECT doc_id, 1 AS day, hit_corpus, hit_intra FROM r1
          UNION ALL
          SELECT doc_id, 2 AS day, hit_corpus, hit_intra FROM r2)
    ORDER BY doc_id
    """,
)
def dedup_incremental_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1, r13 — incremental SimHash dedup against a PERSISTED,
    ACCUMULATING probe index: dedup_incremental_lsh's daily-drop story
    for pipelines whose near-dup definition is Hamming radius (bit-flip
    tolerant) rather than Jaccard banding.  The corpus index is the
    4-probe expansion of every admitted doc's 128-bit signature — rows
    (band, v, blk0..blk3), where (band, v) is the pigeonhole block key
    and the four blocks ride along so radius verification happens IN
    the probe join, no second lookup.  Three deterministic "days"
    (doc_id mod 3): day 0 bootstraps version 1 with NATURAL
    partitioning; each later day goes through simhash_gate, which (1)
    probes the accumulated index for any corpus signature within
    Hamming 3 — EXACT, not probabilistic (simhash_verdict) — (2)
    intra-dedups the drop (a lower-id same-day doc within radius 3),
    and (3) appends only its admitted docs' probe rows and ids as a new
    snapshot version, in the table layout hop4_incremental_simhash_gate
    reads and writes.

    At 100 TB: the index is 4 rows x 4 longs per admitted doc (~160
    bytes), append-only, time-travelable (a bad crawl drop rolls back
    by restoring the prior version, same lifecycle as
    dedup_index_compaction); each daily gate shuffles only the new
    batch's block keys, and the w=32 width rule (BASELINE.md §3 —
    block key space must dwarf the corpus; use 4x64-bit blocks at
    1e10 docs) keeps bucket fan-in O(1) so the verified join never
    degenerates toward all-pairs."""
    from pathlib import Path

    from specialsid_spark.session import session_workdir

    d = load_parallel(spark, sf_dir, "documents").select("doc_id", "text")
    t = str(Path(session_workdir("specialsid_shidx_")) / "probe_index")

    # ONE full-corpus signature pass (r13 opt): a doc's SimHash is
    # voted from its OWN tokens, so slicing the probe rows by day
    # AFTER the pass is bit-identical to signing each day's slice —
    # one parquet text scan and one vote shuffle instead of three.
    # LAZY (r14): the day-0 bootstrap commit materializes it, so the
    # signature pass and the bootstrap write are ONE job.
    bp_all = simhash_probes(
        _simhash_block_sigs(spark, sf_dir, 32, docs=d)
    ).localCheckpoint(eager=False)

    def day_probes(n: int) -> DataFrame:
        return bp_all.filter(F.col("doc_id") % 3 == n)

    # day 0: bootstrap — the corpus probe index commits with natural
    # partitioning (a 100 TB corpus's day-0 index must not serialize
    # through one write task); the gated days append through
    # simhash_gate with coalesce(1) (a daily drop's probe rows are the
    # small-file-hygiene case)
    snapshot_commit(_index_rows(day_probes(0), "probe"), t)

    def gate(n: int) -> DataFrame:
        return simhash_gate(day_probes(n), t).select(
            "doc_id", F.lit(n).alias("day"), "hit_corpus", "hit_intra", "admitted"
        )

    r1 = gate(1)
    r2 = gate(2)
    return r1.unionByName(r2).orderBy("doc_id")


@register(
    "cur_source_scorecard",
    # The oracle restates the report: a doc is a near-dup if any LOWER
    # id shares an LSH band bucket with it anywhere in the corpus (the
    # same greedy keep-lowest rule every gate uses); per-source rollup
    # with integer permille/mean ratios.
    oracle=f"""
    WITH {{sigs}},
    {{bands}},
    mins AS (SELECT band, bkey, MIN(doc_id) AS m FROM bands GROUP BY 1, 2),
    dup AS (SELECT DISTINCT b.doc_id FROM bands b
            JOIN mins m ON m.band = b.band AND m.bkey = b.bkey
                       AND b.doc_id > m.m),
    tsc AS (SELECT source, doc_id, lang,
                 len(string_split_regex(lower(trim(text)), '\\s+')) AS words
          FROM documents),
    g AS (SELECT source,
                 COUNT(*) AS n_docs,
                 SUM(CASE WHEN doc_id IN (SELECT doc_id FROM dup)
                     THEN 1 ELSE 0 END) AS n_neardup,
                 SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS n_en,
                 SUM(words) AS sw
          FROM tsc GROUP BY source)
    SELECT source,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_neardup AS BIGINT) AS n_neardup,
           CAST((1000 * n_neardup) // n_docs AS BIGINT) AS neardup_permille,
           CAST(n_en AS BIGINT) AS n_en,
           CAST(sw // n_docs AS BIGINT) AS mean_words
    FROM g
    ORDER BY source
    """.format(sigs=_sql_minhash_sigs(), bands=_sql_bands()),
)
def cur_source_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1 ∘ X4, r13 — the per-source SCORECARD: for every ingest source
    (domain/feed), how many docs it contributed, how many are near-dups
    of earlier material (LSH band buckets, greedy keep-lowest — the
    exact rule the gates enforce), its English share, and mean doc
    length.  This is the daily "which sources do we downweight or cut"
    report: a source whose neardup_permille climbs is re-crawling what
    the corpus already holds, and mixture reweighting
    (cur_domain_mixture) keys off exactly these columns.

    Scale shape: banding shuffles (band, bkey) pairs (bytes/doc); the
    dup decision is a bucket-min join, never all-pairs; the rollup is
    a map-side-combining groupBy on source.  Integer ratios only."""
    d = load_parallel(spark, sf_dir, "documents")
    # ONE scan+tokenize pass feeds the banding leg and the per-source
    # attribute rollup (r13 opt — each re-read the parquet text and
    # re-split it); document bytes never leave the scan task.
    tk = d.select(
        "doc_id", "source", "lang", tokens("text").alias("toks")
    ).localCheckpoint(eager=False)
    bk = lsh_band_keys(tk)
    mins = bk.groupBy("band", "bkey").agg(F.min("doc_id").alias("m"))
    dup = (
        bk.join(mins, ["band", "bkey"])
        .filter(F.col("doc_id") > F.col("m"))
        .select("doc_id")
        .distinct()
        .withColumn("is_dup", F.lit(1))
    )
    t = tk.select(
        "source",
        "doc_id",
        "lang",
        F.size("toks").alias("words"),
    )
    g = (
        t.join(dup, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.coalesce("is_dup", F.lit(0))).cast("long")
              .alias("n_neardup"),
            F.sum((F.col("lang") == "en").cast("int")).cast("long")
              .alias("n_en"),
            F.sum("words").cast("long").alias("sw"),
        )
    )
    return g.select(
        "source",
        "n_docs",
        "n_neardup",
        F.expr("(1000 * n_neardup) DIV n_docs").cast("long")
          .alias("neardup_permille"),
        "n_en",
        F.expr("sw DIV n_docs").cast("long").alias("mean_words"),
    ).orderBy("source")


@register(
    "cur_dedup_cascade",
    # The oracle restates the cascade: per doc, is it caught by the
    # exact-hash gate (a lower-id doc with identical md5), the LSH gate
    # (a lower-id band-bucket mate), or the SimHash gate (a lower-id
    # doc within Hamming 3)?  First-catcher attribution in that order
    # (cheapest stage first — the order a production cascade runs).
    oracle=f"""
    WITH {{sigs}},
    {{bands}},
    {_sql_simhash_block_sigs(32, prefix="sh2_")},
    exact_dup AS (
      SELECT doc_id FROM (
        SELECT doc_id, MIN(doc_id) OVER (PARTITION BY md5(text)) AS m
        FROM documents
      ) WHERE doc_id > m
    ),
    lsh_dup AS (
      SELECT DISTINCT b.doc_id FROM bands b
      JOIN (SELECT band, bkey, MIN(doc_id) AS m FROM bands GROUP BY 1, 2) g
        ON g.band = b.band AND g.bkey = b.bkey AND b.doc_id > g.m
    ),
    sh_probes AS (
      SELECT doc_id, 0 AS band, blk0 AS v, blk0, blk1, blk2, blk3 FROM sh2_sigs
      UNION ALL SELECT doc_id, 1, blk1, blk0, blk1, blk2, blk3 FROM sh2_sigs
      UNION ALL SELECT doc_id, 2, blk2, blk0, blk1, blk2, blk3 FROM sh2_sigs
      UNION ALL SELECT doc_id, 3, blk3, blk0, blk1, blk2, blk3 FROM sh2_sigs
    ),
    sim_dup AS (
      SELECT DISTINCT a.doc_id FROM sh_probes a JOIN sh_probes b
        ON a.band = b.band AND a.v = b.v AND a.doc_id > b.doc_id
      WHERE {_sh_ham("a", "b")} <= 3
    ),
    verdict AS (
      SELECT d.doc_id,
             CASE WHEN e.doc_id IS NOT NULL THEN 'a_exact'
                  WHEN l.doc_id IS NOT NULL THEN 'b_lsh'
                  WHEN s.doc_id IS NOT NULL THEN 'c_simhash'
                  ELSE 'd_clean' END AS stage
      FROM documents d
      LEFT JOIN exact_dup e ON e.doc_id = d.doc_id
      LEFT JOIN lsh_dup l ON l.doc_id = d.doc_id
      LEFT JOIN sim_dup s ON s.doc_id = d.doc_id
    ),
    tot AS (SELECT COUNT(*) AS n FROM documents)
    SELECT stage,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST((1000 * COUNT(*)) // (SELECT n FROM tot) AS BIGINT)
             AS share_permille
    FROM verdict
    GROUP BY stage
    ORDER BY stage
    """.format(sigs=_sql_minhash_sigs(), bands=_sql_bands()),
)
def cur_dedup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1 rollup, r13 — the DEDUP CASCADE report: for every document,
    which gate catches it FIRST when the stages run in production
    order (exact content hash -> MinHash-LSH banding -> SimHash
    radius 3), or 'clean' if none does.  This is the
    which-stages-earn-their-cost artifact: a corpus where b_lsh
    catches almost nothing beyond a_exact says the crawl's near-dups
    are byte-identical and the LSH pass can run less often; a fat
    c_simhash bucket says bit-flip-style mutations dominate.  Stage
    keys are prefixed (a_/b_/c_/d_) so the sort order IS the cascade
    order.

    Scale shape: three independent gate passes, each its production
    shape (16-byte md5 groupBy; band-key bucket-min join; pigeonhole
    block join with in-join radius verification) — no all-pairs
    anywhere; the verdict join keys on doc_id and the rollup is a
    4-row aggregate with map-side combine.  Integer permille."""
    d = load_parallel(spark, sf_dir, "documents").select("doc_id", "text")
    # ONE scan+tokenize pass shared by ALL THREE legs (r13 opt): the
    # checkpoint carries md5(text) so the exact leg groups 16-byte
    # hashes from the same projection — the old shape shuffled FULL
    # DOCUMENT TEXT through a Window.partitionBy(md5(text)) exchange;
    # document bytes now never leave the scan task.
    tk = d.select(
        "doc_id", F.md5("text").alias("h"), tokens("text").alias("toks")
    ).localCheckpoint(eager=False)
    emins = tk.groupBy("h").agg(F.min("doc_id").alias("m"))
    exact = (
        tk.select("doc_id", "h")
        .join(emins, "h")
        .filter(F.col("doc_id") > F.col("m"))
        .select("doc_id", F.lit(1).alias("pri"))
    )
    bk = lsh_band_keys(tk)
    gmins = bk.groupBy("band", "bkey").agg(F.min("doc_id").alias("m"))
    lsh = (
        bk.join(gmins, ["band", "bkey"])
        .filter(F.col("doc_id") > F.col("m"))
        .select("doc_id", F.lit(2).alias("pri"))
    )
    bp = simhash_probes(
        _simhash_block_sigs(spark, sf_dir, 32, docs=tk)
    ).localCheckpoint(eager=False)
    lower = bp.select(
        F.col("doc_id").alias("doc_b"),
        "band",
        F.col("v"),
        *[F.col(f"blk{b}").alias(f"iblk{b}") for b in range(4)],
    )
    sim = (
        bp.join(lower, ["band", "v"])
        .filter(
            (F.col("doc_id") > F.col("doc_b")) & (simhash_ham_to_index() <= 3)
        )
        .select("doc_id", F.lit(3).alias("pri"))
    )
    # first-catcher = MIN stage priority per doc over seed rows (pri 4
    # = clean) unioned with each leg's catch rows — one map-side-
    # combined groupBy replaces two distincts and three left joins
    # (same seed-union verdict idiom as the incremental gates)
    seeds = tk.select("doc_id", F.lit(4).alias("pri"))
    verdict = (
        seeds.unionByName(exact).unionByName(lsh).unionByName(sim)
        .groupBy("doc_id")
        .agg(F.min("pri").alias("pri"))
        .select(
            F.element_at(
                F.array(
                    F.lit("a_exact"),
                    F.lit("b_lsh"),
                    F.lit("c_simhash"),
                    F.lit("d_clean"),
                ),
                F.col("pri"),
            ).alias("stage")
        )
    )
    tot = d.agg(F.count(F.lit(1)).alias("n"))
    return (
        verdict.groupBy("stage")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .crossJoin(F.broadcast(tot))
        .select(
            "stage",
            "n_docs",
            F.expr("(1000 * n_docs) DIV n").cast("long")
              .alias("share_permille"),
        )
        .orderBy("stage")
    )
