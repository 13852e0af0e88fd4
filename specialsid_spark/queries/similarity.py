"""Similarity search over `embeddings` (SURVEY.md §2.11 X2).

Brute-force cosine top-k as the correctness baseline; sign-bucket LSH
as the scale path (bucketing bounds candidate sets so the 100 TB form
joins within buckets instead of computing |Q|x|N| pairs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from specialsid_spark.catalog import load_parallel
from specialsid_spark.operators.textops import dot, dot_np, norm
from specialsid_spark.queries import register
from specialsid_spark.queries._determinism import neighbor_ranks

_SQL_COS = (
    "list_dot_product(a.v, b.v)"
    " / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))"
)


_SQL_TOPK_ORACLE = f"""
    WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    scored AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, b.label AS neighbor_label,
             {_SQL_COS} AS cs
      FROM e a JOIN e b ON b.vec_id <> a.vec_id
      WHERE a.vec_id < 5
    ), ranked AS (
      SELECT query_id, neighbor_id, neighbor_label, cs,
             row_number() OVER (PARTITION BY query_id ORDER BY cs DESC, neighbor_id) AS rk
      FROM scored
    )
    SELECT query_id, neighbor_id, neighbor_label,
           CAST(rk AS BIGINT) AS rk, round(cs, 6) AS cos_sim
    FROM ranked WHERE rk <= 10
    ORDER BY query_id, rk
    """


@register("sim_topk_bruteforce", oracle=_SQL_TOPK_ORACLE)
def sim_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ANN baseline: each query vector against the full corpus,
    window top-10.  The query side is tiny -> broadcast; the corpus is
    never shuffled, and per-query ranking is a partial top-k."""
    e = load_parallel(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        norm(F.col("embedding")).alias("qn"),
    )
    n = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("neighbor_label"),
        F.col("embedding").alias("nv"),
        norm(F.col("embedding")).alias("nn"),
    )
    scored = (
        F.broadcast(q)
        .join(n, F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            "neighbor_label",
            (dot_np(F.col("qv"), F.col("nv")) / (F.col("qn") * F.col("nn"))).alias("cs"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cs").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 10)
        .select("query_id", "neighbor_id", "neighbor_label", "rk", F.round("cs", 6).alias("cos_sim"))
        .orderBy("query_id", "rk")
    )


_LSH_DIMS = (1, 9, 17, 25, 33, 41, 49, 57)  # fixed probe dims (1-based)


@register(
    "sim_lsh_sign_buckets",
    oracle=f"""
    WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
    SELECT {" || ".join(f"(CASE WHEN v[{d}] >= 0 THEN '1' ELSE '0' END)" for d in _LSH_DIMS)}
             AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(SUM(label) AS BIGINT) AS sum_label
    FROM e
    GROUP BY 1
    ORDER BY 1
    """,
)
def sim_lsh_sign_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-bit LSH bucketing: an 8-bit bucket key from the signs of
    fixed coordinates.  The scale path: candidate generation becomes a
    per-bucket join (multi-probe = flip one bit), never a cross join."""
    e = load_parallel(spark, sf_dir, "embeddings")
    bits = [
        F.when(F.element_at("embedding", d) >= 0, "1").otherwise("0") for d in _LSH_DIMS
    ]
    return (
        e.groupBy(F.concat(*bits).alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum("label").cast("long").alias("sum_label"),
        )
        .orderBy("bucket")
    )


#: Multi-probe masks: the query's own bucket plus every 1- and 2-bit
#: flip of the 8-bit key (1 + 8 + 28 = 37 probes ~ 14% of buckets).
_LSH_PROBE_MASKS = (
    [0]
    + [1 << i for i in range(8)]
    + [(1 << i) | (1 << j) for i in range(8) for j in range(i + 1, 8)]
)


@register(
    "sim_lsh_bucketed_topk",
    oracle=f"""
    WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    kb AS (
      SELECT vec_id, label, v,
             {" + ".join(f"(CASE WHEN v[{d}] >= 0 THEN {1 << i} ELSE 0 END)" for i, d in enumerate(_LSH_DIMS))}
               AS bucket
      FROM e
    ),
    probes AS (
      SELECT a.vec_id, a.v, xor(a.bucket, m.mask) AS pbucket
      FROM kb a CROSS JOIN (SELECT unnest({list(_LSH_PROBE_MASKS)}) AS mask) m
      WHERE a.vec_id < 20
    ), scored AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, {_SQL_COS} AS cs
      FROM probes a JOIN kb b ON b.bucket = a.pbucket AND b.vec_id <> a.vec_id
    ), ranked AS (
      SELECT query_id, neighbor_id, cs,
             row_number() OVER (PARTITION BY query_id ORDER BY cs DESC, neighbor_id) AS rk
      FROM scored
    )
    SELECT query_id, neighbor_id, CAST(rk AS BIGINT) AS rk, round(cs, 6) AS cos_sim
    FROM ranked WHERE rk <= 5
    ORDER BY query_id, rk
    """,
)
def sim_lsh_bucketed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k via multi-probe sign-LSH: the query probes its
    own 8-bit bucket plus every bucket within Hamming distance 2 (37
    probes, ~14% of the key space) and scores only those candidates.

    Measured recall@5 vs brute force (tests/test_ann_recall.py): ~0.01
    single-bucket -> ~0.35-0.4 multi-probe on this corpus.  The honest
    ceiling: sign-LSH is data-OBLIVIOUS, and these embeddings are
    near-random (top-pair cosine ~0.5), so hyperplane buckets barely
    correlate with the true neighborhood — `sim_ivf_topk`'s learned
    cells reach recall ~1.0 at the same candidate budget.  That
    contrast (oblivious vs learned partitioning) is the reason
    production ANN uses IVF/k-means quantizers, and both shapes are
    kept here deliberately.  This entry is the SINGLE-TABLE baseline;
    `sim_lsh_multitable_topk` is the production sign-LSH shape (4-table
    OR-amplification, recall ≥0.8).  Scale shape: probes explode ONLY the tiny
    query side (37 rows per query); the corpus is hashed once and
    joined on the bucket key."""
    e = load_parallel(spark, sf_dir, "embeddings")
    bits = [
        F.when(F.element_at("embedding", d) >= 0, F.lit(1 << i)).otherwise(F.lit(0))
        for i, d in enumerate(_LSH_DIMS)
    ]
    bucket = bits[0]
    for b in bits[1:]:
        bucket = bucket + b
    kb = e.select(
        "vec_id", "label", "embedding", bucket.alias("bucket"),
        norm(F.col("embedding")).alias("nrm"),
    )
    q = (
        kb.filter(F.col("vec_id") < 20)
        .select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"),
            "bucket", F.col("nrm").alias("qn"),
            F.explode(F.array(*[F.lit(m) for m in _LSH_PROBE_MASKS])).alias("mask"),
        )
        .select(
            "query_id", "qv", "qn",
            F.col("bucket").bitwiseXOR(F.col("mask")).alias("pbucket"),
        )
    )
    n = kb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("nv"),
        F.col("bucket").alias("nbucket"), F.col("nrm").alias("nn"),
    )
    scored = (
        F.broadcast(q)
        .join(n, (F.col("pbucket") == F.col("nbucket")) & (F.col("neighbor_id") != F.col("query_id")))
        .select(
            "query_id", "neighbor_id",
            (dot(F.col("qv"), F.col("nv")) / (F.col("qn") * F.col("nn"))).alias("cs"),
        )
    )
    return neighbor_ranks(scored, "cos_sim")


#: Multi-table sign-LSH: 4 hash tables, each keyed on the signs of 8
#: disjoint coordinates (table t covers the odd dims of the 16-dim slice
#: [16t+1, 16t+16]).  OR-amplification: a true neighbor is a candidate
#: if ANY table probes its bucket, so per-table capture p becomes
#: 1-(1-p)^4 overall (measured: ~0.37 single-table -> ~0.9 here).
_LSH_TABLES = tuple(tuple(range(16 * t + 1, 16 * t + 16, 2)) for t in range(4))


def _sql_table_bucket(dims: tuple[int, ...]) -> str:
    return " + ".join(
        f"(CASE WHEN v[{d}] >= 0 THEN {1 << i} ELSE 0 END)" for i, d in enumerate(dims)
    )


@register(
    "sim_lsh_multitable_topk",
    oracle=f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    keys AS (
      SELECT vec_id, t.tid,
             CASE t.tid
               {" ".join(f"WHEN {t} THEN {_sql_table_bucket(dims)}" for t, dims in enumerate(_LSH_TABLES))}
             END AS bucket
      FROM e CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS tid) t
    ),
    probes AS (
      SELECT k.vec_id, k.tid, xor(k.bucket, m.mask) AS pbucket
      FROM keys k CROSS JOIN (SELECT unnest({list(_LSH_PROBE_MASKS)}) AS mask) m
      WHERE k.vec_id < 20
    ),
    cand AS (
      SELECT DISTINCT p.vec_id AS query_id, b.vec_id AS neighbor_id
      FROM probes p JOIN keys b ON b.tid = p.tid AND b.bucket = p.pbucket
      WHERE b.vec_id <> p.vec_id
    ),
    scored AS (
      SELECT c.query_id, c.neighbor_id, {_SQL_COS} AS cs
      FROM cand c
      JOIN e a ON a.vec_id = c.query_id
      JOIN e b ON b.vec_id = c.neighbor_id
    ), ranked AS (
      SELECT query_id, neighbor_id, cs,
             row_number() OVER (PARTITION BY query_id ORDER BY cs DESC, neighbor_id) AS rk
      FROM scored
    )
    SELECT query_id, neighbor_id, CAST(rk AS BIGINT) AS rk, round(cs, 6) AS cos_sim
    FROM ranked WHERE rk <= 5
    ORDER BY query_id, rk
    """,
)
def sim_lsh_multitable_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production multi-TABLE sign-LSH top-k: 4 independent 8-bit hash
    tables over disjoint coordinate slices, each probed to Hamming
    distance 2, candidates unioned across tables (OR-amplification).

    This is the standard fix for single-table sign-LSH's recall ceiling
    (`sim_lsh_bucketed_topk` measures ~0.37 on this corpus): a true
    neighbor only needs to collide in ONE of the L tables, so capture
    goes 1-(1-p)^L.  Measured recall@5 ≥ 0.8 (tests/test_ann_recall.py)
    at a candidate budget of 4×37 probes/query — still data-oblivious
    (no training pass), sitting between the single-table baseline and
    the learned `sim_ivf_topk` (recall ~1.0).

    Scale shape: the corpus is hashed once into 4 (vec_id, tid, bucket)
    key rows per vector — ids and one long each, never the vectors; the
    probe fan-out (148 rows/query) explodes only the tiny query side
    and is broadcast.  Candidates are DISTINCTed on (query, neighbor)
    BEFORE vectors are fetched, so each surviving pair is scored once,
    via an equi-join on vec_id that ships each corpus vector at most
    once per query set."""
    e = load_parallel(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", norm(F.col("embedding")).alias("nrm")
    )

    def bucket_expr(dims: tuple[int, ...]):
        b = F.lit(0)
        for i, d in enumerate(dims):
            b = b + F.when(F.element_at("embedding", d) >= 0, F.lit(1 << i)).otherwise(
                F.lit(0)
            )
        return b

    keys = e.select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("tid"), bucket_expr(dims).alias("bucket")
                    )
                    for t, dims in enumerate(_LSH_TABLES)
                ]
            )
        ).alias("tb"),
    ).select("vec_id", F.col("tb.tid").alias("tid"), F.col("tb.bucket").alias("bucket"))
    probes = (
        keys.filter(F.col("vec_id") < 20)
        .select(
            F.col("vec_id").alias("query_id"),
            "tid",
            "bucket",
            F.explode(F.array(*[F.lit(m) for m in _LSH_PROBE_MASKS])).alias("mask"),
        )
        .select(
            "query_id", "tid", F.col("bucket").bitwiseXOR(F.col("mask")).alias("pbucket")
        )
    )
    cand = (
        F.broadcast(probes)
        .join(
            keys.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("tid").alias("ntid"),
                F.col("bucket").alias("nbucket"),
            ),
            (F.col("ntid") == F.col("tid"))
            & (F.col("nbucket") == F.col("pbucket"))
            & (F.col("neighbor_id") != F.col("query_id")),
        )
        .select("query_id", "neighbor_id")
        .distinct()
    )
    q = e.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        F.col("nrm").alias("qn"),
    ).filter(F.col("query_id") < 20)
    scored = (
        cand.join(
            e.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("embedding").alias("nv"),
                F.col("nrm").alias("nn"),
            ),
            "neighbor_id",
        )
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            (dot_np(F.col("qv"), F.col("nv")) / (F.col("qn") * F.col("nn"))).alias("cs"),
        )
    )
    return neighbor_ranks(scored, "cos_sim")


_N_CENTROIDS = 8  # coarse-quantizer cells (stand-in for k-means output)
_N_PROBE = 2  # query-side cells searched (multi-probe recall lever)


@register(
    "sim_ivf_topk",
    oracle=f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
    cent AS (SELECT vec_id AS cid, v AS cv, nrm AS cn FROM n WHERE vec_id < {_N_CENTROIDS}),
    ranked_cells AS (
      SELECT a.vec_id, cent.cid,
             row_number() OVER (
               PARTITION BY a.vec_id
               ORDER BY list_dot_product(a.v, cent.cv) / (a.nrm * cent.cn) DESC, cent.cid
             ) AS rn
      FROM n a CROSS JOIN cent
    ),
    assign AS (SELECT vec_id, cid FROM ranked_cells WHERE rn = 1),
    qprobe AS (SELECT vec_id, cid FROM ranked_cells WHERE rn <= {_N_PROBE} AND vec_id < 10),
    scored AS (
      SELECT qa.vec_id AS query_id, na.vec_id AS neighbor_id,
             list_dot_product(q.v, x.v) / (q.nrm * x.nrm) AS cs
      FROM qprobe qa
      JOIN assign na ON na.cid = qa.cid AND na.vec_id <> qa.vec_id
      JOIN n q ON q.vec_id = qa.vec_id
      JOIN n x ON x.vec_id = na.vec_id
    ), ranked AS (
      SELECT query_id, neighbor_id, cs,
             row_number() OVER (PARTITION BY query_id ORDER BY cs DESC, neighbor_id) AS rk
      FROM scored
    )
    SELECT query_id, neighbor_id, CAST(rk AS BIGINT) AS rk, round(cs, 6) AS cos_sim
    FROM ranked WHERE rk <= 5
    ORDER BY query_id, rk
    """,
)
def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: assign every vector to its nearest of 8 fixed
    centroid vectors (a deterministic stand-in for a trained k-means
    coarse quantizer — vec_id < 8), then search the query's top-2
    cells (multi-probe, nprobe=2: the classic recall lever — most
    missed neighbors sit just across the nearest cell boundary).

    Scale shape: the centroid table is broadcast for assignment (one
    map-side pass over the corpus, no shuffle of the vectors), and
    candidate generation is an equi-join on cell id — per-cell work
    scaled by nprobe, never |Q|x|N|.  Each corpus vector lives in
    exactly one cell and the probed cells are distinct, so no pair is
    scored twice."""
    e = load_parallel(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", norm(F.col("embedding")).alias("nrm")
    )
    cent = e.filter(F.col("vec_id") < _N_CENTROIDS).select(
        F.col("vec_id").alias("cid"),
        F.col("embedding").alias("cv"),
        F.col("nrm").alias("cn"),
    )
    cs_cent = dot(F.col("embedding"), F.col("cv")) / (F.col("nrm") * F.col("cn"))
    w_assign = Window.partitionBy("vec_id").orderBy(
        F.col("cent_cs").desc(), F.col("cid")
    )
    ranked_cells = (
        e.crossJoin(F.broadcast(cent))
        .select("vec_id", "cid", cs_cent.alias("cent_cs"))
        .withColumn("rn", F.row_number().over(w_assign))
    )
    assign = ranked_cells.filter(F.col("rn") == 1).select("vec_id", "cid")
    qprobe = ranked_cells.filter(
        (F.col("rn") <= _N_PROBE) & (F.col("vec_id") < 10)
    ).select("vec_id", "cid")
    va = e.join(assign, "vec_id")
    q = e.join(qprobe, "vec_id").select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        F.col("nrm").alias("qn"),
        "cid",
    )
    x = va.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("nv"),
        F.col("nrm").alias("nn"),
        F.col("cid").alias("ncid"),
    )
    scored = (
        F.broadcast(q)
        .join(x, (F.col("ncid") == F.col("cid")) & (F.col("neighbor_id") != F.col("query_id")))
        .select(
            "query_id",
            "neighbor_id",
            (dot(F.col("qv"), F.col("nv")) / (F.col("qn") * F.col("nn"))).alias("cs"),
        )
    )
    return neighbor_ranks(scored, "cos_sim")


_SQL_MU_VEC = "list_transform(CAST(embedding AS DOUBLE[]), x -> CAST(floor(x * 1000000) AS BIGINT))"


@register(
    "sim_topk_pandas_udf",
    oracle=f"""
    WITH e AS (SELECT vec_id, label, {_SQL_MU_VEC} AS mu FROM embeddings),
    scored AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, b.label AS neighbor_label,
             CAST(list_dot_product(a.mu, b.mu) AS DOUBLE)
               / (sqrt(CAST(list_dot_product(a.mu, a.mu) AS DOUBLE))
                  * sqrt(CAST(list_dot_product(b.mu, b.mu) AS DOUBLE))) AS cs
      FROM e a JOIN e b ON b.vec_id <> a.vec_id
      WHERE a.vec_id < 5
    ), ranked AS (
      SELECT query_id, neighbor_id, neighbor_label, cs,
             row_number() OVER (PARTITION BY query_id ORDER BY cs DESC, neighbor_id) AS rk
      FROM scored
    )
    SELECT query_id, neighbor_id, neighbor_label,
           CAST(rk AS BIGINT) AS rk, round(cs, 6) AS cos_sim
    FROM ranked WHERE rk <= 10
    ORDER BY query_id, rk
    """,
)
def sim_topk_pandas_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Arrow path for vector scoring: mapInPandas computes the
    query×corpus similarity block with one numpy integer matmul per
    Arrow batch (at 768+ dims BLAS beats a per-element JVM fold; this
    is the vectorized-UDF escape hatch SURVEY §2.10 U2 reserves for
    exactly this case).  Components snap to integer micro-units so
    numpy's pairwise summation, Spark's sequential fold, and DuckDB's
    list_dot_product all produce the SAME exact integer dot product —
    the pandas variant shares its ranking semantics with
    sim_topk_bruteforce and is value-checked against the same
    micro-unit oracle.

    Scale shape: the 5-vector query block ships in the closure (a real
    deployment broadcasts it); the corpus is never shuffled — each
    partition scores its rows independently and only (query, neighbor,
    score) triples reach the top-k window.
    """
    import numpy as np
    import pandas as pd

    e = load_parallel(spark, sf_dir, "embeddings")
    q_rows = (
        e.filter(F.col("vec_id") < 5).select("vec_id", "embedding").collect()
    )
    q_ids = np.array([r.vec_id for r in q_rows], dtype=np.int64)
    q_mu = np.array(
        [np.floor(np.asarray(r.embedding, dtype=np.float64) * 1_000_000) for r in q_rows],
        dtype=np.int64,
    )
    q_norm = np.sqrt((q_mu * q_mu).sum(axis=1).astype(np.float64))

    def score(batches):
        for pdf in batches:
            mu = np.array(
                [
                    np.floor(np.asarray(v, dtype=np.float64) * 1_000_000)
                    for v in pdf["embedding"]
                ],
                dtype=np.int64,
            )
            dots = mu @ q_mu.T  # exact int64: |mu|<=1e6, 64 dims < 2^63
            norms = np.sqrt((mu * mu).sum(axis=1).astype(np.float64))
            cs = dots.astype(np.float64) / (norms[:, None] * q_norm[None, :])
            n, k = cs.shape
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(q_ids[None, :], n, axis=0).ravel(),
                    "neighbor_id": np.repeat(
                        pdf["vec_id"].to_numpy(dtype=np.int64), k
                    ),
                    "neighbor_label": np.repeat(
                        pdf["label"].to_numpy(dtype=np.int64), k
                    ),
                    "cs": cs.ravel(),
                }
            )

    scored = e.select("vec_id", "label", "embedding").mapInPandas(
        score,
        "query_id long, neighbor_id long, neighbor_label long, cs double",
    ).filter(F.col("neighbor_id") != F.col("query_id"))
    w = Window.partitionBy("query_id").orderBy(F.col("cs").desc(), "neighbor_id")
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 10)
        .select(
            "query_id",
            "neighbor_id",
            "neighbor_label",
            "rk",
            F.round("cs", 6).alias("cos_sim"),
        )
        .orderBy("query_id", "rk")
    )


# ------------------------------------------------- binary quantization
#
# Sign-bit codes: 64 float dims -> 64 bits, a 32x compression that
# turns candidate scoring into XOR+popcount — the cheapest ANN
# shortlist there is (SIMD popcount at ~memory bandwidth on a real
# cluster; here, whole-stage codegen over two BIGINT columns).  Codes
# are packed as TWO 32-bit limbs, not one 64-bit word: bit 63 would
# make the value sign-flip, and signed-overflow behavior is not
# portable across engines (the same lesson as the 256-bit SimHash
# limbs).  Spark packs via an aggregate() HOF (acc*2+bit, JVM-side);
# DuckDB restates the identical closed form, so every code and every
# Hamming distance is value-compared.

_BQ_LO = (
    "aggregate(sequence(32, 1, -1), 0L,"
    " (acc, j) -> acc * 2L + IF(element_at(embedding, j) >= 0.0, 1L, 0L))"
)
_BQ_HI = (
    "aggregate(sequence(64, 33, -1), 0L,"
    " (acc, j) -> acc * 2L + IF(element_at(embedding, j) >= 0.0, 1L, 0L))"
)


def _sql_bq_limb(lo_dim: int, hi_dim: int) -> str:
    return " + ".join(
        f"(CASE WHEN v[{j}] >= 0 THEN {1 << (j - lo_dim)} ELSE 0 END)"
        for j in range(lo_dim, hi_dim + 1)
    )


_SQL_BQ_CODES = f"""
    e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    c AS (SELECT vec_id, label, v,
                 {_sql_bq_limb(1, 32)} AS lo,
                 {_sql_bq_limb(33, 64)} AS hi
          FROM e)
"""


@register(
    "sim_binary_hamming_topk",
    oracle=f"""
    WITH {_SQL_BQ_CODES},
    scored AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) AS hd
      FROM c a JOIN c b ON b.vec_id <> a.vec_id
      WHERE a.vec_id < 5
    ),
    ranked AS (
      SELECT query_id, neighbor_id, hd,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY hd, neighbor_id) AS rk
      FROM scored
    )
    SELECT query_id, neighbor_id, CAST(hd AS INT) AS hamming,
           CAST(rk AS BIGINT) AS rk
    FROM ranked WHERE rk <= 10
    ORDER BY query_id, rk
    """,
)
def sim_binary_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-quantized ANN: sign-bit codes (two 32-bit limbs), exact
    Hamming top-10 per query via XOR + bit_count — everything inside
    whole-stage codegen, zero Python.  Scale shape: codes are 16 bytes
    a row, the query side is broadcast, the corpus scan never carries
    the float vectors (column pruning drops `embedding` after the
    pack), and ranking is a per-query partial top-k."""
    e = load_parallel(spark, sf_dir, "embeddings")
    codes = e.select(
        "vec_id", F.expr(_BQ_LO).alias("lo"), F.expr(_BQ_HI).alias("hi")
    )
    q = codes.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("lo").alias("qlo"),
        F.col("hi").alias("qhi"),
    )
    scored = (
        F.broadcast(q)
        .join(codes.withColumnRenamed("vec_id", "neighbor_id"),
              F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id", "neighbor_id",
            (F.expr("bit_count(qlo ^ lo) + bit_count(qhi ^ hi)")).alias("hd"),
        )
    )
    w = Window.partitionBy("query_id").orderBy("hd", "neighbor_id")
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 10)
        .select("query_id", "neighbor_id",
                F.col("hd").cast("int").alias("hamming"), "rk")
        .orderBy("query_id", "rk")
    )


@register(
    "sim_binary_rerank_topk",
    oracle=f"""
    WITH {_SQL_BQ_CODES},
    scored AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) AS hd,
             a.v AS qv, b.v AS nv
      FROM c a JOIN c b ON b.vec_id <> a.vec_id
      WHERE a.vec_id < 5
    ),
    shortlist AS (
      SELECT query_id, neighbor_id, qv, nv,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY hd, neighbor_id) AS hrk
      FROM scored
    ),
    rerank AS (
      SELECT query_id, neighbor_id,
             list_dot_product(qv, nv)
               / (sqrt(list_dot_product(qv, qv))
                  * sqrt(list_dot_product(nv, nv))) AS cs
      FROM shortlist WHERE hrk <= 50
    ),
    ranked AS (
      SELECT query_id, neighbor_id, cs,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cs DESC, neighbor_id) AS rk
      FROM rerank
    )
    SELECT query_id, neighbor_id, CAST(rk AS BIGINT) AS rk,
           round(cs, 6) AS cos_sim
    FROM ranked WHERE rk <= 10
    ORDER BY query_id, rk
    """,
)
def sim_binary_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production two-stage shape: Hamming shortlist (top-50 on
    16-byte codes) then exact cosine rerank of the shortlist only —
    float vectors are touched for 50 candidates per query instead of
    the whole corpus.  At 100 TB the shortlist pass reads 32x less
    data than brute force and the rerank joins the shortlist ids back
    to the vector store (broadcast of |Q|*50 ids)."""
    e = load_parallel(spark, sf_dir, "embeddings")
    codes = e.select(
        "vec_id",
        F.col("embedding").alias("nv"),
        F.expr(_BQ_LO).alias("lo"),
        F.expr(_BQ_HI).alias("hi"),
    )
    q = codes.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("nv").alias("qv"),
        F.col("lo").alias("qlo"),
        F.col("hi").alias("qhi"),
    )
    scored = (
        F.broadcast(q)
        .join(codes.withColumnRenamed("vec_id", "neighbor_id"),
              F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id", "neighbor_id", "qv", "nv",
            F.expr("bit_count(qlo ^ lo) + bit_count(qhi ^ hi)").alias("hd"),
        )
    )
    hw = Window.partitionBy("query_id").orderBy("hd", "neighbor_id")
    shortlist = (
        scored.withColumn("hrk", F.row_number().over(hw))
        .filter(F.col("hrk") <= 50)
        .select(
            "query_id", "neighbor_id",
            (dot(F.col("qv"), F.col("nv"))
             / (norm(F.col("qv")) * norm(F.col("nv")))).alias("cs"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cs").desc(), "neighbor_id")
    return (
        shortlist.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 10)
        .select("query_id", "neighbor_id", "rk", F.round("cs", 6).alias("cos_sim"))
        .orderBy("query_id", "rk")
    )


_MRL_PREFIX = 16  # truncation: first 16 of 64 dims (4x compression)


@register(
    "sim_matryoshka_truncation_recall",
    # Both rankings restated in SQL; the verdict columns are INTEGERS
    # (overlap count, top-1 ids), so the hash carries no float at all —
    # the cosine enters only through the rankings, whose ties break on
    # neighbor_id exactly as the Spark side does.
    oracle=f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    fullr AS (
      SELECT query_id, neighbor_id, rk FROM (
        SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
               row_number() OVER (
                 PARTITION BY a.vec_id
                 ORDER BY {_SQL_COS} DESC, b.vec_id) AS rk
        FROM e a JOIN e b ON b.vec_id <> a.vec_id
        WHERE a.vec_id < 8) t
      WHERE rk <= 10
    ),
    et AS (SELECT vec_id, v[1:{_MRL_PREFIX}] AS v FROM e),
    truncr AS (
      SELECT query_id, neighbor_id, rk FROM (
        SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
               row_number() OVER (
                 PARTITION BY a.vec_id
                 ORDER BY {_SQL_COS} DESC, b.vec_id) AS rk
        FROM et a JOIN et b ON b.vec_id <> a.vec_id
        WHERE a.vec_id < 8) t
      WHERE rk <= 10
    )
    SELECT f.query_id,
           CAST(COUNT(t.neighbor_id) AS BIGINT) AS n_overlap_top10,
           CAST(MAX(CASE WHEN f.rk = 1 THEN f.neighbor_id END) AS BIGINT)
             AS full_top1,
           (SELECT CAST(MAX(CASE WHEN rk = 1 THEN neighbor_id END) AS BIGINT)
            FROM truncr WHERE query_id = f.query_id) AS trunc_top1
    FROM fullr f
    LEFT JOIN truncr t
      ON t.query_id = f.query_id AND t.neighbor_id = f.neighbor_id
    GROUP BY f.query_id
    ORDER BY f.query_id
    """,
)
def sim_matryoshka_truncation_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 (r9 wave 3) — Matryoshka truncation evaluation (Kusupati et
    al. 2022): rank the corpus under FULL 64-dim cosine and under the
    FIRST-16-DIM prefix (the 4x-cheaper representation MRL-trained
    models expose), and report per query the top-10 overlap and both
    top-1 ids — the measurement that decides whether a deployment can
    serve the truncated index.  (These fixtures are not MRL-trained,
    so overlap quantifies exactly how much an untrained truncation
    loses — the honest baseline an MRL model is sold against.)

    Scale shape: two broadcast-query brute-force rankings (the exact
    referee, corpus never shuffled, per-query partial top-k); at
    100 TB the production side would be the IVF/PQ index over the
    truncated vectors with this query as its recall referee."""
    e = load_parallel(spark, sf_dir, "embeddings")

    def topk(vec_col: F.Column, k: int = 10) -> DataFrame:
        q = e.filter(F.col("vec_id") < 8).select(
            F.col("vec_id").alias("query_id"),
            vec_col.alias("qv"),
        )
        n = e.select(F.col("vec_id").alias("neighbor_id"), vec_col.alias("nv"))
        scored = (
            F.broadcast(q)
            .join(n, F.col("neighbor_id") != F.col("query_id"))
            .select(
                "query_id",
                "neighbor_id",
                (
                    dot(F.col("qv"), F.col("nv"))
                    / (norm(F.col("qv")) * norm(F.col("nv")))
                ).alias("cs"),
            )
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col("cs").desc(), F.col("neighbor_id")
        )
        return (
            scored.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= k)
            .select("query_id", "neighbor_id", "rk")
        )

    fullr = topk(F.col("embedding"))
    truncr = topk(F.slice(F.col("embedding"), 1, _MRL_PREFIX))
    t1f = fullr.filter(F.col("rk") == 1).select(
        "query_id", F.col("neighbor_id").cast("long").alias("full_top1")
    )
    t1t = truncr.filter(F.col("rk") == 1).select(
        "query_id", F.col("neighbor_id").cast("long").alias("trunc_top1")
    )
    ov = (
        fullr.join(truncr, ["query_id", "neighbor_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_overlap_top10"))
    )
    return (
        fullr.select("query_id")
        .distinct()
        .join(ov, "query_id", "left")
        .fillna(0, ["n_overlap_top10"])
        .join(t1f, "query_id")
        .join(t1t, "query_id")
        .select("query_id", "n_overlap_top10", "full_top1", "trunc_top1")
        .orderBy("query_id")
    )


_SQL_HARDNEG_ORACLE = f"""
    WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
    scored AS (
      SELECT a.vec_id AS anchor_id, a.label AS anchor_label,
             b.vec_id AS neighbor_id, b.label AS neighbor_label,
             {_SQL_COS} AS cs
      FROM e a JOIN e b ON b.vec_id <> a.vec_id
      WHERE a.vec_id % 50 = 0
    ),
    neg AS (
      SELECT anchor_id, neighbor_id, neighbor_label, cs,
             row_number() OVER (PARTITION BY anchor_id
                                ORDER BY cs DESC, neighbor_id) AS rk
      FROM scored
      WHERE neighbor_label <> anchor_label AND cs < 0.95
    ),
    dups AS (
      SELECT anchor_id,
             CAST(SUM(CASE WHEN cs >= 0.95 OR neighbor_label = anchor_label
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_excluded
      FROM scored GROUP BY anchor_id
    )
    SELECT n.anchor_id, n.neighbor_id, n.neighbor_label,
           CAST(n.rk AS BIGINT) AS rk, round(n.cs, 6) AS cos_sim,
           d.n_excluded
    FROM neg n JOIN dups d ON d.anchor_id = n.anchor_id
    WHERE n.rk <= 5
    ORDER BY n.anchor_id, n.rk
    """


@register("sim_hard_negative_mining", oracle=_SQL_HARDNEG_ORACLE)
def sim_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 extension (r11) — HARD-NEGATIVE MINING, the contrastive-
    training data op: per anchor (every 50th vector — the sampled
    anchor set a trainer draws per epoch), rank all candidates by
    cosine and keep the top 5 that are (a) NOT the anchor's own class
    (those are positives) and (b) NOT near-duplicates (cos >= 0.95 —
    mining those as negatives poisons the loss; cf. SimCLR/DPR
    practice).  Also emits how many candidates each anchor EXCLUDED —
    the dup-contamination signal a curation dashboard tracks.

    Scale shape: anchors are a broadcast-sized sample; the corpus is
    never shuffled (per-anchor partial top-k under the window).  At
    100 TB the candidate pass routes through the IVF/LSH bucketed
    paths (sim_ivf_*, sim_lsh_*) exactly like every other top-k in
    this family — the exactness here is the referee discipline."""
    e = load_parallel(spark, sf_dir, "embeddings")
    a = e.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("anchor_label"),
        F.col("embedding").alias("av"),
        norm(F.col("embedding")).alias("an"),
    )
    n = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("neighbor_label"),
        F.col("embedding").alias("nv"),
        norm(F.col("embedding")).alias("nn"),
    )
    scored = (
        F.broadcast(a)
        .join(n, F.col("neighbor_id") != F.col("anchor_id"))
        .select(
            "anchor_id",
            "anchor_label",
            "neighbor_id",
            "neighbor_label",
            (dot(F.col("av"), F.col("nv")) / (F.col("an") * F.col("nn")))
            .alias("cs"),
        )
    )
    excluded = (
        (F.col("cs") >= 0.95)
        | (F.col("neighbor_label") == F.col("anchor_label"))
    ).cast("long")
    dups = scored.groupBy("anchor_id").agg(
        F.sum(excluded).alias("n_excluded")
    )
    neg = scored.filter(
        (F.col("neighbor_label") != F.col("anchor_label"))
        & (F.col("cs") < 0.95)
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.col("cs").desc(), F.col("neighbor_id")
    )
    return (
        neg.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 5)
        .join(F.broadcast(dups), "anchor_id")
        .select(
            "anchor_id",
            "neighbor_id",
            "neighbor_label",
            "rk",
            F.round(F.col("cs"), 6).alias("cos_sim"),
            "n_excluded",
        )
        .orderBy("anchor_id", "rk")
    )


def _knn_bit_sql(d: int, flip: int | None, engine: str) -> str:
    """One bucket character from the sign of coordinate ``d``
    (1-based), optionally negated (``flip``).  DuckDB arrays are
    1-indexed (`v[d]`); Spark uses element_at."""
    acc = f"v[{d}]" if engine == "duck" else f"element_at(embedding, {d})"
    one, zero = ("'0'", "'1'") if flip == d else ("'1'", "'0'")
    return f"(CASE WHEN {acc} >= 0 THEN {one} ELSE {zero} END)"


def _knn_key_sql(
    flip: int | None, engine: str, dims: tuple[int, ...] = _LSH_DIMS
) -> str:
    return " || ".join(_knn_bit_sql(d, flip, engine) for d in dims)


#: 16-bit bucket key for the width-rule twin (stride 4 over 64 dims)
_KNN_WIDE_DIMS = tuple(range(1, 64, 4))


def _knn_graph_ctes(dims: tuple[int, ...]) -> str:
    """The bucketed k-NN-graph CTE chain at any key width — the bucket
    key, the (1 + len(dims))-probe expansion, the candidate join, and
    the ranked top-5, restated in DuckDB as composable CTEs (consumed
    by the graph oracle and the component-clustering oracle)."""
    probes_union = " ".join(
        f"UNION ALL SELECT vec_id, {_knn_key_sql(d, 'duck', dims)} FROM e"
        for d in dims
    )
    return f"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    keyed AS (SELECT vec_id, v, {_knn_key_sql(None, "duck", dims)} AS bucket FROM e),
    probes AS (
      SELECT vec_id, bucket AS probe FROM keyed
      {probes_union}
    ),
    cands AS (
      SELECT DISTINCT a.vec_id AS vec_id, b.vec_id AS neighbor_id
      FROM probes a JOIN keyed b ON b.bucket = a.probe
      WHERE b.vec_id <> a.vec_id
    ),
    scored AS (
      SELECT c.vec_id, c.neighbor_id,
             list_dot_product(x.v, y.v)
               / (sqrt(list_dot_product(x.v, x.v))
                  * sqrt(list_dot_product(y.v, y.v))) AS cs
      FROM cands c
      JOIN e x ON x.vec_id = c.vec_id
      JOIN e y ON y.vec_id = c.neighbor_id
    ),
    ranked AS (
      SELECT vec_id, neighbor_id, cs,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY cs DESC, neighbor_id) AS rk
      FROM scored
    )"""


def _knn_graph_oracle(dims: tuple[int, ...]) -> str:
    return f"""
    WITH {_knn_graph_ctes(dims)}
    SELECT vec_id, neighbor_id, CAST(rk AS BIGINT) AS rk,
           round(cs, 6) AS cos_sim
    FROM ranked WHERE rk <= 5
    ORDER BY vec_id, rk
    """


def _knn_graph(
    spark: SparkSession, sf_dir: str, dims: tuple[int, ...]
) -> DataFrame:
    """The bucketed k-NN-graph build at any key width (the Spark half
    of _knn_graph_oracle)."""
    e = load_parallel(spark, sf_dir, "embeddings")
    keyed = e.select(
        "vec_id",
        "embedding",
        F.expr(_knn_key_sql(None, "spark", dims)).alias("bucket"),
        norm(F.col("embedding")).alias("nn"),
    ).localCheckpoint(eager=True)
    probes = keyed.select(
        "vec_id",
        F.explode(
            F.array(
                F.col("bucket"),
                *[F.expr(_knn_key_sql(d, "spark", dims)) for d in dims],
            )
        ).alias("probe"),
    )
    cands = (
        probes.join(
            keyed.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("bucket").alias("probe"),
            ),
            "probe",
        )
        .filter(F.col("vec_id") != F.col("neighbor_id"))
        .select("vec_id", "neighbor_id")
        .distinct()
    )
    x = keyed.select("vec_id", F.col("embedding").alias("xv"), F.col("nn").alias("xn"))
    y = keyed.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("yv"),
        F.col("nn").alias("yn"),
    )
    scored = (
        cands.join(x, "vec_id")
        .join(y, "neighbor_id")
        .select(
            "vec_id",
            "neighbor_id",
            (dot_np(F.col("xv"), F.col("yv")) / (F.col("xn") * F.col("yn"))).alias("cs"),
        )
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("cs").desc(), "neighbor_id")
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 5)
        .select("vec_id", "neighbor_id", "rk", F.round("cs", 6).alias("cos_sim"))
        .orderBy("vec_id", "rk")
    )


@register("emb_knn_graph", oracle=_knn_graph_oracle(_LSH_DIMS))
def emb_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2, r13 — corpus k-NN GRAPH construction via multi-probe
    sign-LSH: every vector's top-5 cosine neighbors among the
    candidates that share its sign bucket OR any one-bit-flip probe of
    it (9 probes per vector at the 8-bit key).  The k-NN graph is the
    input artifact of the embedding-space curation family — SemDeDup
    clustering, graph-connected near-dup components, and diversity
    sampling all start from exactly this edge list — and building it
    bucketed is what makes it possible at all: candidates are bounded
    per bucket, never |N|^2.

    The oracle restates the bucketed build EXACTLY (same key, same
    probe expansion, same candidate join) — it pins the graph the
    scale path actually produces, not an idealized exact graph; the
    recall referee against exact top-k is sim_topk_bruteforce's
    family.

    Scale shape: the probe join shuffles (1 + key_width) key rows per
    vector against the bucket-keyed corpus; scoring touches candidate
    pairs only, and the per-vector top-5 is a partitioned window over
    those candidates.  The measured 16× point (BASELINE §2) shows the
    FIXED 8-bit key saturating at 32k vectors — the width rule; the
    w=16 twin below is the demonstrated fix.  Dot products are
    sequential folds (deterministic summation order, matching DuckDB's
    list_dot_product) — the graph is bit-reproducible."""
    return _knn_graph(spark, sf_dir, _LSH_DIMS)


@register("emb_knn_graph_wide", oracle=_knn_graph_oracle(_KNN_WIDE_DIMS))
def emb_knn_graph_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2, r13 — the WIDTH-RULE twin of emb_knn_graph: the identical
    build at a 16-bit bucket key (65k buckets vs 256).  Same pattern
    as the SimHash w=16 vs w=32 pair (BASELINE §3): the key space must
    dwarf corpus/bucket-size or bucket joins saturate toward
    quadratic; widening the key is a plan-shape no-op (the same equi
    join, longer key strings) that trades candidate recall for bounded
    fan-in — at 1e10 vectors you'd widen further AND OR multiple
    tables for recall (sim_lsh_multitable_topk's amplification).  The
    16× scaling rows for the pair measure the rule directly."""
    return _knn_graph(spark, sf_dir, _KNN_WIDE_DIMS)


_KNN_CC_TAU = 0.35  # cosine threshold for a "semantic near-dup" edge —
# fixture-calibrated (the sf0.01 embeddings are non-replica, max knn
# cosine ~0.5); production calibrates this with cur_quality_roc_sweep's
# threshold-sweep shape against labeled pairs.  Edges are MUTUAL-kNN
# (each endpoint in the other's top-5): the standard sparsification —
# hub vectors cannot chain unrelated neighborhoods into one giant
# component, which also bounds the reachability fixpoint at any scale


@register(
    "dedup_knn_components",
    # The oracle restates: knn edges (the bucketed graph, EXACTLY as
    # emb_knn_graph builds it) -> keep pairs with round(cs,6) >= tau ->
    # undirected components as a recursive reachability fixpoint;
    # cluster id = smallest member, n_members per cluster.
    oracle=f"""
    WITH RECURSIVE {_knn_graph_ctes(_LSH_DIMS)},
    knn AS (SELECT vec_id, neighbor_id, cs FROM ranked WHERE rk <= 5),
    pairs AS (
      SELECT DISTINCT a.vec_id AS va, a.neighbor_id AS vb
      FROM knn a JOIN knn b
        ON b.vec_id = a.neighbor_id AND b.neighbor_id = a.vec_id
      WHERE a.vec_id < a.neighbor_id AND round(a.cs, 6) >= {_KNN_CC_TAU}
    ),
    edges AS (
      SELECT va AS a, vb AS b FROM pairs
      UNION ALL SELECT vb, va FROM pairs
    ),
    nodes AS (SELECT DISTINCT a AS vec FROM edges),
    reach(vec, root) AS (
      SELECT vec, vec FROM nodes
      UNION
      SELECT e.b, r.root FROM reach r JOIN edges e ON e.a = r.vec
    ),
    labels AS (
      SELECT vec, MIN(root) AS cluster_id FROM reach GROUP BY vec
    )
    SELECT vec AS vec_id,
           CAST(cluster_id AS BIGINT) AS cluster_id,
           CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT)
             AS n_members
    FROM labels
    ORDER BY vec_id
    """,
)
def dedup_knn_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1 ∘ X2, r13 — SEMANTIC near-dup clusters: connected components
    over the k-NN graph's edges above a cosine threshold.  This is the
    embedding-space dual of dedup_cc_clusters (which components over
    LSH token-shingle pairs): paraphrases and translations that share
    no shingles but sit close in embedding space cluster HERE, and the
    cluster id (smallest member) is the canonical keeper exactly as in
    the LSH family — production pipelines run both and union the
    verdicts.  Threshold calibration is cur_quality_roc_sweep's job
    against labeled pairs; the fixture value is documented above.

    Scale shape: edges come from the bucketed knn build (never
    all-pairs); each propagation round is one join edges⋈labels + a
    min-agg with shuffle bounded by |edges|; rounds = component
    diameter (near-dup clusters are shallow); lineage is truncated per
    round with localCheckpoint (the dedup_cc_clusters discipline).
    The DuckDB oracle states the same fixpoint declaratively as a
    recursive CTE."""
    knn = _knn_graph(spark, sf_dir, _LSH_DIMS).localCheckpoint(eager=True)
    a = knn.alias("a")
    b = knn.select(
        F.col("vec_id").alias("b_vec"), F.col("neighbor_id").alias("b_nb")
    )
    pairs = (
        a.join(
            b,
            (F.col("b_vec") == F.col("a.neighbor_id"))
            & (F.col("b_nb") == F.col("a.vec_id")),
        )
        .filter(
            (F.col("a.vec_id") < F.col("a.neighbor_id"))
            & (F.col("a.cos_sim") >= _KNN_CC_TAU)
        )
        .select(
            F.col("a.vec_id").alias("va"), F.col("a.neighbor_id").alias("vb")
        )
        .distinct()
    )
    edges = (
        pairs.selectExpr("va AS a", "vb AS b")
        .unionAll(pairs.selectExpr("vb AS a", "va AS b"))
        .localCheckpoint(eager=True)
    )
    labels = (
        edges.select(F.col("a").alias("vec"))
        .distinct()
        .withColumn("cluster_id", F.col("vec"))
        .localCheckpoint(eager=True)
    )
    for _ in range(20):  # diameter bound; converges far earlier
        neighbor_min = (
            edges.join(labels, edges.b == labels.vec)
            .groupBy(F.col("a").alias("vec"))
            .agg(F.min("cluster_id").alias("nmin"))
        )
        new_labels = (
            labels.join(neighbor_min, "vec", "left")
            .select(
                "vec",
                F.least(
                    F.col("cluster_id"), F.coalesce("nmin", F.col("cluster_id"))
                ).alias("cluster_id"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "vec")
            .filter(F.col("n.cluster_id") != F.col("o.cluster_id"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    sizes = labels.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_members")
    )
    return (
        labels.join(sizes, "cluster_id")
        .select(
            F.col("vec").alias("vec_id"),
            F.col("cluster_id").cast("long"),
            "n_members",
        )
        .orderBy("vec_id")
    )
