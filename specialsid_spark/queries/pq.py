"""Product quantization (SURVEY.md §2.11 X2 — the ANN *compression*
path).

IVF (sim_ivf_topk) bounds how many candidates a query scores; PQ bounds
how much memory each candidate costs: a 64-dim float vector (256 B)
becomes M=8 sub-codes into K=16-entry codebooks — 8 codes ≈ 4-8 B, a
32-64× compression.  At 1e10 vectors (100 TB corpus) the PQ codes of
the ENTIRE corpus fit in cluster memory (~80 GB), which is why
production ANN is IVF+PQ (Jégou et al., "Product Quantization for
Nearest Neighbor Search", TPAMI 2011) — compose these operators with
the IVF cells for the full IVFADC layout.

Determinism: all distances/dot products run on micro-unit integers
(floor(x·1e6)), so encode, distortion, and ADC scores are exact and
bit-identical in Spark and DuckDB; codebooks are the subvectors of the
first K corpus vectors (a deterministic stand-in for a trained
codebook, same device as sim_ivf_topk's centroids).  Ties in the
argmin break toward the lowest code id in both engines.

Stages: every query is built from one function per stage — the
subvector split (``_subvectors``, ``_codebook``), the encode
(``nearest_codes``, the grouped trainer's assignment kernel, in
operators/kmeans.py with the lattice snap and integer folds), the LUT
(``_lut``), the ADC score (``_adc``), the shortlist + exact rerank
(``_rerank``) and the ranked output (``neighbor_ranks``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from specialsid_spark.catalog import load_parallel
from specialsid_spark.operators.kmeans import idot, inorm2, lattice, nearest_codes
from specialsid_spark.queries import register
from specialsid_spark.queries._determinism import neighbor_ranks

_M = 8  # subvectors per vector (64 dims -> 8 dims each)
_K = 16  # codebook entries per subvector
_SUB = 8  # dims per subvector

_SQL_MU = "list_transform(CAST(embedding AS DOUBLE[]), x -> CAST(floor(x * 1000000) AS BIGINT))"

#: Shared CTE chain: micro-unit vectors -> subvectors -> codebooks ->
#: per-(vec, m) argmin codes with exact squared-L2 distances.
_SQL_CODES = f"""
    e AS (SELECT vec_id, {_SQL_MU} AS mu FROM embeddings),
    ms AS (SELECT unnest(range(0, {_M})) AS m),
    sub AS (
      SELECT e.vec_id, ms.m, e.mu[{_SUB} * ms.m + 1 : {_SUB} * ms.m + {_SUB}] AS sv
      FROM e CROSS JOIN ms
    ),
    cb AS (SELECT m, vec_id AS k, sv AS cv FROM sub WHERE vec_id < {_K}),
    dist AS (
      SELECT s.vec_id, s.m, c.k,
             list_sum(list_transform(range(1, {_SUB + 1}),
                                     i -> (s.sv[i] - c.cv[i]) * (s.sv[i] - c.cv[i]))) AS d
      FROM sub s JOIN cb c ON c.m = s.m
    ),
    codes AS (
      SELECT vec_id, m, k AS code, d,
             row_number() OVER (PARTITION BY vec_id, m ORDER BY d, k) AS rn
      FROM dist
    ),
    chosen AS (SELECT vec_id, m, code, d FROM codes WHERE rn = 1)
"""


def _embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, mu): the corpus on the micro-unit lattice."""
    return load_parallel(spark, sf_dir, "embeddings").select(
        "vec_id", lattice(F.col("embedding")).alias("mu")
    )


def _subvectors(e: DataFrame) -> DataFrame:
    """(vec_id, m, sv): each micro-unit vector split into _M subvectors."""
    return e.selectExpr(
        "vec_id", f"explode(sequence(0, {_M - 1})) AS m", "mu"
    ).selectExpr("vec_id", "m", f"slice(mu, {_SUB} * m + 1, {_SUB}) AS sv")


def _codebook(e: DataFrame) -> DataFrame:
    """(m, cid, cv): the untrained codebook, the subvectors of the first
    _K corpus vectors."""
    return _subvectors(e.filter(F.col("vec_id") < _K)).selectExpr(
        "m", "vec_id AS cid", "sv AS cv"
    )


def _lut(sub: DataFrame, cb: DataFrame, n_query: int) -> DataFrame:
    """(qid, lm, k, pdot, c2): the LUT — each query subvector's exact
    partial dot with every codebook entry of its subspace, and that
    entry's squared norm; _M × _K rows per query, computed once."""
    q = sub.filter(F.col("vec_id") < n_query).withColumnRenamed("vec_id", "qid")
    return q.join(F.broadcast(cb), "m").select(
        "qid",
        F.col("m").alias("lm"),
        F.col("cid").alias("k"),
        idot(F.col("sv"), F.col("cv")).alias("pdot"),
        inorm2(F.col("cv")).alias("c2"),
    )


def _adc(codes: DataFrame, lut: DataFrame) -> DataFrame:
    """(qid, neighbor_id, adot, r2): ADC scoring — each neighbor's codes
    meet the broadcast LUT, and the partial dots (and the reconstructed
    neighbor's squared norm) sum per (query, neighbor)."""
    return (
        codes.join(
            F.broadcast(lut),
            (F.col("m") == F.col("lm"))
            & (F.col("cid") == F.col("k"))
            & (F.col("vec_id") != F.col("qid")),
        )
        .groupBy("qid", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("pdot").alias("adot"), F.sum("c2").alias("r2"))
    )


def _norms(e: DataFrame) -> DataFrame:
    """(vec_id, mu, nrm): each vector with the IEEE sqrt of its exact
    integer squared norm."""
    return e.withColumn("nrm", F.sqrt(inorm2(F.col("mu")).cast("double")))


def _adc_ranked(adc: DataFrame, e: DataFrame) -> DataFrame:
    """Top-5 by ADC cosine: the exact ADC dot over the query's norm and
    the reconstructed neighbor's (queries: vec_id < 5)."""
    qn = _norms(e.filter(F.col("vec_id") < 5)).selectExpr(
        "vec_id AS qid", "nrm AS qnorm"
    )
    cs = F.col("adot").cast("double") / (
        F.col("qnorm") * F.sqrt(F.col("r2").cast("double"))
    )
    return neighbor_ranks(
        adc.join(F.broadcast(qn), "qid").select(
            F.col("qid").alias("query_id"), "neighbor_id", cs.alias("cs")
        ),
        "adc_cos",
    )


def _rerank(adc: DataFrame, nv: DataFrame, r: int, n_query: int) -> DataFrame:
    """Top-5 by exact cosine over each query's ``r``-candidate ADC
    shortlist: only the shortlisted neighbors' full vectors (``nv``,
    from :func:`_norms`) are fetched and re-scored."""
    ws = Window.partitionBy("qid").orderBy(
        (F.col("adot").cast("double") / F.sqrt(F.col("r2").cast("double"))).desc(),
        "neighbor_id",
    )
    shortlist = (
        adc.withColumn("srk", F.row_number().over(ws))
        .filter(F.col("srk") <= r)
        .select("qid", "neighbor_id")
    )
    nvec = nv.selectExpr("vec_id AS nid", "mu AS nmu", "nrm AS nn")
    qvec = nv.filter(F.col("vec_id") < n_query).selectExpr(
        "vec_id AS qvid", "mu AS qmu", "nrm AS qn"
    )
    exact = (
        shortlist.join(nvec, F.col("neighbor_id") == F.col("nid"))
        .join(F.broadcast(qvec), F.col("qid") == F.col("qvid"))
        .select(
            F.col("qid").alias("query_id"),
            "neighbor_id",
            (
                idot(F.col("qmu"), F.col("nmu")).cast("double")
                / (F.col("qn") * F.col("nn"))
            ).alias("cs"),
        )
    )
    return neighbor_ranks(exact, "cos_sim")


@register(
    "emb_pq_encode",
    oracle=f"""
    WITH {_SQL_CODES}
    SELECT vec_id,
           array_to_string(list(code ORDER BY m), ',') AS codes,
           CAST(SUM(d) AS BIGINT) AS distortion
    FROM chosen
    GROUP BY vec_id
    ORDER BY vec_id
    """,
)
def emb_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ encode: each vector's 8 sub-codes plus its exact quantization
    distortion (Σ squared-L2 to the chosen codebook entries, micro-unit
    integers).  The codes column IS the compressed corpus — 8 small
    ints instead of 64 floats.

    The codes are emitted as a comma-joined STRING, not array<int>: the
    driver's pandas canonicalizer cannot sort array cells (this failed
    the r3 gate; tools/check_oracle.py now rejects nested output
    types).  The string is a bijective rendering of the code vector, so
    the hash compare still proves every code exactly."""
    e = _embeddings(spark, sf_dir)
    return (
        nearest_codes(_subvectors(e), _codebook(e))
        .groupBy("vec_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("m", "cid"))),
                    lambda s: s["cid"],
                ),
                ",",
            ).alias("codes"),
            F.sum("d").cast("long").alias("distortion"),
        )
        .orderBy("vec_id")
    )


@register(
    "sim_pq_adc_topk",
    oracle=f"""
    WITH {_SQL_CODES},
    qsub AS (SELECT vec_id AS qid, m, sv FROM sub WHERE vec_id < 5),
    lut AS (
      SELECT q.qid, c.m, c.k,
             list_sum(list_transform(range(1, {_SUB + 1}), i -> q.sv[i] * c.cv[i])) AS pdot,
             list_sum(list_transform(range(1, {_SUB + 1}), i -> c.cv[i] * c.cv[i])) AS c2
      FROM qsub q JOIN cb c ON c.m = q.m
    ),
    qn AS (
      SELECT vec_id AS qid, sqrt(CAST(list_sum(list_transform(mu, x -> x * x)) AS DOUBLE)) AS qnorm
      FROM e WHERE vec_id < 5
    ),
    scored AS (
      SELECT l.qid, ch.vec_id AS neighbor_id,
             SUM(l.pdot) AS adot, SUM(l.c2) AS r2
      FROM chosen ch
      JOIN lut l ON l.m = ch.m AND l.k = ch.code
      WHERE ch.vec_id <> l.qid
      GROUP BY 1, 2
    ),
    ranked AS (
      SELECT qid AS query_id, neighbor_id,
             CAST(s.adot AS DOUBLE) / (q.qnorm * sqrt(CAST(s.r2 AS DOUBLE))) AS cs,
             row_number() OVER (
               PARTITION BY qid
               ORDER BY CAST(s.adot AS DOUBLE) / (q.qnorm * sqrt(CAST(s.r2 AS DOUBLE))) DESC,
                        neighbor_id
             ) AS rk
      FROM scored s JOIN qn q USING (qid)
    )
    SELECT query_id, neighbor_id, CAST(rk AS BIGINT) AS rk, round(cs, 6) AS adc_cos
    FROM ranked WHERE rk <= 5
    ORDER BY query_id, rk
    """,
)
def sim_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over the PQ-compressed corpus:
    the query stays full-precision, each neighbor is its 8 codes, and
    the score is the dot product against the RECONSTRUCTED neighbor —
    computed as Σ_m LUT[m][code_m], where the LUT holds the query's
    exact partial dots with every codebook entry (M×K = 128 entries
    per query, computed once).

    This is the memory-bound ANN layout: the scoring join touches only
    (vec_id, m, code) int triples and a broadcast 128-row LUT — the
    original vectors are read once at encode time and never again.
    Compose with the IVF cells (sim_ivf_topk) for full IVFADC.  The
    approximation quality (vs exact brute force) is pinned by
    tests/test_ann_recall.py."""
    e = _embeddings(spark, sf_dir)
    sub, cb = _subvectors(e), _codebook(e)
    return _adc_ranked(_adc(nearest_codes(sub, cb), _lut(sub, cb, 5)), e)


_R = 50  # ADC shortlist size fed to exact re-ranking


@register(
    "sim_pq_rerank_topk",
    oracle=f"""
    WITH {_SQL_CODES},
    qsub AS (SELECT vec_id AS qid, m, sv FROM sub WHERE vec_id < 5),
    lut AS (
      SELECT q.qid, c.m, c.k,
             list_sum(list_transform(range(1, {_SUB + 1}), i -> q.sv[i] * c.cv[i])) AS pdot,
             list_sum(list_transform(range(1, {_SUB + 1}), i -> c.cv[i] * c.cv[i])) AS c2
      FROM qsub q JOIN cb c ON c.m = q.m
    ),
    adc AS (
      SELECT l.qid, ch.vec_id AS neighbor_id, SUM(l.pdot) AS adot, SUM(l.c2) AS r2
      FROM chosen ch JOIN lut l ON l.m = ch.m AND l.k = ch.code
      WHERE ch.vec_id <> l.qid
      GROUP BY 1, 2
    ),
    shortlist AS (
      SELECT qid, neighbor_id,
             row_number() OVER (
               PARTITION BY qid
               ORDER BY CAST(adot AS DOUBLE) / sqrt(CAST(r2 AS DOUBLE)) DESC, neighbor_id
             ) AS srk
      FROM adc
    ),
    exact AS (
      SELECT s.qid AS query_id, s.neighbor_id,
             CAST(list_sum(list_transform(range(1, 65), i -> q.mu[i] * n.mu[i])) AS DOUBLE)
               / (sqrt(CAST(list_sum(list_transform(q.mu, x -> x * x)) AS DOUBLE))
                  * sqrt(CAST(list_sum(list_transform(n.mu, x -> x * x)) AS DOUBLE))) AS cs
      FROM shortlist s
      JOIN e q ON q.vec_id = s.qid
      JOIN e n ON n.vec_id = s.neighbor_id
      WHERE s.srk <= {_R}
    ),
    ranked AS (
      SELECT query_id, neighbor_id, cs,
             row_number() OVER (PARTITION BY query_id ORDER BY cs DESC, neighbor_id) AS rk
      FROM exact
    )
    SELECT query_id, neighbor_id, CAST(rk AS BIGINT) AS rk, round(cs, 6) AS cos_sim
    FROM ranked WHERE rk <= 5
    ORDER BY query_id, rk
    """,
)
def sim_pq_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production PQ layout: ADC over the compressed corpus produces
    a {_R}-candidate shortlist per query (memory-bound, codes only),
    then ONLY those candidates' full vectors are fetched and re-scored
    with the exact micro-unit cosine — recall recovers to near-exact
    while the full-precision reads stay at R/|corpus| of the data.

    Scale shape: stage 1 touches (vec_id, m, code) triples + a
    broadcast LUT; stage 2 is an equi-join of R×|queries| ids against
    the vector table (a semi-join-sized read, pushed to the scan at
    real SFs).  Recall floor pinned in tests/test_ann_recall.py."""
    e = _embeddings(spark, sf_dir)
    sub, cb = _subvectors(e), _codebook(e)
    return _rerank(_adc(nearest_codes(sub, cb), _lut(sub, cb, 5)), _norms(e), _R, 5)


_N_CELLS = 8  # coarse IVF cells (same deterministic device as sim_ivf_topk)
_N_PROBE = 2  # query-side cells searched
_IVFPQ_R = 20  # ADC shortlist size per query


@register(
    "sim_ivfpq_topk",
    oracle=f"""
    WITH {_SQL_CODES},
    nv AS (
      SELECT vec_id, mu,
             sqrt(CAST(list_sum(list_transform(mu, x -> x * x)) AS DOUBLE)) AS nrm
      FROM e
    ),
    cent AS (SELECT vec_id AS cid, mu AS cv, nrm AS cn FROM nv WHERE vec_id < {_N_CELLS}),
    ranked_cells AS (
      SELECT a.vec_id, cent.cid,
             row_number() OVER (
               PARTITION BY a.vec_id
               ORDER BY CAST(list_sum(list_transform(range(1, 65),
                                                     i -> a.mu[i] * cent.cv[i])) AS DOUBLE)
                        / (a.nrm * cent.cn) DESC, cent.cid
             ) AS rn
      FROM nv a CROSS JOIN cent
    ),
    assign AS (SELECT vec_id, cid FROM ranked_cells WHERE rn = 1),
    qprobe AS (SELECT vec_id, cid FROM ranked_cells WHERE rn <= {_N_PROBE} AND vec_id < 10),
    qsub AS (SELECT vec_id AS qid, m, sv FROM sub WHERE vec_id < 10),
    lut AS (
      SELECT q.qid, c.m, c.k,
             list_sum(list_transform(range(1, {_SUB + 1}), i -> q.sv[i] * c.cv[i])) AS pdot,
             list_sum(list_transform(range(1, {_SUB + 1}), i -> c.cv[i] * c.cv[i])) AS c2
      FROM qsub q JOIN cb c ON c.m = q.m
    ),
    adc AS (
      SELECT qa.vec_id AS qid, na.vec_id AS neighbor_id,
             SUM(l.pdot) AS adot, SUM(l.c2) AS r2
      FROM qprobe qa
      JOIN assign na ON na.cid = qa.cid AND na.vec_id <> qa.vec_id
      JOIN chosen ch ON ch.vec_id = na.vec_id
      JOIN lut l ON l.qid = qa.vec_id AND l.m = ch.m AND l.k = ch.code
      GROUP BY 1, 2
    ),
    shortlist AS (
      SELECT qid, neighbor_id,
             row_number() OVER (
               PARTITION BY qid
               ORDER BY CAST(adot AS DOUBLE) / sqrt(CAST(r2 AS DOUBLE)) DESC, neighbor_id
             ) AS srk
      FROM adc
    ),
    exact AS (
      SELECT s.qid AS query_id, s.neighbor_id,
             CAST(list_sum(list_transform(range(1, 65), i -> q.mu[i] * n.mu[i])) AS DOUBLE)
               / (q.nrm * n.nrm) AS cs
      FROM shortlist s
      JOIN nv q ON q.vec_id = s.qid
      JOIN nv n ON n.vec_id = s.neighbor_id
      WHERE s.srk <= {_IVFPQ_R}
    ),
    ranked AS (
      SELECT query_id, neighbor_id, cs,
             row_number() OVER (PARTITION BY query_id ORDER BY cs DESC, neighbor_id) AS rk
      FROM exact
    )
    SELECT query_id, neighbor_id, CAST(rk AS BIGINT) AS rk, round(cs, 6) AS cos_sim
    FROM ranked WHERE rk <= 5
    ORDER BY query_id, rk
    """,
)
def sim_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full IVFADC (Jégou et al. 2011): coarse IVF cells bound WHICH
    candidates each query scores (nprobe={_N_PROBE} of {_N_CELLS}
    cells), PQ codes bound what each candidate COSTS to score (ADC
    against a broadcast LUT, compressed domain only), and the exact
    re-rank of the {_IVFPQ_R}-candidate shortlist recovers precision —
    the composition of `sim_ivf_topk` × `sim_pq_adc_topk` ×
    `sim_pq_rerank_topk` as one dataflow, which is the production ANN
    layout at 1e10 vectors: cells prune the corpus, codes fit in
    memory, full vectors are read only for R×|queries| rows.

    Everything that ranks is deterministic cross-engine: cell
    assignment and final cosines divide exact micro-unit integer dots
    by IEEE sqrt norms (identical doubles both engines), ADC sums are
    pure integers."""
    e = _embeddings(spark, sf_dir)
    sub, cb = _subvectors(e), _codebook(e)
    nv = _norms(e)
    cent = nv.filter(F.col("vec_id") < _N_CELLS).selectExpr(
        "vec_id AS cid", "mu AS cv", "nrm AS cn"
    )
    ranked_cells = (
        nv.crossJoin(F.broadcast(cent))
        .select(
            "vec_id",
            "cid",
            (
                idot(F.col("mu"), F.col("cv")).cast("double")
                / (F.col("nrm") * F.col("cn"))
            ).alias("cell_cs"),
        )
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("vec_id").orderBy(F.col("cell_cs").desc(), "cid")
            ),
        )
    )
    assign = ranked_cells.filter(F.col("rn") == 1).select("vec_id", "cid")
    qprobe = ranked_cells.filter(
        (F.col("rn") <= _N_PROBE) & (F.col("vec_id") < 10)
    ).select(F.col("vec_id").alias("qid"), "cid")
    lut = _lut(sub, cb, 10).withColumnRenamed("qid", "lqid")
    cand = qprobe.join(
        assign.selectExpr("vec_id AS neighbor_id", "cid AS ncid"),
        (F.col("ncid") == F.col("cid")) & (F.col("neighbor_id") != F.col("qid")),
    ).select("qid", "neighbor_id")
    # keyed on the query through its probed cells, so not _adc's join
    adc = (
        cand.join(nearest_codes(sub, cb), F.col("vec_id") == F.col("neighbor_id"))
        .join(
            F.broadcast(lut),
            (F.col("lqid") == F.col("qid"))
            & (F.col("lm") == F.col("m"))
            & (F.col("k") == F.col("cid")),
        )
        .groupBy("qid", "neighbor_id")
        .agg(F.sum("pdot").alias("adot"), F.sum("c2").alias("r2"))
    )
    return _rerank(adc, nv, _IVFPQ_R, 10)


# ------------------------- trained PQ (r7) -------------------------

_PQ_ITERS = 2  # Lloyd rounds per subspace (seed = the first-K device)


def _sql_trained_adc() -> str:
    """Oracle for sim_pq_trained_adc_topk: the _SQL_CODES subvector
    prefix, then one unrolled Lloyd chain PER SUBSPACE — expressed as a
    single grouped chain (the m column rides through every CTE), so 8
    codebooks train in the same 2 unrolled iterations — then the ADC
    scoring of sim_pq_adc_topk against the TRAINED codebook.  Exact
    because every step is the same integer lattice as
    operators/kmeans.py kmeans_fit_grouped (int64 distances,
    floored-mean updates, ties to the lowest cid, empty clusters keep
    position via the COALESCE left join)."""
    d2 = (
        f"list_sum(list_transform(range(1, {_SUB + 1}),"
        " i -> (s.sv[i] - c.cv[i]) * (s.sv[i] - c.cv[i])))"
    )
    parts = [
        f"e AS (SELECT vec_id, {_SQL_MU} AS mu FROM embeddings)",
        f"ms AS (SELECT unnest(range(0, {_M})) AS m)",
        f"""sub AS MATERIALIZED (
      SELECT e.vec_id, ms.m, e.mu[{_SUB} * ms.m + 1 : {_SUB} * ms.m + {_SUB}] AS sv
      FROM e CROSS JOIN ms
    )""",
        f"""tc0 AS MATERIALIZED (
      SELECT m, CAST(vec_id AS INT) AS cid, sv AS cv FROM sub WHERE vec_id < {_K}
    )""",
    ]
    for t in range(_PQ_ITERS):
        parts.append(
            f"""ta{t} AS MATERIALIZED (
      SELECT vec_id, m, sv, cid FROM (
        SELECT s.vec_id, s.m, s.sv, c.cid,
               row_number() OVER (PARTITION BY s.vec_id, s.m
                                  ORDER BY {d2}, c.cid) AS rn
        FROM sub s JOIN tc{t} c ON c.m = s.m
      ) WHERE rn = 1
    ),
    ts{t} AS MATERIALIZED (
      SELECT m, cid, pos,
             CAST(floor(CAST(SUM(v) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cm
      FROM (SELECT m, cid, unnest(sv) AS v,
                   unnest(range(1, {_SUB + 1})) AS pos FROM ta{t})
      GROUP BY 1, 2, 3
    ),
    tc{t + 1} AS MATERIALIZED (
      SELECT c.m, c.cid, COALESCE(n.cv, c.cv) AS cv
      FROM tc{t} c LEFT JOIN (SELECT m, cid, list(cm ORDER BY pos) AS cv
                              FROM ts{t} GROUP BY m, cid) n
        ON n.m = c.m AND n.cid = c.cid
    )"""
        )
    tf = f"tc{_PQ_ITERS}"
    parts.append(
        f"""chosen AS MATERIALIZED (
      SELECT vec_id, m, cid AS code FROM (
        SELECT s.vec_id, s.m, c.cid,
               row_number() OVER (PARTITION BY s.vec_id, s.m
                                  ORDER BY {d2}, c.cid) AS rn
        FROM sub s JOIN {tf} c ON c.m = s.m
      ) WHERE rn = 1
    ),
    qsub AS (SELECT vec_id AS qid, m, sv FROM sub WHERE vec_id < 5),
    lut AS (
      SELECT q.qid, c.m, c.cid AS k,
             list_sum(list_transform(range(1, {_SUB + 1}), i -> q.sv[i] * c.cv[i])) AS pdot,
             list_sum(list_transform(range(1, {_SUB + 1}), i -> c.cv[i] * c.cv[i])) AS c2
      FROM qsub q JOIN {tf} c ON c.m = q.m
    ),
    qn AS (
      SELECT vec_id AS qid,
             sqrt(CAST(list_sum(list_transform(mu, x -> x * x)) AS DOUBLE)) AS qnorm
      FROM e WHERE vec_id < 5
    ),
    scored AS (
      SELECT l.qid, ch.vec_id AS neighbor_id,
             SUM(l.pdot) AS adot, SUM(l.c2) AS r2
      FROM chosen ch
      JOIN lut l ON l.m = ch.m AND l.k = ch.code
      WHERE ch.vec_id <> l.qid
      GROUP BY 1, 2
    ),
    ranked AS (
      SELECT qid AS query_id, neighbor_id,
             CAST(s.adot AS DOUBLE) / (q.qnorm * sqrt(CAST(s.r2 AS DOUBLE))) AS cs,
             row_number() OVER (
               PARTITION BY qid
               ORDER BY CAST(s.adot AS DOUBLE) / (q.qnorm * sqrt(CAST(s.r2 AS DOUBLE))) DESC,
                        neighbor_id
             ) AS rk
      FROM scored s JOIN qn q USING (qid)
    )"""
    )
    return (
        "WITH " + ",\n    ".join(parts) + """
    SELECT query_id, neighbor_id, CAST(rk AS BIGINT) AS rk, round(cs, 6) AS adc_cos
    FROM ranked WHERE rk <= 5
    ORDER BY query_id, rk"""
    )


# trained-codebook snapshot tables, one per (process, sf_dir)
_PQ_INDEX_TABLES: dict[str, str] = {}


def pq_codebook_commit(spark: SparkSession, sf_dir: str) -> str:
    """Train the per-subspace codebooks ONCE (kmeans_fit_grouped, the
    grouped exact-integer Lloyd) and commit them to a snapshot table
    (rows: m, cid, cv) — the PQ half of the persisted-index story
    (ivf_index_commit is the coarse half): a 100 TB pipeline trains
    codebooks once and encodes/searches many times, with every
    codebook version time-travelable."""
    import os
    from pathlib import Path

    from specialsid_spark.operators.kmeans import kmeans_fit_grouped
    from specialsid_spark.operators.snapshot import snapshot_commit
    from specialsid_spark.session import session_workdir

    key = os.path.abspath(sf_dir)
    t = _PQ_INDEX_TABLES.get(key)
    if t is not None and Path(t).exists():
        return t
    sub = _subvectors(_embeddings(spark, sf_dir))
    cents, _ = kmeans_fit_grouped(sub, k=_K, iterations=_PQ_ITERS, dim=_SUB)
    df = spark.createDataFrame(
        [(m, cid, cv) for (m, cid), cv in sorted(cents.items())],
        "m int, cid int, cv array<bigint>",
    )
    t = str(Path(session_workdir("specialsid_pqidx_")) / "codebook")
    snapshot_commit(df.coalesce(1), t)
    _PQ_INDEX_TABLES[key] = t
    return t


@register("sim_pq_trained_adc_topk", oracle=_sql_trained_adc())
def sim_pq_trained_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r7 — TRAINED product quantization end-to-end, from the PERSISTED
    codebook: per-subspace codebooks are trained in-engine
    (kmeans_fit_grouped: one exact-integer Lloyd per subspace, seeded
    by the first-K device the untrained PQ queries use), committed to
    a snapshot table (pq_codebook_commit — versioned, time-travelable),
    loaded back, and used to encode the corpus and answer ADC top-5 —
    the trained twin of sim_pq_adc_topk, completing the
    train→persist→search trilogy for BOTH halves of IVFADC (coarse
    cells landed in sim_ivf_from_table_topk).

    Every stage is value-verified: the oracle re-derives the grouped
    Lloyd as one unrolled MATERIALIZED CTE chain (the m column rides
    through it, so 8 codebooks train in the same two iterations) and
    re-scores ADC exactly.

    Scale shape: training collects only M×K×8 integers per iteration;
    encoding meets a broadcast 128-row codebook map-side; the scoring
    join touches (vec_id, m, code) triples and a broadcast LUT — the
    sf-independent PQ promise."""
    from specialsid_spark.operators.snapshot import snapshot_read

    cb = snapshot_read(spark, pq_codebook_commit(spark, sf_dir))
    e = _embeddings(spark, sf_dir)
    sub = _subvectors(e).localCheckpoint(eager=True)
    return _adc_ranked(_adc(nearest_codes(sub, cb), _lut(sub, cb, 5)), e)
