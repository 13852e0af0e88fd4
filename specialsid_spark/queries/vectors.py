"""Vector-column aggregation ops over `embeddings` (SURVEY.md §2.11 X2
adjacent): per-group centroids, norm statistics, int8 quantization — the
array-typed reductions a training-data pipeline runs alongside ANN
search (centroid init for IVF/k-means, norm filtering, embedding
compression).

Cross-engine determinism: averaging float components across ROWS is
summation-order-dependent in double arithmetic, so components are first
snapped to exact integer micro-units (floor(x * 1e6) — floor, not
round, so there is no tie to decide differently) and summed as
integers; the single final division is the only floating-point op.
Per-ARRAY folds (norms) use the same micro-unit trick so the fold order
does not matter at all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from specialsid_spark.catalog import load, load_parallel
from specialsid_spark.operators.kmeans import (
    _MICRO,
    _dist2_sql,
    assign_clusters,
    idot,
    inorm2,
    kmeans_fit,
    kmeans_stats,
    lattice,
    micro,
)
from specialsid_spark.queries import register
from specialsid_spark.queries._determinism import TOPK, neighbor_ranks

# DuckDB twin of the micro-unit snap for one array element.
_SQL_MU = "CAST(floor(CAST({x} AS DOUBLE) * 1000000) AS BIGINT)"


@register(
    "emb_centroid_per_label",
    oracle=f"""
    WITH flat AS (
      SELECT e.label, i.i - 1 AS dim,
             {_SQL_MU.format(x="e.embedding[i.i]")} AS mu
      FROM embeddings e
      JOIN (SELECT unnest(generate_series(1, 64)) AS i) i
        ON i.i <= len(e.embedding)
    )
    SELECT label, CAST(dim AS INT) AS dim,
           CAST(SUM(mu) AS DOUBLE) / 1000000.0 / CAST(COUNT(*) AS DOUBLE)
             AS centroid,
           CAST(COUNT(*) AS BIGINT) AS n_vectors
    FROM flat
    GROUP BY label, dim
    HAVING dim < 8
    ORDER BY label, dim
    """,
)
def emb_centroid_per_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid (k-means/IVF seed step), long form — one row
    per (label, dimension), first 8 dims.  posexplode keeps the dim
    index without a join; the aggregation shuffles |labels|*|dims| keys
    regardless of corpus size, so this is map-side-combine friendly at
    100 TB (partial sums per partition, tiny final exchange).
    """
    e = load_parallel(spark, sf_dir, "embeddings")
    flat = e.select(
        "label", F.posexplode("embedding").alias("dim", "val")
    ).filter(F.col("dim") < 8)
    return (
        flat.groupBy("label", "dim")
        .agg(
            (
                F.sum(micro(F.col("val"))).cast("double")
                / _MICRO
                / F.count(F.lit(1)).cast("double")
            ).alias("centroid"),
            F.count(F.lit(1)).alias("n_vectors"),
        )
        .select("label", F.col("dim").cast("int").alias("dim"), "centroid", "n_vectors")
        .orderBy("label", "dim")
    )


@register(
    "emb_norm_bands",
    oracle=f"""
    WITH norms AS (
      SELECT label,
             sqrt(CAST(list_aggregate(
                    list_transform(embedding, x -> {_SQL_MU.format(x="x")}
                                                   * {_SQL_MU.format(x="x")}),
                    'sum') AS DOUBLE)) / 1000000.0 AS l2
      FROM embeddings
    )
    SELECT label, CAST(floor(l2) AS BIGINT) AS norm_band,
           CAST(COUNT(*) AS BIGINT) AS n,
           round(MIN(l2), 6) AS min_norm,
           round(MAX(l2), 6) AS max_norm
    FROM norms
    GROUP BY label, norm_band
    ORDER BY label, norm_band
    """,
)
def emb_norm_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2-norm histogram per label (norm filtering / calibration step).
    The norm is a per-array fold over exact integer squares — order-free
    — then one sqrt; min/max are exact so the band histogram matches
    bit-for-bit.  Purely map-side until the tiny band aggregation.
    """
    e = load_parallel(spark, sf_dir, "embeddings")
    sq_sum = inorm2(lattice(F.col("embedding")))
    norms = e.select(
        "label", (F.sqrt(sq_sum.cast("double")) / _MICRO).alias("l2")
    )
    return (
        norms.groupBy("label", F.floor("l2").alias("norm_band"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("l2"), 6).alias("min_norm"),
            F.round(F.max("l2"), 6).alias("max_norm"),
        )
        .orderBy("label", "norm_band")
    )


@register(
    "emb_quantize_int8",
    oracle=f"""
    WITH scaled AS (
      SELECT vec_id, label,
             CAST(list_aggregate(
                    list_transform(embedding, x -> abs({_SQL_MU.format(x="x")})),
                    'max') AS BIGINT) AS max_abs_mu
      FROM embeddings
    ), q AS (
      SELECT s.vec_id, s.label, s.max_abs_mu,
             list_aggregate(
               list_transform(e.embedding,
                 x -> CAST(floor(({_SQL_MU.format(x="x")} * 127.0)
                                 / s.max_abs_mu) AS BIGINT)),
               'sum') AS q_checksum
      FROM scaled s JOIN embeddings e USING (vec_id)
      WHERE s.max_abs_mu > 0
    )
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n_vectors,
           CAST(SUM(q_checksum) AS BIGINT) AS sum_checksum,
           CAST(MIN(max_abs_mu) AS DOUBLE) / 1000000.0 AS min_scale,
           CAST(MAX(max_abs_mu) AS DOUBLE) / 1000000.0 AS max_scale
    FROM q GROUP BY label ORDER BY label
    """,
)
def emb_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization (embedding compression for ANN
    serving): per-vector absmax scale, components mapped to
    floor(x*127/absmax).  All arithmetic on exact integer micro-units —
    the double division by max_abs_mu is the same op on both engines —
    and the per-label checksum proves value-level parity without
    emitting 64 columns.  Map-only until the |labels|-row aggregate.
    """
    e = load_parallel(spark, sf_dir, "embeddings")
    max_abs = F.aggregate(
        F.transform(F.col("embedding"), lambda x: F.abs(micro(x))),
        F.lit(0).cast("long"),
        lambda acc, v: F.greatest(acc, v),
    )
    with_scale = e.select("vec_id", "label", "embedding", max_abs.alias("max_abs_mu"))
    q_sum = F.aggregate(
        F.transform(
            F.col("embedding"),
            lambda x: F.floor((micro(x) * F.lit(127.0)) / F.col("max_abs_mu")).cast(
                "long"
            ),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    return (
        with_scale.filter(F.col("max_abs_mu") > 0)
        .select("label", "max_abs_mu", q_sum.alias("q_checksum"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.sum("q_checksum").alias("sum_checksum"),
            (F.min("max_abs_mu").cast("double") / _MICRO).alias("min_scale"),
            (F.max("max_abs_mu").cast("double") / _MICRO).alias("max_scale"),
        )
        .orderBy("label")
    )


_KMEANS_K = 8
_KMEANS_ITERS = 3
_KMEANS_DIM = 64


def _kmeans_cte_parts(train_where: str = "") -> list[str]:
    """Shared unrolled-Lloyd CTE chain (through the final assignment
    `afin`) used by the quantizer AND the semantic-dedup oracles.

    ``train_where`` (r12): optional SQL predicate restricting the rows
    the quantizer TRAINS on (seeding + Lloyd iterations); the final
    ``afin`` assignment always covers the full ``mu`` — the
    incremental-add shape, where new vectors are assigned against a
    quantizer trained before they arrived.  Empty string produces the
    byte-identical text the r6-r11 oracles shipped with.

    Viable because operators/kmeans.py is EXACT integer arithmetic:
    micro-unit snap, int64 distances, floor-division centroid updates —
    so three unrolled (assign -> floored-mean) CTE stages land on
    bit-identical centroids on any engine.  Every CTE is MATERIALIZED:
    each stage is referenced twice, and inlining the chain would
    re-evaluate it exponentially (same lesson as the BPE oracle)."""
    d2 = (
        f"list_sum(list_transform(range(1, {_KMEANS_DIM + 1}),"
        " i -> (m.mu[i] - c.mu[i]) * (m.mu[i] - c.mu[i])))"
    )
    src = "mu"
    parts = [
        f"""mu AS MATERIALIZED (
      SELECT vec_id,
             list_transform(embedding,
                            x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS mu
      FROM embeddings
    )"""
    ]
    if train_where:
        src = "mutr"
        parts.append(
            f"mutr AS MATERIALIZED (SELECT * FROM mu WHERE {train_where})"
        )
    parts.append(
        f"""c0 AS MATERIALIZED (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, mu
      FROM (SELECT vec_id, mu FROM {src} ORDER BY vec_id LIMIT {_KMEANS_K})
    )"""
    )
    for t in range(_KMEANS_ITERS):
        parts.append(
            f"""a{t} AS MATERIALIZED (
      SELECT vec_id, mu, cid, d FROM (
        SELECT m.vec_id, m.mu, c.cid, {d2} AS d,
               row_number() OVER (PARTITION BY m.vec_id ORDER BY {d2}, c.cid) AS rn
        FROM {src} m, c{t} c
      ) WHERE rn = 1
    ),
    s{t} AS MATERIALIZED (
      SELECT cid, pos, CAST(floor(CAST(SUM(v) AS DOUBLE) / COUNT(*)) AS BIGINT) AS m
      FROM (SELECT cid, unnest(mu) AS v,
                   unnest(range(1, {_KMEANS_DIM + 1})) AS pos FROM a{t})
      GROUP BY cid, pos
    ),
    c{t + 1} AS MATERIALIZED (
      SELECT c.cid, COALESCE(n.mu, c.mu) AS mu
      FROM c{t} c LEFT JOIN (SELECT cid, list(m ORDER BY pos) AS mu
                             FROM s{t} GROUP BY cid) n ON c.cid = n.cid
    )"""
        )
    parts.append(
        f"""afin AS MATERIALIZED (
      SELECT vec_id, cid, d FROM (
        SELECT m.vec_id, c.cid, {d2} AS d,
               row_number() OVER (PARTITION BY m.vec_id ORDER BY {d2}, c.cid) AS rn
        FROM mu m, c{_KMEANS_ITERS} c
      ) WHERE rn = 1
    )"""
    )
    return parts


def _kmeans_oracle() -> str:
    """DuckDB restatement of sim_kmeans_quantizer (see _kmeans_cte_parts)."""
    parts = _kmeans_cte_parts()
    return (
        "WITH " + ",\n    ".join(parts) + """
    SELECT g.cid, g.n_vectors, t.total_inertia_mu2
    FROM (SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_vectors FROM afin GROUP BY cid) g,
         (SELECT CAST(SUM(d) AS BIGINT) AS total_inertia_mu2 FROM afin) t
    ORDER BY g.cid"""
    )


@register("sim_kmeans_quantizer", oracle=_kmeans_oracle())
def sim_kmeans_quantizer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse-quantizer training: 3 Lloyd iterations of k=8 k-means
    over the embedding corpus (operators/kmeans.py), reporting cluster
    sizes and exact integer inertia.  The iterative loop is restated by
    an unrolled-CTE DuckDB oracle (_kmeans_oracle) — hash-green because
    every arithmetic step is on the int64 micro-unit lattice; numpy
    assignment-level parity is additionally proven by tests/test_kmeans.py.
    """
    # natural parquet layout (r14): the Lloyd iterations are numpy
    # batch kernels, and fanning a single-row-group fixture to 32
    # partitions multiplies each iteration's Arrow round-trips by the
    # partition count (0.44 s vs 0.20 s per iteration at sf0.1); on a
    # real multi-file corpus the scan is already wide, so trusting the
    # source layout is the scale-correct default here.
    e = load(spark, sf_dir, "embeddings")
    centroids, assigned = kmeans_fit(e, k=8, iterations=3)
    # counts + inertia from ONE numpy pass over the checkpointed mu
    # frame (r14 opt — was persist + a when-chain inertia aggregate +
    # a count groupBy: three jobs over the same 2 columns).  The mu
    # frame is the training checkpoint kmeans_fit already built; the
    # final report is k rows assembled driver-side, exactly the
    # bounded-collect contract training itself uses.
    counts, total = kmeans_stats(assigned.select("vec_id", "mu"), centroids)
    rows = [(cid, counts[cid], total) for cid in sorted(counts)]
    return spark.createDataFrame(
        rows, "cid int, n_vectors long, total_inertia_mu2 long"
    )


# SemDeDup (Abbas et al. 2023, arXiv:2303.09540) cosine threshold,
# as an exact rational: cos >= sqrt(900/10000) = 0.30.  The fixture
# embeddings are near-orthogonal random vectors (pairwise cosine p99 ~
# 0.29, max ~0.51), so 0.30 exercises a non-trivial prune; production
# corpora use ~0.95+ — the threshold is a constant, not the algorithm.
_SEMDEDUP_TAU2_NUM = 900
_SEMDEDUP_TAU2_DEN = 10_000


def _semdedup_oracle() -> str:
    """Unrolled-Lloyd chain (shared with the quantizer) + within-cluster
    pairwise cosine test on the exact integer lattice: dot and the two
    squared norms are int64-exact, so `dot^2 * DEN >= NUM * n2a * n2b`
    (HUGEINT here, DECIMAL(38,0) on the Spark side) decides identically
    on both engines — no float comparison anywhere."""
    parts = _kmeans_cte_parts()
    parts.append(
        f"""av AS MATERIALIZED (
      SELECT a.vec_id, a.cid, m.mu,
             list_sum(list_transform(m.mu, x -> x * x)) AS n2
      FROM afin a JOIN mu m USING (vec_id)
    ),
    pairs AS MATERIALIZED (
      SELECT cid, prune_id FROM (
        SELECT a.cid AS cid, b.vec_id AS prune_id,
               list_sum(list_transform(range(1, {_KMEANS_DIM + 1}),
                                       i -> a.mu[i] * b.mu[i])) AS dot,
               a.n2 AS n2a, b.n2 AS n2b
        FROM av a JOIN av b ON a.cid = b.cid AND a.vec_id < b.vec_id
      ) WHERE dot > 0
          AND CAST(dot AS HUGEINT) * dot * {_SEMDEDUP_TAU2_DEN}
              >= {_SEMDEDUP_TAU2_NUM} * CAST(n2a AS HUGEINT) * n2b
    )"""
    )
    return (
        "WITH " + ",\n    ".join(parts) + """
    SELECT g.cid, g.n_vectors,
           COALESCE(p.n_dup_pairs, 0) AS n_dup_pairs,
           COALESCE(p.n_pruned, 0) AS n_pruned,
           g.n_vectors - COALESCE(p.n_pruned, 0) AS n_kept
    FROM (SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_vectors
          FROM av GROUP BY cid) g
    LEFT JOIN (SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_dup_pairs,
                      CAST(COUNT(DISTINCT prune_id) AS BIGINT) AS n_pruned
               FROM pairs GROUP BY cid) p USING (cid)
    ORDER BY g.cid"""
    )


@register("dedup_semantic_prune", oracle=_semdedup_oracle())
def dedup_semantic_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (semantic deduplication, Abbas et al. 2023): k-means the
    embedding corpus, then prune any vector whose within-cluster cosine
    to a lower-id vector reaches the threshold — the published recipe
    for collapsing semantically-near-duplicate training documents whose
    text-level hashes differ.

    100 TB story: clustering first turns the quadratic pairwise scan
    into k independent within-cluster scans (n^2/k work, and in
    production k is chosen so clusters fit one task); the pair join
    shuffles on `cid` only and carries micro-unit vectors, never text.
    The cosine test is exact integer arithmetic end-to-end (dot^2 * DEN
    >= NUM * |a|^2 * |b|^2 on DECIMAL(38,0) — values <= ~1e28, inside
    38 digits), so the keep/prune decision is bit-identical across
    engines and partitionings.  Reference scope: the reference engine
    has no embedding ops; this extends SURVEY.md §2.11 X1/X2 as the
    brief's training-data-pipeline family requires."""
    import numpy as np
    import pandas as pd

    # natural parquet layout (r14): the Lloyd iterations are numpy
    # batch kernels, and fanning a single-row-group fixture to 32
    # partitions multiplies each iteration's Arrow round-trips by the
    # partition count (0.44 s vs 0.20 s per iteration at sf0.1); on a
    # real multi-file corpus the scan is already wide, so trusting the
    # source layout is the scale-correct default here.
    e = load(spark, sf_dir, "embeddings")
    _, assigned = kmeans_fit(e, k=8, iterations=3)

    # r13 opt: the within-cluster scan runs as ONE numpy Gram matmul
    # per cluster task (applyInPandas over cid) instead of a cid-keyed
    # SQL self-join whose dot products were interpreted HOF folds over
    # every candidate pair (n^2/k pairs x 64 elements).  X @ X.T is
    # exact int64 (|dot| <= ~2.6e14); the tau^2 cross-multiplied test
    # runs on arbitrary-precision Python ints (dot^2*DEN ~ 1e31 —
    # object dtype, same values the DECIMAL(38,0)/HUGEINT oracles
    # compute), so keep/prune decisions are bit-identical.  Scale
    # story unchanged: k independent cluster tasks, each sized to fit
    # one worker — the join shuffled exactly the same rows to exactly
    # the same place before doing strictly more work there.
    def stats(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id")
        x = np.stack(pdf["mu"].to_numpy()).astype(np.int64, copy=False)
        n = x.shape[0]
        g = x @ x.T
        n2 = np.diag(g).astype(object)
        ii, jj = np.triu_indices(n, k=1)
        dots = g[ii, jj]
        pos = dots > 0
        d = dots[pos].astype(object)
        hit = d * d * _SEMDEDUP_TAU2_DEN >= _SEMDEDUP_TAU2_NUM * (
            n2[ii[pos]] * n2[jj[pos]]
        )
        n_dup = int(np.count_nonzero(hit))
        n_pruned = int(np.unique(jj[pos][hit]).size) if n_dup else 0
        return pd.DataFrame(
            [
                {
                    "cid": int(pdf["cid"].iloc[0]),
                    "n_vectors": n,
                    "n_dup_pairs": n_dup,
                    "n_pruned": n_pruned,
                    "n_kept": n - n_pruned,
                }
            ]
        )

    return (
        assigned.groupBy("cid")
        .applyInPandas(
            stats,
            "cid int, n_vectors long, n_dup_pairs long, n_pruned long, n_kept long",
        )
        .orderBy("cid")
    )


_GRAM_DIM = 64


def _gram_oracle() -> str:
    """Upper-triangle Gram matrix on the exact micro-unit lattice: the
    per-pair products are int64 (|mu| <= ~2e6 -> product <= 4e12, summed
    over the corpus well inside BIGINT), so SUM is exact on any engine
    and any partitioning."""
    return f"""
    WITH mu AS MATERIALIZED (
      SELECT list_transform(embedding,
                            x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS mu
      FROM embeddings
    ),
    p AS (
      SELECT i.i AS i, j.j AS j
      FROM range(1, {_GRAM_DIM + 1}) i(i), range(1, {_GRAM_DIM + 1}) j(j)
      WHERE i.i <= j.j
    )
    SELECT p.i - 1 AS dim_i, p.j - 1 AS dim_j,
           CAST(SUM(mu.mu[p.i] * mu.mu[p.j]) AS BIGINT) AS g_mu2
    FROM mu, p
    GROUP BY p.i, p.j
    ORDER BY dim_i, dim_j"""


@register("emb_gram_matrix", oracle=_gram_oracle())
def emb_gram_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The distributed half of PCA/whitening over an embedding corpus:
    the uncentered second-moment (Gram) matrix X^T X as exact integer
    micro-unit products — d(d+1)/2 upper-triangle cells.  At 100 TB the
    eigendecomposition is a driver-side numpy call on this d x d result
    (the k-means "collect k small things" contract); the corpus-scale
    work is THIS aggregation, whose exchange carries 2080 partial sums
    per partition, not vectors.

    Implementation: each Arrow batch contributes ONE partial Gram via
    an exact int64 numpy matmul (X^T X — BLAS-free integer path, no
    float rounding), emitted as d(d+1)/2 (pos, partial) rows; the final
    groupBy(pos) sums a few thousand rows per partition.  This replaced
    a 2080-term generated selectExpr whose Catalyst analysis alone cost
    ~4 s per run — when a reduction is a dense matrix product, one
    numpy call per batch beats thousands of codegen'd expressions."""
    import numpy as np
    import pandas as pd

    # row-adaptive fan-out (r14): the partial-Gram kernel is one numpy
    # matmul per Arrow batch, so each partition costs a fixed Arrow
    # round-trip plus 2080 partial rows — a flat 32-way fan-out loses
    # 27% on the 2k-row fixture, while NO fan-out loses 27% at the
    # 20k-row sf1 layout (one row group -> one serial stack+floor+gemm
    # task).  Sizing partitions to ~2k rows each wins at both scales;
    # real multi-row-group corpora scan wide natively and skip the
    # repartition entirely (load_parallel only fans out when the
    # row-group count caps parallelism).
    from specialsid_spark.catalog import _parquet_scan_units  # noqa: PLC0415
    import os as _os  # noqa: PLC0415

    try:
        _, _rows = _parquet_scan_units(
            _os.path.join(sf_dir, "embeddings.parquet")
        )
    except Exception:
        _rows = 0
    par = spark.sparkContext.defaultParallelism
    width = min(par, _rows // 2048)
    if width >= 2:
        e = load_parallel(spark, sf_dir, "embeddings", partitions=width)
    else:
        e = load(spark, sf_dir, "embeddings")  # no exchange for one batch
    pairs = [(i, j) for i in range(_GRAM_DIM) for j in range(i, _GRAM_DIM)]
    iu = np.triu_indices(_GRAM_DIM)
    pair_df = spark.createDataFrame(
        [(pos, i, j) for pos, (i, j) in enumerate(pairs)],
        "pos int, dim_i int, dim_j int",
    )

    def partial_gram(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.floor(
                np.stack(pdf["embedding"].to_numpy()).astype(np.float64) * 1_000_000
            ).astype(np.int64)
            g = x.T @ x  # exact: |mu| <= ~2e6 -> products < 2^63 summed
            yield pd.DataFrame(
                {"pos": np.arange(len(pairs)), "v": g[iu]}
            )

    sums = (
        e.select("embedding")
        .mapInPandas(partial_gram, "pos int, v long")
        .groupBy("pos")
        .agg(F.sum("v").alias("g_mu2"))
    )
    return (
        sums.join(F.broadcast(pair_df), "pos")
        .select(
            F.col("dim_i").cast("long").alias("dim_i"),
            F.col("dim_j").cast("long").alias("dim_j"),
            F.col("g_mu2").cast("long").alias("g_mu2"),
        )
        .orderBy("dim_i", "dim_j")
    )


_IVF_NPROBE = 2
_IVF_NQUERY = 10


def _ivf_trained_oracle() -> str:
    """Unrolled-Lloyd chain + cell-pruned search: probe ranks by the
    same exact integer L2 the training used; the final cosine is one
    double expression over exact integer dots/norms (the
    sim_topk_pandas_udf idiom)."""
    d2 = (
        f"list_sum(list_transform(range(1, {_KMEANS_DIM + 1}),"
        " i -> (m.mu[i] - c.mu[i]) * (m.mu[i] - c.mu[i])))"
    )
    parts = _kmeans_cte_parts()
    parts.append(
        f"""qprobe AS MATERIALIZED (
      SELECT vec_id, cid FROM (
        SELECT m.vec_id, c.cid,
               row_number() OVER (PARTITION BY m.vec_id ORDER BY {d2}, c.cid) AS rn
        FROM mu m, c{_KMEANS_ITERS} c
        WHERE m.vec_id < {_IVF_NQUERY}
      ) WHERE rn <= {_IVF_NPROBE}
    ),
    scored AS (
      SELECT q.vec_id AS query_id, a.vec_id AS neighbor_id,
             CAST(list_sum(list_transform(range(1, {_KMEANS_DIM + 1}),
                                          i -> qm.mu[i] * nm.mu[i])) AS DOUBLE)
               / (sqrt(CAST(list_sum(list_transform(qm.mu, x -> x * x)) AS DOUBLE))
                  * sqrt(CAST(list_sum(list_transform(nm.mu, x -> x * x)) AS DOUBLE)))
               AS cs
      FROM qprobe q
      JOIN afin a ON a.cid = q.cid AND a.vec_id <> q.vec_id
      JOIN mu qm ON qm.vec_id = q.vec_id
      JOIN mu nm ON nm.vec_id = a.vec_id
    )"""
    )
    return (
        "WITH " + ",\n    ".join(parts) + f"""
    SELECT query_id, neighbor_id, CAST(rk AS BIGINT) AS rk, round(cs, 6) AS cos_sim
    FROM (SELECT query_id, neighbor_id, cs,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY cs DESC, neighbor_id) AS rk
          FROM scored)
    WHERE rk <= {TOPK}
    ORDER BY query_id, rk"""
    )


@register("sim_ivf_trained_topk", oracle=_ivf_trained_oracle())
def sim_ivf_trained_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full IVF pipeline END-TO-END in one oracle-checked query:
    train the coarse quantizer in-engine (3 Lloyd iterations,
    operators/kmeans.py — the exact-integer lattice the unrolled-CTE
    oracle re-derives), assign the corpus, then answer top-5 queries by
    searching only each query's nprobe=2 nearest cells.  sim_ivf_topk
    demonstrated the search shape over a fixed quantizer; this closes
    the loop training→index→search with every stage value-verified.

    Scale shape: training collects only k×d centroids per iteration;
    assignment is one map-side pass (a numpy pandas_udf whose closure
    carries the k centroids); candidate generation is an equi-join on
    cell id with per-cell work scaled by nprobe — never |Q|×|N|."""
    # natural parquet layout (r14): the Lloyd iterations are numpy
    # batch kernels, and fanning a single-row-group fixture to 32
    # partitions multiplies each iteration's Arrow round-trips by the
    # partition count (0.44 s vs 0.20 s per iteration at sf0.1); on a
    # real multi-file corpus the scan is already wide, so trusting the
    # source layout is the scale-correct default here.
    e = load(spark, sf_dir, "embeddings")
    centroids, assigned = kmeans_fit(e, k=_KMEANS_K, iterations=_KMEANS_ITERS)
    return _ivf_search(assigned, centroids, F.col("vec_id") < _IVF_NQUERY)


def _ivf_search(
    assigned: DataFrame, centroids: list[list[int]], is_query: F.Column
) -> DataFrame:
    """The IVF search stage of sim_ivf_trained_topk,
    sim_ivf_from_table_topk and sim_ivf_incremental_add: probe each
    query's nprobe nearest cells by the same exact-integer L2 training
    used, equi-join candidates on cell id, exact cosine rerank.
    ``assigned`` carries (vec_id, mu, cid) for every indexed vector;
    ``is_query`` picks the rows of ``assigned`` that ask.  Returns
    (query_id, neighbor_id, rk, cos_sim)."""
    # the checkpoint carries each vector's exact squared norm once, so
    # pair scoring costs one fold (the dot), not three
    assigned = assigned.select(
        "vec_id", "mu", "cid", inorm2(F.col("mu")).alias("nn2")
    ).localCheckpoint(eager=True)
    # query-side probe: rank cells by the SAME exact integer L2 the
    # training used (one selectExpr, SQL-string distances).  A numpy
    # mapInPandas probe was measured and reverted (+4-8%): at
    # |queries| = 50 the Arrow worker round-trip exceeds the k-literal
    # plan's cost — see OPTIMIZATION_r13.md.
    k = len(centroids)
    d_exprs = [f"{_dist2_sql('mu', c)} AS d{i}" for i, c in enumerate(centroids)]
    qd = assigned.filter(is_query).selectExpr("vec_id", "mu", "nn2", *d_exprs)
    pairs = qd.select(
        "vec_id",
        "mu",
        "nn2",
        F.explode(
            F.arrays_zip(
                F.array(*[F.lit(i) for i in range(k)]),
                F.array(*[F.col(f"d{i}") for i in range(k)]),
            )
        ).alias("z"),
    ).select(
        "vec_id", "mu", "nn2", F.col("z.0").alias("cid"), F.col("z.1").alias("d")
    )
    w = Window.partitionBy("vec_id").orderBy("d", "cid")
    qprobe = (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _IVF_NPROBE)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("mu").alias("qmu"),
            F.col("nn2").alias("qn2"),
            "cid",
        )
    )
    nbr = assigned.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("mu").alias("nmu"),
        F.col("nn2").alias("nn2"),
        "cid",
    )
    scored = (
        F.broadcast(qprobe)
        .join(nbr, (nbr.cid == qprobe.cid) & (F.col("neighbor_id") != F.col("query_id")))
        .select(
            "query_id",
            "neighbor_id",
            (
                idot(F.col("qmu"), F.col("nmu")).cast("double")
                / (
                    F.sqrt(F.col("qn2").cast("double"))
                    * F.sqrt(F.col("nn2").cast("double"))
                )
            ).alias("cs"),
        )
    )
    return neighbor_ranks(scored, "cos_sim")


# trained-quantizer snapshot tables, one per (process, sf_dir) — the
# cache must re-check the path still exists (workdirs are per-session)
_IVF_INDEX_TABLES: dict[str, str] = {}


def ivf_index_commit(spark: SparkSession, sf_dir: str) -> str:
    """Train the coarse quantizer ONCE and commit it to a snapshot
    table (rows: cid, centroid array<bigint> on the exact micro-unit
    lattice) — the 100 TB deployment shape: a trained index is an
    ARTIFACT with versioned history, not a per-query side effect.
    Returns the table path; re-trains only when the table is gone."""
    import os
    from pathlib import Path

    from specialsid_spark.operators.snapshot import snapshot_commit
    from specialsid_spark.session import session_workdir

    key = os.path.abspath(sf_dir)
    t = _IVF_INDEX_TABLES.get(key)
    if t is not None and Path(t).exists():
        return t
    e = load_parallel(spark, sf_dir, "embeddings")
    centroids, _assigned = kmeans_fit(e, k=_KMEANS_K, iterations=_KMEANS_ITERS)
    t = str(Path(session_workdir("specialsid_ivfidx_")) / "quantizer")
    df = spark.createDataFrame(
        [(i, c) for i, c in enumerate(centroids)],
        "cid int, centroid array<bigint>",
    )
    snapshot_commit(df.coalesce(1), t)
    _IVF_INDEX_TABLES[key] = t
    return t


def ivf_centroids_from_table(
    spark: SparkSession, table: str, version: int | None = None
) -> list[list[int]]:
    """Load a quantizer version from its snapshot table (k rows — the
    bounded-collect class); time travel via ``version`` reproduces any
    historical index exactly."""
    from specialsid_spark.operators.snapshot import snapshot_read

    rows = snapshot_read(spark, table, version).collect()
    return [list(r.centroid) for r in sorted(rows, key=lambda r: r.cid)]


@register("sim_ivf_from_table_topk", oracle=_ivf_trained_oracle())
def sim_ivf_from_table_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r7 VERDICT #6 — IVF search against a PERSISTED quantizer: the
    index is trained once and committed to a snapshot lakehouse table
    (``ivf_index_commit``), then THIS query loads the centroids back
    from the table (time-travelable — every index version stays
    reproducible) and runs the identical search stage as
    ``sim_ivf_trained_topk``.  Same oracle as the inline-trained twin:
    training is deterministic, so from-table results must match
    exactly — which is precisely the artifact-integrity property a
    production pipeline needs from a persisted index.

    Scale shape: search cost is unchanged (cell-keyed candidate join);
    training cost amortizes across every query that loads the table
    instead of re-running Lloyd — at 100 TB the difference between a
    usable ANN service and an accidental training job per query."""
    table = ivf_index_commit(spark, sf_dir)
    centroids = ivf_centroids_from_table(spark, table)
    # natural parquet layout, as in sim_ivf_trained_topk: the assignment
    # is a numpy pandas_udf, and fanning out a one-row-group fixture
    # multiplies its Arrow round-trips by the partition count
    e = load(spark, sf_dir, "embeddings")
    mu_df = e.select("vec_id", lattice(F.col("embedding")).alias("mu"))
    assigned = assign_clusters(mu_df, centroids)
    return _ivf_search(assigned, centroids, F.col("vec_id") < _IVF_NQUERY)


def _ivf_incremental_oracle() -> str:
    """Incremental-add twin of _ivf_trained_oracle: the quantizer
    trains on the BASE corpus only (vec_id % 4 <> 0), `afin` assigns
    everything against those centroids (base at build time, the new
    batch at add time — identical arithmetic), and the NEW vectors are
    the queries probing the combined postings."""
    d2 = (
        f"list_sum(list_transform(range(1, {_KMEANS_DIM + 1}),"
        " i -> (m.mu[i] - c.mu[i]) * (m.mu[i] - c.mu[i])))"
    )
    parts = _kmeans_cte_parts(train_where="vec_id % 4 <> 0")
    parts.append(
        f"""qprobe AS MATERIALIZED (
      SELECT vec_id, cid FROM (
        SELECT m.vec_id, c.cid,
               row_number() OVER (PARTITION BY m.vec_id ORDER BY {d2}, c.cid) AS rn
        FROM mu m, c{_KMEANS_ITERS} c
        WHERE m.vec_id % 4 = 0 AND m.vec_id < {4 * _IVF_NQUERY}
      ) WHERE rn <= {_IVF_NPROBE}
    ),
    scored AS (
      SELECT q.vec_id AS query_id, a.vec_id AS neighbor_id,
             CAST(list_sum(list_transform(range(1, {_KMEANS_DIM + 1}),
                                          i -> qm.mu[i] * nm.mu[i])) AS DOUBLE)
               / (sqrt(CAST(list_sum(list_transform(qm.mu, x -> x * x)) AS DOUBLE))
                  * sqrt(CAST(list_sum(list_transform(nm.mu, x -> x * x)) AS DOUBLE)))
               AS cs
      FROM qprobe q
      JOIN afin a ON a.cid = q.cid AND a.vec_id <> q.vec_id
      JOIN mu qm ON qm.vec_id = q.vec_id
      JOIN mu nm ON nm.vec_id = a.vec_id
    )"""
    )
    return (
        "WITH " + ",\n    ".join(parts) + f"""
    SELECT query_id, neighbor_id, CAST(rk AS BIGINT) AS rk,
           round(cs, 6) AS cos_sim,
           CAST(CASE WHEN neighbor_id % 4 = 0 THEN 1 ELSE 0 END AS INT)
             AS neighbor_is_new
    FROM (SELECT query_id, neighbor_id, cs,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY cs DESC, neighbor_id) AS rk
          FROM scored)
    WHERE rk <= {TOPK}
    ORDER BY query_id, rk"""
    )


@register("sim_ivf_incremental_add", oracle=_ivf_incremental_oracle())
def sim_ivf_incremental_add(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2, r12 — INCREMENTAL ANN index maintenance, the similarity twin
    of dedup_incremental_lsh's daily-drop story: the coarse quantizer
    trains ONCE on the base corpus (vec_id % 4 <> 0) and is persisted
    with the base postings (vec_id, cid) as a snapshot table; a NEW
    batch (vec_id % 4 = 0) is then assigned against the FROZEN
    centroids — no retraining, no touching base vectors — and appended
    as a second snapshot version.  The new vectors immediately query
    base ∪ batch postings; each answer row carries neighbor_is_new so
    the oracle value-checks that search really spans both generations.
    The committed postings table is written and never read here: the
    search reuses the in-session assigned frame (the same rows), so
    the snapshot write/read round trip is covered by
    tests/test_snapshot.py (snapshot_commit_generations), not by this
    query's oracle.

    Scale shape: the add is one map-side assignment pass (the numpy
    pandas_udf kernel, centroids in its closure) + an append-only
    commit of (vec_id, cid) pairs; the search is _ivf_search's nprobe
    cell-keyed candidate join.  At 100 TB a daily embedding drop
    indexes in one pass over the drop — never the corpus — and any
    index version is time-travelable."""
    from pathlib import Path

    from specialsid_spark.operators.snapshot import snapshot_commit_generations
    from specialsid_spark.session import session_workdir

    # natural parquet layout (r14): the Lloyd iterations are numpy
    # batch kernels, and fanning a single-row-group fixture to 32
    # partitions multiplies each iteration's Arrow round-trips by the
    # partition count (0.44 s vs 0.20 s per iteration at sf0.1); on a
    # real multi-file corpus the scan is already wide, so trusting the
    # source layout is the scale-correct default here.
    e = load(spark, sf_dir, "embeddings")
    # ONE checkpointed micro-unit projection feeds training and the
    # assignment that the commit and the search share (r13 opt — each
    # consumer re-scanned parquet and re-ran the transform); LAZY (r14):
    # the training seed is the first action over it, so projection +
    # seed stay one job.  kmeans_fit detects the ready `mu` column and
    # trains on the filtered view without its own projection job.
    mu_df = e.select(
        "vec_id", lattice(F.col("embedding")).alias("mu")
    ).localCheckpoint(eager=False)
    base = mu_df.filter(F.col("vec_id") % 4 != 0)

    centroids, _ = kmeans_fit(base, k=_KMEANS_K, iterations=_KMEANS_ITERS)
    t = str(Path(session_workdir("specialsid_ivfinc_")) / "postings")
    # build: base postings (ids + cells only — the index never stores
    # vectors) as version 1 with NATURAL partitioning (r13, VERDICT r12
    # #3 — the corpus-sized build must not serialize through one write
    # task), the incremental add as an append-only version 2.  ONE
    # assignment pass serves both (r13 opt), and ONE generational write
    # job commits both versions (r14 opt, snapshot_commit_generations —
    # base and batch rows sit in the same assigned frame, so a second
    # write job re-ran the write machinery for rows already in hand).
    assigned = assign_clusters(mu_df, centroids).localCheckpoint(eager=False)
    snapshot_commit_generations(
        assigned.select(
            "vec_id", "cid", (F.col("vec_id") % 4 == 0).cast("int").alias("gen")
        ),
        t,
        "gen",
        [0, 1],
    )
    # combined search spans both committed generations; the in-session
    # assigned frame IS that row set (base ∪ batch, by construction of
    # the one-job commit above), and it already carries each vector's
    # mu — so the search reuses it instead of re-listing the manifest
    # and re-joining postings back onto the mu projection (r14 opt;
    # time-travel reads stay pinned by tests/test_snapshot.py); the new
    # vectors are the queries
    is_query = (F.col("vec_id") % 4 == 0) & (F.col("vec_id") < 4 * _IVF_NQUERY)
    return _ivf_search(assigned, centroids, is_query).withColumn(
        "neighbor_is_new", (F.col("neighbor_id") % 4 == 0).cast("int")
    )
