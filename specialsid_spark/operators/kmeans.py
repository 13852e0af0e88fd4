"""Distributed k-means over embedding columns (SURVEY.md §2.11 X2 —
training the IVF coarse quantizer in-engine, the step `sim_ivf_topk`
stands in for with fixed seed vectors).

Classic driver-loop shape: per iteration the executors compute
assignments and per-cluster sums (one scan + one |k·d|-sized shuffle),
and ONLY the k×d centroid matrix is collected to the driver — at 100 TB
that is a few KB per iteration regardless of corpus size.

Determinism: this module is the home of the exact-integer lattice that
every vector query shares with its DuckDB oracle.  Float components snap
to floor(x·scale) (:func:`lattice`; floor, not round, so no tie is
decided differently), dots, norms and distances fold in int64
(:func:`idot`, :func:`inorm2`, :func:`idist2`), and new centroids are
floored back to micro-units each iteration.  So every assignment
decision is an integer comparison — bit-identical across partitionings,
engines, and a numpy reference (tests/test_kmeans.py).  Overflow: a
64-dim fold of squared differences stays below 2^63 while every lattice
value is below 1.8e8 in magnitude, i.e. |x| < 180 at scale 1e6
(embedding components are unit-scale).
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf type hints must
# resolve in module globals under `from __future__ import annotations`

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

_MICRO = 1_000_000


def lattice(arr: Column, scale: float = _MICRO) -> Column:
    """Float array -> exact integer lattice array, floor(x * scale) per
    component: micro-units (1e6) for embeddings, 512 for the coarse
    semantic-decontamination lattice."""
    return F.transform(arr, lambda x: F.floor(x.cast("double") * scale).cast("long"))


def micro(x: Column) -> Column:
    """The element form of :func:`lattice`: one float component -> its
    integer micro-units."""
    return F.floor(x.cast("double") * _MICRO).cast("long")


def _isum(arr: Column) -> Column:
    return F.aggregate(arr, F.lit(0).cast("long"), lambda acc, v: acc + v)


def idot(a: Column, b: Column) -> Column:
    """Exact integer dot product of two lattice arrays."""
    return _isum(F.zip_with(a, b, lambda x, y: x * y))


def inorm2(a: Column) -> Column:
    """Exact integer squared norm of a lattice array."""
    return _isum(F.transform(a, lambda x: x * x))


def idist2(a: Column, b: Column) -> Column:
    """Exact integer squared euclidean distance of two lattice arrays."""
    return _isum(F.zip_with(a, b, lambda x, y: (x - y) * (x - y)))


def nearest_codes(sub: DataFrame, cb: DataFrame) -> DataFrame:
    """The grouped nearest-codeword encoder — the PQ encoder and each
    :func:`kmeans_fit_grouped` assignment: every (vec_id, m, sv) row of
    ``sub`` meets its subspace's rows of the codebook ``cb`` (m, cid,
    cv), broadcast map-side, and keeps the nearest by exact squared L2
    ``d``, ties to the lowest cid.  The argmin is a WindowGroupLimit-able
    row_number over one subspace's codebook rows, so the only shuffle is
    keyed on (vec_id, m).  Returns ``sub``'s columns plus cid and d."""
    d = sub.join(F.broadcast(cb), "m").withColumn("d", idist2(F.col("sv"), F.col("cv")))
    w = F.row_number().over(Window.partitionBy("vec_id", "m").orderBy("d", "cid"))
    return d.withColumn("rn", w).filter(F.col("rn") == 1).drop("rn", "cv")


def _dist2_sql(vec: str, centroid: list[int]) -> str:
    """:func:`idist2` between a micro-unit vector column and a
    python-int centroid, as SQL.

    Built as ONE SQL string, not a py4j Column tree: a 64-literal array
    times k centroids times one expression per iteration was ~500 py4j
    round-trips per assignment — measured at 1.3 s of pure driver-side
    plan construction PER LLOYD ITERATION at any data size (the
    SimHash-kernel lesson, BASELINE.md).  The string form is one call."""
    arr = "array(" + ",".join(f"{int(c)}L" for c in centroid) + ")"
    return (
        f"aggregate(zip_with({vec}, {arr}, (a, b) -> (a - b) * (a - b)), "
        "cast(0 as bigint), (acc, v) -> acc + v)"
    )


def _np_d2(x, cents) -> "object":
    """Exact squared distances from each row of one stacked int64 batch
    matrix to every centroid: |x|^2 - 2 x.C^T + |c|^2 expands the same
    integer lattice arithmetic as :func:`idist2`."""
    return (
        (x * x).sum(axis=1)[:, None]
        - 2 * (x @ cents.T)
        + (cents * cents).sum(axis=1)[None, :]
    )


def _np_cids(x, cents) -> "object":
    """Nearest-centroid ids for one stacked int64 batch matrix; argmin's
    first-match tie-break is the lowest-cid rule.  tests/test_kmeans.py
    pins it against an independent SQL CASE referee."""
    return _np_d2(x, cents).argmin(axis=1)


def assign_clusters(mu_df: DataFrame, centroids: list[list[int]]) -> DataFrame:
    """Add `cid`: index of the nearest centroid (ties -> lowest cid), as
    ONE vectorized pandas_udf over the ``mu`` column only.  The numpy
    matmul crosses the Arrow boundary once INWARD (mu) and returns a
    single int column; the closure carries the centroids, so the plan
    holds no k×d literals.  Measured against the retired kernels: a
    mapInPandas wrapper that shipped every mu back out ran 2.5× slower
    at sf0.1, and the interpreted k×d-literal HOF CASE ran +38% on
    sim_ivf_trained_topk at sf1 (serial on a one-row-group scan)."""
    import numpy as np  # noqa: PLC0415

    cents = np.array(centroids, dtype=np.int64)

    def _cid_of(mu: pd.Series) -> pd.Series:
        if len(mu) == 0:
            return pd.Series([], dtype="int32")
        x = np.stack(mu.to_numpy()).astype(np.int64, copy=False)
        return pd.Series(_np_cids(x, cents).astype("int32"))

    cid_of = F.pandas_udf(_cid_of, "int")

    return mu_df.withColumn("cid", cid_of("mu"))


def kmeans_fit(
    df: DataFrame,
    vec_col: str = "embedding",
    k: int = 8,
    iterations: int = 3,
    dim: int = 64,
) -> tuple[list[list[int]], DataFrame]:
    """Lloyd's algorithm, `iterations` rounds from a deterministic seed
    (the k lexicographically-first rows by vec_id).  Returns the final
    micro-unit centroids and the assigned DataFrame.

    r13 shape: a frame already carrying a ``mu`` column (shared
    checkpointed projection) is used as-is; otherwise the micro-unit
    projection is localCheckpointed LAZILY — the seed collect
    materializes it, so projection + seed are ONE job, not two.  Each
    iteration is one numpy mapInPandas job emitting k×dim (cid, pos,
    sum, count) partials per Arrow batch: assignment matmul + segment
    sums in vectorized exact int64, closure-carried centroids (no k×d
    plan literals to re-analyze, no interpreted HOF per row, no
    dim-fold row explosion).  The driver still collects only k×dim
    partials per iteration — a few KB at any corpus size."""
    import numpy as np  # noqa: PLC0415

    if "mu" in df.columns:
        mu_df = df
    else:
        mu_df = df.select(
            "vec_id", lattice(F.col(vec_col)).alias("mu")
        ).localCheckpoint(eager=False)
    seed_rows = mu_df.orderBy("vec_id").limit(k).collect()
    centroids = [list(r.mu) for r in seed_rows]

    for _ in range(iterations):
        cents = np.array(centroids, dtype=np.int64)

        def partials(it, cents=cents):
            for pdf in it:
                if len(pdf) == 0:
                    continue
                x = np.stack(pdf["mu"].to_numpy()).astype(np.int64, copy=False)
                cid = _np_cids(x, cents)
                out = []
                for c in np.unique(cid):
                    sel = x[cid == c]
                    out.append(
                        pd.DataFrame(
                            {
                                "cid": int(c),
                                "pos": range(sel.shape[1]),
                                "s": sel.sum(axis=0),
                                "n": sel.shape[0],
                            }
                        )
                    )
                yield pd.concat(out)

        sums = mu_df.mapInPandas(
            partials, "cid int, pos int, s long, n long"
        ).collect()
        new = [list(c) for c in centroids]  # empty clusters keep position
        acc: dict[int, list[int]] = {}
        cnt: dict[int, int] = {}
        for r in sums:
            vec = acc.setdefault(r.cid, [0] * dim)
            vec[r.pos] += int(r.s)
            if r.pos == 0:
                cnt[r.cid] = cnt.get(r.cid, 0) + int(r.n)
        for cid, vec in acc.items():
            # floor division == floor(mean * 1e6) since values are
            # already micro-units: stays on the integer lattice
            new[cid] = [_floored_mean(s, cnt[cid]) for s in vec]
        centroids = new

    # final assignment: the same numpy kernel as the iterations, as the
    # cid-only pandas_udf every IVF add uses
    return centroids, assign_clusters(mu_df, centroids)


def kmeans_stats(
    mu_df: DataFrame, centroids: list[list[int]]
) -> tuple[dict[int, int], int]:
    """Per-cluster sizes AND total within-cluster squared distance in
    ONE corpus pass (r14 opt): the quantizer report previously persisted
    the assignment, ran the inertia when-chain aggregate, then a count
    groupBy — three jobs over the same rows.  One numpy batch kernel
    computes the distance matrix once, takes its row-min for inertia and
    its argmin for the cluster id, and emits (cid, n, d2_sum) partial
    rows per Arrow batch — one per cluster, split further wherever a
    cluster's sum could pass int64 — and the driver folds partials as
    Python ints (arbitrary precision — a superset of the old
    F.sum(long) domain).
    Returns ({cid: n_vectors}, total_inertia)."""
    import numpy as np  # noqa: PLC0415

    cents = np.array(centroids, dtype=np.int64)

    def partials(it, cents=cents):
        for pdf in it:
            if len(pdf) == 0:
                continue
            x = np.stack(pdf["mu"].to_numpy()).astype(np.int64, copy=False)
            d2 = _np_d2(x, cents)
            cid = d2.argmin(axis=1)
            best = d2[np.arange(len(cid)), cid]
            # exact int64 per-cluster sums (bincount weights are float64
            # and would round above 2^53): each partial sums at most
            # `run` rows, so it stays below 2^63 however many rows
            # arrow.maxRecordsPerBatch lets into one batch
            run = max(1, (2**63 - 1) // max(1, int(best.max())))
            out = []
            for c in np.unique(cid):
                d = best[cid == c]
                for lo in range(0, len(d), run):
                    part = d[lo : lo + run]
                    out.append((int(c), len(part), int(part.sum())))
            yield pd.DataFrame(out, columns=["cid", "n", "s"]).astype({"cid": "int32"})

    counts: dict[int, int] = {}
    total = 0
    for r in mu_df.mapInPandas(partials, "cid int, n long, s long").collect():
        counts[r.cid] = counts.get(r.cid, 0) + int(r.n)
        total += int(r.s)
    return counts, total


def _floored_mean(s: int, n: int) -> int:
    """floor(s / n) on integers, matching both floor semantics and the
    per-dimension centroid update used throughout (negatives floor
    toward -inf, not toward zero)."""
    return s // n if s >= 0 else -((-s + n - 1) // n)


def kmeans_fit_grouped(
    sub: DataFrame, k: int, iterations: int, dim: int
) -> tuple[dict[tuple[int, int], list[int]], DataFrame]:
    """GROUPED Lloyd's algorithm: one independent k-means per subspace
    ``m`` over micro-unit vectors in ``sv`` — the product-quantization
    trainer (one codebook per subspace), r7.  Same exact-
    integer discipline as :func:`kmeans_fit` (int64 distances,
    floored-mean updates, ties to the lowest cid, empty clusters keep
    position) and the same deterministic seed (each group's
    lexicographically-first k rows by vec_id, i.e. vec_ids 0..k-1).

    Instead of plan-literal centroid expressions (fine for ONE k×d
    matrix, unwieldy for groups×k×d), each iteration broadcasts the
    groups×k centroid table and ranks candidates with one window —
    assignments shuffle (vec, group) keys only, and the driver collects
    groups×k×dim bounded rows per iteration.  Returns ({(group, cid):
    centroid}, final assignment DataFrame with a `cid` column)."""
    spark = sub.sparkSession
    sub = sub.localCheckpoint(eager=True)
    seed = sub.filter(F.col("vec_id") < k).select(
        F.col("m").cast("int").alias("g"),
        F.col("vec_id").cast("int").alias("cid"),
        F.col("sv").alias("cv"),
    )
    cents: dict[tuple[int, int], list[int]] = {
        (r.g, r.cid): list(r.cv) for r in seed.collect()
    }

    def assign(c: dict) -> DataFrame:
        cb = spark.createDataFrame(
            [(g, cid, cv) for (g, cid), cv in sorted(c.items())],
            "m int, cid int, cv array<bigint>",
        )
        return nearest_codes(sub, cb).select("vec_id", "m", "sv", "cid")

    for _ in range(iterations):
        assigned = assign(cents)
        sums = (
            assigned.select("m", "cid", F.posexplode("sv").alias("pos", "v"))
            .groupBy("m", "cid", "pos")
            .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        new = {key: list(cv) for key, cv in cents.items()}  # empty keep position
        acc: dict[tuple[int, int], list[tuple[int, int, int]]] = {}
        for r in sums:
            acc.setdefault((r[0], r[1]), []).append((r.pos, r.s, r.n))
        for key, entries in acc.items():
            vec = [0] * dim
            for pos, s, n in entries:
                vec[pos] = _floored_mean(s, n)
            new[key] = vec
        cents = new

    return cents, assign(cents)
