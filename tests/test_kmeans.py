"""Assignment-level parity of the distributed k-means against a pure
numpy reference — possible because both sides do exact int64 arithmetic
on micro-unit components (no float summation order anywhere)."""

from __future__ import annotations

import math

import numpy as np
import pytest

from specialsid_spark.catalog import load
from specialsid_spark.operators.kmeans import kmeans_fit, kmeans_stats


def _numpy_kmeans(vecs: np.ndarray, ids: np.ndarray, k: int, iterations: int):
    mu = np.floor(vecs.astype(np.float64) * 1_000_000).astype(np.int64)
    order = np.argsort(ids)
    centroids = mu[order[:k]].copy()
    for _ in range(iterations):
        d = ((mu[:, None, :] - centroids[None, :, :]) ** 2).sum(axis=2)
        cid = d.argmin(axis=1)  # argmin takes lowest index on ties
        for c in range(k):
            members = mu[cid == c]
            if len(members):
                s = members.sum(axis=0)
                n = len(members)
                centroids[c] = np.where(s >= 0, s // n, -((-s + n - 1) // n))
    d = ((mu[:, None, :] - centroids[None, :, :]) ** 2).sum(axis=2)
    cid = d.argmin(axis=1)
    return centroids, cid, int(d.min(axis=1).sum())


@pytest.mark.parametrize("k,iters", [(4, 2), (8, 3)])
def test_kmeans_matches_numpy_reference(spark, sf_dir, k, iters):
    e = load(spark, sf_dir, "embeddings")
    rows = e.select("vec_id", "embedding").collect()
    ids = np.array([r.vec_id for r in rows])
    vecs = np.array([r.embedding for r in rows])

    centroids, assigned = kmeans_fit(e, k=k, iterations=iters)
    got = {r.vec_id: r.cid for r in assigned.select("vec_id", "cid").collect()}
    ref_centroids, ref_cid, ref_inertia = _numpy_kmeans(vecs, ids, k, iters)

    assert centroids == [list(c) for c in ref_centroids]
    ref_map = dict(zip(ids.tolist(), ref_cid.tolist()))
    assert got == ref_map
    assert kmeans_stats(assigned.select("vec_id", "mu"), centroids)[1] == ref_inertia


def test_kmeans_inertia_decreases(spark, sf_dir):
    e = load(spark, sf_dir, "embeddings")
    prev = None
    for iters in (1, 2, 3):
        c, a = kmeans_fit(e, k=8, iterations=iters)
        cur = kmeans_stats(a.select("vec_id", "mu"), c)[1]
        if prev is not None:
            assert cur <= prev, f"inertia rose at iteration {iters}"
        prev = cur


def test_ivf_index_time_travel_reproduces_search(
    spark, sf_dir, tmp_path, assign_clusters_sql
):
    """A persisted quantizer is a versioned artifact: overwriting the
    index with a retrained version must NOT change what a time-traveled
    search over the old version returns."""
    from specialsid_spark.operators.snapshot import snapshot_commit
    from specialsid_spark.queries.vectors import (
        _IVF_NQUERY,
        _ivf_search,
        ivf_centroids_from_table,
    )
    from specialsid_spark.operators.kmeans import lattice
    from pyspark.sql import functions as F

    e = load(spark, sf_dir, "embeddings")
    c1, _ = kmeans_fit(e, k=4, iterations=1)
    c2, _ = kmeans_fit(e, k=4, iterations=3)
    assert c1 != c2  # otherwise the test proves nothing

    t = str(tmp_path / "quantizer")
    for cs in (c1, c2):
        df = spark.createDataFrame(
            [(i, c) for i, c in enumerate(cs)], "cid int, centroid array<bigint>"
        )
        snapshot_commit(df.coalesce(1), t, mode="overwrite")

    assert ivf_centroids_from_table(spark, t, 1) == c1
    assert ivf_centroids_from_table(spark, t) == c2

    mu_df = e.select("vec_id", lattice(F.col("embedding")).alias("mu"))

    def run(cs):
        return [
            tuple(r)
            for r in _ivf_search(
                assign_clusters_sql(mu_df, cs), cs, F.col("vec_id") < _IVF_NQUERY
            ).collect()
        ]

    # time-traveled index == the exact historical search
    assert run(ivf_centroids_from_table(spark, t, 1)) == run(c1)
    assert run(ivf_centroids_from_table(spark, t)) == run(c2)


def test_assign_clusters_matches_sql_referee(spark, sf_dir, assign_clusters_sql):
    """The numpy assignment kernel must be bit-identical to the SQL CASE
    referee for every row — same exact int64 lattice distances, same
    lowest-cid tie-break."""
    from pyspark.sql import functions as F

    from specialsid_spark.operators.kmeans import assign_clusters, lattice

    e = load(spark, sf_dir, "embeddings")
    centroids, _ = kmeans_fit(e, k=8, iterations=1)
    # duplicate a centroid to force ties: both routes must break to
    # the lowest cid
    centroids = list(centroids)
    centroids[5] = list(centroids[2])
    mu_df = e.select("vec_id", lattice(F.col("embedding")).alias("mu"))
    sql_map = {
        r.vec_id: r.cid
        for r in assign_clusters_sql(mu_df, centroids).select("vec_id", "cid").collect()
    }
    got = {
        r.vec_id: r.cid
        for r in assign_clusters(mu_df, centroids).select("vec_id", "cid").collect()
    }
    assert got == sql_map
    # the tie case really occurs and breaks low: cid 5 is never chosen
    assert 2 in sql_map.values() and 5 not in sql_map.values()


def test_grouped_kmeans_matches_ungrouped_on_single_group(spark, sf_dir):
    """kmeans_fit_grouped over one group (the full 64-dim vectors with
    a constant m) must land on exactly kmeans_fit's centroids and
    assignments — same seed device, same integer lattice."""
    from pyspark.sql import functions as F

    from specialsid_spark.operators.kmeans import kmeans_fit_grouped, lattice

    e = load(spark, sf_dir, "embeddings")
    plain_c, plain_a = kmeans_fit(e, k=4, iterations=2)
    sub = e.select(
        "vec_id",
        F.lit(0).alias("m"),
        lattice(F.col("embedding")).alias("sv"),
    )
    cents, assigned = kmeans_fit_grouped(sub, k=4, iterations=2, dim=64)
    assert [cents[(0, i)] for i in range(4)] == plain_c
    got = {r.vec_id: r.cid for r in assigned.collect()}
    want = {r.vec_id: r.cid for r in plain_a.select("vec_id", "cid").collect()}
    assert got == want


def test_kmeans_stats_exact_when_batch_sum_passes_int64(spark):
    """Worst-case magnitudes (64 dims at ±4e6 micro-units, ~1.0e15 d2
    per row) with arrow.maxRecordsPerBatch raised so 12k rows share one
    Arrow batch: the batch's d2 sum (1.2e19) is past int64, and the
    per-cluster partials must still fold to the exact total."""
    from pyspark.sql import functions as F

    from specialsid_spark.operators.kmeans import kmeans_stats

    n, dim, mag = 12_000, 64, 4_000_000
    mu_df = spark.range(0, n, numPartitions=1).select(
        F.col("id").alias("vec_id"),
        F.array_repeat(
            F.when(F.col("id") % 2 == 0, F.lit(mag)).otherwise(F.lit(-mag)).cast("long"), dim
        ).alias("mu"),
    )
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "20000")
    try:
        counts, total = kmeans_stats(mu_df, [[0] * dim, [3 * mag] * dim])
    finally:
        spark.conf.set(key, old)
    assert counts == {0: n}
    assert total == n * dim * mag * mag


def test_lattice_vocabulary_matches_python_ints(spark):
    """The lattice snap and the integer folds against Python's
    arbitrary-precision ints: floor (not truncation) on negative
    components, components at the ±1e6 lattice magnitude, and the
    overflow bound the module states (64 dims of ±1.8e8 lattice values
    fold exactly below 2^63)."""
    from pyspark.sql import functions as F

    from specialsid_spark.operators.kmeans import (
        idist2,
        idot,
        inorm2,
        lattice,
        micro,
    )

    a = [-1.0, 1.0, -0.0000005, 0.9999995, -0.25, 0.0, 0.3, -0.7, -0.001]
    b = [1.0, -1.0, 0.5, -0.9999995, -0.0000001, 0.75, -0.3, 0.7, 0.002]
    big = [179_999_999, -179_999_999] * 32
    df = spark.createDataFrame(
        [(a, b, big, [-v for v in big])],
        "a array<double>, b array<double>, p array<bigint>, q array<bigint>",
    )
    la, lb = lattice(F.col("a")), lattice(F.col("b"))
    r = df.select(
        la.alias("la"),
        lb.alias("lb"),
        F.transform("a", micro).alias("ma"),
        lattice(F.col("a"), 512).alias("l512"),
        idot(la, lb).alias("dot"),
        inorm2(la).alias("n2"),
        idist2(la, lb).alias("d2"),
        idot(F.col("p"), F.col("q")).alias("big_dot"),
        inorm2(F.col("p")).alias("big_n2"),
        idist2(F.col("p"), F.col("q")).alias("big_d2"),
    ).first()

    pa = [math.floor(x * 1_000_000) for x in a]
    pb = [math.floor(x * 1_000_000) for x in b]
    assert r.la == r.ma == pa and r.lb == pb
    assert pa[0] == -1_000_000 and pa[1] == 1_000_000
    # floor, not truncation: -0.5 micro-units and -0.512 (at 512) go down
    assert pa[2] == -1 and int(a[2] * 1_000_000) == 0
    assert r.l512 == [math.floor(x * 512) for x in a] and r.l512[-1] == -1
    assert r.dot == sum(x * y for x, y in zip(pa, pb))
    assert r.n2 == sum(x * x for x in pa)
    assert r.d2 == sum((x - y) ** 2 for x, y in zip(pa, pb))
    q = [-v for v in big]
    assert r.big_dot == sum(x * y for x, y in zip(big, q))
    assert r.big_n2 == sum(x * x for x in big)
    assert r.big_d2 == sum((x - y) ** 2 for x, y in zip(big, q)) < 2**63
