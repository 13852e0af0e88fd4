"""Assignment-level parity of the distributed k-means against a pure
numpy reference — possible because both sides do exact int64 arithmetic
on micro-unit components (no float summation order anywhere)."""

from __future__ import annotations

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
    from specialsid_spark.operators.kmeans import _mu_vec
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

    mu_df = e.select("vec_id", _mu_vec(F.col("embedding")).alias("mu"))

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

    from specialsid_spark.operators.kmeans import _mu_vec, assign_clusters

    e = load(spark, sf_dir, "embeddings")
    centroids, _ = kmeans_fit(e, k=8, iterations=1)
    # duplicate a centroid to force ties: both routes must break to
    # the lowest cid
    centroids = list(centroids)
    centroids[5] = list(centroids[2])
    mu_df = e.select("vec_id", _mu_vec(F.col("embedding")).alias("mu"))
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

    from specialsid_spark.operators.kmeans import _mu_vec, kmeans_fit_grouped

    e = load(spark, sf_dir, "embeddings")
    plain_c, plain_a = kmeans_fit(e, k=4, iterations=2)
    sub = e.select(
        "vec_id",
        F.lit(0).alias("m"),
        _mu_vec(F.col("embedding")).alias("sv"),
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
