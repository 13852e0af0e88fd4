from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from specialsid_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture
def jobs_in_group(spark):
    """``run(group, fn)`` calls ``fn`` under a Spark job group of its own
    and returns (number of Spark jobs it launched, its result)."""
    sc = spark.sparkContext

    def run(group: str, fn):
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()  # noqa: SLF001
        return len(sc.statusTracker().getJobIdsForGroup(group)), out

    return run


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def assign_clusters_sql():
    """Independent referee for ``operators.kmeans.assign_clusters``:
    ``assign(mu_df, centroids)`` adds `cid`, the nearest centroid by
    exact int64 squared L2 (ties -> lowest cid), as a CASE over k×d SQL
    literals instead of the package's numpy kernel."""
    from specialsid_spark.operators.kmeans import _dist2_sql

    def assign(mu_df, centroids):
        k = len(centroids)
        d_exprs = [f"{_dist2_sql('mu', c)} AS d{i}" for i, c in enumerate(centroids)]
        best = "least(" + ",".join(f"d{i}" for i in range(k)) + ")"
        case = (
            "CASE "
            + " ".join(f"WHEN d{i} = {best} THEN {i}" for i in range(k - 1))
            + f" ELSE {k - 1} END AS cid"
        )
        return mu_df.selectExpr("*", *d_exprs).selectExpr(*mu_df.columns, case)

    return assign
