"""catalog.load's per-path schema cache: inferred once per file signature.

A hit must launch no Spark job, and the cache must never hide a change
to the table: added files, rewritten files and new columns all show on
the next load, and two loads of one table stay independent relations.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq

from specialsid_spark import catalog


def _write(path, n: int, *, row_group_size: int | None = None, extra: bool = False):
    cols = {"k": pa.array(range(n), pa.int64())}
    if extra:
        cols["v"] = pa.array([f"v{i}" for i in range(n)])
    pq.write_table(pa.table(cols), str(path), row_group_size=row_group_size)


def test_second_load_runs_no_job(spark, tmp_path, jobs_in_group):
    _write(tmp_path / "t.parquet", 10)
    first, _ = jobs_in_group(
        "catalog-first", lambda: catalog.load(spark, str(tmp_path), "t")
    )
    second, df = jobs_in_group(
        "catalog-second", lambda: catalog.load(spark, str(tmp_path), "t")
    )
    assert first >= 1  # schema inference
    assert second == 0
    assert df.count() == 10


def test_file_added_to_directory_table_is_read(spark, tmp_path):
    table = tmp_path / "t.parquet"
    table.mkdir()
    _write(table / "part-0.parquet", 10)
    assert catalog.load(spark, str(tmp_path), "t").count() == 10
    _write(table / "part-1.parquet", 5)
    assert catalog.load(spark, str(tmp_path), "t").count() == 15


def test_rewritten_table_shows_new_column(spark, tmp_path):
    _write(tmp_path / "t.parquet", 10)
    assert catalog.load(spark, str(tmp_path), "t").columns == ["k"]
    _write(tmp_path / "t.parquet", 10, extra=True)
    df = catalog.load(spark, str(tmp_path), "t")
    assert df.columns == ["k", "v"]
    assert df.filter("k = 3").first()["v"] == "v3"


def test_two_loads_self_join(spark, sf_dir):
    a = catalog.load(spark, sf_dir, "nation")
    b = catalog.load(spark, sf_dir, "nation")  # a cache hit
    pairs = a.join(b, a["n_nationkey"] == b["n_regionkey"]).count()
    n = a.toPandas()
    want = sum((n["n_regionkey"] == k).sum() for k in n["n_nationkey"])
    assert pairs == want > 0


def test_events_ts_is_timestamp_ntz_on_hit(spark, sf_dir, jobs_in_group):
    catalog.load(spark, sf_dir, "events")
    jobs, df = jobs_in_group(
        "catalog-events", lambda: catalog.load(spark, sf_dir, "events")
    )
    assert jobs == 0
    assert dict(df.dtypes)["ts"] == "timestamp_ntz"
    ts = df.agg({"ts": "min"}).first()[0]
    assert 2000 <= ts.year <= 2100  # micros, not nanos read as micros


def test_row_group_probe_sees_rewrite(tmp_path):
    path = str(tmp_path / "t.parquet")
    _write(path, 4000)
    assert catalog._parquet_scan_units(path) == (1, 4000)  # noqa: SLF001
    _write(path, 4000, row_group_size=1000)
    assert catalog._parquet_scan_units(path) == (4, 4000)  # noqa: SLF001

