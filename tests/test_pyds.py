"""Custom Python DataSource (sources/pyds.py): manifest partition
planning, planning-time filter pruning, never-drop conservatism."""

from __future__ import annotations

from pyspark.sql.datasource import (
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    IsNotNull,
    LessThanOrEqual,
)

from specialsid_spark.operators.snapshot import (
    _commit_files,
    _write_files,
    snapshot_commit,
)
from specialsid_spark.sources.pyds import SnapshotReader, register_snapshot_source


def _table(spark, tmp_path, with_stats=True):
    t = str(tmp_path / "tbl")
    for lo, hi in ((0, 100), (100, 200), (200, 300)):
        df = spark.range(lo, hi).selectExpr("id", "id * 10 AS v").coalesce(1)
        if with_stats:
            snapshot_commit(df, t)
        else:  # files committed without stats, which always route
            files, _, schema = _write_files(df, t)
            _commit_files(t, files, "append", schema=schema)
    return t


def test_read_and_rowlevel_filter(spark, tmp_path):
    t = _table(spark, tmp_path)
    register_snapshot_source(spark)
    df = (
        spark.read.format("specialsid_snapshot")
        .schema("id long, v long")
        .option("path", t)
        .load()
    )
    assert df.count() == 300
    got = df.filter("id >= 120 AND id <= 180").selectExpr(
        "count(*) AS n", "sum(v) AS s"
    ).collect()[0]
    assert (got.n, got.s) == (61, 91500)


def test_planning_time_file_pruning(spark, tmp_path):
    r = SnapshotReader(_table(spark, tmp_path))
    assert len(r.partitions()) == 3
    r.pushFilters([GreaterThanOrEqual(("id",), 120), LessThanOrEqual(("id",), 180)])
    assert len(r.partitions()) == 1
    r2 = SnapshotReader(_table(spark, tmp_path / "b"))
    r2.pushFilters([EqualTo(("id",), 250)])
    assert len(r2.partitions()) == 1
    # strict > is treated conservatively as >= (may keep one extra file)
    r3 = SnapshotReader(_table(spark, tmp_path / "c"))
    r3.pushFilters([GreaterThan(("id",), 199)])
    assert len(r3.partitions()) == 2


def test_pruning_is_conservative(spark, tmp_path):
    # stats-less files are always kept; un-prunable filters keep all
    t = _table(spark, tmp_path, with_stats=False)
    r = SnapshotReader(t)
    r.pushFilters([EqualTo(("id",), 50)])
    assert len(r.partitions()) == 3
    t2 = _table(spark, tmp_path / "b")
    r2 = SnapshotReader(t2)
    r2.pushFilters([IsNotNull(("id",))])
    assert len(r2.partitions()) == 3


def _run_stream(spark, t, out, ck):
    q = (
        spark.readStream.format("specialsid_snapshot")
        .schema("id long, v long")
        .option("path", t)
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def test_stream_source_tails_commits_exactly_once(spark, tmp_path):
    """Snapshot commits as micro-batches: the first batch delivers the
    table as of stream start, later commits stream only their new
    files, and a re-run with no new commits emits nothing (offsets =
    version numbers in the checkpoint)."""
    t, out, ck = (str(tmp_path / n) for n in ("tbl", "out", "ck"))
    snapshot_commit(
        spark.range(0, 5).selectExpr("id", "id*10 AS v").coalesce(1), t
    )
    snapshot_commit(
        spark.range(5, 8).selectExpr("id", "id*10 AS v").coalesce(1),
        t,
        mode="append",
    )
    register_snapshot_source(spark)
    _run_stream(spark, t, out, ck)
    assert sorted(r.id for r in spark.read.parquet(out).collect()) == list(range(8))
    snapshot_commit(
        spark.range(8, 10).selectExpr("id", "id*10 AS v").coalesce(1),
        t,
        mode="append",
    )
    _run_stream(spark, t, out, ck)
    assert sorted(r.id for r in spark.read.parquet(out).collect()) == list(range(10))
    _run_stream(spark, t, out, ck)  # no new commits -> no duplicates
    assert spark.read.parquet(out).count() == 10


def test_stream_source_rejects_non_append(spark, tmp_path):
    """A rewriting commit (overwrite) must fail the stream loudly —
    rewritten files would double-deliver rows."""
    import pytest
    from pyspark.errors.exceptions.captured import StreamingQueryException

    t, out, ck = (str(tmp_path / n) for n in ("tbl", "out", "ck"))
    snapshot_commit(
        spark.range(0, 5).selectExpr("id", "id*10 AS v").coalesce(1), t
    )
    register_snapshot_source(spark)
    _run_stream(spark, t, out, ck)
    snapshot_commit(
        spark.range(0, 3).selectExpr("id", "id*10 AS v").coalesce(1),
        t,
        mode="overwrite",
    )
    with pytest.raises(StreamingQueryException, match="append-only"):
        _run_stream(spark, t, out, ck)


def test_arrow_writer_commits_manifest_versions(spark, tmp_path):
    """df.write through the custom source: each mode('append') is one
    manifest version, overwrite starts a new file list, history time
    travels, and interop with snapshot_read is exact."""
    from specialsid_spark.operators.snapshot import snapshot_read, snapshot_versions

    t = str(tmp_path / "tbl")
    register_snapshot_source(spark)
    for lo, hi in ((0, 100), (100, 150)):
        (
            spark.range(lo, hi)
            .selectExpr("id", "id*10 AS v")
            .write.format("specialsid_snapshot")
            .option("path", t)
            .mode("append")
            .save()
        )
    assert snapshot_versions(t) == [1, 2]
    assert snapshot_read(spark, t).count() == 150
    assert snapshot_read(spark, t, 1).count() == 100
    (
        spark.range(0, 7)
        .selectExpr("id", "id*10 AS v")
        .write.format("specialsid_snapshot")
        .option("path", t)
        .mode("overwrite")
        .save()
    )
    assert snapshot_read(spark, t).count() == 7
    assert snapshot_read(spark, t, 2).count() == 150  # history intact
    # round-trip through the custom READER too
    back = (
        spark.read.format("specialsid_snapshot")
        .schema("id long, v long")
        .option("path", t)
        .load()
    )
    assert sorted(r.id for r in back.collect()) == list(range(7))


def test_writer_orphan_files_are_invisible(spark, tmp_path):
    """A data file not referenced by any manifest (failed/speculative
    task debris) is invisible to every reader — the manifest IS the
    commit protocol; no output committer needed."""
    from pathlib import Path

    from specialsid_spark.operators.snapshot import snapshot_read

    t = str(tmp_path / "tbl")
    register_snapshot_source(spark)
    (
        spark.range(0, 20)
        .selectExpr("id", "id*10 AS v")
        .write.format("specialsid_snapshot")
        .option("path", t)
        .mode("append")
        .save()
    )
    commit_dir = next((Path(t) / "data").iterdir())
    real = next(p for p in commit_dir.iterdir() if p.suffix == ".parquet")
    (commit_dir / "orphan.parquet").write_bytes(real.read_bytes())
    assert snapshot_read(spark, t).count() == 20
    back = (
        spark.read.format("specialsid_snapshot")
        .schema("id long, v long")
        .option("path", t)
        .load()
    )
    assert back.count() == 20


def test_query_green_on_default_conf_session(spark, tmp_path):
    """VERDICT r7 #1: the correctness driver builds its own session
    where spark.sql.python.filterPushdown.enabled defaults to FALSE and
    Spark 4 hard-errors on a reader implementing pushFilters() under
    it.  register_snapshot_source must force the conf at runtime so the
    query is green on any host session."""
    conf = "spark.sql.python.filterPushdown.enabled"
    prior = spark.conf.get(conf)
    try:
        spark.conf.set(conf, "false")
        from specialsid_spark.queries.retail import src_python_datasource_scan

        row = src_python_datasource_scan(spark, "/root/testdata/sf0.001").collect()[0]
        assert row["n_rows"] > 0 and row["sum_cents"] > 0
        assert spark.conf.get(conf) == "true"
    finally:
        spark.conf.set(conf, prior)


def _dv_table(spark, tmp_path):
    """100 rows with stats, rows 0..9 masked by a deletion vector."""
    from specialsid_spark.operators.snapshot import snapshot_delete_dv

    t = str(tmp_path / "tbl")
    snapshot_commit(spark.range(0, 100).selectExpr("id", "id * 10 AS v"), t)
    assert snapshot_delete_dv(spark, t, "id", 0, 9) == (2, 10)
    return t


def test_reader_refuses_deletion_vectors(spark, tmp_path):
    """The file-granular reader cannot mask rows, so a head with
    deletion vectors fails loudly instead of returning deleted rows."""
    import pytest
    from pyspark.errors import AnalysisException

    t = _dv_table(spark, tmp_path)
    with pytest.raises(ValueError, match="deletion vectors"):
        SnapshotReader(t)
    register_snapshot_source(spark)
    df = (
        spark.read.format("specialsid_snapshot")
        .schema("id long, v long")
        .option("path", t)
        .load()
    )
    with pytest.raises(AnalysisException, match="deletion vectors"):
        df.count()


def test_writer_append_keeps_deletion_vectors(spark, tmp_path):
    """A custom-format append carries the head's deletion vectors, so
    the masked rows stay deleted."""
    from specialsid_spark.operators.snapshot import _read_manifest, snapshot_read

    t = _dv_table(spark, tmp_path)
    register_snapshot_source(spark)
    (
        spark.range(100, 105)
        .selectExpr("id", "id * 10 AS v")
        .write.format("specialsid_snapshot")
        .option("path", t)
        .mode("append")
        .save()
    )
    assert snapshot_read(spark, t).count() == 95
    dvs = _read_manifest(t, 2)["deletes"]
    assert dvs and _read_manifest(t, 3)["deletes"] == dvs


def test_writer_records_schema_and_stats(spark, tmp_path):
    """The custom-format writer records the written schema and its
    files' footer stats, so an empty overwrite reads back typed (no
    bogus column) and appended files prune like snapshot_commit's."""
    from specialsid_spark.operators.snapshot import _read_manifest, snapshot_read

    t = str(tmp_path / "tbl")
    register_snapshot_source(spark)

    def write(lo, hi, mode):
        (
            spark.range(lo, hi)
            .selectExpr("id", "id * 10 AS v")
            .coalesce(1)
            .write.format("specialsid_snapshot")
            .option("path", t)
            .mode(mode)
            .save()
        )

    write(0, 100, "append")
    (stats,) = _read_manifest(t, 1)["stats"].values()
    assert stats == {"id": [0, 99], "v": [0, 990]}
    write(0, 0, "overwrite")
    assert _read_manifest(t, 2)["files"] == []
    empty = snapshot_read(spark, t)
    assert empty.dtypes == [("id", "bigint"), ("v", "bigint")]
    assert empty.count() == 0
