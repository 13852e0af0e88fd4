"""Manifest snapshots (operators/snapshot.py): commit atomicity,
append/overwrite lineage, time travel, snapshot isolation, vacuum
safety."""

from __future__ import annotations

import json
from pathlib import Path

import pytest

from specialsid_spark.operators.snapshot import (
    snapshot_commit,
    snapshot_read,
    snapshot_vacuum,
    snapshot_versions,
)


def _df(spark, lo, hi):
    return spark.range(lo, hi).selectExpr("id", "id * 10 AS v")


def test_append_overwrite_time_travel(spark, tmp_path):
    t = str(tmp_path / "tbl")
    assert snapshot_versions(t) == []
    assert snapshot_commit(_df(spark, 0, 100), t) == 1
    assert snapshot_commit(_df(spark, 100, 150), t, mode="append") == 2
    assert snapshot_commit(_df(spark, 500, 520), t, mode="overwrite") == 3
    assert snapshot_versions(t) == [1, 2, 3]
    assert snapshot_read(spark, t, 1).count() == 100
    assert snapshot_read(spark, t, 2).count() == 150
    assert snapshot_read(spark, t).count() == 20  # latest = overwrite
    # v2 content is exactly v1 ∪ the appended batch
    got = sorted(r.id for r in snapshot_read(spark, t, 2).collect())
    assert got == list(range(150))


def test_snapshot_isolation_reader_pinned(spark, tmp_path):
    t = str(tmp_path / "tbl")
    snapshot_commit(_df(spark, 0, 50), t)
    pinned = snapshot_read(spark, t)  # resolves v1's file list NOW
    snapshot_commit(_df(spark, 50, 60), t, mode="append")
    snapshot_commit(_df(spark, 0, 5), t, mode="overwrite")
    assert pinned.count() == 50  # unaffected by later commits
    assert snapshot_read(spark, t).count() == 5


def test_crash_before_manifest_is_invisible(spark, tmp_path):
    """Data files without a manifest (simulated crash mid-commit) never
    appear to readers and are vacuumable."""
    t = str(tmp_path / "tbl")
    snapshot_commit(_df(spark, 0, 10), t)
    # orphan: a data dir that never got its manifest
    orphan = Path(t) / "data" / "v9-deadbeef"
    _df(spark, 0, 99).write.parquet(str(orphan))
    assert snapshot_read(spark, t).count() == 10
    removed = snapshot_vacuum(t, keep_last=5)
    assert all(r.startswith("data/v9-deadbeef") for r in removed) and removed
    assert snapshot_read(spark, t).count() == 10


def test_vacuum_keeps_retained_versions_readable(spark, tmp_path):
    t = str(tmp_path / "tbl")
    snapshot_commit(_df(spark, 0, 30), t)
    snapshot_commit(_df(spark, 30, 40), t, mode="append")
    snapshot_commit(_df(spark, 100, 105), t, mode="overwrite")
    removed = snapshot_vacuum(t, keep_last=2)
    # v1's files are still referenced by v2 (append lineage): NOT removed
    assert snapshot_versions(t) == [2, 3]
    assert snapshot_read(spark, t, 2).count() == 40
    assert snapshot_read(spark, t, 3).count() == 5
    assert removed == []  # every v1 file lives on in v2
    with pytest.raises(ValueError):
        snapshot_read(spark, t, 1)


def test_vacuum_drops_overwritten_files(spark, tmp_path):
    t = str(tmp_path / "tbl")
    snapshot_commit(_df(spark, 0, 30), t)
    snapshot_commit(_df(spark, 100, 105), t, mode="overwrite")
    snapshot_commit(_df(spark, 200, 210), t, mode="overwrite")
    removed = snapshot_vacuum(t, keep_last=2)
    assert removed and all(r.startswith("data/v1-") for r in removed)
    assert snapshot_read(spark, t, 2).count() == 5
    assert snapshot_read(spark, t, 3).count() == 10


def test_vacuum_refuses_to_destroy_table(spark, tmp_path):
    """keep_last < 1 would retain nothing — delete every data file and
    manifest including the latest committed version.  Refuse loudly."""
    t = str(tmp_path / "tbl")
    snapshot_commit(_df(spark, 0, 10), t)
    for bad in (0, -1):
        with pytest.raises(ValueError, match="keep_last"):
            snapshot_vacuum(t, keep_last=bad)
    assert snapshot_read(spark, t).count() == 10  # untouched


def test_file_stats_require_complete_row_group_coverage(spark, tmp_path):
    """A column whose min/max is missing from SOME row groups must be
    absent from the file's recorded stats (partial ranges under-cover
    the file and would make scan() prune rows that exist)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from specialsid_spark.operators.snapshot import _file_stats

    root = tmp_path
    # two row groups; disable stats for column 'b' only
    tbl = pa.table({"a": list(range(10)), "b": list(range(10, 20))})
    pq.write_table(
        tbl,
        str(root / "f.parquet"),
        row_group_size=5,
        write_statistics=["a"],
    )
    stats = _file_stats(root, "f.parquet", ["a", "b"])
    assert stats == {"a": [0, 9]}  # 'b' has no complete coverage → absent

    # sanity: full coverage records both
    pq.write_table(tbl, str(root / "g.parquet"), row_group_size=5)
    stats2 = _file_stats(root, "g.parquet", ["a", "b"])
    assert stats2 == {"a": [0, 9], "b": [10, 19]}


def test_manifest_records_lineage(spark, tmp_path):
    t = str(tmp_path / "tbl")
    snapshot_commit(_df(spark, 0, 10), t)
    snapshot_commit(_df(spark, 10, 20), t, mode="append")
    m = json.loads((Path(t) / "_manifests" / "v2.json").read_text())
    assert m["parent"] == 1 and m["op"] == "append"
    assert all(f.startswith("data/") for f in m["files"])
    with pytest.raises(ValueError):
        snapshot_commit(_df(spark, 0, 1), t, mode="merge")


def test_snapshot_diff_rows_and_file_pruning(spark, tmp_path):
    """snapshot_diff returns multiset-correct inserts/deletes AND never
    reads files shared by both manifests (immutable files cancel)."""
    from specialsid_spark.operators.snapshot import snapshot_diff

    t = str(tmp_path / "tbl")
    snapshot_commit(_df(spark, 0, 10), t)                    # v1: ids 0..9
    snapshot_commit(_df(spark, 10, 15), t, mode="append")    # v2: +10..14
    snapshot_commit(_df(spark, 5, 12), t, mode="overwrite")  # v3: 5..11

    d12 = snapshot_diff(spark, t, 1, 2)
    rows = {(r["change_type"], r["id"]) for r in d12.collect()}
    assert rows == {("insert", k) for k in range(10, 15)}
    # pruning: the shared v1 file never enters the scan
    scanned = {f.rsplit("/", 1)[-1] for f in d12.inputFiles()}
    v1_files = {
        f.rsplit("/", 1)[-1]
        for f in json.loads((Path(t) / "_manifests" / "v1.json").read_text())["files"]
    }
    assert scanned and not (scanned & v1_files)

    # overwrite diff: ids 5..11 exist in BOTH versions but in different
    # files — exceptAll cancels them by VALUE, so only true changes
    # remain: deletes 0..4 and 12..14, no inserts
    d23 = snapshot_diff(spark, t, 2, 3)
    got = {(r["change_type"], r["id"]) for r in d23.collect()}
    assert got == {("delete", k) for k in [*range(0, 5), *range(12, 15)]}


def test_snapshot_diff_identical_versions_empty(spark, tmp_path):
    from specialsid_spark.operators.snapshot import snapshot_diff

    t = str(tmp_path / "tbl")
    snapshot_commit(_df(spark, 0, 8), t)
    snapshot_commit(_df(spark, 100, 101), t, mode="append")
    # v1 vs v1-like subset: compare v2 with itself
    assert snapshot_diff(spark, t, 2, 2).count() == 0


def test_snapshot_stats_scan_boundaries(spark, tmp_path):
    """Stats pruning: straddling predicates read both files, stat-less
    files are always read, and pruning never drops rows."""
    from specialsid_spark.operators.snapshot import (
        snapshot_commit_stats,
        snapshot_scan,
    )

    t = str(tmp_path / "tbl")
    snapshot_commit_stats(_df(spark, 0, 10).coalesce(1), t, ["id"])
    snapshot_commit_stats(
        _df(spark, 10, 20).coalesce(1), t, ["id"], mode="append"
    )
    # inside file 1 only
    df, scanned, total = snapshot_scan(spark, t, "id", 2, 5)
    assert (scanned, total) == (1, 2) and df.count() == 4
    # straddles both
    df, scanned, total = snapshot_scan(spark, t, "id", 8, 12)
    assert (scanned, total) == (2, 2) and df.count() == 5
    # outside everything
    df, scanned, total = snapshot_scan(spark, t, "id", 100, 200)
    assert (scanned, total) == (0, 2) or df.count() == 0
    # a commit without stats for the column is never pruned
    snapshot_commit(_df(spark, 50, 55).coalesce(1), t, mode="append")
    from specialsid_spark.operators.snapshot import snapshot_commit_stats as _s
    df, scanned, total = snapshot_scan(spark, t, "id", 2, 5)
    assert total == 3 and scanned == 2  # file 1 (match) + stat-less file
    assert df.count() == 4


def test_snapshot_compact_content_identical(spark, tmp_path):
    from specialsid_spark.operators.snapshot import snapshot_compact

    t = str(tmp_path / "tbl")
    snapshot_commit(_df(spark, 0, 10), t)
    snapshot_commit(_df(spark, 10, 20), t, mode="append")
    before = sorted((r["id"], r["v"]) for r in snapshot_read(spark, t).collect())
    n_files_before = len(
        json.loads((Path(t) / "_manifests" / "v2.json").read_text())["files"]
    )
    v = snapshot_compact(spark, t)
    m = json.loads((Path(t) / "_manifests" / f"v{v}.json").read_text())
    assert m["op"] == "compact" and len(m["files"]) == 1 < n_files_before
    after = sorted((r["id"], r["v"]) for r in snapshot_read(spark, t).collect())
    assert after == before
    # history intact: v2 still time-travels
    assert snapshot_read(spark, t, 2).count() == 20


def test_snapshot_schema_evolution_additive(spark, tmp_path):
    """A later append may carry NEW columns; merge_schema reads the
    union with NULLs for rows that predate the column, old files
    untouched (column add = metadata op, not a rewrite)."""
    t = str(tmp_path / "tbl")
    snapshot_commit(_df(spark, 0, 5), t)  # id, v
    wide = spark.range(5, 8).selectExpr("id", "id * 10 AS v", "id + 100 AS extra")
    snapshot_commit(wide, t, mode="append")

    cur = snapshot_read(spark, t, merge_schema=True)
    assert set(cur.columns) == {"id", "v", "extra"}
    rows = {r["id"]: r["extra"] for r in cur.collect()}
    assert all(rows[k] is None for k in range(0, 5))
    assert all(rows[k] == k + 100 for k in range(5, 8))
    # old files on disk were never rewritten
    import json as _json

    v1_files = _json.loads(
        (Path(t) / "_manifests" / "v1.json").read_text()
    )["files"]
    v2_files = _json.loads(
        (Path(t) / "_manifests" / "v2.json").read_text()
    )["files"]
    assert set(v1_files) <= set(v2_files)
    # time travel still reads v1 with its ORIGINAL schema
    assert set(snapshot_read(spark, t, 1).columns) == {"id", "v"}


def test_delete_rewrites_only_intersecting_files(spark, tmp_path):
    """Copy-on-write DELETE: stats route the predicate to one file; the
    other files are SHARED (same relative paths) into the new version,
    the deleted rows are gone, and the pre-delete version still
    time-travels."""
    from specialsid_spark.operators.snapshot import (
        _read_manifest,
        snapshot_commit_stats,
        snapshot_delete,
    )

    t = str(tmp_path / "tbl")
    for lo, hi in ((0, 100), (100, 200), (200, 300)):
        snapshot_commit_stats(
            _df(spark, lo, hi).coalesce(1), t, ["id"], mode="append"
        )
    v, n_rewritten, n_before = snapshot_delete(spark, t, "id", 120, 180)
    assert (v, n_rewritten, n_before) == (4, 1, 3)
    got = sorted(r.id for r in snapshot_read(spark, t).collect())
    assert got == list(range(120)) + list(range(181, 300))
    # untouched files are carried over verbatim (shared, not copied)
    before = set(_read_manifest(t, 3)["files"])
    after = set(_read_manifest(t, 4)["files"])
    assert len(before & after) == 2
    # stats for shared files survive; pre-delete version time-travels
    assert set(_read_manifest(t, 4)["stats"]) == before & after
    assert snapshot_read(spark, t, 3).count() == 300


def test_delete_missing_stats_is_conservative(spark, tmp_path):
    """A file with no recorded stats must be rewritten (skipping could
    retain deleted rows) even when a stats-bearing sibling is pruned."""
    from specialsid_spark.operators.snapshot import (
        snapshot_commit,
        snapshot_commit_stats,
        snapshot_delete,
    )

    t = str(tmp_path / "tbl")
    snapshot_commit_stats(_df(spark, 0, 100).coalesce(1), t, ["id"])
    snapshot_commit(_df(spark, 100, 200).coalesce(1), t, mode="append")
    # predicate intersects the stats-bearing file AND the stats-less
    # file must be rewritten conservatively: both files touched
    _, n_rewritten, n_before = snapshot_delete(spark, t, "id", 10, 20)
    assert (n_rewritten, n_before) == (2, 2)
    got = sorted(r.id for r in snapshot_read(spark, t).collect())
    assert got == list(range(10)) + list(range(21, 200))


def test_update_rewrites_only_intersecting_files(spark, tmp_path):
    """Copy-on-write UPDATE: stats route the predicate to one file of
    three; matched rows get the SET expression, unmatched rows in the
    rewritten file carry verbatim, the other two files are SHARED
    (identical relative paths), rewritten-file stats are refreshed,
    and the pre-update version still time-travels."""
    from specialsid_spark.operators.snapshot import (
        _read_manifest,
        snapshot_commit_stats,
        snapshot_update,
    )

    t = str(tmp_path / "tbl")
    for lo, hi in ((0, 100), (100, 200), (200, 300)):
        snapshot_commit_stats(
            _df(spark, lo, hi).coalesce(1), t, ["id"], mode="append"
        )
    v, n_rewritten, n_before = snapshot_update(
        spark, t, "id", 120, 180, {"v": "v + 1000000"}
    )
    assert (v, n_rewritten, n_before) == (4, 1, 3)
    rows = {r.id: r.v for r in snapshot_read(spark, t).collect()}
    assert len(rows) == 300
    for i in range(300):
        assert rows[i] == i * 10 + (1000000 if 120 <= i <= 180 else 0), i
    before = set(_read_manifest(t, 3)["files"])
    after_m = _read_manifest(t, 4)
    assert len(before & set(after_m["files"])) == 2
    # the rewritten file carries freshly computed stats on the tracked
    # column, so later predicate routing keeps working after the UPDATE
    new_file = (set(after_m["files"]) - before).pop()
    assert after_m["stats"][new_file]["id"] == [100, 199]
    # pre-update version time-travels with original values
    old = {r.id: r.v for r in snapshot_read(spark, t, 3).collect()}
    assert old[150] == 1500


def test_update_keeps_null_key_rows_and_validates_set(spark, tmp_path):
    from pyspark.sql import functions as F  # noqa: F401

    from specialsid_spark.operators.snapshot import (
        snapshot_commit,
        snapshot_update,
    )

    t = str(tmp_path / "tbl")
    df = spark.sql(
        "SELECT * FROM VALUES (1, 10), (5, 50), (CAST(NULL AS BIGINT), 99),"
        " (9, 90) AS t(id, v)"
    ).coalesce(1)
    snapshot_commit(df, t)
    with pytest.raises(ValueError, match="SET targets"):
        snapshot_update(spark, t, "id", 4, 6, {"nope": "1"})
    _, n_rewritten, _ = snapshot_update(spark, t, "id", 4, 6, {"v": "v * 2"})
    assert n_rewritten == 1
    rows = {(r.id, r.v) for r in snapshot_read(spark, t).collect()}
    assert rows == {(1, 10), (5, 100), (None, 99), (9, 90)}


def test_delete_keeps_null_key_rows(spark, tmp_path):
    """NULL-key rows never match a BETWEEN predicate, so a rewrite must
    carry them — the naive ~(col BETWEEN lo AND hi) filter evaluates to
    NULL for them and would silently drop them from rewritten files
    (layout-dependent data loss)."""
    from specialsid_spark.operators.snapshot import (
        snapshot_commit,
        snapshot_delete,
    )

    t = str(tmp_path / "tbl")
    df = spark.sql(
        "SELECT * FROM VALUES (1, 'a'), (5, 'b'), (CAST(NULL AS BIGINT),"
        " 'n1'), (9, 'c'), (NULL, 'n2') AS t(id, v)"
    ).coalesce(1)
    snapshot_commit(df, t)  # no stats -> file is conservatively rewritten
    _, n_rewritten, _ = snapshot_delete(spark, t, "id", 4, 6)
    assert n_rewritten == 1
    rows = snapshot_read(spark, t).collect()
    assert sorted(r.v for r in rows) == ["a", "c", "n1", "n2"]
    assert sum(1 for r in rows if r.id is None) == 2


def test_delete_no_match_rewrites_nothing(spark, tmp_path):
    from specialsid_spark.operators.snapshot import (
        snapshot_commit_stats,
        snapshot_delete,
    )

    t = str(tmp_path / "tbl")
    snapshot_commit_stats(_df(spark, 0, 100).coalesce(1), t, ["id"])
    v, n_rewritten, _ = snapshot_delete(spark, t, "id", 1000, 2000)
    assert n_rewritten == 0
    assert snapshot_read(spark, t, v).count() == 100


def test_shallow_clone_zero_copy_then_diverges(spark, tmp_path):
    """CLONE: reads equal the source with zero bytes copied; appends
    and copy-on-write DELETEs diverge the clone without touching the
    source; the source keeps evolving without affecting the clone."""
    from specialsid_spark.operators.snapshot import (
        _read_manifest,
        snapshot_clone,
        snapshot_commit,
        snapshot_commit_stats,
        snapshot_delete,
    )

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    for lo, hi in ((0, 100), (100, 200)):
        snapshot_commit_stats(
            _df(spark, lo, hi).coalesce(1), src, ["id"], mode="append"
        )
    assert snapshot_clone(src, dst) == 1
    # zero copy: the clone has no data files of its own yet
    assert not (Path(dst) / "data").exists()
    assert snapshot_read(spark, dst).count() == 200
    assert _read_manifest(dst, 1)["op"] == "clone"

    # divergence: append to the clone (with stats, so the later DELETE
    # can prune it), source unchanged
    snapshot_commit_stats(
        _df(spark, 200, 250).coalesce(1), dst, ["id"], mode="append"
    )
    assert snapshot_read(spark, dst).count() == 250
    assert snapshot_read(spark, src).count() == 200

    # copy-on-write DELETE on the clone: stats routed (carried from the
    # source manifest), only the intersecting shared file is rewritten
    # INTO the clone, the other shared file stays shared
    _, n_rewritten, n_before = snapshot_delete(spark, dst, "id", 120, 180)
    assert (n_rewritten, n_before) == (1, 3)
    got = sorted(r.id for r in snapshot_read(spark, dst).collect())
    assert got == list(range(120)) + list(range(181, 250))
    assert snapshot_read(spark, src).count() == 200  # source intact
    shared = [f for f in _read_manifest(dst, 3)["files"] if f.startswith("/")]
    assert len(shared) == 1  # one source file still shared by absolute path

    # source evolution does not affect the pinned clone
    snapshot_commit(_df(spark, 900, 910).coalesce(1), src, mode="overwrite")
    assert snapshot_read(spark, dst).count() == 189  # clone view unchanged
    assert snapshot_read(spark, src).count() == 10


def test_clone_refuses_nonempty_destination(spark, tmp_path):
    from specialsid_spark.operators.snapshot import snapshot_clone, snapshot_commit

    src, dst = str(tmp_path / "s"), str(tmp_path / "d")
    snapshot_commit(_df(spark, 0, 10), src)
    snapshot_commit(_df(spark, 0, 5), dst)
    with pytest.raises(ValueError, match="already has versions"):
        snapshot_clone(src, dst)


def test_restore_undoes_bad_overwrite_and_keeps_history(spark, tmp_path):
    """RESTORE: one manifest write makes the old version current again;
    the mistake stays time-travelable; vacuum retention decides when
    its files actually go away; restoring a restore works."""
    from specialsid_spark.operators.snapshot import (
        _read_manifest,
        snapshot_restore,
    )

    t = str(tmp_path / "tbl")
    snapshot_commit(_df(spark, 0, 100), t)                     # v1: good
    snapshot_commit(_df(spark, 900, 903), t, mode="overwrite")  # v2: oops
    v = snapshot_restore(t, 1)
    assert v == 3
    assert sorted(r.id for r in snapshot_read(spark, t).collect()) == list(range(100))
    assert snapshot_read(spark, t, 2).count() == 3  # the mistake is auditable
    m = _read_manifest(t, 3)
    assert m["op"] == "restore" and m["restored_from"] == 1
    # the restore shares v1's files — zero copy
    assert set(m["files"]) == set(_read_manifest(t, 1)["files"])
    # restore of the restore-target errors out of range
    with pytest.raises(ValueError, match="not in"):
        snapshot_restore(t, 99)
    # vacuum keeping the last 2 versions retains v1's files (v3 refs them)
    removed = snapshot_vacuum(t, keep_last=2)
    assert snapshot_read(spark, t).count() == 100
    assert all(r.startswith("data/v2-") for r in removed)


def test_restore_carries_stats_for_pruning(spark, tmp_path):
    from specialsid_spark.operators.snapshot import (
        snapshot_commit_stats,
        snapshot_restore,
        snapshot_scan,
    )

    t = str(tmp_path / "tbl")
    snapshot_commit_stats(_df(spark, 0, 100).coalesce(1), t, ["id"])
    snapshot_commit_stats(
        _df(spark, 100, 200).coalesce(1), t, ["id"], mode="append"
    )
    snapshot_commit(_df(spark, 0, 1), t, mode="overwrite")
    snapshot_restore(t, 2)
    scan, n_scanned, n_total = snapshot_scan(spark, t, "id", 150, 160)
    assert (n_scanned, n_total) == (1, 2)  # stats survived the restore
    assert scan.count() == 11


# --------------------------------------------------- deletion vectors (r10)


def test_dv_delete_masks_rows_without_rewriting(spark, tmp_path):
    from specialsid_spark.operators.snapshot import snapshot_delete_dv

    t = str(tmp_path / "tbl")
    snapshot_commit(_df(spark, 0, 100), t)
    files_v1 = json.load(open(Path(t) / "_manifests" / "v1.json"))["files"]
    v, n = snapshot_delete_dv(spark, t, "id", 20, 39)
    assert (v, n) == (2, 20)
    m2 = json.load(open(Path(t) / "_manifests" / "v2.json"))
    assert m2["files"] == files_v1  # merge-on-read: no file replaced
    assert len(m2["deletes"]) == 1
    got = sorted(r["id"] for r in snapshot_read(spark, t).collect())
    assert got == [*range(0, 20), *range(40, 100)]
    # time travel still sees the deleted rows
    assert snapshot_read(spark, t, 1).count() == 100


def test_dv_overlapping_deletes_do_not_double_count(spark, tmp_path):
    from specialsid_spark.operators.snapshot import snapshot_delete_dv

    t = str(tmp_path / "tbl")
    snapshot_commit(_df(spark, 0, 100), t)
    _, n1 = snapshot_delete_dv(spark, t, "id", 10, 49)
    _, n2 = snapshot_delete_dv(spark, t, "id", 30, 69)  # overlaps [30, 49]
    assert (n1, n2) == (40, 20)
    assert snapshot_read(spark, t).count() == 40
    # each position lands in exactly one DV
    dvs = json.load(open(Path(t) / "_manifests" / "v3.json"))["deletes"]
    dv = spark.read.parquet(*[str(Path(t) / d) for d in dvs])
    assert dv.count() == dv.select("file", "pos").distinct().count() == 60


def test_dv_delete_never_matches_null_keys(spark, tmp_path):
    from specialsid_spark.operators.snapshot import snapshot_delete_dv

    t = str(tmp_path / "tbl")
    df = spark.sql(
        "SELECT * FROM VALUES (1, 10), (CAST(NULL AS BIGINT), 20), (5, 50)"
        " AS t(id, v)"
    )
    snapshot_commit(df, t)
    _, n = snapshot_delete_dv(spark, t, "id", 0, 100)
    assert n == 2  # the NULL-key row is not BETWEEN anything
    left = snapshot_read(spark, t).collect()
    assert len(left) == 1 and left[0]["id"] is None


def test_dv_vacuum_retains_live_sidecars_and_drops_dead_ones(spark, tmp_path):
    from specialsid_spark.operators.snapshot import snapshot_delete_dv

    t = str(tmp_path / "tbl")
    snapshot_commit(_df(spark, 0, 100), t)             # v1
    snapshot_delete_dv(spark, t, "id", 0, 9)           # v2 (+dv A)
    snapshot_commit(_df(spark, 200, 210), t, mode="overwrite")  # v3: no deletes
    snapshot_commit(_df(spark, 300, 310), t, mode="append")     # v4
    removed = snapshot_vacuum(t, keep_last=2)          # retain v3, v4
    # DV sidecar A is referenced by no retained manifest -> removed
    assert any(r.startswith("deletes/") for r in removed)
    assert not any((Path(t) / "deletes").iterdir()) or not (
        Path(t) / "deletes"
    ).is_dir()
    assert snapshot_read(spark, t).count() == 20


def test_dv_second_delete_after_no_match_is_still_committed(spark, tmp_path):
    from specialsid_spark.operators.snapshot import snapshot_delete_dv

    t = str(tmp_path / "tbl")
    snapshot_commit(_df(spark, 0, 50), t)
    v, n = snapshot_delete_dv(spark, t, "id", 900, 999)
    assert (v, n) == (2, 0)
    m2 = json.load(open(Path(t) / "_manifests" / "v2.json"))
    assert "deletes" not in m2  # no empty sidecar committed
    assert snapshot_read(spark, t).count() == 50


def test_dv_purge_materializes_deletes_and_drops_vectors(spark, tmp_path):
    from specialsid_spark.operators.snapshot import (
        snapshot_delete_dv,
        snapshot_purge_dv,
    )

    t = str(tmp_path / "tbl")
    snapshot_commit(_df(spark, 0, 100), t)             # v1 (single file set)
    snapshot_commit(_df(spark, 200, 250), t, mode="append")  # v2
    snapshot_delete_dv(spark, t, "id", 10, 29)         # v3 (+dv)
    v, n_rw, n_purged = snapshot_purge_dv(spark, t)
    assert (v, n_purged) == (4, 20)
    m = json.load(open(Path(t) / "_manifests" / "v4.json"))
    assert "deletes" not in m
    got = sorted(r["id"] for r in snapshot_read(spark, t).collect())
    assert got == [*range(0, 10), *range(30, 100), *range(200, 250)]
    # files holding only 200..249 were untouched (no DV positions)
    m3 = json.load(open(Path(t) / "_manifests" / "v3.json"))
    shared = set(m["files"]) & set(m3["files"])
    assert shared, "untouched files must carry over"
    # time travel to v3 still applies its vector, v1 sees everything
    assert snapshot_read(spark, t, 3).count() == 130
    assert snapshot_read(spark, t, 1).count() == 100


def test_dv_purge_without_vectors_is_metadata_only(spark, tmp_path):
    from specialsid_spark.operators.snapshot import snapshot_purge_dv

    t = str(tmp_path / "tbl")
    snapshot_commit(_df(spark, 0, 10), t)
    v, n_rw, n_purged = snapshot_purge_dv(spark, t)
    assert (v, n_rw, n_purged) == (2, 0, 0)
    assert snapshot_read(spark, t).count() == 10


# ------------------------------------- DV propagation across verbs (r11)
# ADVICE r10: deletion vectors must survive every other commit verb —
# a plain append/restore/CoW-delete/update/clone that drops the parent's
# 'deletes' key silently resurrects GDPR-erased rows.


def test_dv_survives_plain_append(spark, tmp_path):
    from specialsid_spark.operators.snapshot import snapshot_delete_dv

    t = str(tmp_path / "tbl")
    snapshot_commit(_df(spark, 0, 100), t)              # v1
    _, n = snapshot_delete_dv(spark, t, "id", 0, 49)    # v2: 50 masked
    assert n == 50
    snapshot_commit(_df(spark, 200, 210), t, mode="append")  # v3
    got = sorted(r["id"] for r in snapshot_read(spark, t).collect())
    assert got == [*range(50, 100), *range(200, 210)]  # no resurrection
    m3 = json.load(open(Path(t) / "_manifests" / "v3.json"))
    assert m3["deletes"]


def test_dv_dropped_by_overwrite(spark, tmp_path):
    from specialsid_spark.operators.snapshot import snapshot_delete_dv

    t = str(tmp_path / "tbl")
    snapshot_commit(_df(spark, 0, 100), t)
    snapshot_delete_dv(spark, t, "id", 0, 49)
    snapshot_commit(_df(spark, 200, 220), t, mode="overwrite")
    m3 = json.load(open(Path(t) / "_manifests" / "v3.json"))
    assert "deletes" not in m3  # none of the masked files survive
    assert snapshot_read(spark, t).count() == 20


def test_dv_survives_restore(spark, tmp_path):
    from specialsid_spark.operators.snapshot import (
        snapshot_delete_dv,
        snapshot_restore,
    )

    t = str(tmp_path / "tbl")
    snapshot_commit(_df(spark, 0, 100), t)              # v1
    snapshot_delete_dv(spark, t, "id", 0, 49)           # v2
    snapshot_commit(_df(spark, 500, 510), t, mode="overwrite")  # v3
    v = snapshot_restore(t, 2)
    assert snapshot_read(spark, t, v).count() == 50  # masks restored too


def test_dv_survives_cow_delete(spark, tmp_path):
    from specialsid_spark.operators.snapshot import (
        snapshot_commit_stats,
        snapshot_delete,
        snapshot_delete_dv,
    )

    t = str(tmp_path / "tbl")
    # two stats-tracked files with disjoint ranges so the CoW delete
    # rewrites one and carries the other
    snapshot_commit_stats(_df(spark, 0, 100).coalesce(1), t, ["id"])
    snapshot_commit_stats(
        _df(spark, 1000, 1100).coalesce(1), t, ["id"], mode="append"
    )
    _, n = snapshot_delete_dv(spark, t, "id", 0, 9)       # mask in file A
    assert n == 10
    _, n2 = snapshot_delete_dv(spark, t, "id", 1000, 1009)  # mask in file B
    assert n2 == 10
    # CoW delete touches ONLY file A's range; file B stays untouched
    v, n_rw, _ = snapshot_delete(spark, t, "id", 50, 59)
    assert n_rw == 1
    got = sorted(r["id"] for r in snapshot_read(spark, t).collect())
    # masked rows must NOT reappear in the rewritten file, and file B's
    # mask must still apply through the carried vector
    assert got == [*range(10, 50), *range(60, 100), *range(1010, 1100)]


def test_dv_survives_cow_update(spark, tmp_path):
    from specialsid_spark.operators.snapshot import (
        snapshot_commit_stats,
        snapshot_delete_dv,
        snapshot_update,
    )

    t = str(tmp_path / "tbl")
    snapshot_commit_stats(_df(spark, 0, 100).coalesce(1), t, ["id"])
    snapshot_commit_stats(
        _df(spark, 1000, 1100).coalesce(1), t, ["id"], mode="append"
    )
    snapshot_delete_dv(spark, t, "id", 0, 9)
    snapshot_delete_dv(spark, t, "id", 1000, 1009)
    v, n_rw, _ = snapshot_update(spark, t, "id", 50, 59, {"v": "v + 1"})
    assert n_rw == 1
    cur = snapshot_read(spark, t)
    assert cur.count() == 180  # 200 - 20 masked
    assert cur.filter("id = 5").count() == 0        # rewrite side
    assert cur.filter("id = 1005").count() == 0     # carried-vector side
    assert {r["v"] for r in cur.filter("id = 55").collect()} == {551}


def test_dv_scan_applies_vectors(spark, tmp_path):
    from specialsid_spark.operators.snapshot import (
        snapshot_commit_stats,
        snapshot_delete_dv,
        snapshot_scan,
    )

    t = str(tmp_path / "tbl")
    snapshot_commit_stats(_df(spark, 0, 100).coalesce(1), t, ["id"])
    snapshot_delete_dv(spark, t, "id", 20, 29)
    scan, n_scanned, n_total = snapshot_scan(spark, t, "id", 15, 34)
    got = sorted(r["id"] for r in scan.collect())
    assert got == [*range(15, 20), *range(30, 35)]


def test_dv_diff_sees_masked_rows_as_deletes(spark, tmp_path):
    from specialsid_spark.operators.snapshot import (
        snapshot_delete_dv,
        snapshot_diff,
    )

    t = str(tmp_path / "tbl")
    snapshot_commit(_df(spark, 0, 50), t)              # v1
    snapshot_delete_dv(spark, t, "id", 0, 9)           # v2: same files, +dv
    d = snapshot_diff(spark, t, 1, 2).collect()
    assert {r["change_type"] for r in d} == {"delete"}
    assert sorted(r["id"] for r in d) == list(range(10))


def test_dv_survives_clone(spark, tmp_path):
    from specialsid_spark.operators.snapshot import (
        snapshot_clone,
        snapshot_delete_dv,
    )

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    snapshot_commit(_df(spark, 0, 100), src)
    snapshot_delete_dv(spark, src, "id", 0, 24)
    snapshot_clone(src, dst)
    got = sorted(r["id"] for r in snapshot_read(spark, dst).collect())
    assert got == list(range(25, 100))
    # the clone owns its vectors: further deletes on the SOURCE must not
    # leak into the clone, and vice versa
    snapshot_delete_dv(spark, src, "id", 25, 29)
    assert snapshot_read(spark, dst).count() == 75
    snapshot_delete_dv(spark, dst, "id", 90, 99)
    assert snapshot_read(spark, dst).count() == 65
    assert snapshot_read(spark, src).count() == 70


def test_dv_purge_ignores_stale_entries(spark, tmp_path):
    from specialsid_spark.operators.snapshot import (
        snapshot_commit_stats,
        snapshot_delete,
        snapshot_delete_dv,
        snapshot_purge_dv,
    )

    t = str(tmp_path / "tbl")
    snapshot_commit_stats(_df(spark, 0, 100).coalesce(1), t, ["id"])
    snapshot_commit_stats(
        _df(spark, 1000, 1100).coalesce(1), t, ["id"], mode="append"
    )
    snapshot_delete_dv(spark, t, "id", 0, 9)        # masks in file A
    snapshot_delete_dv(spark, t, "id", 1000, 1009)  # masks in file B
    # CoW-rewrite file A: its DV entries go stale (file left the manifest)
    snapshot_delete(spark, t, "id", 50, 59)
    v, n_rw, n_purged = snapshot_purge_dv(spark, t)
    assert n_purged == 10  # only file B's live entries count
    assert n_rw == 1
    got = sorted(r["id"] for r in snapshot_read(spark, t).collect())
    assert got == [*range(10, 50), *range(60, 100), *range(1010, 1100)]
    m = json.load(open(Path(t) / "_manifests" / f"v{v}.json"))
    assert "deletes" not in m


def test_multi_file_bootstrap_commit_reads_back_identically(spark, tmp_path):
    # r13 (VERDICT r12 #3): corpus-sized bootstrap commits write with
    # NATURAL partitioning — the manifest must carry MULTIPLE data
    # files per version and read back the exact row multiset, and an
    # append on top must leave the bootstrap's files untouched
    t = str(tmp_path / "tbl")
    assert snapshot_commit(_df(spark, 0, 1000).repartition(8), t) == 1
    m = json.loads(
        (Path(t) / "_manifests" / "v1.json").read_text()
    )
    assert len(m["files"]) >= 2  # NOT serialized through one task
    got = sorted(r.id for r in snapshot_read(spark, t, 1).collect())
    assert got == list(range(1000))
    # an append commit keeps every bootstrap file and only adds
    assert snapshot_commit(_df(spark, 1000, 1010), t, mode="append") == 2
    m2 = json.loads((Path(t) / "_manifests" / "v2.json").read_text())
    assert set(m["files"]) <= set(m2["files"])
    got2 = sorted(r.id for r in snapshot_read(spark, t, 2).collect())
    assert got2 == list(range(1010))


def test_commit_generations_matches_sequential_appends(spark, tmp_path):
    """r14: snapshot_commit_generations writes once and commits N
    append versions whose per-version row sets equal N sequential
    snapshot_commit appends of the same slices — and the generation
    column is directory-encoded, never part of the read schema."""
    from pyspark.sql import functions as F

    from specialsid_spark.operators.snapshot import snapshot_commit_generations

    base = _df(spark, 0, 80).withColumn("gen", F.lit(0))
    batch = _df(spark, 80, 100).withColumn("gen", F.lit(1))
    t = str(tmp_path / "gen_tbl")
    assert snapshot_commit_generations(
        base.unionByName(batch), t, "gen", [0, 1]
    ) == [1, 2]
    assert snapshot_versions(t) == [1, 2]
    v1 = snapshot_read(spark, t, 1)
    v2 = snapshot_read(spark, t, 2)
    assert v1.columns == ["id", "v"]  # gen directory-encoded, not in files
    assert sorted(r.id for r in v1.collect()) == list(range(80))
    assert sorted(r.id for r in v2.collect()) == list(range(100))
    # the twin built from two sequential appends is version-for-version identical
    t2 = str(tmp_path / "seq_tbl")
    snapshot_commit(_df(spark, 0, 80), t2)
    snapshot_commit(_df(spark, 80, 100), t2, mode="append")
    for v in (1, 2):
        a = sorted((r.id, r.v) for r in snapshot_read(spark, t, v).collect())
        b = sorted((r.id, r.v) for r in snapshot_read(spark, t2, v).collect())
        assert a == b
    # a later append chains onto the generational versions normally
    assert snapshot_commit(_df(spark, 100, 110), t, mode="append") == 3
    assert snapshot_read(spark, t).count() == 110
    # vacuum keeps every retained generation readable
    snapshot_vacuum(t, keep_last=3)
    assert snapshot_read(spark, t, 1).count() == 80


def test_commit_generations_rejects_duplicate_gens(spark, tmp_path):
    """A repeated generation would list its files twice in every later
    manifest (duplicate rows on each read) — it must raise before any
    data or manifest is written."""
    from pyspark.sql import functions as F

    from specialsid_spark.operators.snapshot import snapshot_commit_generations

    t = str(tmp_path / "dup_gen_tbl")
    df = _df(spark, 0, 10).withColumn("gen", F.lit(0))
    with pytest.raises(ValueError, match="duplicate"):
        snapshot_commit_generations(df, t, "gen", [0, 0])
    assert snapshot_versions(t) == []
    assert not (Path(t) / "data").exists()


# ------------------------------------------- concurrent writers (fault matrix)
# Each commit publishes vN.json put-if-absent: a loser never replaces a
# winner's version.  Appends rebase onto the new head; every other verb
# raises.  The hooks below replace _publish to force an interleaving.


def test_concurrent_appends_both_land(spark, tmp_path, monkeypatch):
    """Two threads append 5 rows each to a 5-row table, both having
    read the same head: both commits land at distinct versions and all
    15 rows are visible (a replaced vN.json would lose one batch)."""
    import threading

    from specialsid_spark.operators import snapshot as S

    t = str(tmp_path / "tbl")
    snapshot_commit(_df(spark, 0, 5), t)
    start = threading.Barrier(2, timeout=120)
    at_publish = threading.Barrier(2, timeout=120)
    real = getattr(S, "_publish", None)
    waited: set[int] = set()

    def publish_together(*args, **kwargs):
        # hold each thread's FIRST publish until both have read head 1
        if threading.get_ident() not in waited:
            waited.add(threading.get_ident())
            at_publish.wait()
        return real(*args, **kwargs)

    monkeypatch.setattr(S, "_publish", publish_together, raising=False)
    got: list[int] = []
    errors: list[BaseException] = []

    def append(lo):
        try:
            start.wait()
            got.append(snapshot_commit(_df(spark, lo, lo + 5), t, mode="append"))
        except BaseException as e:  # noqa: BLE001 — re-raised below
            errors.append(e)

    threads = [threading.Thread(target=append, args=(lo,)) for lo in (5, 10)]
    for th in threads:
        th.start()
    for th in threads:
        th.join(timeout=300)
    assert not any(th.is_alive() for th in threads)
    assert not errors, errors
    assert sorted(got) == [2, 3]
    assert snapshot_versions(t) == [1, 2, 3]
    assert sorted(r.id for r in snapshot_read(spark, t).collect()) == list(range(15))
    assert not list((Path(t) / "_manifests").glob("*.tmp"))


def test_commit_files_stress_no_lost_append(tmp_path):
    """Metadata-only stress: 8 threads x 10 appends through
    _commit_files with a tiny switch interval.  Every append lands at
    its own version and the head lists every file exactly once."""
    import sys
    import threading

    from specialsid_spark.operators.snapshot import _commit_files, _read_manifest

    t = str(tmp_path / "tbl")
    names = [[f"data/w{i}-{j}.parquet" for j in range(10)] for i in range(8)]
    got: list[int] = []
    errors: list[BaseException] = []

    def worker(files):
        try:
            for f in files:
                got.append(_commit_files(t, [f], "append"))
        except BaseException as e:  # noqa: BLE001 — re-raised below
            errors.append(e)

    threads = [threading.Thread(target=worker, args=(fs,)) for fs in names]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(th.is_alive() for th in threads)
    assert not errors, errors
    assert sorted(got) == list(range(1, 81))
    head = _read_manifest(t, 80)["files"]
    assert sorted(head) == sorted(f for fs in names for f in fs)


def test_append_overwrite_race_loses_no_version(spark, tmp_path, monkeypatch):
    """An overwrite that loses version 2 to an append raises, naming the
    table and version; the append's version stays intact.  In the other
    order the append rebases onto the overwrite and nothing raises."""
    import re

    from specialsid_spark.operators import snapshot as S

    t = str(tmp_path / "tbl")
    snapshot_commit(_df(spark, 0, 5), t)
    real = S._publish

    def other_writer_first(lo, hi, mode):
        def hook(*args, **kwargs):
            monkeypatch.setattr(S, "_publish", real)
            snapshot_commit(_df(spark, lo, hi), t, mode=mode)
            return real(*args, **kwargs)

        monkeypatch.setattr(S, "_publish", hook)

    other_writer_first(5, 10, "append")
    with pytest.raises(FileExistsError, match=f"version 2 of {re.escape(t)}"):
        snapshot_commit(_df(spark, 100, 103), t, mode="overwrite")
    assert snapshot_versions(t) == [1, 2]
    assert sorted(r.id for r in snapshot_read(spark, t).collect()) == list(range(10))

    other_writer_first(100, 103, "overwrite")
    assert snapshot_commit(_df(spark, 10, 15), t, mode="append") == 4
    assert snapshot_versions(t) == [1, 2, 3, 4]
    assert snapshot_read(spark, t, 2).count() == 10
    assert snapshot_read(spark, t, 3).count() == 3
    got = sorted(r.id for r in snapshot_read(spark, t).collect())
    assert got == [*range(10, 15), *range(100, 103)]
    assert not list((Path(t) / "_manifests").glob("*.tmp"))


def test_crash_between_write_and_publish(spark, tmp_path, monkeypatch):
    """A commit that dies after its data write but before the publish
    leaves orphan files: invisible to readers, reclaimed by vacuum."""
    from specialsid_spark.operators import snapshot as S

    t = str(tmp_path / "tbl")
    snapshot_commit(_df(spark, 0, 10), t)
    live = set(S._read_manifest(t, 1)["files"])

    def crash(*args, **kwargs):
        raise RuntimeError("crash before publish")

    monkeypatch.setattr(S, "_publish", crash)
    with pytest.raises(RuntimeError, match="crash before publish"):
        snapshot_commit(_df(spark, 10, 20), t, mode="append")
    monkeypatch.undo()
    orphans = sorted(
        str(p.relative_to(t))
        for p in (Path(t) / "data").rglob("*.parquet")
        if str(p.relative_to(t)) not in live
    )
    assert orphans
    assert snapshot_versions(t) == [1]
    assert snapshot_read(spark, t).count() == 10
    assert snapshot_vacuum(t, keep_last=1) == orphans
    assert snapshot_read(spark, t).count() == 10


def test_tagged_append_conflict_returns_tagged_version(spark, tmp_path, monkeypatch):
    """A tagged append whose publish loses to a commit carrying the same
    tag (a replay racing the original) returns that commit's version
    and does not append the batch twice."""
    from specialsid_spark.operators import snapshot as S

    t = str(tmp_path / "tbl")
    snapshot_commit(_df(spark, 0, 5), t)
    real = S._publish

    def replay_first(*args, **kwargs):
        monkeypatch.setattr(S, "_publish", real)
        assert snapshot_commit(_df(spark, 5, 10), t, tag="batch-7") == 2
        return real(*args, **kwargs)

    monkeypatch.setattr(S, "_publish", replay_first)
    assert snapshot_commit(_df(spark, 5, 10), t, tag="batch-7") == 2
    assert snapshot_versions(t) == [1, 2]
    assert sorted(r.id for r in snapshot_read(spark, t).collect()) == list(range(10))


def test_scan_without_versions_raises_file_not_found(spark, tmp_path):
    from specialsid_spark.operators.snapshot import snapshot_scan

    with pytest.raises(FileNotFoundError, match="no committed snapshot"):
        snapshot_scan(spark, str(tmp_path / "never"), "id", 0, 1)
