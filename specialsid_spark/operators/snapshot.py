"""Manifest-based table snapshots: atomic commits, time travel, and
vacuum over plain parquet — the minimal form of the public
Delta/Iceberg idea (a table IS its manifest; data files are immutable
and only become visible when a manifest references them), built on
nothing but the filesystem and Spark's parquet reader.

Why this matters at 100 TB: `INSERT OVERWRITE` on a live directory is
a read-your-own-corruption hazard (readers list files mid-swap), and
"which files made up yesterday's table?" is unanswerable.  With
manifest commits:

* **Atomicity** — data files land under ``data/`` first; the commit
  point is one put-if-absent publish of the manifest ``vN.json`` (a
  hard link of a uniquely named temp file, which fails instead of
  replacing an existing version).  A crash before the publish leaves
  orphans (invisible, vacuumable), never a half-visible table.
* **Snapshot isolation** — a reader that resolved version N keeps a
  consistent file list no matter how many commits land afterwards.
* **Time travel** — ``snapshot_read(path, version=K)`` reproduces any
  retained historical state exactly; the manifest chain records the
  operation lineage.
* **Vacuum** — files referenced by NO retained manifest are deleted;
  everything else is untouchable garbage collection.

Concurrent writers are optimistic.  A published ``vN.json`` is never
rewritten, so two writers racing for version N cannot both win: the
loser of an ``append`` re-reads the head and rebases its (already
written) files onto it, and a tagged append whose tag a newer version
already carries returns that version instead of landing twice.  Every
other verb derived its manifest from the version it read, so its loser
raises ``FileExistsError`` naming the table and version; nothing is
lost and the caller may retry.  Two gaps remain: ``snapshot_vacuum``
can delete the unpublished data files of a writer still in flight, and
a rebased append keeps every row but was computed against the older
head (a dedup gate's verdict does not see the rows that beat it).  A
multi-writer deployment on an object store would CAS the manifest
pointer in a metastore — the local put-if-absent link is the stand-in
for that primitive.  Manifests store RELATIVE file paths so a table
directory can be relocated wholesale; this module is the only writer
of the manifest format (``sources/pyds.py`` commits through it).
The foreachBatch summary streams of ``streaming/pipeline.py`` commit
through it too: each micro-batch is one tagged overwrite.

A manifest also describes its files: ``schema`` (Spark's JSON form) is
passed to the reader by :func:`_read_files`, the module's one parquet
read, so a read plans with no inference job, and ``stats`` holds every
written file's footer [min, max] per integer column, which scan, the
copy-on-write verbs and the DataSource reader prune by.  An append
widens the schema by new columns and refuses a changed type.  A
manifest written before schemas were recorded infers one on read.
"""

from __future__ import annotations

import json
import os
import uuid
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def _manifest_dir(path: str) -> Path:
    return Path(path) / "_manifests"


#: SQL expr: ``_metadata.file_path`` normalized to a plain absolute path.
#: Hadoop renders local URIs as ``file:/abs`` (one slash) where
#: ``Path.as_uri()`` writes ``file:///abs`` — strip the scheme prefix so
#: both forms compare equal.
_ABS_PATH_SQL = "regexp_replace(_metadata.file_path, '^file:/+', '/')"


def _dv_file_sql(path: str) -> str:
    """SQL expr for the ``file`` column a deletion vector stores:
    table-relative when the data file lives under the table root (the
    normal case — keeps the table relocatable, like the manifest's own
    file list), absolute otherwise (a shallow clone's externally-shared
    source files, which have no meaningful clone-relative form)."""
    root = str(Path(path).resolve())
    return (
        f"CASE WHEN startswith({_ABS_PATH_SQL}, '{root}/')"
        f" THEN substring({_ABS_PATH_SQL}, {len(root) + 2})"
        f" ELSE {_ABS_PATH_SQL} END"
    )


#: Schema of a deletion-vector sidecar: (data file, row position) pairs.
_DV_SCHEMA = "file string, pos long"


def _read_files(
    spark: SparkSession,
    path: str,
    files: list[str],
    schema: dict | str | None,
    deletes: list[str] | None = None,
) -> DataFrame:
    """THE parquet read of this module: ``files`` (table-relative, or
    absolute for a clone's shared files) read with ``schema`` (a
    manifest's, or DDL), so planning runs no inference job and a column
    a file predates reads as NULL; None infers it.  No files: an empty
    frame of ``schema``.  ``deletes`` are deletion-vector sidecars to
    subtract (merge-on-read); they are bounded by |deleted rows|, so the
    anti-join is broadcast, and data files are untouched.  Matching is
    on the NORMALIZED ABSOLUTE path of each data file: relative DV
    entries are resolved against this table's root, absolute entries
    (clone-external files) pass through — one rule that covers plain
    tables and shallow clones alike."""
    from pyspark.sql import functions as F

    if isinstance(schema, dict):
        schema = StructType.fromJson(schema)
    if not files:
        return spark.createDataFrame([], schema or StructType())
    reader = spark.read if schema is None else spark.read.schema(schema)
    df = reader.parquet(*[str(Path(path) / f) for f in files])
    if not deletes:
        return df
    root = str(Path(path).resolve())
    dv = _read_files(spark, path, deletes, _DV_SCHEMA).select(
        F.when(F.col("file").startswith("/"), F.col("file"))
        .otherwise(F.concat(F.lit(root + "/"), F.col("file")))
        .alias("__dv_file"),
        F.col("pos").alias("__dv_pos"),
    )
    return (
        df.withColumn("__dv_file", F.expr(_ABS_PATH_SQL))
        .withColumn("__dv_pos", F.col("_metadata.row_index"))
        .join(F.broadcast(dv), ["__dv_file", "__dv_pos"], "left_anti")
        .drop("__dv_file", "__dv_pos")
    )


def _schema(spark: SparkSession, path: str, m: dict) -> dict:
    """The schema manifest ``m`` records; one written before schemas
    were recorded infers it from its files (one Spark job)."""
    if "schema" in m:
        return m["schema"]
    return _read_files(spark, path, m["files"], None).schema.jsonValue()


def _widen(head: dict | None, new: dict | None) -> dict | None:
    """``head``'s columns plus the columns of ``new`` it lacks (additive
    schema evolution); a column whose type differs raises ValueError.
    A schema that is not recorded (None) leaves ``head`` as it is."""
    if head is None or new is None:
        return head
    out = StructType.fromJson(head)
    for f in StructType.fromJson(new).fields:
        if f.name not in out.names:
            out.add(f)
        elif (a := out[f.name].dataType.simpleString()) != (
            b := f.dataType.simpleString()
        ):
            raise ValueError(f"column {f.name!r} changes type from {a} to {b}")
    return out.jsonValue()


def snapshot_versions(path: str) -> list[int]:
    """Committed versions, ascending; [] for a table that never
    committed."""
    mdir = _manifest_dir(path)
    if not mdir.is_dir():
        return []
    out = []
    for p in mdir.glob("v*.json"):
        try:
            out.append(int(p.stem[1:]))
        except ValueError:
            continue
    return sorted(out)


def _read_manifest(path: str, version: int) -> dict:
    with open(_manifest_dir(path) / f"v{version}.json") as fh:
        return json.load(fh)


def _resolve(path: str, version: int | None = None) -> tuple[int, dict]:
    """(version, manifest) of ``version`` (default: the head) — the one
    head read every verb shares.  Raises FileNotFoundError for a table
    with no committed version, ValueError for a version not retained."""
    versions = snapshot_versions(path)
    if not versions:
        raise FileNotFoundError(f"no committed snapshot at {path}")
    v = versions[-1] if version is None else version
    if v not in versions:
        raise ValueError(f"version {v} not in {versions}")
    return v, _read_manifest(path, v)


def _routes(stats: dict, rel: str, col: str, lo, hi) -> bool:
    """False only when ``rel``'s recorded [min, max] for ``col`` proves
    it holds no value in [lo, hi]; a file without stats for ``col``
    always routes (pruning must never drop data)."""
    rng = stats.get(rel, {}).get(col)
    return rng is None or (rng[0] <= hi and rng[1] >= lo)


def _write_files(
    df: DataFrame, path: str, partition_by: str | None = None
) -> tuple[list[str], dict, dict]:
    """Write ``df`` as new immutable parquet files in a commit-unique
    ``data/v{head+1}-{uuid}`` dir; returns their table-relative paths
    (sorted), footer stats and schema (``df``'s, minus ``partition_by``).
    The files stay invisible until a published manifest references
    them; the dir prefix names the version the writer expected, not the
    one it lands at (a rebased append lands later)."""
    root = Path(path)
    versions = snapshot_versions(path)
    head = versions[-1] if versions else 0
    data_dir = root / "data" / f"v{head + 1}-{uuid.uuid4().hex[:8]}"
    writer = df.write.mode("error")
    if partition_by is not None:
        writer = writer.partitionBy(partition_by)
    writer.parquet(str(data_dir))
    files = sorted(
        str(p.relative_to(root)) for p in data_dir.rglob("*.parquet") if p.is_file()
    )
    stats = {rel: st for rel in files if (st := _file_stats(root, rel))}
    schema = StructType([f for f in df.schema.fields if f.name != partition_by])
    return files, stats, schema.jsonValue()


def _publish(path: str, parent: int, op: str, files: list[str], **fields) -> int:
    """Publish version ``parent + 1`` — THE commit point of every verb.
    The manifest is written to a uniquely named temp file and made
    visible with ``os.link``, which fails with FileExistsError when the
    version already exists: a published ``vN.json`` is never replaced.
    ``fields`` that are None or empty (no stats, no deletes, no tag)
    are left out of the manifest."""
    version = parent + 1
    manifest = {
        "version": version,
        "parent": parent or None,
        "op": op,
        "files": files,
    }
    manifest.update((k, x) for k, x in fields.items() if x not in (None, {}, []))
    mdir = _manifest_dir(path)
    mdir.mkdir(parents=True, exist_ok=True)
    tmp = mdir / f"v{version}.json.{uuid.uuid4().hex}.tmp"
    try:
        tmp.write_text(json.dumps(manifest, indent=1))
        os.link(tmp, mdir / f"v{version}.json")
    except FileExistsError:
        raise FileExistsError(
            f"version {version} of {path} was committed concurrently"
        ) from None
    finally:
        tmp.unlink(missing_ok=True)
    return version


def _publish_derived(
    path: str, v: int, m: dict, op: str, keep: list[str], df=None, **fields
) -> int:
    """Publish ``op`` as version ``v + 1``, derived from manifest ``m``:
    ``m``'s files ``keep`` stay with their stats, the rows of ``df``
    (None: no rows to write) land in new files with fresh stats, and
    ``m``'s schema carries over."""
    files, new_stats = ([], {}) if df is None else _write_files(df, path)[:2]
    kept = m.get("stats", {})
    stats = {**{f: kept[f] for f in keep if f in kept}, **new_stats}
    return _publish(
        path, v, op, keep + files, stats=stats, schema=m.get("schema"), **fields
    )


def _commit_files(
    path: str,
    new_files: list[str],
    op: str,
    tag: str | None = None,
    stats: dict | None = None,
    schema: dict | None = None,
) -> int:
    """Commit already-written ``new_files`` as the next version on top
    of the head read NOW, after the data write.  ``append`` inherits the
    head's files, the stats of those files and its deletion vectors, and
    records the head's schema widened by ``schema`` (:func:`_widen`;
    a changed column type raises ValueError before any publish);
    ``overwrite`` references only ``new_files`` and records ``schema``.
    ``stats`` maps new files to their column stats (others are ignored).

    When another writer publishes first, an append re-reads the head
    and rebases — unless a version newer than the head it read carries
    ``tag``, which it then returns (a tagged replay lands once).  An
    overwrite raises the FileExistsError from :func:`_publish`."""
    while True:
        versions = snapshot_versions(path)
        head = versions[-1] if versions else 0
        parent = _read_manifest(path, head) if op == "append" and head else {}
        files = parent.get("files", []) + new_files
        known = {**parent.get("stats", {}), **(stats or {})}
        try:
            return _publish(
                path,
                head,
                op,
                files,
                tag=tag,
                stats={f: known[f] for f in files if f in known},
                schema=_widen(parent.get("schema"), schema) if parent else schema,
                deletes=parent.get("deletes"),
            )
        except FileExistsError:
            if op != "append":
                raise
            if tag is not None:
                for v in snapshot_versions(path):
                    if v > head and _read_manifest(path, v).get("tag") == tag:
                        return v


def snapshot_commit(
    df: DataFrame, path: str, mode: str = "append", tag: str | None = None
) -> int:
    """Write ``df``'s rows as new immutable parquet files and commit a
    new manifest version; returns the committed version number.

    ``mode='append'`` keeps the previous version's files (and their
    stats and deletion vectors) and adds the new ones, widening the
    recorded schema by any new columns; ``'overwrite'`` references only
    the new files (old data files remain on disk for time travel until
    vacuumed).  The new files' footer stats are recorded.  The head is
    read after the data write: an append that loses a race to another
    writer rebases onto the new head, so its returned version may be
    later than the head it started from; an overwrite that loses raises
    FileExistsError.

    ``tag`` (r6) records an idempotency token IN the manifest — commit
    and token become visible in the same atomic publish, which is what
    lets a streaming writer make "commit micro-batch N exactly once"
    crash-safe: on replay, :func:`snapshot_version_by_tag` finds the
    already-committed version instead of appending the batch twice."""
    if mode not in ("append", "overwrite"):
        raise ValueError(f"unknown snapshot mode {mode!r}")
    files, stats, schema = _write_files(df, path)
    return _commit_files(path, files, mode, tag=tag, stats=stats, schema=schema)


def snapshot_commit_generations(
    df: DataFrame, path: str, gen_col: str, gens: list
) -> list[int]:
    """Commit ``len(gens)`` consecutive append versions from ONE write
    job (r14 opt): ``df`` is written once, partitioned by ``gen_col``
    (directory-encoded, so data files carry only the payload columns),
    and each generation's files are then committed as one append, in
    order — the same manifest chain that ``len(gens)`` separate
    :func:`snapshot_commit` append calls would produce from the same
    row sets, at one Spark job instead of N.  The build-then-add shape
    (ivf incremental add) uses this: base and batch postings come off
    one assignment pass, so writing them separately re-ran the write
    machinery twice for rows already sitting in the same frame.
    Returns the committed version numbers in order.

    Raises ValueError on duplicate ``gens``: a repeated generation would
    list its files twice, so every later read would return its rows
    twice."""
    if len(set(gens)) != len(gens):
        raise ValueError(f"duplicate generations in {gens!r}")
    files, stats, schema = _write_files(df, path, partition_by=gen_col)
    return [
        _commit_files(
            path,
            [f for f in files if f"/{gen_col}={g}/" in f],
            "append",
            stats=stats,
            schema=schema,
        )
        for g in gens
    ]


def snapshot_version_by_tag(path: str, tag: str) -> int | None:
    """The version whose manifest carries ``tag``, or None — the replay
    check for tagged (streaming) commits."""
    for v in snapshot_versions(path):
        if _read_manifest(path, v).get("tag") == tag:
            return v
    return None


def snapshot_read(
    spark: SparkSession, path: str, version: int | None = None
) -> DataFrame:
    """The table as of ``version`` (default: latest), read with the
    schema its manifest records.  Resolves the manifest once; the
    returned DataFrame's file list is pinned, so later commits do not
    affect it (snapshot isolation).

    A version widened by an append (ADDITIVE schema evolution) reads as
    the union, with NULLs for columns a file predates — immutable files
    are never rewritten for a column add, which at 100 TB is the
    difference between a metadata operation and a full-table rewrite."""
    _, m = _resolve(path, version)
    return _read_files(spark, path, m["files"], m.get("schema"), m.get("deletes"))


def snapshot_vacuum(path: str, keep_last: int = 2) -> list[str]:
    """Drop manifests older than the last ``keep_last`` versions and
    delete data files no retained manifest references.  Returns the
    deleted file list (relative paths).  Never touches files a
    retained version can still read."""
    if keep_last < 1:
        # keep_last=0 would retain NOTHING and delete every data file and
        # manifest including the latest committed version — refuse rather
        # than let an innocuous-looking argument destroy the table
        raise ValueError(f"keep_last must be >= 1, got {keep_last}")
    root = Path(path)
    versions = snapshot_versions(path)
    retained = versions[-keep_last:]
    live: set[str] = set()
    live_dv_dirs: set[str] = set()
    for v in retained:
        m = _read_manifest(path, v)
        live.update(m["files"])
        live_dv_dirs.update(m.get("deletes", []))
    removed: list[str] = []
    for p in (root / "data").rglob("*.parquet"):
        rel = str(p.relative_to(root))
        if rel not in live:
            p.unlink()
            removed.append(rel)
    # deletion-vector sidecars referenced by no retained manifest
    if (root / "deletes").is_dir():
        for d in (root / "deletes").iterdir():
            rel = str(d.relative_to(root))
            if d.is_dir() and rel not in live_dv_dirs:
                for p in sorted(d.rglob("*"), reverse=True):
                    if p.is_file():
                        removed.append(str(p.relative_to(root)))
                        p.unlink()
                    else:
                        p.rmdir()
                d.rmdir()
    for v in versions:
        if v not in retained:
            (_manifest_dir(path) / f"v{v}.json").unlink()
    # prune empty commit dirs
    if (root / "data").is_dir():
        for d in sorted((root / "data").glob("*"), reverse=True):
            if d.is_dir() and not any(d.iterdir()):
                d.rmdir()
    return sorted(removed)


def snapshot_diff(
    spark: SparkSession, path: str, v_from: int, v_to: int
) -> DataFrame:
    """Row-level changes between two committed versions — the
    ``table_changes`` idea on plain manifests.  Returns the target
    schema plus a ``change_type`` column ('insert' rows present in
    ``v_to`` but not ``v_from``; 'delete' the reverse), as MULTISET
    differences (exceptAll), so duplicate rows diff correctly.

    The manifest makes this cheap: data files are immutable, so any
    file referenced by BOTH versions contributes identical rows to
    each side and cancels — only the symmetric difference of the FILE
    LISTS is ever read.  At 100 TB an append-mostly table diffs in
    time proportional to the changed files, not the table.

    Deletion vectors break the file-cancellation argument (a file in
    both versions can be masked differently on each side), so when
    either endpoint carries live DVs the diff falls back to full
    DV-subtracted reads of both versions — correct, at the cost of
    reading shared files too (ADVICE r10).  Both sides are read with
    one schema, the target's widened by the source's columns, so a
    diff across a column add lines up."""
    from pyspark.sql import functions as F

    m_from = _read_manifest(path, v_from)
    m_to = _read_manifest(path, v_to)
    files_a, files_b = m_from["files"], m_to["files"]
    if not (m_from.get("deletes") or m_to.get("deletes")):
        files_a, files_b = (
            sorted(set(files_a) - set(files_b)),
            sorted(set(files_b) - set(files_a)),
        )
    schema = _widen(_schema(spark, path, m_to), _schema(spark, path, m_from))
    a = _read_files(spark, path, files_a, schema, m_from.get("deletes"))
    b = _read_files(spark, path, files_b, schema, m_to.get("deletes"))
    added = b.exceptAll(a).withColumn("change_type", F.lit("insert"))
    removed = a.exceptAll(b).withColumn("change_type", F.lit("delete"))
    return added.unionByName(removed)


def _file_stats(root: Path, rel: str) -> dict:
    """Per-file min/max of every integer column (Spark byte, short, int
    and long), read from the parquet FOOTER the file already carries
    (one footer read, no data scan).  Other types stay stats-less, and a
    stats-less column always routes: dates, timestamps and decimals are
    integers on disk, but their footer values come back as objects JSON
    cannot hold, and Spark orders NaN above every double, so a NaN max
    would prune a file that holds matching rows.  A column is recorded
    ONLY if every row group in the file has usable min/max for it — a
    partial range would under-cover the file and make scan() prune a
    file that still holds matching rows, violating the 'pruning never
    drops data' invariant."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    with pq.ParquetFile(str(root / rel)) as pf:
        cols = {f.name for f in pf.schema_arrow if pa.types.is_integer(f.type)}
        md = pf.metadata
    mins: dict = {}
    maxs: dict = {}
    hits: dict = {}
    for rg in range(md.num_row_groups):
        rgm = md.row_group(rg)
        for ci in range(rgm.num_columns):
            cm = rgm.column(ci)
            name = cm.path_in_schema
            st = cm.statistics
            if name in cols and st is not None and st.has_min_max:
                mins[name] = st.min if name not in mins else min(mins[name], st.min)
                maxs[name] = st.max if name not in maxs else max(maxs[name], st.max)
                hits[name] = hits.get(name, 0) + 1
    return {
        c: [mins[c], maxs[c]]
        for c in mins
        if hits[c] == md.num_row_groups
    }


def snapshot_scan(
    spark: SparkSession,
    path: str,
    col: str,
    lo,
    hi,
    version: int | None = None,
) -> tuple[DataFrame, int, int]:
    """Read only the files whose manifest [min, max] for ``col``
    intersects [lo, hi]; files without recorded stats are always read
    (pruning must never drop data).  Returns (DataFrame ALREADY
    filtered to the predicate, n_files_scanned, n_files_total) — the
    file counts are the observable pruning effect.

    At 100 TB this is the step BEFORE partition pruning even starts
    paying: a filter on a clustered column touches the few files whose
    range matches, decided from one small JSON instead of an
    object-store LIST + footer fetch per file."""
    _, m = _resolve(path, version)
    stats = m.get("stats", {})
    keep = [rel for rel in m["files"] if _routes(stats, rel, col, lo, hi)]
    from pyspark.sql import functions as F

    # stats stay conservative bounds after rows are masked, so the
    # pruning decision above is unaffected — but the surviving files
    # must still be read through their deletion vectors (ADVICE r10)
    df = _read_files(spark, path, keep, _schema(spark, path, m), m.get("deletes"))
    return (
        df.filter((F.col(col) >= lo) & (F.col(col) <= hi)),
        len(keep),
        len(m["files"]),
    )


def snapshot_compact(
    spark: SparkSession, path: str, target_files: int | None = 1,
    dedup: bool = False,
) -> int:
    """Rewrite the CURRENT version's content as ``target_files`` files
    in a new version (op recorded as 'compact') — content-identical,
    small-file debt paid, history intact (the old version still time-
    travels until vacuumed).  The rewrite is of the version it read, so
    it must land directly on it: a commit that got in first makes the
    compact raise FileExistsError rather than drop that commit's rows.

    r13 (VERDICT r12 #4): ``dedup=True`` rewrites the DISTINCT row set
    — the band-index lifecycle verb: an append-only (band, bkey) index
    compacts into one deduplicated generation without changing any
    gate decision (gates probe set membership).  ``target_files=None``
    keeps natural partitioning — at corpus scale the compaction of a
    100 TB-derived index must not serialize through one write task."""
    v, m = _resolve(path)
    cur = snapshot_read(spark, path, v)
    if dedup:
        cur = cur.distinct()
    if target_files is not None:
        cur = cur.coalesce(target_files)
    return _publish_derived(path, v, m, "compact", [], cur)


def snapshot_delete(
    spark: SparkSession, path: str, col: str, lo, hi
) -> tuple[int, int, int]:
    """Copy-on-write row-level ``DELETE WHERE col BETWEEN lo AND hi``:
    the manifest stats decide which files can possibly hold matching
    rows; only THOSE are rewritten (minus the deleted rows), every
    other file is carried into the new version untouched (shared bytes,
    stats carried forward).  Files without recorded stats for ``col``
    are conservatively rewritten — the mirror image of snapshot_scan's
    "pruning must never drop data" invariant: here, skipping a file may
    never retain deleted rows.  Returns (new_version,
    n_files_rewritten, n_files_total_before).

    At 100 TB this is THE mechanic that makes deletes affordable: cost
    tracks the files whose [min, max] intersects the predicate (on a
    clustered key, a handful), not table size, and history stays
    time-travelable because old files are never mutated."""
    from pyspark.sql import functions as F

    v, m = _resolve(path)
    stats = m.get("stats", {})
    dvs = m.get("deletes", [])
    touched, untouched = [], []
    for rel in m["files"]:
        (touched if _routes(stats, rel, col, lo, hi) else untouched).append(rel)
    kept = None
    if touched:
        # NULL keys can never match a BETWEEN predicate, but the naive
        # ~(col >= lo AND col <= hi) evaluates to NULL for them and a
        # filter drops NULL — which would silently delete NULL-key rows
        # from rewritten files while identical rows in stats-pruned
        # files survive.  Keep NULLs explicitly so "rewrite may never
        # delete non-matching rows" holds regardless of file layout.
        # Rows already masked by deletion vectors must not be
        # resurrected into the rewritten files (ADVICE r10).
        kept = _read_files(spark, path, touched, m.get("schema"), dvs).filter(
            F.col(col).isNull() | ~((F.col(col) >= lo) & (F.col(col) <= hi))
        )
    # untouched files still need their masks; rewritten files were read
    # THROUGH the vectors above, so their stale entries match no manifest
    # file and are inert
    new_version = _publish_derived(
        path, v, m, "delete", untouched, kept, deletes=dvs if untouched else []
    )
    return new_version, len(touched), len(m["files"])


def snapshot_delete_dv(
    spark: SparkSession, path: str, col: str, lo, hi
) -> tuple[int, int]:
    """Merge-on-read row-level ``DELETE WHERE col BETWEEN lo AND hi``
    via DELETION VECTORS (the public Delta/Iceberg v2 'position
    delete' idea): instead of rewriting any data file, record the
    (file, row-position) pairs of matching rows in a parquet sidecar
    under ``deletes/`` and commit a manifest that references it; reads
    subtract the positions with a broadcast anti-join
    (snapshot_read).  Returns (new_version, n_rows_deleted).

    Contrast with :func:`snapshot_delete` (copy-on-write): CoW pays a
    rewrite of every touched file at delete time and keeps reads pure
    scans; DVs make the delete O(|matching rows|) and defer the (tiny,
    broadcast) subtraction to read time — at 100 TB this is the only
    affordable shape for frequent small deletes (GDPR erasure, spam
    takedowns) on petabyte tables.  Manifest stats stay valid: a file's
    [min, max] remains a conservative bound after rows are masked.
    Positions are subtracted from PRIOR deletion vectors first, so a
    position lands in at most one DV (re-deleting is idempotent and
    the read-side union of DVs is duplicate-free).  The candidate file
    set is stats-pruned exactly like CoW delete — only files whose
    range intersects the predicate are even scanned for positions."""
    from pyspark.sql import functions as F

    root = Path(path)
    v, m = _resolve(path)
    stats = m.get("stats", {})
    candidates = [rel for rel in m["files"] if _routes(stats, rel, col, lo, hi)]
    deletes = list(m.get("deletes", []))
    n_deleted = 0
    if candidates:
        matched = (
            _read_files(spark, path, candidates, m.get("schema"))
            .select(
                F.expr(_dv_file_sql(path)).alias("file"),
                F.col("_metadata.row_index").alias("pos"),
                F.col(col).alias("__k"),
            )
            .filter((F.col("__k") >= lo) & (F.col("__k") <= hi))
            .drop("__k")
        )
        if deletes:
            prior = _read_files(spark, path, deletes, _DV_SCHEMA)
            matched = matched.join(prior, ["file", "pos"], "left_anti")
        matched = matched.localCheckpoint(eager=True)
        n_deleted = matched.count()
        if n_deleted:
            dv_rel = f"deletes/v{v + 1}-{uuid.uuid4().hex[:8]}"
            matched.write.mode("error").parquet(str(root / dv_rel))
            deletes.append(dv_rel)
    new_version = _publish_derived(
        path, v, m, "delete-dv", m["files"], deletes=deletes
    )
    return new_version, n_deleted


def snapshot_purge_dv(spark: SparkSession, path: str) -> tuple[int, int, int]:
    """Materialize deletion vectors away (the compaction half of the
    DV lifecycle): rewrite ONLY the files that have deleted positions
    — minus those rows — carry every untouched file as-is, and commit
    a manifest with NO ``deletes``.  Returns (new_version,
    n_files_rewritten, n_rows_purged).

    This is the read-amplification/write-cost trade made explicit:
    :func:`snapshot_delete_dv` defers the subtraction to every read;
    purge pays the rewrite ONCE when accumulated vectors make reads
    pay too much.  Old versions still time-travel through their own
    vectors — nothing is mutated, and vacuum reclaims the sidecars
    once no retained manifest references them."""
    from pyspark.sql import functions as F

    v, m = _resolve(path)
    dvs = m.get("deletes", [])
    touched: set[str] = set()
    n_purged = 0
    if dvs:
        dv = _read_files(spark, path, dvs, _DV_SCHEMA)
        # stale DV entries (files a CoW verb has since rewritten out of
        # the manifest) mask nothing — count and rewrite only live-file
        # entries
        live_files = set(m["files"])
        touched = {
            r["file"]
            for r in dv.select("file").distinct().collect()
            if r["file"] in live_files
        }
        if touched:
            n_purged = dv.filter(F.col("file").isin(sorted(touched))).count()
    untouched = [f for f in m["files"] if f not in touched]
    rewritten = sorted(f for f in m["files"] if f in touched)
    kept = None
    if rewritten:
        kept = _read_files(spark, path, rewritten, m.get("schema"), dvs)
    new_version = _publish_derived(path, v, m, "purge-dv", untouched, kept)
    return new_version, len(rewritten), n_purged


def snapshot_restore(path: str, version: int) -> int:
    """The RESTORE verb (Delta's `RESTORE TABLE ... TO VERSION`): make
    an OLD version current again by committing a NEW version that
    references the old version's files — zero-copy, and the mistake
    being undone stays in history (time travel still reads it), so a
    restore is itself auditable and reversible.  The restored version
    inherits the old version's stats (same files, same ranges).

    At 100 TB this is the incident-response verb: undoing a bad
    overwrite costs one manifest write, not a table copy."""
    versions = snapshot_versions(path)
    if version not in versions:
        raise ValueError(f"version {version} not in {versions}")
    m = _read_manifest(path, version)
    return _publish_derived(
        path,
        versions[-1],
        m,
        "restore",
        m["files"],
        restored_from=version,
        # the restored state includes its deletion-vector masks — a
        # restore without them would resurrect deleted rows (ADVICE r10)
        deletes=m.get("deletes"),
    )


def snapshot_clone(src: str, dst: str) -> int:
    """ZERO-COPY shallow clone (the Delta `SHALLOW CLONE` verb): a v1
    manifest at ``dst`` referencing the source's CURRENT data files by
    ABSOLUTE path — no bytes move.  Works because every reader resolves
    files with ``Path(root) / rel``, and pathlib ignores the left side
    when the right side is absolute, so external references read
    transparently; stats carry over, so predicate routing keeps
    working.  From then on the clone diverges copy-on-write: appends
    land under the clone's own data dir, DELETE/UPDATE rewrite only
    the files their predicate touches (into the clone), and shared
    source files stay shared.  The clone's vacuum can never delete
    source bytes (it scans only its own data dir).

    Caveat, same as every shallow clone: vacuuming the SOURCE past the
    cloned version breaks the clone's shared references — retention
    policy must outlive clones (docstring contract, as in Delta).

    At 100 TB this is how dev/test tables, experiment branches, and
    reproducibility pins are made: O(manifest) cost for a full-table
    copy-on-write branch."""
    if snapshot_versions(dst):
        raise ValueError(f"destination {dst!r} already has versions")
    src_root = Path(src).resolve()
    src_version, m = _resolve(src)
    stats = m.get("stats", {})
    src_dvs = m.get("deletes", [])
    deletes_rel: list[str] = []
    if src_dvs:
        # the source's deletion vectors store SOURCE-relative file paths;
        # read from the clone they would resolve against the CLONE root
        # and mask nothing (deleted rows resurrect — ADVICE r10).  DVs
        # are bounded by |deleted rows|, so copy them into the clone's
        # own ``deletes/`` with the file refs absolutized — the clone
        # stays zero-copy where it matters (the data files) and owns its
        # masks outright (source DV vacuum can't orphan it).
        import pyarrow as pa
        import pyarrow.parquet as pq

        dst_root = Path(dst)
        for i, d in enumerate(src_dvs):
            parts = sorted(
                p for p in (src_root / d).rglob("*.parquet") if p.is_file()
            )
            t = pa.concat_tables([pq.read_table(str(p)) for p in parts])
            fi = t.schema.get_field_index("file")
            abs_refs = pa.array(
                [
                    f if f.startswith("/") else str(src_root / f)
                    for f in t.column("file").to_pylist()
                ],
                type=t.schema.field(fi).type,
            )
            t = t.set_column(fi, "file", abs_refs)
            rel = f"deletes/clone-v1-{i:04d}"
            (dst_root / rel).mkdir(parents=True, exist_ok=True)
            pq.write_table(t, str(dst_root / rel / "part-00000.parquet"))
            deletes_rel.append(rel)
    return _publish(
        dst,
        0,
        "clone",
        [str(src_root / f) for f in m["files"]],
        source=str(src_root),
        source_version=src_version,
        stats={str(src_root / f): stats[f] for f in m["files"] if f in stats},
        schema=m.get("schema"),
        deletes=deletes_rel,
    )


def snapshot_update(
    spark: SparkSession,
    path: str,
    col: str,
    lo,
    hi,
    set_exprs: dict[str, str],
) -> tuple[int, int, int]:
    """Copy-on-write row-level ``UPDATE SET c = expr, ... WHERE col
    BETWEEN lo AND hi`` — the last verb of the DML trio (r7; insert /
    merge / delete landed r4-r6).  Same manifest-stats routing as
    :func:`snapshot_delete`: only files whose [min, max] for ``col``
    can intersect the predicate are rewritten (stats-less files
    conservatively included), matched rows get each SET column replaced
    by its expression cast to the column's type, unmatched rows —
    including NULL-key rows, which a BETWEEN can never match — are
    carried VERBATIM, and untouched files are shared byte-identically
    into the new version.  Rewritten files get fresh footer stats (SET
    may move a column's min/max); shared files carry their stats
    forward.  Returns (new_version, n_files_rewritten,
    n_files_total_before).

    At 100 TB: cost tracks predicate-intersecting files, not table
    size, and history stays time-travelable because old files are
    never mutated — identical economics to DELETE."""
    from pyspark.sql import functions as F

    v, m = _resolve(path)
    stats = m.get("stats", {})
    dvs = m.get("deletes", [])
    touched, untouched = [], []
    for rel in m["files"]:
        (touched if _routes(stats, rel, col, lo, hi) else untouched).append(rel)
    updated = None
    if touched:
        # DV-masked rows must not reappear in the rewritten files
        # (ADVICE r10); subtract BEFORE the SET transform
        df = _read_files(spark, path, touched, m.get("schema"), dvs)
        missing = set(set_exprs) - set(df.columns)
        if missing:
            raise ValueError(f"SET targets not in table: {sorted(missing)}")
        # NULL keys: the when() condition is NULL -> otherwise branch ->
        # original value carried, per SQL UPDATE semantics
        match = (F.col(col) >= lo) & (F.col(col) <= hi)
        updated = df.select(
            *[
                F.when(match, F.expr(set_exprs[c]))
                .otherwise(F.col(c))
                .cast(df.schema[c].dataType)
                .alias(c)
                if c in set_exprs
                else F.col(c)
                for c in df.columns
            ]
        )
    # same carry rule as snapshot_delete: untouched files keep their
    # masks; rewritten files were read through the vectors above
    new_version = _publish_derived(
        path, v, m, "update", untouched, updated, deletes=dvs if untouched else []
    )
    return new_version, len(touched), len(m["files"])
