"""Custom Python DataSource (Spark 4 `pyspark.sql.datasource`) over the
manifest-snapshot table format (operators/snapshot.py) — the newest
extension surface in the engine's source family (SURVEY.md §2.1: the
reference's "query surface" is a catalog over files; this is the
programmable version of that idea).

What it demonstrates, each a first-class capability of the new API:

* **Partition planning from metadata**: `partitions()` returns one
  `InputPartition` per manifest FILE — the Iceberg/Delta pattern where
  the table format, not a directory listing, decides the parallelism.
* **Filter pushdown into Python** (`pushFilters`): comparison filters
  on stats-tracked columns prune entire files at PLANNING time using
  the manifest's per-file [min, max] — the same never-drop-data
  contract as `snapshot_scan` (a file without stats is always read).
  Every filter is returned as unsupported so Spark re-applies it
  row-level: pruning is a performance layer, never a correctness one.
* **Arrow-batch reads**: `read()` yields pyarrow RecordBatches straight
  from the parquet file — the vectorized path, no per-row Python.
  A table whose head carries deletion vectors is refused, not read:
  the file-granular reader cannot mask rows (use ``snapshot_read``).

Every manifest read and commit goes through ``operators/snapshot.py``;
this module never writes the manifest format itself.

At 100 TB this shape is how a Python-implemented table format stays
usable: planning cost is one small JSON manifest, scan parallelism is
file-granular, and the row data never materializes as Python objects.
"""

from __future__ import annotations

import os
import uuid
from pathlib import Path

from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
)

from specialsid_spark.operators.snapshot import (
    _commit_files,
    _file_stats,
    _read_manifest,
    _resolve,
    _routes,
    snapshot_versions,
)


class SnapshotFilePartition(InputPartition):
    def __init__(self, file_path: str) -> None:
        self.file_path = file_path


class SnapshotReader(DataSourceReader):
    def __init__(self, path: str) -> None:
        self._root = path
        v, m = _resolve(path)
        if m.get("deletes"):
            # same loud contract as the stream reader's append-only check:
            # whole-file reads would return the masked rows
            raise ValueError(
                f"version {v} of {path} has deletion vectors; the "
                "specialsid_snapshot reader cannot mask rows — read it "
                "with snapshot_read"
            )
        self._files: list[str] = list(m["files"])
        self._stats: dict = m.get("stats", {})

    def pushFilters(self, filters: list[Filter]):  # noqa: N802 (API name)
        """Prune manifest files whose [min, max] cannot satisfy an
        AND-ed comparison filter on a stats-tracked top-level column.
        Returns ALL filters as unsupported — Spark re-applies them
        row-level, so a pruning bug can only cost performance if it
        keeps too much, and the never-drop rule (stats-less file or
        un-prunable filter shape => keep) covers the rest."""
        for f in filters:
            bound = self._bound(f)
            if bound is None:
                continue
            col, lo, hi = bound
            self._files = [
                rel for rel in self._files if _routes(self._stats, rel, col, lo, hi)
            ]
        return filters  # Spark re-applies everything row-level

    @staticmethod
    def _bound(f: Filter):
        """(column, lo, hi) survivable range for one comparison filter
        on a top-level column, or None when the shape is un-prunable."""
        inf = float("inf")
        if not isinstance(
            f, (EqualTo, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual)
        ):
            return None
        if len(f.attribute) != 1 or not isinstance(f.value, (int, float)):
            return None
        col = f.attribute[0]
        if isinstance(f, EqualTo):
            return col, f.value, f.value
        if isinstance(f, (GreaterThan, GreaterThanOrEqual)):
            # conservative: treat strict > as >= (may keep one extra file)
            return col, f.value, inf
        return col, -inf, f.value

    def partitions(self):
        return [
            SnapshotFilePartition(os.path.join(self._root, rel))
            for rel in self._files
        ]

    def read(self, partition: SnapshotFilePartition):
        import pyarrow.parquet as pq  # noqa: PLC0415

        yield from pq.read_table(partition.file_path).to_batches()


class SnapshotStreamReader(DataSourceStreamReader):
    """The snapshot table as a STREAM SOURCE — every committed version
    is a micro-batch (the Delta/Iceberg "table as a change stream"
    pattern, via the Python DataSourceStreamReader API):

    * offsets are manifest VERSION numbers ({"version": N}), so the
      checkpoint pins exactly which commits were consumed —
      exactly-once across restarts for free;
    * the first batch delivers the table as of the latest version at
      start (versions 1..N together), then each later commit streams
      only its NEW files;
    * APPEND-ONLY contract: a non-append version (overwrite / delete /
      update / compact) raises instead of silently emitting wrong
      deltas — rewritten files would double-deliver rows.  That is the
      same loud contract streaming readers of real lakehouse tables
      default to.
    """

    def __init__(self, path: str) -> None:
        self._root = path

    def initialOffset(self) -> dict:  # noqa: N802 (API name)
        return {"version": 0}

    def latestOffset(self) -> dict:  # noqa: N802
        vs = snapshot_versions(self._root)
        return {"version": vs[-1] if vs else 0}

    def partitions(self, start: dict, end: dict):
        parts: list[SnapshotFilePartition] = []
        for v in range(start["version"] + 1, end["version"] + 1):
            m = _read_manifest(self._root, v)
            if v > 1 and m.get("op", "append") != "append":
                raise ValueError(
                    f"version {v} is op={m.get('op')!r}: the snapshot "
                    "stream source is append-only (rewritten files "
                    "would double-deliver rows)"
                )
            prev = set(_read_manifest(self._root, v - 1)["files"]) if v > 1 else set()
            for rel in m["files"]:
                if rel not in prev:
                    parts.append(
                        SnapshotFilePartition(os.path.join(self._root, rel))
                    )
        return parts

    def read(self, partition: SnapshotFilePartition):
        import pyarrow.parquet as pq  # noqa: PLC0415

        yield from pq.read_table(partition.file_path).to_batches()

    def commit(self, end: dict) -> None:
        pass  # offsets live in the Spark checkpoint; nothing to clean


@dataclass
class SnapshotCommitMessage(WriterCommitMessage):
    rel_files: list[str]


class SnapshotArrowWriter(DataSourceArrowWriter):
    """``df.write.format("specialsid_snapshot")`` — the WRITE half of
    the custom source, and a live demonstration of why manifest table
    formats make distributed writes atomic for free: each task streams
    its Arrow batches into a uniquely-named parquet file under
    ``data/`` and reports the path in its commit message; only the
    driver-side ``commit()`` — which runs IFF every task succeeded —
    publishes those paths as a new manifest version through the same
    put-if-absent commit as ``snapshot_commit``: an append carries the
    head's stats and deletion vectors and rebases if another writer
    published first; an overwrite that loses the race raises.  The
    manifest records the written schema and the new files' footer
    stats, so even an empty overwrite reads back typed.  Files
    from failed/speculative tasks are never referenced by any manifest,
    so they are invisible to every reader and reclaimable by vacuum: no
    rename dance, no output committer, no partial table ever visible.
    """

    def __init__(self, path: str, schema, overwrite: bool) -> None:
        self._root = path
        self._schema = schema.jsonValue()
        self._overwrite = overwrite
        self._commit_id = f"w-{uuid.uuid4().hex[:12]}"

    def write(self, iterator):
        import pyarrow as pa  # noqa: PLC0415
        import pyarrow.parquet as pq  # noqa: PLC0415

        batches = list(iterator)
        if not batches:
            return SnapshotCommitMessage([])
        rel = os.path.join(
            "data", self._commit_id, f"part-{uuid.uuid4().hex[:12]}.parquet"
        )
        dest = Path(self._root) / rel
        dest.parent.mkdir(parents=True, exist_ok=True)
        pq.write_table(pa.Table.from_batches(batches), str(dest))
        return SnapshotCommitMessage([rel])

    def commit(self, messages) -> None:
        new_files = sorted(
            rel for m in messages if m is not None for rel in m.rel_files
        )
        root = Path(self._root)
        _commit_files(
            self._root,
            new_files,
            "overwrite" if self._overwrite else "append",
            stats={rel: st for rel in new_files if (st := _file_stats(root, rel))},
            schema=self._schema,
        )

    def abort(self, messages) -> None:
        for m in messages or []:
            if m is None:
                continue
            for rel in m.rel_files:
                p = Path(self._root) / rel
                if p.exists():
                    p.unlink()


class SnapshotDataSource(DataSource):
    """``spark.read.format("specialsid_snapshot").schema(ddl)
    .option("path", table).load()`` — schema is caller-declared (the
    engine's snapshot tables are written by this repo, so the schema is
    always known; inference would re-open a file at planning time).
    ``spark.readStream`` on the same format tails the table's commits
    (see :class:`SnapshotStreamReader`); ``df.write`` commits new
    manifest versions (see :class:`SnapshotArrowWriter`)."""

    @classmethod
    def name(cls) -> str:
        return "specialsid_snapshot"

    def reader(self, schema) -> SnapshotReader:
        return SnapshotReader(self.options["path"])

    def streamReader(self, schema) -> SnapshotStreamReader:  # noqa: N802
        return SnapshotStreamReader(self.options["path"])

    def writer(self, schema, overwrite: bool) -> SnapshotArrowWriter:
        return SnapshotArrowWriter(self.options["path"], schema, overwrite)


_REGISTERED: set[int] = set()


def register_snapshot_source(spark) -> None:
    """Idempotent per-session registration.

    Also force-enables Python filter pushdown at RUNTIME: Spark 4
    hard-errors ([DATA_SOURCE_PUSHDOWN_DISABLED]) when a reader
    implements ``pushFilters()`` under the default-false conf, and a
    host session (e.g. the correctness driver's) won't have run our
    session builder — never depend on session-builder-only conf.
    """
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    key = id(spark)
    if key not in _REGISTERED:
        spark.dataSource.register(SnapshotDataSource)
        _REGISTERED.add(key)
