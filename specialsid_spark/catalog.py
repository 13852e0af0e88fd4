"""Table loading / catalog registration.

The reference's "catalog" is a Glue crawler over the clean Parquet zone
feeding Athena (infrastructure/main.tf:286-352): it infers each table's
schema once, and every query is planned against the stored schema.
:func:`load` does the same.  The first load of a table path infers its
schema with ``spark.read.parquet`` (one Spark job); later loads pass the
remembered schema to the reader, which skips inference and runs no job.

Each path has one cache entry, valid while the path's file signature is
unchanged: the sorted (relative name, size, mtime_ns) of its
``.parquet`` data files, taken from one listing.  A rewritten or
extended table gets a new signature, so its next load infers the schema
again and replaces the entry.  The same entry holds the row-group probe
that sizes :func:`load_parallel`'s fan-out.

Only metadata is cached, never data or a DataFrame.  Every load builds
a fresh relation: it has fresh attribute ids, so two loads of one table
can be self-joined, and Spark lists the files again, so a file added to
a directory table is read.  ``spark.catalog.clearCache()`` therefore
still makes a query recompute from parquet.

Spark's session catalog subsumes the crawler's catalog:
:func:`register_all` registers each table as a temp view, so both the
DataFrame API and ``spark.sql`` can address it.
"""

from __future__ import annotations

import os
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# changes the inferred type of a TIMESTAMP(NANOS) column (events.ts)
_NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"


class _Entry(NamedTuple):
    """What is known about one table path while its files keep ``signature``."""

    signature: tuple[tuple[str, int, int], ...]
    nanos_as_long: str | None = None  # the session value ``schema`` was inferred under
    schema: StructType | None = None
    scan_units: tuple[int, int] | None = None  # (row groups, rows)


_TABLE_CACHE: dict[str, _Entry] = {}


def _signature(path: str) -> tuple[tuple[str, int, int], ...]:
    """Sorted (relative name, size, mtime_ns) of the parquet data files at
    ``path``: the file itself, or a directory walked recursively, skipping
    the ``_``/``.``-prefixed names Spark skips.  Empty when ``path`` is not
    a local file or directory (e.g. a URI), so such a table is never cached.
    """
    if os.path.isdir(path):
        files = []
        for root, dirs, names in os.walk(path):
            dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
            files += [
                os.path.join(root, n)
                for n in names
                if n.endswith(".parquet") and not n.startswith(("_", "."))
            ]
    else:
        files = [path]
    sig = []
    for f in files:
        try:
            st = os.stat(f)
        except FileNotFoundError:
            continue  # missing path, or removed since the listing
        sig.append((os.path.relpath(f, path), st.st_size, st.st_mtime_ns))
    return tuple(sorted(sig))


def _entry(path: str) -> _Entry:
    """The cached entry for ``path`` if its files still match, else an empty one."""
    sig = _signature(path)
    entry = _TABLE_CACHE.get(path)
    return entry if entry is not None and entry.signature == sig else _Entry(sig)


def _store(path: str, entry: _Entry) -> None:
    if entry.signature:  # only a local listing can later validate the entry
        _TABLE_CACHE[path] = entry


def _parquet_scan_units(path: str) -> tuple[int, int]:
    """(row groups, rows) across the parquet file(s) at ``path``.

    A parquet scan task can do work only if its byte range contains a
    row-group midpoint, so the row-group count — not the split count —
    is the scan's true parallelism ceiling.  One driver-side footer read
    (~ms) per file signature, kept in the path's cache entry.
    """
    entry = _entry(path)
    if entry.scan_units is None:
        import pyarrow.parquet as pq

        rgs = rows = 0
        for rel, _, _ in entry.signature:
            md = pq.ParquetFile(os.path.normpath(os.path.join(path, rel))).metadata
            rgs += md.num_row_groups
            rows += md.num_rows
        entry = entry._replace(scan_units=(rgs, rows))
        _store(path, entry)
    return entry.scan_units


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table. Parquet scan → columnar, prunable, pushdown-able.

    The schema is inferred once per file signature of the table path
    (see the module docstring); a later load with the same files and the
    same ``nanosAsLong`` setting reads with that schema and launches no
    Spark job.  Only metadata is cached: the returned DataFrame is a new
    relation over the files as Spark lists them now, and
    ``spark.catalog.clearCache()`` still forces a recompute from parquet.

    `events.ts` is stored as TIMESTAMP(NANOS), which Spark's vectorized
    reader only surfaces as a nanos long (`nanosAsLong`); we truncate to
    micros and restore `timestamp_ntz` — the same ns→us truncation
    DuckDB applies, so both engines see identical values.

    No implicit repartition: for scan→partial-agg shapes the map-side
    combine already collapses rows inside the scan stage, and an extra
    exchange only adds cost (A/B-measured 2x slower on the pricing
    summary).  Expression-heavy pipelines opt in via
    :func:`load_parallel`.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    entry = _entry(path)
    nanos_as_long = spark.conf.get(_NANOS_AS_LONG)
    if entry.schema is not None and entry.nanos_as_long == nanos_as_long:
        df = spark.read.schema(entry.schema).parquet(path)
    else:
        df = spark.read.parquet(path)
        _store(path, entry._replace(nanos_as_long=nanos_as_long, schema=df.schema))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # integer division: ns values (~1.7e18) exceed double precision
        df = df.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz")
        )
    return df


def load_parallel(
    spark: SparkSession, sf_dir: str, name: str, partitions: int | None = None
) -> DataFrame:
    """Load + conditional fan-out for expression-heavy downstream work
    (per-row hashing, shingling, vector folds).

    Repartitions ONLY when the parquet layout caps scan parallelism
    below half the session's cores (row groups are the true ceiling —
    a split without a row-group midpoint reads nothing).  On a real
    100 TB multi-file table the scan is already wide and this is a
    no-op; on the single-row-group fixtures it is the difference
    between 1 and 32 cores doing the tokenize/hash work (A/B-measured
    4-7x).  Filters and column pruning push through the Repartition to
    the scan (verified: PushedFilters intact in .explain).
    """
    df = load(spark, sf_dir, name)
    par = spark.sparkContext.defaultParallelism
    try:
        units, rows = _parquet_scan_units(os.path.join(sf_dir, f"{name}.parquet"))
    except Exception:
        return df  # unreadable metadata -> trust the source layout
    if units < max(2, par // 2) and rows > 1000:
        df = df.repartition(partitions or par)
    return df


def register_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every fixture table as a temp view (Glue-crawler analogue:
    each view's schema comes from :func:`load`'s per-signature cache)."""
    out: dict[str, DataFrame] = {}
    for name in TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if not os.path.exists(path):
            continue
        df = load(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
