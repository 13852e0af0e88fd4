"""One per-row kernel stage over Arrow batches.

A per-row query step (decode one blob, render one page, parse one
record) is a *kernel*: a plain function of one input row's values that
yields zero or more output tuples and keeps no state across rows.
:func:`map_rows` runs it inside one ``mapInPandas``: per Arrow batch it
hands the kernel each row as Python values (``pdf[c].tolist()``, so an
int column arrives as ``int``, a binary one as ``bytes``) and builds one
pandas frame whose columns are named and typed by the DDL ``schema``.

Integer columns are built as pandas nullable ``Int64``/``Int32``
arrays: ``None`` becomes a SQL NULL, and a value the DDL type cannot
hold raises instead of wrapping (``astype("int32")`` and Spark's
default unchecked Arrow cast both wrap ``2**33`` to ``0``).

Batch-level kernels (one file per Arrow batch, one matmul per batch)
keep their own ``mapInPandas``: they are not per-row.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame

# DDL type -> pandas dtype that holds exactly that type's values; every
# other type (string, binary, ...) goes as Python objects.
_DTYPES = {
    "long": "Int64", "bigint": "Int64", "int": "Int32", "integer": "Int32",
    "double": "float64",
}


def ddl_fields(schema: str) -> list[tuple[str, str]]:
    """``"a long, b array<int>"`` -> ``[("a", "long"), ("b", "array<int>")]``."""
    fields, depth, start = [], 0, 0
    for i, ch in enumerate(schema + ","):
        depth += (ch == "<") - (ch == ">")
        if ch == "," and depth == 0:
            name, typ = schema[start:i].split(None, 1)
            fields.append((name, typ.strip().lower()))
            start = i + 1
    return fields


def map_rows(
    df: DataFrame, kernel: Callable[..., Iterable[tuple]], schema: str
) -> DataFrame:
    """``kernel(*row)`` over every row of ``df`` (its columns in order),
    as one ``mapInPandas`` whose output has the DDL ``schema``."""
    fields = ddl_fields(schema)

    def run(batches):
        import pandas as pd

        for pdf in batches:
            rows = zip(*(pdf[c].tolist() for c in pdf.columns))
            out = [t for row in rows for t in kernel(*row)]
            cols = list(zip(*out)) or [()] * len(fields)
            yield pd.DataFrame(
                {n: pd.array(list(v), dtype=_DTYPES.get(t, object))
                 for (n, t), v in zip(fields, cols)}
            )

    return df.mapInPandas(run, schema)
