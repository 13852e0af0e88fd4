"""map_rows: the one per-row kernel stage (operators/rows.py)."""

from __future__ import annotations

import pytest

from specialsid_spark.operators.rows import ddl_fields, map_rows


def test_ddl_fields_splits_top_level_commas_only():
    assert ddl_fields("a long, b map<string, int>, c BINARY") == [
        ("a", "long"), ("b", "map<string, int>"), ("c", "binary"),
    ]


def test_ddl_coercion_per_type_with_null_int(spark):
    df = spark.createDataFrame([(1,), (2,)], "k long")

    def kernel(k):
        yield (k * 2**40, None if k == 2 else k, f"s{k}", bytes([k]), k / 4)

    schema = "l long, i int, s string, b binary, d double"
    out = map_rows(df, kernel, schema)
    assert out.schema.simpleString() == (
        "struct<l:bigint,i:int,s:string,b:binary,d:double>"
    )
    rows = sorted(tuple(r) for r in out.collect())
    assert rows == [
        (2**40, 1, "s1", bytearray(b"\x01"), 0.25),
        (2**41, None, "s2", bytearray(b"\x02"), 0.5),
    ]


def test_zero_one_and_many_rows_per_input(spark):
    df = spark.createDataFrame([(0,), (1,), (3,)], "n long")

    def kernel(n):
        for j in range(n):
            yield (n, j)

    rows = sorted(tuple(r) for r in map_rows(df, kernel, "n long, j int").collect())
    assert rows == [(1, 0), (3, 0), (3, 1), (3, 2)]


def test_every_input_column_reaches_the_kernel_in_order(spark):
    df = spark.createDataFrame([(7, "ab", b"xyz")], "a long, t string, b binary")
    out = map_rows(df, lambda a, t, b: [(a, len(t) + len(b))], "a long, n int")
    assert [tuple(r) for r in out.collect()] == [(7, 5)]


def test_empty_input(spark):
    df = spark.createDataFrame([], "k long")
    out = map_rows(df, lambda k: [(k, "x")], "k long, s string")
    assert out.collect() == []
    # batches that exist but yield nothing still carry the DDL columns
    df = spark.createDataFrame([(1,), (2,)], "k long")
    out = map_rows(df, lambda k: [], "k long, s string")
    assert out.collect() == []


def test_out_of_range_int_raises_instead_of_wrapping(spark):
    df = spark.createDataFrame([(1,)], "k long")
    out = map_rows(df, lambda k: [(k, 2**33)], "k long, v int")
    with pytest.raises(Exception, match="cannot safely cast"):
        out.collect()
    out = map_rows(df, lambda k: [(2**63,)], "v long")
    with pytest.raises(Exception, match="cannot safely cast"):
        out.collect()
