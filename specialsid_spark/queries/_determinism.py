"""Cross-engine numeric determinism helpers.

The driver hash-compares Spark results against DuckDB oracle results at
sf0.01.  Double-precision SUM/AVG/STDDEV are order-dependent and the two
engines aggregate in different orders, so naive ``SUM(double)`` can
differ in the last ULPs and hash-mismatch.  Strategy:

* Money columns in the fixtures carry 2 decimal digits.  We snap them to
  integer *cents* with ``round(x * 100)`` (never near a .5 tie because
  the stored doubles are within 1e-11 of an exact 2-decimal value), do
  all arithmetic on exact integers (Spark: DECIMAL(38,0) accumulators;
  DuckDB: HUGEINT), and only at the very end perform ONE double
  division — a single deterministic op.
* Group sums at sf0.01 stay far below 2^53, so casting the exact integer
  sum to DOUBLE is itself exact.
* STDDEV is computed from exact integer sum / sum-of-squares via the
  textbook formula, with identical final double expressions both sides.

Every money helper here has a Spark (Column) and a SQL (string) twin that
compute bit-identical results.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def cents(col: Column | str) -> Column:
    """Spark: money double -> exact integer cents (as long)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c * 100).cast("long")


def sql_cents(expr: str) -> str:
    """DuckDB twin of :func:`cents`."""
    return f"CAST(round(({expr}) * 100) AS BIGINT)"


def exact_sum(col: Column) -> Column:
    """Spark: overflow-proof exact integer sum (DECIMAL(38,0) accumulator)."""
    return F.sum(col.cast("decimal(38,0)"))


def money_sum(col: Column | str, alias: str) -> Column:
    """Spark: SUM of a 2-decimal money column, exact, emitted as double."""
    return (exact_sum(cents(col)).cast("double") / F.lit(100.0)).alias(alias)


def sql_money_sum(expr: str, alias: str) -> str:
    """DuckDB twin: SUM(BIGINT) promotes to HUGEINT (exact), then one division."""
    return f"CAST(SUM({sql_cents(expr)}) AS DOUBLE) / 100.0 AS {alias}"


def money_avg(col: Column | str, alias: str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return (
        exact_sum(cents(c)).cast("double") / F.lit(100.0) / F.count(F.lit(1)).cast("double")
    ).alias(alias)


def sql_money_avg(expr: str, alias: str) -> str:
    return f"CAST(SUM({sql_cents(expr)}) AS DOUBLE) / 100.0 / CAST(COUNT(*) AS DOUBLE) AS {alias}"


#: neighbors kept per query by :func:`neighbor_ranks` and its oracles
TOPK = 5


def neighbor_ranks(scored: DataFrame, score: str) -> DataFrame:
    """The cross-engine top-5 tie rule shared by the vector searches and
    their DuckDB oracles: over (query_id, neighbor_id, cs), rank each
    query's neighbors by ``cs`` descending with ``neighbor_id`` ascending
    on ties, keep ranks 1-TOPK with ``rk`` as long and the score rounded
    to 6 places (named ``score``), ordered by query, then rank."""
    w = Window.partitionBy("query_id").orderBy(F.col("cs").desc(), "neighbor_id")
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= TOPK)
        .select("query_id", "neighbor_id", "rk", F.round("cs", 6).alias(score))
        .orderBy("query_id", "rk")
    )
