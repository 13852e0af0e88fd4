"""Aggregation operators (SURVEY.md §2.6: A1–A6).

Hash/sort aggregates with partial+final (Catalyst emits
HashAggregate(partial) -> Exchange -> HashAggregate(final) automatically
— map-side combine for free), distinct / count-distinct / approx,
rollup / cube / grouping sets, collect_set, and a Pandas GROUPED_AGG
UDAF.  Reference evidence: the reference's only aggregations are status
counters (pnp-vision-parser.py:122-145, bulk_clean.sh:31-76); its full
aggregation surface is the Athena catalog over the clean zone
(infrastructure/main.tf:286-352).

Scale notes: every groupBy here shuffles on the group keys only after a
map-side partial aggregate, so shuffled bytes are proportional to
|groups|, not |rows| — this is the plan shape that survives 100 TB.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from specialsid_spark.catalog import load, load_parallel
from specialsid_spark.queries import register
from specialsid_spark.queries._determinism import (
    cents,
    exact_sum,
    money_avg,
    money_sum,
    sql_cents,
    sql_money_avg,
    sql_money_sum,
)

# --------------------------------------------------------------------------
# A1/A2 — TPC-H Q1-style pricing summary: the flagship aggregate.
# --------------------------------------------------------------------------


@register(
    "agg_pricing_summary",
    oracle=f"""
    SELECT
      l_returnflag,
      l_linestatus,
      CAST(SUM(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
      {sql_money_sum("l_extendedprice", "sum_base_price")},
      CAST(SUM({sql_cents("l_extendedprice")} * (100 - {sql_cents("l_discount")})) AS DOUBLE) / 10000.0
        AS sum_disc_price,
      CAST(SUM({sql_cents("l_extendedprice")} * (100 - {sql_cents("l_discount")})
               * (100 + {sql_cents("l_tax")})) AS DOUBLE) / 1000000.0 AS sum_charge,
      {sql_money_avg("l_extendedprice", "avg_price")},
      CAST(COUNT(*) AS BIGINT) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def agg_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    price_c = cents("l_extendedprice")
    disc_c = cents("l_discount")
    tax_c = cents("l_tax")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.round(F.col("l_quantity")).cast("long")).cast("long").alias("sum_qty"),
            money_sum("l_extendedprice", "sum_base_price"),
            (exact_sum(price_c * (100 - disc_c)).cast("double") / 10000.0).alias("sum_disc_price"),
            (
                exact_sum((price_c * (100 - disc_c)).cast("decimal(38,0)") * (100 + tax_c)).cast(
                    "double"
                )
                / 1000000.0
            ).alias("sum_charge"),
            money_avg("l_extendedprice", "avg_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# --------------------------------------------------------------------------
# A2 — full stats battery incl. deterministic stddev via exact moments.
# --------------------------------------------------------------------------

# the variance numerator n*Σx² - (Σx)² is combined in EXACT integer
# arithmetic (HUGEINT here, DECIMAL(38,0) on the Spark side) and cast to
# double ONCE — casting the sums separately loses exactness past 2^53
# and the engines then disagree in the last ULP (seen at 4x sf0.1)
_STDDEV_SQL = """
    CASE WHEN COUNT(*) > 1 THEN
      sqrt(greatest(0.0,
        CAST(CAST(COUNT(*) AS HUGEINT) * SUM(c2) - SUM(c1) * SUM(c1) AS DOUBLE)
        / (CAST(COUNT(*) AS DOUBLE) * CAST(COUNT(*) - 1 AS DOUBLE)))) / 100.0
    END
"""


@register(
    "agg_stats_orders",
    oracle=f"""
    WITH t AS (
      SELECT o_orderstatus, o_orderpriority,
             {sql_cents("o_totalprice")} AS c1,
             {sql_cents("o_totalprice")} * {sql_cents("o_totalprice")} AS c2,
             o_totalprice
      FROM orders
    )
    SELECT o_orderstatus, o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(c1) AS DOUBLE) / 100.0 AS sum_price,
           CAST(SUM(c1) AS DOUBLE) / 100.0 / CAST(COUNT(*) AS DOUBLE) AS avg_price,
           MIN(o_totalprice) AS min_price,
           MAX(o_totalprice) AS max_price,
           {_STDDEV_SQL} AS std_price
    FROM t
    GROUP BY o_orderstatus, o_orderpriority
    ORDER BY o_orderstatus, o_orderpriority
    """,
)
def agg_stats_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    c1 = cents("o_totalprice")
    n = F.count(F.lit(1))
    # exact integer accumulators; the variance numerator n*Σx² - (Σx)²
    # is combined in DECIMAL and cast to double ONCE (separate casts
    # lose exactness past 2^53 -> last-ULP mismatch vs DuckDB at 4x)
    sum1d = exact_sum(c1)  # decimal(38,0)
    sum2d = exact_sum(c1.cast("decimal(38,0)") * c1)
    sum1 = sum1d.cast("double")
    nd = n.cast("double")
    numerator = (
        n.cast("decimal(8,0)") * sum2d.cast("decimal(30,0)")
        - sum1d.cast("decimal(19,0)") * sum1d.cast("decimal(19,0)")
    ).cast("double")
    std = F.when(
        n > 1,
        F.sqrt(F.greatest(F.lit(0.0), numerator / (nd * (n - 1).cast("double"))))
        / 100.0,
    )
    return (
        o.groupBy("o_orderstatus", "o_orderpriority")
        .agg(
            n.alias("n_orders"),
            (sum1 / 100.0).alias("sum_price"),
            (sum1 / 100.0 / nd).alias("avg_price"),
            F.min("o_totalprice").alias("min_price"),
            F.max("o_totalprice").alias("max_price"),
            std.alias("std_price"),
        )
        .orderBy("o_orderstatus", "o_orderpriority")
    )


# --------------------------------------------------------------------------
# A3 — exact distinct & count-distinct.
# --------------------------------------------------------------------------


@register(
    "agg_count_distinct",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS n_supp,
           CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_part,
           CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_order
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_suppkey").alias("n_supp"),
            F.countDistinct("l_partkey").alias("n_part"),
            F.countDistinct("l_orderkey").alias("n_order"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "agg_approx_count_distinct",
    # Self-checking twin pattern (VERDICT r8 #2): the HLL++ estimate
    # itself can never hash-match DuckDB (different sketch), so the
    # query emits the EXACT count plus a bound-verdict flag derived
    # from the live sketch; the oracle restates the exact side and the
    # literal flag 1.  A sketch estimate drifting past 5% (pytest pins
    # the same bound) flips the flag to 0 and fails the hash compare —
    # a full value-level driver check instead of rows-only.
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
           CAST(1 AS BIGINT) AS approx_within_5pct
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def agg_approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 sketch family: `approx_count_distinct` (HLL++ on the JVM) per
    return flag, validated in-query against the exact distinct count.
    At 100 TB the sketch is one map-side pass merging 2^p-register
    summaries where COUNT(DISTINCT) shuffles every distinct key; here
    both run so the driver can verify the bound — at scale you'd drop
    the exact branch and keep the sketch."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("exact_parts"),
            F.approx_count_distinct("l_partkey", rsd=0.02).alias("_approx"),
        )
        .select(
            "l_returnflag",
            "exact_parts",
            (
                F.abs(F.col("_approx") - F.col("exact_parts"))
                <= 0.05 * F.col("exact_parts")
            )
            .cast("bigint")
            .alias("approx_within_5pct"),
        )
        .orderBy("l_returnflag")
    )


# --------------------------------------------------------------------------
# A4 — rollup / cube / grouping sets.
# --------------------------------------------------------------------------


@register(
    "agg_rollup_region_nation",
    oracle=f"""
    SELECT r_name, n_name,
           CAST(COUNT(*) AS BIGINT) AS n_cust,
           {sql_money_sum("c_acctbal", "sum_bal")}
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    ORDER BY r_name NULLS FIRST, n_name NULLS FIRST
    """,
)
def agg_rollup_region_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    joined = c.join(
        F.broadcast(n), c.c_nationkey == n.n_nationkey
    ).join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    return (
        joined.rollup("r_name", "n_name")
        .agg(F.count(F.lit(1)).alias("n_cust"), money_sum("c_acctbal", "sum_bal"))
        .orderBy(F.col("r_name").asc_nulls_first(), F.col("n_name").asc_nulls_first())
    )


@register(
    "agg_cube_status_priority",
    oracle=f"""
    SELECT o_orderstatus, o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           {sql_money_sum("o_totalprice", "sum_price")}
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
    """,
)
def agg_cube_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"), money_sum("o_totalprice", "sum_price"))
        .orderBy(
            F.col("o_orderstatus").asc_nulls_first(), F.col("o_orderpriority").asc_nulls_first()
        )
    )


@register(
    "agg_grouping_sets",
    oracle="""
    SELECT c_mktsegment, c_nationkey, CAST(COUNT(*) AS BIGINT) AS n_cust
    FROM customer
    GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey))
    ORDER BY c_mktsegment NULLS FIRST, c_nationkey NULLS FIRST
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(
        """
        SELECT c_mktsegment, c_nationkey, COUNT(*) AS n_cust
        FROM customer
        GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey))
        ORDER BY c_mktsegment ASC NULLS FIRST, c_nationkey ASC NULLS FIRST
        """
    )


# --------------------------------------------------------------------------
# A5 — collect_set (deterministic: sorted, stringified).  Models "products
# per group_id deal" (reference prompt pnp-vision-parserLambda.py:80).
# --------------------------------------------------------------------------


@register(
    "agg_collect_set",
    oracle="""
    SELECT c_mktsegment,
           array_to_string(list_sort(list(DISTINCT o_orderpriority)), ',') AS priorities,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
)
def agg_collect_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.array_join(F.sort_array(F.collect_set("o_orderpriority")), ",").alias("priorities"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy("c_mktsegment")
    )


# --------------------------------------------------------------------------
# A6 — UDAF via pandas_udf GROUPED_AGG (EXT): price range per customer
# segment.  The UDAF itself is Arrow-batched (grouped-agg pandas UDF);
# the oracle expresses the same quantity relationally.
# --------------------------------------------------------------------------


@register(
    "agg_udaf_price_range",
    oracle="""
    SELECT c_mktsegment,
           CAST(round(MAX(o_totalprice) * 100) - round(MIN(o_totalprice) * 100) AS DOUBLE) / 100.0
             AS price_range
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
)
def agg_udaf_price_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")

    @F.pandas_udf("double")
    def price_range(v: pd.Series) -> float:  # GROUPED_AGG: one scalar per group
        cents_v = (v * 100).round()
        return float((cents_v.max() - cents_v.min()) / 100.0)

    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(price_range("o_totalprice").alias("price_range"))
        .orderBy("c_mktsegment")
    )


@register(
    "agg_percentiles_price",
    oracle="""
    SELECT l_returnflag,
           round(quantile_cont(l_extendedprice, 0.25), 6) AS p25,
           round(quantile_cont(l_extendedprice, 0.50), 6) AS p50,
           round(quantile_cont(l_extendedprice, 0.75), 6) AS p75
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def agg_percentiles_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 extension: exact interpolated percentiles (both engines use the
    same linear interpolation between adjacent order statistics, so the
    doubles match bit-for-bit; rounded to 6 for hash stability).

    Scale note: exact percentiles sort per group; at 100 TB swap in
    approx_percentile (t-digest) — kept exact here because the oracle
    must match across engines."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.percentile("l_extendedprice", F.lit(0.25)), 6).alias("p25"),
            F.round(F.percentile("l_extendedprice", F.lit(0.50)), 6).alias("p50"),
            F.round(F.percentile("l_extendedprice", F.lit(0.75)), 6).alias("p75"),
        )
        .orderBy("l_returnflag")
    )


_N_SALTS = 16


@register(
    "agg_salted_heavy_hitter",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS total_qty,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def agg_salted_heavy_hitter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation — the skew pattern, value-checked
    against the plain GROUP BY.

    l_returnflag has only 3 values, so a naive groupBy at scale sends
    each key's entire volume to one reducer.  Phase 1 groups by
    (key, salt = positive_mod(hash(row), 16)) spreading every key over
    16 reducers; phase 2 merges the 3x16 partials.  The shuffle after
    phase 1 carries 48 rows.  (AQE skew handling covers joins; salting
    is still the tool for skewed aggregations with expensive state.)"""
    li = load(spark, sf_dir, "lineitem")
    salt = F.pmod(F.hash("l_orderkey", "l_linenumber"), F.lit(_N_SALTS))
    phase1 = (
        li.groupBy(F.col("l_returnflag"), salt.alias("salt"))
        .agg(
            F.sum(F.round(F.col("l_quantity")).cast("long")).alias("pq"),
            F.count(F.lit(1)).alias("pn"),
        )
    )
    return (
        phase1.groupBy("l_returnflag")
        .agg(
            F.sum("pq").cast("long").alias("total_qty"),
            F.sum("pn").cast("long").alias("n_rows"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "agg_grouped_map_rank",
    oracle="""
    SELECT c_custkey, c_mktsegment,
           CAST(row_number() OVER (PARTITION BY c_mktsegment
                                   ORDER BY c_acctbal DESC, c_custkey) AS BIGINT)
             AS bal_rank
    FROM customer
    ORDER BY c_mktsegment, bal_rank
    """,
)
def agg_grouped_map_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U2/U4: grouped-map applyInPandas — arbitrary per-group pandas
    logic (here: dense per-segment balance ranking, deterministic
    tie-break) with an exact SQL twin so the Arrow path itself is
    value-verified.

    Scale shape: one shuffle on the group key, then per-group pandas in
    executor memory — the escape hatch for group-local algorithms
    (model scoring, curve fitting) that column expressions can't state.
    Groups must fit in memory; for heavy keys pre-split with a salt."""
    import pandas as pd  # noqa: PLC0415

    c = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )

    def rank_group(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(
            ["c_acctbal", "c_custkey"], ascending=[False, True]
        ).reset_index(drop=True)
        pdf["bal_rank"] = pdf.index + 1
        return pdf[["c_custkey", "c_mktsegment", "bal_rank"]]

    return (
        c.groupBy("c_mktsegment")
        .applyInPandas(
            rank_group, "c_custkey long, c_mktsegment string, bal_rank long"
        )
        .orderBy("c_mktsegment", "bal_rank")
    )


@register(
    "agg_histogram_value_buckets",
    oracle="""
    SELECT CAST(floor(value / 25.0) AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0
             AS sum_value
    FROM events
    GROUP BY bucket
    ORDER BY bucket
    """,
)
def agg_histogram_value_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram (width 25) over event values — the
    binned-aggregation shape behind every distribution dashboard.  The
    bucket id is computed in the scan projection, so the aggregate
    shuffles |buckets| partial rows per task, not |events|."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.floor(F.col("value") / 25.0).cast("long").alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum(cents("value")).cast("double") / 100.0).alias("sum_value"),
        )
        .orderBy("bucket")
    )


# agg_approx_percentiles moved below _ANSI_EXACT_PCTL_SQL — its
# self-checking oracle (VERDICT r8 #2) wraps that shared exact formula.


# --------------------------------------------------------------------------
# Deterministic distributed sketches.  agg_approx_count_distinct above is
# rows-only by necessity (Spark's HLL++ and DuckDB's HLL serialize
# differently); these two implement the sketches THEMSELVES from md5-derived
# hashes, so every register/counter — and therefore the estimate — is
# bit-identical cross-engine and the oracle is a full value check.  This is
# the 100 TB aggregation pattern in miniature: a sketch is a tiny, MERGEABLE
# summary (map-side partial MAX/SUM per partition, one k-sized exchange),
# where the exact answer would shuffle the corpus.
# --------------------------------------------------------------------------

# Sketch primitives live in operators/sketches.py — shared with the
# streaming ingest door (streaming_hll_registers maintains the SAME
# registers incrementally, merged by MAX).
from specialsid_spark.operators.sketches import (  # noqa: E402
    HLL_M as _HLL_M,
    SQL_HLL_RHO as _HLL_RHO,
    hll_bucket,
    hll_estimate,
    hll_rho,
    hll_s33,
)


@register(
    "agg_hll_manual",
    oracle=f"""
    WITH h AS (
      SELECT l_returnflag, md5(CAST(l_orderkey AS VARCHAR)) AS hh
      FROM lineitem
    ),
    br AS (
      SELECT l_returnflag,
             ('0x' || substring(hh, 1, 8))::BIGINT % {_HLL_M} AS bucket,
             {_HLL_RHO.format(w2="(('0x' || substring(hh, 9, 8))::BIGINT)")} AS rho
      FROM h
    ),
    regs AS (
      SELECT l_returnflag, bucket, MAX(rho) AS mj
      FROM br GROUP BY l_returnflag, bucket
    ),
    agg AS (
      SELECT l_returnflag,
             COUNT(*) AS n_hit,
             SUM(CAST(power(2, 33 - mj) AS BIGINT)) AS s_hit
      FROM regs GROUP BY l_returnflag
    ),
    ex AS (
      SELECT l_returnflag, COUNT(DISTINCT l_orderkey) AS n_exact
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT agg.l_returnflag,
           CAST(ex.n_exact AS BIGINT) AS n_exact,
           CAST(agg.n_hit AS BIGINT) AS n_registers_hit,
           CAST(agg.s_hit + ({_HLL_M} - agg.n_hit) * 8589934592 AS BIGINT) AS s33,
           round(CAST(6490054181368802.0 AS DOUBLE)
                 / CAST(agg.s_hit + ({_HLL_M} - agg.n_hit) * 8589934592 AS DOUBLE),
                 3) AS hll_estimate
    FROM agg JOIN ex ON agg.l_returnflag = ex.l_returnflag
    ORDER BY agg.l_returnflag
    """,
)
def agg_hll_manual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog built in-engine from md5 hashes: register = low 10
    bits of the first 32-bit md5 word, rho = leading-zero count + 1 of
    the second word (integer CASE, no float log).  The harmonic sum is
    kept on the dyadic-integer lattice — sum(2^(33-Mj)) is exact BIGINT,
    absent registers contribute 2^33 — so the only float op is ONE
    multiply-divide of exact doubles (alpha_1024 * m^2 * 2^33 = alpha *
    2^53), identical cross-engine.  Raw HLL estimate, no small-range
    correction (documented: at the GATE SFs 0.01/0.1 every group is well
    past 2.5m and measured error is 0.3-4%, matching 1.04/sqrt(m); the
    tiny sf0.001 fixture sits inside the small-range regime and the raw
    estimate overshoots there — tests pin the 0.01 accuracy).

    Scale shape: groupBy(flag, bucket) MAX(rho) partial-aggregates
    map-side, so the exchange carries at most |groups| * 1024 register
    rows regardless of corpus size; registers merge with MAX — the
    mergeability that makes HLL the 100 TB distinct-count operator.
    (Unlike the CMS build, load_parallel LOSES here — the query scans
    lineitem twice (registers + exact-count comparison column), and two
    added exchanges cost more than the fan-out saves; measured 1.7 s
    plain vs 2.5 s repartitioned at sf0.1.)"""
    li = load(spark, sf_dir, "lineitem")
    h = li.select(
        "l_returnflag", F.md5(F.col("l_orderkey").cast("string")).alias("hh")
    )
    br = h.select(
        "l_returnflag",
        hll_bucket(F.col("hh")).alias("bucket"),
        hll_rho("hh").alias("rho"),
    )
    regs = br.groupBy("l_returnflag", "bucket").agg(F.max("rho").alias("mj"))
    agg = regs.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_hit"),
        F.sum(F.pow(F.lit(2.0), 33 - F.col("mj")).cast("long")).alias("s_hit"),
    )
    ex = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_orderkey").alias("n_exact")
    )
    s33 = hll_s33(F.col("s_hit"), F.col("n_hit"))
    return (
        agg.join(ex, "l_returnflag")
        .select(
            "l_returnflag",
            F.col("n_exact").cast("long").alias("n_exact"),
            F.col("n_hit").cast("long").alias("n_registers_hit"),
            s33.cast("long").alias("s33"),
            F.round(hll_estimate(s33), 3).alias("hll_estimate"),
        )
        .orderBy("l_returnflag")
    )


_CMS_D = 4    # hash rows
_CMS_W = 512  # counters per row


@register(
    "agg_countmin_topk",
    oracle=f"""
    WITH cells AS (
      -- one md5 per key; the d hash rows are disjoint 32-bit slices of
      -- the 128-bit digest (independent for CMS purposes, 4x fewer
      -- digests than hashing (j, key) pairs)
      SELECT t.j,
             ('0x' || substring(md5(CAST(l_suppkey AS VARCHAR)),
                                1 + 8 * CAST(t.j AS INT), 8))::BIGINT
               % {_CMS_W} AS col
      FROM lineitem CROSS JOIN range({_CMS_D}) t(j)
    ),
    sketch AS (
      SELECT j, col, COUNT(*) AS c FROM cells GROUP BY j, col
    ),
    exact AS (
      SELECT l_suppkey, COUNT(*) AS n FROM lineitem GROUP BY l_suppkey
    ),
    top10 AS (
      SELECT l_suppkey, n FROM exact ORDER BY n DESC, l_suppkey LIMIT 10
    ),
    cand AS (
      SELECT tp.l_suppkey, tp.n, t.j,
             ('0x' || substring(md5(CAST(tp.l_suppkey AS VARCHAR)),
                                1 + 8 * CAST(t.j AS INT), 8))::BIGINT
               % {_CMS_W} AS col
      FROM top10 tp CROSS JOIN range({_CMS_D}) t(j)
    )
    SELECT cand.l_suppkey,
           CAST(cand.n AS BIGINT) AS exact_n,
           CAST(MIN(sketch.c) AS BIGINT) AS cms_estimate,
           CAST(MIN(sketch.c) - cand.n AS BIGINT) AS overestimate
    FROM cand JOIN sketch ON cand.j = sketch.j AND cand.col = sketch.col
    GROUP BY cand.l_suppkey, cand.n
    ORDER BY exact_n DESC, cand.l_suppkey
    """,
)
def agg_countmin_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch heavy hitters: a {_CMS_D}x{_CMS_W} counter
    matrix from md5-derived hashes, point-queried for the true top-10
    suppliers and compared against their exact frequencies.  The
    one-sided error invariant (estimate >= exact, always) is emitted as
    an explicit column, so the oracle value-checks the sketch property
    itself, not just the numbers.

    Scale shape: the build is one groupBy over (row, counter) cells —
    map-side partial SUM, an exchange of at most d*w = {_CMS_D * _CMS_W}
    rows per partition, mergeable by addition across partitions,
    streams, and days (the reason CMS is the standard streaming
    heavy-hitter structure).  Point queries broadcast against the
    d*w-row sketch.  load_parallel matters here: the hash/explode work
    dominates and the single-row-group fixture would serialize it on
    one task."""
    li = load_parallel(spark, sf_dir, "lineitem")

    def cms_cells(df: DataFrame, extra: list[str]) -> DataFrame:
        # ONE md5 per input row (named projection — the explode used to
        # re-evaluate it per (row, j), d=4 digests per key; r13 s3
        # opt), then posexplode the d disjoint 32-bit slices: index j
        # reads hex chars [8j, 8j+8), identical to the per-j substring
        h = df.select(*extra, F.md5(F.col("l_suppkey").cast("string")).alias("h"))
        cols = F.array(
            *[
                F.conv(F.substring("h", 1 + 8 * i, 8), 16, 10).cast("long")
                % _CMS_W
                for i in range(_CMS_D)
            ]
        )
        return h.select(*extra, F.posexplode(cols).alias("j", "col"))

    cells = cms_cells(li.select("l_suppkey"), [])
    sketch = cells.groupBy("j", "col").agg(F.count(F.lit(1)).alias("c"))
    exact = li.groupBy("l_suppkey").agg(F.count(F.lit(1)).alias("n"))
    top10 = exact.orderBy(F.desc("n"), "l_suppkey").limit(10)
    cand = cms_cells(top10, ["l_suppkey", "n"])
    return (
        cand.join(F.broadcast(sketch), ["j", "col"])
        .groupBy("l_suppkey", "n")
        .agg(F.min("c").alias("cms"))
        .select(
            "l_suppkey",
            F.col("n").cast("long").alias("exact_n"),
            F.col("cms").cast("long").alias("cms_estimate"),
            (F.col("cms") - F.col("n")).cast("long").alias("overestimate"),
        )
        .orderBy(F.desc("exact_n"), "l_suppkey")
    )


_KMV_K = 256


@register(
    "agg_kmv_corpus_overlap",
    oracle=f"""
    WITH u AS (
      SELECT DISTINCT o_custkey AS k,
             o_orderkey % 2 AS side
      FROM orders
    ),
    h AS (
      SELECT side, k,
             ('0x' || substring(md5(CAST(k AS VARCHAR)), 1, 8))::BIGINT AS hv
      FROM (SELECT DISTINCT side, k FROM u)
    ),
    ranked AS (
      SELECT side, hv,
             row_number() OVER (PARTITION BY side ORDER BY hv, hv) AS rn
      FROM (SELECT DISTINCT side, hv FROM h)
    ),
    sk AS (SELECT side, hv FROM ranked WHERE rn <= {_KMV_K}),
    thr AS (
      SELECT MAX(CASE WHEN side = 0 THEN hv END) AS t0,
             MAX(CASE WHEN side = 1 THEN hv END) AS t1
      FROM sk
    ),
    uni AS (
      SELECT DISTINCT hv FROM sk
    ),
    uranked AS (
      SELECT hv, row_number() OVER (ORDER BY hv) AS rn FROM uni
    ),
    usk AS (SELECT hv FROM uranked WHERE rn <= {_KMV_K}),
    inter AS (
      SELECT COUNT(*) AS n_inter FROM usk
      WHERE hv IN (SELECT hv FROM sk WHERE side = 0)
        AND hv IN (SELECT hv FROM sk WHERE side = 1)
    )
    SELECT CAST({_KMV_K} AS BIGINT) AS k,
           CAST((SELECT MAX(rn) FROM uranked) AS BIGINT) AS n_union_sketch,
           CAST(inter.n_inter AS BIGINT) AS n_inter_sketch,
           round(CAST(inter.n_inter AS DOUBLE)
                 / LEAST({_KMV_K}, (SELECT MAX(rn) FROM uranked)), 6)
             AS jaccard_est,
           CAST((SELECT COUNT(DISTINCT u0.k) FROM u u0, u u1
                 WHERE u0.side = 0 AND u1.side = 1 AND u0.k = u1.k) AS BIGINT)
             AS n_inter_exact
    FROM inter
    """,
)
def agg_kmv_corpus_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) overlap estimation between two corpus
    slices — the sketch that answers "how much do these two snapshots /
    sources overlap" without joining them: keep each side's k smallest
    md5 values; the Jaccard estimate is the fraction of the union
    sketch's k values present in both sides.  Every value is an exact
    integer (md5 word, row_number rank), so both engines build
    bit-identical sketches; the estimate is one division.

    Scale shape: per-side top-k-smallest is a partial top-k per
    partition folded into one k-sized final heap (Spark's
    TakeOrderedAndProject-style aggregation under the window-limit
    rewrite) — the exchange carries at most k values per side, and two
    100 TB corpora compare via 2k integers."""
    o = load(spark, sf_dir, "orders")
    u = o.select(
        F.col("o_custkey").alias("k"), (F.col("o_orderkey") % 2).alias("side")
    ).distinct()
    h = u.select(
        "side",
        F.conv(F.substring(F.md5(F.col("k").cast("string")), 1, 8), 16, 10)
        .cast("long")
        .alias("hv"),
    ).distinct()
    wnd = Window.partitionBy("side").orderBy("hv")
    # checkpoint the k-sized sketch (r13 opt): the two count actions
    # below otherwise re-derive the distinct+window pipeline per job —
    # the sketch IS the artifact a 100 TB run would persist, and it is
    # at most 2k rows.
    sk = (
        h.withColumn("rn", F.row_number().over(wnd))
        .where(F.col("rn") <= _KMV_K)
        .select("side", "hv")
        # lazy (r14): the first count job materializes the <=2k-row
        # sketch; the later jobs reuse the blocks
        .localCheckpoint(eager=False)
    )
    s0 = sk.where(F.col("side") == 0).select("hv")
    s1 = sk.where(F.col("side") == 1).select("hv")
    uni = s0.union(s1).distinct()
    usk = (
        uni.withColumn("rn", F.row_number().over(Window.orderBy("hv")))
        .where(F.col("rn") <= _KMV_K)
    )
    n_union_sketch = uni.count()
    n_inter = (
        usk.join(s0, "hv", "semi").join(s1, "hv", "semi").count()
    )
    exact = u.where(F.col("side") == 0).select("k").intersect(
        u.where(F.col("side") == 1).select("k")
    ).count()
    return spark.createDataFrame(
        [
            (
                _KMV_K,
                n_union_sketch,
                n_inter,
                # standard KMV: divide by the union SKETCH size, which is
                # capped at k but can be smaller at small scale factors /
                # narrow slices (dividing by the fixed k underestimates
                # Jaccard there)
                round(n_inter / min(_KMV_K, n_union_sketch), 6),
                exact,
            )
        ],
        "k bigint, n_union_sketch bigint, n_inter_sketch bigint, "
        "jaccard_est double, n_inter_exact bigint",
    )


# One ANSI string both engines run verbatim (the sql_surface discipline):
# exact linear-interpolated percentiles computed from first principles —
# row_number rank selection + an explicit interpolation formula — so the
# arithmetic is OURS, not each engine's quantile implementation, and the
# only doubles are the same literal expression on both sides.
_ANSI_EXACT_PCTL_SQL = """
    WITH t AS (
      SELECT l_returnflag AS g, CAST(round(l_extendedprice * 100) AS BIGINT) AS v
      FROM lineitem
    ),
    r AS (
      SELECT g, v,
             row_number() OVER (PARTITION BY g ORDER BY v) AS rn,
             COUNT(*) OVER (PARTITION BY g) AS n
      FROM t
    ),
    px AS (
      SELECT gg.g, gg.n, probs.p,
             CAST(floor(probs.p * (gg.n - 1)) AS BIGINT) + 1 AS lo_rn,
             CAST(ceil(probs.p * (gg.n - 1)) AS BIGINT) + 1 AS hi_rn,
             probs.p * (gg.n - 1) - floor(probs.p * (gg.n - 1)) AS frac
      FROM (SELECT DISTINCT g, n FROM r) gg
      CROSS JOIN (SELECT CAST(0.5 AS DOUBLE) AS p
                  UNION ALL SELECT CAST(0.9 AS DOUBLE)
                  UNION ALL SELECT CAST(0.99 AS DOUBLE)) probs
    ),
    sel AS (
      SELECT px.g, px.p, px.frac,
             MAX(CASE WHEN r.rn = px.lo_rn THEN r.v END) AS lov,
             MAX(CASE WHEN r.rn = px.hi_rn THEN r.v END) AS hiv
      FROM px JOIN r ON r.g = px.g AND r.rn IN (px.lo_rn, px.hi_rn)
      GROUP BY px.g, px.p, px.frac
    )
    SELECT g AS l_returnflag, p AS pctl,
           CAST(floor((CAST(lov AS DOUBLE) + (hiv - lov) * frac) * 10000)
                AS BIGINT) AS price_microdollar
    FROM sel
    ORDER BY g, p
"""


@register("agg_exact_percentiles", oracle=_ANSI_EXACT_PCTL_SQL)
def agg_exact_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p50/p90/p99 per group with linear interpolation, computed
    from first principles (rank selection over a per-group sort) rather
    than each engine's quantile built-in — engines differ in the ULPs of
    their interpolation formulas, so the formula is written ONCE and run
    verbatim on both (the sql_surface discipline).  All inputs integer
    cents; the one double expression (lov + (hiv-lov)*frac, floored to
    micro-dollars) is textually identical cross-engine.

    Complements the sketch family: `agg_approx_percentile_*` (engine GK,
    rows-only) is the 100 TB path; THIS is the exact oracle-grade
    baseline.

    Spark side restructured r13 (the oracle string is unchanged): the
    ANSI plan sorted 600k lineitem rows inside |l_returnflag| = 3
    window partitions (parallelism 3 of 32) and re-scanned the CTE per
    reference.  The rewrite runs rank selection on the per-group
    (cents → count) histogram with the q-digest subtree idiom: one
    map-side-combining histogram (checkpointed), a per-(group,
    coarse-bucket) totals pass that yields n per group (no separate
    count job) and locates all 18 lo/hi boundary ranks driver-side,
    then ONE windowed aggregate over the target buckets' slices
    selects every rank value.  The interpolation doubles — frac =
    p·(n−1) − floor(p·(n−1)) and floor((lov + (hiv−lov)·frac)·10⁴) —
    are evaluated driver-side in the identical association order; all
    three engines' (DuckDB, Spark, CPython) doubles are IEEE 754 with
    correctly-rounded ·/+, so the bits match the shared SQL formula.

    Scale shape: one corpus-scale shuffle (the histogram groupBy);
    the per-group sort is gone — rank probes touch only the target
    coarse buckets' histogram slices."""
    import math  # noqa: PLC0415

    li = load(spark, sf_dir, "lineitem")
    h = (
        li.select(
            F.col("l_returnflag").alias("g"),
            F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)").alias("c"),
        )
        .groupBy("g", "c")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        # lazy (r14): the subtree-totals job materializes the histogram
        .localCheckpoint(eager=False)
    )
    shift = 14
    per_g: dict[str, list[tuple[int, int]]] = {}
    for r in (
        h.groupBy("g", F.expr(f"CAST(c DIV {1 << shift} AS LONG)").alias("sid"))
        .agg(F.sum("cnt").cast("long").alias("t"))
        .collect()
    ):
        per_g.setdefault(r["g"], []).append((int(r["sid"]), int(r["t"])))
    ps = (0.5, 0.9, 0.99)
    targets = []  # (idx, group, coarse bucket, rank local to the bucket)
    meta = []  # (group, p, frac, lo idx, hi idx)
    idx = 0
    for g in sorted(per_g):
        tl = sorted(per_g[g])
        n = sum(t for _, t in tl)
        for p in ps:
            x = p * (n - 1)
            ids = []
            for rk in (int(math.floor(x)) + 1, int(math.ceil(x)) + 1):
                acc = 0
                for sid, t in tl:
                    if acc + t >= rk:
                        targets.append((idx, g, sid, rk - acc))
                        ids.append(idx)
                        idx += 1
                        break
                    acc += t
            meta.append((g, p, x - math.floor(x), ids[0], ids[1]))
    w = (
        Window.partitionBy("g", "sid")
        .orderBy("c")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    sl = (
        h.withColumn("sid", F.expr(f"CAST(c DIV {1 << shift} AS LONG)"))
        .filter(F.col("sid").isin(sorted({sid for _, _, sid, _ in targets})))
        .withColumn("hc", F.sum("cnt").over(w))
    )
    row = sl.agg(
        *[
            F.min(
                F.when(
                    (F.col("g") == g)
                    & (F.col("sid") == sid)
                    & (F.col("hc") >= rloc),
                    F.col("c"),
                )
            ).alias(f"v{i}")
            for i, g, sid, rloc in targets
        ]
    ).collect()[0]
    rows = []
    for g, p, frac, lo_i, hi_i in meta:
        lov, hiv = int(row[f"v{lo_i}"]), int(row[f"v{hi_i}"])
        val = int(math.floor((float(lov) + (hiv - lov) * frac) * 10000))
        rows.append((g, p, val))
    return spark.createDataFrame(
        rows, "l_returnflag string, pctl double, price_microdollar bigint"
    ).orderBy("l_returnflag", "pctl")


@register(
    "agg_approx_percentiles",
    # Self-checking twin pattern (VERDICT r8 #2): the GK-sketch values
    # can never hash-match DuckDB's approx_quantile, so the query joins
    # the live sketch against the shared-formula EXACT percentiles and
    # emits (exact value, bound-verdict flag); the oracle restates the
    # exact side with literal flag 1.  A sketch value drifting past 1%
    # of exact (pytest pins the same bound) flips the flag and fails
    # the driver's hash compare — a full value-level check.
    oracle=f"""
    SELECT l_returnflag, pctl, price_microdollar,
           CAST(1 AS BIGINT) AS approx_within_1pct
    FROM ({_ANSI_EXACT_PCTL_SQL}) x
    ORDER BY l_returnflag, pctl
    """,
)
def agg_approx_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 sketch family, quantile edition: `approx_percentile`
    (Greenwald-Khanna on the JVM, accuracy 10000) for p50/p90/p99 of
    extended price per return flag, validated in-query against the
    exact shared-formula percentiles.  At 100 TB the sketch is the only
    viable shape — exact percentiles need a per-group sort, the sketch
    is one map-side pass + merge of bounded summaries; here both run so
    the driver can verify the ≤1% bound on real data.

    Output shape: scalar columns only — the driver's pandas
    canonicalizer cannot sort array cells (r1 HLL and r3 taught this
    twice; tools/check_oracle.py rejects nested output types)."""
    from specialsid_spark.catalog import register_all  # noqa: PLC0415

    register_all(spark, sf_dir)
    exact = spark.sql(_ANSI_EXACT_PCTL_SQL)
    li = load(spark, sf_dir, "lineitem")
    pcts = F.expr("percentile_approx(l_extendedprice, array(0.5, 0.9, 0.99), 10000)")
    probs = F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99))
    approx = (
        li.groupBy("l_returnflag")
        .agg(pcts.alias("_p"))
        .select("l_returnflag", F.posexplode("_p").alias("_i", "_approx"))
        .select(
            F.col("l_returnflag").alias("_rf"),
            F.element_at(probs, F.col("_i") + 1).alias("_pctl"),
            (F.col("_approx") * 1_000_000).alias("_approx_micro"),
        )
    )
    return (
        exact.join(
            F.broadcast(approx),
            (exact.l_returnflag == approx._rf) & (exact.pctl == approx._pctl),
        )
        .select(
            "l_returnflag",
            "pctl",
            "price_microdollar",
            (
                F.abs(F.col("_approx_micro") - F.col("price_microdollar"))
                <= 0.01 * F.col("price_microdollar")
            )
            .cast("bigint")
            .alias("approx_within_1pct"),
        )
        .orderBy("l_returnflag", "pctl")
    )


# One ANSI string both engines run verbatim: equi-DEPTH histogram with
# integer-only boundary selection — b2_k = c[lo_k] + c[hi_k] is TWICE
# the k/8 percentile in cents (rank selection, no interpolation
# floats); a value lands in bucket = number of interior boundaries at
# or below it (2*c >= b2_k), giving 8 population-balanced buckets.
_ANSI_EQUIDEPTH_SQL = """
    WITH v AS (
      SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS c FROM orders
    ),
    r AS (
      SELECT c, row_number() OVER (ORDER BY c) AS rn,
             COUNT(*) OVER () AS n
      FROM v
    ),
    b AS (
      SELECT k.k AS k,
             SUM(CASE WHEN rn = CAST(floor(k.k * (n - 1) / 8.0) AS BIGINT) + 1
                      THEN c ELSE 0 END)
           + SUM(CASE WHEN rn = CAST(ceil(k.k * (n - 1) / 8.0) AS BIGINT) + 1
                      THEN c ELSE 0 END) AS b2
      FROM r, (SELECT 1 AS k UNION ALL SELECT 2 UNION ALL SELECT 3
               UNION ALL SELECT 4 UNION ALL SELECT 5 UNION ALL SELECT 6
               UNION ALL SELECT 7) k
      GROUP BY k.k
    ),
    bucketed AS (
      SELECT v.c,
             (SELECT COUNT(*) FROM b WHERE 2 * v.c >= b.b2) AS bucket
      FROM v
    )
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(MIN(c) AS BIGINT) AS min_cents,
           CAST(MAX(c) AS BIGINT) AS max_cents
    FROM bucketed
    GROUP BY bucket
    ORDER BY bucket
"""


@register("agg_equidepth_histogram", oracle=_ANSI_EQUIDEPTH_SQL)
def agg_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-family extension (r9) — equi-DEPTH histogram: 8 buckets each
    holding ~1/8 of the orders (the histogram query optimizers and
    data-profiling jobs actually want; the fixed-WIDTH variant is
    agg_histogram_value_buckets).  Boundaries are exact k/8 percentiles
    by rank selection with integer doubling — not one float in the
    query, the same exactness discipline as ev_mad_anomaly.

    Spark side restructured r13 (the oracle string is unchanged):
    the ANSI plan's `row_number() OVER (ORDER BY c)` put all 150k
    orders through a SinglePartition sort (WindowExec warns), and CTE
    inlining scanned orders twice.  The rewrite is the q-digest
    subtree-rank idiom: one map-side-combining (cents → count)
    histogram (checkpointed), a 2^10-ish coarse-bucket totals pass
    that locates the 14 boundary ranks driver-side (n = Σ totals, so
    no separate count job), a windowed cumsum over ONLY the target
    buckets' histogram slices selecting all 14 rank values in one
    aggregate, and a final bucket rollup where each row's bucket is 7
    inline integer comparisons against the b2 literals — no join, no
    global sort, full parallelism everywhere.  k·(n−1)/8.0 is division
    by a power of two — exact in binary — so the driver-side doubles
    reproduce the SQL boundary arithmetic bit-for-bit.

    Scale shape: one corpus-scale shuffle (the histogram groupBy);
    everything after is histogram- or bucket-sized.  At 100 TB the GK
    sketch replaces exact boundaries and this query referees it."""
    import math  # noqa: PLC0415

    o = load(spark, sf_dir, "orders")
    h = (
        o.select(F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("c"))
        .groupBy("c")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        # lazy (r14): the subtree-totals job materializes the histogram
        .localCheckpoint(eager=False)
    )
    shift = 16
    totals = sorted(
        (int(r["sid"]), int(r["t"]))
        for r in h.groupBy(
            F.expr(f"CAST(c DIV {1 << shift} AS LONG)").alias("sid")
        )
        .agg(F.sum("cnt").cast("long").alias("t"))
        .collect()
    )
    n = sum(t for _, t in totals)
    ranks = []
    for k in range(1, 8):
        x = k * (n - 1) / 8.0
        ranks.append(int(math.floor(x)) + 1)
        ranks.append(int(math.ceil(x)) + 1)
    targets = []  # (rank idx, coarse bucket, rank local to the bucket)
    for i, r in enumerate(ranks):
        acc = 0
        for sid, t in totals:
            if acc + t >= r:
                targets.append((i, sid, r - acc))
                break
            acc += t
    w = (
        Window.partitionBy("sid")
        .orderBy("c")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    sl = (
        h.withColumn("sid", F.expr(f"CAST(c DIV {1 << shift} AS LONG)"))
        .filter(F.col("sid").isin(sorted({sid for _, sid, _ in targets})))
        .withColumn("hc", F.sum("cnt").over(w))
    )
    row = sl.agg(
        *[
            F.min(
                F.when(
                    (F.col("sid") == sid) & (F.col("hc") >= rloc), F.col("c")
                )
            ).alias(f"v{i}")
            for i, sid, rloc in targets
        ]
    ).collect()[0]
    b2 = [int(row[f"v{2 * j}"]) + int(row[f"v{2 * j + 1}"]) for j in range(7)]
    bucket = sum(
        (F.when(2 * F.col("c") >= F.lit(bk), 1).otherwise(0) for bk in b2),
        start=F.lit(0),
    )
    return (
        h.select("c", "cnt", bucket.cast("long").alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.sum("cnt").cast("long").alias("n_orders"),
            F.min("c").cast("long").alias("min_cents"),
            F.max("c").cast("long").alias("max_cents"),
        )
        .orderBy("bucket")
    )


# Q-digest (operators/qdigest.py): the order-independent deterministic
# quantile sketch — unlike the engine GK sketch its construction is a
# pure function of the VALUE HISTOGRAM, so the oracle re-derives the
# EXACT digest (26 unrolled compression levels, the BPE-chain
# discipline) and every estimate hash-matches.  Self-check columns pin
# the published rank-error bound L*thr against exact ranks.
_QD_L = 26          # domain [0, 2^26) covers o_totalprice cents (< 5e7)
_QD_K = 64          # compression factor: thr = max(1, n // 64)


def _qdigest_ctes() -> str:
    top = 1 << _QD_L
    parts = [
        f"""hist AS MATERIALIZED (
      SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM orders GROUP BY 1
    ),
    nk AS MATERIALIZED (
      SELECT CAST(SUM(cnt) AS BIGINT) AS n,
             GREATEST(1, CAST(floor(SUM(cnt) / {_QD_K}.0) AS BIGINT)) AS thr
      FROM hist
    ),
    t{_QD_L} AS MATERIALIZED (
      SELECT {top} + v AS node, cnt FROM hist
    )"""
    ]
    for lvl in range(_QD_L, 0, -1):
        lo, hi = 1 << lvl, 1 << (lvl + 1)
        parts.append(
            f"""p{lvl} AS MATERIALIZED (
      SELECT CAST(floor(node / 2.0) AS BIGINT) AS par,
             CAST(SUM(cnt) AS BIGINT) AS sc
      FROM t{lvl} WHERE node >= {lo} AND node < {hi}
      GROUP BY 1
    ),
    d{lvl} AS MATERIALIZED (
      SELECT p.par, p.sc, COALESCE(tp.cnt, 0) AS cp,
             CASE WHEN p.sc + COALESCE(tp.cnt, 0) <= nk.thr
                  THEN 1 ELSE 0 END AS merged
      FROM p{lvl} p
      LEFT JOIN t{lvl} tp ON tp.node = p.par
      CROSS JOIN nk
    ),
    t{lvl - 1} AS MATERIALIZED (
      -- two equi-correlated anti-join predicates (an OR inside one
      -- NOT EXISTS degrades to a nested loop): drop replaced parents,
      -- drop merged children
      SELECT t.node, t.cnt FROM t{lvl} t
      WHERE NOT EXISTS (
              SELECT 1 FROM d{lvl} d WHERE d.merged = 1 AND d.par = t.node)
        AND NOT (t.node >= {lo} AND t.node < {hi} AND EXISTS (
              SELECT 1 FROM d{lvl} d2 WHERE d2.merged = 1
                AND d2.par = CAST(floor(t.node / 2.0) AS BIGINT)))
      UNION ALL
      SELECT par AS node, sc + cp AS cnt FROM d{lvl} WHERE merged = 1
    )"""
        )
    lvl_case = "CASE " + " ".join(
        f"WHEN node >= {1 << lv} THEN {lv}" for lv in range(_QD_L, -1, -1)
    ) + " END"
    parts.append(
        f"""lab AS MATERIALIZED (
      SELECT node, cnt, {lvl_case} AS lvl FROM t0
    ),
    walk AS MATERIALIZED (
      SELECT node, cnt, lvl,
             (node - CAST(pow(2, lvl) AS BIGINT) + 1)
               * CAST(pow(2, {_QD_L} - lvl) AS BIGINT) - 1 AS rend,
             SUM(cnt) OVER (ORDER BY
               (node - CAST(pow(2, lvl) AS BIGINT) + 1)
                 * CAST(pow(2, {_QD_L} - lvl) AS BIGINT) - 1 ASC,
               lvl DESC) AS cum
      FROM lab
    ),
    probs AS (SELECT CAST(0.5 AS DOUBLE) AS p
              UNION ALL SELECT CAST(0.9 AS DOUBLE)
              UNION ALL SELECT CAST(0.99 AS DOUBLE)),
    targets AS MATERIALIZED (
      SELECT probs.p, nk.n, nk.thr,
             CAST(floor(probs.p * (nk.n - 1)) AS BIGINT) + 1 AS r
      FROM probs CROSS JOIN nk
    ),
    hcum AS MATERIALIZED (
      SELECT v, SUM(cnt) OVER (ORDER BY v) AS hc FROM hist
    ),
    est AS MATERIALIZED (
      SELECT tg.p, tg.n, tg.thr, tg.r,
             (SELECT MIN(w.rend) FROM walk w WHERE w.cum >= tg.r) AS est_cents,
             (SELECT MIN(h.v) FROM hcum h WHERE h.hc >= tg.r) AS exact_cents
      FROM targets tg
    )"""
    )
    return ",\n    ".join(parts)


_QDIGEST_ORACLE = (
    "WITH " + _qdigest_ctes() + f"""
    SELECT e.p, e.n, e.thr,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM t0) AS digest_nodes,
           CAST(e.est_cents AS BIGINT) AS est_cents,
           CAST(e.exact_cents AS BIGINT) AS exact_cents,
           CAST(COALESCE((SELECT SUM(h.cnt) FROM hist h
                          WHERE h.v <= e.est_cents), 0) AS BIGINT) AS rank_le_est,
           CAST(CASE WHEN abs(COALESCE((SELECT SUM(h.cnt) FROM hist h
                                        WHERE h.v <= e.est_cents), 0) - e.r)
                          <= {_QD_L} * e.thr
                     THEN 1 ELSE 0 END AS BIGINT) AS within_bound
    FROM est e
    ORDER BY e.p"""
)


def _qd_chain_ctes(prefix: str) -> str:
    """Prefixed compression chain: expects ``{prefix}t{L}`` (node, cnt)
    as the initial node set — ANY levels, not just leaves — and ``nk``
    (n, thr); emits ``{prefix}t0`` = the compressed digest.  Same
    unrolled sibling-merge step as the single-digest oracle above."""
    parts = []
    for lvl in range(_QD_L, 0, -1):
        lo, hi = 1 << lvl, 1 << (lvl + 1)
        parts.append(
            f"""{prefix}p{lvl} AS MATERIALIZED (
      SELECT CAST(floor(node / 2.0) AS BIGINT) AS par,
             CAST(SUM(cnt) AS BIGINT) AS sc
      FROM {prefix}t{lvl} WHERE node >= {lo} AND node < {hi}
      GROUP BY 1
    ),
    {prefix}d{lvl} AS MATERIALIZED (
      SELECT p.par, p.sc, COALESCE(tp.cnt, 0) AS cp,
             CASE WHEN p.sc + COALESCE(tp.cnt, 0) <= nk.thr
                  THEN 1 ELSE 0 END AS merged
      FROM {prefix}p{lvl} p
      LEFT JOIN {prefix}t{lvl} tp ON tp.node = p.par
      CROSS JOIN nk
    ),
    {prefix}t{lvl - 1} AS MATERIALIZED (
      SELECT t.node, t.cnt FROM {prefix}t{lvl} t
      WHERE NOT EXISTS (
              SELECT 1 FROM {prefix}d{lvl} d
              WHERE d.merged = 1 AND d.par = t.node)
        AND NOT (t.node >= {lo} AND t.node < {hi} AND EXISTS (
              SELECT 1 FROM {prefix}d{lvl} d2 WHERE d2.merged = 1
                AND d2.par = CAST(floor(t.node / 2.0) AS BIGINT)))
      UNION ALL
      SELECT par AS node, sc + cp AS cnt FROM {prefix}d{lvl} WHERE merged = 1
    )"""
        )
    return ",\n    ".join(parts)


def _qd_walk_ctes(prefix: str) -> str:
    lvl_case = "CASE " + " ".join(
        f"WHEN node >= {1 << lv} THEN {lv}" for lv in range(_QD_L, -1, -1)
    ) + " END"
    return f"""{prefix}lab AS MATERIALIZED (
      SELECT node, cnt, {lvl_case} AS lvl FROM {prefix}t0
    ),
    {prefix}walk AS MATERIALIZED (
      SELECT node, cnt, lvl,
             (node - CAST(pow(2, lvl) AS BIGINT) + 1)
               * CAST(pow(2, {_QD_L} - lvl) AS BIGINT) - 1 AS rend,
             SUM(cnt) OVER (ORDER BY
               (node - CAST(pow(2, lvl) AS BIGINT) + 1)
                 * CAST(pow(2, {_QD_L} - lvl) AS BIGINT) - 1 ASC,
               lvl DESC) AS cum
      FROM {prefix}lab
    )"""


_QD_TOP = 1 << _QD_L

# Shard → ADD-merge → recompress parity: the distributed-construction
# algebra the HLL merge-parity query proves for MAX-mergeable sketches,
# restated for the count-additive q-digest.  Both engines re-derive
# shard digests (GLOBAL threshold — the two-pass contract), the merged
# digest, and the direct one-pass digest, then pin every node count,
# estimate, and rank verdict.  Bound discipline: direct digest internal
# nodes hold <= thr so its rank error is <= L*thr; the S=2 ADD-merge
# can leave internal nodes at <= 2*thr, so the merged bound is
# 2*L*thr (operators/qdigest.py merge_qdigests).
_QD_MERGE_ORACLE = (
    f"""
    WITH hist AS MATERIALIZED (
      SELECT o_orderkey % 2 AS shard,
             CAST(round(o_totalprice * 100) AS BIGINT) AS v,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM orders GROUP BY 1, 2
    ),
    nk AS MATERIALIZED (
      SELECT CAST(SUM(cnt) AS BIGINT) AS n,
             GREATEST(1, CAST(floor(SUM(cnt) / {_QD_K}.0) AS BIGINT)) AS thr
      FROM hist
    ),
    at{_QD_L} AS MATERIALIZED (
      SELECT {_QD_TOP} + v AS node, CAST(SUM(cnt) AS BIGINT) AS cnt
      FROM hist WHERE shard = 0 GROUP BY 1
    ),
    bt{_QD_L} AS MATERIALIZED (
      SELECT {_QD_TOP} + v AS node, CAST(SUM(cnt) AS BIGINT) AS cnt
      FROM hist WHERE shard = 1 GROUP BY 1
    ),
    """
    + _qd_chain_ctes("a")
    + ",\n    "
    + _qd_chain_ctes("b")
    + f""",
    mt{_QD_L} AS MATERIALIZED (
      SELECT node, CAST(SUM(cnt) AS BIGINT) AS cnt
      FROM (SELECT * FROM at0 UNION ALL SELECT * FROM bt0)
      GROUP BY 1
    ),
    dt{_QD_L} AS MATERIALIZED (
      SELECT {_QD_TOP} + v AS node, CAST(SUM(cnt) AS BIGINT) AS cnt
      FROM hist GROUP BY 1
    ),
    """
    + _qd_chain_ctes("m")
    + ",\n    "
    + _qd_chain_ctes("d")
    + ",\n    "
    + _qd_walk_ctes("m")
    + ",\n    "
    + _qd_walk_ctes("d")
    + f""",
    ghist AS MATERIALIZED (
      SELECT v, CAST(SUM(cnt) AS BIGINT) AS cnt FROM hist GROUP BY 1
    ),
    probs AS (SELECT CAST(0.5 AS DOUBLE) AS p
              UNION ALL SELECT CAST(0.9 AS DOUBLE)
              UNION ALL SELECT CAST(0.99 AS DOUBLE)),
    targets AS MATERIALIZED (
      SELECT probs.p, nk.n, nk.thr,
             CAST(floor(probs.p * (nk.n - 1)) AS BIGINT) + 1 AS r
      FROM probs CROSS JOIN nk
    ),
    est AS MATERIALIZED (
      SELECT tg.p, tg.n, tg.thr, tg.r,
             (SELECT MIN(w.rend) FROM mwalk w WHERE w.cum >= tg.r)
               AS est_merged,
             (SELECT MIN(w.rend) FROM dwalk w WHERE w.cum >= tg.r)
               AS est_direct
      FROM targets tg
    )
    SELECT e.p, e.n, e.thr,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM at0) AS nodes_shard0,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM bt0) AS nodes_shard1,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM mt0) AS nodes_merged,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM dt0) AS nodes_direct,
           CAST(e.est_merged AS BIGINT) AS est_merged_cents,
           CAST(e.est_direct AS BIGINT) AS est_direct_cents,
           CAST(COALESCE((SELECT SUM(h.cnt) FROM ghist h
                          WHERE h.v <= e.est_merged), 0) AS BIGINT)
             AS rank_le_merged,
           CAST(COALESCE((SELECT SUM(h.cnt) FROM ghist h
                          WHERE h.v <= e.est_direct), 0) AS BIGINT)
             AS rank_le_direct,
           CAST(CASE WHEN abs(COALESCE((SELECT SUM(h.cnt) FROM ghist h
                                        WHERE h.v <= e.est_merged), 0) - e.r)
                          <= 2 * {_QD_L} * e.thr
                     THEN 1 ELSE 0 END AS BIGINT) AS merged_within_2x_bound,
           CAST(CASE WHEN abs(COALESCE((SELECT SUM(h.cnt) FROM ghist h
                                        WHERE h.v <= e.est_direct), 0) - e.r)
                          <= {_QD_L} * e.thr
                     THEN 1 ELSE 0 END AS BIGINT) AS direct_within_bound
    FROM est e
    ORDER BY e.p"""
)


_QD_SUBTREE_BITS = 6  # 64 subtrees: the distributed-compression cut level


def _qdigest_build_spark(
    hist_df: DataFrame, level_bits: int, k: int,
    subtree_bits: int = _QD_SUBTREE_BITS,
    thr_override: int | None = None,
) -> tuple[dict[int, int], int, int]:
    """Distributed one-pass q-digest over a (v, cnt) histogram frame.

    Levels L..s+1 compress per level-s subtree inside applyInPandas
    (the pass is subtree-local above the cut — see
    operators/qdigest.py compress_levels); the driver receives only
    partial DIGESTS (each <= ~3k nodes by the compression guarantee)
    and finishes levels s..1.  Result is bit-identical to the global
    single-pass build, so the existing SQL oracle re-derives it."""
    import numpy as np  # noqa: PLC0415

    import pandas as pd  # noqa: PLC0415

    from specialsid_spark.operators.qdigest import (  # noqa: PLC0415
        _compress_levels_arrays,
        compress_levels,
    )

    if thr_override is not None:
        # caller supplied the global threshold (and already holds n) —
        # skip the per-build histogram count job (r13 opt: three such
        # jobs per merge-parity run, all redundant)
        n, thr = -1, thr_override
    else:
        n = int(
            hist_df.agg(F.sum("cnt").cast("long").alias("n")).collect()[0]["n"]
        )
        thr = max(1, n // k)
    shift = level_bits - subtree_bits

    def compress_subtree(pdf: pd.DataFrame) -> pd.DataFrame:
        # array-native leaf lift + vectorized level pass (r14 opt,
        # guide §4.2): the dict round-trip plus the pure-Python merge
        # loop dominated the build job.  v is unique per subtree group
        # (histogram keys), the _compress_levels_arrays precondition.
        v = pdf["v"].to_numpy(np.int64)
        if v.size and (v.min() < 0 or v.max() >= (1 << level_bits)):
            raise ValueError(f"qdigest: value outside [0, 2^{level_bits})")
        nodes, cnts = _compress_levels_arrays(
            (1 << level_bits) + v,
            pdf["cnt"].to_numpy(np.int64),
            thr,
            level_bits,
            subtree_bits,
        )
        return pd.DataFrame({"node": nodes, "cnt": cnts})

    partial = (
        hist_df.withColumn("subtree", F.expr(f"CAST(v DIV {1 << shift} AS LONG)"))
        .groupBy("subtree")
        .applyInPandas(compress_subtree, "node long, cnt long")
    )
    cnt: dict[int, int] = {}
    for r in partial.collect():  # digest-bounded, never domain-sized
        cnt[int(r["node"])] = cnt.get(int(r["node"]), 0) + int(r["cnt"])
    return compress_levels(cnt, thr, subtree_bits), n, thr


def _qdigest_build_spark_multi(
    tagged_hist: DataFrame, tags: list[int], level_bits: int, thr: int,
    subtree_bits: int = _QD_SUBTREE_BITS,
) -> dict[int, dict[int, int]]:
    """Build one digest per ``tag`` in ONE applyInPandas job (r13 opt —
    the merge-parity run built its two shard digests and the direct
    digest as three sequential jobs over the same checkpointed
    histogram).  Grouping on (tag, subtree) hands each compressor the
    identical per-subtree slice _qdigest_build_spark would, and the
    driver finishes levels s..1 per tag — bit-identical digests.

    ``tagged_hist``: (tag long, v long, cnt long); caller supplies the
    global threshold (the two-pass contract)."""
    import numpy as np  # noqa: PLC0415

    import pandas as pd  # noqa: PLC0415

    from specialsid_spark.operators.qdigest import (  # noqa: PLC0415
        _compress_levels_arrays,
        compress_levels,
    )

    shift = level_bits - subtree_bits

    def compress_subtree(pdf: pd.DataFrame) -> pd.DataFrame:
        # array-native twin of _qdigest_build_spark's compressor (r14
        # opt, guide §4.2) — see the note there
        tag = int(pdf["tag"].iloc[0])
        v = pdf["v"].to_numpy(np.int64)
        if v.size and (v.min() < 0 or v.max() >= (1 << level_bits)):
            raise ValueError(f"qdigest: value outside [0, 2^{level_bits})")
        nodes, cnts = _compress_levels_arrays(
            (1 << level_bits) + v,
            pdf["cnt"].to_numpy(np.int64),
            thr,
            level_bits,
            subtree_bits,
        )
        return pd.DataFrame({"tag": tag, "node": nodes, "cnt": cnts})

    partial = (
        tagged_hist.withColumn(
            "subtree", F.expr(f"CAST(v DIV {1 << shift} AS LONG)")
        )
        .groupBy("tag", "subtree")
        .applyInPandas(compress_subtree, "tag long, node long, cnt long")
    )
    acc: dict[int, dict[int, int]] = {t: {} for t in tags}
    for r in partial.collect():  # digest-bounded per tag, never domain-sized
        c = acc[int(r["tag"])]
        c[int(r["node"])] = c.get(int(r["node"]), 0) + int(r["cnt"])
    return {t: compress_levels(acc[t], thr, subtree_bits) for t in tags}


def _qd_subtree_totals(hist_df: DataFrame, shift: int) -> list[tuple[int, int]]:
    return sorted(
        (int(r["subtree"]), int(r["t"]))
        for r in hist_df.groupBy(
            F.expr(f"CAST(v DIV {1 << shift} AS LONG)").alias("subtree")
        )
        .agg(F.sum("cnt").cast("long").alias("t"))
        .collect()
    )


def _qd_exact_rank_select(
    hist_df: DataFrame, r: int, subtree_bits: int = _QD_SUBTREE_BITS
) -> int:
    """Exact order statistic without a domain-wide sort: 2^s subtree
    totals locate the target subtree, then a cumsum window runs over
    that ONE subtree's histogram slice."""
    shift = _QD_L - subtree_bits
    acc = 0
    t_id = None
    for sid, t_cnt in _qd_subtree_totals(hist_df, shift):
        if acc + t_cnt >= r:
            t_id = sid
            break
        acc += t_cnt
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    row = (
        hist_df.filter(F.expr(f"CAST(v DIV {1 << shift} AS LONG) = {t_id}"))
        .withColumn("hc", F.sum("cnt").over(w))
        .filter(F.col("hc") >= r - acc)
        .agg(F.min("v").alias("v"))
        .collect()[0]["v"]
    )
    return int(row)


def _qd_rank_le_multi(hist_df: DataFrame, xs: list[int]) -> list[int]:
    """rank_le for several cut points in ONE aggregate job (r13 opt —
    each cut was a separate filter-sum pass over the histogram)."""
    row = hist_df.agg(
        *[
            F.coalesce(
                F.sum(F.when(F.col("v") <= x, F.col("cnt"))), F.lit(0)
            )
            .cast("long")
            .alias(f"s{i}")
            for i, x in enumerate(xs)
        ]
    ).collect()[0]
    return [int(row[f"s{i}"]) for i in range(len(xs))]


def _qd_exact_rank_select_multi(
    hist_df: DataFrame, rs: list[int], subtree_bits: int = _QD_SUBTREE_BITS,
    totals: list[tuple[int, int]] | None = None,
) -> list[int]:
    """Exact order statistics for several ranks in TWO jobs total (r13
    opt): one subtree-totals pass locates every rank's target subtree,
    then one windowed aggregate over the UNION of target subtrees
    rank-selects all of them — same per-rank arithmetic as
    _qd_exact_rank_select, which did both jobs per rank.  A caller that
    already holds the subtree totals passes them in (ONE job then)."""
    shift = _QD_L - subtree_bits
    if totals is None:
        totals = _qd_subtree_totals(hist_df, shift)
    targets: list[tuple[int, int, int]] = []  # (rank idx, subtree, local rank)
    for i, r in enumerate(rs):
        acc = 0
        for sid, t_cnt in totals:
            if acc + t_cnt >= r:
                targets.append((i, sid, r - acc))
                break
            acc += t_cnt
    w = (
        Window.partitionBy("subtree")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    sl = (
        hist_df.withColumn(
            "subtree", F.expr(f"CAST(v DIV {1 << shift} AS LONG)")
        )
        .filter(F.col("subtree").isin([sid for _, sid, _ in targets]))
        .withColumn("hc", F.sum("cnt").over(w))
    )
    row = sl.agg(
        *[
            F.min(
                F.when(
                    (F.col("subtree") == sid) & (F.col("hc") >= rloc),
                    F.col("v"),
                )
            ).alias(f"v{i}")
            for i, sid, rloc in targets
        ]
    ).collect()[0]
    return [int(row[f"v{i}"]) for i in range(len(rs))]


@register("agg_qdigest_quantiles", oracle=_QDIGEST_ORACLE)
def agg_qdigest_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 sketch family, deterministic quantile edition: build the
    q-digest over order prices and estimate p50/p90/p99, emitting the
    digest size, each estimate, the exact rank-selected value, the
    estimate's true rank, and the L*thr bound verdict.

    DISTRIBUTED build (r10, VERDICT r9 #3 — no corpus- or domain-sized
    driver collect left): one map-side-combining groupBy(cents) makes
    the value histogram, then applyInPandas compresses levels L..s+1
    independently per level-s SUBTREE (compression above the cut never
    crosses subtree boundaries — operators/qdigest.py compress_levels),
    and only the already-compressed partial digests (<= ~3k nodes
    each) reach the driver for the final s..1 levels.  Bit-identical
    to the one-pass digest the oracle re-derives.  Exact-rank referee
    columns use the same subtree decomposition: 2^s subtree totals
    locate the target subtree, and the rank-select window sorts ONE
    subtree's histogram slice, never the domain."""
    import math

    from specialsid_spark.operators.qdigest import (
        qdigest_quantile,
        qdigest_size,
    )

    o = load(spark, sf_dir, "orders")
    hist_df = (
        o.groupBy(cents("o_totalprice").alias("v"))
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .localCheckpoint(eager=False)
    )
    # r13 opt, wave 2: the subtree totals run FIRST — their sum IS n,
    # so the build's separate histogram-count job disappears and the
    # exact-rank pass reuses the totals (4 jobs total: totals, build,
    # rank-select window, multi-cut rank_le; was 6 before the r13
    # passes and 5 after wave 1)
    totals = _qd_subtree_totals(hist_df, _QD_L - _QD_SUBTREE_BITS)
    n = sum(t for _, t in totals)
    thr = max(1, n // _QD_K)
    digest, _, _ = _qdigest_build_spark(hist_df, _QD_L, _QD_K, thr_override=thr)

    # batch the referee scans (r13 opt): all three ranks' cut points
    # are known once the digest is on the driver, so one multi-rank
    # select + one multi-cut rank_le replace six per-p histogram jobs
    ps = (0.5, 0.9, 0.99)
    rs = [int(math.floor(p * (n - 1))) + 1 for p in ps]
    ests = [qdigest_quantile(digest, _QD_L, r) for r in rs]
    exacts = _qd_exact_rank_select_multi(hist_df, rs, totals=totals)
    rls = _qd_rank_le_multi(hist_df, ests)
    rows = []
    for p, r, est, exact, rl in zip(ps, rs, ests, exacts, rls):
        rows.append(
            (
                p, n, thr, qdigest_size(digest), est,
                exact, rl,
                int(abs(rl - r) <= _QD_L * thr),
            )
        )
    return spark.createDataFrame(
        rows,
        "p double, n bigint, thr bigint, digest_nodes bigint,"
        " est_cents bigint, exact_cents bigint, rank_le_est bigint,"
        " within_bound bigint",
    ).orderBy("p")


@register("agg_qdigest_merge_parity", oracle=_QD_MERGE_ORACLE)
def agg_qdigest_merge_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 sketch family (r10, VERDICT r9 #3): shard → ADD-merge →
    recompress parity for the q-digest — the count-additive analogue
    of agg_hll_merge_parity's MAX-merge proof, completing the algebra
    that lets the digest build bottom-up across 1000 executors.  Two
    orderkey-parity shards each build a digest under the GLOBAL
    threshold (the two-pass contract: n is one cheap count), the shard
    digests ADD-merge and recompress (operators/qdigest.py
    merge_qdigests), and a direct one-pass digest is built alongside.
    Emits, per p in {{0.5, 0.9, 0.99}}: every digest's node count, both
    estimates, both exact ranks, the direct L*thr verdict and the
    merged 2*L*thr verdict (S=2 shards double the per-node slack) —
    all integer, all restated by the oracle's re-derivation.

    Scale shape: shard builds reuse the subtree-cut applyInPandas path
    (only digest-sized data reaches the driver); the referee ranks are
    distributed filter-sums over the histogram frame."""
    import math

    from specialsid_spark.operators.qdigest import (
        merge_qdigests,
        qdigest_quantile,
        qdigest_size,
    )

    o = load(spark, sf_dir, "orders")
    shard_hist = (
        o.groupBy(
            (F.col("o_orderkey") % 2).cast("long").alias("shard"),
            cents("o_totalprice").alias("v"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .localCheckpoint(eager=False)
    )
    ghist = (
        shard_hist.groupBy("v")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
        .localCheckpoint(eager=False)
    )
    n = int(ghist.agg(F.sum("cnt").cast("long").alias("n")).collect()[0]["n"])
    thr = max(1, n // _QD_K)

    # r13 opt, wave 2: ONE tagged applyInPandas job builds all three
    # digests (tag 0/1 = orderkey-parity shards, tag 2 = direct over
    # the merged histogram) — was three sequential build jobs over the
    # same checkpointed frames.  Grouping on (tag, subtree) keeps every
    # per-subtree compression identical, so each digest is bit-equal to
    # its sequential-build counterpart.
    tagged = shard_hist.select(
        F.col("shard").alias("tag"), "v", "cnt"
    ).unionAll(ghist.select(F.lit(2).cast("long").alias("tag"), "v", "cnt"))
    built = _qdigest_build_spark_multi(tagged, [0, 1, 2], _QD_L, thr)
    shards = [built[0], built[1]]
    merged = merge_qdigests(shards, _QD_L, thr)
    direct = built[2]

    # batch the referee rank scans: one aggregate computes rank_le for
    # all six cut points (was six filter-sum jobs — r13 opt)
    ps = (0.5, 0.9, 0.99)
    rs = [int(math.floor(p * (n - 1))) + 1 for p in ps]
    ems = [qdigest_quantile(merged, _QD_L, r) for r in rs]
    eds = [qdigest_quantile(direct, _QD_L, r) for r in rs]
    rl_all = _qd_rank_le_multi(ghist, ems + eds)
    rows = []
    for i, (p, r) in enumerate(zip(ps, rs)):
        em, ed = ems[i], eds[i]
        rlm, rld = rl_all[i], rl_all[len(rs) + i]
        rows.append(
            (
                p, n, thr,
                qdigest_size(shards[0]), qdigest_size(shards[1]),
                qdigest_size(merged), qdigest_size(direct),
                em, ed, rlm, rld,
                int(abs(rlm - r) <= 2 * _QD_L * thr),
                int(abs(rld - r) <= _QD_L * thr),
            )
        )
    return spark.createDataFrame(
        rows,
        "p double, n bigint, thr bigint, nodes_shard0 bigint,"
        " nodes_shard1 bigint, nodes_merged bigint, nodes_direct bigint,"
        " est_merged_cents bigint, est_direct_cents bigint,"
        " rank_le_merged bigint, rank_le_direct bigint,"
        " merged_within_2x_bound bigint, direct_within_bound bigint",
    ).orderBy("p")


@register(
    "agg_hll_merge_parity",
    # Mergeability is THE property that makes HLL the distributed
    # distinct-count operator: registers built per shard and merged by
    # MAX must equal the registers built over the whole corpus in one
    # pass (max over a union == max of maxes).  The query runs BOTH
    # constructions and emits their exact s33 sums plus an equality
    # verdict the oracle restates — a broken merge path flips the hash.
    oracle=f"""
    WITH h AS (
      SELECT l_returnflag, l_orderkey % 4 AS shard,
             md5(CAST(l_orderkey AS VARCHAR)) AS hh
      FROM lineitem
    ),
    br AS (
      SELECT l_returnflag, shard,
             ('0x' || substring(hh, 1, 8))::BIGINT % {_HLL_M} AS bucket,
             {_HLL_RHO.format(w2="(('0x' || substring(hh, 9, 8))::BIGINT)")} AS rho
      FROM h
    ),
    direct AS (
      SELECT l_returnflag, bucket, MAX(rho) AS mj
      FROM br GROUP BY l_returnflag, bucket
    ),
    shardr AS (
      SELECT l_returnflag, shard, bucket, MAX(rho) AS mj
      FROM br GROUP BY l_returnflag, shard, bucket
    ),
    merged AS (
      SELECT l_returnflag, bucket, MAX(mj) AS mj
      FROM shardr GROUP BY l_returnflag, bucket
    ),
    sd AS (
      SELECT l_returnflag,
             CAST(SUM(CAST(power(2, 33 - mj) AS BIGINT))
                  + ({_HLL_M} - COUNT(*)) * 8589934592 AS BIGINT) AS s33
      FROM direct GROUP BY l_returnflag
    ),
    sm AS (
      SELECT l_returnflag,
             CAST(SUM(CAST(power(2, 33 - mj) AS BIGINT))
                  + ({_HLL_M} - COUNT(*)) * 8589934592 AS BIGINT) AS s33
      FROM merged GROUP BY l_returnflag
    )
    SELECT sd.l_returnflag,
           sd.s33 AS s33_direct, sm.s33 AS s33_merged,
           CAST(CASE WHEN sd.s33 = sm.s33 THEN 1 ELSE 0 END AS BIGINT)
             AS merge_exact
    FROM sd JOIN sm ON sd.l_returnflag = sm.l_returnflag
    ORDER BY sd.l_returnflag
    """,
)
def agg_hll_merge_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 extension (r9 wave 2) — HLL MERGEABILITY, value-proven: build
    registers per shard (l_orderkey % 4, standing in for per-partition
    or per-day sketch tables), merge shards by per-register MAX, and
    require exact equality with the one-pass whole-corpus registers.
    This is the algebra that lets a 100 TB pipeline keep daily sketch
    tables and answer corpus-wide distinct counts without rescanning —
    and the regression net for the merge code path the streaming
    ingest door shares (streaming_hll_registers).

    Scale shape: both constructions are map-side-combining MAX
    aggregates; the shuffles carry register rows (groups x 1024), never
    corpus rows."""
    li = load(spark, sf_dir, "lineitem")
    h = li.select(
        "l_returnflag",
        (F.col("l_orderkey") % 4).alias("shard"),
        F.md5(F.col("l_orderkey").cast("string")).alias("hh"),
    )
    # no checkpoint (r13 opt): both constructions are map-side-combining
    # MAX aggregates straight off the scan — re-running the codegen'd
    # md5+bucket+rho projection twice measured cheaper than
    # materializing |lineitem| register rows to local storage (the
    # BPE-explode lesson), and it keeps the direct and sharded
    # constructions genuinely independent paths.
    br = h.select(
        "l_returnflag",
        "shard",
        hll_bucket(F.col("hh")).alias("bucket"),
        hll_rho("hh").alias("rho"),
    )
    direct = br.groupBy("l_returnflag", "bucket").agg(F.max("rho").alias("mj"))
    shardr = br.groupBy("l_returnflag", "shard", "bucket").agg(
        F.max("rho").alias("mj")
    )
    merged = shardr.groupBy("l_returnflag", "bucket").agg(F.max("mj").alias("mj"))

    def s33_of(regs: DataFrame, name: str) -> DataFrame:
        agg = regs.groupBy("l_returnflag").agg(
            F.count(F.lit(1)).alias("n_hit"),
            F.sum(F.pow(F.lit(2.0), 33 - F.col("mj")).cast("long")).alias("s_hit"),
        )
        return agg.select(
            "l_returnflag",
            hll_s33(F.col("s_hit"), F.col("n_hit")).cast("long").alias(name),
        )

    sd = s33_of(direct, "s33_direct")
    sm = s33_of(merged, "s33_merged")
    return (
        sd.join(sm, "l_returnflag")
        .select(
            "l_returnflag",
            "s33_direct",
            "s33_merged",
            F.when(F.col("s33_direct") == F.col("s33_merged"), 1)
            .otherwise(0)
            .cast("long")
            .alias("merge_exact"),
        )
        .orderBy("l_returnflag")
    )
