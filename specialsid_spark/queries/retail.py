"""The reference's cleaner pipeline + its operator patterns as queries
(SURVEY.md §2.2 P1–P9, §2.3 F1–F9).

`retail_clean_pipeline` runs the full data_cleaner re-expression
(operators/clean.py) on an inline dirty batch — the oracle states the
SAME transformation in ANSI SQL over the same VALUES, so the driver
verifies the normalization semantics themselves, not just row counts.
The remaining queries exercise each cleaner pattern at fixture scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from specialsid_spark.catalog import load
from specialsid_spark.operators.clean import clean_products
from specialsid_spark.queries import register

_P1 = "data/pro/json/PnP/Eastern_Cape/13_February_-_15_February_2026/page_1.json"
_P2 = "data/pro/json/PnP/Gauteng/20_February_-_22_February_2026/page_2.json"

_DIRTY_SCHEMA = T.StructType(
    [
        T.StructField("product_name", T.StringType()),
        T.StructField("brand", T.StringType()),
        T.StructField("current_price", T.DoubleType()),
        T.StructField("was_price", T.DoubleType()),
        T.StructField("weight_volume", T.StringType()),
        T.StructField("unit", T.StringType()),
        T.StructField("multi_buy_quantity", T.IntegerType()),
        T.StructField("bounding_box", T.ArrayType(T.IntegerType())),
        T.StructField("group_id", T.StringType()),
        T.StructField("source_path", T.StringType()),
    ]
)
# deal_type intentionally absent -> exercises schema alignment (P2)

_DIRTY_ROWS = [
    ("Rice 2kg", "Pick n Pay", 59.99, 79.99, "2.0", "KG", None, [10, 20, 30, 40], None, _P1),
    ("Milk", "no name™", 18.5, None, "None", "Litres", 2, None, "deal1", _P1),
    ("Beans", "KOO", 12.0, 15.0, "410", "G", 1, [0, 0, 100, 100], "deal1", _P1),
    ("Cola", " Coke ", 10.0, None, "nan", "330ml", 2, [1, 2, 3, 4], None, _P2),
    ("Eggs", "", 45.0, None, "18", "EACH", None, None, None, _P2),
    ("Water", None, 9.99, None, "5l", "5l", None, [5, 6, 7, 8], "g2", _P2),
    ("Chips", "Lays", 22.0, 25.0, "120", "pack", 3, [9, 9, 9, 9], None, _P2),
    ("Mystery", None, None, None, None, None, None, None, None, _P2),
]

_DIRTY_VALUES_SQL = """(VALUES
  ('Rice 2kg', 'Pick n Pay', 59.99, 79.99, '2.0', 'KG', NULL, [10,20,30,40], NULL,
   'data/pro/json/PnP/Eastern_Cape/13_February_-_15_February_2026/page_1.json'),
  ('Milk', 'no name™', 18.5, NULL, 'None', 'Litres', 2, NULL, 'deal1',
   'data/pro/json/PnP/Eastern_Cape/13_February_-_15_February_2026/page_1.json'),
  ('Beans', 'KOO', 12.0, 15.0, '410', 'G', 1, [0,0,100,100], 'deal1',
   'data/pro/json/PnP/Eastern_Cape/13_February_-_15_February_2026/page_1.json'),
  ('Cola', ' Coke ', 10.0, NULL, 'nan', '330ml', 2, [1,2,3,4], NULL,
   'data/pro/json/PnP/Gauteng/20_February_-_22_February_2026/page_2.json'),
  ('Eggs', '', 45.0, NULL, '18', 'EACH', NULL, NULL, NULL,
   'data/pro/json/PnP/Gauteng/20_February_-_22_February_2026/page_2.json'),
  ('Water', NULL, 9.99, NULL, '5l', '5l', NULL, [5,6,7,8], 'g2',
   'data/pro/json/PnP/Gauteng/20_February_-_22_February_2026/page_2.json'),
  ('Chips', 'Lays', 22.0, 25.0, '120', 'pack', 3, [9,9,9,9], NULL,
   'data/pro/json/PnP/Gauteng/20_February_-_22_February_2026/page_2.json'),
  ('Mystery', NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL,
   'data/pro/json/PnP/Gauteng/20_February_-_22_February_2026/page_2.json')
) raw(product_name, brand, current_price, was_price, weight_volume, unit,
      multi_buy_quantity, bounding_box, group_id, source_path)"""


@register(
    "retail_clean_pipeline",
    oracle=f"""
    SELECT
      product_name,
      CASE WHEN brand IS NULL OR trim(brand) = '' THEN NULL
           WHEN trim(brand) = 'Pick n Pay' THEN 'PnP'
           WHEN trim(brand) IN ('no name™', 'no name') THEN 'no name'
           WHEN trim(brand) = 'KOO' THEN 'Koo'
           ELSE trim(brand) END AS brand,
      CAST(current_price AS DOUBLE) AS current_price,
      CAST(was_price AS DOUBLE) AS was_price,
      CASE WHEN weight_volume IN ('None', 'nan') THEN NULL
           ELSE weight_volume END AS weight_volume,
      CASE WHEN unit IS NULL OR lower(trim(unit)) = '' THEN NULL
           WHEN regexp_matches(lower(trim(unit)), '^\\d+(kg|g|ml|l)$')
             THEN regexp_extract(lower(trim(unit)), '(kg|g|ml|l)$', 1)
           WHEN lower(trim(unit)) IN ('l', 'litre', 'litres') THEN 'litre'
           ELSE lower(trim(unit)) END AS unit,
      CAST(NULL AS VARCHAR) AS deal_type,
      CAST(COALESCE(multi_buy_quantity, 1) AS INTEGER) AS multi_buy_quantity,
      array_to_string(bounding_box, ',') AS bounding_box,
      COALESCE(group_id, 'UNKNOWN') AS group_id,
      split_part(source_path, '/', 5) AS province,
      split_part(source_path, '/', 6) AS date_range,
      regexp_extract(source_path, '([^/]+)$', 1) AS source_file
    FROM {_DIRTY_VALUES_SQL}
    ORDER BY product_name
    """,
)
def retail_clean_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    raw = spark.createDataFrame(_DIRTY_ROWS, _DIRTY_SCHEMA)
    out = clean_products(raw)
    # arrays stringified for cross-engine hash stability
    return out.withColumn("bounding_box", F.array_join("bounding_box", ",")).orderBy(
        "product_name"
    )


@register(
    "clean_map_normalize_segment",
    oracle="""
    SELECT CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN 'auto'
                WHEN c_mktsegment = 'HOUSEHOLD' THEN 'home'
                WHEN c_mktsegment = 'MACHINERY' THEN 'industrial'
                ELSE lower(c_mktsegment) END AS segment,
           CAST(COUNT(*) AS BIGINT) AS n_cust
    FROM customer
    GROUP BY 1 ORDER BY 1
    """,
)
def clean_map_normalize_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2/F3 dict-lookup normalization at fixture scale (when/otherwise chain)."""
    c = load(spark, sf_dir, "customer")
    seg = (
        F.when(F.col("c_mktsegment") == "AUTOMOBILE", "auto")
        .when(F.col("c_mktsegment") == "HOUSEHOLD", "home")
        .when(F.col("c_mktsegment") == "MACHINERY", "industrial")
        .otherwise(F.lower(F.col("c_mktsegment")))
    )
    return (
        c.groupBy(seg.alias("segment")).agg(F.count(F.lit(1)).alias("n_cust")).orderBy("segment")
    )


@register(
    "clean_slugify_names",
    oracle="""
    SELECT p_partkey,
           substring(regexp_replace(p_name, '[^A-Za-z0-9_-]', '_', 'g'), 1, 50) AS slug
    FROM part
    ORDER BY p_partkey
    LIMIT 200
    """,
)
def clean_slugify_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7: filename slugification (ref pnpscrLambda.py:99-100, cropper :87-90)."""
    p = load(spark, sf_dir, "part")
    return (
        p.select(
            "p_partkey",
            F.substring(F.regexp_replace("p_name", "[^A-Za-z0-9_-]", "_"), 1, 50).alias("slug"),
        )
        .orderBy("p_partkey")
        .limit(200)
    )


@register(
    "clean_path_derive",
    oracle="""
    WITH t AS (
      SELECT 'data/pro/json/PnP/' || event_type || '/u' || CAST(user_id AS VARCHAR)
             || '/page_' || CAST(event_id % 5 AS VARCHAR) || '.json' AS path
      FROM events
    )
    SELECT split_part(path, '/', 5) AS province,
           split_part(path, '/', 6) AS flyer,
           regexp_extract(path, '([^/]+)$', 1) AS source_file,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM t
    GROUP BY 1, 2, 3
    ORDER BY 1, 2, 3
    """,
)
def clean_path_derive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6/F9: zone-key grammar parsing at fixture scale."""
    ev = load(spark, sf_dir, "events")
    path = F.concat(
        F.lit("data/pro/json/PnP/"),
        F.col("event_type"),
        F.lit("/u"),
        F.col("user_id").cast("string"),
        F.lit("/page_"),
        (F.col("event_id") % 5).cast("string"),
        F.lit(".json"),
    )
    parts = F.split(path, "/")
    return (
        ev.select(
            F.element_at(parts, 5).alias("province"),
            F.element_at(parts, 6).alias("flyer"),
            F.element_at(parts, -1).alias("source_file"),
        )
        .groupBy("province", "flyer", "source_file")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("province", "flyer", "source_file")
    )


@register(
    "clean_bbox_crop_math",
    oracle="""
    WITH t AS (
      SELECT p_partkey,
             [p_size * 7, p_size * 3, p_size * 7 + 120, p_size * 3 + 200] AS bbox
      FROM part
    ), b AS (
      SELECT p_partkey,
             bbox[1] AS ymin, bbox[2] AS xmin, bbox[3] AS ymax, bbox[4] AS xmax,
             bbox[3] - bbox[1] AS h, bbox[4] - bbox[2] AS w
      FROM t
      WHERE len(bbox) = 4
    )
    SELECT p_partkey,
           greatest(0,    ymin - CAST(floor(h * 0.10) AS INTEGER)) AS pad_ymin,
           greatest(0,    xmin - CAST(floor(w * 0.10) AS INTEGER)) AS pad_xmin,
           least(1000,    ymax + CAST(floor(h * 0.10) AS INTEGER)) AS pad_ymax,
           least(1000,    xmax + CAST(floor(w * 0.10) AS INTEGER)) AS pad_xmax
    FROM b
    ORDER BY p_partkey
    """,
)
def clean_bbox_crop_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7: the cropper's bbox arithmetic (ref pnp-cropperLambda.py:61-82):
    element access, width/height, 10% padding, [0,1000] clamp — all as
    native integer Column arithmetic."""
    p = load(spark, sf_dir, "part")
    bbox = F.array(
        F.col("p_size") * 7,
        F.col("p_size") * 3,
        F.col("p_size") * 7 + 120,
        F.col("p_size") * 3 + 200,
    )
    t = p.select("p_partkey", bbox.alias("bbox")).filter(F.size("bbox") == 4)
    ymin, xmin = F.element_at("bbox", 1), F.element_at("bbox", 2)
    ymax, xmax = F.element_at("bbox", 3), F.element_at("bbox", 4)
    h, w = ymax - ymin, xmax - xmin
    pad_h = F.floor(h * 0.10).cast("int")
    pad_w = F.floor(w * 0.10).cast("int")
    return t.select(
        "p_partkey",
        F.greatest(F.lit(0), ymin - pad_h).alias("pad_ymin"),
        F.greatest(F.lit(0), xmin - pad_w).alias("pad_xmin"),
        F.least(F.lit(1000), ymax + pad_h).alias("pad_ymax"),
        F.least(F.lit(1000), xmax + pad_w).alias("pad_xmax"),
    ).orderBy("p_partkey")


@register(
    "clean_cast_nullify",
    oracle="""
    SELECT CASE WHEN CAST(l_quantity AS VARCHAR) IN ('None', 'nan') THEN NULL
                ELSE CAST(CAST(round(l_quantity) AS BIGINT) AS VARCHAR) END AS qty_str,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM lineitem
    GROUP BY 1 ORDER BY 1
    """,
)
def clean_cast_nullify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P9: cast-to-string + sentinel-null pattern (ref :91-92).  Quantity
    is integral-valued so the string form is normalized via round()."""
    li = load(spark, sf_dir, "lineitem")
    qty_str = F.when(
        F.col("l_quantity").cast("string").isin("None", "nan"), F.lit(None)
    ).otherwise(F.round(F.col("l_quantity")).cast("long").cast("string"))
    return (
        li.groupBy(qty_str.alias("qty_str")).agg(F.count(F.lit(1)).alias("n")).orderBy("qty_str")
    )


@register(
    "clean_defaults_coalesce",
    oracle="""
    SELECT COALESCE(nullif(o_orderpriority, '5-LOW'), 'UNKNOWN') AS priority,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM orders
    GROUP BY 1 ORDER BY 1
    """,
)
def clean_defaults_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8: constant/default injection (nullif + coalesce, ref :94-95)."""
    o = load(spark, sf_dir, "orders")
    pri = F.coalesce(F.nullif(F.col("o_orderpriority"), F.lit("5-LOW")), F.lit("UNKNOWN"))
    return (
        o.groupBy(pri.alias("priority")).agg(F.count(F.lit(1)).alias("n")).orderBy("priority")
    )


@register(
    "clean_filter_pushdown_suffix",
    oracle="""
    WITH t AS (
      SELECT 'data/raw/PnP/p' || CAST(event_id % 9 AS VARCHAR) || '/f' ||
             CAST(event_id AS VARCHAR) ||
             CASE WHEN event_id % 3 = 0 THEN '.pdf' ELSE '.tmp' END AS key
      FROM events
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_pdf
    FROM t
    WHERE key LIKE 'data/raw/PnP/%' AND key LIKE '%.pdf'
    """,
)
def clean_filter_pushdown_suffix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3: prefix+suffix event filter (the S3-notification filter,
    ref main.tf:237-242) as a predicate."""
    ev = load(spark, sf_dir, "events")
    key = F.concat(
        F.lit("data/raw/PnP/p"),
        (F.col("event_id") % 9).cast("string"),
        F.lit("/f"),
        F.col("event_id").cast("string"),
        F.when(F.col("event_id") % 3 == 0, ".pdf").otherwise(".tmp"),
    )
    return (
        ev.select(key.alias("key"))
        .filter(F.col("key").startswith("data/raw/PnP/") & F.col("key").endswith(".pdf"))
        .agg(F.count(F.lit(1)).alias("n_pdf"))
    )


@register(
    "retail_date_window_parse",
    oracle=f"""
    WITH slugs AS (
      SELECT DISTINCT split_part(source_path, '/', 6) AS date_range
      FROM {_DIRTY_VALUES_SQL}
    ),
    t AS (
      SELECT date_range, replace(date_range, '_', ' ') AS txt FROM slugs
    )
    SELECT date_range,
           CAST(strptime(regexp_extract(txt, '^(\\d+ [A-Za-z]+)', 1) || ' ' ||
                         regexp_extract(txt, '(\\d{{4}})$', 1),
                         '%-d %B %Y') AS DATE) AS valid_from,
           CAST(strptime(regexp_extract(txt, '(\\d+ [A-Za-z]+ \\d{{4}})$', 1),
                         '%-d %B %Y') AS DATE) AS valid_to
    FROM t
    ORDER BY date_range
    """,
)
def retail_date_window_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F11: parse the flyer validity-window slug
    ('13_February_-_15_February_2026', created by pnpscrLambda.py:99-100)
    into typed valid_from/valid_to DATE columns.  The reference keeps
    this a string partition key only; real time-series queries need the
    dates.  The slug stays the physical partition key (SURVEY.md §7) —
    these are derived columns."""
    raw = spark.createDataFrame(_DIRTY_ROWS, _DIRTY_SCHEMA)
    slug = F.split(F.col("source_path"), "/").getItem(5)
    t = (
        raw.select(slug.alias("date_range"))
        .distinct()
        .withColumn("txt", F.regexp_replace("date_range", "_", " "))
    )
    start_txt = F.regexp_extract("txt", r"^(\d+ [A-Za-z]+)", 1)
    year = F.regexp_extract("txt", r"(\d{4})$", 1)
    end_txt = F.regexp_extract("txt", r"(\d+ [A-Za-z]+ \d{4})$", 1)
    return (
        t.select(
            "date_range",
            F.to_date(F.concat_ws(" ", start_txt, year), "d MMMM yyyy").alias(
                "valid_from"
            ),
            F.to_date(end_txt, "d MMMM yyyy").alias("valid_to"),
        )
        .orderBy("date_range")
    )


@register(
    "retail_flyer_days",
    oracle=f"""
    WITH slugs AS (
      SELECT DISTINCT split_part(source_path, '/', 6) AS date_range
      FROM {_DIRTY_VALUES_SQL}
    ),
    t AS (SELECT date_range, replace(date_range, '_', ' ') AS txt FROM slugs),
    parsed AS (
      SELECT date_range,
             CAST(strptime(regexp_extract(txt, '^(\\d+ [A-Za-z]+)', 1) || ' ' ||
                           regexp_extract(txt, '(\\d{{4}})$', 1), '%-d %B %Y') AS DATE)
               AS valid_from,
             CAST(strptime(regexp_extract(txt, '(\\d+ [A-Za-z]+ \\d{{4}})$', 1),
                           '%-d %B %Y') AS DATE) AS valid_to
      FROM t
    )
    SELECT date_range, CAST(unnest(generate_series(valid_from, valid_to, INTERVAL 1 DAY)) AS DATE) AS day
    FROM parsed
    ORDER BY date_range, day
    """,
)
def retail_flyer_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U2: Python UDTF (Spark 4 `@udtf`) + LATERAL join — one output row
    per day each flyer is valid.  The UDTF is the table-valued escape
    hatch for 1-row-in/N-rows-out logic that `explode(sequence(...))`
    could also state; registered here to exercise the API end-to-end."""
    from datetime import timedelta  # noqa: PLC0415

    from pyspark.sql.functions import udtf  # noqa: PLC0415

    @udtf(returnType="date_range string, day date")
    class ExpandDays:
        def eval(self, date_range, start, end):  # noqa: ANN001
            d = start
            while d is not None and end is not None and d <= end:
                yield (date_range, d)
                d += timedelta(days=1)

    spark.udtf.register("expand_days", ExpandDays)
    retail_date_window_parse(spark, sf_dir).createOrReplaceTempView("flyer_windows")
    return spark.sql(
        """
        SELECT t.date_range, t.day
        FROM flyer_windows f,
             LATERAL expand_days(f.date_range, f.valid_from, f.valid_to) t
        ORDER BY t.date_range, t.day
        """
    )


@register(
    "clean_zone_merge_zorder",
    # The oracle restates the MERGE semantics declaratively: final zone
    # = base rows whose business key has no update, plus every update
    # (both key-replacements and brand-new keys).  The Spark side runs
    # the REAL maintenance machinery — first-load write, key-level
    # merge_upsert into Hive partitions with dynamic overwrite, then a
    # Z-order rewrite — and returns the zone read back from disk, so a
    # hash match proves the physical pipeline preserves exactly the
    # declared multiset (no lost siblings, no duplicate keys, no rows
    # invented by the layout rewrite).
    oracle="""
    WITH base AS (
      SELECT 'P'  || CAST(o_orderkey % 5 AS VARCHAR) AS province,
             'dr' || CAST(o_orderkey % 3 AS VARCHAR) AS date_range,
             'f'  || CAST(o_orderkey % 7 AS VARCHAR) AS source_file,
             'prod_' || CAST(o_orderkey AS VARCHAR) AS product_name,
             CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
             o_orderkey AS ok
      FROM orders WHERE o_orderkey < 4000
    ),
    upd AS (
      SELECT province, date_range, source_file, product_name,
             price_cents * 2 + 1 AS price_cents, ok
      FROM base WHERE ok % 11 = 0
      UNION ALL
      SELECT province, date_range, source_file,
             'xprod_' || CAST(ok AS VARCHAR) AS product_name,
             price_cents + 7 AS price_cents, ok
      FROM base WHERE ok % 13 = 0
    ),
    final AS (
      SELECT b.province, b.date_range, b.source_file, b.product_name, b.price_cents
      FROM base b
      WHERE NOT EXISTS (
        SELECT 1 FROM upd u
        WHERE u.province = b.province AND u.date_range = b.date_range
          AND u.source_file = b.source_file AND u.product_name = b.product_name
      )
      UNION ALL
      SELECT province, date_range, source_file, product_name, price_cents FROM upd
    )
    SELECT province, date_range, source_file, product_name, price_cents
    FROM final
    ORDER BY province, date_range, source_file, product_name
    """,
)
def clean_zone_merge_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10's full upgraded surface, oracle-verified end-to-end: build a
    deterministic clean zone from `orders`, MERGE an update batch
    (key-level upsert, only affected Hive partitions rewritten —
    operators/clean.py merge_upsert_clean_zone), rewrite the result
    Z-ordered on (ok, price_cents) (operators/layout.py), and return
    what is actually ON DISK afterwards.

    Scale shape: the merge prunes to affected partitions and
    broadcasts the update keys; the Z-order write is one
    range-repartition + local sort.  Row-group pruning effectiveness is
    measured separately in tests/test_layout.py; THIS query pins the
    content contract of the maintenance path (ADVICE r3: the merge now
    dedupes update keys and materializes survivors before overwriting
    their source directory).  The result is returned LAZILY over the
    written zone (session-scoped workdir, cleaned at process exit) —
    collecting it first just to free a temp dir would be the exact
    driver-side materialization this engine tells users to avoid."""
    from pathlib import Path

    from specialsid_spark.operators.clean import merge_upsert_clean_zone
    from specialsid_spark.operators.layout import write_zordered
    from specialsid_spark.session import session_workdir

    o = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 4000)
    base = o.selectExpr(
        "concat('P',  CAST(o_orderkey % 5 AS STRING)) AS province",
        "concat('dr', CAST(o_orderkey % 3 AS STRING)) AS date_range",
        "concat('f',  CAST(o_orderkey % 7 AS STRING)) AS source_file",
        "concat('prod_', CAST(o_orderkey AS STRING)) AS product_name",
        "CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents",
        "o_orderkey AS ok",
    )
    updates = base.filter(F.col("ok") % 11 == 0).withColumn(
        "price_cents", F.col("price_cents") * 2 + 1
    ).unionByName(
        base.filter(F.col("ok") % 13 == 0)
        .withColumn("product_name", F.concat(F.lit("xprod_"), F.col("ok").cast("string")))
        .withColumn("price_cents", F.col("price_cents") + 7)
    )

    work = Path(session_workdir("specialsid_zone_"))
    zone, zpath = str(work / "zone"), str(work / "zone_z")
    merge_upsert_clean_zone(spark, zone, base)       # first load (insert path)
    merge_upsert_clean_zone(spark, zone, updates)    # key-level upsert
    write_zordered(spark.read.parquet(zone), zpath, "ok", "price_cents")
    return (
        spark.read.parquet(zpath)
        .select("province", "date_range", "source_file", "product_name", "price_cents")
        .orderBy("province", "date_range", "source_file", "product_name")
    )


@register(
    "clean_snapshot_time_travel",
    # Each version's content derives from orders by a key predicate, so
    # the oracle restates every historical state: v1 = keys%4==0
    # (first commit), v2 = v1 plus keys%4==1 (append lineage),
    # v3 = keys%4==2 only (overwrite drops prior files from the view).
    oracle="""
    WITH o AS (
      SELECT o_orderkey AS ok,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders WHERE o_orderkey < 4000
    )
    SELECT 1 AS version, 'append' AS op,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(cents) AS BIGINT) AS sum_cents
    FROM o WHERE ok % 4 = 0
    UNION ALL
    SELECT 2, 'append', CAST(count(*) AS BIGINT), CAST(sum(cents) AS BIGINT)
    FROM o WHERE ok % 4 IN (0, 1)
    UNION ALL
    SELECT 3, 'overwrite', CAST(count(*) AS BIGINT), CAST(sum(cents) AS BIGINT)
    FROM o WHERE ok % 4 = 2
    ORDER BY version
    """,
)
def clean_snapshot_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10 extension — manifest-based snapshot commits with TIME TRAVEL
    (operators/snapshot.py): three commits against a fresh table
    (append, append, overwrite), then every historical version read
    back THROUGH ITS MANIFEST and aggregated.  The oracle restates
    each version's expected content from `orders`, so the whole
    commit/manifest/time-travel protocol is value-checked: a manifest
    that leaked files across an overwrite, lost an append, or resolved
    versions out of order changes the per-version sums.

    Scale shape: commits are normal parquet writes plus one manifest
    rename (O(1) metadata); reads list the manifest's files instead of
    the directory — at 100 TB that is the difference between an
    object-store LIST storm and one small JSON read.  Per-version
    aggregates are a LAZY unionByName over the manifest-pinned reads
    (session-scoped workdir) — nothing is collected driver-side."""
    from functools import reduce
    from pathlib import Path

    from specialsid_spark.operators.snapshot import snapshot_commit, snapshot_read
    from specialsid_spark.queries._determinism import cents
    from specialsid_spark.session import session_workdir

    o = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") < 4000)
        .select(
            F.col("o_orderkey").alias("ok"),
            cents("o_totalprice").alias("cents_v"),
        )
    )
    work = Path(session_workdir("specialsid_snap_"))
    t = str(work / "tbl")
    snapshot_commit(o.filter(F.col("ok") % 4 == 0), t, mode="append")
    snapshot_commit(o.filter(F.col("ok") % 4 == 1), t, mode="append")
    snapshot_commit(o.filter(F.col("ok") % 4 == 2), t, mode="overwrite")
    per_version = [
        snapshot_read(spark, t, version).agg(
            F.lit(version).alias("version"),
            F.lit(op).alias("op"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("cents_v").cast("long").alias("sum_cents"),
        )
        for version, op in ((1, "append"), (2, "append"), (3, "overwrite"))
    ]
    return reduce(lambda a, b: a.unionByName(b), per_version).orderBy("version")


@register(
    "clean_snapshot_diff",
    # Version contents derive from orders by key predicates (v1 =
    # keys%3==0, v2 appends %3==1, v3 overwrites to %3==2), so each
    # diff's inserts/deletes are restatable: v1->v2 inserts %3==1 only
    # (the shared v1 file is pruned via the manifest); v2->v3 deletes
    # %3 in (0,1) and inserts %3==2.
    oracle="""
    WITH o AS (
      SELECT o_orderkey AS ok,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents_v
      FROM orders WHERE o_orderkey < 4000
    )
    SELECT 1 AS from_v, 2 AS to_v, 'insert' AS change_type,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(cents_v) AS BIGINT) AS sum_cents
    FROM o WHERE ok % 3 = 1
    UNION ALL
    SELECT 2, 3, 'delete', CAST(count(*) AS BIGINT), CAST(sum(cents_v) AS BIGINT)
    FROM o WHERE ok % 3 IN (0, 1)
    UNION ALL
    SELECT 2, 3, 'insert', CAST(count(*) AS BIGINT), CAST(sum(cents_v) AS BIGINT)
    FROM o WHERE ok % 3 = 2
    ORDER BY from_v, change_type
    """,
)
def clean_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10 extension — CDC between snapshot versions (the Delta
    `table_changes` idea on plain manifests; operators/snapshot.py
    snapshot_diff).  Three commits (append, append, overwrite), then
    the row-level diffs v1->v2 and v2->v3 aggregated by change type.
    The oracle restates every insert/delete set from `orders`, so the
    whole diff protocol — manifest file-list symmetric difference,
    multiset exceptAll, schema carry — is value-checked.

    Scale shape: immutable data files shared by both manifests cancel
    and are never read (the v1 file is pruned from the v1->v2 diff),
    so an append-mostly table diffs in time proportional to its
    changed files — the property that makes incremental downstream
    refresh viable at 100 TB.  Both diffs aggregate LAZILY and union —
    no driver-side materialization (session-scoped workdir)."""
    from functools import reduce
    from pathlib import Path

    from specialsid_spark.operators.snapshot import snapshot_commit, snapshot_diff
    from specialsid_spark.queries._determinism import cents
    from specialsid_spark.session import session_workdir

    o = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") < 4000)
        .select(
            F.col("o_orderkey").alias("ok"),
            cents("o_totalprice").alias("cents_v"),
        )
    )
    work = Path(session_workdir("specialsid_snapdiff_"))
    t = str(work / "tbl")
    snapshot_commit(o.filter(F.col("ok") % 3 == 0), t, mode="append")
    snapshot_commit(o.filter(F.col("ok") % 3 == 1), t, mode="append")
    snapshot_commit(o.filter(F.col("ok") % 3 == 2), t, mode="overwrite")
    per_diff = [
        snapshot_diff(spark, t, v_from, v_to)
        .groupBy("change_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("cents_v").cast("long").alias("sum_cents"),
        )
        .select(
            F.lit(v_from).alias("from_v"),
            F.lit(v_to).alias("to_v"),
            "change_type",
            "n_rows",
            "sum_cents",
        )
        for v_from, v_to in ((1, 2), (2, 3))
    ]
    return reduce(lambda a, b: a.unionByName(b), per_diff).orderBy(
        "from_v", "change_type"
    )


@register(
    "clean_snapshot_incremental_refresh",
    # Per-version summaries restated directly from orders; the Spark
    # side only computes v1 fully and MAINTAINS v2/v3 from diffs, so
    # any defect in the diff-driven maintenance (missed retraction,
    # double-applied insert, zombie zero-count group) mismatches here.
    oracle="""
    WITH o AS (
      SELECT o_orderkey AS ok,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents_v
      FROM orders WHERE o_orderkey < 4000
    )
    SELECT 1 AS version, CAST(ok % 7 AS BIGINT) AS grp,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(cents_v) AS BIGINT) AS sum_cents
    FROM o WHERE ok % 3 = 0 GROUP BY 2
    UNION ALL
    SELECT 2, CAST(ok % 7 AS BIGINT), CAST(count(*) AS BIGINT),
           CAST(sum(cents_v) AS BIGINT)
    FROM o WHERE ok % 3 IN (0, 1) GROUP BY 2
    UNION ALL
    SELECT 3, CAST(ok % 7 AS BIGINT), CAST(count(*) AS BIGINT),
           CAST(sum(cents_v) AS BIGINT)
    FROM o WHERE ok % 3 = 2 GROUP BY 2
    ORDER BY version, grp
    """,
)
def clean_snapshot_incremental_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10 ∘ T3: INCREMENTAL VIEW MAINTENANCE from snapshot diffs — the
    downstream summary is recomputed exactly once (v1) and thereafter
    MAINTAINED by applying each version-to-version diff as signed
    partial aggregates (inserts add, deletes retract).  Groups whose
    count retracts to zero are dropped — the classic IVM subtlety a
    naive merge gets wrong (a zombie zero-count group would survive and
    mismatch the full-recompute oracle).

    Scale shape: each refresh reads only the diff (manifest-pruned
    changed files), aggregates it to |groups| signed partials, and
    folds them into the summary as a LAZY union-and-reaggregate —
    summary(v+1) = groupBy(summary(v) ∪ signed diff partials) with
    zero-count groups filtered out.  Nothing is collected driver-side,
    so the summary never has to fit on the driver; at 100 TB the
    refresh cost tracks the day's changes, never the table.  (In a
    production loop each version's summary would be checkpointed — the
    foreachBatch rollup in streaming/pipeline.py is exactly that; here
    the three-version lineage is shallow and left lazy.)"""
    from functools import reduce
    from pathlib import Path

    from specialsid_spark.operators.snapshot import snapshot_commit, snapshot_diff, snapshot_read
    from specialsid_spark.queries._determinism import cents
    from specialsid_spark.session import session_workdir

    o = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") < 4000)
        .select(
            F.col("o_orderkey").alias("ok"),
            cents("o_totalprice").alias("cents_v"),
        )
    )
    work = Path(session_workdir("specialsid_snapivm_"))
    t = str(work / "tbl")
    snapshot_commit(o.filter(F.col("ok") % 3 == 0), t, mode="append")
    snapshot_commit(o.filter(F.col("ok") % 3 == 1), t, mode="append")
    snapshot_commit(o.filter(F.col("ok") % 3 == 2), t, mode="overwrite")

    grp = (F.col("ok") % 7).cast("long").alias("grp")
    summary = (
        snapshot_read(spark, t, 1)
        .groupBy(grp)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("cents_v").cast("long").alias("sum_cents"),
        )
    )
    versions = [(1, summary)]
    for v_from, v_to in ((1, 2), (2, 3)):
        sign = F.when(F.col("change_type") == "insert", F.lit(1)).otherwise(
            F.lit(-1)
        )
        deltas = (
            snapshot_diff(spark, t, v_from, v_to)
            .select(grp, sign.alias("sgn"), "cents_v")
            .groupBy("grp")
            .agg(
                F.sum("sgn").cast("long").alias("n_rows"),
                F.sum(F.col("sgn") * F.col("cents_v")).cast("long").alias("sum_cents"),
            )
        )
        # retraction: zero-count groups leave the summary entirely —
        # the classic IVM subtlety (a zombie zero-count group would
        # survive a naive merge and mismatch the full-recompute oracle)
        summary = (
            summary.unionByName(deltas)
            .groupBy("grp")
            .agg(
                F.sum("n_rows").cast("long").alias("n_rows"),
                F.sum("sum_cents").cast("long").alias("sum_cents"),
            )
            .where(F.col("n_rows") > 0)
        )
        versions.append((v_to, summary))
    labeled = [
        s.select(F.lit(v).alias("version"), "grp", "n_rows", "sum_cents")
        for v, s in versions
    ]
    return reduce(lambda a, b: a.unionByName(b), labeled).orderBy(
        "version", "grp"
    )


def _banded_snapshot_table(
    spark: SparkSession, sf_dir: str, prefix: str
) -> tuple[str, int, int]:
    """Fixture scaffold shared by the four snapshot-verb queries
    (stats-pruning scan, DELETE, UPDATE, Python-DataSource scan):
    three rank-third commits of the orders [ok, cents_v] slice with
    footer stats on ok.  Returns (table_path, lo, hi) where [lo, hi]
    is the [p40, p60] key band that intersects exactly the middle
    file.  Scaffold note: r11 removed the last SinglePartition window
    here — the exact rank now comes from the range-partition +
    driver-scanned-offsets idiom (cur_token_packing), so even this
    fixture builder's plan survives arbitrary input size; coalesce(1)
    remains deliberate (a 3-file demo table with known per-file
    ranges)."""
    from pathlib import Path

    from pyspark.sql.window import Window

    from specialsid_spark.operators.snapshot import snapshot_commit_stats
    from specialsid_spark.queries._determinism import cents
    from specialsid_spark.session import session_workdir

    o = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") < 6000)
        .select(
            F.col("o_orderkey").alias("ok"),
            cents("o_totalprice").alias("cents_v"),
        )
    )
    # exact global rank WITHOUT a SinglePartition window (r11, VERDICT
    # r10 #5): range-partition on the key, per-partition counts,
    # driver-side exclusive scan of <=8 subtotals, rank = offset +
    # within-partition row_number — the cur_token_packing idiom
    part = (
        o.repartitionByRange(8, "ok")
        .withColumn("pid", F.spark_partition_id())
        .localCheckpoint()
    )
    subs = part.groupBy("pid").agg(F.count(F.lit(1)).alias("c")).collect()
    run, offsets = 0, {}
    for r in sorted(subs, key=lambda r: r.pid):
        offsets[r.pid] = run
        run += r.c
    n = run
    off = F.create_map(
        *[F.lit(x) for pid_o in sorted(offsets.items()) for x in pid_o]
    )
    ranked = part.withColumn(
        "rn",
        off[F.col("pid")]
        + F.row_number().over(Window.partitionBy("pid").orderBy("ok")),
    )
    chunk = F.floor((F.col("rn") - 1) * 3 / n)
    lo, hi = (
        ranked.where(F.col("rn").isin(int(0.4 * n) + 1, int(0.6 * n)))
        .agg(F.min("ok"), F.max("ok"))
        .collect()[0]
    )
    t = str(Path(session_workdir(prefix)) / "tbl")
    for c in range(3):
        part = ranked.where(chunk == c).select("ok", "cents_v").coalesce(1)
        snapshot_commit_stats(part, t, ["ok"], mode="append")
    return t, lo, hi


@register(
    "clean_snapshot_stats_pruning",
    # Three single-file commits over the sorted key's rank thirds
    # (chunk = floor((rn-1)*3/n) — non-empty at any SF); the scan band
    # is the [p40, p60] rank band, strictly inside the middle chunk,
    # so exactly ONE of the three files matches the manifest stats.
    # n_files_* are literals: if pruning breaks (scans all) or
    # over-prunes (drops rows), counts or aggregates go red.
    oracle="""
    WITH o AS (
      SELECT o_orderkey AS ok,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents_v
      FROM orders WHERE o_orderkey < 6000
    ),
    r AS (
      SELECT ok, cents_v,
             row_number() OVER (ORDER BY ok) AS rn,
             count(*) OVER () AS n
      FROM o
    ),
    b AS (
      SELECT MIN(CASE WHEN rn = CAST(floor(0.4 * n) + 1 AS BIGINT) THEN ok END) AS lo,
             MIN(CASE WHEN rn = CAST(floor(0.6 * n) AS BIGINT) THEN ok END) AS hi
      FROM r
    )
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(cents_v) AS BIGINT) AS sum_cents,
           CAST(min(ok) AS BIGINT) AS min_ok,
           CAST(max(ok) AS BIGINT) AS max_ok,
           1 AS n_files_scanned,
           3 AS n_files_total
    FROM r, b WHERE r.ok >= b.lo AND r.ok <= b.hi
    """,
)
def clean_snapshot_stats_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10 extension — manifest column statistics + file pruning (the
    Iceberg core mechanic on plain manifests): each commit records its
    files' min/max for the cluster key straight from the parquet
    FOOTERS (no data scan), and a range scan consults only the
    manifest to decide which files to open.  Three commits over the
    sorted key's rank thirds; a predicate on the [p40, p60] key band
    opens exactly 1 of 3 files — the counts are part of the
    oracle-checked result, so the pruning effect itself is
    value-verified, not just the rows.

    Scale shape: predicate-to-file resolution is one small JSON read;
    the alternative at 100 TB is LIST + per-file footer fetch over
    every object — the manifest turns O(files) metadata I/O into O(1).
    """
    from specialsid_spark.operators.snapshot import snapshot_scan

    t, lo, hi = _banded_snapshot_table(spark, sf_dir, "specialsid_snapstats_")
    # n_scanned / n_total come from the MANIFEST (one small JSON read),
    # not from any data collect; the data aggregate itself stays lazy
    scan, n_scanned, n_total = snapshot_scan(spark, t, "ok", lo, hi)
    return scan.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("cents_v").cast("long").alias("sum_cents"),
        F.min("ok").cast("long").alias("min_ok"),
        F.max("ok").cast("long").alias("max_ok"),
    ).select(
        "n_rows",
        "sum_cents",
        "min_ok",
        "max_ok",
        F.lit(n_scanned).cast("int").alias("n_files_scanned"),
        F.lit(n_total).cast("int").alias("n_files_total"),
    )


@register(
    "clean_snapshot_update_rows",
    # Same three rank-third commits as the DELETE twin; UPDATE of the
    # [p40, p60] key band (cents_v += 12345) touches ONLY the middle
    # file, so n_files_rewritten is a literal 1 of 3 — and the sum
    # aggregate moves by exactly 12345 * n_matched, value-checking
    # that ONLY matched rows were rewritten and carried rows are
    # byte-faithful.
    oracle="""
    WITH o AS (
      SELECT o_orderkey AS ok,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents_v
      FROM orders WHERE o_orderkey < 6000
    ),
    r AS (
      SELECT ok, cents_v,
             row_number() OVER (ORDER BY ok) AS rn,
             count(*) OVER () AS n
      FROM o
    ),
    b AS (
      SELECT MIN(CASE WHEN rn = CAST(floor(0.4 * n) + 1 AS BIGINT) THEN ok END) AS lo,
             MIN(CASE WHEN rn = CAST(floor(0.6 * n) AS BIGINT) THEN ok END) AS hi
      FROM r
    ),
    u AS (
      SELECT r.ok,
             CASE WHEN r.ok >= b.lo AND r.ok <= b.hi
                  THEN r.cents_v + 12345 ELSE r.cents_v END AS cents_v,
             CASE WHEN r.ok >= b.lo AND r.ok <= b.hi THEN 1 ELSE 0 END AS hit
      FROM r, b
    )
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(cents_v) AS BIGINT) AS sum_cents,
           CAST(sum(hit) AS BIGINT) AS n_updated,
           1 AS n_files_rewritten,
           3 AS n_files_before
    FROM u
    """,
)
def clean_snapshot_update_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10 extension, r7 VERDICT #8 — copy-on-write row-level UPDATE,
    completing the snapshot DML trio (insert/merge r4-r5, delete r6):
    manifest stats route the SET to the single file whose key range
    intersects the predicate; matched rows get ``cents_v + 12345``,
    every other row — in rewritten AND shared files — carries
    verbatim, and the pre-update version still time-travels.  The
    rewrite count and the exactly-shifted sum are both value-checked.

    Scale shape: identical to DELETE — cost tracks
    predicate-intersecting files, never table size."""
    from specialsid_spark.operators.snapshot import (
        snapshot_read,
        snapshot_update,
    )

    t, lo, hi = _banded_snapshot_table(spark, sf_dir, "specialsid_snapupd_")
    _, n_rewritten, n_before = snapshot_update(
        spark, t, "ok", lo, hi, {"cents_v": "cents_v + 12345"}
    )
    cur = snapshot_read(spark, t)
    return cur.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("cents_v").cast("long").alias("sum_cents"),
        F.sum(
            ((F.col("ok") >= lo) & (F.col("ok") <= hi)).cast("long")
        ).alias("n_updated"),
    ).select(
        "n_rows",
        "sum_cents",
        "n_updated",
        F.lit(n_rewritten).cast("int").alias("n_files_rewritten"),
        F.lit(n_before).cast("int").alias("n_files_before"),
    )


@register(
    "clean_snapshot_delete_rows",
    # Same three rank-third commits as clean_snapshot_stats_pruning;
    # DELETE of the [p40, p60] key band touches ONLY the middle file
    # (stats prove the other two can't match), so n_files_rewritten is
    # a literal 1 of 3 — if the pruning mirror-invariant breaks (skips
    # a matching file, or rewrites all), counts or aggregates go red.
    oracle="""
    WITH o AS (
      SELECT o_orderkey AS ok,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents_v
      FROM orders WHERE o_orderkey < 6000
    ),
    r AS (
      SELECT ok, cents_v,
             row_number() OVER (ORDER BY ok) AS rn,
             count(*) OVER () AS n
      FROM o
    ),
    b AS (
      SELECT MIN(CASE WHEN rn = CAST(floor(0.4 * n) + 1 AS BIGINT) THEN ok END) AS lo,
             MIN(CASE WHEN rn = CAST(floor(0.6 * n) AS BIGINT) THEN ok END) AS hi
      FROM r
    )
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(cents_v) AS BIGINT) AS sum_cents,
           CAST(min(ok) AS BIGINT) AS min_ok,
           CAST(max(ok) AS BIGINT) AS max_ok,
           1 AS n_files_rewritten,
           3 AS n_files_before
    FROM r, b WHERE NOT (r.ok >= b.lo AND r.ok <= b.hi)
    """,
)
def clean_snapshot_delete_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10 extension — copy-on-write row-level DELETE on the snapshot
    table (the remaining lakehouse verb after append / overwrite /
    compact / merge / diff / IVM): manifest stats route the predicate
    to the files that can possibly match; only those are rewritten
    minus the deleted rows, untouched files are SHARED into the new
    version byte-identically, and the pre-delete version still
    time-travels.  The rewrite count is part of the oracle-checked
    result, so the file-level cost bound — not just the surviving rows
    — is value-verified.

    Scale shape: delete cost tracks files intersecting the predicate
    (one file here; a handful on any clustered key at 100 TB), never
    table size."""
    from specialsid_spark.operators.snapshot import (
        snapshot_delete,
        snapshot_read,
    )

    t, lo, hi = _banded_snapshot_table(spark, sf_dir, "specialsid_snapdel_")
    _, n_rewritten, n_before = snapshot_delete(spark, t, "ok", lo, hi)
    return snapshot_read(spark, t).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("cents_v").cast("long").alias("sum_cents"),
        F.min("ok").cast("long").alias("min_ok"),
        F.max("ok").cast("long").alias("max_ok"),
    ).select(
        "n_rows",
        "sum_cents",
        "min_ok",
        "max_ok",
        F.lit(n_rewritten).cast("int").alias("n_files_rewritten"),
        F.lit(n_before).cast("int").alias("n_files_before"),
    )


@register(
    "src_python_datasource_scan",
    # Same three rank-third commits as the DELETE/UPDATE twins; the
    # [p40, p60] band is read through the custom Python DataSource
    # whose pushFilters prunes the manifest to the single intersecting
    # file at PLANNING time (pytest pins the partition count; Spark
    # re-applies the filters row-level, so values stay exact).
    oracle="""
    WITH o AS (
      SELECT o_orderkey AS ok,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents_v
      FROM orders WHERE o_orderkey < 6000
    ),
    r AS (
      SELECT ok, cents_v,
             row_number() OVER (ORDER BY ok) AS rn,
             count(*) OVER () AS n
      FROM o
    ),
    b AS (
      SELECT MIN(CASE WHEN rn = CAST(floor(0.4 * n) + 1 AS BIGINT) THEN ok END) AS lo,
             MIN(CASE WHEN rn = CAST(floor(0.6 * n) AS BIGINT) THEN ok END) AS hi
      FROM r
    )
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(cents_v) AS BIGINT) AS sum_cents,
           CAST(min(ok) AS BIGINT) AS min_ok,
           CAST(max(ok) AS BIGINT) AS max_ok
    FROM r, b WHERE r.ok >= b.lo AND r.ok <= b.hi
    """,
)
def src_python_datasource_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S-family, r7 — the Spark 4 PYTHON DATASOURCE surface
    (sources/pyds.py): the snapshot table format exposed as a
    first-class `spark.read.format(...)` source with partition
    planning FROM THE MANIFEST (one InputPartition per file) and
    planning-time filter pushdown (pushFilters prunes files by the
    manifest's per-file [min, max] — the snapshot_scan contract behind
    the standard reader API).  Reads are pyarrow RecordBatches — the
    vectorized path, no per-row Python.  The band filter must land on
    exactly one of the three committed files (pinned by
    tests/test_pyds.py); values are exact because Spark re-applies
    every filter row-level.

    Scale shape: planning cost is one small JSON manifest; scan
    parallelism is file-granular; pruning work is O(files), not
    O(rows)."""
    from specialsid_spark.sources.pyds import register_snapshot_source

    t, lo, hi = _banded_snapshot_table(spark, sf_dir, "specialsid_pyds_")
    register_snapshot_source(spark)
    df = (
        spark.read.format("specialsid_snapshot")
        .schema("ok long, cents_v long")
        .option("path", t)
        .load()
    )
    return df.filter((F.col("ok") >= lo) & (F.col("ok") <= hi)).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("cents_v").cast("long").alias("sum_cents"),
        F.min("ok").cast("long").alias("min_ok"),
        F.max("ok").cast("long").alias("max_ok"),
    )


@register(
    "clean_snapshot_clone_rows",
    # Banded fixture again: CLONE the 3-file table zero-copy, DELETE
    # the [p40, p60] band on the CLONE only.  The oracle value-checks
    # BOTH tables after the fact — the source aggregate unchanged, the
    # clone missing exactly the band — plus the divergence literals:
    # 1 of 3 files rewritten in the clone, 2 still shared by reference.
    oracle="""
    WITH o AS (
      SELECT o_orderkey AS ok,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents_v
      FROM orders WHERE o_orderkey < 6000
    ),
    r AS (
      SELECT ok, cents_v,
             row_number() OVER (ORDER BY ok) AS rn,
             count(*) OVER () AS n
      FROM o
    ),
    b AS (
      SELECT MIN(CASE WHEN rn = CAST(floor(0.4 * n) + 1 AS BIGINT) THEN ok END) AS lo,
             MIN(CASE WHEN rn = CAST(floor(0.6 * n) AS BIGINT) THEN ok END) AS hi
      FROM r
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM r) AS src_rows,
           (SELECT CAST(sum(cents_v) AS BIGINT) FROM r) AS src_cents,
           CAST(count(*) AS BIGINT) AS clone_rows,
           CAST(sum(cents_v) AS BIGINT) AS clone_cents,
           1 AS n_files_rewritten,
           2 AS n_files_shared
    FROM r, b WHERE NOT (r.ok >= b.lo AND r.ok <= b.hi)
    """,
)
def clean_snapshot_clone_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10 extension, r7 — zero-copy SHALLOW CLONE with copy-on-write
    divergence, value-verified end to end: clone the 3-file banded
    table (snapshot_clone — a v1 manifest referencing the source's
    files by absolute path, no bytes moved), DELETE the [p40, p60]
    band on the CLONE, and aggregate BOTH tables.  The source must be
    bit-unchanged, the clone must miss exactly the band, the stats
    carried through the clone must have routed the delete to 1 of 3
    files, and 2 source files must still be shared by reference.

    At 100 TB this is the experiment-branch verb: O(manifest) to
    branch a petabyte table, copy-on-write cost proportional to what
    the branch actually changes."""
    from specialsid_spark.operators.snapshot import (
        snapshot_clone,
        snapshot_delete,
        snapshot_read,
    )
    from specialsid_spark.session import session_workdir

    src, lo, hi = _banded_snapshot_table(spark, sf_dir, "specialsid_clone_")
    from pathlib import Path

    dst = str(Path(session_workdir("specialsid_clonedst_")) / "tbl")
    snapshot_clone(src, dst)
    _, n_rewritten, _ = snapshot_delete(spark, dst, "ok", lo, hi)
    from specialsid_spark.operators.snapshot import _read_manifest

    n_shared = sum(
        1 for f in _read_manifest(dst, 2)["files"] if f.startswith("/")
    )
    src_agg = snapshot_read(spark, src).agg(
        F.count(F.lit(1)).cast("long").alias("src_rows"),
        F.sum("cents_v").cast("long").alias("src_cents"),
    )
    clone_agg = snapshot_read(spark, dst).agg(
        F.count(F.lit(1)).cast("long").alias("clone_rows"),
        F.sum("cents_v").cast("long").alias("clone_cents"),
    )
    return src_agg.crossJoin(clone_agg).select(
        "src_rows",
        "src_cents",
        "clone_rows",
        "clone_cents",
        F.lit(n_rewritten).cast("int").alias("n_files_rewritten"),
        F.lit(n_shared).cast("int").alias("n_files_shared"),
    )


@register(
    "clean_snapshot_schema_evolution",
    # v1 commits (ok, cents); v2 APPENDS rows that carry a NEW
    # `priority` column.  The merged read fills NULL for pre-evolution
    # files, so n_with_priority and the md5 checksum of the new
    # column's values are restatable from orders by the key predicate.
    oracle="""
    WITH o AS (
      SELECT o_orderkey AS ok,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             o_orderpriority AS prio
      FROM orders WHERE o_orderkey < 4000
    )
    SELECT 1 AS version,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(cents) AS BIGINT) AS sum_cents,
           CAST(0 AS BIGINT) AS n_with_priority,
           CAST(0 AS BIGINT) AS priority_ck
    FROM o WHERE ok % 3 = 0
    UNION ALL
    SELECT 2,
           CAST(count(*) AS BIGINT),
           CAST(sum(cents) AS BIGINT),
           CAST(count(CASE WHEN ok % 3 = 1 THEN 1 END) AS BIGINT),
           CAST(COALESCE(sum(CASE WHEN ok % 3 = 1 THEN
             ('0x' || substring(md5(prio), 1, 8))::BIGINT END), 0) AS BIGINT)
    FROM o WHERE ok % 3 IN (0, 1)
    ORDER BY version
    """,
)
def clean_snapshot_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10 extension (r9 wave 2) — ADDITIVE schema evolution on the
    manifest lakehouse: version 2 appends files carrying a NEW
    `priority` column without rewriting version 1's immutable files;
    the merged read unions the schemas and fills NULL where a file
    predates the column.  At 100 TB a column add is a metadata
    operation, never a table rewrite.  The md5 checksum over the new
    column's values proves the evolved column's CONTENT survives, not
    just its shape; time-traveling to v1 still yields the old schema.

    Scale shape: identical to the other snapshot queries — commits are
    parquet writes + one O(1) manifest publish; per-version aggregates
    are lazy unions over manifest-pinned reads."""
    from pathlib import Path

    from specialsid_spark.operators.snapshot import snapshot_commit, snapshot_read
    from specialsid_spark.queries._determinism import cents
    from specialsid_spark.session import session_workdir

    o = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") < 4000)
        .select(
            F.col("o_orderkey").alias("ok"),
            cents("o_totalprice").alias("cents_v"),
            F.col("o_orderpriority").alias("prio"),
        )
    )
    work = Path(session_workdir("specialsid_snapev_"))
    t = str(work / "tbl")
    snapshot_commit(
        o.filter(F.col("ok") % 3 == 0).select("ok", "cents_v"), t, mode="append"
    )
    snapshot_commit(
        o.filter(F.col("ok") % 3 == 1).select(
            "ok", "cents_v", F.col("prio").alias("priority")
        ),
        t,
        mode="append",
    )
    r1 = snapshot_read(spark, t, 1)
    assert "priority" not in r1.columns  # time travel keeps the old schema
    a1 = r1.agg(
        F.lit(1).cast("long").alias("version"),
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("cents_v").cast("long").alias("sum_cents"),
        F.lit(0).cast("long").alias("n_with_priority"),
        F.lit(0).cast("long").alias("priority_ck"),
    )
    r2 = snapshot_read(spark, t, 2, merge_schema=True)
    pck = F.conv(F.substring(F.md5("priority"), 1, 8), 16, 10).cast("long")
    a2 = r2.agg(
        F.lit(2).cast("long").alias("version"),
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("cents_v").cast("long").alias("sum_cents"),
        F.count("priority").cast("long").alias("n_with_priority"),
        F.coalesce(F.sum(pck), F.lit(0)).cast("long").alias("priority_ck"),
    )
    return a1.unionByName(a2).orderBy("version")


@register(
    "clean_snapshot_deletion_vectors",
    # Version contents derive from orders by the delete predicates:
    # v1 = all keys < 4000; v2 masks [1000, 1999]; v3 additionally
    # masks [1500, 2499] (overlapping — re-deleted positions must not
    # double-count).  n_rewritten restates the merge-on-read promise:
    # NO data file is ever replaced, so every version's file list is
    # exactly v1's.
    oracle="""
    WITH o AS (
      SELECT o_orderkey AS ok,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders WHERE o_orderkey < 4000
    )
    SELECT 1 AS version, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(cents) AS BIGINT) AS sum_cents,
           CAST(0 AS BIGINT) AS n_rewritten
    FROM o
    UNION ALL
    SELECT 2, CAST(count(*) AS BIGINT), CAST(sum(cents) AS BIGINT),
           CAST(0 AS BIGINT)
    FROM o WHERE ok NOT BETWEEN 1000 AND 1999
    UNION ALL
    SELECT 3, CAST(count(*) AS BIGINT), CAST(sum(cents) AS BIGINT),
           CAST(0 AS BIGINT)
    FROM o WHERE ok NOT BETWEEN 1000 AND 2499
    ORDER BY version
    """,
)
def clean_snapshot_deletion_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10 extension — merge-on-read DELETE via deletion vectors
    (operators/snapshot.py snapshot_delete_dv): commit a table, run two
    OVERLAPPING range deletes that write position sidecars instead of
    rewriting files, then read every version back through its manifest
    (v1 still sees the deleted rows — time travel is unaffected, data
    files are immutable).  n_rewritten counts files in each version's
    manifest that v1 did not reference — all zero, the merge-on-read
    proof (contrast clean_snapshot_stats_pruning's copy-on-write
    rewrites).  The overlap between the two predicates pins the
    position-dedup rule: a position lands in at most one DV.

    Scale shape: each delete scans only stats-pruned candidate files
    for matching positions and writes O(|matches|) sidecar rows; reads
    subtract the DV with a broadcast anti-join on (file, pos).  At
    100 TB this is the only affordable shape for frequent small
    deletes (GDPR erasure, spam takedowns) on petabyte tables."""
    from functools import reduce
    from pathlib import Path

    from specialsid_spark.operators.snapshot import (
        _read_manifest,
        snapshot_commit,
        snapshot_delete_dv,
        snapshot_read,
    )
    from specialsid_spark.queries._determinism import cents
    from specialsid_spark.session import session_workdir

    o = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") < 4000)
        .select(
            F.col("o_orderkey").alias("ok"),
            cents("o_totalprice").alias("cents_v"),
        )
    )
    work = Path(session_workdir("specialsid_dv_"))
    t = str(work / "tbl")
    snapshot_commit(o, t, mode="append")
    snapshot_delete_dv(spark, t, "ok", 1000, 1999)
    snapshot_delete_dv(spark, t, "ok", 1500, 2499)
    v1_files = set(_read_manifest(t, 1)["files"])
    per_version = [
        snapshot_read(spark, t, v).agg(
            F.lit(v).alias("version"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("cents_v").cast("long").alias("sum_cents"),
            F.lit(
                len(set(_read_manifest(t, v)["files"]) - v1_files)
            ).cast("long").alias("n_rewritten"),
        )
        for v in (1, 2, 3)
    ]
    return reduce(lambda a, b: a.unionByName(b), per_version).orderBy("version")


@register(
    "clean_snapshot_restore_rows",
    # Version contents derive from orders by the commit story: v1 =
    # all keys < 4000; v2 = a BAD overwrite that kept only keys < 1000
    # (the incident); v3 = RESTORE TO VERSION 1 — bit-identical to v1
    # because it references v1's very files.  The op column pins the
    # manifest lineage ('append' / 'overwrite' / 'restore'), and
    # n_new_files pins the zero-copy promise: the restore commit wrote
    # NO data files of its own.
    oracle="""
    WITH o AS (
      SELECT o_orderkey AS ok,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders WHERE o_orderkey < 4000
    )
    SELECT 1 AS version, 'append' AS op,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(cents) AS BIGINT) AS sum_cents,
           CAST(0 AS BIGINT) AS n_new_files
    FROM o
    UNION ALL
    SELECT 2, 'overwrite', CAST(count(*) AS BIGINT),
           CAST(sum(cents) AS BIGINT), CAST(-1 AS BIGINT)
    FROM o WHERE ok < 1000
    UNION ALL
    SELECT 3, 'restore', CAST(count(*) AS BIGINT),
           CAST(sum(cents) AS BIGINT), CAST(0 AS BIGINT)
    FROM o
    ORDER BY version
    """,
)
def clean_snapshot_restore_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10 extension (r13) — the RESTORE incident-response verb
    (operators/snapshot.py snapshot_restore), value-verified end to
    end: commit a table (v1), destroy it with a bad OVERWRITE (v2),
    then RESTORE TO VERSION 1 (v3) and read every version back through
    its manifest.  v3 must be bit-identical to v1 — it references v1's
    immutable files, so the restore wrote zero data files (n_new_files
    pins that from the manifest: every v3 file is already a v1 file;
    v2's count is -1, i.e. unasserted, because overwrite file layout
    is writer-dependent).  The mistake stays in history: v2 still time
    travels, so the restore is itself auditable and reversible.

    At 100 TB this is the verb that makes a bad ingest a one-manifest
    fix instead of a table copy; cost is O(manifest), not O(data)."""
    from functools import reduce
    from pathlib import Path

    from specialsid_spark.operators.snapshot import (
        _read_manifest,
        snapshot_commit,
        snapshot_read,
        snapshot_restore,
    )
    from specialsid_spark.queries._determinism import cents
    from specialsid_spark.session import session_workdir

    o = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") < 4000)
        .select(
            F.col("o_orderkey").alias("ok"),
            cents("o_totalprice").alias("cents_v"),
        )
    )
    work = Path(session_workdir("specialsid_restore_"))
    t = str(work / "tbl")
    snapshot_commit(o, t, mode="append")
    snapshot_commit(o.filter(F.col("ok") < 1000), t, mode="overwrite")
    snapshot_restore(t, 1)
    v1_files = set(_read_manifest(t, 1)["files"])
    per_version = []
    for v in (1, 2, 3):
        m = _read_manifest(t, v)
        # v2's own-file count is writer-dependent; pin -1 there, and for
        # v1/v3 pin "files not in v1" (restore must introduce none)
        n_new = -1 if v == 2 else len(set(m["files"]) - v1_files)
        per_version.append(
            snapshot_read(spark, t, v).agg(
                F.lit(v).alias("version"),
                F.lit(m["op"]).alias("op"),
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum("cents_v").cast("long").alias("sum_cents"),
                F.lit(n_new).cast("long").alias("n_new_files"),
            )
        )
    return reduce(lambda a, b: a.unionByName(b), per_version).orderBy("version")
