"""Streaming pipeline as a driver-checkable query (rows-only).

Runs the full 4-zone chain (raw binary -> pages -> extraction -> clean
partitioned parquet) with availableNow triggers on a fresh temp dir and
returns the clean zone.  Deterministic: the mock extraction backend
derives products from content hashes, so row values are stable across
runs (modulo the temp path, which is not projected).
"""

from __future__ import annotations

import shutil
import tempfile
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from specialsid_spark.operators.extraction import ExtractionConfig
from specialsid_spark.queries import register
from specialsid_spark.streaming.pipeline import run_full_pipeline


@register(
    "stream_pipeline_e2e",
    # Fixture-pinned oracle (VERDICT r8 #2): the chain's inputs are two
    # literal byte strings and the mock extraction backend derives
    # products from content md5s, so the output multiset is a constant —
    # restated here row-for-row, like the mm_* codec oracles restate
    # pixel sums.  Any drift in page explode, extraction, or the
    # cleaner flips the hash; previously this was a rows-only check.
    oracle="""
    SELECT * FROM (VALUES
      ('product_1e2d1a8f_0', 'Koo', CAST(18.0 AS DOUBLE), 'g', 'UNKNOWN', 'Gauteng'),
      ('product_52af981e_0', NULL, CAST(31.0 AS DOUBLE), 'litre', 'UNKNOWN', 'Gauteng'),
      ('product_52af981e_1', 'PnP', CAST(20.0 AS DOUBLE), 'litre', 'UNKNOWN', 'Gauteng'),
      ('product_8adc5937_0', 'PnP', CAST(49.5 AS DOUBLE), 'kg', 'deal_1', 'Gauteng'),
      ('product_8adc5937_0', 'PnP', CAST(49.5 AS DOUBLE), 'kg', 'deal_1', 'Gauteng'),
      ('product_f9d3f466_0', NULL, CAST(27.0 AS DOUBLE), 'kg', 'deal_4', 'Gauteng')
    ) AS t(product_name, brand, current_price, unit, group_id, province)
    ORDER BY product_name
    """,
)
def stream_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    work = Path(tempfile.mkdtemp(prefix="specialsid_stream_"))
    raw = work / "raw"
    raw.mkdir()
    (raw / "flyer_a.pdf").write_bytes(b"A" * 250)
    (raw / "flyer_b.pdf").write_bytes(b"B" * 120)

    clean_dir = run_full_pipeline(
        spark, str(raw), str(work / "zones"), ExtractionConfig(requests_per_second=0)
    )
    out = (
        spark.read.parquet(clean_dir)
        .select(
            "product_name",
            "brand",
            "current_price",
            "unit",
            "group_id",
            "province",
        )
        .orderBy("product_name")
    )
    rows = out.collect()
    df = spark.createDataFrame(rows, out.schema) if rows else out
    shutil.rmtree(work, ignore_errors=True)
    # materialized before cleanup so the caller can lazily re-collect
    return df.orderBy("product_name") if rows else out


@register(
    "stream_batch_parity",
    # Fixture-pinned oracle (VERDICT r8 #2): same contract as
    # stream_pipeline_e2e — literal inputs + md5-derived mock
    # extraction make the output a constant multiset.
    oracle="""
    SELECT * FROM (VALUES
      ('product_3bb9f6d0_0', 'Koo', CAST(28.0 AS DOUBLE), 'kg', 'UNKNOWN', 'Natal'),
      ('product_3bb9f6d0_1', 'Lays', CAST(9.0 AS DOUBLE), 'ml', 'deal_3', 'Natal'),
      ('product_3bb9f6d0_2', 'PnP', CAST(18.0 AS DOUBLE), 'g', 'UNKNOWN', 'Natal'),
      ('product_e993f498_0', NULL, CAST(27.0 AS DOUBLE), 'kg', 'deal_0', 'Gauteng'),
      ('product_e993f498_1', 'PnP', CAST(31.0 AS DOUBLE), 'kg', 'UNKNOWN', 'Gauteng'),
      ('product_e993f498_2', 'PnP', CAST(18.0 AS DOUBLE), 'kg', 'deal_4', 'Gauteng')
    ) AS t(product_name, brand, current_price, unit, group_id, province)
    ORDER BY product_name
    """,
)
def stream_batch_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cleaner applied via batch on the same synthetic extraction
    output — demonstrates the batch/streaming unification (one transform
    fn, two execution modes)."""
    from specialsid_spark.operators.clean import clean_products
    from specialsid_spark.operators.extraction import extract_products

    imgs = spark.createDataFrame(
        [
            ("data/pro/json/PnP/Gauteng/flyer_w1/page_1.json", b"A" * 250),
            ("data/pro/json/PnP/Natal/flyer_w1/page_2.json", b"B" * 120),
        ],
        "path string, content binary",
    )
    products = extract_products(imgs).withColumnRenamed("source_path", "source_path")
    cleaned = clean_products(products, path_col="source_path")
    return cleaned.select(
        "product_name", "brand", "current_price", "unit", "group_id", "province"
    ).orderBy("product_name")
