"""Vision-LLM extraction harness (SURVEY.md §2.4 D2, §2.9 T6/T7, §2.10 U3).

The reference's core parser is a Gemini call per page image with a
5-model fallback chain, API-key rotation on 429, and sleep-based rate
limiting (pnp-vision-parserLambda.py:15,28-64,118-161,199).  Spark-first
this becomes ONE mapInPandas operator whose kernel:

* lazily initializes a backend client once per executor (never
  serialized in the closure — U3),
* enforces a per-executor token-bucket rate limit (T6; the budget is
  divided by parallelism by the caller),
* walks a fallback chain with retries on transient errors (T7),
* emits one row per extracted product (flatMap image -> products).

The real LLM backend is not available in this container; the default
``MockVisionBackend`` derives deterministic products from the image
bytes so the whole dataflow is testable.  A real backend plugs in via
``backend_factory`` (e.g. a Gemini client reading its key from an env
var on the executor).
"""

from __future__ import annotations

import hashlib
import time
from collections.abc import Callable, Iterator
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

PRODUCT_JSON_SCHEMA = T.StructType(
    [
        T.StructField("source_path", T.StringType()),
        T.StructField("product_name", T.StringType()),
        T.StructField("brand", T.StringType()),
        T.StructField("current_price", T.DoubleType()),
        T.StructField("was_price", T.DoubleType()),
        T.StructField("weight_volume", T.StringType()),
        T.StructField("unit", T.StringType()),
        T.StructField("deal_type", T.StringType()),
        T.StructField("multi_buy_quantity", T.IntegerType()),
        T.StructField("bounding_box", T.ArrayType(T.IntegerType())),
        T.StructField("group_id", T.StringType()),
    ]
)


class ExtractionError(Exception):
    pass


class MockVisionBackend:
    """Deterministic fake extractor: N products per image derived from
    the content hash.  ``fail_models`` simulates per-model outages to
    exercise the fallback chain in tests."""

    def __init__(self, model: str, fail_models: frozenset[str] = frozenset()):
        self.model = model
        self.fail_models = fail_models

    def extract(self, image_bytes: bytes) -> list[dict]:
        if self.model in self.fail_models:
            raise ExtractionError(f"model {self.model} unavailable")
        h = hashlib.md5(image_bytes).digest()
        n = 1 + h[0] % 3
        out = []
        for i in range(n):
            out.append(
                {
                    "product_name": f"product_{h[:4].hex()}_{i}",
                    "brand": ["Pick n Pay", "KOO", "Lays", None][h[1 + i] % 4],
                    "current_price": round(5.0 + (h[2 + i] % 100) * 0.5, 2),
                    "was_price": round(10.0 + (h[3 + i] % 100) * 0.5, 2)
                    if h[3 + i] % 2
                    else None,
                    "weight_volume": str(100 + h[4 + i]),
                    "unit": ["g", "KG", "Litres", "330ml"][h[5 + i] % 4],
                    "deal_type": ["Any 2", "Combo", None][h[6 + i] % 3],
                    "multi_buy_quantity": 1 + h[7 + i] % 3,
                    "bounding_box": [
                        int(h[8 + i]) * 2,
                        int(h[9 + i]) * 2,
                        int(h[8 + i]) * 2 + 100,
                        int(h[9 + i]) * 2 + 150,
                    ],
                    "group_id": f"deal_{h[10 + i] % 5}" if h[10 + i] % 2 else None,
                }
            )
        return out


@dataclass
class ExtractionConfig:
    """T7 fallback chain + T6 rate limit, driver-configured, executor-enforced."""

    models: tuple[str, ...] = ("model-a", "model-b", "model-c")
    max_retries_per_model: int = 2
    requests_per_second: float = 0.0  # 0 = unlimited (tests); per-executor budget
    backend_factory: Callable[[str], object] | None = None
    fail_models: frozenset[str] = frozenset()


@dataclass
class _TokenBucket:
    rate: float
    last: float = field(default_factory=time.monotonic)

    def acquire(self) -> None:
        if self.rate <= 0:
            return
        now = time.monotonic()
        wait = (1.0 / self.rate) - (now - self.last)
        if wait > 0:
            time.sleep(wait)
        self.last = time.monotonic()


def _extract_with_fallback(config: ExtractionConfig, cache: dict, blob: bytes) -> list[dict]:
    """Walk the model chain; per-executor lazy clients live in ``cache``."""
    factory = config.backend_factory or (
        lambda m: MockVisionBackend(m, fail_models=config.fail_models)
    )
    last_err: Exception | None = None
    for model in config.models:
        client = cache.get(model)
        if client is None:
            client = cache[model] = factory(model)  # lazy per-executor init (U3)
        for _ in range(config.max_retries_per_model):
            try:
                return client.extract(blob)
            except Exception as e:  # noqa: BLE001 — fallback chain catches all
                last_err = e
    raise ExtractionError(f"all models failed: {last_err}")


def extract_products(
    images: DataFrame,
    config: ExtractionConfig | None = None,
    path_col: str = "path",
    bin_col: str = "content",
) -> DataFrame:
    """The D2 flatMap: (path, image_bytes) -> product rows.

    Arrow-batched mapInPandas; rate limit + fallback chain run inside
    the kernel so a 1000-executor cluster self-throttles per executor.
    """
    cfg = config or ExtractionConfig()

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        clients: dict = {}
        bucket = _TokenBucket(cfg.requests_per_second)
        for pdf in batches:
            rows: list[dict] = []
            for path, blob in zip(pdf[path_col], pdf[bin_col]):
                bucket.acquire()
                for product in _extract_with_fallback(cfg, clients, bytes(blob)):
                    rows.append({"source_path": path, **product})
            yield pd.DataFrame(
                rows, columns=[f.name for f in PRODUCT_JSON_SCHEMA.fields]
            ) if rows else pd.DataFrame(
                {f.name: pd.Series(dtype="object") for f in PRODUCT_JSON_SCHEMA.fields}
            )

    return images.mapInPandas(fn, PRODUCT_JSON_SCHEMA)


def products_to_json_rows(products: DataFrame) -> DataFrame:
    """S9 JSON sink shape: serialize each product row back to a JSON
    string (the pro-zone page JSON), JVM-side via to_json."""
    from pyspark.sql import functions as F

    return products.select(
        "source_path",
        F.to_json(
            F.struct(*[c for c in products.columns if c != "source_path"])
        ).alias("json"),
    )
