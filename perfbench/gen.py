"""Seeded input generators for the benchmark.

Two kinds of input, both a pure function of the seed:

* ``write_tables`` — the eight fixture tables the analyst queries read
  (a TPC-H-like star schema and an ``events`` stream table), written as
  one parquet file each, in the shapes and value ranges the queries
  expect.
* ``PagePool`` / ``catalogue_pages`` — the daily-ingest drops: a small
  pool of JPEG catalogue pages is encoded once per seed, and each day's
  catalogue is composed from it, with a fixed share of pages repeating
  an earlier day byte for byte (weekly specials).
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

# (page width, page height) of every catalogue page: far below a 300 DPI
# scan, so that the pure-Python JPEG crop of a page (about 0.18 s) leaves
# room for a 16-page catalogue a day within a run.
PAGE_W, PAGE_H = 256, 192


def _ts(days_from: str, day_offsets: np.ndarray) -> np.ndarray:
    return (np.datetime64(days_from, "D") + day_offsets.astype("timedelta64[D]")).astype(
        "datetime64[us]"
    )


def _write(out_dir: str, name: str, df: pd.DataFrame) -> None:
    pq.write_table(
        pa.Table.from_pandas(df, preserve_index=False),
        os.path.join(out_dir, f"{name}.parquet"),
    )


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the eight query tables at scale ``sf``; returns rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = int(15_000 * sf)

    def money(lo: float, hi: float, n: int) -> np.ndarray:
        return np.round(rng.uniform(lo, hi, n), 2)

    tables = {
        "region": pd.DataFrame(
            {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS}
        ),
        "nation": pd.DataFrame(
            {
                "n_nationkey": np.arange(25, dtype=np.int32),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": (np.arange(25) % 5).astype(np.int32),
            }
        ),
        "customer": pd.DataFrame(
            {
                "c_custkey": np.arange(n_cust, dtype=np.int64),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
                "c_acctbal": money(-999.99, 9999.99, n_cust),
                "c_mktsegment": rng.choice(SEGMENTS, n_cust),
            }
        ),
        "supplier": pd.DataFrame(
            {
                "s_suppkey": np.arange(n_supp, dtype=np.int64),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
                "s_acctbal": money(-999.99, 9999.99, n_supp),
            }
        ),
        "part": pd.DataFrame(
            {
                "p_partkey": np.arange(n_part, dtype=np.int64),
                "p_name": [
                    f"{ADJECTIVES[a]} {NOUNS[b]}"
                    for a, b in rng.integers(0, 8, (n_part, 2))
                ],
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                "p_type": rng.choice(PART_TYPES, n_part),
                "p_size": rng.integers(1, 51, n_part).astype(np.int32),
                "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10, 1),
            }
        ),
        "orders": pd.DataFrame(
            {
                "o_orderkey": np.arange(n_ord, dtype=np.int64),
                "o_custkey": rng.integers(0, n_cust, n_ord),
                "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
                "o_totalprice": money(1000.0, 500000.0, n_ord),
                "o_orderdate": _ts("1995-01-01", rng.integers(0, 2404, n_ord)),
                "o_orderpriority": rng.choice(PRIORITIES, n_ord),
            }
        ),
        "lineitem": pd.DataFrame(
            {
                "l_orderkey": rng.integers(0, n_ord, n_li),
                "l_partkey": rng.integers(0, n_part, n_li),
                "l_suppkey": rng.integers(0, n_supp, n_li),
                "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
                "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
                "l_extendedprice": money(900.0, 105000.0, n_li),
                "l_discount": rng.integers(0, 11, n_li) / 100.0,
                "l_tax": rng.integers(0, 9, n_li) / 100.0,
                "l_returnflag": rng.choice(["A", "N", "R"], n_li),
                "l_linestatus": rng.choice(["F", "O"], n_li),
                "l_shipdate": _ts("1995-01-02", rng.integers(0, 2498, n_li)),
            }
        ),
        "events": pd.DataFrame(
            {
                "event_id": np.arange(n_ev, dtype=np.int64),
                "ts": np.datetime64("2024-01-01", "us")
                + np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev)).astype(
                    "timedelta64[us]"
                ),
                "user_id": rng.integers(0, n_users, n_ev),
                "event_type": rng.choice(EVENT_TYPES, n_ev),
                "value": np.round(rng.exponential(50.0, n_ev), 2),
                "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
            }
        ),
    }
    for name, df in tables.items():
        _write(out_dir, name, df)
    return {name: len(df) for name, df in tables.items()}


class PagePool:
    """``size`` blocky RGB catalogue pages, JPEG-encoded once per seed.

    A fresh page is a pool image with a unique JPEG comment segment: the
    pixels (and so the decode and crop work) come from the pool, while
    the bytes are new.  The comment is chosen so that the mock vision
    backend, which derives one to three products from a hash of the
    bytes, finds two (its mean) and boxes only one of them inside the
    page, so every page is cropped once: every day then extracts and
    crops the same number of products, and the seed varies content, not
    volume.  A repeated page is an earlier page's exact bytes."""

    def __init__(self, seed: int, size: int = 6):
        from specialsid_spark.operators.extraction import MockVisionBackend
        from specialsid_spark.operators.jpeg import encode_jpeg

        rng = np.random.default_rng(seed + 1)
        self.images = []
        for _ in range(size):
            blocks = rng.integers(0, 256, (PAGE_H // 8, PAGE_W // 8, 3), dtype=np.uint8)
            px = np.repeat(np.repeat(blocks, 8, axis=0), 8, axis=1)
            self.images.append(encode_jpeg(PAGE_W, PAGE_H, 3, px.tobytes(), quality=75))
        self.rng = rng
        self.vision = MockVisionBackend("pool")
        self.issued: list[bytes] = []

    def _accept(self, page: bytes) -> bool:
        products = self.vision.extract(page)
        on_page = [p["bounding_box"][0] < PAGE_H and p["bounding_box"][1] < PAGE_W for p in products]
        return len(products) == 2 and sum(on_page) == 1

    def fresh(self, tag: str) -> bytes:
        base = self.images[int(self.rng.integers(0, len(self.images)))]
        for k in range(10_000):
            body = f"{tag}-{k}".encode()
            com = b"\xff\xfe" + (len(body) + 2).to_bytes(2, "big") + body
            page = base[:2] + com + base[2:]  # COM segment right after SOI
            if self._accept(page):
                break
        self.issued.append(page)
        return page

    def repeat(self) -> bytes:
        return self.issued[int(self.rng.integers(0, len(self.issued)))]


def catalogue_pages(pool: PagePool, day: int, pages: int, repeat_share: float) -> list[bytes]:
    """One day's catalogue: ``round(pages * repeat_share)`` pages repeat
    earlier days (none on day 0), the rest are fresh."""
    n_rep = round(pages * repeat_share) if pool.issued else 0
    reps = [pool.repeat() for _ in range(n_rep)]
    fresh = [pool.fresh(f"day{day}-page{i}") for i in range(pages - n_rep)]
    order = pool.rng.permutation(pages)
    both = fresh + reps
    return [both[i] for i in order]
