"""The crop kernel behind ``crop_regions`` (operators/multimodal.py
``crop_boxes``): one decode per distinct page, parity with the per-row
fallback chain it replaced (kept below as the referee), and an empty
crop for a box that lies off a decoded page."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from specialsid_spark.operators import gif, jpeg, multimodal, pnm, tiff
from specialsid_spark.operators.gif import crop_gif, encode_gif
from specialsid_spark.operators.jpeg import (
    crop_jpeg,
    decode_jpeg,
    encode_jpeg,
    encode_jpeg_progressive,
)
from specialsid_spark.operators.multimodal import (
    crop_bmp,
    crop_boxes,
    crop_png,
    crop_raster,
    crop_regions,
    encode_png,
)
from specialsid_spark.operators.pnm import encode_pnm
from specialsid_spark.operators.tiff import build_tiff

W, H = 40, 24


def _referee(boxes, blobs, out_format):
    """The per-row chain: every row tries each cropper in turn (each one
    decoding the page again) and falls back to a byte slice of the
    compressed payload."""
    crops = []
    for bbox, blob in zip(boxes, blobs):
        if bbox is None or len(bbox) != 4:
            crops.append(None)
            continue
        ymin, xmin, ymax, xmax = (int(v) for v in bbox)
        real = crop_bmp(bytes(blob), ymin, xmin, ymax, xmax)
        if real is None:
            real = crop_png(bytes(blob), ymin, xmin, ymax, xmax)
        if real is None:
            real = crop_jpeg(bytes(blob), ymin, xmin, ymax, xmax, out_format)
        if real is None:
            real = crop_gif(bytes(blob), ymin, xmin, ymax, xmax, out_format)
        if real is None:
            real = crop_raster(bytes(blob), ymin, xmin, ymax, xmax)
        if real is not None:
            crops.append(real)
            continue
        lo = max(0, min(len(blob) - 1, ymin))
        hi = max(lo + 1, min(len(blob), ymax))
        crops.append(bytes(blob[lo:hi]))
    return crops


def _bmp24(w: int, h: int, px: bytes) -> bytes:
    stride = (24 * w + 31) // 32 * 4
    rows = []
    for y in range(h - 1, -1, -1):  # bottom-up storage
        bgr = bytes(px[(y * w) * 3 : (y * w + w) * 3])
        rows.append(bgr + b"\x00" * (stride - 3 * w))
    data = b"".join(rows)
    dib = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(data), 2835, 2835, 0, 0)
    return b"BM" + struct.pack("<IHHI", 54 + len(data), 0, 0, 54) + dib + data


def _pages() -> dict[str, bytes]:
    rng = np.random.default_rng(5)
    rgb = rng.integers(0, 256, (H, W, 3), dtype=np.uint8)
    gray = rng.integers(0, 256, (H, W, 1), dtype=np.uint8)
    flat = rgb.tobytes()
    return {
        "bmp": _bmp24(W, H, flat),
        "png": encode_png(W, H, 3, flat),
        "png_gray": encode_png(W, H, 1, gray.tobytes()),
        "jpeg_420": encode_jpeg(W, H, 3, flat, quality=80, sampling="420"),
        "jpeg_gray": encode_jpeg(W, H, 1, gray.tobytes(), quality=70),
        "jpeg_progressive": encode_jpeg_progressive(W, H, 3, flat, quality=85),
        "gif": encode_gif(W, H, (rgb // 64 * 64).tobytes()),
        "tiff": build_tiff(W, H, 3, flat, "lzw", rows_per_strip=5),
        "pnm": encode_pnm(W, H, 3, flat),
        "opaque": bytes(range(256)) * 2,
    }


BOXES = [
    [2, 3, 15, 21],  # on the page
    [-4, -4, 10, 12],  # partly off: clamped
    [H + 5, 2, H + 30, 20],  # below the page
    [3, W, 9, W + 8],  # right of the page
    None,  # no box
    [1, 2, 3],  # malformed box
    [2, 3, 15, 21],  # the first box again
]


@pytest.mark.parametrize("out_format", ["png", "jpeg"])
def test_kernel_matches_per_row_chain_except_off_page(out_format):
    pages = _pages()
    names = [n for n in pages for _ in BOXES]
    boxes = BOXES * len(pages)
    blobs = [pages[n] for n in names]
    got = crop_boxes(boxes, blobs, out_format)
    want = _referee(boxes, blobs, out_format)
    for name, box, blob, g, w in zip(names, boxes, blobs, got, want):
        decodes = name != "opaque"
        off_page = box is not None and len(box) == 4 and (box[0] >= H or box[1] >= W)
        if decodes and off_page:
            # the one intended change: the chain returned bytes
            # [ymin, ymax) of the compressed file here
            lo = max(0, min(len(blob) - 1, box[0]))
            assert w == blob[lo : max(lo + 1, min(len(blob), box[2]))]
            assert g == b"", (name, box)
        else:
            assert g == w, (name, box)
    # spot-check the output formats of on-page crops
    by_name = dict(zip(names[:: len(BOXES)], got[:: len(BOXES)]))
    assert by_name["bmp"][:2] == b"BM"
    for name in ("png", "png_gray", "tiff", "pnm"):
        assert by_name[name][:8] == b"\x89PNG\r\n\x1a\n", name
    for name in ("jpeg_420", "jpeg_gray", "jpeg_progressive", "gif"):
        magic = b"\xff\xd8" if out_format == "jpeg" else b"\x89PNG\r\n\x1a\n"
        assert by_name[name].startswith(magic), name
    assert by_name["opaque"] == pages["opaque"][2:15]


def test_kernel_decodes_each_distinct_page_once(monkeypatch):
    calls: dict[str, int] = {}

    def counted(mod, name):
        real = getattr(mod, name)

        def wrapper(blob):
            calls[name] = calls.get(name, 0) + 1
            return real(blob)

        monkeypatch.setattr(mod, name, wrapper)

    for mod, name in (
        (multimodal, "decode_png"),
        (jpeg, "decode_jpeg"),
        (gif, "decode_gif"),
        (pnm, "decode_pnm"),
        (tiff, "decode_tiff"),
    ):
        counted(mod, name)

    pages = _pages()
    jpegs = [pages["jpeg_420"], pages["jpeg_gray"], pages["jpeg_progressive"]]
    rows = [(b, p) for p in jpegs for b in BOXES]
    rows.append((None, pages["png"]))  # a page with no usable box: never decoded
    crops = crop_boxes([b for b, _ in rows], [bytes(p) for _, p in rows], "jpeg")
    assert calls == {"decode_png": 3, "decode_jpeg": 3}
    assert sum(c is not None and c[:2] == b"\xff\xd8" for c in crops) == 3 * 3
    assert crops[-1] is None

    # the per-row chain decodes every boxed row, off-page rows twice
    calls.clear()
    _referee([b for b, _ in rows], [p for _, p in rows], "jpeg")
    assert calls["decode_jpeg"] == 3 * (3 + 2 * 2)


def test_crop_regions_off_page_box_yields_empty_crop(spark):
    rng = np.random.default_rng(9)
    px = rng.integers(0, 256, (H, W, 3), dtype=np.uint8)
    page = encode_jpeg(W, H, 3, px.tobytes(), quality=90)
    products = spark.createDataFrame(
        [
            ("p1", "on page", [2, 4, 18, 28]),
            ("p1", "off page", [H + 10, 4, H + 40, 28]),
            ("p1", "no box", None),
        ],
        "page_key string, product_name string, bounding_box array<int>",
    )
    images = spark.createDataFrame([("p1", bytearray(page))], "page_key string, image_bytes binary")
    out = {
        r["product_name"]: r["crop_bytes"]
        for r in crop_regions(products, images, out_format="jpeg").collect()
    }
    w, h, _ch, _px = decode_jpeg(bytes(out["on page"]))
    assert (w, h) == (24, 16)
    assert bytes(out["off page"]) == b""
    assert out["no box"] is None
