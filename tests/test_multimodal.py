"""Plumbing tests for the multimodal (binary-column) operators."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

import struct

from specialsid_spark.operators.multimodal import (
    crop_stub,
    decode_image_stub,
    explode_pdf_pages,
    parse_image_meta,
    pdf_page_count,
)


def _jpeg(w: int, h: int) -> bytes:
    """Minimal-but-real JPEG byte stream: SOI, APP0, SOF0 with the given
    dimensions, EOI.  Any SOF-aware parser reads the same (w, h)."""
    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    sof0 = (
        b"\xff\xc0"
        + struct.pack(">H", 17)
        + b"\x08"
        + struct.pack(">HH", h, w)
        + b"\x03\x01\x22\x00\x02\x11\x01\x03\x11\x01"
    )
    return b"\xff\xd8" + app0 + sof0 + b"\xff\xd9"


def _png(w: int, h: int) -> bytes:
    ihdr = struct.pack(">II", w, h) + b"\x08\x02\x00\x00\x00"
    return b"\x89PNG\r\n\x1a\n" + struct.pack(">I", 13) + b"IHDR" + ihdr + b"\x00" * 8


def _gif(w: int, h: int) -> bytes:
    return b"GIF89a" + struct.pack("<HH", w, h) + b"\x00" * 6


def _bmp(w: int, h: int) -> bytes:
    # 14-byte file header, then BITMAPINFOHEADER (size 40) — the sniff
    # requires a real DIB header size at offset 14, not just "BM".
    return b"BM" + b"\x00" * 12 + struct.pack("<I", 40) + struct.pack("<ii", w, h) + b"\x00" * 10


def _pdf(n_pages: int) -> bytes:
    body = b"%PDF-1.4\n1 0 obj << /Type /Pages /Count " + str(n_pages).encode() + b" >> endobj\n"
    for i in range(n_pages):
        body += str(i + 2).encode() + b" 0 obj << /Type /Page /Parent 1 0 R >> endobj\n"
    return body + b"%%EOF"


def _webp_vp8x(w: int, h: int) -> bytes:
    """Extended WebP: VP8X chunk carries canvas (w-1, h-1) as 24-bit LE."""
    payload = (
        b"WEBPVP8X"
        + struct.pack("<I", 10)
        + b"\x00\x00\x00\x00"  # flags + reserved
        + (w - 1).to_bytes(3, "little")
        + (h - 1).to_bytes(3, "little")
    )
    return b"RIFF" + struct.pack("<I", len(payload)) + payload


def _webp_vp8l(w: int, h: int) -> bytes:
    """Lossless WebP: 0x2F signature then 14-bit (w-1) | 14-bit (h-1)."""
    bits = (w - 1) | ((h - 1) << 14)
    payload = b"WEBPVP8L" + struct.pack("<I", 5) + b"\x2f" + struct.pack("<I", bits)
    return b"RIFF" + struct.pack("<I", len(payload)) + payload


def _webp_vp8(w: int, h: int) -> bytes:
    """Lossy WebP: 3-byte frame tag, 9D 01 2A start code, two LE u14 dims."""
    payload = (
        b"WEBPVP8 "
        + struct.pack("<I", 10)
        + b"\x00\x00\x00"  # frame tag
        + b"\x9d\x01\x2a"
        + struct.pack("<HH", w, h)
    )
    return b"RIFF" + struct.pack("<I", len(payload)) + payload


def _pdf_linearized(n_pages: int) -> bytes:
    """Fast-web-view layout: a /Linearized param dict first, first page
    object moved ahead of the /Pages tree, then an incremental-update
    tail re-writing object 1 — the three structural quirks a naive
    'count after the root' scan trips on."""
    out = b"%PDF-1.6\n9 0 obj << /Linearized 1 /L 1234 /N " + str(n_pages).encode()
    out += b" >> endobj\n"
    out += b"2 0 obj <</Type/Page/Parent 1 0 R>> endobj\n"  # no whitespace
    out += b"1 0 obj << /Type /Pages /Count " + str(n_pages).encode() + b" /Kids ["
    out += b" ".join(str(i + 2).encode() + b" 0 R" for i in range(n_pages)) + b"] >> endobj\n"
    for i in range(1, n_pages):
        out += str(i + 2).encode() + b" 0 obj << /Type /Page /Parent 1 0 R >> endobj\n"
    out += b"xref\ntrailer << /Root 3 0 R >>\nstartxref\n0\n%%EOF\n"
    # incremental update: a re-written /Pages node must not be re-counted
    out += b"1 0 obj << /Type /Pages /Count " + str(n_pages).encode() + b" >> endobj\n"
    out += b"startxref\n0\n%%EOF"
    return out


def _pdf_objstm(n_visible: int) -> bytes:
    """PDF 1.5 object-stream file: page dicts hidden inside a compressed
    /ObjStm (zlib), plus `n_visible` classic page leaves outside it."""
    import zlib

    hidden = b"".join(
        b"<< /Type /Page /Parent 1 0 R >>\n" for _ in range(5)
    )
    stm = zlib.compress(hidden)
    out = b"%PDF-1.5\n4 0 obj << /Type /ObjStm /N 5 /Filter /FlateDecode >> stream\n"
    out += stm + b"\nendstream endobj\n"
    for i in range(n_visible):
        out += str(i + 5).encode() + b" 0 obj << /Type /Page >> endobj\n"
    return out + b"%%EOF"


try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=50, deadline=None)
    @given(
        w=st.integers(min_value=1, max_value=65535),
        h=st.integers(min_value=1, max_value=65535),
    )
    def test_parse_image_meta_roundtrip_property(w, h):
        # any (w, h) written into a real header must parse back exactly
        assert parse_image_meta(_jpeg(w, h)) == (w, h, "jpeg")
        assert parse_image_meta(_png(w, h)) == (w, h, "png")
        assert parse_image_meta(_gif(w, h)) == (w, h, "gif")
        assert parse_image_meta(_bmp(w, h)) == (w, h, "bmp")

    @settings(max_examples=30, deadline=None)
    @given(n=st.integers(min_value=1, max_value=200))
    def test_pdf_page_count_roundtrip_property(n):
        assert pdf_page_count(_pdf(n)) == n

    @settings(max_examples=50, deadline=None)
    @given(
        w=st.integers(min_value=1, max_value=1 << 24),
        h=st.integers(min_value=1, max_value=1 << 24),
    )
    def test_webp_vp8x_roundtrip_property(w, h):
        assert parse_image_meta(_webp_vp8x(w, h)) == (w, h, "webp")

    @settings(max_examples=50, deadline=None)
    @given(
        w=st.integers(min_value=1, max_value=1 << 14),
        h=st.integers(min_value=1, max_value=1 << 14),
    )
    def test_webp_vp8l_roundtrip_property(w, h):
        assert parse_image_meta(_webp_vp8l(w, h)) == (w, h, "webp")

    @settings(max_examples=50, deadline=None)
    @given(
        w=st.integers(min_value=1, max_value=(1 << 14) - 1),
        h=st.integers(min_value=1, max_value=(1 << 14) - 1),
    )
    def test_webp_vp8_lossy_roundtrip_property(w, h):
        assert parse_image_meta(_webp_vp8(w, h)) == (w, h, "webp")

    @settings(max_examples=30, deadline=None)
    @given(n=st.integers(min_value=1, max_value=60))
    def test_pdf_linearized_roundtrip_property(n):
        # linearized layout + whitespace-free dict + incremental update
        # must still count exactly n page leaves
        assert pdf_page_count(_pdf_linearized(n)) == n

except ImportError:  # hypothesis is in the container, but stay import-safe
    pass


def test_webp_adversarial_bytes():
    # truncated VP8L (missing the 0x2F signature byte) -> not parsed
    assert parse_image_meta(b"RIFF\x00\x00\x00\x00WEBPVP8L\x05\x00\x00\x00") is None
    # VP8 lossy without the 9D 01 2A start code -> not parsed
    bad = b"RIFF\x0e\x00\x00\x00WEBPVP8 \x0a\x00\x00\x00\x00\x00\x00\x00\x00\x00\x40\x00\x30\x00"
    assert parse_image_meta(bad) is None
    # unknown first chunk (ANMF before VP8X is malformed) -> not parsed
    assert parse_image_meta(b"RIFF\x20\x00\x00\x00WEBPANMF" + b"\x00" * 20) is None


def test_pdf_objstm_damaged_falls_back_to_visible_leaves():
    """r6: WELL-FORMED object streams are inflated and their packed
    page dicts counted (tests/test_jpeg_pdf.py covers that path via the
    repo's own objstm writer).  THIS fixture's ObjStm is damaged — no
    /First, no header pair table — so its members stay invisible and
    the count falls back to visible leaves, floored at 1."""
    assert pdf_page_count(_pdf_objstm(2)) == 2  # visible leaves still counted
    assert pdf_page_count(_pdf_objstm(0)) == 1  # all-hidden floors at 1


def test_pdf_objstm_wellformed_counts_hidden_pages():
    """A spec-correct ObjStm (header pairs + /First) makes its packed
    page dicts visible to pdf_page_count — the r5 undercount is gone."""
    import zlib as _z

    bodies = [b"<< /Type /Page /Parent 1 0 R >>" for _ in range(5)]
    header = b""
    off = 0
    for k, b in enumerate(bodies):
        header += b"%d %d " % (10 + k, off)
        off += len(b)
    payload = header + b"\n" + b"".join(bodies)
    first = len(header) + 1
    stm = _z.compress(payload)
    out = (
        b"%PDF-1.5\n4 0 obj << /Type /ObjStm /N 5 /First "
        + str(first).encode()
        + b" /Filter /FlateDecode /Length "
        + str(len(stm)).encode()
        + b" >>\nstream\n"
        + stm
        + b"\nendstream endobj\n%%EOF"
    )
    assert pdf_page_count(out) == 5


def test_parse_image_meta_real_headers():
    assert parse_image_meta(_jpeg(640, 480)) == (640, 480, "jpeg")
    assert parse_image_meta(_png(1920, 1080)) == (1920, 1080, "png")
    assert parse_image_meta(_gif(320, 200)) == (320, 200, "gif")
    assert parse_image_meta(_bmp(800, 600)) == (800, 600, "bmp")
    assert parse_image_meta(_bmp(800, -600)) == (800, 600, "bmp")  # top-down BMP
    assert parse_image_meta(b"x" * 250) is None  # opaque bytes -> fallback path
    assert parse_image_meta(b"") is None


def test_pdf_page_count_real_pdf():
    assert pdf_page_count(_pdf(3)) == 3  # /Type /Pages tree node NOT counted
    assert pdf_page_count(_pdf(1)) == 1
    assert pdf_page_count(b"not a pdf") is None


def test_decode_real_jpeg_through_spark(spark):
    """The round-1 gap: decode must report TRUE dimensions for real bytes."""
    df = spark.createDataFrame(
        [(1, _jpeg(640, 480)), (2, _png(12, 34)), (3, b"opaque")],
        "doc_id long, blob binary",
    )
    out = {r["doc_id"]: r for r in decode_image_stub(df).collect()}
    assert (out[1]["width"], out[1]["height"], out[1]["format"]) == (640, 480, "jpeg")
    assert (out[2]["width"], out[2]["height"], out[2]["format"]) == (12, 34, "png")
    assert out[3]["format"] in ("jpeg", "png", "webp")  # deterministic fallback


def test_pdf_explode_uses_real_page_count(spark):
    df = spark.createDataFrame([(1, _pdf(4)), (2, b"y" * 150)], "doc_id long, blob binary")
    counts = {
        r["doc_id"]: r["n"]
        for r in explode_pdf_pages(df, page_size=100)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert counts[1] == 4  # real PDF -> real page count drives the fan-out
    assert counts[2] == 2  # opaque bytes -> fixed-size slicing


def _blob_df(spark):
    rows = [(1, b"x" * 250), (2, b"hello world"), (3, b"")]
    return spark.createDataFrame(rows, "doc_id long, blob binary")


def test_decode_meta_schema_and_values(spark):
    out = decode_image_stub(_blob_df(spark)).orderBy("doc_id").collect()
    assert [r["doc_id"] for r in out] == [1, 2, 3]
    assert out[0]["n_bytes"] == 250
    assert out[1]["sha"] == hashlib.sha256(b"hello world").hexdigest()
    assert all(64 <= r["width"] <= 64 + 255 for r in out)
    assert all(r["format"] in ("jpeg", "png", "webp") for r in out)


def test_pdf_page_explode_counts(spark):
    pages = explode_pdf_pages(_blob_df(spark), page_size=100)
    counts = {r["doc_id"]: r["n"] for r in pages.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    assert counts == {1: 3, 2: 1, 3: 1}  # 250 bytes -> 3 pages of <=100
    total = pages.filter(F.col("doc_id") == 1).agg(
        F.sum(F.length("page_bytes"))).collect()[0][0]
    assert total == 250


def test_crop_stub_joins_and_filters(spark):
    products = spark.createDataFrame(
        [
            ("k1", "Apples", [10, 0, 50, 0]),
            ("k1", "NoBox", None),
            ("k2", "Pears", [0, 0, 5, 0]),
        ],
        "page_key string, product_name string, bounding_box array<int>",
    )
    images = spark.createDataFrame(
        [("k1", b"a" * 100), ("k2", b"b" * 100)], "page_key string, image_bytes binary"
    )
    out = {r["product_name"]: r["crop_bytes"] for r in crop_stub(products, images).collect()}
    assert len(out["Apples"]) == 40  # slice [10:50]
    assert out["NoBox"] is None  # P5 validity predicate
    assert len(out["Pears"]) == 5


def test_bmp_sniff_rejects_text_starting_with_bm():
    # ADVICE r2 (low): natural text starting with "BM" must not be parsed
    # as a BMP — the sniff also requires a known DIB header size at
    # offset 14 (40/52/56/64/108/124), which English text cannot supply.
    assert parse_image_meta(b"BMW sales rose sharply in the third quarter of") is None
    # ...but a real BITMAPINFOHEADER still parses
    assert parse_image_meta(_bmp(33, 44)) == (33, 44, "bmp")


def test_pdf_explode_exact_page_count_non_divisible(spark):
    # ADVICE r2 (low): ceil-div even split could emit FEWER slices than
    # the real page count (len=664, n=60 -> 56 slices).  Index-boundary
    # split must emit exactly n_real pages that concatenate to the blob.
    blob = b"%PDF" + b"/Type/Page " * 60  # 664 bytes, 60 page objects
    assert pdf_page_count(blob) == 60
    df = spark.createDataFrame([(1, blob)], "doc_id long, blob binary")
    pages = explode_pdf_pages(df).orderBy("page_no").collect()
    assert len(pages) == 60
    assert b"".join(bytes(r["page_bytes"]) for r in pages) == blob


def _bmp24(w: int, h: int, color):
    """Real bottom-up 24-bit BI_RGB BMP; color(x, y) -> (b, g, r) with
    (x, y) in top-down visual coordinates."""
    stride = (24 * w + 31) // 32 * 4
    rows = []
    for y in reversed(range(h)):  # bottom-up storage
        row = b"".join(bytes(color(x, y)) for x in range(w))
        rows.append(row + b"\x00" * (stride - 3 * w))
    px = b"".join(rows)
    dib = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(px), 2835, 2835, 0, 0)
    return b"BM" + struct.pack("<IHHI", 54 + len(px), 0, 0, 54) + dib + px


def _bmp_pixels(blob: bytes):
    """Decode an uncompressed 24-bit BMP back to {(x, y): (b, g, r)} in
    top-down coordinates (handles bottom-up storage)."""
    from specialsid_spark.operators.multimodal import parse_image_meta

    w, h, fmt = parse_image_meta(blob)
    assert fmt == "bmp"
    data_off = int.from_bytes(blob[10:14], "little")
    signed_h = int.from_bytes(blob[22:26], "little", signed=True)
    stride = (24 * w + 31) // 32 * 4
    out = {}
    for y in range(h):
        src_row = y if signed_h < 0 else h - 1 - y
        off = data_off + src_row * stride
        for x in range(w):
            out[(x, y)] = tuple(blob[off + 3 * x : off + 3 * x + 3])
    return out


def test_crop_bmp_pixel_exact():
    from specialsid_spark.operators.multimodal import crop_bmp

    color = lambda x, y: ((x * 7) % 256, (y * 11) % 256, (x + y) % 256)  # noqa: E731
    blob = _bmp24(10, 6, color)
    out = crop_bmp(blob, 1, 2, 5, 9)  # ymin=1, xmin=2, ymax=5, xmax=9 -> 7x4
    assert out is not None
    px = _bmp_pixels(out)
    assert max(x for x, _ in px) == 6 and max(y for _, y in px) == 3
    for (x, y), bgr in px.items():
        assert bgr == color(x + 2, y + 1), (x, y)


def test_crop_bmp_clamps_and_rejects():
    from specialsid_spark.operators.multimodal import crop_bmp

    color = lambda x, y: (x, y, 0)  # noqa: E731
    blob = _bmp24(4, 3, color)
    # bbox exceeding the image is clamped to bounds (P5/F7 discipline)
    out = crop_bmp(blob, -5, -5, 99, 99)
    assert out is not None
    assert _bmp_pixels(out) == _bmp_pixels(blob)
    # degenerate after clamping, non-BMP, and compressed payloads refuse
    assert crop_bmp(blob, 3, 0, 3, 4) is None
    assert crop_bmp(b"not a bmp at all, but long enough to index" * 3, 0, 0, 2, 2) is None
    assert crop_bmp(_jpeg(64, 64), 0, 0, 2, 2) is None


def test_crop_stub_real_pixels_for_bmp_through_spark(spark):
    # D3 upgrade: the Spark-side crop emits REAL cropped pixels when the
    # page image is an uncompressed BMP — not a byte-slice stand-in
    from specialsid_spark.operators.multimodal import crop_bmp

    color = lambda x, y: ((x * 3) % 256, (y * 5) % 256, (x ^ y) % 256)  # noqa: E731
    blob = _bmp24(16, 9, color)
    products = spark.createDataFrame(
        [("k1", "Apples", [2, 3, 7, 11])],  # [ymin, xmin, ymax, xmax]
        "page_key string, product_name string, bounding_box array<int>",
    )
    images = spark.createDataFrame([("k1", blob)], "page_key string, image_bytes binary")
    [row] = crop_stub(products, images).collect()
    got = bytes(row["crop_bytes"])
    assert got == crop_bmp(blob, 2, 3, 7, 11)
    px = _bmp_pixels(got)
    assert max(x for x, _ in px) == 7 and max(y for _, y in px) == 4  # 8x5 crop
    for (x, y), bgr in px.items():
        assert bgr == color(x + 3, y + 2), (x, y)


# --- PNG pixel kernels (stdlib-only decode/encode/crop) -------------------


def _png_with_filters(w, h, ch, pixels, filters):
    """Forward-filter `pixels` with the given per-row filter types and
    wrap as a PNG — the INVERSE direction of the production decoder, so
    a decode round-trip is a genuine two-implementation check."""
    import struct as st
    import zlib

    stride = w * ch
    raw = bytearray()
    prev = bytes(stride)
    for y in range(h):
        line = bytes(pixels[y * stride : (y + 1) * stride])
        f = filters[y % len(filters)]
        raw.append(f)
        for x in range(stride):
            a = line[x - ch] if x >= ch else 0
            b = prev[x]
            c = prev[x - ch] if x >= ch else 0
            if f == 0:
                v = line[x]
            elif f == 1:
                v = line[x] - a
            elif f == 2:
                v = line[x] - b
            elif f == 3:
                v = line[x] - ((a + b) >> 1)
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                v = line[x] - pr
            raw.append(v & 0xFF)
        prev = line

    def chunk(tag, data):
        return st.pack(">I", len(data)) + tag + data + st.pack(
            ">I", zlib.crc32(tag + data) & 0xFFFFFFFF
        )

    ctype = {1: 0, 2: 4, 3: 2, 4: 6}[ch]
    ihdr = st.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def _pix(w, h, ch, seed=7):
    return bytes(((x * 31 + seed * 17) ^ (x >> 3)) & 0xFF for x in range(w * h * ch))


def test_png_decode_all_filter_types():
    from specialsid_spark.operators.multimodal import decode_png

    px = _pix(9, 8, 3)
    for filters in ([0], [1], [2], [3], [4], [0, 1, 2, 3, 4]):
        blob = _png_with_filters(9, 8, 3, px, filters)
        w, h, ch, out = decode_png(blob)
        assert (w, h, ch) == (9, 8, 3)
        assert bytes(out) == px, f"filters {filters} failed to round-trip"


def test_png_encode_decode_roundtrip():
    from specialsid_spark.operators.multimodal import decode_png, encode_png

    for ch in (1, 2, 3, 4):
        px = _pix(13, 6, ch)
        w, h, c, out = decode_png(encode_png(13, 6, ch, px))
        assert (w, h, c) == (13, 6, ch)
        assert bytes(out) == px


def test_crop_png_pixel_exact():
    from specialsid_spark.operators.multimodal import crop_png, decode_png

    w, h, ch = 12, 10, 3
    px = _pix(w, h, ch)
    blob = _png_with_filters(w, h, ch, px, [4])  # Paeth-filtered source
    out = crop_png(blob, 2, 3, 7, 9)  # rows [2,7), cols [3,9)
    cw, chh, c, cpx = decode_png(out)
    assert (cw, chh, c) == (6, 5, 3)
    for y in range(5):
        row = px[(y + 2) * w * ch + 3 * ch : (y + 2) * w * ch + 9 * ch]
        assert bytes(cpx[y * 6 * ch : (y + 1) * 6 * ch]) == row


def test_crop_png_clamps_and_rejects():
    from specialsid_spark.operators.multimodal import crop_png, decode_png

    blob = _png_with_filters(5, 4, 1, _pix(5, 4, 1), [2])
    # bbox exceeding bounds clamps to the image
    out = crop_png(blob, -3, -3, 99, 99)
    assert decode_png(out)[:3] == (5, 4, 1)
    # degenerate and non-PNG payloads are refused
    assert crop_png(blob, 3, 3, 3, 9) is None
    assert crop_png(b"not a png", 0, 0, 2, 2) is None


def test_crop_stub_real_pixels_for_png_through_spark(spark):
    from specialsid_spark.operators.multimodal import crop_stub, decode_png

    px = _pix(10, 8, 3)
    blob = _png_with_filters(10, 8, 3, px, [1, 4])
    products = spark.createDataFrame(
        [("k1", "widget", [1, 2, 6, 9])],
        "page_key string, product_name string, bounding_box array<int>",
    )
    images = spark.createDataFrame(
        [("k1", bytearray(blob))], "page_key string, image_bytes binary"
    )
    row = crop_stub(products, images).collect()[0]
    w, h, c, cpx = decode_png(bytes(row["crop_bytes"]))
    assert (w, h, c) == (7, 5, 3)  # cols [2,9), rows [1,6)
    assert bytes(cpx[:21]) == px[1 * 30 + 6 : 1 * 30 + 27]


try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=30, deadline=None)
    @given(
        w=st.integers(min_value=2, max_value=24),
        h=st.integers(min_value=2, max_value=20),
        ch=st.sampled_from([1, 3, 4]),
        seed=st.integers(min_value=0, max_value=255),
        data=st.data(),
    )
    def test_crop_png_property_roundtrip(w, h, ch, seed, data):
        """Any crop of any synthetic PNG (random filter mix) must decode
        to exactly the corresponding pixel slice of the original."""
        from specialsid_spark.operators.multimodal import crop_png, decode_png

        px = _pix(w, h, ch, seed)
        filters = data.draw(st.lists(st.integers(0, 4), min_size=1, max_size=5))
        blob = _png_with_filters(w, h, ch, px, filters)
        ymin = data.draw(st.integers(0, h - 1))
        ymax = data.draw(st.integers(ymin + 1, h))
        xmin = data.draw(st.integers(0, w - 1))
        xmax = data.draw(st.integers(xmin + 1, w))
        out = crop_png(blob, ymin, xmin, ymax, xmax)
        cw, chh, c, cpx = decode_png(out)
        assert (cw, chh, c) == (xmax - xmin, ymax - ymin, ch)
        stride = w * ch
        for y in range(ymin, ymax):
            row = px[y * stride + xmin * ch : y * stride + xmax * ch]
            o = (y - ymin) * cw * ch
            assert bytes(cpx[o : o + cw * ch]) == row

except ImportError:
    pass


# ---------------------------------------------------- PNG variants (r4)


def _png_chunk(tag, data):
    import struct
    import zlib

    return (
        struct.pack(">I", len(data))
        + tag
        + data
        + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
    )


def _make_png(w, h, bitd, ctype, raw, plte=b"", interlace=0):
    import struct
    import zlib

    ihdr = struct.pack(">IIBBBBB", w, h, bitd, ctype, 0, 0, interlace)
    out = b"\x89PNG\r\n\x1a\n" + _png_chunk(b"IHDR", ihdr)
    if plte:
        out += _png_chunk(b"PLTE", plte)
    return out + _png_chunk(b"IDAT", zlib.compress(raw)) + _png_chunk(b"IEND", b"")


def test_png_paletted_8_and_4_bit():
    import numpy as np

    from specialsid_spark.operators.multimodal import decode_png

    w, h = 10, 6
    plte = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255, 7, 8, 9])
    pal = np.frombuffer(plte, np.uint8).reshape(-1, 3)
    idx = (np.arange(w * h, dtype=np.uint8).reshape(h, w)) % 4
    raw = b"".join(b"\x00" + idx[y].tobytes() for y in range(h))
    d = decode_png(_make_png(w, h, 8, 3, raw, plte))
    assert d[:3] == (w, h, 3)
    assert np.array_equal(
        np.frombuffer(bytes(d[3]), np.uint8).reshape(h, w, 3), pal[idx.reshape(-1)].reshape(h, w, 3)
    )
    idx4 = (np.arange(w * h) % 3).astype(np.uint8).reshape(h, w)
    rows = []
    for y in range(h):
        b = bytearray([0])
        for i0 in range(0, w, 2):
            b.append((idx4[y, i0] << 4) | (idx4[y, i0 + 1] if i0 + 1 < w else 0))
        rows.append(bytes(b))
    d = decode_png(_make_png(w, h, 4, 3, b"".join(rows), plte))
    assert np.array_equal(
        np.frombuffer(bytes(d[3]), np.uint8).reshape(h, w, 3),
        pal[idx4.reshape(-1)].reshape(h, w, 3),
    )


def test_png_1bit_gray_and_16bit_rgb():
    import numpy as np

    from specialsid_spark.operators.multimodal import decode_png

    w, h = 10, 6
    g1 = (np.arange(w * h) % 2).astype(np.uint8).reshape(h, w)
    rows = []
    for y in range(h):
        b = bytearray([0])
        acc = n = 0
        for x in range(w):
            acc = (acc << 1) | int(g1[y, x])
            n += 1
            if n == 8:
                b.append(acc)
                acc = n = 0
        if n:
            b.append(acc << (8 - n))
        rows.append(bytes(b))
    d = decode_png(_make_png(w, h, 1, 0, b"".join(rows)))
    assert np.array_equal(np.frombuffer(bytes(d[3]), np.uint8).reshape(h, w), g1 * 255)

    img16 = (np.arange(w * h * 3, dtype=np.uint32) * 257 % 65536).astype(">u2").reshape(h, w, 3)
    raw = b"".join(b"\x00" + img16[y].tobytes() for y in range(h))
    d = decode_png(_make_png(w, h, 16, 2, raw))
    assert np.array_equal(
        np.frombuffer(bytes(d[3]), np.uint8).reshape(h, w, 3),
        (img16.astype(np.uint32) >> 8).astype(np.uint8),
    )


def test_png_adam7_interlaced():
    import numpy as np

    from specialsid_spark.operators.multimodal import _ADAM7, decode_png

    w, h = 13, 9
    img = (np.arange(w * h * 3, dtype=np.uint32) % 256).astype(np.uint8).reshape(h, w, 3)
    passes = []
    for x0, y0, dx, dy in _ADAM7:
        sub = img[y0::dy, x0::dx]
        if sub.size == 0:
            continue
        for y in range(sub.shape[0]):
            passes.append(b"\x00" + sub[y].tobytes())
    d = decode_png(_make_png(w, h, 8, 2, b"".join(passes), interlace=1))
    assert d is not None
    assert np.array_equal(np.frombuffer(bytes(d[3]), np.uint8).reshape(h, w, 3), img)


def test_png_rejects_corrupt_variants():
    from specialsid_spark.operators.multimodal import decode_png

    # paletted without PLTE; bad bit depth for RGB
    import numpy as np

    idx = np.zeros((4, 4), np.uint8)
    raw = b"".join(b"\x00" + idx[y].tobytes() for y in range(4))
    assert decode_png(_make_png(4, 4, 8, 3, raw, plte=b"")) is None
    assert decode_png(_make_png(4, 4, 2, 2, raw)) is None


def test_resize_image_box_exact_and_degrade():
    """r5 resize operator: exact integer box means on dividing
    geometries, deterministic general path, loud degrades."""
    import numpy as np

    from specialsid_spark.operators.jpeg import encode_jpeg
    from specialsid_spark.operators.multimodal import (
        decode_image,
        decode_png,
        resize_image_box,
    )

    yy, xx = np.mgrid[0:24, 0:32]
    g = ((5 * 31 + (yy // 8) * 7 + (xx // 8) * 13) % 256).astype(np.uint8)
    jb = encode_jpeg(32, 24, 1, g.tobytes(), quality=100)
    assert decode_image(jb)[:3] == (32, 24, 1)  # any-format entry point
    thumb = decode_png(resize_image_box(jb, 4, 3))
    arr = np.frombuffer(bytes(thumb[3]), np.uint8).reshape(3, 4)
    want = np.array(
        [[(5 * 31 + bi * 7 + bj * 13) % 256 for bj in range(4)] for bi in range(3)]
    )
    assert np.array_equal(arr, want)  # one block per output pixel, exact
    # non-dividing path: deterministic, right dims
    p = resize_image_box(jb, 5, 5)
    assert p == resize_image_box(jb, 5, 5)
    assert decode_png(p)[:2] == (5, 5)
    # degrades: upscale, garbage, JPEG re-encode opt-in
    assert resize_image_box(jb, 64, 64) is None
    assert resize_image_box(b"garbage", 2, 2) is None
    assert resize_image_box(jb, 4, 3, out_format="jpeg")[:2] == b"\xff\xd8"


class TestPnm:
    def test_roundtrip_gray_and_rgb(self):
        from specialsid_spark.operators.pnm import decode_pnm, encode_pnm

        g = bytes(range(12))
        assert decode_pnm(encode_pnm(4, 3, 1, g)) == (4, 3, 1, g)
        rgb = bytes(i % 251 for i in range(4 * 3 * 3))
        assert decode_pnm(encode_pnm(4, 3, 3, rgb)) == (4, 3, 3, rgb)

    def test_header_tolerance_comments_everywhere(self):
        from specialsid_spark.operators.pnm import decode_pnm

        g = bytes(range(6))
        blob = b"P5 # c1\n # c2\n 3\t#c3\n2\n#c4\n255 " + g
        assert decode_pnm(blob) == (3, 2, 1, g)

    def test_refusals_are_loud_none(self):
        from specialsid_spark.operators.pnm import decode_pnm, encode_pnm

        g = bytes(range(6))
        ok = encode_pnm(3, 2, 1, g)
        assert decode_pnm(b"P2\n3 2\n255\n...") is None  # ASCII variant
        assert decode_pnm(ok.replace(b"255", b"65535")) is None  # 16-bit
        assert decode_pnm(ok[:-1]) is None  # truncated raster
        assert decode_pnm(b"P5\n3 x\n255\n" + g) is None  # bad token

    def test_universal_decode_and_meta_dispatch(self):
        from specialsid_spark.operators.multimodal import (
            decode_image,
            parse_image_meta,
        )
        from specialsid_spark.operators.pnm import encode_pnm

        g = bytes(i % 256 for i in range(16 * 8))
        blob = encode_pnm(16, 8, 1, g)
        assert parse_image_meta(blob) == (16, 8, "pnm")
        assert decode_image(blob) == (16, 8, 1, g)

    def test_resize_accepts_pnm(self):
        from specialsid_spark.operators.multimodal import (
            decode_png,
            resize_image_box,
        )
        from specialsid_spark.operators.pnm import encode_pnm

        # uniform 2x2 blocks -> exact means survive a 2x downscale
        g = bytes((x // 2 + (y // 2) * 8) % 256 for y in range(8) for x in range(16))
        thumb = resize_image_box(encode_pnm(16, 8, 1, g), 8, 4)
        w, h, _ch, px = decode_png(thumb)
        assert (w, h) == (8, 4)
        assert bytes(px) == bytes((x + y * 8) % 256 for y in range(4) for x in range(8))


class TestExif:
    def test_both_byte_orders_roundtrip(self):
        from specialsid_spark.operators.media_meta import (
            build_exif_app1,
            insert_app1,
            parse_exif,
        )

        for be, order in ((False, "II"), (True, "MM")):
            app1 = build_exif_app1(640, 480, "ACME Cam", 6, "2024:01:02 03:04:05", be)
            m = parse_exif(insert_app1(b"\xff\xd8\xff\xd9", app1))
            assert m == {
                "byte_order": order,
                "width": 640,
                "height": 480,
                "make": "ACME Cam",
                "orientation": 6,
                "datetime": "2024:01:02 03:04:05",
            }

    def test_sub_ifds_rationals_exact(self):
        """Exif (0x8769) and GPS (0x8825) sub-IFDs: ExposureTime /
        FNumber / GPS coordinates come back as EXACT integer rational
        pairs, both byte orders."""
        from specialsid_spark.operators.media_meta import (
            build_exif_app1,
            insert_app1,
            parse_exif,
        )

        lat = [(51, 1), (30, 1), (125, 10)]
        lon = [(0, 1), (7, 1), (390, 10)]
        for be in (False, True):
            app1 = build_exif_app1(
                640, 480, "CamX", 1, "2024:05:01 09:30:00", be,
                exposure=(1, 125), fnumber=(28, 10), iso=400,
                gps=("N", lat, "W", lon),
            )
            m = parse_exif(insert_app1(b"\xff\xd8\xff\xd9", app1))
            assert m["exposure"] == (1, 125)
            assert m["fnumber"] == (28, 10)
            assert m["iso"] == 400
            assert (m["gps_lat_ref"], m["gps_lat"]) == ("N", lat)
            assert (m["gps_lon_ref"], m["gps_lon"]) == ("W", lon)

    def test_degrade_contract(self):
        from specialsid_spark.operators.media_meta import (
            build_exif_app1,
            insert_app1,
            parse_exif,
        )

        assert parse_exif(b"\xff\xd8\xff\xd9") is None  # no APP1
        jpeg = insert_app1(
            b"\xff\xd8\xff\xd9", build_exif_app1(1, 1, "x", 1, "d", False)
        )
        assert parse_exif(jpeg[:20]) is None  # truncated TIFF body
        assert parse_exif(b"notajpeg") is None


def test_decimate_box_exact_and_contract():
    """Floored block means (negatives floor toward -inf), trailing
    partial block dropped, and the anti-alias property: a Nyquist-rate
    alternation that nearest-pick preserves (aliasing) averages flat."""
    import numpy as np

    from specialsid_spark.operators.audio import decimate_box, resample_nearest

    assert decimate_box(np.array([1, 2, 3, 4, 5, 6, 7]), 2).tolist() == [1, 3, 5]
    assert decimate_box(np.array([-5, -6, 3, 4]), 2).tolist() == [-6, 3]
    assert decimate_box(np.array([1]), 2).tolist() == []
    alt = np.tile([1000, -1000], 8)  # +f_nyquist tone
    assert set(resample_nearest(alt, 16000, 8000).tolist()) == {1000}  # aliased
    assert set(decimate_box(alt, 2).tolist()) == {0}  # filtered out


def test_parse_exif_malformed_subifd_pointer_type_degrades():
    """ADVICE r7 (medium): an APP1 whose Exif/GPS sub-IFD pointer tag is
    typed RATIONAL/ASCII made _typed return a tuple/str and _walk_ifd
    raise TypeError — violating parse_exif's never-raise contract."""
    import struct

    from specialsid_spark.operators.media_meta import (
        build_exif_app1,
        insert_app1,
        parse_exif,
    )

    for be in (False, True):
        e = ">" if be else "<"
        app1 = build_exif_app1(
            640, 480, "ACME", 1, "2024:01:02 03:04:05", be,
            exposure=(1, 60), fnumber=(28, 10), iso=200,
            gps=("N", [(40, 1), (26, 1), (461, 100)],
                 "W", [(79, 1), (58, 1), (5600, 100)]),
        )
        jpg = insert_app1(b"\xff\xd8\xff\xd9", app1)
        base = parse_exif(jpg)
        assert base is not None and "exposure" in base
        for bad_typ in (1, 2, 5):
            for tag in (0x8769, 0x8825):
                good = struct.pack(e + "HH", tag, 4)
                bad = struct.pack(e + "HH", tag, bad_typ)
                assert good in jpg
                m = parse_exif(jpg.replace(good, bad))
                # degrade: no raise; IFD0 tags still present
                assert m is not None and m["width"] == 640


def test_bilinear_fp10_matches_float_reference_and_enforces_geometry():
    import numpy as np
    import pytest

    from specialsid_spark.operators.multimodal import resize_bilinear_fp10

    rng = np.arange(24 * 32, dtype=np.int64).reshape(24, 32, 1) % 256
    a = rng.astype(np.uint8)
    r = resize_bilinear_fp10(a, 20, 15).astype(np.float64)

    h, w = 24, 32
    for y in (0, 7, 14):
        for x in (0, 9, 19):
            sx, sy = (x + 0.5) * (w / 20) - 0.5, (y + 0.5) * (h / 15) - 0.5
            x0, y0 = int(np.floor(sx)), int(np.floor(sy))
            fx, fy = sx - x0, sy - y0
            xc = lambda v: min(max(v, 0), w - 1)  # noqa: E731
            yc = lambda v: min(max(v, 0), h - 1)  # noqa: E731
            v = (1 - fy) * (
                (1 - fx) * a[yc(y0), xc(x0), 0] + fx * a[yc(y0), xc(x0 + 1), 0]
            ) + fy * (
                (1 - fx) * a[yc(y0 + 1), xc(x0), 0]
                + fx * a[yc(y0 + 1), xc(x0 + 1), 0]
            )
            assert abs(r[y, x, 0] - v) <= 0.5 + 1e-9

    # upscale works too (20x15 -> 25x25 is tenths-exact both axes)
    up = resize_bilinear_fp10(r.astype(np.uint8), 25, 25)
    assert up.shape == (25, 25, 1)

    # non-tenths-exact geometry refuses loudly
    with pytest.raises(ValueError):
        resize_bilinear_fp10(a, 17, 15)
