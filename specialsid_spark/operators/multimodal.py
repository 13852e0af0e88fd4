"""Multimodal (binary) column operators (SURVEY.md §2.11 X3, §2.4 D1–D3).

The reference moves images as S3 objects between Lambdas
(gen_pdf_imgLambda.py, pnp-cropperLambda.py); Spark-first, an image /
audio / video is an opaque ``BinaryType`` column with typed metadata
flowing through the plan, and per-blob work is an Arrow-batched
``mapInPandas``.

Pixel codecs (PIL / pdf2image / ffmpeg) are not in this container, so
every codec here is from scratch: ``parse_image_meta`` reads real
width/height/format straight from JPEG SOF / PNG IHDR / GIF / WebP /
BMP headers; ``pdf_page_count`` counts ``/Type /Page`` objects in a
real PDF; ``crop_regions`` produces REAL cropped pixels (BMP scanline
slice, or decode → clamp/slice → re-encode for PNG, JPEG, GIF, PNM and
TIFF), decoding each distinct page once per batch (``crop_boxes``)
through one clamp/slice/encode step (``_crop_decoded``) that the
single-image croppers ``crop_png`` / ``crop_raster`` /
``specialsid_spark.operators.jpeg.crop_jpeg`` /
``specialsid_spark.operators.gif.crop_gif`` wrap as well; and
``explode_pdf_pages`` emits each page's real embedded image for
image-per-page PDFs (operators/pdf.py).  PROGRESSIVE JPEG decodes too
(operators/jpeg.py SOF2 path), and PNG covers palette/sub-byte/16-bit/
Adam7-interlaced.  What remains stubbed: arithmetic-coded/12-bit JPEG
and rendering vector/text PDF content — each degrades to a documented
byte-slice fallback rather than failing.
"""

from __future__ import annotations

import hashlib
import re
import struct
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from specialsid_spark.operators.rows import map_rows

IMAGE_META_SCHEMA = (
    "doc_id long, n_bytes long, sha string, width int, height int, format string"
)

PAGE_SCHEMA = "doc_id long, page_no int, page_bytes binary"


#: JPEG "start of frame" markers that carry dimensions: SOF0-SOF15 minus
#: DHT (0xC4), JPG (0xC8), DAC (0xCC) which are not frame headers.
_JPEG_SOF = frozenset(range(0xC0, 0xD0)) - {0xC4, 0xC8, 0xCC}

#: A page *leaf* object ("/Type /Page"); a negative lookahead excludes the
#: "/Type /Pages" tree nodes.  Ref behaviour: gen_pdf_imgLambda.py renders
#: one image per page at 300 dpi — the page count drives the 1->N fan-out.
_PDF_PAGE_RE = re.compile(rb"/Type\s*/Page(?![a-zA-Z])")


def parse_image_meta(blob: bytes) -> tuple[int, int, str] | None:
    """Real metadata decode with zero codec deps: read (width, height,
    format) from the container header of JPEG / PNG / GIF / WebP / BMP
    bytes.  Returns None when the payload is not a recognized image."""
    n = len(blob)
    # PNG: 8-byte signature, then the IHDR chunk holds two big-endian u32s.
    if n >= 24 and blob[:8] == b"\x89PNG\r\n\x1a\n" and blob[12:16] == b"IHDR":
        w, h = struct.unpack(">II", blob[16:24])
        return w, h, "png"
    # GIF87a / GIF89a: little-endian u16 logical-screen dimensions.
    if n >= 10 and blob[:6] in (b"GIF87a", b"GIF89a"):
        w, h = struct.unpack("<HH", blob[6:10])
        return w, h, "gif"
    # BMP: BITMAPINFOHEADER at offset 14 (signed little-endian; height may
    # be negative for top-down rows).  The 2-byte "BM" prefix alone is
    # plausible English text, so also require a known DIB header size at
    # offset 14 before taking this branch (12-byte BITMAPCOREHEADER is
    # excluded: its dimensions are u16 at a different offset).
    if (
        n >= 26
        and blob[:2] == b"BM"
        and struct.unpack("<I", blob[14:18])[0] in (40, 52, 56, 64, 108, 124)
    ):
        w, h = struct.unpack("<ii", blob[18:26])
        return w, abs(h), "bmp"
    # WebP: RIFF container; VP8 (lossy) / VP8L (lossless) / VP8X (extended).
    # Per-chunk length guards: a minimal VP8L header is 25 bytes while
    # VP8X/VP8 need 30 — a single n>=30 gate would reject tiny VP8L files.
    if n >= 16 and blob[:4] == b"RIFF" and blob[8:12] == b"WEBP":
        chunk = blob[12:16]
        if chunk == b"VP8X" and n >= 30:
            w = int.from_bytes(blob[24:27], "little") + 1
            h = int.from_bytes(blob[27:30], "little") + 1
            return w, h, "webp"
        if chunk == b"VP8L" and n >= 25 and blob[20] == 0x2F:
            bits = int.from_bytes(blob[21:25], "little")
            return (bits & 0x3FFF) + 1, ((bits >> 14) & 0x3FFF) + 1, "webp"
        if chunk == b"VP8 " and n >= 30:
            # Lossy bitstream: 3-byte frame tag, then the 3-byte start code
            # 9D 01 2A, then two little-endian u14 dimensions.
            if blob[23:26] == b"\x9d\x01\x2a":
                w = int.from_bytes(blob[26:28], "little") & 0x3FFF
                h = int.from_bytes(blob[28:30], "little") & 0x3FFF
                return w, h, "webp"
        return None
    # JPEG: walk the marker stream to the first SOFn segment; its payload
    # is [precision u8][height u16be][width u16be].
    if n >= 4 and blob[:2] == b"\xff\xd8":
        i = 2
        while i + 9 < n:
            if blob[i] != 0xFF:
                i += 1
                continue
            marker = blob[i + 1]
            if marker in (0xFF, 0x01) or 0xD0 <= marker <= 0xD9:
                i += 2  # padding / standalone markers carry no length
                continue
            seg_len = struct.unpack(">H", blob[i + 2 : i + 4])[0]
            if marker in _JPEG_SOF:
                h, w = struct.unpack(">HH", blob[i + 5 : i + 9])
                return w, h, "jpeg"
            i += 2 + seg_len
        return None
    # PNM P5/P6 (binary graymap/pixmap): ASCII header + raw raster
    if n >= 2 and blob[0:1] == b"P" and blob[1:2] in b"56":
        from specialsid_spark.operators.pnm import pnm_meta

        return pnm_meta(blob)
    # TIFF: II*\0 / MM\0* magic, dimensions in IFD0 (r7)
    if n >= 8 and blob[:2] in (b"II", b"MM"):
        from specialsid_spark.operators.tiff import tiff_meta

        return tiff_meta(blob)
    return None


def pdf_page_count(blob: bytes) -> int | None:
    """Real page count for a real PDF: the number of ``/Type /Page`` leaf
    objects (ref gen_pdf_imgLambda.py:51-60 fans out one raster per page).
    Returns None when the payload is not a PDF.

    Handles classic and linearized PDFs, incremental-update files,
    whitespace-free ``/Type/Page`` dicts, and — since r6 — PDF 1.5+
    object streams: page dicts packed inside Flate-compressed
    ``/Type /ObjStm`` streams are inflated by the object scanner
    (operators/pdf.py `_expand_object_streams`), which the earlier
    byte-only scan could not see (it undercounted most modern
    born-digital PDFs to the visible leaves).  The raw regex remains
    the fallback for damaged files whose object graph won't parse.
    tests/test_multimodal.py pins both behaviors."""
    if not blob.startswith(b"%PDF"):
        return None
    try:
        from specialsid_spark.operators.pdf import _scan_objects

        objs, _ = _scan_objects(blob)
        n = sum(
            1
            for head, _data in objs.values()
            if re.search(rb"/Type\s*/Page(?![a-zA-Z])", head)
        )
        if n:
            return n
    except Exception:  # noqa: BLE001 — damaged graph: fall back to bytes
        pass
    return max(1, len(_PDF_PAGE_RE.findall(blob)))


def _bmp_layout(blob: bytes) -> tuple[int, int, int, int, bool] | None:
    """(pixel-array offset, width, height, bits per pixel, top-down) of
    an uncompressed 24/32-bit BMP, or None for any other payload."""
    if len(blob) < 54 or blob[:2] != b"BM":
        return None
    data_off = int.from_bytes(blob[10:14], "little")
    dib = int.from_bytes(blob[14:18], "little")
    if dib not in (40, 52, 56, 64, 108, 124):
        return None
    w = int.from_bytes(blob[18:22], "little", signed=True)
    h = int.from_bytes(blob[22:26], "little", signed=True)
    bpp = int.from_bytes(blob[28:30], "little")
    comp = int.from_bytes(blob[30:34], "little")
    if comp != 0 or bpp not in (24, 32) or w <= 0 or h == 0:
        return None
    return data_off, w, abs(h), bpp, h < 0


def _clamp_box(
    ymin: int, xmin: int, ymax: int, xmax: int, w: int, h: int
) -> tuple[int, int, int, int] | None:
    """The box clamped to a w×h image (the P5/F7 validity+clamp
    discipline), or None when nothing of it lies on the image."""
    ymin, ymax = max(0, min(h, ymin)), max(0, min(h, ymax))
    xmin, xmax = max(0, min(w, xmin)), max(0, min(w, xmax))
    if xmax <= xmin or ymax <= ymin:
        return None
    return ymin, xmin, ymax, xmax


def _slice_bmp(blob: bytes, layout: tuple, box: tuple[int, int, int, int]) -> bytes | None:
    """Scanline slice of a clamped box out of a BMP with ``layout``
    (:func:`_bmp_layout`) into a new bottom-up BMP; None when the
    declared dimensions exceed the actual payload."""
    data_off, w, H, bpp, top_down = layout
    ymin, xmin, ymax, xmax = box
    cw, ch = xmax - xmin, ymax - ymin
    bypp = bpp // 8
    stride = (bpp * w + 31) // 32 * 4
    out_stride = (bpp * cw + 31) // 32 * 4
    pad = b"\x00" * (out_stride - cw * bypp)
    rows = []
    for y in range(ymin, ymax):  # top-down visual order
        src_row = y if top_down else H - 1 - y
        off = data_off + src_row * stride + xmin * bypp
        row = blob[off : off + cw * bypp]
        if len(row) < cw * bypp:
            return None  # declared dimensions exceed the actual payload
        rows.append(bytes(row) + pad)
    rows.reverse()  # emit bottom-up (positive height), the common layout
    px = b"".join(rows)
    dib_out = struct.pack("<IiiHHIIiiII", 40, cw, ch, 1, bpp, 0, len(px), 2835, 2835, 0, 0)
    return b"BM" + struct.pack("<IHHI", 54 + len(px), 0, 0, 54) + dib_out + px


def crop_bmp(blob: bytes, ymin: int, xmin: int, ymax: int, xmax: int) -> bytes | None:
    """REAL pixel crop for uncompressed BMP bytes, dependency-free.

    BMP is the one mainstream raster format whose pixel array is plain
    bytes (BI_RGB, no entropy coding), so the reference's crop kernel
    (pnp-cropperLambda.py:48-98, PIL ``img.crop((xmin, ymin, xmax,
    ymax))``) can be reproduced exactly without a codec: locate the
    pixel array via the data-offset field, slice ``[xmin, xmax)`` of
    each scanline in ``[ymin, ymax)`` (top-down visual coordinates,
    handling bottom-up row storage), re-pad scanlines to the 4-byte
    stride rule, and emit a well-formed BITMAPINFOHEADER BMP.

    The bbox is clamped to the image bounds.  Returns None when the
    payload is not an uncompressed 24/32-bit BMP or the clamped box is
    empty."""
    layout = _bmp_layout(blob)
    if layout is None:
        return None
    box = _clamp_box(ymin, xmin, ymax, xmax, layout[1], layout[2])
    return None if box is None else _slice_bmp(blob, layout, box)


_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}  # colortype -> samples/pixel

#: Adam7 pass grid: (x0, y0, dx, dy) per pass.
_ADAM7 = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)


def _png_unfilter(raw: bytes, pos: int, w: int, h: int, bpp: int, stride: int):
    """Undo per-scanline filters for one (sub-)image; returns
    (rows bytes, new pos) or None on a bad filter byte/short data.

    r5 fast paths: Up is one numpy row-add; Sub is a per-lane (mod
    bpp) uint8 cumsum — exact, since uint8 addition wraps like the
    spec's mod-256.  Average and Paeth have a nonlinear serial
    dependency on the byte bpp positions back in the SAME row (>>1 /
    abs-compare of a value being computed), so they stay per-byte
    Python — the honest-throughput table in BASELINE.md §2b records
    the per-filter cost difference."""
    import numpy as np

    out = bytearray(h * stride)
    prev = bytearray(stride)
    for y in range(h):
        if pos >= len(raw):
            return None
        f = raw[pos]
        line = bytearray(raw[pos + 1 : pos + 1 + stride])
        if len(line) < stride:
            return None
        pos += 1 + stride
        if f == 1:  # Sub: per-lane prefix sum mod 256
            arr = np.frombuffer(line, np.uint8).copy()
            nlanes = bpp
            full = stride // nlanes
            lanes = arr[: full * nlanes].reshape(full, nlanes)
            np.cumsum(lanes, axis=0, dtype=np.uint8, out=lanes)
            tail = arr[full * nlanes :]
            if tail.size:  # stride not divisible by bpp (sub-byte depths)
                for x in range(full * nlanes, stride):
                    arr[x] = (arr[x] + arr[x - bpp]) & 0xFF
            line = bytearray(arr.tobytes())
        elif f == 2:  # Up: one vector add
            line = bytearray(
                (np.frombuffer(line, np.uint8) + np.frombuffer(prev, np.uint8)).tobytes()
            )
        elif f == 3:  # Average: per-lane loop, locals carry the recurrence
            for r in range(bpp):
                a = 0
                for x in range(r, stride, bpp):
                    a = (line[x] + ((a + prev[x]) >> 1)) & 0xFF
                    line[x] = a
        elif f == 4:  # Paeth: per-lane loop, a/c in locals (no branch on x)
            for r in range(bpp):
                a = c = 0
                for x in range(r, stride, bpp):
                    b = prev[x]
                    p = a + b - c
                    pa = p - a if p >= a else a - p
                    pb = p - b if p >= b else b - p
                    pc = p - c if p >= c else c - p
                    pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                    a = (line[x] + pr) & 0xFF
                    line[x] = a
                    c = b
        elif f != 0:
            return None
        out[y * stride : (y + 1) * stride] = line
        prev = line
    return out, pos


def _png_samples(rows: bytes, w: int, h: int, ch: int, bitd: int, stride: int) -> list[int]:
    """Unpack filtered rows to one flat int sample list (pixel-major),
    expanding sub-byte depths and reducing 16-bit to its high byte."""
    out: list[int] = []
    if bitd == 8:
        for y in range(h):
            out.extend(rows[y * stride : y * stride + w * ch])
    elif bitd == 16:
        for y in range(h):
            line = rows[y * stride : (y + 1) * stride]
            out.extend(line[0 : 2 * w * ch : 2])
    else:  # 1/2/4-bit, 1 channel (gray or palette indices)
        per_byte = 8 // bitd
        mask = (1 << bitd) - 1
        for y in range(h):
            line = rows[y * stride : (y + 1) * stride]
            cnt = 0
            for byte in line:
                for k in range(per_byte - 1, -1, -1):
                    if cnt == w:
                        break
                    out.append((byte >> (k * bitd)) & mask)
                    cnt += 1
    return out


def decode_png(blob: bytes) -> tuple[int, int, int, bytearray] | None:
    """REAL pixel decode for PNG bytes using only the stdlib — the full
    practical spec surface: all five scanline filters, grayscale / RGB
    / gray+alpha / RGBA, PALETTED images (PLTE lookup → RGB), sub-byte
    bit depths 1/2/4 (expanded to 8-bit), 16-bit (reduced to the high
    byte), and Adam7 INTERLACING (seven independently-filtered passes
    re-woven).  Returns (width, height, channels, 8-bit pixels
    row-major) or None when the payload is not a PNG or is corrupt."""
    import zlib

    if len(blob) < 33 or blob[:8] != b"\x89PNG\r\n\x1a\n":
        return None
    w = h = bitd = ctype = interlace = None
    idat = bytearray()
    plte = b""
    i = 8
    while i + 8 <= len(blob):
        (ln,) = struct.unpack(">I", blob[i : i + 4])
        tag = blob[i + 4 : i + 8]
        data = blob[i + 8 : i + 8 + ln]
        if tag == b"IHDR":
            w, h = struct.unpack(">II", data[:8])
            bitd, ctype, _, _, interlace = data[8:13]
        elif tag == b"PLTE":
            plte = data
        elif tag == b"IDAT":
            idat += data
        elif tag == b"IEND":
            break
        i += 12 + ln  # len + tag + data + crc
    if not w or not h or ctype not in _PNG_CHANNELS or interlace not in (0, 1):
        return None
    ch = _PNG_CHANNELS[ctype]
    if bitd not in (8, 16) and (bitd not in (1, 2, 4) or ctype not in (0, 3)):
        return None
    if ctype == 3 and (bitd == 16 or not plte):
        return None
    try:
        raw = zlib.decompress(bytes(idat))
    except zlib.error:
        return None
    bits_px = bitd * ch
    bpp = max(1, bits_px // 8)

    def stride_of(width: int) -> int:
        return (width * bits_px + 7) // 8

    samples = [0] * (w * h * ch)
    if interlace:
        pos = 0
        for x0, y0, dx, dy in _ADAM7:
            pw = (w - x0 + dx - 1) // dx
            ph = (h - y0 + dy - 1) // dy
            if pw <= 0 or ph <= 0:
                continue
            res = _png_unfilter(raw, pos, pw, ph, bpp, stride_of(pw))
            if res is None:
                return None
            rows, pos = res
            sub = _png_samples(rows, pw, ph, ch, bitd, stride_of(pw))
            for yy in range(ph):
                for xx in range(pw):
                    dst = ((y0 + yy * dy) * w + (x0 + xx * dx)) * ch
                    src = (yy * pw + xx) * ch
                    samples[dst : dst + ch] = sub[src : src + ch]
    else:
        res = _png_unfilter(raw, 0, w, h, bpp, stride_of(w))
        if res is None:
            return None
        rows, _pos = res
        samples = _png_samples(rows, w, h, ch, bitd, stride_of(w))
        if len(samples) < w * h * ch:
            return None
    if ctype == 3:  # palette lookup -> RGB
        out = bytearray(w * h * 3)
        for p, idx in enumerate(samples):
            if 3 * idx + 3 > len(plte):
                return None
            out[3 * p : 3 * p + 3] = plte[3 * idx : 3 * idx + 3]
        return w, h, 3, out
    if bitd in (1, 2, 4):  # expand gray to full 8-bit range
        scale = 255 // ((1 << bitd) - 1)
        return w, h, ch, bytearray(v * scale for v in samples)
    return w, h, ch, bytearray(samples)


def _decode_raster(blob: bytes) -> tuple[str, tuple[int, int, int, bytes | bytearray]] | None:
    """(format, (w, h, ch, pixels)) from the first pixel decoder that
    accepts ``blob`` — PNG, JPEG (baseline and progressive), GIF, PNM,
    then TIFF — or None."""
    from specialsid_spark.operators.gif import decode_gif
    from specialsid_spark.operators.jpeg import decode_jpeg
    from specialsid_spark.operators.pnm import decode_pnm
    from specialsid_spark.operators.tiff import decode_tiff

    for fmt, decode in (("png", decode_png), ("jpeg", decode_jpeg), ("gif", decode_gif), ("pnm", decode_pnm)):
        dec = decode(blob)
        if dec is not None:
            return fmt, dec
    if blob[:2] in (b"II", b"MM"):
        dec = decode_tiff(blob)
        if dec is not None:
            return "tiff", dec
    return None


def decode_image(blob: bytes) -> tuple[int, int, int, bytes] | None:
    """Decode ANY supported raster payload to (w, h, ch, pixels): PNG,
    baseline/progressive JPEG, GIF, BMP, PNM, TIFF — the single entry
    point the resize/feature operators dispatch through.  None for
    unsupported payloads (degrade contract)."""
    got = _decode_raster(blob)
    dec = got[1] if got is not None else None
    if dec is None:
        meta = parse_image_meta(blob)
        if meta is not None and meta[2] == "bmp":
            # full-frame crop = whole-image decode via the BMP slicer
            png = crop_bmp(blob, 0, 0, meta[1], meta[0])
            if png is not None:
                dec = decode_png(png)
    if dec is None:
        return None
    w, h, ch, px = dec
    return w, h, ch, bytes(px)


def resize_image_box(
    blob: bytes, out_w: int, out_h: int, out_format: str = "png"
) -> bytes | None:
    """The training-data THUMBNAIL operator (brief: decode /
    feature-extract / resize / frame-sample): area-average (box-filter)
    downscale of any decodable raster payload, re-encoded as PNG
    (default, lossless) or quality-90 JPEG.

    When the source dims are integer multiples of the target, each
    output pixel is the EXACT integer mean (floor) of its source box —
    pure integer arithmetic, restatable in SQL for the oracle.
    Non-dividing geometries use the same box sums over float area
    weights, rounded — deterministic, but only the dividing path is
    oracle-exact.  Upscaling returns None (a thumbnailer never
    upscales; callers wanting enlargement should say so explicitly)."""
    import numpy as np

    dec = decode_image(blob)
    if dec is None or out_w <= 0 or out_h <= 0:
        return None
    w, h, ch, px = dec
    if out_w > w or out_h > h:
        return None
    arr = np.frombuffer(px, dtype=np.uint8).reshape(h, w, ch)
    if w % out_w == 0 and h % out_h == 0:
        sx, sy = w // out_w, h // out_h
        sums = arr.reshape(out_h, sy, out_w, sx, ch).astype(np.int64).sum(axis=(1, 3))
        small = (sums // (sx * sy)).astype(np.uint8)
    else:
        # general area-average: accumulate with fractional edge weights
        xs = np.linspace(0, w, out_w + 1)
        ys = np.linspace(0, h, out_h + 1)
        small = np.empty((out_h, out_w, ch), np.uint8)
        af = arr.astype(np.float64)
        for oy in range(out_h):
            y0, y1 = ys[oy], ys[oy + 1]
            for ox in range(out_w):
                x0, x1 = xs[ox], xs[ox + 1]
                region = af[int(y0) : int(np.ceil(y1)), int(x0) : int(np.ceil(x1))]
                small[oy, ox] = np.clip(np.round(region.mean(axis=(0, 1))), 0, 255)
    if out_format == "jpeg":
        from specialsid_spark.operators.jpeg import encode_jpeg

        return encode_jpeg(out_w, out_h, ch, small.tobytes(), quality=90)
    return encode_png(out_w, out_h, ch, small.tobytes())


def encode_png(w: int, h: int, ch: int, pixels: bytes | bytearray) -> bytes:
    """Minimal PNG writer (8-bit, filter 0 per scanline) — stdlib only,
    with correct chunk CRCs; round-trips through :func:`decode_png`."""
    import zlib

    ctype = {1: 0, 2: 4, 3: 2, 4: 6}[ch]
    stride = w * ch
    raw = b"".join(
        b"\x00" + bytes(pixels[y * stride : (y + 1) * stride]) for y in range(h)
    )

    def chunk(tag: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + tag
            + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def _crop_decoded(
    dec: tuple[int, int, int, bytes | bytearray] | None,
    ymin: int,
    xmin: int,
    ymax: int,
    xmax: int,
    out_format: str = "png",
) -> bytes | None:
    """The one clamp/slice/re-encode step behind every pixel cropper:
    clamp the box to a decoded ``(w, h, ch, pixels)`` image, slice it
    in top-down visual coordinates, and encode it as PNG (lossless) or,
    with ``out_format="jpeg"``, as quality-90 baseline JPEG.  None when
    ``dec`` is None or the clamped box is empty."""
    import numpy as np

    if dec is None:
        return None
    w, h, ch, px = dec
    box = _clamp_box(ymin, xmin, ymax, xmax, w, h)
    if box is None:
        return None
    ymin, xmin, ymax, xmax = box
    arr = np.frombuffer(px, np.uint8, w * h * ch).reshape(h, w, ch)
    crop = arr[ymin:ymax, xmin:xmax].tobytes()
    if out_format == "jpeg":
        from specialsid_spark.operators.jpeg import encode_jpeg

        return encode_jpeg(xmax - xmin, ymax - ymin, ch, crop, quality=90)
    return encode_png(xmax - xmin, ymax - ymin, ch, crop)


def crop_png(blob: bytes, ymin: int, xmin: int, ymax: int, xmax: int) -> bytes | None:
    """REAL pixel crop for PNG bytes, dependency-free: :func:`decode_png`
    then :func:`_crop_decoded` (PNG out).  Returns None for PNG variants
    the decoder does not support or an empty clamped box."""
    return _crop_decoded(decode_png(blob), ymin, xmin, ymax, xmax)


def crop_raster(blob: bytes, ymin: int, xmin: int, ymax: int, xmax: int) -> bytes | None:
    """Generic pixel crop through the universal :func:`decode_image`
    entry point (r7) — the path for TIFF and PNM, which have no
    format-specific cropper; output is always PNG."""
    return _crop_decoded(decode_image(blob), ymin, xmin, ymax, xmax)


def _page_cropper(blob: bytes, out_format: str) -> Callable[[tuple[int, ...]], bytes] | None:
    """Decode one page image ONCE and return ``crop(box) -> bytes`` for
    all of its boxes, or None when no decoder accepts the payload.
    Output per source format: BMP → exact BMP scanline slice; PNG,
    TIFF, PNM → PNG; JPEG, GIF → PNG, or quality-90 JPEG when
    ``out_format="jpeg"``.  A box that lies off the page crops to b""."""
    layout = _bmp_layout(blob)
    if layout is not None:

        def crop_bmp_box(box: tuple[int, ...]) -> bytes:
            clamped = _clamp_box(*box, layout[1], layout[2])
            if clamped is None:
                return b""
            return _slice_bmp(blob, layout, clamped) or _byte_slice(blob, box)

        return crop_bmp_box
    got = _decode_raster(blob)
    if got is None:
        return None
    fmt, dec = got
    enc = out_format if fmt in ("jpeg", "gif") else "png"
    return lambda box: _crop_decoded(dec, *box, enc) or b""


def _byte_slice(blob: bytes, box: tuple[int, ...]) -> bytes:
    """The stub crop of a payload no decoder recognises: bytes
    [ymin, ymax) of the blob, clamped to at least one byte."""
    lo = max(0, min(len(blob) - 1, box[0]))
    hi = max(lo + 1, min(len(blob), box[2]))
    return bytes(blob[lo:hi])


def crop_boxes(boxes, blobs, out_format: str = "png") -> list[bytes | None]:
    """The crop kernel of :func:`crop_regions` over one batch: one
    ``(ymin, xmin, ymax, xmax)`` box (or None) per row and the row's
    page image.  Rows are grouped by image bytes, so each distinct page
    is decoded once however many products it boxes, and only one
    decoded page is alive at a time (a 300 DPI page is ~26 MB of
    pixels).  A row without a 4-value box gets None."""
    crops: list[bytes | None] = [None] * len(boxes)
    pages: dict[bytes, list[tuple[int, tuple[int, ...]]]] = {}
    for i, (box, blob) in enumerate(zip(boxes, blobs)):
        if box is not None and len(box) == 4:
            pages.setdefault(bytes(blob), []).append((i, tuple(int(v) for v in box)))
    for blob, rows in pages.items():
        crop = _page_cropper(blob, out_format)
        for i, box in rows:
            crops[i] = _byte_slice(blob, box) if crop is None else crop(box)
    return crops


def _decode_bytes(blob: bytes) -> tuple[int, int, str]:
    """Metadata decode: REAL header parse for recognized image containers
    (see parse_image_meta); deterministic hash-derived fallback for opaque
    test payloads so the plumbing stays testable on arbitrary bytes."""
    meta = parse_image_meta(blob)
    if meta is not None:
        return meta
    h = hashlib.md5(blob).digest()
    width = 64 + h[0]
    height = 64 + h[1]
    fmt = ("jpeg", "png", "webp")[h[2] % 3]
    return width, height, fmt


def decode_image_stub(df: DataFrame, id_col: str = "doc_id", bin_col: str = "blob") -> DataFrame:
    """Per-row decode (a :func:`map_rows` kernel): binary column ->
    typed metadata rows."""

    def decode(doc_id, blob):
        width, height, fmt = _decode_bytes(blob)
        yield doc_id, len(blob), hashlib.sha256(blob).hexdigest(), width, height, fmt

    return map_rows(df.select(id_col, bin_col), decode, IMAGE_META_SCHEMA)


def explode_pdf_pages(
    df: DataFrame, id_col: str = "doc_id", bin_col: str = "blob", page_size: int = 100
) -> DataFrame:
    """D1 flatMap PDF->pages (ref gen_pdf_imgLambda.py:51-60): 1 row in,
    N rows out through a :func:`map_rows` kernel.

    For an image-per-page PDF (the reference's scanned-catalogue case),
    each output row carries the page's REAL image bytes — the embedded
    DCTDecode JPEG verbatim or the FlateDecode samples re-encoded as
    PNG (operators/pdf.py walks the /Pages tree in /Kids order).  For
    other real PDFs the fan-out count is still the REAL page count
    (``pdf_page_count``) with byte-slice page payloads (vector/text
    content needs a full renderer — documented limitation).  Opaque
    test payloads get fixed-size byte slices."""
    from specialsid_spark.operators.pdf import extract_page_images

    def explode(doc_id, blob):
        n_real = pdf_page_count(blob)
        imgs = extract_page_images(blob) if n_real is not None else None
        if imgs and any(p is not None for p in imgs):
            pages = [
                p if p is not None else blob[0:0]  # unrenderable page: empty
                for p in imgs
            ]
        elif n_real is not None:
            # Index-boundary split: page p covers [p*len//n, (p+1)*len//n).
            # Unlike a ceil-div even split this emits EXACTLY n_real
            # slices for any blob length (a 9-byte 4-page PDF would
            # otherwise produce 3 slices, breaking the "fan-out count
            # is the real page count" contract).  Small pages may be
            # empty when n_real > len(blob).
            ln = len(blob)
            pages = [
                blob[p * ln // n_real : (p + 1) * ln // n_real]
                for p in range(n_real)
            ]
        else:
            pages = [blob[o : o + page_size] for o in range(0, max(len(blob), 1), page_size)]
        for pno, pb in enumerate(pages, start=1):
            yield doc_id, pno, bytes(pb)

    return map_rows(df.select(id_col, bin_col), explode, PAGE_SCHEMA)


#: Back-compat name from rounds 1-3; for image-per-page PDFs the pages
#: are no longer stubs.
explode_pdf_pages_stub = explode_pdf_pages


def explode_pdf_text(
    df: DataFrame, id_col: str = "doc_id", bin_col: str = "blob"
) -> DataFrame:
    """D1∘X4 (r5): the TEXT twin of :func:`explode_pdf_pages` — 1 PDF
    row in, one row per page out carrying the page's EXTRACTED TEXT
    (operators/pdf.py extract_page_text: content-stream interpreter
    over born-digital PDFs).  Pages whose content stream cannot be
    decoded emit NULL text (loud degrade); non-PDF payloads emit no
    rows.  This is the hop a 100 TB PDF corpus runs to become an LLM
    text corpus — per-row independent, Arrow-batched, no shuffle."""
    from specialsid_spark.operators.pdf import extract_page_text

    def explode(doc_id, blob):
        for pno, text in enumerate(extract_page_text(blob) or (), start=1):
            yield doc_id, pno, text

    return map_rows(
        df.select(id_col, bin_col), explode, "doc_id long, page_no int, page_text string"
    )


def crop_regions(
    products: DataFrame,
    images: DataFrame,
    on: str = "page_key",
    out_format: str = "png",
) -> DataFrame:
    """D3/J1: products ⋈ page-image (broadcast the small image batch),
    then a mapInPandas crop (ref pnp-cropperLambda.py:58-101) through
    :func:`crop_boxes`, which decodes each distinct page of a batch
    ONCE and cuts every box of that page from the decoded pixels.

    Decoders are tried in this order, and the first that accepts the
    page decides the ``crop_bytes`` format:

    ===================================  ====================================
    page payload                         ``crop_bytes``
    ===================================  ====================================
    uncompressed 24/32-bit BMP           exact BMP scanline slice
    PNG                                  PNG
    JPEG (baseline/progressive), GIF     PNG; quality-90 JPEG with
                                         ``out_format="jpeg"``
    PNM, TIFF                            PNG
    nothing recognises it                byte-slice stub ``[ymin, ymax)``
    ===================================  ====================================

    Boxes are clamped to the page.  A box that lies wholly off a page
    that decoded yields EMPTY ``crop_bytes`` (b""), not a slice of the
    compressed file; a row without a 4-value box yields NULL.

    PUBLIC CONTRACT — PNG is the default output (lossless; deliberate
    deviation from the reference's JPEG-quality-90 crops,
    pnp-cropperLambda.py:96-98, to avoid a second generation loss).
    ``out_format="jpeg"`` gives byte-format parity with the reference
    for JPEG/GIF sources; BMP/PNG crops stay in their lossless formats
    (they were never JPEG in the reference either)."""
    joined = products.join(F.broadcast(images), on)

    out_schema = T.StructType(
        [
            T.StructField(on, T.StringType()),
            T.StructField("product_name", T.StringType()),
            T.StructField("crop_bytes", T.BinaryType()),
        ]
    )

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    on: pdf[on],
                    "product_name": pdf["product_name"],
                    "crop_bytes": crop_boxes(pdf["bounding_box"], pdf["image_bytes"], out_format),
                }
            )

    return joined.mapInPandas(fn, out_schema)


#: Back-compat name from rounds 1-3; the kernel is no longer a stub for
#: BMP/PNG/baseline-JPEG payloads.
crop_stub = crop_regions


def image_patches(
    w: int, h: int, ch: int, pixels: bytes | bytearray, patch: int
) -> list[tuple[int, int, int, int]]:
    """ViT-style patch statistics: split a decoded image into a
    (h//patch) x (w//patch) grid and return one row per patch —
    (patch_row, patch_col, pix_sum, pix_sq_sum) summed over all
    channels, exact int64.  Dimensions must divide evenly (the resize
    operator exists to make them); raises otherwise rather than
    silently truncating the margin.

    This is the patch-grid half of multimodal training prep (the
    projection to embeddings is a model, not an engine op); sums and
    square-sums are what normalization / dead-patch filtering need,
    and they stay on the integer lattice so cross-engine oracles can
    restate them exactly."""
    import numpy as np

    if w % patch or h % patch:
        raise ValueError(f"{w}x{h} not divisible by patch {patch}")
    arr = (
        np.frombuffer(bytes(pixels), dtype=np.uint8)
        .reshape(h, w, ch)
        .astype(np.int64)
    )
    pr, pc = h // patch, w // patch
    grid = arr.reshape(pr, patch, pc, patch, ch)
    sums = grid.sum(axis=(1, 3, 4))
    sqs = (grid * grid).sum(axis=(1, 3, 4))
    return [
        (r, c, int(sums[r, c]), int(sqs[r, c]))
        for r in range(pr)
        for c in range(pc)
    ]


def resize_bilinear_fp10(arr, out_w: int, out_h: int):
    """Fixed-point BILINEAR resample — the vision-training resize
    convention (half-pixel centers, torchvision align_corners=False),
    up- or downscale, in EXACT tenths arithmetic: source coordinates
    land on the 1/10 grid whenever out_w divides 5*W and out_h divides
    5*H (asserted), so every output pixel is a pure integer expression
    ((10-fy)*((10-fx)*v00 + fx*v01) + fy*((10-fx)*v10 + fx*v11) + 50)
    // 100 that a SQL oracle restates verbatim.  Complements
    resize_image_box (area-average thumbnails, downscale only).

    ``arr`` is (H, W, C) uint8; returns (out_h, out_w, C) uint8."""
    import numpy as np

    h, w = arr.shape[0], arr.shape[1]
    if (5 * w) % out_w or (5 * h) % out_h:
        raise ValueError(
            f"geometry not tenths-exact: {w}x{h} -> {out_w}x{out_h}"
        )
    a = arr.astype(np.int64)
    sx10 = (2 * np.arange(out_w) + 1) * (5 * w) // out_w - 5
    sy10 = (2 * np.arange(out_h) + 1) * (5 * h) // out_h - 5
    x0 = sx10 // 10
    fx = sx10 % 10
    y0 = sy10 // 10
    fy = sy10 % 10
    x0c = np.clip(x0, 0, w - 1)
    x1c = np.clip(x0 + 1, 0, w - 1)
    y0c = np.clip(y0, 0, h - 1)
    y1c = np.clip(y0 + 1, 0, h - 1)
    fy_ = fy[:, None, None]
    fx_ = fx[None, :, None]
    v00 = a[np.ix_(y0c, x0c)]
    v01 = a[np.ix_(y0c, x1c)]
    v10 = a[np.ix_(y1c, x0c)]
    v11 = a[np.ix_(y1c, x1c)]
    val = (
        (10 - fy_) * ((10 - fx_) * v00 + fx_ * v01)
        + fy_ * ((10 - fx_) * v10 + fx_ * v11)
        + 50
    ) // 100
    return val.astype(np.uint8)
