"""PDF page rasterization — the last reference-capability delta
(VERDICT r7 #3): the reference pipeline rasters ANY page to an image
for its vision-LLM hop (gen_pdf_imgLambda.py:51-60 via pdf2image /
Poppler); this engine's deterministic counterpart renders a page's
content stream to an RGB pixel buffer with no native dependencies.

Honest scope (documented, enforced loudly):

* **Rect fills** (``re`` … ``f``): exact coverage fill, current
  gray/RGB fill color, full q/Q + axis-aligned ``cm`` tracking.
* **Image XObjects** (``Do``): raw / FlateDecode / DCTDecode (through
  operators/jpeg.py) 8-bit Gray/RGB, nearest-neighbor scaled into the
  CTM rect — the scanned-catalogue page renders for real.
* **Text** (``Tj``/``TJ``/``'``/``"``): deterministic GLYPH-BOX model —
  each non-space character paints a box of 0.4 em × 0.6 em above the
  baseline and advances the pen 0.5 em (TJ kerning numbers honored at
  -1/1000 em).  No font programs: the goal is layout-faithful ink
  placement with closed-form geometry an oracle can restate, not type
  rendering.
* **Path fills** (``m``/``l``/``c``/``v``/``y``/``h`` … ``f``/``f*``,
  r9): cubic Beziers flatten to a FIXED 16-segment polyline (a
  deterministic tolerance an oracle can restate — t = k/16 is exact in
  binary, the Horner-free polynomial uses one pinned association
  order), then integer scanline coverage fills pixel centers with
  nonzero-winding or even-odd rules — the same exact-coverage
  discipline as the rect fill.  Path points transform through ANY
  affine CTM (rotation included); a pure-``re`` path keeps the r8
  round()-based fast fill bit-for-bit.
* **Rotated/skewed CTMs** (r9 wave 2): rect and glyph-box fills route
  through the scanline quad, image placement backward-warps each
  device pixel center through the inverse CTM (nearest-neighbor) —
  the axis-aligned cases keep their r8 round()-based code paths
  bit-for-bit.
* **Embedded TrueType text** (r10, VERDICT r9 #4): when the page font
  carries /FontFile2, Tj/TJ render REAL glyf outlines
  (operators/truetype.py) — quadratics flatten with a pinned
  8-segment rule into the nonzero-winding scanline filler, pen
  advances by hmtx widths.
* **Embedded CFF text** (r10 continuation): /FontFile3 Type1C
  programs render Type 2 charstring outlines (operators/cff.py) —
  cubics flatten with the same pinned 16-segment rule as path fills,
  pen advances by charstring widths; fonts outside both formats keep
  the glyph-box model above.
* **Axial shadings + rect clips** (r10, VERDICT r9 #5): ``re W n``
  tracks a single axis-aligned rect clip (intersecting across q/Q);
  ``sh`` paints a /ShadingType 2 gradient (FunctionType 2, N=1,
  DeviceGray/RGB, /Extend clamp) through the inverse CTM into the
  clip; every paint op honors the clip rect.  Non-rect clip paths and
  W-combined-with-painting degrade loudly.
* **Degrades to None**: unsupported color spaces or filters, singular
  CTMs, anything malformed.  Per the codec-family contract the public
  entry point never raises on untrusted input.

Scale shape: one page rasterizes independently inside mapInPandas —
embarrassingly parallel, buffer bounded by page size × DPI², never by
the corpus.
"""

from __future__ import annotations

import math
import re
import zlib
from struct import error as struct_error

import numpy as np

from specialsid_spark.operators.pdf import (
    _content_bytes,
    _page_order,
    _read_hex,
    _read_literal,
    _scan_objects,
    _skip_dict,
    _DELIMS,
    _NUM_TOKEN_RE,
    _WHITESPACE,
    PdfWriter,
    _pdf_escape,
    _pdf_escape_bytes,
)

# glyph-box model (em fractions) — the oracle restates these
GLYPH_ADVANCE = 0.5
GLYPH_W = 0.4
GLYPH_H = 0.6

# fixed Bezier flattening: 16 uniform-parameter segments.  t = k/16 is
# exactly representable, and the evaluation below uses one pinned
# association order, so the flattened polyline's doubles are
# reproducible in any IEEE engine (the DuckDB oracle re-derives them).
BEZIER_SEGS = 16


class _Degrade(Exception):
    """Internal: content outside the supported raster scope."""


# --------------------------------------------------------------- matrices
# Row-vector convention: [x y 1] · [[a b 0], [c d 0], [e f 1]].

def _mul(m1, m2):
    a1, b1, c1, d1, e1, f1 = m1
    a2, b2, c2, d2, e2, f2 = m2
    return (
        a1 * a2 + b1 * c2,
        a1 * b2 + b1 * d2,
        c1 * a2 + d1 * c2,
        c1 * b2 + d1 * d2,
        e1 * a2 + f1 * c2 + e2,
        e1 * b2 + f1 * d2 + f2,
    )


def _apply(m, x, y):
    a, b, c, d, e, f = m
    return a * x + c * y + e, b * x + d * y + f


def _axis_aligned(m) -> bool:
    return abs(m[1]) < 1e-9 and abs(m[2]) < 1e-9


# -------------------------------------------------------------- tokenizer

# BI..ID..EI inline images (r11, VERDICT r10 #4): ISO 32000-1 §8.9.7.
# Abbreviated parameter keys/values per Tables 92-94; data decodes
# through the same codec shelf as image XObjects.  The poorly-specified
# part is finding the END of the data: raw/AHx/A85/DCT/Flate all carry
# their own terminator (exact length / '>' / '~>' / FFD9 EOI / the zlib
# stream end via decompressobj), so only binary CCITT needs the
# whitespace-EI-whitespace candidate scan with a decode attempt per
# candidate.  Reference analogue: Poppler renders inline images in
# gen_pdf_imgLambda.py:51's pdftoppm conversion.

_II_FILTERS = {
    b"AHx": "ASCIIHexDecode",
    b"A85": "ASCII85Decode",
    b"LZW": "LZWDecode",
    b"Fl": "FlateDecode",
    b"RL": "RunLengthDecode",
    b"CCF": "CCITTFaxDecode",
    b"DCT": "DCTDecode",
    b"ASCIIHexDecode": "ASCIIHexDecode",
    b"ASCII85Decode": "ASCII85Decode",
    b"LZWDecode": "LZWDecode",
    b"FlateDecode": "FlateDecode",
    b"RunLengthDecode": "RunLengthDecode",
    b"CCITTFaxDecode": "CCITTFaxDecode",
    b"DCTDecode": "DCTDecode",
}

_II_CHANNELS = {"G": 1, "DeviceGray": 1, "RGB": 3, "DeviceRGB": 3}

_II_EI_RE = re.compile(rb"[\x00\t\n\x0c\r ]EI(?=[\x00\t\n\x0c\r ()<>\[\]{}/%]|$)")


def _ii_int(params: bytes, *keys: bytes) -> int | None:
    for k in keys:
        m = re.search(rb"/" + k + rb"\s+(-?\d+)", params)
        if m is not None:
            return int(m.group(1))
    return None


def _ii_raster(canon: list[str], body: bytes, w: int, h: int,
               params: bytes, cs: str | None):
    """Decode the post-transport filter chain to (w, h, ch, pixels)."""
    if canon and canon[0] == "FlateDecode":
        try:
            body = zlib.decompress(body)
        except zlib.error as exc:
            raise _Degrade("inline Flate decode failed") from exc
        canon = canon[1:]
    if canon and canon[0] == "LZWDecode":
        from specialsid_spark.operators.pdf import lzw_decode_pdf  # noqa: PLC0415

        dec = lzw_decode_pdf(params, bytes(body))
        if dec is None:
            raise _Degrade("inline LZW decode failed")
        body = dec
        canon = canon[1:]
    if canon and canon[0] == "DCTDecode":
        from specialsid_spark.operators.jpeg import decode_jpeg  # noqa: PLC0415

        dec = decode_jpeg(bytes(body))
        if dec is None:
            raise _Degrade("inline DCT decode failed")
        return dec
    if canon and canon[0] == "CCITTFaxDecode":
        from specialsid_spark.operators.ccitt import g4_decode  # noqa: PLC0415

        k = _ii_int(params, b"K") or 0
        cols = _ii_int(params, b"Columns")
        if cols is not None and cols != w:
            raise _Degrade("inline CCITT /Columns mismatch")
        if k < 0:
            dec = g4_decode(bytes(body), w, h)
        elif k > 0:  # mixed 1D/2D (r11)
            from specialsid_spark.operators.ccitt import (  # noqa: PLC0415
                g3_mixed_decode,
            )

            dec = g3_mixed_decode(bytes(body), w, h)
        else:  # K = 0 (r11): pure 1D MH rows
            from specialsid_spark.operators.ccitt import (  # noqa: PLC0415
                g3_1d_decode,
            )

            aligned = (
                re.search(rb"/EncodedByteAlign\s+true", params) is not None
            )
            dec = g3_1d_decode(bytes(body), w, h, byte_align=aligned)
        if dec is None:
            raise _Degrade("inline CCITT decode failed")
        if _ccitt_inverted(params):  # BlackIs1 XOR Decode [1 0] (r11)
            dec = bytes(255 - v for v in dec)
        return w, h, 1, dec
    if canon:
        raise _Degrade(f"inline image filter {canon[0]} unsupported")
    bpc = _ii_int(params, b"BPC", b"BitsPerComponent")
    if bpc != 8:
        raise _Degrade("only 8-bit raw inline images supported")
    ch = _II_CHANNELS.get(cs or "")
    if ch is None:
        raise _Degrade(f"inline image colorspace {cs!r} unsupported")
    if len(body) < w * h * ch:
        raise _Degrade("inline image data short")
    return w, h, ch, bytes(body[: w * h * ch])


def _parse_inline_image(data: bytes, i: int):
    """Parse a BI..ID..EI inline image starting just past the BI token.
    Returns ((w, h, ch, pixels), index past the EI terminator); any
    out-of-scope construct raises _Degrade (the page degrades loudly,
    never renders wrong pixels)."""
    n = len(data)
    # the ID operator: whitespace/delimiter-bounded, one whitespace
    # byte between it and the data (§8.9.7)
    j, pos = i, -1
    while pos < 0:
        k = data.find(b"ID", j)
        if k < 0:
            raise _Degrade("inline image missing ID")
        if (k == 0 or data[k - 1] in _DELIMS) and (
            k + 2 < n and data[k + 2] in _WHITESPACE
        ):
            pos = k
        else:
            j = k + 2
    params = data[i:pos]
    start = pos + 3
    if re.search(rb"/(?:IM|ImageMask)\s+true", params):
        raise _Degrade("inline image masks unsupported")
    w = _ii_int(params, b"W", b"Width")
    h = _ii_int(params, b"H", b"Height")
    if w is None or h is None or w <= 0 or h <= 0:
        raise _Degrade("inline image missing dimensions")
    csm = re.search(rb"/(?:CS|ColorSpace)\s*/(\w+)", params)
    cs = csm.group(1).decode("latin-1") if csm else None
    fm = re.search(rb"/(?:F|Filter)\s*(\[[^\]]*\]|/\w+)", params)
    fnames = re.findall(rb"/(\w+)", fm.group(1)) if fm else []
    canon: list[str] = []
    for f in fnames:
        cf = _II_FILTERS.get(f)
        if cf is None:
            raise _Degrade(f"inline image filter /{f.decode('latin-1')} unknown")
        canon.append(cf)

    # ---- locate the end of the data (per outermost filter) ----
    if canon and canon[0] == "ASCIIHexDecode":
        e = data.find(b">", start)
        if e < 0:
            raise _Degrade("inline AHx missing terminator")
        hex_s = re.sub(rb"[^0-9A-Fa-f]", b"", data[start:e])
        if len(hex_s) % 2:
            hex_s += b"0"
        try:
            body = bytes.fromhex(hex_s.decode("ascii"))
        except ValueError as exc:
            raise _Degrade("inline AHx decode failed") from exc
        end = e + 1
        canon = canon[1:]
    elif canon and canon[0] == "ASCII85Decode":
        e = data.find(b"~>", start)
        if e < 0:
            raise _Degrade("inline A85 missing terminator")
        import base64  # noqa: PLC0415

        try:
            body = base64.a85decode(re.sub(rb"\s", b"", data[start:e]))
        except ValueError as exc:
            raise _Degrade("inline A85 decode failed") from exc
        end = e + 2
        canon = canon[1:]
    elif canon and canon[0] == "FlateDecode":
        d = zlib.decompressobj()
        try:
            body = d.decompress(data[start:])
        except zlib.error as exc:
            raise _Degrade("inline Flate decode failed") from exc
        if not d.eof:
            raise _Degrade("inline Flate stream truncated")
        end = n - len(d.unused_data)
        canon = canon[1:]  # body is fully decoded; chain continues raw
    elif canon and canon[0] == "DCTDecode":
        e = data.find(b"\xff\xd9", start)  # EOI cannot occur in scan data
        if e < 0:
            raise _Degrade("inline DCT missing EOI")
        body = data[start : e + 2]
        end = e + 2
    elif canon and canon[0] in ("CCITTFaxDecode", "LZWDecode"):
        # no byte-addressable terminator (CCITT has none; LZW's EOI is
        # a code, not a byte boundary): try each whitespace-EI-
        # whitespace candidate until the decoder accepts the slice
        for m2 in _II_EI_RE.finditer(data, start):
            cand = data[start : m2.start()]
            try:
                return _ii_raster(list(canon), cand, w, h, params, cs), (
                    m2.start() + 3
                )
            except _Degrade:
                continue
        raise _Degrade(f"inline {canon[0]}: no decodable EI candidate")
    elif canon:
        raise _Degrade(f"inline image filter {canon[0]} unsupported")
    else:
        bpc = _ii_int(params, b"BPC", b"BitsPerComponent")
        ch = _II_CHANNELS.get(cs or "")
        if bpc != 8 or ch is None:
            raise _Degrade("only 8-bit G/RGB raw inline images supported")
        end = start + w * h * ch
        if end > n:
            raise _Degrade("inline image data short")
        body = data[start:end]

    # the EI terminator must follow (whitespace-separated)
    t = end
    while t < n and data[t] in _WHITESPACE:
        t += 1
    if data[t : t + 2] != b"EI":
        raise _Degrade("inline image missing EI")
    return _ii_raster(canon, body, w, h, params, cs), t + 2


def _tokens(data: bytes):
    """Content-stream tokens: ('num', float) / ('name', str) /
    ('str', str) / ('arr', list of ('num'|'str', v)) / ('op', bytes) /
    ('inline', (w, h, ch, pixels)) for BI..EI inline images.
    Inline dicts are skipped."""
    i = 0
    n = len(data)
    arr: list | None = None
    while i < n:
        c = data[i]
        if c in _WHITESPACE:
            i += 1
            continue
        if c == 0x28:
            s, i = _read_literal(data, i)
            if arr is not None:
                arr.append(("str", s))
            else:
                yield ("str", s)
            continue
        if c == 0x3C:
            if data[i : i + 2] == b"<<":
                i = _skip_dict(data, i)
            else:
                s, i = _read_hex(data, i)
                if arr is not None:
                    arr.append(("str", s))
                else:
                    yield ("str", s)
            continue
        if c == 0x5B:  # [
            arr = []
            i += 1
            continue
        if c == 0x5D:  # ]
            yield ("arr", arr or [])
            arr = None
            i += 1
            continue
        if c == 0x2F:  # /Name
            j = i + 1
            while j < n and data[j] not in _DELIMS:
                j += 1
            yield ("name", data[i + 1 : j].decode("latin-1"))
            i = j
            continue
        if c == 0x25:  # comment
            j = data.find(b"\n", i)
            i = n if j < 0 else j + 1
            continue
        j = i
        while j < n and data[j] not in _DELIMS:
            j += 1
        if j == i:
            i += 1
            continue
        tok = data[i:j]
        i = j
        if _NUM_TOKEN_RE.match(tok):
            v = float(tok)
            if arr is not None:
                arr.append(("num", v))
            else:
                yield ("num", v)
        elif arr is None:
            if tok == b"BI":
                img, i = _parse_inline_image(data, i)
                yield ("inline", img)
            else:
                yield ("op", tok)


# --------------------------------------------------------------- XObjects

def _page_xobjects(objs: dict, page_head: bytes) -> dict[str, int]:
    """/XObject resource name -> object number for one page."""
    m = re.search(rb"/XObject\s*<<(.*?)>>", page_head, re.S)
    if m is None:
        rm = re.search(rb"/Resources\s+(\d+)\s+0\s+R", page_head)
        if rm is None:
            return {}
        rhead = objs.get(int(rm.group(1)), (b"",))[0]
        m = re.search(rb"/XObject\s*<<(.*?)>>", rhead, re.S)
        if m is None:
            return {}
    return {
        name.decode("latin-1"): int(num)
        for name, num in re.findall(rb"/(\w+)\s+(\d+)\s+0\s+R", m.group(1))
    }


def _decode_image_xobject(head: bytes, data: bytes | None):
    """(w, h, ch, pixels) for a /Subtype /Image XObject: raw / Flate /
    DCT (8-bit DeviceGray or DeviceRGB), or CCITTFax G4 (1-bit bilevel
    scanned pages, r10 — /K < 0 only, the PDF-default BlackIs1=false
    polarity)."""
    if b"/Subtype" not in head or b"/Image" not in head or data is None:
        raise _Degrade("not an image XObject")
    wm = re.search(rb"/Width\s+(\d+)", head)
    hm = re.search(rb"/Height\s+(\d+)", head)
    if wm is None or hm is None:
        raise _Degrade("image missing dimensions")
    w, h = int(wm.group(1)), int(hm.group(1))

    def _single_filter(name: bytes) -> bool:
        # strict single-filter match (r12 review): a chained /Filter
        # array like [/ASCII85Decode /FlateDecode] must fall through to
        # the unsupported-filter degrade, never feed transport bytes to
        # (or leave a later stage's bytes in) a codec
        return bool(
            re.search(rb"/Filter\s*/" + name + rb"\b", head)
            or re.search(rb"/Filter\s*\[\s*/" + name + rb"\s*\]", head)
        )

    if _single_filter(b"CCITTFaxDecode"):
        from specialsid_spark.operators.ccitt import (  # noqa: PLC0415
            g3_1d_decode,
            g3_mixed_decode,
            g4_decode,
        )

        km = re.search(rb"/K\s+(-?\d+)", head)
        k_val = int(km.group(1)) if km else 0  # /K default is 0
        cm = re.search(rb"/Columns\s+(\d+)", head)
        if cm is not None and int(cm.group(1)) != w:
            raise _Degrade("CCITT /Columns mismatch")
        if k_val < 0:
            dec = g4_decode(bytes(data), w, h)
        elif k_val > 0:  # mixed 1D/2D, EOL+tag framed (r11)
            dec = g3_mixed_decode(bytes(data), w, h)
        else:  # K = 0: pure 1D MH rows (r11); honor /EncodedByteAlign
            aligned = (
                re.search(rb"/EncodedByteAlign\s+true", head) is not None
            )
            dec = g3_1d_decode(bytes(data), w, h, byte_align=aligned)
        if dec is None:
            raise _Degrade("CCITT XObject decode failed")
        # polarity (r11): /BlackIs1 true flips the decoded-bit
        # convention; a /Decode [1 0] array flips the sample mapping.
        # The two XOR — writers that set BlackIs1 usually pair it with
        # Decode [1 0], which cancels back to normal polarity.
        if _ccitt_inverted(head):
            dec = bytes(255 - v for v in dec)
        return w, h, 1, dec
    bm = re.search(rb"/BitsPerComponent\s+(\d+)", head)
    bpc = int(bm.group(1)) if bm else 8
    if bpc not in (1, 4, 8):
        raise _Degrade("only 1/4/8-bit images supported")
    if bpc != 8 and (b"/DCTDecode" in head or b"/DeviceRGB" in head):
        raise _Degrade("sub-8-bit only for gray raw/Flate/LZW images")
    if _single_filter(b"DCTDecode"):
        from specialsid_spark.operators.jpeg import decode_jpeg  # noqa: PLC0415

        dec = decode_jpeg(bytes(data))
        if dec is None:
            raise _Degrade("JPEG XObject decode failed")
        return dec
    if _single_filter(b"FlateDecode"):
        try:
            data = zlib.decompress(data)
        except zlib.error as exc:
            raise _Degrade("Flate XObject decode failed") from exc
        data = _unpredict_image(head, bytes(data), w, h)
    elif _single_filter(b"LZWDecode"):
        # ADVICE r11: a chained /Filter array like
        # [/ASCII85Decode /LZWDecode] must fall through to the
        # unsupported-filter degrade, not feed raw transport bytes to
        # the LZW codec.
        from specialsid_spark.operators.pdf import (  # noqa: PLC0415
            lzw_decode_pdf,
        )

        # strip /Predictor before the LZW wrapper (it degrades on >1);
        # prediction is undone here AFTER decompression
        data = lzw_decode_pdf(
            re.sub(rb"/Predictor\s+\d+", b"", head), bytes(data)
        )
        if data is None:
            raise _Degrade("LZW XObject decode failed")
        data = _unpredict_image(head, bytes(data), w, h)
    elif b"/Filter" in head:
        raise _Degrade("unsupported image filter")
    if bpc != 8:
        # sub-byte grayscale (r11): rows pad to byte boundaries; a
        # /Decode [1 0] array inverts the sample ramp.  1-bit bilevel
        # Flate images are the common CCITT-less scan shape.
        stride = (w * bpc + 7) // 8
        if len(data) < h * stride:
            raise _Degrade("image data short")
        arr = np.frombuffer(bytes(data[: h * stride]), np.uint8).reshape(
            h, stride
        )
        if bpc == 1:
            samples = np.unpackbits(arr, axis=1)[:, :w]
            px = samples.astype(np.uint8) * 255
        else:  # 4-bit: interleave high/low nibbles, scale 0..15 -> 0..255
            nib = np.empty((h, stride * 2), np.uint8)
            nib[:, 0::2] = arr >> 4
            nib[:, 1::2] = arr & 0x0F
            px = nib[:, :w] * 17
        if re.search(
            rb"/Decode\s*\[\s*1(?:\.0*)?\s+0(?:\.0*)?\s*\]", head
        ):
            px = 255 - px
        return w, h, 1, px.tobytes()
    ch = 3 if b"/DeviceRGB" in head else 1
    if len(data) < w * h * ch:
        raise _Degrade("image data short")
    return w, h, ch, bytes(data[: w * h * ch])


def _ccitt_inverted(params: bytes) -> bool:
    black1 = re.search(rb"/BlackIs1\s+true", params) is not None
    decrev = re.search(
        rb"/(?:D|Decode)\s*\[\s*1(?:\.0*)?\s+0(?:\.0*)?\s*\]", params
    ) is not None
    return black1 != decrev


def _unpredict_image(head: bytes, data: bytes, w: int, h: int) -> bytes:
    """Undo a /DecodeParms predictor on a decompressed image stream
    (r11): PNG row predictors (/Predictor >= 10, the dominant shape
    real Flate image writers emit) via the full bpp-aware unfilter in
    operators/multimodal.py, or TIFF horizontal differencing
    (/Predictor 2).  No predictor -> pass-through."""
    pm = re.search(rb"/Predictor\s+(\d+)", head)
    if pm is None:
        return data
    pred = int(pm.group(1))
    if pred <= 1:
        return data
    cm = re.search(rb"/Colors\s+(\d+)", head)
    colors = int(cm.group(1)) if cm else 1
    ch = 3 if b"/DeviceRGB" in head else 1
    if colors != ch:
        raise _Degrade("/Colors mismatch with color space")
    colm = re.search(rb"/Columns\s+(\d+)", head)
    if colm is not None and int(colm.group(1)) != w:
        raise _Degrade("/Columns mismatch with /Width")
    bm = re.search(rb"/BitsPerComponent\s+(\d+)", head)
    if bm is not None and int(bm.group(1)) != 8:
        raise _Degrade("predictor on sub-8-bit samples unsupported")
    stride = w * colors  # 8-bit lanes (guarded above)
    if pred >= 10:
        from specialsid_spark.operators.multimodal import (  # noqa: PLC0415
            _png_unfilter,
        )

        got = _png_unfilter(bytes(data), 0, w, h, colors, stride)
        if got is None:
            raise _Degrade("PNG predictor unfilter failed")
        return bytes(got[0])
    if pred == 2:  # TIFF horizontal differencing, per-lane prefix sum
        import numpy as np  # noqa: PLC0415

        if len(data) < h * stride:
            raise _Degrade("predicted image data short")
        arr = (
            np.frombuffer(data[: h * stride], np.uint8)
            .reshape(h, w, colors)
            .copy()
        )
        np.cumsum(arr, axis=1, dtype=np.uint8, out=arr)
        return arr.tobytes()
    raise _Degrade(f"predictor {pred} unsupported")




# ---------------------------------------------------------------- shadings

def _page_shadings(objs: dict, page_head: bytes) -> dict[str, int]:
    """/Shading resource name -> object number for one page."""
    m = re.search(rb"/Shading\s*<<(.*?)>>", page_head, re.S)
    if m is None:
        rm = re.search(rb"/Resources\s+(\d+)\s+0\s+R", page_head)
        if rm is None:
            return {}
        rhead = objs.get(int(rm.group(1)), (b"",))[0]
        m = re.search(rb"/Shading\s*<<(.*?)>>", rhead, re.S)
        if m is None:
            return {}
    return {
        name.decode("latin-1"): int(num)
        for name, num in re.findall(rb"/(\w+)\s+(\d+)\s+0\s+R", m.group(1))
    }


def _page_colorspaces(objs: dict, page_head: bytes) -> dict[str, int]:
    """/ColorSpace resource name -> object number for one page."""
    m = re.search(rb"/ColorSpace\s*<<(.*?)>>", page_head, re.S)
    if m is None:
        rm = re.search(rb"/Resources\s+(\d+)\s+0\s+R", page_head)
        if rm is None:
            return {}
        rhead = objs.get(int(rm.group(1)), (b"",))[0]
        m = re.search(rb"/ColorSpace\s*<<(.*?)>>", rhead, re.S)
        if m is None:
            return {}
    return {
        name.decode("latin-1"): int(num)
        for name, num in re.findall(rb"/(\w+)\s+(\d+)\s+0\s+R", m.group(1))
    }


def _parse_separation(objs: dict, cs_num: int):
    """Parse a colorspace object (r10): [/Separation /Name
    /DeviceGray|/DeviceRGB fn] returns (tint_fn, nch) — the spot-ink
    form flyer print art uses.  [/ICCBased stream] returns
    (None, /N-channels): without a color-management engine the
    device-space interpretation of the component values IS the
    documented rendering (the common no-LCMS renderer convention;
    ICC profile bytes carry no outline/coverage information).
    Anything else degrades."""
    head = objs.get(cs_num, (b"",))[0]
    if re.search(rb"/ICCBased\b", head) is not None:
        sm = re.search(rb"(\d+)\s+0\s+R", head)
        if sm is None:
            raise _Degrade("ICCBased missing stream ref")
        shead = objs.get(int(sm.group(1)), (b"",))[0]
        nm = re.search(rb"/N\s+(\d+)", shead)
        if nm is None or int(nm.group(1)) not in (1, 3):
            raise _Degrade("ICCBased /N must be 1 or 3")
        return None, int(nm.group(1))
    if re.search(rb"/Separation\b", head) is None:
        raise _Degrade("only Separation/ICCBased colorspace objects supported")
    if b"/DeviceRGB" in head:
        nch = 3
    elif b"/DeviceGray" in head:
        nch = 1
    else:
        raise _Degrade("Separation alternate must be DeviceGray/RGB")
    fm = list(re.finditer(rb"(\d+)\s+0\s+R", head))
    if not fm:
        raise _Degrade("Separation missing tint transform")
    fn = _parse_function(objs, int(fm[-1].group(1)), nch)
    return fn, nch


def _eval_tint(fn, nch: int, t: float) -> tuple[float, ...]:
    """Evaluate a function spec at scalar tint t (clamped to [0, 1]) —
    the same pinned chains as _paint_shading's vectorized form."""
    t = min(1.0, max(0.0, t))
    if fn[0] == "exp":
        _kind, c0, c1 = fn
        return tuple(c0[k] + t * (c1[k] - c0[k]) for k in range(nch))
    if fn[0] == "ps":
        stack = _eval_ps(fn[1], t)
        if len(stack) < nch:
            raise _Degrade("calculator produced too few outputs")
        return tuple(float(v) for v in stack[-nch:])
    pieces = fn[1]
    for i, (lo, hi, e0, e1, c0, c1) in enumerate(pieces):
        if (t >= lo and t < hi) or (i == len(pieces) - 1 and t >= lo):
            tt = e0 + (t - lo) * (e1 - e0) / (hi - lo)
            return tuple(c0[k] + tt * (c1[k] - c0[k]) for k in range(nch))
    _lo, _hi, e0, e1, c0, c1 = pieces[0]
    return tuple(c0[k] for k in range(nch))


_NUM_LIST_RE = re.compile(rb"[-+]?[0-9.]+(?:[eE][-+]?\d+)?")


def _num_array(head: bytes, key: bytes) -> list[float] | None:
    m = re.search(key + rb"\s*\[([^\]]*)\]", head)
    if m is None:
        return None
    return [float(v) for v in _NUM_LIST_RE.findall(m.group(1))]


_PS_OPS = frozenset(
    "add sub mul div neg abs sqrt dup exch pop index copy"
    " floor ceiling truncate cvr".split()
)


def _parse_ps_calculator(data: bytes) -> list:
    """Tokenize a FunctionType 4 (PostScript calculator) program body:
    numbers and the supported ARITHMETIC/stack operator subset.
    Conditionals (if/ifelse, nested procedures) and transcendentals
    whose cross-engine rounding is unpinned (exp/ln/sin/cos) degrade —
    real Separation tint transforms are overwhelmingly arithmetic."""
    body = data.strip()
    if not (body.startswith(b"{") and body.endswith(b"}")):
        raise _Degrade("calculator function missing outer braces")
    inner = body[1:-1]
    if b"{" in inner:
        raise _Degrade("calculator procedures (if/ifelse) unsupported")
    prog: list = []
    for tok in inner.split():
        t = tok.decode("latin-1")
        if t in _PS_OPS:
            prog.append(t)
        else:
            try:
                prog.append(float(t))
            except ValueError:
                raise _Degrade(f"calculator op {t!r} unsupported") from None
    return prog


def _ps_count(v) -> int:
    """index/copy operand -> int.  On the vectorized shading path the
    input is an ndarray; a (malformed/hostile) program that COMPUTES the
    count from it hands an array to int(), which raises TypeError —
    outside rasterize_page's caught set, so it would crash the Spark
    task instead of degrading (ADVICE r10).  Degrade loudly instead;
    array-valued stack counts have no meaning anyway."""
    if isinstance(v, (int, float)) or (
        isinstance(v, np.generic) and np.ndim(v) == 0
    ):
        return int(v)
    raise _Degrade("calculator index/copy count is not a scalar")


def _eval_ps(prog: list, t):
    """Run a calculator program on input ``t`` (scalar or ndarray) —
    numpy ops, so the shading grid evaluates vectorized.  Returns the
    full result stack (bottom..top = output order per the PDF spec)."""
    stack = [t]

    def pop():
        if not stack:
            raise _Degrade("calculator stack underflow")
        return stack.pop()

    for op in prog:
        if isinstance(op, float):
            stack.append(op)
        elif op == "add":
            b, a = pop(), pop()
            stack.append(a + b)
        elif op == "sub":
            b, a = pop(), pop()
            stack.append(a - b)
        elif op == "mul":
            b, a = pop(), pop()
            stack.append(a * b)
        elif op == "div":
            b, a = pop(), pop()
            stack.append(a / b)
        elif op == "neg":
            stack.append(-pop())
        elif op == "abs":
            stack.append(np.abs(pop()))
        elif op == "sqrt":
            stack.append(np.sqrt(pop()))
        elif op == "floor":
            stack.append(np.floor(pop()))
        elif op == "ceiling":
            stack.append(np.ceil(pop()))
        elif op == "truncate":
            stack.append(np.trunc(pop()))
        elif op == "cvr":
            pass  # values are already real
        elif op == "dup":
            v = pop()
            stack += [v, v]
        elif op == "exch":
            b, a = pop(), pop()
            stack += [b, a]
        elif op == "pop":
            pop()
        elif op == "index":
            n = _ps_count(pop())
            if not 0 <= n < len(stack):
                raise _Degrade("calculator index out of range")
            stack.append(stack[-1 - n])
        elif op == "copy":
            n = _ps_count(pop())
            if not 0 <= n <= len(stack):
                raise _Degrade("calculator copy out of range")
            if n:
                stack += stack[-n:]
    return stack


def _parse_function(objs: dict, fn_num: int, nch: int):
    """A shading /Function: FunctionType 2 (exponential, N = 1) ->
    ('exp', c0, c1); FunctionType 3 (stitching of type-2 subfunctions,
    r10) -> ('stitch', [(lo, hi, e0, e1, c0, c1), ...]) with one entry
    per subdomain; FunctionType 4 (PostScript calculator, r10) ->
    ('ps', prog) over the arithmetic operator subset; FunctionType 0
    (1-D sampled table, r11) -> ('samp', samples, n, domain, encode,
    decode) with linear interpolation.  Anything else degrades."""
    fhead = objs.get(fn_num, (b"",))[0]
    if re.search(rb"/FunctionType\s+4\b", fhead) is not None:
        fdata = objs.get(fn_num, (b"", None))[1]
        if fdata is None:
            raise _Degrade("calculator function missing stream")
        rng = _num_array(fhead, rb"/Range")
        if rng is None or len(rng) != 2 * nch:
            raise _Degrade("calculator /Range arity mismatch")
        return ("ps", _parse_ps_calculator(bytes(fdata)))
    if re.search(rb"/FunctionType\s+2\b", fhead) is not None:
        nm = re.search(rb"/N\s+([0-9.]+)", fhead)
        if nm is None:
            raise _Degrade("exponential function missing /N")
        n_exp = float(nm.group(1))
        c0 = _num_array(fhead, rb"/C0") or [0.0] * nch
        c1 = _num_array(fhead, rb"/C1") or [1.0] * nch
        if len(c0) != nch or len(c1) != nch:
            raise _Degrade("function arity mismatch")
        if n_exp == 1.0:
            return ("exp", tuple(c0), tuple(c1))
        if n_exp <= 0.0:
            raise _Degrade("exponential /N must be positive")
        # general gamma (r11): c0 + t^N (c1-c0) — kept OUT of the
        # stitch/oracle paths (pow is not cross-engine ULP-stable);
        # fixture oracles pin only the N=1 form
        return ("expn", n_exp, tuple(c0), tuple(c1))
    if re.search(rb"/FunctionType\s+0\b", fhead) is not None:
        # sampled function (r11): the design-tool gradient shape —
        # a table of bit-packed samples, linearly interpolated
        fdata = _stream_decoded(objs, fn_num)
        if fdata is None:
            raise _Degrade("sampled function stream undecodable")
        size = _num_array(fhead, rb"/Size")
        if size is None or len(size) != 1:
            raise _Degrade("only 1-D sampled functions supported")
        n = int(size[0])
        if n < 2:
            raise _Degrade("sampled function needs >= 2 samples")
        bm2 = re.search(rb"/BitsPerSample\s+(\d+)", fhead)
        if bm2 is None or int(bm2.group(1)) not in (1, 2, 4, 8, 16):
            raise _Degrade("sampled /BitsPerSample unsupported")
        bps = int(bm2.group(1))
        rng = _num_array(fhead, rb"/Range")
        if rng is None or len(rng) != 2 * nch:
            raise _Degrade("sampled /Range arity mismatch")
        dom = _num_array(fhead, rb"/Domain") or [0.0, 1.0]
        enc2 = _num_array(fhead, rb"/Encode") or [0.0, float(n - 1)]
        dec2 = _num_array(fhead, rb"/Decode") or list(rng)
        if len(dec2) != 2 * nch or len(enc2) != 2 or len(dom) != 2:
            raise _Degrade("sampled function array arity")
        total = n * nch
        if bps == 8:
            vals = np.frombuffer(fdata[:total], np.uint8).astype(np.float64)
        elif bps == 16:
            vals = np.frombuffer(
                fdata[: 2 * total], dtype=">u2"
            ).astype(np.float64)
        else:
            bits = np.unpackbits(np.frombuffer(fdata, np.uint8))
            usable = (len(bits) // bps) * bps
            grouped = bits[:usable].reshape(-1, bps)
            weights = (1 << np.arange(bps - 1, -1, -1)).astype(np.int64)
            vals = (grouped * weights).sum(axis=1).astype(np.float64)
        if len(vals) < total:
            raise _Degrade("sampled function data short")
        samples = (vals[:total] / float((1 << bps) - 1)).reshape(n, nch)
        return (
            "samp", samples, n, tuple(dom), tuple(enc2), tuple(dec2)
        )
    if re.search(rb"/FunctionType\s+3\b", fhead) is not None:
        refs = re.search(rb"/Functions\s*\[(.*?)\]", fhead, re.S)
        if refs is None:
            raise _Degrade("stitching function missing /Functions")
        subs = [
            _parse_function(objs, int(n), nch)
            for n in re.findall(rb"(\d+)\s+0\s+R", refs.group(1))
        ]
        if not subs or any(s[0] != "exp" for s in subs):
            raise _Degrade("stitching of non-exponential subfunctions")
        bounds = _num_array(fhead, rb"/Bounds")
        encode = _num_array(fhead, rb"/Encode")
        dom = _num_array(fhead, rb"/Domain") or [0.0, 1.0]
        if bounds is None:
            bounds = []
        if encode is None or len(encode) != 2 * len(subs):
            raise _Degrade("stitching function /Encode arity")
        if len(bounds) != len(subs) - 1:
            raise _Degrade("stitching function /Bounds arity")
        edges = [dom[0], *bounds, dom[1]]
        pieces = []
        for i, (_kind, c0, c1) in enumerate(subs):
            lo, hi = edges[i], edges[i + 1]
            if hi <= lo:
                raise _Degrade("stitching subdomain empty")
            pieces.append((lo, hi, encode[2 * i], encode[2 * i + 1], c0, c1))
        return ("stitch", pieces)
    raise _Degrade("only function types 2 and 3 supported")


def _parse_shading(objs: dict, sh_num: int):
    """Parse a /ShadingType 2 (axial) or 3 (radial, r10) dict: the two
    born-digital flyer gradient forms.  Anything else degrades."""
    head = objs.get(sh_num, (b"",))[0]
    if re.search(rb"/ShadingType\s+2\b", head) is not None:
        kind, ncoords = "axial", 4
    elif re.search(rb"/ShadingType\s+3\b", head) is not None:
        kind, ncoords = "radial", 6
    else:
        raise _Degrade("only axial/radial (type 2/3) shadings supported")
    coords = _num_array(head, rb"/Coords")
    if coords is None or len(coords) != ncoords:
        raise _Degrade(f"{kind} shading missing /Coords")
    nch = 3 if b"/DeviceRGB" in head else 1
    fm = re.search(rb"/Function\s+(\d+)\s+0\s+R", head)
    if fm is None:
        raise _Degrade("shading missing /Function")
    fn = _parse_function(objs, int(fm.group(1)), nch)
    return kind, tuple(coords), fn, nch


def _paint_shading(buf, m, shading, clip) -> None:
    """Gradient paint (``sh``): for every device pixel center inside
    the clip rect, inverse-map to user space, compute the parametric t
    (axial: axis projection, r10 — VERDICT r9 #5; radial: largest root
    s of |p - c(s)| = r(s), r10 continuation), clamp t to [0, 1] (the
    /Extend behavior real flyer art relies on), evaluate the function
    (exponential: c0 + t*(c1-c0); stitching: subdomain select + encode
    remap, each leg the same linear form), and write
    floor(value * 255 + 0.5) per channel — the floor(+0.5) rounding is
    the deterministic form both engines share (DuckDB round() ties
    differ from numpy's; floor does not).  Every double chain here is
    pinned and restated verbatim by the SQL oracles."""
    kind, coords, fn, nch = shading
    a, b, c, d, e, f = m
    det = a * d - b * c
    if det == 0.0:
        raise _Degrade("singular shading CTM")
    cx0, cy0, cx1, cy1 = clip if clip is not None else (0, 0, buf.shape[1], buf.shape[0])
    cx0, cy0 = max(cx0, 0), max(cy0, 0)
    cx1, cy1 = min(cx1, buf.shape[1]), min(cy1, buf.shape[0])
    if cx1 <= cx0 or cy1 <= cy0:
        return
    X, Y = np.meshgrid(
        np.arange(cx0, cx1, dtype=np.float64) + 0.5,
        np.arange(cy0, cy1, dtype=np.float64) + 0.5,
    )
    ux = (d * (X - e) - c * (Y - f)) / det
    uy = (-b * (X - e) + a * (Y - f)) / det
    paint_mask = None
    if kind == "axial":
        x0, y0, x1, y1 = coords
        dx, dy = x1 - x0, y1 - y0
        denom = dx * dx + dy * dy
        if denom == 0.0:
            raise _Degrade("degenerate shading axis")
        t = ((ux - x0) * dx + (uy - y0) * dy) / denom
    else:  # radial: a_q s^2 - 2 b_h s + c_q = 0, largest root
        x0, y0, r0, x1, y1, r1 = coords
        dx, dy, dr = x1 - x0, y1 - y0, r1 - r0
        a_q = dx * dx + dy * dy - dr * dr
        if a_q == 0.0:
            raise _Degrade("parabolic radial shading (|dc| = |dr|)")
        px_ = ux - x0
        py_ = uy - y0
        b_h = px_ * dx + py_ * dy + r0 * dr
        c_q = px_ * px_ + py_ * py_ - r0 * r0
        disc = b_h * b_h - a_q * c_q
        paint_mask = disc >= 0.0
        root = np.sqrt(np.where(paint_mask, disc, 0.0))
        t = (b_h + (root if a_q > 0 else -root)) / a_q
    t = np.clip(t, 0.0, 1.0)

    def eval_channel(k: int):
        if fn[0] == "exp":
            _kind, c0, c1 = fn
            return c0[k] + t * (c1[k] - c0[k])
        if fn[0] == "expn":
            _kind, n_exp, c0, c1 = fn
            return c0[k] + np.power(t, n_exp) * (c1[k] - c0[k])
        if fn[0] == "samp":
            _kind, samples, n, dom, enc2, dec2 = fn
            e = enc2[0] + (t - dom[0]) * (enc2[1] - enc2[0]) / (dom[1] - dom[0])
            e = np.clip(e, 0.0, n - 1.0)
            i0 = np.floor(e).astype(np.int64)
            i1 = np.minimum(i0 + 1, n - 1)
            frac = e - i0
            s0 = samples[i0, k]
            s1 = samples[i1, k]
            v = s0 + frac * (s1 - s0)
            return dec2[2 * k] + v * (dec2[2 * k + 1] - dec2[2 * k])
        if fn[0] == "ps":
            stack = _eval_ps(fn[1], t)
            if len(stack) < nch:
                raise _Degrade("calculator produced too few outputs")
            out_k = stack[-nch:][k]
            # a constant output broadcasts over the grid
            return out_k + np.zeros_like(t) if np.isscalar(out_k) else out_k
        v = np.zeros_like(t)
        pieces = fn[1]
        for i, (lo, hi, e0, e1, c0, c1) in enumerate(pieces):
            tt = e0 + (t - lo) * (e1 - e0) / (hi - lo)
            leg = c0[k] + tt * (c1[k] - c0[k])
            # subdomain select: [lo, hi) except the last piece's closed hi
            if i == len(pieces) - 1:
                sel = t >= lo
            else:
                sel = (t >= lo) & (t < hi)
            v = np.where(sel, leg, v)
        return v

    out = np.empty((*t.shape, 3), dtype=np.uint8)
    for ch in range(3):
        k = ch if nch == 3 else 0
        out[:, :, ch] = np.floor(eval_channel(k) * 255.0 + 0.5).astype(np.uint8)
    region = buf[cy0:cy1, cx0:cx1]
    if paint_mask is None:
        region[:] = out
    else:
        region[paint_mask] = out[paint_mask]


# -------------------------------------------------------------- rasterizer

def rasterize_page(
    blob: bytes, page_index: int = 0, dpi: int = 72
) -> tuple[int, int, int, bytes] | None:
    """Render one page to (width, height, 3, RGB pixels top-down), or
    None when the page uses content outside the supported scope."""
    try:
        if not blob.startswith(b"%PDF"):
            return None
        # _scan_objects expands /ObjStm object streams internally, so
        # both classic and PDF 1.5 layouts resolve here
        objs, offsets = _scan_objects(blob)
        pages = _page_order(objs, offsets)
        if not pages or page_index >= len(pages):
            return None
        page_head = objs[pages[page_index]][0]
        content = _content_bytes(objs, page_head)
        if content is None:
            return None
        mb = re.search(
            rb"/MediaBox\s*\[\s*([\d.+-]+)\s+([\d.+-]+)\s+([\d.+-]+)\s+([\d.+-]+)",
            page_head,
        )
        if mb:
            x0, y0, x1, y1 = (float(v) for v in mb.groups())
        else:
            x0, y0, x1, y1 = 0.0, 0.0, 612.0, 792.0
        s = dpi / 72.0
        wpx = max(1, round((x1 - x0) * s))
        hpx = max(1, round((y1 - y0) * s))
        # /Rotate (r11): scanned pages are routinely stored rotated and
        # carry 90/180/270 — compose the display rotation after the
        # y-flip, swapping the buffer for the odd quadrants.  The page
        # dict wins; absent there, the /Pages root's value inherits.
        # ADVICE r11: /Rotate is inheritable through the WHOLE page-tree
        # chain (ISO 32000-1 §7.7.3.4), not just the immediate parent —
        # balanced multi-level /Pages trees put it on a grandparent.
        # Walk /Parent links with a visited set until /Rotate is found
        # or the root is reached.
        rot = 0
        rm = re.search(rb"/Rotate\s+(-?\d+)", page_head)
        head, seen = page_head, set()
        while rm is None:
            pm = re.search(rb"/Parent\s+(\d+)\s+0\s+R", head)
            if pm is None:
                break
            pnum = int(pm.group(1))
            if pnum in seen:
                break
            seen.add(pnum)
            head = objs.get(pnum, (b"",))[0]
            rm = re.search(rb"/Rotate\s+(-?\d+)", head)
        if rm is not None:
            rot = int(rm.group(1)) % 360
            if rot not in (0, 90, 180, 270):
                raise _Degrade(f"/Rotate {rot} not a quadrant")
        m0 = (s, 0.0, 0.0, -s, -x0 * s, hpx + y0 * s)
        if rot == 0:
            base, bw, bh = m0, wpx, hpx
        elif rot == 90:  # clockwise: (u, v) -> (H - v, u)
            base = _mul(m0, (0.0, 1.0, -1.0, 0.0, float(hpx), 0.0))
            bw, bh = hpx, wpx
        elif rot == 180:
            base = _mul(m0, (-1.0, 0.0, 0.0, -1.0, float(wpx), float(hpx)))
            bw, bh = wpx, hpx
        else:  # 270: (u, v) -> (v, W - u)
            base = _mul(m0, (0.0, -1.0, 1.0, 0.0, 0.0, float(wpx)))
            bw, bh = hpx, wpx
        buf = np.full((bh, bw, 3), 255, dtype=np.uint8)
        xobjects = _page_xobjects(objs, page_head)
        fonts = _page_fonts(objs, page_head)
        shadings = _page_shadings(objs, page_head)
        colorspaces = _page_colorspaces(objs, page_head)
        _run(content, buf, s, bh, x0, y0, objs, xobjects, fonts, shadings,
             colorspaces, base_ctm=base)
        return bw, bh, 3, buf.tobytes()
    except (_Degrade, ValueError, IndexError, KeyError, ZeroDivisionError):
        return None
    except Exception as exc:  # lazy charstring interpretation (r11)
        # glyph programs are interpreted at PAINT time, so a font whose
        # PARSE succeeded can still raise its format's Unsupported
        # error mid-page (Type 1 flex/seac, CFF escape ops, TrueType
        # compound depth) — that is a documented degrade, not a crash
        from specialsid_spark.operators.cff import CffUnsupported  # noqa: PLC0415
        from specialsid_spark.operators.truetype import TtfUnsupported  # noqa: PLC0415
        from specialsid_spark.operators.type1 import Type1Unsupported  # noqa: PLC0415

        if isinstance(exc, (CffUnsupported, TtfUnsupported, Type1Unsupported)):
            return None
        raise


def _fill_rect(buf, m, x, y, w, h, color, clip=None) -> None:
    if not _axis_aligned(m):
        # rotated/skewed CTM (r9): the rect is a quad in device space —
        # route through the same integer scanline coverage as any path
        _fill_path(
            buf,
            [
                [
                    _apply(m, x, y),
                    _apply(m, x + w, y),
                    _apply(m, x + w, y + h),
                    _apply(m, x, y + h),
                ]
            ],
            color,
            False,
            clip,
        )
        return
    xa, ya = _apply(m, x, y)
    xb, yb = _apply(m, x + w, y + h)
    px0, px1 = sorted((round(xa), round(xb)))
    py0, py1 = sorted((round(ya), round(yb)))
    cx0, cy0, cx1, cy1 = clip if clip is not None else (0, 0, buf.shape[1], buf.shape[0])
    px0 = max(px0, cx0, 0)
    py0 = max(py0, cy0, 0)
    px1 = min(px1, cx1, buf.shape[1])
    py1 = min(py1, cy1, buf.shape[0])
    if px1 > px0 and py1 > py0:
        buf[py0:py1, px0:px1] = color


def _place_image(buf, m, img, clip=None) -> None:
    """Nearest-neighbor placement of the unit-square image through m.

    Axis-aligned CTMs keep the r8 round()-based placement bit-for-bit
    (oracle-pinned); any other affine (rotation/skew, r9) inverse-maps
    each device pixel center back to unit space and samples the texel
    under it — the standard backward warp, all closed-form doubles."""
    if not _axis_aligned(m):
        _place_image_affine(buf, m, img, clip)
        return
    w, h, ch, px = img
    xa, ya = _apply(m, 0.0, 0.0)
    xb, yb = _apply(m, 1.0, 1.0)
    px0, px1 = sorted((round(xa), round(xb)))
    py0, py1 = sorted((round(ya), round(yb)))
    tw, th = px1 - px0, py1 - py0
    if tw <= 0 or th <= 0:
        return
    arr = np.frombuffer(px, dtype=np.uint8).reshape(h, w, ch)
    # image row 0 sits at unit-square y=1 (the image TOP).  Under the
    # normal y-flipping base CTM, unit y=1 lands at the SMALLER device
    # y (yb < ya), i.e. device rows top-down already equal image rows
    # top-down; only a device-up placement (yb > ya) needs a row flip.
    flip_y = yb > ya
    cols = (np.arange(tw) * w) // tw
    rows = (np.arange(th) * h) // th
    sample = arr[np.ix_(rows, cols)]
    if flip_y:
        sample = sample[::-1]
    if ch == 1:
        sample = np.repeat(sample, 3, axis=2)
    cx0, cy0, cx1, cy1 = clip if clip is not None else (0, 0, buf.shape[1], buf.shape[0])
    bx0, by0 = max(px0, cx0, 0), max(py0, cy0, 0)
    bx1, by1 = min(px1, cx1, buf.shape[1]), min(py1, cy1, buf.shape[0])
    if bx1 > bx0 and by1 > by0:
        buf[by0:by1, bx0:bx1] = sample[
            by0 - py0 : by1 - py0, bx0 - px0 : bx1 - px0
        ]


def _place_image_affine(buf, m, img, clip=None) -> None:
    """Backward-warp placement for a general (non-axis-aligned) CTM:
    for every device pixel center (X, Y) inside the transformed unit
    square, (u, v) = m^-1 (X, Y); texel = image[floor((1-v)*h),
    floor(u*w)] (image row 0 sits at unit y=1).  Pixel-center sampling
    keeps the convention of _fill_path's scanline coverage."""
    w, h, ch, px = img
    a, b, c, d, e, f = m
    det = a * d - b * c
    if det == 0.0:
        raise _Degrade("singular image CTM")
    import math

    cx0, cy0, cx1, cy1 = clip if clip is not None else (0, 0, buf.shape[1], buf.shape[0])
    corners = [_apply(m, u, v) for u in (0.0, 1.0) for v in (0.0, 1.0)]
    px0 = max(0, cx0, math.floor(min(p[0] for p in corners)))
    px1 = min(buf.shape[1], cx1, math.ceil(max(p[0] for p in corners)))
    py0 = max(0, cy0, math.floor(min(p[1] for p in corners)))
    py1 = min(buf.shape[0], cy1, math.ceil(max(p[1] for p in corners)))
    if px1 <= px0 or py1 <= py0:
        return
    arr = np.frombuffer(px, dtype=np.uint8).reshape(h, w, ch)
    X, Y = np.meshgrid(
        np.arange(px0, px1, dtype=np.float64) + 0.5,
        np.arange(py0, py1, dtype=np.float64) + 0.5,
    )
    u = (d * (X - e) - c * (Y - f)) / det
    v = (-b * (X - e) + a * (Y - f)) / det
    inside = (u >= 0.0) & (u < 1.0) & (v >= 0.0) & (v < 1.0)
    if not inside.any():
        return
    cols = np.clip((u * w).astype(np.int64), 0, w - 1)
    rows = np.clip(((1.0 - v) * h).astype(np.int64), 0, h - 1)
    sample = arr[rows, cols]
    if ch == 1:
        sample = np.repeat(sample, 3, axis=2)
    region = buf[py0:py1, px0:px1]
    region[inside] = sample[inside]


def _flatten_cubic(p0, p1, p2, p3) -> list[tuple[float, float]]:
    """16 uniform-t samples of the cubic (excluding p0) — control
    points already in DEVICE space (affine maps commute with Bezier
    construction, so transforming controls first is exact).  The
    polynomial association order is pinned: u*u*u*x0 + 3*u*u*t*x1 +
    3*u*t*t*x2 + t*t*t*x3, left-assoc — the oracle restates it
    verbatim."""
    pts = []
    for k in range(1, BEZIER_SEGS + 1):
        t = k / BEZIER_SEGS
        u = 1.0 - t
        x = u * u * u * p0[0] + 3 * u * u * t * p1[0] + 3 * u * t * t * p2[0] + t * t * t * p3[0]
        y = u * u * u * p0[1] + 3 * u * u * t * p1[1] + 3 * u * t * t * p2[1] + t * t * t * p3[1]
        pts.append((x, y))
    return pts


def _fill_path(buf, subpaths, color, evenodd: bool, clip=None) -> None:
    """Integer scanline coverage: pixel (px, py) is painted iff its
    center (px+0.5, py+0.5) is inside per the fill rule.  Crossing x =
    x0 + (cy - y0) * (x1 - x0) / (y1 - y0) and the span bounds
    ceil(x - 0.5) are the exact double expressions the oracle
    restates.  Open subpaths are implicitly closed (the ``f``
    operator's contract); horizontal edges never cross a half-integer
    scanline test and are dropped."""
    import math

    edges = []
    for sp in subpaths:
        if len(sp) < 2:
            continue
        pts = sp if sp[-1] == sp[0] else [*sp, sp[0]]
        for (x0, y0), (x1, y1) in zip(pts, pts[1:]):
            if y0 != y1:
                edges.append((x0, y0, x1, y1))
    if not edges:
        return
    cx0, cy0, cx1, cy1 = clip if clip is not None else (0, 0, buf.shape[1], buf.shape[0])
    ymin = max(0, cy0, math.floor(min(min(e[1], e[3]) for e in edges)))
    ymax = min(buf.shape[0] - 1, cy1 - 1, math.ceil(max(max(e[1], e[3]) for e in edges)))
    width = buf.shape[1]
    for py in range(ymin, ymax + 1):
        cy = py + 0.5
        xs = []
        for x0, y0, x1, y1 in edges:
            if (y0 <= cy < y1) or (y1 <= cy < y0):
                xs.append(
                    (x0 + (cy - y0) * (x1 - x0) / (y1 - y0), 1 if y1 > y0 else -1)
                )
        if not xs:
            continue
        xs.sort()
        spans = []
        if evenodd:
            for i in range(0, len(xs) - 1, 2):
                spans.append((xs[i][0], xs[i + 1][0]))
        else:
            wind = 0
            xl = 0.0
            for x, d in xs:
                prev = wind
                wind += d
                if prev == 0 and wind != 0:
                    xl = x
                elif prev != 0 and wind == 0:
                    spans.append((xl, x))
        for xl, xr in spans:
            a = max(0, cx0, math.ceil(xl - 0.5))
            b = min(width, cx1, math.ceil(xr - 0.5))
            if b > a:
                buf[py, a:b] = color


def _glyph_boxes(buf, m, pen_x, size, text, color, clip=None,
                 ts=None) -> float:
    """Paint the glyph-box run for ``text`` starting at text-space
    ``pen_x`` (baseline y=0) and return the advanced pen position."""
    if ts is None:
        ts = _TS_DEFAULT
    for ch in text:
        if not ch.isspace() and ts.paints:
            _fill_rect(
                buf, m, pen_x, ts.ts, GLYPH_W * size * ts.hscale,
                GLYPH_H * size, color, clip,
            )
        pen_x += ts.advance(GLYPH_ADVANCE * size, ch == " ")
    return pen_x


class _Std14Font:
    """A non-embedded Standard-14 font (r11, VERDICT r10 next-#5):
    real per-glyph advances from the public Adobe Core-14 AFM width
    tables (operators/afm.py), rendered as METRIC-TRUE boxes — each
    glyph's ink spans the same 0.8 ink-to-advance ratio as the
    teaching model, but the advance (and therefore line length, word
    spacing, and ink bounds) matches what Poppler draws for the same
    non-embedded Helvetica/Times/Courier run."""

    is_std14 = True

    def __init__(self, widths: list[int]) -> None:
        self.widths = widths

    def advance_1000(self, code: int) -> float:
        if 32 <= code <= 126:
            return float(self.widths[code - 32])
        return GLYPH_ADVANCE * 1000.0  # outside the AFM ASCII table


def _std14_boxes(buf, m, pen_x, size, text, color, font, clip=None,
                 ts=None) -> float:
    """Metric-true glyph boxes for a Standard-14 font: per character,
    ink = 0.8 × the AFM advance wide (GLYPH_W/GLYPH_ADVANCE, the same
    ratio as the teaching box), GLYPH_H tall, pen advanced by the real
    AFM width (plus Tc/Tw, scaled by Tz — r11 text state)."""
    if ts is None:
        ts = _TS_DEFAULT
    ratio = GLYPH_W / GLYPH_ADVANCE
    for ch in text:
        adv = font.advance_1000(ord(ch)) / 1000.0 * size
        if not ch.isspace() and ts.paints:
            _fill_rect(buf, m, pen_x, ts.ts, adv * ts.hscale * ratio,
                       GLYPH_H * size, color, clip)
        pen_x += ts.advance(adv, ch == " ")
    return pen_x


def _flatten_quad(p0, p1, p2) -> list[tuple[float, float]]:
    """8 uniform-t samples of the quadratic (excluding p0), control
    points already in DEVICE space.  Pinned association order
    u*u*x0 + 2*u*t*x1 + t*t*x2 with t = k/8 exact in binary — the
    oracle restates it verbatim (operators/truetype.py QUAD_SEGS)."""
    from specialsid_spark.operators.truetype import QUAD_SEGS  # noqa: PLC0415

    pts = []
    for k in range(1, QUAD_SEGS + 1):
        t = k / QUAD_SEGS
        u = 1.0 - t
        x = u * u * p0[0] + 2 * u * t * p1[0] + t * t * p2[0]
        y = u * u * p0[1] + 2 * u * t * p1[1] + t * t * p2[1]
        pts.append((x, y))
    return pts


def _glyph_outlines(buf, m, pen_x, size, text, color, font, clip=None,
                    ts=None) -> float:
    """Real embedded-font outline text: per character, look the glyph
    up (TrueType cmap / CFF encoding), transform its contours through
    (size/unitsPerEm, text matrix, CTM), flatten curve pieces with the
    pinned rules (quadratics: 8 segments, TrueType r10; cubics: 16
    segments, CFF r10 — same BEZIER_SEGS as path fills), and
    scanline-fill with NONZERO winding (both formats' fill rule —
    counter contours run opposite).  The pen advances by the glyph's
    hmtx advance (TrueType) or charstring width (CFF).  Unmapped
    characters hit glyph 0 (.notdef — empty in our scope): advance
    only.  Text state (r11): contours scale horizontally by Tz and
    shift vertically by the rise Ts; the advance gains Tc (and Tw for
    a single-byte space - never for 2-byte CID strings); Tr 3/7 paint
    nothing but still advance."""
    if ts is None:
        ts = _TS_DEFAULT
    scale = size / font.units_per_em
    is_cff = hasattr(font, "pieces")
    is_cid = getattr(font, "is_cid", False)
    if not is_cff:
        from specialsid_spark.operators.truetype import (  # noqa: PLC0415
            glyph_segments,
        )
    if is_cid:
        if len(text) % 2:
            raise _Degrade("odd-length Identity-H string")
        units = [
            (ord(text[i]) << 8) | ord(text[i + 1])
            for i in range(0, len(text), 2)
        ]
    else:
        units = list(text)
    for ch in units:
        if is_cid:
            gid = ch  # Identity-H: code IS the CID IS the GID
        else:
            gid = font.glyph_for_char(ch)
        if is_cff:
            per_contour, adv_text = font.pieces(gid)
            adv_text *= scale
        elif is_cid:
            contours = font.glyphs[gid] if gid < len(font.glyphs) else []
            per_contour = glyph_segments(contours)
            # /W widths are 1000-per-em TEXT units, not glyph units
            adv_text = font.advance_1000(gid) / 1000.0 * size
        else:
            contours = font.glyphs[gid] if gid < len(font.glyphs) else []
            per_contour = glyph_segments(contours)
            adv_text = font.advances[gid] if gid < len(font.advances) else 0
            adv_text *= scale
        if per_contour and ts.paints:
            subpaths = []
            for pieces in per_contour:
                dev: list[tuple[float, float]] = []

                def pt(p):
                    return _apply(
                        m,
                        pen_x + p[0] * scale * ts.hscale,
                        ts.ts + p[1] * scale,
                    )

                for piece in pieces:
                    if piece[0] == "l":
                        _k, a, b = piece
                        if not dev:
                            dev.append(pt(a))
                        dev.append(pt(b))
                    elif piece[0] == "q":
                        _k, a, c, b = piece
                        if not dev:
                            dev.append(pt(a))
                        dev.extend(_flatten_quad(pt(a), pt(c), pt(b)))
                    else:  # 'c'
                        _k, a, c1, c2, b = piece
                        if not dev:
                            dev.append(pt(a))
                        dev.extend(
                            _flatten_cubic(pt(a), pt(c1), pt(c2), pt(b))
                        )
                if dev:
                    subpaths.append(dev)
            if subpaths:
                _fill_path(buf, subpaths, color, False, clip)
        pen_x += ts.advance(adv_text, not is_cid and ch == " ")
    return pen_x


class _TextState:
    """ISO 32000-1 §9.3 text-state parameters the r11 layout honors:
    Tc char spacing, Tw word spacing (single-byte code 32 only — per
    spec it never applies to multi-byte CID strings), Tz horizontal
    scaling (percent), Ts rise, Tr render mode (3 = invisible — the
    OCR text layer convention in scanned PDFs: advance, paint
    nothing).  Defaults reproduce the pre-r11 arithmetic exactly
    (adding 0.0 and scaling by 1.0 are identity in doubles)."""

    __slots__ = ("tc", "tw", "tz", "ts", "tr")

    def __init__(self) -> None:
        self.tc = 0.0
        self.tw = 0.0
        self.tz = 100.0
        self.ts = 0.0
        self.tr = 0

    @property
    def hscale(self) -> float:
        return self.tz / 100.0

    def advance(self, glyph_adv: float, is_space32: bool) -> float:
        """Full §9.4.4 advance: (glyph + Tc + Tw?) * Th."""
        a = glyph_adv + self.tc
        if is_space32:
            a += self.tw
        return a * self.hscale

    @property
    def invisible(self) -> bool:
        return self.tr == 3

    @property
    def paints(self) -> bool:
        # fill/stroke variants all leave ink in this model; 3 and 7
        # (invisible / clip-only) do not
        return self.tr not in (3, 7)


_TS_DEFAULT = _TextState()


def _paint_text(buf, m, pen_x, size, text, color, font, clip=None,
                ts=_TS_DEFAULT) -> float:
    """Dispatch: embedded TrueType/CFF/Type1 outlines when the current
    font carries a parsed program; metric-true AFM boxes for
    non-embedded Standard-14 faces (r11); else the r8 flat glyph-box
    layout model (the documented degrade for everything else)."""
    if font is not None:
        if getattr(font, "is_std14", False):
            return _std14_boxes(buf, m, pen_x, size, text, color, font,
                                clip, ts)
        if getattr(font, "is_type3", False):
            return _type3_glyphs(buf, m, pen_x, size, text, color, font,
                                 clip, ts)
        return _glyph_outlines(buf, m, pen_x, size, text, color, font,
                               clip, ts)
    return _glyph_boxes(buf, m, pen_x, size, text, color, clip, ts)


class _Type3Font:
    """A /Subtype /Type3 font (ISO 32000-1 §9.6.5, r11): every glyph
    IS a small content stream executed in glyph space; /FontMatrix
    maps glyph space to text space and /Widths (glyph-space units)
    drive advances.  Type 3 is the PDF-native font format — logos,
    bitmap fonts, and old TeX output embed this way."""

    is_type3 = True

    def __init__(self, fm, procs, widths, xobjects, objs) -> None:
        self.fm = fm          # FontMatrix 6-tuple
        self.procs = procs    # char code -> decoded glyph stream
        self.widths = widths  # char code -> glyph-space width
        self.xobjects = xobjects
        self.objs = objs


def _stream_decoded(objs: dict, num: int) -> bytes | None:
    """One object's stream bytes through Flate/LZW (or raw)."""
    head, data = objs.get(num, (b"", None))
    if data is None:
        return None
    if re.search(rb"/Filter\s*/FlateDecode\b", head) or re.search(
        rb"/Filter\s*\[\s*/FlateDecode\s*\]", head
    ):
        try:
            return zlib.decompress(data)
        except zlib.error:
            return None
    if re.search(rb"/Filter\s*/LZWDecode\b", head) or re.search(
        rb"/Filter\s*\[\s*/LZWDecode\s*\]", head
    ):
        # ADVICE r11: strict single-filter match, mirroring the Flate
        # branch above — chained arrays degrade as unsupported below.
        from specialsid_spark.operators.pdf import lzw_decode_pdf  # noqa: PLC0415

        return lzw_decode_pdf(head, bytes(data))
    if b"/Filter" in head:
        return None
    return bytes(data)


def _load_type3(objs: dict, head: bytes):
    fm_m = re.search(
        rb"/FontMatrix\s*\[\s*([0-9.eE+-]+)\s+([0-9.eE+-]+)\s+([0-9.eE+-]+)"
        rb"\s+([0-9.eE+-]+)\s+([0-9.eE+-]+)\s+([0-9.eE+-]+)",
        head,
    )
    if fm_m is None:
        return None
    try:
        fm = tuple(float(v) for v in fm_m.groups())
    except ValueError:
        return None

    def sub_dict(key: bytes) -> bytes | None:
        m = re.search(key + rb"\s+(\d+)\s+0\s+R", head)
        if m is not None:
            return objs.get(int(m.group(1)), (None,))[0]
        m = re.search(key + rb"\s*<<(.*?)>>", head, re.S)
        return m.group(1) if m else None

    cp = sub_dict(rb"/CharProcs")
    enc = sub_dict(rb"/Encoding")
    if cp is None or enc is None:
        return None
    name_to_num = {
        nm: int(num)
        for nm, num in re.findall(rb"/([^\s/<>\[\]()]+)\s+(\d+)\s+0\s+R", cp)
    }
    # /Differences: a number sets the next code, names assign onward
    dm = re.search(rb"/Differences\s*\[(.*?)\]", enc, re.S)
    if dm is None:
        return None
    code_to_name: dict[int, bytes] = {}
    code = 0
    for num_tok, name_tok in re.findall(
        rb"(\d+)|/([^\s/<>\[\]()]+)", dm.group(1)
    ):
        if num_tok:
            code = int(num_tok)
        else:
            code_to_name[code] = name_tok
            code += 1
    fc_m = re.search(rb"/FirstChar\s+(\d+)", head)
    wd_m = re.search(rb"/Widths\s*\[(.*?)\]", head, re.S)
    if fc_m is None or wd_m is None:
        return None
    first = int(fc_m.group(1))
    wlist = [float(v) for v in re.findall(rb"[-0-9.eE+]+", wd_m.group(1))]
    widths = {first + i: w for i, w in enumerate(wlist)}
    procs: dict[int, bytes] = {}
    for c, nm in code_to_name.items():
        num = name_to_num.get(nm)
        if num is None:
            continue
        dec = _stream_decoded(objs, num)
        if dec is None:
            return None  # an undecodable glyph proc: whole-font degrade
        procs[c] = dec
    rm = re.search(rb"/Resources\s*<<(.*?)>>\s*(?:/|>>)", head, re.S)
    xobjects = {}
    if rm is not None:
        xm = re.search(rb"/XObject\s*<<(.*?)>>", rm.group(1), re.S)
        if xm is not None:
            xobjects = {
                nm.decode("latin-1"): int(num)
                for nm, num in re.findall(
                    rb"/(\w+)\s+(\d+)\s+0\s+R", xm.group(1)
                )
            }
    return _Type3Font(fm, procs, widths, xobjects, objs)


def _type3_glyphs(buf, m, pen_x, size, text, color, font, clip=None,
                  ts=None) -> float:
    """Execute each glyph's content stream with CTM = FontMatrix x
    [size*Th 0 0 size pen rise] x (Tm x page-CTM); the advance is the
    glyph-space width vector (w, 0) through the FULL FontMatrix (ISO
    32000-1 §9.6.5) — a y-shear term fm[1] != 0 displaces the pen
    vertically too (r13; the y displacement is accumulated per show
    string, which is exact for single-string fixtures and the
    documented degrade across strings).  Nested text inside a glyph
    proc falls back to the glyph-box model (fonts are deliberately not
    forwarded — bounds recursion)."""
    if ts is None:
        ts = _TS_DEFAULT
    pen_y = 0.0
    for ch in text:
        code = ord(ch)
        proc = font.procs.get(code)
        if proc is not None and ts.paints:
            trm = _mul(
                (size * ts.hscale, 0.0, 0.0, size, pen_x, ts.ts + pen_y), m,
            )
            g_ctm = _mul(font.fm, trm)
            _run(
                proc, buf, 1.0, buf.shape[0], 0.0, 0.0, font.objs,
                font.xobjects, base_ctm=g_ctm,
                init_fill=np.asarray(color, dtype=np.uint8),
                init_clip=clip,
            )
        w = font.widths.get(code, 0.0)
        pen_x += ts.advance(w * font.fm[0] * size, ch == " ")
        pen_y += w * font.fm[1] * size
    return pen_x


def _page_fonts(objs: dict, page_head: bytes) -> dict[str, int]:
    """/Font resource name -> font object number for one page."""
    m = re.search(rb"/Font\s*<<(.*?)>>", page_head, re.S)
    if m is None:
        rm = re.search(rb"/Resources\s+(\d+)\s+0\s+R", page_head)
        if rm is None:
            return {}
        rhead = objs.get(int(rm.group(1)), (b"",))[0]
        m = re.search(rb"/Font\s*<<(.*?)>>", rhead, re.S)
        if m is None:
            return {}
    return {
        name.decode("latin-1"): int(num)
        for name, num in re.findall(rb"/(\w+)\s+(\d+)\s+0\s+R", m.group(1))
    }


class _CidFont:
    """A /Type0 (composite) font with /Encoding /Identity-H over a
    CIDFontType2 descendant (r10): string bytes are 2-byte CIDs, CID ==
    GID (the /CIDToGIDMap /Identity default), outlines come from the
    descendant's /FontFile2 TrueType program, and advances from the
    /W width array (/DW default) in 1000-per-em TEXT units — the
    dominant embedded-font shape in real-world PDFs."""

    is_cid = True

    def __init__(self, ttf, dw: float, wmap: dict[int, float]) -> None:
        self.ttf = ttf
        self.units_per_em = ttf.units_per_em
        self.glyphs = ttf.glyphs
        self.dw = dw
        self.wmap = wmap

    def advance_1000(self, gid: int) -> float:
        return self.wmap.get(gid, self.dw)


class _CidCffFont:
    """A /Type0 Identity-H font over a CIDFontType0 descendant (r11):
    string bytes are 2-byte CIDs, the CID-keyed CFF program's charset
    maps CID -> GID (operators/cff.py CffCidFont), outlines come from
    the per-FD charstrings, and advances from the PDF-level /W array
    (/DW default) in 1000-per-em TEXT units — the CJK / subset-
    OpenType embedding shape."""

    is_cid = True

    def __init__(self, cff, dw: float, wmap: dict[int, float]) -> None:
        self.cff = cff
        self.units_per_em = cff.units_per_em
        self.dw = dw
        self.wmap = wmap

    def pieces(self, cid: int) -> tuple[list, float]:
        gid = self.cff.cid_to_gid.get(cid, 0)
        contours, _cs_width = self.cff.pieces(gid)
        # /W widths are 1000-per-em; scale to glyph units so the
        # caller's uniform  adv * (size / units_per_em)  lands on
        # W/1000*size (exact: units_per_em is a power of two in the
        # fixture, and the two scalings commute in doubles)
        w1000 = self.wmap.get(cid, self.dw)
        return contours, w1000 / 1000.0 * self.units_per_em


def _parse_w_array(body: bytes) -> dict[int, float]:
    """CIDFontType2 /W: both forms — ``c [w1 w2 ...]`` (consecutive
    CIDs from c) and ``c1 c2 w`` (the inclusive range form)."""
    toks = re.findall(rb"\[|\]|[-+]?[0-9.]+", body)
    out: dict[int, float] = {}
    i = 0
    pend: list[float] = []
    while i < len(toks):
        t = toks[i]
        if t == b"[":
            if len(pend) != 1:
                raise _Degrade("/W malformed before [")
            cid = int(pend[0])
            pend = []
            i += 1
            while i < len(toks) and toks[i] != b"]":
                out[cid] = float(toks[i])
                cid += 1
                i += 1
        elif t == b"]":
            pass
        else:
            pend.append(float(t))
            if len(pend) == 3:
                c1, c2, w = int(pend[0]), int(pend[1]), pend[2]
                for cid in range(c1, c2 + 1):
                    out[cid] = w
                pend = []
        i += 1
    return out


def _load_font_program(objs: dict, font_num: int):
    """Resolve font obj -> /FontDescriptor -> /FontFile2 (TrueType) or
    /FontFile3 (CFF, Subtype /Type1C) and parse the program; /Type0
    Identity-H composite fonts resolve through their CIDFontType2
    descendant (r10).  None for standard-14 / unsupported fonts (the
    glyph-box degrade)."""
    from specialsid_spark.operators.cff import (  # noqa: PLC0415
        CffUnsupported,
        parse_cff,
    )
    from specialsid_spark.operators.truetype import (  # noqa: PLC0415
        TtfUnsupported,
        parse_ttf,
    )
    from specialsid_spark.operators.type1 import (  # noqa: PLC0415
        Type1Unsupported,
        parse_type1,
    )

    head = objs.get(font_num, (b"",))[0]
    if re.search(rb"/Subtype\s*/Type3\b", head) is not None:
        return _load_type3(objs, head)  # glyphs ARE content streams (r11)
    if re.search(rb"/Subtype\s*/Type0\b", head) is not None:
        if re.search(rb"/Encoding\s*/Identity-H\b", head) is None:
            return None  # CMap-encoded composites: glyph-box degrade
        desc = re.search(rb"/DescendantFonts\s*\[\s*(\d+)\s+0\s+R", head)
        if desc is None:
            return None
        chead = objs.get(int(desc.group(1)), (b"",))[0]
        is_cid2 = re.search(rb"/Subtype\s*/CIDFontType2\b", chead) is not None
        is_cid0 = re.search(rb"/Subtype\s*/CIDFontType0\b", chead) is not None
        if not (is_cid2 or is_cid0):
            return None
        if is_cid2:
            cid2gid = re.search(rb"/CIDToGIDMap\s*/(\w+)", chead)
            if cid2gid is not None and cid2gid.group(1) != b"Identity":
                return None
        base = _load_font_program(objs, int(desc.group(1)))
        if (
            base is None
            or getattr(base, "is_cid", False)
            # a descendant without an embedded program can fall back to
            # the r11 Standard-14 substitution — that is a SIMPLE-font
            # object with no glyphs/cid_to_gid; wrapping it in a CID
            # adapter would crash, so degrade to boxes instead
            or getattr(base, "is_std14", False)
        ):
            return None
        dwm = re.search(rb"/DW\s+([0-9.]+)", chead)
        dw = float(dwm.group(1)) if dwm else 1000.0
        wm = re.search(rb"/W\s*\[(.*?)\]\s*(?:/|>>)", chead, re.S)
        try:
            wmap = _parse_w_array(wm.group(1)) if wm else {}
        except _Degrade:
            return None
        if is_cid0:
            # CFF-CID (r11): the program itself must be CID-keyed
            if not hasattr(base, "cid_to_gid"):
                return None
            return _CidCffFont(base, dw, wmap)
        return _CidFont(base, dw, wmap)
    def _std14(h: bytes):
        from specialsid_spark.operators.afm import std14_widths  # noqa: PLC0415

        bm = re.search(rb"/BaseFont\s*/([^\s/<>\[\]()]+)", h)
        if bm is None:
            return None
        widths = std14_widths(bm.group(1).decode("latin-1"))
        return _Std14Font(widths) if widths is not None else None

    dm = re.search(rb"/FontDescriptor\s+(\d+)\s+0\s+R", head)
    if dm is None:
        return _std14(head)  # non-embedded: Standard-14 AFM metrics (r11)
    dhead = objs.get(int(dm.group(1)), (b"",))[0]
    for key, parse, errs in (
        (rb"/FontFile2\s+(\d+)\s+0\s+R", parse_ttf, TtfUnsupported),
        (rb"/FontFile3\s+(\d+)\s+0\s+R", parse_cff, CffUnsupported),
        # bare /FontFile = an eexec-encrypted Type 1 program (r11);
        # \s+ keeps this from shadowing FontFile2/FontFile3
        (rb"/FontFile\s+(\d+)\s+0\s+R", parse_type1, Type1Unsupported),
    ):
        fm = re.search(key, dhead)
        if fm is None:
            continue
        fhead, fdata = objs.get(int(fm.group(1)), (b"", None))
        if fdata is None:
            return None
        if b"/FlateDecode" in fhead:
            try:
                fdata = zlib.decompress(fdata)
            except zlib.error:
                return None
        try:
            return parse(bytes(fdata))
        except (errs, ValueError, IndexError, struct_error):
            return None
    # descriptor without a supported FontFile: a viewer would
    # substitute — use AFM metrics when the name is a Standard-14 face
    return _std14(head)


def _run(content, buf, s, hpx, ox, oy, objs, xobjects, fonts=None, shadings=None,
         colorspaces=None, base_ctm=None, init_fill=None,
         init_clip=None) -> None:
    """``base_ctm``/``init_fill`` (r11): when set, the stream runs with
    that initial CTM / fill color instead of the page defaults — the
    Type 3 glyph-procedure entry point (each glyph IS a content
    stream, ISO 32000-1 §9.6.5)."""
    base = (
        base_ctm
        if base_ctm is not None
        else (s, 0.0, 0.0, -s, -ox * s, hpx + oy * s)
    )
    ctm = base
    stack: list[tuple] = []
    fill = (
        init_fill.copy()
        if init_fill is not None
        else np.array([0, 0, 0], dtype=np.uint8)
    )
    fill_cs = None  # parsed Separation spec (fn, nch), or None = device
    clip = init_clip  # device-space (x0, y0, x1, y1) rect clip, or None
    pending_clip = False  # a W/W* was seen; the next n consumes
    rects: list[tuple] = []  # (x, y, w, h, ctm): the pure-re fast path
    subpaths: list[list[tuple[float, float]]] = []  # device-space polygons
    cur: list[tuple[float, float]] | None = None
    complex_path = False  # any m/l/c/v/y/h seen since the last paint
    # text state
    tm = tlm = (1.0, 0.0, 0.0, 1.0, 0.0, 0.0)
    pen = 0.0
    size = 12.0
    leading = 0.0
    font = None  # parsed TrueType program, or None = glyph-box model
    font_cache: dict[str, object] = {}
    tstate = _TextState()  # Tc/Tw/Tz/Ts/Tr (r11)
    operands: list = []

    def num(k: int) -> float:
        if len(operands) < k:
            raise _Degrade("operand underflow")
        v = operands[-k][1]
        if not isinstance(v, float):
            raise _Degrade("non-numeric operand")
        return v

    for kind, val in _tokens(content):
        if kind == "inline":
            # a BI..EI image paints exactly like a Do'd image XObject:
            # the unit square mapped through the current CTM
            _place_image(buf, ctm, val, clip)
            operands.clear()
            continue
        if kind != "op":
            operands.append((kind, val))
            continue
        op = val
        if op == b"q":
            # the §8.4.2 snapshot carries the FULL §9.3 text state:
            # Tc/Tw/Tz/Ts/Tr AND font/size (Tf) + leading (TL) — r13
            stack.append((
                ctm, fill.copy(), clip, fill_cs,
                (tstate.tc, tstate.tw, tstate.tz, tstate.ts, tstate.tr),
                font, size, leading,
            ))
        elif op == b"Q":
            if stack:
                (ctm, fill, clip, fill_cs, tsnap,
                 font, size, leading) = stack.pop()
                tstate.tc, tstate.tw, tstate.tz, tstate.ts, tstate.tr = tsnap
        elif op == b"cm":
            cm = tuple(num(6 - k) for k in range(6))
            ctm = _mul(cm, ctm)
        elif op == b"g":
            v = round(num(1) * 255)
            fill = np.array([v, v, v], dtype=np.uint8)
            fill_cs = None
        elif op == b"rg":
            fill = np.array(
                [round(num(3) * 255), round(num(2) * 255), round(num(1) * 255)],
                dtype=np.uint8,
            )
            fill_cs = None
        elif op == b"k":
            # CMYK fill color: the standard naive device conversion
            # (r10 — was silently ignored, leaving a stale fill color)
            c, m_, y, kk = num(4), num(3), num(2), num(1)
            fill = np.array(
                [
                    round(255 * (1 - min(1.0, c + kk))),
                    round(255 * (1 - min(1.0, m_ + kk))),
                    round(255 * (1 - min(1.0, y + kk))),
                ],
                dtype=np.uint8,
            )
            fill_cs = None
        elif op == b"cs":
            if not operands or operands[-1][0] != "name":
                raise _Degrade("cs without a name operand")
            cname = operands[-1][1]
            if cname in ("DeviceGray", "DeviceRGB"):
                fill_cs = None
            else:
                cnum = (colorspaces or {}).get(cname)
                if cnum is None or cnum not in objs:
                    raise _Degrade(f"unresolved colorspace /{cname}")
                fill_cs = _parse_separation(objs, cnum)
        elif op in (b"scn", b"sc"):
            if fill_cs is not None:
                fn, nch = fill_cs
                if fn is None:
                    # ICCBased: component values read as device-space
                    # (the no-LCMS convention) — same paths as g/rg
                    if nch == 1:
                        v = round(num(1) * 255)
                        fill = np.array([v, v, v], dtype=np.uint8)
                    else:
                        fill = np.array(
                            [round(num(3) * 255), round(num(2) * 255),
                             round(num(1) * 255)],
                            dtype=np.uint8,
                        )
                else:
                    # Separation: one tint through the transform, then
                    # the SAME floor(v*255 + 0.5) quantizer as shading
                    comps = _eval_tint(fn, nch, num(1))
                    if nch == 1:
                        v = math.floor(comps[0] * 255.0 + 0.5)
                        fill = np.array([v, v, v], dtype=np.uint8)
                    else:
                        fill = np.array(
                            [math.floor(c * 255.0 + 0.5) for c in comps],
                            dtype=np.uint8,
                        )
            elif operands and len(operands) >= 3:
                fill = np.array(
                    [round(num(3) * 255), round(num(2) * 255), round(num(1) * 255)],
                    dtype=np.uint8,
                )
            else:
                v = round(num(1) * 255)
                fill = np.array([v, v, v], dtype=np.uint8)
        elif op == b"re":
            x, y, w, h = num(4), num(3), num(2), num(1)
            rects.append((x, y, w, h, ctm))
            # also record the polygon form in case the path goes complex
            subpaths.append(
                [
                    _apply(ctm, x, y),
                    _apply(ctm, x + w, y),
                    _apply(ctm, x + w, y + h),
                    _apply(ctm, x, y + h),
                ]
            )
            cur = None
        elif op == b"m":
            cur = [_apply(ctm, num(2), num(1))]
            subpaths.append(cur)
            complex_path = True
        elif op == b"l":
            if cur is None:
                raise _Degrade("l without current point")
            cur.append(_apply(ctm, num(2), num(1)))
            complex_path = True
        elif op in (b"c", b"v", b"y"):
            if cur is None:
                raise _Degrade("curve without current point")
            p0 = cur[-1]
            if op == b"c":
                p1 = _apply(ctm, num(6), num(5))
                p2 = _apply(ctm, num(4), num(3))
                p3 = _apply(ctm, num(2), num(1))
            elif op == b"v":  # first control = current point
                p1 = p0
                p2 = _apply(ctm, num(4), num(3))
                p3 = _apply(ctm, num(2), num(1))
            else:  # y: second control = endpoint
                p1 = _apply(ctm, num(4), num(3))
                p3 = _apply(ctm, num(2), num(1))
                p2 = p3
            cur.extend(_flatten_cubic(p0, p1, p2, p3))
            complex_path = True
        elif op == b"h":
            if cur:
                cur.append(cur[0])
                cur = None  # a following segment op starts a new subpath
            complex_path = True
        elif op in (b"f", b"F", b"f*", b"b", b"B", b"b*", b"B*"):
            if pending_clip:
                # W followed by a PAINTING op: fill-then-clip is out of
                # the documented scope — degrade loudly, never guess
                raise _Degrade("W combined with a painting operator")
            if complex_path:
                # general scanline fill (rect subpaths recorded above
                # participate); even-odd for the starred variants
                _fill_path(
                    buf, subpaths, fill, op in (b"f*", b"b*", b"B*"), clip
                )
            else:
                # pure-re path: the r8 round()-based exact rect fill,
                # bit-for-bit (_fill_rect itself falls back to the
                # scanline quad when the CTM is rotated/skewed)
                for x, y, w, h, m_ in rects:
                    _fill_rect(buf, m_, x, y, w, h, fill, clip)
            rects = []
            subpaths = []
            cur = None
            complex_path = False
        elif op in (b"n", b"S", b"s"):
            if pending_clip and op == b"n":
                # rect-only clip (r10, for sh gradients): exactly one
                # axis-aligned ``re`` — anything else degrades loudly
                if complex_path or len(rects) != 1:
                    raise _Degrade("non-rect clip path")
                x, y, w, h, m_ = rects[0]
                if not _axis_aligned(m_):
                    raise _Degrade("rotated clip rect")
                xa, ya = _apply(m_, x, y)
                xb, yb = _apply(m_, x + w, y + h)
                nx0, nx1 = sorted((round(xa), round(xb)))
                ny0, ny1 = sorted((round(ya), round(yb)))
                if clip is not None:
                    nx0, ny0 = max(nx0, clip[0]), max(ny0, clip[1])
                    nx1, ny1 = min(nx1, clip[2]), min(ny1, clip[3])
                clip = (nx0, ny0, nx1, ny1)
                pending_clip = False
            # clip consume / stroke: strokes are out of the ink model
            rects = []
            subpaths = []
            cur = None
            complex_path = False
        elif op == b"W" or op == b"W*":
            pending_clip = True  # next n consumes (even-odd == nonzero
            # for the single-rect scope)
        elif op == b"BT":
            tm = tlm = (1.0, 0.0, 0.0, 1.0, 0.0, 0.0)
            pen = 0.0
        elif op == b"ET":
            pass
        elif op == b"Tf":
            size = num(1)
            font = None
            if len(operands) >= 2 and operands[-2][0] == "name":
                fname = operands[-2][1]
                if fname not in font_cache:
                    fnum = (fonts or {}).get(fname)
                    font_cache[fname] = (
                        _load_font_program(objs, fnum)
                        if fnum is not None
                        else None
                    )
                font = font_cache[fname]
        elif op == b"TL":
            leading = num(1)
        elif op in (b"Td", b"TD"):
            tx, ty = num(2), num(1)
            if op == b"TD":
                leading = -ty
            tlm = _mul((1.0, 0.0, 0.0, 1.0, tx, ty), tlm)
            tm = tlm
            pen = 0.0
        elif op == b"Tm":
            tm = tlm = tuple(num(6 - k) for k in range(6))
            pen = 0.0
        elif op == b"T*":
            tlm = _mul((1.0, 0.0, 0.0, 1.0, 0.0, -leading), tlm)
            tm = tlm
            pen = 0.0
        elif op in (b"Tj", b"'", b'"'):
            if op in (b"'", b'"'):
                tlm = _mul((1.0, 0.0, 0.0, 1.0, 0.0, -leading), tlm)
                tm = tlm
                pen = 0.0
            if operands and operands[-1][0] == "str":
                pen = _paint_text(
                    buf, _mul(tm, ctm), pen, size, operands[-1][1], fill,
                    font, clip, tstate,
                )
        elif op == b"TJ":
            if operands and operands[-1][0] == "arr":
                m = _mul(tm, ctm)
                for ekind, ev in operands[-1][1]:
                    if ekind == "str":
                        pen = _paint_text(
                            buf, m, pen, size, ev, fill, font, clip, tstate
                        )
                    else:  # kerning: thousandths of an em, subtracted
                        # (scaled by Tz like every horizontal displacement)
                        pen -= ev / 1000.0 * size * tstate.hscale
        elif op == b"Do":
            if operands and operands[-1][0] == "name":
                xnum = xobjects.get(operands[-1][1])
                if xnum is None or xnum not in objs:
                    raise _Degrade("unresolved XObject")
                head, data = objs[xnum]
                _place_image(buf, ctm, _decode_image_xobject(head, data), clip)
        elif op == b"sh":
            if operands and operands[-1][0] == "name":
                snum = (shadings or {}).get(operands[-1][1])
                if snum is None or snum not in objs:
                    raise _Degrade("unresolved shading")
                _paint_shading(buf, ctm, _parse_shading(objs, snum), clip)
        elif op == b"Tc":
            tstate.tc = num(1)
        elif op == b"Tw":
            tstate.tw = num(1)
        elif op == b"Tz":
            tstate.tz = num(1)
        elif op == b"Ts":
            tstate.ts = num(1)
        elif op == b"Tr":
            tstate.tr = int(num(1))
        elif op in (b"gs", b"ri", b"i", b"j", b"J", b"M", b"d", b"w",
                    b"G", b"RG",
                    b"CS", b"SC", b"SCN", b"K",
                    b"d0", b"d1",
                    b"MP", b"DP", b"BMC", b"BDC", b"EMC"):
            pass  # state/marked-content: no ink effect in this model
        else:
            raise _Degrade(f"unsupported operator {op!r}")
        operands.clear()


# ------------------------------------------------------------ fixture sink

def build_raster_pdf(
    text: str,
    rect: tuple[int, int, int, int, int],
    image: tuple[int, int, bytes],
    image_at: tuple[int, int] = (300, 300),
    curve: tuple[int, int, int, int, int] | None = None,
) -> bytes:
    """Oracle-fixture writer: one page (612×792) with a gray rect fill
    (x, y, w, h, color 0-255), a 12 pt text line at (72, 700), and an
    8-bit gray image (w, h, pixels) placed 1:1 in points at
    ``image_at`` — every coordinate integral so the dpi-72 raster has
    closed-form pixel sums.  ``curve`` (r9) adds a filled cubic arch
    (x0, y0, w, b, color): ``m`` at (x0, y0), one ``c`` with control
    points (x0+20, y0+b) and (x0+w-20, y0+b) to (x0+w, y0), closed
    with ``h`` — a symmetric x-monotone region whose 16-segment
    flattened scanline coverage the oracle re-derives exactly."""
    rx, ry, rw, rh, rc = rect
    iw, ih, ipx = image
    if len(ipx) != iw * ih:
        raise ValueError("image pixel count mismatch")
    doc = PdfWriter()
    # a deliberately NON-Standard-14 name: this fixture family pins the
    # teaching glyph-box model (5x7 px advancing 6), which r11's AFM
    # metrics would otherwise supersede for /Helvetica
    font_num = doc.add(b"<< /Type /Font /Subtype /Type1 /BaseFont /BoxGlyph >>")
    xobj = doc.stream(
        zlib.compress(ipx),
        b"<< /Type /XObject /Subtype /Image /Width %d /Height %d"
        b" /ColorSpace /DeviceGray /BitsPerComponent 8 /Filter /FlateDecode"
        b" /Length %%d >>" % (iw, ih),
    )
    lines = [
        b"%d %d %d %d re" % (rx, ry, rw, rh),
        b"%.6f g f" % (rc / 255.0),
        b"0 g BT /F1 12 Tf 72 700 Td (%s) Tj ET" % _pdf_escape(text),
        b"q %d 0 0 %d %d %d cm /Im1 Do Q" % (iw, ih, image_at[0], image_at[1]),
    ]
    if curve is not None:
        cx, cy, cw, cb, cc = curve
        lines.append(
            b"%.6f g %d %d m %d %d %d %d %d %d c h f 0 g"
            % (cc / 255.0, cx, cy, cx + 20, cy + cb, cx + cw - 20, cy + cb,
               cx + cw, cy)
        )
    doc.page(
        doc.stream(b"\n".join(lines)),
        b"/Font << /F1 %d 0 R >> /XObject << /Im1 %d 0 R >>" % (font_num, xobj),
    )
    return doc.bytes()


def _one_font_page(doc: PdfWriter, font_num: int, content: bytes) -> bytes:
    """Finish a one-page fixture whose only resource is font /F1."""
    doc.page(doc.stream(content), b"/Font << /F1 %d 0 R >>" % font_num)
    return doc.bytes()


def _show(size: int, td: tuple[int, int], string: bytes) -> bytes:
    """One escaped string shown in /F1 at ``size`` from ``td``."""
    return b"BT /F1 %d Tf %d %d Td (%s) Tj ET" % (size, td[0], td[1], string)


def build_std14_pdf(
    text: str, face: str = "Helvetica", size: int = 125,
    td: tuple[int, int] = (72, 700),
) -> bytes:
    """Oracle-fixture writer (r11): one 612x792 page whose only ink is
    ``text`` set in a NON-embedded Standard-14 ``face`` — the single
    most common PDF text shape (no FontDescriptor, no FontFile; the
    viewer supplies the font).  The rasterizer resolves the face's
    public Adobe Core-14 AFM widths (operators/afm.py) and paints
    metric-true boxes.  The default size 125 makes every advance
    dyadic (w/1000*125 = w/8 — exact in binary), so pen positions are
    exact doubles and the SQL oracle's running-sum restatement is
    order-independent."""
    doc = PdfWriter()
    font_num = doc.add(
        b"<< /Type /Font /Subtype /Type1 /BaseFont /%s >>"
        % face.encode("latin-1")
    )
    return _one_font_page(doc, font_num, _show(size, td, _pdf_escape(text)))


def build_textstate_pdf(
    line_a: str, line_c: str, face: str = "Helvetica",
) -> bytes:
    """Oracle-fixture writer (r11): one 612x792 page exercising the
    §9.3 text-state parameters over a non-embedded Standard-14 face:

    * line A at Td (72, 700): ``2 Tc 4 Tw 50 Tz`` — char spacing,
      word spacing, and half horizontal scale over ``line_a``;
    * line B at Td (0, -200) -> baseline 500: state reset, ``8 Ts`` —
      a +8 rise over the fixed text "up";
    * line C at Td (0, -200) -> baseline 300: ``0 Ts 3 Tr`` — INVISIBLE
      over ``line_c`` (the OCR-text-layer convention: advances, no
      ink).

    Size 125 keeps every advance dyadic ((w/8 + ints) * 0.5)."""
    doc = PdfWriter()
    font_num = doc.add(
        b"<< /Type /Font /Subtype /Type1 /BaseFont /%s >>"
        % face.encode("latin-1")
    )
    content = (
        b"BT /F1 125 Tf"
        b" 2 Tc 4 Tw 50 Tz 72 700 Td (%s) Tj"
        b" 0 Tc 0 Tw 100 Tz 8 Ts 0 -200 Td (up) Tj"
        b" 0 Ts 3 Tr 0 -200 Td (%s) Tj"
        b" ET" % (_pdf_escape(line_a), _pdf_escape(line_c))
    )
    return _one_font_page(doc, font_num, content)


def _font_descriptor(
    doc: PdfWriter, name: bytes, file_key: bytes, program: bytes,
    head: bytes = b"<< /Length %d >>",
) -> int:
    """The font ``program`` as a stream (dictionary ``head``) plus a
    /FontDescriptor ``name`` pointing at it through ``file_key``
    (FontFile, FontFile2 or FontFile3), with the fixture fonts' shared
    metrics (unitsPerEm 1024); returns the descriptor's number."""
    ff_num = doc.stream(program, head)
    return doc.add(
        b"<< /Type /FontDescriptor /FontName /%s /Flags 4"
        b" /FontBBox [0 -480 1024 832] /ItalicAngle 0 /Ascent 832"
        b" /Descent -480 /CapHeight 832 /StemV 80 /%s %d 0 R >>"
        % (name, file_key, ff_num)
    )


def build_glyph_pdf(
    text: str, size: int = 64, td: tuple[int, int] = (72, 700),
    font_program: bytes | None = None,
) -> bytes:
    """Oracle-fixture writer (r10): one 612x792 page whose only ink is
    ``text`` set in an EMBEDDED TrueType font (default:
    operators/truetype.py fixture_font) at integral ``size`` and
    ``Td`` — with unitsPerEm 1024 every device coordinate is an exact
    double (integer + glyph-units / 2^k), so per-character ink
    coverage has closed forms the SQL oracle restates."""
    from specialsid_spark.operators.truetype import fixture_font  # noqa: PLC0415

    if font_program is None:
        font_program = fixture_font()
    doc = PdfWriter()
    desc_num = _font_descriptor(doc, b"Fixture", b"FontFile2", font_program)
    font_num = doc.add(
        b"<< /Type /Font /Subtype /TrueType /BaseFont /Fixture"
        b" /FirstChar 32 /LastChar 126 /FontDescriptor %d 0 R >>" % desc_num
    )
    return _one_font_page(doc, font_num, _show(size, td, _pdf_escape(text)))


def build_cff_pdf(
    text: str, size: int = 64, td: tuple[int, int] = (72, 700),
    font_program: bytes | None = None,
) -> bytes:
    """Oracle-fixture writer (r10): one 612x792 page whose only ink is
    ``text`` set in an EMBEDDED CFF font (default: operators/cff.py
    fixture_cff) — /FontFile3 with Subtype /Type1C, the way PDF embeds
    compact Type 1 outlines.  Units-per-em 1024 keeps every device
    coordinate an exact double at integral sizes, like
    build_glyph_pdf's TrueType twin."""
    from specialsid_spark.operators.cff import fixture_cff  # noqa: PLC0415

    if font_program is None:
        font_program = fixture_cff()
    doc = PdfWriter()
    desc_num = _font_descriptor(
        doc, b"FixtureC", b"FontFile3", font_program,
        b"<< /Subtype /Type1C /Length %d >>",
    )
    font_num = doc.add(
        b"<< /Type /Font /Subtype /Type1 /BaseFont /FixtureC"
        b" /FirstChar 32 /LastChar 126 /FontDescriptor %d 0 R >>" % desc_num
    )
    return _one_font_page(doc, font_num, _show(size, td, _pdf_escape(text)))


def build_type1_pdf(
    text: str, size: int = 64, td: tuple[int, int] = (72, 700),
    font_program: bytes | None = None,
) -> bytes:
    """Oracle-fixture writer (r11): one 612x792 page whose only ink is
    ``text`` set in an EMBEDDED Type 1 font (default:
    operators/type1.py fixture_type1 — eexec-encrypted charstrings,
    the bare /FontFile embedding) carrying the SAME four closed-form
    glyphs as the CFF fixture, so the ink oracle transfers piece for
    piece while exercising the entirely separate decrypt + Type 1
    charstring path."""
    from specialsid_spark.operators.type1 import fixture_type1  # noqa: PLC0415

    if font_program is None:
        font_program = fixture_type1()
    doc = PdfWriter()
    desc_num = _font_descriptor(
        doc, b"Fixture1", b"FontFile", font_program,
        b"<< /Length %%d /Length1 0 /Length2 %d /Length3 0 >>"
        % len(font_program),
    )
    font_num = doc.add(
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Fixture1"
        b" /FirstChar 32 /LastChar 126 /FontDescriptor %d 0 R >>" % desc_num
    )
    return _one_font_page(doc, font_num, _show(size, td, _pdf_escape(text)))


def build_rotated_rect_pdf(
    rect: tuple[int, int, int, int, int], rot: int,
) -> bytes:
    """Oracle-fixture writer (r11): one 612x792 page whose only ink is
    a gray rect fill (x, y, w, h, color 0-255), with /Rotate ``rot``
    on the page dict — the scanned-corpus staple.  Integral
    coordinates keep coverage exact under every quadrant (an
    axis-parallel rect stays axis-parallel through 90-degree
    rotations; the quad-scanline path counts the same pixels the
    round() path would)."""
    rx, ry, rw, rh, rc = rect
    doc = PdfWriter()
    content = b"%.6f g %d %d %d %d re f" % (rc / 255.0, rx, ry, rw, rh)
    doc.page(doc.stream(content), extra=b" /Rotate %d" % rot)
    return doc.bytes()


def build_type3_pdf(
    text: str, size: int = 64, td: tuple[int, int] = (72, 700),
    skew: float = 0.0, raw_content: bytes | None = None,
) -> bytes:
    """Oracle-fixture writer (r11): one 612x792 page whose only ink is
    ``text`` set in a /Subtype /Type3 font — glyphs ARE content
    streams.  FontMatrix 1/128 (exact in binary); two glyphs:
    ``r`` = ``8 16 80 64 re f`` (a rect: 40x32 device px = 1280 at
    size 64) and ``t`` = a right triangle with 64-unit legs (scanline
    coverage 0+1+...+31 = 496 px); both advance 112 glyph units =
    56 device px (integral, so per-glyph ink is pen-invariant).

    r13: ``skew`` sets FontMatrix[1] (the glyph->text y-shear), so
    each glyph's (w, 0) width vector transforms to a 2-D text-space
    displacement — the fixture for the full-matrix advance rule.
    ``raw_content`` replaces the default one-string content stream
    (used by the q/Q text-state-snapshot fixtures)."""
    doc = PdfWriter()
    rect_num = doc.stream(b"112 0 d0\n8 16 80 64 re f")
    tri_num = doc.stream(b"112 0 d0\n0 0 m 64 0 l 0 64 l h f")
    font_num = doc.add(
        b"<< /Type /Font /Subtype /Type3"
        b" /FontBBox [0 0 128 128]"
        b" /FontMatrix [0.0078125 %s 0 0.0078125 0 0]"
        b" /CharProcs << /grect %d 0 R /gtri %d 0 R >>"
        b" /Encoding << /Type /Encoding /Differences [114 /grect 116 /gtri] >>"
        b" /FirstChar 114 /LastChar 116 /Widths [112 0 112] >>"
        % (repr(skew).encode("ascii"), rect_num, tri_num)
    )
    content = raw_content
    if content is None:
        content = _show(size, td, _pdf_escape(text))
    return _one_font_page(doc, font_num, content)


def build_cid_pdf(
    gids: list[int], size: int = 64, td: tuple[int, int] = (72, 700),
    w_units: int = 1125, font_program: bytes | None = None,
) -> bytes:
    """Oracle-fixture writer (r10): one 612x792 page whose only ink is
    the GID sequence ``gids`` set through a /Type0 /Identity-H
    composite font over a CIDFontType2 descendant embedding the
    TrueType fixture font.  /W assigns every used CID ``w_units``
    (default 625 -> 625/1000*64 = 40 device px, an INTEGER advance so
    per-glyph ink is pen-invariant) — deliberately different from the
    program's hmtx widths, so a renderer that wrongly reads hmtx
    shifts every glyph and fails the oracle."""
    from specialsid_spark.operators.truetype import fixture_font  # noqa: PLC0415

    if font_program is None:
        font_program = fixture_font()
    doc = PdfWriter()
    desc_num = _font_descriptor(doc, b"FixtureCID", b"FontFile2", font_program)
    cidfont_num = doc.add(
        b"<< /Type /Font /Subtype /CIDFontType2 /BaseFont /FixtureCID"
        b" /CIDSystemInfo << /Registry (Adobe) /Ordering (Identity)"
        b" /Supplement 0 >> /FontDescriptor %d 0 R /DW 1000"
        b" /W [0 1000 %d] /CIDToGIDMap /Identity >>"
        % (desc_num, w_units)
    )
    font_num = doc.add(
        b"<< /Type /Font /Subtype /Type0 /BaseFont /FixtureCID"
        b" /Encoding /Identity-H /DescendantFonts [%d 0 R] >>"
        % cidfont_num
    )
    raw = b"".join(bytes([g >> 8, g & 0xFF]) for g in gids)
    return _one_font_page(doc, font_num, _show(size, td, _pdf_escape_bytes(raw)))


def build_cid0_pdf(
    cids: list[int], size: int = 64, td: tuple[int, int] = (72, 700),
    w_units: int = 1125, font_program: bytes | None = None,
) -> bytes:
    """Oracle-fixture writer (r11): one 612x792 page whose only ink is
    the CID sequence ``cids`` set through a /Type0 /Identity-H
    composite font over a CIDFontType0 descendant embedding the
    CID-KEYED CFF fixture (operators/cff.py fixture_cid_cff —
    /FontFile3 Subtype /CIDFontType0C).  /W assigns every used CID
    ``w_units`` — deliberately different from the charstring widths,
    so a renderer that reads the program's widths instead of /W shifts
    every glyph and fails the oracle; the charset maps CID 101-104 to
    gids 1-4, so an identity-CID shortcut renders .notdef everywhere
    and fails too."""
    from specialsid_spark.operators.cff import fixture_cid_cff  # noqa: PLC0415

    if font_program is None:
        font_program = fixture_cid_cff()
    doc = PdfWriter()
    desc_num = _font_descriptor(
        doc, b"FixtureCID0", b"FontFile3", font_program,
        b"<< /Subtype /CIDFontType0C /Length %d >>",
    )
    cidfont_num = doc.add(
        b"<< /Type /Font /Subtype /CIDFontType0 /BaseFont /FixtureCID0"
        b" /CIDSystemInfo << /Registry (Adobe) /Ordering (Identity)"
        b" /Supplement 0 >> /FontDescriptor %d 0 R /DW 1000"
        b" /W [100 110 %d] >>" % (desc_num, w_units)
    )
    font_num = doc.add(
        b"<< /Type /Font /Subtype /Type0 /BaseFont /FixtureCID0"
        b" /Encoding /Identity-H /DescendantFonts [%d 0 R] >>"
        % cidfont_num
    )
    raw = b"".join(bytes([c >> 8, c & 0xFF]) for c in cids)
    return _one_font_page(doc, font_num, _show(size, td, _pdf_escape_bytes(raw)))


def _linear_fn(c0: float, c1: float) -> bytes:
    """A FunctionType 2 (N 1) gray ramp from ``c0`` to ``c1``; repr()
    writes each stop so the parsed double is exact."""
    return b"<< /FunctionType 2 /Domain [0 1] /C0 [%s] /C1 [%s] /N 1 >>" % (
        repr(c0).encode(),
        repr(c1).encode(),
    )


def build_separation_pdf(
    fills: list[tuple[tuple[int, int, int, int], float]],
    c0: float,
    c1: float,
) -> bytes:
    """Oracle-fixture writer (r10): one 612x792 page of axis-aligned
    rects filled through a [/Separation /Spot /DeviceGray fn]
    colorspace — each (rect, tint) pair runs ``/CS0 cs <tint> scn``
    before its fill, exercising the tint-transform path end to end.
    Tints and stops are written with repr() so the parsed doubles are
    exact; integral rects keep coverage a closed form."""
    doc = PdfWriter()
    fn_num = doc.add(_linear_fn(c0, c1))
    cs_num = doc.add(b"[/Separation /Spot /DeviceGray %d 0 R]" % fn_num)
    content = b" ".join(
        b"/CS0 cs %s scn %d %d %d %d re f" % (repr(tint).encode(), x, y, w, h)
        for (x, y, w, h), tint in fills
    )
    doc.page(doc.stream(content), b"/ColorSpace << /CS0 %d 0 R >>" % cs_num)
    return doc.bytes()


def _clipped_shading_page(
    doc: PdfWriter, clip_rect: tuple[int, int, int, int], sh_num: int,
) -> bytes:
    """Finish a one-page fixture that paints shading ``sh_num`` as /Sh0
    inside the rect clip ``clip_rect``."""
    content = b"q %d %d %d %d re W n /Sh0 sh Q" % tuple(clip_rect)
    doc.page(doc.stream(content), b"/Shading << /Sh0 %d 0 R >>" % sh_num)
    return doc.bytes()


def build_sampled_shading_pdf(
    clip_rect: tuple[int, int, int, int],
    coords: tuple[int, int, int, int],
    samples: bytes,
) -> bytes:
    """Oracle-fixture writer (r11): like build_shading_pdf but the
    gradient's /Function is a TYPE 0 SAMPLED table (8-bit DeviceGray,
    len(samples) stops, default Encode/Decode) — the design-tool
    gradient shape.  Sample normalization (v/255), the encode ramp
    (t*(n-1)), the floor/frac interpolation, and the final
    floor(x*255+0.5) are all SQL-restatable doubles."""
    doc = PdfWriter()
    fn_num = doc.stream(
        samples,
        b"<< /FunctionType 0 /Domain [0 1] /Size [%d]"
        b" /BitsPerSample 8 /Range [0 1] /Length %%d >>" % len(samples),
    )
    sh_num = doc.add(
        b"<< /ShadingType 2 /ColorSpace /DeviceGray"
        b" /Coords [%d %d %d %d] /Function %d 0 R /Extend [true true] >>"
        % (*coords, fn_num)
    )
    return _clipped_shading_page(doc, clip_rect, sh_num)


def build_radial_pdf(
    clip_rect: tuple[int, int, int, int],
    coords: tuple[int, int, int, int, int, int],
    stops: tuple[float, float, float],
    bound: float = 0.5,
) -> bytes:
    """Oracle-fixture writer (r10): one 612x792 page whose only ink is
    a clipped DeviceGray RADIAL gradient whose /Function is a
    FunctionType 3 STITCH of two linear legs — stops (c0, cm, c1) with
    the middle stop at ``bound``.  Colors and the bound are written
    with repr() so the parsed doubles are exact; integral clip/center/
    radii keep the quadratic-root chain a closed-form double the SQL
    oracle restates."""
    c0, cm, c1 = stops
    doc = PdfWriter()
    f0_num = doc.add(_linear_fn(c0, cm))
    f1_num = doc.add(_linear_fn(cm, c1))
    fn_num = doc.add(
        b"<< /FunctionType 3 /Domain [0 1] /Functions [%d 0 R %d 0 R]"
        b" /Bounds [%s] /Encode [0 1 0 1] >>"
        % (f0_num, f1_num, repr(bound).encode())
    )
    sh_num = doc.add(
        b"<< /ShadingType 3 /ColorSpace /DeviceGray"
        b" /Coords [%d %d %d %d %d %d] /Function %d 0 R"
        b" /Extend [true true] >>" % (*coords, fn_num)
    )
    return _clipped_shading_page(doc, clip_rect, sh_num)


def build_shading_pdf(
    clip_rect: tuple[int, int, int, int],
    coords: tuple[int, int, int, int],
    c0: float,
    c1: float,
) -> bytes:
    """Oracle-fixture writer (r10): one 612x792 page whose only ink is
    an axial DeviceGray gradient ``sh`` painted inside a rect clip
    (``re W n``).  Colors are written with repr() so the parsed double
    is EXACTLY c0/c1 (shortest round-trip form); integral clip and
    axis coordinates keep every t-projection a closed-form double the
    SQL oracle restates."""
    doc = PdfWriter()
    fn_num = doc.add(_linear_fn(c0, c1))
    sh_num = doc.add(
        b"<< /ShadingType 2 /ColorSpace /DeviceGray"
        b" /Coords [%d %d %d %d] /Function %d 0 R /Extend [true true] >>"
        % (*coords, fn_num)
    )
    return _clipped_shading_page(doc, clip_rect, sh_num)
