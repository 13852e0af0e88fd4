"""Byte-level PDF image extraction + a minimal image-PDF writer
(SURVEY.md §2.4 D1 — ref gen_pdf_imgLambda.py:51-60 rasterizes each PDF
page to a JPEG).

The reference's PDFs are scanned retail catalogues: each page is one
full-page raster image (a DCTDecode/JPEG or FlateDecode XObject).  For
that class, "rasterize page N" IS "extract page N's image" — no vector
renderer needed, just the PDF object graph:

* :func:`extract_page_images` walks the ``/Pages`` tree in /Kids order
  (true page order, not byte order), resolves each leaf page's
  ``/Resources → /XObject`` reference, and returns the decoded image
  per page — DCTDecode streams verbatim (they are standalone JPEGs;
  specialsid_spark.operators.jpeg decodes them), FlateDecode raw
  samples re-encoded as PNG.
* :class:`PdfWriter` is the one PDF writer (object numbering,
  catalog and pages tree, stream framing, xref or xref stream); every
  fixture generator in the package writes through it.
  :func:`build_image_pdf` uses it for a single-image-per-page PDF —
  the fixture generator for tests AND the inverse sink (pages →
  scanned catalogue).

DOCUMENTED LIMITATION (same discipline as pdf_page_count's /ObjStm
note): pages whose content is vector art, text, or an image variant
outside DCTDecode/FlateDecode(8-bit gray/RGB) yield None for that page
— callers fall back to the byte-slice stub.  A full renderer needs a
PDF interpreter, which is out of scope for a byte-level scan.
"""

from __future__ import annotations

import re
import struct
import zlib

_OBJ_RE = re.compile(rb"(\d+)\s+0\s+obj\b", re.DOTALL)
_STREAM_RE = re.compile(rb"stream\r?\n")
_REF_RE = re.compile(rb"(\d+)\s+0\s+R\b")
_KIDS_RE = re.compile(rb"/Kids\s*\[([^\]]*)\]")
_NUM_RE = re.compile(rb"/(\w+)\s+(\d+)")


def _scan_objects(
    blob: bytes,
) -> tuple[dict[int, tuple[bytes, bytes | None]], dict[int, int]]:
    """One pass over the raw bytes: obj_num -> (dict/body bytes, raw
    stream bytes or None) plus obj_num -> byte offset of its
    ``N 0 obj`` header.

    The stream length comes from a direct ``/Length N`` when present
    (stream data may legally contain ``endstream``); otherwise the next
    ``endstream`` token bounds it.  Offsets matter because
    incremental-update writers assign object numbers out of byte order,
    so order-sensitive fallbacks must not sort by number.

    ADVICE r4: any ``N 0 obj`` match that falls INSIDE a previously
    captured stream extent is a coincidental ASCII sequence in binary
    payload (a DCTDecode JPEG can contain anything) — honoring it would
    truncate the enclosing object and corrupt page/image resolution for
    the whole document.  The scan therefore advances a guard past every
    stream it captures and skips matches behind it.
    """
    objs: dict[int, tuple[bytes, bytes | None]] = {}
    offsets: dict[int, int] = {}
    guard = 0  # first byte past the last captured stream payload
    for m in _OBJ_RE.finditer(blob):
        if m.start() < guard:
            continue  # inside a previous object's binary stream
        num = int(m.group(1))
        body_start = m.end()
        end = blob.find(b"endobj", body_start)
        sm = _STREAM_RE.search(blob, body_start)
        if sm is None or (0 <= end < sm.start()):
            # no stream in this object (the `stream` match, if any,
            # belongs to a later object)
            body = blob[body_start : end if end >= 0 else len(blob)]
            objs[num] = (body, None)
            offsets[num] = m.start()
            continue
        head = blob[body_start : sm.start()]
        lm = re.search(rb"/Length\s+(\d+)\b(?!\s+0\s+R)", head)
        if lm:
            dend = sm.end() + int(lm.group(1))
            data = blob[sm.end() : dend]
        else:
            se = blob.find(b"endstream", sm.end())
            dend = se if se >= 0 else len(blob)
            data = blob[sm.end() : dend].rstrip(b"\r\n")
        guard = dend
        objs[num] = (head, data)
        offsets[num] = m.start()
    _expand_object_streams(objs, offsets)
    return objs, offsets


def _expand_object_streams(
    objs: dict[int, tuple[bytes, bytes | None]], offsets: dict[int, int]
) -> None:
    """Inflate PDF 1.5 ``/Type /ObjStm`` compressed-object streams and
    lift their member objects into the object map (r6 — closes the
    documented r5 gap: most modern born-digital PDFs keep page dicts,
    font dicts, and the catalog inside object streams, invisible to the
    top-level byte scan, which silently shrank the PDF→text corpus).

    An ObjStm's decoded payload is ``/N`` pairs of ``objnum offset``
    integers (the header, ``/First`` bytes long) followed by the
    concatenated object bodies; members never contain streams (spec
    7.5.7), so each lifts as ``(body, None)``.  Authority rule without
    a full xref walk: a member object REPLACES a same-numbered
    top-level object only when its ObjStm appears later in the file
    (incremental updates append), and member offsets order after their
    container so /Kids-less fallback ordering stays byte-faithful."""
    streams = [
        (n, head, data)
        for n, (head, data) in objs.items()
        if data is not None and re.search(rb"/Type\s*/ObjStm\b", head)
    ]
    for n, head, data in streams:
        if re.search(rb"/Filter\s*/FlateDecode\b", head) or re.search(
            rb"/Filter\s*\[\s*/FlateDecode\s*\]", head
        ):
            try:
                data = zlib.decompress(data)
            except zlib.error:
                continue
        elif re.search(rb"/Filter\b", head):
            continue  # other filters unsupported — leave members invisible
        nums = {k.decode(): int(v) for k, v in _NUM_RE.findall(head)}
        count, first = nums.get("N"), nums.get("First")
        if not count or first is None:
            continue
        pairs = re.findall(rb"(\d+)\s+(\d+)", data[:first])[:count]
        base = offsets.get(n, 0)
        for idx, (num_b, off_b) in enumerate(pairs):
            num, off = int(num_b), int(off_b)
            end = (
                first + int(pairs[idx + 1][1])
                if idx + 1 < len(pairs)
                else len(data)
            )
            body = data[first + off : end]
            if num in objs and offsets.get(num, -1) > base:
                continue  # existing top-level definition is newer
            objs[num] = (body, None)
            offsets[num] = base + idx + 1


def _png_unpredict(data: bytes, columns: int) -> bytes:
    """Undo PNG row predictors (PDF /Predictor >= 10) on a stream of
    ``columns``-byte rows, each prefixed by its filter-type byte.  Only
    the filters real xref-stream writers emit (None/Sub/Up/Average/
    Paeth) — bytes-per-pixel is 1 in the PDF predictor scheme."""
    out = bytearray()
    rowlen = columns + 1
    prev = bytearray(columns)
    for r in range(0, len(data) - rowlen + 1, rowlen):
        ft = data[r]
        row = bytearray(data[r + 1 : r + rowlen])
        if ft == 1:  # Sub
            for i in range(1, columns):
                row[i] = (row[i] + row[i - 1]) & 0xFF
        elif ft == 2:  # Up
            for i in range(columns):
                row[i] = (row[i] + prev[i]) & 0xFF
        elif ft == 3:  # Average
            for i in range(columns):
                a = row[i - 1] if i else 0
                row[i] = (row[i] + ((a + prev[i]) >> 1)) & 0xFF
        elif ft == 4:  # Paeth
            for i in range(columns):
                a = row[i - 1] if i else 0
                b, c = prev[i], (prev[i - 1] if i else 0)
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                row[i] = (row[i] + pred) & 0xFF
        out += row
        prev = row
    return bytes(out)


def read_xref(
    blob: bytes,
) -> tuple[dict[int, tuple[int, int, int]], dict[str, int]]:
    """The file's cross-reference information, from CLASSIC ``xref``
    tables and/or PDF 1.5 ``/Type /XRef`` cross-reference STREAMS
    (r6): follow ``startxref`` to the newest section, then the
    ``/Prev`` chain backwards, newest entry per object winning.

    Returns ``(entries, trailer)`` where ``entries[objnum] = (type, a,
    b)`` — type 0 free (a=next free, b=gen), type 1 regular (a=byte
    offset, b=gen), type 2 compressed (a=ObjStm number, b=index within
    it) — and ``trailer`` carries ``Size``/``Root``/``Info`` object
    numbers where present.  Xref streams decode FlateDecode and the
    PNG row predictors (/DecodeParms /Predictor >= 10) real writers
    emit; /Index subsections and defaulted /W fields are honored."""
    entries: dict[int, tuple[int, int, int]] = {}
    trailer: dict[str, int] = {}
    # the LAST startxref in the tail wins (incremental updates append;
    # real files often carry stray bytes after %%EOF, so no $ anchor)
    tail_matches = re.findall(rb"startxref\s+(\d+)", blob[-2048:])
    pos = int(tail_matches[-1]) if tail_matches else -1
    seen: set[int] = set()
    while 0 <= pos < len(blob) and pos not in seen:
        seen.add(pos)
        if blob[pos : pos + 4] == b"xref":  # classic table
            i = pos + 4
            while True:
                sm = re.match(rb"\s*(\d+)\s+(\d+)\s*\r?\n", blob[i:])
                if not sm:
                    break
                start, cnt = int(sm.group(1)), int(sm.group(2))
                i += sm.end()
                for k in range(cnt):
                    e = blob[i : i + 20]
                    i += 20
                    num = start + k
                    if num in entries:
                        continue
                    typ = 1 if e[17:18] == b"n" else 0
                    entries[num] = (typ, int(e[0:10]), int(e[11:16]))
            tm = re.search(rb"trailer\s*<<", blob[i : i + 4096])
            tdict = blob[i + tm.start() : i + 4096] if tm else b""
            pos = -1
            for key in ("Size", "Root", "Info", "Prev"):
                km = re.search(
                    rb"/" + key.encode() + rb"\s+(\d+)", tdict
                )
                if km:
                    if key == "Prev":
                        pos = int(km.group(1))
                    else:
                        trailer.setdefault(key, int(km.group(1)))
            continue
        # xref STREAM: an `N 0 obj` with /Type /XRef at this offset
        om = _OBJ_RE.match(blob, pos)
        if not om:
            break
        end = blob.find(b"endobj", om.end())
        seg = blob[om.end() : end if end >= 0 else len(blob)]
        sm = _STREAM_RE.search(seg)
        if sm is None or not re.search(rb"/Type\s*/XRef\b", seg[: sm.start()]):
            break
        head = seg[: sm.start()]
        lm = re.search(rb"/Length\s+(\d+)\b", head)
        data = seg[sm.end() : sm.end() + int(lm.group(1))] if lm else seg[sm.end() :]
        if re.search(rb"/FlateDecode\b", head):
            try:
                data = zlib.decompress(data)
            except zlib.error:
                break
        pm = re.search(rb"/Predictor\s+(\d+)", head)
        wm = re.search(rb"/W\s*\[([^\]]*)\]", head)
        if not wm:
            break
        w = [int(x) for x in re.findall(rb"\d+", wm.group(1))]
        if len(w) < 3:  # malformed /W: degrade, don't IndexError below
            break
        if pm and int(pm.group(1)) >= 10:
            data = _png_unpredict(data, sum(w))
        size_m = re.search(rb"/Size\s+(\d+)", head)
        size = int(size_m.group(1)) if size_m else 0
        im = re.search(rb"/Index\s*\[([^\]]*)\]", head)
        idx = (
            [int(x) for x in re.findall(rb"\d+", im.group(1))]
            if im
            else [0, size]
        )
        rowlen = sum(w)
        r = 0
        for s in range(0, len(idx) - 1, 2):
            start, cnt = idx[s], idx[s + 1]
            for k in range(cnt):
                if r + rowlen > len(data):
                    break
                row = data[r : r + rowlen]
                r += rowlen
                fields = []
                o = 0
                for width in w:
                    # width 0: field defaults (type defaults to 1)
                    fields.append(
                        int.from_bytes(row[o : o + width], "big") if width else 0
                    )
                    o += width
                typ = fields[0] if w[0] else 1
                num = start + k
                if num not in entries:
                    entries[num] = (typ, fields[1], fields[2])
        pos = -1
        for key in ("Size", "Root", "Info", "Prev"):
            km = re.search(rb"/" + key.encode() + rb"\s+(\d+)", head)
            if km:
                if key == "Prev":
                    pos = int(km.group(1))
                else:
                    trailer.setdefault(key, int(km.group(1)))
    return entries, trailer


def _page_order(
    objs: dict[int, tuple[bytes, bytes | None]], offsets: dict[int, int]
) -> list[int]:
    """Leaf page object numbers in true document order: walk /Kids of
    the /Type /Pages root (nested trees recursed); fall back to byte
    order of /Type /Page leaves when no tree exists."""
    leaves = {
        n
        for n, (head, _) in objs.items()
        if re.search(rb"/Type\s*/Page(?![a-zA-Z])", head)
    }
    roots = [
        n
        for n, (head, _) in objs.items()
        if re.search(rb"/Type\s*/Pages\b", head)
        and not re.search(rb"/Parent\b", head)
    ]
    order: list[int] = []
    seen: set[int] = set()

    def walk(n: int) -> None:
        if n in seen or n not in objs:
            return
        seen.add(n)
        head = objs[n][0]
        if n in leaves:
            order.append(n)
            return
        km = _KIDS_RE.search(head)
        if km:
            for rm in _REF_RE.finditer(km.group(1)):
                walk(int(rm.group(1)))

    for r in roots:
        walk(r)
    if not order:  # no tree (or damaged): true byte order of the leaves
        order = sorted(leaves, key=lambda n: offsets.get(n, n))
    return order


def _resolve_dict(objs, head: bytes, key: bytes) -> bytes | None:
    """Value of /key in a dict body, following one `N 0 R` indirection."""
    m = re.search(rb"/" + key + rb"\s+(\d+)\s+0\s+R", head)
    if m:
        n = int(m.group(1))
        return objs[n][0] if n in objs else None
    m = re.search(rb"/" + key + rb"\s*(<<.*?>>|\[[^\]]*\])", head, re.DOTALL)
    return m.group(1) if m else None


def extract_image(head: bytes, data: bytes) -> bytes | None:
    """Decode one /Subtype /Image XObject to standalone image bytes:
    DCTDecode verbatim (a JPEG), FlateDecode 8-bit gray/RGB re-encoded
    as PNG.  None for unsupported variants."""
    from specialsid_spark.operators.multimodal import encode_png

    nums = {k.decode(): int(v) for k, v in _NUM_RE.findall(head)}
    w, h = nums.get("Width"), nums.get("Height")
    if not w or not h:
        return None
    if re.search(rb"/Filter\s*/DCTDecode\b", head) or re.search(
        rb"/Filter\s*\[\s*/DCTDecode\s*\]", head
    ):
        return bytes(data)
    if re.search(rb"/Filter\s*/FlateDecode\b", head) or re.search(
        rb"/Filter\s*\[\s*/FlateDecode\s*\]", head
    ):
        if nums.get("BitsPerComponent", 8) != 8:
            return None
        ch = 1 if re.search(rb"/DeviceGray\b", head) else 3
        try:
            raw = zlib.decompress(data)
        except zlib.error:
            return None
        if len(raw) < w * h * ch:
            return None
        return encode_png(w, h, ch, raw[: w * h * ch])
    return None


def extract_page_images(blob: bytes) -> list[bytes | None] | None:
    """Per-page image bytes for an image-per-page PDF, in true /Kids
    page order.  A page whose image cannot be resolved or decoded gets
    None; a non-PDF payload returns None outright."""
    if not blob.startswith(b"%PDF"):
        return None
    objs, offsets = _scan_objects(blob)
    pages = _page_order(objs, offsets)
    if not pages:
        return None
    images = {
        n: (head, data)
        for n, (head, data) in objs.items()
        if data is not None and re.search(rb"/Subtype\s*/Image\b", head)
    }
    out: list[bytes | None] = []
    for pn in pages:
        head = objs[pn][0]
        res = _resolve_dict(objs, head, b"Resources")
        img_bytes = None
        if res is not None:
            xm = re.search(rb"/XObject\s*<<(.*?)>>", res, re.DOTALL)
            refs = _REF_RE.findall(xm.group(1)) if xm else _REF_RE.findall(res)
            for r in refs:
                n = int(r)
                if n in images:
                    img_bytes = extract_image(*images[n])
                    if img_bytes is not None:
                        break
        out.append(img_bytes)
    return out


# ------------------------------------------------------------- text layer
#
# VERDICT r4 #2: PDF→text is a core operator for an LLM-training-data
# pipeline (the reference sidesteps it by sending page IMAGES to a
# vision LLM, pnp-vision-parserLambda.py:118-161 — fine for scanned
# catalogues, wasteful for born-digital PDFs).  This is a minimal
# content-stream interpreter: FlateDecode the page stream(s), walk
# BT/ET text blocks, emit Tj / ' / " / TJ show-text strings in stream
# order, with Td/TD/T*/Tm treated as line breaks.  No font programs, no
# rendering.
#
# Font decode (r7): simple fonts resolve through their declared
# /Encoding (WinAnsi, /Differences via the AGL subset); Type0/CID
# fonts resolve through their /ToUnicode CMap (bfchar + both bfrange
# forms, _parse_tounicode_cmap below).  Strings from fonts declaring NEITHER
# decode as Latin-1 byte values — the remaining documented limitation,
# and such results should be treated as suspect by fidelity-sensitive
# callers.


_NUM_TOKEN_RE = re.compile(rb"^[+-]?(?:\d+\.?\d*|\.\d+)$")
_WHITESPACE = b" \t\r\n\x0c\x00"
_DELIMS = b" \t\r\n\x0c\x00()<>[]{}/%"
_ESC_MAP = {0x6E: 0x0A, 0x72: 0x0D, 0x74: 0x09, 0x62: 0x08, 0x66: 0x0C}


def _read_literal(data: bytes, i: int) -> tuple[str, int]:
    """PDF literal string starting at ``data[i] == '('``: balanced
    parens, backslash escapes (incl. octal and line continuations)."""
    out = bytearray()
    depth = 1
    i += 1
    n = len(data)
    while i < n:
        c = data[i]
        if c == 0x5C:  # backslash
            i += 1
            if i >= n:
                break
            e = data[i]
            if e in _ESC_MAP:
                out.append(_ESC_MAP[e])
                i += 1
            elif e in (0x28, 0x29, 0x5C):
                out.append(e)
                i += 1
            elif 0x30 <= e <= 0x37:  # up to 3 octal digits
                v = 0
                nd = 0
                while i < n and nd < 3 and 0x30 <= data[i] <= 0x37:
                    v = v * 8 + (data[i] - 0x30)
                    i += 1
                    nd += 1
                out.append(v & 0xFF)
            elif e in (0x0D, 0x0A):  # escaped EOL: continuation
                i += 1
                if e == 0x0D and i < n and data[i] == 0x0A:
                    i += 1
            else:  # unknown escape: the char itself (spec behavior)
                out.append(e)
                i += 1
        elif c == 0x28:
            depth += 1
            out.append(c)
            i += 1
        elif c == 0x29:
            depth -= 1
            if depth == 0:
                return out.decode("latin-1"), i + 1
            out.append(c)
            i += 1
        else:
            out.append(c)
            i += 1
    return out.decode("latin-1"), i


def _read_hex(data: bytes, i: int) -> tuple[str, int]:
    """Hex string ``<4865...>`` starting at '<'; odd digit pads 0."""
    j = data.find(b">", i)
    if j < 0:
        j = len(data)
    digits = re.sub(rb"[^0-9A-Fa-f]", b"", data[i + 1 : j])
    if len(digits) % 2:
        digits += b"0"
    return bytes.fromhex(digits.decode()).decode("latin-1"), j + 1


def _skip_dict(data: bytes, i: int) -> int:
    """Skip a ``<< ... >>`` dictionary (nested) starting at '<<'."""
    depth = 0
    n = len(data)
    while i < n - 1:
        if data[i : i + 2] == b"<<":
            depth += 1
            i += 2
        elif data[i : i + 2] == b">>":
            depth -= 1
            i += 2
            if depth == 0:
                return i
        elif data[i] == 0x28:
            _, i = _read_literal(data, i)
        else:
            i += 1
    return n


def _parse_tounicode_cmap(data: bytes) -> dict[int, str]:
    """code→unicode map from a ToUnicode CMap stream: bfchar entries,
    bfrange with an incrementing destination, and bfrange with an
    explicit destination array (all three spec forms).  Destination hex
    is UTF-16BE (may be multiple code units); the increment form adds
    to the LAST code unit, per spec."""
    cmap: dict[int, str] = {}

    def _utf16(hexdigits: bytes) -> str:
        h = hexdigits.decode()
        if len(h) % 4:
            h = h.zfill((len(h) + 3) // 4 * 4)
        return bytes.fromhex(h).decode("utf-16-be", "replace")

    for sec in re.findall(rb"beginbfchar(.*?)endbfchar", data, re.DOTALL):
        for src, dst in re.findall(
            rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>", sec
        ):
            cmap[int(src, 16)] = _utf16(dst)
    for sec in re.findall(rb"beginbfrange(.*?)endbfrange", data, re.DOTALL):
        for m in re.finditer(
            rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>\s*"
            rb"(?:<([0-9A-Fa-f]+)>|\[(.*?)\])",
            sec,
            re.DOTALL,
        ):
            lo, hi = int(m.group(1), 16), int(m.group(2), 16)
            if m.group(3) is not None:
                base = _utf16(m.group(3))
                units = [ord(u) for u in base]
                for k in range(hi - lo + 1):
                    cmap[lo + k] = "".join(
                        chr(u) for u in units[:-1] + [units[-1] + k]
                    )
            else:
                dsts = re.findall(rb"<([0-9A-Fa-f]+)>", m.group(4))
                for k, d in enumerate(dsts[: hi - lo + 1]):
                    cmap[lo + k] = _utf16(d)
    return cmap


# Adobe-Glyph-List subset: the full CP-1252 0x80-0x9F glyph set (the
# names /Differences arrays remap with in WinAnsi documents) plus the
# common ASCII/Latin-1 punctuation and accented-letter names.  Values
# are from the published Adobe Glyph List / Unicode CP-1252 mapping.
_AGL = {
    "Euro": "€", "quotesinglbase": "‚", "florin": "ƒ",
    "quotedblbase": "„", "ellipsis": "…", "dagger": "†",
    "daggerdbl": "‡", "circumflex": "ˆ", "perthousand": "‰",
    "Scaron": "Š", "guilsinglleft": "‹", "OE": "Œ",
    "Zcaron": "Ž", "quoteleft": "‘", "quoteright": "’",
    "quotedblleft": "“", "quotedblright": "”", "bullet": "•",
    "endash": "–", "emdash": "—", "tilde": "˜",
    "trademark": "™", "scaron": "š", "guilsinglright": "›",
    "oe": "œ", "zcaron": "ž", "Ydieresis": "Ÿ",
    "space": " ", "exclam": "!", "quotedbl": '"', "numbersign": "#",
    "dollar": "$", "percent": "%", "ampersand": "&", "quotesingle": "'",
    "parenleft": "(", "parenright": ")", "asterisk": "*", "plus": "+",
    "comma": ",", "hyphen": "-", "period": ".", "slash": "/",
    "colon": ":", "semicolon": ";", "less": "<", "equal": "=",
    "greater": ">", "question": "?", "at": "@", "bracketleft": "[",
    "backslash": "\\", "bracketright": "]", "asciicircum": "^",
    "underscore": "_", "grave": "`", "braceleft": "{", "bar": "|",
    "braceright": "}", "asciitilde": "~", "exclamdown": "¡",
    "cent": "¢", "sterling": "£", "currency": "¤",
    "yen": "¥", "section": "§", "copyright": "©",
    "guillemotleft": "«", "registered": "®", "degree": "°",
    "plusminus": "±", "micro": "µ", "paragraph": "¶",
    "periodcentered": "·", "guillemotright": "»",
    "questiondown": "¿", "multiply": "×", "divide": "÷",
    "Agrave": "À", "Aacute": "Á", "Adieresis": "Ä",
    "Ccedilla": "Ç", "Egrave": "È", "Eacute": "É",
    "Ntilde": "Ñ", "Odieresis": "Ö", "Udieresis": "Ü",
    "agrave": "à", "aacute": "á", "adieresis": "ä",
    "ccedilla": "ç", "egrave": "è", "eacute": "é",
    "iacute": "í", "ntilde": "ñ", "oacute": "ó",
    "odieresis": "ö", "uacute": "ú", "udieresis": "ü",
    "szlig": "ß", "ydieresis": "ÿ",
}


def _glyph_to_unicode(name: str) -> str:
    """Glyph name → character: AGL subset, single-char names (A-Z…),
    and the algorithmic uniXXXX / uXXXX(XX) forms; U+FFFD otherwise."""
    if name in _AGL:
        return _AGL[name]
    if len(name) == 1:
        return name
    m = re.fullmatch(r"uni([0-9A-Fa-f]{4})", name)
    if m is None:
        m = re.fullmatch(r"u([0-9A-Fa-f]{4,6})", name)
    return chr(int(m.group(1), 16)) if m else "�"


def _cp1252_char(i: int) -> str:
    """WinAnsiEncoding byte → char via the stdlib CP-1252 codec; the
    five undefined codes (0x81 8D 8F 90 9D) pass through as-is."""
    try:
        return bytes([i]).decode("cp1252")
    except UnicodeDecodeError:
        return chr(i)


def _simple_encoding_table(objs: dict, fhead: bytes) -> list[str] | None:
    """256-entry byte→char table for a simple font's /Encoding, or None
    for the latin-1 default.  Honors /WinAnsiEncoding (as a bare name
    OR as /BaseEncoding inside an encoding dict, direct or via one
    ``N 0 R`` indirection) and /Differences arrays (code then
    consecutive glyph names, per the PDF spec).  Other base encodings
    (MacRoman, MacExpert) fall back to latin-1 + differences —
    documented simplification; WinAnsi is the overwhelmingly dominant
    simple-font encoding in born-digital documents."""
    enc = None
    m = re.search(rb"/Encoding\s+(\d+)\s+0\s+R", fhead)
    if m:
        n = int(m.group(1))
        enc = objs[n][0] if n in objs else None
    else:
        m = re.search(rb"/Encoding\s*(<<.*?>>)", fhead, re.DOTALL)
        if m:
            enc = m.group(1)
        else:
            m = re.search(rb"/Encoding\s*/(\w+)", fhead)
            if m:
                enc = b"/" + m.group(1)
    if enc is None:
        return None
    win = b"WinAnsiEncoding" in enc
    table = [_cp1252_char(i) if win else chr(i) for i in range(256)]
    dm = re.search(rb"/Differences\s*\[(.*?)\]", enc, re.DOTALL)
    if dm:
        code = 0
        for num, nm in re.findall(rb"(\d+)|/([^\s/\[\]<>()]+)", dm.group(1)):
            if num:
                code = int(num)
            elif code < 256:
                table[code] = _glyph_to_unicode(nm.decode("latin-1"))
                code += 1
    elif not win:
        return None  # unknown base encoding, no differences: latin-1
    return table


# a font's decode recipe: ("cid", ToUnicode cmap) for Type0 fonts
# (2-byte codes) or ("simple", table-or-None) for byte-per-glyph fonts
FontMap = tuple[str, dict[int, str] | list[str] | None]


def _page_fonts(objs: dict, page_head: bytes) -> dict[str, FontMap]:
    """Resource-name → decode recipe for a page's /Font dict: a
    ToUnicode CMap for Type0 (CID) fonts, an /Encoding-derived byte
    table (WinAnsi + /Differences) for simple fonts."""
    res = _resolve_dict(objs, page_head, b"Resources")
    if res is None:
        return {}
    fdict = _resolve_dict(objs, res, b"Font")
    if fdict is None:
        return {}
    fonts: dict[str, FontMap] = {}
    for name, ref in re.findall(rb"/(\w+)\s+(\d+)\s+0\s+R", fdict):
        fn = int(ref)
        if fn not in objs:
            continue
        fhead = objs[fn][0]
        if not re.search(rb"/Subtype\s*/Type0\b", fhead):
            fonts[name.decode("latin-1")] = (
                "simple",
                _simple_encoding_table(objs, fhead),
            )
            continue
        cmap: dict[int, str] = {}
        tum = re.search(rb"/ToUnicode\s+(\d+)\s+0\s+R", fhead)
        if tum and int(tum.group(1)) in objs:
            chead, cdata = objs[int(tum.group(1))]
            if cdata is not None:
                if re.search(rb"/FlateDecode\b", chead):
                    try:
                        cdata = zlib.decompress(cdata)
                    except zlib.error:
                        cdata = b""
                cmap = _parse_tounicode_cmap(cdata)
        fonts[name.decode("latin-1")] = ("cid", cmap)
    return fonts


def _parse_content_text(
    data: bytes, fonts: dict[str, FontMap] | None = None
) -> str:
    """Show-text strings from one page's (decoded) content stream, in
    stream order; Td/TD/T*/Tm/'/" and ET are line boundaries.  TJ array
    elements concatenate (kerning numbers are positioning, not
    spacing — documented simplification).

    CID support (r5): ``fonts`` maps /Tf resource names to a decode
    recipe — ("cid", ToUnicode cmap) for Type0 fonts (strings are
    2-byte big-endian codes) or ("simple", table) for byte-per-glyph
    fonts, where ``table`` is the /Encoding-derived 256-entry byte→char
    map (WinAnsi = CP-1252, /Differences honored; r7) or None for the
    latin-1 default.  The active font follows Tf through the stream."""
    lines: list[str] = []
    cur: list[str] = []
    pending: list[str] = []
    in_text = False
    i = 0
    n = len(data)
    last_name = ""
    cur_font: FontMap | None = None

    def show(s: str) -> str:
        if cur_font is None:
            return s
        mode, mp = cur_font
        if mode == "cid":
            b = s.encode("latin-1")
            return "".join(
                mp.get((b[k] << 8) | b[k + 1], "�")
                for k in range(0, len(b) - 1, 2)
            )
        if mp is None:  # simple font, default encoding: latin-1 as-is
            return s
        return "".join(mp[b] for b in s.encode("latin-1"))

    def break_line() -> None:
        if cur:
            lines.append("".join(cur))
            cur.clear()

    while i < n:
        c = data[i]
        if c in _WHITESPACE:
            i += 1
            continue
        if c == 0x28:  # ( literal string
            s, i = _read_literal(data, i)
            pending.append(s)
            continue
        if c == 0x3C:  # < : hex string or << dict
            if data[i : i + 2] == b"<<":
                i = _skip_dict(data, i)
            else:
                s, i = _read_hex(data, i)
                pending.append(s)
            continue
        if c in (0x5B, 0x5D):  # [ ] array brackets: transparent
            i += 1
            continue
        if c == 0x2F:  # /Name operand
            j = i + 1
            while j < n and data[j] not in _DELIMS:
                j += 1
            last_name = data[i + 1 : j].decode("latin-1")
            i = j
            continue
        if c == 0x25:  # % comment to EOL
            j = data.find(b"\n", i)
            i = n if j < 0 else j + 1
            continue
        j = i
        while j < n and data[j] not in _DELIMS:
            j += 1
        if j == i:  # stray delimiter ({ } >)
            i += 1
            continue
        tok = data[i:j]
        i = j
        if _NUM_TOKEN_RE.match(tok):
            continue  # numeric operand: leave pending strings alone
        if tok == b"BT":
            in_text = True
            pending.clear()
            continue
        if tok == b"ET":
            in_text = False
            break_line()
            pending.clear()
            continue
        if tok == b"Tf":  # text font persists across BT blocks
            if fonts is not None:
                cur_font = fonts.get(last_name)
            pending.clear()
            continue
        if not in_text:
            pending.clear()
            continue
        if tok in (b"Tj", b"TJ"):
            cur.extend(show(s) for s in pending)
            pending.clear()
        elif tok in (b"'", b'"'):  # move-to-next-line + show
            break_line()
            cur.extend(show(s) for s in pending[-1:])
            pending.clear()
        elif tok in (b"Td", b"TD", b"T*", b"Tm"):
            break_line()
            pending.clear()
        else:  # any other operator consumes its operands
            pending.clear()
    break_line()
    return "\n".join(lines)


def lzw_decode_pdf(head: bytes, data: bytes) -> bytes | None:
    """PDF /LZWDecode (ISO 32000-1 §7.4.4): the TIFF 6.0 §13 codec
    (operators/tiff.py lzw_decode_tiff — MSB-first bits, 9→12-bit
    codes over a 256-symbol alphabet) parameterized by /EarlyChange
    from the stream dict (default 1, the TIFF-identical width rule;
    0 = late change).  None on corrupt streams or unsupported
    /Predictor values (> 1).  r11, VERDICT r10 next-#7."""
    from specialsid_spark.operators.tiff import lzw_decode_tiff  # noqa: PLC0415

    pm = re.search(rb"/Predictor\s+(\d+)", head)
    if pm is not None and int(pm.group(1)) > 1:
        return None  # predictor-coded LZW: out of scope, degrade loudly
    em = re.search(rb"/EarlyChange\s+(\d+)", head)
    early = int(em.group(1)) if em else 1
    out = lzw_decode_tiff(data, early_change=early)
    return bytes(out) if out is not None else None


def _content_bytes(objs: dict, head: bytes) -> bytes | None:
    """Concatenated, filter-decoded /Contents stream(s) of a page."""
    m = re.search(rb"/Contents\s+(\d+)\s+0\s+R", head)
    if m:
        refs = [int(m.group(1))]
    else:
        m = re.search(rb"/Contents\s*\[([^\]]*)\]", head)
        if not m:
            return None
        refs = [int(r) for r in _REF_RE.findall(m.group(1))]
    parts = []
    for r in refs:
        if r not in objs:
            return None
        chead, data = objs[r]
        if data is None:
            return None
        if re.search(rb"/Filter\s*/FlateDecode\b", chead) or re.search(
            rb"/Filter\s*\[\s*/FlateDecode\s*\]", chead
        ):
            try:
                data = zlib.decompress(data)
            except zlib.error:
                return None
        elif re.search(rb"/Filter\s*/LZWDecode\b", chead) or re.search(
            rb"/Filter\s*\[\s*/LZWDecode\s*\]", chead
        ):
            data = lzw_decode_pdf(chead, data)
            if data is None:
                return None
        elif re.search(rb"/Filter\b", chead):
            return None  # other filters (DCT, JBIG2, ...) unsupported
        parts.append(data)
    return b"\n".join(parts)


def extract_page_text(blob: bytes) -> list[str | None] | None:
    """Per-page extracted text for a (born-digital) PDF, in true /Kids
    page order — the LLM-corpus counterpart of
    :func:`extract_page_images`.  A page whose content stream cannot be
    resolved/decoded yields None; a non-PDF payload returns None
    outright.  A page with no text operators yields ''."""
    if not blob.startswith(b"%PDF"):
        return None
    objs, offsets = _scan_objects(blob)
    pages = _page_order(objs, offsets)
    if not pages:
        return None
    out: list[str | None] = []
    for pn in pages:
        content = _content_bytes(objs, objs[pn][0])
        if content is None:
            out.append(None)
        else:
            out.append(
                _parse_content_text(content, _page_fonts(objs, objs[pn][0]))
            )
    return out


def _pdf_escape(s: str, char_to_code: dict[str, int] | None = None) -> bytes:
    """Escape a text line for a PDF literal string.  Bytes are CP-1252
    (the /WinAnsiEncoding the writer's font dict declares — curly
    quotes, em-dash, € land in 0x80-0x9F, NOT latin-1's C1 controls);
    ``char_to_code`` overrides individual characters with /Differences
    remap codes."""
    if char_to_code:
        out = bytearray()
        for ch in s:
            if ch in char_to_code:
                out.append(char_to_code[ch])
            else:
                out += ch.encode("cp1252", "replace")
        b = bytes(out)
    else:
        b = s.encode("cp1252", "replace")
    return b.replace(b"\\", rb"\\").replace(b"(", rb"\(").replace(b")", rb"\)")


def build_text_pdf(
    pages: list[str],
    compress: bool | str = True,
    layout: str = "classic",
    differences: dict[int, str] | None = None,
) -> bytes:
    """Minimal text-PDF writer — the inverse sink of
    :func:`extract_page_text` and the fixture generator for its oracle.
    One page per input string; lines (split on \\n) become Helvetica
    12 pt Tj runs with explicit Td line advances; the FIRST line of
    each page is emitted as a kerned TJ array split mid-string so the
    extractor's TJ-concatenation path is exercised by every fixture.
    Content streams are FlateDecoded by default (the dominant
    born-digital layout).  ``layout="objstm"`` (r6) emits the MODERN
    PDF 1.5 file layout — catalog/pages/page/font dicts packed in a
    compressed ``/Type /ObjStm``, cross-reference as a predictor-coded
    ``/Type /XRef`` stream — the fixture source for the object-stream
    readers.

    ``differences`` (r7): code → glyph-name remaps, emitted as a
    ``/Differences`` array inside an encoding dict (BaseEncoding
    WinAnsi) AND honored when encoding the page text — characters whose
    glyph the array names are written with the remapped codes, so a
    reader that ignores /Differences provably mis-decodes them."""
    char_to_code = None
    enc: bytes = b" /Encoding /WinAnsiEncoding"
    if differences:
        parts = b" ".join(
            b"%d /%s" % (code, name.encode("latin-1"))
            for code, name in sorted(differences.items())
        )
        enc = (
            b" /Encoding << /Type /Encoding /BaseEncoding /WinAnsiEncoding"
            b" /Differences [ " + parts + b" ] >>"
        )
        char_to_code = {
            _glyph_to_unicode(name): code
            for code, name in differences.items()
        }

    def esc(s: str) -> bytes:
        return _pdf_escape(s, char_to_code)

    doc = PdfWriter()
    font_num = doc.add(
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica" + enc + b" >>"
    )
    for text in pages:
        ops = [b"BT /F1 12 Tf 72 720 Td"]
        for li, line in enumerate(text.split("\n")):
            if li > 0:
                ops.append(b"0 -14 Td")
            if li == 0 and len(line) > 1:
                half = len(line) // 2
                ops.append(
                    b"[(%s) -2 (%s)] TJ"
                    % (esc(line[:half]), esc(line[half:]))
                )
            else:
                ops.append(b"(%s) Tj" % esc(line))
        ops.append(b"ET")
        content = b"\n".join(ops)
        filt = b""
        if compress == "lzw":
            # pre-1.2-era layout: LZW content streams, /EarlyChange 1
            # (the default — bit-identical to TIFF's width rule)
            from specialsid_spark.operators.tiff import (  # noqa: PLC0415
                lzw_encode_tiff,
            )

            content = lzw_encode_tiff(content)
            filt = b" /Filter /LZWDecode"
        elif compress:
            content = zlib.compress(content)
            filt = b" /Filter /FlateDecode"
        doc.page(
            doc.stream(content, b"<< /Length %%d%s >>" % filt),
            b"/Font << /F1 %d 0 R >>" % font_num,
        )
    return doc.bytes(layout)


def _jpeg_components(jpg: bytes) -> int:
    """Component count from the first SOF0/1/2 segment (3 = YCbCr)."""
    i = 2
    while i + 9 < len(jpg):
        if jpg[i] != 0xFF:
            i += 1
            continue
        m = jpg[i + 1]
        if m in (0xFF, 0x01) or 0xD0 <= m <= 0xD9:
            i += 2
            continue
        ln = struct.unpack(">H", jpg[i + 2 : i + 4])[0]
        if m in (0xC0, 0xC1, 0xC2):
            return jpg[i + 9]
        i += 2 + ln
    return 3


def build_image_pdf(page_images: list[bytes]) -> bytes:
    """Minimal image-per-page PDF writer (the S8 sink inverse of
    :func:`extract_page_images`): each input page is JPEG bytes
    (embedded verbatim as a DCTDecode XObject — zero recompression,
    exactly how scanners emit catalogues) or 8-bit gray/RGB PNG bytes
    (decoded and embedded as a FlateDecode XObject).  Emits a classic
    xref-table PDF readable by any viewer."""
    from specialsid_spark.operators.multimodal import decode_png, parse_image_meta

    doc = PdfWriter()
    for img in page_images:
        meta = parse_image_meta(img)
        if meta is None or meta[2] not in ("jpeg", "png"):
            raise ValueError("build_image_pdf pages must be JPEG or PNG bytes")
        w, h, fmt = meta
        if fmt == "jpeg":
            payload, filt = img, b"/DCTDecode"
            # component count from the SOF header: a 1-component (gray)
            # DCT stream labeled /DeviceRGB is a spec violation strict
            # renderers reject
            cs = b"/DeviceGray" if _jpeg_components(img) == 1 else b"/DeviceRGB"
        else:
            dec = decode_png(img)
            if dec is None or dec[2] not in (1, 3):
                raise ValueError("PNG page variant unsupported (need 8-bit gray/RGB)")
            w, h, ch, px = dec
            payload = zlib.compress(bytes(px))
            filt = b"/FlateDecode"
            cs = b"/DeviceGray" if ch == 1 else b"/DeviceRGB"
        xobj = doc.stream(
            payload,
            b"<< /Type /XObject /Subtype /Image /Width %d /Height %d"
            b" /ColorSpace %s /BitsPerComponent 8 /Filter %s"
            b" /Length %%d >>" % (w, h, cs, filt),
        )
        doc.page(
            doc.stream(b"q %d 0 0 %d 0 0 cm /Im0 Do Q" % (w, h)),
            b"/XObject << /Im0 %d 0 R >>" % xobj,
            box=(w, h),
        )
    return doc.bytes()


def _pdf_escape_bytes(raw: bytes) -> bytes:
    """Escape raw bytes (2-byte CID codes, any value) for a PDF literal
    string: the delimiters and backslash get a backslash, CR and LF
    their escape letters so no line-end normalization can touch them."""
    out = bytearray()
    for x in raw:
        if x in (0x28, 0x29, 0x5C):  # ( ) backslash
            out += b"\\" + bytes([x])
        elif x == 0x0D:
            out += b"\\r"
        elif x == 0x0A:
            out += b"\\n"
        else:
            out.append(x)
    return bytes(out)


class PdfWriter:
    """The one PDF file writer.  Object 1 is the catalog and object 2
    the page tree, both filled in by :meth:`bytes`; every other object
    is numbered in call order, so a caller states only its own objects
    (fonts, images, functions) and content streams."""

    def __init__(self) -> None:
        self._objects: list[bytes] = [b"", b""]
        self._pages: list[int] = []

    def add(self, body: bytes) -> int:
        """Append one object; return its number."""
        self._objects.append(body)
        return len(self._objects)

    def stream(self, data: bytes, head: bytes = b"<< /Length %d >>") -> int:
        """Append a stream object.  ``head`` is its dictionary with one
        ``%d`` where the byte length of ``data`` goes."""
        return self.add(head % len(data) + b"\nstream\n" + data + b"\nendstream")

    def page(
        self,
        contents: int,
        resources: bytes | None = None,
        box: tuple[int, int] = (612, 792),
        extra: bytes = b"",
    ) -> None:
        """Append a page whose content stream is object ``contents``.
        ``resources`` is the inside of its /Resources dict; ``extra``
        (e.g. ``b" /Rotate 90"``) goes right after the /MediaBox."""
        res = b"" if resources is None else b" /Resources << %s >>" % resources
        self._pages.append(
            self.add(
                b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 %d %d]%s%s"
                b" /Contents %d 0 R >>" % (*box, extra, res, contents)
            )
        )

    def bytes(self, layout: str = "classic") -> bytes:
        """The file: a classic xref table, or with ``layout="objstm"``
        the PDF 1.5 object-stream + xref-stream layout."""
        kids = b" ".join(b"%d 0 R" % n for n in self._pages)
        self._objects[0] = b"<< /Type /Catalog /Pages 2 0 R >>"
        self._objects[1] = b"<< /Type /Pages /Kids [%s] /Count %d >>" % (
            kids,
            len(self._pages),
        )
        if layout == "objstm":
            return _assemble_pdf_objstm(self._objects, 1)
        return _assemble_pdf(self._objects, 1)


def _assemble_pdf_objstm(objects: list[bytes], catalog_num: int) -> bytes:
    """Serialize in the MODERN (PDF 1.5+) layout: every non-stream
    object is packed into one Flate-compressed ``/Type /ObjStm``, and
    the cross-reference is a ``/Type /XRef`` STREAM with type-2
    (compressed-object) entries, /W [1 4 2] fields and PNG Up
    prediction (/Predictor 12) — the layout most born-digital PDFs use
    and the fixture generator for the r6 object-stream readers.  Stream
    objects (contents, CMaps, images) stay top-level, as the spec
    requires."""
    n = len(objects)
    objstm_num, xref_num = n + 1, n + 2
    packed = [
        (i + 1, body)
        for i, body in enumerate(objects)
        if not _STREAM_RE.search(body)
    ]
    packed_idx = {num: k for k, (num, _) in enumerate(packed)}
    header = b" ".join(b"%d %d" % (num, off) for num, off in _objstm_offsets(packed))
    payload = header + b"\n" + b"".join(body for _, body in packed)
    first = len(header) + 1
    zdata = zlib.compress(payload)

    out = bytearray(b"%PDF-1.5\n")
    offsets: dict[int, int] = {}
    for i, body in enumerate(objects, start=1):
        if i in packed_idx:
            continue
        offsets[i] = len(out)
        out += b"%d 0 obj\n" % i + body + b"\nendobj\n"
    offsets[objstm_num] = len(out)
    out += (
        b"%d 0 obj\n<< /Type /ObjStm /N %d /First %d /Filter /FlateDecode"
        b" /Length %d >>\nstream\n" % (objstm_num, len(packed), first, len(zdata))
        + zdata
        + b"\nendstream\nendobj\n"
    )
    xref_pos = len(out)
    size = n + 3
    rows = bytearray()
    prev = bytes(7)
    for num in range(size):
        if num == 0:
            raw = bytes([0]) + (0).to_bytes(4, "big") + (65535).to_bytes(2, "big")
        elif num in packed_idx:
            raw = (
                bytes([2])
                + objstm_num.to_bytes(4, "big")
                + packed_idx[num].to_bytes(2, "big")
            )
        elif num == xref_num:
            raw = bytes([1]) + xref_pos.to_bytes(4, "big") + (0).to_bytes(2, "big")
        else:
            raw = bytes([1]) + offsets[num].to_bytes(4, "big") + (0).to_bytes(2, "big")
        # PNG Up filter per row (/Predictor 12)
        rows += bytes([2]) + bytes((raw[i] - prev[i]) & 0xFF for i in range(7))
        prev = raw
    zx = zlib.compress(bytes(rows))
    out += (
        b"%d 0 obj\n<< /Type /XRef /Size %d /Root %d 0 R /W [1 4 2]"
        b" /Filter /FlateDecode /DecodeParms << /Predictor 12 /Columns 7 >>"
        b" /Length %d >>\nstream\n" % (xref_num, size, catalog_num, len(zx))
        + zx
        + b"\nendstream\nendobj\n"
    )
    out += b"startxref\n%d\n%%%%EOF\n" % xref_pos
    return bytes(out)


def _objstm_offsets(packed: list[tuple[int, bytes]]) -> list[tuple[int, int]]:
    """(objnum, offset-within-concatenated-bodies) pairs for an ObjStm
    header."""
    pairs = []
    off = 0
    for num, body in packed:
        pairs.append((num, off))
        off += len(body)
    return pairs


def _assemble_pdf(objects: list[bytes], catalog_num: int) -> bytes:
    """Serialize numbered objects + xref + trailer: the classic layout
    of :class:`PdfWriter`, the one writer."""
    out = bytearray(b"%PDF-1.4\n")
    offsets = [0]
    for i, body in enumerate(objects, start=1):
        offsets.append(len(out))
        out += b"%d 0 obj\n" % i + body + b"\nendobj\n"
    xref_pos = len(out)
    out += b"xref\n0 %d\n" % (len(objects) + 1)
    out += b"0000000000 65535 f \n"
    for off in offsets[1:]:
        out += b"%010d 00000 n \n" % off
    out += (
        b"trailer\n<< /Size %d /Root %d 0 R >>\nstartxref\n%d\n%%%%EOF\n"
        % (len(objects) + 1, catalog_num, xref_pos)
    )
    return bytes(out)


def build_cid_text_pdf(
    pages: list[str], compress: bool = True, layout: str = "classic"
) -> bytes:
    """Type0/Identity-H text-PDF writer — the CID-font counterpart of
    :func:`build_text_pdf` and the fixture generator for the
    `mm_pdf_cid_text` oracle.  Per page, the first line is shown in a
    simple Type1 font (/F1) and every further line in a 2-byte CID
    font (/F2) as hex strings, so extraction must follow Tf through
    the stream.  The ToUnicode CMap deliberately uses all three spec
    entry forms: one incrementing bfrange for a-z, bfchar entries for
    half the remaining vocabulary, and an explicit-array bfrange for
    the other half.  Codes start at 0x0200 — nothing is
    latin-1-coincident, so a decoder that ignored the CMap would
    produce garbage, not accidentally-right text."""
    vocab: list[str] = []
    seen: set[str] = set()
    for text in pages:
        for line in text.split("\n")[1:]:
            for ch in line:
                if not ("a" <= ch <= "z") and ch not in seen:
                    seen.add(ch)
                    vocab.append(ch)
    code_of: dict[str, int] = {chr(0x61 + k): 0x0200 + k for k in range(26)}
    for k, ch in enumerate(vocab):
        code_of[ch] = 0x0300 + k

    half = (len(vocab) + 1) // 2
    cmap_lines = [
        b"/CIDInit /ProcSet findresource begin\n12 dict begin\nbegincmap",
        b"1 begincodespacerange\n<0000> <FFFF>\nendcodespacerange",
        b"1 beginbfrange\n<0200> <0219> <0061>\nendbfrange",
    ]
    if half:
        cmap_lines.append(b"%d beginbfchar" % half)
        for k in range(half):
            cmap_lines.append(b"<%04X> <%04X>" % (0x0300 + k, ord(vocab[k])))
        cmap_lines.append(b"endbfchar")
    if len(vocab) > half:
        arr = b" ".join(b"<%04X>" % ord(c) for c in vocab[half:])
        cmap_lines.append(
            b"1 beginbfrange\n<%04X> <%04X> [%s]\nendbfrange"
            % (0x0300 + half, 0x0300 + len(vocab) - 1, arr)
        )
    cmap_lines.append(b"endcmap\nend\nend")
    cmap_stream = b"\n".join(cmap_lines)

    doc = PdfWriter()
    f1_num = doc.add(
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica"
        b" /Encoding /WinAnsiEncoding >>"
    )
    cmap_data = cmap_stream
    filt = b""
    if compress:
        cmap_data = zlib.compress(cmap_data)
        filt = b" /Filter /FlateDecode"
    cmap_num = doc.stream(cmap_data, b"<< /Length %%d%s >>" % filt)
    desc_num = doc.add(
        b"<< /Type /Font /Subtype /CIDFontType2 /BaseFont /Fixture"
        b" /CIDSystemInfo << /Registry (Adobe) /Ordering (Identity)"
        b" /Supplement 0 >> >>"
    )
    f2_num = doc.add(
        b"<< /Type /Font /Subtype /Type0 /BaseFont /Fixture-Identity"
        b" /Encoding /Identity-H /DescendantFonts [%d 0 R]"
        b" /ToUnicode %d 0 R >>" % (desc_num, cmap_num)
    )

    def hexstr(line: str) -> bytes:
        return b"<" + b"".join(b"%04X" % code_of[c] for c in line) + b">"

    for text in pages:
        lines = text.split("\n")
        ops = [b"BT /F1 12 Tf 72 720 Td",
               b"(%s) Tj" % _pdf_escape(lines[0]),
               b"/F2 12 Tf"]
        for li, line in enumerate(lines[1:]):
            ops.append(b"0 -14 Td")
            if li % 2 and len(line) > 1:  # hex strings inside TJ arrays too
                h = len(line) // 2
                ops.append(
                    b"[%s -2 %s] TJ" % (hexstr(line[:h]), hexstr(line[h:]))
                )
            else:
                ops.append(b"%s Tj" % hexstr(line))
        ops.append(b"ET")
        content = b"\n".join(ops)
        if compress:
            content = zlib.compress(content)
        doc.page(
            doc.stream(content, b"<< /Length %%d%s >>" % filt),
            b"/Font << /F1 %d 0 R /F2 %d 0 R >>" % (f1_num, f2_num),
        )
    return doc.bytes(layout)
