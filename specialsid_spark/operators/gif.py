"""GIF codec, stdlib-only (SURVEY.md §2.11 X3 — the fourth raster
format with REAL pixels, after BMP/PNG/JPEG).

GIF's only compression is LZW with variable-width codes (GIF89a spec
appendix F); no DCT, no filters — so a complete decoder is ~100 lines:
header + color tables, sub-block reassembly, LZW expansion, optional
interlace reordering, palette lookup.  The encoder writes a real
variable-width LZW stream (dictionary up to 4096 entries with CLEAR
resets), so round-trip tests exercise the decoder against genuinely
compressed data, and any standard viewer opens the output.

Scope: :func:`decode_gif` decodes the first image descriptor
composited on the logical screen background;
:func:`extract_gif_frames` (r4) extracts EVERY frame of an animated
GIF with full disposal handling (none/keep, restore-to-background,
restore-to-previous) and :func:`sample_gif_frames` takes every Nth
composited frame.  Transparency index maps to the color-table entry
(GIF has no partial alpha).
"""

from __future__ import annotations

import struct


def _lzw_decode(data: bytes, min_code_size: int) -> bytearray | None:
    """GIF-flavor LZW: variable code width from min_code_size+1 up to
    12 bits, CLEAR resets the table, EOI ends the stream.

    Width convention (the giflib/de-facto one): the ENCODER checks
    "next free code ≥ 2^width" immediately after writing each code and
    before adding that code's new table entry — so the decoder, whose
    table additions lag one code behind, must widen on a CODES-READ
    counter (clear+2 + codes_read-1), not on its own entry counter.
    Getting this wrong desyncs exactly at each width boundary."""
    clear = 1 << min_code_size
    eoi = clear + 1
    out = bytearray()
    # r5 fast path: inline LSB-first bit reader with 4-byte chunked
    # refills (the per-code closure call + per-byte fill was the GIF
    # decoder's hot spot), dense LIST table instead of a dict (codes
    # are contiguous 0..next_entry by construction), local-name binds.
    acc = n_bits = pos = 0
    base = [bytes([i]) for i in range(clear)] + [b"", b""]  # clear/eoi pads
    table = base[:]
    width = min_code_size + 1
    mask = (1 << width) - 1
    prev: bytes | None = None
    next_entry = eoi + 1
    ncodes = 0  # data codes read since the last CLEAR
    from_bytes = int.from_bytes
    while True:
        if n_bits < width:
            chunk = data[pos : pos + 4]
            pos += len(chunk)
            acc |= from_bytes(chunk, "little") << n_bits
            n_bits += 8 * len(chunk)
            if n_bits < width:
                return out  # stream exhausted mid-code
        code = acc & mask
        acc >>= width
        n_bits -= width
        if code == eoi:
            return out
        if code == clear:
            table = base[:]
            width = min_code_size + 1
            mask = (1 << width) - 1
            next_entry = eoi + 1
            prev = None
            ncodes = 0
            continue
        ncodes += 1
        if code < next_entry:
            entry = table[code]
        elif code == next_entry and prev is not None:
            entry = prev + prev[:1]
        else:
            return None  # corrupt stream
        out += entry
        if prev is not None and next_entry < 4096:
            table.append(prev + entry[:1])
            next_entry += 1
        # mirror the encoder's post-emit check: its next_code when it
        # wrote data code #ncodes was clear+2 + (ncodes-1)
        if clear + 2 + ncodes - 1 >= (1 << width) and width < 12:
            width += 1
            mask = (1 << width) - 1
        prev = entry


def _lzw_encode(pixels: bytes, min_code_size: int) -> bytes:
    """Real variable-width LZW (the inverse of :func:`_lzw_decode`,
    same giflib width convention: check-then-add after each emit)."""
    clear = 1 << min_code_size
    eoi = clear + 1
    out = bytearray()
    acc = n_bits = 0
    width = min_code_size + 1
    table = {bytes([i]): i for i in range(clear)}
    next_code = eoi + 1

    def emit(code: int) -> None:
        nonlocal acc, n_bits, width
        acc |= code << n_bits
        n_bits += width
        while n_bits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            n_bits -= 8
        # post-write width check against the CURRENT next free code
        if next_code >= (1 << width) and width < 12:
            width += 1

    emit(clear)
    prev = b""
    for b in pixels:
        cur = prev + bytes([b])
        if cur in table:
            prev = cur
            continue
        emit(table[prev])
        if next_code < 4096:
            table[cur] = next_code
            next_code += 1
        else:
            emit(clear)
            table = {bytes([i]): i for i in range(clear)}
            next_code = eoi + 1
            width = min_code_size + 1
        prev = bytes([b])
    if prev:
        emit(table[prev])
    emit(eoi)
    if n_bits:
        out.append(acc & 0xFF)
    return bytes(out)


_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def decode_gif(blob: bytes) -> tuple[int, int, int, bytearray] | None:
    """First-frame decode to (width, height, 3, RGB pixels top-down) on
    the logical screen (frame rect composited over the background
    color).  None for non-GIF or corrupt payloads."""
    frames = extract_gif_frames(blob, max_frames=1)
    if not frames:
        return None
    w, h, px = frames[0]
    return w, h, 3, px


def extract_gif_frames(
    blob: bytes, max_frames: int | None = None
) -> list[tuple[int, int, bytearray]] | None:
    """ALL frames of a (possibly animated) GIF as fully-composited
    logical screens [(w, h, RGB pixels)], honoring per-frame disposal
    methods (1/none: leave, 2: restore background, 3: restore
    previous).  The video-pipeline twin of AVI's extract_frames — feed
    to a frame sampler the same way.  None for non-GIF/corrupt."""
    try:
        return _gif_frames_inner(blob, max_frames)
    except (IndexError, struct.error):
        return None  # truncated/corrupt container: degrade, never raise


def _gif_frames_inner(blob, max_frames):
    if len(blob) < 13 or blob[:6] not in (b"GIF87a", b"GIF89a"):
        return None
    sw, sh = struct.unpack("<HH", blob[6:10])
    flags = blob[10]
    bg_index = blob[11]
    i = 13
    gct = None
    if flags & 0x80:
        n = 2 << (flags & 7)
        gct = blob[i : i + 3 * n]
        i += 3 * n
    bg = b"\x00\x00\x00"
    if gct is not None and bg_index * 3 + 3 <= len(gct):
        bg = bytes(gct[bg_index * 3 : bg_index * 3 + 3])
    canvas = bytearray(bg * (sw * sh))
    frames: list[tuple[int, int, bytearray]] = []
    transparent = None
    disposal = 0
    while i < len(blob):
        b0 = blob[i]
        if b0 == 0x3B:  # trailer
            break
        if b0 == 0x21:  # extension
            label = blob[i + 1]
            j = i + 2
            if label == 0xF9 and blob[j] >= 4:  # graphic control
                gflags = blob[j + 1]
                transparent = blob[j + 4] if gflags & 1 else None
                disposal = (gflags >> 2) & 7
            while j < len(blob) and blob[j] != 0:
                j += 1 + blob[j]
            i = j + 1
            continue
        if b0 != 0x2C:  # not an image descriptor
            return frames if frames else None
        fx, fy, fw, fh = struct.unpack("<HHHH", blob[i + 1 : i + 9])
        lflags = blob[i + 9]
        i += 10
        ct = gct
        if lflags & 0x80:
            n = 2 << (lflags & 7)
            ct = blob[i : i + 3 * n]
            i += 3 * n
        if ct is None:
            return frames if frames else None
        min_code = blob[i]
        i += 1
        lzw = bytearray()
        while i < len(blob) and blob[i] != 0:
            ln = blob[i]
            lzw += blob[i + 1 : i + 1 + ln]
            i += 1 + ln
        i += 1  # block terminator
        idx = _lzw_decode(bytes(lzw), min_code)
        if idx is None or len(idx) < fw * fh:
            return frames if frames else None
        if lflags & 0x40:  # interlaced: reorder rows
            rows = [idx[r * fw : (r + 1) * fw] for r in range(fh)]
            ordered: list[bytes | None] = [None] * fh
            src = 0
            for start, step in _INTERLACE_PASSES:
                for y in range(start, fh, step):
                    ordered[y] = rows[src]
                    src += 1
            idx = bytearray().join(ordered)  # type: ignore[arg-type]
        snapshot = bytearray(canvas) if disposal == 3 else None
        # r5 fast path: vectorized palette lookup + masked composite
        # (the per-pixel Python loop was quadratic-feeling on large
        # frames); np.frombuffer over the bytearray writes in place
        import numpy as np  # noqa: PLC0415

        pal = np.zeros((256, 3), np.uint8)
        pal[: len(ct) // 3] = np.frombuffer(ct[: len(ct) // 3 * 3], np.uint8).reshape(-1, 3)
        vis_h, vis_w = min(fh, sh - fy), min(fw, sw - fx)
        sub = np.frombuffer(bytes(idx[: fw * fh]), np.uint8).reshape(fh, fw)[
            :vis_h, :vis_w
        ]
        canvas_np = np.frombuffer(canvas, np.uint8).reshape(sh, sw, 3)
        region = canvas_np[fy : fy + vis_h, fx : fx + vis_w]
        rgb = pal[sub]
        if transparent is None:
            region[:] = rgb
        else:
            m = sub != transparent
            region[m] = rgb[m]
        frames.append((sw, sh, bytearray(canvas)))
        if max_frames is not None and len(frames) >= max_frames:
            return frames
        # post-frame disposal shapes the NEXT frame's base
        if disposal == 2:  # restore frame rect to background
            region[:] = np.frombuffer(bg, np.uint8)
        elif disposal == 3 and snapshot is not None:
            canvas = snapshot
        transparent = None
        disposal = 0
    return frames if frames else None


def sample_gif_frames(
    blob: bytes, every_n: int
) -> list[tuple[int, tuple[int, int, bytearray]]] | None:
    """Every-Nth composited GIF frame with its index — the same
    training-data decimation operator as video.sample_frames."""
    frames = extract_gif_frames(blob)
    if frames is None:
        return None
    return [(i, f) for i, f in enumerate(frames) if i % every_n == 0]


def _palettize(w: int, h: int, rgb: bytes) -> tuple[int, bytearray, bytearray]:
    """(table_size_bits, color table, index array); raises above GIF's
    own 256-distinct-color format limit."""
    colors: dict[bytes, int] = {}
    idx = bytearray()
    for p in range(w * h):
        c = rgb[3 * p : 3 * p + 3]
        k = colors.get(c)
        if k is None:
            k = len(colors)
            if k == 256:
                raise ValueError("GIF needs <=256 distinct colors per frame")
            colors[c] = k
        idx.append(k)
    n_bits = max(1, (len(colors) - 1).bit_length())
    ct = bytearray(3 * (1 << n_bits))
    for c, k in colors.items():
        ct[3 * k : 3 * k + 3] = c
    return n_bits, ct, idx


def _lzw_blocks(idx: bytes, min_code: int) -> bytes:
    lzw = _lzw_encode(idx, min_code)
    out = bytearray([min_code])
    for o in range(0, len(lzw), 255):
        chunk = lzw[o : o + 255]
        out.append(len(chunk))
        out += chunk
    out.append(0)
    return bytes(out)


def encode_gif_animation(
    w: int, h: int, frames_rgb: list[bytes], disposals: list[int] | None = None
) -> bytes:
    """Animated GIF89a writer: full-canvas frames, each with its OWN
    local color table (no shared-palette quantization needed) and a
    graphic-control extension carrying its disposal method — the
    fixture generator for :func:`extract_gif_frames`."""
    if not frames_rgb:
        raise ValueError("need at least one frame")
    disposals = disposals or [1] * len(frames_rgb)
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, 0, 0, 0)  # no global color table
    out += b"\x21\xff\x0bNETSCAPE2.0\x03\x01\x00\x00\x00"  # loop forever
    for rgb, disp in zip(frames_rgb, disposals):
        n_bits, ct, idx = _palettize(w, h, bytes(rgb))
        out += b"\x21\xf9\x04" + bytes([(disp & 7) << 2, 4, 0, 0, 0])  # GCE
        out += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0x80 | ((n_bits - 1) & 7))
        out += ct
        out += _lzw_blocks(bytes(idx), max(2, n_bits))
    out += b"\x3b"
    return bytes(out)


def encode_gif(w: int, h: int, rgb: bytes | bytearray) -> bytes:
    """Static GIF89a writer: palettizes the image (≤256 distinct colors
    required — raises otherwise; this is GIF's own format limit) and
    writes a real variable-width LZW stream."""
    px = bytes(rgb)
    n_bits, ct, idx = _palettize(w, h, px)
    table_n = 1 << n_bits
    min_code = max(2, n_bits)
    lzw = _lzw_encode(bytes(idx), min_code)
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, 0x80 | ((n_bits - 1) & 7), 0, 0)
    out += ct
    out += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0)
    out.append(min_code)
    for o in range(0, len(lzw), 255):
        chunk = lzw[o : o + 255]
        out.append(len(chunk))
        out += chunk
    out += b"\x00\x3b"
    return bytes(out)


def crop_gif(
    blob: bytes,
    ymin: int,
    xmin: int,
    ymax: int,
    xmax: int,
    out_format: str = "png",
) -> bytes | None:
    """REAL pixel crop for GIF bytes: decode, clamped slice, lossless
    PNG re-encode by default (same contract and same
    ``out_format="jpeg"`` reference-parity opt-in as
    :func:`specialsid_spark.operators.jpeg.crop_jpeg`)."""
    from specialsid_spark.operators.multimodal import _crop_decoded

    return _crop_decoded(decode_gif(blob), ymin, xmin, ymax, xmax, out_format)
