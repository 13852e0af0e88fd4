"""Baseline JPEG codec, stdlib + numpy only (SURVEY.md §2.4 D1/D3, §2.11 X3).

The reference pipeline is JPEG end-to-end: gen_pdf_imgLambda.py:53-60
rasterizes PDF pages to JPEG and pnp-cropperLambda.py:96-98 crops those
JPEGs with PIL.  This container has no PIL/cv2/ffmpeg, so the crop path
for JPEG payloads was a byte-slice stub through round 3.  This module
closes that gap with a from-scratch implementation of the baseline
sequential DCT process (ITU-T T.81):

* :func:`decode_jpeg` — marker parse (DQT/SOF0/SOF1/DHT/DRI/SOS),
  canonical-Huffman entropy decode with byte-unstuffing and restart
  markers, dequantize, de-zigzag, 8×8 IDCT (numpy matrix form), chroma
  upsampling for 4:4:4 / 4:2:2 / 4:2:0, YCbCr→RGB.
* :func:`encode_jpeg` — the forward path (FDCT, quality-scaled Annex K
  quantization tables, Annex K standard Huffman tables, 4:4:4 / 4:2:2 /
  4:2:0 or grayscale / CMYK), emitting a well-formed JFIF stream that
  this decoder and any standard decoder can read.  Its entropy coder
  (:func:`_emit_scan`) is one numpy pass over all blocks: per-block
  tokens (DC difference; each nonzero AC with its ZRL prefix folded
  in; EOB), expanded to bits, padded per restart interval, packed and
  byte-stuffed.  Contract: its output is byte-identical to the serial
  per-bit ``_BitWriter``/``_encode_block`` emission, which the
  progressive encoder and operators/jpeg12.py still use
  (tests/test_jpeg_emitter.py rebuilds it as the referee).
* :func:`crop_jpeg` — decode → pixel-space bbox slice (clamped, the
  P5/F7 validity discipline) → re-encode.

Round 4 closed the baseline gap; this round's extension decodes
PROGRESSIVE JPEG too (SOF2 — spectral selection AND successive
approximation, per-scan coefficient accumulation, EOB runs,
refinement correction bits, T.81 G.2), which is how a large share of
real-world web JPEGs are written.  :func:`encode_jpeg_progressive`
emits a multi-scan progressive stream (DC SA + per-component AC bands
with one refinement pass) so the decoder's progressive paths are
exercised by real streams.  A truncated progressive payload decodes
to whatever scans arrived — progressive's defining property.

Round 9 wave 2 adds the PRINT-STOCK color paths real flyer PDFs ship:
4-component Adobe CMYK (APP14 transform 0, inverted Photoshop
convention) and YCCK (transform 2), plus bare non-inverted CMYK when
the Adobe marker is absent — decoded to 3-channel RGB via
rgb = (255-ink) * (255-K) / 255; :func:`encode_jpeg` emits both
variants (ch=4 + ``adobe_transform``) so the decoder's CMYK paths are
exercised by real streams.

Scope (documented, test-pinned): still no arithmetic coding or 12-bit
color (12-bit GRAYSCALE has its own decoder in operators/jpeg12.py).
Unsupported streams return None and callers fall back to the
byte-slice stub, so the operator degrades loudly-documented rather
than wrongly.

Determinism: the decoder is pure integer/float math with fixed
rounding; encode(decode(x)) is bit-stable across runs, which is what
the oracle hashing needs.
"""

from __future__ import annotations

import functools
import struct

import numpy as np

# Zigzag scan order: index i of the scan holds coefficient (row, col).
_ZZ = np.array(
    [
        0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
    ],
    dtype=np.int64,
)

# Annex K.1/K.2 reference quantization tables (in zigzag order here they
# would be scrambled — these are in natural row-major order).
_QT_LUMA = np.array(
    [
        16, 11, 10, 16, 24, 40, 51, 61,
        12, 12, 14, 19, 26, 58, 60, 55,
        14, 13, 16, 24, 40, 57, 69, 56,
        14, 17, 22, 29, 51, 87, 80, 62,
        18, 22, 37, 56, 68, 109, 103, 77,
        24, 35, 55, 64, 81, 104, 113, 92,
        49, 64, 78, 87, 103, 121, 120, 101,
        72, 92, 95, 98, 112, 100, 103, 99,
    ],
    dtype=np.float64,
)
_QT_CHROMA = np.array(
    [
        17, 18, 24, 47, 99, 99, 99, 99,
        18, 21, 26, 66, 99, 99, 99, 99,
        24, 26, 56, 99, 99, 99, 99, 99,
        47, 66, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
    ],
    dtype=np.float64,
)

# Annex K.3 standard Huffman tables: (BITS counts per code length 1..16,
# HUFFVAL symbol list).
_DC_LUMA = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(12)),
)
_DC_CHROMA = (
    [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
    list(range(12)),
)
_AC_LUMA = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41, 0x06,
        0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
        0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24, 0x33, 0x62, 0x72,
        0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
        0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44, 0x45,
        0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
        0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75,
        0x76, 0x77, 0x78, 0x79, 0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
        0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
        0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
        0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
        0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
        0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2, 0xF3, 0xF4,
        0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)
_AC_CHROMA = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12, 0x41,
        0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
        0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15, 0x62, 0x72, 0xD1,
        0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
        0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44,
        0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
        0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74,
        0x75, 0x76, 0x77, 0x78, 0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
        0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A,
        0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
        0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
        0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
        0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2, 0xF3, 0xF4,
        0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)

# 8-point DCT-II basis: _C[u, x] = c(u)/2 * cos((2x+1)uπ/16); spatial =
# _C.T @ coeff @ _C, coeff = _C @ spatial @ _C.T.
_C = np.zeros((8, 8))
for _u in range(8):
    for _x in range(8):
        _cu = (1.0 / np.sqrt(2.0)) if _u == 0 else 1.0
        _C[_u, _x] = 0.5 * _cu * np.cos((2 * _x + 1) * _u * np.pi / 16.0)


# ---------------------------------------------------------------- decode


class _HuffTable:
    """Canonical Huffman decoder per T.81 F.2.2.3 (MINCODE/MAXCODE/VALPTR)."""

    def __init__(self, bits: list[int], vals: list[int]) -> None:
        self.key = (tuple(bits), tuple(vals))
        code = 0
        k = 0
        self.mincode = [0] * 17
        self.maxcode = [-1] * 17
        self.valptr = [0] * 17
        self.vals = vals
        for ln in range(1, 17):
            if bits[ln - 1]:
                self.valptr[ln] = k
                self.mincode[ln] = code
                code += bits[ln - 1]
                k += bits[ln - 1]
                self.maxcode[ln] = code - 1
            code <<= 1


def _extend(v: int, t: int) -> int:
    """T.81 F.2.2.1: map t-bit magnitude to signed coefficient."""
    if t == 0:
        return 0
    return v if v >= (1 << (t - 1)) else v - (1 << t) + 1


def decode_jpeg(blob: bytes) -> tuple[int, int, int, bytes] | None:
    """Decode baseline-sequential JFIF bytes to raw pixels.

    Returns ``(width, height, channels, pixels)`` with pixels row-major
    interleaved (channels 1=gray or 3=RGB), or None for payloads this
    decoder does not support (not a JPEG, arithmetic-coded; 12-bit
    grayscale has its own decoder in operators/jpeg12.py).
    Baseline/extended sequential (SOF0/SOF1) AND progressive (SOF2,
    spectral selection + successive approximation, r4) are supported.
    """
    if len(blob) < 4 or blob[:2] != b"\xff\xd8":
        return None
    qts: dict[int, np.ndarray] = {}
    dc_tabs: dict[int, _HuffTable] = {}
    ac_tabs: dict[int, _HuffTable] = {}
    comps: list[dict] = []
    w = h = 0
    restart = 0
    adobe = None  # APP14 Adobe transform flag (0=CMYK/RGB, 2=YCCK)
    progressive = False
    coefs: list[np.ndarray] | None = None  # progressive coefficient state
    scans_done = 0
    i = 2
    n = len(blob)
    try:
        while i + 4 <= n:
            if blob[i] != 0xFF:
                i += 1
                continue
            m = blob[i + 1]
            if m in (0xFF, 0x01) or 0xD0 <= m <= 0xD8:
                i += 2
                continue
            if m == 0xD9:  # EOI
                if progressive and coefs is not None:
                    return _reconstruct(w, h, comps, qts, coefs, adobe)
                return None
            ln = struct.unpack(">H", blob[i + 2 : i + 4])[0]
            seg = blob[i + 4 : i + 2 + ln]
            if m == 0xDB:  # DQT
                j = 0
                while j < len(seg):
                    pq, tq = seg[j] >> 4, seg[j] & 0xF
                    j += 1
                    if pq:
                        tab = np.frombuffer(seg[j : j + 128], dtype=">u2").astype(np.float64)
                        j += 128
                    else:
                        tab = np.frombuffer(seg[j : j + 64], dtype=np.uint8).astype(np.float64)
                        j += 64
                    qt = np.zeros(64)
                    qt[_ZZ] = tab  # stored in zigzag order
                    qts[tq] = qt.reshape(8, 8)
            elif m in (0xC0, 0xC1, 0xC2):  # SOF0/SOF1 sequential, SOF2 progressive
                progressive = m == 0xC2
                _prec, h, w, nc = seg[0], *struct.unpack(">HH", seg[1:5]), seg[5]
                if _prec != 8:
                    return None
                for c in range(nc):
                    cid, hv, tq = seg[6 + 3 * c : 9 + 3 * c]
                    if not (hv >> 4) or not (hv & 0xF):
                        return None  # zero sampling factor: corrupt SOF
                    comps.append({"id": cid, "h": hv >> 4, "v": hv & 0xF, "tq": tq})
            elif m in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
                return None  # lossless / arithmetic / differential: unsupported
            elif m == 0xC4:  # DHT
                j = 0
                while j < len(seg):
                    tc, th = seg[j] >> 4, seg[j] & 0xF
                    bits = list(seg[j + 1 : j + 17])
                    nv = sum(bits)
                    vals = list(seg[j + 17 : j + 17 + nv])
                    (ac_tabs if tc else dc_tabs)[th] = _HuffTable(bits, vals)
                    j += 17 + nv
            elif m == 0xDD:  # DRI
                restart = struct.unpack(">H", seg[:2])[0]
            elif m == 0xEE and seg[:5] == b"Adobe" and len(seg) >= 12:
                adobe = seg[11]
            elif m == 0xDA:  # SOS — entropy data follows
                ns = seg[0]
                smap = {}
                scan = []
                for c in range(ns):
                    cid, tabs = seg[1 + 2 * c], seg[2 + 2 * c]
                    smap[cid] = (tabs >> 4, tabs & 0xF)
                    ci = next(
                        (j for j, cc in enumerate(comps) if cc["id"] == cid), None
                    )
                    if ci is None:
                        return None  # SOS references a component SOF never declared
                    scan.append((ci, tabs >> 4, tabs & 0xF))
                if not progressive:
                    for comp in comps:
                        comp["dc"], comp["ac"] = smap[comp["id"]]
                    return _decode_scan(
                        blob, i + 2 + ln, w, h, comps, qts, dc_tabs, ac_tabs,
                        restart, adobe,
                    )
                ss, se, ahal = seg[1 + 2 * ns], seg[2 + 2 * ns], seg[3 + 2 * ns]
                if coefs is None:
                    coefs = _alloc_coefs(w, h, comps)
                try:
                    i = _decode_progressive_sos(
                        blob, i + 2 + ln, w, h, comps, coefs, scan,
                        ss, se, ahal >> 4, ahal & 0xF, restart, dc_tabs, ac_tabs,
                    )
                except (ValueError, IndexError, KeyError):
                    # A truncated/damaged scan after >=1 complete one:
                    # render what arrived (progressive's whole point).
                    if scans_done:
                        return _reconstruct(w, h, comps, qts, coefs, adobe)
                    return None
                scans_done += 1
                continue
            i += 2 + ln
    except (ValueError, IndexError, struct.error, KeyError, StopIteration, ZeroDivisionError):
        return None
    # Truncated progressive stream (no EOI): reconstruct what arrived —
    # progressive's defining property is that every prefix is an image.
    if progressive and coefs is not None:
        try:
            return _reconstruct(w, h, comps, qts, coefs, adobe)
        except (ValueError, IndexError, KeyError):
            return None
    return None


def _mcu_geom(w: int, h: int, comps: list[dict]) -> tuple[int, int, int, int]:
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    return hmax, vmax, mcux, mcuy


def _alloc_coefs(w: int, h: int, comps: list[dict]) -> list[np.ndarray]:
    """Per-component DCT coefficient planes [block_rows, block_cols, 64]
    (zigzag index order), MCU-padded — the accumulation state that
    progressive scans fill in over multiple passes."""
    _hmax, _vmax, mcux, mcuy = _mcu_geom(w, h, comps)
    return [
        np.zeros((mcuy * c["v"], mcux * c["h"], 64), dtype=np.int32) for c in comps
    ]


def _comp_block_dims(w: int, h: int, comps: list[dict], ci: int) -> tuple[int, int]:
    """TRUE (unpadded) block grid of one component — the region a
    non-interleaved progressive scan covers (T.81 A.2.2)."""
    hmax, vmax, _mx, _my = _mcu_geom(w, h, comps)
    cw = (w * comps[ci]["h"] + hmax - 1) // hmax
    ch = (h * comps[ci]["v"] + vmax - 1) // vmax
    return (cw + 7) // 8, (ch + 7) // 8


def _decode_progressive_sos(
    blob, pos, w, h, comps, coefs, scan, ss, se, ah, al, restart, dc_tabs, ac_tabs
):
    """One progressive scan (T.81 G.2): DC or AC band, first pass or
    successive-approximation refinement.  Mutates `coefs`, returns the
    byte position where entropy data ended (the next marker search
    resumes there)."""
    br = _SegReader(blob, pos)
    hmax, vmax, mcux, mcuy = _mcu_geom(w, h, comps)

    def check_restart(unit: int, state_reset) -> None:
        if restart and unit and unit % restart == 0:
            br.advance_restart()
            state_reset()

    if ss == 0:  # DC scan
        if se != 0:
            raise ValueError("DC scan must have Se=0")
        pred = [0] * len(scan)

        def reset() -> None:
            pred[:] = [0] * len(scan)

        def dc_unit(si: int, ci: int, dct: int, row: int, col: int) -> None:
            if ah == 0:
                t = br.huff(dc_tabs[dct])
                diff = _extend(br.bits(t), t) if t else 0
                pred[si] += diff
                coefs[ci][row, col, 0] = pred[si] << al
            elif br.bits(1):
                coefs[ci][row, col, 0] |= 1 << al

        unit = 0
        if len(scan) == 1:
            # non-interleaved: raster over the true block grid
            ci, dct, _act = scan[0]
            bw, bh = _comp_block_dims(w, h, comps, ci)
            for row in range(bh):
                for col in range(bw):
                    check_restart(unit, reset)
                    dc_unit(0, ci, dct, row, col)
                    unit += 1
        else:
            for my in range(mcuy):
                for mx in range(mcux):
                    check_restart(unit, reset)
                    for si, (ci, dct, _act) in enumerate(scan):
                        c = comps[ci]
                        for by in range(c["v"]):
                            for bx in range(c["h"]):
                                dc_unit(si, ci, dct, my * c["v"] + by, mx * c["h"] + bx)
                    unit += 1
        return br.end

    # AC scan: exactly one component, non-interleaved (T.81 B.2.3)
    if len(scan) != 1:
        raise ValueError("progressive AC scan must be single-component")
    ci, _dct, act = scan[0]
    at = ac_tabs[act]
    bw, bh = _comp_block_dims(w, h, comps, ci)
    state = {"eobrun": 0}

    def reset_ac() -> None:
        state["eobrun"] = 0

    unit = 0
    for row in range(bh):
        for col in range(bw):
            check_restart(unit, reset_ac)
            unit += 1
            band = coefs[ci][row, col]
            if ah == 0:  # first pass for this band
                if state["eobrun"] > 0:
                    state["eobrun"] -= 1
                    continue
                k = ss
                while k <= se:
                    rs = br.huff(at)
                    r, s = rs >> 4, rs & 0xF
                    if s == 0:
                        if r < 15:
                            state["eobrun"] = (1 << r) - 1
                            if r:
                                state["eobrun"] += br.bits(r)
                            break
                        k += 16  # ZRL
                        continue
                    k += r
                    if k > se:
                        raise ValueError("AC index out of band")
                    band[k] = _extend(br.bits(s), s) << al
                    k += 1
            else:  # refinement pass (T.81 G.2, libjpeg structure)
                # this branch touches up to 63 coefficients per block;
                # operate on a plain list (numpy scalar indexing is
                # ~10× a list index) and write back once
                bl = band.tolist()
                p1, m1 = 1 << al, -1 << al
                k = ss
                if state["eobrun"] == 0:
                    while k <= se:
                        rs = br.huff(at)
                        r, s = rs >> 4, rs & 0xF
                        val = 0
                        if s == 0:
                            if r < 15:
                                state["eobrun"] = 1 << r
                                if r:
                                    state["eobrun"] += br.bits(r)
                                break
                            # r == 15: pass over 16 zero-history coeffs
                        else:
                            if s != 1:
                                raise ValueError("bad refinement magnitude")
                            val = p1 if br.bits(1) else m1
                        while k <= se:
                            if bl[k] != 0:
                                if br.bits(1) and (bl[k] & p1) == 0:
                                    bl[k] += p1 if bl[k] > 0 else m1
                            else:
                                if r == 0:
                                    if s:
                                        bl[k] = val
                                    k += 1
                                    break
                                r -= 1
                            k += 1
                if state["eobrun"] > 0:
                    while k <= se:
                        if bl[k] != 0:
                            if br.bits(1) and (bl[k] & p1) == 0:
                                bl[k] += p1 if bl[k] > 0 else m1
                        k += 1
                    state["eobrun"] -= 1
                band[:] = bl
    return br.end


def _idct_blocks(zz_blocks: np.ndarray, qt: np.ndarray) -> np.ndarray:
    """Batched dequantize + de-zigzag + 2-D IDCT: (nb, 64) zigzag-order
    coefficient rows -> (nb, 8, 8) spatial blocks (+128 level shift).
    ONE broadcast matmul pair per component instead of one per block —
    the per-block numpy-call overhead dominated the old loop."""
    nat = np.zeros_like(zz_blocks, dtype=np.float64)
    nat[:, _ZZ] = zz_blocks
    nat = nat.reshape(-1, 8, 8) * qt[None]
    return _C.T @ nat @ _C + 128.0


def _reconstruct(w, h, comps, qts, coefs, adobe=None):
    """Coefficient planes -> pixels: batched dequantize/de-zigzag/IDCT
    per component, then the shared upsample/crop/color tail."""
    hmax, vmax, mcux, mcuy = _mcu_geom(w, h, comps)
    planes = []
    for ci, c in enumerate(comps):
        arr = coefs[ci]
        brows, bcols = arr.shape[0], arr.shape[1]
        spatial = _idct_blocks(arr.reshape(-1, 64).astype(np.float64), qts[c["tq"]])
        planes.append(
            spatial.reshape(brows, bcols, 8, 8)
            .transpose(0, 2, 1, 3)
            .reshape(brows * 8, bcols * 8)
        )
    return _finish(w, h, comps, planes, hmax, vmax, adobe)


def _finish(w, h, comps, planes, hmax, vmax, adobe=None):
    # Integer-replication upsampling is only defined when every
    # component's factor divides the max (4:4:4, 4:2:2, 4:2:0, 4:1:1 …).
    # Non-dividing combos (e.g. 3:2) need fractional resampling — out of
    # scope, and silently mis-shaping would corrupt pixels, so refuse
    # explicitly (ADVICE r4; decode_jpeg maps this to None).
    for c in comps:
        if hmax % c["h"] or vmax % c["v"]:
            raise ValueError("non-dividing sampling factors unsupported")
    full = []
    for ci, c in enumerate(comps):
        p = planes[ci]
        if c["h"] != hmax or c["v"] != vmax:
            p = np.repeat(np.repeat(p, vmax // c["v"], axis=0), hmax // c["h"], axis=1)
        full.append(p[:h, :w])
    if len(comps) == 1:
        out = np.clip(np.round(full[0]), 0, 255).astype(np.uint8)
        return w, h, 1, out.tobytes()
    if len(comps) == 4:
        # print-stock JPEGs (r9 wave 2): Adobe CMYK (APP14 transform 0,
        # stored INVERTED: s = 255 - ink, the Photoshop convention) or
        # YCCK (transform 2: YCC over the inverted CMY, K untouched);
        # a bare 4-component stream without the Adobe marker is plain
        # non-inverted CMYK.  Output is always 3-channel RGB:
        # rgb = s_channel * s_k / 255.
        if adobe == 2:
            y, cb, cr = full[0], full[1] - 128.0, full[2] - 128.0
            sc = y + 1.402 * cr
            sm = y - 0.344136 * cb - 0.714136 * cr
            sy = y + 1.772 * cb
            sk = full[3]
        elif adobe is not None:
            sc, sm, sy, sk = full
        else:
            sc, sm, sy, sk = (255.0 - p for p in full)
        r = sc * sk / 255.0
        g = sm * sk / 255.0
        b = sy * sk / 255.0
        rgb = np.clip(np.round(np.stack([r, g, b], axis=-1)), 0, 255).astype(
            np.uint8
        )
        return w, h, 3, rgb.tobytes()
    y, cb, cr = full[0], full[1] - 128.0, full[2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    rgb = np.clip(np.round(np.stack([r, g, b], axis=-1)), 0, 255).astype(np.uint8)
    return w, h, 3, rgb.tobytes()


def _lut_of(t: _HuffTable) -> tuple[int, ...]:
    """65536-entry peek-16 decode table for a Huffman table: entry =
    (symbol << 5) | code_length, 0 = invalid prefix.  ONE table lookup
    replaces the old bit-at-a-time MINCODE/MAXCODE walk (up to 16
    Python-level iterations per symbol) — the core of the r5 hot-loop
    vectorization.  Tables are shared by content (:func:`_lut_for`):
    every page from one encoder carries the same DHT tables, so the
    ~0.5 ms build is paid once per process, not once per image."""
    lut = getattr(t, "lut", None)
    if lut is None:
        lut = t.lut = _lut_for(t.key)
    return lut


@functools.lru_cache(maxsize=16)
def _lut_for(key: tuple[tuple[int, ...], tuple[int, ...]]) -> tuple[int, ...]:
    """The peek-16 LUT of a ``(bits, vals)`` table, built once per
    distinct table (16 tables ≈ 8 MB; the Annex K set is 4) and
    immutable, since every image with that table shares it."""
    t = _HuffTable(list(key[0]), list(key[1]))
    lut = [0] * 65536
    for ln in range(1, 17):
        if t.maxcode[ln] < t.mincode[ln] or t.maxcode[ln] < 0:
            continue
        span = 1 << (16 - ln)
        for code in range(t.mincode[ln], t.maxcode[ln] + 1):
            sym = t.vals[t.valptr[ln] + code - t.mincode[ln]]
            lut[code * span : (code + 1) * span] = [(sym << 5) | ln] * span
    return tuple(lut)


def _entropy_segments(blob: bytes, pos: int) -> tuple[list[bytes], int]:
    """Entropy-coded data from ``pos`` to the first non-RST marker,
    0xFF00-unstuffed and split at RSTn boundaries — one clean byte
    string per restart interval, so the hot loop needs no per-byte
    marker checks at all (bytes.find does the scanning at C speed).
    Also returns the byte offset where entropy data ended (the 0xFF of
    the terminating marker) so multi-scan callers can resume there."""
    segs: list[bytes] = []
    cur = bytearray()
    i = pos
    n = len(blob)
    end = n
    while True:
        j = blob.find(b"\xff", i)
        if j < 0:
            cur += blob[i:]
            break
        cur += blob[i:j]
        if j + 1 >= n:
            end = j
            break
        nxt = blob[j + 1]
        if nxt == 0x00:
            cur.append(0xFF)
            i = j + 2
        elif 0xD0 <= nxt <= 0xD7:
            segs.append(bytes(cur))
            cur = bytearray()
            i = j + 2
        else:
            end = j
            break  # real marker: entropy data ends
    segs.append(bytes(cur))
    return segs, end


class _SegReader:
    """Chunked-refill MSB-first bit reader over pre-unstuffed entropy
    segments — the progressive scans' counterpart of the inline fast
    path in :func:`_decode_scan` (same 32-bit refills, same peek-16 LUT
    Huffman).  ``advance_restart`` replaces align_to_marker: segments
    were already split at RSTn boundaries."""

    __slots__ = ("segs", "end", "si", "data", "p", "acc", "n")

    def __init__(self, blob: bytes, pos: int) -> None:
        self.segs, self.end = _entropy_segments(blob, pos)
        self.si = 0
        self.data = self.segs[0]
        self.p = 0
        self.acc = 0
        self.n = 0

    def _refill(self) -> None:
        # T.81: the final code may be completed with 1-bit padding
        self.acc = ((self.acc & ((1 << self.n) - 1)) << 32) | int.from_bytes(
            self.data[self.p : self.p + 4].ljust(4, b"\xff"), "big"
        )
        self.n += 32
        self.p += 4

    def bits(self, k: int) -> int:
        if self.n < k:
            self._refill()
        self.n -= k
        return (self.acc >> self.n) & ((1 << k) - 1)

    def huff(self, t: _HuffTable) -> int:
        if self.n < 16:
            self._refill()
        e = _lut_of(t)[(self.acc >> (self.n - 16)) & 0xFFFF]
        ln = e & 31
        if ln == 0:
            raise ValueError("bad huffman code")
        self.n -= ln
        return e >> 5

    def advance_restart(self) -> None:
        self.si += 1
        if self.si >= len(self.segs):
            raise ValueError("missing restart marker in progressive scan")
        self.data = self.segs[self.si]
        self.p = 0
        self.acc = 0
        self.n = 0


def _decode_scan(blob, pos, w, h, comps, qts, dc_tabs, ac_tabs, restart, adobe=None):
    """Baseline-sequential entropy decode, r5 fast path: peek-16 LUT
    Huffman (one lookup + one bit-count bookkeeping per symbol), 32-bit
    chunked refills from pre-unstuffed segments, coefficients gathered
    as plain lists and IDCT'd in ONE batched matmul per component.
    Semantics identical to the per-bit reference implementation (the
    pixel-exact oracle suite and hypothesis round-trips pin this)."""
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    total_mcus = mcux * mcuy
    nci = len(comps)

    segs, _end = _entropy_segments(blob, pos)
    per_seg = restart if restart else total_mcus
    need_segs = (total_mcus + per_seg - 1) // per_seg
    if len(segs) < need_segs:
        raise ValueError("missing restart marker")

    luts_dc = [_lut_of(dc_tabs[c["dc"]]) for c in comps]
    luts_ac = [_lut_of(ac_tabs[c["ac"]]) for c in comps]
    nblk = [(c["h"], c["v"]) for c in comps]
    zz_lists: list[list[list[int]]] = [[] for _ in comps]

    from_bytes = int.from_bytes  # local-name bindings: hot loop
    done = 0
    for si in range(need_segs):
        data = segs[si]
        acc = 0
        nbits = 0
        p = 0
        pred = [0] * nci
        for _mcu in range(min(per_seg, total_mcus - done)):
            for ci in range(nci):
                lut_d = luts_dc[ci]
                lut_a = luts_ac[ci]
                hh, vv = nblk[ci]
                zl = zz_lists[ci]
                for _b in range(hh * vv):
                    zz = [0] * 64
                    # ---- DC: one LUT hit + magnitude bits
                    if nbits < 16:
                        acc = ((acc & ((1 << nbits) - 1)) << 32) | from_bytes(
                            data[p : p + 4].ljust(4, b"\xff"), "big"
                        )
                        nbits += 32
                        p += 4
                    e = lut_d[(acc >> (nbits - 16)) & 0xFFFF]
                    ln = e & 31
                    if ln == 0:
                        raise ValueError("bad huffman code")
                    nbits -= ln
                    t = e >> 5
                    if t:
                        if nbits < t:
                            acc = ((acc & ((1 << nbits) - 1)) << 32) | from_bytes(
                                data[p : p + 4].ljust(4, b"\xff"), "big"
                            )
                            nbits += 32
                            p += 4
                        nbits -= t
                        v = (acc >> nbits) & ((1 << t) - 1)
                        pred[ci] += v if v >= (1 << (t - 1)) else v - (1 << t) + 1
                    zz[0] = pred[ci]
                    # ---- AC run-length loop
                    k = 1
                    while k < 64:
                        if nbits < 16:
                            acc = ((acc & ((1 << nbits) - 1)) << 32) | from_bytes(
                                data[p : p + 4].ljust(4, b"\xff"), "big"
                            )
                            nbits += 32
                            p += 4
                        e = lut_a[(acc >> (nbits - 16)) & 0xFFFF]
                        ln = e & 31
                        if ln == 0:
                            raise ValueError("bad huffman code")
                        nbits -= ln
                        rs = e >> 5
                        s = rs & 0xF
                        if s == 0:
                            if rs >> 4 == 15:
                                k += 16  # ZRL
                                continue
                            break  # EOB
                        k += rs >> 4
                        if k > 63:
                            raise ValueError("AC index out of range")
                        if nbits < s:
                            acc = ((acc & ((1 << nbits) - 1)) << 32) | from_bytes(
                                data[p : p + 4].ljust(4, b"\xff"), "big"
                            )
                            nbits += 32
                            p += 4
                        nbits -= s
                        v = (acc >> nbits) & ((1 << s) - 1)
                        zz[k] = v if v >= (1 << (s - 1)) else v - (1 << s) + 1
                        k += 1
                    zl.append(zz)
            done += 1

    # ---- assemble: batched IDCT per component, MCU order -> block grid
    planes = []
    for ci, c in enumerate(comps):
        hh, vv = nblk[ci]
        brows, bcols = mcuy * vv, mcux * hh
        spatial = _idct_blocks(np.array(zz_lists[ci], dtype=np.float64), qts[c["tq"]])
        # block sequence is nested (my, mx, by, bx); meshgrid 'ij' +
        # ravel reproduces exactly that order
        mg = np.meshgrid(
            np.arange(mcuy), np.arange(mcux), np.arange(vv), np.arange(hh), indexing="ij"
        )
        rows = (mg[0] * vv + mg[2]).ravel()
        cols = (mg[1] * hh + mg[3]).ravel()
        plane4 = np.zeros((brows, bcols, 8, 8))
        plane4[rows, cols] = spatial
        planes.append(plane4.transpose(0, 2, 1, 3).reshape(brows * 8, bcols * 8))
    return _finish(w, h, comps, planes, hmax, vmax, adobe)


# ---------------------------------------------------------------- encode


def _build_enc(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length) for canonical Huffman emission."""
    out: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            out[vals[k]] = (code, ln)
            code += 1
            k += 1
        code <<= 1
    return out


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def put(self, code: int, ln: int) -> None:
        self.acc = (self.acc << ln) | (code & ((1 << ln) - 1))
        self.n += ln
        while self.n >= 8:
            self.n -= 8
            b = (self.acc >> self.n) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)  # byte stuffing

    def flush(self) -> None:
        if self.n:
            pad = 8 - self.n
            self.put((1 << pad) - 1, pad)  # pad with 1-bits per T.81


def _mag(v: int) -> tuple[int, int]:
    """signed value -> (size category, magnitude bits)."""
    if v == 0:
        return 0, 0
    a = abs(v)
    t = a.bit_length()
    return t, (v if v > 0 else v + (1 << t) - 1)


def _scaled_qt(base: np.ndarray, quality: int) -> np.ndarray:
    quality = min(100, max(1, quality))
    s = 5000 // quality if quality < 50 else 200 - 2 * quality
    qt = np.floor((base * s + 50) / 100)
    return np.clip(qt, 1, 255)


def _fdct_blocks(padded: np.ndarray, qt: np.ndarray) -> np.ndarray:
    """Batched FDCT + quantize + zigzag for one MCU-padded, level-
    shifted plane: (bh·8, bw·8) -> int64 [bh, bw, 64] (zigzag order).
    ONE broadcast matmul pair per component (r5 — same fix as the
    decoder's _idct_blocks; the per-block `_C @ b @ _C.T` numpy-call
    overhead dominated encode)."""
    bh, bw = padded.shape[0] // 8, padded.shape[1] // 8
    blocks = padded.reshape(bh, 8, bw, 8).transpose(0, 2, 1, 3)
    q = np.round((_C @ blocks @ _C.T) / qt).astype(np.int64)
    return q.reshape(bh, bw, 64)[:, :, _ZZ]


def _encode_block(wtr, zz, enc_dc, enc_ac, pred_val):
    """Huffman-emit one block's quantized zigzag coefficients (a plain
    64-int list, e.g. a row of ``_fdct_blocks(...).tolist()``)."""
    t, mag = _mag(int(zz[0]) - pred_val)
    code, ln = enc_dc[t]
    wtr.put(code, ln)
    if t:
        wtr.put(mag, t)
    run = 0
    for k in range(1, 64):
        v = int(zz[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            c0, l0 = enc_ac[0xF0]  # ZRL
            wtr.put(c0, l0)
            run -= 16
        t, mag = _mag(v)
        code, ln = enc_ac[(run << 4) | t]
        wtr.put(code, ln)
        wtr.put(mag, t)
        run = 0
    if run:
        c0, l0 = enc_ac[0x00]  # EOB covers the trailing zero run
        wtr.put(c0, l0)
    return int(zz[0])


def _code_arrays(tab: tuple[list[int], list[int]]) -> tuple[np.ndarray, np.ndarray]:
    """(code, length) per symbol 0..255 of a canonical Huffman table as
    numpy lookup arrays; length 0 marks a symbol the table lacks."""
    code = np.zeros(256, np.uint64)
    length = np.zeros(256, np.uint64)
    for sym, (c, ln) in _build_enc(*tab).items():
        code[sym], length[sym] = c, ln
    return code, length


#: Annex K code lookups indexed [table, symbol], table 0 = luma, 1 = chroma.
_DC_CODE, _DC_LEN = (np.stack(a) for a in zip(_code_arrays(_DC_LUMA), _code_arrays(_DC_CHROMA)))
_AC_CODE, _AC_LEN = (np.stack(a) for a in zip(_code_arrays(_AC_LUMA), _code_arrays(_AC_CHROMA)))
#: z ZRL codes back to back, z = 0..3 (a zero run before a nonzero AC
#: coefficient is at most 62, so at most three ZRLs precede it).
_ZRL_REP = np.array(
    [[sum(int(_AC_CODE[t, 0xF0]) << (k * int(_AC_LEN[t, 0xF0])) for k in range(z)) for z in range(4)]
     for t in range(2)],
    dtype=np.uint64,
)

#: Blocks tokenized per step: bounds the working memory of the token arrays
#: (≤65 tokens a block, ~150 bytes a token) whatever the image size.
_EMIT_BLOCKS = 2048


def _block_tokens(blocks: np.ndarray, tab: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Huffman tokens of (n, 64) quantized zigzag blocks whose DC slot
    already holds the predictor difference; ``tab`` is each block's
    table (0 luma, 1 chroma).  Returns (block index, code bits as
    uint64, bit count) per token in stream order: the DC, one token per
    nonzero AC coefficient with its ZRL prefix folded in (≤59 bits),
    and an EOB when the block's last coefficient is zero."""
    mask = np.empty((len(blocks), 65), bool)
    np.not_equal(blocks, 0, out=mask[:, :64])
    mask[:, 0] = True
    np.equal(blocks[:, 63], 0, out=mask[:, 64])
    blk, pos = np.nonzero(mask)  # row-major: (block, position) order
    v = blocks[blk, np.minimum(pos, 63)]  # an EOB reads the zero at 63
    size = np.frexp(np.abs(v))[1].astype(np.uint64)
    mag = (v - (v < 0)).astype(np.uint64) & ((np.uint64(1) << size) - np.uint64(1))
    t = tab[blk]
    is_dc = pos == 0
    is_ac = ~is_dc & (pos < 64)
    run = (pos - np.concatenate(([0], pos[:-1])) - 1) * is_ac  # zeros since the last token
    sym = np.where(is_ac, ((run & 15) << 4) | size.astype(np.int64), 0)
    dc_sym = np.minimum(size, 255).astype(np.intp)
    hcode = np.where(is_dc, _DC_CODE[t, dc_sym], _AC_CODE[t, sym])
    hlen = np.where(is_dc, _DC_LEN[t, dc_sym], _AC_LEN[t, sym])
    if not hlen.all():
        raise ValueError("coefficient outside the baseline Huffman tables")
    zrl = run >> 4
    tail = hlen + size
    value = (_ZRL_REP[t, zrl] << tail) | (hcode << size) | mag
    nbits = zrl.astype(np.uint64) * _AC_LEN[t, 0xF0] + tail
    return blk, value, nbits.astype(np.int64)


def _emit_scan(coefs: list[np.ndarray], sfac: list[tuple[int, int]], restart_interval: int) -> bytes:
    """Entropy-code one interleaved baseline scan with numpy, byte-for-
    byte what the serial ``_BitWriter``/``_encode_block`` loop emits.

    ``coefs[ci]`` is component ci's quantized zigzag blocks, shape
    (mcuy·v, mcux·h, 64); ``sfac[ci]`` its (h, v) sampling factors.
    Blocks are gathered in MCU emission order (my, mx, component, by,
    bx) — the nest the decoder's meshgrid inverts — and each DC becomes
    the difference to the previous block of its component, reset at
    every restart interval.  :func:`_block_tokens` turns them into
    tokens, which expand to one byte per bit; each interval is padded
    to a byte with 1-bits, the bits are packed, and every 0xFF gets its
    stuffed 0x00 before the RSTn markers go in between intervals."""
    nc = len(coefs)
    mcuy = coefs[0].shape[0] // sfac[0][1]
    mcux = coefs[0].shape[1] // sfac[0][0]
    nmcu = mcuy * mcux
    if nmcu == 0:
        return b""  # a zero-width or zero-height image has no blocks
    parts, tabs = [], []
    for ci, ((sh, sv), c) in enumerate(zip(sfac, coefs)):
        nb = sh * sv
        blk = c.reshape(mcuy, sv, mcux, sh, 64).transpose(0, 2, 1, 3, 4).reshape(nmcu, nb, 64).copy()
        prev = np.concatenate(([0], blk[:, :, 0].ravel()[:-1])).reshape(nmcu, nb)
        if restart_interval:
            prev[::restart_interval, 0] = 0  # predictor reset per interval
        blk[:, :, 0] -= prev
        parts.append(blk)
        tabs += [0 if (ci == 0 or nc == 4) else 1] * nb
    bpm = len(tabs)  # blocks per MCU
    blocks = np.concatenate(parts, axis=1).reshape(nmcu * bpm, 64)
    tab = np.tile(np.array(tabs, np.intp), nmcu)

    seg_blocks = bpm * restart_interval if restart_interval else len(blocks)
    nseg = -(-len(blocks) // seg_blocks)
    seg_bits = np.zeros(nseg, np.int64)
    col = np.arange(64)
    bits = []
    for lo in range(0, len(blocks), _EMIT_BLOCKS):
        blk, value, nbits = _block_tokens(blocks[lo : lo + _EMIT_BLOCKS], tab[lo : lo + _EMIT_BLOCKS])
        seg_bits += np.bincount((lo + blk) // seg_blocks, weights=nbits, minlength=nseg).astype(np.int64)
        msb_first = np.unpackbits(value.astype(">u8").view(np.uint8)).reshape(-1, 64)
        bits.append(msb_first[col >= 64 - nbits[:, None]])
    pad = -seg_bits % 8
    packed = np.packbits(np.insert(np.concatenate(bits), np.repeat(np.cumsum(seg_bits), pad), 1))
    # a stuffed 0x00 after every 0xFF, then RSTn (n = k mod 8) after
    # interval k; at a shared offset the stuffing byte goes first
    ff = np.flatnonzero(packed == 0xFF) + 1
    starts = np.cumsum((seg_bits + pad) // 8)[:-1]
    rst = np.stack([np.full(nseg - 1, 0xFF), 0xD0 + np.arange(nseg - 1) % 8], axis=1).ravel()
    return np.insert(
        packed,
        np.concatenate([ff, np.repeat(starts, 2)]),
        np.concatenate([np.zeros(len(ff), np.uint8), rst.astype(np.uint8)]),
    ).tobytes()


def encode_jpeg(
    w: int,
    h: int,
    ch: int,
    pixels: bytes | bytearray,
    quality: int = 90,
    sampling: str = "444",
    restart_interval: int = 0,
    adobe_transform: int = 0,
) -> bytes:
    """Encode raw row-major pixels (1=gray, 3=RGB) as baseline JFIF with
    Annex K tables scaled by ``quality``.  ``sampling`` is ``"444"``,
    ``"422"`` (RGB only; chroma box-averaged 2×1) or ``"420"`` (RGB
    only; chroma box-averaged 2×2 — the dominant layout of real-world
    JPEGs) so the decoder's isotropic AND anisotropic upsampling paths
    get exercised by streams this encoder emits.  ``restart_interval``
    > 0 emits DRI + RSTn markers every that many MCUs.  Deterministic
    byte-for-byte for identical inputs.

    The scan is entropy-coded by :func:`_emit_scan` in numpy; its bytes
    are exactly those of the serial per-block ``_BitWriter`` emission
    (pinned by tests/test_jpeg_emitter.py), so streams from before and
    after the vectorization hash the same."""
    arr = np.frombuffer(bytes(pixels), dtype=np.uint8).reshape(h, w, ch).astype(np.float64)
    if ch == 3:
        r, g, b = arr[..., 0], arr[..., 1], arr[..., 2]
        planes = [
            0.299 * r + 0.587 * g + 0.114 * b,
            -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0,
            0.5 * r - 0.418688 * g - 0.081312 * b + 128.0,
        ]
    elif ch == 1:
        planes = [arr[..., 0]]
    elif ch == 4:
        # Adobe print-stock JPEG (r9 wave 2): input channels are CMYK
        # INK values; storage is the inverted Photoshop convention
        # (s = 255 - ink) under APP14 transform 0, or YCC over the
        # inverted CMY with K passthrough under transform 2 (YCCK).
        if adobe_transform not in (0, 2):
            raise ValueError("adobe_transform must be 0 (CMYK) or 2 (YCCK)")
        sc, sm, sy, sk = (255.0 - arr[..., j] for j in range(4))
        if adobe_transform == 2:
            planes = [
                0.299 * sc + 0.587 * sm + 0.114 * sy,
                -0.168736 * sc - 0.331264 * sm + 0.5 * sy + 128.0,
                0.5 * sc - 0.418688 * sm - 0.081312 * sy + 128.0,
                sk,
            ]
        else:
            planes = [sc, sm, sy, sk]
    else:
        raise ValueError("encode_jpeg supports 1, 3 (RGB) or 4 (CMYK) channels")
    if sampling not in ("444", "422", "420") or (sampling != "444" and ch != 3):
        raise ValueError("sampling must be '444', or '422'/'420' with 3 channels")

    qt_l = _scaled_qt(_QT_LUMA, quality).reshape(8, 8)
    qt_c = _scaled_qt(_QT_CHROMA, quality).reshape(8, 8)

    # Per-component sampling factors and planes (chroma pre-downsampled
    # for 4:2:0 by 2×2 box mean, matching the decoder's replication
    # upsample in expectation).
    if sampling == "420":
        sfac = [(2, 2), (1, 1), (1, 1)]
        cplanes = [planes[0]]
        for p in planes[1:]:
            ph2, pw2 = (h + 1) // 2, (w + 1) // 2
            pp = np.empty((ph2 * 2, pw2 * 2))
            pp[:h, :w] = p
            pp[h:, :w] = p[h - 1 : h, :]
            pp[:, w:] = pp[:, w - 1 : w]
            cplanes.append((pp[0::2, 0::2] + pp[1::2, 0::2] + pp[0::2, 1::2] + pp[1::2, 1::2]) / 4.0)
    elif sampling == "422":
        # chroma halved horizontally only (2×1 box mean) — exercises the
        # decoder's anisotropic upsample path (ADVICE r4: previously no
        # in-repo encoder emitted 4:2:2)
        sfac = [(2, 1), (1, 1), (1, 1)]
        cplanes = [planes[0]]
        for p in planes[1:]:
            pw2 = (w + 1) // 2
            pp = np.empty((h, pw2 * 2))
            pp[:, :w] = p
            pp[:, w:] = pp[:, w - 1 : w]
            cplanes.append((pp[:, 0::2] + pp[:, 1::2]) / 2.0)
    else:
        sfac = [(1, 1)] * ch
        cplanes = planes

    hmax = max(s[0] for s in sfac)
    vmax = max(s[1] for s in sfac)
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    # Edge-replicate pad each plane to its MCU-aligned size, pre-shifted.
    padded = []
    for (sh, sv), p in zip(sfac, cplanes):
        tw, th = mcux * 8 * sh, mcuy * 8 * sv
        ph0, pw0 = p.shape
        pp = np.empty((th, tw))
        pp[:ph0, :pw0] = p
        pp[ph0:, :pw0] = p[ph0 - 1 : ph0, :]
        pp[:, pw0:] = pp[:, pw0 - 1 : pw0]
        padded.append(pp - 128.0)

    coefs = [
        _fdct_blocks(pp, qt_l if (ci == 0 or len(padded) == 4) else qt_c)
        for ci, pp in enumerate(padded)
    ]
    scan = _emit_scan(coefs, sfac, restart_interval)

    def seg(marker: int, payload: bytes) -> bytes:
        return bytes([0xFF, marker]) + struct.pack(">H", len(payload) + 2) + payload

    def dqt(tid: int, qt: np.ndarray) -> bytes:
        return seg(0xDB, bytes([tid]) + bytes(int(v) for v in qt.reshape(-1)[_ZZ]))

    def dht(tc: int, th: int, tab: tuple[list[int], list[int]]) -> bytes:
        bits, vals = tab
        return seg(0xC4, bytes([(tc << 4) | th]) + bytes(bits) + bytes(vals))

    nc = len(cplanes)
    sof = bytes([8]) + struct.pack(">HH", h, w) + bytes([nc])
    sos = bytes([nc])
    for ci in range(nc):
        tsel = 0 if (ci == 0 or nc == 4) else 1
        sh, sv = sfac[ci]
        sof += bytes([ci + 1, (sh << 4) | sv, tsel])
        sos += bytes([ci + 1, (tsel << 4) | tsel])
    sos += bytes([0, 63, 0])  # full spectral selection, no approx

    out = bytearray(b"\xff\xd8")
    out += seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    if nc == 4:
        out += seg(0xEE, b"Adobe" + bytes([0, 100, 0, 0, 0, 0, adobe_transform]))
    out += dqt(0, qt_l)
    if nc == 3:
        out += dqt(1, qt_c)
    out += seg(0xC0, sof)
    out += dht(0, 0, _DC_LUMA) + dht(1, 0, _AC_LUMA)
    if nc == 3:
        out += dht(0, 1, _DC_CHROMA) + dht(1, 1, _AC_CHROMA)
    if restart_interval:
        out += seg(0xDD, struct.pack(">H", restart_interval))
    out += seg(0xDA, sos)
    out += scan
    out += b"\xff\xd9"
    return bytes(out)


def crop_jpeg(
    blob: bytes,
    ymin: int,
    xmin: int,
    ymax: int,
    xmax: int,
    out_format: str = "png",
) -> bytes | None:
    """REAL pixel crop for baseline JPEG bytes (ref
    pnp-cropperLambda.py:96-98 ``img.crop((xmin, ymin, xmax, ymax))``):
    :func:`decode_jpeg`, then the shared clamp/slice/re-encode step
    (operators/multimodal.py ``_crop_decoded``).

    PUBLIC CONTRACT — output byte format: the DEFAULT is PNG (lossless;
    re-JPEG-ing a crop would add a second generation loss the
    reference's PIL path does not).  This deliberately deviates from
    the reference, which saves crops as JPEG quality 90
    (pnp-cropperLambda.py:96-98 ``format='JPEG', quality=90`` into
    ``*.jpg`` keys).  Consumers that need byte-format parity with the
    reference pass ``out_format="jpeg"`` to get a quality-90 baseline
    JPEG instead.  Returns None when the payload is not a decodable
    JPEG or the clamped box is empty."""
    from specialsid_spark.operators.multimodal import _crop_decoded

    return _crop_decoded(decode_jpeg(blob), ymin, xmin, ymax, xmax, out_format)


def _quantized_coefs(w, h, ch, pixels, quality):
    """Per-component quantized zigzag coefficient arrays [bh, bw, 64]
    (4:4:4 / grayscale) plus the two quant tables — shared by the
    progressive encoder."""
    arr = np.frombuffer(bytes(pixels), dtype=np.uint8).reshape(h, w, ch).astype(np.float64)
    if ch == 3:
        r, g, b = arr[..., 0], arr[..., 1], arr[..., 2]
        planes = [
            0.299 * r + 0.587 * g + 0.114 * b,
            -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0,
            0.5 * r - 0.418688 * g - 0.081312 * b + 128.0,
        ]
    elif ch == 1:
        planes = [arr[..., 0]]
    else:
        raise ValueError("1 (gray) or 3 (RGB) channels")
    qt_l = _scaled_qt(_QT_LUMA, quality).reshape(8, 8)
    qt_c = _scaled_qt(_QT_CHROMA, quality).reshape(8, 8)
    bw, bh = (w + 7) // 8, (h + 7) // 8
    out = []
    for ci, p in enumerate(planes):
        qt = qt_l if ci == 0 else qt_c
        pp = np.empty((bh * 8, bw * 8))
        pp[:h, :w] = p
        pp[h:, :w] = p[h - 1 : h, :]
        pp[:, w:] = pp[:, w - 1 : w]
        pp -= 128.0
        out.append(_fdct_blocks(pp, qt).astype(np.int32))
    return out, qt_l, qt_c


#: Flat AC Huffman table for progressive scans: the Annex K sequential
#: tables lack the EOBn run symbols (0x10..0xE0) progressive emits, so
#: the progressive encoder ships its own — 254 symbols at 8 bits + 2 at
#: 9 (Kraft-complete minus the forbidden all-ones code, T.81 C.2).
_AC_FLAT = ([0, 0, 0, 0, 0, 0, 0, 254, 2, 0, 0, 0, 0, 0, 0, 0], list(range(256)))


def encode_jpeg_progressive(
    w: int, h: int, ch: int, pixels: bytes | bytearray, quality: int = 90
) -> bytes:
    """Progressive JFIF encoder (SOF2), 4:4:4 / grayscale: DC first
    pass at Al=1 + DC refinement, then per-component AC bands 1-5 and
    6-63 at Al=1 with one refinement pass each — exercising spectral
    selection, EOB runs, ZRL, and both successive-approximation
    refinement paths (T.81 G.1.2).  Decodable by this module's decoder
    and any standard viewer."""
    coefs, qt_l, qt_c = _quantized_coefs(w, h, ch, pixels, quality)
    nc = len(coefs)
    bh, bw = coefs[0].shape[0], coefs[0].shape[1]
    enc_dc = [_build_enc(*_DC_LUMA), _build_enc(*_DC_CHROMA)]
    enc_ac = [_build_enc(*_AC_FLAT), _build_enc(*_AC_FLAT)]

    def seg(marker: int, payload: bytes) -> bytes:
        return bytes([0xFF, marker]) + struct.pack(">H", len(payload) + 2) + payload

    def dqt(tid: int, qt: np.ndarray) -> bytes:
        return seg(0xDB, bytes([tid]) + bytes(int(v) for v in qt.reshape(-1)[_ZZ]))

    def dht(tc: int, th: int, tab) -> bytes:
        bits, vals = tab
        return seg(0xC4, bytes([(tc << 4) | th]) + bytes(bits) + bytes(vals))

    out = bytearray(b"\xff\xd8")
    out += seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += dqt(0, qt_l)
    if nc == 3:
        out += dqt(1, qt_c)
    sof = bytes([8]) + struct.pack(">HH", h, w) + bytes([nc])
    for ci in range(nc):
        sof += bytes([ci + 1, 0x11, 0 if ci == 0 else 1])
    out += seg(0xC2, sof)
    out += dht(0, 0, _DC_LUMA) + dht(1, 0, _AC_FLAT)
    if nc == 3:
        out += dht(0, 1, _DC_CHROMA) + dht(1, 1, _AC_FLAT)

    def sos_header(comp_ids: list[int], ss: int, se: int, ah: int, al: int) -> bytes:
        pay = bytes([len(comp_ids)])
        for cid in comp_ids:
            tsel = 0 if cid == 1 else 1
            pay += bytes([cid, (tsel << 4) | tsel])
        return seg(0xDA, pay + bytes([ss, se, (ah << 4) | al]))

    def pt_ac(v: int, al: int) -> int:  # AC point transform: toward zero
        return -((-v) >> al) if v < 0 else v >> al

    # ---- DC first pass (interleaved, Al=1) and refinement (Al=0)
    out += sos_header(list(range(1, nc + 1)), 0, 0, 0, 1)
    wtr = _BitWriter()
    pred = [0] * nc
    for by in range(bh):
        for bx in range(bw):
            for ci in range(nc):
                tsel = 0 if ci == 0 else 1
                v = int(coefs[ci][by, bx, 0]) >> 1  # DC point transform: floor
                t, mag = _mag(v - pred[ci])
                pred[ci] = v
                code, ln = enc_dc[tsel][t]
                wtr.put(code, ln)
                if t:
                    wtr.put(mag, t)
    wtr.flush()
    out += wtr.out

    # ---- AC scans per component: two bands, first pass at Al=1
    bands = [(1, 5), (6, 63)]
    for ci in range(nc):
        tsel = 0 if ci == 0 else 1
        for ss, se in bands:
            out += sos_header([ci + 1], ss, se, 0, 1)
            wtr = _BitWriter()
            eobrun = 0

            def do_flush():
                nonlocal eobrun
                if eobrun:
                    r = eobrun.bit_length() - 1
                    code, ln = enc_ac[tsel][r << 4]
                    wtr.put(code, ln)
                    if r:
                        wtr.put(eobrun - (1 << r), r)
                    eobrun = 0

            for by in range(bh):
                for bx in range(bw):
                    band = [pt_ac(int(v), 1) for v in coefs[ci][by, bx, ss : se + 1]]
                    kend = -1
                    for idx, v in enumerate(band):
                        if v:
                            kend = idx
                    if kend < 0:
                        eobrun += 1
                        if eobrun == 0x7FFF:
                            do_flush()
                        continue
                    do_flush()
                    r = 0
                    for idx in range(kend + 1):
                        v = band[idx]
                        if v == 0:
                            r += 1
                            continue
                        while r > 15:
                            code, ln = enc_ac[tsel][0xF0]
                            wtr.put(code, ln)
                            r -= 16
                        t, mag = _mag(v)
                        code, ln = enc_ac[tsel][(r << 4) | t]
                        wtr.put(code, ln)
                        wtr.put(mag, t)
                        r = 0
                    if kend < se - ss:
                        eobrun += 1
                        if eobrun == 0x7FFF:
                            do_flush()
            do_flush()
            wtr.flush()
            out += wtr.out

    # ---- DC refinement (interleaved, Ah=1, Al=0): one raw bit per block
    out += sos_header(list(range(1, nc + 1)), 0, 0, 1, 0)
    wtr = _BitWriter()
    for by in range(bh):
        for bx in range(bw):
            for ci in range(nc):
                wtr.put(int(coefs[ci][by, bx, 0]) & 1, 1)
    wtr.flush()
    out += wtr.out

    # ---- AC refinement per component/band (Ah=1, Al=0)
    for ci in range(nc):
        tsel = 0 if ci == 0 else 1
        for ss, se in bands:
            out += sos_header([ci + 1], ss, se, 1, 0)
            wtr = _BitWriter()
            eobrun = 0
            eob_br: list[int] = []

            def do_flush_r():
                nonlocal eobrun
                if eobrun:
                    r = eobrun.bit_length() - 1
                    code, ln = enc_ac[tsel][r << 4]
                    wtr.put(code, ln)
                    if r:
                        wtr.put(eobrun - (1 << r), r)
                    for bit in eob_br:
                        wtr.put(bit, 1)
                    eob_br.clear()
                    eobrun = 0

            for by in range(bh):
                for bx in range(bw):
                    vals = [int(v) for v in coefs[ci][by, bx, ss : se + 1]]
                    ab = [abs(v) for v in vals]  # Al=0: |v| >> 0
                    # last newly-significant index: ZRLs beyond it must
                    # fold into the EOB run, not be emitted (libjpeg's
                    # `k <= EOB` guard) — the decoder reads no codes
                    # for this block after the final inserted value
                    eob_idx = -1
                    for idx, t in enumerate(ab):
                        if t == 1:
                            eob_idx = idx
                    r = 0
                    br_bits: list[int] = []
                    for idx, t in enumerate(ab):
                        if t == 0:
                            r += 1
                            continue
                        # drain pending ZRLs at EVERY nonzero coeff (a
                        # history coeff's correction bit must ride the
                        # code whose 16-zero walk passes it)
                        while r > 15 and idx <= eob_idx:
                            do_flush_r()
                            code, ln = enc_ac[tsel][0xF0]
                            wtr.put(code, ln)
                            for bit in br_bits:
                                wtr.put(bit, 1)
                            br_bits = []
                            r -= 16
                        if t > 1:  # already significant: defer its bit
                            br_bits.append(t & 1)
                            continue
                        do_flush_r()
                        code, ln = enc_ac[tsel][(r << 4) | 1]
                        wtr.put(code, ln)
                        wtr.put(1 if vals[idx] > 0 else 0, 1)
                        for bit in br_bits:
                            wtr.put(bit, 1)
                        br_bits = []
                        r = 0
                    if r > 0 or br_bits:
                        eobrun += 1
                        eob_br.extend(br_bits)
                        if eobrun == 0x7FFF:
                            do_flush_r()
            do_flush_r()
            wtr.flush()
            out += wtr.out

    out += b"\xff\xd9"
    return bytes(out)
