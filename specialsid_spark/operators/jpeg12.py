"""12-bit grayscale JPEG (extended sequential, SOF1) — closing the
"12-bit JPEG" degrade documented in operators/jpeg.py (decode_jpeg
returns None for precision != 8).  The corpus case is scientific /
medical imagery (DICOM transfer syntaxes carry 12-bit JPEG), where a
training-data lake must at least decode sample values.

Scope and reuse: grayscale only (the DICOM layout), one component,
sequential Huffman.  The entropy machinery is shared with the 8-bit
codec (operators/jpeg.py: _SegReader chunked-refill bit reader over
pre-unstuffed restart segments, canonical table builders, zigzag and
DCT bases); what changes is parameterization — 2048 level shift, 0..4095
clamp, 16-bit DQT (Pq=1), and WIDER Huffman alphabets: DC categories
0..15 and AC sizes 1..14 exceed the 8-bit Annex K tables, so the
encoder emits its own canonical tables (16 DC symbols at length 5; 226
AC symbols at length 8 — fixed-length canonical codes are valid Huffman
tables, deliberately simple rather than optimal, and every decoder
reads them from the DHT segment).  The quantizer floors at 2 so
quantized magnitudes stay inside the 12-bit category ranges
(|coef| <= 16384/2 = 8192 -> AC size <= 14, DC diff category <= 15).

Output contract: decode_jpeg12 returns (width, height, samples) with
samples a little-endian uint16 buffer, values 0..4095.
"""

from __future__ import annotations

import struct

import numpy as np

from specialsid_spark.operators.jpeg import (
    _ZZ,
    _C,
    _BitWriter,
    _HuffTable,
    _SegReader,
    _build_enc,
    _encode_block,
    _extend,
    _fdct_blocks,
    _scaled_qt,
    _QT_LUMA,
)

# DC categories 0..15, all codes length 5 (canonical, all-ones unused).
_DC12_BITS = [0, 0, 0, 0, 16] + [0] * 11
_DC12_VALS = list(range(16))
# AC: EOB, ZRL, and (run 0..15, size 1..14) = 226 symbols at length 8.
_AC12_VALS = [0x00, 0xF0] + [
    (r << 4) | s for r in range(16) for s in range(1, 15) if (r << 4) | s != 0xF0
]
_AC12_BITS = [0] * 16
_AC12_BITS[7] = len(_AC12_VALS)


def _qt12(quality: int) -> np.ndarray:
    """Annex K luma table scaled by quality, floored at 2 (category
    bound, see module docstring)."""
    return np.maximum(_scaled_qt(_QT_LUMA, quality), 2.0)


def encode_jpeg12(
    w: int, h: int, samples, quality: int = 90, restart_interval: int = 0
) -> bytes:
    """Encode a 0..4095 grayscale image (any buffer convertible to a
    uint16 (h, w) array) as 12-bit extended-sequential JFIF bytes.
    ``restart_interval`` > 0 emits DRI + RSTn every that many MCUs so
    the decoder's segment-advance path is exercised by in-repo streams.
    Deterministic byte-for-byte."""
    arr = np.frombuffer(bytes(samples), dtype="<u2").reshape(h, w).astype(np.float64)
    if arr.max(initial=0) > 4095:
        raise ValueError("12-bit samples must be 0..4095")
    qt_flat = _qt12(quality)  # natural order, 64
    qt = qt_flat.reshape(8, 8)
    bw_, bh_ = (w + 7) // 8, (h + 7) // 8
    pad = np.empty((bh_ * 8, bw_ * 8))
    pad[:h, :w] = arr
    pad[h:, :w] = arr[h - 1 :, :]
    pad[:, w:] = pad[:, w - 1 : w]
    pad -= 2048.0

    enc_dc = _build_enc(_DC12_BITS, _DC12_VALS)
    enc_ac = _build_enc(_AC12_BITS, _AC12_VALS)
    wtr = _BitWriter()
    zzs = _fdct_blocks(pad, qt).tolist()  # batched FDCT/quantize/zigzag (shared)
    pred = 0
    mcu = 0
    rst = 0
    for by in range(bh_):
        for bx in range(bw_):
            if restart_interval and mcu and mcu % restart_interval == 0:
                wtr.flush()
                wtr.out += bytes([0xFF, 0xD0 + rst % 8])
                rst += 1
                pred = 0
            pred = _encode_block(wtr, zzs[by][bx], enc_dc, enc_ac, pred)
            mcu += 1
    wtr.flush()

    def seg(marker: int, payload: bytes) -> bytes:
        return struct.pack(">BBH", 0xFF, marker, len(payload) + 2) + payload

    zz_q = qt_flat[_ZZ].astype(">u2")  # 16-bit DQT, zigzag order
    dqt = seg(0xDB, bytes([0x10]) + zz_q.tobytes())
    sof = seg(0xC1, struct.pack(">BHHB", 12, h, w, 1) + bytes([1, 0x11, 0]))
    dht_dc = seg(0xC4, bytes([0x00]) + bytes(_DC12_BITS) + bytes(_DC12_VALS))
    dht_ac = seg(0xC4, bytes([0x10]) + bytes(_AC12_BITS) + bytes(_AC12_VALS))
    sos = seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
    dri = (
        seg(0xDD, struct.pack(">H", restart_interval)) if restart_interval else b""
    )
    return (
        b"\xff\xd8" + dqt + sof + dri + dht_dc + dht_ac + sos + wtr.out + b"\xff\xd9"
    )


def decode_jpeg12(blob: bytes) -> tuple[int, int, bytes] | None:
    """Decode 12-bit grayscale extended-sequential JPEG.  Returns
    (width, height, little-endian uint16 samples) or None for payloads
    outside this profile (loud degrade, same contract family as
    decode_jpeg)."""
    if len(blob) < 4 or blob[:2] != b"\xff\xd8":
        return None
    qts: dict[int, np.ndarray] = {}
    dc_tab = ac_tab = None
    w = h = 0
    tq = 0
    restart = 0
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
            if m == 0xD9:
                return None
            ln = struct.unpack(">H", blob[i + 2 : i + 4])[0]
            seg_ = blob[i + 4 : i + 2 + ln]
            if m == 0xDB:
                j = 0
                while j < len(seg_):
                    pq, tq_ = seg_[j] >> 4, seg_[j] & 0xF
                    j += 1
                    if pq:
                        tab = np.frombuffer(seg_[j : j + 128], dtype=">u2").astype(np.float64)
                        j += 128
                    else:
                        tab = np.frombuffer(seg_[j : j + 64], dtype=np.uint8).astype(np.float64)
                        j += 64
                    qt = np.zeros(64)
                    qt[_ZZ] = tab
                    qts[tq_] = qt.reshape(8, 8)
            elif m in (0xC0, 0xC1):
                prec, h, w, nc = seg_[0], *struct.unpack(">HH", seg_[1:5]), seg_[5]
                if prec != 12 or nc != 1 or seg_[7] != 0x11:
                    return None  # outside the 12-bit grayscale profile
                tq = seg_[8]
            elif m == 0xC4:
                j = 0
                while j + 17 <= len(seg_):
                    tc, th = seg_[j] >> 4, seg_[j] & 0xF
                    bits = list(seg_[j + 1 : j + 17])
                    nv = sum(bits)
                    vals = list(seg_[j + 17 : j + 17 + nv])
                    if th == 0:
                        if tc == 0:
                            dc_tab = _HuffTable(bits, vals)
                        else:
                            ac_tab = _HuffTable(bits, vals)
                    j += 17 + nv
            elif m == 0xDD:
                restart = struct.unpack(">H", seg_[:2])[0]
            elif m == 0xDA:
                if dc_tab is None or ac_tab is None or tq not in qts or not w:
                    return None
                return _scan12(blob, i + 2 + ln, w, h, qts[tq], dc_tab, ac_tab, restart)
            i += 2 + ln
        return None
    except Exception:
        return None


def _scan12(blob, pos, w, h, qt, dc_tab, ac_tab, restart):
    bw_, bh_ = (w + 7) // 8, (h + 7) // 8
    total = bw_ * bh_
    rdr = _SegReader(blob, pos)
    pred = 0
    rows = []
    for m in range(total):
        if restart and m and m % restart == 0:
            rdr.advance_restart()
            pred = 0
        t = rdr.huff(dc_tab)
        diff = _extend(rdr.bits(t), t) if t else 0
        pred += diff
        zz = [0] * 64
        zz[0] = pred
        k = 1
        while k < 64:
            rs = rdr.huff(ac_tab)
            r, s = rs >> 4, rs & 15
            if s == 0:
                if r == 15:
                    k += 16
                    continue
                break
            k += r
            zz[k] = _extend(rdr.bits(s), s)
            k += 1
        rows.append(zz)
    nat = np.zeros((total, 64), dtype=np.float64)
    nat[:, _ZZ] = np.asarray(rows, dtype=np.float64)
    spatial = (_C.T @ (nat.reshape(-1, 8, 8) * qt[None]) @ _C) + 2048.0
    plane = (
        spatial.reshape(bh_, bw_, 8, 8)
        .transpose(0, 2, 1, 3)
        .reshape(bh_ * 8, bw_ * 8)
    )
    out = np.clip(np.round(plane[:h, :w]), 0, 4095).astype("<u2")
    return w, h, out.tobytes()
