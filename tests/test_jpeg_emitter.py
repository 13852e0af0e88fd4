"""Byte identity of the numpy baseline entropy emitter (operators/jpeg.py
``_emit_scan``) against the serial ``_BitWriter``/``_encode_block``
emission it replaced, rebuilt here as the referee."""

from __future__ import annotations

from unittest import mock

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from specialsid_spark.operators import jpeg
from specialsid_spark.operators.jpeg import (
    _AC_CHROMA,
    _AC_LUMA,
    _DC_CHROMA,
    _DC_LUMA,
    _BitWriter,
    _build_enc,
    _encode_block,
    decode_jpeg,
    encode_jpeg,
)


def _serial_scan(coefs, sfac, restart_interval):
    """The per-block emission loop: MCU by MCU, component by component,
    block by block, one ``_BitWriter.put`` per code; RSTn between
    intervals with the DC predictors reset."""
    nc = len(coefs)
    enc_dc = [_build_enc(*_DC_LUMA), _build_enc(*_DC_CHROMA)]
    enc_ac = [_build_enc(*_AC_LUMA), _build_enc(*_AC_CHROMA)]
    mcuy = coefs[0].shape[0] // sfac[0][1]
    mcux = coefs[0].shape[1] // sfac[0][0]
    cc = [c.tolist() for c in coefs]
    wtr = _BitWriter()
    pred = [0] * nc
    mcu_count = 0
    rst = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                wtr.flush()
                wtr.out += bytes([0xFF, 0xD0 + rst])
                rst = (rst + 1) % 8
                pred = [0] * nc
            for ci in range(nc):
                sh, sv = sfac[ci]
                tsel = 0 if (ci == 0 or nc == 4) else 1
                for by in range(sv):
                    for bx in range(sh):
                        pred[ci] = _encode_block(
                            wtr, cc[ci][my * sv + by][mx * sh + bx],
                            enc_dc[tsel], enc_ac[tsel], pred[ci],
                        )
            mcu_count += 1
    wtr.flush()
    return bytes(wtr.out)


def _pixels(rng, w, h, ch, kind):
    if kind == "noise":
        return rng.integers(0, 256, (h, w, ch), dtype=np.uint8)
    if kind == "flat":
        return np.full((h, w, ch), rng.integers(0, 256), np.uint8)
    if kind == "gradient":
        g = (np.add.outer(np.arange(h) * 5, np.arange(w) * 3) % 256).astype(np.uint8)
        return np.repeat(g[:, :, None], ch, axis=2)
    px = np.zeros((h, w, ch), np.uint8)  # sparse: isolated bright dots
    px[rng.random((h, w)) < 0.03] = 255
    return px


@settings(max_examples=60, deadline=None)
@given(
    w=st.integers(1, 70),
    h=st.integers(1, 70),
    ch=st.sampled_from([1, 3, 4]),
    sampling=st.sampled_from(["444", "422", "420"]),
    quality=st.integers(1, 100),
    restart=st.integers(0, 4),
    adobe=st.sampled_from([0, 2]),
    kind=st.sampled_from(["noise", "flat", "gradient", "sparse"]),
    seed=st.integers(0, 2**16),
)
def test_encode_jpeg_equals_serial_emission(w, h, ch, sampling, quality, restart, adobe, kind, seed):
    if ch != 3:
        sampling = "444"  # subsampling is RGB-only
    px = _pixels(np.random.default_rng(seed), w, h, ch, kind).tobytes()
    args = dict(quality=quality, sampling=sampling, restart_interval=restart, adobe_transform=adobe)
    with mock.patch.object(jpeg, "_emit_scan", _serial_scan):
        want = encode_jpeg(w, h, ch, px, **args)
    got = encode_jpeg(w, h, ch, px, **args)
    assert got == want
    dec = decode_jpeg(got)
    assert dec is not None and dec[:2] == (w, h)


def test_emit_scan_extreme_coefficients_match_serial():
    """Tokens at the 59-bit limit (three ZRLs before a size-10 AC at
    position 63), full-range DC differences, all-zero blocks, blocks
    whose last coefficient is nonzero (no EOB), and no blocks at all."""
    rng = np.random.default_rng(7)
    for sfac, restart in (([(1, 1)] * 3, 0), ([(2, 2), (1, 1), (1, 1)], 1), ([(1, 1)], 3)):
        mcuy, mcux = 3, 4
        coefs = []
        for sh, sv in sfac:
            c = np.zeros((mcuy * sv, mcux * sh, 64), np.int64)
            c[..., 0] = rng.integers(-1024, 1017, c.shape[:2])
            c[0, 0, 63] = -1023  # run 62 -> 3 ZRLs + (14, 10)
            c[0, 1, 63] = 1023
            c[1, 0, 1:] = rng.integers(-1023, 1024, 63)  # dense, no EOB
            c[-1, -1, 17] = 5  # run 16 -> exactly one ZRL
            c[-1, 0, 33] = -1  # run 32 -> two ZRLs
            coefs.append(c)
        assert jpeg._emit_scan(coefs, sfac, restart) == _serial_scan(coefs, sfac, restart)
    empty = [np.zeros((0, 2, 64), np.int64)]  # a zero-height image: no blocks
    assert jpeg._emit_scan(empty, [(1, 1)], 1) == _serial_scan(empty, [(1, 1)], 1) == b""
