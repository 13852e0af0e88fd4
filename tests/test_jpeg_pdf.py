"""Baseline JPEG codec + PDF image extraction (operators/jpeg.py,
operators/pdf.py) — the round-4 kernels that close the last fake-bytes
paths (ref gen_pdf_imgLambda.py renders JPEG pages;
pnp-cropperLambda.py crops them with PIL)."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from specialsid_spark.operators.jpeg import crop_jpeg, decode_jpeg, encode_jpeg
from specialsid_spark.operators.multimodal import (
    decode_png,
    parse_image_meta,
    pdf_page_count,
)
from specialsid_spark.operators.pdf import build_image_pdf, extract_page_images


def _gradient(w: int, h: int) -> np.ndarray:
    x = np.linspace(0, 255, w)
    y = np.linspace(0, 255, h)
    r = np.tile(x, (h, 1))
    g = np.tile(y[:, None], (1, w))
    return np.stack([r, g, (r + g) / 2], axis=-1).astype(np.uint8)


def _decode_to_array(jb: bytes) -> np.ndarray:
    w, h, ch, px = decode_jpeg(jb)
    return np.frombuffer(px, dtype=np.uint8).reshape(h, w, ch)


def test_uniform_gray_quality100_roundtrips_exactly():
    # Analytic case: a uniform block has only a DC coefficient, and at
    # quality 100 every quant step is 1, so decode(encode(x)) == x.
    img = np.full((16, 24, 1), 77, dtype=np.uint8)
    jb = encode_jpeg(24, 16, 1, img.tobytes(), quality=100)
    assert parse_image_meta(jb) == (24, 16, "jpeg")
    assert np.array_equal(_decode_to_array(jb), img)


def test_uniform_rgb_small_error():
    img = np.full((16, 16, 3), (200, 30, 90), dtype=np.uint8)
    jb = encode_jpeg(16, 16, 3, img.tobytes(), quality=95)
    diff = np.abs(_decode_to_array(jb).astype(int) - img.astype(int))
    assert diff.max() <= 2  # YCbCr round-trip rounding only


@pytest.mark.parametrize("sampling", ["444", "422", "420"])
@pytest.mark.parametrize("restart", [0, 2])
def test_gradient_roundtrip_all_paths(sampling, restart):
    img = _gradient(40, 24)
    jb = encode_jpeg(
        40, 24, 3, img.tobytes(), quality=95, sampling=sampling, restart_interval=restart
    )
    out = _decode_to_array(jb).astype(int)
    diff = np.abs(out - img.astype(int))
    # 4:4:4 at q95 is near-lossless; 4:2:2/4:2:0 add chroma replication error.
    assert diff.max() <= (2 if sampling == "444" else 12)
    assert diff.mean() <= (1 if sampling == "444" else 4)


def test_jpeg_422_sof_and_odd_width():
    """ADVICE r4: the 4:2:2 (anisotropic upsample) decode path now has
    an in-repo encoder fixture — assert the SOF really is 2×1/1×1 and
    odd widths survive the horizontal-only chroma halving."""
    img = _gradient(33, 16)
    jb = encode_jpeg(33, 16, 3, img.tobytes(), quality=92, sampling="422")
    # SOF0 component 1 hv byte: high nibble h=2, low nibble v=1
    sof_at = jb.find(b"\xff\xc0")
    assert jb[sof_at + 11] == 0x21  # luma (2,1)
    assert jb[sof_at + 14] == 0x11  # Cb (1,1)
    out = _decode_to_array(jb).astype(int)
    assert np.abs(out - img.astype(int)).mean() <= 4


def test_jpeg_non_dividing_sampling_refused_explicitly():
    """ADVICE r4: non-dividing factor combos (e.g. luma 3×1 with chroma
    2×1 — hmax 3, 3 % 2 != 0) cannot be upsampled by integer
    replication; _finish must refuse explicitly and decode_jpeg must
    map that to None (not a swallowed shape mismatch)."""
    from specialsid_spark.operators.jpeg import _finish

    comps = [
        {"id": 1, "h": 3, "v": 1, "tq": 0},
        {"id": 2, "h": 2, "v": 1, "tq": 1},
        {"id": 3, "h": 2, "v": 1, "tq": 1},
    ]
    planes = [np.zeros((8, 24)), np.zeros((8, 16)), np.zeros((8, 16))]
    with pytest.raises(ValueError, match="non-dividing"):
        _finish(24, 8, comps, planes, 3, 1)

    # end-to-end: patch a valid 4:2:2 stream's SOF to the 3:2 combo —
    # decoder must return None, never raise or emit garbage pixels
    img = _gradient(24, 16)
    jb = bytearray(encode_jpeg(24, 16, 3, img.tobytes(), quality=92, sampling="422"))
    sof_at = jb.find(b"\xff\xc0")
    jb[sof_at + 11] = 0x31  # luma (3,1): chroma (1,1) no longer divides hmax
    assert decode_jpeg(bytes(jb)) is None


def test_odd_dimensions_and_noise_decode():
    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, (17, 23, 3), dtype=np.uint8)
    jb = encode_jpeg(23, 17, 3, img.tobytes(), quality=85, sampling="420", restart_interval=3)
    w, h, ch, _ = decode_jpeg(jb)
    assert (w, h, ch) == (23, 17, 3)


def test_decode_rejects_non_jpeg_and_scanless_progressive():
    assert decode_jpeg(b"not a jpeg") is None
    # A progressive header with NO scans: nothing to reconstruct -> None
    # (full progressive streams DO decode — see the progressive tests).
    fake = b"\xff\xd8\xff\xc2\x00\x0b\x08\x00\x10\x00\x10\x01\x01\x11\x00"
    assert decode_jpeg(fake) is None
    # arithmetic-coded (SOF9) and corrupt zero-sampling SOFs degrade to
    # None instead of raising (review r4: StopIteration/ZeroDivision)
    sof9 = b"\xff\xd8\xff\xc9\x00\x0b\x08\x00\x10\x00\x10\x01\x01\x11\x00"
    assert decode_jpeg(sof9) is None
    bad_hv = b"\xff\xd8\xff\xc0\x00\x0b\x08\x00\x10\x00\x10\x01\x01\x00\x00" + b"\xff\xda\x00\x08\x01\x01\x00\x00\x3f\x00"
    assert decode_jpeg(bad_hv) is None


def test_crop_jpeg_equals_slice_of_decode():
    img = _gradient(32, 20)
    jb = encode_jpeg(32, 20, 3, img.tobytes(), quality=92)
    full = _decode_to_array(jb)
    png = crop_jpeg(jb, 3, 5, 17, 29)
    w, h, ch, px = decode_png(png)
    crop = np.frombuffer(bytes(px), dtype=np.uint8).reshape(h, w, ch)
    assert np.array_equal(crop, full[3:17, 5:29, :])


def test_crop_jpeg_out_format_jpeg_reference_parity():
    """ADVICE r4: the reference emits JPEG quality-90 crops
    (pnp-cropperLambda.py cropped_img.save(format='JPEG', quality=90));
    out_format='jpeg' mirrors that byte format — output is a decodable
    baseline JPEG of the crop's dimensions, close to the source pixels
    (lossy, so approximate)."""
    img = _gradient(32, 20)
    jb = encode_jpeg(32, 20, 3, img.tobytes(), quality=92)
    full = _decode_to_array(jb)
    out = crop_jpeg(jb, 3, 5, 17, 29, out_format="jpeg")
    assert out[:2] == b"\xff\xd8"
    w, h, ch, px = decode_jpeg(out)
    assert (w, h, ch) == (24, 14, 3)
    crop = np.frombuffer(bytes(px), dtype=np.uint8).reshape(h, w, ch)
    assert np.mean(np.abs(crop.astype(int) - full[3:17, 5:29, :].astype(int))) < 8


def test_crop_jpeg_clamps_bbox():
    img = _gradient(16, 16)
    jb = encode_jpeg(16, 16, 3, img.tobytes(), quality=92)
    png = crop_jpeg(jb, -5, -5, 999, 999)
    w, h, _, _ = decode_png(png)
    assert (w, h) == (16, 16)
    assert crop_jpeg(jb, 10, 10, 10, 12) is None  # empty bbox


@settings(max_examples=15, deadline=None)
@given(
    w=st.integers(8, 33),
    h=st.integers(8, 33),
    seed=st.integers(0, 2**31),
    q=st.integers(60, 100),
)
def test_jpeg_roundtrip_bounded_error_property(w, h, seed, q):
    # Any image, any quality >= 60: decoded output stays within the
    # documented error envelope of baseline JPEG at that quality (smooth
    # ramps; pure noise is where JPEG legitimately loses more).
    x = np.linspace(0, 255, w)
    y = np.linspace(seed % 200, 255, h)
    img = np.stack(
        [np.tile(x, (h, 1)), np.tile(y[:, None], (1, w)), np.full((h, w), seed % 256)],
        axis=-1,
    ).astype(np.uint8)
    jb = encode_jpeg(w, h, 3, img.tobytes(), quality=q)
    out = _decode_to_array(jb).astype(int)
    assert np.abs(out - img.astype(int)).mean() <= 300.0 / q


def test_pdf_roundtrip_dct_pages_byte_identical():
    imgs = [
        encode_jpeg(32, 24, 3, _gradient(32, 24).tobytes(), quality=90),
        encode_jpeg(40, 24, 3, _gradient(40, 24).tobytes(), quality=90),
    ]
    pdf = build_image_pdf(imgs)
    assert pdf_page_count(pdf) == 2
    pages = extract_page_images(pdf)
    assert pages == imgs  # DCTDecode streams embed and extract verbatim
    for p in pages:
        assert decode_jpeg(p) is not None


def test_pdf_flate_pages_roundtrip_pixels():
    from specialsid_spark.operators.multimodal import encode_png

    img = _gradient(24, 16)
    png = encode_png(24, 16, 3, img.tobytes())
    pdf = build_image_pdf([png])
    [page] = extract_page_images(pdf)
    w, h, ch, px = decode_png(page)
    assert (w, h, ch) == (24, 16, 3)
    assert np.array_equal(
        np.frombuffer(bytes(px), dtype=np.uint8).reshape(16, 24, 3), img
    )  # Flate path is fully lossless


def test_pdf_kids_order_not_byte_order():
    # Reverse the Kids array by hand: extraction must follow /Kids, not
    # object byte order.
    imgs = [
        encode_jpeg(16, 16, 3, np.full((16, 16, 3), v, np.uint8).tobytes(), quality=95)
        for v in (10, 240)
    ]
    pdf = build_image_pdf(imgs)
    import re

    m = re.search(rb"/Kids \[(\d+) 0 R (\d+) 0 R\]", pdf)
    swapped = pdf[: m.start(1)] + m.group(2) + pdf[m.end(1) : m.start(2)] + m.group(1) + pdf[m.end(2) :]
    pages = extract_page_images(swapped)
    assert pages == [imgs[1], imgs[0]]


def test_pdf_extract_rejects_non_pdf():
    assert extract_page_images(b"A" * 250) is None


def test_pdf_parser_ignores_obj_tokens_inside_stream_payloads():
    """ADVICE r4: a binary DCTDecode payload may coincidentally contain
    an ASCII `N 0 obj` sequence; honoring it as an object boundary
    shadows a REAL object (here the /Pages tree, object 2, defined
    before the payload) and corrupts page resolution for the whole
    document.  The poison rides a JPEG COM segment so the payload stays
    a fully valid JPEG."""
    import struct

    jb = encode_jpeg(24, 16, 3, _gradient(24, 16).tobytes(), quality=90)
    poison = b"\n2 0 obj"
    com = b"\xff\xfe" + struct.pack(">H", 2 + len(poison)) + poison
    jb_poison = jb[:2] + com + jb[2:]
    assert decode_jpeg(jb_poison) is not None
    pdf = build_image_pdf([jb_poison, jb])
    pages = extract_page_images(pdf)
    assert pages is not None and len(pages) == 2
    assert pages == [jb_poison, jb]  # both pages resolve, payload verbatim


def test_pdf_text_roundtrip_exact():
    """VERDICT r4 #2: build_text_pdf → extract_page_text is exact per
    page, through Flate-compressed and raw content streams, with
    escapes, parens, backslashes, and multi-line breaks."""
    from specialsid_spark.operators.pdf import build_text_pdf, extract_page_text

    pages = [
        "doc 5 page 0 alpha3\nbeta (v2) gamma\\delta",
        "lone",
        "",
        "three\nline\npage with\ttab",
    ]
    for compress in (True, False):
        got = extract_page_text(build_text_pdf(pages, compress=compress))
        assert got == pages


def test_pdf_text_extractor_operator_surface():
    """Hand-built content streams exercise paths the writer never emits:
    octal/hex strings, the ' operator, comments, dict skip, array
    kerning, and multiple /Contents streams."""
    import zlib as _zlib

    from specialsid_spark.operators.pdf import _parse_content_text, extract_page_text

    # octal escape, hex string, quote operator, comment, inline dict
    content = (
        b"BT /F1 12 Tf 72 720 Td\n"
        b"(\\110i) Tj\n"  # octal \110 = 'H'
        b"<20576F726C64> Tj\n"  # hex ' World'
        b"(next line) '\n"  # ' = newline + show
        b"% a comment (with parens) that must be skipped\n"
        b"/Span << /ActualText (not shown) >> BDC (marked) Tj EMC\n"
        b"ET"
    )
    assert _parse_content_text(content) == "Hi World\nnext linemarked"

    # multiple /Contents streams concatenate in array order
    c1 = _zlib.compress(b"BT 72 720 Td (part one) Tj ET")
    c2 = _zlib.compress(b"BT 72 700 Td (part two) Tj ET")
    head = (
        b"%PDF-1.4\n"
        b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"
        b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents [4 0 R 5 0 R] >>\nendobj\n"
    )
    s1 = b"4 0 obj\n<< /Length %d /Filter /FlateDecode >>\nstream\n" % len(c1)
    s2 = b"5 0 obj\n<< /Length %d /Filter /FlateDecode >>\nstream\n" % len(c2)
    pdf = head + s1 + c1 + b"\nendstream\nendobj\n" + s2 + c2 + b"\nendstream\nendobj\n"
    assert extract_page_text(pdf) == ["part one\npart two"]


def test_pdf_text_degrades_to_none_not_garbage():
    from specialsid_spark.operators.pdf import build_image_pdf, extract_page_text

    assert extract_page_text(b"not a pdf at all") is None
    # unsupported content filter -> that page is None (loud degrade)
    pdf = (
        b"%PDF-1.4\n"
        b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"
        b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\nendobj\n"
        b"4 0 obj\n<< /Length 4 /Filter /LZWDecode >>\nstream\nABCD\nendstream\nendobj\n"
    )
    assert extract_page_text(pdf) == [None]
    # an image-per-page PDF has no text operators: '' per page, not None
    jb = encode_jpeg(16, 16, 1, np.full((16, 16, 1), 9, np.uint8).tobytes(), quality=100)
    assert extract_page_text(build_image_pdf([jb, jb])) == ["", ""]


def test_explode_pdf_text_hop(spark):
    """The PDF→text corpus hop: born-digital PDFs explode into per-page
    text rows; non-PDF payloads emit nothing; undecodable pages NULL."""
    import pandas as pd

    from specialsid_spark.operators.multimodal import explode_pdf_text
    from specialsid_spark.operators.pdf import build_text_pdf

    pdf1 = build_text_pdf(["alpha beta", "gamma (x) \\ delta"])
    rows = [(1, bytearray(pdf1)), (2, bytearray(b"not a pdf"))]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "blob"]))
    out = {(r["doc_id"], r["page_no"]): r["page_text"] for r in explode_pdf_text(df).collect()}
    assert out == {(1, 1): "alpha beta", (1, 2): "gamma (x) \\ delta"}
    # D1 done-criterion: hop1 produces decodable page bytes for a real
    # image-per-page PDF fixture.
    from specialsid_spark.operators.multimodal import explode_pdf_pages

    imgs = [
        encode_jpeg(24, 16, 3, _gradient(24, 16).tobytes(), quality=90),
        encode_jpeg(32, 16, 3, _gradient(32, 16).tobytes(), quality=90),
    ]
    pdf = build_image_pdf(imgs)
    df = spark.createDataFrame(
        [(1, bytearray(pdf)), (2, bytearray(b"opaque not pdf" * 20))],
        "doc_id long, blob binary",
    )
    rows = explode_pdf_pages(df).orderBy("doc_id", "page_no").collect()
    pdf_rows = [r for r in rows if r["doc_id"] == 1]
    assert [bytes(r["page_bytes"]) for r in pdf_rows] == imgs
    assert all(decode_jpeg(bytes(r["page_bytes"])) is not None for r in pdf_rows)
    # opaque payload keeps the fixed-size slice behavior
    assert len([r for r in rows if r["doc_id"] == 2]) == 3


def test_crop_regions_real_pixels_for_jpeg_through_spark(spark):
    from specialsid_spark.operators.multimodal import crop_regions

    img = _gradient(32, 20)
    jb = encode_jpeg(32, 20, 3, img.tobytes(), quality=92)
    products = spark.createDataFrame(
        [("p1", "Apple Juice", [2, 4, 18, 28])],
        "page_key string, product_name string, bounding_box array<int>",
    )
    images = spark.createDataFrame(
        [("p1", bytearray(jb))], "page_key string, image_bytes binary"
    )
    [row] = crop_regions(products, images).collect()
    w, h, ch, px = decode_png(bytes(row["crop_bytes"]))
    assert (w, h, ch) == (24, 16, 3)
    full = _decode_to_array(jb)
    assert np.array_equal(
        np.frombuffer(bytes(px), dtype=np.uint8).reshape(16, 24, 3),
        full[2:18, 4:28, :],
    )


# ---------------------------------------------------------------- audio


def test_wav_roundtrip_exact():
    from specialsid_spark.operators.audio import decode_wav, encode_wav, parse_wav_meta

    x = np.arange(-500, 500, dtype=np.int64) * 17 % 30000 - 15000
    wav = encode_wav(16000, x)
    assert parse_wav_meta(wav) == (1, 16000, 16, 1000)
    rate, nch, dec = decode_wav(wav)
    assert (rate, nch) == (16000, 1)
    assert np.array_equal(dec[:, 0], np.clip(x, -32768, 32767).astype(np.int16))


def test_wav_stereo_and_extra_chunks():
    from specialsid_spark.operators.audio import decode_wav, encode_wav, parse_wav_meta

    x = np.stack([np.arange(100), np.arange(100) * -3], axis=1)
    wav = encode_wav(44100, x)
    # splice a LIST chunk between fmt and data: the parser must walk, not assume offsets
    ln = len(wav)
    fmt_end = 12 + 8 + 16
    extra = b"LIST" + (7).to_bytes(4, "little") + b"INFOxyz" + b"\x00"  # odd len, padded
    spliced = wav[:fmt_end] + extra + wav[fmt_end:]
    spliced = b"RIFF" + (len(spliced) - 8 + len(extra)).to_bytes(4, "little") + spliced[8:]
    assert len(spliced) > ln
    assert parse_wav_meta(spliced) == (2, 44100, 16, 100)
    rate, nch, dec = decode_wav(spliced)
    assert nch == 2 and np.array_equal(dec, x)


def test_wav_rejects_non_pcm_and_garbage():
    from specialsid_spark.operators.audio import parse_wav_meta

    assert parse_wav_meta(b"not audio at all" * 10) is None
    # audio_fmt=3 (IEEE float) must be rejected
    import struct as _s

    bad = (
        b"RIFF" + _s.pack("<I", 36) + b"WAVE"
        + b"fmt " + _s.pack("<IHHIIHH", 16, 3, 1, 8000, 32000, 4, 32)
        + b"data" + _s.pack("<I", 0)
    )
    assert parse_wav_meta(bad) is None


def test_wav_resample_and_energy():
    from specialsid_spark.operators.audio import frame_energy, resample_nearest

    x = np.arange(10)
    assert list(resample_nearest(x, 4, 2)) == [0, 2, 4, 6, 8]
    assert frame_energy(np.array([1, 2, 3, 4]), 2) == [5, 25]
    assert frame_energy(np.array([1, 2, 3]), 2) == [5, 9]  # partial tail frame


# ---------------------------------------------------------------- video


def test_avi_roundtrip_exact_and_meta():
    from specialsid_spark.operators.video import build_avi, extract_frames, parse_avi_meta

    rng = np.random.default_rng(3)
    frames = [rng.integers(0, 256, (10, 13, 3), dtype=np.uint8) for _ in range(5)]
    avi = build_avi(frames, fps=10)
    assert parse_avi_meta(avi) == (13, 10, 5, 100000)
    out = extract_frames(avi)
    assert len(out) == 5
    assert all(np.array_equal(a, b) for a, b in zip(frames, out))


def test_avi_frame_sampling_indices():
    from specialsid_spark.operators.video import build_avi, sample_frames

    frames = [np.full((8, 8, 3), i, np.uint8) for i in range(7)]
    avi = build_avi(frames, fps=25)
    sampled = sample_frames(avi, 3)
    assert [i for i, _ in sampled] == [0, 3, 6]
    assert all(int(f[0, 0, 0]) == i for i, f in sampled)


def test_avi_rejects_compressed_and_garbage():
    import struct

    from specialsid_spark.operators.video import build_avi, extract_frames, parse_avi_meta

    assert parse_avi_meta(b"not a video" * 20) is None
    # flip a frame chunk to 00dc with a NON-JPEG payload (stands in for
    # H.264/VP9): extraction must bail, not garble
    avi = bytearray(build_avi([np.zeros((8, 8, 3), np.uint8)], fps=25))
    i = avi.find(b"00db", avi.find(b"movi"))
    avi[i : i + 4] = b"00dc"
    assert extract_frames(bytes(avi)) is None


def test_avi_mjpeg_roundtrip_and_sampling():
    """r5 VERDICT #3: 00dc chunks whose payloads are standalone JPEGs
    (Motion-JPEG) decode for real.  Uniform-8×8-block gray-as-RGB
    frames at quality 100 round-trip EXACTLY (the mm_jpeg oracle
    trick), so the assert is equality, not tolerance."""
    from specialsid_spark.operators.video import build_avi, extract_frames, sample_frames

    frames = []
    for i in range(5):
        yy, xx = np.mgrid[0:24, 0:32]
        g = ((i * 31 + (yy // 8) * 7 + (xx // 8) * 13) % 256).astype(np.uint8)
        frames.append(np.stack([g] * 3, axis=-1))
    avi = build_avi(frames, fps=10, codec="MJPG", quality=100)
    assert b"MJPG" in avi and b"00dc" in avi and b"00db" not in avi[avi.find(b"movi"):]
    out = extract_frames(avi)
    assert len(out) == 5
    assert all(np.array_equal(a, b) for a, b in zip(frames, out))
    assert [i for i, _ in sample_frames(avi, 2)] == [0, 2, 4]
    # lossy quality still decodes (tolerance path)
    avi90 = build_avi(frames, fps=10, codec="MJPG", quality=90)
    out90 = extract_frames(avi90)
    assert all(
        np.abs(a.astype(int) - b.astype(int)).mean() < 4 for a, b in zip(frames, out90)
    )


def test_wav_ima_adpcm_roundtrip_and_determinism():
    """r5 VERDICT #3: IMA-ADPCM (fmt 0x0011) decodes for real through
    the decode_wav dispatch.  Encoder round-trip stays within ADPCM's
    4-bit error envelope; a hand-built nibble stream decodes to the
    exact sequence the reference transition recomputes."""
    import struct

    from specialsid_spark.operators.audio import (
        _ima_step,
        decode_wav,
        decode_wav_ima,
        encode_wav_ima,
    )

    t = np.arange(3000)
    x = (4000 * np.sin(2 * np.pi * t / 80)).astype(np.int64)
    wav = encode_wav_ima(16000, x)
    rate, nch, dec = decode_wav(wav)  # dispatch path, not direct
    assert (rate, nch) == (16000, 1)
    assert dec.shape[0] == len(x)  # fact chunk truncates padding
    err = np.abs(dec.reshape(-1) - x)
    assert err.mean() < 60 and err.max() < 2000  # smooth signal: small slope error

    # hand block: decoded samples == pure-Python transition reference
    pred0, idx0 = -300, 30
    nibs = [(7 * k) % 16 for k in range(128)]
    body = bytearray(struct.pack("<hBB", pred0, idx0, 0))
    for a, b in zip(nibs[0::2], nibs[1::2]):
        body.append(a | (b << 4))
    fmt = struct.pack("<HHIIHHHH", 0x11, 1, 8000, 4000, len(body), 4, 2, 129)
    wav2 = (
        b"RIFF" + struct.pack("<I", 100) + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(body)) + bytes(body)
    )
    got = decode_wav_ima(wav2)[2].reshape(-1).tolist()
    want = [pred0]
    p, i2 = pred0, idx0
    for nib in nibs:
        p, i2 = _ima_step(p, i2, nib)
        want.append(p)
    assert got == want


def test_wav_ima_adpcm_stereo_deinterleave():
    """r5: stereo IMA ADPCM — per-channel 4-byte state headers, then
    alternating 4-byte/8-sample channel groups.  A hand-built block
    with DIFFERENT nibble streams per channel must decode to exactly
    the per-channel reference sequences, interleaved as frames."""
    import struct

    from specialsid_spark.operators.audio import _ima_step, decode_wav_ima

    nibsL = [(5 * k) % 16 for k in range(32)]
    nibsR = [(11 * k + 3) % 16 for k in range(32)]
    predL, idxL, predR, idxR = 100, 10, -200, 40
    body = bytearray()
    body += struct.pack("<hBB", predL, idxL, 0)
    body += struct.pack("<hBB", predR, idxR, 0)
    for g in range(4):  # 4 groups per channel, alternating L/R
        for nibs in (nibsL, nibsR):
            seg = nibs[g * 8 : (g + 1) * 8]
            for a, b in zip(seg[0::2], seg[1::2]):
                body.append(a | (b << 4))
    block = bytes(body)
    fmt = struct.pack("<HHIIHHHH", 0x11, 2, 8000, 4000, len(block), 8, 4, 33)
    wav = (
        b"RIFF" + struct.pack("<I", 100) + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(block)) + block
    )
    rate, nch, arr = decode_wav_ima(wav)
    assert (rate, nch) == (8000, 2)
    for ci, (nibs, p0, i0) in enumerate(
        [(nibsL, predL, idxL), (nibsR, predR, idxR)]
    ):
        want = [p0]
        p, i2 = p0, i0
        for nib in nibs:
            p, i2 = _ima_step(p, i2, nib)
            want.append(p)
        assert arr[:, ci].tolist() == want


# ---------------------------------------------------------------- gif


def _blocky(w: int, h: int) -> np.ndarray:
    img = np.zeros((h, w, 3), np.uint8)
    for y in range(h):
        for x in range(w):
            img[y, x] = ((x // 5) * 40 % 256, (y // 4) * 50 % 256, ((x + y) // 7) * 30 % 256)
    return img


def test_gif_roundtrip_exact_and_crop():
    from specialsid_spark.operators.gif import crop_gif, decode_gif, encode_gif

    img = _blocky(30, 20)
    gb = encode_gif(30, 20, img.tobytes())
    assert parse_image_meta(gb) == (30, 20, "gif")
    w, h, ch, px = decode_gif(gb)
    assert (w, h, ch) == (30, 20, 3)
    assert np.array_equal(np.frombuffer(bytes(px), np.uint8).reshape(20, 30, 3), img)
    png = crop_gif(gb, 3, 5, 15, 25)
    w2, h2, _, p2 = decode_png(png)
    assert np.array_equal(
        np.frombuffer(bytes(p2), np.uint8).reshape(h2, w2, 3), img[3:15, 5:25]
    )


def test_gif_lzw_dict_reset_roundtrip():
    # >4096 dictionary entries forces a mid-stream CLEAR + width resets
    from specialsid_spark.operators.gif import decode_gif, encode_gif

    rng = np.random.default_rng(1)
    base = rng.integers(0, 255, (64, 200)).astype(np.uint8)
    rgb = np.stack([base, (base * 3) % 255, (base * 7) % 255], axis=-1).astype(np.uint8)
    gb = encode_gif(200, 64, rgb.tobytes())
    w, h, _, px = decode_gif(gb)
    assert np.array_equal(np.frombuffer(bytes(px), np.uint8).reshape(64, 200, 3), rgb)


def test_gif_interlaced_decode():
    # hand-build an interlaced GIF: rows stored in pass order, flag 0x40
    import struct

    from specialsid_spark.operators.gif import _INTERLACE_PASSES, _lzw_encode, decode_gif

    w, h = 8, 11
    img = np.arange(w * h, dtype=np.uint8).reshape(h, w) % 16
    order = [y for start, step in _INTERLACE_PASSES for y in range(start, h, step)]
    stored = np.concatenate([img[y] for y in order])
    lzw = _lzw_encode(stored.tobytes(), 4)
    ct = bytes(3 * 16)
    ct = bytes(b for i in range(16) for b in (i * 16, i * 8, i * 4))
    gb = bytearray(b"GIF89a")
    gb += struct.pack("<HHBBB", w, h, 0x80 | 3, 0, 0) + ct
    gb += b"," + struct.pack("<HHHHB", 0, 0, w, h, 0x40)  # interlace flag
    gb.append(4)
    for o in range(0, len(lzw), 255):
        chunk = lzw[o : o + 255]
        gb.append(len(chunk))
        gb += chunk
    gb += b"\x00\x3b"
    dw, dh, _, px = decode_gif(bytes(gb))
    out = np.frombuffer(bytes(px), np.uint8).reshape(dh, dw, 3)
    expect = np.stack([img * 16, img * 8, img * 4], axis=-1).astype(np.uint8)
    assert np.array_equal(out, expect)


def test_gif_rejects_garbage_and_color_limit():
    from specialsid_spark.operators.gif import decode_gif, encode_gif

    assert decode_gif(b"not a gif" * 10) is None
    rng = np.random.default_rng(2)
    with pytest.raises(ValueError):
        encode_gif(32, 32, bytes(rng.integers(0, 256, 32 * 32 * 3).astype(np.uint8)))


def test_crop_regions_real_pixels_for_gif_through_spark(spark):
    from specialsid_spark.operators.gif import encode_gif
    from specialsid_spark.operators.multimodal import crop_regions

    img = _blocky(24, 16)
    gb = encode_gif(24, 16, img.tobytes())
    products = spark.createDataFrame(
        [("g1", "Gif Item", [2, 3, 14, 21])],
        "page_key string, product_name string, bounding_box array<int>",
    )
    images = spark.createDataFrame(
        [("g1", bytearray(gb))], "page_key string, image_bytes binary"
    )
    [row] = crop_regions(products, images).collect()
    w, h, ch, px = decode_png(bytes(row["crop_bytes"]))
    assert np.array_equal(
        np.frombuffer(bytes(px), np.uint8).reshape(h, w, ch), img[2:14, 3:21]
    )


# ------------------------------------------------------------ media meta


def test_mp3_frame_chain_and_id3_skip():
    from specialsid_spark.operators.media_meta import build_mp3, parse_mp3_meta

    mp3 = build_mp3(128, 44100, 30)
    assert parse_mp3_meta(mp3) == (128, 44100, 30, 30 * 1152 * 1000 // 44100)
    id3 = b"ID3" + bytes([4, 0, 0, 0, 0, 0, 10]) + b"\x00" * 10 + mp3
    assert parse_mp3_meta(id3) == parse_mp3_meta(mp3)
    assert parse_mp3_meta(b"junk" * 100) is None
    # 320 kbps / 32 kHz exercises the other table corners
    assert parse_mp3_meta(build_mp3(320, 32000, 5))[:3] == (320, 32000, 5)


def test_mp4_box_walk_and_track_geometry():
    from specialsid_spark.operators.media_meta import build_mp4, parse_mp4_meta

    mp4 = build_mp4(5500, [(640, 360), (0, 0)])
    assert parse_mp4_meta(mp4) == (5500, 2, 640, 360)
    assert parse_mp4_meta(build_mp4(90000, [(1920, 1080)])) == (90000, 1, 1920, 1080)
    assert parse_mp4_meta(b"nope" * 30) is None


# ---------------------------------------------------------- progressive


def test_progressive_decode_identical_to_baseline():
    # Same quantized coefficients -> bit-identical reconstruction: any
    # defect in spectral selection, EOB runs, or successive
    # approximation (DC or AC refinement) breaks exact equality.
    from specialsid_spark.operators.jpeg import encode_jpeg_progressive

    rng = np.random.default_rng(5)
    cases = [
        (24, 16, 1, 90, None),
        (40, 24, 3, 90, None),
        (33, 17, 3, 75, rng.integers(0, 256, (17, 33, 3)).astype(np.uint8)),
        (64, 48, 3, 85, rng.integers(0, 256, (48, 64, 3)).astype(np.uint8)),
    ]
    for w, h, ch, q, img in cases:
        if img is None:
            img = _gradient(w, h)[:, :, :ch]
        base = decode_jpeg(encode_jpeg(w, h, ch, img.tobytes(), quality=q))
        prog_bytes = encode_jpeg_progressive(w, h, ch, img.tobytes(), quality=q)
        prog = decode_jpeg(prog_bytes)
        assert prog is not None and prog[:3] == (w, h, ch)
        assert prog[3] == base[3], f"{w}x{h}x{ch} q{q}: progressive != baseline"


def test_progressive_is_sof2_and_crop_works():
    from specialsid_spark.operators.jpeg import encode_jpeg_progressive

    img = _gradient(32, 20)
    pb = encode_jpeg_progressive(32, 20, 3, img.tobytes(), quality=92)
    assert b"\xff\xc2" in pb[:200]  # SOF2 frame marker present
    full = _decode_to_array(pb)
    png = crop_jpeg(pb, 3, 5, 17, 29)
    w, h, ch, px = decode_png(png)
    assert np.array_equal(
        np.frombuffer(bytes(px), np.uint8).reshape(h, w, ch), full[3:17, 5:29, :]
    )


def test_progressive_truncated_prefix_still_decodes():
    # progressive's defining property: every prefix is an image.  Cut
    # the stream after ~60% — the decoder must return the scans that
    # arrived rather than None.
    from specialsid_spark.operators.jpeg import encode_jpeg_progressive

    # big enough that entropy data dominates the (fat flat-table)
    # headers — a 60% cut must land several scans in
    rng = np.random.default_rng(11)
    img = rng.integers(0, 256, (80, 120, 3), dtype=np.uint8)
    pb = encode_jpeg_progressive(120, 80, 3, img.tobytes(), quality=85)
    cut = decode_jpeg(pb[: int(len(pb) * 0.6)])
    assert cut is not None
    w, h, ch, px = cut
    assert (w, h, ch) == (120, 80, 3)
    # the coarse approximation should still be recognizably close
    full = _decode_to_array(pb).astype(int)
    approx = np.frombuffer(px, np.uint8).reshape(80, 120, 3).astype(int)
    assert np.abs(full - approx).mean() < 48


@settings(max_examples=10, deadline=None)
@given(w=st.integers(8, 40), h=st.integers(8, 40), seed=st.integers(0, 2**31), q=st.integers(50, 100))
def test_progressive_equals_baseline_property(w, h, seed, q):
    from specialsid_spark.operators.jpeg import encode_jpeg_progressive

    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
    base = decode_jpeg(encode_jpeg(w, h, 3, img.tobytes(), quality=q))
    prog = decode_jpeg(encode_jpeg_progressive(w, h, 3, img.tobytes(), quality=q))
    assert prog is not None and prog[3] == base[3]


def test_codec_degrade_contract_never_raises():
    """Review r4: every decoder's 'return None on unsupported/corrupt'
    contract must hold for the crash reproductions found in review —
    a raised exception inside mapInPandas kills the whole Spark task."""
    import struct

    from specialsid_spark.operators.gif import decode_gif
    from specialsid_spark.operators.media_meta import _box, parse_mp4_meta

    # JPEG: arithmetic-coded frame, zero sampling factor, SOS referencing
    # an undeclared component
    assert decode_jpeg(b"\xff\xd8\xff\xc9\x00\x0b\x08\x00\x10\x00\x10\x01\x01\x11\x00") is None
    assert (
        decode_jpeg(
            b"\xff\xd8\xff\xc0\x00\x0b\x08\x00\x10\x00\x10\x01\x01\x00\x00"
            + b"\xff\xda\x00\x08\x01\x01\x00\x00\x3f\x00"
        )
        is None
    )
    assert (
        decode_jpeg(
            b"\xff\xd8\xff\xc0\x00\x0b\x08\x00\x10\x00\x10\x01\x01\x11\x00"
            + b"\xff\xda\x00\x08\x01\x09\x00\x00\x3f\x00"
        )
        is None
    )
    # GIF: truncated extension / image descriptor
    assert decode_gif(b"GIF89a" + bytes(7) + b"\x21") is None
    assert decode_gif(b"GIF89a" + bytes(7) + b"\x2c\x00\x00") is None
    # MP4: version-1 boxes shorter than their v1 size
    assert parse_mp4_meta(
        _box(b"ftyp", b"isom") + _box(b"moov", _box(b"mvhd", bytes([1]) + bytes(19)))
    ) is None
    assert parse_mp4_meta(
        _box(b"ftyp", b"isom")
        + _box(
            b"moov",
            _box(b"mvhd", bytes(4) + struct.pack(">IIII", 0, 0, 1000, 5000) + bytes(80))
            + _box(b"trak", _box(b"tkhd", bytes([1]) + bytes(83))),
        )
    ) is None
    # r5 paths: truncated/garbage ADPCM and MJPEG must degrade, not raise
    from specialsid_spark.operators.audio import decode_wav_ima
    from specialsid_spark.operators.video import build_avi, extract_frames

    assert decode_wav_ima(b"RIFF" + bytes(20)) is None  # not WAVE
    # stereo ADPCM whose data is TRUNCATED below one block's headers
    stereo_fmt = struct.pack("<HHIIHHHH", 0x11, 2, 8000, 4000, 256, 8, 4, 505)
    wav = (
        b"RIFF" + struct.pack("<I", 60) + b"WAVE"
        + b"fmt " + struct.pack("<I", len(stereo_fmt)) + stereo_fmt
        + b"data" + struct.pack("<I", 8) + bytes(8)
    )
    assert decode_wav_ima(wav) is None
    # >2 channels: out of scope, documented None
    fmt51 = struct.pack("<HHIIHHHH", 0x11, 6, 8000, 4000, 256, 24, 12, 505)
    wav51 = (
        b"RIFF" + struct.pack("<I", 80) + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt51)) + fmt51
        + b"data" + struct.pack("<I", 40) + bytes(40)
    )
    assert decode_wav_ima(wav51) is None
    # truncated ADPCM block (header only, no room for the 4-byte header)
    mono_fmt = struct.pack("<HHIIHHHH", 0x11, 1, 8000, 4000, 256, 4, 2, 505)
    wav2 = (
        b"RIFF" + struct.pack("<I", 40) + b"WAVE"
        + b"fmt " + struct.pack("<I", len(mono_fmt)) + mono_fmt
        + b"data" + struct.pack("<I", 3) + bytes(3)
    )
    assert decode_wav_ima(wav2) is None
    # 00dc chunk that is NOT a JPEG (e.g. H.264): whole extraction None
    avi = bytearray(build_avi([np.zeros((8, 8, 3), np.uint8)]))
    i = avi.find(b"00db", avi.find(b"movi"))
    avi[i : i + 4] = b"00dc"
    assert extract_frames(bytes(avi)) is None


def test_pdf_grayscale_pages_labeled_devicegray():
    # Review r4: a 1-component DCT stream labeled /DeviceRGB violates
    # the PDF spec (strict renderers reject it)
    gray = encode_jpeg(16, 16, 1, np.full((16, 16, 1), 50, np.uint8).tobytes(), quality=95)
    rgb = encode_jpeg(16, 16, 3, np.full((16, 16, 3), 50, np.uint8).tobytes(), quality=95)
    pdf = build_image_pdf([gray, rgb])
    import re

    dicts = re.findall(rb"/Subtype /Image[^>]*", pdf)
    assert b"/DeviceGray" in dicts[0] and b"/DeviceRGB" in dicts[1]
    assert extract_page_images(pdf) == [gray, rgb]


def test_gif_animation_frames_and_sampling():
    from specialsid_spark.operators.gif import (
        encode_gif_animation,
        extract_gif_frames,
        sample_gif_frames,
    )

    frames = []
    for i in range(5):
        f = np.zeros((8, 10, 3), np.uint8)
        f[:, :, 0] = 20 * i + 5
        f[:, :, 1] = 200 - 30 * i
        frames.append(f)
    gb = encode_gif_animation(10, 8, [f.tobytes() for f in frames])
    out = extract_gif_frames(gb)
    assert len(out) == 5
    for i, (w, h, px) in enumerate(out):
        assert (w, h) == (10, 8)
        assert np.array_equal(np.frombuffer(bytes(px), np.uint8).reshape(8, 10, 3), frames[i])
    assert [i for i, _ in sample_gif_frames(gb, 2)] == [0, 2, 4]


def test_gif_disposal_restore_background_and_previous():
    # frame 1 paints a patch with disposal=2 (restore bg) vs 3 (restore
    # previous): the NEXT frame's untouched region must reflect it
    from specialsid_spark.operators.gif import encode_gif_animation, extract_gif_frames

    base = np.full((8, 8, 3), 50, np.uint8)
    patch = base.copy()
    patch[2:6, 2:6] = (200, 10, 10)
    tail = np.full((8, 8, 3), 50, np.uint8)  # same as base
    for disp, desc in [(2, "background"), (3, "previous")]:
        gb = encode_gif_animation(
            8, 8, [base.tobytes(), patch.tobytes(), tail.tobytes()], disposals=[1, disp, 1]
        )
        out = extract_gif_frames(gb)
        assert len(out) == 3
        # frame 2 shows the patch; frame 3 (full-canvas repaint) shows base
        f2 = np.frombuffer(bytes(out[1][2]), np.uint8).reshape(8, 8, 3)
        assert np.array_equal(f2, patch), desc
        f3 = np.frombuffer(bytes(out[2][2]), np.uint8).reshape(8, 8, 3)
        assert np.array_equal(f3, tail), desc


def test_wav_g711_decode_and_dispatch():
    """G.711 A-law/µ-law (fmt tags 6/7): canonical table extremes,
    exhaustive LUT decode through the shared decode_wav entry point,
    and degrade on malformed input."""
    from specialsid_spark.operators.audio import (
        _ALAW_LUT,
        _ULAW_LUT,
        decode_wav,
        decode_wav_g711,
        encode_wav_g711,
    )

    # canonical G.711 extremes (public spec tables)
    assert _ULAW_LUT[0x00] == -32124 and _ULAW_LUT[0x80] == 32124
    assert _ULAW_LUT[0x7F] == 0 and _ULAW_LUT[0xFF] == 0
    assert _ALAW_LUT[0x2A] == -32256 and _ALAW_LUT[0xAA] == 32256
    assert _ALAW_LUT[0x55] == -8 and _ALAW_LUT[0xD5] == 8
    # µ-law decode is odd-symmetric in the sign bit
    assert np.array_equal(_ULAW_LUT[:128], -_ULAW_LUT[128:])
    codes = np.arange(256, dtype=np.uint8)
    for law, lut in (("alaw", _ALAW_LUT), ("mulaw", _ULAW_LUT)):
        rate, nch, s = decode_wav(encode_wav_g711(16000, codes, law))
        assert (rate, nch) == (16000, 1)
        assert np.array_equal(s[:, 0], lut[codes])
    # stereo interleave
    rate, nch, s = decode_wav(encode_wav_g711(8000, codes, "alaw", nch=2))
    assert nch == 2 and s.shape == (128, 2)
    assert np.array_equal(s.reshape(-1), _ALAW_LUT[codes])
    # degrade: PCM and garbage blobs are not G.711
    assert decode_wav_g711(b"RIFF" + bytes(30)) is None
    import struct as _s

    pcm_fmt = _s.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    wav = (b"RIFF" + _s.pack("<I", 36) + b"WAVE"
           + b"fmt " + _s.pack("<I", 16) + pcm_fmt
           + b"data" + _s.pack("<I", 0))
    assert decode_wav_g711(wav) is None


def test_pdf_cid_text_roundtrip_exact():
    """Type0/Identity-H pages with a ToUnicode CMap extract exactly,
    including non-latin1 text, empty lines, and the Tf font switch
    mid-page; all three CMap entry forms are in every fixture."""
    from specialsid_spark.operators.pdf import build_cid_text_pdf, extract_page_text

    pages = [
        "doc 0\nplain lowercase line\nMIXED Case & «unicode» ±5°\n\ntail",
        "doc 1\nsécond pagé — em-dash\nshort",
    ]
    assert extract_page_text(build_cid_text_pdf(pages)) == pages
    # uncompressed CMap/content path
    assert extract_page_text(build_cid_text_pdf(pages, compress=False)) == pages


def test_pdf_cid_codes_are_not_latin1():
    """A decoder that ignores the CMap must get GARBAGE, not the right
    answer: raw 2-byte codes decode to nothing like the input text."""
    from specialsid_spark.operators.pdf import (
        _parse_content_text,
        build_cid_text_pdf,
        extract_page_text,
        _scan_objects,
        _content_bytes,
    )

    pages = ["h\nhello cid"]
    pdf = build_cid_text_pdf(pages)
    objs = _scan_objects(pdf)[0]
    page_head = next(h for h, d in objs.values() if b"/Type /Page " in h or b"/Type /Page/" in h or (b"/Type /Page" in h and b"/Pages" not in h))
    content = _content_bytes(objs, page_head)
    naive = _parse_content_text(content)  # no fonts dict -> latin-1 pass
    assert "hello cid" not in naive
    assert extract_page_text(pdf) == pages


def test_tounicode_cmap_forms():
    """bfchar, incrementing bfrange, and array bfrange all parse; the
    increment applies to the last UTF-16 code unit."""
    from specialsid_spark.operators.pdf import _parse_tounicode_cmap

    cm = _parse_tounicode_cmap(
        b"begincmap\n"
        b"2 beginbfchar\n<0010> <0041>\n<0011> <00660066>\nendbfchar\n"
        b"1 beginbfrange\n<0020> <0022> <0061>\nendbfrange\n"
        b"1 beginbfrange\n<0030> <0031> [<0058> <0059>]\nendbfrange\n"
        b"endcmap"
    )
    assert cm[0x10] == "A" and cm[0x11] == "ff"
    assert (cm[0x20], cm[0x21], cm[0x22]) == ("a", "b", "c")
    assert (cm[0x30], cm[0x31]) == ("X", "Y")


# --------------------------------------------------------- r6: ObjStm / XRef


def test_objstm_layout_text_roundtrip():
    """Modern-layout PDFs (dicts packed in /ObjStm, XRef stream) must
    extract identically to the classic layout."""
    from specialsid_spark.operators.multimodal import pdf_page_count
    from specialsid_spark.operators.pdf import build_text_pdf, extract_page_text

    pages = ["first page\nline (two)\\esc", "second\nmore text here", "third"]
    classic = build_text_pdf(pages)
    modern = build_text_pdf(pages, layout="objstm")
    assert modern.startswith(b"%PDF-1.5")
    # no /Type /Page visible to a raw byte scan in the modern file
    assert b"/Type /Page " not in modern and b"/Type /Page/" not in modern
    assert extract_page_text(modern) == pages
    assert extract_page_text(classic) == pages
    assert pdf_page_count(modern) == 3 == pdf_page_count(classic)


def test_read_xref_stream_entries_and_trailer():
    from specialsid_spark.operators.pdf import build_text_pdf, read_xref

    pages = ["a\nbc", "d\nef"]
    modern = build_text_pdf(pages, layout="objstm")
    entries, trailer = read_xref(modern)
    # packed: catalog + pages root + font + 2 page dicts = 5 type-2 rows
    assert sum(1 for e in entries.values() if e[0] == 2) == 5
    # top-level: 2 content streams + ObjStm + XRef stream = 4 type-1 rows
    type1 = {n: e for n, e in entries.items() if e[0] == 1}
    assert len(type1) == 4
    # every type-1 offset lands on that object's "N 0 obj" header
    for num, (_t, off, _gen) in type1.items():
        assert modern[off:].startswith(b"%d 0 obj" % num)
    assert trailer["Root"] == 1 and trailer["Size"] == len(entries)


def test_read_xref_classic_table():
    from specialsid_spark.operators.pdf import build_text_pdf, read_xref

    classic = build_text_pdf(["x\nyz"])
    entries, trailer = read_xref(classic)
    assert entries[0][0] == 0  # free head
    for num, (t, off, _g) in entries.items():
        if t == 1:
            assert classic[off:].startswith(b"%d 0 obj" % num)
    assert trailer["Root"] == 1


def test_read_xref_prev_chain_newest_wins():
    """Incremental update: an appended xref section with /Prev chains to
    the original; the NEWEST entry per object must win."""
    import re as _re

    from specialsid_spark.operators.pdf import build_text_pdf, read_xref

    base = build_text_pdf(["v1 text\nbody"])
    old_start = int(_re.search(rb"startxref\s+(\d+)", base).group(1))
    entries0, _ = read_xref(base)
    old_off_obj1 = entries0[1][1]
    # append a replacement catalog (object 1) + a new xref section
    upd = bytearray(base)
    new_off = len(upd)
    upd += b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R /Version /1.4 >>\nendobj\n"
    xref_pos = len(upd)
    upd += b"xref\n1 1\n%010d 00000 n \n" % new_off
    upd += (
        b"trailer\n<< /Size %d /Root 1 0 R /Prev %d >>\nstartxref\n%d\n%%%%EOF\n"
        % (len(entries0), old_start, xref_pos)
    )
    entries, trailer = read_xref(bytes(upd))
    assert entries[1] == (1, new_off, 0) and entries[1][1] != old_off_obj1
    assert len(entries) == len(entries0)  # older sections fill the rest


def test_png_unpredict_filters():
    """Each PNG row filter undoes exactly (Sub/Up/Average/Paeth)."""
    from specialsid_spark.operators.pdf import _png_unpredict

    raw = [bytes([10, 20, 30]), bytes([13, 24, 35]), bytes([1, 2, 250])]
    enc = bytearray()
    prev = bytes(3)
    for ri, row in enumerate(raw):
        ft = [0, 2, 4][ri]  # None, Up, Paeth
        enc.append(ft)
        if ft == 0:
            enc += row
        elif ft == 2:
            enc += bytes((row[i] - prev[i]) & 0xFF for i in range(3))
        else:  # Paeth (bpp=1)
            out = bytearray()
            for i in range(3):
                a = row[i - 1] if i else 0
                b, c = prev[i], (prev[i - 1] if i else 0)
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                out.append((row[i] - pred) & 0xFF)
            enc += out
        prev = row
    assert _png_unpredict(bytes(enc), 3) == b"".join(raw)


def test_cid_text_pdf_objstm_layout():
    """CID/Type0 PDFs in the modern layout (font + descendant dicts in
    the ObjStm, CMap stream top-level) extract identically."""
    from specialsid_spark.operators.pdf import build_cid_text_pdf, extract_page_text

    pages = ["head\nhello cid world", "second\nmore glyphs: xyz"]
    modern = build_cid_text_pdf(pages, layout="objstm")
    assert modern.startswith(b"%PDF-1.5")
    assert extract_page_text(modern) == pages
    assert extract_page_text(build_cid_text_pdf(pages)) == pages


@settings(max_examples=25, deadline=None)
@given(
    texts=st.lists(
        st.text(
            alphabet=st.characters(min_codepoint=32, max_codepoint=126),
            min_size=0,
            max_size=60,
        ),
        min_size=1,
        max_size=4,
    ),
    objstm=st.booleans(),
)
def test_text_pdf_roundtrip_property(texts, objstm):
    """Any printable-ASCII page set must survive write→extract exactly,
    in BOTH file layouts (classic xref table and ObjStm/XRef-stream)."""
    from specialsid_spark.operators.pdf import build_text_pdf, extract_page_text

    layout = "objstm" if objstm else "classic"
    blob = build_text_pdf(texts, layout=layout)
    assert extract_page_text(blob) == texts


def test_winansi_text_roundtrip():
    """Characters in CP-1252's 0x80-0x9F block (curly quotes, em-dash,
    €, ellipsis) must survive write→extract: the writer declares
    /WinAnsiEncoding and encodes CP-1252; a latin-1 decoder would
    return C1 control characters instead."""
    from specialsid_spark.operators.pdf import build_text_pdf, extract_page_text

    pages = ["“smart” — €42\n‘single’ … †‡ ™ œŒ žŽ", "plain ascii\nétudes — naïve"]
    for layout in ("classic", "objstm"):
        blob = build_text_pdf(pages, layout=layout)
        assert extract_page_text(blob) == pages, layout
        # the raw bytes must actually exercise 0x80-0x9F (not latin-1)
        assert "—".encode("cp1252") == b"\x97"


def test_differences_remap_roundtrip():
    """/Differences overrides individual codes: the writer encodes the
    named glyphs at remapped positions, and a reader ignoring the array
    would decode the UNDERLYING WinAnsi characters instead."""
    from specialsid_spark.operators.pdf import build_text_pdf, extract_page_text

    diffs = {0xD0: "Euro", 0xD1: "quotedblleft", 0xD7: "emdash"}
    pages = ["price €9 “quoted” — done\nplain tail"]
    blob = build_text_pdf(pages, differences=diffs)
    assert extract_page_text(blob) == pages
    # the € really is stored as code 0xD0 (WinAnsi Ð), not CP-1252 0x80
    assert b"\xd0" in blob and "€".encode("cp1252") not in blob


def test_differences_without_winansi_base():
    """A /Differences array on a font with no WinAnsi base still
    applies over the latin-1 default table."""
    from specialsid_spark.operators.pdf import _simple_encoding_table

    fhead = (
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Courier"
        b" /Encoding << /Differences [ 65 /Euro /emdash 200 /uni0416 ] >> >>"
    )
    t = _simple_encoding_table({}, fhead)
    assert t[65] == "€" and t[66] == "—" and t[200] == "Ж"
    assert t[0x41 - 1] == "@" and t[0x80] == "\x80"  # latin-1 base elsewhere


def test_glyph_name_forms():
    from specialsid_spark.operators.pdf import _glyph_to_unicode

    assert _glyph_to_unicode("Euro") == "€"
    assert _glyph_to_unicode("A") == "A"
    assert _glyph_to_unicode("uni20AC") == "€"
    assert _glyph_to_unicode("u1F600") == "😀"
    assert _glyph_to_unicode("nosuchglyphname") == "�"


# ------------------------------------------------------- LZW (r11)

def test_lzw_content_stream_roundtrip():
    from specialsid_spark.operators.pdf import build_text_pdf, extract_page_text

    pages = ["lzw page one\nwith (escapes) and \\backslash", "page two"]
    blob = build_text_pdf(pages, compress="lzw")
    assert b"/LZWDecode" in blob and b"/FlateDecode" not in blob
    assert extract_page_text(blob) == pages


def test_lzw_decode_pdf_early_change_param():
    from specialsid_spark.operators.pdf import lzw_decode_pdf
    from specialsid_spark.operators.tiff import lzw_encode_tiff

    data = bytes((i * 7) % 251 for i in range(4096))
    enc = lzw_encode_tiff(data)  # early-change encoder (PDF default)
    assert lzw_decode_pdf(b"<< /Filter /LZWDecode >>", enc) == data
    assert lzw_decode_pdf(b"<< /EarlyChange 1 >>", enc) == data
    # /EarlyChange 0 desyncs at the first width boundary
    assert lzw_decode_pdf(b"<< /EarlyChange 0 >>", enc) != data


def test_lzw_decode_pdf_predictor_degrades():
    from specialsid_spark.operators.pdf import lzw_decode_pdf

    assert lzw_decode_pdf(b"<< /Predictor 12 >>", b"\x80\x00") is None


def test_lzw_early_change_zero_roundtrip():
    """A late-change stream decodes only under early_change=0."""
    from specialsid_spark.operators.tiff import lzw_decode_tiff

    # build a late-change stream by bit-packing with the shifted rule
    data = bytes((i * 13) % 256 for i in range(2000))
    out = bytearray()
    acc = nacc = 0
    width = 9

    def emit(code):
        nonlocal acc, nacc
        acc = (acc << width) | code
        nacc += width
        while nacc >= 8:
            nacc -= 8
            out.append((acc >> nacc) & 0xFF)
            acc &= (1 << nacc) - 1

    table = {bytes([i]): i for i in range(256)}
    next_code = 258
    emit(256)
    w = b""
    for b in data:
        wc = w + bytes([b])
        if wc in table:
            w = wc
            continue
        # LATE change: widen one code later than the TIFF encoder
        if next_code == (1 << width) and width < 12:
            width += 1
        emit(table[w])
        table[wc] = next_code
        next_code += 1
        w = bytes([b])
    if next_code == (1 << width) and width < 12:
        width += 1
    if w:
        emit(table[w])
        # decoder catches up its one-entry lag on the final data code
        if next_code == (1 << width) - 1 and width < 12:
            width += 1
    emit(257)
    if nacc:
        out.append((acc << (8 - nacc)) & 0xFF)
    enc = bytes(out)
    assert bytes(lzw_decode_tiff(enc, early_change=0)) == data
