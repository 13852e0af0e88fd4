"""Multimodal-column queries (SURVEY.md X3): binary columns end-to-end.

`mm_binary_meta` is fully oracle-checked (byte length + md5 over the
blob).  The decode/crop/page-explode stubs are genuinely non-SQL
(mapInPandas kernels) -> rows-only checks, as the driver contract
allows; their *plumbing* correctness is pinned by tests/test_multimodal.py.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from specialsid_spark.catalog import load
from specialsid_spark.operators.multimodal import decode_image_stub, explode_pdf_pages_stub
from specialsid_spark.operators.rows import map_rows
from specialsid_spark.queries import register


def _as_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents.text re-materialized as an opaque binary payload column
    — the stand-in for image/audio blobs in this container."""
    d = load(spark, sf_dir, "documents")
    return d.select("doc_id", F.encode("text", "UTF-8").alias("blob"))


@register(
    "mm_binary_meta",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
           md5(text) AS blob_md5
    FROM documents
    ORDER BY doc_id
    """,
)
def mm_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BinaryType metadata through the plan: length + content hash,
    computed on the binary column itself (JVM-side, no Python)."""
    b = _as_binary(spark, sf_dir)
    return b.select(
        "doc_id",
        F.length("blob").cast("long").alias("n_bytes"),
        F.md5("blob").alias("blob_md5"),
    ).orderBy("doc_id")


@register(
    "mm_decode_meta_stub",
    # The mapInPandas kernel itself is non-SQL, but its OUTPUT contract is
    # fully deterministic: real header parse for recognized image bytes
    # (none exist among document texts — verified no magic-header
    # collisions at every sf), md5-derived fallback otherwise.  DuckDB
    # restates that fallback arithmetic exactly, upgrading this from a
    # rows-only check to a value-compared one.
    oracle="""
    SELECT doc_id,
           CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
           sha256(text) AS sha,
           64 + ('0x' || substring(md5(text), 1, 2))::INT AS width,
           64 + ('0x' || substring(md5(text), 3, 2))::INT AS height,
           CASE (('0x' || substring(md5(text), 5, 2))::INT % 3)
             WHEN 0 THEN 'jpeg' WHEN 1 THEN 'png' ELSE 'webp' END AS format
    FROM documents
    ORDER BY doc_id
    """,
)
def mm_decode_meta_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched decode: blob -> (n_bytes, sha, width, height, format).
    Real header parse for real image containers; deterministic md5
    fallback for opaque payloads (which is what document-text bytes are)."""
    return decode_image_stub(_as_binary(spark, sf_dir)).orderBy("doc_id")


# Deterministic JPEG fixture grammar shared by the two codec queries and
# their SQL oracles: a 32×24 GRAYSCALE image per doc, tiled into 8×8
# blocks where block (bi, bj) is uniform with value
# (doc_id*31 + page*59 + bi*7 + bj*13) % 256.  Uniform blocks carry DC
# only, and at quality 100 every quantizer step is 1, so
# decode(encode(img)) == img EXACTLY — which lets DuckDB restate the
# decoded pixel sums as pure integer arithmetic over (y, x) cells.  Any
# codec defect (zigzag, Huffman table, DC prediction, IDCT, crop
# offsets) lands in pix_sum and fails the hash compare.
_IMG_W, _IMG_H = 32, 24
_N_CODEC_DOCS = 64


def _fixture_gray(doc_id: int, page: int):
    import numpy as np

    yy, xx = np.mgrid[0:_IMG_H, 0:_IMG_W]
    return (
        (doc_id * 31 + page * 59 + (yy // 8) * 7 + (xx // 8) * 13) % 256
    ).astype(np.uint8)


_SQL_CELLS = f"""
    docs AS (SELECT doc_id FROM documents WHERE doc_id < {_N_CODEC_DOCS}),
    ys AS (SELECT unnest(range(0, {_IMG_H})) AS y),
    xs AS (SELECT unnest(range(0, {_IMG_W})) AS x)
"""


@register(
    "mm_jpeg_crop_pixels",
    oracle=f"""
    WITH {_SQL_CELLS},
    bbox AS (
      SELECT doc_id,
             doc_id % 9 AS ymin, doc_id % 13 AS xmin,
             least({_IMG_H}, doc_id % 9 + 8 + doc_id % 11) AS ymax,
             least({_IMG_W}, doc_id % 13 + 10 + doc_id % 15) AS xmax
      FROM docs
    )
    SELECT b.doc_id,
           CAST(b.xmax - b.xmin AS INT) AS crop_w,
           CAST(b.ymax - b.ymin AS INT) AS crop_h,
           CAST(SUM((b.doc_id * 31 + (ys.y // 8) * 7 + (xs.x // 8) * 13) % 256)
                AS BIGINT) AS pix_sum
    FROM bbox b
    CROSS JOIN ys CROSS JOIN xs
    WHERE ys.y >= b.ymin AND ys.y < b.ymax AND xs.x >= b.xmin AND xs.x < b.xmax
    GROUP BY 1, 2, 3
    ORDER BY doc_id
    """,
)
def mm_jpeg_crop_pixels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3/D3 with REAL JPEG pixels, oracle-hash-checked: per doc, build
    the deterministic block image, encode as baseline JPEG (quality 100,
    operators/jpeg.py — real Huffman/DCT stream), crop a doc-derived
    bbox with crop_jpeg (decode → pixel slice → PNG), decode the PNG,
    and report the crop dims + exact pixel sum.  DuckDB reproduces the
    same numbers from the fixture arithmetic — a full cross-engine proof
    that the from-scratch codec round-trips pixels.

    Scale shape: one mapInPandas over a doc-id spine; every encode/
    decode is per-row independent (Arrow-batched, embarrassingly
    parallel), no shuffle at all before the final sort."""
    from specialsid_spark.operators.jpeg import crop_jpeg, encode_jpeg
    from specialsid_spark.operators.multimodal import decode_png

    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < _N_CODEC_DOCS)

    def kernel(doc_id):
        img = _fixture_gray(doc_id, 0)
        jb = encode_jpeg(_IMG_W, _IMG_H, 1, img.tobytes(), quality=100)
        ymin, xmin = doc_id % 9, doc_id % 13
        ymax, xmax = ymin + 8 + doc_id % 11, xmin + 10 + doc_id % 15
        w, h, _ch, px = decode_png(crop_jpeg(jb, ymin, xmin, ymax, xmax))
        yield doc_id, w, h, sum(px)

    schema = "doc_id long, crop_w int, crop_h int, pix_sum long"
    return map_rows(d.select("doc_id"), kernel, schema).orderBy("doc_id")


@register(
    "mm_pdf_page_images",
    oracle=f"""
    WITH {_SQL_CELLS},
    pages AS (SELECT unnest(range(0, 2)) AS page_no)
    SELECT d.doc_id, CAST(p.page_no + 1 AS INT) AS page_no,
           CAST({_IMG_W} AS INT) AS width, CAST({_IMG_H} AS INT) AS height,
           CAST(SUM((d.doc_id * 31 + p.page_no * 59 + (ys.y // 8) * 7
                     + (xs.x // 8) * 13) % 256) AS BIGINT) AS pix_sum
    FROM docs d CROSS JOIN pages p CROSS JOIN ys CROSS JOIN xs
    GROUP BY 1, 2
    ORDER BY doc_id, page_no
    """,
)
def mm_pdf_page_images(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1 end-to-end with REAL page rasters, oracle-hash-checked: per
    doc, encode two deterministic JPEG pages, assemble a real PDF
    (operators/pdf.py writer), run the production page explode
    (explode_pdf_pages — /Pages-tree walk, DCTDecode extraction), then
    DECODE each emitted page and report its dims + exact pixel sum.
    The oracle restates the sums arithmetically, proving the PDF write →
    parse → extract → JPEG-decode chain preserves every pixel.

    Scale shape: same as mm_jpeg_crop_pixels — per-doc independent
    mapInPandas work, then the explode's 1→N fan-out; the only shuffle
    is the final order."""
    from specialsid_spark.operators.jpeg import decode_jpeg, encode_jpeg
    from specialsid_spark.operators.multimodal import explode_pdf_pages
    from specialsid_spark.operators.pdf import build_image_pdf

    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < _N_CODEC_DOCS)

    def build(doc_id):
        pages = [
            encode_jpeg(_IMG_W, _IMG_H, 1, _fixture_gray(doc_id, p).tobytes(), quality=100)
            for p in range(2)
        ]
        yield doc_id, build_image_pdf(pages)

    pdfs = map_rows(d.select("doc_id"), build, "doc_id long, blob binary")
    pages = explode_pdf_pages(pdfs)

    def measure(doc_id, page_no, page_bytes):
        w, h, _ch, px = decode_jpeg(page_bytes)
        yield doc_id, page_no, w, h, sum(px)

    return map_rows(
        pages.select("doc_id", "page_no", "page_bytes"),
        measure,
        "doc_id long, page_no int, width int, height int, pix_sum long",
    ).orderBy("doc_id", "page_no")


@register(
    "mm_pdf_text_extract",
    # Fixture grammar (restated verbatim below in DuckDB string concat):
    # page p of doc d carries two lines with doc-derived digits, literal
    # parentheses, and a literal backslash — so every hash compare
    # exercises escape handling, the TJ split, and multi-line Td breaks.
    oracle=f"""
    WITH docs AS (SELECT doc_id FROM documents WHERE doc_id < {_N_CODEC_DOCS}),
    pages AS (SELECT unnest(range(0, 2)) AS p),
    txt AS (
      SELECT d.doc_id, p.p,
             'doc ' || d.doc_id || ' page ' || p.p
             || ' alpha' || (d.doc_id * 7 + p.p) % 10 || chr(10)
             || 'beta (v' || (d.doc_id * 3 + p.p) % 5 || ') gamma\\delta'
             AS page_text
      FROM docs d CROSS JOIN pages p
    )
    SELECT doc_id, CAST(p + 1 AS INT) AS page_no,
           CAST(length(page_text) AS INT) AS n_chars, page_text
    FROM txt
    ORDER BY doc_id, page_no
    """,
)
def mm_pdf_text_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1∘X4, VERDICT r4 #2 — PDF→TEXT for born-digital PDFs, the
    missing LLM-corpus operator: per doc, write a real two-page text
    PDF (operators/pdf.py build_text_pdf — Flate-compressed content
    streams, kerned TJ first lines, Td line advances), then run the
    from-scratch content-stream interpreter (extract_page_text: BT/ET
    walk, Tj/'/\"/TJ show-text, escape + octal + hex string decoding)
    and emit each page's recovered text verbatim.  The oracle restates
    the fixture text in pure SQL — any defect in the writer, the Flate
    round-trip, string escaping, or line-break reconstruction breaks
    the hash.

    Scale shape: identical to the codec queries — per-doc independent
    mapInPandas, no shuffle before the final sort."""
    from specialsid_spark.operators.pdf import build_text_pdf, extract_page_text

    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < _N_CODEC_DOCS)

    def kernel(doc_id):
        pages = [
            f"doc {doc_id} page {p} alpha{(doc_id * 7 + p) % 10}\n"
            f"beta (v{(doc_id * 3 + p) % 5}) gamma\\delta"
            for p in range(2)
        ]
        for p, text in enumerate(extract_page_text(build_text_pdf(pages))):
            yield doc_id, p + 1, len(text), text

    schema = "doc_id long, page_no int, n_chars int, page_text string"
    return map_rows(d.select("doc_id"), kernel, schema).orderBy("doc_id", "page_no")


@register(
    "mm_pdf_objstm_text",
    # Same fixture text grammar as mm_pdf_text_extract, but the PDFs are
    # written in the MODERN (PDF 1.5) layout: page/font/catalog dicts
    # packed in a Flate-compressed /Type /ObjStm, cross-reference as a
    # predictor-coded /Type /XRef stream.  The structural literals are
    # part of the oracle: the writer packs exactly 3 + n_pages dicts
    # (catalog, pages root, font, each page) into the ObjStm, and
    # pdf_page_count must see BOTH pages even though no /Type /Page is
    # visible to a raw byte scan.
    oracle=f"""
    WITH docs AS (SELECT doc_id FROM documents WHERE doc_id < {_N_CODEC_DOCS}),
    pages AS (SELECT unnest(range(0, 2)) AS p),
    txt AS (
      SELECT d.doc_id, p.p,
             'objstm doc ' || d.doc_id || ' pg ' || p.p
             || ' k' || (d.doc_id * 11 + p.p) % 10 || chr(10)
             || 'packed (x' || (d.doc_id * 5 + p.p) % 7 || ') tail\\end'
             AS page_text
      FROM docs d CROSS JOIN pages p
    )
    SELECT doc_id, CAST(p + 1 AS INT) AS page_no,
           CAST(length(page_text) AS INT) AS n_chars, page_text,
           5 AS n_objstm_objects, 2 AS n_pages_counted
    FROM txt
    ORDER BY doc_id, page_no
    """,
)
def mm_pdf_objstm_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r6 — OBJECT-STREAM PDFs end-to-end (the r5 verdict's top gap:
    most modern born-digital PDFs keep their page dicts inside
    compressed /ObjStm streams, which a top-level byte scan cannot
    see).  Per doc, write a two-page text PDF in the PDF 1.5 layout
    (operators/pdf.py ``build_text_pdf(layout="objstm")`` — one
    Flate-compressed object stream holding every dict, plus a
    /Type /XRef cross-reference STREAM with PNG-Up predictor), then
    extract with the same production readers: ``extract_page_text``
    (whose object scanner now inflates ObjStms transparently),
    ``read_xref`` (xref-stream decode: /W fields, /Index, predictor
    undo — the type-2 entry count proves the compressed-object map was
    actually read), and ``pdf_page_count`` (sees packed page dicts).

    Scale shape: identical to the codec queries — per-doc independent
    mapInPandas, no shuffle before the final sort."""
    from specialsid_spark.operators.multimodal import pdf_page_count
    from specialsid_spark.operators.pdf import (
        build_text_pdf,
        extract_page_text,
        read_xref,
    )

    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < _N_CODEC_DOCS)

    def kernel(doc_id):
        pages = [
            f"objstm doc {doc_id} pg {p} k{(doc_id * 11 + p) % 10}\n"
            f"packed (x{(doc_id * 5 + p) % 7}) tail\\end"
            for p in range(2)
        ]
        blob = build_text_pdf(pages, layout="objstm")
        entries, _trailer = read_xref(blob)
        n_packed = sum(1 for e in entries.values() if e[0] == 2)
        n_pages = pdf_page_count(blob)
        for p, text in enumerate(extract_page_text(blob)):
            yield doc_id, p + 1, len(text), text, n_packed, n_pages

    schema = (
        "doc_id long, page_no int, n_chars int, page_text string, "
        "n_objstm_objects int, n_pages_counted int"
    )
    return map_rows(d.select("doc_id"), kernel, schema).orderBy("doc_id", "page_no")


@register(
    "mm_pdf_winansi_text",
    # Fixture grammar: page text mixes CP-1252 0x80-0x9F characters
    # decoded through the font's declared /WinAnsiEncoding (‘ ’ … † ‡)
    # with characters the /Differences array REMAPS to 0xD0-0xD7 codes
    # (€ “ ” —) — a decoder conflating WinAnsi with latin-1, or
    # ignoring /Differences, produces C1 controls / Ð Ñ Ò × and breaks
    # the hash.  The oracle restates the text as a UTF-8 SQL literal.
    oracle=f"""
    WITH docs AS (SELECT doc_id FROM documents WHERE doc_id < {_N_CODEC_DOCS}),
    txt AS (
      SELECT doc_id,
             'doc ' || doc_id || ' “w' || (doc_id * 7) % 10 || '” — €'
             || (doc_id * 3) % 100 || chr(10)
             || '‘beta…’ †(v' || (doc_id * 5) % 7 || ')‡'
               AS page_text
      FROM docs
    )
    SELECT doc_id, CAST(length(page_text) AS INT) AS n_chars, page_text
    FROM txt
    ORDER BY doc_id
    """,
)
def mm_pdf_winansi_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r7 VERDICT #2 — WinAnsi + /Differences simple-font text.  Per
    doc, write a one-page PDF whose font declares ``/BaseEncoding
    /WinAnsiEncoding`` with a ``/Differences`` array remapping
    Euro/quotedblleft/quotedblright/emdash onto 0xD0-0xD7, and whose
    text also uses un-remapped 0x80-0x9F WinAnsi characters; extract
    with the production reader (operators/pdf.py
    ``_simple_encoding_table``: CP-1252 base via the stdlib codec,
    glyph-name resolution through the AGL subset).  Reference parity:
    the reference's PDFs (pnp.co.za grocery flyers,
    scripts/scr/pnpscrLambda.py:110-142) are real-world WinAnsi
    documents full of smart quotes and dashes.

    Scale shape: per-doc independent mapInPandas, no shuffle before
    the final sort — identical to the codec queries."""
    from specialsid_spark.operators.pdf import build_text_pdf, extract_page_text

    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < _N_CODEC_DOCS)
    diffs = {
        0xD0: "Euro",
        0xD1: "quotedblleft",
        0xD2: "quotedblright",
        0xD7: "emdash",
    }

    def kernel(doc_id):
        text = (
            f"doc {doc_id} “w{(doc_id * 7) % 10}” — "
            f"€{(doc_id * 3) % 100}\n"
            f"‘beta…’ †(v{(doc_id * 5) % 7})‡"
        )
        got = extract_page_text(build_text_pdf([text], differences=diffs))[0]
        yield doc_id, len(got), got

    schema = "doc_id long, n_chars int, page_text string"
    return map_rows(d.select("doc_id"), kernel, schema).orderBy("doc_id")


@register(
    "mm_pdf_text_corpus_pipeline",
    # Pages are substrings of the REAL documents.text (pure ASCII, no
    # newlines — verified per sf), so DuckDB re-derives every page's
    # text, char/token counts, and md5 without touching a PDF: the
    # whole corpus hop (write → Flate → interpret → tokenize) must be
    # an exact identity for the hash to pass.
    oracle=f"""
    WITH docs AS (SELECT doc_id, text FROM documents WHERE doc_id < {_N_CODEC_DOCS}),
    pages AS (
      SELECT doc_id, 1 AS page_no, substr(text, 1, 120) AS pt FROM docs
      UNION ALL
      SELECT doc_id, 2 AS page_no, substr(text, 121, 120) AS pt FROM docs
    )
    SELECT doc_id, CAST(page_no AS INT) AS page_no,
           CASE WHEN doc_id % 2 = 0 THEN 'classic' ELSE 'objstm' END AS layout,
           CAST(length(pt) AS INT) AS n_chars,
           CAST(CASE WHEN trim(pt) = '' THEN 0
                ELSE len(regexp_split_to_array(trim(pt), '\\s+')) END AS INT)
             AS n_tokens,
           md5(pt) AS text_md5
    FROM pages
    ORDER BY doc_id, page_no
    """,
)
def mm_pdf_text_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r5 extension — the PDF→LLM-corpus hop END-TO-END on real corpus
    text: take each document's actual text, paginate it into a
    born-digital PDF (build_text_pdf), run the production
    explode_pdf_text hop (mapInPandas content-stream interpretation),
    then compute corpus statistics (char count, whitespace token
    count, content hash) with JVM-side expressions on the extracted
    text.  This is the dataflow a 100 TB PDF lake runs to feed a
    training corpus; the oracle proves the text survives the full
    round trip byte-for-byte.  Since r6 the corpus is MIXED-LAYOUT —
    even docs write classic-xref PDFs, odd docs the PDF 1.5
    ObjStm/XRef-stream layout — so the one production hop is proven
    over both file generations in the same run (real lakes hold both).

    Scale shape: build + extract are per-row-independent mapInPandas;
    the token/hash metrics are whole-stage-codegen'd column
    expressions; the only shuffle is the final sort."""
    from specialsid_spark.operators.multimodal import explode_pdf_text
    from specialsid_spark.operators.pdf import build_text_pdf

    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < _N_CODEC_DOCS)

    def build(doc_id, text):
        layout = "classic" if doc_id % 2 == 0 else "objstm"
        yield doc_id, build_text_pdf([text[:120], text[120:240]], layout=layout)

    pdfs = map_rows(d.select("doc_id", "text"), build, "doc_id long, blob binary")
    pages = explode_pdf_text(pdfs)
    return pages.select(
        "doc_id",
        "page_no",
        F.when(F.col("doc_id") % 2 == 0, "classic")
        .otherwise("objstm")
        .alias("layout"),
        F.length("page_text").cast("int").alias("n_chars"),
        F.when(F.trim("page_text") == "", 0)
        .otherwise(F.size(F.split(F.trim("page_text"), r"\s+")))
        .cast("int")
        .alias("n_tokens"),
        F.md5(F.col("page_text").cast("binary")).alias("text_md5"),
    ).orderBy("doc_id", "page_no")


@register(
    "mm_compressed_text_roundtrip",
    # Real corpora arrive gzip/bz2/xz-compressed; the oracle restates
    # identity (decompress(compress(text)) == text) per doc without
    # touching a codec — the hash fails if sniffing, the deterministic
    # gzip header, or any stdlib wrapper mangles a byte.
    oracle="""
    SELECT doc_id,
           CASE doc_id % 3 WHEN 0 THEN 'gzip' WHEN 1 THEN 'bz2' ELSE 'xz' END
             AS codec,
           CAST(length(text) AS INT) AS n_chars,
           md5(text) AS text_md5
    FROM documents
    ORDER BY doc_id
    """,
)
def mm_compressed_text_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r5 extension — the compressed-text ingest path: every document
    compressed with its doc-derived codec (gzip member with pinned
    mtime=0 header / bz2 / xz), then decompressed through the
    magic-sniffing dispatch (operators/compress.py decompress_auto)
    inside mapInPandas, emitting the RECOVERED text's length + md5.
    This is the member-by-member decompression a 100 TB web-dump lake
    runs at the ingest door — per-row independent, no shuffle before
    the final sort."""
    import hashlib

    from specialsid_spark.operators.compress import compress_text, decompress_auto

    d = load(spark, sf_dir, "documents")

    def kernel(doc_id, text):
        codec = ("gzip", "bz2", "xz")[doc_id % 3]
        back = decompress_auto(compress_text(text.encode("utf-8"), codec))
        yield doc_id, codec, len(back.decode("utf-8")), hashlib.md5(back).hexdigest()

    return map_rows(
        d.select("doc_id", "text"), kernel,
        "doc_id long, codec string, n_chars int, text_md5 string",
    ).orderBy("doc_id")


def _page_rgb(blob: bytes):
    """Rasterize a one-page PDF (operators/pdfraster.py) and return its
    pixels as a uint8 (height, width, 3) array, or None when the
    rasterizer degrades — the caller then emits its impossible -1 row.
    numpy sums uint8 in a 64-bit accumulator, so pixel sums are exact."""
    import numpy as np

    from specialsid_spark.operators.pdfraster import rasterize_page

    r = rasterize_page(blob)
    if r is None:
        return None
    w, h, _ch, px = r
    return np.frombuffer(px, dtype=np.uint8).reshape(h, w, 3)


def _page_gray(blob: bytes):
    """The gray (first) plane of :func:`_page_rgb`, or None."""
    rgb = _page_rgb(blob)
    return None if rgb is None else rgb[:, :, 0]


def _ink(gray) -> tuple[int, int]:
    """(non-white pixel count, gray sum) of a gray plane."""
    return int((gray != 255).sum()), int(gray.sum())


@register(
    "mm_pdf_rasterize_page",
    # r8 (VERDICT #3): the last reference-capability delta — rastering
    # a text+vector+image page to pixels (the reference does it with
    # Poppler for its vision hop).  Fixture: writer-generated page with
    # a gray rect fill, a 12pt text line, and an 8x8 gray image placed
    # 1:1 — every coordinate integral at dpi 72, so ink coverage and
    # the gray-channel sum have closed forms the oracle restates from
    # doc_id arithmetic: glyph boxes are round(0.4*12)x(0.6*12) = 5x7
    # px advancing 6 px, the rect is (40 + doc_id%8)x30 at color
    # (doc_id*7)%200, image pixels are (doc_id*5+k)%200.  The r9 curve
    # block re-derives the Bezier arch's scanline coverage EXACTLY:
    # device control points, 16 uniform-t samples with the pinned
    # association order (t = k/16 is exact in binary, so every double
    # matches operators/pdfraster.py bit-for-bit), edge crossings at
    # pixel centers, ceil(x-0.5) span bounds.
    oracle=f"""
    WITH docs AS (SELECT doc_id FROM documents WHERE doc_id < {_N_CODEC_DOCS}),
    base AS (
      SELECT doc_id,
             3 + length(CAST(doc_id AS VARCHAR)) AS n_chars,
             (40 + doc_id % 8) * 30 AS rect_area,
             (doc_id * 7) % 200 AS rect_color,
             (SELECT SUM((doc_id * 5 + k.k) % 200)
              FROM (SELECT unnest(range(0, 64)) AS k) k) AS img_sum
      FROM docs
    ),
    curve AS (
      SELECT doc_id,
             CAST(420 + doc_id % 5 AS DOUBLE) AS x0,
             CAST(692 AS DOUBLE) AS y0d,
             CAST(80 + doc_id % 7 AS DOUBLE) AS w,
             CAST(40 + doc_id % 9 AS DOUBLE) AS b,
             (doc_id * 11) % 200 AS cc
      FROM docs
    ),
    cpts AS (
      SELECT doc_id, k,
             u*u*u*x0 + 3*u*u*t*(x0+20) + 3*u*t*t*(x0+w-20) + t*t*t*(x0+w) AS px,
             u*u*u*y0d + 3*u*u*t*(y0d-b) + 3*u*t*t*(y0d-b) + t*t*t*y0d AS py
      FROM (
        SELECT doc_id, x0, y0d, w, b, kk.k AS k,
               CAST(kk.k AS DOUBLE) / 16 AS t,
               1.0 - CAST(kk.k AS DOUBLE) / 16 AS u
        FROM curve, (SELECT unnest(range(0, 17)) AS k) kk
      )
    ),
    cedges AS (
      SELECT a.doc_id, a.px AS ex0, a.py AS ey0, c2.px AS ex1, c2.py AS ey1
      FROM cpts a JOIN cpts c2 ON c2.doc_id = a.doc_id AND c2.k = a.k + 1
      WHERE a.py <> c2.py
    ),
    crossings AS (
      SELECT e.doc_id, sl.py AS row_y,
             e.ex0 + ((CAST(sl.py AS DOUBLE) + 0.5) - e.ey0)
                     * (e.ex1 - e.ex0) / (e.ey1 - e.ey0) AS cx
      FROM cedges e, (SELECT unnest(range(600, 792)) AS py) sl
      WHERE (e.ey0 <= CAST(sl.py AS DOUBLE) + 0.5
             AND CAST(sl.py AS DOUBLE) + 0.5 < e.ey1)
         OR (e.ey1 <= CAST(sl.py AS DOUBLE) + 0.5
             AND CAST(sl.py AS DOUBLE) + 0.5 < e.ey0)
    ),
    cspans AS (
      SELECT doc_id, row_y,
             CAST(ceil(MAX(cx) - 0.5) AS BIGINT)
               - CAST(ceil(MIN(cx) - 0.5) AS BIGINT) AS npx
      FROM crossings GROUP BY doc_id, row_y
    ),
    cink AS (
      SELECT c.doc_id, c.cc,
             CAST(COALESCE(SUM(s.npx), 0) AS BIGINT) AS curve_ink
      FROM curve c LEFT JOIN cspans s ON s.doc_id = c.doc_id
      GROUP BY c.doc_id, c.cc
    )
    SELECT b.doc_id,
           612 AS width, 792 AS height,
           CAST(b.rect_area + 64 + b.n_chars * 35 + ci.curve_ink AS BIGINT) AS ink_px,
           CAST(255 * 612 * 792
                - 255 * b.n_chars * 35
                - (255 - b.rect_color) * b.rect_area
                - (255 * 64 - b.img_sum)
                - (255 - ci.cc) * ci.curve_ink AS BIGINT) AS gray_sum
    FROM base b JOIN cink ci ON ci.doc_id = b.doc_id
    ORDER BY b.doc_id
    """,
)
def mm_pdf_rasterize_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1 completion, r8 — deterministic PDF page RASTERIZATION
    (operators/pdfraster.py): content-stream interpreter painting rect
    fills, glyph-box text runs, and image XObjects into an RGB buffer
    at dpi 72 (reference parity: gen_pdf_imgLambda.py:51-60 rasters any
    page for the vision hop).  The query builds each doc's fixture
    page, rasters it, and emits exact ink coverage + gray-channel sum —
    a wrong pixel anywhere (transform math, y-flip, glyph advance,
    image scaling, rounding) shifts the sums.

    Scale shape: per-row independent mapInPandas, buffer bounded by
    page size x dpi^2 — no shuffle before the final sort."""
    from specialsid_spark.operators.pdfraster import build_raster_pdf

    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < _N_CODEC_DOCS)

    def kernel(doc_id):
        ipx = bytes((doc_id * 5 + k) % 200 for k in range(64))
        curve = (420 + doc_id % 5, 100, 80 + doc_id % 7, 40 + doc_id % 9, (doc_id * 11) % 200)
        gray = _page_gray(build_raster_pdf(
            f"DOC{doc_id}", (100, 100, 40 + doc_id % 8, 30, (doc_id * 7) % 200),
            (8, 8, ipx), curve=curve,
        ))
        if gray is None:  # degrade surfaces as an impossible row
            yield doc_id, -1, -1, -1, -1
            return
        h, w = gray.shape
        yield doc_id, w, h, *_ink(gray)

    schema = "doc_id long, width int, height int, ink_px long, gray_sum long"
    return map_rows(d.select("doc_id"), kernel, schema).orderBy("doc_id")


@register(
    "mm_pdf_glyph_text_raster",
    # r10 (VERDICT r9 #4): REAL TrueType glyph outlines in the
    # rasterizer — text ink is now the scanline coverage of embedded
    # glyf outlines (operators/truetype.py), not layout boxes.  The
    # fixture font (unitsPerEm 1024, size 64 -> scale 1/16 EXACT in
    # doubles) carries four oracle-closed-form glyphs: T = two rects
    # (800 px), O = rect + opposite-winding counter (nonzero ring,
    # 1472 px), V = one QUADRATIC piece closed by a horizontal edge
    # (the 8-segment pinned flatten the vink CTE re-derives: every
    # flattened coordinate is an exact multiple of 1/64, so ink is
    # pen-invariant and one CTE covers every char position), X = a
    # COMPOSITE glyph (component T offset (0,-128): integer device
    # shift, 800 px).  A defect anywhere — sfnt parsing, loca/glyf
    # decode, implied on-curve midpoints, winding, composite offsets,
    # advance widths, the quad flatten association order — moves a
    # pixel and fails the hash.
    oracle=f"""
    WITH docs AS (SELECT doc_id FROM documents WHERE doc_id < {_N_CODEC_DOCS}),
    vpts AS (
      SELECT k,
             u*u*76.0 + 2*u*t*104.0 + t*t*132.0 AS px,
             u*u*40.0 + 2*u*t*122.0 + t*t*40.0 AS py
      FROM (
        SELECT kk.k AS k, CAST(kk.k AS DOUBLE) / 8 AS t,
               1.0 - CAST(kk.k AS DOUBLE) / 8 AS u
        FROM (SELECT unnest(range(0, 9)) AS k) kk
      )
    ),
    vedges AS (
      SELECT a.px AS ex0, a.py AS ey0, b.px AS ex1, b.py AS ey1
      FROM vpts a JOIN vpts b ON b.k = a.k + 1
      WHERE a.py <> b.py
    ),
    vcross AS (
      SELECT sl.py AS row_y,
             e.ex0 + ((CAST(sl.py AS DOUBLE) + 0.5) - e.ey0)
                     * (e.ex1 - e.ex0) / (e.ey1 - e.ey0) AS cx
      FROM vedges e, (SELECT unnest(range(40, 130)) AS py) sl
      WHERE (e.ey0 <= CAST(sl.py AS DOUBLE) + 0.5
             AND CAST(sl.py AS DOUBLE) + 0.5 < e.ey1)
         OR (e.ey1 <= CAST(sl.py AS DOUBLE) + 0.5
             AND CAST(sl.py AS DOUBLE) + 0.5 < e.ey0)
    ),
    vink AS (
      SELECT CAST(SUM(npx) AS BIGINT) AS ink FROM (
        SELECT CAST(ceil(MAX(cx) - 0.5) AS BIGINT)
                 - CAST(ceil(MIN(cx) - 0.5) AS BIGINT) AS npx
        FROM vcross GROUP BY row_y)
    ),
    chars AS (
      SELECT d.doc_id, kk.k, (d.doc_id + kk.k) % 4 AS ctype
      FROM docs d, (SELECT unnest(range(0, 7)) AS k) kk
      WHERE kk.k < 3 + d.doc_id % 4
    ),
    perdoc AS (
      SELECT c.doc_id,
             CAST(COUNT(*) AS INT) AS n_chars,
             CAST(SUM(CASE c.ctype WHEN 0 THEN 800 WHEN 1 THEN 1472
                      WHEN 2 THEN v.ink ELSE 800 END) AS BIGINT) AS ink_px
      FROM chars c CROSS JOIN vink v
      GROUP BY c.doc_id
    )
    SELECT doc_id, 612 AS width, 792 AS height, n_chars, ink_px,
           CAST(255 * CAST(612 * 792 AS BIGINT) - 255 * ink_px AS BIGINT)
             AS gray_sum
    FROM perdoc
    ORDER BY doc_id
    """,
)
def mm_pdf_glyph_text_raster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1/X3 extension, r10 — embedded-font TEXT RENDERING: each doc's
    fixture page sets a doc-derived string ("TOVX" cycle, 3-6 chars)
    in an embedded TrueType font; the rasterizer parses the /FontFile2
    program (sfnt -> glyf outlines), flattens quadratics with the
    pinned 8-segment rule, and scanline-fills with nonzero winding —
    reference parity for Poppler's real type rendering
    (gen_pdf_imgLambda.py:51).  Emits exact ink coverage + gray sum
    per page; fonts without a TrueType program still degrade to the
    r8 glyph-box model (mm_pdf_rasterize_page pins that path).

    Scale shape: per-row independent mapInPandas (the font parses once
    per page render); buffer bounded by page size, never the corpus."""
    from specialsid_spark.operators.pdfraster import build_glyph_pdf

    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < _N_CODEC_DOCS)

    def kernel(doc_id):
        n = 3 + doc_id % 4
        gray = _page_gray(build_glyph_pdf("".join("TOVX"[(doc_id + k) % 4] for k in range(n))))
        if gray is None:  # degrade surfaces as an impossible row
            yield doc_id, -1, -1, -1, -1, -1
            return
        h, w = gray.shape
        yield doc_id, w, h, n, *_ink(gray)

    schema = "doc_id long, width int, height int, n_chars int, ink_px long, gray_sum long"
    return map_rows(d.select("doc_id"), kernel, schema).orderBy("doc_id")


@register(
    "mm_pdf_shading_raster",
    # r10 (VERDICT r9 #5): axial (Type 2) shading fills — the common
    # born-digital flyer gradient — painted through a rect clip
    # (re W n ... sh).  Fixture: DeviceGray gradient with doc-derived
    # stops (written with repr() so the parsed doubles are exact),
    # horizontal axis x 100->400 under a clip WIDER than the axis so
    # the /Extend clamp is exercised at both ends.  The oracle
    # re-derives every column's value with the SAME pinned double
    # chain: t = ((x+0.5-100)*300 + 0)/90000 clamped to [0,1], value =
    # floor((c0 + t*(c1-c0))*255 + 0.5) — floor(+0.5) because numpy and
    # DuckDB round() break ties differently; floor does not.
    oracle=f"""
    WITH docs AS (SELECT doc_id FROM documents WHERE doc_id < {_N_CODEC_DOCS}),
    cols AS (SELECT unnest(range(80, 420)) AS x),
    pix AS (
      SELECT d.doc_id,
             CAST(floor(
               ((40 + (d.doc_id * 3) % 160) / 255.0
                + LEAST(1.0, GREATEST(0.0,
                    ((CAST(c.x AS DOUBLE) + 0.5 - 100.0) * 300.0 + 0.0)
                      / 90000.0))
                  * ((200 + d.doc_id % 55) / 255.0
                     - (40 + (d.doc_id * 3) % 160) / 255.0))
               * 255.0 + 0.5) AS BIGINT) AS v
      FROM docs d, cols c
    )
    SELECT doc_id, 612 AS width, 792 AS height,
           CAST(100 * SUM(CASE WHEN v <> 255 THEN 1 ELSE 0 END) AS BIGINT)
             AS ink_px,
           CAST(255 * CAST(612 * 792 AS BIGINT) - 100 * SUM(255 - v)
                AS BIGINT) AS gray_sum,
           CAST(MIN(v) AS BIGINT) AS v_left,
           CAST(MAX(v) AS BIGINT) AS v_right
    FROM pix
    GROUP BY doc_id
    ORDER BY doc_id
    """,
)
def mm_pdf_shading_raster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1/X3 extension, r10 — axial SHADING rasterization
    (operators/pdfraster.py _paint_axial): per doc, a page whose only
    ink is a clipped DeviceGray axial gradient; emits exact ink
    coverage, gray-channel sum, and the clamped end colors (the
    /Extend pin).  Completes the rasterizer's paint sources for
    born-digital flyer art: flat fills (r8), Beziers (r9), glyph
    outlines (r10), gradients (r10).

    Scale shape: per-row independent mapInPandas, no shuffle before
    the final sort."""
    from specialsid_spark.operators.pdfraster import build_shading_pdf

    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < _N_CODEC_DOCS)

    def kernel(doc_id):
        c0 = (40 + (doc_id * 3) % 160) / 255.0
        c1 = (200 + doc_id % 55) / 255.0
        gray = _page_gray(build_shading_pdf((80, 620, 340, 100), (100, 0, 400, 0), c0, c1))
        if gray is None:  # degrade surfaces as an impossible row
            yield doc_id, -1, -1, -1, -1, -1, -1
            return
        h, w = gray.shape
        region = gray[72:172, 80:420]
        yield doc_id, w, h, *_ink(gray), region.min(), region.max()

    schema = (
        "doc_id long, width int, height int, ink_px long,"
        " gray_sum long, v_left long, v_right long"
    )
    return map_rows(d.select("doc_id"), kernel, schema).orderBy("doc_id")


@register(
    "mm_zstd_text_roundtrip",
    # r8 (VERDICT #2): the highest-frequency real-corpus wire format
    # still unreadable last round — modern LLM corpora ship .jsonl.zst.
    # operators/zstd.py implements RFC 8878 from the spec (FSE + Huffman
    # + sequences both directions); the oracle restates the identity
    # decompress(compress(text)) == text per doc, so the hash fails if
    # ANY layer (frame header, block split, literals entropy coding,
    # sequence bitstream, repeat offsets, xxh64 checksum) mangles a
    # byte.  The codec is additionally cross-validated against the
    # reference zstd implementation in tests/test_zstd.py.
    oracle="""
    SELECT doc_id,
           CAST(length(text) AS INT) AS n_chars,
           md5(text) AS text_md5
    FROM documents
    ORDER BY doc_id
    """,
)
def mm_zstd_text_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3/X4 extension, r8 — zstd ingest: every document compressed
    into an RFC 8878 frame (raw/RLE/compressed blocks, Huffman literals,
    predefined-FSE sequences, content checksum) and decompressed back
    through the magic-sniffing dispatch (operators/compress.py
    decompress_auto), emitting the RECOVERED text's length + md5.

    Scale shape: per-row independent mapInPandas — no shuffle before
    the final sort; at 100 TB each .zst member decodes where it lands,
    and frame history is bounded by the document, never the corpus."""
    from specialsid_spark.operators.compress import decompress_auto
    from specialsid_spark.operators.zstd import zstd_compress

    d = load(spark, sf_dir, "documents")

    def kernel(doc_id, text):
        back = decompress_auto(zstd_compress(text.encode("utf-8")))
        yield doc_id, len(back.decode("utf-8")), hashlib.md5(back).hexdigest()

    return map_rows(
        d.select("doc_id", "text"), kernel, "doc_id long, n_chars int, text_md5 string"
    ).orderBy("doc_id")


@register(
    "mm_lz4_text_roundtrip",
    # r9 (VERDICT #3): LZ4 joins the codec family — Spark's own
    # shuffle/event-log codec and a common corpus member format.
    # operators/lz4.py implements the public block + frame formats
    # (greedy sequence encoder, xxh32 header/content checksums); the
    # oracle restates the identity decompress(compress(text)) == text
    # per doc, so the hash fails if ANY layer (token/LSIC lengths,
    # offsets, overlap copies, frame descriptor, checksums) mangles a
    # byte.  Cross-validated against the lz4 CLI and the JVM's
    # lz4-java in tests/test_lz4.py.
    oracle="""
    SELECT doc_id,
           CAST(length(text) AS INT) AS n_chars,
           md5(text) AS text_md5
    FROM documents
    ORDER BY doc_id
    """,
)
def mm_lz4_text_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3/X4 extension, r9 — LZ4 ingest: every document compressed into
    an LZ4 frame and decompressed back through the magic-sniffing
    dispatch (operators/compress.py decompress_auto), emitting the
    RECOVERED text's length + md5.

    Scale shape: per-row independent mapInPandas — no shuffle before
    the final sort; at 100 TB each .lz4 member decodes where it lands,
    match history bounded by the member (independent blocks)."""
    from specialsid_spark.operators.compress import decompress_auto
    from specialsid_spark.operators.lz4 import lz4_frame_compress

    d = load(spark, sf_dir, "documents")

    def kernel(doc_id, text):
        back = decompress_auto(lz4_frame_compress(text.encode("utf-8")))
        yield doc_id, len(back.decode("utf-8")), hashlib.md5(back).hexdigest()

    return map_rows(
        d.select("doc_id", "text"), kernel, "doc_id long, n_chars int, text_md5 string"
    ).orderBy("doc_id")


@register(
    "mm_zip_archive_listing",
    # Fixture: a STORED-method ZIP per doc with 3 members holding text
    # slices; the listing (central-directory walk, NO extraction) must
    # recover each member's exact name and size — restated as substr
    # lengths.
    oracle=f"""
    WITH docs AS (SELECT doc_id, text FROM documents WHERE doc_id < {_N_CODEC_DOCS}),
    parts AS (SELECT unnest(range(0, 3)) AS p)
    SELECT d.doc_id,
           'doc' || d.doc_id || '/part' || p.p || '.txt' AS member_name,
           CAST(length(substr(d.text, p.p * 50 + 1, 50)) AS INT) AS n_bytes
    FROM docs d CROSS JOIN parts p
    ORDER BY doc_id, member_name
    """,
)
def mm_zip_archive_listing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r5 extension — archive NAVIGATION without extraction: per doc,
    build a real STORED ZIP (operators/compress.py build_zip —
    stdlib-zipfile-compatible) of 3 text-slice members, then list it
    via the central-directory walk (zip_entries) and explode one row
    per member.  Listing is the curation step that decides what is
    worth decompressing at 100 TB; it reads the directory at the END
    of the blob and never touches member payloads."""
    from specialsid_spark.operators.compress import build_zip, zip_entries

    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < _N_CODEC_DOCS)

    def kernel(doc_id, text):
        members = [
            (f"doc{doc_id}/part{p}.txt", text[p * 50 : (p + 1) * 50].encode("utf-8"))
            for p in range(3)
        ]
        for name, csize, usize in zip_entries(build_zip(members)):
            assert csize == usize  # STORED
            yield doc_id, name, usize

    return map_rows(
        d.select("doc_id", "text"), kernel, "doc_id long, member_name string, n_bytes int"
    ).orderBy("doc_id", "member_name")


@register(
    "mm_tar_webdataset_samples",
    # WebDataset shards: tar members sharing a key prefix form one
    # training sample.  The oracle restates member sizes from the
    # fixture arithmetic; grouping correctness (2 members per key,
    # exact byte totals) is what the hash checks.
    oracle=f"""
    WITH docs AS (SELECT doc_id, text FROM documents WHERE doc_id < {_N_CODEC_DOCS}),
    ss AS (SELECT unnest(range(0, 2)) AS s)
    SELECT d.doc_id,
           's' || d.doc_id || '_' || ss.s AS sample_key,
           CAST(2 AS INT) AS n_members,
           CAST(length(substr(d.text, ss.s * 30 + 1, 30))
                + ((d.doc_id + 7 * ss.s) % 90 + 10) AS BIGINT) AS total_bytes
    FROM docs d CROSS JOIN ss
    ORDER BY doc_id, sample_key
    """,
)
def mm_tar_webdataset_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r5 extension — the WebDataset pattern end-to-end: per doc, write
    a real ustar shard (operators/compress.py build_tar) holding two
    samples of (caption .txt, payload .bin) member pairs, LIST it
    without extraction (tar_entries), explode one row per member, and
    reassemble samples by key prefix with a JVM-side groupBy.  This is
    how multimodal training pipelines discover (image, caption) pairs
    in 100 TB of tar shards — the listing reads headers only, and the
    sample-assembly shuffle carries (key, size) pairs, never payloads.
    """
    from specialsid_spark.operators.compress import build_tar, tar_entries

    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < _N_CODEC_DOCS)

    def kernel(doc_id, text):
        members = []
        for s in range(2):
            key = f"s{doc_id}_{s}"
            members.append((f"{key}.txt", text[s * 30 : (s + 1) * 30].encode()))
            members.append((f"{key}.bin", b"\xab" * ((doc_id + 7 * s) % 90 + 10)))
        for name, _off, size in tar_entries(build_tar(members)):
            yield doc_id, name, size

    members = map_rows(
        d.select("doc_id", "text"), kernel, "doc_id long, member string, size long"
    )
    return (
        members.withColumn(
            "sample_key", F.regexp_replace("member", r"\.[a-z]+$", "")
        )
        .groupBy("doc_id", "sample_key")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_members"),
            F.sum("size").alias("total_bytes"),
        )
        .orderBy("doc_id", "sample_key")
    )


@register(
    "mm_warc_crawl_extract",
    # The body is a slice of the real document text, so DuckDB restates
    # the extraction without touching WARC/gzip — any defect in the
    # member split, record framing (Content-Length authoritative), or
    # HTTP-body slicing breaks the hash.
    oracle=f"""
    SELECT doc_id,
           'http://corpus.test/doc/' || doc_id AS uri,
           CAST(length(substr(text, 1, 200)) AS INT) AS body_n_chars,
           md5(substr(text, 1, 200)) AS body_md5
    FROM documents WHERE doc_id < {_N_CODEC_DOCS}
    ORDER BY doc_id
    """,
)
def mm_warc_crawl_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r5 extension — the web-crawl ingest chain Common Crawl consumers
    run, end-to-end: per doc, write a production-layout .warc.gz (one
    gzip member per record: request + response), split the members
    (zlib unused_data walk — no magic-scanning inside compressed
    data), parse WARC/1.0 record framing, keep the response, strip the
    HTTP header block, and emit the recovered body's length + md5.
    Per-row-independent mapInPandas; no shuffle before the final
    sort."""
    from specialsid_spark.operators.compress import (
        build_warc,
        split_gzip_members,
        warc_records,
    )

    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < _N_CODEC_DOCS)

    def kernel(doc_id, text):
        uri = f"http://corpus.test/doc/{doc_id}"
        http = b"HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n\r\n" + text[:200].encode("utf-8")
        wgz = build_warc(
            [("request", uri, b"GET / HTTP/1.1\r\n\r\n"), ("response", uri, http)], gz=True
        )
        for member in split_gzip_members(wgz):
            for rtype, ruri, off, ln in warc_records(member):
                if rtype == "response":
                    got = member[off : off + ln].split(b"\r\n\r\n", 1)[1]
                    yield doc_id, ruri, len(got.decode("utf-8")), hashlib.md5(got).hexdigest()

    return map_rows(
        d.select("doc_id", "text"), kernel,
        "doc_id long, uri string, body_n_chars int, body_md5 string",
    ).orderBy("doc_id")


@register(
    "mm_flac_meta",
    oracle=f"""
    SELECT doc_id,
           CAST(([8000, 16000, 22050, 44100, 48000])[doc_id % 5 + 1] AS INT)
             AS sample_rate,
           CAST(doc_id % 2 + 1 AS INT) AS n_channels,
           CAST(CASE doc_id % 2 WHEN 0 THEN 16 ELSE 24 END AS INT) AS bits,
           CAST(doc_id * 1000 + 500 AS BIGINT) AS total_samples,
           CAST((doc_id * 1000 + 500) * 1000
                // ([8000, 16000, 22050, 44100, 48000])[doc_id % 5 + 1]
                AS BIGINT) AS duration_ms
    FROM documents WHERE doc_id < {_N_CODEC_DOCS}
    ORDER BY doc_id
    """,
)
def mm_flac_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r5 — FLAC joins the compressed-audio METADATA pass (MP3 frame
    chain, MP4 box tree): per doc, build a real STREAMINFO header with
    doc-derived fields and re-read them through the bit-field walk
    (20-bit rate / 3-bit channels / 5-bit bits / 36-bit total straddle
    byte boundaries — parse_flac_meta).  The corpus-duration stats a
    100 TB audio lake computes without decoding a sample."""
    from specialsid_spark.operators.media_meta import build_flac_meta, parse_flac_meta

    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < _N_CODEC_DOCS)
    rates = (8000, 16000, 22050, 44100, 48000)

    def kernel(doc_id):
        blob = build_flac_meta(
            rates[doc_id % 5], doc_id % 2 + 1, 16 if doc_id % 2 == 0 else 24, doc_id * 1000 + 500
        )
        rate, nch, bits, total = parse_flac_meta(blob)
        yield doc_id, rate, nch, bits, total, total * 1000 // rate

    schema = ("doc_id long, sample_rate int, n_channels int, bits int,"
              " total_samples long, duration_ms long")
    return map_rows(d.select("doc_id"), kernel, schema).orderBy("doc_id")


@register(
    "mm_flac_roundtrip",
    # FLAC is lossless, so the oracle restates the decoded SAMPLES from
    # the fixture formula — any defect anywhere in the codec (rice,
    # fixed predictors, CRC, stereo decorrelation) changes the decoded
    # values and fails the hash.  doc_id % 4 cycles all four channel
    # assignments, so every decorrelation mode is driver-checked.
    oracle=f"""
    WITH docs AS (SELECT doc_id FROM documents WHERE doc_id < {_N_CODEC_DOCS}),
    idx AS (SELECT doc_id, unnest(range(0, 600 + (doc_id % 5) * 37)) AS i
            FROM docs),
    s AS (SELECT doc_id, i,
            ((doc_id * 37 + i * 11) % 201) - 100 AS l,
            ((doc_id * 13 + i * 7) % 101) - 50 AS r
          FROM idx)
    SELECT doc_id,
           CAST(8000 + (doc_id % 3) * 4000 AS INT) AS sample_rate,
           CAST(count(*) AS INT) AS n_samples,
           (['independent', 'left_side', 'right_side', 'mid_side'])
             [doc_id % 4 + 1] AS mode,
           CAST(sum(l * l) AS BIGINT) AS energy_l,
           CAST(sum(r * r) AS BIGINT) AS energy_r,
           CAST(sum((l - r) * (i + 1)) AS BIGINT) AS wsum
    FROM s GROUP BY doc_id ORDER BY doc_id
    """,
)
def mm_flac_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r5 — FLAC SAMPLE decode (closing the compressed-lossless-audio
    stub): per doc, synthesize a stereo clip from doc-id arithmetic,
    encode it to a real FLAC stream (fixed predictors + Rice,
    operators/flac.py), decode it back, VERIFY losslessness in-kernel
    (raises on any mismatch — no silent degrade for our own bytes),
    and emit per-channel energy + a cross-channel weighted sum from the
    DECODED samples.  doc_id % 4 cycles independent / left-side /
    right-side / mid-side so all four spec channel assignments are
    exercised under the driver hash.  Scale shape: per-row-independent
    mapInPandas; the only shuffle is the final sort."""
    import numpy as np

    from specialsid_spark.operators.flac import decode_flac, encode_flac

    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < _N_CODEC_DOCS)
    modes = ("independent", "left_side", "right_side", "mid_side")

    def kernel(doc_id):
        n = 600 + (doc_id % 5) * 37
        i = np.arange(n, dtype=np.int64)
        left = (doc_id * 37 + i * 11) % 201 - 100
        right = (doc_id * 13 + i * 7) % 101 - 50
        rate = 8000 + (doc_id % 3) * 4000
        mode = modes[doc_id % 4]
        blob = encode_flac(rate, np.stack([left, right], axis=1), block_size=256, stereo_mode=mode)
        got = decode_flac(blob)
        if got is None:
            raise ValueError(f"flac decode failed for doc {doc_id}")
        drate, nch, s = got
        if drate != rate or nch != 2 or not (
            np.array_equal(s[:, 0], left) and np.array_equal(s[:, 1], right)
        ):
            raise ValueError(f"flac roundtrip mismatch for doc {doc_id}")
        sl, sr = s[:, 0].astype(np.int64), s[:, 1].astype(np.int64)
        yield doc_id, rate, n, mode, np.sum(sl**2), np.sum(sr**2), np.sum((sl - sr) * (i + 1))

    schema = ("doc_id long, sample_rate int, n_samples int, mode string,"
              " energy_l long, energy_r long, wsum long")
    return map_rows(d.select("doc_id"), kernel, schema).orderBy("doc_id")


@register(
    "mm_wav_g711",
    # G.711 expansion is a closed-form piecewise-exponential over the
    # 8-bit code, so the oracle restates the DECODED sample values with
    # pure bit arithmetic — the whole fmt-tag-6/7 WAV decode chain is
    # value-compared, all 256 code points covered by the fixture sweep.
    oracle=f"""
    WITH docs AS (SELECT doc_id FROM documents WHERE doc_id < {_N_CODEC_DOCS}),
    idx AS (SELECT doc_id, unnest(range(0, 400 + (doc_id % 7) * 16)) AS i
            FROM docs),
    cc AS (SELECT doc_id, i, (doc_id * 7 + i * 3) % 256 AS c FROM idx),
    dec AS (
      SELECT doc_id,
        CASE WHEN doc_id % 2 = 0 THEN
          (CASE WHEN xor(c, 85) >= 128 THEN 1 ELSE -1 END) *
          (CASE ((xor(c, 85) >> 4) & 7)
             WHEN 0 THEN ((xor(c, 85) & 15) << 4) + 8
             WHEN 1 THEN ((xor(c, 85) & 15) << 4) + 264
             ELSE (((xor(c, 85) & 15) << 4) + 264)
                  << (((xor(c, 85) >> 4) & 7) - 1)
           END)
        ELSE
          CASE WHEN (255 - c) >= 128
            THEN 132 - (((((255 - c) & 15) << 3) + 132)
                        << (((255 - c) >> 4) & 7))
            ELSE (((((255 - c) & 15) << 3) + 132)
                  << (((255 - c) >> 4) & 7)) - 132
          END
        END AS v
      FROM cc)
    SELECT doc_id,
           CASE WHEN doc_id % 2 = 0 THEN 'alaw' ELSE 'mulaw' END AS law,
           CAST(count(*) AS INT) AS n_samples,
           CAST(sum(v) AS BIGINT) AS sum_samples,
           CAST(sum(v * v) AS BIGINT) AS energy,
           CAST(min(v) AS INT) AS vmin,
           CAST(max(v) AS INT) AS vmax
    FROM dec GROUP BY doc_id ORDER BY doc_id
    """,
)
def mm_wav_g711(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r5 — G.711 A-law/µ-law WAV decode (telephony audio, WAV format
    tags 6/7): per doc, write a WAV whose data section sweeps the code
    space from doc-id arithmetic, decode through the LUT built from the
    canonical expansion formulas (operators/audio.py decode_wav_g711,
    dispatched from the shared decode_wav entry point), and emit
    sum/energy/min/max of the decoded int16 samples.  Per-row mapInPandas;
    the only shuffle is the final sort."""
    import numpy as np

    from specialsid_spark.operators.audio import decode_wav, encode_wav_g711

    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < _N_CODEC_DOCS)

    def kernel(doc_id):
        n = 400 + (doc_id % 7) * 16
        codes = (doc_id * 7 + np.arange(n, dtype=np.int64) * 3) % 256
        law = "alaw" if doc_id % 2 == 0 else "mulaw"
        got = decode_wav(encode_wav_g711(8000, codes, law))
        if got is None:
            raise ValueError(f"g711 decode failed for doc {doc_id}")
        v = got[2][:, 0].astype(np.int64)
        yield doc_id, law, n, v.sum(), np.sum(v * v), v.min(), v.max()

    schema = ("doc_id long, law string, n_samples int, sum_samples long,"
              " energy long, vmin int, vmax int")
    return map_rows(d.select("doc_id"), kernel, schema).orderBy("doc_id")


@register(
    "mm_pdf_cid_text",
    # The CID page text derives from documents.text slices, and the
    # writer/extractor pair is an identity on the page string (split on
    # \n, rejoin with \n), so the oracle restates the extracted text
    # with plain string concat — any defect in the Type0 font graph,
    # the ToUnicode CMap (all three entry forms are in every fixture),
    # 2-byte hex show-strings, or the Tf font switch breaks the hash.
    oracle=f"""
    WITH docs AS (SELECT doc_id, text FROM documents
                  WHERE doc_id < {_N_CODEC_DOCS}),
    pg AS (
      SELECT doc_id,
             'doc ' || doc_id || ' p0' || chr(10)
               || substr(text, 1, 50) || chr(10)
               || substr(text, 51, 50) AS p0,
             'doc ' || doc_id || ' p1' || chr(10)
               || substr(text, 101, 50) || chr(10)
               || substr(text, 151, 50) AS p1
      FROM docs
    )
    SELECT doc_id, CAST(2 AS INT) AS n_pages,
           CAST(length(p0) + length(p1) AS INT) AS n_chars,
           md5(p0 || chr(30) || p1) AS text_md5
    FROM pg ORDER BY doc_id
    """,
)
def mm_pdf_cid_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r5 — CID-FONT PDF text extraction (closing the 'CID-font PDF
    text' stub): per doc, write a two-page Type0/Identity-H PDF whose
    body lines are real documents.text slices shown as 2-byte hex CID
    strings (operators/pdf.py build_cid_text_pdf — ToUnicode CMap with
    bfchar + incrementing bfrange + array bfrange, Flate-compressed
    streams, mid-page Tf switch from a simple font header line), run
    extract_page_text (which now resolves /Font resources and decodes
    through the CMap), and emit per-doc page count, char count, and a
    hash of the recovered text.  Per-row mapInPandas; the only shuffle
    is the final sort."""
    from specialsid_spark.operators.pdf import build_cid_text_pdf, extract_page_text

    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < _N_CODEC_DOCS)

    def kernel(doc_id, text):
        pages = [
            f"doc {doc_id} p0\n{text[0:50]}\n{text[50:100]}",
            f"doc {doc_id} p1\n{text[100:150]}\n{text[150:200]}",
        ]
        got = extract_page_text(build_cid_text_pdf(pages))
        if got is None or any(g is None for g in got):
            raise ValueError(f"cid text extract failed for doc {doc_id}")
        joined = "\x1e".join(got)
        yield (doc_id, len(got), sum(len(g) for g in got),
               hashlib.md5(joined.encode()).hexdigest())

    schema = "doc_id long, n_pages int, n_chars int, text_md5 string"
    return map_rows(d.select("doc_id", "text"), kernel, schema).orderBy("doc_id")


@register(
    "mm_image_thumbnails",
    # 32×24 uniform-8×8-block JPEG → 4×3 box-filter thumb: each output
    # pixel covers exactly one block, whose mean IS the block value, so
    # the oracle restates the whole decode→resize→re-encode→decode
    # chain as block arithmetic.
    oracle=f"""
    WITH docs AS (SELECT doc_id FROM documents WHERE doc_id < {_N_CODEC_DOCS}),
    bi AS (SELECT unnest(range(0, 3)) AS bi),
    bj AS (SELECT unnest(range(0, 4)) AS bj)
    SELECT d.doc_id, CAST(4 AS INT) AS thumb_w, CAST(3 AS INT) AS thumb_h,
           CAST(SUM((d.doc_id * 31 + bi.bi * 7 + bj.bj * 13) % 256) AS BIGINT)
             AS pix_sum
    FROM docs d CROSS JOIN bi CROSS JOIN bj
    GROUP BY 1
    ORDER BY doc_id
    """,
)
def mm_image_thumbnails(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r5 — the training-data RESIZE operator (brief: decode /
    feature-extract / resize / frame-sample): per doc, decode the
    fixture JPEG through the any-format entry point and box-filter it
    to a 4×3 thumbnail (resize_image_box — exact integer means on
    dividing geometries), then decode the thumbnail PNG and report its
    pixel sum.  Thumbnailing is how an image lake feeds vision-model
    preprocessing at 100 TB; per-row-independent mapInPandas, no
    shuffle before the final sort."""
    import numpy as np

    from specialsid_spark.operators.jpeg import encode_jpeg
    from specialsid_spark.operators.multimodal import decode_png, resize_image_box

    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < _N_CODEC_DOCS)

    def kernel(doc_id):
        jb = encode_jpeg(_IMG_W, _IMG_H, 1, _fixture_gray(doc_id, 0).tobytes(), quality=100)
        w, h, _ch, px = decode_png(resize_image_box(jb, 4, 3))
        yield doc_id, w, h, np.frombuffer(bytes(px), np.uint8).sum()

    return map_rows(
        d.select("doc_id"), kernel, "doc_id long, thumb_w int, thumb_h int, pix_sum long"
    ).orderBy("doc_id")


@register(
    "mm_html_text_extract",
    # documents.text is verified single-spaced ASCII with no <>&, so
    # the extracted body is restatable as trimmed substrings joined by
    # single spaces; script/style junk, comments, and entities in the
    # fixture HTML must all vanish or decode for the hash to pass.
    oracle=f"""
    SELECT doc_id,
           concat_ws(' ', 'doc ' || doc_id || ' & more',
                     nullif(trim(substr(text, 1, 60)), ''),
                     nullif(trim(substr(text, 61, 120)), '')) AS body_text,
           CAST(length(concat_ws(' ', 'doc ' || doc_id || ' & more',
                     nullif(trim(substr(text, 1, 60)), ''),
                     nullif(trim(substr(text, 61, 120)), ''))) AS INT) AS n_chars
    FROM documents WHERE doc_id < {_N_CODEC_DOCS}
    ORDER BY doc_id
    """,
)
def mm_html_text_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r5 — HTML body extraction, the step between WARC response
    payloads and a text corpus: per doc, assemble an HTML page whose
    title (with an &amp; entity), h1, and p carry the document's real
    text, salted with <script>/<style> junk and comments, then run
    sources/web.py html_to_text (stdlib parser walk: skip-subtree
    handling, charref decoding, whitespace normalization) and emit the
    recovered body verbatim."""
    from specialsid_spark.sources.web import html_to_text

    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < _N_CODEC_DOCS)

    def kernel(doc_id, text):
        h1, p = text[:60], text[60:180]
        html = (
            f"<html><head><title>doc {doc_id} &amp; more</title>"
            "<script>var junk = '<p>not text</p>';</script>"
            "<style>.x{{color:red}}</style></head>"
            f"<body><!-- comment stays hidden --><h1>{h1}</h1>"
            f"<noscript>also hidden</noscript><p>{p}</p></body></html>"
        )
        body = html_to_text(html)
        yield doc_id, body, len(body)

    return map_rows(
        d.select("doc_id", "text"), kernel, "doc_id long, body_text string, n_chars int"
    ).orderBy("doc_id")


@register(
    "pipeline_crawl_to_corpus",
    # The flagship crawl-ingest chain: every stage's output is
    # derivable from documents.text, so one SQL expression restates
    # the whole .warc.gz → gzip members → WARC framing → HTTP body →
    # HTML extraction → token stats dataflow.
    oracle=f"""
    WITH docs AS (SELECT doc_id, text FROM documents WHERE doc_id < {_N_CODEC_DOCS}),
    body AS (
      SELECT doc_id,
             concat_ws(' ', 'doc ' || doc_id,
                       nullif(trim(substr(text, 1, 80)), ''),
                       nullif(trim(substr(text, 81, 160)), '')) AS b
      FROM docs
    )
    SELECT doc_id,
           'http://crawl.test/page/' || doc_id AS uri,
           CAST(length(b) AS INT) AS n_chars,
           CAST(len(regexp_split_to_array(b, '\\s+')) AS INT) AS n_tokens,
           md5(b) AS body_md5
    FROM body
    ORDER BY doc_id
    """,
)
def pipeline_crawl_to_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r5 FLAGSHIP ingest chain — what a Common Crawl consumer runs at
    100 TB, end-to-end in one dataflow: per doc, write a
    production-layout .warc.gz whose response carries an HTML page
    built from the document's real text (plus script/style/comment
    boilerplate), then: split per-record gzip members → parse WARC
    framing → strip the HTTP header block → extract the HTML body
    (html_to_text) → compute corpus stats (chars, whitespace tokens,
    content hash).  Every byte of every stage is oracle-restated from
    documents.text.

    Scale shape: the whole chain is ONE per-row-independent
    mapInPandas (members never leave the task that read them); the
    token/hash stats are computed in the same pass; the only shuffle
    is the final sort."""
    from specialsid_spark.operators.compress import (
        build_warc,
        split_gzip_members,
        warc_records,
    )
    from specialsid_spark.sources.web import html_to_text

    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < _N_CODEC_DOCS)

    def kernel(doc_id, text):
        uri = f"http://crawl.test/page/{doc_id}"
        html = (
            f"<html><head><title>doc {doc_id}</title>"
            "<script>nope('<h1>fake</h1>');</script></head>"
            f"<body><!-- x --><h1>{text[:80]}</h1>"
            f"<style>.b{{}}</style><p>{text[80:240]}</p></body></html>"
        )
        http = b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + html.encode("utf-8")
        wgz = build_warc(
            [("request", uri, b"GET / HTTP/1.1\r\n\r\n"), ("response", uri, http)], gz=True
        )
        for member in split_gzip_members(wgz):
            for rtype, ruri, off, ln in warc_records(member):
                if rtype == "response":
                    payload = member[off : off + ln]
                    body = html_to_text(payload.split(b"\r\n\r\n", 1)[1].decode("utf-8"))
                    yield (doc_id, ruri, len(body), len(body.split()),
                           hashlib.md5(body.encode()).hexdigest())

    schema = "doc_id long, uri string, n_chars int, n_tokens int, body_md5 string"
    return map_rows(d.select("doc_id", "text"), kernel, schema).orderBy("doc_id")


_WAV_N = 800  # PCM frames per fixture clip
_WAV_FRAME = 256  # analysis frame length
_WAV_RS_TO = 8000  # resample target rate (from 16000)


@register(
    "mm_wav_frame_energy",
    # Fixture grammar: mono 16 kHz clip for doc_id with sample
    # k = ((doc_id*7 + k*13) % 4096) - 2048.  The full WAV round-trip
    # (encode -> parse -> decode -> resample -> frame energy) is exact
    # integer arithmetic, so DuckDB restates it cell-by-cell: resampled
    # frame j = original sample (j*16000)//8000 = 2j, energies are
    # Σ sample² per 256-frame window.  Any header/layout/decode defect
    # shifts samples and lands in the energy sums.
    oracle=f"""
    WITH docs AS (SELECT doc_id FROM documents WHERE doc_id < {_N_CODEC_DOCS}),
    ks AS (SELECT unnest(range(0, {_WAV_N * _WAV_RS_TO} // 16000)) AS j),
    cells AS (
      SELECT d.doc_id, ks.j // {_WAV_FRAME} AS frame_no,
             ((d.doc_id * 7 + (ks.j * 2) * 13) % 4096) - 2048 AS s
      FROM docs d CROSS JOIN ks
    )
    SELECT doc_id, CAST(frame_no AS INT) AS frame_no,
           CAST(COUNT(*) AS INT) AS n_samples,
           CAST(SUM(s * s) AS BIGINT) AS energy
    FROM cells
    GROUP BY doc_id, frame_no
    ORDER BY doc_id, frame_no
    """,
)
def mm_wav_frame_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3's audio leg, oracle-hash-checked and fully REAL (PCM needs no
    codec): per doc, synthesize a deterministic mono clip, encode as a
    16-bit RIFF/WAVE file (operators/audio.py), then run the production
    chain — header parse, sample decode, nearest-neighbor resample
    16 kHz→8 kHz, per-256-frame energy — and report exact integer
    energies that DuckDB reproduces arithmetically.

    Scale shape: per-row-independent mapInPandas (Arrow-batched); no
    shuffle before the final sort."""
    import numpy as np

    from specialsid_spark.operators.audio import (
        decode_wav,
        encode_wav,
        frame_energy,
        resample_nearest,
    )

    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < _N_CODEC_DOCS)

    def kernel(doc_id):
        k = np.arange(_WAV_N, dtype=np.int64)
        rate, nch, dec = decode_wav(encode_wav(16000, ((doc_id * 7 + k * 13) % 4096) - 2048))
        assert (rate, nch) == (16000, 1)
        rs = resample_nearest(dec[:, 0], rate, _WAV_RS_TO)
        for fno, e in enumerate(frame_energy(rs, _WAV_FRAME)):
            yield doc_id, fno, min(_WAV_FRAME, len(rs) - fno * _WAV_FRAME), e

    return map_rows(
        d.select("doc_id"), kernel, "doc_id long, frame_no int, n_samples int, energy long"
    ).orderBy("doc_id", "frame_no")


@register(
    "mm_gif_crop_pixels",
    # GIF's LZW is lossless, so unlike the JPEG fixture this one is
    # per-PIXEL rich: gray value (x*7 + y*11 + doc_id*13) % 199 (<256
    # distinct colors, GIF's own format limit).  The whole
    # encode -> LZW-decode -> crop -> PNG -> decode chain must
    # reproduce each pixel exactly for the sums to hash-match.
    oracle=f"""
    WITH {_SQL_CELLS},
    bbox AS (
      SELECT doc_id,
             doc_id % 7 AS ymin, doc_id % 11 AS xmin,
             least({_IMG_H}, doc_id % 7 + 9 + doc_id % 5) AS ymax,
             least({_IMG_W}, doc_id % 11 + 12 + doc_id % 9) AS xmax
      FROM docs
    )
    SELECT b.doc_id,
           CAST(b.xmax - b.xmin AS INT) AS crop_w,
           CAST(b.ymax - b.ymin AS INT) AS crop_h,
           CAST(SUM((xs.x * 7 + ys.y * 11 + b.doc_id * 13) % 199) * 3 AS BIGINT)
             AS pix_sum
    FROM bbox b
    CROSS JOIN ys CROSS JOIN xs
    WHERE ys.y >= b.ymin AND ys.y < b.ymax AND xs.x >= b.xmin AND xs.x < b.xmax
    GROUP BY 1, 2, 3
    ORDER BY doc_id
    """,
)
def mm_gif_crop_pixels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3/D3 for GIF, oracle-hash-checked with a PER-PIXEL fixture
    (LZW is lossless, so no uniform-block restriction): build the
    gray pattern, encode as real GIF89a (operators/gif.py — real
    variable-width LZW stream), crop a doc-derived bbox via crop_gif
    (LZW expand → palette → slice → PNG), decode, report exact pixel
    sums (×3: the gray value lands in R=G=B).  Exercises dictionary
    growth and width bumps on every doc."""
    import numpy as np

    from specialsid_spark.operators.gif import crop_gif, encode_gif
    from specialsid_spark.operators.multimodal import decode_png

    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < _N_CODEC_DOCS)

    def kernel(doc_id):
        yy, xx = np.mgrid[0:_IMG_H, 0:_IMG_W]
        g = ((xx * 7 + yy * 11 + doc_id * 13) % 199).astype(np.uint8)
        gb = encode_gif(_IMG_W, _IMG_H, np.stack([g, g, g], axis=-1).tobytes())
        ymin, xmin = doc_id % 7, doc_id % 11
        ymax, xmax = ymin + 9 + doc_id % 5, xmin + 12 + doc_id % 9
        w, h, _ch, px = decode_png(crop_gif(gb, ymin, xmin, ymax, xmax))
        yield doc_id, w, h, sum(px)

    return map_rows(
        d.select("doc_id"), kernel, "doc_id long, crop_w int, crop_h int, pix_sum long"
    ).orderBy("doc_id")


@register(
    "mm_media_meta",
    # Fixture grammar: per doc an MP3 (bitrate cycling the table,
    # 44100 Hz, 10+doc%20 frames) and an MP4 (duration 1000+doc*37 ms,
    # video track (320+doc%64·16) × (240+doc%48·12) + one audio
    # track).  Both parsers walk real byte formats the writers emit;
    # DuckDB restates every derived field arithmetically, incl. the
    # spec formulas (MP3 ms = frames·1152·1000/rate, integer division).
    oracle=f"""
    WITH docs AS (SELECT doc_id FROM documents WHERE doc_id < {_N_CODEC_DOCS}),
    d AS (
      SELECT doc_id,
             CAST([32,40,48,56,64,80,96,112,128,160,192,224,256,320]
                  [(doc_id % 14) + 1] AS BIGINT) AS bitrate,
             10 + doc_id % 20 AS frames
      FROM docs
    )
    SELECT doc_id,
           bitrate AS mp3_bitrate_kbps,
           CAST(44100 AS BIGINT) AS mp3_sample_rate,
           CAST(frames AS BIGINT) AS mp3_frames,
           CAST(frames * 1152 * 1000 // 44100 AS BIGINT) AS mp3_ms,
           CAST(1000 + doc_id * 37 AS BIGINT) AS mp4_ms,
           CAST(2 AS BIGINT) AS mp4_tracks,
           CAST(320 + (doc_id % 64) * 16 AS BIGINT) AS mp4_width,
           CAST(240 + (doc_id % 48) * 12 AS BIGINT) AS mp4_height
    FROM d
    ORDER BY doc_id
    """,
)
def mm_media_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 for COMPRESSED media, the metadata half (the split the image
    stack already uses: headers need no codec).  Per doc, write a real
    MP3 frame chain and a real ISO-BMFF box tree
    (operators/media_meta.py), parse both back, and report every
    derived field — frame counts and durations via the spec's own
    integer formulas — for DuckDB to restate arithmetically.  This is
    the corpus-stats pass a 100 TB multimodal lake runs: format/
    duration/resolution histograms without decoding a single sample."""
    from specialsid_spark.operators.media_meta import (
        build_mp3,
        build_mp4,
        parse_mp3_meta,
        parse_mp4_meta,
    )

    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < _N_CODEC_DOCS)
    bitrates = (32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)

    def kernel(doc_id):
        mp3 = build_mp3(bitrates[doc_id % 14], 44100, 10 + doc_id % 20)
        mp4 = build_mp4(
            1000 + doc_id * 37,
            [(320 + (doc_id % 64) * 16, 240 + (doc_id % 48) * 12), (0, 0)],
        )
        yield doc_id, *parse_mp3_meta(mp3), *parse_mp4_meta(mp4)

    schema = (
        "doc_id long, mp3_bitrate_kbps long, mp3_sample_rate long, mp3_frames long,"
        " mp3_ms long, mp4_ms long, mp4_tracks long, mp4_width long, mp4_height long"
    )
    return map_rows(d.select("doc_id"), kernel, schema).orderBy("doc_id")


_VID_W, _VID_H, _VID_FRAMES, _VID_EVERY = 16, 12, 6, 2


@register(
    "mm_video_frame_sample",
    # Fixture: per doc an uncompressed AVI of 6 uniform-color 16×12
    # frames, color channels (doc*3+f*17, doc*5+f*29, doc*7+f*41) % 256.
    # The chain build_avi -> parse_avi_meta -> sample_frames (every 2nd)
    # is lossless, so DuckDB restates each sampled frame's pixel sum as
    # (r+g+b)·w·h — any container/stride/row-order defect shifts bytes
    # and lands in pix_sum.
    oracle=f"""
    WITH docs AS (SELECT doc_id FROM documents WHERE doc_id < {_N_CODEC_DOCS}),
    fs AS (SELECT unnest(range(0, {_VID_FRAMES})) AS f)
    SELECT d.doc_id, CAST(fs.f AS INT) AS frame_idx,
           CAST({_VID_W} AS INT) AS width, CAST({_VID_H} AS INT) AS height,
           CAST((( (d.doc_id * 3 + fs.f * 17) % 256)
               + ((d.doc_id * 5 + fs.f * 29) % 256)
               + ((d.doc_id * 7 + fs.f * 41) % 256)) * {_VID_W * _VID_H} AS BIGINT)
             AS pix_sum
    FROM docs d CROSS JOIN fs
    WHERE fs.f % {_VID_EVERY} = 0
    ORDER BY doc_id, frame_idx
    """,
)
def mm_video_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3's video leg + the brief's frame-sample operator, oracle-hash-
    checked and fully REAL for the uncompressed case: per doc,
    synthesize deterministic frames, write a real RIFF/AVI
    (operators/video.py), then run the production chain — container
    parse, 00db DIB frame decode (bottom-up BGR → top-down RGB),
    every-Nth frame sampling — and report each sampled frame's exact
    pixel sum.  Compressed streams (00dc) return None upstream and fall
    back, same contract as progressive JPEG / non-PCM audio.

    Scale shape: per-row-independent mapInPandas; no shuffle before
    the final sort."""
    import numpy as np

    from specialsid_spark.operators.video import build_avi, sample_frames

    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < _N_CODEC_DOCS)

    def kernel(doc_id):
        frames = []
        for f in range(_VID_FRAMES):
            fr = np.empty((_VID_H, _VID_W, 3), np.uint8)
            fr[:, :, 0] = (doc_id * 3 + f * 17) % 256
            fr[:, :, 1] = (doc_id * 5 + f * 29) % 256
            fr[:, :, 2] = (doc_id * 7 + f * 41) % 256
            frames.append(fr)
        for idx, fr in sample_frames(build_avi(frames, fps=25), _VID_EVERY):
            yield doc_id, idx, fr.shape[1], fr.shape[0], fr.astype(np.int64).sum()

    return map_rows(
        d.select("doc_id"), kernel, "doc_id long, frame_idx int, width int, height int, pix_sum long"
    ).orderBy("doc_id", "frame_idx")


@register(
    "mm_video_mjpeg_frames",
    # Fixture: 6 MJPEG frames per doc, each the uniform-8×8-block gray
    # pattern of the JPEG oracle replicated to RGB.  R=G=B makes
    # YCbCr→(v,128,128) exactly, and uniform blocks at quality 100
    # round-trip exactly, so decoded pix_sum = 3·Σ cells — DuckDB
    # restates it arithmetically, proving the full MJPEG-AVI chain
    # (encode frames → 00dc container → parse → per-frame JPEG decode
    # → sample) byte-exact.
    oracle=f"""
    WITH {_SQL_CELLS},
    fs AS (SELECT unnest(range(0, {_VID_FRAMES})) AS f)
    SELECT d.doc_id, CAST(fs.f AS INT) AS frame_idx,
           CAST({_IMG_W} AS INT) AS width, CAST({_IMG_H} AS INT) AS height,
           CAST(3 * SUM((d.doc_id * 31 + fs.f * 59 + (ys.y // 8) * 7
                         + (xs.x // 8) * 13) % 256) AS BIGINT) AS pix_sum
    FROM docs d CROSS JOIN fs CROSS JOIN ys CROSS JOIN xs
    WHERE fs.f % {_VID_EVERY} = 0
    GROUP BY 1, 2
    ORDER BY doc_id, frame_idx
    """,
)
def mm_video_mjpeg_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r5 VERDICT #3 — the COMPRESSED video path is now real: per doc,
    write a Motion-JPEG AVI (operators/video.py build_avi codec='MJPG'
    — every frame a standalone baseline JPEG in a 00dc chunk), then
    run the production chain: container parse → per-frame JPEG decode
    → every-Nth sampling.  Non-MJPEG 00dc payloads (H.264/VP9) still
    degrade to None; the degrade test pins that.

    Scale shape: per-row-independent mapInPandas; no shuffle before
    the final sort."""
    import numpy as np

    from specialsid_spark.operators.video import build_avi, sample_frames

    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < _N_CODEC_DOCS)

    def kernel(doc_id):
        frames = [
            np.repeat(_fixture_gray(doc_id, f)[:, :, None], 3, axis=2) for f in range(_VID_FRAMES)
        ]
        avi = build_avi(frames, fps=25, codec="MJPG", quality=100)
        for idx, fr in sample_frames(avi, _VID_EVERY):
            yield doc_id, idx, fr.shape[1], fr.shape[0], fr.astype(np.int64).sum()

    return map_rows(
        d.select("doc_id"), kernel, "doc_id long, frame_idx int, width int, height int, pix_sum long"
    ).orderBy("doc_id", "frame_idx")


_ADPCM_NIBS = 128  # nibbles per fixture block -> 129 decoded samples


def _sql_ima_steps() -> str:
    from specialsid_spark.operators.audio import _IMA_STEPS

    return "[" + ", ".join(str(v) for v in _IMA_STEPS) + "]"


@register(
    "mm_wav_adpcm",
    # The IMA-ADPCM transition (step table + shift-sum diff + clamps)
    # restated as a DuckDB RECURSIVE CTE over the deterministic nibble
    # stream — the decoded waveform's Σ|s| and final predictor must
    # match our block decoder bit-for-bit.  This is the strongest
    # cross-engine statement available for a stateful codec: the oracle
    # re-derives every sample, not just a checksum of inputs.
    oracle=f"""
    WITH RECURSIVE docs AS (SELECT doc_id FROM documents WHERE doc_id < {_N_CODEC_DOCS}),
    init AS (
      SELECT doc_id, (doc_id * 97) % 2048 - 1024 AS pred, doc_id % 89 AS idx
      FROM docs
    ),
    dec AS (
      SELECT doc_id, 0 AS k, pred, idx, CAST(abs(pred) AS BIGINT) AS acc FROM init
      UNION ALL
      SELECT doc_id, k + 1,
             CASE WHEN nib >= 8 THEN greatest(-32768, pred - diff)
                  ELSE least(32767, pred + diff) END,
             greatest(0, least(88, idx + CASE nib % 8
               WHEN 4 THEN 2 WHEN 5 THEN 4 WHEN 6 THEN 6 WHEN 7 THEN 8
               ELSE -1 END)),
             acc + abs(CASE WHEN nib >= 8 THEN greatest(-32768, pred - diff)
                            ELSE least(32767, pred + diff) END)
      FROM (
        SELECT doc_id, k, pred, idx, acc, nib,
               (step // 8) + CASE WHEN nib % 8 >= 4 THEN step ELSE 0 END
                 + CASE WHEN nib % 4 >= 2 THEN step // 2 ELSE 0 END
                 + CASE WHEN nib % 2 = 1 THEN step // 4 ELSE 0 END AS diff
        FROM (
          SELECT doc_id, k, pred, idx, acc,
                 (doc_id * 7 + k * 3) % 16 AS nib,
                 list_extract({_sql_ima_steps()}, idx + 1) AS step
          FROM dec WHERE k < {_ADPCM_NIBS}
        ) a
      ) b
    )
    SELECT doc_id, CAST({_ADPCM_NIBS + 1} AS INT) AS n_samples,
           acc AS sum_abs, CAST(pred AS INT) AS final_pred
    FROM dec WHERE k = {_ADPCM_NIBS}
    ORDER BY doc_id
    """,
)
def mm_wav_adpcm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r5 VERDICT #3 — compressed AUDIO decode is now real for the
    tractable codec: per doc, assemble a mono IMA-ADPCM WAV (format
    0x0011) whose single block carries a doc-derived nibble stream,
    decode it through the production entry point (decode_wav
    dispatches non-PCM to the IMA block decoder), and report the
    decoded waveform's sample count, Σ|s|, and final predictor.

    Scale shape: per-row-independent mapInPandas; no shuffle before
    the final sort."""
    import struct

    import numpy as np

    from specialsid_spark.operators.audio import decode_wav

    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < _N_CODEC_DOCS)

    def kernel(doc_id):
        pred0 = (doc_id * 97) % 2048 - 1024
        nibs = [(doc_id * 7 + k * 3) % 16 for k in range(_ADPCM_NIBS)]
        body = bytearray(struct.pack("<hBB", pred0, doc_id % 89, 0))
        for a, b in zip(nibs[0::2], nibs[1::2]):
            body.append(a | (b << 4))
        block = bytes(body)
        fmt = struct.pack("<HHIIHHHH", 0x11, 1, 8000, 4000, len(block), 4, 2, _ADPCM_NIBS + 1)
        wav = (
            b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(block)) + b"WAVE"
            + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(block)) + block
        )
        s = decode_wav(wav)[2].reshape(-1).astype(np.int64)
        yield doc_id, len(s), np.abs(s).sum(), s[-1]

    return map_rows(
        d.select("doc_id"), kernel, "doc_id long, n_samples int, sum_abs long, final_pred int"
    ).orderBy("doc_id")


@register(
    "mm_pdf_page_explode_stub",
    # Same upgrade as mm_decode_meta_stub: the 1->N fan-out contract is
    # deterministic — ceil(len/100) fixed-size slices for non-PDF bytes
    # (no document text starts with %PDF; real PDFs use the real page
    # count) and the slices partition the blob, so total_bytes == len.
    oracle="""
    SELECT doc_id,
           CAST(ceil(greatest(octet_length(CAST(text AS BLOB)), 1) / 100.0) AS BIGINT)
             AS n_pages,
           CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS total_bytes
    FROM documents
    ORDER BY doc_id
    """,
)
def mm_pdf_page_explode_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1 flatMap 1->N: page counts + per-page sizes from the page slicer."""
    pages = explode_pdf_pages_stub(_as_binary(spark, sf_dir))
    return (
        pages.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_pages"),
            F.sum(F.length("page_bytes")).cast("long").alias("total_bytes"),
        )
        .orderBy("doc_id")
    )


_J12_W, _J12_H = 32, 24  # 4 x 3 blocks of 8x8


@register(
    "mm_jpeg12_roundtrip",
    oracle=f"""
    WITH docs AS (SELECT doc_id FROM documents WHERE doc_id < {_N_CODEC_DOCS}),
    b AS (SELECT doc_id, t.b AS b FROM docs, range(12) t(b))
    SELECT doc_id,
           CAST({_J12_W} AS INT) AS width,
           CAST({_J12_H} AS INT) AS height,
           CAST(SUM(((doc_id * 173 + b * 521) % 4096) * 64) AS BIGINT) AS sample_sum,
           CAST(MIN((doc_id * 173 + b * 521) % 4096) AS BIGINT) AS min_block,
           CAST(MAX((doc_id * 173 + b * 521) % 4096) AS BIGINT) AS max_block,
           CAST(0 AS BIGINT) AS n_mismatch
    FROM b GROUP BY doc_id ORDER BY doc_id
    """,
)
def mm_jpeg12_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 (r5 continuation): 12-bit grayscale JPEG round-trip — the
    DICOM-style sample depth the 8-bit decoder degrades on
    (operators/jpeg12.py closes the stub).  Per doc: build a
    deterministic 12-bit uniform-block image, encode at quality 100
    with restart intervals (quant floor 2 makes uniform blocks exactly
    recoverable: DC = 8*(v-2048) is even, so /2 and *2/8 are exact on
    the integer lattice), decode, and report sample sums/extremes plus
    a per-pixel mismatch count against the expected blocks.  DuckDB
    re-derives every number from the fixture arithmetic; n_mismatch is
    pinned to literal zero — pixel-exactness, not just checksum
    agreement.

    Same distribution shape as the codec family: per-row-independent
    mapInPandas over the doc-id spine, fixtures generated in executors,
    no shuffle before the final sort."""
    import numpy as np

    from specialsid_spark.operators.jpeg12 import decode_jpeg12, encode_jpeg12

    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < _N_CODEC_DOCS)

    def kernel(doc_id):
        vals = np.array([(doc_id * 173 + bi * 521) % 4096 for bi in range(12)]).reshape(3, 4)
        img = np.repeat(np.repeat(vals, 8, axis=0), 8, axis=1).astype("<u2")
        jb = encode_jpeg12(_J12_W, _J12_H, img.tobytes(), quality=100, restart_interval=2)
        w, h, samples = decode_jpeg12(jb)
        dec = np.frombuffer(samples, dtype="<u2").reshape(h, w)
        yield (doc_id, w, h, dec.astype(np.int64).sum(), vals.min(), vals.max(),
               (dec != img).sum())

    schema = (
        "doc_id long, width int, height int, sample_sum long, "
        "min_block long, max_block long, n_mismatch long"
    )
    return map_rows(d.select("doc_id"), kernel, schema).orderBy("doc_id")


_PAT_W, _PAT_H, _PATCH = 48, 32, 16  # 6x4 blocks -> 3x2 patches


@register(
    "mm_image_patchify",
    oracle=f"""
    WITH docs AS (SELECT doc_id FROM documents WHERE doc_id < {_N_CODEC_DOCS}),
    g AS (
      SELECT doc_id, pr.p AS pr, pc.p AS pc,
             (doc_id * 31 + (pr.p * 2 + i.i) * 7 + (pc.p * 2 + j.j) * 13) % 256 AS val
      FROM docs, range(2) pr(p), range(3) pc(p), range(2) i(i), range(2) j(j)
    )
    SELECT doc_id,
           CAST(pr AS INT) AS patch_row,
           CAST(pc AS INT) AS patch_col,
           CAST(SUM(val) * 64 AS BIGINT) AS pix_sum,
           CAST(SUM(val * val) * 64 AS BIGINT) AS pix_sq_sum,
           CAST(4 * SUM(val * val) - SUM(val) * SUM(val) AS BIGINT) AS ivar16
    FROM g GROUP BY doc_id, pr, pc
    ORDER BY doc_id, patch_row, patch_col
    """,
)
def mm_image_patchify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 (r5 continuation): ViT-style patch extraction over decoded
    images — the preprocessing grid a multimodal training pipeline
    computes per image.  Per doc: build the deterministic block
    fixture, round-trip it through the REAL JPEG codec (quality 100,
    uniform 8x8 blocks decode pixel-exact), then image_patches() cuts
    16x16 patches and emits exact integer sums/square-sums; ivar16 =
    4*(sum of the 4 block values squared) - (their sum)^2 is the patch
    variance on the integer lattice (x16), the dead/flat-patch filter
    signal.  DuckDB re-derives every number from the block arithmetic
    — codec, patch grid, and statistics all value-checked at once.

    Same shape as the codec family: per-row-independent mapInPandas,
    no shuffle before the final sort."""
    import numpy as np

    from specialsid_spark.operators.jpeg import decode_jpeg, encode_jpeg
    from specialsid_spark.operators.multimodal import image_patches

    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < _N_CODEC_DOCS)

    def kernel(doc_id):
        yy, xx = np.mgrid[0:_PAT_H, 0:_PAT_W]
        img = ((doc_id * 31 + (yy // 8) * 7 + (xx // 8) * 13) % 256).astype(np.uint8)
        w, h, ch, px = decode_jpeg(encode_jpeg(_PAT_W, _PAT_H, 1, img.tobytes(), quality=100))
        for pr, pc, s, q in image_patches(w, h, ch, px, _PATCH):
            # 64 pixels per 8x8 block: pull stats back to the
            # 4-block lattice for the exact variance form
            s4, q4 = s // 64, q // 64
            yield doc_id, pr, pc, s, q, 4 * q4 - s4 * s4

    schema = (
        "doc_id long, patch_row int, patch_col int, "
        "pix_sum long, pix_sq_sum long, ivar16 long"
    )
    return map_rows(d.select("doc_id"), kernel, schema).orderBy(
        "doc_id", "patch_row", "patch_col"
    )


_VAD_N = 2048       # samples per clip -> exactly 8 frames of 256
_VAD_THRESH = 1_000_000  # frame-energy threshold (quiet ~ 5e3, voiced ~ 3e8)


@register(
    "mm_wav_vad_segments",
    # Fixture grammar: "voiced" bursts — frame block b = k // 256 is
    # active when (doc_id + b) % 3 != 0; active samples follow the
    # usual ramp ((doc_id*7 + k*13) % 4096) - 2048, quiet ones a tiny
    # (k % 16) - 8 dither.  The segmentation itself is the point: it
    # runs as gaps-and-islands SQL over (doc, frame) rows on BOTH
    # engines (frame_no - row_number() per doc = island id), so the
    # oracle checks the distributed segmentation logic, not a Python
    # run-length loop.
    oracle=f"""
    WITH docs AS (SELECT doc_id FROM documents WHERE doc_id < {_N_CODEC_DOCS}),
    ks AS (SELECT unnest(range(0, {_VAD_N})) AS k),
    cells AS (
      SELECT d.doc_id, ks.k // 256 AS frame_no,
             CASE WHEN (d.doc_id + ks.k // 256) % 3 <> 0
                  THEN ((d.doc_id * 7 + ks.k * 13) % 4096) - 2048
                  ELSE (ks.k % 16) - 8 END AS s
      FROM docs d CROSS JOIN ks
    ),
    fe AS (
      SELECT doc_id, frame_no, SUM(s * s) AS energy
      FROM cells GROUP BY doc_id, frame_no
    ),
    act AS (
      SELECT doc_id, frame_no, energy,
             frame_no - row_number() OVER (PARTITION BY doc_id ORDER BY frame_no)
               AS island
      FROM fe WHERE energy > {_VAD_THRESH}
    )
    SELECT doc_id,
           CAST(MIN(frame_no) AS INT) AS start_frame,
           CAST(MAX(frame_no) AS INT) AS end_frame,
           CAST(COUNT(*) AS INT) AS n_frames,
           CAST(SUM(energy) AS BIGINT) AS seg_energy
    FROM act GROUP BY doc_id, island
    ORDER BY doc_id, start_frame
    """,
)
def mm_wav_vad_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 audio ∘ windowing: energy-threshold voice-activity detection
    with run-length segment merging — the preprocessing that turns raw
    audio into training utterances.  The WAV chain (synthesize burst
    clip -> encode RIFF -> parse -> decode -> per-256 frame energy)
    runs per-row in mapInPandas; the SEGMENTATION is deliberately a
    distributed gaps-and-islands window computation over the (doc,
    frame) rows (island = frame_no - row_number per doc), the same SQL
    both engines execute — at 100 TB of audio the frame table is the
    shuffle payload (2 ints + 1 long per frame), never the samples."""
    import numpy as np

    from specialsid_spark.operators.audio import (
        decode_wav,
        encode_wav,
        frame_energy,
    )
    from pyspark.sql.window import Window

    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < _N_CODEC_DOCS)

    def kernel(doc_id):
        k = np.arange(_VAD_N, dtype=np.int64)
        active = (doc_id + k // 256) % 3 != 0
        samples = np.where(active, ((doc_id * 7 + k * 13) % 4096) - 2048, (k % 16) - 8)
        _rate, _nch, dec = decode_wav(encode_wav(16000, samples))
        for fno, e in enumerate(frame_energy(dec[:, 0], 256)):
            yield doc_id, fno, e

    fe = map_rows(d.select("doc_id"), kernel, "doc_id long, frame_no int, energy long")
    act = fe.where(F.col("energy") > _VAD_THRESH).withColumn(
        "island",
        F.col("frame_no")
        - F.row_number().over(Window.partitionBy("doc_id").orderBy("frame_no")),
    )
    return (
        act.groupBy("doc_id", "island")
        .agg(
            F.min("frame_no").cast("int").alias("start_frame"),
            F.max("frame_no").cast("int").alias("end_frame"),
            F.count(F.lit(1)).cast("int").alias("n_frames"),
            F.sum("energy").cast("long").alias("seg_energy"),
        )
        .drop("island")
        .orderBy("doc_id", "start_frame")
    )


@register(
    "mm_mp1_subband_decode",
    # MPEG-1 Layer I restated arithmetically (the ADPCM discipline):
    # the fixture's allocation / scalefactor / code pattern derives
    # from doc_id, the bitstream is written by encode_mp1_frame and
    # re-read by decode_mp1_frames, and the oracle recomputes the
    # per-subband requantization numerator sum plus the first sample's
    # exact-integer micro requantization — 2c + 2 - 2^nb over nb-bit
    # codes packed sample-major across byte boundaries, precisely where
    # a bit reader breaks.  Scalefactor indices are multiples of 3 so
    # sf = 2^(1 - idx/3) is a power of two and the micro value is pure
    # int64 arithmetic on both engines (no libm pow).
    oracle=f"""
    WITH docs AS (SELECT doc_id FROM documents WHERE doc_id < {_N_CODEC_DOCS}),
    sb AS (SELECT unnest(range(0, 32)) AS sb),
    cfg AS (
      SELECT d.doc_id, s.sb,
             CASE WHEN (d.doc_id + s.sb) % 5 = 0 THEN 0
                  ELSE 1 + (d.doc_id * 3 + s.sb) % 8 END AS alloc,
             3 * ((d.doc_id * 2 + s.sb) % 21) AS sfi
      FROM docs d CROSS JOIN sb s
    ),
    a AS (SELECT doc_id, sb, alloc, sfi, alloc + 1 AS nb FROM cfg WHERE alloc > 0),
    smp AS (
      SELECT a.doc_id, a.sb, a.nb, a.sfi, t.s,
             (a.doc_id * 131 + (a.sb + 1) * (t.s + 7) * 97) % ((1 << a.nb) - 1) AS c
      FROM a CROSS JOIN (SELECT unnest(range(0, 12)) AS s) t
    ),
    agg AS (
      SELECT doc_id, sb, nb, sfi,
             SUM(2 * c + 2 - (1 << nb)) AS num_sum,
             MIN(CASE WHEN s = 0 THEN 2 * c + 2 - (1 << nb) END) AS num0
      FROM smp GROUP BY doc_id, sb, nb, sfi
    )
    SELECT doc_id, CAST(sb AS INT) AS subband, CAST(nb AS INT) AS nb,
           CAST(sfi AS INT) AS sf_idx,
           CAST(num_sum AS BIGINT) AS num_sum,
           CAST(CASE WHEN num0 < 0 THEN -1 ELSE 1 END *
                ((abs(num0) * 1000000
                  * (CASE WHEN 1 - sfi // 3 >= 0
                          THEN 1 << (1 - sfi // 3) ELSE 1 END))
                 // (((1 << nb) - 1)
                     * (CASE WHEN 1 - sfi // 3 < 0
                             THEN 1 << (sfi // 3 - 1) ELSE 1 END)))
             AS BIGINT) AS micro0
    FROM agg
    ORDER BY doc_id, subband
    """,
)
def mm_mp1_subband_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r6 VERDICT #7 — MPEG-1 Audio LAYER I sample decode, real: per
    doc, write one mono Layer I frame (448 kbps / 32 kHz) whose
    allocation, scalefactor indices, and nb-bit codes derive from
    doc_id (operators/mp1.py encode_mp1_frame), parse it back through
    the production bit reader (decode_mp1_frames: header fields, 4-bit
    allocations, 6-bit scalefactors, 12x32 sample-major nb-bit codes),
    and emit per-subband requantization arithmetic — the numerator sum
    and the exact-integer micro requantization of the first sample.
    Layer II stays a documented loud-None stub: its allocation tables
    are non-derivable spec data (module docstring, same rule as the
    arithmetic-JPEG Qe table).

    Scale shape: per-row-independent mapInPandas; no shuffle before
    the final sort."""
    from specialsid_spark.operators.mp1 import (
        decode_mp1_frames,
        encode_mp1_frame,
        mp1_requantize_micro,
    )

    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < _N_CODEC_DOCS)

    def kernel(doc_id):
        alloc = [0 if (doc_id + sb) % 5 == 0 else 1 + (doc_id * 3 + sb) % 8 for sb in range(32)]
        sfi = [3 * ((doc_id * 2 + sb) % 21) for sb in range(32)]
        codes = [
            [
                (doc_id * 131 + (sb + 1) * (s + 7) * 97) % ((1 << (alloc[sb] + 1)) - 1)
                if alloc[sb]
                else 0
                for s in range(12)
            ]
            for sb in range(32)
        ]
        _rate, _br, frames = decode_mp1_frames(encode_mp1_frame(448, 32000, alloc, sfi, codes))
        fr = frames[0]
        for sb in range(32):
            a = fr["alloc"][sb]
            if not a:
                continue
            nb = a + 1
            cs = fr["codes"][sb]
            num_sum = sum(2 * c + 2 - (1 << nb) for c in cs)
            micro0 = mp1_requantize_micro(cs[0], a, fr["sf_idx"][sb])
            yield doc_id, sb, nb, fr["sf_idx"][sb], num_sum, micro0

    schema = (
        "doc_id long, subband int, nb int, sf_idx int, "
        "num_sum long, micro0 long"
    )
    return map_rows(d.select("doc_id"), kernel, schema).orderBy("doc_id", "subband")


@register(
    "mm_pnm_roundtrip",
    oracle=f"""
    WITH {_SQL_CELLS},
    cs AS (SELECT unnest(range(0, 3)) AS c)
    SELECT d.doc_id,
           CAST({_IMG_W} AS INT) AS w, CAST({_IMG_H} AS INT) AS h,
           CAST(3 AS INT) AS ch,
           CAST(SUM(CASE WHEN cs.c = 0 THEN
                 (d.doc_id * 31 + (ys.y // 8) * 7 + (xs.x // 8) * 13) % 256
                 END) AS BIGINT) AS sum_r,
           CAST(SUM(CASE WHEN cs.c = 1 THEN
                 (d.doc_id * 31 + 17 + (ys.y // 8) * 7 + (xs.x // 8) * 13) % 256
                 END) AS BIGINT) AS sum_g,
           CAST(SUM(CASE WHEN cs.c = 2 THEN
                 (d.doc_id * 31 + 34 + (ys.y // 8) * 7 + (xs.x // 8) * 13) % 256
                 END) AS BIGINT) AS sum_b
    FROM docs d CROSS JOIN ys CROSS JOIN xs CROSS JOIN cs
    GROUP BY 1 ORDER BY 1
    """,
)
def mm_pnm_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3: PNM (P6 binary pixmap) encode→decode round-trip with
    per-channel pixel sums value-checked against the fixture
    arithmetic.  encode_pnm deliberately emits a `#` comment line so
    every round-trip exercises the tolerant header path (whitespace +
    comments between tokens — the part PNM readers classically get
    wrong).  The decoded raster also flows through the universal
    `decode_image` entry point, so resize/patchify accept PNM payloads
    from this commit on.

    Scale shape: identical to every codec query — one mapInPandas over
    a doc-id spine, per-row independent, no shuffle before the sort."""
    import numpy as np

    from specialsid_spark.operators.multimodal import decode_image
    from specialsid_spark.operators.pnm import encode_pnm

    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < _N_CODEC_DOCS)

    def kernel(doc_id):
        yy, xx = np.mgrid[0:_IMG_H, 0:_IMG_W]
        chans = [
            ((doc_id * 31 + c * 17 + (yy // 8) * 7 + (xx // 8) * 13) % 256).astype(np.uint8)
            for c in range(3)
        ]
        blob = encode_pnm(_IMG_W, _IMG_H, 3, np.stack(chans, axis=-1).tobytes())
        w, h, ch, back = decode_image(blob)
        arr = np.frombuffer(back, dtype=np.uint8).reshape(h, w, ch)
        yield doc_id, w, h, ch, *(int(arr[:, :, c].sum()) for c in range(3))

    schema = "doc_id long, w int, h int, ch int, sum_r long, sum_g long, sum_b long"
    return map_rows(d.select("doc_id"), kernel, schema).orderBy("doc_id")


@register(
    "mm_tiff_roundtrip",
    # Fixture raster: value = (doc*29 + c*19 + (y//4)*5 + x*3) % 256 —
    # the x*3 term gives every row a horizontal gradient, so the
    # predictor-2 differencing path transforms real data, not zeros.
    # Per doc the raster roundtrips through BOTH compressions (PackBits
    # and LZW+predictor2), alternating byte order by doc parity; the
    # sums come from the LZW decode, the dims from the PackBits decode,
    # and any mismatch between the two rasters poisons the sums to -1.
    oracle=f"""
    WITH docs AS (SELECT doc_id FROM documents WHERE doc_id < {_N_CODEC_DOCS}),
    ys AS (SELECT unnest(range(0, {_IMG_H})) AS y),
    xs AS (SELECT unnest(range(0, {_IMG_W})) AS x),
    cs AS (SELECT unnest(range(0, 3)) AS c)
    SELECT d.doc_id,
           CASE WHEN d.doc_id % 2 = 0 THEN 'II' ELSE 'MM' END AS byte_order,
           CAST({_IMG_W} AS INT) AS w, CAST({_IMG_H} AS INT) AS h,
           CAST(3 AS INT) AS ch,
           CAST(SUM(CASE WHEN cs.c = 0 THEN
                 (d.doc_id * 29 + (ys.y // 4) * 5 + xs.x * 3) % 256
                 END) AS BIGINT) AS sum_r,
           CAST(SUM(CASE WHEN cs.c = 1 THEN
                 (d.doc_id * 29 + 19 + (ys.y // 4) * 5 + xs.x * 3) % 256
                 END) AS BIGINT) AS sum_g,
           CAST(SUM(CASE WHEN cs.c = 2 THEN
                 (d.doc_id * 29 + 38 + (ys.y // 4) * 5 + xs.x * 3) % 256
                 END) AS BIGINT) AS sum_b
    FROM docs d CROSS JOIN ys CROSS JOIN xs CROSS JOIN cs
    GROUP BY 1, 2 ORDER BY 1
    """,
)
def mm_tiff_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r7 VERDICT #3 — X3: baseline TIFF encode→decode round-trip
    (operators/tiff.py) value-checked against the fixture arithmetic.
    Each doc's RGB raster is written as a multi-strip TIFF TWICE —
    PackBits and LZW with horizontal-differencing predictor 2 — in the
    byte order chosen by doc parity (II even / MM odd), decoded through
    the universal ``decode_image`` entry point, and cross-compared:
    the emitted per-channel sums use the LZW raster, the emitted dims
    use the PackBits raster, and a raster mismatch poisons the sums so
    the hash can't pass on a half-working decoder.  The TIFF-flavor
    LZW (MSB-first bit packing, early-change width rule) is exactly
    where a GIF-LZW reuse would silently corrupt — the fixture rasters
    are large enough to cross the 9→10-bit boundary.

    Scale shape: identical to every codec query — one mapInPandas over
    a doc-id spine, per-row independent, no shuffle before the sort."""
    import numpy as np

    from specialsid_spark.operators.multimodal import decode_image
    from specialsid_spark.operators.tiff import build_tiff

    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < _N_CODEC_DOCS)

    def kernel(doc_id):
        yy, xx = np.mgrid[0:_IMG_H, 0:_IMG_W]
        chans = [
            ((doc_id * 29 + c * 19 + (yy // 4) * 5 + xx * 3) % 256).astype(np.uint8)
            for c in range(3)
        ]
        px = np.stack(chans, axis=-1).tobytes()
        be = doc_id % 2 == 1
        pb = build_tiff(_IMG_W, _IMG_H, 3, px, "packbits", be, rows_per_strip=6)
        lz = build_tiff(_IMG_W, _IMG_H, 3, px, "lzw", be, rows_per_strip=6, predictor=2)
        w, h, ch, back_pb = decode_image(pb)
        _w2, _h2, _c2, back_lz = decode_image(lz)
        ok = back_pb == back_lz == px
        arr = np.frombuffer(back_lz, dtype=np.uint8).reshape(h, w, ch)
        yield (doc_id, "MM" if be else "II", w, h, ch,
               *(int(arr[:, :, c].sum()) if ok else -1 for c in range(3)))

    schema = (
        "doc_id long, byte_order string, w int, h int, ch int, "
        "sum_r long, sum_g long, sum_b long"
    )
    return map_rows(d.select("doc_id"), kernel, schema).orderBy("doc_id")


def _hamming3_pairs(hashes: DataFrame) -> DataFrame:
    """(doc_a, doc_b, hamming) for the (doc_id, h0, h1) 64-bit hashes
    (two 32-bit halves) within Hamming radius 3, by the 4 x 16-bit
    pigeonhole block join of queries/dedup.py ``_radius3_pairs``."""
    from specialsid_spark.queries.dedup import _radius3_pairs

    h0, h1 = F.col("h0"), F.col("h1")
    blocks = hashes.select(
        "doc_id",
        (h0 % 65536).alias("blk0"),
        (h0 / 65536).cast("long").alias("blk1"),
        (h1 % 65536).alias("blk2"),
        (h1 / 65536).cast("long").alias("blk3"),
    )
    return _radius3_pairs(blocks).select("doc_a", "doc_b", F.col("hamming").cast("int"))


@register(
    "dedup_image_dhash_pairs",
    # Fixture images (36x32 gray): odd docs perturb their even sibling
    # (+3 on a sparse diagonal mask), so the 32 planted near-dup pairs
    # MUST surface; genuine dHash collisions between unrelated docs
    # surface too — both engines compute them identically.  The box
    # average (4x4 -> 9x8 grid) stays on the integer lattice (sum//16),
    # so the hash is exact cross-engine.
    oracle=f"""
    WITH docs AS (SELECT doc_id FROM documents WHERE doc_id < {_N_CODEC_DOCS}),
    xs AS (SELECT unnest(range(0, 36)) AS x),
    ys AS (SELECT unnest(range(0, 32)) AS y),
    px AS (
      SELECT d.doc_id, ys.y, xs.x,
             (((d.doc_id - d.doc_id % 2) * 31 + xs.x)
                * ((d.doc_id - d.doc_id % 2) % 9 + 2)
              + ys.y * ((d.doc_id - d.doc_id % 2) % 5 + 1)
              + (xs.x // 4) * (ys.y // 4) * ((d.doc_id - d.doc_id % 2) % 7)
              + CASE WHEN d.doc_id % 2 = 1 AND (xs.x + ys.y) % 13 = 0
                     THEN 3 ELSE 0 END
             ) % 256 AS v
      FROM docs d CROSS JOIN xs CROSS JOIN ys
    ),
    cells AS (
      SELECT doc_id, y // 4 AS cy, x // 4 AS cx, SUM(v) // 16 AS cv
      FROM px GROUP BY 1, 2, 3
    ),
    bits AS (
      SELECT a.doc_id, a.cy * 8 + a.cx AS pos,
             CASE WHEN b.cv > a.cv THEN 1 ELSE 0 END AS bit
      FROM cells a JOIN cells b
        ON b.doc_id = a.doc_id AND b.cy = a.cy AND b.cx = a.cx + 1
      WHERE a.cx < 8
    ),
    hashes AS (
      SELECT doc_id,
             SUM(CASE WHEN pos < 32
                 THEN bit * (CAST(1 AS BIGINT) << pos) ELSE 0 END) AS h0,
             SUM(CASE WHEN pos >= 32
                 THEN bit * (CAST(1 AS BIGINT) << (pos - 32)) ELSE 0 END) AS h1
      FROM bits GROUP BY 1
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.h0, b.h0))
                + bit_count(xor(a.h1, b.h1)) AS INT) AS hamming
    FROM hashes a JOIN hashes b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.h0, b.h0)) + bit_count(xor(a.h1, b.h1)) <= 3
    ORDER BY doc_a, doc_b
    """,
)
def dedup_image_dhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1 ∘ X3 (r7) — IMAGE near-duplicate detection via difference
    hash: the multimodal member of the dedup family (MinHash/SimHash/
    SemDeDup handle text and embeddings; corpora also carry re-encoded
    / lightly-retouched image dups).  Per doc the fixture raster is
    written as a REAL TIFF (LZW strips) and decoded back through
    ``decode_image`` — the codec runs inside the dedup pipeline, not
    beside it — then box-averaged to a 9×8 grid (integer lattice,
    sum // 16) whose horizontal gradient signs form a 64-bit dHash in
    two 32-bit halves.  Candidate pairs come from the SimHash-style
    pigeonhole block join (4 × 16-bit blocks: any pair within Hamming
    radius 3 must agree on ≥1 block), then the exact Hamming distance
    filters.

    Scale shape: hashing is per-doc mapInPandas (embarrassingly
    parallel); the self-join carries only (block, value) pairs — 4 rows
    of 10 bytes per image, never pixels — and block equality bounds
    the candidate set exactly as dedup_simhash64_radius3_pairs does at
    1e9 docs."""
    import numpy as np

    from specialsid_spark.operators.multimodal import decode_image
    from specialsid_spark.operators.tiff import build_tiff

    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < _N_CODEC_DOCS)

    def kernel(doc_id):
        base = doc_id - (doc_id % 2)
        yy, xx = np.mgrid[0:32, 0:36]
        a = (
            ((base * 31 + xx) * (base % 9 + 2)
             + yy * (base % 5 + 1)
             + (xx // 4) * (yy // 4) * (base % 7))
        ) % 256
        if doc_id % 2:
            a = (a + 3 * (((xx + yy) % 13) == 0)) % 256
        w, h, _ch, px = decode_image(build_tiff(36, 32, 1, a.astype(np.uint8).tobytes(), "lzw"))
        cells = (
            np.frombuffer(px, dtype=np.uint8)
            .reshape(h, w)
            .reshape(8, 4, 9, 4)
            .astype(np.int64)
            .sum(axis=(1, 3))
            // 16
        )
        grad = (cells[:, 1:] > cells[:, :-1]).astype(np.int64).ravel()
        yield doc_id, (grad[:32] << np.arange(32)).sum(), (grad[32:] << np.arange(32)).sum()

    return _hamming3_pairs(map_rows(d.select("doc_id"), kernel, "doc_id long, h0 long, h1 long"))


@register(
    "mm_exif_meta",
    oracle=f"""
    WITH docs AS (SELECT doc_id FROM documents WHERE doc_id < {_N_CODEC_DOCS})
    SELECT doc_id,
           CASE WHEN doc_id % 2 = 0 THEN 'II' ELSE 'MM' END AS byte_order,
           CAST(320 + doc_id % 17 AS BIGINT) AS width,
           CAST(240 + doc_id % 13 AS BIGINT) AS height,
           CAST(1 + doc_id % 8 AS INT) AS orientation,
           'Cam' || CAST(doc_id % 5 AS VARCHAR) AS make,
           '2024:01:' || lpad(CAST(1 + doc_id % 28 AS VARCHAR), 2, '0')
             || ' 12:00:00' AS dt,
           CAST(1 AS BIGINT) AS exp_num,
           CAST(60 + doc_id % 200 AS BIGINT) AS exp_den,
           CAST(28 + doc_id % 40 AS BIGINT) AS fnum_num,
           CAST(10 AS BIGINT) AS fnum_den,
           CAST(100 * (1 + doc_id % 32) AS INT) AS iso,
           CASE WHEN doc_id % 2 = 0 THEN 'N' ELSE 'S' END AS lat_ref,
           CAST((doc_id * 3) % 90 AS BIGINT) AS lat_deg,
           CAST((doc_id * 7) % 60 AS BIGINT) AS lat_min,
           CAST((doc_id * 11) % 600 AS BIGINT) AS lat_sec_num,
           CAST(10 AS BIGINT) AS lat_sec_den,
           CASE WHEN doc_id % 3 = 0 THEN 'E' ELSE 'W' END AS lon_ref,
           CAST((doc_id * 5) % 180 AS BIGINT) AS lon_deg,
           CAST((doc_id * 13) % 60 AS BIGINT) AS lon_min,
           CAST((doc_id * 17) % 600 AS BIGINT) AS lon_sec_num,
           CAST(10 AS BIGINT) AS lon_sec_den
    FROM docs ORDER BY doc_id
    """,
)
def mm_exif_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3: EXIF provenance metadata — the TIFF IFD walk inside a JPEG
    APP1 segment (operators/media_meta.py parse_exif), the image-side
    twin of the MP3/MP4/FLAC metadata parsers.  Fixtures are REAL JPEGs
    (encode_jpeg) with an APP1 spliced after SOI, alternating II/MM
    byte orders so both endian paths are value-verified; ASCII tags are
    stored out-of-line with true TIFF offsets.  At 100 TB this is the
    camera-make / orientation / capture-time histogram pass a
    multimodal corpus runs before any pixel work.

    Scale shape: the usual codec-query shape — mapInPandas over a
    doc-id spine, per-row independent, no shuffle before the sort."""
    import numpy as np

    from specialsid_spark.operators.jpeg import encode_jpeg
    from specialsid_spark.operators.media_meta import (
        build_exif_app1,
        insert_app1,
        parse_exif,
    )

    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < _N_CODEC_DOCS)

    def kernel(doc_id):
        img = np.full((8, 8), (doc_id * 31) % 256, dtype=np.uint8)
        jpeg = encode_jpeg(8, 8, 1, img.tobytes(), quality=100)
        app1 = build_exif_app1(
            320 + doc_id % 17,
            240 + doc_id % 13,
            f"Cam{doc_id % 5}",
            1 + doc_id % 8,
            f"2024:01:{1 + doc_id % 28:02d} 12:00:00",
            big_endian=bool(doc_id % 2),
            exposure=(1, 60 + doc_id % 200),
            fnumber=(28 + doc_id % 40, 10),
            iso=100 * (1 + doc_id % 32),
            gps=(
                "N" if doc_id % 2 == 0 else "S",
                [((doc_id * 3) % 90, 1), ((doc_id * 7) % 60, 1), ((doc_id * 11) % 600, 10)],
                "E" if doc_id % 3 == 0 else "W",
                [((doc_id * 5) % 180, 1), ((doc_id * 13) % 60, 1), ((doc_id * 17) % 600, 10)],
            ),
        )
        m = parse_exif(insert_app1(jpeg, app1))
        lat, lon = m["gps_lat"], m["gps_lon"]
        # deg/min are den-1 rationals: assert and emit the ints
        assert lat[0][1] == lat[1][1] == lon[0][1] == lon[1][1] == 1
        yield (
            doc_id, m["byte_order"], m["width"], m["height"], m["orientation"],
            m["make"], m["datetime"], *m["exposure"], *m["fnumber"], m["iso"],
            m["gps_lat_ref"], lat[0][0], lat[1][0], *lat[2],
            m["gps_lon_ref"], lon[0][0], lon[1][0], *lon[2],
        )

    schema = (
        "doc_id long, byte_order string, width long, height long, "
        "orientation int, make string, dt string, "
        "exp_num long, exp_den long, fnum_num long, fnum_den long, "
        "iso int, lat_ref string, lat_deg long, lat_min long, "
        "lat_sec_num long, lat_sec_den long, lon_ref string, "
        "lon_deg long, lon_min long, lon_sec_num long, lon_sec_den long"
    )
    return map_rows(d.select("doc_id"), kernel, schema).orderBy("doc_id")


@register(
    "mm_image_convolve",
    # Fixture raster: v = (doc*23 + x*(doc%7+3) + y*7 + (x*y)%11) % 256
    # (the doc-dependent horizontal slope makes BOTH features
    # discriminate across docs).  Features: valid-mode 3x3 box blur
    # (integer // 9 — stays on the lattice) summed over the interior,
    # and the central-difference horizontal gradient |v(x+1)-v(x-1)|
    # summed — the two classic cheap image-quality signals (softness /
    # edge energy) a multimodal curation pass uses to filter blank or
    # noise pages.
    oracle=f"""
    WITH docs AS (SELECT doc_id FROM documents WHERE doc_id < {_N_CODEC_DOCS}),
    xs AS (SELECT unnest(range(0, 20)) AS x),
    ys AS (SELECT unnest(range(0, 16)) AS y),
    px AS (
      SELECT d.doc_id, xs.x, ys.y,
             (d.doc_id*23 + xs.x*(d.doc_id % 7 + 3) + ys.y*7
              + (xs.x*ys.y) % 11) % 256 AS v
      FROM docs d CROSS JOIN xs CROSS JOIN ys
    ),
    ctr AS (SELECT doc_id, x, y FROM px
            WHERE x BETWEEN 1 AND 18 AND y BETWEEN 1 AND 14),
    blur AS (
      SELECT c.doc_id, c.x, c.y, SUM(p.v) // 9 AS b
      FROM ctr c JOIN px p ON p.doc_id = c.doc_id
       AND p.x BETWEEN c.x - 1 AND c.x + 1 AND p.y BETWEEN c.y - 1 AND c.y + 1
      GROUP BY 1, 2, 3
    ),
    grad AS (
      SELECT l.doc_id, SUM(abs(r.v - l.v)) AS g
      FROM px l JOIN px r ON r.doc_id = l.doc_id AND r.y = l.y AND r.x = l.x + 2
      WHERE l.y BETWEEN 1 AND 14
      GROUP BY 1
    )
    SELECT b.doc_id, CAST(SUM(b.b) AS BIGINT) AS blur_sum,
           CAST(MIN(g.g) AS BIGINT) AS grad_sum
    FROM blur b JOIN grad g ON g.doc_id = b.doc_id
    GROUP BY 1 ORDER BY 1
    """,
)
def mm_image_convolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 feature-extract (r7): integer convolution features over
    decoded rasters — valid-mode 3×3 box blur (// 9, exact lattice)
    and central-difference horizontal edge energy.  Each doc's fixture
    raster roundtrips through the REAL PNM codec before the kernels
    run (encode_pnm → decode_image), so the features are computed the
    way a pipeline computes them: on decoder output, not on synthetic
    arrays.  The DuckDB oracle restates pixels, the 3×3 neighborhood
    sum, and the gradient as joins over the coordinate grid.

    Scale shape: the usual codec-query shape — per-doc independent
    mapInPandas, one numpy pass per raster, no shuffle before the
    sort; at 100 TB these are the cheap per-image map features that
    gate which images deserve expensive model inference."""
    import numpy as np

    from specialsid_spark.operators.multimodal import decode_image
    from specialsid_spark.operators.pnm import encode_pnm

    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < _N_CODEC_DOCS)
    W, H = 20, 16

    def kernel(doc_id):
        yy, xx = np.mgrid[0:H, 0:W]
        a = (
            (doc_id * 23 + xx * (doc_id % 7 + 3) + yy * 7 + (xx * yy) % 11) % 256
        ).astype(np.uint8)
        _w, _h, _c, px = decode_image(encode_pnm(W, H, 1, a.tobytes()))
        a = np.frombuffer(px, dtype=np.uint8).reshape(H, W).astype(np.int64)
        s = sum(
            a[1 + dy : H - 1 + dy, 1 + dx : W - 1 + dx]
            for dy in (-1, 0, 1)
            for dx in (-1, 0, 1)
        )
        yield doc_id, (s // 9).sum(), np.abs(a[1 : H - 1, 2:] - a[1 : H - 1, : W - 2]).sum()

    schema = "doc_id long, blur_sum long, grad_sum long"
    return map_rows(d.select("doc_id"), kernel, schema).orderBy("doc_id")


@register(
    "mm_wav_decimate",
    # Same clip grammar as mm_wav_frame_energy; decimation by 4 is a
    # floored block mean, restated below as floor(SUM/4) per 4-sample
    # block (floor(), not a dialect-dependent integer division —
    # negative sums floor toward -inf in both engines' floor()).
    oracle=f"""
    WITH docs AS (SELECT doc_id FROM documents WHERE doc_id < {_N_CODEC_DOCS}),
    ks AS (SELECT unnest(range(0, {_WAV_N})) AS k),
    cells AS (
      SELECT d.doc_id, ks.k // 4 AS blk,
             ((d.doc_id * 7 + ks.k * 13) % 4096) - 2048 AS s
      FROM docs d CROSS JOIN ks
    ),
    dec AS (
      SELECT doc_id, blk,
             CAST(floor(CAST(SUM(s) AS DOUBLE) / 4) AS BIGINT) AS v
      FROM cells GROUP BY 1, 2
    )
    SELECT doc_id, CAST(COUNT(*) AS INT) AS n_out,
           CAST(SUM(v) AS BIGINT) AS dec_sum,
           CAST(SUM(v * v) AS BIGINT) AS dec_energy
    FROM dec GROUP BY 1 ORDER BY 1
    """,
)
def mm_wav_decimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 audio, r7 — ANTI-ALIASED downsampling: decimate_box averages
    each 4-sample block (floored mean, exact integer lattice) where
    resample_nearest PICKS every 4th sample and aliases.  The full
    chain runs for real per doc — synthesize, encode RIFF/WAVE 16-bit,
    parse + decode, decimate 16 kHz→4 kHz — and the oracle restates
    the block means cell-by-cell, so a header/layout/decode defect OR
    a wrong filter lands in the sums.

    Scale shape: the codec-query convention — per-doc independent
    mapInPandas, no shuffle before the sort."""
    import numpy as np

    from specialsid_spark.operators.audio import (
        decimate_box,
        decode_wav,
        encode_wav,
    )

    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < _N_CODEC_DOCS)

    def kernel(doc_id):
        k = np.arange(_WAV_N, dtype=np.int64)
        samples = ((doc_id * 7 + k * 13) % 4096) - 2048
        _rate, _nch, back = decode_wav(encode_wav(16000, samples.astype(np.int16)))
        dec = decimate_box(back, 4)
        yield doc_id, dec.shape[0], dec.sum(), (dec * dec).sum()

    schema = "doc_id long, n_out int, dec_sum long, dec_energy long"
    return map_rows(d.select("doc_id"), kernel, schema).orderBy("doc_id")


# ---------------------------------------------------------------------------
# pHash — DCT perceptual hash (r8, VERDICT #8)
# ---------------------------------------------------------------------------

def _phash_oracle() -> str:
    """Oracle for dedup_image_phash_pairs: the ENTIRE integer DCT —
    fixed-point basis table (operators/phash.py DCT_TABLE, embedded as
    literal rows so both engines multiply identical integers), the
    8x8 low-frequency block, the lower-median order statistic, 64-bit
    packing, and the radius-3 pair join — restated in SQL."""
    from specialsid_spark.operators.phash import sql_dct_table

    return f"""
    WITH docs AS (SELECT doc_id FROM documents WHERE doc_id < {_N_CODEC_DOCS}),
    xs AS (SELECT unnest(range(0, 32)) AS x),
    ys AS (SELECT unnest(range(0, 32)) AS y),
    px AS (
      SELECT d.doc_id, ys.y, xs.x,
             6 + (d.doc_id - d.doc_id % 2) % 37
             + (xs.x * ((d.doc_id - d.doc_id % 2) % 5 + 1)) // 4
             + (ys.y * ((d.doc_id - d.doc_id % 2) % 3 + 1)) // 4
             + ((xs.x * (3 + (d.doc_id - d.doc_id % 2) % 13)
                 + ys.y * (5 + (d.doc_id - d.doc_id % 2) % 11)) % 64) * 2
             + CASE WHEN d.doc_id % 2 = 1
                    THEN 2 * ((xs.x + ys.y) % 2) ELSE 0 END AS v
      FROM docs d CROSS JOIN xs CROSS JOIN ys
    ),
    ct(u, cx, c) AS {sql_dct_table()},
    dct AS (
      SELECT p.doc_id, ky.u AS v, kx.u AS u,
             SUM(CAST(p.v AS BIGINT) * ky.c * kx.c) AS d
      FROM px p JOIN ct kx ON kx.cx = p.x JOIN ct ky ON ky.cx = p.y
      GROUP BY 1, 2, 3
    ),
    med AS (
      SELECT doc_id, d AS median FROM
        (SELECT doc_id, d,
                row_number() OVER (PARTITION BY doc_id ORDER BY d) AS rn
         FROM dct)
      WHERE rn = 33
    ),
    bits AS (
      SELECT dct.doc_id, dct.v * 8 + dct.u AS pos,
             CASE WHEN dct.d > med.median THEN 1 ELSE 0 END AS bit
      FROM dct JOIN med USING (doc_id)
    ),
    hashes AS (
      SELECT doc_id,
             SUM(CASE WHEN pos < 32
                 THEN bit * (CAST(1 AS BIGINT) << pos) ELSE 0 END) AS h0,
             SUM(CASE WHEN pos >= 32
                 THEN bit * (CAST(1 AS BIGINT) << (pos - 32)) ELSE 0 END) AS h1
      FROM bits GROUP BY 1
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.h0, b.h0))
                + bit_count(xor(a.h1, b.h1)) AS INT) AS hamming
    FROM hashes a JOIN hashes b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.h0, b.h0)) + bit_count(xor(a.h1, b.h1)) <= 3
    ORDER BY doc_a, doc_b
    """


@register(
    "dedup_image_phash_pairs",
    # Fixture (32x32 gray): per-base low-frequency structure (ramps +
    # a per-doc-oriented sawtooth) so unrelated docs hash apart (4
    # genuine collisions at 64 docs, computed identically by both
    # engines); odd docs overlay a +-2 CHECKERBOARD on their even
    # sibling — pure Nyquist-frequency noise, the signature of
    # requantization — which pHash's low-band block barely sees (all
    # 32 planted pairs land at hamming <= 2).
    oracle=_phash_oracle(),
)
def dedup_image_phash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1 ∘ X3 (r8, VERDICT #8) — pHash image near-dup next to dHash:
    DCT-based perceptual hash, robust where dHash is brittle.  dHash
    compares adjacent box-average cells, so high-frequency
    requantization noise (a JPEG recompress) flips near-tie gradient
    bits; pHash thresholds the 8x8 LOW-frequency DCT block against its
    median, which such noise barely moves —
    tests/test_phash.py demonstrates a real q95->q35 JPEG recompress
    that dHash scatters (hamming >> 3) and pHash holds (<= 3).

    Integer-exact cross-engine: the DCT basis is the fixed-point table
    in operators/phash.py, embedded verbatim in the SQL oracle, and
    the median is an order statistic — no floating point anywhere.
    Each raster additionally round-trips a PackBits TIFF so the codec
    runs inside the dedup pipeline, not beside it.

    Scale shape: hashing is per-doc mapInPandas (no shuffle); the
    candidate join is the same 4x16-bit pigeonhole block join as
    dHash/SimHash — 4 rows of ~10 bytes per image, radius-3 recall
    guaranteed by the pigeonhole principle, never an all-pairs join."""
    import numpy as np

    from specialsid_spark.operators.multimodal import decode_image
    from specialsid_spark.operators.phash import phash64
    from specialsid_spark.operators.tiff import build_tiff

    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < _N_CODEC_DOCS)

    def kernel(doc_id):
        base = doc_id - (doc_id % 2)
        yy, xx = np.mgrid[0:32, 0:32]
        a = (
            6 + base % 37
            + (xx * (base % 5 + 1)) // 4
            + (yy * (base % 3 + 1)) // 4
            + ((xx * (3 + base % 13) + yy * (5 + base % 11)) % 64) * 2
        )
        if doc_id % 2:
            a = a + 2 * ((xx + yy) % 2)
        w, h, _ch, px = decode_image(build_tiff(32, 32, 1, a.astype(np.uint8).tobytes(), "packbits"))
        yield doc_id, *phash64(np.frombuffer(px, dtype=np.uint8).reshape(h, w))

    return _hamming3_pairs(map_rows(d.select("doc_id"), kernel, "doc_id long, h0 long, h1 long"))


# ---------------------------------------------------------------------------
# audio fingerprint dedup (r8) — the audio member of the near-dup family
# ---------------------------------------------------------------------------

def _audio_fp_oracle() -> str:
    """dedup_audio_fingerprint_pairs oracle: the integer spectral
    fingerprint — 9 frames x 32 samples, 8 bands via the SAME
    fixed-point DCT basis as pHash (operators/phash.py DCT_TABLE,
    embedded as literal rows), temporal-gradient bits, 64-bit packing,
    radius-3 pair join — restated in SQL."""
    from specialsid_spark.operators.phash import sql_dct_table

    return f"""
    WITH docs AS (SELECT doc_id FROM documents WHERE doc_id < {_N_CODEC_DOCS}),
    ts AS (SELECT unnest(range(0, 288)) AS t),
    sig AS (
      SELECT d.doc_id, ts.t, ts.t // 32 AS f, ts.t % 32 AS tt,
             ((ts.t * (2 + ((d.doc_id - d.doc_id % 2) * (ts.t // 32 + 1)) % 15)) % 64)
               * (25 + (d.doc_id - d.doc_id % 2) % 9)
             + ((ts.t * (1 + ((d.doc_id - d.doc_id % 2) * 3 + (ts.t // 32) * 7) % 9)
                 + (d.doc_id - d.doc_id % 2) % 23) % 32)
               * (15 + (d.doc_id - d.doc_id % 2) % 13)
             - 2200
             + CASE WHEN d.doc_id % 2 = 1
                    THEN 3 * (1 - 2 * (ts.t % 2)) ELSE 0 END AS x
      FROM docs d CROSS JOIN ts
    ),
    ct(u, cx, c) AS {sql_dct_table()},
    spec AS (
      SELECT s.doc_id, s.f, k.u,
             SUM(CAST(s.x AS BIGINT) * k.c) AS d
      FROM sig s JOIN ct k ON k.cx = s.tt
      GROUP BY 1, 2, 3
    ),
    bits AS (
      SELECT a.doc_id, (a.f - 1) * 8 + a.u AS pos,
             CASE WHEN a.d > b.d THEN 1 ELSE 0 END AS bit
      FROM spec a JOIN spec b
        ON b.doc_id = a.doc_id AND b.u = a.u AND b.f = a.f - 1
      WHERE a.f >= 1
    ),
    hashes AS (
      SELECT doc_id,
             SUM(CASE WHEN pos < 32
                 THEN bit * (CAST(1 AS BIGINT) << pos) ELSE 0 END) AS h0,
             SUM(CASE WHEN pos >= 32
                 THEN bit * (CAST(1 AS BIGINT) << (pos - 32)) ELSE 0 END) AS h1
      FROM bits GROUP BY 1
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.h0, b.h0))
                + bit_count(xor(a.h1, b.h1)) AS INT) AS hamming
    FROM hashes a JOIN hashes b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.h0, b.h0)) + bit_count(xor(a.h1, b.h1)) <= 3
    ORDER BY doc_a, doc_b
    """


@register(
    "dedup_audio_fingerprint_pairs",
    # Fixture "melodies" (288-sample int16 PCM): per-frame fundamentals
    # stepping with the doc base — adjacent-frame spectra genuinely
    # differ, so gradient bits carry per-doc structure (zero genuine
    # collisions at 64 docs, min unrelated hamming 4); odd docs overlay
    # a +-3 Nyquist dither on their even sibling — the signature of a
    # lossy audio re-encode — which the band coefficients barely see
    # (all 32 planted pairs land at hamming 0).
    oracle=_audio_fp_oracle(),
)
def dedup_audio_fingerprint_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1 ∘ X3 (r8) — AUDIO near-duplicate detection, completing the
    modality dedup family (text MinHash/SimHash, embedding SemDeDup,
    image dHash/pHash, audio here): a chromaprint-style spectral
    fingerprint — frame the PCM, take 8 fixed-point DCT bands per
    frame (the SAME integer basis as pHash), and set one bit per
    (frame, band) from the temporal gradient sign, giving a 64-bit
    fingerprint robust to re-encode dither but discriminative across
    melodies.  Every raster round-trips a REAL PCM16 WAV
    (operators/audio.py encode_wav/decode_wav), so the audio codec
    runs inside the dedup pipeline.

    Integer-exact cross-engine: spectral coefficients are int64 sums
    of sample x basis products; no floats anywhere.  Candidate pairs
    come from the same 4x16-bit pigeonhole block join as
    SimHash/dHash/pHash — radius-3 recall by pigeonhole, 4 tiny rows
    per clip, never all-pairs."""
    import numpy as np

    from specialsid_spark.operators.audio import decode_wav, encode_wav
    from specialsid_spark.operators.phash import DCT_TABLE

    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < _N_CODEC_DOCS)
    K = np.asarray(DCT_TABLE, dtype=np.int64)

    def kernel(doc_id):
        base = doc_id - (doc_id % 2)
        t = np.arange(288)
        f = t // 32
        k1 = 2 + (base * (f + 1)) % 15
        k2 = 1 + (base * 3 + f * 7) % 9
        x = (
            ((t * k1) % 64) * (25 + base % 9)
            + ((t * k2 + base % 23) % 32) * (15 + base % 13)
            - 2200
        )
        if doc_id % 2:
            x = x + 3 * (1 - 2 * (t % 2))
        _rate, _nch, samples = decode_wav(encode_wav(16000, x.astype(np.int16)))
        D = samples.astype(np.int64).reshape(9, 32) @ K.T
        bits = (D[1:] > D[:-1]).astype(np.int64).ravel()
        yield doc_id, (bits[:32] << np.arange(32)).sum(), (bits[32:] << np.arange(32)).sum()

    return _hamming3_pairs(map_rows(d.select("doc_id"), kernel, "doc_id long, h0 long, h1 long"))


@register(
    "mm_jpeg_cmyk_pixels",
    # Per 8x8 block the four ink values derive from doc_id arithmetic;
    # storage is Adobe-inverted (s = 255 - ink) at quality 100 with
    # all-luma tables (every quant step 1, DC-only blocks), so decode
    # returns the exact stored samples and rgb = round(s_ch*s_k/255).
    # The half-way rounding case cannot occur: s_ch*s_k mod 255 is an
    # integer over an ODD modulus, so the fraction is never exactly .5
    # and ROUND agrees with numpy's banker rounding everywhere.
    oracle=f"""
    WITH {_SQL_CELLS},
    px AS (
      SELECT d.doc_id,
             255 - (d.doc_id * 31 + (ys.y // 8) * 7 + (xs.x // 8) * 13) % 256
               AS sc,
             255 - (d.doc_id * 17 + (ys.y // 8) * 11 + (xs.x // 8) * 3) % 256
               AS sm,
             255 - (d.doc_id * 23 + (ys.y // 8) * 5 + (xs.x // 8) * 19) % 256
               AS sy,
             255 - (d.doc_id * 13 + (ys.y // 8) * 3 + (xs.x // 8) * 29) % 128
               AS sk
      FROM docs d CROSS JOIN ys CROSS JOIN xs
    )
    SELECT doc_id,
           CAST(SUM(CAST(ROUND(sc * sk / 255.0) AS BIGINT)) AS BIGINT) AS r_sum,
           CAST(SUM(CAST(ROUND(sm * sk / 255.0) AS BIGINT)) AS BIGINT) AS g_sum,
           CAST(SUM(CAST(ROUND(sy * sk / 255.0) AS BIGINT)) AS BIGINT) AS b_sum
    FROM px
    GROUP BY doc_id
    ORDER BY doc_id
    """,
)
def mm_jpeg_cmyk_pixels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 (r9 wave 2) — Adobe CMYK JPEG decode, oracle-hash-checked:
    per doc, build a deterministic 4-channel block-uniform CMYK ink
    image, encode it as a real Adobe JPEG (APP14 transform 0, inverted
    samples, operators/jpeg.py), decode back through the CMYK->RGB
    path, and report exact per-channel pixel sums the oracle restates
    arithmetically.  Print-stock flyer PDFs ship exactly these streams
    (the reference's domain), which the codec refused through r9
    wave 1.

    Scale shape: one mapInPandas over a doc-id spine, per-row
    independent encode/decode, no shuffle before the final sort."""
    import numpy as np

    from specialsid_spark.operators.jpeg import decode_jpeg, encode_jpeg

    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < _N_CODEC_DOCS)

    def kernel(doc_id):
        img = np.zeros((_IMG_H, _IMG_W, 4), dtype=np.uint8)
        for by in range(_IMG_H // 8):
            for bx in range(_IMG_W // 8):
                img[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = (
                    (doc_id * 31 + by * 7 + bx * 13) % 256,
                    (doc_id * 17 + by * 11 + bx * 3) % 256,
                    (doc_id * 23 + by * 5 + bx * 19) % 256,
                    (doc_id * 13 + by * 3 + bx * 29) % 128,
                )
        w, h, ch, px = decode_jpeg(encode_jpeg(_IMG_W, _IMG_H, 4, img.tobytes(), quality=100))
        rgb = np.frombuffer(px, dtype=np.uint8).reshape(h, w, ch)
        yield doc_id, *(int(rgb[..., c].sum()) for c in range(3))

    schema = "doc_id long, r_sum long, g_sum long, b_sum long"
    return map_rows(d.select("doc_id"), kernel, schema).orderBy("doc_id")


# resize target: 32x24 -> 20x15 (tenths-exact: 5*32 % 20 == 0,
# 5*24 % 15 == 0; source coords in tenths are 16*d + 3 on both axes)
_RZ_W, _RZ_H = 20, 15
_SQL_FIXVAL = "(d.doc_id * 31 + ({yy} // 8) * 7 + ({xx} // 8) * 13) % 256"


def _sql_bilinear_val() -> str:
    v = {
        (0, 0): _SQL_FIXVAL.format(yy="g.y0", xx="g.x0"),
        (0, 1): _SQL_FIXVAL.format(yy="g.y0", xx="g.x1"),
        (1, 0): _SQL_FIXVAL.format(yy="g.y1", xx="g.x0"),
        (1, 1): _SQL_FIXVAL.format(yy="g.y1", xx="g.x1"),
    }
    return (
        f"((10 - g.fy) * ((10 - g.fx) * ({v[(0,0)]}) + g.fx * ({v[(0,1)]}))"
        f" + g.fy * ((10 - g.fx) * ({v[(1,0)]}) + g.fx * ({v[(1,1)]}))"
        " + 50) // 100"
    )


@register(
    "mm_image_resize_bilinear",
    oracle=f"""
    WITH docs AS (SELECT doc_id FROM documents WHERE doc_id < {_N_CODEC_DOCS}),
    oy AS (SELECT unnest(range(0, {_RZ_H})) AS y),
    ox AS (SELECT unnest(range(0, {_RZ_W})) AS x),
    grid AS (
      SELECT oy.y, ox.x,
             (16 * oy.y + 3) // 10 AS y0,
             least((16 * oy.y + 3) // 10 + 1, {_IMG_H - 1}) AS y1,
             (16 * oy.y + 3) % 10 AS fy,
             (16 * ox.x + 3) // 10 AS x0,
             least((16 * ox.x + 3) // 10 + 1, {_IMG_W - 1}) AS x1,
             (16 * ox.x + 3) % 10 AS fx
      FROM oy CROSS JOIN ox
    )
    SELECT d.doc_id,
           CAST({_RZ_W} AS INT) AS out_w, CAST({_RZ_H} AS INT) AS out_h,
           CAST(SUM({_sql_bilinear_val()}) AS BIGINT) AS pix_sum,
           CAST(SUM(({_sql_bilinear_val()}) * ((g.y * {_RZ_W} + g.x) % 997))
                AS BIGINT) AS pos_ck
    FROM docs d CROSS JOIN grid g
    GROUP BY d.doc_id
    ORDER BY d.doc_id
    """,
)
def mm_image_resize_bilinear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 (r9 wave 2) — BILINEAR resize, the vision-training
    preprocessing convention (half-pixel centers, up/downscale), in
    exact tenths fixed-point: per doc, resample the deterministic
    32x24 block fixture to 20x15 and report the pixel sum plus a
    position-weighted checksum that pins every output pixel's VALUE
    AND PLACE.  The oracle re-derives each output pixel from the
    fixture arithmetic and the identical integer expression — a
    cross-engine proof of the resampler, not just its totals.
    Complements mm-family box decimation (area-average) with the
    interpolating kernel.

    Scale shape: per-image independent mapInPandas (Arrow-batched,
    no shuffle) — the 100 TB vision-resize pass is embarrassingly
    parallel."""
    import numpy as np

    from specialsid_spark.operators.multimodal import resize_bilinear_fp10

    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < _N_CODEC_DOCS)
    pos = (np.arange(_RZ_H)[:, None] * _RZ_W + np.arange(_RZ_W)[None, :]) % 997

    def kernel(doc_id):
        img = np.asarray(_fixture_gray(doc_id, 0), dtype=np.uint8).reshape(_IMG_H, _IMG_W, 1)
        r = resize_bilinear_fp10(img, _RZ_W, _RZ_H).astype(np.int64)
        yield doc_id, _RZ_W, _RZ_H, r.sum(), (r[..., 0] * pos).sum()

    schema = "doc_id long, out_w int, out_h int, pix_sum long, pos_ck long"
    return map_rows(d.select("doc_id"), kernel, schema).orderBy("doc_id")


@register(
    "mm_pdf_cff_text_raster",
    # r10 continuation (VERDICT r9 #4 named CFF the remaining font
    # fallback): /FontFile3 Type1C programs now render real Type 2
    # charstring outlines (operators/cff.py).  The fixture font
    # (units-per-em 1024, size 64 -> scale 1/16 exact) carries four
    # oracle-closed-form glyphs: L = one 6-corner contour (608 px),
    # O = outer CW + inner CCW ring (nonzero winding, 1088 px),
    # C = ONE CUBIC arch closed along the baseline — the cpts CTE
    # re-derives the pinned 16-segment flatten (BEZIER_SEGS, same
    # association order as path fills; every flattened coordinate is
    # an exact multiple of 1/4096 so ink is pen-invariant), H = three
    # rect contours exercising the Type 2 pen rule (implicit closepath
    # never moves the pen; 960 px).  A defect anywhere — INDEX/DICT
    # parsing, BCD FontMatrix reals, width operands, relative-delta
    # accumulation, subpath closure, hv/vv shortcut expansion — moves
    # a pixel and fails the hash.
    oracle=f"""
    WITH docs AS (SELECT doc_id FROM documents WHERE doc_id < {_N_CODEC_DOCS}),
    cpts AS (
      SELECT k,
             u*u*u*76.0 + 3*u*u*t*84.0 + 3*u*t*t*100.0 + t*t*t*108.0 AS px,
             u*u*u*92.0 + 3*u*u*t*52.0 + 3*u*t*t*52.0 + t*t*t*92.0 AS py
      FROM (
        SELECT kk.k AS k, CAST(kk.k AS DOUBLE) / 16 AS t,
               1.0 - CAST(kk.k AS DOUBLE) / 16 AS u
        FROM (SELECT unnest(range(0, 17)) AS k) kk
      )
    ),
    cedges AS (
      SELECT a.px AS ex0, a.py AS ey0, b.px AS ex1, b.py AS ey1
      FROM cpts a JOIN cpts b ON b.k = a.k + 1
      WHERE a.py <> b.py
    ),
    ccross AS (
      SELECT sl.py AS row_y,
             e.ex0 + ((CAST(sl.py AS DOUBLE) + 0.5) - e.ey0)
                     * (e.ex1 - e.ex0) / (e.ey1 - e.ey0) AS cx
      FROM cedges e, (SELECT unnest(range(50, 93)) AS py) sl
      WHERE (e.ey0 <= CAST(sl.py AS DOUBLE) + 0.5
             AND CAST(sl.py AS DOUBLE) + 0.5 < e.ey1)
         OR (e.ey1 <= CAST(sl.py AS DOUBLE) + 0.5
             AND CAST(sl.py AS DOUBLE) + 0.5 < e.ey0)
    ),
    cink AS (
      SELECT CAST(SUM(npx) AS BIGINT) AS ink FROM (
        SELECT CAST(ceil(MAX(cx) - 0.5) AS BIGINT)
                 - CAST(ceil(MIN(cx) - 0.5) AS BIGINT) AS npx
        FROM ccross GROUP BY row_y)
    ),
    chars AS (
      SELECT d.doc_id, kk.k, (d.doc_id + kk.k) % 4 AS ctype
      FROM docs d, (SELECT unnest(range(0, 7)) AS k) kk
      WHERE kk.k < 3 + d.doc_id % 4
    ),
    perdoc AS (
      SELECT c.doc_id,
             CAST(COUNT(*) AS INT) AS n_chars,
             CAST(SUM(CASE c.ctype WHEN 0 THEN 608 WHEN 1 THEN 1088
                      WHEN 2 THEN ci.ink ELSE 960 END) AS BIGINT) AS ink_px
      FROM chars c CROSS JOIN cink ci
      GROUP BY c.doc_id
    )
    SELECT doc_id, 612 AS width, 792 AS height, n_chars, ink_px,
           CAST(255 * CAST(612 * 792 AS BIGINT) - 255 * ink_px AS BIGINT)
             AS gray_sum
    FROM perdoc
    ORDER BY doc_id
    """,
)
def mm_pdf_cff_text_raster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1/X3 extension, r10 — CFF TEXT RENDERING: each doc's fixture
    page sets a doc-derived string ("LOCH" cycle, 3-6 chars) in an
    embedded CFF font; the rasterizer parses the /FontFile3 Type1C
    program (INDEX/DICT/charstrings, operators/cff.py), interprets
    Type 2 charstrings to cubic outlines, flattens with the pinned
    16-segment rule, and scanline-fills with nonzero winding —
    reference parity for Poppler's Type 1/CFF rendering
    (gen_pdf_imgLambda.py:51).  Together with mm_pdf_glyph_text_raster
    (TrueType) this closes the embedded-font family; fonts outside
    both formats still degrade to the r8 glyph-box model.

    Scale shape: per-row independent mapInPandas (the font parses once
    per page render); buffer bounded by page size, never the corpus."""
    from specialsid_spark.operators.pdfraster import build_cff_pdf

    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < _N_CODEC_DOCS)

    def kernel(doc_id):
        n = 3 + doc_id % 4
        gray = _page_gray(build_cff_pdf("".join("LOCH"[(doc_id + k) % 4] for k in range(n))))
        if gray is None:  # degrade surfaces as an impossible row
            yield doc_id, -1, -1, -1, -1, -1
            return
        h, w = gray.shape
        yield doc_id, w, h, n, *_ink(gray)

    schema = "doc_id long, width int, height int, n_chars int, ink_px long, gray_sum long"
    return map_rows(d.select("doc_id"), kernel, schema).orderBy("doc_id")


@register(
    "mm_pdf_radial_stitch_raster",
    # r10 continuation (after VERDICT r9 #5's axial): RADIAL
    # (ShadingType 3) gradients through a STITCHING (FunctionType 3)
    # two-leg function — the "spotlight + middle stop" form of flyer
    # art.  The oracle restates the painter's exact double chain
    # (operators/pdfraster.py _paint_shading): user coords from pixel
    # centers under the base CTM, the quadratic-root parameter
    # s = (b_h - sqrt(b_h^2 - a_q*c_q)) / a_q with the fixture's
    # concentric coords folded as literals (dx = dy = 0, r0 = 0,
    # a_q < 0 so the largest root takes the -sqrt branch), the
    # [0,1] clamp (/Extend), the subdomain select at the exact-double
    # bound 0.5 with encode remap, and floor(value*255 + 0.5).
    oracle=f"""
    WITH docs AS (SELECT doc_id FROM documents WHERE doc_id < {_N_CODEC_DOCS}),
    stops AS (
      SELECT doc_id,
             (30 + (doc_id * 5) % 120) / 255.0 AS c0,
             (220 - doc_id % 40) / 255.0 AS cm,
             (60 + (doc_id * 7) % 100) / 255.0 AS c1
      FROM docs
    ),
    grid AS (
      SELECT x.x, y.y
      FROM (SELECT unnest(range(200, 400)) AS x) x,
           (SELECT unnest(range(300, 500)) AS y) y
    ),
    tval AS (
      SELECT x, y,
             LEAST(1.0, GREATEST(0.0,
               ((px_ * 0.0 + py_ * 0.0 + 0.0 * 150.0)
                - sqrt((px_ * 0.0 + py_ * 0.0 + 0.0 * 150.0)
                         * (px_ * 0.0 + py_ * 0.0 + 0.0 * 150.0)
                       - (0.0 * 0.0 + 0.0 * 0.0 - 150.0 * 150.0)
                         * (px_ * px_ + py_ * py_ - 0.0 * 0.0)))
               / (0.0 * 0.0 + 0.0 * 0.0 - 150.0 * 150.0))) AS t
      FROM (
        SELECT x, y,
               (CAST(x AS DOUBLE) + 0.5) - 300.0 AS px_,
               (792.0 - (CAST(y AS DOUBLE) + 0.5)) - 392.0 AS py_
        FROM grid
      )
    ),
    pix AS (
      SELECT s.doc_id,
             CAST(floor(
               (CASE WHEN g.t < 0.5
                     THEN s.c0 + (0.0 + (g.t - 0.0) * (1.0 - 0.0)
                                    / (0.5 - 0.0)) * (s.cm - s.c0)
                     ELSE s.cm + (0.0 + (g.t - 0.5) * (1.0 - 0.0)
                                    / (1.0 - 0.5)) * (s.c1 - s.cm)
                END) * 255.0 + 0.5) AS BIGINT) AS v
      FROM stops s, tval g
    )
    SELECT doc_id, 612 AS width, 792 AS height,
           CAST(SUM(CASE WHEN v <> 255 THEN 1 ELSE 0 END) AS BIGINT)
             AS ink_px,
           CAST(255 * CAST(612 * 792 AS BIGINT) - SUM(255 - v) AS BIGINT)
             AS gray_sum,
           CAST(MIN(v) AS BIGINT) AS v_min,
           CAST(MAX(v) AS BIGINT) AS v_max
    FROM pix
    GROUP BY doc_id
    ORDER BY doc_id
    """,
)
def mm_pdf_radial_stitch_raster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1/X3 extension, r10 — radial (ShadingType 3) gradient through a
    two-leg stitching (FunctionType 3) function, painted inside a rect
    clip: per doc, doc-derived stops (c0, cm, c1) with the middle stop
    at t = 0.5; emits exact ink coverage, gray sum, and the value
    range.  Completes the gradient family (axial r10, radial+stitch
    r10) of the rasterizer's paint sources.

    Scale shape: per-row independent mapInPandas, no shuffle before
    the final sort."""
    from specialsid_spark.operators.pdfraster import build_radial_pdf

    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < _N_CODEC_DOCS)

    def kernel(doc_id):
        stops = (
            (30 + (doc_id * 5) % 120) / 255.0,
            (220 - doc_id % 40) / 255.0,
            (60 + (doc_id * 7) % 100) / 255.0,
        )
        gray = _page_gray(
            build_radial_pdf((200, 292, 200, 200), (300, 392, 0, 300, 392, 150), stops, 0.5)
        )
        if gray is None:  # degrade surfaces as an impossible row
            yield doc_id, -1, -1, -1, -1, -1, -1
            return
        h, w = gray.shape
        region = gray[300:500, 200:400]
        yield doc_id, w, h, *_ink(gray), region.min(), region.max()

    schema = (
        "doc_id long, width int, height int, ink_px long,"
        " gray_sum long, v_min long, v_max long"
    )
    return map_rows(d.select("doc_id"), kernel, schema).orderBy("doc_id")


@register(
    "mm_pdf_separation_fill_raster",
    # r10 (VERDICT r9 #2 named Separation color spaces a rasterizer
    # degrade): [/Separation /Spot /DeviceGray fn] fills now run the
    # tint transform (operators/pdfraster.py _parse_separation /
    # _eval_tint — the same FunctionType 2 evaluator and
    # floor(v*255+0.5) quantizer the shading paints pin).  Fixture:
    # four disjoint integral rects per doc, tints at exact eighths,
    # doc-derived stops; the oracle restates coverage and the
    # per-rect tint chain in closed form.
    oracle=f"""
    WITH docs AS (SELECT doc_id FROM documents WHERE doc_id < {_N_CODEC_DOCS}),
    stops AS (
      SELECT doc_id,
             (10 + doc_id % 50) / 255.0 AS c0,
             (240 - (doc_id * 3) % 60) / 255.0 AS c1
      FROM docs
    ),
    rects AS (
      SELECT s.doc_id, s.c0, s.c1, r.k,
             CAST((s.doc_id + 2 * r.k) % 8 AS DOUBLE) / 8 AS tint,
             CASE r.k WHEN 0 THEN 9000 WHEN 1 THEN 6000
                      WHEN 2 THEN 9600 ELSE 4800 END AS area
      FROM stops s, (SELECT unnest(range(0, 4)) AS k) r
    ),
    vals AS (
      SELECT doc_id, k, area,
             CAST(floor((c0 + tint * (c1 - c0)) * 255.0 + 0.5) AS BIGINT) AS v
      FROM rects
    )
    SELECT doc_id, 612 AS width, 792 AS height,
           CAST(SUM(CASE WHEN v <> 255 THEN area ELSE 0 END) AS BIGINT)
             AS ink_px,
           CAST(255 * CAST(612 * 792 AS BIGINT)
                - SUM(area * (255 - v)) AS BIGINT) AS gray_sum,
           CAST(MIN(v) AS BIGINT) AS v_min,
           CAST(MAX(v) AS BIGINT) AS v_max
    FROM vals
    GROUP BY doc_id
    ORDER BY doc_id
    """,
)
def mm_pdf_separation_fill_raster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1/X3 extension, r10 — SEPARATION (spot-ink) color space fills:
    per doc, four rects filled through ``/CS0 cs <tint> scn`` with a
    DeviceGray tint transform and doc-derived stops; emits exact ink
    coverage, gray sum, and the tint-value range.  With the gradient
    family this completes the rasterizer paint sources the reference's
    Poppler path renders for flyer print art (gen_pdf_imgLambda.py:51).

    Scale shape: per-row independent mapInPandas, no shuffle before
    the final sort."""
    from specialsid_spark.operators.pdfraster import build_separation_pdf

    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < _N_CODEC_DOCS)
    # disjoint integral rects; areas restated by the oracle
    _RECTS = ((50, 50, 100, 90), (250, 300, 100, 60),
              (400, 500, 120, 80), (80, 650, 60, 80))

    def kernel(doc_id):
        c0 = (10 + doc_id % 50) / 255.0
        c1 = (240 - (doc_id * 3) % 60) / 255.0
        fills = [(r, ((doc_id + 2 * k) % 8) / 8) for k, r in enumerate(_RECTS)]
        gray = _page_gray(build_separation_pdf(fills, c0, c1))
        if gray is None:  # degrade surfaces as an impossible row
            yield doc_id, -1, -1, -1, -1, -1, -1
            return
        h, w = gray.shape
        inked = gray[gray != 255]
        yield (doc_id, w, h, *_ink(gray),
               inked.min() if inked.size else -1, inked.max() if inked.size else -1)

    schema = (
        "doc_id long, width int, height int, ink_px long,"
        " gray_sum long, v_min long, v_max long"
    )
    return map_rows(d.select("doc_id"), kernel, schema).orderBy("doc_id")


@register(
    "mm_pdf_cid_glyph_raster",
    # r10 continuation: /Type0 /Identity-H composite fonts over a
    # CIDFontType2 descendant — the DOMINANT embedded-font shape in
    # real-world PDFs — now render through the same glyf outline path
    # (operators/pdfraster.py _CidFont).  String bytes are 2-byte CIDs
    # = GIDs (Identity); advances come from the /W array in
    # 1000-per-em TEXT units (1125 -> exactly 72 device px), NOT the
    # program's hmtx (1024 units -> 64 px) — col_min/col_max pin the
    # pen positions, so an hmtx-reading renderer fails the hash even
    # though per-glyph ink is advance-invariant.  The vpts/vink CTEs
    # re-derive the V glyph's pinned 8-segment quad flatten exactly as
    # in mm_pdf_glyph_text_raster (same glyph, same Td, same size).
    oracle=f"""
    WITH docs AS (SELECT doc_id FROM documents WHERE doc_id < {_N_CODEC_DOCS}),
    vpts AS (
      SELECT k,
             u*u*76.0 + 2*u*t*104.0 + t*t*132.0 AS px,
             u*u*40.0 + 2*u*t*122.0 + t*t*40.0 AS py
      FROM (
        SELECT kk.k AS k, CAST(kk.k AS DOUBLE) / 8 AS t,
               1.0 - CAST(kk.k AS DOUBLE) / 8 AS u
        FROM (SELECT unnest(range(0, 9)) AS k) kk
      )
    ),
    vedges AS (
      SELECT a.px AS ex0, a.py AS ey0, b.px AS ex1, b.py AS ey1
      FROM vpts a JOIN vpts b ON b.k = a.k + 1
      WHERE a.py <> b.py
    ),
    vcross AS (
      SELECT sl.py AS row_y,
             e.ex0 + ((CAST(sl.py AS DOUBLE) + 0.5) - e.ey0)
                     * (e.ex1 - e.ex0) / (e.ey1 - e.ey0) AS cx
      FROM vedges e, (SELECT unnest(range(40, 130)) AS py) sl
      WHERE (e.ey0 <= CAST(sl.py AS DOUBLE) + 0.5
             AND CAST(sl.py AS DOUBLE) + 0.5 < e.ey1)
         OR (e.ey1 <= CAST(sl.py AS DOUBLE) + 0.5
             AND CAST(sl.py AS DOUBLE) + 0.5 < e.ey0)
    ),
    vink AS (
      SELECT CAST(SUM(npx) AS BIGINT) AS ink FROM (
        SELECT CAST(ceil(MAX(cx) - 0.5) AS BIGINT)
                 - CAST(ceil(MIN(cx) - 0.5) AS BIGINT) AS npx
        FROM vcross GROUP BY row_y)
    ),
    chars AS (
      SELECT d.doc_id, kk.k, (d.doc_id + kk.k) % 4 + 1 AS gid
      FROM docs d, (SELECT unnest(range(0, 7)) AS k) kk
      WHERE kk.k < 3 + d.doc_id % 4
    ),
    perdoc AS (
      SELECT c.doc_id,
             CAST(COUNT(*) AS INT) AS n_chars,
             CAST(SUM(CASE c.gid WHEN 1 THEN 800 WHEN 2 THEN 1472
                      WHEN 3 THEN v.ink ELSE 800 END) AS BIGINT) AS ink_px
      FROM chars c CROSS JOIN vink v
      GROUP BY c.doc_id
    )
    SELECT doc_id, 612 AS width, 792 AS height, n_chars, ink_px,
           CAST(255 * CAST(612 * 792 AS BIGINT) - 255 * ink_px AS BIGINT)
             AS gray_sum,
           CAST(76 AS BIGINT) AS col_min,
           CAST(72 * n_chars + 59 AS BIGINT) AS col_max
    FROM perdoc
    ORDER BY doc_id
    """,
)
def mm_pdf_cid_glyph_raster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1/X3 extension, r10 — Identity-H composite-font TEXT
    RENDERING: each doc's fixture page sets a doc-derived GID sequence
    (TOVX cycle as CIDs 1-4) through a /Type0 font whose CIDFontType2
    descendant embeds the TrueType fixture program; the rasterizer
    decodes 2-byte CIDs, renders glyf outlines, and advances the pen
    by the /W widths.  col_min/col_max pin the /W-vs-hmtx distinction.
    Together with the simple-TrueType and CFF queries this covers all
    three embedded-font shapes Poppler renders for the reference
    (gen_pdf_imgLambda.py:51).

    Scale shape: per-row independent mapInPandas; buffer bounded by
    page size, never the corpus."""
    import numpy as np

    from specialsid_spark.operators.pdfraster import build_cid_pdf

    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < _N_CODEC_DOCS)

    def kernel(doc_id):
        n = 3 + doc_id % 4
        gray = _page_gray(build_cid_pdf([(doc_id + k) % 4 + 1 for k in range(n)]))
        if gray is None:  # degrade surfaces as an impossible row
            yield doc_id, -1, -1, -1, -1, -1, -1, -1
            return
        h, w = gray.shape
        cols = np.where((gray != 255).any(axis=0))[0]
        yield (doc_id, w, h, n, *_ink(gray),
               cols.min() if cols.size else -1, cols.max() if cols.size else -1)

    schema = (
        "doc_id long, width int, height int, n_chars int,"
        " ink_px long, gray_sum long, col_min long, col_max long"
    )
    return map_rows(d.select("doc_id"), kernel, schema).orderBy("doc_id")


@register(
    "mm_tiff_g4_scanned_roundtrip",
    # r10: CCITT Group 4 (T.6) — the dominant scanned-document
    # compression — end to end through the TIFF container
    # (operators/ccitt.py + operators/tiff.py Compression=4).  Each
    # doc's synthetic "scanned page" is a pure doc_id/x/y predicate the
    # oracle re-counts; the Spark side additionally proves the decode
    # path by recounting black pixels FROM THE DECODED RASTER and
    # pinning byte-for-byte roundtrip equality.  A defect anywhere —
    # the T.4 run tables, T.6 mode coding, the changing-element walk,
    # the TIFF 1-bit/photometric-0 plumbing — breaks n_black or
    # roundtrip_ok.
    oracle=f"""
    WITH docs AS (SELECT doc_id FROM documents WHERE doc_id < {_N_CODEC_DOCS}),
    px AS (
      SELECT d.doc_id,
             CAST(SUM(CASE WHEN (x.x * 3 + y.y * 7 + d.doc_id) % 23 = 0
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_black
      FROM docs d,
           (SELECT unnest(range(0, 160)) AS x) x,
           (SELECT unnest(range(0, 120)) AS y) y
      GROUP BY d.doc_id
    )
    SELECT doc_id, 160 AS width, 120 AS height, n_black,
           CAST(1 AS BIGINT) AS roundtrip_ok,
           CAST(19200 - n_black AS BIGINT) AS n_white
    FROM px
    ORDER BY doc_id
    """,
)
def mm_tiff_g4_scanned_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 extension, r10 — scanned-document ingestion: per doc, a
    bilevel fixture page encodes as a Compression=4 (CCITT T.6) TIFF
    and decodes back; emits the decoded black/white pixel counts and a
    roundtrip-equality flag.  Completes the scanned-corpus leg of the
    codec family (born-digital legs: JPEG/PNG/GIF/TIFF-LZW/...).

    Scale shape: per-row independent mapInPandas, state bounded by two
    scanlines; no shuffle before the final sort."""
    from specialsid_spark.operators.tiff import build_tiff, decode_tiff

    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < _N_CODEC_DOCS)
    W, H = 160, 120

    def kernel(doc_id):
        img = bytes(
            0 if (x * 3 + y * 7 + doc_id) % 23 == 0 else 255
            for y in range(H)
            for x in range(W)
        )
        r = decode_tiff(build_tiff(W, H, 1, img, compression="g4"))
        if r is None:  # degrade surfaces as an impossible row
            yield doc_id, -1, -1, -1, 0, -1
            return
        w, h, _ch, px = r
        yield (doc_id, w, h, sum(1 for v in px if v == 0), 1 if px == img else 0,
               sum(1 for v in px if v == 255))

    schema = (
        "doc_id long, width int, height int, n_black long,"
        " roundtrip_ok long, n_white long"
    )
    return map_rows(d.select("doc_id"), kernel, schema).orderBy("doc_id")


@register(
    "mm_pdf_ccitt_image_raster",
    # r10: the SCANNED-PDF ingestion leg end to end — each doc's page
    # carries a CCITT G4 (/CCITTFaxDecode, K = -1) image XObject placed
    # 1:1 at an integral offset; the rasterizer decodes the T.6 stream
    # (operators/ccitt.py) and paints it through the image-placement
    # path.  The bilevel fixture is a pure doc_id/x/y predicate the
    # oracle re-counts; ink coverage and the gray sum pin the decode
    # AND the placement (a one-pixel shift or polarity flip moves
    # both).
    oracle=f"""
    WITH docs AS (SELECT doc_id FROM documents WHERE doc_id < {_N_CODEC_DOCS}),
    px AS (
      SELECT d.doc_id,
             CAST(SUM(CASE WHEN (x.x * 5 + y.y * 11 + d.doc_id) % 29 = 0
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_black
      FROM docs d,
           (SELECT unnest(range(0, 144)) AS x) x,
           (SELECT unnest(range(0, 96)) AS y) y
      GROUP BY d.doc_id
    )
    SELECT doc_id, 612 AS width, 792 AS height, n_black,
           CAST(255 * CAST(612 * 792 AS BIGINT) - 255 * n_black AS BIGINT)
             AS gray_sum
    FROM px
    ORDER BY doc_id
    """,
)
def mm_pdf_ccitt_image_raster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1/X3 extension, r10 — scanned-PDF pages: per doc, a fixture PDF
    whose only content is a G4-compressed bilevel image XObject placed
    1:1; rasterize and emit exact black coverage + gray sum.  With
    mm_tiff_g4_scanned_roundtrip (the TIFF container) this completes
    the scanned-document ingestion story across both containers the
    wild ships them in.

    Scale shape: per-row independent mapInPandas; two-scanline decoder
    state, page-bounded buffer, no shuffle before the final sort."""
    from specialsid_spark.operators.ccitt import g4_encode
    from specialsid_spark.operators.pdf import PdfWriter

    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < _N_CODEC_DOCS)
    W, H = 144, 96

    def build(doc_id: int) -> bytes:
        img = bytes(
            0 if (x * 5 + y * 11 + doc_id) % 29 == 0 else 255
            for y in range(H)
            for x in range(W)
        )
        enc = g4_encode(img, W, H)
        doc = PdfWriter()
        xo = doc.stream(
            enc,
            b"<< /Subtype /Image /Width %d /Height %d /BitsPerComponent 1"
            b" /ColorSpace /DeviceGray /Filter /CCITTFaxDecode"
            b" /DecodeParms << /K -1 /Columns %d /Rows %d >>"
            b" /Length %%d >>" % (W, H, W, H),
        )
        doc.page(
            doc.stream(b"q %d 0 0 %d 120 560 cm /Im0 Do Q" % (W, H)),
            b"/XObject << /Im0 %d 0 R >>" % xo,
        )
        return doc.bytes()

    def kernel(doc_id):
        gray = _page_gray(build(doc_id))
        if gray is None:  # degrade surfaces as an impossible row
            yield doc_id, -1, -1, -1, -1
            return
        h, w = gray.shape
        yield doc_id, w, h, *_ink(gray)

    schema = "doc_id long, width int, height int, n_black long, gray_sum long"
    return map_rows(d.select("doc_id"), kernel, schema).orderBy("doc_id")


@register(
    "mm_pdf_inline_image_raster",
    # r11 (VERDICT r10 #4): BI..ID..EI INLINE images — the standard way
    # scanned/office PDFs embed small bitmaps (ISO 32000-1 §8.9.7) —
    # through the rasterizer.  Each doc's page carries TWO inline
    # images exercising distinct end-of-data/decode paths: a
    # Flate-compressed 8-bit grayscale (zlib stream end locates the
    # data end) and an ASCIIHex RGB ('>' terminator + transport
    # decode).  Pixel values are pure doc_id/x/y predicates the oracle
    # re-sums; moduli < 255 make every image pixel non-white, so ink
    # coverage and the col/row bounds pin PLACEMENT while the three
    # channel sums pin DECODE — a one-pixel shift, filter slip, or
    # channel swap moves at least one column.
    oracle=f"""
    WITH docs AS (SELECT doc_id FROM documents WHERE doc_id < {_N_CODEC_DOCS}),
    a AS (
      SELECT d.doc_id,
             CAST(SUM((x.x * 7 + y.y * 13 + d.doc_id) % 251) AS BIGINT) AS sa
      FROM docs d,
           (SELECT unnest(range(0, 96)) AS x) x,
           (SELECT unnest(range(0, 64)) AS y) y
      GROUP BY d.doc_id
    ),
    b AS (
      SELECT d.doc_id,
             CAST(SUM((x.x * 11 + d.doc_id) % 253) AS BIGINT) AS sr,
             CAST(SUM((y.y * 17 + d.doc_id) % 249) AS BIGINT) AS sg,
             CAST(SUM((x.x + y.y + d.doc_id) % 247) AS BIGINT) AS sb
      FROM docs d,
           (SELECT unnest(range(0, 40)) AS x) x,
           (SELECT unnest(range(0, 30)) AS y) y
      GROUP BY d.doc_id
    )
    SELECT a.doc_id, 612 AS width, 792 AS height,
           CAST(7344 AS BIGINT) AS ink_px,
           CAST(50 AS BIGINT) AS col_min, CAST(339 AS BIGINT) AS col_max,
           CAST(128 AS BIGINT) AS row_min, CAST(191 AS BIGINT) AS row_max,
           CAST(255 * 484704 - (255 * 6144 - sa) - (255 * 1200 - sr)
                AS BIGINT) AS r_sum,
           CAST(255 * 484704 - (255 * 6144 - sa) - (255 * 1200 - sg)
                AS BIGINT) AS g_sum,
           CAST(255 * 484704 - (255 * 6144 - sa) - (255 * 1200 - sb)
                AS BIGINT) AS b_sum
    FROM a JOIN b ON b.doc_id = a.doc_id
    ORDER BY a.doc_id
    """,
)
def mm_pdf_inline_image_raster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1/X3 extension, r11 — inline-image PDFs: per doc, a fixture
    page whose only content is two BI..EI inline images (Flate gray +
    ASCIIHex RGB) placed 1:1 at integral offsets; rasterize and emit
    exact ink coverage, ink bounding box, and per-channel sums.
    Completes the small-bitmap leg of scanned/office-PDF ingestion
    next to mm_pdf_ccitt_image_raster (image XObjects).

    Scale shape: per-row independent mapInPandas; page-bounded buffer,
    no shuffle before the final sort."""
    import binascii
    import zlib

    import numpy as np

    from specialsid_spark.operators.pdf import PdfWriter

    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < _N_CODEC_DOCS)
    W1, H1, W2, H2 = 96, 64, 40, 30

    def build(doc_id: int) -> bytes:
        gray = bytes(
            (x * 7 + y * 13 + doc_id) % 251
            for y in range(H1)
            for x in range(W1)
        )
        rgb = bytes(
            v
            for y in range(H2)
            for x in range(W2)
            for v in (
                (x * 11 + doc_id) % 253,
                (y * 17 + doc_id) % 249,
                (x + y + doc_id) % 247,
            )
        )
        content = (
            b"q %d 0 0 %d 50 600 cm"
            b" BI /W %d /H %d /CS /G /BPC 8 /F /Fl ID " % (W1, H1, W1, H1)
            + zlib.compress(gray)
            + b" EI Q q %d 0 0 %d 300 600 cm"
            b" BI /W %d /H %d /CS /RGB /BPC 8 /F /AHx ID " % (W2, H2, W2, H2)
            + binascii.hexlify(rgb)
            + b"> EI Q"
        )
        doc = PdfWriter()
        doc.page(doc.stream(content))
        return doc.bytes()

    def kernel(doc_id):
        rgb = _page_rgb(build(doc_id))
        if rgb is None:  # degrade surfaces as an impossible row
            yield doc_id, *(-1,) * 10
            return
        h, w, _ = rgb.shape
        ink = (rgb != 255).any(axis=2)
        rows = np.where(ink.any(axis=1))[0]
        cols = np.where(ink.any(axis=0))[0]
        yield (doc_id, w, h, ink.sum(),
               cols.min() if cols.size else -1, cols.max() if cols.size else -1,
               rows.min() if rows.size else -1, rows.max() if rows.size else -1,
               *(int(rgb[:, :, c].sum()) for c in range(3)))

    schema = (
        "doc_id long, width int, height int, ink_px long,"
        " col_min long, col_max long, row_min long, row_max long,"
        " r_sum long, g_sum long, b_sum long"
    )
    return map_rows(d.select("doc_id"), kernel, schema).orderBy("doc_id")


@register(
    "mm_pdf_lzw_text",
    # Same fixture-grammar discipline as mm_pdf_text_extract, but the
    # content streams are /LZWDecode-compressed (the pre-1.2-era layout
    # some generators still emit) — any defect in the TIFF-6.0-style
    # LZW codec, the /EarlyChange width rule, or the filter dispatch
    # breaks the hash.  VERDICT r10 next-#7.
    oracle=f"""
    WITH docs AS (SELECT doc_id FROM documents WHERE doc_id < {_N_CODEC_DOCS}),
    pages AS (SELECT unnest(range(0, 2)) AS p),
    txt AS (
      SELECT d.doc_id, p.p,
             'lzw doc ' || d.doc_id || ' pg ' || p.p
             || ' w' || (d.doc_id * 13 + p.p) % 10 || chr(10)
             || 'coded (e' || (d.doc_id * 9 + p.p) % 6 || ') tail\\fin'
             AS page_text
      FROM docs d CROSS JOIN pages p
    )
    SELECT doc_id, CAST(p + 1 AS INT) AS page_no,
           CAST(length(page_text) AS INT) AS n_chars, page_text
    FROM txt
    ORDER BY doc_id, page_no
    """,
)
def mm_pdf_lzw_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r11 (VERDICT r10 next-#7) — PDF /LZWDecode content streams end
    to end: per doc, write a two-page text PDF whose page content
    streams are LZW-compressed (operators/tiff.py lzw_encode_tiff —
    MSB-first 9→12-bit codes, early-change width rule, the PDF
    /EarlyChange 1 default; see operators/pdf.py lzw_decode_pdf for
    the ISO 32000-1 §7.4.4 parameterization), then recover each
    page's text with the production content-stream interpreter.  The
    reference's converter handles such PDFs through Poppler
    (scripts/pdfscr/pdf-img/gen_pdf_imgLambda.py:51); here the codec
    itself is from-scratch per TIFF 6.0 §13 / ISO 32000-1 §7.4.4.

    Scale shape: per-doc independent mapInPandas, no shuffle before
    the final sort — identical to the codec-query family."""
    from specialsid_spark.operators.pdf import build_text_pdf, extract_page_text

    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < _N_CODEC_DOCS)

    def kernel(doc_id):
        pages = [
            f"lzw doc {doc_id} pg {p} w{(doc_id * 13 + p) % 10}\n"
            f"coded (e{(doc_id * 9 + p) % 6}) tail\\fin"
            for p in range(2)
        ]
        blob = build_text_pdf(pages, compress="lzw")
        assert b"/LZWDecode" in blob
        for p, text in enumerate(extract_page_text(blob)):
            yield doc_id, p + 1, len(text), text

    schema = "doc_id long, page_no int, n_chars int, page_text string"
    return map_rows(d.select("doc_id"), kernel, schema).orderBy("doc_id", "page_no")


@register(
    "mm_pdf_std14_text_raster",
    # Metric-true Standard-14 text (r11, VERDICT r10 next-#5): the
    # fixture page sets 'Tw <doc_id>' in NON-embedded Helvetica (even
    # docs) or Times-Roman (odd docs) at 125 pt — size chosen so every
    # AFM advance w/1000*125 = w/8 is dyadic, hence pen positions are
    # exact doubles and the SQL running sum is order-independent.  The
    # oracle re-derives the raster from the public Adobe Core-14 AFM
    # widths (operators/afm.py): per char, ink spans
    # round(x0 + adv*0.8) - round(x0) columns by 75 rows (92 -
    # round(92 - 0.6*125)), the pen advancing by the REAL per-glyph
    # width — T 611, w 722, space 278/250, digits 556/500 per face.  A
    # wrong width, a wrong face resolution, or a flat-advance fallback
    # shifts every column count.
    oracle=f"""
    WITH docs AS (
      SELECT doc_id,
             CASE WHEN doc_id % 2 = 0 THEN 'Helvetica' ELSE 'Times-Roman' END AS face,
             3 + length(CAST(doc_id AS VARCHAR)) AS n_chars
      FROM documents WHERE doc_id < {_N_CODEC_DOCS}
    ),
    chars AS (
      SELECT d.doc_id, d.face, d.n_chars, k.i,
             CASE WHEN k.i = 1 THEN 611.0
                  WHEN k.i = 2 THEN 722.0
                  WHEN k.i = 3 THEN
                    CASE WHEN d.doc_id % 2 = 0 THEN 278.0 ELSE 250.0 END
                  ELSE CASE WHEN d.doc_id % 2 = 0 THEN 556.0 ELSE 500.0 END
             END AS wth,
             k.i <> 3 AS inked
      FROM docs d, (SELECT unnest(range(1, 6)) AS i) k
      WHERE k.i <= d.n_chars
    ),
    pens AS (
      SELECT doc_id, face, n_chars, i, inked,
             wth / 1000 * 125 AS adv,
             72 + COALESCE(SUM(wth / 1000 * 125) OVER (
               PARTITION BY doc_id ORDER BY i
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS x0
      FROM chars
    ),
    boxes AS (
      SELECT doc_id, face, n_chars,
             CAST(round(x0 + adv * (0.4 / 0.5)) AS BIGINT)
               - CAST(round(x0) AS BIGINT) AS cols,
             CAST(round(x0 + adv * (0.4 / 0.5)) AS BIGINT) - 1 AS right_px
      FROM pens WHERE inked
    ),
    agg AS (
      SELECT doc_id, face, n_chars,
             SUM(cols) AS ink_cols, MAX(right_px) AS col_max
      FROM boxes GROUP BY doc_id, face, n_chars
    )
    SELECT doc_id, face, CAST(n_chars AS INT) AS n_chars,
           612 AS width, 792 AS height,
           CAST((92 - CAST(round(92 - 0.6 * 125) AS BIGINT)) * ink_cols
                AS BIGINT) AS ink_px,
           72 AS col_min, CAST(col_max AS BIGINT) AS col_max,
           CAST(round(92 - 0.6 * 125) AS BIGINT) AS row_min, 91 AS row_max,
           CAST(255 * 612 * 792
                - 255 * (92 - CAST(round(92 - 0.6 * 125) AS BIGINT)) * ink_cols
                AS BIGINT) AS gray_sum
    FROM agg
    ORDER BY doc_id
    """,
)
def mm_pdf_std14_text_raster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r11 (VERDICT r10 next-#5) — NON-embedded Standard-14 text, the
    single most common PDF text case: no FontDescriptor, no FontFile;
    the rasterizer resolves the /BaseFont name against the public
    Adobe Core-14 AFM width tables (operators/afm.py) and paints
    metric-true boxes — real per-glyph advances, so line length, word
    spacing, and ink bounds match what Poppler (the reference's
    rasterizer, gen_pdf_imgLambda.py:51) draws for the same page,
    where the r8 teaching model advanced a flat half-em per char.

    Scale shape: per-doc independent mapInPandas, no shuffle before
    the final sort — the codec-family plan."""
    import numpy as np

    from specialsid_spark.operators.pdfraster import build_std14_pdf

    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < _N_CODEC_DOCS)

    def kernel(doc_id):
        face = "Helvetica" if doc_id % 2 == 0 else "Times-Roman"
        text = f"Tw {doc_id}"
        rgb = _page_rgb(build_std14_pdf(text, face))
        h, w, _ = rgb.shape
        ink = (rgb != 255).any(axis=2)
        rows = np.where(ink.any(axis=1))[0]
        cols = np.where(ink.any(axis=0))[0]
        yield (doc_id, face, len(text), w, h, ink.sum(), cols.min(), cols.max(),
               rows.min(), rows.max(), rgb[:, :, 0].sum())

    schema = (
        "doc_id long, face string, n_chars int, width int, height int,"
        " ink_px long, col_min long, col_max long, row_min long,"
        " row_max long, gray_sum long"
    )
    return map_rows(d.select("doc_id"), kernel, schema).orderBy("doc_id")


@register(
    "mm_pdf_type1_text_raster",
    # r11 (VERDICT r10 next-#6): bare /FontFile Type 1 programs —
    # eexec decryption (r=55665), charstring decryption (r=4330,
    # lenIV), and the Type 1 charstring set (hsbw widths, single-
    # operand h/vlineto, explicit closepath) — render real outlines
    # (operators/type1.py).  The fixture font carries the SAME four
    # closed-form glyphs as the CFF fixture (L 608 px, O-ring 1088 px,
    # C = the pinned 16-segment cubic arch, H 960 px at units 1024 /
    # size 64), so the ink oracle transfers piece for piece while the
    # entire decrypt + interpret path is new.  A single wrong byte in
    # either cipher stream corrupts every downstream outline.
    oracle=f"""
    WITH docs AS (SELECT doc_id FROM documents WHERE doc_id < {_N_CODEC_DOCS}),
    cpts AS (
      SELECT k,
             u*u*u*76.0 + 3*u*u*t*84.0 + 3*u*t*t*100.0 + t*t*t*108.0 AS px,
             u*u*u*92.0 + 3*u*u*t*52.0 + 3*u*t*t*52.0 + t*t*t*92.0 AS py
      FROM (
        SELECT kk.k AS k, CAST(kk.k AS DOUBLE) / 16 AS t,
               1.0 - CAST(kk.k AS DOUBLE) / 16 AS u
        FROM (SELECT unnest(range(0, 17)) AS k) kk
      )
    ),
    cedges AS (
      SELECT a.px AS ex0, a.py AS ey0, b.px AS ex1, b.py AS ey1
      FROM cpts a JOIN cpts b ON b.k = a.k + 1
      WHERE a.py <> b.py
    ),
    ccross AS (
      SELECT sl.py AS row_y,
             e.ex0 + ((CAST(sl.py AS DOUBLE) + 0.5) - e.ey0)
                     * (e.ex1 - e.ex0) / (e.ey1 - e.ey0) AS cx
      FROM cedges e, (SELECT unnest(range(50, 93)) AS py) sl
      WHERE (e.ey0 <= CAST(sl.py AS DOUBLE) + 0.5
             AND CAST(sl.py AS DOUBLE) + 0.5 < e.ey1)
         OR (e.ey1 <= CAST(sl.py AS DOUBLE) + 0.5
             AND CAST(sl.py AS DOUBLE) + 0.5 < e.ey0)
    ),
    cink AS (
      SELECT CAST(SUM(npx) AS BIGINT) AS ink FROM (
        SELECT CAST(ceil(MAX(cx) - 0.5) AS BIGINT)
                 - CAST(ceil(MIN(cx) - 0.5) AS BIGINT) AS npx
        FROM ccross GROUP BY row_y)
    ),
    chars AS (
      SELECT d.doc_id, kk.k, (d.doc_id * 2 + kk.k) % 4 AS ctype
      FROM docs d, (SELECT unnest(range(0, 6)) AS k) kk
      WHERE kk.k < 3 + d.doc_id % 3
    ),
    perdoc AS (
      SELECT c.doc_id,
             CAST(COUNT(*) AS INT) AS n_chars,
             CAST(SUM(CASE c.ctype WHEN 0 THEN 960 WHEN 1 THEN 608
                      WHEN 2 THEN ci.ink ELSE 1088 END) AS BIGINT) AS ink_px
      FROM chars c CROSS JOIN cink ci
      GROUP BY c.doc_id
    )
    SELECT doc_id, 612 AS width, 792 AS height, n_chars, ink_px,
           CAST(255 * CAST(612 * 792 AS BIGINT) - 255 * ink_px AS BIGINT)
             AS gray_sum
    FROM perdoc
    ORDER BY doc_id
    """,
)
def mm_pdf_type1_text_raster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r11 (VERDICT r10 next-#6) — TYPE 1 TEXT RENDERING: each doc's
    fixture page sets a doc-derived string ("HLCO" cycle, 3-5 chars)
    in an EMBEDDED Type 1 font (bare /FontFile — the eexec-encrypted
    PostScript form, the oldest and third embedded-font format after
    r10's TrueType and CFF).  The rasterizer decrypts the eexec
    portion, decrypts each charstring, interprets the Type 1 operator
    set to cubic outlines (operators/type1.py), and scanline-fills
    with nonzero winding — reference parity for Poppler's Type 1
    rendering (gen_pdf_imgLambda.py:51).

    Scale shape: per-row independent mapInPandas; the font parses once
    per page render, outlines cache per glyph; buffer bounded by page size."""
    from specialsid_spark.operators.pdfraster import build_type1_pdf

    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < _N_CODEC_DOCS)

    def kernel(doc_id):
        n = 3 + doc_id % 3
        gray = _page_gray(build_type1_pdf("".join("HLCO"[(doc_id * 2 + k) % 4] for k in range(n))))
        if gray is None:  # degrade surfaces as an impossible row
            yield doc_id, -1, -1, -1, -1, -1
            return
        h, w = gray.shape
        yield doc_id, w, h, n, *_ink(gray)

    schema = (
        "doc_id long, width int, height int, n_chars int,"
        " ink_px long, gray_sum long"
    )
    return map_rows(d.select("doc_id"), kernel, schema).orderBy("doc_id")


@register(
    "mm_pdf_cid0_text_raster",
    # r11: CIDFontType0 — the CFF-CID embedding (CJK / subset-OpenType
    # shape) and the LAST embedded-font degrade in the rasterizer.
    # The fixture font is CID-KEYED CFF (ROS, FDArray/FDSelect, charset
    # CID 101-104 -> gids 1-4; C/H's initial rmoveto lives in an
    # FD-local subr so misrouted FDSelect dies loudly).  Glyph ink
    # carries over from the CFF fixture closed forms (L 608, O 1088,
    # C = the pinned 16-segment arch, H 960 at units 1024 / size 64);
    # /W = 1125 (72 device px, integer) makes per-glyph ink
    # pen-invariant, and differs from the charstring widths so reading
    # the wrong width source shifts every glyph.
    oracle=f"""
    WITH docs AS (SELECT doc_id FROM documents WHERE doc_id < {_N_CODEC_DOCS}),
    cpts AS (
      SELECT k,
             u*u*u*76.0 + 3*u*u*t*84.0 + 3*u*t*t*100.0 + t*t*t*108.0 AS px,
             u*u*u*92.0 + 3*u*u*t*52.0 + 3*u*t*t*52.0 + t*t*t*92.0 AS py
      FROM (
        SELECT kk.k AS k, CAST(kk.k AS DOUBLE) / 16 AS t,
               1.0 - CAST(kk.k AS DOUBLE) / 16 AS u
        FROM (SELECT unnest(range(0, 17)) AS k) kk
      )
    ),
    cedges AS (
      SELECT a.px AS ex0, a.py AS ey0, b.px AS ex1, b.py AS ey1
      FROM cpts a JOIN cpts b ON b.k = a.k + 1
      WHERE a.py <> b.py
    ),
    ccross AS (
      SELECT sl.py AS row_y,
             e.ex0 + ((CAST(sl.py AS DOUBLE) + 0.5) - e.ey0)
                     * (e.ex1 - e.ex0) / (e.ey1 - e.ey0) AS cx
      FROM cedges e, (SELECT unnest(range(50, 93)) AS py) sl
      WHERE (e.ey0 <= CAST(sl.py AS DOUBLE) + 0.5
             AND CAST(sl.py AS DOUBLE) + 0.5 < e.ey1)
         OR (e.ey1 <= CAST(sl.py AS DOUBLE) + 0.5
             AND CAST(sl.py AS DOUBLE) + 0.5 < e.ey0)
    ),
    cink AS (
      SELECT CAST(SUM(npx) AS BIGINT) AS ink FROM (
        SELECT CAST(ceil(MAX(cx) - 0.5) AS BIGINT)
                 - CAST(ceil(MIN(cx) - 0.5) AS BIGINT) AS npx
        FROM ccross GROUP BY row_y)
    ),
    chars AS (
      SELECT d.doc_id, kk.k, (d.doc_id + 3 * kk.k) % 4 AS ctype
      FROM docs d, (SELECT unnest(range(0, 6)) AS k) kk
      WHERE kk.k < 3 + (d.doc_id * 5) % 3
    ),
    perdoc AS (
      SELECT c.doc_id,
             CAST(COUNT(*) AS INT) AS n_chars,
             CAST(SUM(CASE c.ctype WHEN 0 THEN 608 WHEN 1 THEN 1088
                      WHEN 2 THEN ci.ink ELSE 960 END) AS BIGINT) AS ink_px
      FROM chars c CROSS JOIN cink ci
      GROUP BY c.doc_id
    )
    SELECT doc_id, 612 AS width, 792 AS height, n_chars, ink_px,
           CAST(255 * CAST(612 * 792 AS BIGINT) - 255 * ink_px AS BIGINT)
             AS gray_sum
    FROM perdoc
    ORDER BY doc_id
    """,
)
def mm_pdf_cid0_text_raster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r11 — CIDFontType0 TEXT RENDERING, completing the embedded-font
    matrix: {TrueType, CFF, Type 1} x {simple, CID-composite}.  Each
    doc's fixture page sets a doc-derived CID string (CIDs 101-104
    cycling by (doc_id + 3k) % 4, 3-5 chars) through /Type0
    /Identity-H over a CIDFontType0 descendant whose /FontFile3 is
    CID-KEYED CFF (operators/cff.py: ROS, FDArray/FDSelect per-glyph
    Private routing, charset CID->GID) — reference parity for
    Poppler's CID font rendering (gen_pdf_imgLambda.py:51).

    Scale shape: per-row independent mapInPandas; the font parses once
    per page render, outlines cache per glyph; buffer bounded by page size."""
    from specialsid_spark.operators.pdfraster import build_cid0_pdf

    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < _N_CODEC_DOCS)

    def kernel(doc_id):
        n = 3 + (doc_id * 5) % 3
        gray = _page_gray(build_cid0_pdf([101 + (doc_id + 3 * k) % 4 for k in range(n)]))
        if gray is None:  # degrade surfaces as an impossible row
            yield doc_id, -1, -1, -1, -1, -1
            return
        h, w = gray.shape
        yield doc_id, w, h, n, *_ink(gray)

    schema = (
        "doc_id long, width int, height int, n_chars int,"
        " ink_px long, gray_sum long"
    )
    return map_rows(d.select("doc_id"), kernel, schema).orderBy("doc_id")


@register(
    "mm_pdf_textstate_raster",
    # r11: ISO 32000-1 §9.3 text-state parameters — char spacing (Tc),
    # word spacing (Tw), horizontal scaling (Tz), rise (Ts), and the
    # INVISIBLE render mode (Tr 3, the OCR-text-layer convention in
    # scanned PDFs).  Fixture: three Helvetica runs at 125 pt — line A
    # under "2 Tc 4 Tw 50 Tz" (advances become (w/8 + 2 [+4 space]) *
    # 0.5, all dyadic; ink shrinks to half scale), line B "up" under
    # an 8 pt rise (its 75-row band shifts to device rows 209-283),
    # line C doc-varying text under Tr 3 (advances, paints NOTHING —
    # if it left ink, ink_px would vary with the ghost text's length).
    # The oracle restates the §9.4.4 advance formula verbatim.
    oracle=f"""
    WITH docs AS (
      SELECT doc_id, 3 + length(CAST(doc_id AS VARCHAR)) AS n_chars
      FROM documents WHERE doc_id < {_N_CODEC_DOCS}
    ),
    a_chars AS (
      SELECT d.doc_id, d.n_chars, k.i,
             CASE WHEN k.i = 1 THEN 611.0
                  WHEN k.i = 2 THEN 722.0
                  WHEN k.i = 3 THEN 278.0
                  ELSE 556.0 END AS wth,
             k.i <> 3 AS inked
      FROM docs d, (SELECT unnest(range(1, 6)) AS i) k
      WHERE k.i <= d.n_chars
    ),
    a_pens AS (
      SELECT doc_id, n_chars, i, inked,
             wth / 1000 * 125 AS adv_g,
             72 + COALESCE(SUM(
               (wth / 1000 * 125 + 2 + CASE WHEN i = 3 THEN 4 ELSE 0 END)
               * (50.0 / 100)) OVER (
                 PARTITION BY doc_id ORDER BY i
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS x0
      FROM a_chars
    ),
    a_agg AS (
      SELECT doc_id, n_chars,
             SUM(CASE WHEN inked THEN
               CAST(round(x0 + (adv_g * (50.0 / 100)) * (0.4 / 0.5)) AS BIGINT)
               - CAST(round(x0) AS BIGINT) ELSE 0 END) AS a_cols
      FROM a_pens GROUP BY doc_id, n_chars
    ),
    b_cols AS (
      SELECT SUM(
               CAST(round(x0 + ((556.0 / 1000 * 125) * 1.0) * (0.4 / 0.5))
                    AS BIGINT)
               - CAST(round(x0) AS BIGINT)) AS cols
      FROM (SELECT 72.0 AS x0 UNION ALL
            SELECT 72 + 556.0 / 1000 * 125 AS x0)
    )
    SELECT a.doc_id, CAST(a.n_chars AS INT) AS n_chars,
           612 AS width, 792 AS height,
           CAST(75 * (a.a_cols + b.cols) AS BIGINT) AS ink_px,
           CAST(75 * b.cols AS BIGINT) AS b_band_ink,
           17 AS row_min, 283 AS row_max,
           CAST(255 * CAST(612 * 792 AS BIGINT)
                - 255 * 75 * (a.a_cols + b.cols) AS BIGINT) AS gray_sum
    FROM a_agg a CROSS JOIN b_cols b
    ORDER BY a.doc_id
    """,
)
def mm_pdf_textstate_raster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r11 — TEXT-STATE rendering (Tc/Tw/Tz/Ts/Tr): the §9.3
    parameters every justified or OCR'd real-world PDF uses.  Line A
    re-derives the full §9.4.4 advance ((w·s/1000 + Tc + Tw)·Th) at
    half horizontal scale; line B pins the rise's vertical band; line
    C pins that Tr 3 (invisible — how scanned PDFs overlay their OCR
    text layer) advances without painting.  Reference parity: Poppler
    honors all five on the same pages (gen_pdf_imgLambda.py:51).

    Scale shape: per-doc independent mapInPandas, codec-family plan."""
    import numpy as np

    from specialsid_spark.operators.pdfraster import build_textstate_pdf

    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < _N_CODEC_DOCS)

    def kernel(doc_id):
        text_a = f"Tw {doc_id}"
        rgb = _page_rgb(build_textstate_pdf(text_a, f"ghost {doc_id}"))
        h, w, _ = rgb.shape
        ink = (rgb != 255).any(axis=2)
        rows = np.where(ink.any(axis=1))[0]
        yield (doc_id, len(text_a), w, h, ink.sum(), ink[200:290].sum(),
               rows.min(), rows.max(), rgb[:, :, 0].sum())

    schema = (
        "doc_id long, n_chars int, width int, height int, ink_px long,"
        " b_band_ink long, row_min long, row_max long, gray_sum long"
    )
    return map_rows(d.select("doc_id"), kernel, schema).orderBy("doc_id")


@register(
    "mm_pdf_type3_text_raster",
    # r11: /Subtype /Type3 — the PDF-NATIVE font format where every
    # glyph is itself a content stream (logos, bitmap fonts, TeX
    # output).  FontMatrix 1/128 is exact in binary; the two glyph
    # procedures have closed-form coverage: 'r' = `8 16 80 64 re f`
    # (40x32 device px = 1280 at size 64) and 't' = a right triangle
    # with 64-unit legs (rows 0..31 cover 0+1+...+31 = 496 px); both
    # advance 112 glyph units = 56 integral device px, so per-glyph
    # ink is pen-invariant and the oracle is pure counting.
    oracle=f"""
    WITH docs AS (SELECT doc_id FROM documents WHERE doc_id < {_N_CODEC_DOCS}),
    chars AS (
      SELECT d.doc_id, kk.k,
             CASE WHEN (d.doc_id + kk.k) % 3 = 0 THEN 'r' ELSE 't' END AS g
      FROM docs d, (SELECT unnest(range(0, 6)) AS k) kk
      WHERE kk.k < 3 + (d.doc_id * 7) % 4
    ),
    perdoc AS (
      SELECT doc_id,
             CAST(COUNT(*) AS INT) AS n_chars,
             CAST(SUM(CASE WHEN g = 'r' THEN 1280 ELSE 496 END) AS BIGINT)
               AS ink_px
      FROM chars GROUP BY doc_id
    )
    SELECT doc_id, 612 AS width, 792 AS height, n_chars, ink_px,
           CAST(255 * CAST(612 * 792 AS BIGINT) - 255 * ink_px AS BIGINT)
             AS gray_sum
    FROM perdoc
    ORDER BY doc_id
    """,
)
def mm_pdf_type3_text_raster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r11 — TYPE 3 TEXT RENDERING, completing all FOUR PDF font
    subtypes (TrueType r10, CFF r10, Type 1 r11, Type 3 r11): each
    doc's fixture page sets a doc-derived r/t glyph string in a Type 3
    font whose glyphs are little content streams, executed through the
    page interpreter with CTM = FontMatrix x text matrix (the §9.6.5
    model) — reference parity for Poppler's Type 3 rendering
    (gen_pdf_imgLambda.py:51).  Advances come from /Widths through the
    FontMatrix x-scale, NOT from the procs' d0 metrics.

    Scale shape: per-row independent mapInPandas, codec-family plan."""
    from specialsid_spark.operators.pdfraster import build_type3_pdf

    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < _N_CODEC_DOCS)

    def kernel(doc_id):
        n = 3 + (doc_id * 7) % 4
        text = "".join("r" if (doc_id + k) % 3 == 0 else "t" for k in range(n))
        gray = _page_gray(build_type3_pdf(text))
        if gray is None:  # degrade surfaces as an impossible row
            yield doc_id, -1, -1, -1, -1, -1
            return
        h, w = gray.shape
        yield doc_id, w, h, n, *_ink(gray)

    schema = (
        "doc_id long, width int, height int, n_chars int,"
        " ink_px long, gray_sum long"
    )
    return map_rows(d.select("doc_id"), kernel, schema).orderBy("doc_id")


@register(
    "mm_pdf_sampled_shading_raster",
    # r11: TYPE 0 (sampled) shading functions — the design-tool
    # gradient shape (InDesign/Illustrator export sampled tables, not
    # exponentials).  Fixture: DeviceGray axial gradient over a
    # 3-sample doc-derived table, axis x 100->400 under a clip wider
    # than the axis (the /Extend clamp pins both ends to s0/s2).  The
    # oracle restates the pinned chain per column: t clamped to [0,1],
    # e = (t*2)/1, i0 = floor(e), interp between s[i0]/255 and
    # s[i0+1]/255, then floor(v*255 + 0.5) — floor(+0.5) because the
    # engines' round() tie rules differ.
    oracle=f"""
    WITH docs AS (
      SELECT doc_id,
             (doc_id * 5) % 256 AS s0,
             (doc_id * 7 + 13) % 256 AS s1,
             (doc_id * 11 + 29) % 256 AS s2
      FROM documents WHERE doc_id < {_N_CODEC_DOCS}
    ),
    cols AS (SELECT unnest(range(80, 420)) AS x),
    pix AS (
      SELECT doc_id,
             CAST(floor((
               CASE WHEN i0 >= 2 THEN s2 / 255.0
                    WHEN i0 = 0 THEN s0 / 255.0
                      + (e - 0) * (s1 / 255.0 - s0 / 255.0)
                    ELSE s1 / 255.0
                      + (e - 1) * (s2 / 255.0 - s1 / 255.0)
               END) * 255.0 + 0.5) AS BIGINT) AS v
      FROM (
        SELECT doc_id, s0, s1, s2, e, CAST(floor(e) AS INT) AS i0
        FROM (
          SELECT d2.doc_id, d2.s0, d2.s1, d2.s2,
                 (LEAST(1.0, GREATEST(0.0,
                    ((CAST(c.x AS DOUBLE) + 0.5 - 100.0) * 300.0 + 0.0)
                      / 90000.0)) * 2.0) / 1.0 AS e
          FROM docs d2, cols c
        )
      )
    )
    SELECT doc_id, 612 AS width, 792 AS height,
           CAST(100 * SUM(CASE WHEN v <> 255 THEN 1 ELSE 0 END) AS BIGINT)
             AS ink_px,
           CAST(255 * CAST(612 * 792 AS BIGINT) - 100 * SUM(255 - v)
                AS BIGINT) AS gray_sum,
           CAST(MIN(v) AS BIGINT) AS v_min,
           CAST(MAX(v) AS BIGINT) AS v_max
    FROM pix
    GROUP BY doc_id
    ORDER BY doc_id
    """,
)
def mm_pdf_sampled_shading_raster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r11 — SAMPLED-FUNCTION shading rasterization: per doc, a page
    whose only ink is a clipped DeviceGray axial gradient driven by a
    FunctionType 0 bit-packed sample table (operators/pdfraster.py
    _parse_function 'samp' leg: normalize, encode-ramp, linear
    interpolation between adjacent samples, Decode map).  Together
    with exponential (r10), stitching (r10), and PostScript
    calculator (r10) functions this covers all four function types
    PDF shadings use.

    Scale shape: per-row independent mapInPandas, codec-family plan."""
    from specialsid_spark.operators.pdfraster import build_sampled_shading_pdf

    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < _N_CODEC_DOCS)

    def kernel(doc_id):
        samples = bytes([(doc_id * 5) % 256, (doc_id * 7 + 13) % 256, (doc_id * 11 + 29) % 256])
        gray = _page_gray(
            build_sampled_shading_pdf((80, 600, 340, 100), (100, 0, 400, 0), samples)
        )
        if gray is None:  # degrade surfaces as an impossible row
            yield doc_id, -1, -1, -1, -1, -1, -1
            return
        h, w = gray.shape
        band = gray[792 - 700 : 792 - 600, 80:420]
        yield doc_id, w, h, *_ink(gray), band.min(), band.max()

    schema = (
        "doc_id long, width int, height int, ink_px long, gray_sum long,"
        " v_min long, v_max long"
    )
    return map_rows(d.select("doc_id"), kernel, schema).orderBy("doc_id")


@register(
    "mm_pdf_rotate_raster",
    # r11: /Rotate — scanned pages are routinely stored rotated and
    # carry 90/180/270 on the page dict.  Fixture: one gray rect per
    # doc, /Rotate cycling by doc_id % 4; the oracle restates the
    # quadrant-mapped pixel bounds in closed form (an axis-parallel
    # rect stays axis-parallel under quadrant rotation, so coverage is
    # exactly rw*rh everywhere — what changes, and what the hash pins,
    # is WHERE it lands and which way the buffer dimensions swap).
    oracle=f"""
    WITH docs AS (
      SELECT doc_id,
             100 + doc_id % 7 AS rx, 150 + doc_id % 5 AS ry,
             40 + doc_id % 9 AS rw, 30 + doc_id % 6 AS rh,
             (doc_id * 13) % 200 AS c,
             (doc_id % 4) * 90 AS rot
      FROM documents WHERE doc_id < {_N_CODEC_DOCS}
    )
    SELECT doc_id, CAST(rot AS INT) AS rot,
           CAST(CASE WHEN rot IN (90, 270) THEN 792 ELSE 612 END AS INT)
             AS width,
           CAST(CASE WHEN rot IN (90, 270) THEN 612 ELSE 792 END AS INT)
             AS height,
           CAST(rw * rh AS BIGINT) AS ink_px,
           CAST(CASE rot WHEN 0 THEN rx WHEN 90 THEN ry
                WHEN 180 THEN 612 - rx - rw ELSE 792 - ry - rh END
                AS BIGINT) AS col_min,
           CAST(CASE rot WHEN 0 THEN rx + rw - 1 WHEN 90 THEN ry + rh - 1
                WHEN 180 THEN 612 - rx - 1 ELSE 792 - ry - 1 END
                AS BIGINT) AS col_max,
           CAST(CASE rot WHEN 0 THEN 792 - ry - rh WHEN 90 THEN rx
                WHEN 180 THEN ry ELSE 612 - rx - rw END
                AS BIGINT) AS row_min,
           CAST(CASE rot WHEN 0 THEN 792 - ry - 1 WHEN 90 THEN rx + rw - 1
                WHEN 180 THEN ry + rh - 1 ELSE 612 - rx - 1 END
                AS BIGINT) AS row_max,
           CAST(255 * CAST(CASE WHEN rot IN (90, 270) THEN 792 ELSE 612 END
                           * CASE WHEN rot IN (90, 270) THEN 612 ELSE 792 END
                           AS BIGINT)
                - (255 - c) * rw * rh AS BIGINT) AS gray_sum
    FROM docs
    ORDER BY doc_id
    """,
)
def mm_pdf_rotate_raster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r11 — /Rotate rasterization: per doc, a rect-only page stored
    with a quadrant /Rotate (the scanned-corpus staple — upside-down
    and sideways pages are endemic in fax/scan archives); the
    rasterizer composes the display rotation after the y-flip and
    swaps the buffer for the odd quadrants, exactly as Poppler
    presents the same page (gen_pdf_imgLambda.py:51).  /Rotate also
    inherits from the /Pages root (test-pinned).

    Scale shape: per-row independent mapInPandas, codec-family plan."""
    import numpy as np

    from specialsid_spark.operators.pdfraster import build_rotated_rect_pdf

    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < _N_CODEC_DOCS)

    def kernel(doc_id):
        rect = (100 + doc_id % 7, 150 + doc_id % 5, 40 + doc_id % 9, 30 + doc_id % 6,
                (doc_id * 13) % 200)
        rot = (doc_id % 4) * 90
        g = _page_gray(build_rotated_rect_pdf(rect, rot))
        if g is None:  # degrade surfaces as an impossible row
            yield doc_id, rot, *(-1,) * 8
            return
        h, w = g.shape
        ink = g != 255
        rows = np.where(ink.any(axis=1))[0]
        cols = np.where(ink.any(axis=0))[0]
        yield (doc_id, rot, w, h, ink.sum(), cols.min(), cols.max(),
               rows.min(), rows.max(), g.sum())

    schema = (
        "doc_id long, rot int, width int, height int, ink_px long,"
        " col_min long, col_max long, row_min long, row_max long,"
        " gray_sum long"
    )
    return map_rows(d.select("doc_id"), kernel, schema).orderBy("doc_id")


@register(
    "mm_pdf_ccitt_k_modes_raster",
    # r11 — the COMPLETE /CCITTFaxDecode K matrix: each doc's page
    # carries the same doc-derived bilevel image, but the stream is
    # coded per doc_id % 3 as G4 (K = -1), pure 1D (K = 0, continuous
    # bit stream), or MIXED 1D/2D (K = 4, EOL + tag framed) — all
    # three decode paths must recover identical pixels, so the oracle
    # is one pure predicate count regardless of mode; the k_mode
    # column pins WHICH path ran.
    oracle=f"""
    WITH docs AS (
      SELECT doc_id,
             CAST(CASE doc_id % 3 WHEN 0 THEN -1 WHEN 1 THEN 0 ELSE 4 END
                  AS INT) AS k_mode
      FROM documents WHERE doc_id < {_N_CODEC_DOCS}
    ),
    px AS (
      SELECT d.doc_id,
             CAST(SUM(CASE WHEN (x.x * 7 + y.y * 13 + d.doc_id) % 31 = 0
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_black
      FROM docs d,
           (SELECT unnest(range(0, 96)) AS x) x,
           (SELECT unnest(range(0, 64)) AS y) y
      GROUP BY d.doc_id
    )
    SELECT d.doc_id, d.k_mode, 612 AS width, 792 AS height, p.n_black,
           CAST(255 * CAST(612 * 792 AS BIGINT) - 255 * p.n_black AS BIGINT)
             AS gray_sum
    FROM docs d JOIN px p ON p.doc_id = d.doc_id
    ORDER BY d.doc_id
    """,
)
def mm_pdf_ccitt_k_modes_raster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r11 — every /CCITTFaxDecode mode end to end: G4 (K < 0, r10),
    pure 1D (K = 0, r11), and mixed 1D/2D (K > 0, r11) streams of the
    SAME doc-derived bilevel image, cycled by doc_id % 3, each decoded
    through the rasterizer's image-XObject path.  One wrong run, tag
    bit, EOL frame, or reference-line step in any mode shifts that
    mode's third of the rows.  Reference parity: Poppler decodes all
    three through the same filter (gen_pdf_imgLambda.py:51).

    Scale shape: per-row independent mapInPandas, codec-family plan."""
    from specialsid_spark.operators.ccitt import (
        g3_1d_encode,
        g3_mixed_encode,
        g4_encode,
    )
    from specialsid_spark.operators.pdf import PdfWriter

    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < _N_CODEC_DOCS)
    W, H = 96, 64

    def build(doc_id: int) -> tuple[bytes, int]:
        img = bytes(
            0 if (x * 7 + y * 13 + doc_id) % 31 == 0 else 255
            for y in range(H)
            for x in range(W)
        )
        mode = doc_id % 3
        if mode == 0:
            enc, k = g4_encode(img, W, H), -1
        elif mode == 1:
            enc, k = g3_1d_encode(img, W, H, byte_align=False), 0
        else:
            enc, k = g3_mixed_encode(img, W, H, k=4), 4
        doc = PdfWriter()
        xo = doc.stream(
            enc,
            b"<< /Subtype /Image /Width %d /Height %d /BitsPerComponent 1"
            b" /ColorSpace /DeviceGray /Filter /CCITTFaxDecode"
            b" /DecodeParms << /K %d /Columns %d /Rows %d >>"
            b" /Length %%d >>" % (W, H, k, W, H),
        )
        doc.page(
            doc.stream(b"q %d 0 0 %d 140 600 cm /Im0 Do Q" % (W, H)),
            b"/XObject << /Im0 %d 0 R >>" % xo,
        )
        return doc.bytes(), k

    def kernel(doc_id):
        blob, k = build(doc_id)
        g = _page_gray(blob)
        if g is None:  # degrade surfaces as an impossible row
            yield doc_id, k, -1, -1, -1, -1
            return
        h, w = g.shape
        yield doc_id, k, w, h, (g == 0).sum(), g.sum()

    schema = (
        "doc_id long, k_mode int, width int, height int, n_black long,"
        " gray_sum long"
    )
    return map_rows(d.select("doc_id"), kernel, schema).orderBy("doc_id")
