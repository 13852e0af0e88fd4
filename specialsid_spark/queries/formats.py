"""Interchange-format source/sink roundtrips (SURVEY.md §2.1/§2.6
adjacent): CSV, ORC, and JSON-lines alongside the parquet the rest of
the engine reads.

Each query WRITES the documents table to the format under test in a
session-scoped scratch dir, READS it back with an explicit schema, and
aggregates content checksums — so a hash-green oracle proves the bytes
survive the sink+source pair, not just that the write succeeded.  The
oracle computes the same checksums straight from the parquet view: any
quoting, escaping, null-vs-empty, or type-coercion defect in the
roundtrip breaks the hash.

The CSV leg deliberately injects an adversarial column (embedded
commas, double quotes, and a newline, derived from doc_id) because the
fixture text itself is benign — a CSV roundtrip that never exercises
quoting proves nothing.

100 TB story: all three are plain distributed scans/writes — one file
per task, no shuffle on either side of the roundtrip; the aggregate is
a map-side-combine groupBy on low-cardinality keys.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from specialsid_spark.catalog import load
from specialsid_spark.operators.rows import map_rows
from specialsid_spark.queries import register
from specialsid_spark.session import session_workdir

# scratch roundtrip outputs, written once per (format, sf_dir) per process
_WRITTEN: dict[tuple[str, str], str] = {}


def _roundtrip_dir(fmt: str, sf_dir: str, write) -> str:
    """Write-once scratch dir: ``write(dir)`` runs at most once per
    (format, sf_dir) per process, and the dir is recorded as done only
    AFTER the write succeeds — a failed first write is retried on the
    next call instead of every later caller reading a missing or
    partial directory."""
    key = (fmt, os.path.abspath(sf_dir))
    if key not in _WRITTEN:
        d = os.path.join(session_workdir(f"fmt_{fmt}_"), "out")
        write(d)
        _WRITTEN[key] = d
    return _WRITTEN[key]


# md5-prefix content checksum: first 8 hex digits as int64, summed.
def _ck(col: F.Column) -> F.Column:
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def _sql_ck(expr: str) -> str:
    return f"('0x' || substring(md5({expr}), 1, 8))::BIGINT"


# adversarial CSV content: commas, double quotes, and an embedded
# newline — every RFC-4180 quoting hazard in one value
def _tricky(doc_id: F.Column) -> F.Column:
    return F.concat(
        F.lit('v,"'), doc_id.cast("string"), F.lit('"\n,'), doc_id.cast("string")
    )


_SQL_TRICKY = "'v,\"' || CAST(doc_id AS VARCHAR) || '\"' || chr(10) || ',' || CAST(doc_id AS VARCHAR)"


_DOCS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
        T.StructField("tricky", T.StringType()),
    ]
)


def _summarize(df: DataFrame) -> DataFrame:
    return (
        df.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.sum(_ck(F.col("text"))).alias("text_ck"),
            F.sum(_ck(F.col("tricky"))).alias("tricky_ck"),
        )
        .orderBy("lang")
    )


def _sql_summary(tricky_expr: str) -> str:
    return f"""
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           CAST(SUM({_sql_ck("text")}) AS BIGINT) AS text_ck,
           CAST(SUM({_sql_ck(tricky_expr)}) AS BIGINT) AS tricky_ck
    FROM documents
    GROUP BY lang ORDER BY lang
"""


_SQL_SUMMARY = _sql_summary(_SQL_TRICKY)


def _docs_with_tricky(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load(spark, sf_dir, "documents").withColumn(
        "tricky", _tricky(F.col("doc_id"))
    )


@register("src_csv_roundtrip", oracle=_SQL_SUMMARY)
def src_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV sink + source: RFC-4180 double-quote escaping (escape='\"',
    not the backslash default), quoteAll on the way out, multiLine on
    the way back (the adversarial column embeds a real newline).  The
    checksum aggregate proves value-level fidelity through the quoting
    layer.  multiLine=True makes a CSV file non-splittable — acceptable
    for many small files (one task each), the documented trade-off for
    embedded-newline data at scale."""
    out = _roundtrip_dir(
        "csv",
        sf_dir,
        lambda d: _docs_with_tricky(spark, sf_dir)
        .write.mode("overwrite")
        .options(header=True, quoteAll=True, escape='"')
        .csv(d),
    )
    back = spark.read.schema(_DOCS_SCHEMA).options(
        header=True, escape='"', multiLine=True
    ).csv(out)
    return _summarize(back)


@register("src_orc_roundtrip", oracle=_SQL_SUMMARY)
def src_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink + source (Spark-native columnar alternative to parquet;
    same predicate-pushdown/column-pruning machinery).  Types survive
    natively — the checksum aggregate guards against value corruption,
    and the explicit schema read guards against type drift."""
    out = _roundtrip_dir(
        "orc",
        sf_dir,
        lambda d: _docs_with_tricky(spark, sf_dir).write.mode("overwrite").orc(d),
    )
    return _summarize(spark.read.schema(_DOCS_SCHEMA).orc(out))


@register("src_jsonl_roundtrip", oracle=_SQL_SUMMARY)
def src_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines sink + source — the interchange format crawl corpora
    actually ship in.  Spark writes one JSON object per line (splittable
    on read, unlike multiLine CSV); the embedded newline in the
    adversarial column must round-trip as the two-character escape \\n
    inside the JSON string, which the checksum proves."""
    out = _roundtrip_dir(
        "jsonl",
        sf_dir,
        lambda d: _docs_with_tricky(spark, sf_dir).write.mode("overwrite").json(d),
    )
    return _summarize(spark.read.schema(_DOCS_SCHEMA).json(out))


# XML-hostile content: raw markup chars (< > &), an attribute-style
# quote, the CDATA end marker, a literal pre-escaped entity (&amp;)
# that a naive double-unescape would corrupt, and a real newline.
def _tricky_xml(doc_id: F.Column) -> F.Column:
    return F.concat(
        F.lit('<t &a="'),
        doc_id.cast("string"),
        F.lit('">]]>\n&amp;'),
        doc_id.cast("string"),
    )


_SQL_TRICKY_XML = (
    "'<t &a=\"' || CAST(doc_id AS VARCHAR) || '\">]]>' || chr(10)"
    " || '&amp;' || CAST(doc_id AS VARCHAR)"
)


# Avro adversarial nested/nullable rendering: the nested value lives
# only inside the Avro file; the summary flattens it to a canonical
# string both engines can checksum.  opt is a union[null,string] that
# is actually null every 3rd row; tags an array<long> that is empty
# every 2nd row; props a map with a union[null,long] value.
_SQL_TRICKY_AVRO = (
    "(CASE WHEN doc_id % 3 = 0 THEN '~' ELSE 'v' || CAST(doc_id AS VARCHAR) END)"
    " || '|' || (CASE WHEN doc_id % 2 = 1 THEN CAST(doc_id AS VARCHAR) || ','"
    " || CAST(doc_id * 2 AS VARCHAR) ELSE '' END)"
    " || '|' || (CASE WHEN doc_id % 2 = 0 THEN CAST(doc_id AS VARCHAR) ELSE '~' END)"
    " || ':' || CAST(doc_id * 7 AS VARCHAR)"
)


@register("src_avro_roundtrip", oracle=_sql_summary(_SQL_TRICKY_AVRO))
def src_avro_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro OCF sink + source (r8, VERDICT #5) — the one mainstream
    interchange format the engine couldn't read: the container has
    avro core but no spark-avro connector, so operators/avro.py
    implements the public spec (binary encoding + object container,
    deflate + snappy codecs) and this query drives it through Spark
    both ways.

    WRITE: each task serializes its partition into one .avro file
    (mapInPandas; records carry an adversarial nested value — a
    union-null string, an array<long> empty on half the rows, and a
    map with union-null values — the encodings where an Avro
    implementation actually goes wrong).  READ: binaryFile scan of the
    written files → OCF decode → flatten the nested value to a
    canonical string → the shared checksum summary.  The oracle
    restates the flattening from doc_id arithmetic, so a green hash
    proves union-branch indices, array/map block framing, and the
    compression layers (snappy on even-leading files, deflate on the
    rest) all survived.  The wire format is additionally
    cross-validated against the JVM's independent avro-1.12.1 reader
    in tests/test_avro.py.

    100 TB story: same shape as the CSV/ORC/JSONL/XML legs — one file
    per task on write, splittable-by-file on read, no shuffle until
    the low-cardinality summary groupBy.  (A production sink would add
    Spark's commit protocol for task retries; the scratch-dir write
    here keeps the query self-contained.)"""
    import pandas as pd

    from specialsid_spark.operators.avro import read_ocf, write_ocf

    _AVRO_SCHEMA = {
        "type": "record",
        "name": "Doc",
        "fields": [
            {"name": "doc_id", "type": "long"},
            {"name": "text", "type": "string"},
            {"name": "lang", "type": "string"},
            {"name": "n_chars", "type": "long"},
            {"name": "opt", "type": ["null", "string"]},
            {"name": "tags", "type": {"type": "array", "items": "long"}},
            {"name": "props", "type": {"type": "map", "values": ["null", "long"]}},
        ],
    }

    def make_writer(d: str):
        def write_part(batches):
            import uuid

            rows = []
            for pdf in batches:
                for r in pdf.itertuples(index=False):
                    i = int(r.doc_id)
                    rows.append(
                        {
                            "doc_id": i,
                            "text": r.text,
                            "lang": r.lang,
                            "n_chars": int(r.n_chars),
                            "opt": None if i % 3 == 0 else f"v{i}",
                            "tags": [i, i * 2] if i % 2 == 1 else [],
                            "props": {"k": i if i % 2 == 0 else None, "j": i * 7},
                        }
                    )
            if rows:
                # exercise BOTH block codecs across the file set,
                # chosen deterministically by partition content — the
                # reader must dispatch per-file on avro.codec metadata
                codec = "snappy" if rows[0]["doc_id"] % 2 == 0 else "deflate"
                path = os.path.join(d, f"part-{uuid.uuid4().hex}.avro")
                with open(path, "wb") as f:
                    f.write(write_ocf(_AVRO_SCHEMA, rows, codec=codec))
            yield pd.DataFrame({"n": [len(rows)]})

        return write_part

    def write(d: str) -> None:
        os.makedirs(d, exist_ok=True)
        docs = load(spark, sf_dir, "documents").select(
            "doc_id", "text", "lang", "n_chars"
        )
        docs.mapInPandas(make_writer(d), "n long").agg(F.sum("n")).collect()

    out = _roundtrip_dir("avro", sf_dir, write)

    def read_file(content):
        for r in read_ocf(content)[1]:
            opt = "~" if r["opt"] is None else r["opt"]
            tags = ",".join(str(t) for t in r["tags"])
            k = "~" if r["props"]["k"] is None else str(r["props"]["k"])
            yield (r["doc_id"], r["text"], r["lang"], r["n_chars"],
                   f"{opt}|{tags}|{k}:{r['props']['j']}")

    files = spark.read.format("binaryFile").option("pathGlobFilter", "*.avro").load(out)
    back = map_rows(
        files.select("content"), read_file,
        "doc_id long, text string, lang string, n_chars long, tricky string",
    )
    return _summarize(back)


@register("src_xml_roundtrip", oracle=_sql_summary(_SQL_TRICKY_XML))
def src_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML sink + source (r7) — Spark 4's NATIVE XML data source (the
    spark-xml package folded into core), the fourth interchange format
    after CSV/ORC/JSONL: feeds and enterprise dumps still arrive as
    XML.  The adversarial column packs every XML escaping hazard — raw
    < > & and ", the CDATA terminator ]]>, a literal &amp; entity that
    a double-unescape would corrupt, and an embedded newline — and the
    checksum aggregate proves value-level fidelity through the entity
    escaping layer both ways.

    Scale note: like multiLine CSV, XML rows can span lines, so files
    split on the rowTag boundary scanner — many medium files
    parallelize; one giant file is the anti-pattern (documented
    trade-off shared with every row-spanning text format)."""
    out = _roundtrip_dir(
        "xml",
        sf_dir,
        lambda d: load(spark, sf_dir, "documents")
        .withColumn("tricky", _tricky_xml(F.col("doc_id")))
        .write.mode("overwrite")
        .format("xml")
        .options(rootTag="docs", rowTag="doc")
        .save(d),
    )
    back = (
        spark.read.format("xml")
        .option("rowTag", "doc")
        .schema(_DOCS_SCHEMA)
        .load(out)
    )
    return _summarize(back)


@register(
    "src_protobuf_scan",
    # Fixture messages are deterministic doc_id/text derivations, so
    # the oracle restates every decoded field arithmetically; the
    # writer also injects field 99 (absent from the reader descriptor)
    # to pin the unknown-field skip path corpus-wide.
    oracle="""
    SELECT doc_id,
           md5(text) AS text_md5,
           lang,
           CAST(n_chars AS BIGINT) AS n_chars,
           CAST(-2 * doc_id + doc_id % 7 AS BIGINT) AS tag_sum
    FROM documents
    ORDER BY doc_id
    """,
)
def src_protobuf_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Protobuf wire-format ingest (r8) — the dominant event/log wire
    format, unreadable by stock Spark without the spark-protobuf
    connector + compiled descriptors (neither in the container).
    operators/proto.py implements the public encoding spec; each doc
    is encoded as a message exercising every wire type — varint,
    zigzag sint64 (PACKED repeated, with negatives), nested
    length-delimited message, UTF-8 string — plus an unknown field the
    reader descriptor omits, then decoded back and flattened.  A green
    hash proves tag framing, packed-block unpacking, zigzag signs,
    nested recursion, and unknown-field skipping all survive.  The
    wire format is byte-identical to the JVM protobuf runtime's
    CodedOutputStream (tests/test_proto.py).

    Scale shape: per-row independent mapInPandas, no shuffle before
    the final sort — the same embarrassingly-parallel plan as every
    codec query."""
    from specialsid_spark.operators.proto import decode_message, encode_message

    _WRITE_DESC = {
        1: ("doc_id", "int64"),
        2: ("text", "string"),
        3: ("tags", ("repeated", "sint64")),
        4: ("meta", ("message", {1: ("lang", "string"), 2: ("n_chars", "int64")})),
        99: ("debug_note", "string"),  # unknown to the reader
    }
    _READ_DESC = {
        1: ("doc_id", "int64"),
        2: ("text", "string"),
        3: ("tags", ("repeated", "sint64")),
        4: ("meta", ("message", {1: ("lang", "string"), 2: ("n_chars", "int64")})),
    }

    d = load(spark, sf_dir, "documents")

    def kernel(i, text, lang, n_chars):
        blob = encode_message(
            _WRITE_DESC,
            {
                "doc_id": i,
                "text": text,
                "tags": [i, -i * 3, i % 7],
                "meta": {"lang": lang, "n_chars": n_chars},
                "debug_note": f"writer-only {i}",
            },
        )
        m = decode_message(_READ_DESC, blob)
        assert "debug_note" not in m
        yield (m["doc_id"], hashlib.md5(m["text"].encode()).hexdigest(),
               m["meta"]["lang"], m["meta"]["n_chars"], sum(m["tags"]))

    return map_rows(
        d.select("doc_id", "text", "lang", "n_chars"), kernel,
        "doc_id long, text_md5 string, lang string, n_chars long, tag_sum long",
    ).orderBy("doc_id")


@register(
    "src_msgpack_scan",
    # Fixture records are deterministic doc_id/text derivations, so the
    # oracle restates every decoded field arithmetically.  Three
    # records per doc arrive CONCATENATED (the Fluentd forward-mode
    # framing) and must stream-decode; each exercises fixmap/fixarray,
    # str vs bin, nested maps, negative ints, the ext -1 timestamp
    # (both 32- and 64-bit layouts appear across docs), and an
    # application ext that must round-trip code + payload.
    oracle="""
    SELECT doc_id,
           CAST(3 AS BIGINT) AS n_records,
           CAST(4800000003 + 9 * doc_id AS BIGINT) AS ts_sec_sum,
           CAST((doc_id * 1) % 1000 + (doc_id * 2) % 1000 AS BIGINT) AS ts_nanos_sum,
           md5(substr(text, 1, 50)) AS msg_md5,
           md5(substr(text, 1, 8)) AS bin_md5,
           CAST(3 - 3 * doc_id + 3 * (doc_id % 7) AS BIGINT) AS tag_sum,
           CAST(1 AS BIGINT) AS ext_ok
    FROM documents
    ORDER BY doc_id
    """,
)
def src_msgpack_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MessagePack ingest (r9) — the Fluentd/Redis log wire format,
    unreadable by stock Spark.  operators/msgpack.py implements the
    public spec; each doc becomes a 3-record concatenated stream
    (forward-mode framing) that is decoded back with unpack_stream and
    flattened.  A green hash proves map/array framing, str-vs-bin
    typing, negative-int widths, timestamp ext layouts, application
    ext roundtrip, and stream segmentation all survive.

    Scale shape: per-row independent mapInPandas, no shuffle before
    the final sort — the codec-family plan."""
    from specialsid_spark.operators.msgpack import (
        Ext,
        Timestamp,
        pack,
        unpack_stream,
    )

    d = load(spark, sf_dir, "documents")

    def kernel(i, text, lang):
        ext = Ext(7, b"\xab" * (1 + i % 4))
        recs = [
            {
                "doc_id": i,
                "seq": j,
                "ts": Timestamp(1_600_000_000 + i * 3 + j, (i * j) % 1000),
                "msg": text[:50],
                "tags": [j, -i, i % 7],
                "bin": text[:8].encode("utf-8"),
                "ext": ext,
                "nested": {"lang": lang, "neg": -(i + 1)},
            }
            for j in range(3)
        ]
        back = unpack_stream(b"".join(pack(rec) for rec in recs))
        assert back == recs  # full structural roundtrip
        yield (
            i,
            len(back),
            sum(rec["ts"].seconds for rec in back),
            sum(rec["ts"].nanos for rec in back),
            hashlib.md5(back[0]["msg"].encode("utf-8")).hexdigest(),
            hashlib.md5(back[0]["bin"]).hexdigest(),
            sum(sum(rec["tags"]) for rec in back),
            int(all(rec["ext"] == ext for rec in back)),
        )

    return map_rows(
        d.select("doc_id", "text", "lang"), kernel,
        "doc_id long, n_records long, ts_sec_sum long, ts_nanos_sum long,"
        " msg_md5 string, bin_md5 string, tag_sum long, ext_ok long",
    ).orderBy("doc_id")


@register(
    "src_cbor_scan",
    # Fixture records are deterministic doc_id/text derivations; the
    # oracle restates every decoded field arithmetically.  Each doc's
    # record exercises uint/negint widths, text vs bytes, nested
    # array/map, tag-1 epoch timestamps, half/indefinite forms on the
    # DECODE side (a second wire blob written non-canonically by hand),
    # and float64.
    oracle="""
    SELECT doc_id,
           md5(substr(text, 1, 40)) AS msg_md5,
           CAST(-(doc_id + 1) AS BIGINT) AS neg,
           CAST(1700000000 + doc_id AS BIGINT) AS ts_epoch,
           CAST(doc_id % 7 + (doc_id % 5) + (doc_id % 3) AS BIGINT) AS arr_sum,
           CAST(n_chars AS BIGINT) AS n_chars,
           CAST(1 AS BIGINT) AS indef_ok
    FROM documents
    ORDER BY doc_id
    """,
)
def src_cbor_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CBOR ingest (r9) — RFC 8949, the IoT/COSE event format,
    completing the schemaless-binary family (JSON/VARIANT, protobuf,
    MessagePack, Avro).  operators/cbor.py implements the spec's core
    deterministic encoding + full-surface decode; each doc round-trips
    a canonical record AND decodes a hand-built NON-canonical twin
    (indefinite-length text chunks + half-precision float) that must
    yield the same values — the wire reality of permissive emitters.

    Scale shape: per-row independent mapInPandas, no shuffle before
    the final sort — the codec-family plan."""
    from specialsid_spark.operators.cbor import Tag, decode, encode

    d = load(spark, sf_dir, "documents")

    def kernel(i, text, lang, n_chars):
        rec = {
            "doc_id": i,
            "msg": text[:40],
            "neg": -(i + 1),
            "ts": Tag(1, 1_700_000_000 + i),
            "arr": [i % 7, i % 5, i % 3],
            "meta": {"lang": lang, "n_chars": n_chars},
            "bin": text[:6].encode("utf-8"),
            "score": i / 8.0,
        }
        back = decode(encode(rec))
        assert back == rec  # canonical roundtrip
        # non-canonical twin: indefinite text chunks + half float
        msg8 = text[:8]
        b0 = msg8[:3].encode("utf-8")
        b1 = msg8[3:].encode("utf-8")
        indef = (
            b"\xa2"  # map(2)
            b"\x63msg"
            b"\x7f"  # text, indefinite
            + bytes([0x60 | len(b0)]) + b0
            + bytes([0x60 | len(b1)]) + b1
            + b"\xff"
            + b"\x61f" + b"\xf9\x3e\x00"  # half 1.5
        )
        yield (
            back["doc_id"],
            hashlib.md5(back["msg"].encode("utf-8")).hexdigest(),
            back["neg"],
            back["ts"].value,
            sum(back["arr"]),
            back["meta"]["n_chars"],
            int(decode(indef) == {"msg": msg8, "f": 1.5}),
        )

    return map_rows(
        d.select("doc_id", "text", "lang", "n_chars"), kernel,
        "doc_id long, msg_md5 string, neg long, ts_epoch long,"
        " arr_sum long, n_chars long, indef_ok long",
    ).orderBy("doc_id")


_SQL_TRICKY_ARROW = (
    "(CASE WHEN doc_id % 3 = 0 THEN '~' ELSE 'v' || CAST(doc_id AS VARCHAR) END)"
    " || '|' || (CASE WHEN doc_id % 2 = 1 THEN CAST(doc_id AS VARCHAR) || ','"
    " || CAST(doc_id * 2 AS VARCHAR) ELSE '' END)"
    " || '|' || source"
)


@register("src_arrow_ipc_roundtrip", oracle=_sql_summary(_SQL_TRICKY_ARROW))
def src_arrow_ipc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow IPC (Feather v2) sink + source — the zero-copy interchange
    format of the Python data stack (and Spark's own Arrow transfer
    layer), driven end-to-end as FILES: each task serializes its
    partition into one .arrow file, a binaryFile scan + mapInPandas
    decodes them back.  pyarrow is the format's reference
    implementation and is already the engine's Python<->JVM bridge, so
    unlike Avro/proto/msgpack (operators/*.py, hand-written for want of
    a connector) the codec here is the vendored library; what the query
    proves is the Spark-side plumbing.

    The file layout is made adversarial where IPC readers actually
    break: MULTIPLE record batches per file (16-row chunks — framing,
    not one monolithic batch), DICTIONARY-encoded string columns (the
    reader must resolve dictionary batches before record batches), a
    union-null string column (validity bitmaps), and a list<int64>
    column empty on half the rows (offset buffers).  The checksum
    summary restated by the oracle from doc_id arithmetic proves every
    one of those survived.

    100 TB story: one file per task on write, splittable-BY-FILE on
    read (an .arrow file's record batches are independently seekable
    via the footer, so a finer-grained reader could split within
    files); no shuffle until the low-cardinality summary groupBy."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.ipc as ipc

    def write(d: str) -> None:
        os.makedirs(d, exist_ok=True)

        def write_part(batches):
            import uuid

            rows = []
            for pdf in batches:
                for r in pdf.itertuples(index=False):
                    i = int(r.doc_id)
                    rows.append(
                        (
                            i,
                            r.text,
                            r.lang,
                            r.source,
                            int(r.n_chars),
                            None if i % 3 == 0 else f"v{i}",
                            [i, i * 2] if i % 2 == 1 else [],
                        )
                    )
            if rows:
                cols = list(zip(*rows))
                table = pa.table(
                    {
                        "doc_id": pa.array(cols[0], pa.int64()),
                        "text": pa.array(cols[1], pa.utf8()),
                        "lang": pa.array(cols[2], pa.utf8()).dictionary_encode(),
                        "source": pa.array(cols[3], pa.utf8()).dictionary_encode(),
                        "n_chars": pa.array(cols[4], pa.int64()),
                        "opt": pa.array(cols[5], pa.utf8()),
                        "tags": pa.array(cols[6], pa.list_(pa.int64())),
                    }
                )
                path = os.path.join(d, f"part-{uuid.uuid4().hex}.arrow")
                with pa.OSFile(path, "wb") as f, ipc.new_file(f, table.schema) as w:
                    for b in table.to_batches(max_chunksize=16):
                        w.write_batch(b)
            yield pd.DataFrame({"n": [len(rows)]})

        docs = load(spark, sf_dir, "documents").select(
            "doc_id", "text", "lang", "source", "n_chars"
        )
        docs.mapInPandas(write_part, "n long").collect()

    out = _roundtrip_dir("arrow", sf_dir, write)

    def read_file(content):
        rd = ipc.open_file(pa.BufferReader(content))
        for bi in range(rd.num_record_batches):
            b = rd.get_batch(bi).to_pydict()
            for i, text, lang, src, nc, o, tags in zip(
                b["doc_id"], b["text"], b["lang"], b["source"], b["n_chars"], b["opt"], b["tags"]
            ):
                o = "~" if o is None else o
                yield i, text, lang, nc, f"{o}|{','.join(str(x) for x in tags)}|{src}"

    files = spark.read.format("binaryFile").option("pathGlobFilter", "*.arrow").load(out)
    back = map_rows(
        files.select("content"), read_file,
        "doc_id long, text string, lang string, n_chars long, tricky string",
    )
    return _summarize(back)
