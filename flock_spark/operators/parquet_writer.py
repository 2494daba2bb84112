"""From-spec Apache Parquet WRITER — the reverse certification direction
from the from-spec readers in operators/formats.py, completing the format
pair the way the codec encode entries complete theirs: every byte of the
file is assembled here from the published parquet-format specification
(Thrift compact protocol, page layout, hybrid RLE/bit-pack levels), and
the output is then read by FOUR independent readers — Spark's JVM reader
(the certified entry below), DuckDB's reader, pyarrow, and this repo's own
from-spec ``parquet_column_read`` (tests).

What the writer emits, all from the spec:

- THRIFT COMPACT PROTOCOL encoding (the mirror of ``formats.py``'s
  decoder): field-delta headers with long-form ids, zig-zag varints,
  length-prefixed binaries, list headers with the >=15 size escape,
  nested structs — used for PageHeader, DataPageHeader,
  DictionaryPageHeader, ColumnMetaData, RowGroup, SchemaElement and
  FileMetaData;
- v1 DATA PAGES: PLAIN-encoded INT64 and BYTE_ARRAY values; optional
  columns carry 4-byte-length-prefixed hybrid RLE definition levels
  (bit width 1); a dictionary-encoded column writes a PLAIN_DICTIONARY
  dictionary page plus bit-width-prefixed RLE index runs (the classic
  v1 layout);
- per-column CODECS exercised with this repo's OWN encoders — GZIP
  pages wrap ``multimodal.deflate_compress`` (the from-spec DEFLATE
  encoder) in a from-spec RFC 1952 member with ``bitio.crc32`` trailer,
  SNAPPY pages use a spec-minimal literal-run encoder, and one column
  stays UNCOMPRESSED;
- three ROW GROUPS with per-group column chunks, correct
  data/dictionary page offsets, and the FileMetaData footer
  (schema tree, num_rows, row group index) + little-endian length +
  ``PAR1`` magic at both ends.

Reference parity: the reference engine reads/writes columnar batches in
its datasource layer (flock/src/datasource/); writing the format from
scratch proves the engine understands every byte it trusts — the same
argument as the ORC/Arrow/Avro walks, now in the write direction.

Scale: staging writes one file per sf_dir once; the certified entry is a
pure-JVM plan (one parquet scan of OUR bytes, two-phase aggregate, zero
Python) — the writer itself would run per-partition inside a sink at
100 TB, emitting one file per task exactly like Spark's own writer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from flock_spark.operators.bitio import crc32, write_uvarint, zigzag
from flock_spark.operators.digests import _AUDIT_ORACLE
from flock_spark.registry import register
from flock_spark.staging import stage_once

STATS: dict[str, int] = {}


def _hit(key: str) -> None:
    STATS[key] = STATS.get(key, 0) + 1


# ---------------------------------------------------------------------------
# Thrift compact protocol ENCODER (mirror of formats.py's decoder)
# ---------------------------------------------------------------------------

CT_TRUE, CT_FALSE, CT_BYTE, CT_I16, CT_I32, CT_I64 = 1, 2, 3, 4, 5, 6
CT_DOUBLE, CT_BINARY, CT_LIST, CT_STRUCT = 7, 8, 9, 12


def tc_binary(b: bytes) -> bytes:
    return write_uvarint(len(b)) + b


def tc_list(elem_type: int, items: list[bytes]) -> bytes:
    n = len(items)
    if n < 15:
        head = bytes([(n << 4) | elem_type])
    else:
        head = bytes([0xF0 | elem_type]) + write_uvarint(n)
        _hit("thrift:long_list")
    return head + b"".join(items)


def tc_struct(fields: list[tuple[int, int, bytes]]) -> bytes:
    """fields = [(field_id, compact_type, payload_bytes)] in ascending id
    order; booleans pass CT_TRUE/CT_FALSE with empty payload."""
    out = bytearray()
    last = 0
    for fid, ctype, payload in fields:
        delta = fid - last
        if 1 <= delta <= 15:
            out.append((delta << 4) | ctype)
        else:
            out.append(ctype)
            out += write_uvarint(zigzag(fid))
            _hit("thrift:long_field")
        out += payload
        last = fid
    out.append(0)
    return bytes(out)


# ---------------------------------------------------------------------------
# Hybrid RLE/bit-pack level + index encoding (pure RLE runs — valid and
# what classic writers emit for low-cardinality runs)
# ---------------------------------------------------------------------------


def rle_hybrid_encode(values: list[int], bit_width: int) -> bytes:
    nbytes = (bit_width + 7) // 8
    out = bytearray()
    i = 0
    n = len(values)
    while i < n:
        v = values[i]
        j = i
        while j < n and values[j] == v:
            j += 1
        out += write_uvarint((j - i) << 1)  # RLE run header (LSB 0)
        out += v.to_bytes(nbytes, "little")
        i = j
    return bytes(out)


# ---------------------------------------------------------------------------
# Page codecs: this repo's OWN encoders
# ---------------------------------------------------------------------------


def snappy_literal_compress(raw: bytes) -> bytes:
    """Spec-minimal snappy: uncompressed-length preamble + literal runs
    (1- and 2-byte extended length tags for long runs)."""
    out = bytearray(write_uvarint(len(raw)))
    i = 0
    while i < len(raw):
        chunk = raw[i : i + 65536]
        ln = len(chunk) - 1
        if ln < 60:
            out.append(ln << 2)
        elif ln < 256:
            out.append(60 << 2)
            out.append(ln)
        else:
            out.append(61 << 2)
            out += ln.to_bytes(2, "little")
        out += chunk
        i += len(chunk)
    return bytes(out)


def gzip_own_compress(raw: bytes) -> bytes:
    """RFC 1952 member around this repo's from-spec DEFLATE encoder, with
    the CRC32/ISIZE trailer from the repo's own CRC table."""
    from flock_spark.operators.multimodal import deflate_compress

    hdr = b"\x1f\x8b\x08\x00\x00\x00\x00\x00\x00\xff"
    body = deflate_compress(raw)
    trailer = crc32(raw).to_bytes(4, "little")
    trailer += (len(raw) & 0xFFFFFFFF).to_bytes(4, "little")
    return hdr + body + trailer


_CODEC_FN = {
    0: lambda b: b,  # UNCOMPRESSED
    1: snappy_literal_compress,  # SNAPPY
    2: gzip_own_compress,  # GZIP
}


# ---------------------------------------------------------------------------
# Pages + column chunks + footer
# ---------------------------------------------------------------------------

_TYPE_INT64, _TYPE_BYTE_ARRAY = 2, 6
_ENC_PLAIN, _ENC_PLAIN_DICT, _ENC_RLE = 0, 2, 3


def _plain_int64(vals: list[int]) -> bytes:
    return b"".join(v.to_bytes(8, "little", signed=True) for v in vals)


def _plain_byte_array(vals: list[bytes]) -> bytes:
    return b"".join(len(v).to_bytes(4, "little") + v for v in vals)


def _page_header(
    page_type: int, unc: int, comp: int, inner_fid: int, inner: bytes
) -> bytes:
    return tc_struct([
        (1, CT_I32, write_uvarint(zigzag(page_type))),
        (2, CT_I32, write_uvarint(zigzag(unc))),
        (3, CT_I32, write_uvarint(zigzag(comp))),
        (inner_fid, CT_STRUCT, inner),
    ])


def _data_page(
    payload: bytes, num_values: int, encoding: int, codec: int
) -> tuple[bytes, int]:
    comp = _CODEC_FN[codec](payload)
    inner = tc_struct([
        (1, CT_I32, write_uvarint(zigzag(num_values))),
        (2, CT_I32, write_uvarint(zigzag(encoding))),
        (3, CT_I32, write_uvarint(zigzag(_ENC_RLE))),  # definition levels
        # repetition levels (absent, flat)
        (4, CT_I32, write_uvarint(zigzag(_ENC_RLE))),
    ])
    hdr = _page_header(0, len(payload), len(comp), 5, inner)
    # spec: chunk size totals count the page headers on both sides
    return hdr + comp, len(hdr) + len(payload)


def _dict_page(payload: bytes, num_values: int, codec: int) -> tuple[bytes, int]:
    comp = _CODEC_FN[codec](payload)
    inner = tc_struct([
        (1, CT_I32, write_uvarint(zigzag(num_values))),
        (2, CT_I32, write_uvarint(zigzag(_ENC_PLAIN_DICT))),
    ])
    hdr = _page_header(2, len(payload), len(comp), 7, inner)
    return hdr + comp, len(hdr) + len(payload)


def _column_meta(
    phys: int, encodings: list[int], path: str, codec: int, num_values: int,
    unc_size: int, comp_size: int, data_off: int, dict_off: int | None,
) -> bytes:
    fields = [
        (1, CT_I32, write_uvarint(zigzag(phys))),
        (2, CT_LIST,
         tc_list(CT_I32, [write_uvarint(zigzag(e)) for e in encodings])),
        (3, CT_LIST, tc_list(CT_BINARY, [tc_binary(path.encode())])),
        (4, CT_I32, write_uvarint(zigzag(codec))),
        (5, CT_I64, write_uvarint(zigzag(num_values))),
        (6, CT_I64, write_uvarint(zigzag(unc_size))),
        (7, CT_I64, write_uvarint(zigzag(comp_size))),
        (9, CT_I64, write_uvarint(zigzag(data_off))),
    ]
    if dict_off is not None:
        fields.append((11, CT_I64, write_uvarint(zigzag(dict_off))))
    return tc_struct(fields)


def parquet_write_documents(rows: list[tuple]) -> bytes:
    """Assemble a complete parquet file for (doc_id, n_chars_gap, text,
    source) rows: three row groups, per-column codec/encoding matrix —
    doc_id INT64 PLAIN UNCOMPRESSED; n_chars_gap optional INT64 PLAIN
    SNAPPY (def levels); text BYTE_ARRAY PLAIN GZIP (own deflate);
    source BYTE_ARRAY PLAIN_DICTIONARY SNAPPY (file-global dictionary
    written per row group)."""
    out = bytearray(b"PAR1")
    n = len(rows)
    bounds = [0, n // 3, 2 * n // 3, n] if n >= 3 else [0, n]
    dict_vals = sorted({r[3] for r in rows})
    dict_idx = {v: i for i, v in enumerate(dict_vals)}
    bw = max(1, (len(dict_vals) - 1).bit_length())
    rg_structs = []
    for g in range(len(bounds) - 1):
        grp = rows[bounds[g] : bounds[g + 1]]
        num = len(grp)
        chunks = []
        # --- doc_id: required INT64, PLAIN, UNCOMPRESSED ---
        payload = _plain_int64([r[0] for r in grp])
        off = len(out)
        page, unc = _data_page(payload, num, _ENC_PLAIN, 0)
        out += page
        chunks.append((_TYPE_INT64, [_ENC_PLAIN, _ENC_RLE], "doc_id", 0,
                       num, unc, len(page), off, None))
        # --- n_chars_gap: optional INT64, def levels, SNAPPY ---
        defs = [0 if r[1] is None else 1 for r in grp]
        dbytes = rle_hybrid_encode(defs, 1)
        payload = (
            len(dbytes).to_bytes(4, "little") + dbytes
            + _plain_int64([r[1] for r in grp if r[1] is not None])
        )
        off = len(out)
        page, unc = _data_page(payload, num, _ENC_PLAIN, 2)
        out += page
        chunks.append((_TYPE_INT64, [_ENC_PLAIN, _ENC_RLE], "n_chars_gap",
                       2, num, unc, len(page), off, None))
        # --- text: required BYTE_ARRAY, PLAIN, GZIP (own deflate) ---
        payload = _plain_byte_array([r[2].encode() for r in grp])
        off = len(out)
        page, unc = _data_page(payload, num, _ENC_PLAIN, 1)
        out += page
        chunks.append((_TYPE_BYTE_ARRAY, [_ENC_PLAIN, _ENC_RLE], "text", 1,
                       num, unc, len(page), off, None))
        # --- source: BYTE_ARRAY, PLAIN_DICTIONARY + dict page, SNAPPY ---
        dict_payload = _plain_byte_array([v.encode() for v in dict_vals])
        dict_off = len(out)
        dpage, dunc = _dict_page(dict_payload, len(dict_vals), 1)
        out += dpage
        idx_payload = bytes([bw]) + rle_hybrid_encode(
            [dict_idx[r[3]] for r in grp], bw
        )
        data_off = len(out)
        page, punc = _data_page(idx_payload, num, _ENC_PLAIN_DICT, 1)
        out += page
        chunks.append((
            _TYPE_BYTE_ARRAY, [_ENC_PLAIN_DICT, _ENC_RLE], "source", 1,
            num, dunc + punc, len(dpage) + len(page), data_off, dict_off,
        ))
        col_structs = []
        total = 0
        for (phys, encs, path, codec, nv, unc, comp, doff, dictoff) in chunks:
            total += comp
            meta = _column_meta(
                phys, encs, path, codec, nv, unc, comp, doff, dictoff
            )
            col_structs.append(tc_struct([
                (2, CT_I64, write_uvarint(
                    zigzag(dictoff if dictoff is not None else doff))),
                (3, CT_STRUCT, meta),
            ]))
        rg_structs.append(tc_struct([
            (1, CT_LIST, tc_list(CT_STRUCT, col_structs)),
            (2, CT_I64, write_uvarint(zigzag(total))),
            (3, CT_I64, write_uvarint(zigzag(num))),
        ]))
    # --- schema tree ---
    schema = [tc_struct([
        (4, CT_BINARY, tc_binary(b"spark_schema")),
        (5, CT_I32, write_uvarint(zigzag(4))),
    ])]
    for name, phys, rep, utf8 in (
        ("doc_id", _TYPE_INT64, 0, False),
        ("n_chars_gap", _TYPE_INT64, 1, False),
        ("text", _TYPE_BYTE_ARRAY, 0, True),
        ("source", _TYPE_BYTE_ARRAY, 0, True),
    ):
        fields = [
            (1, CT_I32, write_uvarint(zigzag(phys))),
            (3, CT_I32, write_uvarint(zigzag(rep))),
            (4, CT_BINARY, tc_binary(name.encode())),
        ]
        if utf8:
            # ConvertedType UTF8
            fields.append((6, CT_I32, write_uvarint(zigzag(0))))
        schema.append(tc_struct(fields))
    footer = tc_struct([
        (1, CT_I32, write_uvarint(zigzag(1))),  # version
        (2, CT_LIST, tc_list(CT_STRUCT, schema)),
        (3, CT_I64, write_uvarint(zigzag(n))),
        (4, CT_LIST, tc_list(CT_STRUCT, rg_structs)),
        (6, CT_BINARY, tc_binary(b"flock_spark from-spec writer")),
    ])
    out += footer
    out += len(footer).to_bytes(4, "little")
    out += b"PAR1"
    return bytes(out)


# ---------------------------------------------------------------------------
# Staged fixture + certified entry (pure-JVM audit of OUR bytes)
# ---------------------------------------------------------------------------


def _stage_own_parquet(spark: SparkSession, sf_dir: str) -> str:
    def write_fixture(tmp: str) -> None:
        import os

        rows = [
            (r.doc_id, None if r.doc_id % 7 == 0 else r.n_chars,
             r.text, r.source)
            for r in (
                spark.read.parquet(f"{sf_dir}/documents.parquet")
                .selectExpr("doc_id", "n_chars", "text", "source")
                .orderBy("doc_id")
                .collect()  # bounded: N_DOCS rows (5k at sf0.1)
            )
        ]
        data = parquet_write_documents(rows)
        with open(os.path.join(tmp, "own_writer.parquet"), "wb") as f:
            f.write(data)

    return stage_once(
        f"own_parquet_{sf_dir}", "v2-3rg-dict-gzip-gap-snappy-text", write_fixture
    )


def _audit_sql(view: str) -> str:
    """Spark SQL twin of ``digests._AUDIT_ORACLE`` over ``view``: the
    md5 chains sort (doc_id, value) structs to restore doc_id order."""
    return f"""
        SELECT 'doc_id' AS col_name,
               count(*) AS n_values,
               CAST(0 AS BIGINT) AS n_nulls,
               sum(doc_id) AS sum_v,
               md5(CAST(concat_ws(',', transform(
                 array_sort(collect_list(named_struct(
                   'k', doc_id, 'v', CAST(doc_id AS STRING)))),
                 x -> x.v)) AS BINARY)) AS values_md5
        FROM {view}
        UNION ALL
        SELECT 'n_chars_gap', count(*),
               sum(CASE WHEN n_chars_gap IS NULL THEN 1 ELSE 0 END),
               sum(coalesce(n_chars_gap, 0)),
               md5(CAST(concat_ws(',', transform(
                 array_sort(collect_list(named_struct(
                   'k', doc_id,
                   'v', coalesce(CAST(n_chars_gap AS STRING), 'null')))),
                 x -> x.v)) AS BINARY))
        FROM {view}
        UNION ALL
        SELECT 'text', count(*), CAST(0 AS BIGINT),
               sum(octet_length(text)),
               md5(CAST(concat_ws(',', transform(
                 array_sort(collect_list(named_struct(
                   'k', doc_id, 'v', md5(CAST(text AS BINARY))))),
                 x -> x.v)) AS BINARY))
        FROM {view}
        UNION ALL
        SELECT 'source', count(*), CAST(0 AS BIGINT),
               sum(octet_length(source)),
               md5(CAST(concat_ws(',', transform(
                 array_sort(collect_list(named_struct(
                   'k', doc_id, 'v', md5(CAST(source AS BINARY))))),
                 x -> x.v)) AS BINARY))
        FROM {view}
    """


@register(
    "scan_parquet_own_writer_roundtrip",
    oracle=_AUDIT_ORACLE,
    tags=("scan", "formats", "codec", "wire", "staged"),
    doc="From-spec parquet WRITE certified by Spark's OWN JVM reader: the "
    "fixture file is assembled byte-by-byte by this repo's writer "
    "(Thrift compact footer, three row groups, PLAIN + PLAIN_DICTIONARY "
    "pages, hybrid-RLE definition levels, GZIP pages through the repo's "
    "own from-spec DEFLATE encoder, literal-run SNAPPY, UNCOMPRESSED) "
    "and the entry is a PURE-JVM plan over those bytes — one parquet "
    "scan + two-phase aggregate, zero Python — whose per-column audit "
    "must equal the DuckDB view of the source table. Tests add three "
    "more independent readers (DuckDB, pyarrow, and the repo's own "
    "from-spec parquet_column_read) over the same bytes. Scale: the "
    "writer is the per-task sink shape (one file per partition); the "
    "read side is a plain columnar scan with predicate/projection "
    "pushdown available like any parquet.",
)
def scan_parquet_own_writer_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    path = _stage_own_parquet(spark, sf_dir)
    df = spark.read.parquet(f"{path}/own_writer.parquet")
    df.createOrReplaceTempView("own_writer_docs")
    return spark.sql(_audit_sql("own_writer_docs"))


# ---------------------------------------------------------------------------
# DataPageV2 + DELTA encodings (the modern layout the reader gained in
# round 12's first wave — now emitted by the writer too)
# ---------------------------------------------------------------------------


def delta_binary_packed_encode(vals: list[int]) -> bytes:
    """DELTA_BINARY_PACKED encode (parquet Encodings.md): block 128 /
    4 miniblocks of 32, ULEB128 header, zigzag first value and min
    deltas, LSB-first bit packing, trailing miniblocks width-byte-only."""
    out = bytearray()
    out += write_uvarint(128)
    out += write_uvarint(4)
    out += write_uvarint(len(vals))
    out += write_uvarint(zigzag(vals[0] if vals else 0))
    deltas = [b - a for a, b in zip(vals, vals[1:])]
    for bstart in range(0, len(deltas), 128):
        block = deltas[bstart : bstart + 128]
        min_d = min(block)
        out += write_uvarint(zigzag(min_d))
        adj = [d - min_d for d in block]
        widths = []
        bodies = []
        for m in range(4):
            mini = adj[m * 32 : (m + 1) * 32]
            if not mini:
                widths.append(0)
                bodies.append(b"")  # width byte present, body omitted
                continue
            w = max(v.bit_length() for v in mini) if any(mini) else 0
            widths.append(w)
            if w == 0:
                bodies.append(b"")
                continue
            acc = 0
            full = mini + [0] * (32 - len(mini))  # pad partial miniblock
            for k, v in enumerate(full):
                acc |= v << (k * w)
            bodies.append(acc.to_bytes(32 * w // 8, "little"))
        out += bytes(widths)
        # trailing miniblocks with no remaining values carry no body —
        # but PARTIAL miniblocks do carry a full-width body (padded)
        for m in range(4):
            if adj[m * 32 : (m + 1) * 32]:
                out += bodies[m]
    _hit("enc_delta_bp")
    return bytes(out)


def delta_length_byte_array_encode(vals: list[bytes]) -> bytes:
    """DELTA_LENGTH_BYTE_ARRAY: delta-packed lengths, then the bytes."""
    _hit("enc_delta_len_ba")
    return delta_binary_packed_encode(
        [len(v) for v in vals]
    ) + b"".join(vals)


def _data_page_v2(
    values_payload: bytes, def_levels: list[int] | None, num_rows: int,
    encoding: int, codec: int,
) -> tuple[bytes, int, int]:
    """DataPageV2: definition levels uncompressed with their length in the
    header (no 4-byte prefix), data section compressed separately.
    Returns (page_bytes, unc_total_with_header, num_values)."""
    if def_levels is not None:
        dl = rle_hybrid_encode(def_levels, 1)
        num_values = len(def_levels)
        num_nulls = sum(1 for d in def_levels if d == 0)
    else:
        dl = b""
        num_values = num_rows
        num_nulls = 0
    comp = _CODEC_FN[codec](values_payload)
    is_compressed = codec != 0
    inner = tc_struct([
        (1, CT_I32, write_uvarint(zigzag(num_values))),
        (2, CT_I32, write_uvarint(zigzag(num_nulls))),
        (3, CT_I32, write_uvarint(zigzag(num_rows))),
        (4, CT_I32, write_uvarint(zigzag(encoding))),
        (5, CT_I32, write_uvarint(zigzag(len(dl)))),
        (6, CT_I32, write_uvarint(zigzag(0))),  # repetition levels: flat schema
        (7, CT_TRUE if is_compressed else CT_FALSE, b""),
    ])
    unc = len(dl) + len(values_payload)
    hdr = _page_header(3, unc, len(dl) + len(comp), 8, inner)
    _hit("page_v2")
    return hdr + dl + comp, len(hdr) + unc, num_values


def parquet_write_documents_v2(rows: list[tuple]) -> bytes:
    """The modern-layout sibling of parquet_write_documents: DataPageV2
    pages throughout — doc_id DELTA_BINARY_PACKED uncompressed;
    n_chars_gap PLAIN + def levels, GZIP via the repo's own DEFLATE;
    text DELTA_LENGTH_BYTE_ARRAY SNAPPY; source DELTA_BYTE_ARRAY-free
    PLAIN SNAPPY. Two row groups."""
    out = bytearray(b"PAR1")
    n = len(rows)
    bounds = [0, n // 2, n] if n >= 2 else [0, n]
    rg_structs = []
    _ENC_DELTA_BP, _ENC_DELTA_LEN = 5, 6
    for g in range(len(bounds) - 1):
        grp = rows[bounds[g] : bounds[g + 1]]
        num = len(grp)
        chunks = []
        # doc_id: DELTA_BINARY_PACKED, uncompressed
        payload = delta_binary_packed_encode([r[0] for r in grp])
        off = len(out)
        page, unc, nv = _data_page_v2(payload, None, num, _ENC_DELTA_BP, 0)
        out += page
        chunks.append((_TYPE_INT64, [_ENC_DELTA_BP, _ENC_RLE], "doc_id",
                       0, nv, unc, len(page), off, None))
        # n_chars_gap: PLAIN + def levels, own-deflate GZIP
        defs = [0 if r[1] is None else 1 for r in grp]
        payload = _plain_int64([r[1] for r in grp if r[1] is not None])
        off = len(out)
        page, unc, nv = _data_page_v2(payload, defs, num, _ENC_PLAIN, 2)
        out += page
        chunks.append((_TYPE_INT64, [_ENC_PLAIN, _ENC_RLE], "n_chars_gap",
                       2, nv, unc, len(page), off, None))
        # text: DELTA_LENGTH_BYTE_ARRAY, SNAPPY
        payload = delta_length_byte_array_encode(
            [r[2].encode() for r in grp])
        off = len(out)
        page, unc, nv = _data_page_v2(payload, None, num, _ENC_DELTA_LEN, 1)
        out += page
        chunks.append((_TYPE_BYTE_ARRAY, [_ENC_DELTA_LEN, _ENC_RLE],
                       "text", 1, nv, unc, len(page), off, None))
        # source: PLAIN, SNAPPY
        payload = _plain_byte_array([r[3].encode() for r in grp])
        off = len(out)
        page, unc, nv = _data_page_v2(payload, None, num, _ENC_PLAIN, 1)
        out += page
        chunks.append((_TYPE_BYTE_ARRAY, [_ENC_PLAIN, _ENC_RLE], "source",
                       1, nv, unc, len(page), off, None))
        col_structs = []
        total = 0
        for (phys, encs, path, codec, nv, unc, comp, doff, dictoff) in chunks:
            total += comp
            meta = _column_meta(
                phys, encs, path, codec, nv, unc, comp, doff, dictoff
            )
            col_structs.append(tc_struct([
                (2, CT_I64, write_uvarint(zigzag(doff))),
                (3, CT_STRUCT, meta),
            ]))
        rg_structs.append(tc_struct([
            (1, CT_LIST, tc_list(CT_STRUCT, col_structs)),
            (2, CT_I64, write_uvarint(zigzag(total))),
            (3, CT_I64, write_uvarint(zigzag(num))),
        ]))
    schema = [tc_struct([
        (4, CT_BINARY, tc_binary(b"spark_schema")),
        (5, CT_I32, write_uvarint(zigzag(4))),
    ])]
    for name, phys, rep, utf8 in (
        ("doc_id", _TYPE_INT64, 0, False),
        ("n_chars_gap", _TYPE_INT64, 1, False),
        ("text", _TYPE_BYTE_ARRAY, 0, True),
        ("source", _TYPE_BYTE_ARRAY, 0, True),
    ):
        fields = [
            (1, CT_I32, write_uvarint(zigzag(phys))),
            (3, CT_I32, write_uvarint(zigzag(rep))),
            (4, CT_BINARY, tc_binary(name.encode())),
        ]
        if utf8:
            fields.append((6, CT_I32, write_uvarint(zigzag(0))))
        schema.append(tc_struct(fields))
    footer = tc_struct([
        (1, CT_I32, write_uvarint(zigzag(2))),  # version 2
        (2, CT_LIST, tc_list(CT_STRUCT, schema)),
        (3, CT_I64, write_uvarint(zigzag(n))),
        (4, CT_LIST, tc_list(CT_STRUCT, rg_structs)),
        (6, CT_BINARY, tc_binary(b"flock_spark from-spec writer v2")),
    ])
    out += footer
    out += len(footer).to_bytes(4, "little")
    out += b"PAR1"
    return bytes(out)


def _stage_own_parquet_v2(spark: SparkSession, sf_dir: str) -> str:
    def write_fixture(tmp: str) -> None:
        import os

        rows = [
            (r.doc_id, None if r.doc_id % 7 == 0 else r.n_chars,
             r.text, r.source)
            for r in (
                spark.read.parquet(f"{sf_dir}/documents.parquet")
                .selectExpr("doc_id", "n_chars", "text", "source")
                .orderBy("doc_id")
                .collect()  # bounded: N_DOCS rows (5k at sf0.1)
            )
        ]
        data = parquet_write_documents_v2(rows)
        # adversarial gates: pyarrow and our own reader replay every value
        import io

        import pyarrow.parquet as pq

        t = pq.read_table(io.BytesIO(data))
        got = list(zip(*(t.column(c).to_pylist()
                         for c in ("doc_id", "n_chars_gap",
                                   "text", "source"))))
        if got != rows:
            raise ValueError("pyarrow disagrees with v2 writer")
        from flock_spark.operators.formats import parquet_column_read

        own = list(zip(*(parquet_column_read(data, i) for i in range(4))))
        if own != rows:
            raise ValueError("own reader disagrees with v2 writer")
        with open(os.path.join(tmp, "own_writer_v2.parquet"), "wb") as f:
            f.write(data)

    return stage_once(
        f"own_parquet_v2_{sf_dir}", "v1-2rg-delta-v2", write_fixture
    )


@register(
    "scan_parquet_own_writer_v2_roundtrip",
    oracle=_AUDIT_ORACLE,
    tags=("scan", "formats", "codec", "wire", "staged"),
    doc="From-spec parquet DataPageV2 WRITE certified by Spark's JVM "
    "reader — the modern-layout sibling of "
    "scan_parquet_own_writer_roundtrip: V2 pages throughout (definition "
    "levels uncompressed with header-carried lengths, data sections "
    "compressed separately), DELTA_BINARY_PACKED integers (block 128 / "
    "4x32 miniblocks, zigzag header, LSB-first packing, padded partial "
    "miniblocks, width-byte-only trailing miniblocks), "
    "DELTA_LENGTH_BYTE_ARRAY strings, GZIP via the repo's own DEFLATE "
    "encoder and literal-run SNAPPY. Staging gates the bytes on pyarrow "
    "AND the repo's own from-spec reader; the entry is a pure-JVM plan "
    "over the staged file; tests add DuckDB as the fourth reader. "
    "Scale: identical to the v1 entry — per-task sink shape, "
    "vectorized columnar scan with pushdown on the read side.",
)
def scan_parquet_own_writer_v2_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    path = _stage_own_parquet_v2(spark, sf_dir)
    df = spark.read.parquet(f"{path}/own_writer_v2.parquet")
    df.createOrReplaceTempView("own_writer_v2_docs")
    return spark.sql(_audit_sql("own_writer_v2_docs"))
