"""From-spec Arrow IPC STREAM reader — the reference's inter-function wire
format: every payload the reference ships between cloud functions is an
Arrow Flight IPC stream (/root/reference/flock/src/runtime/payload.rs:119-128
builds flight data; transmute.rs:161-192 reassembles record batches from
it). Spark subsumes the transport itself, so the from-scratch value here is
the FORMAT layer: walking the actual bytes — encapsulated message envelopes,
flatbuffers metadata (parsed by a minimal from-spec flatbuffers walker, no
`flatbuffers` library anywhere), Schema/DictionaryBatch/RecordBatch headers,
FieldNode/Buffer descriptors, validity bitmaps, offset+data buffers and
dictionary index resolution — and certifying the decoded VALUES against the
engine that wrote them.

Public specifications implemented here: the flatbuffers binary format
(google/flatbuffers internals documentation) and the Arrow columnar IPC
format (arrow/format/Message.fbs, Schema.fbs; the 'IPC Streaming Format'
section of the Arrow columnar spec). The fixture bytes are written ONCE by
the REAL pyarrow IPC writer — the decode path never touches pyarrow.
"""

from __future__ import annotations

import hashlib
import struct
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from flock_spark.operators.digests import _AUDIT_ORACLE, column_audit
from flock_spark.registry import register
from flock_spark.staging import stage_once

# ---------------------------------------------------------------------------
# Minimal flatbuffers walker (from the public binary-format description):
# tables hold a signed soffset to their vtable; the vtable lists per-field
# uint16 offsets into the table (0 = field absent / default).
# ---------------------------------------------------------------------------


class FBTable:
    def __init__(self, buf: bytes, pos: int):
        self.buf = buf
        self.pos = pos
        soffset = struct.unpack_from("<i", buf, pos)[0]
        self.vt = pos - soffset
        self.vt_size = struct.unpack_from("<H", buf, self.vt)[0]

    def _field_off(self, fid: int) -> int:
        """Byte offset of field ``fid`` inside the table, 0 if absent."""
        slot = 4 + 2 * fid
        if slot >= self.vt_size:
            return 0
        return struct.unpack_from("<H", buf := self.buf, self.vt + slot)[0]  # noqa: F841

    def scalar(self, fid: int, fmt: str, default):
        off = self._field_off(fid)
        if off == 0:
            return default
        return struct.unpack_from(f"<{fmt}", self.buf, self.pos + off)[0]

    def _indirect(self, fid: int) -> int | None:
        off = self._field_off(fid)
        if off == 0:
            return None
        p = self.pos + off
        return p + struct.unpack_from("<I", self.buf, p)[0]

    def string(self, fid: int) -> str | None:
        p = self._indirect(fid)
        if p is None:
            return None
        n = struct.unpack_from("<I", self.buf, p)[0]
        return self.buf[p + 4 : p + 4 + n].decode("utf-8")

    def table(self, fid: int) -> "FBTable | None":
        p = self._indirect(fid)
        return None if p is None else FBTable(self.buf, p)

    def vector_tables(self, fid: int) -> list["FBTable"]:
        p = self._indirect(fid)
        if p is None:
            return []
        n = struct.unpack_from("<I", self.buf, p)[0]
        out = []
        for i in range(n):
            q = p + 4 + 4 * i
            out.append(FBTable(self.buf, q + struct.unpack_from("<I", self.buf, q)[0]))
        return out

    def vector_structs(self, fid: int, size: int) -> list[int]:
        """Positions of ``size``-byte inline structs."""
        p = self._indirect(fid)
        if p is None:
            return []
        n = struct.unpack_from("<I", self.buf, p)[0]
        return [p + 4 + size * i for i in range(n)]


def fb_root(buf: bytes) -> FBTable:
    return FBTable(buf, struct.unpack_from("<I", buf, 0)[0])


# Arrow enum values (Message.fbs / Schema.fbs — public .fbs schemas).
_HDR_SCHEMA, _HDR_DICT, _HDR_BATCH = 1, 2, 3
_T_INT, _T_FLOAT, _T_UTF8, _T_BOOL = 2, 3, 5, 6


def _parse_field(f: FBTable) -> dict:
    ttype = f.scalar(2, "B", 0)
    tt = f.table(3)
    if ttype == _T_INT:
        bw = tt.scalar(0, "i", 0)
        signed = bool(tt.scalar(1, "?", False))
        typ = f"int{bw}" if signed else f"uint{bw}"
    elif ttype == _T_FLOAT:
        typ = {0: "float16", 1: "float32", 2: "float64"}[tt.scalar(0, "h", 0)]
    elif ttype == _T_UTF8:
        typ = "utf8"
    elif ttype == _T_BOOL:
        typ = "bool"
    else:
        raise ValueError(f"unsupported Arrow type id {ttype}")
    field = {
        "name": f.string(0),
        "nullable": bool(f.scalar(1, "?", False)),
        "type": typ,
        "dict_id": None,
        "index_type": None,
    }
    enc = f.table(4)  # DictionaryEncoding
    if enc is not None:
        field["dict_id"] = enc.scalar(0, "q", 0)
        it = enc.table(1)  # index Int table
        bw = 32 if it is None else it.scalar(0, "i", 32)
        if not (it is None or it.scalar(1, "?", True)):
            raise ValueError("unsigned dictionary indices not supported")
        field["index_type"] = f"int{bw}"
    if f.vector_tables(5):
        raise ValueError("nested fields not supported")
    return field


def _bitmap_get(buf: bytes, i: int) -> bool:
    return bool(buf[i >> 3] & (1 << (i & 7)))


_INT_FMT = {"int8": "b", "int16": "h", "int32": "i", "int64": "q",
            "uint8": "B", "uint16": "H", "uint32": "I", "uint64": "Q"}


def _decode_column(
    typ: str, body: bytes, n: int, null_count: int, bufs: list[tuple[int, int]]
) -> tuple[list, list[tuple[int, int]]]:
    """Decode one column's values from the body using (and consuming) its
    buffers: validity + data for fixed-width/bool, validity + offsets +
    data for utf8. Returns (values, remaining_buffers)."""
    voff, vlen = bufs[0]
    validity = body[voff : voff + vlen]

    def is_valid(i: int) -> bool:
        if null_count == 0 or vlen == 0:
            return True
        return _bitmap_get(validity, i)

    if typ in _INT_FMT or typ in ("float32", "float64"):
        fmt = _INT_FMT.get(typ) or {"float32": "f", "float64": "d"}[typ]
        width = struct.calcsize(fmt)
        doff, dlen = bufs[1]
        if dlen < n * width:
            raise ValueError(f"{typ} data buffer too small")
        vals = struct.unpack_from(f"<{n}{fmt}", body, doff)
        return [v if is_valid(i) else None for i, v in enumerate(vals)], bufs[2:]
    if typ == "bool":
        doff, dlen = bufs[1]
        data = body[doff : doff + dlen]
        return (
            [_bitmap_get(data, i) if is_valid(i) else None for i in range(n)],
            bufs[2:],
        )
    if typ == "utf8":
        ooff, olen = bufs[1]
        if olen < 4 * (n + 1):
            raise ValueError("utf8 offsets buffer too small")
        offs = struct.unpack_from(f"<{n + 1}i", body, ooff)
        doff, _dlen = bufs[2]
        out = []
        for i in range(n):
            if not is_valid(i):
                out.append(None)
                continue
            if offs[i + 1] < offs[i]:
                raise ValueError("utf8 offsets not monotone")
            out.append(body[doff + offs[i] : doff + offs[i + 1]].decode("utf-8"))
        return out, bufs[3:]
    raise ValueError(f"unsupported column type {typ}")


def arrow_ipc_stream_read(data: bytes) -> tuple[list[dict], dict[str, list]]:
    """Walk a complete Arrow IPC stream: Schema message, dictionary
    batches, record batches, end-of-stream marker. Returns (fields,
    columns name->values in stream order) with dictionary-encoded columns
    resolved through their DictionaryBatch payloads. ValueError on any
    framing violation."""
    pos = 0
    fields: list[dict] | None = None
    dictionaries: dict[int, list] = {}
    columns: dict[str, list] = {}
    saw_eos = False
    while pos < len(data):
        cont = struct.unpack_from("<I", data, pos)[0]
        if cont != 0xFFFFFFFF:
            raise ValueError(f"missing continuation marker at {pos}")
        msize = struct.unpack_from("<i", data, pos + 4)[0]
        pos += 8
        if msize == 0:
            saw_eos = True
            break
        meta = data[pos : pos + msize]
        if len(meta) < msize:
            raise ValueError("truncated message metadata")
        pos += msize
        msg = fb_root(meta)
        htype = msg.scalar(1, "B", 0)
        body_len = msg.scalar(3, "q", 0)
        body = data[pos : pos + body_len]
        if len(body) < body_len:
            raise ValueError("truncated message body")
        pos += body_len
        if pos % 8:  # bodies are 8-byte padded in the stream
            pos += 8 - pos % 8
        if htype == _HDR_SCHEMA:
            if fields is not None:
                raise ValueError("second Schema message in stream")
            fields = [_parse_field(f) for f in msg.table(2).vector_tables(1)]
            columns = {f["name"]: [] for f in fields}
        elif htype == _HDR_DICT:
            if fields is None:
                raise ValueError("DictionaryBatch before Schema")
            dic = msg.table(2)
            did = dic.scalar(0, "q", 0)
            if dic.scalar(2, "?", False):
                raise ValueError("delta dictionaries not supported")
            rb = dic.table(1)
            src = next(f for f in fields if f["dict_id"] == did)
            vals = _decode_record_batch(rb, body, [src["type"]])
            dictionaries[did] = vals[0]
        elif htype == _HDR_BATCH:
            if fields is None:
                raise ValueError("RecordBatch before Schema")
            types = [
                f["index_type"] if f["dict_id"] is not None else f["type"]
                for f in fields
            ]
            cols = _decode_record_batch(msg.table(2), body, types)
            for f, vals in zip(fields, cols):
                if f["dict_id"] is not None:
                    d = dictionaries.get(f["dict_id"])
                    if d is None:
                        raise ValueError("record batch before its dictionary")
                    vals = [None if i is None else d[i] for i in vals]
                columns[f["name"]].extend(vals)
        else:
            raise ValueError(f"unsupported message header type {htype}")
    if fields is None:
        raise ValueError("stream carried no Schema message")
    if not saw_eos:
        raise ValueError("stream missing end-of-stream marker")
    return fields, columns


def _decode_record_batch(
    rb: FBTable, body: bytes, types: list[str]
) -> list[list]:
    length = rb.scalar(0, "q", 0)
    if rb.table(3) is not None:
        raise ValueError("compressed IPC bodies not supported")
    nodes = rb.vector_structs(1, 16)
    bufs_pos = rb.vector_structs(2, 16)
    bufs = [struct.unpack_from("<qq", rb.buf, p) for p in bufs_pos]
    if len(nodes) != len(types):
        raise ValueError(
            f"record batch has {len(nodes)} nodes, schema has {len(types)}"
        )
    out = []
    remaining = bufs
    for node_pos, typ in zip(nodes, types):
        n, null_count = struct.unpack_from("<qq", rb.buf, node_pos)
        if n != length:
            raise ValueError("field node length disagrees with batch length")
        vals, remaining = _decode_column(typ, body, n, null_count, remaining)
        out.append(vals)
    if remaining:
        raise ValueError(f"{len(remaining)} unconsumed buffers in batch")
    return out


# ---------------------------------------------------------------------------
# Staged fixture + registry entry
# ---------------------------------------------------------------------------


def _stage_arrows(sf_dir: str) -> str:
    """Write (once per sf_dir) the documents table as a REAL pyarrow IPC
    stream: doc_id int64, n_chars_gap int64 nullable (every 7th doc null —
    exercises validity bitmaps), text utf8, source dictionary-encoded
    (exercises DictionaryBatch resolution); several record batches."""

    def write_fixture(tmp: str) -> None:
        import os

        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.ipc as ipc
        import pyarrow.parquet as pq

        t = pq.read_table(
            f"{sf_dir}/documents.parquet",
            columns=["doc_id", "n_chars", "text", "source"],
        ).sort_by("doc_id")
        mask = pa.array(t["doc_id"].to_numpy() % 7 == 0)
        gap = pc.if_else(mask, pa.nulls(t.num_rows, pa.int64()), t["n_chars"])
        out = pa.table(
            {
                "doc_id": t["doc_id"],
                "n_chars_gap": gap,
                "text": t["text"],
                "source": t["source"].combine_chunks().dictionary_encode(),
            }
        )
        with ipc.new_stream(
            os.path.join(tmp, "documents.arrows"), out.schema
        ) as w:
            for batch in out.to_batches(max_chunksize=max(64, t.num_rows // 6)):
                w.write_batch(batch)

    return stage_once(f"arrow_ipc_{sf_dir}", "v1-dict-gap7-b6", write_fixture)


@register(
    "scan_arrow_ipc_stream_walk",
    oracle=_AUDIT_ORACLE,
    tags=("scan", "formats", "wire", "pandas_udf", "staged"),
    doc="From-spec Arrow IPC STREAM walk — the reference's actual "
    "function-to-function wire format (payload.rs:119-128 ships record "
    "batches as Arrow Flight IPC; transmute.rs:161-192 reassembles "
    "them): the documents table is staged ONCE as a real pyarrow "
    ".arrows stream (multiple record batches, a nullable column with "
    "every-7th-row gaps, a dictionary-encoded source column) and the "
    "entry decodes the staged BYTES it did not write: encapsulated "
    "message envelopes (continuation marker, metadata size, 8-byte "
    "body padding, end-of-stream), flatbuffers metadata via a minimal "
    "from-spec vtable walker (no flatbuffers library), Schema field/"
    "type parsing, DictionaryBatch index resolution, FieldNode/Buffer "
    "descriptors, validity bitmaps, int64/utf8 buffer decode. Every "
    "column is certified VALUE BY VALUE: counts, null counts, sums "
    "(byte-length sums for strings) and the md5 over the full column "
    "in stream order, re-derived by the oracle from the documents "
    "view — nulls, dictionary round-trips and string boundaries all "
    "hash-checked. Scale: one task per file via binaryFile, O(batch) "
    "memory, no shuffle — at 100 TB this is the per-object inner loop "
    "of any Arrow-native ingest (Flight, IPC files, IPC-framed queue "
    "payloads).",
)
def scan_arrow_ipc_stream_walk(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _stage_arrows(sf_dir)
    bf = (
        spark.read.format("binaryFile")
        .load(f"{path}/documents.arrows")
        .select("content")
    )

    def walk(content: bytes) -> Iterator[tuple[str, list, bool]]:
        fields, cols = arrow_ipc_stream_read(content)
        # certify the fixture shape: the dictionary column must
        # really be dictionary-encoded, the gap column nullable
        by_name = {f["name"]: f for f in fields}
        if by_name["source"]["dict_id"] is None:
            raise ValueError("source column lost its dictionary")
        for col in ("doc_id", "n_chars_gap", "text", "source"):
            yield col, cols[col], col in ("text", "source")

    return column_audit(bf, walk)


# ---------------------------------------------------------------------------
# Arrow IPC FILE format (random access): ARROW1 magic head/tail, the stream
# content in the middle, and a Footer flatbuffer indexing every dictionary
# and record-batch block for seek-based reads.
# ---------------------------------------------------------------------------

_ARROW_MAGIC = b"ARROW1"


def _read_envelope(data: bytes, pos: int) -> tuple[FBTable, bytes]:
    """Parse one encapsulated message at ``pos``: continuation marker,
    metadata size, flatbuffer Message, body. Returns (message, body)."""
    if struct.unpack_from("<I", data, pos)[0] != 0xFFFFFFFF:
        raise ValueError(f"missing continuation marker at {pos}")
    msize = struct.unpack_from("<i", data, pos + 4)[0]
    meta = data[pos + 8 : pos + 8 + msize]
    if len(meta) < msize:
        raise ValueError("truncated message metadata")
    msg = fb_root(meta)
    body_len = msg.scalar(3, "q", 0)
    body = data[pos + 8 + msize : pos + 8 + msize + body_len]
    if len(body) < body_len:
        raise ValueError("truncated message body")
    return msg, body


def arrow_ipc_file_read(
    data: bytes,
) -> tuple[list[dict], dict[str, list], list[tuple[int, int, int]]]:
    """Walk an Arrow IPC FILE through its FOOTER (never sequentially):
    verify both magics, read the footer flatbuffer (schema + Block index),
    resolve dictionary blocks, then decode every record-batch block by
    seeking to its indexed offset. Returns (fields, columns, record-batch
    blocks as (offset, meta_len, body_len))."""
    if data[:6] != _ARROW_MAGIC or data[-6:] != _ARROW_MAGIC:
        raise ValueError("missing ARROW1 magic")
    flen = struct.unpack_from("<i", data, len(data) - 10)[0]
    fstart = len(data) - 10 - flen
    if fstart < 8:
        raise ValueError("footer length exceeds file")
    footer = fb_root(data[fstart : fstart + flen])
    schema_tbl = footer.table(1)
    if schema_tbl is None:
        raise ValueError("footer carries no schema")
    fields = [_parse_field(f) for f in schema_tbl.vector_tables(1)]

    def blocks(fid: int) -> list[tuple[int, int, int]]:
        out = []
        for p in footer.vector_structs(fid, 24):
            off, mlen, blen = struct.unpack_from("<qiq", footer.buf, p)
            out.append((off, mlen, blen))
        return out

    dictionaries: dict[int, list] = {}
    for off, _mlen, _blen in blocks(2):
        msg, body = _read_envelope(data, off)
        if msg.scalar(1, "B", 0) != _HDR_DICT:
            raise ValueError("dictionary block points at a non-dictionary")
        dic = msg.table(2)
        did = dic.scalar(0, "q", 0)
        src = next(f for f in fields if f["dict_id"] == did)
        dictionaries[did] = _decode_record_batch(
            dic.table(1), body, [src["type"]]
        )[0]
    columns: dict[str, list] = {f["name"]: [] for f in fields}
    rb_blocks = blocks(3)
    if not rb_blocks:
        raise ValueError("footer indexes no record batches")
    for off, _mlen, _blen in rb_blocks:
        msg, body = _read_envelope(data, off)
        if msg.scalar(1, "B", 0) != _HDR_BATCH:
            raise ValueError("record-batch block points elsewhere")
        types = [
            f["index_type"] if f["dict_id"] is not None else f["type"]
            for f in fields
        ]
        cols = _decode_record_batch(msg.table(2), body, types)
        for f, vals in zip(fields, cols):
            if f["dict_id"] is not None:
                d = dictionaries[f["dict_id"]]
                vals = [None if i is None else d[i] for i in vals]
            columns[f["name"]].extend(vals)
    return fields, columns, rb_blocks


def _stage_arrow_file(sf_dir: str) -> str:
    """Write (once per sf_dir) the same table shape as the stream fixture
    as a random-access .arrow FILE (Feather V2 container)."""

    def write_fixture(tmp: str) -> None:
        import os

        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.ipc as ipc
        import pyarrow.parquet as pq

        t = pq.read_table(
            f"{sf_dir}/documents.parquet",
            columns=["doc_id", "n_chars", "text", "source"],
        ).sort_by("doc_id")
        mask = pa.array(t["doc_id"].to_numpy() % 7 == 0)
        gap = pc.if_else(mask, pa.nulls(t.num_rows, pa.int64()), t["n_chars"])
        out = pa.table(
            {
                "doc_id": t["doc_id"],
                "n_chars_gap": gap,
                "text": t["text"],
                "source": t["source"].combine_chunks().dictionary_encode(),
            }
        )
        with ipc.new_file(
            os.path.join(tmp, "documents.arrow"), out.schema
        ) as w:
            for batch in out.to_batches(max_chunksize=max(64, t.num_rows // 6)):
                w.write_batch(batch)

    return stage_once(f"arrow_file_{sf_dir}", "v1-dict-gap7-b6", write_fixture)


@register(
    "scan_arrow_ipc_file_walk",
    oracle="""
    WITH n AS (SELECT count(*) AS n FROM documents),
    k AS (SELECT greatest(64, n // 6) AS k, n FROM n),
    tail AS (
      SELECT d.doc_id
      FROM documents d, k
      WHERE (SELECT count(*) FROM documents d2 WHERE d2.doc_id < d.doc_id)
            >= k.k * CAST(ceil(CAST(k.n AS DOUBLE) / k.k) - 1 AS BIGINT))
    SELECT 'doc_id' AS col_name,
           CAST(count(*) AS BIGINT) AS n_values,
           CAST(0 AS BIGINT) AS n_nulls,
           CAST(sum(doc_id) AS BIGINT) AS sum_v,
           md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id))
             AS values_md5
    FROM documents
    UNION ALL
    SELECT 'n_chars_gap', CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT),
           CAST(sum(CASE WHEN doc_id % 7 = 0 THEN 0 ELSE n_chars END)
                AS BIGINT),
           md5(string_agg(
             CASE WHEN doc_id % 7 = 0 THEN 'null'
                  ELSE CAST(n_chars AS VARCHAR) END, ',' ORDER BY doc_id))
    FROM documents
    UNION ALL
    SELECT 'source', CAST(count(*) AS BIGINT), CAST(0 AS BIGINT),
           CAST(sum(octet_length(encode(source))) AS BIGINT),
           md5(string_agg(md5(source), ',' ORDER BY doc_id))
    FROM documents
    UNION ALL
    SELECT 'doc_id_last_block', CAST(count(*) AS BIGINT), CAST(0 AS BIGINT),
           CAST(sum(doc_id) AS BIGINT),
           md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id))
    FROM tail
    """,
    tags=("scan", "formats", "wire", "pandas_udf", "staged"),
    doc="Arrow IPC FILE (random-access / Feather V2) walk — the sibling of "
    "scan_arrow_ipc_stream_walk for at-rest Arrow data: both ARROW1 "
    "magics verified, the Footer flatbuffer parsed from the tail "
    "(version, schema, Block index structs of offset/metaLength/"
    "bodyLength), dictionary blocks resolved by SEEK, then every "
    "record-batch block decoded at its indexed offset — never a "
    "sequential scan. The 'doc_id_last_block' row re-decodes ONLY the "
    "footer's final block, and the oracle independently predicts which "
    "rows that block holds from the writer's chunking arithmetic "
    "(greatest(64, n//6) rows per batch) — a wrong Block index, a "
    "wrong offset, or accidental sequential reading all mismatch. "
    "Scale: the footer-first read is exactly how a 100 TB lakehouse "
    "scans Arrow files — O(footer) metadata then only the blocks a "
    "predicate needs; one task per file, no shuffle.",
)
def scan_arrow_ipc_file_walk(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _stage_arrow_file(sf_dir)
    bf = (
        spark.read.format("binaryFile")
        .load(f"{path}/documents.arrow")
        .select("content")
    )

    def walk(data: bytes) -> Iterator[tuple[str, list, bool]]:
        fields, cols, rb_blocks = arrow_ipc_file_read(data)
        yield "doc_id", cols["doc_id"], False
        yield "n_chars_gap", cols["n_chars_gap"], False
        yield "source", cols["source"], True
        # random access: decode ONLY the footer's last block
        off, _m, _b = rb_blocks[-1]
        msg, body = _read_envelope(data, off)
        types = [
            f["index_type"] if f["dict_id"] is not None else f["type"]
            for f in fields
        ]
        last = _decode_record_batch(msg.table(2), body, types)
        yield "doc_id_last_block", last[0], False

    return column_audit(bf, walk)


# ---------------------------------------------------------------------------
# Arrow IPC stream WRITER — the reverse direction: a from-scratch
# FLATBUFFERS BUILDER (the official prepend/vtable algorithm: buffers grow
# front-ward, offsets measured from the end, vtables emitted per table with
# patched soffsets) assembles Message/Schema/Field/RecordBatch metadata,
# and the envelope/body layout (continuation marker, 8-padded metadata,
# 8-aligned body buffers, end-of-stream marker) comes straight from the
# IPC spec. Certified by the REAL pyarrow reader + this module's own
# reader (tests + staging gate of the encode entry).
# ---------------------------------------------------------------------------


class FBBuilder:
    """Minimal flatbuffers builder (prepend model). ``offset()`` values are
    measured from the END of the final buffer, exactly like the official
    builders; ``finish`` prepends the root uoffset."""

    def __init__(self) -> None:
        self.buf = bytearray()
        self._fields: list[tuple[int, int]] | None = None
        self._object_start = 0
        self._minalign = 1

    def offset(self) -> int:
        return len(self.buf)

    def _prep(self, size: int, additional: int = 0) -> None:
        self._minalign = max(self._minalign, size)
        while (len(self.buf) + additional) % size:
            self.buf[:0] = b"\x00"

    def push(self, fmt: str, v) -> None:
        self._prep(struct.calcsize(fmt))
        self.buf[:0] = struct.pack(f"<{fmt}", v)

    def prepend_uoffset(self, off: int) -> None:
        self._prep(4)
        if off > self.offset():
            raise ValueError("flatbuffers: forward reference")
        self.buf[:0] = struct.pack("<I", self.offset() - off + 4)

    def create_string(self, s: str) -> int:
        raw = s.encode("utf-8") + b"\x00"
        self._prep(4, len(raw))
        self.buf[:0] = raw
        self.push("I", len(raw) - 1)
        return self.offset()

    def create_offset_vector(self, offs: list[int]) -> int:
        self._prep(4, 4 * len(offs))
        for off in reversed(offs):
            self.prepend_uoffset(off)
        self.push("I", len(offs))
        return self.offset()

    def create_struct_vector(
        self, fmt: str, structs: list[tuple], align: int
    ) -> int:
        size = struct.calcsize(f"<{fmt}")
        self._prep(4, size * len(structs))
        self._prep(align, size * len(structs))
        for st in reversed(structs):
            self.buf[:0] = struct.pack(f"<{fmt}", *st)
        self.push("I", len(structs))
        return self.offset()

    def start_table(self) -> None:
        self._fields = []
        self._object_start = self.offset()

    def slot_scalar(self, fid: int, fmt: str, v, default=None) -> None:
        if default is not None and v == default:
            return
        self.push(fmt, v)
        self._fields.append((fid, self.offset()))

    def slot_offset(self, fid: int, off: int | None) -> None:
        if off is None:
            return
        self.prepend_uoffset(off)
        self._fields.append((fid, self.offset()))

    def end_table(self) -> int:
        self.push("i", 0)  # soffset placeholder
        object_offset = self.offset()
        max_fid = max((fid for fid, _ in self._fields), default=-1)
        slots = [0] * (max_fid + 1)
        for fid, foff in self._fields:
            slots[fid] = object_offset - foff
        vt_len = 4 + 2 * len(slots)
        for s in reversed(slots):
            self.push("H", s)
        self.push("H", object_offset - self._object_start)
        self.push("H", vt_len)
        vtable_offset = self.offset()
        struct.pack_into(
            "<i", self.buf, len(self.buf) - object_offset,
            vtable_offset - object_offset,
        )
        self._fields = None
        return object_offset

    def finish(self, root: int) -> bytes:
        # official Finish(): pad so the whole buffer (root uoffset
        # included) lands on minalign — offsets are end-relative, so
        # absolute scalar alignment holds only when total length does
        self._prep(self._minalign, 4)
        self.prepend_uoffset(root)
        return bytes(self.buf)


def _fb_field(b: FBBuilder, name: str, typ: str, nullable: bool) -> int:
    name_off = b.create_string(name)
    if typ == "int64":
        b.start_table()
        b.slot_scalar(0, "i", 64)  # bitWidth
        b.slot_scalar(1, "?", True)  # is_signed
        type_off, type_id = b.end_table(), _T_INT
    elif typ == "float64":
        b.start_table()
        b.slot_scalar(0, "h", 2)  # DOUBLE precision
        type_off, type_id = b.end_table(), _T_FLOAT
    elif typ == "utf8":
        b.start_table()
        type_off, type_id = b.end_table(), _T_UTF8
    elif typ == "bool":
        b.start_table()
        type_off, type_id = b.end_table(), _T_BOOL
    else:
        raise ValueError(f"writer: unsupported type {typ}")
    b.start_table()
    b.slot_offset(0, name_off)
    b.slot_scalar(1, "?", nullable, False)
    b.slot_scalar(2, "B", type_id, 0)
    b.slot_offset(3, type_off)
    return b.end_table()


def _envelope(meta: bytes) -> bytes:
    pad = (8 - (8 + len(meta)) % 8) % 8
    meta = meta + b"\x00" * pad
    return struct.pack("<Ii", 0xFFFFFFFF, len(meta)) + meta


def _bitmap_build(flags: list[bool]) -> bytes:
    out = bytearray((len(flags) + 7) // 8)
    for i, f in enumerate(flags):
        if f:
            out[i >> 3] |= 1 << (i & 7)
    return bytes(out)


def arrow_ipc_stream_write(
    fields: list[tuple[str, str, bool]],
    columns: dict[str, list],
    batch_rows: int = 2048,
) -> bytes:
    """Write a complete Arrow IPC stream: Schema message, one RecordBatch
    per ``batch_rows`` rows (validity + offsets + data buffers, 8-byte
    aligned), end-of-stream marker. ``fields`` is [(name, type,
    nullable)] with types int64 / float64 / utf8 / bool."""
    out = bytearray()
    b = FBBuilder()
    field_offs = [_fb_field(b, n, t, nl) for n, t, nl in fields]
    fields_vec = b.create_offset_vector(field_offs)
    b.start_table()
    b.slot_offset(1, fields_vec)
    schema_off = b.end_table()
    b.start_table()
    b.slot_scalar(0, "h", 4)  # MetadataVersion V5
    b.slot_scalar(1, "B", _HDR_SCHEMA, 0)
    b.slot_offset(2, schema_off)
    msg_off = b.end_table()
    out += _envelope(b.finish(msg_off))
    n_total = len(columns[fields[0][0]])
    for start in range(0, max(n_total, 1), batch_rows):
        n = min(batch_rows, n_total - start)
        if n <= 0:
            break
        body = bytearray()
        nodes = []
        buffers = []

        def add_buffer(data: bytes) -> None:
            buffers.append((len(body), len(data)))
            body.extend(data)
            while len(body) % 8:
                body.append(0)

        for name, typ, _nullable in fields:
            vals = columns[name][start : start + n]
            nulls = sum(1 for v in vals if v is None)
            nodes.append((n, nulls))
            add_buffer(
                _bitmap_build([v is not None for v in vals]) if nulls else b""
            )
            if typ == "int64":
                add_buffer(b"".join(
                    struct.pack("<q", 0 if v is None else v) for v in vals
                ))
            elif typ == "float64":
                add_buffer(b"".join(
                    struct.pack("<d", 0.0 if v is None else v) for v in vals
                ))
            elif typ == "bool":
                add_buffer(_bitmap_build([bool(v) for v in vals]))
            elif typ == "utf8":
                offs = [0]
                data = bytearray()
                for v in vals:
                    if v is not None:
                        data.extend(v.encode("utf-8"))
                    offs.append(len(data))
                add_buffer(b"".join(struct.pack("<i", o) for o in offs))
                add_buffer(bytes(data))
        b = FBBuilder()
        nodes_vec = b.create_struct_vector("qq", nodes, 8)
        bufs_vec = b.create_struct_vector("qq", buffers, 8)
        b.start_table()
        b.slot_scalar(0, "q", n)
        b.slot_offset(1, nodes_vec)
        b.slot_offset(2, bufs_vec)
        rb_off = b.end_table()
        b.start_table()
        b.slot_scalar(0, "h", 4)
        b.slot_scalar(1, "B", _HDR_BATCH, 0)
        b.slot_offset(2, rb_off)
        b.slot_scalar(3, "q", len(body))
        msg_off = b.end_table()
        out += _envelope(b.finish(msg_off))
        out += body
    out += struct.pack("<Ii", 0xFFFFFFFF, 0)  # end-of-stream
    return bytes(out)


def _stage_arrows_own(spark: SparkSession, sf_dir: str) -> str:
    """Write (once per sf_dir) the documents audit columns as one .arrows
    stream with THIS module's writer, then have the REAL pyarrow reader
    replay every value before the fixture is accepted."""

    def write_fixture(tmp: str) -> None:
        import io
        import os

        import pyarrow as pa

        rows = (
            spark.read.parquet(f"{sf_dir}/documents.parquet")
            .selectExpr("doc_id", "n_chars", "text", "source")
            .orderBy("doc_id")
            .collect()  # bounded: N_DOCS rows (5k at sf0.1)
        )
        fields = [
            ("doc_id", "int64", False),
            ("n_chars_gap", "int64", True),
            ("text", "utf8", False),
            ("is_third", "bool", False),
        ]
        cols = {
            "doc_id": [r.doc_id for r in rows],
            "n_chars_gap": [
                None if r.doc_id % 7 == 0 else r.n_chars for r in rows
            ],
            "text": [r.text for r in rows],
            "is_third": [r.doc_id % 3 == 0 for r in rows],
        }
        data = arrow_ipc_stream_write(fields, cols, batch_rows=512)
        # adversarial gate: the REAL pyarrow reader must replay every value
        t = pa.ipc.open_stream(io.BytesIO(data)).read_all()
        for name, _typ, _n in fields:
            if t.column(name).to_pylist() != cols[name]:
                raise ValueError(f"pyarrow disagrees on column {name}")
        with open(os.path.join(tmp, "own_writer.arrows"), "wb") as f:
            f.write(data)

    return stage_once(
        f"arrows_own_{sf_dir}", "v2-4col-b512-third", write_fixture
    )


@register(
    "mm_arrow_ipc_encode_roundtrip",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(doc_id) AS BIGINT) AS doc_id_sum,
           CAST(sum(CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_gap_nulls,
           CAST(sum(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_third,
           md5(string_agg(md5(text), ',' ORDER BY doc_id)) AS text_md5
    FROM documents
    """,
    tags=("multimodal", "pandas_udf", "codec", "wire"),
    doc="Arrow IPC stream ENCODE from the spec — the reverse certification "
    "direction from scan_arrow_ipc_stream_walk, built on a FROM-SCRATCH "
    "FLATBUFFERS BUILDER (the official prepend model: end-relative "
    "offsets, per-table vtables with patched soffsets, minalign final "
    "prep — the detail pyarrow's verifier rejects when missed): Schema/"
    "Field/Int/FloatingPoint/Utf8/Bool metadata tables, multi-batch "
    "RecordBatch messages with validity bitmaps, utf8 offset buffers "
    "and 8-aligned bodies, continuation markers and the end-of-stream "
    "marker. The staged stream is verified value-by-value by the REAL "
    "pyarrow reader before acceptance (any bitstream our reading of "
    "the format assembles that the reference implementation cannot "
    "read fails staging), and the certified entry replays the bytes "
    "through this module's own reader in the UDF, facts matching the "
    "DuckDB view. Scale: per-object encode/decode, single binary "
    "scan, no shuffle — the write half of an Arrow-native wire.",
)
def mm_arrow_ipc_encode_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    path = _stage_arrows_own(spark, sf_dir)
    bf = (
        spark.read.format("binaryFile")
        .load(f"{path}/own_writer.arrows")
        .select("content")
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in batches:
            out = {"n_rows": [], "doc_id_sum": [], "n_gap_nulls": [],
                   "n_third": [], "text_md5": []}
            for content in pdf["content"]:
                _fields, cols = arrow_ipc_stream_read(bytes(content))
                out["n_rows"].append(len(cols["doc_id"]))
                out["doc_id_sum"].append(sum(cols["doc_id"]))
                out["n_gap_nulls"].append(
                    sum(1 for v in cols["n_chars_gap"] if v is None)
                )
                out["n_third"].append(sum(1 for v in cols["is_third"] if v))
                joined = ",".join(
                    hashlib.md5(t.encode()).hexdigest()
                    for t in cols["text"]
                )
                out["text_md5"].append(
                    hashlib.md5(joined.encode()).hexdigest()
                )
            yield pd.DataFrame(
                {
                    "n_rows": pd.Series(out["n_rows"], dtype="int64"),
                    "doc_id_sum": pd.Series(out["doc_id_sum"], dtype="int64"),
                    "n_gap_nulls": pd.Series(
                        out["n_gap_nulls"], dtype="int64"
                    ),
                    "n_third": pd.Series(out["n_third"], dtype="int64"),
                    "text_md5": pd.Series(out["text_md5"], dtype="object"),
                }
            )

    return bf.mapInPandas(
        run,
        schema="n_rows long, doc_id_sum long, n_gap_nulls long, "
        "n_third long, text_md5 string",
    )
