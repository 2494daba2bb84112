"""From-spec Apache ORC stripe reader over files written by Spark's own ORC
writer — the JVM reference implementation. Three public specifications
compose here, each implemented from scratch:

- the PROTOBUF WIRE FORMAT (varint tags, zigzag, length-delimited fields,
  packed repeated varints) — ORC's entire metadata layer (PostScript,
  Footer, StripeInformation, Type tree, StripeFooter, ColumnEncoding) is
  protobuf, so the walker below is certified against a real independent
  encoder on every read;
- ORC's own container format (orc.apache.org specification): PostScript
  tail walk, compressed-chunk framing (3-byte little-endian headers with
  an is-original bit), stripe index/data/footer regions, stream kinds,
  DIRECT_V2 / DICTIONARY_V2 column encodings, Byte-RLE + bit-packed
  PRESENT streams, and RLEv2 integer coding with all four sub-encodings
  (SHORT_REPEAT, DIRECT, PATCHED_BASE, DELTA — MSB-first bit packing);
- the chunk payloads themselves are ZSTD frames (Spark 4's ORC default),
  decoded by this repo's RFC 8878 decoder — zero library codecs anywhere.

Reference parity: the reference engine scans columnar files natively in its
datasource layer (flock/src/datasource/); Spark subsumes the scan, so (as
with the parquet/Arrow walks) the from-scratch value is proving the engine
understands every byte of the formats it trusts.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession

from flock_spark.operators.bitio import MsbReader, read_uvarint, unzigzag
from flock_spark.operators.digests import _AUDIT_ORACLE
from flock_spark.operators.digests import column_audit, map_rows
from flock_spark.registry import register
from flock_spark.staging import stage_once

# Sub-encoding / path counters (non-vacuity: tests assert every RLEv2
# sub-encoding and the PRESENT path actually fire on the fixtures).
STATS: dict[str, int] = {}


def _hit(key: str) -> None:
    STATS[key] = STATS.get(key, 0) + 1


# ---------------------------------------------------------------------------
# Protobuf wire format (public encoding spec)
# ---------------------------------------------------------------------------


def pb_decode(data: bytes) -> dict[int, list]:
    """One protobuf message as {field_number: [values]}: varints as ints,
    length-delimited as bytes, fixed32/64 as raw bytes. Nested messages
    and packed repeated fields stay bytes for the caller to re-decode."""
    out: dict[int, list] = {}
    pos = 0
    while pos < len(data):
        tag, pos = read_uvarint(data, pos)
        fnum, wt = tag >> 3, tag & 7
        if fnum == 0:
            raise ValueError("field number 0 is reserved")
        if wt == 0:
            v, pos = read_uvarint(data, pos)
        elif wt == 2:
            ln, pos = read_uvarint(data, pos)
            if pos + ln > len(data):
                raise ValueError("length-delimited field past end")
            v = data[pos : pos + ln]
            pos += ln
        elif wt == 1:
            v = data[pos : pos + 8]
            pos += 8
        elif wt == 5:
            v = data[pos : pos + 4]
            pos += 4
        else:
            raise ValueError(f"unsupported protobuf wire type {wt}")
        out.setdefault(fnum, []).append(v)
    return out


def pb_packed_uvarints(data: bytes) -> list[int]:
    out = []
    pos = 0
    while pos < len(data):
        v, pos = read_uvarint(data, pos)
        out.append(v)
    return out


# ---------------------------------------------------------------------------
# ORC container: compression framing, Byte-RLE / boolean streams, RLEv2
# ---------------------------------------------------------------------------


def orc_chunks_decompress(buf: bytes, kind: int) -> bytes:
    """ORC compressed-stream framing: per chunk a 3-byte little-endian
    header (length << 1 | is_original) then the payload — a ZSTD frame
    (kind 5) unless the original bit is set."""
    if kind == 0:
        return buf
    if kind != 5:
        raise ValueError(f"unsupported ORC compression kind {kind}")
    from flock_spark.operators.zstd_codec import zstd_frame_decompress

    out = bytearray()
    pos = 0
    while pos < len(buf):
        if pos + 3 > len(buf):
            raise ValueError("truncated chunk header")
        h = int.from_bytes(buf[pos : pos + 3], "little")
        pos += 3
        ln = h >> 1
        chunk = buf[pos : pos + ln]
        if len(chunk) < ln:
            raise ValueError("truncated chunk payload")
        pos += ln
        if h & 1:
            _hit("chunk_original")
            out += chunk
        else:
            _hit("chunk_zstd")
            out += zstd_frame_decompress(chunk)
    return bytes(out)


def byte_rle_decode(d: bytes) -> bytes:
    """ORC Byte-RLE: control 0..127 -> run of control+3 copies of the next
    byte; 128..255 -> 256-control literal bytes."""
    out = bytearray()
    p = 0
    while p < len(d):
        c = d[p]
        p += 1
        if c < 128:
            out += bytes([d[p]]) * (c + 3)
            p += 1
        else:
            n = 256 - c
            out += d[p : p + n]
            p += n
    return bytes(out)


def bool_stream_decode(d: bytes, n: int) -> list[bool]:
    """PRESENT stream: Byte-RLE bytes read as bits MSB-first."""
    read = MsbReader(byte_rle_decode(d)).read
    return [bool(read(1)) for _ in range(n)]


_RLE_WIDTH = (1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15, 16, 17, 18,
              19, 20, 21, 22, 23, 24, 26, 28, 30, 32, 40, 48, 56, 64)


def rlev2_decode(d: bytes, signed: bool) -> list[int]:
    """ORC RunLength V2 integers: 2-bit sub-encoding header —
    SHORT_REPEAT (width/repeat nibbles, big-endian value), DIRECT
    (5-bit width code + 9-bit length, MSB-first packing), PATCHED_BASE
    (base + packed values + a patch list re-widening outliers), DELTA
    (varint base + signed varint delta, then monotone packed deltas).
    Zigzag applies per sub-encoding rules for signed columns."""
    vals: list[int] = []
    p = 0
    while p < len(d):
        h = d[p]
        enc = h >> 6
        if enc == 0:  # SHORT_REPEAT
            _hit("rlev2_short_repeat")
            w = ((h >> 3) & 7) + 1
            rep = (h & 7) + 3
            v = int.from_bytes(d[p + 1 : p + 1 + w], "big")
            p += 1 + w
            vals.extend([unzigzag(v) if signed else v] * rep)
        elif enc == 1:  # DIRECT
            _hit("rlev2_direct")
            w = _RLE_WIDTH[(h >> 1) & 31]
            n = (((h & 1) << 8) | d[p + 1]) + 1
            br = MsbReader(d, p + 2)
            for _ in range(n):
                v = br.read(w)
                vals.append(unzigzag(v) if signed else v)
            p = br.align_byte()
        elif enc == 2:  # PATCHED_BASE
            _hit("rlev2_patched_base")
            w = _RLE_WIDTH[(h >> 1) & 31]
            n = (((h & 1) << 8) | d[p + 1]) + 1
            b3, b4 = d[p + 2], d[p + 3]
            bw = ((b3 >> 5) & 7) + 1
            pw = _RLE_WIDTH[b3 & 31]
            pgw = ((b4 >> 5) & 7) + 1
            pll = b4 & 31
            p += 4
            base = int.from_bytes(d[p : p + bw], "big")
            if base & (1 << (bw * 8 - 1)):  # MSB sign bit, not two's compl.
                base = -(base & ((1 << (bw * 8 - 1)) - 1))
            br = MsbReader(d, p + bw)
            data_vals = [br.read(w) for _ in range(n)]
            br.align_byte()
            # each patch entry is stored in closestFixedBits(pgw + pw)
            # bits (the width table rounds 55 up to 56, etc.); the value
            # still lives in the LOW pgw+pw bits of the slot
            need = pgw + pw
            entry_w = next(w2 for w2 in _RLE_WIDTH if w2 >= need)
            gap_pos = 0
            for _ in range(pll):
                entry = br.read(entry_w)
                gap = entry >> pw
                patch = entry & ((1 << pw) - 1)
                gap_pos += gap
                if gap_pos >= n:
                    raise ValueError("patch gap beyond run length")
                data_vals[gap_pos] |= patch << w
            p = br.align_byte()
            vals.extend(base + v for v in data_vals)
        else:  # DELTA
            _hit("rlev2_delta")
            wcode = (h >> 1) & 31
            w = 0 if wcode == 0 else _RLE_WIDTH[wcode]
            n = (((h & 1) << 8) | d[p + 1]) + 1
            p += 2
            if signed:
                raw, p = read_uvarint(d, p)
                base = unzigzag(raw)
            else:
                base, p = read_uvarint(d, p)
            raw, p = read_uvarint(d, p)
            delta0 = unzigzag(raw)
            vals.append(base)
            if n >= 2:
                cur = base + delta0
                vals.append(cur)
                if n > 2:
                    if w == 0:
                        for _ in range(n - 2):
                            cur += delta0
                            vals.append(cur)
                    else:
                        br = MsbReader(d, p)
                        sign = 1 if delta0 >= 0 else -1
                        for _ in range(n - 2):
                            cur += sign * br.read(w)
                            vals.append(cur)
                        p = br.align_byte()
    return vals


# ---------------------------------------------------------------------------
# File walk: PostScript -> Footer -> per-stripe streams -> column values
# ---------------------------------------------------------------------------

_KIND_LONG = 4
_KIND_STRING = 7
_STREAM_PRESENT, _STREAM_DATA, _STREAM_LENGTH, _STREAM_DICT = 0, 1, 2, 3


def orc_read_columns(content: bytes) -> tuple[list[str], dict[str, list]]:
    """Read every top-level LONG / STRING column of an ORC file from the
    raw bytes: PostScript tail, zstd-framed Footer, stripe walk with
    DIRECT_V2 longs, DIRECT_V2 strings (length + data streams),
    DICTIONARY_V2 strings and PRESENT-stream null handling."""
    if len(content) < 4 or content[:3] != b"ORC":
        raise ValueError("missing ORC header magic")
    ps_len = content[-1]
    ps = pb_decode(content[len(content) - 1 - ps_len : -1])
    if (ps.get(8000) or [b""])[0] != b"ORC":
        raise ValueError("missing ORC postscript magic")
    footer_len = ps[1][0]
    comp_kind = ps.get(2, [0])[0]
    footer = pb_decode(
        orc_chunks_decompress(
            content[len(content) - 1 - ps_len - footer_len :
                    len(content) - 1 - ps_len],
            comp_kind,
        )
    )
    types = [pb_decode(t) for t in footer[4]]
    root = types[0]
    if root.get(1, [0])[0] != 12:
        raise ValueError("root type is not a struct")
    sub_ids = pb_packed_uvarints(root.get(2, [b""])[0])
    names = [b.decode("utf-8") for b in root.get(3, [])]
    columns: dict[str, list] = {n: [] for n in names}
    for stripe_raw in footer[3]:
        st = pb_decode(stripe_raw)
        soff = st.get(1, [0])[0]
        sidx = st.get(2, [0])[0]
        sdata = st.get(3, [0])[0]
        sflen = st.get(4, [0])[0]
        srows = st.get(5, [0])[0]
        sf = pb_decode(
            orc_chunks_decompress(
                content[soff + sidx + sdata : soff + sidx + sdata + sflen],
                comp_kind,
            )
        )
        encodings = [pb_decode(e) for e in sf[2]]
        pos = soff
        streams: dict[tuple[int, int], bytes] = {}
        for s_raw in sf[1]:
            s = pb_decode(s_raw)
            kind = s.get(1, [0])[0]
            col = s.get(2, [0])[0]
            ln = s.get(3, [0])[0]
            if kind in (
                _STREAM_PRESENT, _STREAM_DATA, _STREAM_LENGTH, _STREAM_DICT
            ):
                streams[(kind, col)] = content[pos : pos + ln]
            pos += ln

        def stream(kind: int, col: int) -> bytes | None:
            raw = streams.get((kind, col))
            return None if raw is None else orc_chunks_decompress(
                raw, comp_kind
            )

        for name, col in zip(names, sub_ids):
            tkind = types[col].get(1, [0])[0]
            enc = encodings[col].get(1, [0])[0]
            present_raw = stream(_STREAM_PRESENT, col)
            present = (
                bool_stream_decode(present_raw, srows)
                if present_raw is not None
                else [True] * srows
            )
            n_present = sum(present)
            if present_raw is not None:
                _hit("present_stream")
            if tkind == _KIND_LONG:
                if enc != 2:
                    raise ValueError(f"long column {name} not DIRECT_V2")
                vals = rlev2_decode(stream(_STREAM_DATA, col), signed=True)
            elif tkind == _KIND_STRING:
                if enc == 2:  # DIRECT_V2
                    _hit("string_direct")
                    lens = rlev2_decode(
                        stream(_STREAM_LENGTH, col), signed=False
                    )
                    blob = stream(_STREAM_DATA, col)
                    vals, q = [], 0
                    for ln in lens:
                        vals.append(blob[q : q + ln].decode("utf-8"))
                        q += ln
                elif enc == 3:  # DICTIONARY_V2
                    _hit("string_dictionary")
                    dlens = rlev2_decode(
                        stream(_STREAM_LENGTH, col), signed=False
                    )
                    dblob = stream(_STREAM_DICT, col)
                    dic, q = [], 0
                    for ln in dlens:
                        dic.append(dblob[q : q + ln].decode("utf-8"))
                        q += ln
                    idx = rlev2_decode(stream(_STREAM_DATA, col), signed=False)
                    vals = [dic[i] for i in idx]
                else:
                    raise ValueError(f"string column {name} encoding {enc}")
            else:
                raise ValueError(f"unsupported ORC type kind {tkind}")
            if len(vals) != n_present:
                raise ValueError(
                    f"column {name}: {len(vals)} values for "
                    f"{n_present} present rows"
                )
            it = iter(vals)
            columns[name].extend(next(it) if ok else None for ok in present)
    n_rows = footer.get(6, [0])[0]
    for name in names:
        if len(columns[name]) != n_rows:
            raise ValueError("column row count disagrees with footer")
    return names, columns


# ---------------------------------------------------------------------------
# Staged fixture + entry
# ---------------------------------------------------------------------------


def _stage_orc(spark: SparkSession, sf_dir: str) -> str:
    """Write (once per sf_dir) the documents table as ONE ORC file via
    Spark's own writer — the JVM reference implementation this reader is
    certified against: doc_id, a nullable every-7th-doc gap column, text
    (high-cardinality -> DIRECT_V2) and source (low-cardinality ->
    DICTIONARY_V2)."""

    def write_fixture(tmp: str) -> None:
        import glob
        import os
        import shutil

        df = (
            spark.read.parquet(f"{sf_dir}/documents.parquet")
            .selectExpr(
                "doc_id",
                "CASE WHEN doc_id % 7 = 0 THEN CAST(NULL AS BIGINT) "
                "ELSE n_chars END AS n_chars_gap",
                "text",
                "source",
            )
            .orderBy("doc_id")
            .coalesce(1)
        )
        out = os.path.join(tmp, "_spark_out")
        df.write.format("orc").save(out)
        src = glob.glob(os.path.join(out, "*.orc"))[0]
        shutil.move(src, os.path.join(tmp, "documents.orc"))
        shutil.rmtree(out)

    return stage_once(f"orc_fixture_{sf_dir}", "v1-gap7-4col", write_fixture)


@register(
    "scan_orc_stripe_decode",
    oracle=_AUDIT_ORACLE,
    tags=("scan", "formats", "codec", "wire", "pandas_udf", "staged"),
    doc="From-spec Apache ORC stripe read over a file written by Spark's "
    "OWN ORC writer — three public specs composed with zero library "
    "code in the decode path: the PROTOBUF wire format (varint tags, "
    "zigzag, packed repeated fields — ORC's whole metadata layer, so "
    "the walker is certified against a real JVM protobuf encoder), "
    "ORC's container spec (PostScript tail, zstd-framed chunk headers, "
    "stripe regions, stream kinds, Byte-RLE + MSB bit-packed PRESENT "
    "streams, RLEv2 with SHORT_REPEAT/DIRECT/PATCHED_BASE/DELTA, "
    "DIRECT_V2 + DICTIONARY_V2 strings), and RFC 8878 zstd (Spark 4's "
    "ORC default codec) through this repo's own frame decoder. Four "
    "columns — monotone ids (RLEv2 delta), a nullable gap column "
    "(PRESENT bitmap), high-cardinality text (DIRECT_V2) and "
    "low-cardinality source (DICTIONARY_V2) — certified VALUE BY VALUE "
    "against the documents view. Scale: one task per file via "
    "binaryFile, streams decode in O(stream) memory, no shuffle — the "
    "third major columnar format (after parquet and Arrow) the engine "
    "can read from raw bytes.",
)
def scan_orc_stripe_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _stage_orc(spark, sf_dir)
    bf = (
        spark.read.format("binaryFile")
        .load(f"{path}/documents.orc")
        .select("content")
    )

    def walk(content: bytes) -> Iterator[tuple[str, list, bool]]:
        _names, cols = orc_read_columns(content)
        for col in ("doc_id", "n_chars_gap", "text", "source"):
            yield col, cols[col], col in ("text", "source")

    return column_audit(bf, walk)


# ---------------------------------------------------------------------------
# Cross-format consensus capstone: the same table read from THREE raw
# binary formats by three independent from-spec readers must agree
# byte-for-byte on content.
# ---------------------------------------------------------------------------


@register(
    "scan_formats_consensus",
    oracle="""
    WITH facts AS (
      SELECT CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(doc_id) AS BIGINT) AS doc_id_sum,
             md5(string_agg(md5(text), ',' ORDER BY doc_id)) AS text_md5,
             md5(string_agg(md5(source), ',' ORDER BY doc_id)) AS source_md5
      FROM documents)
    SELECT fmt, n_rows, doc_id_sum, text_md5, source_md5
    FROM facts, (SELECT unnest(['arrow', 'orc', 'parquet']) AS fmt) f
    """,
    tags=("scan", "formats", "audit", "pandas_udf", "staged"),
    doc="Cross-format consensus — the formats capstone: the SAME documents "
    "content staged as parquet (DataPageV2 + delta encodings, zstd "
    "pages), Arrow IPC (stream, dictionary + validity) and ORC (RLEv2 + "
    "dictionary strings, zstd chunks), each read from RAW BYTES by its "
    "own from-spec reader (Thrift walk / flatbuffers walk / protobuf "
    "walk — three independent metadata codecs, three independent value "
    "decoders, one shared zstd core), and all three must emit identical "
    "row counts, id sums and per-value digest chains — which the oracle "
    "derives a fourth way, from the DuckDB view. A defect in ANY reader, "
    "ANY staging writer, or the shared zstd decoder breaks the "
    "consensus. Scale: three independent single-file binary scans "
    "unioned, no shuffle; at 100 TB this is the lakehouse migration "
    "audit — prove old-format and new-format copies carry identical "
    "content without trusting either library stack.",
)
def scan_formats_consensus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flock_spark.operators.arrow_ipc import (
        _stage_arrows,
        arrow_ipc_stream_read,
    )
    from flock_spark.operators.formats import (
        _stage_parquet_v2_delta,
        parquet_column_read,
        parquet_footer_parse,
    )

    arrow_path = _stage_arrows(sf_dir)
    orc_path = _stage_orc(spark, sf_dir)
    pq_path = _stage_parquet_v2_delta(sf_dir)

    def facts(fmt: str, doc_ids: list, texts: list, sources: list) -> tuple:
        order = sorted(range(len(doc_ids)), key=lambda i: doc_ids[i])
        t_md5 = hashlib.md5(
            ",".join(
                hashlib.md5(texts[i].encode()).hexdigest() for i in order
            ).encode()
        ).hexdigest()
        s_md5 = hashlib.md5(
            ",".join(
                hashlib.md5(sources[i].encode()).hexdigest() for i in order
            ).encode()
        ).hexdigest()
        return (fmt, len(doc_ids), sum(doc_ids), t_md5, s_md5)

    def rows_of(fpath: str, content: bytes) -> Iterator[tuple]:
        data = bytes(content)
        p = str(fpath)
        if p.endswith(".arrows"):
            _f, cols = arrow_ipc_stream_read(data)
            yield facts("arrow", cols["doc_id"], cols["text"], cols["source"])
        elif p.endswith(".orc"):
            _n, cols = orc_read_columns(data)
            yield facts("orc", cols["doc_id"], cols["text"], cols["source"])
        elif p.endswith(".parquet"):
            names = [n for n, _ in parquet_footer_parse(data)["schema"]]
            yield facts(
                "parquet",
                parquet_column_read(data, names.index("doc_id")),
                parquet_column_read(data, names.index("text")),
                parquet_column_read(data, names.index("source")),
            )
        else:
            raise ValueError(f"unexpected staged file {p}")

    bf = (
        spark.read.format("binaryFile")
        .load(
            [
                f"{arrow_path}/documents.arrows",
                f"{orc_path}/documents.orc",
                f"{pq_path}/documents_v2delta.parquet",
            ]
        )
        .select("path", "content")
    )
    return map_rows(
        bf,
        "fmt string, n_rows long, doc_id_sum long, text_md5 string, source_md5 string",
        rows_of,
    )
