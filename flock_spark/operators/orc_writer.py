"""From-spec Apache ORC WRITER — the write direction of the ORC byte-level
story (operators/orc_format.py is the reader): every byte is assembled
here from the public specs, then read by THREE independent readers —
Spark's JVM ORC reader (the certified entry), the Apache ORC C++ reader
(pyarrow.orc, staging gate), and this repo's own from-spec stripe reader.

Three public specs compose in the write direction:

- the PROTOBUF WIRE FORMAT encoder (mirror of orc_format.py's
  ``pb_decode``): varint fields, length-delimited submessages, packed
  repeated varints — PostScript, Footer, Type tree, StripeInformation,
  StripeFooter, ColumnEncoding are all protobuf;
- ORC's container + stream encodings: compressed-chunk framing (3-byte
  little-endian headers with the is-original bit), Byte-RLE + MSB-first
  bit-packed PRESENT streams, RunLength V2 integer encoding (this writer
  emits SHORT_REPEAT for constant runs, fixed-DELTA for arithmetic runs,
  DIRECT with closestFixedBits widths otherwise — the reader side decodes
  all four sub-encodings incl. PATCHED_BASE), DIRECT_V2 strings (LENGTH +
  DATA) and DICTIONARY_V2 strings (sorted dictionary + index stream);
- the chunk payloads are ZSTD frames emitted by THIS repo's own RFC 8878
  ENCODER (zstd_codec.zstd_frame_compress) — so a real JVM zstd
  implementation must accept our frames on every read.

Scale: the writer is the per-task sink shape (one file per partition at
100 TB); the certified entry reads OUR bytes with Spark's vectorized ORC
scan — a pure-JVM plan with pushdown available like any ORC.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from flock_spark.operators.bitio import MsbWriter, write_uvarint, zigzag
from flock_spark.registry import register
from flock_spark.staging import stage_once

STATS: dict[str, int] = {}


def _hit(key: str) -> None:
    STATS[key] = STATS.get(key, 0) + 1


# ---------------------------------------------------------------------------
# Protobuf wire-format encoder (mirror of orc_format.pb_decode)
# ---------------------------------------------------------------------------


def pb_field_varint(fid: int, v: int) -> bytes:
    return write_uvarint((fid << 3) | 0) + write_uvarint(v)


def pb_field_bytes(fid: int, b: bytes) -> bytes:
    return write_uvarint((fid << 3) | 2) + write_uvarint(len(b)) + b


def pb_field_packed(fid: int, vals: list[int]) -> bytes:
    return pb_field_bytes(fid, b"".join(write_uvarint(v) for v in vals))


# ---------------------------------------------------------------------------
# Stream encoders (mirrors of the reader's decoders)
# ---------------------------------------------------------------------------

_RLE_WIDTH = (1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15, 16, 17, 18,
              19, 20, 21, 22, 23, 24, 26, 28, 30, 32, 40, 48, 56, 64)


def _width_code(w: int) -> int:
    for i, cw in enumerate(_RLE_WIDTH):
        if cw >= w:
            return i
    raise ValueError(f"value too wide: {w} bits")


def _pack_msb(vals: list[int], w: int) -> bytes:
    bw = MsbWriter()
    for v in vals:
        bw.write(v, w)
    return bw.getvalue()


def _try_patched_base(vals: list[int]) -> bytes | None:
    """PATCHED_BASE encode for one run of 3-512 raw values (PATCHED_BASE
    carries no zigzag — the base is min(vals) in MSB-sign-bit form and
    deltas are non-negative). Returns None when the run doesn't fit the
    sub-encoding's limits (<= 31 patches, gaps <= 255, a real width
    split), letting the caller fall back to DIRECT."""
    n = len(vals)
    if not 3 <= n <= 512:
        return None
    base = min(vals)
    deltas = [v - base for v in vals]
    widths = sorted(max(1, d.bit_length()) for d in deltas)
    w = _RLE_WIDTH[_width_code(widths[(n * 90) // 100])]
    max_w = widths[-1]
    if max_w <= w:
        return None  # no outliers — DIRECT is strictly better
    patches = [(i, d >> w) for i, d in enumerate(deltas) if d >> w]
    if not 1 <= len(patches) <= 31:
        return None
    gaps = []
    prev = 0
    for pos, _p in patches:
        gaps.append(pos - prev)
        prev = pos
    if max(gaps) > 255:
        return None  # would need dummy zero patches; keep the fallback
    pw = _RLE_WIDTH[_width_code(max(p for _i, p in patches).bit_length())]
    pgw = max(1, max(gaps).bit_length())
    if pgw + pw > 64:
        return None
    # base in MSB-sign-bit bytes
    abase = abs(base)
    bw = max(1, (abase.bit_length() + 1 + 7) // 8)
    if bw > 8:
        return None
    braw = abase | (1 << (bw * 8 - 1)) if base < 0 else abase
    out = bytearray()
    code = _width_code(w)
    out.append((2 << 6) | (code << 1) | ((n - 1) >> 8))
    out.append((n - 1) & 0xFF)
    out.append(((bw - 1) & 7) << 5 | _width_code(pw))
    out.append(((pgw - 1) & 7) << 5 | len(patches))
    out += braw.to_bytes(bw, "big")
    out += _pack_msb([d & ((1 << w) - 1) for d in deltas], w)
    entry_w = _RLE_WIDTH[_width_code(pgw + pw)]
    out += _pack_msb(
        [(g << pw) | p for g, (_i, p) in zip(gaps, patches)], entry_w
    )
    _hit("enc_patched_base")
    return bytes(out)


def rlev2_encode(vals: list[int], signed: bool) -> bytes:
    """RunLength V2 encode: SHORT_REPEAT for 3-10 equal values, fixed
    DELTA (w=0) for arithmetic runs, PATCHED_BASE for skewed runs with
    few outliers, DIRECT otherwise — runs of up to 512 values, each a
    shape the reader's four-way decoder accepts."""
    out = bytearray()
    i = 0
    n = len(vals)
    while i < n:
        # constant run?
        j = i
        while j < n and j - i < 512 and vals[j] == vals[i]:
            j += 1
        if 3 <= j - i <= 10:
            v = zigzag(vals[i]) if signed else vals[i]
            w = max(1, (v.bit_length() + 7) // 8)
            out.append(((w - 1) & 7) << 3 | ((j - i) - 3))
            out += v.to_bytes(w, "big")
            _hit("enc_short_repeat")
            i = j
            continue
        # arithmetic run (constant delta, incl. constant beyond 10)?
        j = i + 1
        if j < n:
            delta = vals[j] - vals[i]
            while (
                j + 1 < n and j + 1 - i < 512
                and vals[j + 1] - vals[j] == delta
            ):
                j += 1
        if j - i + 1 >= 3 and (signed or vals[i] + min(0, j - i) >= 0):
            run = j - i + 1
            base = vals[i]
            delta = vals[i + 1] - vals[i]
            out.append((3 << 6) | ((run - 1) >> 8))
            out.append((run - 1) & 0xFF)
            out += write_uvarint(zigzag(base) if signed else base)
            out += write_uvarint(zigzag(delta))
            _hit("enc_delta")
            i += run
            continue
        # PATCHED_BASE when the run is skewed with few outliers
        run = min(512, n - i)
        pb = _try_patched_base(vals[i : i + run])
        if pb is not None:
            out += pb
            i += run
            continue
        # DIRECT over up to 512 values
        enc = [
            zigzag(v) if signed else v for v in vals[i : i + run]
        ]
        w = _RLE_WIDTH[_width_code(max(1, max(enc).bit_length()))]
        code = _width_code(w)
        out.append((1 << 6) | (code << 1) | ((run - 1) >> 8))
        out.append((run - 1) & 0xFF)
        out += _pack_msb(enc, w)
        _hit("enc_direct")
        i += run
    return bytes(out)


def byte_rle_encode(data: bytes) -> bytes:
    """ORC Byte-RLE encode: runs of 3-130 equal bytes, literal groups of
    up to 128 otherwise."""
    out = bytearray()
    i = 0
    n = len(data)
    lit_start = None
    while i < n:
        run = 1
        while i + run < n and run < 130 and data[i + run] == data[i]:
            run += 1
        if run >= 3:
            if lit_start is not None:
                for k in range(lit_start, i, 128):
                    chunk = data[k : min(i, k + 128)]
                    out.append(256 - len(chunk))
                    out += chunk
                lit_start = None
            out.append(run - 3)
            out.append(data[i])
            i += run
        else:
            if lit_start is None:
                lit_start = i
            i += run
    if lit_start is not None:
        for k in range(lit_start, n, 128):
            chunk = data[k : min(n, k + 128)]
            out.append(256 - len(chunk))
            out += chunk
    return bytes(out)


def bool_stream_encode(flags: list[bool]) -> bytes:
    bw = MsbWriter()
    for f in flags:
        bw.write(f, 1)
    return byte_rle_encode(bw.getvalue())


def orc_chunks_compress(raw: bytes, block: int = 262144) -> bytes:
    """ORC compressed-stream framing with kind 5 (ZSTD): per chunk the
    3-byte header, payload = this repo's OWN zstd frame when it pays,
    original bytes (bit set) otherwise."""
    from flock_spark.operators.zstd_codec import zstd_frame_compress

    out = bytearray()
    for i in range(0, max(len(raw), 1), block):
        chunk = raw[i : i + block]
        if not chunk:
            break
        comp = zstd_frame_compress(chunk)
        if len(comp) < len(chunk):
            out += (len(comp) << 1).to_bytes(3, "little")
            out += comp
            _hit("chunk_zstd")
        else:
            out += ((len(chunk) << 1) | 1).to_bytes(3, "little")
            out += chunk
            _hit("chunk_original")
    return bytes(out)


# ---------------------------------------------------------------------------
# File assembly
# ---------------------------------------------------------------------------

_KIND_LONG, _KIND_STRING, _KIND_STRUCT = 4, 7, 12
_STREAM_PRESENT, _STREAM_DATA, _STREAM_LENGTH, _STREAM_DICT = 0, 1, 2, 3
_ENC_DIRECT, _ENC_DIRECT_V2, _ENC_DICT_V2 = 0, 2, 3


def orc_write_documents(rows: list[tuple], stripe_rows: int = 2000) -> bytes:
    """Assemble a complete ORC file for (doc_id, n_chars_gap, text,
    source) rows: struct root with LONG/LONG(nullable)/STRING(DIRECT_V2)/
    STRING(DICTIONARY_V2) children, multiple stripes, ZSTD chunk framing
    via the repo's own encoder, rowIndexStride=0 (no row index)."""
    out = bytearray(b"ORC")
    stripes_pb = []
    dict_vals = sorted({r[3] for r in rows})
    dict_idx = {v: i for i, v in enumerate(dict_vals)}
    for s in range(0, max(len(rows), 1), stripe_rows):
        grp = rows[s : s + stripe_rows]
        if not grp:
            break
        offset = len(out)
        streams: list[tuple[int, int, bytes]] = []  # (kind, col, framed)

        def add(kind: int, col: int, raw: bytes) -> None:
            streams.append((kind, col, orc_chunks_compress(raw)))

        # col 1: doc_id LONG DIRECT_V2 (monotone ids -> DELTA runs)
        add(_STREAM_DATA, 1, rlev2_encode([r[0] for r in grp], signed=True))
        # col 2: n_chars_gap LONG nullable -> PRESENT + non-null DATA
        present = [r[1] is not None for r in grp]
        add(_STREAM_PRESENT, 2, bool_stream_encode(present))
        add(_STREAM_DATA, 2, rlev2_encode(
            [r[1] for r in grp if r[1] is not None], signed=True))
        # col 3: text STRING DIRECT_V2 -> LENGTH + DATA
        blobs = [r[2].encode() for r in grp]
        add(_STREAM_LENGTH, 3, rlev2_encode(
            [len(b) for b in blobs], signed=False))
        add(_STREAM_DATA, 3, b"".join(blobs))
        # col 4: source STRING DICTIONARY_V2 -> LENGTH + DICT + indices
        dblobs = [v.encode() for v in dict_vals]
        add(_STREAM_LENGTH, 4, rlev2_encode(
            [len(b) for b in dblobs], signed=False))
        add(_STREAM_DICT, 4, b"".join(dblobs))
        add(_STREAM_DATA, 4, rlev2_encode(
            [dict_idx[r[3]] for r in grp], signed=False))
        data_len = 0
        for _k, _c, framed in streams:
            out += framed
            data_len += len(framed)
        sf = b"".join(
            pb_field_bytes(1, (
                pb_field_varint(1, kind)
                + pb_field_varint(2, col)
                + pb_field_varint(3, len(framed))
            ))
            for kind, col, framed in streams
        )
        sf += pb_field_bytes(2, pb_field_varint(1, _ENC_DIRECT))  # root
        sf += pb_field_bytes(2, pb_field_varint(1, _ENC_DIRECT_V2))
        sf += pb_field_bytes(2, pb_field_varint(1, _ENC_DIRECT_V2))
        sf += pb_field_bytes(2, pb_field_varint(1, _ENC_DIRECT_V2))
        sf += pb_field_bytes(2, (
            pb_field_varint(1, _ENC_DICT_V2)
            + pb_field_varint(2, len(dict_vals))
        ))
        sf_framed = orc_chunks_compress(sf)
        out += sf_framed
        stripes_pb.append(
            pb_field_varint(1, offset)
            + pb_field_varint(2, 0)  # indexLength (rowIndexStride=0)
            + pb_field_varint(3, data_len)
            + pb_field_varint(4, len(sf_framed))
            + pb_field_varint(5, len(grp))
        )
    content_len = len(out)
    # ---- Footer ----
    types = [
        pb_field_varint(1, _KIND_STRUCT)
        + pb_field_packed(2, [1, 2, 3, 4])
        + b"".join(
            pb_field_bytes(3, n.encode())
            for n in ("doc_id", "n_chars_gap", "text", "source")
        ),
        pb_field_varint(1, _KIND_LONG),
        pb_field_varint(1, _KIND_LONG),
        pb_field_varint(1, _KIND_STRING),
        pb_field_varint(1, _KIND_STRING),
    ]
    footer = (
        pb_field_varint(1, 3)  # headerLength ("ORC")
        + pb_field_varint(2, content_len)
        + b"".join(pb_field_bytes(3, s) for s in stripes_pb)
        + b"".join(pb_field_bytes(4, t) for t in types)
        + pb_field_varint(6, len(rows))
        + pb_field_varint(8, 0)  # rowIndexStride: no row index
    )
    footer_framed = orc_chunks_compress(footer)
    out += footer_framed
    # ---- PostScript (never compressed) ----
    ps = (
        pb_field_varint(1, len(footer_framed))
        + pb_field_varint(2, 5)  # CompressionKind ZSTD
        + pb_field_varint(3, 262144)
        + pb_field_packed(4, [0, 12])
        + pb_field_varint(5, 0)  # metadataLength
        + pb_field_varint(6, 1)  # writerVersion
        + pb_field_bytes(8000, b"ORC")
    )
    out += ps
    out.append(len(ps))
    return bytes(out)


# ---------------------------------------------------------------------------
# Staged fixture + certified entry (Spark's JVM ORC reader over OUR bytes)
# ---------------------------------------------------------------------------


def _stage_own_orc(spark: SparkSession, sf_dir: str) -> str:
    def write_fixture(tmp: str) -> None:
        import os

        import pyarrow.orc as po

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
        data = orc_write_documents(rows)
        fpath = os.path.join(tmp, "own_writer.orc")
        with open(fpath, "wb") as f:
            f.write(data)
        # adversarial gate 1: the Apache ORC C++ reader (pyarrow.orc)
        # must replay every value before the fixture is accepted
        t = po.ORCFile(fpath).read()
        got = list(zip(*(t.column(c).to_pylist()
                         for c in ("doc_id", "n_chars_gap",
                                   "text", "source"))))
        if got != rows:
            raise ValueError("ORC C++ reader disagrees with writer")
        # adversarial gate 2: this repo's own from-spec stripe reader
        from flock_spark.operators.orc_format import orc_read_columns

        names, cols = orc_read_columns(data)
        own = list(zip(cols["doc_id"], cols["n_chars_gap"],
                       cols["text"], cols["source"]))
        if own != rows:
            raise ValueError("own ORC reader disagrees with writer")

    return stage_once(
        f"orc_own_{sf_dir}", "v2-2000rows-zstd-pb", write_fixture
    )


@register(
    "scan_orc_own_writer_roundtrip",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(doc_id) AS BIGINT) AS doc_id_sum,
           CAST(sum(CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_gap_nulls,
           CAST(sum(CASE WHEN doc_id % 7 = 0 THEN 0 ELSE n_chars END)
                AS BIGINT) AS n_chars_sum,
           CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
           CAST(sum((('0x' || substring(md5(text), 1, 15))::BIGINT)
                    % 2147483647) AS BIGINT) AS text_digest_mod_sum
    FROM documents
    """,
    tags=("scan", "formats", "codec", "wire", "staged"),
    doc="From-spec ORC WRITE certified by Spark's OWN JVM ORC reader: the "
    "fixture is assembled byte-by-byte by this repo's writer — protobuf "
    "wire encoding for all metadata, RLEv2 integer runs (SHORT_REPEAT / "
    "fixed-DELTA / DIRECT with closestFixedBits widths), Byte-RLE + "
    "MSB bit-packed PRESENT streams, DIRECT_V2 and sorted DICTIONARY_V2 "
    "strings, multi-stripe layout, and ZSTD chunk framing whose frames "
    "come from this repo's OWN RFC 8878 encoder — and the entry reads "
    "those bytes with Spark's vectorized ORC scan in a PURE-JVM plan "
    "(plan-pinned, zero Python). Staging gates the fixture on TWO more "
    "independent readers: the Apache ORC C++ reader (pyarrow.orc) and "
    "the repo's own from-spec stripe reader, both replaying every "
    "value. Completes the write direction of all four byte-level "
    "formats (parquet, Arrow IPC, Avro, ORC). Scale: per-task sink "
    "shape; vectorized columnar scan with pushdown on the read side.",
)
def scan_orc_own_writer_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    path = _stage_own_orc(spark, sf_dir)
    df = spark.read.orc(f"{path}/own_writer.orc")
    df.createOrReplaceTempView("own_orc_docs")
    return spark.sql("""
        SELECT count(*) AS n_rows,
               sum(doc_id) AS doc_id_sum,
               sum(CASE WHEN n_chars_gap IS NULL THEN 1 ELSE 0 END)
                 AS n_gap_nulls,
               sum(coalesce(n_chars_gap, 0)) AS n_chars_sum,
               count(DISTINCT source) AS n_sources,
               sum(CAST(conv(substring(md5(CAST(text AS BINARY)), 1, 15),
                             16, 10) AS BIGINT) % 2147483647)
                 AS text_digest_mod_sum
        FROM own_orc_docs
    """)


@register(
    "scan_own_writers_consensus",
    oracle="""
    WITH facts AS (
      SELECT CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(doc_id) AS BIGINT) AS doc_id_sum,
             CAST(sum(CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_gap_nulls,
             md5(string_agg(md5(text), ',' ORDER BY doc_id)) AS text_md5
      FROM documents)
    SELECT fmt, n_rows, doc_id_sum, n_gap_nulls, text_md5
    FROM facts,
         (SELECT unnest(['arrow', 'avro', 'orc', 'parquet']) AS fmt) f
    """,
    tags=("scan", "formats", "audit", "pandas_udf", "staged"),
    doc="Cross-WRITER consensus — the write-direction capstone: the SAME "
    "documents content written by this repo's FOUR from-spec writers "
    "(parquet: Thrift footer + dictionary pages + own-deflate GZIP; "
    "ORC: protobuf metadata + RLEv2 + own-zstd chunks; Avro: container "
    "blocks + own-deflate codec; Arrow IPC: from-scratch flatbuffers), "
    "each file read back from RAW BYTES by its own from-spec reader, "
    "and all four must emit identical row counts, id sums, null counts "
    "and per-value digest chains — which the oracle derives a fifth "
    "way, from the DuckDB view. Every fixture was ALSO gated at "
    "staging by an independent real implementation (Spark JVM / ORC "
    "C++ / Avro Java / pyarrow), so a consensus pass certifies 4 "
    "writers x 2 readers each. Scale: four single-file binary scans "
    "unioned, no shuffle — the lakehouse write-path audit.",
)
def scan_own_writers_consensus(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    from collections.abc import Iterator

    import pandas as pd

    from flock_spark.operators.arrow_ipc import (
        _stage_arrows_own,
        arrow_ipc_stream_read,
    )
    from flock_spark.operators.avro_format import (
        _stage_avro_own,
        avro_container_read,
    )
    from flock_spark.operators.formats import (
        parquet_column_read,
        parquet_footer_parse,
    )
    from flock_spark.operators.orc_format import orc_read_columns
    from flock_spark.operators.parquet_writer import _stage_own_parquet

    paths = [
        f"{_stage_arrows_own(spark, sf_dir)}/own_writer.arrows",
        f"{_stage_avro_own(spark, sf_dir)}/deflate.avro",
        f"{_stage_own_orc(spark, sf_dir)}/own_writer.orc",
        f"{_stage_own_parquet(spark, sf_dir)}/own_writer.parquet",
    ]

    def facts(fmt, doc_ids, gaps, texts):
        order = sorted(range(len(doc_ids)), key=lambda i: doc_ids[i])
        t_md5 = hashlib.md5(
            ",".join(
                hashlib.md5(texts[i].encode()).hexdigest() for i in order
            ).encode()
        ).hexdigest()
        return (fmt, len(doc_ids), sum(doc_ids),
                sum(1 for g in gaps if g is None), t_md5)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for fpath, content in zip(pdf["path"], pdf["content"]):
                data = bytes(content)
                p = str(fpath)
                if p.endswith(".arrows"):
                    _f, cols = arrow_ipc_stream_read(data)
                    out.append(facts("arrow", cols["doc_id"],
                                     cols["n_chars_gap"], cols["text"]))
                elif p.endswith(".avro"):
                    _codec, recs = avro_container_read(data)
                    out.append(facts(
                        "avro", [r["doc_id"] for r in recs],
                        [r["n_chars_gap"] for r in recs],
                        [r["text"] for r in recs]))
                elif p.endswith(".orc"):
                    _n, cols = orc_read_columns(data)
                    out.append(facts("orc", cols["doc_id"],
                                     cols["n_chars_gap"], cols["text"]))
                elif p.endswith(".parquet"):
                    names = [
                        n for n, _ in parquet_footer_parse(data)["schema"]
                    ]
                    out.append(facts(
                        "parquet",
                        parquet_column_read(data, names.index("doc_id")),
                        parquet_column_read(
                            data, names.index("n_chars_gap")),
                        parquet_column_read(data, names.index("text"))))
                else:
                    raise ValueError(f"unexpected staged file {p}")
            yield pd.DataFrame(
                {
                    "fmt": pd.Series([o[0] for o in out], dtype="object"),
                    "n_rows": pd.Series([o[1] for o in out], dtype="int64"),
                    "doc_id_sum": pd.Series(
                        [o[2] for o in out], dtype="int64"),
                    "n_gap_nulls": pd.Series(
                        [o[3] for o in out], dtype="int64"),
                    "text_md5": pd.Series([o[4] for o in out],
                                          dtype="object"),
                }
            )

    bf = (
        spark.read.format("binaryFile").load(paths)
        .select("path", "content")
    )
    return bf.mapInPandas(
        run,
        schema="fmt string, n_rows long, doc_id_sum long, "
        "n_gap_nulls long, text_md5 string",
    )
