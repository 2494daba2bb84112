"""From-spec Apache Avro Object Container File reader, certified against the
REAL Apache Avro Java implementation (avro-1.12.1, on Spark's driver
classpath): the fixture files are written by ``org.apache.avro.file.
DataFileWriter`` via py4j, and every byte of the container + binary encoding
is then decoded here from the published Avro 1.12 specification with zero
library code in the decode path:

- the CONTAINER format: ``Obj\\x01`` magic, the file-metadata map (block
  count / optional byte-size prefixes, bytes keys/values), the 16-byte sync
  marker, and per-block (record-count, byte-size, payload, sync) framing
  with sync verification and a trailing-garbage check;
- the BINARY ENCODING: zig-zag varints for int/long, little-endian IEEE
  float/double, length-prefixed bytes/string, union branch indexes, record
  field order, enum indexes, fixed, and block-encoded array/map (negative
  block counts carry a byte size, per the spec);
- the three standard CODECS the Java writer ships: ``null`` (identity),
  ``deflate`` (raw RFC 1951 — decoded by this repo's own from-spec
  inflate, multimodal.py), and ``snappy`` (this repo's from-spec snappy
  block decode, formats.py, plus the 4-byte BIG-ENDIAN CRC-32 of the
  uncompressed payload that Avro's snappy codec appends — verified with
  the repo's own table-driven CRC-32, not zlib's).

Certification is non-circular twice over: the writer is the independent JVM
reference implementation (not this code), and the oracle audits the decoded
VALUES column-by-column against the DuckDB view of the same source table.

Reference parity: the reference engine's wire payloads are schema'd binary
batches (flock/src/runtime/payload.rs, encoding.rs); Avro is the remaining
major row-wire format in the lake ecosystem the engine could not yet prove
it understands at the byte level (after parquet, Arrow IPC and ORC).

Scale: the staged fixture is read through ``binaryFile`` — one task per
file, per-object decode inside ``mapInPandas``, no shuffle; blocks decode
in O(block) memory, so a 100 TB corpus of container files fans out
embarrassingly parallel exactly like the WARC/ORC ingest paths.
"""

from __future__ import annotations

import hashlib
import json
import struct
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from flock_spark.operators.bitio import (
    crc32,
    read_uvarint,
    unzigzag,
    write_uvarint,
    zigzag,
)
from flock_spark.registry import register
from flock_spark.staging import stage_once

# Path counters (non-vacuity: tests assert every codec, the union null and
# non-null branches, and the multi-block loop actually fire on the fixture).
STATS: dict[str, int] = {}


def _hit(key: str) -> None:
    STATS[key] = STATS.get(key, 0) + 1


MAGIC = b"Obj\x01"


# ---------------------------------------------------------------------------
# Binary encoding primitives (Avro spec "Binary Encoding")
# ---------------------------------------------------------------------------


def read_long(d: bytes, p: int) -> tuple[int, int]:
    """Zig-zag base-128 varint (the spec's int/long encoding)."""
    u, p = read_uvarint(d, p)
    return unzigzag(u), p


def _read_sized(d: bytes, p: int) -> tuple[bytes, int]:
    n, p = read_long(d, p)
    if n < 0 or p + n > len(d):
        raise ValueError("avro: bad byte-string length")
    return d[p : p + n], p + n


def decode_value(schema, d: bytes, p: int):
    """Decode one datum at offset ``p`` per the (parsed-JSON) schema node.

    Returns (value, new_offset). Records come back as dicts, maps as dicts,
    arrays as lists, enums as their symbol string.
    """
    if isinstance(schema, list):  # union: long branch index, then the datum
        idx, p = read_long(d, p)
        if not 0 <= idx < len(schema):
            raise ValueError("avro: union branch out of range")
        branch = schema[idx]
        tag = branch if isinstance(branch, str) else branch.get("type")
        _hit(f"union:{tag}")
        return decode_value(branch, d, p)
    if isinstance(schema, dict):
        t = schema["type"]
        if t == "record":
            rec = {}
            for f in schema["fields"]:
                rec[f["name"]], p = decode_value(f["type"], d, p)
            return rec, p
        if t == "array":
            out = []
            while True:
                n, p = read_long(d, p)
                if n == 0:
                    return out, p
                if n < 0:  # spec: negative count is followed by a byte size
                    n = -n
                    _, p = read_long(d, p)
                    _hit("block:negcount")
                for _ in range(n):
                    v, p = decode_value(schema["items"], d, p)
                    out.append(v)
        if t == "map":
            out = {}
            while True:
                n, p = read_long(d, p)
                if n == 0:
                    return out, p
                if n < 0:
                    n = -n
                    _, p = read_long(d, p)
                    _hit("block:negcount")
                for _ in range(n):
                    k, p = _read_sized(d, p)
                    out[k.decode("utf-8")], p = decode_value(
                        schema["values"], d, p
                    )
        if t == "enum":
            idx, p = read_long(d, p)
            syms = schema["symbols"]
            if not 0 <= idx < len(syms):
                raise ValueError("avro: enum index out of range")
            return syms[idx], p
        if t == "fixed":
            n = schema["size"]
            if p + n > len(d):
                raise ValueError("avro: truncated fixed")
            return d[p : p + n], p + n
        schema = t  # {"type": "string"} wrapper form falls through
    if schema == "null":
        _hit("prim:null")
        return None, p
    if schema == "boolean":
        if p >= len(d):
            raise ValueError("avro: truncated boolean")
        return d[p] != 0, p + 1
    if schema in ("int", "long"):
        _hit("prim:long")
        return read_long(d, p)
    if schema == "float":
        if p + 4 > len(d):
            raise ValueError("avro: truncated float")
        return struct.unpack("<f", d[p : p + 4])[0], p + 4
    if schema == "double":
        if p + 8 > len(d):
            raise ValueError("avro: truncated double")
        return struct.unpack("<d", d[p : p + 8])[0], p + 8
    if schema == "bytes":
        return _read_sized(d, p)
    if schema == "string":
        _hit("prim:string")
        raw, p = _read_sized(d, p)
        return raw.decode("utf-8"), p
    raise ValueError(f"avro: unsupported schema node {schema!r}")


# ---------------------------------------------------------------------------
# Container format
# ---------------------------------------------------------------------------


def _read_meta_map(d: bytes, p: int) -> tuple[dict[str, bytes], int]:
    meta: dict[str, bytes] = {}
    while True:
        n, p = read_long(d, p)
        if n == 0:
            return meta, p
        if n < 0:
            n = -n
            _, p = read_long(d, p)  # byte size of the block — unused here
            _hit("meta:negcount")
        for _ in range(n):
            k, p = _read_sized(d, p)
            v, p = _read_sized(d, p)
            meta[k.decode("utf-8")] = v


def _decompress_block(codec: str, payload: bytes) -> bytes:
    if codec == "null":
        _hit("codec:null")
        return payload
    if codec == "deflate":
        from flock_spark.operators.multimodal import inflate

        _hit("codec:deflate")
        return inflate(payload)
    if codec == "snappy":
        from flock_spark.operators.formats import snappy_decompress

        if len(payload) < 4:
            raise ValueError("avro: snappy block too short for CRC")
        raw = snappy_decompress(payload[:-4])
        want = struct.unpack(">I", payload[-4:])[0]  # big-endian per spec
        if crc32(raw) != want:
            raise ValueError("avro: snappy block CRC mismatch")
        _hit("codec:snappy")
        return raw
    raise ValueError(f"avro: unsupported codec {codec!r}")


def avro_container_read(data: bytes) -> tuple[str, list[dict]]:
    """Walk one Object Container File; return (codec, records)."""
    if data[:4] != MAGIC:
        raise ValueError("avro: bad magic")
    meta, p = _read_meta_map(data, 4)
    if "avro.schema" not in meta:
        raise ValueError("avro: missing avro.schema metadata")
    schema = json.loads(meta["avro.schema"])
    codec = meta.get("avro.codec", b"null").decode("utf-8")
    sync = data[p : p + 16]
    if len(sync) != 16:
        raise ValueError("avro: truncated sync marker")
    p += 16
    records: list[dict] = []
    n_blocks = 0
    while p < len(data):
        cnt, p = read_long(data, p)
        size, p = read_long(data, p)
        if cnt < 0 or size < 0 or p + size + 16 > len(data):
            raise ValueError("avro: bad block framing")
        block = _decompress_block(codec, data[p : p + size])
        p += size
        if data[p : p + 16] != sync:
            raise ValueError("avro: sync marker mismatch")
        p += 16
        bp = 0
        for _ in range(cnt):
            v, bp = decode_value(schema, block, bp)
            records.append(v)
        if bp != len(block):
            raise ValueError("avro: trailing bytes inside block")
        n_blocks += 1
    # trailing garbage cannot survive the loop: a partial trailer fails the
    # block-framing length check and a truncated varint raises in read_long
    if n_blocks > 1:
        _hit("container:multiblock")
    return codec, records


# ---------------------------------------------------------------------------
# Staged fixture: the REAL Avro Java writer, one file per codec
# ---------------------------------------------------------------------------

_FIXTURE_SCHEMA = json.dumps(
    {
        "type": "record",
        "name": "Doc",
        "fields": [
            {"name": "doc_id", "type": "long"},
            {"name": "n_chars_gap", "type": ["null", "long"]},
            {"name": "text", "type": "string"},
            {"name": "source", "type": "string"},
        ],
    }
)

CODECS = ("null", "deflate", "snappy")


def _stage_avro(spark: SparkSession, sf_dir: str) -> str:
    """Write (once per sf_dir) the documents table as one Avro container
    file PER CODEC via the Apache Avro Java library — the reference
    implementation this reader is certified against. Records are
    materialized JVM-side through Avro's own JsonDecoder (py4j boxes small
    Python ints as Integer, which GenericData's union resolution rejects),
    and a small sync interval forces many data blocks per file."""

    def write_fixture(tmp: str) -> None:
        import os

        jvm = spark._jvm
        # bounded collect: the documents table is N_DOCS rows (5k at sf0.1)
        rows = (
            spark.read.parquet(f"{sf_dir}/documents.parquet")
            .selectExpr("doc_id", "n_chars", "text", "source")
            .orderBy("doc_id")
            .collect()
        )
        payload = "\n".join(
            json.dumps(
                {
                    "doc_id": r.doc_id,
                    "n_chars_gap": None
                    if r.doc_id % 7 == 0
                    else {"long": r.n_chars},
                    "text": r.text,
                    "source": r.source,
                }
            )
            for r in rows
        )
        schema = jvm.org.apache.avro.Schema.Parser().parse(_FIXTURE_SCHEMA)
        factory = jvm.org.apache.avro.file.CodecFactory
        for codec in CODECS:
            writer = jvm.org.apache.avro.file.DataFileWriter(
                jvm.org.apache.avro.generic.GenericDatumWriter(schema)
            )
            if codec == "deflate":
                writer.setCodec(factory.deflateCodec(6))
            elif codec == "snappy":
                writer.setCodec(factory.snappyCodec())
            writer.setSyncInterval(2048)  # ~a handful of records per block
            writer.create(
                schema, jvm.java.io.File(os.path.join(tmp, f"{codec}.avro"))
            )
            dec = jvm.org.apache.avro.io.DecoderFactory.get().jsonDecoder(
                schema, payload
            )
            reader = jvm.org.apache.avro.generic.GenericDatumReader(schema)
            for _ in rows:
                writer.append(reader.read(None, dec))
            writer.close()

    return stage_once(f"avro_fixture_{sf_dir}", "v1-3codec-sync2048", write_fixture)


@register(
    "scan_avro_container_decode",
    oracle="""
    WITH codecs(codec) AS (VALUES ('null'), ('deflate'), ('snappy')),
    audit AS (
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
      SELECT 'text', CAST(count(*) AS BIGINT), CAST(0 AS BIGINT),
             CAST(sum(octet_length(encode(text))) AS BIGINT),
             md5(string_agg(md5(text), ',' ORDER BY doc_id))
      FROM documents
      UNION ALL
      SELECT 'source', CAST(count(*) AS BIGINT), CAST(0 AS BIGINT),
             CAST(sum(octet_length(encode(source))) AS BIGINT),
             md5(string_agg(md5(source), ',' ORDER BY doc_id))
      FROM documents
    )
    SELECT codec, col_name, n_values, n_nulls, sum_v, values_md5
    FROM codecs CROSS JOIN audit
    """,
    tags=("scan", "formats", "codec", "wire", "pandas_udf", "staged"),
    doc="From-spec Apache Avro Object Container File read over files "
    "written by the REAL Apache Avro Java library (avro-1.12.1 on the "
    "driver classpath) — container framing, sync-marker verification, "
    "zig-zag varints, union branches, and all three standard codecs "
    "(null / deflate via this repo's from-spec inflate / snappy via this "
    "repo's from-spec snappy + big-endian CRC-32 check), certified VALUE "
    "BY VALUE against the documents view, one audit row per (codec, "
    "column). Scale: binaryFile scan, one task per container file, "
    "per-block decode memory, no shuffle — the fourth byte-level file "
    "format (after parquet, Arrow IPC, ORC) and the first row-oriented "
    "one.",
)
def scan_avro_container_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _stage_avro(spark, sf_dir)
    bf = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.avro")
        .load(path)
        .select("content")
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {
                "codec": [], "col_name": [], "n_values": [],
                "n_nulls": [], "sum_v": [], "values_md5": [],
            }
            for content in pdf["content"]:
                codec, records = avro_container_read(bytes(content))
                for col in ("doc_id", "n_chars_gap", "text", "source"):
                    vals = [r[col] for r in records]
                    nulls = sum(1 for v in vals if v is None)
                    if col in ("text", "source"):
                        sv = sum(
                            len(v.encode()) for v in vals if v is not None
                        )
                        joined = ",".join(
                            "null" if v is None
                            else hashlib.md5(v.encode()).hexdigest()
                            for v in vals
                        )
                    else:
                        sv = sum(v for v in vals if v is not None)
                        joined = ",".join(
                            "null" if v is None else str(v) for v in vals
                        )
                    out["codec"].append(codec)
                    out["col_name"].append(col)
                    out["n_values"].append(len(vals))
                    out["n_nulls"].append(nulls)
                    out["sum_v"].append(sv)
                    out["values_md5"].append(
                        hashlib.md5(joined.encode()).hexdigest()
                    )
            yield pd.DataFrame(
                {
                    "codec": pd.Series(out["codec"], dtype="object"),
                    "col_name": pd.Series(out["col_name"], dtype="object"),
                    "n_values": pd.Series(out["n_values"], dtype="int64"),
                    "n_nulls": pd.Series(out["n_nulls"], dtype="int64"),
                    "sum_v": pd.Series(out["sum_v"], dtype="int64"),
                    "values_md5": pd.Series(out["values_md5"], dtype="object"),
                }
            )

    return bf.mapInPandas(
        run,
        schema="codec string, col_name string, n_values long, "
        "n_nulls long, sum_v long, values_md5 string",
    )


# ---------------------------------------------------------------------------
# Avro container ENCODER — the reverse direction: this repo writes the
# container + binary encoding from the spec (zig-zag varints, union
# branches, metadata map, sync framing, deflate via the repo's own DEFLATE
# encoder, snappy via the spec-minimal literal encoder + own CRC-32), and
# the REAL Apache Avro Java reader (DataFileReader, avro-1.12.1) plus this
# module's own reader both consume the bytes.
# ---------------------------------------------------------------------------


def write_long(v: int) -> bytes:
    """Zig-zag base-128 varint encode (the spec's int/long encoding)."""
    return write_uvarint(zigzag(v))


def _write_sized(b: bytes) -> bytes:
    return write_long(len(b)) + b


def _branch_matches(branch, value) -> bool:
    tag = branch if isinstance(branch, str) else branch.get("type")
    if tag == "null":
        return value is None
    if value is None:
        return False
    if tag == "boolean":
        return isinstance(value, bool)
    if tag in ("int", "long"):
        return isinstance(value, int) and not isinstance(value, bool)
    if tag in ("float", "double"):
        return isinstance(value, (int, float)) and not isinstance(value, bool)
    if tag == "string":
        return isinstance(value, str)
    if tag in ("bytes", "fixed"):
        return isinstance(value, (bytes, bytearray))
    if tag in ("record", "map"):
        return isinstance(value, dict)
    if tag == "array":
        return isinstance(value, list)
    if tag == "enum":
        return isinstance(value, str)
    return False


def encode_value(schema, value) -> bytes:
    """Encode one datum per the (parsed-JSON) schema node — the mirror of
    decode_value above, covering the shapes the fixture uses plus the
    container types."""
    if isinstance(schema, list):  # union: branch index then datum
        for idx, branch in enumerate(schema):
            if _branch_matches(branch, value):
                return write_long(idx) + encode_value(branch, value)
        raise ValueError("avro encode: no matching union branch")
    if isinstance(schema, dict):
        t = schema["type"]
        if t == "record":
            return b"".join(
                encode_value(f["type"], value[f["name"]])
                for f in schema["fields"]
            )
        if t == "array":
            if not value:
                return write_long(0)
            return (
                write_long(len(value))
                + b"".join(encode_value(schema["items"], v) for v in value)
                + write_long(0)
            )
        if t == "map":
            if not value:
                return write_long(0)
            return (
                write_long(len(value))
                + b"".join(
                    _write_sized(k.encode()) + encode_value(
                        schema["values"], v
                    )
                    for k, v in value.items()
                )
                + write_long(0)
            )
        if t == "enum":
            return write_long(schema["symbols"].index(value))
        if t == "fixed":
            if len(value) != schema["size"]:
                raise ValueError("avro encode: fixed size mismatch")
            return bytes(value)
        schema = t
    if schema == "null":
        return b""
    if schema == "boolean":
        return b"\x01" if value else b"\x00"
    if schema in ("int", "long"):
        return write_long(value)
    if schema == "double":
        return struct.pack("<d", value)
    if schema == "float":
        return struct.pack("<f", value)
    if schema == "bytes":
        return _write_sized(bytes(value))
    if schema == "string":
        return _write_sized(value.encode("utf-8"))
    raise ValueError(f"avro encode: unsupported schema node {schema!r}")


def _compress_block(codec: str, raw: bytes) -> bytes:
    if codec == "null":
        return raw
    if codec == "deflate":
        from flock_spark.operators.multimodal import deflate_compress

        return deflate_compress(raw)
    if codec == "snappy":
        from flock_spark.operators.parquet_writer import (
            snappy_literal_compress,
        )

        return snappy_literal_compress(raw) + struct.pack(
            ">I", crc32(raw)
        )
    raise ValueError(f"avro encode: unsupported codec {codec!r}")


def avro_container_write(
    schema_json: str, codec: str, records: list, sync: bytes,
    block_records: int = 100,
) -> bytes:
    """Assemble one Object Container File from the spec: magic, metadata
    map (schema + codec), sync marker, per-block (count, size, payload,
    sync) framing."""
    if len(sync) != 16:
        raise ValueError("sync marker must be 16 bytes")
    schema = json.loads(schema_json)
    meta = (
        write_long(2)
        + _write_sized(b"avro.schema") + _write_sized(schema_json.encode())
        + _write_sized(b"avro.codec") + _write_sized(codec.encode())
        + write_long(0)
    )
    out = bytearray(MAGIC + meta + sync)
    for i in range(0, max(len(records), 1), block_records):
        block = records[i : i + block_records]
        if not block:
            break
        raw = b"".join(encode_value(schema, r) for r in block)
        payload = _compress_block(codec, raw)
        out += write_long(len(block)) + _write_sized(payload) + sync
    return bytes(out)


@register(
    "mm_avro_encode_roundtrip",
    oracle="""
    WITH codecs(codec) AS (VALUES ('null'), ('deflate'), ('snappy'))
    SELECT codec,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(doc_id) AS BIGINT) AS doc_id_sum,
           CAST(sum(CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_gap_nulls,
           md5(string_agg(md5(text), ',' ORDER BY doc_id)) AS text_md5
    FROM codecs CROSS JOIN documents
    GROUP BY codec
    """,
    tags=("multimodal", "pandas_udf", "codec", "wire"),
    doc="Avro container ENCODE from the spec — the reverse certification "
    "direction from scan_avro_container_decode, completing the format "
    "pair: records are binary-encoded by this module (zig-zag varints, "
    "union branches, record field order), framed into container blocks "
    "with metadata map + sync verification, and compressed per codec "
    "with this repo's OWN encoders (deflate via the from-spec DEFLATE "
    "encoder, snappy via the spec-minimal literal encoder + own "
    "big-endian CRC-32). Every file is then read back by the REAL "
    "Apache Avro Java reader (DataFileReader via py4j — any bitstream "
    "our reading of the spec assembles that the reference "
    "implementation cannot read fails the audit) during STAGING, and "
    "the certified entry decodes the staged bytes with this module's "
    "own reader inside the UDF, emitting per-codec facts that must "
    "match the DuckDB view. Scale: per-object encode/decode in "
    "mapInPandas over staged shards, single binary scan, no shuffle.",
)
def mm_avro_encode_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _stage_avro_own(spark, sf_dir)
    bf = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.avro")
        .load(path)
        .select("content")
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {
                "codec": [], "n_rows": [], "doc_id_sum": [],
                "n_gap_nulls": [], "text_md5": [],
            }
            for content in pdf["content"]:
                codec, records = avro_container_read(bytes(content))
                out["codec"].append(codec)
                out["n_rows"].append(len(records))
                out["doc_id_sum"].append(sum(r["doc_id"] for r in records))
                out["n_gap_nulls"].append(
                    sum(1 for r in records if r["n_chars_gap"] is None)
                )
                joined = ",".join(
                    hashlib.md5(r["text"].encode()).hexdigest()
                    for r in records
                )
                out["text_md5"].append(
                    hashlib.md5(joined.encode()).hexdigest()
                )
            yield pd.DataFrame(
                {
                    "codec": pd.Series(out["codec"], dtype="object"),
                    "n_rows": pd.Series(out["n_rows"], dtype="int64"),
                    "doc_id_sum": pd.Series(
                        out["doc_id_sum"], dtype="int64"
                    ),
                    "n_gap_nulls": pd.Series(
                        out["n_gap_nulls"], dtype="int64"
                    ),
                    "text_md5": pd.Series(out["text_md5"], dtype="object"),
                }
            )

    return bf.mapInPandas(
        run,
        schema="codec string, n_rows long, doc_id_sum long, "
        "n_gap_nulls long, text_md5 string",
    )


def _stage_avro_own(spark: SparkSession, sf_dir: str) -> str:
    """Write (once per sf_dir) one container file per codec with THIS
    module's encoder, then have the REAL Avro Java reader verify every
    record before the fixture is accepted."""

    def write_fixture(tmp: str) -> None:
        import os

        jvm = spark._jvm
        rows = (
            spark.read.parquet(f"{sf_dir}/documents.parquet")
            .selectExpr("doc_id", "n_chars", "text", "source")
            .orderBy("doc_id")
            .collect()  # bounded: N_DOCS rows (5k at sf0.1)
        )
        records = [
            {
                "doc_id": r.doc_id,
                "n_chars_gap": None if r.doc_id % 7 == 0 else r.n_chars,
                "text": r.text,
                "source": r.source,
            }
            for r in rows
        ]
        sync = bytes(range(16))
        for codec in CODECS:
            data = avro_container_write(
                _FIXTURE_SCHEMA, codec, records, sync
            )
            fpath = os.path.join(tmp, f"{codec}.avro")
            with open(fpath, "wb") as f:
                f.write(data)
            # adversarial gate, one py4j round trip: the REAL Java reader
            # decodes EVERY record (appendAllFrom with recompress=true
            # forces a full decode + re-encode) into a copy, and the copy
            # must replay record-identical through this module's reader
            reader = jvm.org.apache.avro.file.DataFileReader(
                jvm.java.io.File(fpath),
                jvm.org.apache.avro.generic.GenericDatumReader(),
            )
            schema = jvm.org.apache.avro.Schema.Parser().parse(
                _FIXTURE_SCHEMA
            )
            copy_path = os.path.join(tmp, f"_javacopy_{codec}.avro")
            writer = jvm.org.apache.avro.file.DataFileWriter(
                jvm.org.apache.avro.generic.GenericDatumWriter(schema)
            )
            writer.create(schema, jvm.java.io.File(copy_path))
            writer.appendAllFrom(reader, True)
            writer.close()
            reader.close()
            with open(copy_path, "rb") as f:
                _, replay = avro_container_read(f.read())
            os.remove(copy_path)
            if replay != records:
                raise ValueError(
                    f"Java Avro reader disagrees on {codec} fixture"
                )

    return stage_once(
        f"avro_own_fixture_{sf_dir}", "v1-3codec-b100", write_fixture
    )
