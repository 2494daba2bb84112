"""The shared certification digests (operators/digests.py): the exact output
formats the Python digests and the DuckDB oracles must agree on, pinned with
literal values, and each oracle run against its digest on a small in-memory
documents table; the batch typing and the row mapper every per-row pandas UDF
runs through. Only the ``map_rows`` tests start a Spark session."""

from __future__ import annotations

import hashlib
import os
from collections import Counter

import duckdb
import pytest

from flock_spark.operators.digests import (
    _AUDIT_ORACLE,
    _PAYLOAD_CASE,
    _PLAIN_ORACLE,
    _ZSTD_ORACLE,
    _batch,
    byte_digest,
    column_digest,
    map_rows,
)
from flock_spark.oracle import run_oracle
from flock_spark.registry import REGISTRY, _load_all

SF001 = "/root/testdata/sf0.01"

DOCS = [
    (i, text, len(text), src)
    for i, (text, src) in enumerate([
        ("plain ascii text", "web"), ("naïve café", "news"), ("€ sign €", "web"),
        ("x", "books"), ("tab\tand\nnewline", "news"), ("ünïcödé ☃ snow", "web"),
        ("short", "code"), ("seventh doc", "web"),
    ])
]


def test_byte_digest_is_upper_hex_md5():
    # DuckDB's hex() spells bytes in upper case; md5 runs over that text
    assert byte_digest(b"\x00\xffA") == (3, 320, "ebc7357ffbd726e4bec5fd11e25e6cad")
    assert hashlib.md5(b"00FF41").hexdigest() == "ebc7357ffbd726e4bec5fd11e25e6cad"


def test_int_column_digest_spells_nulls():
    assert column_digest([3, None, 1], False) == (3, 1, 4, "6812d8dbd5ac8b9a33245ea4a6cbbe2f")
    assert hashlib.md5(b"3,null,1").hexdigest() == "6812d8dbd5ac8b9a33245ea4a6cbbe2f"


def test_string_column_digest_sums_utf8_bytes_and_chains_md5s():
    # "é" is two UTF-8 bytes; each value contributes its own md5 to the chain
    chain = "0cc175b9c0f1b6a831c399e269772661,null,66ddcd97cfdeabb2f6fb8a999b4bc76f"
    assert hashlib.md5("é".encode()).hexdigest() == chain.rsplit(",", 1)[1]
    assert column_digest(["a", None, "é"], True) == (
        3, 1, 3, hashlib.md5(chain.encode()).hexdigest()
    )


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    c.execute(
        "CREATE TABLE documents (doc_id BIGINT, text VARCHAR, n_chars BIGINT, source VARCHAR)"
    )
    c.executemany("INSERT INTO documents VALUES (?, ?, ?, ?)", DOCS)
    yield c
    c.close()


def test_plain_oracle_matches_byte_digest(con):
    want = {(i, *byte_digest(text.encode())) for i, text, _n, _s in DOCS}
    assert set(con.execute(_PLAIN_ORACLE).fetchall()) == want


def test_shape_oracle_matches_byte_digest_of_each_payload_shape(con):
    payloads = con.execute(f"SELECT doc_id, encode({_PAYLOAD_CASE}) FROM documents").fetchall()
    assert {len(p) for _i, p in payloads} > {len(DOCS[0][1].encode())}  # repeats were built
    want = {(i, *byte_digest(bytes(p))) for i, p in payloads}
    assert set(con.execute(_ZSTD_ORACLE).fetchall()) == want


def test_audit_oracle_matches_column_digest(con):
    cols = {
        "doc_id": ([d[0] for d in DOCS], False),
        "n_chars_gap": ([None if d[0] % 7 == 0 else d[2] for d in DOCS], False),
        "text": ([d[1] for d in DOCS], True),
        "source": ([d[3] for d in DOCS], True),
    }
    want = {(name, *column_digest(vals, s)) for name, (vals, s) in cols.items()}
    assert set(con.execute(_AUDIT_ORACLE).fetchall()) == want


SCHEMA = "k long, s string, i int, b boolean"
DTYPES = {"k": "int64", "s": "object", "i": "int32", "b": "bool"}


@pytest.mark.parametrize("rows", [[], [(1, "a", 2, True), (3, None, 4, False)]])
def test_batch_types_columns_by_schema(rows):
    out = _batch(SCHEMA, rows)
    assert list(out.columns) == ["k", "s", "i", "b"]
    assert out.dtypes.astype(str).to_dict() == DTYPES
    assert list(out.itertuples(index=False, name=None)) == rows


def test_batch_raises_on_an_untyped_column():
    with pytest.raises(KeyError, match="double"):
        _batch("k long, x double", [(1, 0.5)])


def test_map_rows_emits_every_yielded_tuple(spark):
    def rows_of(k: int, s: str):  # 0, 1, 3 and 1 rows for k = 0..3
        for j in range((0, 1, 3, 1)[k]):
            yield k, s * (j + 1), j, j % 2 == 0

    df = spark.createDataFrame([(k, "xy"[k % 2]) for k in range(4)], "k long, s string")
    out = map_rows(df, SCHEMA, rows_of)
    assert out.schema.simpleString() == "struct<k:bigint,s:string,i:int,b:boolean>"
    got = sorted(tuple(r) for r in out.collect())
    assert got == [
        (1, "y", 0, True),
        (2, "x", 0, True), (2, "xx", 1, False), (2, "xxx", 2, True),
        (3, "y", 0, True),
    ]


def test_map_rows_fails_the_action_with_the_row_error(spark):
    def rows_of(k: int, s: str):
        if k == 2:
            raise ValueError(f"bad row {k}")
        yield k, s, 0, True

    df = spark.createDataFrame([(k, "a") for k in range(4)], "k long, s string")
    with pytest.raises(Exception, match="ValueError: bad row 2"):
        map_rows(df, SCHEMA, rows_of).collect()


# The per-codec audit the Avro decode oracle spelled out inline before it became
# the codec list crossed with _AUDIT_ORACLE: both texts must return one multiset.
_AVRO_AUDIT_INLINE = """
WITH codecs(codec) AS (VALUES ('null'), ('deflate'), ('snappy')),
audit AS (
  SELECT 'doc_id' AS col_name, CAST(count(*) AS BIGINT) AS n_values,
         CAST(0 AS BIGINT) AS n_nulls, CAST(sum(doc_id) AS BIGINT) AS sum_v,
         md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)) AS values_md5
  FROM documents
  UNION ALL
  SELECT 'n_chars_gap', CAST(count(*) AS BIGINT),
         CAST(sum(CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT),
         CAST(sum(CASE WHEN doc_id % 7 = 0 THEN 0 ELSE n_chars END) AS BIGINT),
         md5(string_agg(CASE WHEN doc_id % 7 = 0 THEN 'null'
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
FROM codecs CROSS JOIN audit"""


@pytest.mark.skipif(not os.path.isdir(SF001), reason="sf0.01 fixtures absent")
def test_avro_oracle_is_the_audit_oracle_per_codec():
    _load_all()
    oracle = REGISTRY["scan_avro_container_decode"].oracle
    assert _AUDIT_ORACLE in oracle
    cols, rows = run_oracle(oracle, SF001)
    inline_cols, inline_rows = run_oracle(_AVRO_AUDIT_INLINE, SF001)
    assert cols == inline_cols
    assert len(rows) == 12 and Counter(rows) == Counter(inline_rows)
