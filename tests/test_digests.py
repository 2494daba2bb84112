"""The shared certification digests (operators/digests.py): the exact output
formats the Python digests and the DuckDB oracles must agree on, pinned with
literal values, and each oracle run against its digest on a small in-memory
documents table. No Spark session is needed."""

from __future__ import annotations

import hashlib

import duckdb
import pytest

from flock_spark.operators.digests import (
    _AUDIT_ORACLE,
    _PAYLOAD_CASE,
    _PLAIN_ORACLE,
    _ZSTD_ORACLE,
    byte_digest,
    column_digest,
)

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
