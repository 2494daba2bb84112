"""The shared byte-layer primitives (operators/bitio.py): the canonical
Huffman assignment, checked against codes recorded from the independent
per-codec builders it replaced rather than recomputed by it, and the one
varint bound every format reader enforces."""

from __future__ import annotations

import pytest

from flock_spark.operators.bitio import canonical_codes, write_uvarint, zigzag


def test_inflate_canonical_huffman_tables():
    # RFC 1951 §3.2.2 worked example: lengths (3,3,3,3,3,2,4,4) for A..H
    codes = canonical_codes([3, 3, 3, 3, 3, 2, 4, 4])
    # symbol F (index 5) has the unique 2-bit code 00
    assert codes[5] == (0b00, 2)
    # symbol A (index 0) -> 010
    assert codes[0] == (0b010, 3)
    # symbol G (index 6) -> 1110, H (7) -> 1111
    assert codes[6] == (0b1110, 4)
    assert codes[7] == (0b1111, 4)


def test_jpeg_dc_luminance_table():
    """T.81 Annex K.3 DC luminance table: symbol -> (code, length) as the
    JPEG codec's own T.81 C.2 walk produced it."""
    from flock_spark.operators.multimodal import _DC_BITS, _DC_VALS, _huff_codes

    assert _huff_codes(_DC_BITS, _DC_VALS) == {
        0: (0, 2), 1: (2, 3), 2: (3, 3), 3: (4, 3), 4: (5, 3), 5: (6, 3),
        6: (14, 4), 7: (30, 5), 8: (62, 6), 9: (126, 7), 10: (254, 8),
        11: (510, 9),
    }


def test_bzip2_length_vector():
    """Lengths not in symbol order, as bzip2's own code walk assigned them
    (its minimum length starts at code 0)."""
    assert canonical_codes([3, 2, 4, 3, 2, 4, 4, 4]) == [
        (4, 3), (0, 2), (12, 4), (5, 3), (1, 2), (13, 4), (14, 4), (15, 4),
    ]


def test_unused_symbols_get_no_code():
    assert canonical_codes([0, 1, 0, 1]) == [(0, 0), (0, 1), (0, 0), (1, 1)]
    assert canonical_codes([]) == []


# ---------------------------------------------------------------------------
# One varint bound: 10 bytes, in every reader
# ---------------------------------------------------------------------------

TRUNCATED = bytes([0x80])
ELEVEN = bytes([0x80] * 10 + [0x01])  # terminates, but on the 11th byte
MAX_U64 = write_uvarint((1 << 64) - 1)  # the longest legal varint


def _thrift(varint: bytes):
    from flock_spark.operators.formats import thrift_read_struct

    # field 1, type i64, the varint, then STOP unless the varint is cut
    # short (a STOP byte would complete it)
    stop = b"\x00" if varint[-1] < 0x80 else b""
    return thrift_read_struct(bytes([0x16]) + varint + stop, 0)[0][1]


def _protobuf(varint: bytes):
    from flock_spark.operators.orc_format import pb_decode

    return pb_decode(bytes([0x08]) + varint)[1][0]  # field 1, wire type 0


def _avro(varint: bytes):
    from flock_spark.operators.avro_format import read_long

    return read_long(varint, 0)[0]


READERS = [_thrift, _protobuf, _avro]


@pytest.mark.parametrize("read", READERS)
def test_readers_reject_truncated_varint(read):
    with pytest.raises(ValueError, match="varint"):
        read(TRUNCATED)


@pytest.mark.parametrize("read", READERS)
def test_readers_reject_11_byte_varint(read):
    with pytest.raises(ValueError, match="varint"):
        read(ELEVEN)


def test_readers_accept_10_byte_varint():
    assert len(MAX_U64) == 10
    assert _protobuf(MAX_U64) == (1 << 64) - 1
    lowest = write_uvarint(zigzag(-(1 << 63)))
    assert len(lowest) == 10
    assert _thrift(lowest) == -(1 << 63)
    assert _avro(lowest) == -(1 << 63)


def test_write_uvarint_rejects_values_outside_u64():
    for v in (-1, 1 << 64):
        with pytest.raises(ValueError):
            write_uvarint(v)
