"""Property-based (hypothesis) roundtrips for the from-spec codec pairs:
arbitrary byte strings through OUR encoder must decode identically via
the INDEPENDENT stdlib decoder (and our own decoder where one exists).
These complement the fixed/randomized cases in test_round12b_ops with
shrinking counterexample search."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

payloads = st.binary(min_size=0, max_size=4000)


@settings(max_examples=60, deadline=None)
@given(payloads)
def test_deflate_encode_any_bytes_zlib_decodes(data: bytes) -> None:
    import zlib

    from flock_spark.operators import multimodal as M

    stream = M.deflate_compress(data)
    d = zlib.decompressobj(-15)
    assert d.decompress(stream) == data and d.eof
    assert M.inflate(stream) == data


@settings(max_examples=40, deadline=None)
@given(payloads)
def test_bzip2_encode_any_bytes_libbz2_decodes(data: bytes) -> None:
    import bz2

    from flock_spark.operators import multimodal as M

    stream = M.bzip2_compress(data, block_cap=1200)
    assert bz2.decompress(stream) == data
    assert M.bzip2_decompress(stream) == data


@settings(max_examples=40, deadline=None)
@given(payloads)
def test_xz_any_bytes_roundtrip_via_liblzma(data: bytes) -> None:
    import lzma

    from flock_spark.operators import lzma_codec as L

    assert L.xz_decompress(
        lzma.compress(data, format=lzma.FORMAT_XZ,
                      check=lzma.CHECK_CRC64)) == data


@settings(max_examples=60, deadline=None)
@given(st.lists(st.integers(min_value=-(2**62), max_value=2**62),
                min_size=1, max_size=600))
def test_rlev2_encode_decode_any_ints(vals: list[int]) -> None:
    from flock_spark.operators.orc_format import rlev2_decode
    from flock_spark.operators.orc_writer import rlev2_encode

    assert rlev2_decode(rlev2_encode(vals, True), True) == vals


@settings(max_examples=60, deadline=None)
@given(st.lists(st.integers(min_value=-(2**62), max_value=2**62),
                min_size=1, max_size=600))
def test_parquet_delta_encode_decode_any_ints(vals: list[int]) -> None:
    from flock_spark.operators.formats import delta_binary_packed_decode
    from flock_spark.operators.parquet_writer import (
        delta_binary_packed_encode,
    )

    got, _ = delta_binary_packed_decode(delta_binary_packed_encode(vals))
    assert got == vals


@settings(max_examples=60, deadline=None)
@given(st.text(min_size=0, max_size=400))
def test_charset_transcoders_any_text(s: str) -> None:
    from flock_spark.operators import charset as C

    assert C.utf8_decode_strict(s.encode("utf-8")) == s
    assert C.utf16_decode(s.encode("utf-16-le"), False) == s
    assert C.utf16_decode(s.encode("utf-16-be"), True) == s


@settings(max_examples=60, deadline=None)
@given(payloads)
def test_utf8_validator_agrees_with_stdlib_on_any_bytes(data: bytes) -> None:
    from flock_spark.operators import charset as C

    try:
        want: str | None = data.decode("utf-8")
    except UnicodeDecodeError:
        want = None
    try:
        got: str | None = C.utf8_decode_strict(data)
    except ValueError:
        got = None
    assert (want is None) == (got is None)
    if want is not None:
        assert got == want


@settings(max_examples=60, deadline=None)
@given(payloads)
def test_snappy_encode_any_bytes_real_decoder(data: bytes) -> None:
    import pyarrow as pa

    from flock_spark.operators.formats import (
        snappy_compress,
        snappy_decompress,
    )

    s = snappy_compress(data)
    assert snappy_decompress(s) == data
    assert bytes(pa.Codec("snappy").decompress(s, len(data))) == data


@settings(max_examples=40, deadline=None)
@given(payloads)
def test_xz_encode_any_bytes_liblzma_decodes(data: bytes) -> None:
    import lzma

    from flock_spark.operators import lzma_codec as L

    x = L.xz_compress(data)
    assert lzma.decompress(x, format=lzma.FORMAT_XZ) == data
    assert L.xz_decompress(x) == data


@settings(max_examples=60, deadline=None)
@given(payloads, payloads)
def test_inflate_huffman_to_stored_block_transition(a: bytes, b: bytes) -> None:
    # round-13 regression: a huffman block that ends with >= 8 bits buffered
    # must not swallow the following stored block's header — align_byte()
    # has to rewind whole buffered bytes before dropping partial bits.
    # Z_FULL_FLUSH/Z_SYNC_FLUSH insert an empty STORED block mid-stream,
    # which is exactly that transition (152/200 such streams failed before
    # the fix).
    import zlib

    from flock_spark.operators.multimodal import inflate

    for flush in (zlib.Z_FULL_FLUSH, zlib.Z_SYNC_FLUSH):
        c = zlib.compressobj(6)
        s = c.compress(a) + c.flush(flush) + c.compress(b) + c.flush()
        assert inflate(s[2:-4]) == a + b


@settings(max_examples=40, deadline=None)
@given(payloads)
def test_zstd_decodes_any_bytes_pyarrow_encoded(data: bytes) -> None:
    import pyarrow as pa

    from flock_spark.operators.zstd_codec import zstd_frame_decompress

    assert zstd_frame_decompress(pa.compress(data, "zstd", asbytes=True)) == data


@settings(max_examples=60, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=3), max_size=6000))
def test_lzw_roundtrip_any_2bit_pixels(pixels: list[int]) -> None:
    from flock_spark.operators.multimodal import lzw_decode, lzw_encode

    assert lzw_decode(lzw_encode(pixels)) == pixels


@settings(max_examples=200, deadline=None)
@given(st.integers(min_value=0, max_value=2**64 - 1),
       st.integers(min_value=-(2**63), max_value=2**63 - 1))
def test_varint_zigzag_roundtrip_full_64_bit_range(u: int, s: int) -> None:
    from flock_spark.operators.bitio import (
        read_uvarint,
        unzigzag,
        write_uvarint,
        zigzag,
    )

    enc = b"\x05" + write_uvarint(u) + b"\x07"  # framed: offsets matter
    assert read_uvarint(enc, 1) == (u, len(enc) - 1)
    assert 0 <= zigzag(s) < 2**64 and unzigzag(zigzag(s)) == s


bit_fields = st.lists(
    st.integers(min_value=0, max_value=32).flatmap(
        lambda w: st.tuples(st.integers(min_value=0, max_value=(1 << w) - 1),
                            st.just(w))),
    max_size=200,
)


@settings(max_examples=100, deadline=None)
@given(bit_fields)
def test_bit_writer_reader_roundtrip_both_orders(fields) -> None:
    from flock_spark.operators.bitio import (
        LsbReader,
        LsbWriter,
        MsbReader,
        MsbWriter,
    )

    for writer, reader in ((LsbWriter, LsbReader), (MsbWriter, MsbReader)):
        w = writer()
        for v, width in fields:
            w.write(v, width)
        data = w.getvalue()
        total = sum(width for _, width in fields)
        assert len(data) == (total + 7) // 8
        r = reader(data)
        assert [r.read(width) for _, width in fields] == [v for v, _ in fields]
        assert r.align_byte() == len(data)
