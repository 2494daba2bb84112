"""Round-9 codec operators: genuinely compressed payload decode.

Non-vacuity discipline: these tests prove the codecs actually compress and
actually decode — property-based roundtrips across width boundaries and the
KwKwK case, framing/checksum rejection, and a dictionary-compression
assertion a passthrough implementation cannot satisfy."""

import hashlib

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from flock_spark.operators.multimodal import (
    PNG_ROW_W,
    _adler32,
    lzw_decode,
    lzw_encode,
    png_filter_rows,
    png_inflate_stored,
    png_stored_deflate,
    png_unfilter_rows,
)


# ---------------------------------------------------------------------------
# LZW
# ---------------------------------------------------------------------------


@settings(max_examples=60, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=3), max_size=3000))
def test_lzw_roundtrip_random(pixels):
    assert lzw_decode(lzw_encode(pixels)) == pixels


def test_lzw_roundtrip_long_crosses_width_boundaries():
    # >4096 table entries forces every width 3..12 plus the frozen-table
    # (deferred clear) regime
    rng = np.random.default_rng(11)
    pixels = rng.integers(0, 4, size=60_000).tolist()
    assert lzw_decode(lzw_encode(pixels)) == pixels


def test_lzw_kwkwk_case():
    # the classic self-referencing pattern: emitted code == next table slot
    pixels = [0, 0, 0, 0, 0, 0, 0, 0]
    assert lzw_decode(lzw_encode(pixels)) == pixels


def test_lzw_actually_compresses_repetitive_input():
    pixels = [1] * 4000  # 4000 px = 1000 bytes at raw 2bpp
    compressed = lzw_encode(pixels)
    assert len(compressed) < 1000 // 4, (
        f"dictionary not working: {len(compressed)} bytes for 4000 repeated px"
    )
    assert lzw_decode(compressed) == pixels


def test_lzw_stream_is_gif_framed():
    enc = lzw_encode([0, 1, 2, 3])
    assert enc[0] == 2  # min code size
    assert enc[-1] == 0  # block terminator
    # every sub-block's declared length walks exactly to the terminator
    pos = 1
    while enc[pos] != 0:
        pos += 1 + enc[pos]
    assert pos == len(enc) - 1


def test_lzw_rejects_malformed():
    with pytest.raises(ValueError):
        lzw_decode(b"")
    with pytest.raises(ValueError):
        lzw_decode(bytes([2, 5, 1, 2, 3]))  # block runs past end, no terminator


# ---------------------------------------------------------------------------
# PNG stored-block inflate + unfilter
# ---------------------------------------------------------------------------


@settings(max_examples=40, deadline=None)
@given(st.integers(min_value=1, max_value=40), st.integers(min_value=0, max_value=2**32 - 1))
def test_png_roundtrip_random_grids(h, seed):
    rng = np.random.default_rng(seed)
    grid = rng.integers(0, 256, size=(h, PNG_ROW_W), dtype=np.uint8)
    stream = png_stored_deflate(png_filter_rows(grid, np))
    recon = png_unfilter_rows(png_inflate_stored(stream), PNG_ROW_W, np)
    assert (recon == grid).all()


def test_png_multi_block_stream():
    # >65535 bytes of scanlines forces more than one stored block
    grid = np.arange(70_000 * PNG_ROW_W, dtype=np.int64).astype(np.uint8)[
        : 2200 * PNG_ROW_W
    ].reshape(2200, PNG_ROW_W)
    raw = png_filter_rows(grid, np)
    assert len(raw) > 65535
    stream = png_stored_deflate(raw)
    assert png_inflate_stored(stream) == raw


def test_png_filters_are_not_passthrough():
    # Sub/Up filtering must change the bytes (a passthrough "filter" would
    # make the inflate test vacuous)
    grid = np.arange(4 * PNG_ROW_W, dtype=np.uint8).reshape(4, PNG_ROW_W)
    raw = png_filter_rows(grid, np)
    stripped = b"".join(
        raw[y * (PNG_ROW_W + 1) + 1 : (y + 1) * (PNG_ROW_W + 1)] for y in range(4)
    )
    assert stripped != grid.tobytes()


def test_png_rejects_corruption():
    grid = np.arange(2 * PNG_ROW_W, dtype=np.uint8).reshape(2, PNG_ROW_W)
    stream = bytearray(png_stored_deflate(png_filter_rows(grid, np)))
    # flip one payload byte -> adler must catch it
    stream[10] ^= 0xFF
    with pytest.raises(ValueError, match="adler32|LEN"):
        png_inflate_stored(bytes(stream))
    # bad zlib header check bits
    with pytest.raises(ValueError, match="header"):
        png_inflate_stored(b"\x78\x02" + bytes(10))
    # non-stored BTYPE
    bad = b"\x78\x01" + bytes([0x02]) + bytes(10)
    with pytest.raises(ValueError, match="stored"):
        png_inflate_stored(bad)


def test_adler32_matches_zlib():
    import zlib

    for data in [b"", b"a", b"hello world" * 100, bytes(range(256)) * 300]:
        assert _adler32(data) == zlib.adler32(data)


# ---------------------------------------------------------------------------
# operator-level: decoded md5 equals the direct hash of the source sequence
# ---------------------------------------------------------------------------


def test_gif_lzw_operator_md5_matches_direct(spark, sf_dir):
    from flock_spark.registry import REGISTRY

    rows = {
        r["doc_id"]: r
        for r in REGISTRY["mm_gif_lzw_decode"].fn(spark, sf_dir).collect()
    }
    import duckdb

    src = duckdb.sql(
        f"SELECT doc_id, text FROM '{sf_dir}/documents.parquet' LIMIT 20"
    ).fetchall()
    checked = 0
    for doc_id, text in src:
        b = text.encode("utf-8")
        if not b or doc_id not in rows:
            continue
        px = [v % 4 for v in b]
        expect = hashlib.md5(",".join(map(str, px)).encode()).hexdigest()
        assert rows[doc_id]["decoded_md5"] == expect
        assert rows[doc_id]["n_px"] == len(px)
        checked += 1
    assert checked >= 10


# ---------------------------------------------------------------------------
# full RFC 1951 inflate vs the real stdlib compressor
# ---------------------------------------------------------------------------


def test_inflate_roundtrips_real_zlib_all_levels():
    import zlib

    from flock_spark.operators.multimodal import zlib_inflate

    rng = np.random.default_rng(5)
    cases = [
        b"",
        b"a",
        b"hello world" * 200,
        bytes(range(256)) * 50,
        rng.integers(0, 256, size=100_000, dtype=np.uint8).tobytes(),
        b"aaaaabbbbb" * 5000,  # long back-references, overlapping copies
    ]
    # level 0 = stored blocks, 1 = fast (fixed/dynamic mix), 6/9 = dynamic
    for lvl in (0, 1, 6, 9):
        for c in cases:
            assert zlib_inflate(zlib.compress(c, lvl)) == c


@settings(max_examples=50, deadline=None)
@given(st.binary(max_size=5000), st.sampled_from([0, 1, 6, 9]))
def test_inflate_roundtrip_property(data, level):
    import zlib

    from flock_spark.operators.multimodal import zlib_inflate

    assert zlib_inflate(zlib.compress(data, level)) == data


def test_inflate_handles_fixed_huffman_blocks():
    # hand-build a fixed-Huffman stream: zlib only sometimes emits BTYPE=01,
    # so exercise the fixed tables deterministically through a raw deflate
    # stream built by zlib with no container, then check our raw inflate
    import zlib

    from flock_spark.operators.multimodal import inflate

    co = zlib.compressobj(1, zlib.DEFLATED, -15)  # raw deflate, fast mode
    raw = co.compress(b"abc" * 20) + co.flush()
    assert inflate(raw) == b"abc" * 20


def test_inflate_rejects_malformed():
    import zlib

    from flock_spark.operators.multimodal import inflate, zlib_inflate

    with pytest.raises(ValueError):
        zlib_inflate(b"\x78\x02" + bytes(8))  # bad header check bits
    with pytest.raises(ValueError):
        zlib_inflate(b"\x79\x01" + bytes(8))  # CM != 8
    good = bytearray(zlib.compress(b"hello world hello world", 6))
    good[-1] ^= 0xFF  # corrupt adler trailer
    with pytest.raises(ValueError, match="adler32"):
        zlib_inflate(bytes(good))
    # reserved BTYPE=11: first block header bits BFINAL=1, BTYPE=3
    with pytest.raises(ValueError, match="BTYPE"):
        inflate(bytes([0b00000111, 0, 0]))
    # distance beyond window: length/dist pair pointing before start —
    # craft via truncation-free check on a corrupt dynamic stream is
    # overkill; the guard is unit-visible in inflate() (dist > len(out))


def test_decoders_reject_garbage_without_hanging():
    # a 100 TB scan decodes UNTRUSTED payloads: any malformed stream must
    # raise promptly (every code path consumes input monotonically), never
    # hang or return silently corrupt output that a checksum would catch
    import random
    import time

    from flock_spark.operators.multimodal import (
        lzw_decode,
        png_inflate_stored,
        zlib_inflate,
    )

    rng = random.Random(13)
    t0 = time.perf_counter()
    outcomes = {"raise": 0, "ok": 0}
    for _ in range(300):
        blob = bytes(rng.randrange(256) for _ in range(rng.randrange(1, 400)))
        for dec in (lzw_decode, zlib_inflate, png_inflate_stored):
            try:
                dec(blob)
                outcomes["ok"] += 1  # legal-by-luck garbage is acceptable
            except ValueError:
                outcomes["raise"] += 1
            except Exception as e:  # noqa: BLE001
                raise AssertionError(
                    f"{dec.__name__} leaked non-ValueError on garbage: {type(e).__name__}: {e}"
                )
    # no pathological slowdown across 900 decodes of garbage
    assert time.perf_counter() - t0 < 30
    assert outcomes["raise"] > 800  # virtually all garbage must be rejected
