"""Spark-free throughput of the package's from-spec decoders, on fixed corpora
built from the seed with reference encoders (stdlib zlib/bz2/lzma, pyarrow
zstd/snappy/lz4_raw, and the package's own GIF LZW encoder). The package is
imported when the corpora are built, after the caller has set up the
environment it reads at import."""

from __future__ import annotations

import bz2
import lzma
import random
import time
import zlib

import pyarrow as pa

CORPUS_BYTES = 64 * 1024
REPEATS = 5
CODECS = ("inflate", "lzw", "bzip2", "xz", "zstd", "snappy", "lz4")


def text_corpus(seed: int, size: int = CORPUS_BYTES) -> bytes:
    """Word-like text over a seeded 500-word vocabulary: compressible the way
    crawl text is, different for every seed."""
    rng = random.Random(seed)
    vocab = [
        "".join(rng.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(rng.randint(2, 9)))
        for _ in range(500)
    ]
    out = bytearray()
    while len(out) < size:
        out += rng.choice(vocab).encode() + b" "
    return bytes(out[:size])


def corpora(seed: int) -> dict[str, tuple[bytes, object, object]]:
    """codec -> (encoded bytes, decoder, expected decoder output)."""
    from flock_spark.operators.formats import snappy_decompress
    from flock_spark.operators.lzma_codec import xz_decompress
    from flock_spark.operators.multimodal import (
        bzip2_decompress,
        lz4_block_decompress,
        lzw_decode,
        lzw_encode,
        zlib_inflate,
    )
    from flock_spark.operators.zstd_codec import zstd_frame_decompress

    src = text_corpus(seed)
    pixels = [b % 4 for b in src]  # the GIF LZW codec's 2-bit pixel alphabet
    return {
        "inflate": (zlib.compress(src, 6), zlib_inflate, src),
        "lzw": (lzw_encode(pixels), lzw_decode, pixels),
        "bzip2": (bz2.compress(src, 9), bzip2_decompress, src),
        "xz": (lzma.compress(src), xz_decompress, src),
        "zstd": (pa.compress(src, "zstd", asbytes=True), zstd_frame_decompress, src),
        "snappy": (pa.compress(src, "snappy", asbytes=True), snappy_decompress, src),
        "lz4": (pa.compress(src, "lz4_raw", asbytes=True), lz4_block_decompress, src),
    }


def measure(seed: int) -> tuple[dict[str, float], list[str]]:
    """Median decoded MB/s per codec over REPEATS decodes, and the codecs whose
    output differed from the source (their MB/s is reported as 0)."""
    mb_s: dict[str, float] = {}
    wrong: list[str] = []
    for name, (enc, decode, expected) in corpora(seed).items():
        times = []
        for _ in range(REPEATS):
            t0 = time.perf_counter()
            out = decode(enc)
            times.append(time.perf_counter() - t0)
            if out != expected:
                wrong.append(name)
                break
        times.sort()
        mb_s[name] = 0.0 if name in wrong else len(expected) / 1e6 / times[len(times) // 2]
    return mb_s, wrong
