"""Byte-layer primitives shared by the from-spec codecs and file formats:
LSB-first and MSB-first bit readers and writers, ULEB128 varints with
zigzag signing, the canonical Huffman code assignment, and CRC-32.

Standard library only. Every reader raises ValueError on input that ends
early or breaks a bound, never IndexError.
"""

from __future__ import annotations

# A varint carries 7 bits per byte, so 10 bytes hold any 64-bit value
# (protobuf, Thrift compact and Avro all cap it there).
UVARINT_MAX_BYTES = 10


class _BitReader:
    """Shared state of the two bit readers: ``pos`` is the next byte not yet
    buffered, ``bitbuf`` holds ``nbits`` buffered bits. Refills take several
    bytes at once, so ``pos`` may run ahead of the bits consumed."""

    __slots__ = ("data", "pos", "bitbuf", "nbits")

    def __init__(self, data: bytes, pos: int = 0) -> None:
        self.data = data
        self.pos = pos
        self.bitbuf = 0
        self.nbits = 0

    def align_byte(self) -> int:
        """Drop the partial byte's unread bits and return the position of
        the next whole byte. Whole buffered bytes go back to the stream, so
        byte-aligned framing after a bit-packed section reads from the
        right place."""
        self.pos -= self.nbits >> 3
        self.bitbuf = 0
        self.nbits = 0
        return self.pos


class LsbReader(_BitReader):
    """LSB-first: the first stream bit is bit 0 of the first byte, and a
    field's low bit comes first (DEFLATE, GIF LZW, zstd headers)."""

    __slots__ = ()

    def read(self, width: int) -> int:
        nbits = self.nbits
        if nbits < width:
            pos = self.pos
            chunk = self.data[pos : pos + 6 + ((width - nbits) >> 3)]
            self.bitbuf |= int.from_bytes(chunk, "little") << nbits
            self.pos = pos + len(chunk)
            nbits += len(chunk) << 3
            if nbits < width:
                raise ValueError("truncated bit stream")
        v = self.bitbuf & ((1 << width) - 1)
        self.bitbuf >>= width
        self.nbits = nbits - width
        return v


class MsbReader(_BitReader):
    """MSB-first: the first stream bit is bit 7 of the first byte, and a
    field's high bit comes first (bzip2, ORC bit packing, JPEG)."""

    __slots__ = ()

    def read(self, width: int) -> int:
        nbits = self.nbits
        if nbits < width:
            pos = self.pos
            chunk = self.data[pos : pos + 6 + ((width - nbits) >> 3)]
            self.bitbuf = (self.bitbuf << (len(chunk) << 3)) | int.from_bytes(
                chunk, "big"
            )
            self.pos = pos + len(chunk)
            nbits += len(chunk) << 3
            if nbits < width:
                raise ValueError("truncated bit stream")
        nbits -= width
        v = self.bitbuf >> nbits
        self.bitbuf &= (1 << nbits) - 1
        self.nbits = nbits
        return v


class _BitWriter:
    """Shared state of the two bit writers: whole bytes go to ``out``,
    ``acc`` holds the ``nbits`` (< 8) bits of the partial byte."""

    __slots__ = ("out", "acc", "nbits")

    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0


class LsbWriter(_BitWriter):
    """Writes what LsbReader reads."""

    __slots__ = ()

    def write(self, value: int, width: int) -> None:
        """Append the low ``width`` bits of ``value``, low bit first."""
        acc = self.acc | ((value & ((1 << width) - 1)) << self.nbits)
        nbits = self.nbits + width
        out = self.out
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8
        self.acc = acc
        self.nbits = nbits

    def getvalue(self) -> bytes:
        """The bytes written so far, the partial byte zero-padded."""
        return bytes(self.out) + (bytes([self.acc]) if self.nbits else b"")


class MsbWriter(_BitWriter):
    """Writes what MsbReader reads."""

    __slots__ = ()

    def write(self, value: int, width: int) -> None:
        """Append the low ``width`` bits of ``value``, high bit first."""
        acc = (self.acc << width) | (value & ((1 << width) - 1))
        nbits = self.nbits + width
        out = self.out
        while nbits >= 8:
            nbits -= 8
            out.append((acc >> nbits) & 0xFF)
        self.acc = acc & ((1 << nbits) - 1)
        self.nbits = nbits

    def getvalue(self) -> bytes:
        """The bytes written so far, the partial byte zero-padded."""
        if not self.nbits:
            return bytes(self.out)
        return bytes(self.out) + bytes([self.acc << (8 - self.nbits)])


def read_uvarint(data: bytes, pos: int) -> tuple[int, int]:
    """ULEB128 unsigned varint at ``pos`` -> (value, next_pos). Raises
    ValueError when the input ends first or the varint runs past
    UVARINT_MAX_BYTES bytes."""
    value = 0
    for shift in range(0, 7 * UVARINT_MAX_BYTES, 7):
        if pos >= len(data):
            raise ValueError("truncated varint")
        b = data[pos]
        pos += 1
        value |= (b & 0x7F) << shift
        if b < 0x80:
            return value, pos
    raise ValueError(f"varint longer than {UVARINT_MAX_BYTES} bytes")


def write_uvarint(value: int) -> bytes:
    """ULEB128 encode of an unsigned 64-bit value."""
    if not 0 <= value < 1 << 64:
        raise ValueError(f"varint value {value} outside the unsigned 64-bit range")
    out = bytearray()
    while value > 0x7F:
        out.append((value & 0x7F) | 0x80)
        value >>= 7
    out.append(value)
    return bytes(out)


def zigzag(v: int) -> int:
    """Signed 64-bit -> unsigned, small magnitudes to small values."""
    return (v << 1) ^ (v >> 63)


def unzigzag(u: int) -> int:
    """Inverse of zigzag."""
    return (u >> 1) ^ -(u & 1)


def canonical_codes(lengths: list[int]) -> list[tuple[int, int]]:
    """Symbol -> (code, length) by the canonical assignment of RFC 1951
    §3.2.2: shorter codes first, symbol order within a length, each code
    numerically the previous one plus one. JPEG (T.81 C.2, over the VALS
    order) and bzip2 use the same assignment. Length 0 marks an unused
    symbol and yields (0, 0)."""
    max_len = max(lengths, default=0)
    bl_count = [0] * (max_len + 1)
    for ln in lengths:
        if ln:
            bl_count[ln] += 1
    code = 0
    next_code = [0] * (max_len + 1)
    for bits in range(1, max_len + 1):
        code = (code + bl_count[bits - 1]) << 1
        next_code[bits] = code
    out = []
    for ln in lengths:
        if ln:
            out.append((next_code[ln], ln))
            next_code[ln] += 1
        else:
            out.append((0, 0))
    return out


_CRC32_TABLE8: list[list[int]] = []


def crc32(data: bytes, crc: int = 0) -> int:
    """Table-driven CRC-32/ISO-HDLC (reflected polynomial 0xEDB88320), the
    checksum of gzip, zip, PNG, xz and Avro's snappy codec.

    Deliberately not zlib.crc32: fixture writers stamp trailers with the
    stdlib (the other party), and validation runs this implementation, so a
    bug here mismatches real-world checksums instead of agreeing with
    itself."""
    if not _CRC32_TABLE8:
        base = []
        for n in range(256):
            c = n
            for _ in range(8):
                c = (c >> 1) ^ 0xEDB88320 if c & 1 else c >> 1
            base.append(c)
        # slicing-by-8 companion tables (table k advances a byte's
        # contribution k more bytes forward): the standard widening of the
        # spec's table-driven form
        tabs = [base]
        for _ in range(7):
            tabs.append([base[v & 0xFF] ^ (v >> 8) for v in tabs[-1]])
        _CRC32_TABLE8.extend(tabs)
    t0, t1, t2, t3, t4, t5, t6, t7 = _CRC32_TABLE8
    c = crc ^ 0xFFFFFFFF
    n8 = len(data) - (len(data) & 7)
    i = 0
    while i < n8:
        lo = c ^ int.from_bytes(data[i : i + 4], "little")
        hi = int.from_bytes(data[i + 4 : i + 8], "little")
        c = (
            t7[lo & 0xFF]
            ^ t6[(lo >> 8) & 0xFF]
            ^ t5[(lo >> 16) & 0xFF]
            ^ t4[lo >> 24]
            ^ t3[hi & 0xFF]
            ^ t2[(hi >> 8) & 0xFF]
            ^ t1[(hi >> 16) & 0xFF]
            ^ t0[hi >> 24]
        )
        i += 8
    for b in data[n8:]:
        c = t0[(c ^ b) & 0xFF] ^ (c >> 8)
    return c ^ 0xFFFFFFFF
