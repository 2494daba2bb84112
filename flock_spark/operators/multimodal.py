"""Multimodal column plumbing: opaque binary payloads + typed metadata.

The container has no image/audio libraries, so the *decode* step is stubbed
(import-gated, deterministic fake), but everything Spark-side is real and
tested: binary columns, Arrow-batched mapInPandas with an explicit output
schema, per-batch processing shape, and frame-index expansion.

The synthetic payload is the document text encoded as UTF-8 bytes — which
makes even the pandas-UDF path *oracle-checkable*: byte length, md5, and the
hash-derived fake decode dimensions are all reproducible in DuckDB SQL.

Scale: mapInPandas streams Arrow batches — constant memory per task, no
per-row Python. Real decode at 100 TB would bump
spark.sql.execution.arrow.maxRecordsPerBatch down so image batches fit in
executor memory; the partitioning/schema here would not change.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flock_spark.catalog import spread, tbl
from flock_spark.operators.bitio import (
    LsbReader,
    LsbWriter,
    MsbReader,
    MsbWriter,
    canonical_codes,
    crc32,
)
from flock_spark.operators.digests import (
    _PAYLOAD_CASE,
    _PLAIN_ORACLE,
    _ZSTD_ORACLE,
    byte_roundtrip,
)
from flock_spark.registry import register

try:  # decode libs absent in this container — gate, don't fail at import
    from PIL import Image  # noqa: F401

    HAS_PIL = True
except ImportError:
    HAS_PIL = False


def decode_image(payload: bytes) -> tuple[int, int]:
    """Real decode when PIL exists; deterministic md5-derived fake otherwise.

    The fake keeps the full pipeline runnable and verifiable: dimensions are
    a pure function of the payload bytes.
    """
    if HAS_PIL:
        raise NotImplementedError("real image decode path not exercised in this container")
    h = int(hashlib.md5(payload).hexdigest()[:15], 16)
    return h % 1920, h % 1080


@register(
    "mm_meta_extract",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
           md5(text) AS content_md5,
           (('0x' || substring(md5(text), 1, 15))::BIGINT % 1920) AS fake_width,
           (('0x' || substring(md5(text), 1, 15))::BIGINT % 1080) AS fake_height
    FROM documents
    """,
    tags=("multimodal", "pandas_udf"),
    doc="Binary metadata extraction via mapInPandas: payload = utf-8 bytes of "
    "text; outputs byte length, content md5, and (stubbed) decode dimensions. "
    "Exercises the real multimodal plumbing — binary column, Arrow batch "
    "iterator, explicit schema — with an exact SQL oracle.",
)
def mm_meta_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tbl(spark, sf_dir, "documents").select(
        "doc_id", F.col("text").cast("binary").alias("payload")
    )

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf["payload"]
            md5s = [hashlib.md5(p).hexdigest() for p in payloads]
            dims = [decode_image(p) for p in payloads]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "byte_len": [len(p) for p in payloads],
                    "content_md5": md5s,
                    "fake_width": [w for w, _ in dims],
                    "fake_height": [h for _, h in dims],
                }
            )

    return spread(d).mapInPandas(
        extract,
        schema="doc_id long, byte_len long, content_md5 string, fake_width long, fake_height long",
    )


@register(
    "mm_frame_index",
    oracle="""
    SELECT doc_id, unnest(generate_series(0, n_frames - 1)) AS frame_idx,
           n_frames
    FROM (SELECT doc_id,
                 CAST(floor(octet_length(encode(text)) / 16) AS BIGINT) AS n_frames
          FROM documents) t
    WHERE n_frames > 0
    """,
    tags=("multimodal",),
    doc="Frame sampling shape for video-like payloads: one row per 16-byte "
    "'frame'. Pure JVM-side sequence+explode — the row-expansion pattern a "
    "frame extractor plugs into (the decode itself stays in mapInPandas).",
)
def mm_frame_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tbl(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr("CAST(floor(length(cast(text AS binary)) / 16) AS BIGINT)").alias("n_frames"),
    ).filter(F.col("n_frames") > 0)
    return d.select(
        "doc_id",
        F.explode(F.expr("sequence(CAST(0 AS BIGINT), n_frames - 1)")).alias("frame_idx"),
        "n_frames",
    )


RESIZE_SRC_W = 32  # raw grayscale layout: 32 bytes per scanline
RESIZE_TW = 8  # target width
RESIZE_TH = 8  # target height


@register(
    "mm_resize_nearest",
    oracle=f"""
    WITH img AS (
      SELECT doc_id, hex(encode(text)) AS hx,
             CAST(floor(octet_length(encode(text)) / {RESIZE_SRC_W}) AS BIGINT) AS src_h
      FROM documents
      WHERE octet_length(encode(text)) >= {RESIZE_SRC_W}),
    grid AS (
      SELECT i.doc_id, y.y, x.x,
             (CAST(floor(y.y * i.src_h / {RESIZE_TH}) AS BIGINT) * {RESIZE_SRC_W}
              + CAST(floor(x.x * {RESIZE_SRC_W} / {RESIZE_TW}) AS BIGINT)) AS src_idx
      FROM img i,
           (SELECT unnest(generate_series(0, {RESIZE_TH - 1})) AS y) y,
           (SELECT unnest(generate_series(0, {RESIZE_TW - 1})) AS x) x),
    px AS (
      SELECT g.doc_id, g.y, g.x,
             substring(i.hx, g.src_idx * 2 + 1, 2) AS phex,
             ('0x' || substring(i.hx, g.src_idx * 2 + 1, 2))::BIGINT AS pval
      FROM grid g JOIN img i ON g.doc_id = i.doc_id)
    SELECT doc_id,
           md5(string_agg(phex, '' ORDER BY y, x)) AS resized_md5,
           CAST(sum(pval) AS BIGINT) AS pixel_sum,
           {RESIZE_TW} AS target_w, {RESIZE_TH} AS target_h
    FROM px GROUP BY doc_id
    """,
    tags=("multimodal", "pandas_udf"),
    doc=f"Real nearest-neighbor image resample, no codec needed: the payload "
    f"bytes are a raw grayscale grid ({RESIZE_SRC_W} bytes per scanline, "
    f"height = len // {RESIZE_SRC_W}), resampled H x {RESIZE_SRC_W} -> "
    f"{RESIZE_TH} x {RESIZE_TW} with the standard integer index map "
    f"src_y = y*H // {RESIZE_TH}, src_x = x*W // {RESIZE_TW} (numpy fancy "
    "indexing per Arrow batch). The oracle re-derives the identical index "
    "map in SQL over hex(encode(text)) and md5s the same pixel sequence — "
    "the resample itself is cross-engine verified, not just its plumbing. "
    "Scale: mapInPandas streams Arrow batches, constant memory per task; a "
    "codec-backed decode would swap only the np.frombuffer line.",
)
def mm_resize_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    d = (
        tbl(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter(F.length(F.col("text").cast("binary")) >= RESIZE_SRC_W)
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        xs = (np.arange(RESIZE_TW) * RESIZE_SRC_W) // RESIZE_TW
        for pdf in batches:
            out_md5, out_sum = [], []
            for t in pdf["text"]:
                b = t.encode("utf-8")
                src_h = len(b) // RESIZE_SRC_W
                arr = np.frombuffer(b[: src_h * RESIZE_SRC_W], dtype=np.uint8).reshape(
                    src_h, RESIZE_SRC_W
                )
                yidx = (np.arange(RESIZE_TH) * src_h) // RESIZE_TH
                resized = arr[np.ix_(yidx, xs)]
                # DuckDB hex() is uppercase; md5 the same hex text both sides
                out_md5.append(
                    hashlib.md5(resized.tobytes().hex().upper().encode()).hexdigest()
                )
                out_sum.append(int(resized.sum()))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "resized_md5": out_md5,
                    "pixel_sum": out_sum,
                    "target_w": RESIZE_TW,
                    "target_h": RESIZE_TH,
                }
            )

    return spread(d).mapInPandas(
        run,
        schema="doc_id long, resized_md5 string, pixel_sum long, "
        "target_w int, target_h int",
    )


AUDIO_WINDOW = 32  # fake-PCM samples (bytes) per analysis window


@register(
    "mm_audio_window_energy",
    oracle=f"""
    WITH samples AS (
      SELECT doc_id,
             unnest(generate_series(1, octet_length(encode(text)))) AS i
      FROM documents),
    v AS (
      SELECT s.doc_id,
             CAST(floor((s.i - 1) / {AUDIO_WINDOW}) AS BIGINT) AS window_idx,
             ('0x' || substring(hex(encode(d.text)), s.i * 2 - 1, 2))::BIGINT AS amp
      FROM samples s JOIN documents d ON s.doc_id = d.doc_id)
    SELECT doc_id, window_idx,
           CAST(sum(amp * amp) AS BIGINT) AS energy,
           count(*) AS n_samples
    FROM v GROUP BY doc_id, window_idx
    """,
    tags=("multimodal", "pandas_udf", "audio"),
    doc=f"Audio feature-extraction shape: payload bytes as fake PCM samples, "
    f"per-{AUDIO_WINDOW}-sample window energy (sum of squares) computed "
    "vectorized per Arrow batch (np.frombuffer + reshape — the same batch "
    "shape a real frame-energy/FFT extractor uses). Completes the "
    "image/audio/video transform triple; decode stays honest-fake (UTF-8 "
    "text bytes), which is exactly what makes the energy oracle-checkable. "
    "The oracle reads each byte's value from hex(encode(text)) — byte-exact "
    "with np.frombuffer(uint8) even on non-ASCII text (character-based "
    "ascii()/length() would diverge there).",
)
def mm_audio_window_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    d = tbl(spark, sf_dir, "documents").select(
        "doc_id", F.col("text").cast("binary").alias("payload")
    )

    def energy(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_doc, out_w, out_e, out_n = [], [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                amps = np.frombuffer(bytes(payload), dtype=np.uint8).astype(np.int64)
                n = len(amps)
                if n == 0:
                    continue
                n_windows = -(-n // AUDIO_WINDOW)
                padded = np.zeros(n_windows * AUDIO_WINDOW, dtype=np.int64)
                padded[:n] = amps
                sq = (padded * padded).reshape(n_windows, AUDIO_WINDOW).sum(axis=1)
                counts = np.full(n_windows, AUDIO_WINDOW, dtype=np.int64)
                counts[-1] = n - (n_windows - 1) * AUDIO_WINDOW
                out_doc.extend([doc_id] * n_windows)
                out_w.extend(range(n_windows))
                out_e.extend(sq.tolist())
                out_n.extend(counts.tolist())
            yield pd.DataFrame(
                {"doc_id": out_doc, "window_idx": out_w, "energy": out_e, "n_samples": out_n}
            )

    return spread(d).mapInPandas(
        energy, schema="doc_id long, window_idx long, energy long, n_samples long"
    )


FRAME_BYTES = 16
FRAME_STRIDE = 7  # sample every 7th frame
FRAME_CAP = 8  # at most 8 sampled frames per payload


@register(
    "mm_frame_sample",
    oracle=f"""
    WITH frames AS (
      SELECT doc_id, n_frames,
             unnest(generate_series(0, least({FRAME_CAP} - 1,
                                             (n_frames - 1) // {FRAME_STRIDE})))
               AS sample_idx
      FROM (SELECT doc_id,
                   CAST(floor(octet_length(encode(text)) / {FRAME_BYTES}) AS BIGINT)
                     AS n_frames
            FROM documents) t
      WHERE n_frames > 0
    )
    SELECT f.doc_id, f.sample_idx,
           f.sample_idx * {FRAME_STRIDE} AS frame_idx,
           md5(lower(substring(hex(encode(d.text)),
                               CAST(f.sample_idx * {FRAME_STRIDE} * {FRAME_BYTES} * 2 + 1 AS INT),
                               {FRAME_BYTES * 2}))) AS frame_md5
    FROM frames f JOIN documents d ON f.doc_id = d.doc_id
    """,
    tags=("multimodal", "pandas_udf"),
    doc=f"Frame SAMPLING for video-like payloads (vs mm_frame_index's full "
    f"enumeration): every {FRAME_STRIDE}th {FRAME_BYTES}-byte frame, capped "
    f"at {FRAME_CAP} per payload, extracted in mapInPandas with a content "
    "md5 per sampled frame — the bounded-output pattern a training "
    "pipeline uses so per-video cost is O(cap), not O(duration). The "
    "Arrow batch sees the payload once and emits only sampled frames; "
    "the oracle replays stride+cap+digest in SQL, so the sampled set and "
    "frame contents are value-verified. The digest is md5 over the frame's "
    "lowercase hex — BOTH engines slice the same byte representation "
    "(DuckDB md5/substring are VARCHAR-only, so raw-byte slicing would "
    "silently fall back to characters and diverge on non-ASCII text). "
    "Frame decode itself stays behind the stubbed codec boundary (no "
    "image/video libs in this container).",
)
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tbl(spark, sf_dir, "documents").select(
        "doc_id", F.col("text").cast("binary").alias("payload")
    )

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_doc, out_sidx, out_fidx, out_md5 = [], [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                n_frames = len(payload) // FRAME_BYTES
                for sample_idx in range(FRAME_CAP):
                    frame_idx = sample_idx * FRAME_STRIDE
                    if frame_idx >= n_frames:
                        break
                    start = frame_idx * FRAME_BYTES
                    frame = bytes(payload[start : start + FRAME_BYTES])
                    out_doc.append(doc_id)
                    out_sidx.append(sample_idx)
                    out_fidx.append(frame_idx)
                    # digest over lowercase hex: the byte representation both
                    # engines can slice and md5 identically (see oracle doc)
                    out_md5.append(hashlib.md5(frame.hex().encode()).hexdigest())
            yield pd.DataFrame(
                {
                    "doc_id": out_doc,
                    "sample_idx": out_sidx,
                    "frame_idx": out_fidx,
                    "frame_md5": out_md5,
                }
            )

    return spread(d).mapInPandas(
        sample,
        schema="doc_id long, sample_idx long, frame_idx long, frame_md5 string",
    )


@register(
    "mm_phash64",
    oracle="""
    WITH hx AS (SELECT doc_id, hex(encode(text)) AS h,
                       octet_length(encode(text)) AS n
                FROM documents),
    ix AS (SELECT doc_id, h, n, unnest(generate_series(1, n)) AS i FROM hx),
    b AS (SELECT doc_id, n, i,
                 ('0x' || substring(h, 2*i - 1, 2))::BIGINT AS v,
                 ((i - 1) * 64) // n AS c
          FROM ix),
    ch AS (SELECT doc_id, c, sum(v) AS s, count(*) AS k, max(n) AS n
           FROM b GROUP BY doc_id, c),
    tot AS (SELECT doc_id, sum(v) AS total FROM b GROUP BY doc_id),
    bits AS (SELECT ch.doc_id, ch.c,
                    CASE WHEN ch.s * ch.n > tot.total * ch.k THEN 1 ELSE 0 END AS bit
             FROM ch JOIN tot ON ch.doc_id = tot.doc_id)
    SELECT doc_id,
           CAST(sum(CASE WHEN c // 16 = 0 THEN bit * (CAST(1 AS BIGINT) << (15 - c % 16)) ELSE 0 END) AS BIGINT) AS w0,
           CAST(sum(CASE WHEN c // 16 = 1 THEN bit * (CAST(1 AS BIGINT) << (15 - c % 16)) ELSE 0 END) AS BIGINT) AS w1,
           CAST(sum(CASE WHEN c // 16 = 2 THEN bit * (CAST(1 AS BIGINT) << (15 - c % 16)) ELSE 0 END) AS BIGINT) AS w2,
           CAST(sum(CASE WHEN c // 16 = 3 THEN bit * (CAST(1 AS BIGINT) << (15 - c % 16)) ELSE 0 END) AS BIGINT) AS w3
    FROM bits GROUP BY doc_id
    """,
    tags=("multimodal", "pandas_udf", "fingerprint"),
    doc="64-bit perceptual hash (aHash family) over an opaque binary payload: "
    "the payload is split into 64 equal chunks, each bit = (chunk mean > "
    "global mean), emitted as four 16-bit words ready for the banded-Hamming "
    "near-dup join that dedup.simhash already provides (band equality → "
    "candidate pair → exact bit_count(xor) distance). This is the image "
    "near-dup primitive of a multimodal training pipeline — on real data the "
    "payload would be decoded pixels (decode_image above); here it is the "
    "raw bytes so the whole path stays oracle-exact. Extraction is "
    "numpy-vectorized inside Arrow batches (np.bincount over a chunk-index "
    "map — no per-byte Python); the comparison rule is pure integer math "
    "(sum_c * n_total > total * k_c), bit-identical in the byte-explode SQL "
    "oracle. Scale: narrow mapInPandas, constant memory per batch, output "
    "8 bytes/row regardless of payload size.",
)
def mm_phash64(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    d = tbl(spark, sf_dir, "documents").select(
        "doc_id", F.col("text").cast("binary").alias("payload")
    )

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            doc_ids: list[int] = []
            words: list[list[int]] = [[], [], [], []]
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                if payload is None:
                    # NULL text: the oracle's unnest(generate_series(1, NULL))
                    # emits nothing for the doc — skip, don't crash
                    continue
                b = np.frombuffer(payload, dtype=np.uint8).astype(np.int64)
                n = len(b)
                if n == 0:
                    # no bytes → no hash row, matching the oracle's
                    # generate_series(1, 0) emitting nothing for the doc
                    continue
                doc_ids.append(int(doc_id))
                chunks = (np.arange(n) * 64) // n
                sums = np.bincount(chunks, weights=b, minlength=64).astype(np.int64)
                cnts = np.bincount(chunks, minlength=64).astype(np.int64)
                bits = (sums * n > int(b.sum()) * cnts).astype(np.int64)
                weights = 1 << (15 - np.arange(16))
                for k in range(4):
                    words[k].append(int((bits[16 * k : 16 * k + 16] * weights).sum()))
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(doc_ids, dtype="int64"),
                    "w0": pd.Series(words[0], dtype="int64"),
                    "w1": pd.Series(words[1], dtype="int64"),
                    "w2": pd.Series(words[2], dtype="int64"),
                    "w3": pd.Series(words[3], dtype="int64"),
                }
            )

    return spread(d).mapInPandas(extract, schema="doc_id long, w0 long, w1 long, w2 long, w3 long")


@register(
    "mm_byte_histogram",
    oracle="""
    WITH hx AS (SELECT doc_id, hex(encode(text)) AS h,
                       octet_length(encode(text)) AS n
                FROM documents WHERE octet_length(encode(text)) > 0),
    ix AS (SELECT doc_id, h, unnest(generate_series(1, n)) AS i FROM hx),
    b AS (SELECT doc_id, ('0x' || substring(h, 2*i - 1, 2))::BIGINT AS v FROM ix),
    cnt AS (SELECT doc_id, v, count(*) AS c FROM b GROUP BY doc_id, v)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS distinct_bytes,
           min(v) AS min_byte,
           max(v) AS max_byte,
           CAST(max(c) AS BIGINT) AS top_byte_cnt,
           min(CASE WHEN c = mx THEN v END) AS top_byte
    FROM (SELECT *, max(c) OVER (PARTITION BY doc_id) AS mx FROM cnt) t
    GROUP BY doc_id
    """,
    tags=("multimodal", "pandas_udf"),
    doc="Byte-distribution profile of an opaque binary payload: distinct "
    "byte values, min/max byte, and the modal byte with its count (ties "
    "resolve to the lowest byte value) — the cheap signal that separates "
    "text-like from compressed/encrypted payloads before any decoder runs "
    "(a text payload uses a narrow, skewed byte range; a compressed one is "
    "near-uniform over 256 values). np.bincount per payload inside Arrow "
    "batches — constant memory, integer-exact against the byte-explode "
    "SQL oracle; at scale this runs in the same mapInPandas pass as the "
    "other extractors, one corpus scan for the whole feature block.",
)
def mm_byte_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    d = tbl(spark, sf_dir, "documents").select(
        "doc_id", F.col("text").cast("binary").alias("payload")
    )

    def profile(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in
                   ("doc_id", "distinct_bytes", "min_byte", "max_byte",
                    "top_byte_cnt", "top_byte")}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                # NULL text → None payload: the oracle drops those docs via
                # octet_length(encode(text)) > 0, so skip, don't crash
                if payload is None:
                    continue
                b = np.frombuffer(payload, dtype=np.uint8)
                if len(b) == 0:
                    continue
                cnts = np.bincount(b, minlength=256)
                nz = np.nonzero(cnts)[0]
                out["doc_id"].append(int(doc_id))
                out["distinct_bytes"].append(int(len(nz)))
                out["min_byte"].append(int(nz[0]))
                out["max_byte"].append(int(nz[-1]))
                top_cnt = int(cnts.max())
                out["top_byte_cnt"].append(top_cnt)
                # argmax returns the FIRST max — lowest byte value on ties,
                # matching the oracle's min(CASE WHEN c = mx ...)
                out["top_byte"].append(int(np.argmax(cnts)))
            yield pd.DataFrame({k: pd.Series(v, dtype="int64") for k, v in out.items()})

    return spread(d).mapInPandas(
        profile,
        schema="doc_id long, distinct_bytes long, min_byte long, max_byte long, "
        "top_byte_cnt long, top_byte long",
    )


# ---------------------------------------------------------------------------
# Container-header parsing (real byte-layout decode — no codec needed)
# ---------------------------------------------------------------------------

PNG_SIG = bytes([137, 80, 78, 71, 13, 10, 26, 10])
HDR_W_MOD, HDR_H_MOD = 4080, 2144  # synthetic dims: 16..4095 × 16..2159


@register(
    "mm_header_dims",
    oracle=f"""
    SELECT doc_id,
           CAST(29 + octet_length(encode(text)) AS BIGINT) AS byte_len,
           CAST(16 + doc_id % {HDR_W_MOD} AS BIGINT) AS width,
           CAST(16 + (doc_id * 7) % {HDR_H_MOD} AS BIGINT) AS height,
           TRUE AS sig_ok
    FROM documents
    """,
    tags=("multimodal", "pandas_udf"),
    doc="Image-dimension extraction from the container HEADER — the "
    "production fast path for size/aspect filtering that reads 24 bytes "
    "per object instead of decoding pixels (decode needs a codec library; "
    "header parsing needs none, so like mm_resize_nearest this step is "
    "REAL end to end). The fixture wraps each document in a valid PNG "
    "prefix (8-byte signature + IHDR chunk with big-endian uint32 "
    "width/height derived from doc_id), and the operator parses the "
    "actual byte layout back: signature compare + offset-16/20 "
    "big-endian reads, vectorized per Arrow batch in mapInPandas. The "
    "oracle recomputes the dims arithmetically from doc_id, so a parse "
    "that read the wrong offsets or endianness would hash-mismatch. At "
    "100 TB this runs as a range-request over object-store headers — "
    "same schema, the payload column just isn't materialized.",
)
def mm_header_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tbl(spark, sf_dir, "documents").select("doc_id", "text")

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import struct

        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                w = 16 + int(doc_id) % HDR_W_MOD
                h = 16 + (int(doc_id) * 7) % HDR_H_MOD
                body = str(text).encode("utf-8")
                payload = (
                    PNG_SIG
                    + struct.pack(">I", 13)
                    + b"IHDR"
                    + struct.pack(">II", w, h)
                    + bytes([8, 2, 0, 0, 0])
                    + body
                )
                # the parse half — what production runs against real files:
                sig_ok = payload[:8] == PNG_SIG and payload[12:16] == b"IHDR"
                pw = int.from_bytes(payload[16:20], "big")
                ph = int.from_bytes(payload[20:24], "big")
                rows.append((int(doc_id), len(payload), pw, ph, bool(sig_ok)))
            yield pd.DataFrame(
                rows, columns=["doc_id", "byte_len", "width", "height", "sig_ok"]
            )

    return spread(d).mapInPandas(
        parse,
        schema="doc_id long, byte_len long, width long, height long, sig_ok boolean",
    )


JPEG_COM_MOD = 23  # variable-length comment segment: forces real marker walking


@register(
    "mm_jpeg_header_dims",
    oracle=f"""
    SELECT doc_id,
           CAST(25 + doc_id % {JPEG_COM_MOD} + octet_length(encode(text))
                AS BIGINT) AS byte_len,
           CAST(16 + doc_id % {HDR_W_MOD} AS BIGINT) AS width,
           CAST(16 + (doc_id * 7) % {HDR_H_MOD} AS BIGINT) AS height,
           CAST(3 AS BIGINT) AS n_components,
           TRUE AS sof_ok
    FROM documents
    """,
    tags=("multimodal", "pandas_udf"),
    doc="JPEG dimension extraction by SEGMENT-MARKER WALKING — unlike PNG "
    "(mm_header_dims, fixed IHDR offsets), JPEG puts its SOF0 frame "
    "header at a variable offset behind arbitrary-length segments, so "
    "the parser must walk FF-marker / big-endian-length hops until it "
    "finds 0xC0. The fixture makes the walk load-bearing: each payload "
    "is SOI + a COM segment whose length varies per doc (doc_id % "
    f"{JPEG_COM_MOD} comment bytes) + SOF0 (precision, height u16be, "
    "width u16be, 3 components) — a fixed-offset read would return "
    "garbage for every doc with a non-modal comment length and "
    "hash-mismatch the arithmetic oracle. No codec involved: this is "
    "the real production fast path (ffprobe-style header sniff) for "
    "size/aspect/corruption filtering over an image corpus, one "
    "range-request per object at 100 TB. Parse is vectorized per Arrow "
    "batch via mapInPandas, same plumbing as mm_header_dims.",
)
def mm_jpeg_header_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tbl(spark, sf_dir, "documents").select("doc_id", "text")

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import struct

        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                w = 16 + int(doc_id) % HDR_W_MOD
                h = 16 + (int(doc_id) * 7) % HDR_H_MOD
                c = int(doc_id) % JPEG_COM_MOD
                body = str(text).encode("utf-8")
                payload = (
                    b"\xff\xd8"  # SOI
                    + b"\xff\xfe" + struct.pack(">H", 2 + c) + b"x" * c  # COM
                    + b"\xff\xc0" + struct.pack(">H", 17)  # SOF0, len 17
                    + bytes([8]) + struct.pack(">HH", h, w) + bytes([3])
                    + b"\x01\x22\x00\x02\x11\x01\x03\x11\x01"  # 3 comp specs
                    + body
                )
                # the parse half — real marker walk, as against actual files:
                sof_ok, pw, ph, ncomp = False, 0, 0, 0
                if payload[:2] == b"\xff\xd8":
                    pos = 2
                    while pos + 4 <= len(payload) and payload[pos] == 0xFF:
                        marker = payload[pos + 1]
                        seg_len = int.from_bytes(payload[pos + 2 : pos + 4], "big")
                        if marker == 0xC0:  # SOF0: precision, H, W, ncomp
                            ph = int.from_bytes(payload[pos + 5 : pos + 7], "big")
                            pw = int.from_bytes(payload[pos + 7 : pos + 9], "big")
                            ncomp = payload[pos + 9]
                            sof_ok = True
                            break
                        pos += 2 + seg_len
                rows.append((int(doc_id), len(payload), pw, ph, ncomp, sof_ok))
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "byte_len", "width", "height", "n_components", "sof_ok"],
            )

    return spread(d).mapInPandas(
        parse,
        schema="doc_id long, byte_len long, width long, height long, "
        "n_components long, sof_ok boolean",
    )


WAV_RATES = (8000, 16000, 24000, 32000, 40000)  # sample_rate = WAV_RATES[doc_id % 5]


@register(
    "mm_wav_header_audio",
    oracle=f"""
    SELECT doc_id,
           CAST(1 + doc_id % 2 AS BIGINT) AS channels,
           CAST(8000 + (doc_id % 5) * 8000 AS BIGINT) AS sample_rate,
           CAST(octet_length(encode(text)) AS BIGINT) AS data_bytes,
           CAST((CAST(octet_length(encode(text)) AS BIGINT) * 1000000)
                // (CAST(8000 + (doc_id % 5) * 8000 AS BIGINT)
                    * (1 + doc_id % 2) * 2) AS BIGINT) AS duration_us,
           TRUE AS riff_ok
    FROM documents
    """,
    tags=("multimodal", "pandas_udf"),
    doc="WAV/RIFF header parse — the audio sibling of mm_header_dims/"
    "mm_jpeg_header_dims, and the LITTLE-endian counterexample to their "
    "big-endian reads (an endianness bug passes one family and fails "
    "the other, which is exactly what the paired oracles are for). The "
    "fixture wraps each document's bytes as PCM data behind a complete "
    "RIFF/WAVE/fmt/data chunk chain (u16le channels, u32le sample "
    "rate, derived byte rate and block align); the parser validates "
    "the three FourCCs and reads the fields back, deriving duration "
    "from data size over byte rate in exact integer microseconds. "
    "Duration/rate/channel filtering over an audio corpus needs only "
    "these 44 bytes per object — at 100 TB, a header range-request "
    "pass, never a decode. No codec libraries involved; mapInPandas "
    "Arrow batches, constant memory per task.",
)
def mm_wav_header_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tbl(spark, sf_dir, "documents").select("doc_id", "text")

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import struct

        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                ch = 1 + int(doc_id) % 2
                rate = WAV_RATES[int(doc_id) % 5]
                block = ch * 2  # 16-bit PCM
                data = str(text).encode("utf-8")
                payload = (
                    b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
                    + b"fmt " + struct.pack("<IHHIIHH", 16, 1, ch, rate,
                                            rate * block, block, 16)
                    + b"data" + struct.pack("<I", len(data)) + data
                )
                # the parse half — little-endian field reads per the RIFF spec:
                riff_ok = (
                    payload[:4] == b"RIFF"
                    and payload[8:12] == b"WAVE"
                    and payload[12:16] == b"fmt "
                    and payload[36:40] == b"data"
                )
                p_ch = int.from_bytes(payload[22:24], "little")
                p_rate = int.from_bytes(payload[24:28], "little")
                p_byte_rate = int.from_bytes(payload[28:32], "little")
                p_data = int.from_bytes(payload[40:44], "little")
                dur_us = p_data * 1_000_000 // p_byte_rate
                rows.append((int(doc_id), p_ch, p_rate, p_data, dur_us, riff_ok))
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "channels", "sample_rate", "data_bytes",
                         "duration_us", "riff_ok"],
            )

    return spread(d).mapInPandas(
        parse,
        schema="doc_id long, channels long, sample_rate long, data_bytes long, "
        "duration_us long, riff_ok boolean",
    )


# ---------------------------------------------------------------------------
# Perceptual-hash near-dup (banded Hamming over mm_phash64 words)
# ---------------------------------------------------------------------------

PHASH_HAMMING_MAX = 16  # of 64 bits; tuned non-vacuous on the synthetic corpus


@register(
    "mm_phash_near_dup",
    oracle=None,  # assigned below: wraps mm_phash64's oracle as a CTE
    tags=("multimodal", "dedup", "join", "scale-pattern"),
    doc="Near-duplicate detection over perceptual hashes: mm_phash64's four "
    "16-bit words ARE the LSH bands — candidate pairs come from an "
    "EQUI-self-join on (band_idx, word), then the full 64-bit Hamming "
    "distance (bit_count of xor, summed over words) verifies candidates "
    f"≤ {PHASH_HAMMING_MAX}. This is image/video near-dup at corpus "
    "scale: no pairwise product ever forms (pigeonhole guarantees "
    "recall 1.0 for distance ≤ 3 with 4 bands; production adds "
    "rotated band sets for deeper recall, same plan shape), and the "
    "join carries (doc_id, 2-byte band) rows — independent of payload "
    "size, which at 100 TB of video means the dedup pass never touches "
    "pixel bytes after the one phash extraction pass. Same banding "
    "discipline as dedup_simhash_pairs (dedup.py:411); the phash step "
    "is the pandas-batched extraction certified by mm_phash64.",
)
def mm_phash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    sig = mm_phash64(spark, sf_dir)
    bands = sig.select(
        "doc_id",
        "w0",
        "w1",
        "w2",
        "w3",
        F.posexplode(F.array("w0", "w1", "w2", "w3")).alias("band_idx", "band_val"),
    )
    a = bands.alias("a")
    b = bands.alias("b")
    ham = sum(
        F.bit_count(F.col(f"a.w{k}").bitwiseXOR(F.col(f"b.w{k}"))) for k in range(4)
    )
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            ham.cast("long").alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= PHASH_HAMMING_MAX)
    )


# the candidate join replays mm_phash64's exact construction, so its oracle
# is that entry's SQL wrapped as a CTE
from flock_spark.registry import REGISTRY as _REG  # noqa: E402

_REG["mm_phash_near_dup"].oracle = f"""
    WITH ph AS ({_REG["mm_phash64"].oracle}),
    bands AS (
      SELECT doc_id, w0, w1, w2, w3, b.i AS band_idx,
             CASE b.i WHEN 0 THEN w0 WHEN 1 THEN w1 WHEN 2 THEN w2 ELSE w3 END
               AS band_val
      FROM ph, (SELECT unnest(generate_series(0, 3)) AS i) b),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(bit_count(xor(a.w0, b.w0)) + bit_count(xor(a.w1, b.w1))
                + bit_count(xor(a.w2, b.w2)) + bit_count(xor(a.w3, b.w3))
               AS BIGINT) AS hamming
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_val = b.band_val
       AND a.doc_id < b.doc_id)
    SELECT doc_a, doc_b, hamming FROM cand
    WHERE hamming <= {PHASH_HAMMING_MAX}
    """


SCENE_CUT_DELTA = 200  # energy jump that marks a cut (p99 of frame deltas)


@register(
    "mm_scene_cut_detect",
    oracle=f"""
    WITH hx AS (
      SELECT doc_id, hex(encode(text)) AS h,
             octet_length(encode(text)) AS n,
             CAST(floor(octet_length(encode(text)) / 16) AS BIGINT) AS n_frames
      FROM documents WHERE text IS NOT NULL),
    b AS (
      SELECT doc_id, CAST((i - 1) // 16 AS BIGINT) AS frame_idx,
             ('0x' || substring(h, CAST(2 * i - 1 AS INT), 2))::BIGINT AS v
      FROM (SELECT doc_id, h, n_frames,
                   unnest(generate_series(1, n)) AS i
            FROM hx WHERE n_frames > 0) t
      WHERE (i - 1) // 16 < n_frames),
    en AS (
      SELECT doc_id, frame_idx, CAST(sum(v) AS BIGINT) AS energy
      FROM b GROUP BY doc_id, frame_idx),
    d AS (
      SELECT doc_id, frame_idx, energy,
             lag(energy) OVER (PARTITION BY doc_id ORDER BY frame_idx)
               AS prev_energy
      FROM en)
    SELECT doc_id, frame_idx, energy, prev_energy,
           CAST(abs(energy - prev_energy) AS BIGINT) AS delta
    FROM d
    WHERE prev_energy IS NOT NULL
      AND abs(energy - prev_energy) > {SCENE_CUT_DELTA}
    """,
    tags=("multimodal", "pandas_udf", "window"),
    doc="Scene-cut detection over video-like payloads: per-frame energy "
    "(byte sum of each 16-byte frame — the deterministic stand-in for a "
    "decoded-luma histogram, codec libs being absent) extracted in ONE "
    "Arrow-batched numpy pass, then a per-doc lag window flags adjacent-"
    f"frame jumps > {SCENE_CUT_DELTA} (the p99 of frame deltas on this "
    "corpus). This is how shot segmentation actually runs at scale: "
    "frame features are computed streaming through the decoder once, "
    "the cut test is a keyed window over (video, frame_idx) — no "
    "cross-frame joins, no second pass over pixels; downstream "
    "keyframe sampling reads only the cut rows. Completes the video "
    "family: mm_frame_index (enumeration) → mm_frame_sample (bounded "
    "sampling) → scene cuts (content-adaptive sampling).",
)
def mm_scene_cut_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    from pyspark.sql import Window as W

    d = tbl(spark, sf_dir, "documents").select(
        "doc_id", F.col("text").cast("binary").alias("payload")
    )

    def energies(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_doc, out_idx, out_en = [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                if payload is None:
                    continue
                b = np.frombuffer(payload, dtype=np.uint8).astype(np.int64)
                n_frames = len(b) // 16
                if n_frames == 0:
                    continue
                sums = b[: n_frames * 16].reshape(n_frames, 16).sum(axis=1)
                out_doc.extend([int(doc_id)] * n_frames)
                out_idx.extend(range(n_frames))
                out_en.extend(int(x) for x in sums)
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(out_doc, dtype="int64"),
                    "frame_idx": pd.Series(out_idx, dtype="int64"),
                    "energy": pd.Series(out_en, dtype="int64"),
                }
            )

    en = spread(d).mapInPandas(energies, schema="doc_id long, frame_idx long, energy long")
    w = W.partitionBy("doc_id").orderBy("frame_idx")
    dd = en.withColumn("prev_energy", F.lag("energy").over(w))
    return dd.filter(
        F.col("prev_energy").isNotNull()
        & (F.abs(F.col("energy") - F.col("prev_energy")) > SCENE_CUT_DELTA)
    ).select(
        "doc_id",
        "frame_idx",
        "energy",
        "prev_energy",
        F.abs(F.col("energy") - F.col("prev_energy")).cast("long").alias("delta"),
    )


@register(
    "mm_dedup_clusters",
    oracle=None,  # assigned below: recursive-CTE components over phash pairs
    tags=("multimodal", "dedup", "iterative"),
    doc="Connected components over the PERCEPTUAL-hash near-dup graph — the "
    "step that turns mm_phash_near_dup's pair list into deduplicatable "
    "media clusters (pick one representative per cluster, exactly like "
    "dedup_drop_duplicates does for text): reuses the dedup family's "
    "min-label-propagation fixpoint (dedup.py:596 — one join+agg per "
    "round, rounds = cluster diameter, lineage truncated per round) over "
    "the banded-Hamming candidate pairs, certified against a recursive-"
    "CTE respecification. Closes the multimodal dedup pipeline "
    "end-to-end: extract (mm_phash64) → candidates (banded equi-join) → "
    "clusters (iterative CC) — each stage oracle-exact, no stage ever "
    "touching payload bytes after extraction.",
)
def mm_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flock_spark.operators.dedup import _propagate_components

    pairs = mm_phash_near_dup(spark, sf_dir).select("doc_a", "doc_b")
    return _propagate_components(pairs)


from flock_spark.registry import REGISTRY as _REG_MM  # noqa: E402

# AS MATERIALIZED: see dedup._duck_components_sql — without it DuckDB
# re-derives the phash near-dup pair generator on every fixpoint iteration.
_REG_MM["mm_dedup_clusters"].oracle = f"""
    WITH RECURSIVE pairs AS MATERIALIZED ({_REG_MM["mm_phash_near_dup"].oracle}),
    edges AS MATERIALIZED (SELECT doc_a AS s, doc_b AS d FROM pairs
              UNION ALL SELECT doc_b, doc_a FROM pairs),
    reach(doc, r) AS (
      SELECT s, s FROM edges
      UNION
      SELECT reach.doc, edges.d FROM reach JOIN edges ON reach.r = edges.s)
    SELECT doc AS doc_id, min(r) AS cluster_id
    FROM reach GROUP BY doc
    """


GIF_W_MOD, GIF_H_MOD = 4080, 2144


@register(
    "mm_gif_header_dims",
    oracle=f"""
    SELECT doc_id,
           CAST(16 + doc_id % {GIF_W_MOD} AS BIGINT) AS width,
           CAST(16 + (doc_id * 11) % {GIF_H_MOD} AS BIGINT) AS height,
           CAST((CAST(1 AS BIGINT) << CAST(doc_id % 8 + 1 AS INT)) AS BIGINT)
             AS n_gct_colors,
           TRUE AS sig_ok
    FROM documents
    """,
    tags=("multimodal", "pandas_udf"),
    doc="GIF header parse — the third byte-layout class in the codec-free "
    "parser family: PNG is big-endian chunks, WAV is a little-endian "
    "RIFF chain, GIF adds BIT-FIELD decoding (the logical screen "
    "descriptor's packed byte: global-color-table flag in bit 7, table "
    "size in bits 0-2, colors = 2^(size+1)). The fixture wraps each "
    "document in a valid GIF89a prefix (signature + uint16-LE "
    "width/height + packed GCT byte derived from doc_id) and the "
    "operator parses the actual bytes back — wrong endianness, offset, "
    "or bit mask would hash-mismatch against the oracle's pure "
    "arithmetic. Vectorized mapInPandas; at scale a 13-byte "
    "range-request per object.",
)
def mm_gif_header_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tbl(spark, sf_dir, "documents").select("doc_id", "text")

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import struct

        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                w = 16 + int(doc_id) % GIF_W_MOD
                h = 16 + (int(doc_id) * 11) % GIF_H_MOD
                gct_bits = int(doc_id) % 8
                packed = 0x80 | gct_bits  # GCT present, size field
                payload = (
                    b"GIF89a"
                    + struct.pack("<HH", w, h)
                    + bytes([packed, 0, 0])
                    + str(text).encode("utf-8")
                )
                # parse half — what production runs on real files:
                sig_ok = payload[:6] in (b"GIF89a", b"GIF87a")
                pw = int.from_bytes(payload[6:8], "little")
                ph = int.from_bytes(payload[8:10], "little")
                pk = payload[10]
                n_colors = 1 << ((pk & 0x07) + 1) if pk & 0x80 else 0
                rows.append((int(doc_id), pw, ph, n_colors, bool(sig_ok)))
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "width", "height", "n_gct_colors", "sig_ok"],
            )

    return spread(d).mapInPandas(
        parse,
        schema="doc_id long, width long, height long, n_gct_colors long, "
        "sig_ok boolean",
    )


TILE_G = 4  # tile grid: TILE_G x TILE_G tiles over the H x 32 byte grid


@register(
    "mm_image_tile_stats",
    oracle=f"""
    WITH img AS (
      SELECT doc_id, hex(encode(text)) AS hx,
             CAST(floor(octet_length(encode(text)) / {RESIZE_SRC_W}) AS BIGINT) AS h
      FROM documents
      WHERE octet_length(encode(text)) >= {TILE_G * RESIZE_SRC_W}),
    px AS (
      SELECT doc_id, h, unnest(generate_series(0, h * {RESIZE_SRC_W} - 1)) AS i
      FROM img),
    v AS (
      SELECT p.doc_id,
             CAST(floor((p.i // {RESIZE_SRC_W}) * {TILE_G} / p.h) AS BIGINT) AS tile_y,
             CAST((p.i % {RESIZE_SRC_W}) // {RESIZE_SRC_W // TILE_G} AS BIGINT) AS tile_x,
             ('0x' || substring(i2.hx, p.i * 2 + 1, 2))::BIGINT AS val
      FROM px p JOIN img i2 USING (doc_id))
    SELECT doc_id, tile_y, tile_x,
           CAST(count(*) AS BIGINT) AS n_px,
           CAST(sum(val) AS BIGINT) AS px_sum,
           CAST(sum(val * val) AS BIGINT) AS px_sumsq
    FROM v GROUP BY doc_id, tile_y, tile_x
    """,
    tags=("multimodal", "pandas_udf"),
    doc=f"Per-tile image statistics — the feature-extraction step behind "
    f"blur/flat-region/exposure filters in image-corpus curation: the raw "
    f"H x {RESIZE_SRC_W} byte grid split into a {TILE_G} x {TILE_G} tile "
    "grid (tile_y = y*G // H, same integer index map family as "
    "mm_resize_nearest), per-tile pixel count / sum / sum-of-squares as "
    "exact BIGINTs (mean and variance derive downstream without any float "
    "having crossed an engine boundary). One np.bincount per image inside "
    "mapInPandas — no per-pixel Python, no shuffle before the final "
    "doc+tile aggregate, which is emitted directly from the batch. The "
    "oracle re-derives the identical tile map per byte in SQL.",
)
def mm_image_tile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    d = (
        tbl(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter(F.length(F.col("text").cast("binary")) >= TILE_G * RESIZE_SRC_W)
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        tx = (np.arange(RESIZE_SRC_W) * TILE_G) // RESIZE_SRC_W
        out = {k: [] for k in ("doc_id", "tile_y", "tile_x", "n_px", "px_sum", "px_sumsq")}
        for pdf in batches:
            for doc_id, t in zip(pdf["doc_id"], pdf["text"]):
                b = t.encode("utf-8")
                src_h = len(b) // RESIZE_SRC_W
                arr = np.frombuffer(
                    b[: src_h * RESIZE_SRC_W], dtype=np.uint8
                ).reshape(src_h, RESIZE_SRC_W).astype(np.int64)
                ty = (np.arange(src_h) * TILE_G) // src_h
                tid = (ty[:, None] * TILE_G + tx[None, :]).ravel()
                flat = arr.ravel()
                n = np.bincount(tid, minlength=TILE_G * TILE_G)
                s = np.bincount(tid, weights=flat, minlength=TILE_G * TILE_G)
                s2 = np.bincount(tid, weights=flat * flat, minlength=TILE_G * TILE_G)
                for k in range(TILE_G * TILE_G):
                    out["doc_id"].append(doc_id)
                    out["tile_y"].append(k // TILE_G)
                    out["tile_x"].append(k % TILE_G)
                    out["n_px"].append(int(n[k]))
                    out["px_sum"].append(int(s[k]))
                    out["px_sumsq"].append(int(s2[k]))
            yield pd.DataFrame(out)
            out = {k: [] for k in out}

    return spread(d).mapInPandas(
        run,
        schema="doc_id long, tile_y long, tile_x long, n_px long, "
        "px_sum long, px_sumsq long",
    )


@register(
    "mm_resize_bilinear",
    oracle=f"""
    WITH img AS (
      SELECT doc_id, hex(encode(text)) AS hx,
             CAST(floor(octet_length(encode(text)) / {RESIZE_SRC_W}) AS BIGINT) AS h
      FROM documents
      WHERE octet_length(encode(text)) >= {RESIZE_SRC_W}),
    grid AS (
      SELECT i.doc_id, i.hx, i.h, y.y, x.x,
             greatest(0, (2 * y.y + 1) * i.h - {RESIZE_TH}) AS sy16,
             (4 * x.x + 1) AS x0
      FROM img i,
           (SELECT unnest(generate_series(0, {RESIZE_TH - 1})) AS y) y,
           (SELECT unnest(generate_series(0, {RESIZE_TW - 1})) AS x) x),
    coords AS (
      SELECT doc_id, hx, h, y, x, x0,
             sy16 // 16 AS y0,
             least(sy16 // 16 + 1, h - 1) AS y1,
             sy16 % 16 AS fy
      FROM grid),
    px AS (
      SELECT doc_id, y, x, fy,
             ('0x' || substring(hx, (y0 * {RESIZE_SRC_W} + x0) * 2 + 1, 2))::BIGINT AS p00,
             ('0x' || substring(hx, (y0 * {RESIZE_SRC_W} + x0 + 1) * 2 + 1, 2))::BIGINT AS p01,
             ('0x' || substring(hx, (y1 * {RESIZE_SRC_W} + x0) * 2 + 1, 2))::BIGINT AS p10,
             ('0x' || substring(hx, (y1 * {RESIZE_SRC_W} + x0 + 1) * 2 + 1, 2))::BIGINT AS p11
      FROM coords),
    vals AS (
      SELECT doc_id, y, x,
             ((16 - fy) * (8 * p00 + 8 * p01)
              + fy * (8 * p10 + 8 * p11)) // 256 AS pv
      FROM px)
    SELECT doc_id,
           md5(string_agg(CAST(pv AS VARCHAR), ',' ORDER BY y, x)) AS resized_md5,
           CAST(sum(pv) AS BIGINT) AS pixel_sum,
           {RESIZE_TW} AS target_w, {RESIZE_TH} AS target_h
    FROM vals GROUP BY doc_id
    """,
    tags=("multimodal", "pandas_udf"),
    doc=f"Bilinear resample in FIXED-POINT integer arithmetic — the "
    "anti-aliasing upgrade over mm_resize_nearest, bit-reproducible "
    "across engines because no float ever appears: source coordinates in "
    "1/16 units via sy16 = (2y+1)H - 8 (the standard half-pixel-center "
    "mapping scaled by 16), corner weights (16-f)/f, and the 2x2 blend "
    "(16-fy)(8*p00+8*p01) + fy(8*p10+8*p11) >> 8 (horizontal fraction is "
    f"constant 8/16 for the {RESIZE_SRC_W}->{RESIZE_TW} ratio). This is "
    "how production image pipelines get deterministic resizes across "
    "heterogeneous executors — float bilinear differs by ulps across "
    "SIMD paths; integer fixed-point cannot. numpy gather + blend per "
    "Arrow batch; the oracle replays the identical integer formulas per "
    "output pixel in SQL and md5s the same pixel sequence.",
)
def mm_resize_bilinear(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    d = (
        tbl(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter(F.length(F.col("text").cast("binary")) >= RESIZE_SRC_W)
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        xs0 = 4 * np.arange(RESIZE_TW) + 1  # x0; fx = 8 (constant for 32->8)
        for pdf in batches:
            out_md5, out_sum = [], []
            for t in pdf["text"]:
                b = t.encode("utf-8")
                src_h = len(b) // RESIZE_SRC_W
                arr = np.frombuffer(
                    b[: src_h * RESIZE_SRC_W], dtype=np.uint8
                ).reshape(src_h, RESIZE_SRC_W).astype(np.int64)
                sy16 = np.maximum(
                    0, (2 * np.arange(RESIZE_TH) + 1) * src_h - RESIZE_TH
                )
                y0 = sy16 // 16
                y1 = np.minimum(y0 + 1, src_h - 1)
                fy = (sy16 % 16)[:, None]
                p00 = arr[np.ix_(y0, xs0)]
                p01 = arr[np.ix_(y0, xs0 + 1)]
                p10 = arr[np.ix_(y1, xs0)]
                p11 = arr[np.ix_(y1, xs0 + 1)]
                pv = ((16 - fy) * (8 * p00 + 8 * p01) + fy * (8 * p10 + 8 * p11)) // 256
                flat = pv.ravel()
                key = ",".join(str(int(v)) for v in flat)
                out_md5.append(hashlib.md5(key.encode()).hexdigest())
                out_sum.append(int(flat.sum()))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "resized_md5": out_md5,
                    "pixel_sum": out_sum,
                    "target_w": RESIZE_TW,
                    "target_h": RESIZE_TH,
                }
            )

    return spread(d).mapInPandas(
        run,
        schema="doc_id long, resized_md5 string, pixel_sum long, "
        "target_w int, target_h int",
    )


# ---------------------------------------------------------------------------
# Genuinely compressed payload decode — the codec gap, closed without codec
# libraries. Two real container decoders implemented from the public specs:
# GIF-style variable-width LZW (GIF89a spec appendix F) and a PNG zlib
# stored-block inflate with Sub/Up scanline unfiltering (RFC 1950/1951 +
# the PNG filter spec). The fixture half ENCODES each document's bytes into
# a valid compressed stream; the operator DECODES the actual compressed
# bytes back; the oracle recomputes the expected decoded sequence directly
# from the text bytes in SQL — a wrong bit order, code-width bump, block
# header, adler checksum, or filter reconstruction hash-mismatches.
# ---------------------------------------------------------------------------

GIF_LZW_MIN_CODE = 2  # 2-bit pixel alphabet: pixel = byte % 4 (4-color GIF)
_LZW_CLEAR = 1 << GIF_LZW_MIN_CODE  # 4
_LZW_EOI = _LZW_CLEAR + 1  # 5
_LZW_MAX_CODE = 4096  # GIF caps code width at 12 bits


def lzw_encode(pixels: list[int]) -> bytes:
    """GIF-style LZW encode: variable code width (min+1..12 bits), LSB-first
    bit packing, leading CLEAR + trailing EOI, wrapped in <=255-byte data
    sub-blocks behind the min-code-size byte (GIF89a image data layout).
    Table additions stop at 4096 (deferred-clear mode; the paired decoder
    stops growing at the same point)."""
    bw = LsbWriter()
    emit = bw.write
    width = GIF_LZW_MIN_CODE + 1
    table: dict[tuple[int, ...], int] = {(i,): i for i in range(_LZW_CLEAR)}
    next_code = _LZW_EOI + 1
    emit(_LZW_CLEAR, width)
    w: tuple[int, ...] = ()
    for px in pixels:
        wk = w + (int(px),)
        if wk in table:
            w = wk
            continue
        emit(table[w], width)
        if next_code < _LZW_MAX_CODE:
            table[wk] = next_code
            next_code += 1
            # late change (GIF, not TIFF): the decoder sits one table entry
            # behind the encoder, so its width bump at next_d == 2^cs lands
            # exactly when next_e == 2^w + 1 here
            if next_code == (1 << width) + 1 and width < 12:
                width += 1
        w = (int(px),)
    if w:
        emit(table[w], width)
        # account a code slot for the final emit too: the decoder adds a
        # table entry while processing every data code INCLUDING the last,
        # so if that entry lands exactly on 2^width the decoder widens
        # before reading EOI — the encoder must mirror that bump (the slot
        # itself is never referenced; real GIF encoders do the same)
        if next_code < _LZW_MAX_CODE:
            next_code += 1
            if next_code == (1 << width) + 1 and width < 12:
                width += 1
    emit(_LZW_EOI, width)
    out = bw.getvalue()
    # sub-block framing: min-code-size byte, then length-prefixed blocks,
    # then the 0x00 block terminator
    framed = bytearray([GIF_LZW_MIN_CODE])
    for i in range(0, len(out), 255):
        chunk = out[i : i + 255]
        framed.append(len(chunk))
        framed.extend(chunk)
    framed.append(0)
    return bytes(framed)


def lzw_decode(data: bytes) -> list[int]:
    """Decode a GIF89a image data stream (min-code-size byte + sub-blocks):
    rebuilds the code table on the fly, handles the KwKwK self-reference
    case, CLEAR resets, deferred clear (table frozen at 4096), and the
    late-change width schedule. Raises ValueError on malformed framing."""
    if not data:
        raise ValueError("empty LZW stream")
    min_code = data[0]
    if not 1 <= min_code <= 11:
        # GIF caps code width at 12 bits, so min code size is at most 11;
        # an unvalidated byte here would size the base table as 2^min_code
        raise ValueError(f"invalid LZW min code size {min_code}")
    clear = 1 << min_code
    eoi = clear + 1
    # unwrap sub-blocks
    payload = bytearray()
    pos = 1
    while True:
        if pos >= len(data):
            raise ValueError("missing block terminator")
        blen = data[pos]
        pos += 1
        if blen == 0:
            break
        payload.extend(data[pos : pos + blen])
        pos += blen
    read = LsbReader(payload).read
    out: list[int] = []
    width = min_code + 1
    table: list[tuple[int, ...]] = [(i,) for i in range(clear)] + [(), ()]
    next_code = eoi + 1
    prev: int | None = None
    while True:
        code = read(width)
        if code == clear:
            width = min_code + 1
            table = table[: eoi + 1]
            next_code = eoi + 1
            prev = None
            continue
        if code == eoi:
            return out
        if prev is None:
            if code >= len(table):
                raise ValueError(f"first code {code} out of table")
            out.extend(table[code])
            prev = code
            continue
        if code < next_code:
            entry = table[code]
        elif code == next_code:
            entry = table[prev] + table[prev][:1]  # KwKwK
        else:
            raise ValueError(f"code {code} beyond table {next_code}")
        out.extend(entry)
        if next_code < _LZW_MAX_CODE:
            table.append(table[prev] + entry[:1])
            next_code += 1
            if next_code == (1 << width) and width < 12:
                width += 1
        prev = code


@register(
    "mm_gif_lzw_decode",
    oracle="""
    WITH samples AS (
      SELECT doc_id,
             unnest(generate_series(1, octet_length(encode(text)))) AS i
      FROM documents
      WHERE octet_length(encode(text)) > 0),
    v AS (
      SELECT s.doc_id, s.i,
             ('0x' || substring(hex(encode(d.text)), s.i * 2 - 1, 2))::BIGINT % 4
               AS px
      FROM samples s JOIN documents d ON s.doc_id = d.doc_id)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_px,
           CAST(sum(px) AS BIGINT) AS px_sum,
           md5(string_agg(CAST(px AS VARCHAR), ',' ORDER BY i)) AS decoded_md5
    FROM v GROUP BY doc_id
    """,
    tags=("multimodal", "pandas_udf", "codec"),
    doc="REAL compressed-payload decode, no codec library: each document's "
    "bytes become a 4-color pixel sequence (byte % 4), LZW-compressed into "
    "a valid GIF89a image data stream (variable 3..12-bit codes, LSB-first "
    "packing, CLEAR/EOI, 255-byte sub-blocks), and the operator decodes "
    "THE COMPRESSED BYTES back — table rebuild, KwKwK case, late-change "
    "width schedule, deferred clear. The oracle recomputes the expected "
    "pixel sequence directly from hex(encode(text)) in SQL and md5s it — "
    "any drift in bit order, width bumps, or dictionary sync mismatches. "
    "Scale: mapInPandas, one compressed stream per row, constant memory "
    "per task; LZW is inherently sequential per object but embarrassingly "
    "parallel across objects, which is exactly how a 100 TB media scan "
    "distributes (the per-object decode is the irreducible cost).",
)
def mm_gif_lzw_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    d = (
        tbl(spark, sf_dir, "documents")
        .select("doc_id", F.col("text").cast("binary").alias("payload"))
        .filter(F.length(F.col("payload")) > 0)
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_doc, out_n, out_sum, out_md5 = [], [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                pixels = (
                    np.frombuffer(bytes(payload), dtype=np.uint8) % 4
                ).tolist()
                compressed = lzw_encode(pixels)
                decoded = lzw_decode(compressed)
                if decoded != pixels:  # hard fail beats silent corruption
                    raise ValueError(f"LZW roundtrip mismatch for doc {doc_id}")
                key = ",".join(str(p) for p in decoded)
                out_doc.append(int(doc_id))
                out_n.append(len(decoded))
                out_sum.append(int(sum(decoded)))
                out_md5.append(hashlib.md5(key.encode()).hexdigest())
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(out_doc, dtype="int64"),
                    "n_px": pd.Series(out_n, dtype="int64"),
                    "px_sum": pd.Series(out_sum, dtype="int64"),
                    "decoded_md5": pd.Series(out_md5, dtype="object"),
                }
            )

    return spread(d).mapInPandas(
        run, schema="doc_id long, n_px long, px_sum long, decoded_md5 string"
    )


PNG_ROW_W = 32  # scanline width in bytes, same raw-grid layout as the resizes
_ADLER_MOD = 65521


def _adler32(data: bytes) -> int:
    a, b = 1, 0
    for byte in data:
        a = (a + byte) % _ADLER_MOD
        b = (b + a) % _ADLER_MOD
    return (b << 16) | a


def png_stored_deflate(scanlines: bytes) -> bytes:
    """A valid zlib stream (RFC 1950) holding the scanline bytes in DEFLATE
    stored (uncompressed) blocks (RFC 1951 BTYPE=00): CMF/FLG header, one or
    more [header, LEN, NLEN, data] blocks, big-endian adler32 trailer."""
    out = bytearray(b"\x78\x01")  # CMF: deflate/32K window; FLG: check bits
    n = len(scanlines)
    pos = 0
    while True:
        chunk = scanlines[pos : pos + 65535]
        pos += len(chunk)
        final = 1 if pos >= n else 0
        out.append(final)  # bit 0 BFINAL, bits 1-2 BTYPE=00 (stored)
        ln = len(chunk)
        out.extend(ln.to_bytes(2, "little"))
        out.extend((ln ^ 0xFFFF).to_bytes(2, "little"))
        out.extend(chunk)
        if final:
            break
    out.extend(_adler32(scanlines).to_bytes(4, "big"))
    return bytes(out)


def png_inflate_stored(stream: bytes) -> bytes:
    """Inflate a zlib stream consisting of stored blocks only: validates the
    CMF/FLG header pair, walks BFINAL/BTYPE/LEN/NLEN framing, and verifies
    the adler32 trailer. Raises ValueError on any violation."""
    if len(stream) < 6:
        raise ValueError("zlib stream too short")
    cmf, flg = stream[0], stream[1]
    if cmf & 0x0F != 8:
        raise ValueError(f"not deflate: CM={cmf & 0x0F}")
    if (cmf * 256 + flg) % 31 != 0:
        raise ValueError("bad zlib header check")
    pos = 2
    out = bytearray()
    while True:
        if pos >= len(stream) - 4:
            raise ValueError("truncated deflate data")
        hdr = stream[pos]
        pos += 1
        if (hdr >> 1) & 0x03 != 0:
            raise ValueError(f"not a stored block: BTYPE={(hdr >> 1) & 3}")
        ln = int.from_bytes(stream[pos : pos + 2], "little")
        nlen = int.from_bytes(stream[pos + 2 : pos + 4], "little")
        if ln ^ nlen != 0xFFFF:
            raise ValueError("LEN/NLEN mismatch")
        pos += 4
        out.extend(stream[pos : pos + ln])
        pos += ln
        if hdr & 1:
            break
    expect = int.from_bytes(stream[pos : pos + 4], "big")
    if _adler32(bytes(out)) != expect:
        raise ValueError("adler32 mismatch")
    return bytes(out)


def png_filter_rows(grid, np):
    """Apply PNG filters per scanline: Sub (type 1) on even rows, Up (type 2)
    on odd rows (row 0 falls back to Sub against an implicit zero column).
    Returns the raw PNG image data: filter byte + filtered bytes per row."""
    h, w = grid.shape
    out = bytearray()
    prev = np.zeros(w, dtype=np.int64)
    for y in range(h):
        row = grid[y].astype(np.int64)
        if y % 2 == 0:
            filt = (row - np.concatenate(([0], row[:-1]))) % 256
            out.append(1)
        else:
            filt = (row - prev) % 256
            out.append(2)
        out.extend(int(v) for v in filt)
        prev = row
    return bytes(out)


def png_unfilter_rows(raw: bytes, width: int, np):
    """Reconstruct original scanlines from PNG-filtered image data (filter
    types 0/1/2). The inverse prefix arithmetic of png_filter_rows."""
    stride = width + 1
    if len(raw) % stride != 0:
        raise ValueError("raw data not a whole number of scanlines")
    h = len(raw) // stride
    out = np.zeros((h, width), dtype=np.int64)
    prev = np.zeros(width, dtype=np.int64)
    for y in range(h):
        ft = raw[y * stride]
        filt = np.frombuffer(raw[y * stride + 1 : (y + 1) * stride], dtype=np.uint8).astype(np.int64)
        if ft == 0:
            recon = filt
        elif ft == 1:
            recon = filt.copy()
            for x in range(1, width):
                recon[x] = (recon[x] + recon[x - 1]) % 256
        elif ft == 2:
            recon = (filt + prev) % 256
        else:
            raise ValueError(f"unsupported filter type {ft}")
        out[y] = recon
        prev = recon
    return out


@register(
    "mm_png_inflate_stored",
    oracle=f"""
    WITH img AS (
      SELECT doc_id, hex(encode(text)) AS hx,
             CAST(floor(octet_length(encode(text)) / {PNG_ROW_W}) AS BIGINT) AS h
      FROM documents
      WHERE octet_length(encode(text)) >= {PNG_ROW_W}),
    samples AS (
      SELECT doc_id, h, hx,
             unnest(generate_series(1, h * {PNG_ROW_W})) AS i
      FROM img),
    v AS (
      SELECT doc_id, h, hx, i,
             ('0x' || substring(hx, i * 2 - 1, 2))::BIGINT AS b
      FROM samples)
    SELECT doc_id,
           CAST(max(h) AS BIGINT) AS height,
           CAST(count(*) AS BIGINT) AS n_px,
           CAST(sum(b) AS BIGINT) AS px_sum,
           md5(max(substring(hx, 1, CAST(h * {PNG_ROW_W} * 2 AS INT))))
             AS decoded_md5
    FROM v GROUP BY doc_id
    """,
    tags=("multimodal", "pandas_udf", "codec"),
    doc=f"PNG-shaped zlib inflate + scanline unfilter, from the public specs "
    f"(RFC 1950/1951, PNG filter spec), no codec library: the document's "
    f"byte grid (H x {PNG_ROW_W}, same layout as the resize family) is "
    "PNG-filtered per scanline (Sub on even rows, Up on odd — real filter "
    "arithmetic, not passthrough), wrapped in a valid zlib stream of "
    "DEFLATE stored blocks with an adler32 trailer, and the operator "
    "inflates THE COMPRESSED STREAM and inverts the filters: header "
    "check-bits, BFINAL/BTYPE/LEN/NLEN framing, adler verification, and "
    "the Sub/Up prefix reconstruction all execute on every row. The "
    "oracle md5s the original byte grid straight from hex(encode(text)) — "
    "any framing, checksum, or filter-inverse error mismatches. Scale: "
    "embarrassingly parallel across objects via mapInPandas, like every "
    "decode in this family.",
)
def mm_png_inflate_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    d = (
        tbl(spark, sf_dir, "documents")
        .select("doc_id", F.col("text").cast("binary").alias("payload"))
        .filter(F.length(F.col("payload")) >= PNG_ROW_W)
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_doc, out_h, out_n, out_sum, out_md5 = [], [], [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                b = bytes(payload)
                h = len(b) // PNG_ROW_W
                grid = np.frombuffer(b[: h * PNG_ROW_W], dtype=np.uint8).reshape(
                    h, PNG_ROW_W
                )
                stream = png_stored_deflate(png_filter_rows(grid, np))
                recon = png_unfilter_rows(
                    png_inflate_stored(stream), PNG_ROW_W, np
                )
                if not (recon == grid).all():
                    raise ValueError(f"PNG roundtrip mismatch for doc {doc_id}")
                rb = recon.astype(np.uint8).tobytes()
                out_doc.append(int(doc_id))
                out_h.append(h)
                out_n.append(h * PNG_ROW_W)
                out_sum.append(int(recon.sum()))
                out_md5.append(
                    hashlib.md5(rb.hex().upper().encode()).hexdigest()
                )
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(out_doc, dtype="int64"),
                    "height": pd.Series(out_h, dtype="int64"),
                    "n_px": pd.Series(out_n, dtype="int64"),
                    "px_sum": pd.Series(out_sum, dtype="int64"),
                    "decoded_md5": pd.Series(out_md5, dtype="object"),
                }
            )

    return spread(d).mapInPandas(
        run,
        schema="doc_id long, height long, n_px long, px_sum long, "
        "decoded_md5 string",
    )


# ---------------------------------------------------------------------------
# Complete PNG filter suite: all five filter types (PNG spec §9), including
# Average's floor((left+up)/2) predictor and the Paeth predictor — the two
# the Sub/Up entry above leaves out and the two real encoders use most.
# ---------------------------------------------------------------------------


def _paeth(a: int, b: int, c: int) -> int:
    """PNG Paeth predictor (spec §9.4): nearest of left/up/up-left to the
    linear estimate a + b - c, ties broken left, up, up-left."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def png_filter_rows_full(grid, np) -> bytes:
    """Filter scanlines cycling through ALL five PNG filter types — row y
    uses type y % 5 (None, Sub, Up, Average, Paeth) — so one image
    exercises the whole alphabet. 8-bit grayscale: bpp = 1, the 'byte to
    the left' is the previous pixel."""
    h, w = grid.shape
    out = bytearray()
    prev = [0] * w
    for y in range(h):
        row = [int(v) for v in grid[y]]
        ft = y % 5
        out.append(ft)
        for x in range(w):
            a = row[x - 1] if x else 0  # reconstructed == original: lossless
            b = prev[x]
            c = prev[x - 1] if x else 0
            if ft == 0:
                pred = 0
            elif ft == 1:
                pred = a
            elif ft == 2:
                pred = b
            elif ft == 3:
                pred = (a + b) // 2
            else:
                pred = _paeth(a, b, c)
            out.append((row[x] - pred) % 256)
        prev = row
    return bytes(out)


def png_unfilter_rows_full(raw: bytes, width: int, np):
    """Invert all five PNG filter types from raw image data (filter byte +
    filtered bytes per scanline). Sub/Average/Paeth reconstruct
    sequentially (each pixel needs the reconstructed left neighbor)."""
    stride = width + 1
    if len(raw) % stride != 0:
        raise ValueError("raw data not a whole number of scanlines")
    h = len(raw) // stride
    out = np.zeros((h, width), dtype=np.int64)
    prev = [0] * width
    for y in range(h):
        ft = raw[y * stride]
        filt = raw[y * stride + 1 : (y + 1) * stride]
        if ft > 4:
            raise ValueError(f"unknown filter type {ft}")
        recon = [0] * width
        for x in range(width):
            a = recon[x - 1] if x else 0
            b = prev[x]
            c = prev[x - 1] if x else 0
            if ft == 0:
                pred = 0
            elif ft == 1:
                pred = a
            elif ft == 2:
                pred = b
            elif ft == 3:
                pred = (a + b) // 2
            else:
                pred = _paeth(a, b, c)
            recon[x] = (filt[x] + pred) % 256
        out[y] = recon
        prev = recon
    return out


@register(
    "mm_png_filter_suite_decode",
    oracle=f"""
    WITH img AS (
      SELECT doc_id, hex(encode(text)) AS hx,
             CAST(floor(octet_length(encode(text)) / {PNG_ROW_W}) AS BIGINT) AS h
      FROM documents
      WHERE octet_length(encode(text)) >= {PNG_ROW_W} * 5),
    samples AS (
      SELECT doc_id, h, hx,
             unnest(generate_series(1, h * {PNG_ROW_W})) AS i
      FROM img),
    v AS (
      SELECT doc_id, h, hx, i,
             ('0x' || substring(hx, i * 2 - 1, 2))::BIGINT AS b
      FROM samples)
    SELECT doc_id,
           CAST(max(h) AS BIGINT) AS height,
           CAST(count(*) AS BIGINT) AS n_px,
           CAST(sum(b) AS BIGINT) AS px_sum,
           md5(max(substring(hx, 1, CAST(h * {PNG_ROW_W} * 2 AS INT))))
             AS decoded_md5
    FROM v GROUP BY doc_id
    """,
    tags=("multimodal", "pandas_udf", "codec"),
    doc=f"Complete PNG filter-suite decode — the two filters real encoders "
    "use most (Average with its floor((left+up)/2) predictor and the "
    "Paeth predictor with its tie-break order) on top of the Sub/Up "
    f"entry: the document's byte grid (H x {PNG_ROW_W}, H >= 5 so every "
    "filter type appears) is filtered with row y using type y % 5 — the "
    "WHOLE alphabet in one image — deflated by the REAL stdlib zlib "
    "compressor (dynamic-Huffman output), and the operator decodes the "
    "compressed stream with the repo's from-spec RFC 1950/1951 inflate "
    "(zlib header check bits, dynamic Huffman, LZ77, adler32) then "
    "inverts every filter sequentially (Sub/Average/Paeth pixels need "
    "the reconstructed left neighbor — vectorizing that wrongly is THE "
    "classic PNG decoder bug this pins). The oracle md5s the original "
    "grid straight from hex(encode(text)); any inflate or "
    "filter-inverse error mismatches. Scale: per-object mapInPandas, "
    "single scan, no shuffle — the codec-sibling plan family.",
)
def mm_png_filter_suite_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    d = (
        tbl(spark, sf_dir, "documents")
        .select("doc_id", F.col("text").cast("binary").alias("payload"))
        .filter(F.length(F.col("payload")) >= PNG_ROW_W * 5)
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import zlib as _zlib

        for pdf in batches:
            out_doc, out_h, out_n, out_sum, out_md5 = [], [], [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                b = bytes(payload)
                h = len(b) // PNG_ROW_W
                grid = np.frombuffer(b[: h * PNG_ROW_W], dtype=np.uint8).reshape(
                    h, PNG_ROW_W
                )
                stream = _zlib.compress(png_filter_rows_full(grid, np), 6)
                recon = png_unfilter_rows_full(
                    zlib_inflate(stream), PNG_ROW_W, np
                )
                if not (recon == grid).all():
                    raise ValueError(
                        f"PNG filter-suite roundtrip mismatch for doc {doc_id}"
                    )
                rb = recon.astype(np.uint8).tobytes()
                out_doc.append(int(doc_id))
                out_h.append(h)
                out_n.append(h * PNG_ROW_W)
                out_sum.append(int(recon.sum()))
                out_md5.append(
                    hashlib.md5(rb.hex().upper().encode()).hexdigest()
                )
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(out_doc, dtype="int64"),
                    "height": pd.Series(out_h, dtype="int64"),
                    "n_px": pd.Series(out_n, dtype="int64"),
                    "px_sum": pd.Series(out_sum, dtype="int64"),
                    "decoded_md5": pd.Series(out_md5, dtype="object"),
                }
            )

    return spread(d).mapInPandas(
        run,
        schema="doc_id long, height long, n_px long, px_sum long, "
        "decoded_md5 string",
    )


# ---------------------------------------------------------------------------
# LZ4 block format (public spec, lz4.github.io/lz4/lz4_Block_format) — the
# third real compression family after DEFLATE and SNAPPY, and the raw-block
# codec parquet calls LZ4_RAW. Token nibbles, 255-extension length bytes,
# 2-byte little-endian offsets, overlap-legal match copies, and the spec's
# end-of-block rules (final sequence literal-only; last 5 octets literals;
# no match starting within the last 12 octets).
# ---------------------------------------------------------------------------


def lz4_block_decompress(data: bytes) -> bytes:
    """Decode one raw LZ4 block: per sequence a token (high nibble literal
    count, low nibble matchlen-4, 15 -> 255-extension bytes), the literals,
    then a 2-byte LE offset and the match copy (offsets may overlap the
    bytes being written — the RLE trick). The final sequence carries only
    literals. ValueError on any framing violation."""
    out = bytearray()
    pos = 0
    n = len(data)
    if n == 0:
        raise ValueError("empty LZ4 block")
    while pos < n:
        token = data[pos]
        pos += 1
        lit = token >> 4
        if lit == 15:
            while True:
                if pos >= n:
                    raise ValueError("truncated literal length extension")
                b = data[pos]
                pos += 1
                lit += b
                if b != 255:
                    break
        if pos + lit > n:
            raise ValueError("literal run past end of block")
        out += data[pos : pos + lit]
        pos += lit
        if pos == n:
            break  # last sequence: literals only, no match
        if pos + 2 > n:
            raise ValueError("truncated match offset")
        off = data[pos] | (data[pos + 1] << 8)
        pos += 2
        if off == 0 or off > len(out):
            raise ValueError("match offset out of range")
        ml = (token & 0x0F) + 4
        if token & 0x0F == 15:
            while True:
                if pos >= n:
                    raise ValueError("truncated match length extension")
                b = data[pos]
                pos += 1
                ml += b
                if b != 255:
                    break
        src = len(out) - off
        for k in range(ml):  # byte-at-a-time: overlap copies must self-feed
            out.append(out[src + k])
    return bytes(out)


def lz4_block_compress(data: bytes) -> bytes:
    """A greedy from-spec LZ4 block encoder (4-byte hash table, most-recent
    position wins) honoring the end-of-block rules: blocks shorter than 13
    octets are all literals, the last 5 octets are always literals, no
    match starts within the last 12. Output decodes with ANY conformant
    decoder — the roundtrip entry proves it against lz4_block_decompress
    and the parquet entry proves the reverse direction against the real
    pyarrow compressor."""
    n = len(data)
    out = bytearray()

    def emit(lit_start: int, lit_end: int, off: int = 0, ml: int = 0) -> None:
        lit = lit_end - lit_start
        tok_lit = 15 if lit >= 15 else lit
        tok_ml = 0 if ml == 0 else (15 if ml - 4 >= 15 else ml - 4)
        out.append((tok_lit << 4) | tok_ml)
        if lit >= 15:
            rem = lit - 15
            while rem >= 255:
                out.append(255)
                rem -= 255
            out.append(rem)
        out.extend(data[lit_start:lit_end])
        if ml:
            out.append(off & 0xFF)
            out.append(off >> 8)
            if ml - 4 >= 15:
                rem = ml - 4 - 15
                while rem >= 255:
                    out.append(255)
                    rem -= 255
                out.append(rem)

    if n < 13:
        emit(0, n)
        return bytes(out)
    table: dict[bytes, int] = {}
    i = 0
    anchor = 0
    limit = n - 12
    while i < limit:
        key = data[i : i + 4]
        j = table.get(key)
        table[key] = i
        if j is not None and i - j <= 0xFFFF:
            ml = 4
            maxml = (n - 5) - i
            while ml < maxml and data[j + ml] == data[i + ml]:
                ml += 1
            emit(anchor, i, i - j, ml)
            i += ml
            anchor = i
            continue
        i += 1
    emit(anchor, n)
    return bytes(out)


@register(
    "mm_lz4_block_roundtrip",
    oracle=_PLAIN_ORACLE,
    tags=("multimodal", "pandas_udf", "codec"),
    doc="LZ4 block codec from the public block-format spec — the third "
    "real compression family (after DEFLATE and SNAPPY) and the raw "
    "block parquet's LZ4_RAW codec wraps: each document's bytes go "
    "through the from-spec greedy encoder (4-byte hash table, "
    "most-recent match, end-of-block rules: final sequence literal-only, "
    "last 5 octets literals, no match inside the last 12) and back "
    "through the from-spec decoder (token nibbles, 255-extension length "
    "bytes, little-endian offsets, overlap-legal self-feeding match "
    "copies). The oracle re-derives byte count, byte sum and md5 of the "
    "decoded bytes straight from hex(encode(text)) — any length-"
    "extension, offset, or overlap-copy bug mismatches. The reverse "
    "direction (our decoder vs the REAL pyarrow LZ4 compressor) is "
    "certified by scan_parquet_lz4_page_decode. Scale: per-object "
    "mapInPandas, single scan, no shuffle — the codec plan family.",
)
def mm_lz4_block_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = (
        tbl(spark, sf_dir, "documents")
        .select("doc_id", F.col("text").cast("binary").alias("payload"))
        .filter(F.length(F.col("payload")) > 0)
    )

    def check(doc_id: int, b: bytes) -> None:
        if lz4_block_decompress(lz4_block_compress(b)) != b:
            raise ValueError(f"LZ4 roundtrip mismatch for doc {doc_id}")

    return byte_roundtrip(d, lambda: check)


# ---------------------------------------------------------------------------
# Full RFC 1951 inflate: stored + fixed-Huffman + dynamic-Huffman blocks with
# LZ77 back-references — a complete DEFLATE decoder from the public spec,
# exercised against REAL compressed output (the stdlib zlib COMPRESSOR is
# used to build the fixture; the decode path is entirely this code).
# ---------------------------------------------------------------------------

_LEN_BASE = (3, 4, 5, 6, 7, 8, 9, 10, 11, 13, 15, 17, 19, 23, 27, 31, 35, 43,
             51, 59, 67, 83, 99, 115, 131, 163, 195, 227, 258)
_LEN_EXTRA = (0, 0, 0, 0, 0, 0, 0, 0, 1, 1, 1, 1, 2, 2, 2, 2, 3, 3, 3, 3, 4,
              4, 4, 4, 5, 5, 5, 5, 0)
_DIST_BASE = (1, 2, 3, 4, 5, 7, 9, 13, 17, 25, 33, 49, 65, 97, 129, 193, 257,
              385, 513, 769, 1025, 1537, 2049, 3073, 4097, 6145, 8193, 12289,
              16385, 24577)
_DIST_EXTRA = (0, 0, 0, 0, 1, 1, 2, 2, 3, 3, 4, 4, 5, 5, 6, 6, 7, 7, 8, 8, 9,
               9, 10, 10, 11, 11, 12, 12, 13, 13)
_CLEN_ORDER = (16, 17, 18, 0, 8, 7, 9, 6, 10, 5, 11, 4, 12, 3, 13, 2, 14, 1,
               15)


_FAST_ROOT_BITS = 10  # root-table width for the fast Huffman decode path

# bit-reverse of every 10-bit value, built once: reverse(c, ln) for ln <= 10
# is _BITREV10[c] >> (10 - ln) (c's leading zero bits land trailing and are
# shifted out), replacing the per-code bit loop in the table build
_BITREV10: list[int] = [
    int(f"{i:010b}"[::-1], 2) for i in range(1 << _FAST_ROOT_BITS)
]


def _build_fast(lengths: list[int]) -> tuple[list[int], int, int, dict]:
    """Flat root-table decoder over the canonical code of RFC 1951 §3.2.2:
    entry at index = the next R raw stream bits (LSB-first, as LsbReader
    delivers them) is (symbol << 4) | code_length for codes of length <= R,
    0 for root misses (longer codes or invalid prefixes — resolved by the
    bit-by-bit dict fallback, whose dict therefore only needs the LONG
    codes). DEFLATE packs a code's MSB in the earliest raw bit, so a code c
    of length L lands at every index whose low L bits are bit-reverse(c, L);
    the fill is a C-speed list slice assignment, and the reversal one table
    lookup — per-member table construction dominated many-small-member
    streams even after memoization (mostly-unique tables, ~25% hit rate on
    zlib level-6 text)."""
    root_bits = min(max(lengths, default=0), _FAST_ROOT_BITS) or 1
    size = 1 << root_bits
    root = [0] * size
    table_dict: dict[tuple[int, int], int] = {}
    rev10 = _BITREV10
    drop = _FAST_ROOT_BITS
    for sym, (c, ln) in enumerate(canonical_codes(lengths)):
        if not ln:
            continue
        if ln > root_bits:
            table_dict[(ln, c)] = sym
            continue
        rev = rev10[c] >> (drop - ln)
        step = 1 << ln
        n_fill = ((size - rev - 1) >> ln) + 1
        root[rev::step] = [(sym << 4) | ln] * n_fill
    return root, root_bits, size - 1, table_dict


_BUILD_FAST_CACHE: dict[bytes, tuple[list[int], int, int, dict]] = {}
_BUILD_FAST_TASK: tuple[int, int] | None = None


def _build_fast_cached(lengths: list[int]) -> tuple[list[int], int, int, dict]:
    """Memoized _build_fast keyed on the code-length vector (every length
    fits a byte). Small dynamic-Huffman members often repeat identical
    tables — per-member rebuilds dominated the header cost of many-member
    streams (WARC shards are thousands of tiny gzip members). Callers only
    READ the returned structures.

    Scope: ONE Spark task attempt. Payload-derived tables memoized at module
    level would otherwise survive in reused executor Python workers across
    tasks, queries, and bench runs — the cross-run result-caching class the
    r12 wave-E sweep removed everywhere else (r12 ADVICE, medium). The cache
    is cleared whenever the running task attempt changes, so amortization is
    strictly within-task (where the repeated-table locality lives: one task
    walks thousands of members of the same shard) and a second bench run
    rebuilds every table honestly. Driver-side callers (tests, fixture
    builders) see no TaskContext and share the process-lifetime cache, which
    times nothing. Bounded at 4096 entries either way."""
    global _BUILD_FAST_TASK
    from pyspark import TaskContext

    tc = TaskContext.get()
    if tc is not None:
        tid = (tc.stageId(), tc.taskAttemptId())
        if tid != _BUILD_FAST_TASK:
            _BUILD_FAST_CACHE.clear()
            _BUILD_FAST_TASK = tid
    key = bytes(lengths)
    hit = _BUILD_FAST_CACHE.get(key)
    if hit is None:
        if len(_BUILD_FAST_CACHE) >= 4096:
            _BUILD_FAST_CACHE.clear()
        hit = _BUILD_FAST_CACHE[key] = _build_fast(lengths)
    return hit


_FIXED_LIT_FAST = _build_fast([8] * 144 + [9] * 112 + [7] * 24 + [8] * 8)
_FIXED_DIST_FAST = _build_fast([5] * 30)


def inflate_at(data: bytes, start: int = 0) -> tuple[bytes, int]:
    """Full RFC 1951 inflate starting at byte offset `start`: stored
    (BTYPE=00), fixed-Huffman (01), and dynamic-Huffman (10) blocks, LZ77
    length/distance back-references with overlapping copies. Returns
    (decoded, end_offset) where end_offset is the first byte past the final
    block (partial trailing bits of the last byte are padding — the next
    framing field in gzip/zlib starts at that byte boundary). Raises
    ValueError on malformed input."""
    br = LsbReader(data, start)
    out = bytearray()
    while True:
        bfinal = br.read(1)
        btype = br.read(2)
        if btype == 0:
            br.align_byte()
            if br.pos + 4 > len(data):
                raise ValueError("truncated stored block header")
            ln = int.from_bytes(data[br.pos : br.pos + 2], "little")
            nlen = int.from_bytes(data[br.pos + 2 : br.pos + 4], "little")
            if ln ^ nlen != 0xFFFF:
                raise ValueError("stored block LEN/NLEN mismatch")
            br.pos += 4
            if br.pos + ln > len(data):
                raise ValueError("truncated stored block data")
            out.extend(data[br.pos : br.pos + ln])
            br.pos += ln
        elif btype in (1, 2):
            if btype == 1:
                lit_root, _lr_bits, lit_mask, lit_dict = _FIXED_LIT_FAST
                dist_root, _dr_bits, dist_mask, dist_dict = _FIXED_DIST_FAST
            else:
                hlit = br.read(5) + 257
                hdist = br.read(5) + 1
                hclen = br.read(4) + 4
                clen_lengths = [0] * 19
                for i in range(hclen):
                    clen_lengths[_CLEN_ORDER[i]] = br.read(3)
                # code-length codes are <= 7 bits, so the root table is
                # complete: decode them with local bit state instead of
                # the bit-at-a-time dict walk (the header dominated
                # many-small-member streams)
                clen_root, _cr_bits, clen_mask, _clen_dict = (
                    _build_fast_cached(clen_lengths)
                )
                data_h = br.data
                n_h = len(data_h)
                pos, bitbuf, nbits = br.pos, br.bitbuf, br.nbits
                lengths: list[int] = []
                need = hlit + hdist
                while len(lengths) < need:
                    while nbits < 10 and pos < n_h:
                        bitbuf |= data_h[pos] << nbits
                        pos += 1
                        nbits += 8
                    ent = clen_root[bitbuf & clen_mask]
                    if not ent:
                        raise ValueError("invalid Huffman code")
                    L = ent & 15
                    if L > nbits:
                        raise ValueError("truncated deflate stream")
                    sym = ent >> 4
                    bitbuf >>= L
                    nbits -= L
                    if sym < 16:
                        lengths.append(sym)
                        continue
                    if sym == 16:
                        if not lengths:
                            raise ValueError("repeat with no previous length")
                        w, base, val = 2, 3, lengths[-1]
                    elif sym == 17:
                        w, base, val = 3, 3, 0
                    else:  # 18
                        w, base, val = 7, 11, 0
                    while nbits < w:
                        if pos >= n_h:
                            raise ValueError("truncated deflate stream")
                        bitbuf |= data_h[pos] << nbits
                        pos += 1
                        nbits += 8
                    lengths.extend([val] * (base + (bitbuf & ((1 << w) - 1))))
                    bitbuf >>= w
                    nbits -= w
                br.pos, br.bitbuf, br.nbits = pos, bitbuf, nbits
                if len(lengths) != hlit + hdist:
                    raise ValueError("code length overrun")
                lit_root, _lr_bits, lit_mask, lit_dict = _build_fast_cached(
                    lengths[:hlit])
                dist_root, _dr_bits, dist_mask, dist_dict = _build_fast_cached(
                    lengths[hlit:])
            # Hot symbol loop with the flat root table and local bit state
            # (reader state is written back at end-of-block so stored
            # blocks and the end-offset computation see the same position
            # the call-per-bit path produced).
            data_l = br.data
            n_l = len(data_l)
            pos, bitbuf, nbits = br.pos, br.bitbuf, br.nbits
            out_append = out.append
            from_bytes = int.from_bytes
            while True:
                # batched refill: top up ~6 bytes in one int.from_bytes
                # instead of a byte-at-a-time loop — several symbols then
                # decode per refill (align_byte rewinds whole buffered
                # bytes, so over-buffering across a block edge is safe)
                if nbits < 15:
                    chunk = data_l[pos : pos + 6]
                    bitbuf |= from_bytes(chunk, "little") << nbits
                    pos += len(chunk)
                    nbits += len(chunk) << 3
                ent = lit_root[bitbuf & lit_mask]
                if ent:
                    L = ent & 15
                    if L > nbits:
                        raise ValueError("truncated deflate stream")
                    sym = ent >> 4
                    bitbuf >>= L
                    nbits -= L
                else:  # code longer than the root table (rare): dict walk
                    code = 0
                    ln_c = 0
                    sym = -1
                    while ln_c < 15:
                        if not nbits:
                            if pos >= n_l:
                                raise ValueError("truncated deflate stream")
                            bitbuf = data_l[pos]
                            pos += 1
                            nbits = 8
                        code = (code << 1) | (bitbuf & 1)
                        bitbuf >>= 1
                        nbits -= 1
                        ln_c += 1
                        s = lit_dict.get((ln_c, code))
                        if s is not None:
                            sym = s
                            break
                    if sym < 0:
                        raise ValueError("invalid Huffman code")
                if sym < 256:
                    out_append(sym)
                elif sym == 256:
                    br.pos, br.bitbuf, br.nbits = pos, bitbuf, nbits
                    break
                elif sym <= 285:
                    li = sym - 257
                    w = _LEN_EXTRA[li]
                    while nbits < w:
                        if pos >= n_l:
                            raise ValueError("truncated deflate stream")
                        bitbuf |= data_l[pos] << nbits
                        pos += 1
                        nbits += 8
                    length = _LEN_BASE[li] + (bitbuf & ((1 << w) - 1))
                    bitbuf >>= w
                    nbits -= w
                    if nbits < 15:
                        chunk = data_l[pos : pos + 6]
                        bitbuf |= from_bytes(chunk, "little") << nbits
                        pos += len(chunk)
                        nbits += len(chunk) << 3
                    ent = dist_root[bitbuf & dist_mask]
                    if ent:
                        L = ent & 15
                        if L > nbits:
                            raise ValueError("truncated deflate stream")
                        dsym = ent >> 4
                        bitbuf >>= L
                        nbits -= L
                    else:
                        code = 0
                        ln_c = 0
                        dsym = -1
                        while ln_c < 15:
                            if not nbits:
                                if pos >= n_l:
                                    raise ValueError(
                                        "truncated deflate stream")
                                bitbuf = data_l[pos]
                                pos += 1
                                nbits = 8
                            code = (code << 1) | (bitbuf & 1)
                            bitbuf >>= 1
                            nbits -= 1
                            ln_c += 1
                            s = dist_dict.get((ln_c, code))
                            if s is not None:
                                dsym = s
                                break
                        if dsym < 0:
                            raise ValueError("invalid Huffman code")
                    if dsym > 29:
                        raise ValueError(f"invalid distance symbol {dsym}")
                    w = _DIST_EXTRA[dsym]
                    while nbits < w:
                        if pos >= n_l:
                            raise ValueError("truncated deflate stream")
                        bitbuf |= data_l[pos] << nbits
                        pos += 1
                        nbits += 8
                    dist = _DIST_BASE[dsym] + (bitbuf & ((1 << w) - 1))
                    bitbuf >>= w
                    nbits -= w
                    if dist > len(out):
                        raise ValueError("distance beyond output window")
                    copy_from = len(out) - dist
                    if dist >= length:  # non-overlapping: one slice copy
                        out += out[copy_from : copy_from + length]
                    else:
                        for k in range(length):  # overlap-safe byte copy
                            out_append(out[copy_from + k])
                else:
                    raise ValueError(f"invalid literal/length symbol {sym}")
        else:
            raise ValueError("reserved BTYPE=11")
        if bfinal:
            return bytes(out), br.pos - (br.nbits >> 3)


def inflate(data: bytes) -> bytes:
    """inflate_at from offset 0, decoded bytes only."""
    return inflate_at(data, 0)[0]


def zlib_inflate(stream: bytes) -> bytes:
    """RFC 1950 wrapper around inflate(): header check bits + adler32."""
    if len(stream) < 6:
        raise ValueError("zlib stream too short")
    cmf, flg = stream[0], stream[1]
    if cmf & 0x0F != 8:
        raise ValueError(f"not deflate: CM={cmf & 0x0F}")
    if (cmf * 256 + flg) % 31 != 0:
        raise ValueError("bad zlib header check")
    if flg & 0x20:
        raise ValueError("preset dictionary not supported")
    raw = inflate(stream[2:-4])
    expect = int.from_bytes(stream[-4:], "big")
    if _adler32(raw) != expect:
        raise ValueError("adler32 mismatch")
    return raw


@register(
    "mm_zlib_inflate_dynamic",
    oracle=_PLAIN_ORACLE,
    tags=("multimodal", "pandas_udf", "codec"),
    doc="Complete RFC 1951 DEFLATE decoder run against REAL compressor "
    "output: each document's bytes are compressed with the stdlib zlib "
    "compressor (which emits dynamic-Huffman blocks with LZ77 "
    "back-references on natural text), and the operator inflates the "
    "compressed stream with THIS REPO'S decoder — canonical Huffman table "
    "construction (RFC 3.2.2), the code-length meta-alphabet with 16/17/18 "
    "repeats, length/distance extra-bit tables, overlap-safe window "
    "copies, and the RFC 1950 wrapper (header check bits, adler32). A "
    "decoded-equals-original check hard-fails per row, and the oracle "
    "independently md5s the original bytes from hex(encode(text)) in SQL. "
    "This is the real thing PNG IDAT / gzip members contain — the codec "
    "gap is closed with spec-derived code, not a library. Scale: "
    "embarrassingly parallel across objects via mapInPandas, constant "
    "memory per task (the 32 KiB LZ77 window bounds state).",
)
def mm_zlib_inflate_dynamic(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = (
        tbl(spark, sf_dir, "documents")
        .select("doc_id", F.col("text").cast("binary").alias("payload"))
        .filter(F.length(F.col("payload")) > 0)
    )

    def make_check():
        import zlib

        def check(doc_id: int, b: bytes) -> None:
            if zlib_inflate(zlib.compress(b, 6)) != b:
                raise ValueError(f"inflate mismatch for doc {doc_id}")

        return check

    return byte_roundtrip(d, make_check)


# ---------------------------------------------------------------------------
# Container layer above the codec layer: gzip members (RFC 1952), PNG chunk
# framing (PNG spec §5), and GIF interlacing (GIF89a appendix E). The codec
# entries above decode compressed PAYLOADS; these walk the FILE FORMATS that
# carry them — header flags, CRC-32 integrity, chunk inventories, and the
# four-pass interlace row permutation. Reference parity: the reference treats
# media as opaque payload blobs (flock/src/datasource/memory.rs payload
# tables); this closes the gap a real 100 TB media-lake scan hits first:
# trusting container metadata without validating it.
# ---------------------------------------------------------------------------

def gzip_member_build(name: str, mtime: int, payload: bytes) -> bytes:
    """A valid single-member gzip stream (RFC 1952): magic, CM=8, FLG with
    FNAME+FHCRC, MTIME, raw-deflate body from the stdlib compressor, CRC32 +
    ISIZE trailer (stamped with the stdlib so validation is adversarial)."""
    import zlib as _zlib

    hdr = bytearray(b"\x1f\x8b\x08")
    hdr.append(0x08 | 0x02)  # FLG: FNAME | FHCRC
    hdr.extend((mtime & 0xFFFFFFFF).to_bytes(4, "little"))
    hdr.extend(b"\x00\x03")  # XFL=0, OS=3 (Unix)
    hdr.extend(name.encode("latin-1") + b"\x00")
    hdr.extend((_zlib.crc32(bytes(hdr)) & 0xFFFF).to_bytes(2, "little"))
    co = _zlib.compressobj(6, _zlib.DEFLATED, -15)  # raw deflate, no wrapper
    body = co.compress(payload) + co.flush()
    trailer = (_zlib.crc32(payload) & 0xFFFFFFFF).to_bytes(4, "little")
    trailer += (len(payload) & 0xFFFFFFFF).to_bytes(4, "little")
    return bytes(hdr) + body + trailer


def gzip_member_parse_at(stream: bytes, start: int) -> tuple[str, int, bytes, int]:
    """Parse + validate one gzip member at byte offset `start`: magic/CM,
    FLG bit walk (FEXTRA, FNAME, FCOMMENT, FHCRC), header CRC16, full
    inflate of the deflate body via this repo's RFC 1951 decoder, CRC32 +
    ISIZE trailer — every check with bitio.crc32. Returns (fname, mtime,
    payload, end_offset) where end_offset is the first byte after the
    member's trailer (the next member of a concatenated stream starts
    there); ValueError on any violation."""
    if len(stream) - start < 18:
        raise ValueError("gzip stream too short")
    if stream[start] != 0x1F or stream[start + 1] != 0x8B:
        raise ValueError("bad gzip magic")
    if stream[start + 2] != 8:
        raise ValueError(f"unsupported CM={stream[start + 2]}")
    flg = stream[start + 3]
    if flg & 0xE0:
        raise ValueError("reserved FLG bits set")
    mtime = int.from_bytes(stream[start + 4 : start + 8], "little")
    pos = start + 10
    if flg & 0x04:  # FEXTRA
        if pos + 2 > len(stream):
            raise ValueError("truncated FEXTRA length")
        xlen = int.from_bytes(stream[pos : pos + 2], "little")
        pos += 2 + xlen
        if pos > len(stream):
            raise ValueError("truncated FEXTRA field")
    fname = ""
    if flg & 0x08:  # FNAME, zero-terminated latin-1
        end = stream.find(b"\x00", pos)
        if end < 0:
            raise ValueError("truncated header field: unterminated FNAME")
        fname = stream[pos:end].decode("latin-1")
        pos = end + 1
    if flg & 0x10:  # FCOMMENT
        end = stream.find(b"\x00", pos)
        if end < 0:
            raise ValueError("truncated header field: unterminated FCOMMENT")
        pos = end + 1
    if flg & 0x02:  # FHCRC: CRC16 of everything before it
        expect = int.from_bytes(stream[pos : pos + 2], "little")
        if crc32(stream[start:pos]) & 0xFFFF != expect:
            raise ValueError("header CRC16 mismatch")
        pos += 2
    payload, data_end = inflate_at(stream, pos)
    if data_end + 8 > len(stream):
        raise ValueError("truncated gzip trailer")
    crc = int.from_bytes(stream[data_end : data_end + 4], "little")
    isize = int.from_bytes(stream[data_end + 4 : data_end + 8], "little")
    if crc32(payload) != crc:
        raise ValueError("payload CRC32 mismatch")
    if len(payload) & 0xFFFFFFFF != isize:
        raise ValueError("ISIZE mismatch")
    return fname, mtime, payload, data_end + 8


def gzip_member_parse(stream: bytes) -> tuple[str, int, bytes]:
    """Single-member parse: the whole stream must be exactly one member."""
    fname, mtime, payload, end = gzip_member_parse_at(stream, 0)
    if end != len(stream):
        raise ValueError(f"{len(stream) - end} trailing bytes after member")
    return fname, mtime, payload


def gzip_multistream_walk(stream: bytes) -> list[tuple[str, int, bytes]]:
    """Walk a CONCATENATED gzip stream (RFC 1952 §2.2 'a gzip file consists
    of a series of members' — the WARC/Common-Crawl shape): parse members
    back to back until the stream is exhausted. Member boundaries come from
    the inflate end offset, the bug-prone part real WARC readers get wrong.
    ValueError on any violation, including trailing garbage."""
    out: list[tuple[str, int, bytes]] = []
    pos = 0
    while pos < len(stream):
        fname, mtime, payload, pos = gzip_member_parse_at(stream, pos)
        out.append((fname, mtime, payload))
    if not out:
        raise ValueError("empty gzip stream")
    return out


@register(
    "mm_gzip_member_parse",
    oracle="""
    SELECT doc_id,
           'doc_' || CAST(doc_id AS VARCHAR) || '.txt' AS fname,
           CAST(doc_id AS BIGINT) AS mtime,
           CAST(10 AS BIGINT) AS flg,
           CAST(octet_length(encode(text)) AS BIGINT) AS isize,
           md5(hex(encode(text))) AS payload_md5
    FROM documents
    WHERE octet_length(encode(text)) > 0
    """,
    tags=("multimodal", "pandas_udf", "codec", "container"),
    doc="RFC 1952 gzip member walk against REAL compressor output: each "
    "document becomes a valid gzip member (FNAME + FHCRC flags, stdlib "
    "deflate body, stdlib-stamped CRC32/ISIZE trailer) and the operator "
    "parses it back — magic/CM, FLG bit walk, zero-terminated FNAME, "
    "header CRC16 and trailer CRC32 validated with THIS REPO'S table-driven "
    "CRC-32 (so a CRC bug mismatches the stdlib stamp instead of agreeing "
    "with itself), body inflated with the repo's full RFC 1951 decoder, "
    "ISIZE cross-checked. Oracle re-derives every parsed field in SQL. "
    "Scale: one member per row via mapInPandas, embarrassingly parallel "
    "across objects — the shape of a 100 TB WET/WARC-style archive scan "
    "where trusting unvalidated members corrupts the corpus silently.",
)
def mm_gzip_member_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = (
        tbl(spark, sf_dir, "documents")
        .select("doc_id", F.col("text").cast("binary").alias("payload"))
        .filter(F.length(F.col("payload")) > 0)
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: dict[str, list] = {
                "doc_id": [], "fname": [], "mtime": [], "flg": [],
                "isize": [], "payload_md5": [],
            }
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                original = bytes(payload)
                member = gzip_member_build(
                    f"doc_{int(doc_id)}.txt", int(doc_id), original
                )
                fname, mtime, decoded = gzip_member_parse(member)
                if decoded != original:
                    raise ValueError(f"gzip roundtrip mismatch for doc {doc_id}")
                rows["doc_id"].append(int(doc_id))
                rows["fname"].append(fname)
                rows["mtime"].append(mtime)
                rows["flg"].append(member[3])
                rows["isize"].append(len(decoded))
                rows["payload_md5"].append(
                    hashlib.md5(decoded.hex().upper().encode()).hexdigest()
                )
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(rows["doc_id"], dtype="int64"),
                    "fname": pd.Series(rows["fname"], dtype="object"),
                    "mtime": pd.Series(rows["mtime"], dtype="int64"),
                    "flg": pd.Series(rows["flg"], dtype="int64"),
                    "isize": pd.Series(rows["isize"], dtype="int64"),
                    "payload_md5": pd.Series(rows["payload_md5"], dtype="object"),
                }
            )

    return spread(d).mapInPandas(
        run,
        schema="doc_id long, fname string, mtime long, flg long, isize long, "
        "payload_md5 string",
    )


def png_container_build(grid, source: str, np) -> bytes:
    """A complete, valid PNG file: 8-byte signature, IHDR (8-bit grayscale,
    no interlace), one tEXt chunk carrying the document's source tag, one
    IDAT holding the filtered grid in a stored-block zlib stream, IEND.
    Chunk CRCs are stamped with the stdlib (adversarial to bitio.crc32)."""
    import zlib as _zlib

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            len(data).to_bytes(4, "big")
            + ctype
            + data
            + (_zlib.crc32(ctype + data) & 0xFFFFFFFF).to_bytes(4, "big")
        )

    h, w = grid.shape
    ihdr = (
        w.to_bytes(4, "big") + h.to_bytes(4, "big")
        + bytes([8, 0, 0, 0, 0])  # bit depth 8, grayscale, deflate, adaptive, no interlace
    )
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"tEXt", b"source\x00" + source.encode("latin-1"))
        + chunk(b"IDAT", png_stored_deflate(png_filter_rows(grid, np)))
        + chunk(b"IEND", b"")
    )


def png_container_walk(stream: bytes, np):
    """Walk a PNG file chunk by chunk: signature, per-chunk length/type/CRC
    (validated with bitio.crc32), IHDR field extraction, tEXt key/value split,
    IDAT inflate + unfilter via the stored-block zlib path, IEND terminator.
    Returns (width, height, n_chunks, idat_len, texts, grid)."""
    if stream[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("bad PNG signature")
    pos = 8
    width = height = -1
    n_chunks = 0
    idat_len = 0
    idat = bytearray()
    texts: dict[str, str] = {}
    ended = False
    while pos < len(stream):
        if ended:
            raise ValueError("data after IEND")
        if pos + 12 > len(stream):
            raise ValueError("truncated chunk header")
        ln = int.from_bytes(stream[pos : pos + 4], "big")
        ctype = stream[pos + 4 : pos + 8]
        data = stream[pos + 8 : pos + 8 + ln]
        if len(data) != ln:
            raise ValueError("truncated chunk data")
        crc = int.from_bytes(stream[pos + 8 + ln : pos + 12 + ln], "big")
        if crc32(ctype + data) != crc:
            raise ValueError(f"CRC mismatch in {ctype!r}")
        n_chunks += 1
        if ctype == b"IHDR":
            width = int.from_bytes(data[0:4], "big")
            height = int.from_bytes(data[4:8], "big")
            if data[8] != 8 or data[9] != 0 or data[12] != 0:
                raise ValueError("unsupported IHDR settings")
        elif ctype == b"tEXt":
            k, _, v = data.partition(b"\x00")
            texts[k.decode("latin-1")] = v.decode("latin-1")
        elif ctype == b"IDAT":
            idat_len += ln
            idat.extend(data)
        elif ctype == b"IEND":
            if ln:
                raise ValueError("non-empty IEND")
            ended = True
        pos += 12 + ln
    if not ended:
        raise ValueError("missing IEND")
    grid = png_unfilter_rows(png_inflate_stored(bytes(idat)), width, np)
    if grid.shape != (height, width):
        raise ValueError("IHDR dims disagree with IDAT payload")
    return width, height, n_chunks, idat_len, texts, grid


@register(
    "mm_png_chunk_walk",
    oracle=f"""
    WITH img AS (
      SELECT doc_id, source, hex(encode(text)) AS hx,
             CAST(octet_length(encode(text)) // {PNG_ROW_W} AS BIGINT) AS h
      FROM documents
      WHERE octet_length(encode(text)) >= {PNG_ROW_W})
    SELECT doc_id,
           CAST({PNG_ROW_W} AS BIGINT) AS width,
           h AS height,
           CAST(4 AS BIGINT) AS n_chunks,
           CAST(2 + 5 * ((h * {PNG_ROW_W + 1} + 65534) // 65535)
                + h * {PNG_ROW_W + 1} + 4 AS BIGINT) AS idat_len,
           source AS src,
           md5(substring(hx, 1, CAST(h * {PNG_ROW_W} * 2 AS INT)))
             AS pixels_md5
    FROM img
    """,
    tags=("multimodal", "pandas_udf", "codec", "container"),
    doc="PNG container walk with CRC-32 validation, from the public PNG "
    "spec: each document's byte grid is wrapped in a COMPLETE PNG file "
    "(signature, IHDR, a tEXt chunk carrying the source tag, stored-zlib "
    "IDAT, IEND; chunk CRCs stamped by the stdlib) and the operator walks "
    "the chunk stream back — signature, length/type/CRC framing with the "
    "repo's own CRC-32, IHDR field checks, tEXt key/value split, IDAT "
    "inflate + scanline unfilter, IEND terminator. The oracle re-derives "
    "width/height/chunk-count and the exact IDAT byte length from the "
    "stored-block framing arithmetic (2-byte zlib header + 5 bytes per "
    "65535-byte block + adler32) and md5s the original grid from "
    "hex(encode(text)). Closes the container layer above the codec layer. "
    "Scale: per-object mapInPandas, same as the whole decode family.",
)
def mm_png_chunk_walk(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    d = (
        tbl(spark, sf_dir, "documents")
        .select(
            "doc_id", "source", F.col("text").cast("binary").alias("payload")
        )
        .filter(F.length(F.col("payload")) >= PNG_ROW_W)
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: dict[str, list] = {
                "doc_id": [], "width": [], "height": [], "n_chunks": [],
                "idat_len": [], "src": [], "pixels_md5": [],
            }
            for doc_id, source, payload in zip(
                pdf["doc_id"], pdf["source"], pdf["payload"]
            ):
                b = bytes(payload)
                h = len(b) // PNG_ROW_W
                grid = np.frombuffer(b[: h * PNG_ROW_W], dtype=np.uint8).reshape(
                    h, PNG_ROW_W
                )
                png = png_container_build(grid, str(source), np)
                w2, h2, n_chunks, idat_len, texts, recon = png_container_walk(
                    png, np
                )
                if not (recon == grid).all():
                    raise ValueError(f"PNG walk roundtrip mismatch doc {doc_id}")
                rows["doc_id"].append(int(doc_id))
                rows["width"].append(w2)
                rows["height"].append(h2)
                rows["n_chunks"].append(n_chunks)
                rows["idat_len"].append(idat_len)
                rows["src"].append(texts["source"])
                rows["pixels_md5"].append(
                    hashlib.md5(
                        recon.astype(np.uint8).tobytes().hex().upper().encode()
                    ).hexdigest()
                )
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(rows["doc_id"], dtype="int64"),
                    "width": pd.Series(rows["width"], dtype="int64"),
                    "height": pd.Series(rows["height"], dtype="int64"),
                    "n_chunks": pd.Series(rows["n_chunks"], dtype="int64"),
                    "idat_len": pd.Series(rows["idat_len"], dtype="int64"),
                    "src": pd.Series(rows["src"], dtype="object"),
                    "pixels_md5": pd.Series(rows["pixels_md5"], dtype="object"),
                }
            )

    return spread(d).mapInPandas(
        run,
        schema="doc_id long, width long, height long, n_chunks long, "
        "idat_len long, src string, pixels_md5 string",
    )


def gif_interlace_order(h: int) -> list[int]:
    """GIF89a appendix-E interlace: the order in which source rows appear in
    the encoded stream — pass 1 rows 0,8,16…, pass 2 rows 4,12…, pass 3 rows
    2,6,10…, pass 4 rows 1,3,5…"""
    order: list[int] = []
    for start, step in ((0, 8), (4, 8), (2, 4), (1, 2)):
        order.extend(range(start, h, step))
    return order


def gif_deinterlace(rows_in_stream_order: list, h: int) -> list:
    """Invert the four-pass interlace: stream position i holds source row
    gif_interlace_order(h)[i]; place each back."""
    order = gif_interlace_order(h)
    if len(rows_in_stream_order) != h or len(order) != h:
        raise ValueError("row count disagrees with height")
    out: list = [None] * h
    for i, y in enumerate(order):
        if out[y] is not None:
            raise ValueError(f"duplicate target row {y}")
        out[y] = rows_in_stream_order[i]
    return out


@register(
    "mm_gif_deinterlace",
    oracle=f"""
    WITH img AS (
      SELECT doc_id, hex(encode(text)) AS hx,
             CAST(octet_length(encode(text)) // {PNG_ROW_W} AS BIGINT) AS h
      FROM documents
      WHERE octet_length(encode(text)) >= {PNG_ROW_W}),
    rows_ AS (
      SELECT doc_id, h, hx, unnest(generate_series(0, h - 1)) AS y FROM img),
    pos AS (
      SELECT doc_id, h, hx, y,
             CASE
               WHEN y % 8 = 0 THEN y // 8
               WHEN y % 8 = 4 THEN (h + 7) // 8 + (y - 4) // 8
               WHEN y % 4 = 2 THEN (h + 7) // 8 + (h + 3) // 8 + (y - 2) // 4
               ELSE (h + 7) // 8 + (h + 3) // 8 + (h + 1) // 4 + (y - 1) // 2
             END AS p
      FROM rows_)
    SELECT doc_id,
           max(h) AS n_rows,
           md5(string_agg(CAST(y AS VARCHAR), ',' ORDER BY p)) AS perm_md5,
           md5(max(substring(hx, 1, CAST(h * {PNG_ROW_W} * 2 AS INT))))
             AS restored_md5
    FROM pos GROUP BY doc_id
    """,
    tags=("multimodal", "pandas_udf", "codec", "container"),
    doc="GIF89a four-pass interlace / deinterlace (appendix E of the public "
    "spec): the document's byte grid is emitted in interlaced stream order "
    "(rows 0,8,16… then 4,12… then 2,6… then odd rows) exactly as a GIF "
    "encoder writes it, and the operator inverts the permutation to restore "
    "raster order, hard-failing on any duplicate or missing target row. "
    "The oracle recomputes the permutation arithmetically in SQL — per-pass "
    "offsets (h+7)//8, (h+3)//8, (h+1)//4 and within-pass strides — and "
    "md5s both the stream-order row sequence and the restored grid, so an "
    "off-by-one in any pass boundary mismatches. Scale: pure per-object "
    "array permutation in mapInPandas; the container/codec family's "
    "constant-memory shape.",
)
def mm_gif_deinterlace(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    d = (
        tbl(spark, sf_dir, "documents")
        .select("doc_id", F.col("text").cast("binary").alias("payload"))
        .filter(F.length(F.col("payload")) >= PNG_ROW_W)
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: dict[str, list] = {
                "doc_id": [], "n_rows": [], "perm_md5": [], "restored_md5": [],
            }
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                b = bytes(payload)
                h = len(b) // PNG_ROW_W
                grid = np.frombuffer(b[: h * PNG_ROW_W], dtype=np.uint8).reshape(
                    h, PNG_ROW_W
                )
                order = gif_interlace_order(h)
                interlaced = [grid[y] for y in order]  # what the encoder emits
                restored = gif_deinterlace(interlaced, h)
                recon = np.stack(restored)
                if not (recon == grid).all():
                    raise ValueError(f"deinterlace mismatch for doc {doc_id}")
                rows["doc_id"].append(int(doc_id))
                rows["n_rows"].append(h)
                rows["perm_md5"].append(
                    hashlib.md5(
                        ",".join(str(y) for y in order).encode()
                    ).hexdigest()
                )
                rows["restored_md5"].append(
                    hashlib.md5(
                        recon.astype(np.uint8).tobytes().hex().upper().encode()
                    ).hexdigest()
                )
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(rows["doc_id"], dtype="int64"),
                    "n_rows": pd.Series(rows["n_rows"], dtype="int64"),
                    "perm_md5": pd.Series(rows["perm_md5"], dtype="object"),
                    "restored_md5": pd.Series(rows["restored_md5"], dtype="object"),
                }
            )

    return spread(d).mapInPandas(
        run,
        schema="doc_id long, n_rows long, perm_md5 string, restored_md5 string",
    )


# ---------------------------------------------------------------------------
# TAR (ustar) member walk — the WebDataset / checkpoint-shard container: a
# training shard is a tar of per-sample member files, and a 100 TB media
# pipeline streams these archives member by member. The stdlib tarfile
# module WRITES the archive (adversarial, like the gzip/PNG stamps); the
# walk below parses the raw 512-byte header blocks from the public ustar
# spec (POSIX.1-1988): name, octal size/mtime fields, header checksum
# (sum with the chksum field blanked), magic/version, data padding, and
# the two-zero-block terminator.
# ---------------------------------------------------------------------------


def tar_build(members: list[tuple[str, bytes]], mtime: int) -> bytes:
    """A real ustar archive from the stdlib writer: deterministic metadata
    (fixed uid/gid/mode, caller's mtime), USTAR_FORMAT so the parser sees
    pure POSIX.1-1988 blocks with no PAX extended headers."""
    import io
    import tarfile

    buf = io.BytesIO()
    with tarfile.open(
        fileobj=buf, mode="w", format=tarfile.USTAR_FORMAT
    ) as tf:
        for name, payload in members:
            info = tarfile.TarInfo(name=name)
            info.size = len(payload)
            info.mtime = mtime
            info.uid = info.gid = 0
            info.uname = info.gname = "root"
            info.mode = 0o644
            tf.addfile(info, io.BytesIO(payload))
    return buf.getvalue()


def tar_member_walk(stream: bytes) -> list[tuple[str, int, int, bytes]]:
    """Parse a ustar archive from the raw blocks: validates magic, version,
    the header checksum (unsigned sum with chksum blanked to spaces), octal
    field framing, 512-byte data padding, and the terminator. Returns
    [(name, size, mtime, payload)]; ValueError on any violation."""
    if len(stream) % 512:
        raise ValueError("tar stream not block-aligned")
    out: list[tuple[str, int, int, bytes]] = []
    pos = 0
    while True:
        if pos + 512 > len(stream):
            raise ValueError("missing end-of-archive blocks")
        hdr = stream[pos : pos + 512]
        if hdr == b"\x00" * 512:  # first terminator block; require the second
            if stream[pos + 512 : pos + 1024] != b"\x00" * 512:
                raise ValueError("single zero block is not a valid terminator")
            return out
        if hdr[257:263] != b"ustar\x00":
            raise ValueError(f"bad ustar magic {hdr[257:263]!r}")
        if hdr[263:265] != b"00":
            raise ValueError(f"bad ustar version {hdr[263:265]!r}")
        expect = int(hdr[148:156].split(b"\x00")[0].strip() or b"0", 8)
        blanked = hdr[:148] + b" " * 8 + hdr[156:]
        if sum(blanked) != expect:
            raise ValueError("header checksum mismatch")
        name = hdr[0:100].split(b"\x00")[0].decode("utf-8")
        size = int(hdr[124:136].split(b"\x00")[0].strip() or b"0", 8)
        mtime = int(hdr[136:148].split(b"\x00")[0].strip() or b"0", 8)
        typeflag = hdr[156:157]
        if typeflag not in (b"0", b"\x00"):
            raise ValueError(f"unsupported member type {typeflag!r}")
        data_start = pos + 512
        payload = stream[data_start : data_start + size]
        if len(payload) != size:
            raise ValueError("truncated member payload")
        padded = (size + 511) // 512 * 512
        pad = stream[data_start + size : data_start + padded]
        if pad.strip(b"\x00"):
            raise ValueError("nonzero bytes in member padding")
        out.append((name, size, mtime, payload))
        pos = data_start + padded


@register(
    "mm_tar_member_walk",
    oracle="""
    SELECT doc_id,
           CAST(2 AS BIGINT) AS n_members,
           CAST(octet_length(encode(text)) + 6 + octet_length(encode(lang))
                AS BIGINT) AS total_size,
           CAST(doc_id AS BIGINT) AS mtime,
           md5('doc_' || CAST(doc_id AS VARCHAR) || '.txt,'
               || 'doc_' || CAST(doc_id AS VARCHAR) || '.meta') AS names_md5,
           md5(hex(encode(text || 'lang=' || lang || chr(10)))) AS payload_md5
    FROM documents
    WHERE octet_length(encode(text)) > 0
    """,
    tags=("multimodal", "pandas_udf", "container"),
    doc="ustar archive walk — the WebDataset/shard container format: each "
    "document becomes a 2-member tar (its text payload + a .meta sidecar) "
    "written by the stdlib in pure POSIX.1-1988 ustar form, and the "
    "operator parses the RAW 512-byte blocks back — magic/version, the "
    "blanked-checksum header sum, octal size/mtime fields, data padding "
    "validation, and the two-zero-block terminator, hard-failing on any "
    "violation. The oracle re-derives member count, concatenated size, "
    "mtime, the member-name list hash, and the md5 of the concatenated "
    "payload bytes straight from the documents row. Scale: tar is THE "
    "sequential shard format for training data (WebDataset, checkpoint "
    "bundles); per-archive walking is embarrassingly parallel across "
    "shards via mapInPandas with constant memory — and at 100 TB the "
    "member offsets this walk computes are exactly what an index-building "
    "pass stores so later reads can seek, not scan.",
)
def mm_tar_member_walk(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = (
        tbl(spark, sf_dir, "documents")
        .select("doc_id", "lang", F.col("text").cast("binary").alias("payload"))
        .filter(F.length(F.col("payload")) > 0)
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: dict[str, list] = {
                "doc_id": [], "n_members": [], "total_size": [], "mtime": [],
                "names_md5": [], "payload_md5": [],
            }
            for doc_id, lang, payload in zip(
                pdf["doc_id"], pdf["lang"], pdf["payload"]
            ):
                text = bytes(payload)
                meta = f"lang={lang}\n".encode()
                archive = tar_build(
                    [
                        (f"doc_{int(doc_id)}.txt", text),
                        (f"doc_{int(doc_id)}.meta", meta),
                    ],
                    mtime=int(doc_id),
                )
                members = tar_member_walk(archive)
                if [(m[0], m[3]) for m in members] != [
                    (f"doc_{int(doc_id)}.txt", text),
                    (f"doc_{int(doc_id)}.meta", meta),
                ]:
                    raise ValueError(f"tar roundtrip mismatch for doc {doc_id}")
                rows["doc_id"].append(int(doc_id))
                rows["n_members"].append(len(members))
                rows["total_size"].append(sum(m[1] for m in members))
                rows["mtime"].append(members[0][2])
                rows["names_md5"].append(
                    hashlib.md5(
                        ",".join(m[0] for m in members).encode()
                    ).hexdigest()
                )
                rows["payload_md5"].append(
                    hashlib.md5(
                        b"".join(m[3] for m in members).hex().upper().encode()
                    ).hexdigest()
                )
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(rows["doc_id"], dtype="int64"),
                    "n_members": pd.Series(rows["n_members"], dtype="int64"),
                    "total_size": pd.Series(rows["total_size"], dtype="int64"),
                    "mtime": pd.Series(rows["mtime"], dtype="int64"),
                    "names_md5": pd.Series(rows["names_md5"], dtype="object"),
                    "payload_md5": pd.Series(rows["payload_md5"], dtype="object"),
                }
            )

    return spread(d).mapInPandas(
        run,
        schema="doc_id long, n_members long, total_size long, mtime long, "
        "names_md5 string, payload_md5 string",
    )


@register(
    "mm_gzip_multistream_walk",
    oracle="""
    SELECT doc_id,
           CAST(3 AS BIGINT) AS n_members,
           CAST(octet_length(encode(text)) // 3 AS BIGINT) AS isize_1,
           CAST(octet_length(encode(text)) // 3 AS BIGINT) AS isize_2,
           CAST(octet_length(encode(text))
                - 2 * (octet_length(encode(text)) // 3) AS BIGINT) AS isize_3,
           md5(hex(encode(text))) AS payload_md5
    FROM documents
    WHERE octet_length(encode(text)) >= 3
    """,
    tags=("multimodal", "pandas_udf", "codec", "container"),
    doc="Concatenated gzip multistream walk (RFC 1952 §2.2: 'a gzip file "
    "consists of a series of members') — the WARC/Common-Crawl layout, "
    "where each record is its own gzip member and readers must find "
    "member boundaries from the DEFLATE stream end, not from offsets "
    "stored anywhere: each document's bytes split into three records, "
    "each becomes a full member (FNAME+FHCRC header, real stdlib "
    "compressor body, CRC32/ISIZE trailer), and the operator walks the "
    "concatenation back with the repo's inflate_at — per-member end "
    "offsets come from the decoder's final-block bit position rounded to "
    "the next byte, the exact boundary logic naive readers get wrong "
    "(reading to EOF silently swallows all but the first member). Every "
    "trailer is validated with the repo's own CRC-32 against the stdlib "
    "stamp; reassembled payload must equal the original. Scale: shard-"
    "parallel via mapInPandas; at 100 TB each task streams one archive "
    "and emits per-record rows — the first pass of every Common-Crawl "
    "ingest this engine would run.",
)
def mm_gzip_multistream_walk(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = (
        tbl(spark, sf_dir, "documents")
        .select("doc_id", F.col("text").cast("binary").alias("payload"))
        .filter(F.length(F.col("payload")) >= 3)
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: dict[str, list] = {
                "doc_id": [], "n_members": [], "isize_1": [], "isize_2": [],
                "isize_3": [], "payload_md5": [],
            }
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                original = bytes(payload)
                c = len(original) // 3
                chunks = [original[:c], original[c : 2 * c], original[2 * c :]]
                stream = b"".join(
                    gzip_member_build(f"rec_{i}", int(doc_id) * 4 + i, ch)
                    for i, ch in enumerate(chunks)
                )
                members = gzip_multistream_walk(stream)
                if b"".join(m[2] for m in members) != original or [
                    m[0] for m in members
                ] != ["rec_0", "rec_1", "rec_2"]:
                    raise ValueError(f"multistream mismatch for doc {doc_id}")
                rows["doc_id"].append(int(doc_id))
                rows["n_members"].append(len(members))
                rows["isize_1"].append(len(members[0][2]))
                rows["isize_2"].append(len(members[1][2]))
                rows["isize_3"].append(len(members[2][2]))
                rows["payload_md5"].append(
                    hashlib.md5(original.hex().upper().encode()).hexdigest()
                )
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(rows["doc_id"], dtype="int64"),
                    "n_members": pd.Series(rows["n_members"], dtype="int64"),
                    "isize_1": pd.Series(rows["isize_1"], dtype="int64"),
                    "isize_2": pd.Series(rows["isize_2"], dtype="int64"),
                    "isize_3": pd.Series(rows["isize_3"], dtype="int64"),
                    "payload_md5": pd.Series(rows["payload_md5"], dtype="object"),
                }
            )

    return spread(d).mapInPandas(
        run,
        schema="doc_id long, n_members long, isize_1 long, isize_2 long, "
        "isize_3 long, payload_md5 string",
    )


def zip_build(entries: list[tuple[str, bytes, bool]]) -> bytes:
    """A real ZIP archive from the stdlib writer: (name, payload, deflate?)
    per entry, deterministic timestamps. Seekable output, so no data
    descriptors — the layout the parser below expects."""
    import io
    import zipfile

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        for name, payload, deflate in entries:
            info = zipfile.ZipInfo(name, date_time=(2020, 1, 1, 0, 0, 0))
            info.compress_type = (
                zipfile.ZIP_DEFLATED if deflate else zipfile.ZIP_STORED
            )
            zf.writestr(info, payload)
    return buf.getvalue()


def zip_central_dir_walk(stream: bytes) -> list[tuple[str, int, int, bytes]]:
    """Walk a ZIP from the public APPNOTE structures: locate the end-of-
    central-directory record (PK\\x05\\x06) from the tail, walk the central
    directory (PK\\x01\\x02), cross-check each entry's local header
    (PK\\x03\\x04), decompress (stored as-is; deflate via this repo's
    RFC 1951 decoder), and validate the central directory's CRC-32 stamp
    with bitio.crc32. Returns [(name, method, uncomp_size, payload)];
    ValueError on any violation."""
    eocd = stream.rfind(b"PK\x05\x06")
    if eocd < 0:
        raise ValueError("no end-of-central-directory record")
    if len(stream) - eocd < 22:
        raise ValueError("truncated EOCD")
    n_entries = int.from_bytes(stream[eocd + 10 : eocd + 12], "little")
    cd_size = int.from_bytes(stream[eocd + 12 : eocd + 16], "little")
    cd_off = int.from_bytes(stream[eocd + 16 : eocd + 20], "little")
    if cd_off + cd_size != eocd:
        raise ValueError("central directory does not abut EOCD")
    out: list[tuple[str, int, int, bytes]] = []
    pos = cd_off
    for _ in range(n_entries):
        if stream[pos : pos + 4] != b"PK\x01\x02":
            raise ValueError("bad central directory signature")
        method = int.from_bytes(stream[pos + 10 : pos + 12], "little")
        crc = int.from_bytes(stream[pos + 16 : pos + 20], "little")
        comp_size = int.from_bytes(stream[pos + 20 : pos + 24], "little")
        uncomp_size = int.from_bytes(stream[pos + 24 : pos + 28], "little")
        name_len = int.from_bytes(stream[pos + 28 : pos + 30], "little")
        extra_len = int.from_bytes(stream[pos + 30 : pos + 32], "little")
        comment_len = int.from_bytes(stream[pos + 32 : pos + 34], "little")
        lho = int.from_bytes(stream[pos + 42 : pos + 46], "little")
        name = stream[pos + 46 : pos + 46 + name_len].decode("utf-8")
        # cross-check the local header this entry points at
        if stream[lho : lho + 4] != b"PK\x03\x04":
            raise ValueError(f"bad local header signature for {name}")
        l_method = int.from_bytes(stream[lho + 8 : lho + 10], "little")
        l_name_len = int.from_bytes(stream[lho + 26 : lho + 28], "little")
        l_extra_len = int.from_bytes(stream[lho + 28 : lho + 30], "little")
        l_name = stream[lho + 30 : lho + 30 + l_name_len].decode("utf-8")
        if l_name != name or l_method != method:
            raise ValueError(f"local/central header disagreement for {name}")
        data_start = lho + 30 + l_name_len + l_extra_len
        comp = stream[data_start : data_start + comp_size]
        if len(comp) != comp_size:
            raise ValueError(f"truncated entry data for {name}")
        if method == 0:
            if comp_size != uncomp_size:
                raise ValueError(f"stored entry size mismatch for {name}")
            payload = comp
        elif method == 8:
            payload = inflate(comp)
        else:
            raise ValueError(f"unsupported compression method {method}")
        if len(payload) != uncomp_size:
            raise ValueError(f"uncompressed size mismatch for {name}")
        if crc32(payload) != crc:
            raise ValueError(f"CRC-32 mismatch for {name}")
        out.append((name, method, uncomp_size, payload))
        pos += 46 + name_len + extra_len + comment_len
    if pos != eocd:
        raise ValueError("central directory size disagrees with entry walk")
    return out


@register(
    "mm_zip_central_dir_walk",
    oracle="""
    SELECT doc_id,
           CAST(2 AS BIGINT) AS n_entries,
           CAST(octet_length(encode(text)) AS BIGINT) AS txt_size,
           CAST(5 + octet_length(encode(source)) AS BIGINT) AS meta_size,
           CAST(8 AS BIGINT) AS txt_method,
           CAST(0 AS BIGINT) AS meta_method,
           md5('doc_' || CAST(doc_id AS VARCHAR) || '.txt,'
               || 'doc_' || CAST(doc_id AS VARCHAR) || '.meta') AS names_md5,
           md5(hex(encode(text || 'src=' || source || chr(10))))
             AS payload_md5
    FROM documents
    WHERE octet_length(encode(text)) > 0
    """,
    tags=("multimodal", "pandas_udf", "codec", "container"),
    doc="ZIP central-directory walk from the public APPNOTE spec — the "
    "dataset-archive container (HF dataset bundles, model artifact zips): "
    "each document becomes a 2-entry ZIP written by the stdlib (its text "
    "DEFLATED by the real compressor, a .meta sidecar STORED), and the "
    "operator walks the RAW structures back — EOCD located from the tail, "
    "central directory entries parsed field by field, each entry's local "
    "header cross-checked for name/method agreement (the classic zip-"
    "confusion attack surface), deflated payloads inflated with the "
    "repo's RFC 1951 decoder, stored sizes reconciled, and every CRC-32 "
    "validated with the repo's own table against the stdlib's stamp. The "
    "oracle re-derives entry counts, both sizes, both methods, the name "
    "list hash and the concatenated payload md5 from the documents row. "
    "Scale: archive-parallel mapInPandas; central-directory-first walking "
    "is exactly how a 100 TB artifact scan avoids reading entry data it "
    "will prune (the CD is a tail index — read it, push the name/size "
    "filter down, seek only to surviving entries).",
)
def mm_zip_central_dir_walk(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = (
        tbl(spark, sf_dir, "documents")
        .select(
            "doc_id", "source", F.col("text").cast("binary").alias("payload")
        )
        .filter(F.length(F.col("payload")) > 0)
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: dict[str, list] = {
                "doc_id": [], "n_entries": [], "txt_size": [], "meta_size": [],
                "txt_method": [], "meta_method": [], "names_md5": [],
                "payload_md5": [],
            }
            for doc_id, source, payload in zip(
                pdf["doc_id"], pdf["source"], pdf["payload"]
            ):
                text = bytes(payload)
                meta = f"src={source}\n".encode()
                archive = zip_build(
                    [
                        (f"doc_{int(doc_id)}.txt", text, True),
                        (f"doc_{int(doc_id)}.meta", meta, False),
                    ]
                )
                entries = zip_central_dir_walk(archive)
                if [(e[0], e[3]) for e in entries] != [
                    (f"doc_{int(doc_id)}.txt", text),
                    (f"doc_{int(doc_id)}.meta", meta),
                ]:
                    raise ValueError(f"zip roundtrip mismatch for doc {doc_id}")
                rows["doc_id"].append(int(doc_id))
                rows["n_entries"].append(len(entries))
                rows["txt_size"].append(entries[0][2])
                rows["meta_size"].append(entries[1][2])
                rows["txt_method"].append(entries[0][1])
                rows["meta_method"].append(entries[1][1])
                rows["names_md5"].append(
                    hashlib.md5(
                        ",".join(e[0] for e in entries).encode()
                    ).hexdigest()
                )
                rows["payload_md5"].append(
                    hashlib.md5(
                        b"".join(e[3] for e in entries)
                        .hex()
                        .upper()
                        .encode()
                    ).hexdigest()
                )
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(rows["doc_id"], dtype="int64"),
                    "n_entries": pd.Series(rows["n_entries"], dtype="int64"),
                    "txt_size": pd.Series(rows["txt_size"], dtype="int64"),
                    "meta_size": pd.Series(rows["meta_size"], dtype="int64"),
                    "txt_method": pd.Series(rows["txt_method"], dtype="int64"),
                    "meta_method": pd.Series(rows["meta_method"], dtype="int64"),
                    "names_md5": pd.Series(rows["names_md5"], dtype="object"),
                    "payload_md5": pd.Series(rows["payload_md5"], dtype="object"),
                }
            )

    return spread(d).mapInPandas(
        run,
        schema="doc_id long, n_entries long, txt_size long, meta_size long, "
        "txt_method long, meta_method long, names_md5 string, "
        "payload_md5 string",
    )


# ---------------------------------------------------------------------------
# WARC record layer (ISO 28500 / WARC 1.0, the Common-Crawl record shape)
# ---------------------------------------------------------------------------

_WARC_DATE = "2020-01-01T00:00:00Z"  # deterministic fixture timestamp


def warc_record_build(
    warc_type: str, record_id: str, payload: bytes,
    extra: list[tuple[str, str]] | None = None,
) -> bytes:
    """One WARC 1.0 record by plain concatenation (ISO 28500 §4: version
    line, named fields, CRLF, Content-Length octets of block, CRLF CRLF).
    Kept deliberately dumb — the parser below must not share logic with it."""
    fields = [
        ("WARC-Type", warc_type),
        ("WARC-Record-ID", record_id),
        ("WARC-Date", _WARC_DATE),
    ] + (extra or []) + [("Content-Length", str(len(payload)))]
    head = "WARC/1.0\r\n" + "".join(f"{k}: {v}\r\n" for k, v in fields)
    return head.encode("latin-1") + b"\r\n" + payload + b"\r\n\r\n"


def warc_record_parse(record: bytes) -> tuple[dict[str, str], bytes]:
    """Parse + validate one WARC record: WARC/1.0 version line, header
    fields split on the first colon (names case-normalized, duplicates
    rejected), mandatory WARC-Type / WARC-Record-ID / Content-Length,
    block of EXACTLY Content-Length octets, closing CRLF CRLF with nothing
    after it. Returns (fields, block); ValueError on any violation.
    Content-Length framing — not delimiters — bounds the block, the part
    naive readers get wrong when a block itself contains CRLF CRLF."""
    sep = record.find(b"\r\n\r\n")
    if sep < 0:
        raise ValueError("no header terminator in WARC record")
    head_lines = record[:sep].split(b"\r\n")
    if head_lines[0] != b"WARC/1.0":
        raise ValueError(f"bad WARC version line: {head_lines[0]!r}")
    fields: dict[str, str] = {}
    for ln in head_lines[1:]:
        colon = ln.find(b":")
        if colon <= 0:
            raise ValueError(f"malformed WARC header line: {ln!r}")
        name = ln[:colon].decode("latin-1").strip().lower()
        if not name or any(c.isspace() for c in name):
            # field-name is a token (ISO 28500 §4): a space means the real
            # separator was lost and a colon later in the VALUE matched
            raise ValueError(f"malformed WARC header line: {ln!r}")
        if name in fields:
            raise ValueError(f"duplicate WARC header: {name}")
        fields[name] = ln[colon + 1 :].decode("latin-1").strip()
    for req in ("warc-type", "warc-record-id", "content-length"):
        if req not in fields:
            raise ValueError(f"missing mandatory WARC header: {req}")
    if not fields["content-length"].isdigit():
        raise ValueError(f"bad Content-Length: {fields['content-length']!r}")
    n = int(fields["content-length"])
    block = record[sep + 4 : sep + 4 + n]
    if len(block) != n:
        raise ValueError(
            f"truncated WARC block: have {len(block)}, declared {n}"
        )
    tail = record[sep + 4 + n :]
    if tail != b"\r\n\r\n":
        raise ValueError(f"bad WARC record terminator: {tail[:8]!r}")
    return fields, block


def http_response_parse(block: bytes) -> tuple[int, dict[str, str], bytes]:
    """Parse the HTTP response carried in a WARC response block: status
    line (HTTP/1.1, 3-digit code), headers to the blank line, body of
    exactly Content-Length octets consuming the rest. Returns
    (status, headers, body); ValueError on any violation."""
    sep = block.find(b"\r\n\r\n")
    if sep < 0:
        raise ValueError("no HTTP header terminator")
    lines = block[:sep].split(b"\r\n")
    status_parts = lines[0].split(b" ", 2)
    if len(status_parts) < 2 or not status_parts[0].startswith(b"HTTP/"):
        raise ValueError(f"bad HTTP status line: {lines[0]!r}")
    if not status_parts[1].isdigit() or len(status_parts[1]) != 3:
        raise ValueError(f"bad HTTP status code: {status_parts[1]!r}")
    status = int(status_parts[1])
    headers: dict[str, str] = {}
    for ln in lines[1:]:
        colon = ln.find(b":")
        if colon <= 0:
            raise ValueError(f"malformed HTTP header line: {ln!r}")
        headers[ln[:colon].decode("latin-1").strip().lower()] = (
            ln[colon + 1 :].decode("latin-1").strip()
        )
    if "content-length" not in headers:
        raise ValueError("HTTP response missing Content-Length")
    n = int(headers["content-length"])
    body = block[sep + 4 :]
    if len(body) != n:
        raise ValueError(
            f"HTTP body length {len(body)} != Content-Length {n}"
        )
    return status, headers, body


def warc_gz_build(doc_id: int, uri: str, body: bytes) -> bytes:
    """A 3-record .warc.gz for one capture — warcinfo, request, response —
    each record its OWN gzip member (the mandatory Common-Crawl layout:
    per-record members are what make range-request record access work),
    compressed by the real stdlib deflater via gzip_member_build."""
    http = (
        b"HTTP/1.1 200 OK\r\n"
        b"Content-Type: text/plain\r\n"
        + f"Content-Length: {len(body)}\r\n".encode()
        + b"\r\n" + body
    )
    recs = [
        warc_record_build(
            "warcinfo", f"<urn:uuid:{doc_id:08d}-info>",
            b"software: flock-spark/1.0\r\n",
        ),
        warc_record_build(
            "request", f"<urn:uuid:{doc_id:08d}-req>",
            f"GET /doc_{doc_id} HTTP/1.1\r\nHost: example.com\r\n\r\n".encode(),
            extra=[("WARC-Target-URI", uri)],
        ),
        warc_record_build(
            "response", f"<urn:uuid:{doc_id:08d}-resp>", http,
            extra=[("WARC-Target-URI", uri)],
        ),
    ]
    return b"".join(
        gzip_member_build("", doc_id * 8 + i, rec) for i, rec in enumerate(recs)
    )


@register(
    "mm_warc_record_walk",
    oracle="""
    SELECT doc_id,
           CAST(3 AS BIGINT) AS n_records,
           'http://example.com/doc_' || CAST(doc_id AS VARCHAR)
             AS target_uri,
           CAST(63 + length(CAST(octet_length(encode(text)) AS VARCHAR))
                + octet_length(encode(text)) AS BIGINT)
             AS response_content_length,
           CAST(200 AS BIGINT) AS http_status,
           CAST(octet_length(encode(text)) AS BIGINT) AS body_len,
           md5(hex(encode(text))) AS body_md5
    FROM documents
    WHERE octet_length(encode(text)) > 0
    """,
    tags=("multimodal", "pandas_udf", "codec", "container"),
    doc="WARC 1.0 record walk over a real .warc.gz — THE Common-Crawl "
    "ingestion shape, one layer above mm_gzip_multistream_walk: each "
    "document becomes a 3-record capture (warcinfo, request, response "
    "carrying an HTTP/1.1 message), every record its own gzip member "
    "(the layout that makes per-record range access possible at archive "
    "scale), and the operator walks it all back — member boundaries from "
    "the repo's RFC 1951 inflate end offsets, WARC version line + header "
    "fields + Content-Length OCTET framing (not delimiter scanning — the "
    "block may itself contain CRLF CRLF) + record terminator per ISO "
    "28500, then the HTTP status line / headers / body split, asserting "
    "the extracted body equals the source document bytes. The oracle "
    "re-derives the record count, target URI, the response record's "
    "Content-Length (63 fixed header octets + the digit width of the "
    "body length + the body), status, body length and body md5 from the "
    "documents row. Scale: archive-parallel mapInPandas, one task per "
    "shard streaming records — the first pass of a 100 TB Common-Crawl "
    "ingest, where broken Content-Length framing silently truncates or "
    "merges documents.",
)
def mm_warc_record_walk(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = (
        tbl(spark, sf_dir, "documents")
        .select("doc_id", F.col("text").cast("binary").alias("payload"))
        .filter(F.length(F.col("payload")) > 0)
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: dict[str, list] = {
                "doc_id": [], "n_records": [], "target_uri": [],
                "response_content_length": [], "http_status": [],
                "body_len": [], "body_md5": [],
            }
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                body = bytes(payload)
                uri = f"http://example.com/doc_{int(doc_id)}"
                archive = warc_gz_build(int(doc_id), uri, body)
                members = gzip_multistream_walk(archive)
                parsed = [warc_record_parse(m[2]) for m in members]
                types = [f["warc-type"] for f, _ in parsed]
                if types != ["warcinfo", "request", "response"]:
                    raise ValueError(f"record type walk mismatch: {types}")
                resp_fields, resp_block = parsed[2]
                if resp_fields.get("warc-target-uri") != uri:
                    raise ValueError("response WARC-Target-URI mismatch")
                status, http_headers, got = http_response_parse(resp_block)
                if got != body:
                    raise ValueError(f"extracted body mismatch for {doc_id}")
                rows["doc_id"].append(int(doc_id))
                rows["n_records"].append(len(parsed))
                rows["target_uri"].append(uri)
                rows["response_content_length"].append(
                    int(resp_fields["content-length"])
                )
                rows["http_status"].append(status)
                rows["body_len"].append(len(got))
                rows["body_md5"].append(
                    hashlib.md5(got.hex().upper().encode()).hexdigest()
                )
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(rows["doc_id"], dtype="int64"),
                    "n_records": pd.Series(rows["n_records"], dtype="int64"),
                    "target_uri": pd.Series(rows["target_uri"], dtype="object"),
                    "response_content_length": pd.Series(
                        rows["response_content_length"], dtype="int64"
                    ),
                    "http_status": pd.Series(rows["http_status"], dtype="int64"),
                    "body_len": pd.Series(rows["body_len"], dtype="int64"),
                    "body_md5": pd.Series(rows["body_md5"], dtype="object"),
                }
            )

    return spread(d).mapInPandas(
        run,
        schema="doc_id long, n_records long, target_uri string, "
        "response_content_length long, http_status long, body_len long, "
        "body_md5 string",
    )


WARC_N_SHARDS = 8


def _stage_warc_corpus(sf_dir: str) -> str:
    """Materialize the documents table as a sharded on-disk .warc.gz corpus
    (once per sf_dir): WARC_N_SHARDS files, shard = doc_id % N, docs in
    doc_id order within a shard, each capture the 3-record per-record-gzip
    layout of warc_gz_build. Reads the parquet directly with pyarrow so the
    staged bytes are produced by a code path independent of the Spark scan
    the entry is certified against."""
    from flock_spark.staging import stage_once

    def write_corpus(tmp: str) -> None:
        import pyarrow.parquet as pq

        t = pq.read_table(
            f"{sf_dir}/documents.parquet", columns=["doc_id", "text"]
        )
        pairs = sorted(
            zip(t.column("doc_id").to_pylist(), t.column("text").to_pylist())
        )
        shards: list[list[bytes]] = [[] for _ in range(WARC_N_SHARDS)]
        for doc_id, text in pairs:
            body = (text or "").encode("utf-8")
            if not body:
                continue
            uri = f"http://example.com/doc_{doc_id}"
            shards[doc_id % WARC_N_SHARDS].append(
                warc_gz_build(int(doc_id), uri, body)
            )
        import os

        for s, chunks in enumerate(shards):
            with open(
                os.path.join(tmp, f"shard-{s:05d}.warc.gz"), "wb"
            ) as fh:
                fh.write(b"".join(chunks))

    return stage_once(f"warc_corpus_{sf_dir}", "v1-8shard-3rec", write_corpus)


@register(
    "mm_warc_file_ingest",
    oracle=f"""
    SELECT doc_id,
           CAST(doc_id % {WARC_N_SHARDS} AS BIGINT) AS shard,
           CAST(3 AS BIGINT) AS n_records,
           'http://example.com/doc_' || CAST(doc_id AS VARCHAR)
             AS target_uri,
           CAST(200 AS BIGINT) AS http_status,
           CAST(octet_length(encode(text)) AS BIGINT) AS body_len,
           md5(hex(encode(text))) AS body_md5
    FROM documents
    WHERE octet_length(encode(text)) > 0
    """,
    tags=("multimodal", "pandas_udf", "codec", "container", "staged"),
    doc="FILE-TRUE WARC ingestion — closes the gap mm_warc_record_walk "
    "left: that entry builds its archive inside the UDF; this one reads "
    "REAL on-disk .warc.gz shard files it did not build in the same "
    "process stage. The documents table is staged ONCE per sf_dir as "
    f"{WARC_N_SHARDS} shard files (shard = doc_id % {WARC_N_SHARDS}, "
    "pyarrow-read parquet -> per-record-gzip captures, the Common-Crawl "
    "layout), then the entry walks the actual file bytes exactly as a "
    "crawl ingest would: binaryFile scan -> per-file gzip multistream "
    "walk -> ISO 28500 record parse (Content-Length octet framing) -> "
    "HTTP/1.1 response split -> per-document row, validating that each "
    "capture's doc id (parsed back from its WARC-Target-URI) lands in "
    "the shard file its name promises. The oracle re-derives shard, "
    "record count, URI, status, body length and body md5 from the "
    "documents rows — so a staging bug, a walk bug, or a shard-routing "
    "bug all surface as hash mismatches. Scale: one task per shard file "
    "via binaryFile, records stream through O(record) memory, no "
    "shuffle — the first pass of a 100 TB Common-Crawl ingest, now "
    "exercised from disk like production. Parity with the reference's "
    "file-source ingestion (flock/src/datasource mod) re-expressed as "
    "a Spark binaryFile scan.",
)
def mm_warc_file_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    import re as _re

    path = _stage_warc_corpus(sf_dir)
    bf = (
        spark.read.format("binaryFile")
        .load(f"{path}/*.warc.gz")
        .select("path", "content")
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: dict[str, list] = {
                "doc_id": [], "shard": [], "n_records": [],
                "target_uri": [], "http_status": [], "body_len": [],
                "body_md5": [],
            }
            for fpath, content in zip(pdf["path"], pdf["content"]):
                m = _re.search(r"shard-(\d+)\.warc\.gz$", str(fpath))
                if not m:
                    raise ValueError(f"unexpected shard file name: {fpath}")
                shard = int(m.group(1))
                members = gzip_multistream_walk(bytes(content))
                parsed = [warc_record_parse(mm[2]) for mm in members]
                if len(parsed) % 3:
                    raise ValueError(
                        f"shard {shard}: {len(parsed)} records, not 3/capture"
                    )
                for i in range(0, len(parsed), 3):
                    cap = parsed[i : i + 3]
                    types = [f["warc-type"] for f, _ in cap]
                    if types != ["warcinfo", "request", "response"]:
                        raise ValueError(f"capture type walk mismatch: {types}")
                    resp_fields, resp_block = cap[2]
                    uri = resp_fields["warc-target-uri"]
                    um = _re.search(r"/doc_(\d+)$", uri)
                    if not um:
                        raise ValueError(f"unparseable target URI: {uri}")
                    doc_id = int(um.group(1))
                    if doc_id % WARC_N_SHARDS != shard:
                        raise ValueError(
                            f"doc {doc_id} found in wrong shard {shard}"
                        )
                    status, _hh, body = http_response_parse(resp_block)
                    rows["doc_id"].append(doc_id)
                    rows["shard"].append(shard)
                    rows["n_records"].append(len(cap))
                    rows["target_uri"].append(uri)
                    rows["http_status"].append(status)
                    rows["body_len"].append(len(body))
                    rows["body_md5"].append(
                        hashlib.md5(body.hex().upper().encode()).hexdigest()
                    )
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(rows["doc_id"], dtype="int64"),
                    "shard": pd.Series(rows["shard"], dtype="int64"),
                    "n_records": pd.Series(rows["n_records"], dtype="int64"),
                    "target_uri": pd.Series(rows["target_uri"], dtype="object"),
                    "http_status": pd.Series(
                        rows["http_status"], dtype="int64"
                    ),
                    "body_len": pd.Series(rows["body_len"], dtype="int64"),
                    "body_md5": pd.Series(rows["body_md5"], dtype="object"),
                }
            )

    return bf.mapInPandas(
        run,
        schema="doc_id long, shard long, n_records long, target_uri string, "
        "http_status long, body_len long, body_md5 string",
    )


# ---------------------------------------------------------------------------
# Baseline JPEG (ITU-T T.81): from-spec encoder + decoder.
#
# The decoder reads EVERYTHING from the stream — quantization tables from
# DQT, Huffman tables rebuilt canonically from DHT's BITS/HUFFVAL, dims from
# SOF0 — and shares no table state with the encoder; only the public zigzag
# order constant (T.81 Figure A.6) is common, as it is spec data.
# ---------------------------------------------------------------------------

_ZIGZAG = (
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
)

# Annex K.1 luminance quantization table (Q[0][0] = 16: a power of two, which
# keeps the constant-block decode path exactly integer-derivable — see the
# registry entry's oracle) and K.3.1 typical luminance Huffman tables.
_JPEG_QTABLE = (
    16, 11, 10, 16, 24, 40, 51, 61, 12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56, 14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77, 24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101, 72, 92, 95, 98, 112, 100, 103, 99,
)
_DC_BITS = (0, 0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
_DC_VALS = tuple(range(12))
_AC_BITS = (0, 0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D)
_AC_VALS = (
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41, 0x06,
    0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24, 0x33, 0x62, 0x72,
    0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44, 0x45,
    0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75,
    0x76, 0x77, 0x78, 0x79, 0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
    0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2, 0xF3, 0xF4,
    0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
)


def _huff_codes(bits, vals) -> dict[int, tuple[int, int]]:
    """T.81 C.2: BITS (code count per length) + VALS -> symbol -> (code,
    length), the canonical assignment taken over the VALS order."""
    lengths = [ln for ln in range(1, 17) for _ in range(bits[ln])]
    return dict(zip(vals, canonical_codes(lengths)))


def _huff_decode_map(bits, vals) -> dict[tuple[int, int], int]:
    """(length, code) -> symbol, built by the same canonical rule but keyed
    for the reader side."""
    return {(ln, c): s for s, (c, ln) in _huff_codes(bits, vals).items()}


class _JpegBitWriter(MsbWriter):
    """MSB-first bit writer whose flush adds T.81's 1-fill of the last byte
    (F.1.2.3) and byte stuffing (FF -> FF 00)."""

    __slots__ = ()

    def flush(self) -> bytes:
        pad = -self.nbits & 7
        self.write((1 << pad) - 1, pad)
        return self.getvalue().replace(b"\xff", b"\xff\x00")


class _JpegBitReader:
    """MSB-first bit reader over an entropy-coded segment, unstuffing
    FF 00 and stopping (ValueError) at any true marker."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self.acc = 0
        self.n = 0

    def _fill(self, k: int) -> None:
        # pull bytes only when more bits are actually needed, so the
        # lazy marker/dangling-FF errors fire at the same reads as the
        # bit-at-a-time form
        data, pos, n = self.data, self.pos, self.n
        acc = self.acc & ((1 << n) - 1)  # drop consumed high bits
        while n < k:
            if pos >= len(data):
                self.pos, self.acc, self.n = pos, acc, n
                raise ValueError("entropy segment ran out of bytes")
            b = data[pos]
            pos += 1
            if b == 0xFF:
                if pos >= len(data):
                    self.pos, self.acc, self.n = pos, acc, n
                    raise ValueError("dangling FF in entropy segment")
                nxt = data[pos]
                if nxt == 0x00:
                    pos += 1  # stuffed byte
                else:
                    self.pos, self.acc, self.n = pos, acc, n
                    raise ValueError(
                        f"marker FF{nxt:02X} inside entropy segment"
                    )
            acc = (acc << 8) | b
            n += 8
        self.pos, self.acc, self.n = pos, acc, n

    def read_bit(self) -> int:
        if self.n == 0:
            self._fill(1)
        self.n -= 1
        return (self.acc >> self.n) & 1

    def read_bits(self, k: int) -> int:
        if self.n < k:
            self._fill(k)
        self.n -= k
        return (self.acc >> self.n) & ((1 << k) - 1)

    def read_symbol(self, table: dict[tuple[int, int], int]) -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | self.read_bit()
            if (length, code) in table:
                return table[(length, code)]
        raise ValueError("invalid Huffman code in entropy segment")


def _jpeg_category(v: int) -> int:
    """T.81 F.1.2.1: the magnitude category (number of additional bits)."""
    a = abs(v)
    s = 0
    while a:
        a >>= 1
        s += 1
    return s


def jpeg_encode_ecs(blocks: list[list[int]]) -> bytes:
    """Entropy-code zigzag-ordered quantized coefficient blocks (DC diff +
    category bits; AC run/size with ZRL and EOB) with the Annex K tables.
    Exposed separately so tests can drive the run-length paths directly."""
    dc_tab = _huff_codes(_DC_BITS, _DC_VALS)
    ac_tab = _huff_codes(_AC_BITS, _AC_VALS)
    w = _JpegBitWriter()
    pred = 0
    for blk in blocks:
        diff = blk[0] - pred
        pred = blk[0]
        s = _jpeg_category(diff)
        code, ln = dc_tab[s]
        w.write(code, ln)
        if s:
            w.write(diff if diff > 0 else diff + (1 << s) - 1, s)
        run = 0
        for k in range(1, 64):
            v = blk[k]
            if v == 0:
                run += 1
                continue
            while run > 15:
                code, ln = ac_tab[0xF0]  # ZRL
                w.write(code, ln)
                run -= 16
            s = _jpeg_category(v)
            if s > 10:
                raise ValueError(f"AC coefficient {v} exceeds category 10")
            code, ln = ac_tab[(run << 4) | s]
            w.write(code, ln)
            w.write(v if v > 0 else v + (1 << s) - 1, s)
            run = 0
        if run:
            code, ln = ac_tab[0x00]  # EOB
            w.write(code, ln)
    return w.flush()


def jpeg_decode_ecs(
    data: bytes, pos: int, n_blocks: int,
    dc_map: dict[tuple[int, int], int], ac_map: dict[tuple[int, int], int],
) -> tuple[list[list[int]], int]:
    """Decode n_blocks zigzag-ordered coefficient blocks from the entropy
    segment starting at pos; returns (blocks, end_pos)."""

    def extend(v: int, s: int) -> int:
        return v - (1 << s) + 1 if v < (1 << (s - 1)) else v

    r = _JpegBitReader(data, pos)
    blocks: list[list[int]] = []
    pred = 0
    for _ in range(n_blocks):
        blk = [0] * 64
        s = r.read_symbol(dc_map)
        diff = extend(r.read_bits(s), s) if s else 0
        pred += diff
        blk[0] = pred
        k = 1
        while k < 64:
            rs = r.read_symbol(ac_map)
            run, s = rs >> 4, rs & 0x0F
            if s == 0:
                if run == 15:  # ZRL
                    k += 16
                    continue
                break  # EOB
            k += run
            if k > 63:
                raise ValueError("AC run overflows block")
            blk[k] = extend(r.read_bits(s), s)
            k += 1
        blocks.append(blk)
    return blocks, r.pos


_DCT_BASIS_CACHE = None


def _dct_basis(np):
    """Orthonormal 8-point DCT-II matrix C: DCT = C @ X @ C.T.
    Deterministic constant — computed once per process."""
    global _DCT_BASIS_CACHE
    if _DCT_BASIS_CACHE is None:
        C = np.zeros((8, 8))
        for u in range(8):
            cu = (1.0 / 2.0) ** 0.5 if u == 0 else 1.0
            for x in range(8):
                C[u, x] = 0.5 * cu * np.cos((2 * x + 1) * u * np.pi / 16.0)
        _DCT_BASIS_CACHE = C
    return _DCT_BASIS_CACHE


def _jpeg_quantize_blocks(grid, np) -> list[list[int]]:
    """Forward DCT + Annex-K quantization of an 8-bit grayscale grid whose
    dims are multiples of 8, in raster block order, zigzag-ordered per
    block. Shared by the baseline and progressive encoders so both code
    the SAME coefficients."""
    h, w = grid.shape
    if h % 8 or w % 8:
        raise ValueError("encoder requires multiple-of-8 dims")
    C = _dct_basis(np)
    bh, bw = h // 8, w // 8
    # all blocks at once, raster order: (bh*bw, 8, 8)
    blk = (
        grid.astype(np.float64)
        .reshape(bh, 8, bw, 8)
        .transpose(0, 2, 1, 3)
        .reshape(bh * bw, 8, 8)
        - 128.0
    )
    coef = C @ blk @ C.T  # batched over the leading axis
    # the DC of the orthonormal DCT-II is EXACTLY sum/8; computing it
    # as such (integer-valued float sum, power-of-two division — all
    # float-exact regardless of summation order) keeps DC quantization
    # off the .5 rounding knife edge the matmul noise would otherwise
    # land on (Q[0]=16 makes sum/128 + 0.5 a chain of exact operations)
    coef[:, 0, 0] = blk.sum(axis=(1, 2)) / 8.0
    zzq = np.floor(
        coef.reshape(-1, 64)[:, np.array(_ZIGZAG)]
        / np.array(_JPEG_QTABLE, dtype=np.float64)
        + 0.5
    ).astype(np.int64)
    return [[int(v) for v in row] for row in zzq]


def jpeg_encode_baseline(grid, np) -> bytes:
    """A complete baseline JFIF-style stream for an 8-bit grayscale image
    whose dims are multiples of 8: SOI, DQT (Annex K luminance), SOF0
    (1 component, no subsampling), DHT x2, SOS, entropy data, EOI."""
    h, w = grid.shape
    blocks = _jpeg_quantize_blocks(grid, np)
    ecs = jpeg_encode_ecs(blocks)

    def seg(marker: int, payload: bytes) -> bytes:
        return bytes([0xFF, marker]) + (len(payload) + 2).to_bytes(2, "big") + payload

    dqt = seg(0xDB, bytes([0x00]) + bytes(_JPEG_QTABLE))
    sof = seg(
        0xC0,
        bytes([8]) + h.to_bytes(2, "big") + w.to_bytes(2, "big")
        + bytes([1, 1, 0x11, 0]),
    )
    dht = seg(0xC4, bytes([0x00]) + bytes(_DC_BITS[1:]) + bytes(_DC_VALS)) + seg(
        0xC4, bytes([0x10]) + bytes(_AC_BITS[1:]) + bytes(_AC_VALS)
    )
    sos = seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
    return b"\xff\xd8" + dqt + sof + dht + sos + ecs + b"\xff\xd9"


def jpeg_decode_baseline(data: bytes, np):
    """Decode a baseline grayscale JPEG built from the subset above, reading
    every table from the stream: marker walk, DQT (8-bit), DHT rebuilt
    canonically from BITS/HUFFVAL, SOF0 dims, SOS, entropy decode, dequant,
    dezigzag, float IDCT, level shift + round + clamp. Returns
    (grid uint8 ndarray, n_blocks). ValueError on any violation."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("missing SOI marker")
    pos = 2
    qtables: dict[int, list[int]] = {}
    huff: dict[tuple[int, int], dict[tuple[int, int], int]] = {}
    dims = None
    while True:
        if pos + 4 > len(data) or data[pos] != 0xFF:
            raise ValueError(f"expected marker at offset {pos}")
        marker = data[pos + 1]
        if marker == 0xD9:
            raise ValueError("EOI before scan data")
        length = int.from_bytes(data[pos + 2 : pos + 4], "big")
        payload = data[pos + 4 : pos + 2 + length]
        if len(payload) != length - 2:
            raise ValueError(f"truncated segment FF{marker:02X}")
        if marker == 0xDB:
            p = 0
            while p < len(payload):
                pq_tq = payload[p]
                if pq_tq >> 4:
                    raise ValueError("16-bit quant tables unsupported")
                qtables[pq_tq & 0x0F] = list(payload[p + 1 : p + 65])
                p += 65
        elif marker == 0xC4:
            p = 0
            while p < len(payload):
                tc_th = payload[p]
                bits = (0,) + tuple(payload[p + 1 : p + 17])
                n = sum(bits)
                vals = tuple(payload[p + 17 : p + 17 + n])
                huff[(tc_th >> 4, tc_th & 0x0F)] = _huff_decode_map(bits, vals)
                p += 17 + n
        elif marker == 0xC0:
            if payload[0] != 8:
                raise ValueError("only 8-bit precision supported")
            hh = int.from_bytes(payload[1:3], "big")
            ww = int.from_bytes(payload[3:5], "big")
            if payload[5] != 1 or payload[7] != 0x11:
                raise ValueError("only 1 non-subsampled component supported")
            dims = (hh, ww, payload[8])  # h, w, quant table id
        elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7):
            raise ValueError(f"non-baseline frame marker FF{marker:02X}")
        elif marker == 0xDA:
            if payload[0] != 1:
                raise ValueError("single-component scan expected")
            td, ta = payload[2] >> 4, payload[2] & 0x0F
            pos = pos + 2 + length
            break
        pos = pos + 2 + length
    if dims is None:
        raise ValueError("no SOF0 before SOS")
    h, w, tq = dims
    if tq not in qtables:
        raise ValueError(f"scan references missing quant table {tq}")
    if (0, td) not in huff or (1, ta) not in huff:
        raise ValueError("scan references missing Huffman table")
    n_blocks = ((h + 7) // 8) * ((w + 7) // 8)
    blocks, end = jpeg_decode_ecs(
        data, pos, n_blocks, huff[(0, td)], huff[(1, ta)]
    )
    if data[end : end + 2] != b"\xff\xd9":
        raise ValueError("missing EOI after entropy data")
    return _jpeg_reconstruct(blocks, h, w, qtables[tq], np), blocks


def _jpeg_reconstruct(blocks, h: int, w: int, q, np):
    """Dequantize + dezigzag + float IDCT + level shift/round/clamp, raster
    block order -> uint8 grid. Shared by the baseline and progressive
    decoders."""
    C = _dct_basis(np)
    bw = (w + 7) // 8
    if h % 8 == 0 and w % 8 == 0 and len(blocks) == (h // 8) * bw:
        # batched path: dequant (exact integer products in float64),
        # dezigzag by fancy-index scatter, one stacked IDCT, then the
        # same floor(+128.5)/clamp per pixel
        zz = np.array(blocks, dtype=np.float64) * np.array(
            q, dtype=np.float64
        )
        coef = np.zeros((len(blocks), 64))
        coef[:, np.array(_ZIGZAG)] = zz
        pix = C.T @ coef.reshape(-1, 8, 8) @ C
        px = np.clip(np.floor(pix + 128.5), 0, 255).astype(np.uint8)
        return (
            px.reshape(h // 8, bw, 8, 8)
            .transpose(0, 2, 1, 3)
            .reshape(h, w)
        )
    import math

    grid = np.zeros((h, w), dtype=np.uint8)
    for bi, zz in enumerate(blocks):
        coef = np.zeros((8, 8))
        for i, z in enumerate(_ZIGZAG):
            coef[z // 8, z % 8] = zz[i] * q[i]
        pix = C.T @ coef @ C
        by, bx = (bi // bw) * 8, (bi % bw) * 8
        for i in range(8):
            for j in range(8):
                grid[by + i, bx + j] = min(
                    255, max(0, int(math.floor(pix[i, j] + 128.5)))
                )
    return grid


def _jpeg_const_exprs(dialect_div: str) -> tuple[str, str]:
    """(sum_expr, concat_expr) re-deriving the 8 constant-block decoded
    pixel values in SQL: quantize(DC)=floor((v-128)/2+0.5) with Q[0]=16 is
    (v+129) div 2 - 128 in exact integers, and the DC-only IDCT lands on
    2*qDC + 128 — so decoded = 2*((v+129) div 2) - 128, provably noise-free
    (the exact pre-round pixel is an integer, so the .5 offset never sits
    on a floor boundary)."""
    vals = [
        f"(2 * (((ascii(substring(text, {k + 1}, 1)) % 256) + 129)"
        f" {dialect_div} 2) - 128)"
        for k in range(8)
    ]
    cat = "md5(concat_ws(','," + ",".join(
        f" CAST({v} AS VARCHAR)" for v in vals
    ) + "))"
    return " + ".join(vals), cat


_JPEG_SUM_DUCK, _JPEG_MD5_DUCK = _jpeg_const_exprs("//")


def _jpeg_seed_grid(chars: list[int], np):
    """The 32x32 16-block test image both JPEG entries code: 8 constant
    blocks from chars[0:8] (DC-only — the closed-form-certified path) and
    8 gradient/checkerboard blocks from chars[8:16] (nonzero ACs driving
    the run/size alphabet). chars are uint8 (pre-wrapped % 256)."""
    grid = np.zeros((32, 32), dtype=np.uint8)
    for k in range(8):
        by, bx = (k // 4) * 8, (k % 4) * 8
        grid[by : by + 8, bx : bx + 8] = chars[k]
    for k in range(8, 16):
        by, bx = (k // 4) * 8, (k % 4) * 8
        c = chars[k]
        if k % 2 == 0:  # smooth gradient: low-frequency ACs, EOB
            blk = [
                [(c + 16 * i + 4 * j) % 256 for j in range(8)]
                for i in range(8)
            ]
        else:  # checkerboard: high-frequency ACs, long runs
            blk = [
                [((i + j) % 2) * c for j in range(8)]
                for i in range(8)
            ]
        grid[by : by + 8, bx : bx + 8] = np.array(blk, np.uint8)
    return grid


@register(
    "mm_jpeg_baseline_decode",
    oracle=f"""
    SELECT doc_id,
           CAST(32 AS BIGINT) AS width,
           CAST(32 AS BIGINT) AS height,
           CAST(16 AS BIGINT) AS n_blocks,
           CAST({_JPEG_SUM_DUCK} AS BIGINT) AS const_px_sum,
           {_JPEG_MD5_DUCK} AS const_px_md5
    FROM documents
    WHERE length(text) >= 16
    """,
    tags=("multimodal", "pandas_udf", "codec"),
    doc="Baseline JPEG entropy decode from the ITU-T T.81 spec — the last "
    "real-codec gap after DEFLATE/LZW: each document seeds a 32x32 "
    "grayscale image (8 constant blocks from its first 8 chars; 8 "
    "gradient/checkerboard pattern blocks driving nonzero ACs through "
    "the run/size alphabet), the from-spec encoder emits a complete "
    "SOI/DQT/SOF0/DHT/SOS stream (Annex K tables, byte stuffing, DC "
    "prediction), and the from-spec decoder reads EVERY table back from "
    "the stream — canonical Huffman rebuilt from DHT BITS/HUFFVAL, "
    "quant from DQT, dims from SOF0 — then entropy-decodes, dequantizes, "
    "dezigzags and runs the float IDCT. Certified three ways: (1) the "
    "entropy layer is proven lossless in-UDF by re-encoding the decoded "
    "coefficients and demanding the stream's ECS bit-for-bit; (2) the "
    "constant-block decoded pixels follow an exact integer closed form "
    "(quantize+IDCT of a DC-only block with Q[0]=16 reduces to "
    "2*((v+129) div 2) - 128, never on a float rounding boundary) that "
    "the oracle re-derives per char in SQL; (3) width/height/block count "
    "certify the marker walk. Scale: image-parallel mapInPandas like "
    "every codec sibling — one task per shard, no shuffle; per-object "
    "decode is the embarrassingly parallel shape of a 100 TB image-"
    "corpus ingest.",
)
def mm_jpeg_baseline_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = (
        tbl(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter(F.length("text") >= 16)
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            rows: dict[str, list] = {
                "doc_id": [], "width": [], "height": [], "n_blocks": [],
                "const_px_sum": [], "const_px_md5": [],
            }
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                # % 256: non-ASCII codepoints overflow uint8 (NumPy 2
                # raises; NumPy 1 silently wraps while the oracle's
                # ascii() keeps the full codepoint) — wrap explicitly and
                # mirror the same % 256 in the oracle
                chars = [ord(c) % 256 for c in str(text)[:16]]
                grid = _jpeg_seed_grid(chars, np)
                data = jpeg_encode_baseline(grid, np)
                dec, blocks = jpeg_decode_baseline(data, np)
                if dec.shape != (32, 32) or len(blocks) != 16:
                    raise ValueError(f"decode shape mismatch for doc {doc_id}")
                sos = data.find(b"\xff\xda")
                ecs_start = sos + 2 + int.from_bytes(
                    data[sos + 2 : sos + 4], "big"
                )
                if jpeg_encode_ecs(blocks) != data[ecs_start:-2]:
                    raise ValueError(
                        f"entropy layer not lossless for doc {doc_id}"
                    )
                const_vals = [int(dec[(k // 4) * 8, (k % 4) * 8]) for k in range(8)]
                for k in range(8):
                    if const_vals[k] != 2 * ((chars[k] + 129) // 2) - 128:
                        raise ValueError(
                            f"constant-block closed form violated: doc "
                            f"{doc_id} block {k}"
                        )
                rows["doc_id"].append(int(doc_id))
                rows["width"].append(dec.shape[1])
                rows["height"].append(dec.shape[0])
                rows["n_blocks"].append(len(blocks))
                rows["const_px_sum"].append(sum(const_vals))
                rows["const_px_md5"].append(
                    hashlib.md5(
                        ",".join(str(v) for v in const_vals).encode()
                    ).hexdigest()
                )
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(rows["doc_id"], dtype="int64"),
                    "width": pd.Series(rows["width"], dtype="int64"),
                    "height": pd.Series(rows["height"], dtype="int64"),
                    "n_blocks": pd.Series(rows["n_blocks"], dtype="int64"),
                    "const_px_sum": pd.Series(
                        rows["const_px_sum"], dtype="int64"
                    ),
                    "const_px_md5": pd.Series(
                        rows["const_px_md5"], dtype="object"
                    ),
                }
            )

    return spread(d).mapInPandas(
        run,
        schema="doc_id long, width long, height long, n_blocks long, "
        "const_px_sum long, const_px_md5 string",
    )


# ---------------------------------------------------------------------------
# Progressive JPEG (ITU-T T.81 Annex G): spectral selection, Ah=Al=0.
#
# Coefficients arrive over MULTIPLE scans — one DC scan, then AC band scans —
# with EOBn end-of-band run codes spanning blocks (G.1.2.2), the part of the
# format baseline decoders cannot share. The progressive AC Huffman table is
# custom (Annex K's AC table has no EOBn symbols beyond EOB0): every needed
# symbol at code length 8, a legal (incomplete) canonical table.
# ---------------------------------------------------------------------------

_PROG_AC_VALS = (
    tuple(n << 4 for n in range(15))  # EOBn, n = 0..14
    + (0xF0,)  # ZRL
    + tuple((run << 4) | size for run in range(16) for size in range(1, 11))
)
_PROG_AC_BITS = (0,) * 8 + (len(_PROG_AC_VALS),) + (0,) * 8  # all length 8


def jpeg_encode_progressive_scans(
    blocks: list[list[int]],
) -> list[tuple[int, int, bytes]]:
    """Spectral-selection progressive entropy coding of zigzag coefficient
    blocks: one DC scan (Ss=Se=0 — identical coding to baseline DC at
    Al=0), then AC bands 1-5 and 6-63 with EOBn runs accumulated ACROSS
    blocks (T.81 G.1.2.2: EOBn codes a run of 2^n + n-extension-bits
    all-zero bands, the current block included). Returns
    [(Ss, Se, ecs_bytes)]."""
    dc_tab = _huff_codes(_DC_BITS, _DC_VALS)
    ac_tab = _huff_codes(_PROG_AC_BITS, _PROG_AC_VALS)
    scans: list[tuple[int, int, bytes]] = []
    w = _JpegBitWriter()
    pred = 0
    for blk in blocks:
        diff = blk[0] - pred
        pred = blk[0]
        s = _jpeg_category(diff)
        code, ln = dc_tab[s]
        w.write(code, ln)
        if s:
            w.write(diff if diff > 0 else diff + (1 << s) - 1, s)
    scans.append((0, 0, w.flush()))
    for ss, se in ((1, 5), (6, 63)):
        w = _JpegBitWriter()
        eobrun = 0

        def flush_eob() -> None:
            nonlocal eobrun
            while eobrun:
                n = min(14, eobrun.bit_length() - 1)
                chunk = min(eobrun, (1 << (n + 1)) - 1)
                code, ln = ac_tab[n << 4]
                w.write(code, ln)
                if n:
                    w.write(chunk - (1 << n), n)
                eobrun -= chunk

        for blk in blocks:
            if not any(blk[ss : se + 1]):
                eobrun += 1
                continue
            flush_eob()
            run = 0
            for k in range(ss, se + 1):
                v = blk[k]
                if v == 0:
                    run += 1
                    continue
                while run > 15:
                    code, ln = ac_tab[0xF0]
                    w.write(code, ln)
                    run -= 16
                s = _jpeg_category(v)
                if s > 10:
                    raise ValueError(f"AC coefficient {v} exceeds category 10")
                code, ln = ac_tab[(run << 4) | s]
                w.write(code, ln)
                w.write(v if v > 0 else v + (1 << s) - 1, s)
                run = 0
            if run:  # band ends in zeros: this block STARTS an EOB run
                eobrun += 1
        flush_eob()
        scans.append((ss, se, w.flush()))
    return scans


def jpeg_encode_progressive(grid, np) -> bytes:
    """A complete spectral-selection progressive stream: SOI, DQT, SOF2,
    DHT (Annex-K DC + the custom progressive AC table), one SOS+ECS per
    scan, EOI. Same quantized coefficients as the baseline encoder."""
    h, w = grid.shape
    blocks = _jpeg_quantize_blocks(grid, np)
    scans = jpeg_encode_progressive_scans(blocks)

    def seg(marker: int, payload: bytes) -> bytes:
        return bytes([0xFF, marker]) + (len(payload) + 2).to_bytes(2, "big") + payload

    dqt = seg(0xDB, bytes([0x00]) + bytes(_JPEG_QTABLE))
    sof = seg(
        0xC2,
        bytes([8]) + h.to_bytes(2, "big") + w.to_bytes(2, "big")
        + bytes([1, 1, 0x11, 0]),
    )
    dht = seg(0xC4, bytes([0x00]) + bytes(_DC_BITS[1:]) + bytes(_DC_VALS)) + seg(
        0xC4, bytes([0x10]) + bytes(_PROG_AC_BITS[1:]) + bytes(_PROG_AC_VALS)
    )
    out = b"\xff\xd8" + dqt + sof + dht
    for ss, se, ecs in scans:
        out += seg(0xDA, bytes([1, 1, 0x00, ss, se, 0x00])) + ecs
    return out + b"\xff\xd9"


def _jpeg_decode_ac_band(r, coefs, ss: int, se: int, ac_map) -> None:
    """One progressive AC scan (Ah=0): run/size within the band, ZRL, and
    EOBn runs spanning blocks (the run includes the current block)."""
    eobrun = 0
    for blk in coefs:
        if eobrun:
            eobrun -= 1
            continue
        k = ss
        while k <= se:
            rs = r.read_symbol(ac_map)
            run, s = rs >> 4, rs & 0x0F
            if s == 0:
                if run == 15:  # ZRL
                    k += 16
                    continue
                eobrun = (1 << run) - 1
                if run:
                    eobrun += r.read_bits(run)
                break
            k += run
            if k > se:
                raise ValueError("AC run overflows the scan band")
            v = r.read_bits(s)
            blk[k] = v - (1 << s) + 1 if v < (1 << (s - 1)) else v
            k += 1
    if eobrun:
        raise ValueError("EOB run spills past the last block")


def jpeg_decode_progressive(data: bytes, np):
    """Decode a spectral-selection progressive grayscale JPEG (SOF2; scans
    with Ah=Al=0 only — successive approximation is rejected, not silently
    mis-decoded). Coefficients accumulate across scans; every table is
    read from the stream. Returns (grid, blocks, n_scans)."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("missing SOI marker")
    pos = 2
    qtables: dict[int, list[int]] = {}
    huff: dict[tuple[int, int], dict[tuple[int, int], int]] = {}
    dims = None
    coefs: list[list[int]] | None = None
    bands_seen: set[tuple[int, int]] = set()
    n_scans = 0
    while True:
        if pos + 2 > len(data) or data[pos] != 0xFF:
            raise ValueError(f"expected marker at offset {pos}")
        marker = data[pos + 1]
        if marker == 0xD9:
            break
        if pos + 4 > len(data):
            raise ValueError("truncated marker segment header")
        length = int.from_bytes(data[pos + 2 : pos + 4], "big")
        payload = data[pos + 4 : pos + 2 + length]
        if len(payload) != length - 2:
            raise ValueError(f"truncated segment FF{marker:02X}")
        if marker == 0xDB:
            p = 0
            while p < len(payload):
                pq_tq = payload[p]
                if pq_tq >> 4:
                    raise ValueError("16-bit quant tables unsupported")
                qtables[pq_tq & 0x0F] = list(payload[p + 1 : p + 65])
                p += 65
        elif marker == 0xC4:
            p = 0
            while p < len(payload):
                tc_th = payload[p]
                bits = (0,) + tuple(payload[p + 1 : p + 17])
                n = sum(bits)
                vals = tuple(payload[p + 17 : p + 17 + n])
                huff[(tc_th >> 4, tc_th & 0x0F)] = _huff_decode_map(bits, vals)
                p += 17 + n
        elif marker == 0xC2:
            if payload[0] != 8:
                raise ValueError("only 8-bit precision supported")
            hh = int.from_bytes(payload[1:3], "big")
            ww = int.from_bytes(payload[3:5], "big")
            if payload[5] != 1 or payload[7] != 0x11:
                raise ValueError("only 1 non-subsampled component supported")
            dims = (hh, ww, payload[8])
            n_blocks = ((hh + 7) // 8) * ((ww + 7) // 8)
            coefs = [[0] * 64 for _ in range(n_blocks)]
        elif marker in (0xC0, 0xC1, 0xC3, 0xC5, 0xC6, 0xC7):
            raise ValueError(f"non-progressive frame marker FF{marker:02X}")
        elif marker == 0xDA:
            if coefs is None:
                raise ValueError("SOS before SOF2")
            if payload[0] != 1:
                raise ValueError("single-component scan expected")
            td, ta = payload[2] >> 4, payload[2] & 0x0F
            ss, se, ahal = payload[3], payload[4], payload[5]
            if ahal:
                raise ValueError(
                    "successive-approximation scans (Ah/Al != 0) unsupported"
                )
            if (ss, se) in bands_seen:
                raise ValueError(f"band {ss}-{se} coded twice at Ah=0")
            bands_seen.add((ss, se))
            r = _JpegBitReader(data, pos + 2 + length)
            if ss == 0:
                if se != 0:
                    raise ValueError("a DC scan must have Ss=Se=0 (G.1.1.1)")
                if (0, td) not in huff:
                    raise ValueError("scan references missing DC table")
                dc_map = huff[(0, td)]
                pred = 0
                for blk in coefs:
                    s = r.read_symbol(dc_map)
                    if s:
                        v = r.read_bits(s)
                        pred += v - (1 << s) + 1 if v < (1 << (s - 1)) else v
                    blk[0] = pred
            else:
                if (0, 0) not in bands_seen:
                    raise ValueError("AC scan before the DC scan (G.1.1.1.1)")
                if (1, ta) not in huff:
                    raise ValueError("scan references missing AC table")
                _jpeg_decode_ac_band(r, coefs, ss, se, huff[(1, ta)])
            n_scans += 1
            pos = r.pos
            continue
        pos = pos + 2 + length
    if dims is None or coefs is None or n_scans == 0:
        raise ValueError("no decodable scans in stream")
    h, w, tq = dims
    if tq not in qtables:
        raise ValueError(f"frame references missing quant table {tq}")
    return _jpeg_reconstruct(coefs, h, w, qtables[tq], np), coefs, n_scans


@register(
    "mm_jpeg_progressive_decode",
    oracle=f"""
    SELECT doc_id,
           CAST(32 AS BIGINT) AS width,
           CAST(32 AS BIGINT) AS height,
           CAST(16 AS BIGINT) AS n_blocks,
           CAST(3 AS BIGINT) AS n_scans,
           CAST({_JPEG_SUM_DUCK} AS BIGINT) AS const_px_sum,
           {_JPEG_MD5_DUCK} AS const_px_md5
    FROM documents
    WHERE length(text) >= 16
    """,
    tags=("multimodal", "pandas_udf", "codec"),
    doc="PROGRESSIVE JPEG decode (ITU-T T.81 Annex G, spectral selection) "
    "— the wild-web variant of mm_jpeg_baseline_decode: most large "
    "images on the crawl are progressive, and a baseline-only decoder "
    "cannot read them. The same 16-block seed image is coded as SOF2 "
    "with THREE scans (DC, AC band 1-5, AC band 6-63) and a custom "
    "progressive AC Huffman table carrying the EOBn alphabet Annex K "
    "lacks; end-of-band runs accumulate ACROSS blocks (G.1.2.2) with "
    "extension bits, which the gradient/checkerboard block mix "
    "exercises in both bands. The decoder accumulates coefficients "
    "over multiple SOS segments, rejects successive-approximation "
    "scans and double-coded bands, and the UDF proves (1) the decoded "
    "coefficient planes equal the encoder's quantized blocks exactly "
    "(entropy losslessness across ALL scans), (2) the reconstructed "
    "pixels equal the BASELINE codec's output for the same image "
    "(path equality: two different entropy layers, one spectrum), and "
    "(3) the constant-block closed form the oracle re-derives per "
    "char. Scale: image-parallel mapInPandas, single scan, no shuffle "
    "— identical plan family to every codec sibling.",
)
def mm_jpeg_progressive_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = (
        tbl(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter(F.length("text") >= 16)
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            rows: dict[str, list] = {
                "doc_id": [], "width": [], "height": [], "n_blocks": [],
                "n_scans": [], "const_px_sum": [], "const_px_md5": [],
            }
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                chars = [ord(c) % 256 for c in str(text)[:16]]
                grid = _jpeg_seed_grid(chars, np)
                src_blocks = _jpeg_quantize_blocks(grid, np)
                data = jpeg_encode_progressive(grid, np)
                dec, blocks, n_scans = jpeg_decode_progressive(data, np)
                if dec.shape != (32, 32) or len(blocks) != 16:
                    raise ValueError(f"decode shape mismatch for doc {doc_id}")
                if blocks != src_blocks:
                    raise ValueError(
                        f"progressive entropy layer not lossless for doc "
                        f"{doc_id}"
                    )
                base_dec, base_blocks = jpeg_decode_baseline(
                    jpeg_encode_baseline(grid, np), np
                )
                if base_blocks != blocks or not (base_dec == dec).all():
                    raise ValueError(
                        f"progressive and baseline paths disagree for doc "
                        f"{doc_id}"
                    )
                const_vals = [int(dec[(k // 4) * 8, (k % 4) * 8]) for k in range(8)]
                for k in range(8):
                    if const_vals[k] != 2 * ((chars[k] + 129) // 2) - 128:
                        raise ValueError(
                            f"constant-block closed form violated: doc "
                            f"{doc_id} block {k}"
                        )
                rows["doc_id"].append(int(doc_id))
                rows["width"].append(dec.shape[1])
                rows["height"].append(dec.shape[0])
                rows["n_blocks"].append(len(blocks))
                rows["n_scans"].append(n_scans)
                rows["const_px_sum"].append(sum(const_vals))
                rows["const_px_md5"].append(
                    hashlib.md5(
                        ",".join(str(v) for v in const_vals).encode()
                    ).hexdigest()
                )
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(rows["doc_id"], dtype="int64"),
                    "width": pd.Series(rows["width"], dtype="int64"),
                    "height": pd.Series(rows["height"], dtype="int64"),
                    "n_blocks": pd.Series(rows["n_blocks"], dtype="int64"),
                    "n_scans": pd.Series(rows["n_scans"], dtype="int64"),
                    "const_px_sum": pd.Series(
                        rows["const_px_sum"], dtype="int64"
                    ),
                    "const_px_md5": pd.Series(
                        rows["const_px_md5"], dtype="object"
                    ),
                }
            )

    return spread(d).mapInPandas(
        run,
        schema="doc_id long, width long, height long, n_blocks long, "
        "n_scans long, const_px_sum long, const_px_md5 string",
    )


# ---------------------------------------------------------------------------
# HTTP/1.1 chunked transfer coding (RFC 9112 §7.1) — the framing most real
# Common-Crawl HTTP responses arrive in; WET extraction must de-chunk before
# the text is usable.
# ---------------------------------------------------------------------------

HTTP_CHUNK_SIZE = 100  # fixture chunk size


def http_chunked_build(body: bytes, chunk_size: int = HTTP_CHUNK_SIZE) -> bytes:
    """Chunked-code a body by plain concatenation: hex size line + CRLF +
    chunk + CRLF per chunk, a chunk extension on the first chunk (decoders
    MUST ignore extensions), the 0-size last chunk, one trailer field
    carrying the body md5, and the final CRLF."""
    out = bytearray()
    for i in range(0, len(body), chunk_size):
        chunk = body[i : i + chunk_size]
        ext = ";seq=0" if i == 0 else ""
        out += f"{len(chunk):x}{ext}\r\n".encode() + chunk + b"\r\n"
    out += b"0\r\n"
    out += f"X-Body-MD5: {hashlib.md5(body).hexdigest()}\r\n".encode()
    out += b"\r\n"
    return bytes(out)


def http_chunked_decode(data: bytes) -> tuple[bytes, int, dict[str, str]]:
    """De-chunk per RFC 9112 §7.1: hex chunk-size line (extensions after
    ';' ignored), exactly size octets, CRLF after every chunk, 0-size last
    chunk, then trailer fields to the terminating blank line. Returns
    (body, n_data_chunks, trailers); ValueError on any framing violation —
    the failure mode that silently truncates or concatenates documents in
    naive readers."""
    pos = 0
    body = bytearray()
    n_chunks = 0
    while True:
        eol = data.find(b"\r\n", pos)
        if eol < 0:
            raise ValueError("unterminated chunk-size line")
        size_line = data[pos:eol]
        semi = size_line.find(b";")
        size_str = (size_line[:semi] if semi >= 0 else size_line).strip()
        try:
            size = int(size_str, 16)
        except ValueError:
            raise ValueError(f"bad chunk size line: {size_line!r}") from None
        pos = eol + 2
        if size == 0:
            break
        chunk = data[pos : pos + size]
        if len(chunk) != size:
            raise ValueError(
                f"truncated chunk: declared {size}, have {len(chunk)}"
            )
        if data[pos + size : pos + size + 2] != b"\r\n":
            raise ValueError("missing CRLF after chunk data")
        body += chunk
        pos += size + 2
        n_chunks += 1
    trailers: dict[str, str] = {}
    while True:
        eol = data.find(b"\r\n", pos)
        if eol < 0:
            raise ValueError("unterminated trailer section")
        line = data[pos:eol]
        pos = eol + 2
        if line == b"":
            break
        colon = line.find(b":")
        if colon <= 0:
            raise ValueError(f"malformed trailer field: {line!r}")
        trailers[line[:colon].decode("latin-1").strip().lower()] = (
            line[colon + 1 :].decode("latin-1").strip()
        )
    if pos != len(data):
        raise ValueError(f"{len(data) - pos} bytes after chunked body end")
    return bytes(body), n_chunks, trailers


@register(
    "mm_http_chunked_decode",
    oracle=f"""
    SELECT doc_id,
           CAST((octet_length(encode(text)) + {HTTP_CHUNK_SIZE - 1})
                // {HTTP_CHUNK_SIZE} AS BIGINT) AS n_chunks,
           CAST(octet_length(encode(text)) AS BIGINT) AS body_len,
           CAST(1 AS BIGINT) AS trailer_ok,
           md5(hex(encode(text))) AS body_md5
    FROM documents
    WHERE octet_length(encode(text)) > 0
    """,
    tags=("multimodal", "pandas_udf", "codec", "container"),
    doc="HTTP/1.1 chunked transfer decoding (RFC 9112 §7.1) — the framing "
    "most real web responses arrive in, and the step a WET extraction "
    "must run before any WARC response body is usable text: each "
    f"document's bytes are chunk-coded ({HTTP_CHUNK_SIZE}-byte chunks, "
    "a chunk extension on the first chunk which decoders MUST ignore, "
    "the 0-size last chunk, a trailer field carrying the body md5) and "
    "the from-spec decoder walks the framing back — hex size lines, "
    "exact octet counts, per-chunk CRLFs, trailer-section parse — "
    "verifying the trailer digest against the reassembled body in-UDF. "
    "The oracle re-derives chunk count (ceil(len/chunk)), body length "
    "and body md5 from the documents row. Scale: per-object decode in "
    "mapInPandas like every codec sibling — archive-parallel, no "
    "shuffle; mis-framed chunk boundaries are the classic silent-"
    "truncation bug of naive crawl readers.",
)
def mm_http_chunked_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = (
        tbl(spark, sf_dir, "documents")
        .select("doc_id", F.col("text").cast("binary").alias("payload"))
        .filter(F.length(F.col("payload")) > 0)
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: dict[str, list] = {
                "doc_id": [], "n_chunks": [], "body_len": [],
                "trailer_ok": [], "body_md5": [],
            }
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                original = bytes(payload)
                coded = http_chunked_build(original)
                body, n_chunks, trailers = http_chunked_decode(coded)
                if body != original:
                    raise ValueError(f"de-chunk mismatch for doc {doc_id}")
                ok = trailers.get("x-body-md5") == hashlib.md5(body).hexdigest()
                if not ok:
                    raise ValueError(f"trailer digest mismatch for doc {doc_id}")
                rows["doc_id"].append(int(doc_id))
                rows["n_chunks"].append(n_chunks)
                rows["body_len"].append(len(body))
                rows["trailer_ok"].append(1)
                rows["body_md5"].append(
                    hashlib.md5(body.hex().upper().encode()).hexdigest()
                )
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(rows["doc_id"], dtype="int64"),
                    "n_chunks": pd.Series(rows["n_chunks"], dtype="int64"),
                    "body_len": pd.Series(rows["body_len"], dtype="int64"),
                    "trailer_ok": pd.Series(rows["trailer_ok"], dtype="int64"),
                    "body_md5": pd.Series(rows["body_md5"], dtype="object"),
                }
            )

    return spread(d).mapInPandas(
        run,
        schema="doc_id long, n_chunks long, body_len long, trailer_ok long, "
        "body_md5 string",
    )


def http_response_parse_any(block: bytes) -> tuple[int, dict[str, str], bytes]:
    """HTTP response parse handling BOTH body framings a crawl meets
    (RFC 9112 §6): Transfer-Encoding: chunked (de-chunked via
    http_chunked_decode, trailer digest verified when present) or
    Content-Length octets. Returns (status, headers, body)."""
    sep = block.find(b"\r\n\r\n")
    if sep < 0:
        raise ValueError("no HTTP header terminator")
    lines = block[:sep].split(b"\r\n")
    status_parts = lines[0].split(b" ", 2)
    if len(status_parts) < 2 or not status_parts[0].startswith(b"HTTP/"):
        raise ValueError(f"bad HTTP status line: {lines[0]!r}")
    if not status_parts[1].isdigit() or len(status_parts[1]) != 3:
        raise ValueError(f"bad HTTP status code: {status_parts[1]!r}")
    status = int(status_parts[1])
    headers: dict[str, str] = {}
    for ln in lines[1:]:
        colon = ln.find(b":")
        if colon <= 0:
            raise ValueError(f"malformed HTTP header line: {ln!r}")
        headers[ln[:colon].decode("latin-1").strip().lower()] = (
            ln[colon + 1 :].decode("latin-1").strip()
        )
    rest = block[sep + 4 :]
    if headers.get("transfer-encoding", "").lower() == "chunked":
        body, _n, trailers = http_chunked_decode(rest)
        want = trailers.get("x-body-md5")
        if want is not None and want != hashlib.md5(body).hexdigest():
            raise ValueError("chunked trailer digest mismatch")
        return status, headers, body
    if "content-length" not in headers:
        raise ValueError("HTTP response missing a body framing")
    n = int(headers["content-length"])
    if len(rest) != n:
        raise ValueError(f"HTTP body length {len(rest)} != Content-Length {n}")
    return status, headers, rest


@register(
    "mm_wet_conversion_roundtrip",
    oracle="""
    SELECT doc_id,
           CAST(2 AS BIGINT) AS n_src_records,
           CAST((octet_length(encode(text)) + 99) // 100 AS BIGINT)
             AS n_chunks,
           CAST(octet_length(encode(text)) AS BIGINT) AS body_len,
           CAST(216 + length(CAST(doc_id AS VARCHAR))
                + length(CAST(octet_length(encode(text)) AS VARCHAR))
                + octet_length(encode(text)) AS BIGINT) AS wet_record_len,
           md5(hex(encode(text))) AS body_md5
    FROM documents
    WHERE octet_length(encode(text)) > 0
    """,
    tags=("multimodal", "pandas_udf", "codec", "container"),
    doc="The complete WET pipeline as ONE operator — the capstone over the "
    "ingest layers this repo decodes from spec: each document becomes a "
    "2-record .warc.gz capture whose HTTP response body is CHUNKED "
    "(RFC 9112 framing with a trailer digest); the operator walks the "
    "gzip multistream (RFC 1951/1952 inflate for member boundaries), "
    "parses the WARC records (ISO 28500 octet framing), de-chunks the "
    "HTTP body (extensions ignored, trailer digest verified), builds the "
    "WET conversion record (WARC-Type: conversion with WARC-Refers-To "
    "back to the response), writes it as its own gzip member, then "
    "RE-WALKS and RE-PARSES the produced WET archive and demands the "
    "extracted text equal the source bytes — produce-then-consume, the "
    "strongest self-check a writer can run. The oracle re-derives chunk "
    "count, body length, the conversion record's exact octet length "
    "(216 fixed header octets + doc-id digits + Content-Length digits + "
    "body) and the body md5. Scale: archive-parallel mapInPandas, no "
    "shuffle — the per-shard WET generation job Common-Crawl runs at "
    "petabyte scale.",
)
def mm_wet_conversion_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = (
        tbl(spark, sf_dir, "documents")
        .select("doc_id", F.col("text").cast("binary").alias("payload"))
        .filter(F.length(F.col("payload")) > 0)
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: dict[str, list] = {
                "doc_id": [], "n_src_records": [], "n_chunks": [],
                "body_len": [], "wet_record_len": [], "body_md5": [],
            }
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                body = bytes(payload)
                did = int(doc_id)
                if did >= 10**8:
                    # {did:08d} stops zero-padding at 9 digits, growing the
                    # WARC-Record-ID/WARC-Refers-To headers past the 216
                    # fixed octets the oracle hardcodes — fail loudly
                    # instead of silently breaking wet_record_len parity
                    raise ValueError(
                        f"doc_id {did} >= 10^8 breaks the fixed-width "
                        "record-id assumption of the wet_record_len oracle"
                    )
                uri = f"http://example.com/doc_{did}"
                chunked = http_chunked_build(body)
                http = (
                    b"HTTP/1.1 200 OK\r\n"
                    b"Content-Type: text/plain\r\n"
                    b"Transfer-Encoding: chunked\r\n"
                    b"\r\n" + chunked
                )
                recs = [
                    warc_record_build(
                        "request", f"<urn:uuid:{did:08d}-req>",
                        f"GET /doc_{did} HTTP/1.1\r\n\r\n".encode(),
                        extra=[("WARC-Target-URI", uri)],
                    ),
                    warc_record_build(
                        "response", f"<urn:uuid:{did:08d}-resp>", http,
                        extra=[("WARC-Target-URI", uri)],
                    ),
                ]
                src = b"".join(
                    gzip_member_build("", did * 4 + i, r)
                    for i, r in enumerate(recs)
                )
                # consume: walk, parse, de-chunk, extract
                members = gzip_multistream_walk(src)
                parsed = [warc_record_parse(m[2]) for m in members]
                if [f["warc-type"] for f, _ in parsed] != ["request", "response"]:
                    raise ValueError(f"source walk mismatch for doc {did}")
                status, hh, extracted = http_response_parse_any(parsed[1][1])
                if status != 200 or extracted != body:
                    raise ValueError(f"extraction mismatch for doc {did}")
                n_chunks = (len(body) + HTTP_CHUNK_SIZE - 1) // HTTP_CHUNK_SIZE
                # produce: the WET conversion record, its own gzip member
                wet_rec = warc_record_build(
                    "conversion", f"<urn:uuid:{did:08d}-conv>", extracted,
                    extra=[
                        ("WARC-Refers-To", f"<urn:uuid:{did:08d}-resp>"),
                        ("WARC-Target-URI", uri),
                    ],
                )
                wet = gzip_member_build("", did * 4 + 3, wet_rec)
                # re-consume our own product
                back = gzip_multistream_walk(wet)
                bf, bblock = warc_record_parse(back[0][2])
                if bf["warc-type"] != "conversion" or bblock != body:
                    raise ValueError(f"WET roundtrip mismatch for doc {did}")
                if bf["warc-refers-to"] != f"<urn:uuid:{did:08d}-resp>":
                    raise ValueError(f"WARC-Refers-To broken for doc {did}")
                rows["doc_id"].append(did)
                rows["n_src_records"].append(len(parsed))
                rows["n_chunks"].append(n_chunks)
                rows["body_len"].append(len(body))
                rows["wet_record_len"].append(len(wet_rec))
                rows["body_md5"].append(
                    hashlib.md5(body.hex().upper().encode()).hexdigest()
                )
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(rows["doc_id"], dtype="int64"),
                    "n_src_records": pd.Series(
                        rows["n_src_records"], dtype="int64"
                    ),
                    "n_chunks": pd.Series(rows["n_chunks"], dtype="int64"),
                    "body_len": pd.Series(rows["body_len"], dtype="int64"),
                    "wet_record_len": pd.Series(
                        rows["wet_record_len"], dtype="int64"
                    ),
                    "body_md5": pd.Series(rows["body_md5"], dtype="object"),
                }
            )

    return spread(d).mapInPandas(
        run,
        schema="doc_id long, n_src_records long, n_chunks long, "
        "body_len long, wet_record_len long, body_md5 string",
    )


# ---------------------------------------------------------------------------
# Quoted-printable (RFC 2045 §6.7): the MIME transfer coding mail/news
# corpora arrive in; WET-style text extraction must undo it.
# ---------------------------------------------------------------------------

QP_MAX_LINE = 76


def qp_encode(data: bytes) -> bytes:
    """RFC 2045 §6.7 encoder: printable US-ASCII (33-126 except '=')
    literal; space/tab literal except line-final (then =20/=09); all else
    =XX uppercase hex; soft breaks '=\\r\\n' keep encoded lines within 76
    octets including the '='."""
    out = bytearray()
    line = 0

    def soft_break() -> None:
        nonlocal line
        out.extend(b"=\r\n")
        line = 0

    n = len(data)
    for i, b in enumerate(data):
        if 33 <= b <= 126 and b != 0x3D:
            tok = bytes([b])
        elif b in (0x20, 0x09):
            # literal unless it would end the encoded output / a line
            nxt_is_break = i + 1 == n
            tok = bytes([b]) if not nxt_is_break else f"={b:02X}".encode()
        else:
            tok = f"={b:02X}".encode()
        if line + len(tok) > QP_MAX_LINE - 1:  # leave room for a soft '='
            soft_break()
        out.extend(tok)
        line += len(tok)
    return bytes(out)


def qp_decode(data: bytes) -> bytes:
    """RFC 2045 §6.7 decoder: '=\\r\\n' soft breaks vanish, '=XX' decodes
    (uppercase hex per spec; lowercase tolerated as the RFC recommends for
    robustness), anything else passes through. ValueError on a truncated
    or non-hex escape."""
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        b = data[i]
        if b != 0x3D:
            out.append(b)
            i += 1
            continue
        if i + 2 < n and data[i + 1 : i + 3] == b"\r\n":
            i += 3  # soft break
            continue
        if i + 1 < n and data[i + 1] == 0x0A:
            i += 2  # bare-LF soft break (stdlib quopri emits these)
            continue
        if i + 2 >= n:
            raise ValueError("truncated quoted-printable escape")
        hx = data[i + 1 : i + 3]
        try:
            out.append(int(hx.decode("ascii"), 16))
        except ValueError as exc:
            raise ValueError(f"bad quoted-printable escape ={hx!r}") from exc
        i += 3
    return bytes(out)


@register(
    "mm_quoted_printable_roundtrip",
    oracle=_PLAIN_ORACLE,
    tags=("multimodal", "pandas_udf", "codec"),
    doc="Quoted-printable (RFC 2045 §6.7) encode + decode from the spec — "
    "the MIME transfer coding mail/news/mbox corpora arrive in, and the "
    "de-framing a text-extraction pipeline must run before such bodies "
    "are usable: literal printables, =XX uppercase-hex escapes, "
    "line-final whitespace protection, soft line breaks keeping every "
    "encoded line within 76 octets. Certified three ways in-UDF: our "
    "decode inverts our encode byte-for-byte, our decode ALSO inverts "
    "the STDLIB quopri encoder's output (independent implementation of "
    "the same RFC), and stdlib quopri decodes OUR encoder's output back "
    "to the source — then the oracle re-derives byte count, byte sum "
    "and md5 of the decoded bytes straight from hex(encode(text)). The "
    "76-octet line-length invariant is asserted per document. Scale: "
    "per-object transform in mapInPandas, single scan, no shuffle — "
    "the codec plan family.",
)
def mm_quoted_printable_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = (
        tbl(spark, sf_dir, "documents")
        .select("doc_id", F.col("text").cast("binary").alias("payload"))
        .filter(F.length(F.col("payload")) > 0)
    )

    def make_check():
        import quopri

        def check(doc_id: int, b: bytes) -> None:
            enc = qp_encode(b)
            for ln in enc.split(b"\r\n"):
                if len(ln) > QP_MAX_LINE:
                    raise ValueError(f"encoded line exceeds {QP_MAX_LINE} octets")
            if qp_decode(enc) != b:
                raise ValueError(f"QP roundtrip mismatch for doc {doc_id}")
            if qp_decode(quopri.encodestring(b)) != b:
                raise ValueError(f"our decoder rejects stdlib QP for doc {doc_id}")
            if quopri.decodestring(enc) != b:
                raise ValueError(f"stdlib rejects our QP encoding for doc {doc_id}")

        return check

    return byte_roundtrip(d, make_check)


# ---------------------------------------------------------------------------
# From-spec bzip2 decoder — the fifth compression family (after DEFLATE,
# Snappy, LZ4, Zstd): the codec of Wikipedia dumps and legacy crawl
# archives. Decoded entirely from the public format description; the only
# encoder anywhere in the certification path is the REAL stdlib bz2
# compressor (libbz2).
# ---------------------------------------------------------------------------


def _bz_crc32(data: bytes, crc: int = 0xFFFFFFFF) -> int:
    """bzip2's CRC-32: polynomial 0x04C11DB7, MSB-first (NOT the reflected
    zlib variant), final complement."""
    for byte in data:
        crc ^= byte << 24
        for _ in range(8):
            crc = ((crc << 1) ^ 0x04C11DB7 if crc & 0x80000000
                   else crc << 1) & 0xFFFFFFFF
    return crc ^ 0xFFFFFFFF


def bzip2_decompress(data: bytes) -> bytes:
    """Decode a complete bzip2 stream from the public format description:
    'BZh<level>' header; per block the 48-bit pi magic, block CRC,
    (deprecated) randomized bit, BWT origin pointer, the two-level used-
    symbol bitmap, MTF'd unary group selectors, delta-coded Huffman code
    lengths per group, 50-symbol group switching, RUNA/RUNB bijective
    base-2 zero-run decoding, MTF inversion, inverse Burrows-Wheeler via
    the counting construction, RLE1 expansion, and per-block + combined
    stream CRCs (bzip2's MSB-first CRC-32). MULTISTREAM inputs (several
    complete byte-aligned bzip2 streams concatenated — the Wikipedia
    multistream dump layout) decode as their concatenation; trailing
    garbage after the final footer raises. Raises ValueError on any
    framing or checksum violation."""
    out_all = bytearray()
    bs = MsbReader(data)
    while True:  # one complete stream per iteration (byte-aligned)
        pos = bs.align_byte()
        if pos >= len(data):
            break
        head = data[pos : pos + 4]
        if len(head) < 4 or head[:3] != b"BZh" or not 0x31 <= head[3] <= 0x39:
            if out_all:
                raise ValueError("trailing bytes after final bzip2 stream")
            raise ValueError("missing BZh header")
        block_limit = (head[3] - 0x30) * 100_000
        bs.pos = pos + 4
        combined_crc = 0
        _bz_stream_blocks(data, bs, block_limit, out_all, combined_crc)
    if not out_all and len(data) == 0:
        raise ValueError("empty input")
    return bytes(out_all)


def _bz_stream_blocks(
    data: bytes, bs: MsbReader, block_limit: int, out_all: bytearray,
    combined_crc: int,
) -> None:
    while True:
        magic = bs.read(48)
        if magic == 0x177245385090:  # stream footer
            want = bs.read(32)
            if want != combined_crc:
                raise ValueError("stream CRC mismatch")
            return
        if magic != 0x314159265359:
            raise ValueError(f"bad block magic {magic:#x}")
        block_crc = bs.read(32)
        if bs.read(1):
            raise ValueError("deprecated randomized blocks unsupported")
        orig_ptr = bs.read(24)
        # used symbols: 16-bit range map, then 16-bit maps per used range
        ranges = bs.read(16)
        used = []
        for r in range(16):
            if ranges & (0x8000 >> r):
                m = bs.read(16)
                used.extend(
                    r * 16 + i for i in range(16) if m & (0x8000 >> i)
                )
        n_used = len(used)
        if n_used == 0:
            raise ValueError("empty symbol map")
        alpha = n_used + 2  # RUNA, RUNB, mtf symbols, EOB
        n_groups = bs.read(3)
        if not 2 <= n_groups <= 6:
            raise ValueError(f"invalid group count {n_groups}")
        n_sel = bs.read(15)
        sel_mtf = []
        for _ in range(n_sel):
            j = 0
            while bs.read(1):
                j += 1
                if j >= n_groups:
                    raise ValueError("selector overruns group count")
            sel_mtf.append(j)
        order = list(range(n_groups))
        selectors = []
        for j in sel_mtf:
            g = order.pop(j)
            order.insert(0, g)
            selectors.append(g)
        # delta-coded lengths -> canonical tables (increasing length,
        # symbol order within a length)
        tables = []
        for _ in range(n_groups):
            ln = bs.read(5)
            lens = []
            for _s in range(alpha):
                while bs.read(1):
                    ln += 1 if bs.read(1) == 0 else -1
                    if not 1 <= ln <= 20:
                        raise ValueError("huffman length out of range")
                lens.append(ln)
            codes = {(sl, c): sym
                     for sym, (c, sl) in enumerate(canonical_codes(lens))}
            tables.append((codes, min(lens), max(lens)))
        # symbol stream: 50 per selector group
        mtf = list(used)
        bwt = bytearray()
        run = 0
        run_bit = 0
        group_pos = 0
        sel_idx = 0
        codes, min_len, max_len = tables[selectors[0]]
        while True:
            if group_pos == 50:
                sel_idx += 1
                if sel_idx >= len(selectors):
                    raise ValueError("ran out of selectors")
                codes, min_len, max_len = tables[selectors[sel_idx]]
                group_pos = 0
            group_pos += 1
            ln = min_len
            code = bs.read(min_len)
            while (ln, code) not in codes:
                ln += 1
                if ln > max_len:
                    raise ValueError("invalid huffman code in block")
                code = (code << 1) | bs.read(1)
            sym = codes[(ln, code)]
            if sym <= 1:  # RUNA/RUNB: bijective base-2 run of mtf[0]
                run += (sym + 1) << run_bit
                run_bit += 1
                continue
            if run:
                if len(bwt) + run > block_limit:
                    raise ValueError("zero-run exceeds block size")
                bwt.extend([mtf[0]] * run)
                run = 0
                run_bit = 0
            if sym == alpha - 1:  # EOB
                break
            v = mtf.pop(sym - 1)
            mtf.insert(0, v)
            bwt.append(v)
            if len(bwt) > block_limit:
                raise ValueError("block exceeds declared size")
        if orig_ptr >= len(bwt):
            raise ValueError("BWT origin pointer out of range")
        # inverse BWT: counting construction of the next-link vector
        counts = [0] * 256
        for b in bwt:
            counts[b] += 1
        starts = [0] * 256
        t = 0
        for v in range(256):
            starts[v] = t
            t += counts[v]
        nxt = [0] * len(bwt)
        seen = [0] * 256
        for i, b in enumerate(bwt):
            nxt[starts[b] + seen[b]] = i
            seen[b] += 1
        block = bytearray()
        j = nxt[orig_ptr]
        for _ in range(len(bwt)):
            block.append(bwt[j])
            j = nxt[j]
        # RLE1: 4 equal bytes are followed by an extra-repeat count byte
        out = bytearray()
        i = 0
        n = len(block)
        while i < n:
            b = block[i]
            run1 = 1
            while run1 < 4 and i + run1 < n and block[i + run1] == b:
                run1 += 1
            if run1 == 4:
                if i + 4 >= n:
                    raise ValueError("RLE1 run missing its count byte")
                out.extend([b] * (4 + block[i + 4]))
                i += 5
            else:
                out.extend([b] * run1)
                i += run1
        got = _bz_crc32(bytes(out))
        if got != block_crc:
            raise ValueError("block CRC mismatch")
        combined_crc = (
            ((combined_crc << 1) | (combined_crc >> 31)) & 0xFFFFFFFF
        ) ^ block_crc
        out_all += out


# registers the two zstd entries here, ahead of mm_bzip2_decode, as before
import flock_spark.operators.zstd_codec  # noqa: E402,F401


@register(
    "mm_bzip2_decode",
    oracle=_ZSTD_ORACLE,
    tags=("multimodal", "pandas_udf", "codec"),
    doc="From-spec bzip2 decode — the FIFTH compression family (after "
    "DEFLATE, Snappy, LZ4 and Zstd) and the codec of Wikipedia dumps "
    "and legacy crawl archives: the same five payload shapes as the "
    "zstd entries are compressed by the REAL stdlib bz2 encoder "
    "(libbz2) at level 1/5/9 by doc_id and decoded entirely from the "
    "public format description — BZh header, 48-bit block magics, the "
    "two-level used-symbol bitmap, MTF'd unary selectors, delta-coded "
    "canonical Huffman tables with 50-symbol group switching, "
    "RUNA/RUNB bijective base-2 zero runs, MTF inversion, inverse "
    "Burrows-Wheeler via the counting construction, RLE1 expansion, "
    "and bzip2's MSB-first CRC-32 verified per block AND for the "
    "combined stream (a flipped bit anywhere raises). The oracle "
    "re-derives byte counts/sums/md5 arithmetically from the repeat "
    "algebra, shared with the zstd entries. Scale: per-object "
    "mapInPandas, single scan, no shuffle — the codec plan family.",
)
def mm_bzip2_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = (
        tbl(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .selectExpr("doc_id", f"cast(({_PAYLOAD_CASE}) as binary) AS payload")
    )

    def make_check():
        import bz2

        def check(doc_id: int, b: bytes) -> None:
            if bzip2_decompress(bz2.compress(b, (1, 5, 9)[doc_id % 3])) != b:
                raise ValueError(f"bzip2 roundtrip mismatch for doc {doc_id}")

        return check

    return byte_roundtrip(d, make_check)


# ---------------------------------------------------------------------------
# Full RFC 1951 DEFLATE ENCODER — the reverse certification direction from
# inflate_at above, completing the codec pair the way the zstd/LZ4 entries
# do: greedy hash-chain LZ77 parse, canonical length-limited Huffman codes
# built with package-merge, dynamic-block code-length RLE (symbols 16/17/18),
# fixed-Huffman and stored fallbacks, smallest candidate wins. Every stream
# this emits is decoded by the REAL stdlib zlib inflater (raw mode) and by
# this repo's own from-spec inflate.
# ---------------------------------------------------------------------------

DEFLATE_ENC_STATS: dict[str, int] = {}


def _denc_hit(key: str) -> None:
    DEFLATE_ENC_STATS[key] = DEFLATE_ENC_STATS.get(key, 0) + 1


def _package_merge(freqs: dict[int, int], limit: int) -> dict[int, int]:
    """Optimal length-limited prefix-code lengths (package-merge). Returns
    {symbol: length} with every length in [1, limit] and the Kraft sum
    exactly 1 — i.e. directly canonicalizable per RFC 1951 §3.2.2."""
    syms = sorted(freqs)
    n = len(syms)
    if n == 0:
        return {}
    if n == 1:
        return {syms[0]: 1}
    if n > (1 << limit):
        raise ValueError("alphabet too large for length limit")
    original = sorted((freqs[s], (s,)) for s in syms)
    merged = list(original)
    for _ in range(limit - 1):
        packages = [
            (
                merged[i][0] + merged[i + 1][0],
                merged[i][1] + merged[i + 1][1],
            )
            for i in range(0, len(merged) - 1, 2)
        ]
        merged = sorted(original + packages)
    lengths = {s: 0 for s in syms}
    for _, bundle in merged[: 2 * n - 2]:
        for s in bundle:
            lengths[s] += 1
    return lengths


def _lsb_codes(lengths: list[int]) -> list[tuple[int, int]]:
    """Canonical codes bit-reversed for an LsbWriter: DEFLATE packs a
    Huffman code's MSB first into its LSB-first stream."""
    return [
        (int(f"{c:0{ln}b}"[::-1], 2) if ln else 0, ln)
        for c, ln in canonical_codes(lengths)
    ]


def _lz77_tokens(data: bytes, max_chain: int = 64):
    """Greedy LZ77 parse: literals (int) and (length, distance) tuples,
    window 32 KiB, match lengths 3..258, hash-3 chains capped at
    ``max_chain`` probes."""
    n = len(data)
    tokens: list = []
    head: dict[int, list[int]] = {}
    i = 0
    while i < n:
        best_len = 0
        best_dist = 0
        if i + 3 <= n:
            key = data[i] | (data[i + 1] << 8) | (data[i + 2] << 16)
            tried = 0
            for j in reversed(head.get(key, ())):
                if i - j > 32768:
                    break
                tried += 1
                if tried > max_chain:
                    break
                maxl = min(258, n - i)
                ln = 0
                while ln < maxl and data[j + ln] == data[i + ln]:
                    ln += 1
                if ln > best_len:
                    best_len, best_dist = ln, i - j
                    if ln >= 128:  # long enough — stop probing
                        break
        if best_len >= 3:
            tokens.append((best_len, best_dist))
            end = i + best_len
            while i < end:
                if i + 3 <= n:
                    key = data[i] | (data[i + 1] << 8) | (data[i + 2] << 16)
                    head.setdefault(key, []).append(i)
                i += 1
        else:
            if i + 3 <= n:
                head.setdefault(key, []).append(i)
            tokens.append(data[i])
            i += 1
    return tokens


def _len_code(ln: int) -> tuple[int, int, int]:
    for k in range(len(_LEN_BASE) - 1, -1, -1):
        if ln >= _LEN_BASE[k]:
            return 257 + k, _LEN_EXTRA[k], ln - _LEN_BASE[k]
    raise ValueError(f"bad match length {ln}")


def _dist_code(d: int) -> tuple[int, int, int]:
    for k in range(len(_DIST_BASE) - 1, -1, -1):
        if d >= _DIST_BASE[k]:
            return k, _DIST_EXTRA[k], d - _DIST_BASE[k]
    raise ValueError(f"bad match distance {d}")


def _emit_tokens(bw: LsbWriter, tokens, lit_codes, dist_codes) -> None:
    for t in tokens:
        if isinstance(t, tuple):
            ln, d = t
            sym, xb, xv = _len_code(ln)
            c, w = lit_codes[sym]
            bw.write(c, w)
            if xb:
                bw.write(xv, xb)
            sym, xb, xv = _dist_code(d)
            c, w = dist_codes[sym]
            bw.write(c, w)
            if xb:
                bw.write(xv, xb)
        else:
            c, w = lit_codes[t]
            bw.write(c, w)
    c, w = lit_codes[256]
    bw.write(c, w)  # end-of-block


def _rle_code_lengths(lengths: list[int]):
    """RFC 1951 §3.2.7 run-length coding of the code-length arrays:
    (symbol, extra_bits, extra_val) triples using 16/17/18 repeats."""
    out = []
    i = 0
    n = len(lengths)
    while i < n:
        v = lengths[i]
        j = i
        while j < n and lengths[j] == v:
            j += 1
        run = j - i
        if v == 0:
            while run >= 11:
                r = min(run, 138)
                out.append((18, 7, r - 11))
                run -= r
            if run >= 3:
                out.append((17, 3, run - 3))
                run = 0
            out.extend((0, 0, 0) for _ in range(run))
        else:
            out.append((v, 0, 0))
            run -= 1
            while run >= 3:
                r = min(run, 6)
                out.append((16, 2, r - 3))
                run -= r
            out.extend((v, 0, 0) for _ in range(run))
        i = j
    return out


def _emit_fixed(tokens) -> bytes:
    bw = LsbWriter()
    bw.write(1, 1)  # BFINAL
    bw.write(1, 2)  # BTYPE=01 fixed
    lit_codes = _lsb_codes([8] * 144 + [9] * 112 + [7] * 24 + [8] * 8)
    dist_codes = _lsb_codes([5] * 30)
    _emit_tokens(bw, tokens, lit_codes, dist_codes)
    return bw.getvalue()


def _emit_dynamic(tokens) -> bytes:
    lit_freq: dict[int, int] = {256: 1}
    dist_freq: dict[int, int] = {}
    for t in tokens:
        if isinstance(t, tuple):
            sym, _, _ = _len_code(t[0])
            lit_freq[sym] = lit_freq.get(sym, 0) + 1
            sym, _, _ = _dist_code(t[1])
            dist_freq[sym] = dist_freq.get(sym, 0) + 1
        else:
            lit_freq[t] = lit_freq.get(t, 0) + 1
    lit_len_map = _package_merge(lit_freq, 15)
    dist_len_map = _package_merge(dist_freq, 15)
    hlit = max(257, max(lit_len_map) + 1)
    hdist = max(1, max(dist_len_map) + 1 if dist_len_map else 1)
    lit_lengths = [lit_len_map.get(s, 0) for s in range(hlit)]
    dist_lengths = [dist_len_map.get(s, 0) for s in range(hdist)]
    rle = _rle_code_lengths(lit_lengths + dist_lengths)
    cl_freq: dict[int, int] = {}
    for sym, _, _ in rle:
        cl_freq[sym] = cl_freq.get(sym, 0) + 1
    cl_len_map = _package_merge(cl_freq, 7)
    cl_lengths = [cl_len_map.get(s, 0) for s in range(19)]
    hclen = len(_CLEN_ORDER)
    while hclen > 4 and cl_lengths[_CLEN_ORDER[hclen - 1]] == 0:
        hclen -= 1
    bw = LsbWriter()
    bw.write(1, 1)  # BFINAL
    bw.write(2, 2)  # BTYPE=10 dynamic
    bw.write(hlit - 257, 5)
    bw.write(hdist - 1, 5)
    bw.write(hclen - 4, 4)
    for k in range(hclen):
        bw.write(cl_lengths[_CLEN_ORDER[k]], 3)
    cl_codes = _lsb_codes(cl_lengths)
    for sym, xb, xv in rle:
        c, w = cl_codes[sym]
        bw.write(c, w)
        if xb:
            bw.write(xv, xb)
    lit_codes = _lsb_codes(lit_lengths)
    dist_codes = _lsb_codes(dist_lengths)
    _emit_tokens(bw, tokens, lit_codes, dist_codes)
    return bw.getvalue()


def _emit_stored(data: bytes) -> bytes:
    bw = LsbWriter()
    bw.write(1, 1)  # BFINAL
    bw.write(0, 2)  # BTYPE=00 stored
    n = len(data)
    return bw.getvalue() + n.to_bytes(2, "little") + (
        n ^ 0xFFFF
    ).to_bytes(2, "little") + data


def deflate_compress(data: bytes) -> bytes:
    """RFC 1951 encode as ONE final block: fixed-Huffman, dynamic-Huffman
    (when the parse is big enough to amortize the header), and stored
    (when it fits a single stored block) candidates are all assembled and
    the smallest wins — mirroring what a real compressor's block planner
    decides, without copying one."""
    tokens = _lz77_tokens(data)
    cands = [("fixed", _emit_fixed(tokens))]
    if len(data) >= 32:
        cands.append(("dynamic", _emit_dynamic(tokens)))
    if len(data) <= 0xFFFF:
        cands.append(("stored", _emit_stored(data)))
    mode, best = min(cands, key=lambda kv: len(kv[1]))
    _denc_hit(f"block:{mode}")
    return best


@register(
    "mm_deflate_encode_roundtrip",
    oracle=_ZSTD_ORACLE,
    tags=("multimodal", "pandas_udf", "codec"),
    doc="DEFLATE ENCODE from RFC 1951 — the reverse certification "
    "direction from the from-spec inflate above, completing the codec "
    "pair the way the zstd/LZ4 entries do: greedy hash-chain LZ77 parse "
    "(window 32 KiB, lengths 3-258), canonical length-limited Huffman "
    "codes built with PACKAGE-MERGE (15-bit litlen/dist, 7-bit "
    "code-length alphabet), dynamic-block header with run-length coded "
    "lengths (symbols 16/17/18), fixed-Huffman and stored candidates, "
    "smallest block wins. Every stream is decoded by the REAL stdlib "
    "zlib inflater in raw mode — any bitstream our reading of the spec "
    "assembles that the reference implementation cannot read raises "
    "here — and re-read by this repo's own from-spec inflate "
    "(self-consistency). Oracle identical to the zstd/LZ4 entries "
    "(repeat algebra over the same five payload shapes). Scale: "
    "per-object mapInPandas, single scan, no shuffle.",
)
def mm_deflate_encode_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = (
        tbl(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .selectExpr("doc_id", f"cast(({_PAYLOAD_CASE}) as binary) AS payload")
    )

    def make_check():
        import zlib

        def check(doc_id: int, b: bytes) -> None:
            stream = deflate_compress(b)
            dec = zlib.decompressobj(-15)
            real = dec.decompress(stream)
            if real != b or not dec.eof or dec.unused_data not in (b"", None):
                raise ValueError(
                    f"zlib read our stream differently for doc {doc_id}"
                )
            if inflate(stream) != b:
                raise ValueError(f"self-decode mismatch for doc {doc_id}")

        return check

    return byte_roundtrip(d, make_check)


# ---------------------------------------------------------------------------
# Full bzip2 ENCODER — the reverse certification direction from
# bzip2_decompress above, completing the sixth codec pair: RLE1 block
# segmentation, Burrows-Wheeler transform of ROTATIONS via suffix doubling,
# move-to-front over the used alphabet, RUNA/RUNB bijective base-2 zero
# runs, package-merge length-limited Huffman, delta-coded lengths, MTF'd
# unary selectors, MSB-first bit packing, per-block + combined CRCs. Every
# stream this emits is decoded by the REAL stdlib libbz2 decompressor and
# by this repo's own from-spec decoder.
# ---------------------------------------------------------------------------

BZ_ENC_STATS: dict[str, int] = {}


def _bzenc_hit(key: str) -> None:
    BZ_ENC_STATS[key] = BZ_ENC_STATS.get(key, 0) + 1


def _bz_rle1_encode(data: bytes) -> bytes:
    """bzip2's first-stage RLE: a run of 4-259 equal bytes becomes 4 copies
    plus an extra-repeat count byte (longer runs split)."""
    out = bytearray()
    i = 0
    n = len(data)
    while i < n:
        b = data[i]
        run = 1
        while i + run < n and run < 259 and data[i + run] == b:
            run += 1
        if run >= 4:
            out.extend([b] * 4)
            out.append(run - 4)
            _bzenc_hit("rle1:run")
        else:
            out.extend([b] * run)
        i += run
    return bytes(out)


def _bz_segments(data: bytes, cap: int):
    """Split the input at RLE1-run boundaries so every block's RLE1-encoded
    form fits ``cap`` (the declared block size). Yields (original_segment,
    rle1_bytes) pairs — block CRCs are computed over the ORIGINAL bytes."""
    segs = []
    start = 0
    i = 0
    n = len(data)
    enc_len = 0
    while i < n:
        b = data[i]
        run = 1
        while i + run < n and run < 259 and data[i + run] == b:
            run += 1
        piece = 5 if run >= 4 else run
        if enc_len + piece > cap and enc_len > 0:
            segs.append(data[start:i])
            start = i
            enc_len = 0
        enc_len += piece
        i += run
    if start < n or not segs:
        segs.append(data[start:])
    return [(s, _bz_rle1_encode(s)) for s in segs if len(s) or len(segs) == 1]


def _bwt_rotations(block: bytes) -> tuple[bytes, int]:
    """Burrows-Wheeler transform of cyclic ROTATIONS (bzip2's variant, not
    the suffix-array one) via Manber-Myers doubling with cyclic ranks,
    vectorized with numpy lexsort (stable, so tie order is consistent).
    Identical rotations (periodic blocks) tie — any consistent order
    inverts correctly under the counting construction. Returns
    (last_column, index_of_original_rotation)."""
    import numpy as np

    n = len(block)
    if n == 1:
        return block, 0
    a = np.frombuffer(block, dtype=np.uint8)
    rank = a.astype(np.int64)
    idx = np.arange(n, dtype=np.int64)
    order = np.argsort(rank, kind="stable")
    k = 1
    while k < n:
        key2 = rank[(idx + k) % n]
        order = np.lexsort((key2, rank))
        r1 = rank[order]
        r2 = key2[order]
        neq = np.empty(n, dtype=np.int64)
        neq[0] = 0
        neq[1:] = (r1[1:] != r1[:-1]) | (r2[1:] != r2[:-1])
        new_rank = np.empty(n, dtype=np.int64)
        new_rank[order] = np.cumsum(neq)
        rank = new_rank
        if rank[order[-1]] == n - 1:  # all rotations distinct
            break
        k <<= 1
    else:
        _bzenc_hit("bwt:periodic")  # ties left: block is periodic
    last = a[(order - 1) % n].tobytes()
    return last, int(np.nonzero(order == 0)[0][0])


def _bz_encode_block(bw: MsbWriter, rle1: bytes, crc: int) -> None:
    from flock_spark.operators.multimodal import _package_merge

    bw.write(0x314159265359, 48)
    bw.write(crc, 32)
    bw.write(0, 1)  # randomized: deprecated, always 0
    bwt, orig_ptr = _bwt_rotations(rle1)
    bw.write(orig_ptr, 24)
    used = sorted(set(bwt))
    alpha = len(used) + 2
    # MTF + RLE2 over the used alphabet
    mtf = list(used)
    syms: list[int] = []

    def flush_run(run: int) -> None:
        while run > 0:
            d = (run - 1) % 2 + 1  # bijective base-2 digit: 1=RUNA 2=RUNB
            syms.append(d - 1)
            run = (run - d) // 2

    run = 0
    for b in bwt:
        idx = mtf.index(b)
        if idx == 0:
            run += 1
            continue
        flush_run(run)
        run = 0
        mtf.pop(idx)
        mtf.insert(0, b)
        syms.append(idx + 1)
    flush_run(run)
    syms.append(alpha - 1)  # EOB
    # two-level used-symbol bitmap
    ranges = 0
    for u in used:
        ranges |= 0x8000 >> (u >> 4)
    bw.write(ranges, 16)
    for r in range(16):
        if ranges & (0x8000 >> r):
            m = 0
            for u in used:
                if u >> 4 == r:
                    m |= 0x8000 >> (u & 15)
            bw.write(m, 16)
    # one global length-limited Huffman table, duplicated (the format
    # demands >= 2 groups; identical tables with all-zero selectors are
    # valid, just suboptimal vs a real group planner)
    freqs = {s: 1 for s in range(alpha)}
    for s in syms:
        freqs[s] += 1
    lens_map = _package_merge(freqs, 17)
    lens = [lens_map[s] for s in range(alpha)]
    codes = canonical_codes(lens)
    n_sel = (len(syms) + 49) // 50
    bw.write(2, 3)  # n_groups
    bw.write(n_sel, 15)
    for _ in range(n_sel):
        bw.write(0, 1)  # selector MTF index 0 -> unary terminator alone
    for _ in range(2):
        cur = lens[0]
        bw.write(cur, 5)
        for target in lens:
            while cur != target:
                bw.write(1, 1)
                if target > cur:
                    bw.write(0, 1)
                    cur += 1
                else:
                    bw.write(1, 1)
                    cur -= 1
            bw.write(0, 1)
    for s in syms:
        code, ln = codes[s]
        bw.write(code, ln)


def bzip2_compress(
    data: bytes, level: int = 1, block_cap: int | None = None
) -> bytes:
    """Encode ``data`` as one complete bzip2 stream from the public format
    description. ``level`` sets the declared 100k-multiple block size;
    ``block_cap`` (tests) forces smaller blocks to exercise the
    multi-block path. Output decodes with libbz2 and with this repo's own
    from-spec decoder."""
    if not 1 <= level <= 9:
        raise ValueError("bzip2 level must be 1..9")
    cap = block_cap if block_cap is not None else level * 100_000 - 19
    bw = MsbWriter()
    bw.write(0x425A68, 24)  # 'BZh'
    bw.write(0x30 + level, 8)
    combined = 0
    if data:
        segs = _bz_segments(data, cap)
        if len(segs) > 1:
            _bzenc_hit("stream:multiblock")
        for orig, rle1 in segs:
            crc = _bz_crc32(orig)
            combined = (
                ((combined << 1) | (combined >> 31)) & 0xFFFFFFFF
            ) ^ crc
            _bz_encode_block(bw, rle1, crc)
    else:
        _bzenc_hit("stream:empty")
    bw.write(0x177245385090, 48)
    bw.write(combined, 32)
    return bw.getvalue()


@register(
    "mm_bzip2_encode_roundtrip",
    oracle=_ZSTD_ORACLE,
    tags=("multimodal", "pandas_udf", "codec"),
    doc="bzip2 ENCODE from the public format description — the reverse "
    "certification direction from mm_bzip2_decode, completing the codec "
    "pair: RLE1 with run-boundary block segmentation, Burrows-Wheeler "
    "transform of cyclic rotations via Manber-Myers suffix doubling "
    "(periodic-block ties invert correctly under the counting "
    "construction), move-to-front over the used alphabet, RUNA/RUNB "
    "bijective base-2 zero runs, the two-level used-symbol bitmap, "
    "package-merge length-limited Huffman (17-bit cap) with bzip2's "
    "canonical code walk, delta-coded lengths, MTF'd unary selectors, "
    "MSB-first bit packing, and per-block + 1-bit-rotated combined "
    "CRC-32s (bzip2's unreflected polynomial). Every stream is decoded "
    "by the REAL stdlib libbz2 decompressor — any bitstream our reading "
    "of the format assembles that the reference implementation cannot "
    "read raises here — and re-read by this repo's own from-spec "
    "decoder (self-consistency). A 1500-byte block cap forces the "
    "multi-block path on the large payload shapes. Oracle identical to "
    "the decode entry (repeat algebra over the same five payload "
    "shapes). Scale: per-object mapInPandas, single scan, no shuffle.",
)
def mm_bzip2_encode_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = (
        tbl(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .selectExpr("doc_id", f"cast(({_PAYLOAD_CASE}) as binary) AS payload")
    )

    def make_check():
        import bz2

        def check(doc_id: int, b: bytes) -> None:
            stream = bzip2_compress(b, level=1, block_cap=1500)
            if bz2.decompress(stream) != b:
                raise ValueError(
                    f"libbz2 read our stream differently for doc {doc_id}"
                )
            if bzip2_decompress(stream) != b:
                raise ValueError(f"self-decode mismatch for doc {doc_id}")

        return check

    return byte_roundtrip(d, make_check)
