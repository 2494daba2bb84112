"""Digests shared by the codec and file-format certification entries, each next to
the DuckDB oracle it must agree with: byte roundtrip (md5 over upper-case hex, as in
DuckDB's ``hex()``), parquet page-decode stats, and the per-column audit."""

from __future__ import annotations

import hashlib
from collections.abc import Callable, Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame

from flock_spark.catalog import spread

# Five payload shapes: text, 12x repeat, 200x repeated 9-char stem, 6-char stub, 7x repeat.
_PAYLOAD_CASE = """CASE doc_id % 5 WHEN 0 THEN text WHEN 1 THEN repeat(text, 12)
  WHEN 2 THEN repeat(substring(text, 1, 9), 200) WHEN 3 THEN substring(text, 1, 6)
  ELSE repeat(text, 7) END"""

# Stats of _PAYLOAD_CASE without building the repeats: byte sums distribute over
# repetition and hex over concatenation, so sf, s9 and s6 unnest only the base strings.
_ZSTD_ORACLE = """
WITH base AS ( SELECT doc_id, text, hex(encode(text)) AS hxf,
  hex(encode(substring(text, 1, 9))) AS hx9, hex(encode(substring(text, 1, 6))) AS hx6,
  octet_length(encode(text)) AS nf, octet_length(encode(substring(text, 1, 9))) AS n9,
  octet_length(encode(substring(text, 1, 6))) AS n6
  FROM documents WHERE text IS NOT NULL),""" + ",".join(f"""
s{k} AS ( SELECT b.doc_id,
  CAST(sum(('0x' || substring(b.hx{k}, s.i * 2 - 1, 2))::BIGINT) AS BIGINT) AS s
  FROM (SELECT doc_id, unnest(generate_series(1, n{k})) AS i FROM base) s
  JOIN base b USING (doc_id) GROUP BY b.doc_id)""" for k in "f96") + """
SELECT b.doc_id,
  CAST(CASE b.doc_id % 5 WHEN 0 THEN b.nf WHEN 1 THEN 12 * b.nf WHEN 2 THEN 200 * b.n9
    WHEN 3 THEN b.n6 ELSE 7 * b.nf END AS BIGINT) AS n_bytes,
  CAST(CASE b.doc_id % 5 WHEN 0 THEN sf.s WHEN 1 THEN 12 * sf.s WHEN 2 THEN 200 * s9.s
    WHEN 3 THEN s6.s ELSE 7 * sf.s END AS BIGINT) AS byte_sum,
  md5(CASE b.doc_id % 5 WHEN 0 THEN b.hxf WHEN 1 THEN repeat(b.hxf, 12)
    WHEN 2 THEN repeat(b.hx9, 200) WHEN 3 THEN b.hx6 ELSE repeat(b.hxf, 7) END) AS decoded_md5
FROM base b JOIN sf USING (doc_id) JOIN s9 USING (doc_id) JOIN s6 USING (doc_id)"""

_PLAIN_ORACLE = """
WITH img AS ( SELECT doc_id, hex(encode(text)) AS hx, octet_length(encode(text)) AS n
  FROM documents WHERE octet_length(encode(text)) > 0),
samples AS ( SELECT doc_id, unnest(generate_series(1, n)) AS i FROM img),
sums AS ( SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_bytes,
  CAST(sum(('0x' || substring(i2.hx, s.i * 2 - 1, 2))::BIGINT) AS BIGINT) AS byte_sum
  FROM samples s JOIN img i2 USING (doc_id) GROUP BY s.doc_id)
SELECT sums.doc_id, sums.n_bytes, sums.byte_sum, md5(img.hx) AS decoded_md5
FROM sums JOIN img ON sums.doc_id = img.doc_id"""

_PAGE_ORACLE = """
SELECT 'doc_id' AS col_name, CAST(count(*) AS BIGINT) AS n_values, CAST(0 AS BIGINT) AS n_nulls,
  CAST(min(doc_id) AS BIGINT) AS min_v, CAST(max(doc_id) AS BIGINT) AS max_v,
  CAST(sum(doc_id) AS BIGINT) AS sum_v,
  md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)) AS values_md5 FROM documents
UNION ALL
SELECT 'n_chars', CAST(count(*) AS BIGINT), CAST(0 AS BIGINT), CAST(min(n_chars) AS BIGINT),
  CAST(max(n_chars) AS BIGINT), CAST(sum(n_chars) AS BIGINT),
  md5(string_agg(CAST(n_chars AS VARCHAR), ',' ORDER BY doc_id)) FROM documents"""

_AUDIT_ORACLE = """
SELECT 'doc_id' AS col_name, CAST(count(*) AS BIGINT) AS n_values, CAST(0 AS BIGINT) AS n_nulls,
  CAST(sum(doc_id) AS BIGINT) AS sum_v,
  md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)) AS values_md5 FROM documents
UNION ALL
SELECT 'n_chars_gap', CAST(count(*) AS BIGINT),
  CAST(sum(CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT),
  CAST(sum(CASE WHEN doc_id % 7 = 0 THEN 0 ELSE n_chars END) AS BIGINT), md5(string_agg(
  CASE WHEN doc_id % 7 = 0 THEN 'null' ELSE CAST(n_chars AS VARCHAR) END, ',' ORDER BY doc_id))
FROM documents""" + "".join(f"""
UNION ALL
SELECT '{c}', CAST(count(*) AS BIGINT), CAST(0 AS BIGINT),
  CAST(sum(octet_length(encode({c}))) AS BIGINT), md5(string_agg(md5({c}), ',' ORDER BY doc_id))
FROM documents""" for c in ("text", "source"))


def _md5(s: str) -> str:
    return hashlib.md5(s.encode()).hexdigest()


def _batch(schema: str, rows: list[tuple]) -> pd.DataFrame:
    """``rows`` as one output batch, typed by the DDL ``schema``."""
    cols = dict(c.split() for c in schema.split(", "))
    dtypes = {n: {"long": "int64", "string": "object"}[t] for n, t in cols.items()}
    return pd.DataFrame(rows, columns=list(cols)).astype(dtypes)


def byte_digest(b: bytes) -> tuple[int, int, str]:
    return len(b), sum(b), _md5(b.hex().upper())


def byte_roundtrip(d: DataFrame, make_check: Callable[[], Callable[[int, bytes], None]]) -> DataFrame:
    """Digest each ``(doc_id, payload)`` row of ``d`` after ``check(doc_id, payload)``,
    which raises on any mismatch. ``make_check`` runs on the worker once per task."""
    schema = "doc_id long, n_bytes long, byte_sum long, decoded_md5 string"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        check = make_check()
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                b = bytes(payload)
                check(int(doc_id), b)
                rows.append((int(doc_id), *byte_digest(b)))
            yield _batch(schema, rows)

    return spread(d).mapInPandas(run, schema=schema)


def _map_files(bf: DataFrame, schema: str, rows_of: Callable[[bytes], Iterable[tuple]]) -> DataFrame:
    """Emit ``rows_of(content)`` for each file of a binaryFile DataFrame."""
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield _batch(schema, [r for c in pdf["content"] for r in rows_of(bytes(c))])

    return bf.mapInPandas(run, schema=schema)


def page_decode(bf: DataFrame, codec: str) -> DataFrame:
    """doc_id and n_chars read from each parquet file's raw bytes, all pages ``codec``."""
    def rows_of(content: bytes) -> Iterator[tuple]:
        # formats imports this module, so its readers are looked up here
        from flock_spark.operators.formats import parquet_column_read, parquet_footer_parse
        info = parquet_footer_parse(content)
        codecs = {c["codec"] for rg in info["row_groups"] for c in rg["columns"]}
        if codecs != {codec}:
            raise ValueError(f"fixture not {codec}-paged: {codecs}")
        names = [n for n, _ in info["schema"]]
        for col in ("doc_id", "n_chars"):
            vals = parquet_column_read(content, names.index(col))
            p = [v for v in vals if v is not None]
            yield col, len(vals), len(vals) - len(p), min(p), max(p), sum(p), _md5(",".join(map(str, p)))

    return _map_files(bf, "col_name string, n_values long, n_nulls long, min_v long, max_v long, "
                      "sum_v long, values_md5 string", rows_of)


def column_digest(vals: list, stringish: bool) -> tuple[int, int, int, str]:
    """``(n_values, n_nulls, sum_v, values_md5)`` of a column in file order: strings sum
    UTF-8 byte lengths and chain per-value md5s, nulls are spelled 'null'."""
    present = [v for v in vals if v is not None]
    total = sum(len(v.encode()) for v in present) if stringish else sum(present)
    parts = ("null" if v is None else _md5(v) if stringish else str(v) for v in vals)
    return len(vals), len(vals) - len(present), total, _md5(",".join(parts))


def column_audit(bf: DataFrame, walk: Callable[[bytes], Iterable[tuple[str, list, bool]]]) -> DataFrame:
    """Audit the ``(col_name, values, stringish)`` columns ``walk`` reads from each file."""
    schema = "col_name string, n_values long, n_nulls long, sum_v long, values_md5 string"
    return _map_files(bf, schema, lambda c: ((n, *column_digest(v, s)) for n, v, s in walk(c)))
