"""DuckDB-oracle comparison harness (mirrors the driver's t2 check).

Runs a registered Spark query and its oracle SQL over the same parquet tables
and compares row count, schema width, and an order-insensitive value multiset
(exact equality after canonicalization — stricter than a tolerance compare,
matching the driver's hash-based gate).
"""

from __future__ import annotations

import datetime
import decimal
import math
from collections import Counter

import duckdb
from pyspark.sql import SparkSession

from flock_spark.catalog import TABLE_NAMES


# Hard rule (round-3 driver finding, the dual of the round-1 Spark-side
# DecimalType rule): no oracle may OUTPUT a HUGEINT/UHUGEINT/DECIMAL column.
# DuckDB promotes sum(INT/BIGINT) to HUGEINT (int128); the external driver
# hashes int128 differently from Spark's int64 even when the values are
# equal, so the row-multisets match locally (both canonicalize to Python
# int) while the driver's hash gate fails. Fix at the source: CAST(sum(...)
# AS BIGINT) in the oracle SQL.
BANNED_ORACLE_TYPES = ("HUGEINT", "UHUGEINT", "DECIMAL")

# Round-6 driver finding (the third output-boundary type hazard after r1's
# DECIMAL and r3's HUGEINT): the driver's canonicalizer pandas-sorts result
# columns and dies on list cells (TypeError: unhashable type: 'list').
# The local _canon() below canonicalizes lists, which MASKED the hazard for
# two rounds — so nested output columns are banned outright on both engines;
# serialize arrays to strings at the output boundary (array_join /
# array_to_string over a pinned-order array is canonical).
BANNED_ORACLE_TYPE_IDS = ("list", "struct", "map", "array")


def check_oracle_types(con, sql: str) -> None:
    rel = con.sql(sql)
    bad = [
        (c, str(t))
        for c, t in zip(rel.columns, rel.types)
        if any(b in str(t).upper() for b in BANNED_ORACLE_TYPES)
        or t.id in BANNED_ORACLE_TYPE_IDS
    ]
    assert not bad, (
        f"oracle outputs non-portable column types (driver hashes int128/"
        f"decimal differently from Spark and cannot hash LIST/STRUCT/MAP "
        f"cells at all — CAST scalars, array_to_string arrays): {bad}"
    )


def run_oracle(sql: str, sf_dir: str):
    con = duckdb.connect()
    for name in TABLE_NAMES:
        con.execute(
            f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM '{sf_dir}/{name}.parquet'"
        )
    check_oracle_types(con, sql)
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    rows = cur.fetchall()
    con.close()
    return cols, rows


def _canon(v):
    """Canonicalize a cell for multiset comparison across engines."""
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, decimal.Decimal):
        return ("dec", str(v.normalize()))
    if isinstance(v, float):
        if math.isnan(v):
            return ("f", "nan")
        return ("f", repr(v))
    if isinstance(v, int):
        return ("i", v)
    if isinstance(v, datetime.datetime):
        return ("ts", v.replace(tzinfo=None).isoformat())
    if isinstance(v, datetime.date):
        return ("ts", datetime.datetime(v.year, v.month, v.day).isoformat())
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    if isinstance(v, (bytes, bytearray)):
        return ("b", bytes(v))
    return v


def compare(spark: SparkSession, fn, oracle_sql: str, sf_dir: str) -> None:
    """Assert the Spark query and oracle agree (see check_result)."""
    sdf = fn(spark, sf_dir)
    check_result(sdf.schema, sdf.collect(), *run_oracle(oracle_sql, sf_dir))


def check_result(schema, rows: list, o_cols_raw: list[str], o_rows_raw: list) -> None:
    """Assert a collected Spark result (its schema and Rows) agrees with the
    oracle's columns and rows: portable output types, sorted-by-name
    columns, row count, order-insensitive value multiset. Raises
    AssertionError with a diff."""
    from pyspark.sql import types as T

    # Hard rule (round-1 driver finding): no query may OUTPUT a decimal
    # column. Engines serialize decimals differently even when values match,
    # so external hash gates fail; _canon() below would mask it locally.
    # Decimal is for internal exact accumulation only — cast to DOUBLE at the
    # output boundary (relational.dsumd / fsum).
    decimal_cols = [f.name for f in schema.fields if isinstance(f.dataType, T.DecimalType)]
    assert not decimal_cols, f"DECIMAL-typed output columns (cast to DOUBLE): {decimal_cols}"
    # float32 is the remaining width class whose serialization could diverge
    # from DuckDB's DOUBLE the way DECIMAL (r1) and HUGEINT (r3) did; int32
    # vs int64 pairings are empirically driver-safe (tpch_q9 and
    # ann_topk_bruteforce were green in r3 with opposite-width int pairings)
    float_cols = [f.name for f in schema.fields if isinstance(f.dataType, T.FloatType)]
    assert not float_cols, f"FLOAT-typed output columns (cast to DOUBLE): {float_cols}"
    # Round-6 driver finding: nested output columns (array/struct/map) break
    # the driver's hash gate (unhashable list cells in its pandas sort).
    # _canon() tuple-izes lists below, which is exactly what masked this
    # locally — ban them at the source instead.
    nested_cols = [
        f.name
        for f in schema.fields
        if isinstance(f.dataType, (T.ArrayType, T.StructType, T.MapType))
    ]
    assert not nested_cols, (
        f"nested (array/struct/map) output columns break the driver's hash "
        f"gate — serialize to string (array_join) at the output boundary: "
        f"{nested_cols}"
    )
    s_cols = sorted(schema.names)
    s_rows = [tuple(row[c] for c in s_cols) for row in rows]

    order = sorted(range(len(o_cols_raw)), key=lambda i: o_cols_raw[i])
    o_cols = [o_cols_raw[i] for i in order]
    o_rows = [tuple(r[i] for i in order) for r in o_rows_raw]

    assert s_cols == o_cols, f"column mismatch: spark={s_cols} oracle={o_cols}"
    assert len(s_rows) == len(o_rows), f"row count: spark={len(s_rows)} oracle={len(o_rows)}"

    s_multi = Counter(tuple(_canon(v) for v in r) for r in s_rows)
    o_multi = Counter(tuple(_canon(v) for v in r) for r in o_rows)
    if s_multi != o_multi:
        only_s = list((s_multi - o_multi).items())[:5]
        only_o = list((o_multi - s_multi).items())[:5]
        raise AssertionError(
            f"value mismatch ({sum((s_multi - o_multi).values())} rows differ)\n"
            f"  spark-only sample: {only_s}\n  oracle-only sample: {only_o}"
        )
