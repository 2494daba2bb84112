"""Custom source via the Spark 4 Python DataSource API (SPARK-44076).

The reference's sources are *in-function generators*: the Lambda worker
materializes its own partition of the event stream from a seed instead of
reading external storage (flock/src/datasource/nexmark/nexmark.rs:285-398;
the generator→stream loop flock-function/src/aws/source.rs:32-77). The
existing `sources/nexmark_gen.py` maps that to a `spark.range` projection —
the JVM-fast path. This module covers the *pluggable source machinery*
itself: a user-defined DataSource registered with
``spark.dataSource.register`` whose partitions generate their slice of the
table inside executor-side Python workers, exactly the reference's
partition-local generation model:

- batch: `DataSourceReader.partitions()` splits [0, n) into `parts` ranges;
  each `read(partition)` yields one Arrow RecordBatch (vectorized, never
  row-at-a-time tuples).
- streaming: `DataSourceStreamReader` with real incremental offsets —
  `latestOffset` advances by `step` rows per micro-batch and the drain uses
  `processAllAvailable`, so multiple micro-batches execute with genuine
  offset tracking + commit calls (the reference's epoch loop,
  source.rs:32-77).

Generation is the package's standard engine-portable seeded md5 (see
operators/hashing.py): Python's hashlib md5 == DuckDB's md5 == Spark's md5,
so the DuckDB oracle regenerates the identical table from ``range(n)``
without any Python DataSource involvement — the cross-engine hash certifies
the custom source produced exactly the declared rows.

Scale posture: partition-local generation with no shuffle and no driver
loop; `parts` controls task parallelism. The Python-worker scan is the
deliberate API exercise here — the JVM twin for production-rate generation
is `nexmark_gen` (same hash family, `spark.range` projection).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)

from flock_spark.registry import register

N_ROWS = 20_000
N_PARTS = 8
STREAM_STEP = 5_000  # rows per micro-batch -> 4 micro-batches over N_ROWS
N_CATEGORIES = 7
AMOUNT_MOD = 1_000


def _gen_batch(start: int, end: int):
    """One Arrow RecordBatch for ids [start, end) — the shared generation
    rule: h = first 15 hex chars of md5('pd' || id) as int64."""
    import pyarrow as pa

    ids = list(range(start, end))
    hs = [
        int(hashlib.md5(f"pd{i}".encode()).hexdigest()[:15], 16) for i in ids
    ]
    return pa.record_batch(
        {
            "id": pa.array(ids, pa.int64()),
            "category": pa.array([f"c{h % N_CATEGORIES}" for h in hs], pa.string()),
            "amount": pa.array([h % AMOUNT_MOD for h in hs], pa.int64()),
        }
    )


class _RangePartition(InputPartition):
    def __init__(self, start: int, end: int):
        self.start, self.end = start, end


class _PydsBatchReader(DataSourceReader):
    def __init__(self, options):
        self.n = int(options.get("n", N_ROWS))
        self.parts = int(options.get("parts", N_PARTS))

    def partitions(self):
        step = (self.n + self.parts - 1) // self.parts
        return [
            _RangePartition(i * step, min((i + 1) * step, self.n))
            for i in range(self.parts)
        ]

    def read(self, partition):
        yield _gen_batch(partition.start, partition.end)


class _PydsStreamReader(DataSourceStreamReader):
    """Bounded stream: offsets advance `step` rows per latestOffset call
    until `n`, then hold — processAllAvailable drains it in ceil(n/step)
    genuine micro-batches."""

    def __init__(self, options):
        self.n = int(options.get("n", N_ROWS))
        self.step = int(options.get("step", STREAM_STEP))
        self.current = 0

    def initialOffset(self):
        return {"pos": 0}

    def latestOffset(self):
        self.current = min(self.current + self.step, self.n)
        return {"pos": self.current}

    def partitions(self, start, end):
        s, e = int(start["pos"]), int(end["pos"])
        mid = (s + e) // 2
        return (
            [_RangePartition(s, mid), _RangePartition(mid, e)]
            if mid > s
            else [_RangePartition(s, e)]
        )

    def read(self, partition):
        yield _gen_batch(partition.start, partition.end)

    def commit(self, end):
        pass


class PydsEventsSource(DataSource):
    """`flock_pyds` — deterministic generated events, batch + streaming."""

    @classmethod
    def name(cls) -> str:
        return "flock_pyds"

    def schema(self) -> str:
        return "id BIGINT, category STRING, amount BIGINT"

    def reader(self, schema):
        return _PydsBatchReader(self.options)

    def streamReader(self, schema):
        return _PydsStreamReader(self.options)


def _ensure_registered(spark: SparkSession) -> None:
    """Idempotent per-session registration (re-register raises)."""
    if not hasattr(spark, "_flock_pyds_registered"):
        spark.dataSource.register(PydsEventsSource)
        spark._flock_pyds_registered = True


def _oracle_src(n: int) -> str:
    """DuckDB regeneration of the source table — same md5 rule."""
    h = "(('0x' || substring(md5('pd' || CAST(id AS VARCHAR)), 1, 15))::BIGINT)"
    return f"""
    SELECT id,
           'c' || CAST(({h} % {N_CATEGORIES}) AS VARCHAR) AS category,
           ({h} % {AMOUNT_MOD})                           AS amount
    FROM range({n}) t(id)
    """


_AGG_ORACLE = f"""
    SELECT category,
           count(*)                     AS cnt,
           CAST(sum(amount) AS BIGINT)  AS total_amount,
           max(id)                      AS max_id
    FROM ({_oracle_src(N_ROWS)}) src
    GROUP BY category
"""


@register(
    "pyds_custom_source_agg",
    oracle=_AGG_ORACLE,
    tags=("source", "pyds", "spark4"),
    doc="Spark 4 Python DataSource API (SPARK-44076): a registered custom "
    "batch source whose partitions generate their id-range executor-side as "
    "Arrow batches (the reference's partition-local in-function generation, "
    "nexmark.rs:285-398), aggregated downstream. The oracle regenerates the "
    "table from range(n) via the shared md5 rule, certifying the custom "
    "reader produced exactly the declared rows across all partitions.",
)
def pyds_custom_source_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    _ensure_registered(spark)
    src = (
        spark.read.format("flock_pyds")
        .option("n", N_ROWS)
        .option("parts", N_PARTS)
        .load()
    )
    return src.groupBy("category").agg(
        F.count("*").alias("cnt"),
        F.sum("amount").alias("total_amount"),
        F.max("id").alias("max_id"),
    )


@register(
    "streaming_pyds_source_agg",
    oracle=_AGG_ORACLE,
    tags=("source", "pyds", "streaming", "spark4"),
    doc="Streaming twin over the same custom source: DataSourceStreamReader "
    "with REAL incremental offsets — latestOffset advances 5k rows per "
    "micro-batch (4 batches over 20k rows), partitions() splits each batch "
    "in two, commit() acknowledges — the reference's epoch-loop source "
    "model (source.rs:32-77). Drained with processAllAvailable into a "
    "complete-mode aggregate; the result is batching-independent, so it "
    "hash-matches the batch oracle regardless of micro-batch boundaries.",
)
def streaming_pyds_source_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    # local: importing the streaming package here would register its
    # entries ahead of this module's and reorder the registry
    from flock_spark.streaming.runner import _bounded_drain

    _ensure_registered(spark)
    stream = (
        spark.readStream.format("flock_pyds")
        .option("n", N_ROWS)
        .option("step", STREAM_STEP)
        .load()
    )
    agg = stream.groupBy("category").agg(
        F.count("*").alias("cnt"),
        F.sum("amount").alias("total_amount"),
        F.max("id").alias("max_id"),
    )
    name = "pyds_stream_agg"
    with _bounded_drain(spark):
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
            q.awaitTermination(60)
    # memory sink table is session-scoped; materialize before it's replaced
    rows = spark.table(name).collect()
    return spark.createDataFrame(rows, spark.table(name).schema)


# ----------------------------------------------- custom Python SINK -------


class _JsonlCommit(WriterCommitMessage):
    """WriterCommitMessage payload: the staged tmp file + its row count."""

    def __init__(self, path: str, n: int):
        self.path, self.n = path, n


class _JsonlWriter(DataSourceWriter):
    """Executor-side writer: each task streams its partition to a tmp
    JSON-lines file; commit() renames all tmp files atomically (two-phase:
    a failed task's tmp never becomes visible, abort() removes strays) —
    the same staged-rename discipline as the reference's S3 sink
    (flock/src/datasink/s3.rs put-then-publish)."""

    def __init__(self, options):
        self.dir = options["path"]

    def write(self, iterator):
        import json
        import os
        import uuid

        p = os.path.join(self.dir, f"part-{uuid.uuid4().hex}.jsonl.tmp")
        n = 0
        with open(p, "w") as f:
            for row in iterator:
                f.write(json.dumps(row.asDict()) + "\n")
                n += 1
        return _JsonlCommit(p, n)

    def commit(self, messages):
        import os

        for m in messages:
            os.replace(m.path, m.path[:-4])

    def abort(self, messages):
        import os

        for m in messages:
            if os.path.exists(m.path):
                os.remove(m.path)


class PydsJsonlSink(DataSource):
    """`flock_pyds_jsonl` — custom JSON-lines sink via the Python
    DataSource writer API (SPARK-44076)."""

    @classmethod
    def name(cls) -> str:
        return "flock_pyds_jsonl"

    def writer(self, schema, overwrite):
        return _JsonlWriter(self.options)


def _ensure_sink_registered(spark: SparkSession) -> None:
    if not hasattr(spark, "_flock_pyds_sink_registered"):
        spark.dataSource.register(PydsJsonlSink)
        spark._flock_pyds_sink_registered = True


@register(
    "pyds_custom_sink_roundtrip",
    oracle="""
    SELECT event_type,
           count(*)                                        AS cnt,
           CAST(sum(user_id) AS BIGINT)                    AS sum_users,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                                                           AS sum_cents
    FROM events
    WHERE user_id < 50
    GROUP BY event_type
    """,
    tags=("sink", "pyds", "spark4"),
    doc="Custom SINK via the Python DataSource writer API: each task "
    "streams its partition to a JSON-lines tmp file executor-side and the "
    "driver-side commit publishes all parts with atomic renames (abort "
    "removes strays) — the staged two-phase publish of the reference's "
    "S3 sink (datasink/s3.rs), here as user code under Spark's commit "
    "protocol. The entry writes a deterministic events slice through the "
    "sink, reads the JSON back with a declared schema, and aggregates; "
    "the oracle aggregates the source directly, so a green hash proves "
    "the write-read round trip lost and duplicated nothing across "
    "parallel part files.",
)
def pyds_custom_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flock_spark.catalog import tbl
    from flock_spark.staging import ephemeral_dir

    _ensure_sink_registered(spark)
    out = ephemeral_dir("flock_pyds_sink_")
    slice_df = (
        tbl(spark, sf_dir, "events")
        .where(F.col("user_id") < 50)
        .select(
            "user_id",
            "event_type",
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
    )
    (
        slice_df.repartition(8)
        .write.format("flock_pyds_jsonl")
        .option("path", out)
        .mode("append")
        .save()
    )
    back = spark.read.schema("user_id long, event_type string, cents long").json(
        out + "/*.jsonl"
    )
    return back.groupBy("event_type").agg(
        F.count("*").alias("cnt"),
        F.sum("user_id").alias("sum_users"),
        F.sum("cents").alias("sum_cents"),
    )
