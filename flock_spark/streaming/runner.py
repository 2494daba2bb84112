"""Streaming query runners.

run_to_memory     — drain a (bounded) stream into an in-memory sink and
                    return the result table; complete/update modes replace
                    the reference's per-window result shipping.
run_foreach_batch — the reference's execution model verbatim: re-run a full
                    SQL query per micro-batch/window (Flock re-executes the
                    whole plan per window — e.g. hopping replay
                    flock/src/datasource/nexmark/queries/q5.rs:76-130).
                    foreachBatch is the Spark-sanctioned escape hatch for
                    exactly this (aggregated-stream joins, ranking — the
                    shapes Spark can't run as single incremental queries).
stage_batches     — run_foreach_batch into per-epoch parquet, read back with
                    the stream's own schema (no schema-inference job).

Every bounded drain runs inside `_bounded_drain`: it is never restarted and
its checkpoint is deleted when it ends, so it takes the plain FileSystem
checkpoint manager without per-file checksums, the way Flock picks an
in-memory state backend for queries that need no recovery
(flock/src/state/mod.rs:63-121). Restartable streams (`sinks.write_stream`,
`sinks.foreach_batch_sink` outside a drain) keep Spark's defaults.
"""

from __future__ import annotations

import os
import tempfile
import uuid
from collections.abc import Callable
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

from flock_spark.session import clamped_shuffle_partitions

# State-store instance count per streaming query = shuffle partitions at
# query start. A verification sweep inherits whatever the surrounding
# session sets (a plain driver session defaults to 200), and 200 state
# stores per one-shot bounded drain doubles wall cost at test scale
# (measured: 14.8 s vs 7.4 s for the stateful entry). Drain state at test
# scale is a handful of group keys, so 8 instances saturate it; 32 paid
# measurable extra per-trigger state-store setup (kafka wire drain:
# 3.5-4.4 s at 32 -> 3.2-3.4 s at 8, two triggers). Streaming plans get
# no AQE coalescing, so this clamp is the only partition sizing bounded
# drains have. Production streams size this deliberately per state volume.
DRAIN_PARTITION_CAP = 8

# Checkpoint confs for one-shot drains. Without Hadoop native code (the
# usual local install), Spark's default FileContext manager resolves each
# rename with a `readlink` child process and sets each permission with a
# `chmod` one, 3.2-3.9 ms apiece: a warm tumbling-window drain started 152
# of them (40 chmod, 112 readlink), and 32 (chmod only) with the FileSystem
# manager. The Spark 4.1 file checksums write a second file per state file.
# Both buy recovery a drain never performs. Runtime confs: a streaming
# query snapshots its session at start, so setting them around start()
# reaches only that query.
_DRAIN_CHECKPOINT_CONF = {
    "spark.sql.streaming.checkpointFileManagerClass": (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager"
    ),
    "spark.sql.streaming.checkpoint.fileChecksum.enabled": "false",
}


@contextmanager
def _bounded_drain(spark: SparkSession, cap: int = DRAIN_PARTITION_CAP):
    """Run a one-shot drain on the FileSystem checkpoint manager without
    checksums and with at most `cap` shuffle partitions, then restore the
    session's values (a checkpoint conf that was unset is unset again)."""
    saved = {k: spark.conf.get(k, None) for k in _DRAIN_CHECKPOINT_CONF}
    try:
        for k, v in _DRAIN_CHECKPOINT_CONF.items():
            spark.conf.set(k, v)
        with clamped_shuffle_partitions(spark, cap):
            yield
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def run_to_memory(
    stream_df: DataFrame,
    output_mode: str = "complete",
    query_name: str | None = None,
    timeout_sec: int = 300,
    run_for_sec: float | None = None,
    cap: int = DRAIN_PARTITION_CAP,
) -> DataFrame:
    """Start stream → memory sink, drain, stop, return the result DataFrame.

    Bounded sources (files) drain with Trigger.AvailableNow; unbounded ones
    (rate) pass run_for_sec to run wall-clock-bounded micro-batches instead.

    A bounded drain that exceeds timeout_sec raises TimeoutError — returning
    the partially-filled memory table would read as a value mismatch (or a
    silent pass on a subset) instead of the real failure.
    """
    spark = stream_df.sparkSession
    name = query_name or f"mem_{uuid.uuid4().hex[:8]}"
    writer = stream_df.writeStream.outputMode(output_mode).format("memory").queryName(name)
    with _bounded_drain(spark, cap):
        if run_for_sec is None:
            q = writer.trigger(availableNow=True).start()
            try:
                finished = q.awaitTermination(timeout_sec)
                if not finished:
                    raise TimeoutError(
                        f"bounded stream '{name}' did not drain within {timeout_sec}s"
                    )
            finally:
                if q.isActive:
                    q.stop()
        else:
            q = writer.start()
            try:
                q.awaitTermination(run_for_sec)
            finally:
                q.stop()
    return spark.table(name)


def run_foreach_batch(
    stream_df: DataFrame,
    batch_fn: Callable[[DataFrame, int], None],
    timeout_sec: int = 300,
) -> None:
    """Drain a bounded stream through foreachBatch(batch_fn); raises
    TimeoutError on an incomplete drain (see run_to_memory)."""
    import shutil

    checkpoint = tempfile.mkdtemp(prefix="flock_spark_ckpt_")
    with _bounded_drain(stream_df.sparkSession):
        q = (
            stream_df.writeStream.foreachBatch(batch_fn)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        try:
            finished = q.awaitTermination(timeout_sec)
            if not finished:
                raise TimeoutError(
                    f"bounded foreachBatch stream did not drain within {timeout_sec}s"
                )
        finally:
            if q.isActive:
                q.stop()
            # one-shot drain: the checkpoint has no replay value, don't leak /tmp
            shutil.rmtree(checkpoint, ignore_errors=True)


def stage_batches(stream_df: DataFrame, timeout_sec: int = 300) -> DataFrame:
    """Drain a bounded stream by staging every micro-batch to parquet and
    return a DataFrame over the staged table.

    This is the scale-safe foreachBatch accumulator: each batch is written
    executor-side (`df.write` inside the handler — no toPandas/collect, no
    driver residency), so accumulated size is bounded by storage, not driver
    memory. Writing each epoch to its own `epoch=N` directory with overwrite
    makes redelivery after a failure idempotent — the Spark-sanctioned
    exactly-once pattern for file targets. The returned DataFrame is a plain
    parquet scan of everything staged (partition-discovered `epoch` column
    dropped), so downstream aggregation runs fully distributed.
    """
    from flock_spark.staging import ephemeral_dir

    spark = stream_df.sparkSession
    # ephemeral: the returned DataFrame reads these files for the rest of
    # the run; removed at process exit instead of leaking across sweeps
    stage_dir = ephemeral_dir("flock_spark_stage_")
    cols = stream_df.columns

    def absorb(df: DataFrame, epoch: int) -> None:
        df.write.mode("overwrite").parquet(os.path.join(stage_dir, f"epoch={epoch}"))

    run_foreach_batch(stream_df, absorb, timeout_sec)
    staged = [d for d in os.listdir(stage_dir) if d.startswith("epoch=")]
    if not staged:
        return spark.createDataFrame([], stream_df.schema)
    # the stream's schema, not inference: a parquet read without one runs a
    # footer-reading job; the `epoch` partition column is still discovered
    return (
        spark.read.schema(stream_df.schema)
        .option("basePath", stage_dir)
        .parquet(stage_dir)
        .select(*cols)
    )
