"""Streaming-specific tests beyond the oracle-parity sweep: the rate-source
generator's determinism and the runner plumbing."""

from __future__ import annotations

import os
import uuid

import pytest
from pyspark.sql import functions as F

from flock_spark.streaming.runner import run_to_memory
from flock_spark.streaming.source import bounded_stream, rate_events


def test_rate_events_deterministic_fields(spark):
    """Two drains of the rate generator agree on every derived field for the
    shared counter range (mirrors the reference's seeded NEXMark generator —
    event.rs:89 seeds per id)."""
    s1 = rate_events(spark, rows_per_second=500)
    out1 = run_to_memory(
        s1.select("event_id", "user_id", "event_type", "value"), output_mode="append",
        run_for_sec=5,
    ).filter(F.col("event_id") < 100)
    rows1 = {r["event_id"]: (r["user_id"], r["event_type"], r["value"]) for r in out1.collect()}
    s2 = rate_events(spark, rows_per_second=500)
    out2 = run_to_memory(
        s2.select("event_id", "user_id", "event_type", "value"), output_mode="append",
        run_for_sec=5,
    ).filter(F.col("event_id") < 100)
    rows2 = {r["event_id"]: (r["user_id"], r["event_type"], r["value"]) for r in out2.collect()}
    common = set(rows1) & set(rows2)
    assert common, "rate source produced no overlapping ids"
    for k in common:
        assert rows1[k] == rows2[k]


def test_bounded_stream_matches_batch_count(spark, sf_dir):
    s = bounded_stream(spark, sf_dir, "events")
    drained = run_to_memory(s.select("event_id"), output_mode="append")
    batch_cnt = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert drained.count() == batch_cnt


def test_streaming_watermark_drops_nothing_when_drained(spark, sf_dir):
    """Bounded drain with watermark: complete mode keeps all windows."""
    s = bounded_stream(spark, sf_dir, "events")
    agg = (
        s.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 day"))
        .agg(F.count("*").alias("cnt"))
    )
    out = run_to_memory(agg, output_mode="complete")
    total = out.agg(F.sum("cnt")).collect()[0][0]
    assert total == spark.read.parquet(f"{sf_dir}/events.parquet").count()


def test_streaming_watermark_drops_late_rows(spark, tmp_path):
    """The designed-in late-data policy (SURVEY §2.9: the reference has NO
    watermark — bitmap completeness instead; Spark's withWatermark is the
    deliberate improvement). Three micro-batches: batch 0 carries the
    [10:00, 11:00) window's rows and advances the watermark to 11:50;
    batch 1 closes and emits that window (cnt 2); batch 2's 10:15 row is
    below the watermark — if it were admitted it would re-open the closed
    window and append-mode would emit it twice; the watermark filter must
    drop it."""
    import os
    import time

    from pyspark.sql import Row

    src = str(tmp_path / "late_src")
    os.makedirs(src, exist_ok=True)
    ts = lambda s: f"2024-01-01 {s}:00"  # noqa: E731

    def write(name, stamps):
        df = spark.createDataFrame([Row(ts=ts(s)) for s in stamps]).withColumn(
            "ts", F.to_timestamp("ts")
        )
        df.coalesce(1).write.parquet(src + "/" + name)
        time.sleep(1.1)  # distinct mtimes pin micro-batch order (oldest first)

    write("f1", ["10:00", "10:30", "12:00"])
    write("f2", ["13:00"])
    write("f3", ["10:15", "14:00"])

    s = (
        spark.readStream.schema("ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/f*")
    )
    agg = (
        s.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("cnt"))
        .select(F.col("w.start").alias("wstart"), "cnt")
    )
    out = run_to_memory(agg, output_mode="append")
    rows = [(str(r["wstart"]), r["cnt"]) for r in out.collect()]
    got = dict(rows)
    assert len(rows) == len(got), f"duplicate window emission: {rows}"
    # [10:00,11:00) closed with 2 rows; the late 10:15 row was dropped, not
    # re-opened as a duplicate emission
    assert got.get("2024-01-01 10:00:00") == 2
    # 12:00's window closes once 14:00 advances the watermark; the 13:00 and
    # 14:00 windows never close before end-of-stream, so they never emit
    assert got.get("2024-01-01 12:00:00") == 1
    assert "2024-01-01 14:00:00" not in got


def test_streaming_checkpoint_recovery_no_duplicates(spark, tmp_path):
    """Fault-tolerance parity: the reference persists state to S3/EFS and
    dedups re-delivered windows (actor.rs PROCESSED_WINDOWS); Spark's
    checkpoint + file-sink transaction log give the same guarantee. A query
    stopped mid-stream and restarted from its checkpoint must produce each
    input row exactly once."""
    import os

    from pyspark.sql import Row

    src = str(tmp_path / "ck_src")
    sink = str(tmp_path / "ck_sink")
    ck = str(tmp_path / "ck_state")
    os.makedirs(src, exist_ok=True)

    def write(name, ids):
        spark.createDataFrame([Row(event_id=i) for i in ids]).coalesce(1).write.parquet(
            f"{src}/{name}"
        )

    write("f1", [1, 2, 3])
    write("f2", [4, 5])

    def start():
        s = (
            spark.readStream.schema("event_id long")
            .option("maxFilesPerTrigger", 1)
            .parquet(src + "/f*")
        )
        return (
            s.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .start()
        )

    q = start()
    q.processAllAvailable()
    q.stop()

    write("f3", [6, 7, 8])  # arrives while the query is down
    q = start()
    q.processAllAvailable()
    q.stop()

    got = sorted(r["event_id"] for r in spark.read.parquet(sink).collect())
    assert got == [1, 2, 3, 4, 5, 6, 7, 8]  # every row exactly once


def test_queue_sink_idempotent_redelivery(spark, tmp_path):
    """foreachBatch is at-least-once: the epoch-keyed overwrite pattern must
    make a redelivered batch a no-op (reference queue/KV sink semantics)."""
    import os

    from pyspark.sql import Row

    qdir = str(tmp_path / "queue")

    def enqueue(df, epoch):
        df.write.mode("overwrite").parquet(os.path.join(qdir, f"epoch={epoch}"))

    batch = spark.createDataFrame([Row(k=i, v=i * 10) for i in range(100)])
    enqueue(batch, 0)
    once = spark.read.parquet(qdir).count()
    enqueue(batch, 0)  # redelivery of the same epoch
    twice = spark.read.parquet(qdir).count()
    assert once == twice == 100

    enqueue(batch, 1)  # a genuinely new epoch appends
    assert spark.read.parquet(qdir).count() == 200


def _three_epoch_stream(spark, root):
    """A file stream of three one-file micro-batches, k = 0..29."""
    from pyspark.sql import Row

    src = str(root / "src")
    os.makedirs(src, exist_ok=True)
    for i in range(3):
        spark.createDataFrame(
            [Row(k=i * 10 + j) for j in range(10)]
        ).coalesce(1).write.parquet(f"{src}/f{i}")
    return (
        spark.readStream.schema("k long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/f*")
    )


def test_stage_batches_multi_epoch(spark, tmp_path):
    """stage_batches must accumulate every micro-batch across epochs
    (executor-side parquet staging, no driver residency)."""
    from flock_spark.streaming.runner import stage_batches

    staged = stage_batches(_three_epoch_stream(spark, tmp_path))
    got = sorted(r["k"] for r in staged.collect())
    assert got == list(range(30))


def _jobs_launched(spark, fn):
    """Run fn() under a fresh job group: its result and the ids of the jobs
    it launched."""
    sc = spark.sparkContext
    group = f"known_schema_{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "known-schema read")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def test_staged_generator_read_launches_no_job(spark):
    """A staged generator table is read with the schema of its SQL: parquet
    schema inference would run a footer-reading job per call."""
    from flock_spark.sources import nexmark_gen

    nexmark_gen.ysb_table(spark, "ad_event")  # stages the fixture if absent
    df, jobs = _jobs_launched(spark, lambda: nexmark_gen.ysb_table(spark, "ad_event"))
    assert jobs == []
    assert df.count() == nexmark_gen.N_EVENTS


def test_stage_batches_read_launches_no_job(spark, tmp_path):
    """stage_batches reads its staged epochs back with the stream's schema;
    the drain's own jobs run in the stream's job group, not the caller's."""
    from flock_spark.streaming.runner import stage_batches

    stream = _three_epoch_stream(spark, tmp_path)
    staged, jobs = _jobs_launched(spark, lambda: stage_batches(stream))
    assert jobs == []
    assert staged.columns == ["k"]
    assert sorted(r["k"] for r in staged.collect()) == list(range(30))


_MANAGER = "spark.sql.streaming.checkpointFileManagerClass"
_CHECKSUM = "spark.sql.streaming.checkpoint.fileChecksum.enabled"
_PARTITIONS = "spark.sql.shuffle.partitions"
_FS_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def test_bounded_drain_checkpoints_without_helpers(spark, tmp_path):
    """A one-shot drain runs on the FileSystem checkpoint manager with file
    checksums off, and leaves the outer session as it found it: a key that
    was set keeps its value, a key that was unset is unset again."""
    from flock_spark.streaming.runner import run_foreach_batch

    keys = (_MANAGER, _CHECKSUM, _PARTITIONS)
    spark.conf.set(_CHECKSUM, "true")  # set; _MANAGER stays unset
    try:
        before = {k: spark.conf.get(k, None) for k in keys}
        assert before[_MANAGER] is None
        seen = []

        def record(df, epoch):
            conf = df.sparkSession.conf
            seen.append((conf.get(_MANAGER, None), conf.get(_CHECKSUM)))

        run_foreach_batch(_three_epoch_stream(spark, tmp_path), record)
        assert seen and set(seen) == {(_FS_MANAGER, "false")}
        assert {k: spark.conf.get(k, None) for k in keys} == before
    finally:
        spark.conf.unset(_CHECKSUM)


def test_write_stream_keeps_default_checkpoint_manager(spark, tmp_path):
    """Restartable streams keep Spark's recovery-grade checkpoints, also
    when started right after a bounded drain."""
    from flock_spark import sinks

    run_to_memory(_three_epoch_stream(spark, tmp_path / "drain"), output_mode="append")
    q = sinks.write_stream(
        _three_epoch_stream(spark, tmp_path / "restartable"), "noop", None,
        checkpoint=str(tmp_path / "ck"),
    )
    try:
        q.processAllAvailable()
        stream = q._jsq.streamingQuery()
        manager = stream.offsetLog().fileManager().getClass().getName()
        assert manager.endswith(".FileContextBasedCheckpointFileManager")
        assert stream.sparkSessionForStream().conf().get(_MANAGER, None) is None
    finally:
        q.stop()


def test_cdc_upsert_stream_runs_multiple_batches(spark, sf_dir):
    # the cross-batch merge path is only exercised if the staged change log
    # actually splits into multiple part files (one micro-batch each with
    # maxFilesPerTrigger=1) — pin the fixture shape so a staging change
    # can't silently collapse the stream into one batch
    import glob

    from flock_spark.registry import REGISTRY, get_queries

    get_queries()
    out = REGISTRY["streaming_cdc_upsert_foreachbatch"].fn(spark, sf_dir)
    from flock_spark.staging import stage_once

    path = stage_once(f"cdc_chunks_{sf_dir}", "v2-u50-4range", lambda tmp: None)
    parts = glob.glob(f"{path}/part-*.parquet")
    assert len(parts) == 4, parts
    # and the final snapshot has one row per (user_id, event_type) key
    rows = out.collect()
    keys = {(r["user_id"], r["event_type"]) for r in rows}
    assert len(keys) == len(rows)
    assert all(r["n_versions"] >= 1 for r in rows)


@pytest.mark.skipif(
    not os.environ.get("KAFKA_BOOTSTRAP"),
    reason="no real Kafka broker in this environment (set KAFKA_BOOTSTRAP to run)",
)
def test_kafka_real_broker_wire_decode(spark, sf_dir):
    """Real-broker twin of streaming_kafka_wire_decode: produce the identical
    wire records to a topic via Spark's Kafka sink, read them back with
    format('kafka'), and run the SAME decode_kafka_envelope — asserting the
    same aggregate the file-replay oracle certifies."""
    import uuid

    from flock_spark.catalog import tbl
    from flock_spark.streaming.queries import (
        decode_kafka_envelope,
        kafka_envelope_stream,
        run_to_memory,
    )

    bootstrap = os.environ["KAFKA_BOOTSTRAP"]
    topic = f"flock_spark_smoke_{uuid.uuid4().hex[:8]}"
    e = tbl(spark, sf_dir, "events")
    (
        e.select(
            F.col("event_id").cast("string").alias("key"),
            F.to_json(
                F.struct("event_id", "user_id", "event_type", "value")
            ).alias("value"),
        )
        .write.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap)
        .option("topic", topic)
        .save()
    )
    out = run_to_memory(
        decode_kafka_envelope(kafka_envelope_stream(spark, topic)),
        output_mode="complete",
    ).collect()
    expected = {
        (r["event_type"], r["cnt"], r["sum_users"])
        for r in e.groupBy("event_type")
        .agg(F.count("*").alias("cnt"), F.sum("user_id").alias("sum_users"))
        .collect()
    }
    got = {(r["event_type"], r["cnt"], r["sum_users"]) for r in out}
    assert got == expected


def _has_tws_protobuf() -> bool:
    """transformWithStateInPandas' Python state-server runner needs
    google.protobuf (absent/broken in this container — probed, not assumed)."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


@pytest.mark.skipif(
    not _has_tws_protobuf(),
    reason="transformWithStateInPandas needs google.protobuf (not in this "
    "container); the test runs unchanged once protobuf is installed",
)
def test_transform_with_state_distinct_types(spark, sf_dir):
    """transformWithState (Spark 4, SPARK-46815) — the arbitrary-state API
    that supersedes applyInPandasWithState, with typed composite state the
    old API lacks (MapState/ListState/ValueState + timers). Per-user distinct
    event types held in a MapState and a running total in a ValueState across
    micro-batches; the drained final emission per key must equal the batch
    GROUP BY (the same contract streaming_stateful_running_count certifies
    for the old API). Requires the RocksDB state-store provider."""
    import pandas as pd

    from pyspark.sql.streaming import StatefulProcessor

    class TypeCount(StatefulProcessor):
        def init(self, handle):
            self.types = handle.getMapState("types", "etype string", "cnt long")
            self.total = handle.getValueState("total", "total long")

        def handleInputRows(self, key, rows, timerValues):
            tot = self.total.get()[0] if self.total.exists() else 0
            for pdf in rows:
                tot += len(pdf)
                for et, c in pdf["event_type"].value_counts().items():
                    prev = (
                        self.types.getValue((et,))[0]
                        if self.types.containsKey((et,))
                        else 0
                    )
                    self.types.updateValue((et,), (prev + int(c),))
            self.total.update((tot,))
            n_types = sum(1 for _ in self.types.keys())
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_types": [n_types], "total_events": [tot]}
            )

        def close(self):
            pass

    prev_provider = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass", None
    )
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        s = bounded_stream(spark, sf_dir, "events").select("user_id", "event_type")
        out = s.groupBy("user_id").transformWithStateInPandas(
            statefulProcessor=TypeCount(),
            outputStructType="user_id long, n_types long, total_events long",
            outputMode="Update",
            timeMode="None",
        )
        drained = run_to_memory(out, output_mode="update", cap=8)
        # emissions are monotone per key; last (= max) is the final state
        got = {
            (r["user_id"], r["n_types"], r["total_events"])
            for r in drained.groupBy("user_id")
            .agg(F.max("n_types").alias("n_types"), F.max("total_events").alias("total_events"))
            .collect()
        }
        e = spark.read.parquet(f"{sf_dir}/events.parquet")
        expected = {
            (r["user_id"], r["n_types"], r["total_events"])
            for r in e.groupBy("user_id")
            .agg(
                F.countDistinct("event_type").alias("n_types"),
                F.count("*").alias("total_events"),
            )
            .collect()
        }
        assert got == expected
    finally:
        if prev_provider is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev_provider
            )


def test_stream_stream_left_outer_emits_both_shapes(spark, sf_dir):
    """The outer join must be non-vacuous on BOTH sides of its union:
    at least one matched row AND many watermark-closed null emissions —
    a green hash over only-matched (or only-null) rows would not certify
    the outer-emission path."""
    from flock_spark.registry import REGISTRY

    rows = REGISTRY["streaming_stream_stream_left_outer"].fn(spark, sf_dir).collect()
    matched = [r for r in rows if r.purchase_id is not None]
    nulls = [r for r in rows if r.purchase_id is None]
    assert len(matched) >= 1
    assert len(nulls) >= 10
