"""Streaming queries registered in the parity ledger.

Each runs a real Structured Streaming query over a bounded file stream and
returns the drained result. Because the input is bounded and fully drained,
the final answer equals the batch answer — so these entries carry *exact*
DuckDB oracles (the same oracles as their batch twins), closing the loop the
reference closes with its local window replays (SURVEY §5: per-query replay
tests, e.g. q5.rs:76-130).

Window-driver parity (reference → here):
- element-wise (elementwise.rs)  → streaming_elementwise_filter
- tumbling (tumbling.rs)         → streaming_tumbling_agg
- session (session.rs)           → streaming_session_foreachbatch
- global/proc-time q12 (global.rs:226-232 injects p_time=now())
                                 → streaming_proctime_agg (proc-time column
                                   injected; only deterministic columns are
                                   emitted, since now() isn't replayable)
- agg-self-join q5 (q5.rs)       → streaming_q5_foreachbatch (per-batch full
                                   recompute via foreachBatch — Flock's own
                                   execution model)
"""

from __future__ import annotations

import hashlib
import re
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flock_spark.operators.digests import map_rows
from flock_spark.queries.relational import fsum
from flock_spark.registry import register
from flock_spark.streaming.runner import run_to_memory, stage_batches
from flock_spark.streaming.source import bounded_stream


@register(
    "streaming_elementwise_filter",
    oracle="""
    SELECT event_id, user_id, value * 0.908 AS price
    FROM events
    WHERE event_id % 7 = 0
    """,
    tags=("streaming",),
    doc="Element-wise streaming query (stateless map/filter per micro-batch — "
    "reference elementwise.rs:30-186): projection + filter over a file "
    "stream, drained append-mode.",
)
def streaming_elementwise_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = bounded_stream(spark, sf_dir, "events")
    out = s.filter(F.col("event_id") % 7 == 0).select(
        "event_id", "user_id", (F.col("value") * 0.908).alias("price")
    )
    return run_to_memory(out, output_mode="append")


@register(
    "streaming_tumbling_agg",
    oracle=f"""
    SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS w_start, event_type,
           count(*) AS cnt, {fsum('value')} AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
    tags=("streaming", "window_time"),
    doc="Tumbling-window streaming aggregate with a watermark (reference "
    "tumbling.rs; watermark is the designed-in late-data policy the "
    "reference lacks — SURVEY §2.9). Complete-mode drain of a bounded "
    "stream == batch answer.",
)
def streaming_tumbling_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = bounded_stream(spark, sf_dir, "events")
    agg = (
        s.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("cnt"), F.expr(fsum("value")).alias("sum_value"))
        .select(F.col("w.start").alias("w_start"), "event_type", "cnt", "sum_value")
    )
    return run_to_memory(agg, output_mode="complete")


@register(
    "streaming_proctime_agg",
    oracle="""
    SELECT user_id, count(*) AS cnt
    FROM events
    GROUP BY user_id
    """,
    tags=("streaming",),
    doc="Processing-time query (nexmark q12): a p_time = current_timestamp() "
    "column is injected exactly as the reference's global window driver does "
    "(global.rs:226-232, actor.rs:650-660); the emitted columns are the "
    "deterministic ones (per-key counts), since wall-clock isn't replayable.",
)
def streaming_proctime_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = bounded_stream(spark, sf_dir, "events").withColumn("p_time", F.current_timestamp())
    agg = s.groupBy("user_id").agg(F.count("*").alias("cnt"))
    return run_to_memory(agg, output_mode="complete")


@register(
    "streaming_session_foreachbatch",
    oracle="""
    WITH gaps AS (
      SELECT ts,
             CASE WHEN ts - lag(ts) OVER (ORDER BY ts) > INTERVAL '10 minutes'
                  THEN 1 ELSE 0 END AS brk
      FROM events
    ), sessions AS (
      SELECT ts, sum(brk) OVER (ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sess_id
      FROM gaps
    )
    SELECT min(ts) AS session_start, max(ts) + INTERVAL '10 minutes' AS session_end,
           count(*) AS cnt
    FROM sessions
    GROUP BY sess_id
    """,
    tags=("streaming", "session"),
    doc="Sessionization via foreachBatch full recompute — the reference's own "
    "model (windows re-executed per delivery; session.rs + local replay "
    "q5.rs:76-130). Batches accumulate into a staging view; the final "
    "session_window aggregation runs over everything seen.",
)
def streaming_session_foreachbatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    # micro-batches stage to parquet executor-side (never the driver); the
    # final session aggregation is a distributed scan over the staged table
    s = bounded_stream(spark, sf_dir, "events").select("ts")
    all_rows = stage_batches(s)
    return (
        all_rows.groupBy(F.session_window("ts", "10 minutes").alias("w"))
        .agg(F.count("*").alias("cnt"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "cnt",
        )
    )


@register(
    "streaming_q5_foreachbatch",
    oracle="""
    SELECT user_id, num
    FROM (SELECT user_id, count(*) AS num FROM events GROUP BY user_id) ub
    JOIN (SELECT max(num) AS maxn
          FROM (SELECT user_id, count(*) AS num FROM events GROUP BY user_id) x) mx
      ON num = maxn
    """,
    tags=("streaming", "join"),
    doc="nexmark q5 (hot items) as a streaming query: an aggregate self-join "
    "is not expressible as one incremental streaming query, so it re-runs "
    "per micro-batch over accumulated state via foreachBatch — exactly the "
    "reference's per-window recompute (q5.sql + hopping replay q5.rs:76-130).",
)
def streaming_q5_foreachbatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    # per-batch state lives in staged parquet, not a driver dict; the
    # aggregate self-join over accumulated state runs fully in Spark
    s = bounded_stream(spark, sf_dir, "events").select("user_id")
    out = stage_batches(s).groupBy("user_id").agg(F.count("*").alias("num"))
    mx = out.agg(F.max("num").alias("maxn"))
    return out.join(F.broadcast(mx), out.num == mx.maxn).select("user_id", "num")


@register(
    "streaming_stateful_running_count",
    oracle="""
    SELECT user_id, count(*) AS cnt
    FROM events
    GROUP BY user_id
    """,
    tags=("streaming", "stateful"),
    doc="Custom stateful streaming operator via applyInPandasWithState: "
    "per-key running counts held in the state store across micro-batches — "
    "the Spark analog of the reference's state backends + arena "
    "(flock/src/state/mod.rs:63-121, runtime/arena/mod.rs). Update-mode "
    "emissions land in the sink per batch; the final value per key equals "
    "the batch count (oracle).",
)
def streaming_stateful_running_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    s = bounded_stream(spark, sf_dir, "events").select("user_id")

    def running_count(key, pdf_iter, state):
        cnt = state.get[0] if state.exists else 0
        for pdf in pdf_iter:
            cnt += len(pdf)
        state.update((cnt,))
        yield pd.DataFrame({"user_id": [key[0]], "cnt": [cnt]})

    out = s.groupBy("user_id").applyInPandasWithState(
        running_count,
        outputStructType="user_id long, cnt long",
        stateStructType="cnt long",
        outputMode="update",
        timeoutConf="NoTimeout",
    )
    # 150 distinct keys: 8 state-store instances, not the drain default
    drained = run_to_memory(out, output_mode="update", cap=8)
    # last emission per key = total; emissions are monotone so max == last
    return drained.groupBy("user_id").agg(F.max("cnt").alias("cnt"))


@register(
    "streaming_hopping_agg",
    oracle="""
    SELECT wstart, count(*) AS cnt
    FROM (SELECT date_trunc('hour', ts) AS wstart FROM events
          UNION ALL
          SELECT date_trunc('hour', ts) - INTERVAL 1 HOUR AS wstart FROM events) w
    GROUP BY wstart
    """,
    tags=("streaming", "window_time"),
    doc="Hopping (sliding) window streaming aggregate — reference "
    "hopping.rs:31-124 (size 2, hop 1, in hours here): each event lands in "
    "two overlapping windows. The oracle materializes the overlap as a "
    "UNION ALL of the two window starts, which is exactly Spark's hopping "
    "window expansion (Expand node) — window(ts, '2 hours', '1 hour').",
)
def streaming_hopping_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = bounded_stream(spark, sf_dir, "events")
    agg = (
        s.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "2 hours", "1 hour").alias("w"))
        .agg(F.count("*").alias("cnt"))
        .select(F.col("w.start").alias("wstart"), "cnt")
    )
    return run_to_memory(agg, output_mode="complete")


@register(
    "streaming_stream_stream_join",
    oracle="""
    SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id
    FROM events c JOIN events p
      ON c.user_id = p.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND p.ts BETWEEN c.ts AND c.ts + INTERVAL 10 MINUTE
    """,
    tags=("streaming", "join"),
    doc="Stateful stream-stream inner join with watermarks on both sides and "
    "an event-time range bound — the capability the reference approximates "
    "with per-window full recomputes (SURVEY §2.3: only stream-static and "
    "per-window self-joins exist there). Funnel shape: each click joins the "
    "same user's purchases within the next 10 minutes (non-empty on this "
    "corpus — an earlier orders-side variant was provably vacuous, the "
    "tables' date ranges never overlap). The time bound lets the state "
    "store evict rows outside the correlation window; a bounded drain "
    "equals the batch self-join exactly. State keys by user_id, so the "
    "drain caps shuffle partitions at 8 (150 distinct users; state-store "
    "instance count = partitions).",
)
def streaming_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    clicks = (
        bounded_stream(spark, sf_dir, "events")
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            "user_id",
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        bounded_stream(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    j = clicks.join(
        purchases,
        F.expr(
            "user_id = p_user AND "
            "p_ts BETWEEN click_ts AND click_ts + INTERVAL 10 MINUTE"
        ),
    )
    out = j.select("click_id", "purchase_id", "user_id")
    return run_to_memory(out, output_mode="append", cap=8)


@register(
    "streaming_stream_stream_left_outer",
    oracle="""
    WITH c AS (SELECT event_id AS click_id, user_id, ts AS click_ts
               FROM events WHERE event_type = 'click'),
    p AS (SELECT event_id AS purchase_id, user_id AS p_user, ts AS p_ts
          FROM events WHERE event_type = 'purchase'),
    wm AS (SELECT least((SELECT max(click_ts) FROM c),
                        (SELECT max(p_ts) FROM p))
                  - INTERVAL 1 HOUR AS w),
    j AS (SELECT c.click_id, p.purchase_id, c.user_id, c.click_ts
          FROM c LEFT JOIN p
            ON c.user_id = p.p_user
           AND p.p_ts BETWEEN c.click_ts
                          AND c.click_ts + INTERVAL 10 MINUTE)
    SELECT click_id, purchase_id, user_id FROM j
    WHERE purchase_id IS NOT NULL
       OR click_ts + INTERVAL 10 MINUTE < (SELECT w FROM wm)
    """,
    tags=("streaming", "join"),
    doc="Stateful stream-stream LEFT OUTER join — the outer twin of "
    "streaming_stream_stream_join, a capability the reference cannot "
    "express at all (its per-window recompute model has no cross-window "
    "null-emission). Unmatched clicks emit (click_id, NULL) only once the "
    "watermark proves no matching purchase can still arrive; Spark's "
    "global watermark is min over both inputs of (max event time - delay), "
    "applied by the final no-data micro-batch of the AvailableNow drain "
    "(spark.sql.streaming.noDataMicroBatches, default on). The oracle "
    "replicates exactly that closure rule: matched rows, plus unmatched "
    "clicks whose 10-minute correlation window closed strictly below "
    "LEAST(max click ts, max purchase ts) - 1 hour — so the hash certifies "
    "both the join values AND the engine's outer-emission watermark "
    "semantics (verified at sf0.001/0.01/0.1; the not-yet-closable tail "
    "is exactly the clicks a live deployment would still hold in state).",
)
def streaming_stream_stream_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    clicks = (
        bounded_stream(spark, sf_dir, "events")
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            "user_id",
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        bounded_stream(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    j = clicks.join(
        purchases,
        F.expr(
            "user_id = p_user AND "
            "p_ts BETWEEN click_ts AND click_ts + INTERVAL 10 MINUTE"
        ),
        "leftOuter",
    )
    out = j.select("click_id", "purchase_id", "user_id")
    return run_to_memory(out, output_mode="append", cap=8)


@register(
    "json_wire_decode",
    oracle="""
    SELECT event_type, count(*) AS cnt, CAST(sum(user_id) AS BIGINT) AS sum_users
    FROM events
    GROUP BY event_type
    """,
    tags=("streaming", "source", "json"),
    doc="JSON wire-format round trip: rows serialize to JSON strings "
    "(to_json) and parse back through from_json with an explicit schema "
    "before aggregating — the reference's payload decode path for "
    "Kinesis/Kafka JSON records (flock/src/datasource/kinesis.rs:48-91, "
    "transmute.rs arrow::json). Lossless round trip ⇒ same aggregate as "
    "the parquet oracle; all JVM-side (no Python).",
)
def json_wire_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = bounded_stream(spark, sf_dir, "events").select("event_id", "user_id", "event_type")
    wire = e.select(F.to_json(F.struct("event_id", "user_id", "event_type")).alias("payload"))
    decoded = wire.select(
        F.from_json(
            "payload", "event_id bigint, user_id bigint, event_type string"
        ).alias("r")
    ).select("r.*")
    agg = decoded.groupBy("event_type").agg(
        F.count("*").alias("cnt"), F.sum("user_id").alias("sum_users")
    )
    return run_to_memory(agg, output_mode="complete")


def decode_kafka_envelope(records: DataFrame) -> DataFrame:
    """Everything downstream of the source: envelope → typed payload → agg.

    Shared VERBATIM by the file-staged wire replay (the registry entry) and
    the env-gated real-broker path (kafka_envelope_stream below) — the
    'config-only swap' claim is this function existing exactly once."""
    decoded = records.select(
        "partition",
        F.from_json(
            "value", "event_id bigint, user_id bigint, event_type string, value double"
        ).alias("r"),
    ).select("partition", "r.*")
    return decoded.groupBy("event_type").agg(
        F.count("*").alias("cnt"),
        F.sum("user_id").alias("sum_users"),
        F.max("partition").alias("max_partition"),
    )


def kafka_envelope_stream(spark: SparkSession, topic: str) -> DataFrame:
    """readStream.format('kafka') → the same envelope columns the file replay
    stages (topic, partition, offset, key, value as strings/longs). Requires
    a real broker (KAFKA_BOOTSTRAP) + the spark-sql-kafka connector on the
    session classpath; exercised by the env-gated broker smoke test in
    tests/test_streaming.py, skipped cleanly where no broker exists.
    Reference parity: flock/src/datasource/kafka.rs:54-118 consumes the
    identical record shape."""
    import os

    bootstrap = os.environ["KAFKA_BOOTSTRAP"]
    raw = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap)
        .option("subscribe", topic)
        .option("startingOffsets", "earliest")
        .load()
    )
    return raw.select(
        "topic",
        F.col("partition").cast("bigint").alias("partition"),
        F.col("offset").cast("bigint").alias("offset"),
        F.col("key").cast("string").alias("key"),
        F.col("value").cast("string").alias("value"),
    )


@register(
    "streaming_kafka_wire_decode",
    oracle="""
    SELECT event_type, count(*) AS cnt, CAST(sum(user_id) AS BIGINT) AS sum_users,
           max(partition) AS max_partition
    FROM (SELECT event_type, user_id, event_id % 8 AS partition FROM events) t
    GROUP BY event_type
    """,
    tags=("streaming", "source", "json", "kafka"),
    doc="Message-bus wire path, exercised end-to-end: events are staged once "
    "as raw JSON-lines files in the Kafka record envelope (topic, partition, "
    "offset, key, value-as-JSON-string — the shape "
    "flock/src/datasource/kafka.rs:54-118 consumes), then read back with "
    "readStream.schema(...).json(...) and decoded via from_json with an "
    "explicit payload schema before aggregating. Against a real broker only "
    "the reader line changes (readStream.format('kafka') yields the same "
    "envelope columns); every transformation from the envelope down is "
    "identical — this closes the 'config-only swap' claim with an executed "
    "wire decode.",
)
def streaming_kafka_wire_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flock_spark.catalog import tbl
    from flock_spark.staging import stage_once

    def write_wire(tmp: str) -> None:
        e = tbl(spark, sf_dir, "events")
        wire = e.select(
            F.lit("events").alias("topic"),
            (F.col("event_id") % 8).alias("partition"),
            F.col("event_id").alias("offset"),
            F.col("event_id").cast("string").alias("key"),
            F.to_json(F.struct("event_id", "user_id", "event_type", "value")).alias("value"),
        )
        wire.repartition(4).write.mode("overwrite").json(tmp)

    path = stage_once(f"kafka_wire_{sf_dir}", "v2-envelope-mod8", write_wire)
    records = (
        spark.readStream.schema(
            "topic string, partition bigint, offset bigint, key string, value string"
        )
        .option("maxFilesPerTrigger", 2)
        .json(path)
    )
    return run_to_memory(decode_kafka_envelope(records), output_mode="complete")


@register(
    "queue_sink_exactly_once",
    oracle="""
    SELECT event_type, count(*) AS cnt, CAST(sum(event_id) AS BIGINT) AS sum_ids
    FROM events
    GROUP BY event_type
    """,
    tags=("streaming", "sink", "queue"),
    doc="Queue/KV sink path (reference DynamoDB/SQS sinks, "
    "flock/src/datasink/mod.rs:137-160) driven through foreach_batch_sink: "
    "each micro-batch is 'enqueued' by writing to an epoch-keyed location, "
    "and the first epoch is deliberately delivered TWICE to model "
    "foreachBatch's at-least-once contract — the epoch-keyed overwrite makes "
    "the redelivery a no-op, so the drained queue contents still equal the "
    "batch oracle exactly (exactly-once effect from at-least-once delivery).",
)
def queue_sink_exactly_once(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from flock_spark.sinks import foreach_batch_sink

    from flock_spark.staging import ephemeral_dir

    s = bounded_stream(spark, sf_dir, "events").select("event_id", "event_type")
    qdir = ephemeral_dir("flock_spark_queue_")
    redelivered: set[int] = set()

    def enqueue(df: DataFrame, epoch: int) -> None:
        target = os.path.join(qdir, f"epoch={epoch}")
        df.write.mode("overwrite").parquet(target)
        if epoch == 0 and epoch not in redelivered:
            redelivered.add(epoch)
            df.write.mode("overwrite").parquet(target)  # simulated redelivery

    import shutil

    from flock_spark.streaming.runner import _bounded_drain

    ckpt = tempfile.mkdtemp(prefix="flock_spark_ckpt_")
    with _bounded_drain(spark):
        q = foreach_batch_sink(s, enqueue, checkpoint=ckpt, available_now=True)
        try:
            if not q.awaitTermination(300):
                raise TimeoutError("queue sink drain did not finish")
        finally:
            if q.isActive:
                q.stop()
            shutil.rmtree(ckpt, ignore_errors=True)
    drained = spark.read.option("basePath", qdir).parquet(qdir)
    return drained.groupBy("event_type").agg(
        F.count("*").alias("cnt"), F.sum("event_id").alias("sum_ids")
    )


@register(
    "streaming_dedup_ingest",
    oracle="""
    SELECT DISTINCT md5(text) AS fp FROM documents
    """,
    tags=("streaming", "dedup"),
    doc="Exact dedup at ingest: the document stream is fingerprinted "
    "(md5(text) — 32-byte state key, never the body) and dropDuplicates "
    "emits each fingerprint's first arrival, with the state store holding "
    "the seen-set across micro-batches. Only the key is emitted, so the "
    "result is deterministic under any partitioning/arrival order. This is "
    "the streaming twin of dedup_exact — the ingest-time filter a training "
    "pipeline runs before documents ever land. In production the seen-set "
    "is bounded with dropDuplicatesWithinWatermark on an event-time column; "
    "the driver's documents table has none, so the unbounded variant runs "
    "here.",
)
def streaming_dedup_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = bounded_stream(spark, sf_dir, "documents").select(
        F.md5(F.col("text").cast("binary")).alias("fp")
    )
    return run_to_memory(s.dropDuplicates(["fp"]), output_mode="append")


@register(
    "streaming_dedup_within_watermark",
    oracle="""
    SELECT event_id, user_id FROM events
    """,
    tags=("streaming", "dedup", "watermark"),
    doc="Watermark-bounded streaming dedup: the event stream unioned with "
    "itself (every row delivered twice — modeling at-least-once transport "
    "duplicates) is restored to exactly-once by "
    "dropDuplicatesWithinWatermark on the event id. Unlike "
    "streaming_dedup_ingest's unbounded seen-set, the watermark EVICTS "
    "dedup state older than the delay — the production shape for duplicate "
    "transport suppression, where duplicates arrive close together and "
    "state must not grow with the stream.",
)
def streaming_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = bounded_stream(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    doubled = s.union(s).withWatermark("ts", "1 hour")
    out = doubled.dropDuplicatesWithinWatermark(["event_id"]).select("event_id", "user_id")
    return run_to_memory(out, output_mode="append")


@register(
    "streaming_session_native",
    oracle="""
    WITH gaps AS (
      SELECT user_id, ts,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       > INTERVAL '6 hours'
                  THEN 1 ELSE 0 END AS brk
      FROM events
    ), sessions AS (
      SELECT user_id, ts,
             sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                            ROWS UNBOUNDED PRECEDING) AS sess_id
      FROM gaps
    )
    SELECT user_id, min(ts) AS session_start, count(*) AS cnt
    FROM sessions
    GROUP BY user_id, sess_id
    """,
    tags=("streaming", "session"),
    doc="Native streaming sessionization: session_window inside a streaming "
    "aggregation, with the state store merging sessions across micro-batches "
    "(Spark >= 3.2). This is the direct replacement for the reference's "
    "session driver + HashDiff per-key routing (session.rs:187-321): the "
    "shuffle co-locates each user's fragments, the state store replaces the "
    "arena. Complements streaming_session_foreachbatch, which reproduces "
    "the reference's full-recompute model instead.",
)
def streaming_session_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = bounded_stream(spark, sf_dir, "events")
    agg = (
        s.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "6 hours").alias("w"), "user_id")
        .agg(F.count("*").alias("cnt"))
        .select("user_id", F.col("w.start").alias("session_start"), "cnt")
    )
    return run_to_memory(agg, output_mode="complete")


@register(
    "streaming_q13_side_input",
    oracle="""
    SELECT side_value, count(*) AS cnt
    FROM events
    JOIN (SELECT id AS key, id * 10 AS side_value FROM range(25) t(id)) s
      ON events.user_id % 25 = s.key
    GROUP BY side_value
    """,
    tags=("streaming", "join", "nexmark"),
    doc="NEXMark q13 in its native mode: a stream enriched by the bounded "
    "CSV side input via stream-static broadcast join (reference loads the "
    "CSV inside each worker per invocation, actor.rs:575-629; Spark "
    "re-resolves the static side per micro-batch, giving the same refresh "
    "semantics with no shuffle of the stream).",
)
def streaming_q13_side_input(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flock_spark.sources.side_input import side_input

    s = bounded_stream(spark, sf_dir, "events")
    dim = side_input(spark).select("key", F.col("value").alias("side_value"))
    agg = (
        s.join(F.broadcast(dim), s.user_id % 25 == dim.key)
        .groupBy("side_value")
        .agg(F.count("*").alias("cnt"))
    )
    return run_to_memory(agg, output_mode="complete")


@register(
    "json_wire_corrupt_tolerant",
    oracle="""
    SELECT event_type, count(*) AS cnt
    FROM events WHERE event_id % 97 <> 0
    GROUP BY event_type
    UNION ALL
    SELECT '_CORRUPT_' AS event_type, count(*) AS cnt
    FROM events WHERE event_id % 97 = 0
    """,
    tags=("source", "json", "robustness"),
    doc="Malformed-record tolerance on the JSON wire path: the staged "
    "JSON-lines feed deterministically truncates every 97th record "
    "(event_id % 97 = 0 — always unparseable, the closing brace is cut), "
    "and the reader decodes with from_json's PERMISSIVE behavior: corrupt "
    "payloads parse to NULL and are counted under '_CORRUPT_' instead of "
    "failing the job. At 100 TB a single bad record must never kill the "
    "pipeline — quarantine-and-continue is the only viable posture. The "
    "oracle replays the corruption rule over the clean table, so the "
    "quarantine count itself is value-verified.",
)
def json_wire_corrupt_tolerant(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flock_spark.catalog import tbl
    from flock_spark.staging import stage_once

    def write_feed(tmp: str) -> None:
        e = tbl(spark, sf_dir, "events")
        payload = F.to_json(F.struct("event_id", "user_id", "event_type"))
        # truncating to 10 chars cuts inside the first field name — never
        # parseable JSON, so the corruption rule is airtight
        line = F.when(
            F.col("event_id") % 97 == 0, F.substring(payload, 1, 10)
        ).otherwise(payload)
        e.select(line.alias("value")).repartition(4).write.mode("overwrite").text(tmp)

    path = stage_once(f"json_corrupt_{sf_dir}", "v1-mod97-trunc10", write_feed)
    lines = spark.read.text(path)
    parsed = lines.select(
        F.from_json(
            "value", "event_id bigint, user_id bigint, event_type string"
        ).alias("r")
    )
    good = (
        parsed.filter(F.col("r").isNotNull() & F.col("r.event_type").isNotNull())
        .groupBy(F.col("r.event_type").alias("event_type"))
        .agg(F.count("*").alias("cnt"))
    )
    bad = parsed.filter(
        F.col("r").isNull() | F.col("r.event_type").isNull()
    ).agg(F.count("*").alias("cnt")).select(
        F.lit("_CORRUPT_").alias("event_type"), "cnt"
    )
    return good.unionAll(bad)


@register(
    "streaming_cdc_upsert_foreachbatch",
    oracle="""
    SELECT user_id, event_type, ts AS last_ts, value AS last_value, n_versions
    FROM (
      SELECT user_id, event_type, ts, value,
             row_number() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts DESC, event_id DESC) AS rn,
             count(*) OVER (PARTITION BY user_id, event_type) AS n_versions
      FROM events WHERE user_id < 50)
    WHERE rn = 1
    """,
    tags=("streaming", "cdc", "incremental"),
    doc="Streaming MERGE/upsert: the CDC change log (events keyed by "
    "(user_id, event_type), user_id < 50) arrives as four micro-batches "
    "(staged chunk files range-split by event_id, so versions of one key "
    "cross batch boundaries), and foreachBatch maintains a latest-row-wins "
    "snapshot — per batch: compact the batch to its newest version per key, "
    "then merge with the previous snapshot keeping max(ts, event_id) and "
    "summing version counts. The merge is associative and commutative, so "
    "the result is independent of how the log is batched — the final "
    "snapshot equals the batch cdc_upsert_latest oracle exactly. Snapshots "
    "are epoch-versioned parquet (write-new, swap-pointer: each epoch "
    "remains readable while its successor builds — the poor man's ACID "
    "swap); on a cluster this handler body is a Delta/Iceberg MERGE INTO "
    "and only the delta shuffles, as incremental.py's module doc lays out.",
)
def streaming_cdc_upsert_foreachbatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from flock_spark.catalog import tbl
    from flock_spark.staging import ephemeral_dir, stage_once
    from flock_spark.streaming.runner import run_foreach_batch

    def write_chunks(tmp: str) -> None:
        e = tbl(spark, sf_dir, "events").filter(F.col("user_id") < 50)
        # range partitioning on event_id gives 4 contiguous, NON-EMPTY chunk
        # files (hash repartition can leave a partition empty → fewer files →
        # fewer micro-batches; the multi-batch shape is pinned in
        # tests/test_streaming.py). A key's versions have event_ids spread
        # across the whole range, so they still cross batch boundaries.
        e.repartitionByRange(4, F.col("event_id")).write.mode("overwrite").parquet(tmp)

    path = stage_once(f"cdc_chunks_{sf_dir}", "v2-u50-4range", write_chunks)

    stream = (
        spark.readStream.schema(tbl(spark, sf_dir, "events").schema)
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "*.parquet")
        .parquet(path)
    )

    snapdir = ephemeral_dir("flock_spark_cdc_snap_")
    state: dict[str, str] = {}

    def latest_per_key(df: DataFrame) -> DataFrame:
        return df.groupBy("user_id", "event_type").agg(
            F.max(F.struct("ts", "event_id", "value")).alias("m"),
            F.count("*").alias("n_versions"),
        )

    def upsert(df: DataFrame, epoch: int) -> None:
        merged = latest_per_key(df)
        prev = state.get("path")
        if prev is not None:
            prev_df = df.sparkSession.read.parquet(prev)
            merged = (
                merged.unionByName(prev_df)
                .groupBy("user_id", "event_type")
                .agg(F.max("m").alias("m"), F.sum("n_versions").alias("n_versions"))
            )
        target = os.path.join(snapdir, f"v{epoch}")
        merged.write.mode("overwrite").parquet(target)
        state["path"] = target

    run_foreach_batch(stream, upsert)
    snap = spark.read.parquet(state["path"])
    return snap.select(
        "user_id",
        "event_type",
        F.col("m.ts").alias("last_ts"),
        F.col("m.value").alias("last_value"),
        "n_versions",
    )


@register(
    "streaming_scd2_enrich",
    oracle="""
    WITH dim AS (
      SELECT user_id, event_type AS state, ts AS valid_from,
             lead(ts) OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS valid_to
      FROM events
      WHERE event_type IN ('signup', 'purchase')
    ), facts AS (
      SELECT user_id, ts FROM events WHERE event_type = 'click'
    )
    SELECT d.state, count(*) AS n_clicks, CAST(sum(f.user_id) AS BIGINT) AS sum_uid
    FROM facts f
    JOIN dim d ON f.user_id = d.user_id
             AND f.ts >= d.valid_from
             AND (d.valid_to IS NULL OR f.ts < d.valid_to)
    GROUP BY d.state
    """,
    tags=("streaming", "join", "scd", "incremental"),
    doc="Event-time-correct stream enrichment against an SCD2 dimension: "
    "the click stream joins the STATIC validity-interval dimension (equi on "
    "the key + range residual on [valid_from, valid_to) — the stream-static "
    "join Spark runs per micro-batch with no state), so each event is "
    "enriched with the dimension version in force AT ITS EVENT TIME, not "
    "at processing time — the correctness property naive stream-dim lookup "
    "joins (always-latest) get wrong. Batch twin: scd2_validity_join "
    "(n_users dropped here — distinct aggregation isn't incrementally "
    "computable in a streaming query; the batch twin carries it). At scale "
    "the dimension broadcasts (or bucket-joins when giant) and the stream "
    "side never accumulates state for this join.",
)
def streaming_scd2_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from flock_spark.catalog import tbl

    e = tbl(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    dim = (
        e.filter(F.col("event_type").isin("signup", "purchase"))
        .select(
            "user_id",
            F.col("event_type").alias("state"),
            F.col("ts").alias("valid_from"),
            F.lead("ts").over(w).alias("valid_to"),
        )
    )
    s = (
        bounded_stream(spark, sf_dir, "events")
        .filter(F.col("event_type") == "click")
        .select("user_id", "ts")
    )
    j = s.alias("f").join(
        dim.alias("d"),
        (F.col("f.user_id") == F.col("d.user_id"))
        & (F.col("f.ts") >= F.col("d.valid_from"))
        & (F.col("d.valid_to").isNull() | (F.col("f.ts") < F.col("d.valid_to"))),
    )
    agg = j.groupBy("state").agg(
        F.count("*").alias("n_clicks"), F.sum(F.col("f.user_id")).alias("sum_uid")
    )
    return run_to_memory(agg, output_mode="complete")


@register(
    "streaming_pattern_3step",
    oracle=f"""
    WITH seq AS (
      SELECT user_id, ts, event_type,
             lag(event_type) OVER w AS prev_type,
             lag(ts) OVER w AS prev_ts,
             lead(event_type) OVER w AS next_type,
             lead(ts) OVER w AS next_ts
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
    SELECT user_id, prev_ts AS t_view, ts AS t_click, next_ts AS t_purchase
    FROM seq
    WHERE event_type = 'click' AND prev_type = 'view' AND next_type = 'purchase'
      AND ts <= prev_ts + INTERVAL 86400 SECOND
      AND next_ts <= ts + INTERVAL 86400 SECOND
    """,
    tags=("streaming", "window", "pattern"),
    doc="Streaming sequence-pattern detection over the event stream: "
    "lag/lead pattern windows are not expressible as one incremental "
    "streaming query (a window over a stream needs the NEXT event, which "
    "a watermark can't bound per key without custom state), so micro-"
    "batches stage executor-side and the pattern window re-runs over "
    "accumulated state — the reference's own per-delivery replay model "
    "(q5.rs:76-130), same discipline as streaming_q5_foreachbatch. "
    "Batching-independent: the final answer equals the batch twin "
    "events_pattern_3step (shared oracle). The production-scale "
    "alternative is applyInPandasWithState keeping the last two events "
    "per key, which trades the replay for per-key state and requires "
    "per-key event-time ordering at ingest.",
)
def streaming_pattern_3step(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    s = bounded_stream(spark, sf_dir, "events").select(
        "user_id", "ts", "event_type", "event_id"
    )
    all_rows = stage_batches(s)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = all_rows.select(
        "user_id",
        "ts",
        "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
        F.lag("ts").over(w).alias("prev_ts"),
        F.lead("event_type").over(w).alias("next_type"),
        F.lead("ts").over(w).alias("next_ts"),
    )
    gap = F.expr("INTERVAL 86400 SECOND")
    return (
        seq.filter(
            (F.col("event_type") == "click")
            & (F.col("prev_type") == "view")
            & (F.col("next_type") == "purchase")
            & (F.col("ts") <= F.col("prev_ts") + gap)
            & (F.col("next_ts") <= F.col("ts") + gap)
        )
        .select(
            "user_id",
            F.col("prev_ts").alias("t_view"),
            F.col("ts").alias("t_click"),
            F.col("next_ts").alias("t_purchase"),
        )
    )


@register(
    "streaming_ohlc_daily",
    oracle="""
    WITH ordered AS (
      SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             CAST(round(value * 100) AS BIGINT) AS cents,
             row_number() OVER (PARTITION BY user_id, date_trunc('day', ts)
                                ORDER BY ts, event_id) AS rn_a,
             row_number() OVER (PARTITION BY user_id, date_trunc('day', ts)
                                ORDER BY ts DESC, event_id DESC) AS rn_d
      FROM events WHERE user_id < 25)
    SELECT user_id, day,
           CAST(max(CASE WHEN rn_a = 1 THEN cents END) AS BIGINT) AS open_cents,
           max(cents) AS high_cents,
           min(cents) AS low_cents,
           CAST(max(CASE WHEN rn_d = 1 THEN cents END) AS BIGINT) AS close_cents,
           count(*) AS n_ticks
    FROM ordered
    GROUP BY user_id, day
    """,
    tags=("streaming", "window_time", "timeseries"),
    doc="Streaming OHLC bars: open/close need the first/last tick of each "
    "(key, day) — positional state a watermarked incremental aggregate "
    "can't express without custom state, so micro-batches stage "
    "executor-side and the bar aggregation replays over accumulated "
    "ticks (the reference's per-delivery model), equal to the batch twin "
    "timeseries_ohlc_daily (shared oracle). The incremental-native "
    "alternative keeps (first, last, min, max, count) per key-day in the "
    "state store — mergeable because OHLC endpoints are min_by/max_by "
    "over (ts, event_id), exactly the tie policy the batch lowering pins.",
)
def streaming_ohlc_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    s = bounded_stream(spark, sf_dir, "events").filter(F.col("user_id") < 25).select(
        "user_id", "ts", "value", "event_id"
    )
    all_rows = stage_batches(s)
    day = F.date_trunc("day", F.col("ts")).alias("day")
    base = all_rows.select(
        "user_id", day, F.round(F.col("value") * 100).cast("long").alias("cents"),
        "ts", "event_id",
    )
    wa = W.partitionBy("user_id", "day").orderBy("ts", "event_id")
    wd = W.partitionBy("user_id", "day").orderBy(F.desc("ts"), F.desc("event_id"))
    ordered = base.select(
        "user_id", "day", "cents",
        F.row_number().over(wa).alias("rn_a"),
        F.row_number().over(wd).alias("rn_d"),
    )
    return ordered.groupBy("user_id", "day").agg(
        F.max(F.when(F.col("rn_a") == 1, F.col("cents"))).cast("long").alias("open_cents"),
        F.max("cents").alias("high_cents"),
        F.min("cents").alias("low_cents"),
        F.max(F.when(F.col("rn_d") == 1, F.col("cents"))).cast("long").alias("close_cents"),
        F.count("*").alias("n_ticks"),
    )


from flock_spark.operators.sketches import DUCK_D as _DUCK_D  # noqa: E402
from flock_spark.queries.windows_time import _stagger_body  # noqa: E402


@register(
    "streaming_stagger_window",
    # shares the batch twin's oracle construction (identical result set)
    oracle=_stagger_body(_DUCK_D, "CAST(floor(epoch(ts)) AS BIGINT)"),
    tags=("streaming", "window_time"),
    doc="Streaming twin of stagger_window_agg: the staggered window start "
    "is a pure per-row projection (integer epoch arithmetic + portable "
    "md5 offset), so unlike lag/lead patterns it streams NATIVELY — the "
    "computed w_start_s is just a group key, aggregated incrementally "
    "with a watermark and drained in complete mode; no foreachBatch "
    "replay needed. This is the stagger window's operational payoff: "
    "per-key grids spread state-store flushes across the hour while the "
    "streaming plan stays a plain keyed aggregate. Equal to the batch "
    "twin (shared oracle).",
)
def streaming_stagger_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flock_spark.operators.sketches import SPARK_D
    from flock_spark.queries.windows_time import STAGGER_SIZE_S

    d = SPARK_D
    off = f"({d.md5l(f'CAST(user_id AS {d.str_t})')} % {STAGGER_SIZE_S})"
    ws = (
        f"({d.idiv(f'(unix_timestamp(ts) - {off})', str(STAGGER_SIZE_S))}"
        f" * {STAGGER_SIZE_S} + {off})"
    )
    s = bounded_stream(spark, sf_dir, "events").filter(F.col("user_id") < 25)
    base = s.select(
        "user_id",
        "ts",
        F.expr(off).cast("long").alias("off_s"),
        F.expr(ws).cast("long").alias("w_start_s"),
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
    )
    agg = (
        base.withWatermark("ts", "2 hours")
        .groupBy("user_id", "off_s", "w_start_s")
        .agg(F.count("*").alias("cnt"), F.sum("cents").cast("long").alias("sum_cents"))
    )
    return run_to_memory(agg, output_mode="complete")


@register(
    "streaming_pattern_kleene",
    oracle=None,  # assigned below: shares the batch twin's oracle verbatim
    tags=("streaming", "window", "pattern"),
    doc="Streaming Kleene-star pattern matching (`view click* purchase`): "
    "like streaming_pattern_3step, an unbounded-lookback pattern window "
    "cannot run as one incremental query (the run a purchase closes may "
    "span arbitrarily many micro-batches), so batches stage executor-"
    "side and the gaps-and-islands matcher (queries/advanced.kleene_match "
    "— the exact code path the batch entry certifies) re-runs over "
    "accumulated state per delivery. Batching-independent by "
    "construction: shared oracle with events_pattern_kleene. The "
    "production-scale alternative is applyInPandasWithState holding, "
    "per user, the open run head (view ts + click count + last ts) — "
    "O(1) state per key, emitting on purchase; the replay form is the "
    "one an exact-oracle can certify.",
)
def streaming_pattern_kleene(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flock_spark.queries.advanced import kleene_match

    s = bounded_stream(spark, sf_dir, "events").select(
        "user_id", "ts", "event_type", "event_id"
    )
    return kleene_match(stage_batches(s))


from flock_spark.registry import REGISTRY as _REGK  # noqa: E402

_REGK["streaming_pattern_kleene"].oracle = _REGK["events_pattern_kleene"].oracle


from flock_spark.queries.analytics import (  # noqa: E402
    ATTR_WINDOW_US,
    _CH_SPARK as _ATTR_CH_SPARK,
)
from flock_spark.registry import REGISTRY as _REG_ATTR  # noqa: E402


@register(
    "streaming_attribution_last_touch",
    # identical semantics to the batch window pass => shared oracle
    oracle=_REG_ATTR["events_attribution_touch_matrix"].oracle,
    tags=("streaming", "stateful", "events"),
    doc="Streaming twin of events_attribution_touch_matrix: per-user "
    "first/last-touch state (two packed BIGINTs) held in the state store "
    "via applyInPandasWithState; each purchase is attributed from the "
    "state AT ITS ARRIVAL, so the operator is single-pass over the "
    "stream — the production shape when the event log never lands as a "
    "batch table. Event-time correctness across micro-batches comes from "
    "time-ordered delivery: the log stages as three ts-range chunk files "
    "(sequential appends => strictly increasing mtimes => FileStreamSource "
    "replays them in event-time order; within a batch the handler sorts "
    "by (us, event_id), the same total order as the batch window). The "
    "drained per-purchase emissions fold to the identical attribution "
    "matrix — certified by the SAME oracle as the batch twin. State is "
    "O(2 int64) per user forever; at 100 TB the only knob is state-store "
    "partitioning (cap 8 here for 150 users).",
)
def streaming_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from flock_spark.catalog import tbl
    from flock_spark.staging import stage_once

    def write_chunks(tmp: str) -> None:
        e = tbl(spark, sf_dir, "events")
        prepped = e.select(
            "user_id",
            "event_id",
            "event_type",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
            F.round(F.col("value") * 100).cast("long").alias("cents"),
            F.when(
                F.col("event_type").isin("click", "view"),
                F.expr(_ATTR_CH_SPARK),
            ).alias("ch"),
        )
        # four sequential appends: ts-quartile slices land with strictly
        # increasing file mtimes, so the file stream replays them in
        # event-time order (cross-batch ordering is what state correctness
        # needs; within-batch order is re-established by the handler sort)
        bounds = [
            ("2024-01-01", "2024-01-11"),
            ("2024-01-11", "2024-01-21"),
            ("2024-01-21", "2024-02-01"),
        ]
        for lo, hi in bounds:
            prepped.filter(
                (F.col("us") >= F.unix_micros(F.lit(lo).cast("timestamp")))
                & (F.col("us") < F.unix_micros(F.lit(hi).cast("timestamp")))
            ).coalesce(1).write.mode("append").parquet(tmp)

    path = stage_once(f"attr_chunks_{sf_dir}", "v2-3slices", write_chunks)
    stream = (
        spark.readStream.schema(
            "user_id long, event_id long, event_type string, "
            "us long, cents long, ch long"
        )
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "*.parquet")
        .parquet(path)
    )

    def attribute(key, pdf_iter, state):
        if state.exists:
            last, first = state.get
        else:
            last, first = None, None
        rows = pd.concat(list(pdf_iter), ignore_index=True)
        rows = rows.sort_values(["us", "event_id"])
        out_first, out_last, out_cents = [], [], []
        for r in rows.itertuples(index=False):
            if r.event_type == "purchase":
                if last is not None and r.us - last // 8 <= ATTR_WINDOW_US:
                    out_first.append(first % 8)
                    out_last.append(last % 8)
                    out_cents.append(int(r.cents))
            elif pd.notna(r.ch):
                packed = int(r.us) * 8 + int(r.ch)
                mirrored = int(r.us) * 8 + (7 - int(r.ch))
                last = packed if last is None else max(last, packed)
                first = mirrored if first is None else min(first, mirrored)
        if last is not None:
            state.update((last, first))
        yield pd.DataFrame(
            {"first_ch_raw": out_first, "last_ch": out_last, "cents": out_cents}
        )

    emitted = stream.groupBy("user_id").applyInPandasWithState(
        attribute,
        outputStructType="first_ch_raw long, last_ch long, cents long",
        stateStructType="last_packed long, first_packed long",
        outputMode="append",
        timeoutConf="NoTimeout",
    )
    drained = run_to_memory(emitted, output_mode="append", cap=8)
    return drained.groupBy("first_ch_raw", "last_ch").agg(
        F.count("*").alias("n_conversions"),
        F.sum("cents").cast("long").alias("attributed_cents"),
    )


SESS_GAP_US = 600_000_000  # 10-minute session gap
SESS_DELAY_US = 3_600_000_000  # 1-hour watermark delay

_SESS_TIMEOUT_ORACLE = f"""
    WITH e AS (SELECT user_id, epoch_us(ts) AS us FROM events),
    g AS (
      SELECT user_id, us,
             CASE WHEN us - lag(us) OVER (PARTITION BY user_id ORDER BY us)
                       > {SESS_GAP_US} THEN 1 ELSE 0 END AS brk
      FROM e),
    s AS (
      SELECT user_id, us,
             sum(brk) OVER (PARTITION BY user_id ORDER BY us
                            ROWS UNBOUNDED PRECEDING) AS sid
      FROM g),
    sess AS (
      SELECT user_id, sid,
             min(us) AS session_start_us,
             max(us) AS session_end_us,
             count(*) AS n_events
      FROM s GROUP BY user_id, sid),
    wm AS (SELECT max(us) - {SESS_DELAY_US} AS w FROM e),
    last_sess AS (SELECT user_id, max(sid) AS max_sid FROM sess GROUP BY user_id)
    SELECT sess.user_id, session_start_us, session_end_us, n_events
    FROM sess
    JOIN last_sess ON sess.user_id = last_sess.user_id
    CROSS JOIN wm
    WHERE sid < max_sid OR session_end_us + {SESS_GAP_US} < wm.w
"""


@register(
    "streaming_session_state_timeout",
    oracle=_SESS_TIMEOUT_ORACLE,
    tags=("streaming", "stateful", "session"),
    doc="Sessionization driven by EVENT-TIME STATE TIMEOUTS — the one "
    "state-store mechanism the other stateful entries don't exercise: "
    "each user's open session sets setTimeoutTimestamp(last_event + gap); "
    "a session closes either IN-BAND (the next event exceeds the gap — "
    "emitted immediately, watermark-independent) or via hasTimedOut when "
    "the watermark passes its deadline (fired by the final no-data "
    "micro-batch for a bounded drain). The oracle replicates both paths "
    "exactly: every non-final session per user is in-band; the final one "
    "appears iff end + gap < max(ts) - delay — the same closure rule the "
    "left-outer join certified. Event-time order across micro-batches "
    "comes from ts-range staged chunks (as streaming_attribution_last_"
    "touch); in-batch order is the handler's sort. State is 3 int64s per "
    "user; timeouts make state eviction event-time-driven instead of "
    "traffic-driven — the mechanism that bounds state on a 100 TB stream "
    "with idle keys.",
)
def streaming_session_state_timeout(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from flock_spark.catalog import tbl
    from flock_spark.staging import stage_once

    def write_chunks(tmp: str) -> None:
        e = tbl(spark, sf_dir, "events")
        prepped = e.select(
            "user_id",
            F.col("ts"),
            F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        )
        bounds = [
            ("2024-01-01", "2024-01-11"),
            ("2024-01-11", "2024-01-21"),
            ("2024-01-21", "2024-02-01"),
        ]
        for lo, hi in bounds:
            prepped.filter(
                (F.col("us") >= F.unix_micros(F.lit(lo).cast("timestamp")))
                & (F.col("us") < F.unix_micros(F.lit(hi).cast("timestamp")))
            ).coalesce(1).write.mode("append").parquet(tmp)

    path = stage_once(f"sess_chunks_{sf_dir}", "v1-3slices", write_chunks)
    stream = (
        spark.readStream.schema("user_id long, ts timestamp, us long")
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "*.parquet")
        .parquet(path)
        .withWatermark("ts", "1 hour")
    )

    def sessionize(key, pdf_iter, state):
        import datetime

        closed = []  # (start, end, cnt)
        if state.hasTimedOut:
            st, last, cnt = state.get
            closed.append((st, last, cnt))
            state.remove()
        else:
            if state.exists:
                st, last, cnt = state.get
            else:
                st = last = None
                cnt = 0
            rows = pd.concat(list(pdf_iter), ignore_index=True)
            for us in sorted(rows["us"].tolist()):
                us = int(us)
                if st is None:
                    st, last, cnt = us, us, 1
                elif us - last > SESS_GAP_US:
                    closed.append((st, last, cnt))
                    st, last, cnt = us, us, 1
                else:
                    last, cnt = us, cnt + 1
            state.update((st, last, cnt))
            # event-time deadline: the session times out `gap` after its
            # last event (ms granularity — the state API takes epoch ms)
            state.setTimeoutTimestamp((last + SESS_GAP_US) // 1000)
        yield pd.DataFrame(
            {
                "user_id": [key[0]] * len(closed),
                "session_start_us": [c[0] for c in closed],
                "session_end_us": [c[1] for c in closed],
                "n_events": [c[2] for c in closed],
            }
        )

    emitted = stream.groupBy("user_id").applyInPandasWithState(
        sessionize,
        outputStructType=(
            "user_id long, session_start_us long, session_end_us long, "
            "n_events long"
        ),
        stateStructType="start_us long, last_us long, cnt long",
        outputMode="append",
        timeoutConf="EventTimeTimeout",
    )
    return run_to_memory(emitted, output_mode="append", cap=8)


def tws_available() -> bool:
    """transformWithStateInPandas speaks a protobuf state protocol to the
    JVM; the python `protobuf` package is absent in this container, so the
    operator is implemented and import-gated rather than registered (same
    policy as the PIL-gated image decode and the broker-gated Kafka path —
    the registry carries only entries that can certify here)."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


TWS_ORACLE = """
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS cnt,
           CAST(max(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS vmax_cents
    FROM events
    WHERE value IS NOT NULL
    GROUP BY user_id
    """


def streaming_tws_value_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class RunningAgg(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState(
                "agg", "cnt long, vmax_cents long"
            )

        def handleInputRows(self, key, rows, timerValues):
            cnt, vmax = (
                self._state.get() if self._state.exists() else (0, -1)
            )
            for pdf in rows:
                cnt += len(pdf)
                if len(pdf):
                    vmax = max(vmax, int(pdf["cents"].max()))
            self._state.update((cnt, vmax))
            yield pd.DataFrame(
                {
                    "user_id": [int(key[0])],
                    "cnt": [cnt],
                    "vmax_cents": [vmax],
                }
            )

        def close(self) -> None:
            pass

    # transformWithState requires the RocksDB state store provider
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        s = (
            bounded_stream(spark, sf_dir, "events")
            .filter(F.col("value").isNotNull())
            .select(
                "user_id",
                F.floor(F.col("value") * 100).cast("long").alias("cents"),
            )
        )
        out = s.groupBy("user_id").transformWithStateInPandas(
            statefulProcessor=RunningAgg(),
            outputStructType="user_id long, cnt long, vmax_cents long",
            outputMode="Update",
            timeMode="None",
        )
        drained = run_to_memory(out, output_mode="update", cap=8)
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev
            )
    # emissions are monotone per key: the last (= max) is the final state
    return drained.groupBy("user_id").agg(
        F.max("cnt").alias("cnt"), F.max("vmax_cents").alias("vmax_cents")
    )


@register(
    "streaming_warc_ingest_decode",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(3 * count(*) AS BIGINT) AS n_records_total,
           CAST(sum(octet_length(encode(text))) AS BIGINT)
             AS body_bytes_total,
           CAST(sum((('0x' || substring(md5(hex(encode(text))), 1, 15))
                     ::BIGINT) % 2147483647) AS BIGINT) AS digest_mod_sum
    FROM documents
    WHERE octet_length(encode(text)) > 0
    """,
    tags=("streaming", "multimodal", "codec", "pandas_udf"),
    doc="The crawl-ingest chain as a STREAM — 'tail the archive bucket': "
    "documents arrive through a bounded file stream (the config-only swap "
    "from a kafka/kinesis reader, like every streaming twin), each "
    "micro-batch builds + walks real .warc.gz captures in mapInPandas "
    "over the stream (per-record gzip members, ISO 28500 framing, HTTP "
    "split — the same from-spec machinery as mm_warc_record_walk), and a "
    "running aggregate accumulates docs, records, body bytes and a "
    "portable per-doc digest folded mod 2^31-1 so the sum stays an exact "
    "BIGINT at any corpus size. Drained to completion the stream must "
    "equal the batch oracle exactly — the streaming-equals-batch "
    "discipline every twin in this repo follows. Scale: decode "
    "parallelism is per-file-per-trigger; the only stateful operator is "
    "a 1-row running aggregate, so state does not grow with the corpus.",
)
def streaming_warc_ingest_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flock_spark.operators.multimodal import (
        gzip_multistream_walk,
        http_response_parse,
        warc_gz_build,
        warc_record_parse,
    )

    docs = (
        bounded_stream(spark, sf_dir, "documents")
        .select("doc_id", F.col("text").cast("binary").alias("payload"))
        .filter(F.length(F.col("payload")) > 0)
    )

    def rows_of(did: int, payload: bytes) -> Iterator[tuple]:
        body = bytes(payload)
        uri = f"http://example.com/doc_{did}"
        archive = warc_gz_build(did, uri, body)
        parsed = [warc_record_parse(m[2]) for m in gzip_multistream_walk(archive)]
        status, _h, got = http_response_parse(parsed[2][1])
        if status != 200 or got != body:
            raise ValueError(f"stream extraction mismatch for {did}")
        yield did, len(parsed), len(got), hashlib.md5(got.hex().upper().encode()).hexdigest()

    decoded = map_rows(
        docs, "doc_id long, n_records long, body_len long, body_md5 string", rows_of
    )
    agg = decoded.agg(
        F.count("*").alias("n_docs"),
        F.sum("n_records").alias("n_records_total"),
        F.sum("body_len").alias("body_bytes_total"),
        F.sum(
            F.expr(
                "CAST(conv(substring(body_md5, 1, 15), 16, 10) AS BIGINT)"
                " % 2147483647"
            )
        ).alias("digest_mod_sum"),
    )
    return run_to_memory(agg, output_mode="complete")


@register(
    "streaming_warc_file_ingest",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(3 * count(*) AS BIGINT) AS n_records_total,
           CAST(sum(octet_length(encode(text))) AS BIGINT)
             AS body_bytes_total,
           CAST(sum((('0x' || substring(md5(hex(encode(text))), 1, 15))
                     ::BIGINT) % 2147483647) AS BIGINT) AS digest_mod_sum
    FROM documents
    WHERE octet_length(encode(text)) > 0
    """,
    tags=("streaming", "multimodal", "codec", "pandas_udf", "staged"),
    doc="FILE-TRUE streaming WARC ingestion — the streaming twin of "
    "mm_warc_file_ingest and the missing half of "
    "streaming_warc_ingest_decode (which builds archives in-UDF): the "
    "staged on-disk .warc.gz shard corpus is tailed with "
    "readStream.format('binaryFile') at 2 files per trigger — exactly "
    "how a production crawl ingest tails an archive bucket — each "
    "micro-batch walks the REAL file bytes (gzip multistream, ISO 28500 "
    "Content-Length framing, HTTP split, shard-routing validation "
    "against the file name), and a 1-row running aggregate accumulates "
    "docs, records, body bytes and the mod-2^31-1 digest fold. Drained "
    "to completion the stream equals the batch oracle exactly. Scale: "
    "per-file decode parallelism per trigger, O(1) aggregation state; "
    "swap the directory glob for a bucket notification source and the "
    "plan is a production Common-Crawl tailer.",
)
def streaming_warc_file_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flock_spark.operators.multimodal import (
        WARC_N_SHARDS,
        _stage_warc_corpus,
        gzip_multistream_walk,
        http_response_parse,
        warc_record_parse,
    )

    path = _stage_warc_corpus(sf_dir)
    shards = (
        spark.readStream.format("binaryFile")
        .schema(
            "path string, modificationTime timestamp, length long, "
            "content binary"
        )
        .option("maxFilesPerTrigger", 2)
        .load(f"{path}/*.warc.gz")
        .select("path", "content")
    )

    def rows_of(fpath: str, content: bytes) -> Iterator[tuple]:
        m = re.search(r"shard-(\d+)\.warc\.gz$", str(fpath))
        if not m:
            raise ValueError(f"unexpected shard file name: {fpath}")
        shard = int(m.group(1))
        parsed = [warc_record_parse(mm[2]) for mm in gzip_multistream_walk(bytes(content))]
        if len(parsed) % 3:
            raise ValueError(f"shard {shard}: capture framing broken")
        for i in range(0, len(parsed), 3):
            resp_fields, resp_block = parsed[i + 2]
            uri = resp_fields["warc-target-uri"]
            did = int(uri.rsplit("_", 1)[1])
            if did % WARC_N_SHARDS != shard:
                raise ValueError(f"doc {did} streamed from wrong shard {shard}")
            status, _h, body = http_response_parse(resp_block)
            if status != 200:
                raise ValueError(f"bad status {status} for doc {did}")
            yield did, 3, len(body), hashlib.md5(body.hex().upper().encode()).hexdigest()

    decoded = map_rows(
        shards, "doc_id long, n_records long, body_len long, body_md5 string", rows_of
    )
    agg = decoded.agg(
        F.count("*").alias("n_docs"),
        F.sum("n_records").alias("n_records_total"),
        F.sum("body_len").alias("body_bytes_total"),
        F.sum(
            F.expr(
                "CAST(conv(substring(body_md5, 1, 15), 16, 10) AS BIGINT)"
                " % 2147483647"
            )
        ).alias("digest_mod_sum"),
    )
    return run_to_memory(agg, output_mode="complete")


def _stage_arrows_shards(sf_dir: str) -> str:
    """Write (once per sf_dir) the documents table as FOUR real pyarrow
    .arrows IPC stream shard files (shard = doc_id % 4, multiple record
    batches per shard, the every-7th-doc null gap column, dictionary-coded
    source) — the bucket an Arrow-native streaming ingest would tail."""
    from flock_spark.staging import stage_once

    def write_fixture(tmp: str) -> None:
        import os

        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.ipc as ipc
        import pyarrow.parquet as pq

        t = pq.read_table(
            f"{sf_dir}/documents.parquet",
            columns=["doc_id", "n_chars", "text", "source"],
        ).sort_by("doc_id")
        mask = pa.array(t["doc_id"].to_numpy() % 7 == 0)
        gap = pc.if_else(mask, pa.nulls(t.num_rows, pa.int64()), t["n_chars"])
        full = pa.table(
            {
                "doc_id": t["doc_id"],
                "n_chars_gap": gap,
                "text": t["text"],
                "source": t["source"].combine_chunks().dictionary_encode(),
            }
        )
        ids = full["doc_id"].to_numpy()
        for s in range(4):
            shard = full.filter(pa.array(ids % 4 == s))
            with ipc.new_stream(
                os.path.join(tmp, f"shard-{s:03d}.arrows"), shard.schema
            ) as w:
                for b in shard.to_batches(
                    max_chunksize=max(32, shard.num_rows // 3)
                ):
                    w.write_batch(b)

    return stage_once(
        f"arrows_shards_{sf_dir}", "v1-4shard-dict-gap7", write_fixture
    )


@register(
    "streaming_arrow_ipc_ingest",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(doc_id) AS BIGINT) AS doc_id_sum,
           CAST(sum(CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_gap_nulls,
           CAST(sum(CASE WHEN doc_id % 7 = 0 THEN 0 ELSE n_chars END)
                AS BIGINT) AS n_chars_sum,
           CAST(sum((('0x' || substring(md5(text), 1, 15))::BIGINT)
                    % 2147483647) AS BIGINT) AS text_digest_mod_sum
    FROM documents
    """,
    tags=("streaming", "scan", "wire", "pandas_udf", "staged"),
    doc="Streaming Arrow IPC ingestion — the streaming twin of "
    "scan_arrow_ipc_stream_walk and the exact shape of the reference's "
    "payload consumption loop (transmute.rs:161-192 reassembles Arrow "
    "record batches as they arrive): four staged .arrows shard files "
    "are tailed with readStream.format('binaryFile') at 2 files per "
    "trigger, each micro-batch decodes the REAL stream bytes through "
    "the from-spec walker (flatbuffers envelopes, dictionary batches, "
    "validity bitmaps — no pyarrow in the decode path), and a 1-row "
    "running aggregate accumulates row count, id/char sums, observed "
    "gap-column nulls and a text digest fold. Drained to completion "
    "the stream equals the batch oracle exactly. Scale: per-file "
    "decode parallelism per trigger, O(1) aggregation state — swap the "
    "glob for a queue-notification source and this is an Arrow-native "
    "Flight/IPC bucket tailer.",
)
def streaming_arrow_ipc_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flock_spark.operators.arrow_ipc import arrow_ipc_stream_read

    path = _stage_arrows_shards(sf_dir)
    shards = (
        spark.readStream.format("binaryFile")
        .schema(
            "path string, modificationTime timestamp, length long, "
            "content binary"
        )
        .option("maxFilesPerTrigger", 2)
        .load(f"{path}/*.arrows")
        .select("content")
    )

    def rows_of(content: bytes) -> Iterator[tuple]:
        fields, cols = arrow_ipc_stream_read(bytes(content))
        by_name = {f["name"]: f for f in fields}
        if by_name["source"]["dict_id"] is None:
            raise ValueError("source column lost its dictionary")
        for did, gap, text in zip(cols["doc_id"], cols["n_chars_gap"], cols["text"]):
            digest = int(hashlib.md5(text.encode()).hexdigest()[:15], 16) % 2147483647
            yield did, 1 if gap is None else 0, 0 if gap is None else gap, digest

    decoded = map_rows(
        shards, "doc_id long, gap_null long, n_chars long, digest long", rows_of
    )
    agg = decoded.agg(
        F.count("*").alias("n_rows"),
        F.sum("doc_id").alias("doc_id_sum"),
        F.sum("gap_null").alias("n_gap_nulls"),
        F.sum("n_chars").alias("n_chars_sum"),
        F.sum("digest").alias("text_digest_mod_sum"),
    )
    return run_to_memory(agg, output_mode="complete")


def _stage_orc_shards(spark: SparkSession, sf_dir: str) -> str:
    """Write (once per sf_dir) the documents table as FOUR ORC shard files
    via Spark's own writer (shard = doc_id % 4, nullable gap column,
    dictionary-codeable source) — the bucket an ORC-native ingest tails."""
    from flock_spark.staging import stage_once

    def write_fixture(tmp: str) -> None:
        import glob
        import os
        import shutil

        base = (
            spark.read.parquet(f"{sf_dir}/documents.parquet")
            .selectExpr(
                "doc_id",
                "CASE WHEN doc_id % 7 = 0 THEN CAST(NULL AS BIGINT) "
                "ELSE n_chars END AS n_chars_gap",
                "text",
                "source",
            )
        )
        for s in range(4):
            out = os.path.join(tmp, f"_out{s}")
            (base.filter(f"doc_id % 4 = {s}").orderBy("doc_id")
                 .coalesce(1).write.format("orc").save(out))
            src = glob.glob(os.path.join(out, "*.orc"))[0]
            shutil.move(src, os.path.join(tmp, f"shard-{s:03d}.orc"))
            shutil.rmtree(out)

    return stage_once(f"orc_shards_{sf_dir}", "v1-4shard-gap7", write_fixture)


@register(
    "streaming_orc_file_ingest",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(doc_id) AS BIGINT) AS doc_id_sum,
           CAST(sum(CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_gap_nulls,
           CAST(sum(CASE WHEN doc_id % 7 = 0 THEN 0 ELSE n_chars END)
                AS BIGINT) AS n_chars_sum,
           CAST(sum((('0x' || substring(md5(text), 1, 15))::BIGINT)
                    % 2147483647) AS BIGINT) AS text_digest_mod_sum
    FROM documents
    """,
    tags=("streaming", "scan", "formats", "codec", "pandas_udf", "staged"),
    doc="Streaming ORC ingestion — the third file-true streaming twin "
    "(after WARC and Arrow IPC): four ORC shard files written by "
    "Spark's own writer are tailed with readStream.format('binaryFile') "
    "at 2 files per trigger, each micro-batch decoding the raw bytes "
    "through the from-spec stripe reader (protobuf metadata walk, "
    "zstd-framed chunks, RLEv2, PRESENT bitmaps, dictionary strings — "
    "no ORC library in the decode path), and a 1-row running aggregate "
    "accumulates row count, id/char sums, observed gap nulls and a "
    "text digest fold. Drained to completion the stream equals the "
    "batch oracle exactly. Scale: per-file decode parallelism per "
    "trigger, O(1) aggregation state — swap the glob for a bucket "
    "notification source and this tails an ORC lake.",
)
def streaming_orc_file_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flock_spark.operators.orc_format import orc_read_columns

    path = _stage_orc_shards(spark, sf_dir)
    shards = (
        spark.readStream.format("binaryFile")
        .schema(
            "path string, modificationTime timestamp, length long, "
            "content binary"
        )
        .option("maxFilesPerTrigger", 2)
        .load(f"{path}/*.orc")
        .select("path", "content")
    )

    def rows_of(fpath: str, content: bytes) -> Iterator[tuple]:
        m = re.search(r"shard-(\d+)\.orc$", str(fpath))
        if not m:
            raise ValueError(f"unexpected shard file name: {fpath}")
        shard = int(m.group(1))
        _names, cols = orc_read_columns(bytes(content))
        for did, gap, text in zip(cols["doc_id"], cols["n_chars_gap"], cols["text"]):
            if did % 4 != shard:
                raise ValueError(f"doc {did} in wrong shard {shard}")
            digest = int(hashlib.md5(text.encode()).hexdigest()[:15], 16) % 2147483647
            yield did, 1 if gap is None else 0, 0 if gap is None else gap, digest

    decoded = map_rows(
        shards, "doc_id long, gap_null long, n_chars long, digest long", rows_of
    )
    agg = decoded.agg(
        F.count("*").alias("n_rows"),
        F.sum("doc_id").alias("doc_id_sum"),
        F.sum("gap_null").alias("n_gap_nulls"),
        F.sum("n_chars").alias("n_chars_sum"),
        F.sum("digest").alias("text_digest_mod_sum"),
    )
    return run_to_memory(agg, output_mode="complete")


@register(
    "streaming_avro_file_ingest",
    oracle="""
    SELECT CAST(3 AS BIGINT) AS n_files,
           CAST(3 * count(*) AS BIGINT) AS n_rows,
           CAST(3 * sum(doc_id) AS BIGINT) AS doc_id_sum,
           CAST(3 * sum(CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_gap_nulls,
           CAST(3 * sum((('0x' || substring(md5(text), 1, 15))::BIGINT)
                    % 2147483647) AS BIGINT) AS text_digest_mod_sum
    FROM documents
    """,
    tags=("streaming", "scan", "formats", "codec", "pandas_udf", "staged"),
    doc="Streaming Avro ingestion — the fourth file-true streaming twin "
    "(after WARC, Arrow IPC and ORC): the three codec container files "
    "written by the REAL Avro Java library (null / deflate / snappy) are "
    "tailed with readStream.format('binaryFile') at 1 file per trigger, "
    "so each micro-batch exercises a DIFFERENT from-spec codec path of "
    "the container reader (operators/avro_format.py), and a 1-row "
    "running aggregate accumulates file count, row count, id sums, "
    "observed union-null branches and a text digest fold. Each file "
    "carries the full documents table, so the drained stream equals "
    "3x the batch facts exactly. Scale: per-file decode parallelism "
    "per trigger, O(1) aggregation state — swap the glob for a bucket "
    "notification source and this tails an Avro lake.",
)
def streaming_avro_file_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flock_spark.operators.avro_format import (
        CODECS,
        _stage_avro,
        avro_container_read,
    )

    path = _stage_avro(spark, sf_dir)
    files = (
        spark.readStream.format("binaryFile")
        .schema(
            "path string, modificationTime timestamp, length long, "
            "content binary"
        )
        .option("maxFilesPerTrigger", 1)
        .load(f"{path}/*.avro")
        .select("path", "content")
    )

    def rows_of(fpath: str, content: bytes) -> Iterator[tuple]:
        codec, records = avro_container_read(bytes(content))
        if codec not in CODECS or not str(fpath).endswith(f"{codec}.avro"):
            raise ValueError(f"codec {codec} vs file {fpath}")
        for i, r in enumerate(records):
            digest = int(hashlib.md5(r["text"].encode()).hexdigest()[:15], 16) % 2147483647
            yield 1 if i == 0 else 0, r["doc_id"], 1 if r["n_chars_gap"] is None else 0, digest

    decoded = map_rows(
        files, "is_file long, doc_id long, gap_null long, digest long", rows_of
    )
    agg = decoded.agg(
        F.sum("is_file").alias("n_files"),
        F.count("*").alias("n_rows"),
        F.sum("doc_id").alias("doc_id_sum"),
        F.sum("gap_null").alias("n_gap_nulls"),
        F.sum("digest").alias("text_digest_mod_sum"),
    )
    return run_to_memory(agg, output_mode="complete")


@register(
    "streaming_xz_file_ingest",
    oracle="""
    SELECT CAST(4 AS BIGINT) AS n_files,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(doc_id) AS BIGINT) AS doc_id_sum,
           CAST(sum(octet_length(encode(text))) AS BIGINT) AS text_bytes,
           CAST(sum((('0x' || substring(md5(text), 1, 15))::BIGINT)
                    % 2147483647) AS BIGINT) AS text_digest_mod_sum
    FROM documents
    WHERE text IS NOT NULL
    """,
    tags=("streaming", "scan", "codec", "pandas_udf", "staged"),
    doc="Streaming XZ ingestion — the fifth file-true streaming twin "
    "(after WARC, Arrow IPC, ORC, Avro), and the first whose fixtures "
    "were written by THIS repo's own encoder: four .xz shards (each a "
    "doc_id\\ttext TSV compressed by the from-spec literal-LZMA xz "
    "encoder, liblzma-gated at staging) are tailed with "
    "readStream.format('binaryFile') at 2 files per trigger, each "
    "micro-batch decoding raw bytes through the from-spec XZ walker "
    "(container CRCs, LZMA2 chunks, range decoder), and a 1-row "
    "running aggregate accumulates file/row counts, id sums and a "
    "text digest fold. Drained to completion the stream equals the "
    "batch oracle exactly. Scale: per-file decode parallelism per "
    "trigger, O(1) aggregation state — the wikidump-tailer shape.",
)
def streaming_xz_file_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flock_spark.operators.lzma_codec import xz_compress, xz_decompress
    from flock_spark.staging import stage_once

    def write_fixture(tmp: str) -> None:
        import lzma
        import os

        rows = (
            spark.read.parquet(f"{sf_dir}/documents.parquet")
            .filter("text IS NOT NULL")
            .selectExpr("doc_id", "text")
            .orderBy("doc_id")
            .collect()  # bounded: N_DOCS rows (5k at sf0.1)
        )
        for r in rows:
            if "\t" in r.text or "\n" in r.text:
                # TSV framing would silently corrupt — fail loudly
                raise ValueError(f"doc {r.doc_id} contains TSV separators")
        for k in range(4):
            tsv = "".join(
                f"{r.doc_id}\t{r.text}\n"
                for r in rows if r.doc_id % 4 == k
            ).encode("utf-8")
            frame = xz_compress(tsv)
            if lzma.decompress(frame, format=lzma.FORMAT_XZ) != tsv:
                raise ValueError("liblzma gate failed on shard")
            with open(os.path.join(tmp, f"shard-{k}.xz"), "wb") as f:
                f.write(frame)

    path = stage_once(
        f"xz_stream_fixture_{sf_dir}", "v1-4shards-tsv", write_fixture
    )
    files = (
        spark.readStream.format("binaryFile")
        .schema(
            "path string, modificationTime timestamp, length long, "
            "content binary"
        )
        .option("maxFilesPerTrigger", 2)
        .load(f"{path}/*.xz")
        .select("path", "content")
    )

    def rows_of(fpath: str, content: bytes) -> Iterator[tuple]:
        m = re.search(r"shard-(\d)\.xz$", str(fpath))
        if not m:
            raise ValueError(f"unexpected shard name {fpath}")
        shard = int(m.group(1))
        tsv = xz_decompress(bytes(content)).decode("utf-8")
        for i, line in enumerate(tsv.splitlines()):
            did, text = line.split("\t", 1)
            did = int(did)
            if did % 4 != shard:
                raise ValueError(f"doc {did} in wrong shard")
            digest = int(hashlib.md5(text.encode()).hexdigest()[:15], 16) % 2147483647
            yield 1 if i == 0 else 0, did, len(text.encode()), digest

    decoded = map_rows(
        files, "is_file long, doc_id long, n_bytes long, digest long", rows_of
    )
    agg = decoded.agg(
        F.sum("is_file").alias("n_files"),
        F.count("*").alias("n_rows"),
        F.sum("doc_id").alias("doc_id_sum"),
        F.sum("n_bytes").alias("text_bytes"),
        F.sum("digest").alias("text_digest_mod_sum"),
    )
    return run_to_memory(agg, output_mode="complete")
