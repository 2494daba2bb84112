"""Deterministic NEXMark + YSB event generators (no external data).

The reference's primary sources are seeded in-function generators: NEXMark
person/auction/bid streams (flock/src/datasource/nexmark/nexmark.rs:285-398,
event proportions 1 person : 3 auctions : 46 bids per 50-event block,
config.rs:135-138, seeded per-id event.rs:89) and the YSB ad_event stream
with a static campaign dimension of 100 campaigns × 10 ads
(flock/src/datasource/ysb/ysb.rs:108-260, generator.rs:43-50).

Spark-first reformulation: generation is a *projection over spark.range(n)*
— embarrassingly parallel, no shuffle, no driver loop, and linear in n on
any cluster size. Every derived column is portable SQL shared verbatim with
the DuckDB oracle (md5-based hashing from operators/hashing.py), so the
generated tables themselves — and every query over them — hash-match
cross-engine. This replaces the reference's seeded SmallRng with a seeded
hash: same property (reproducible streams), engine-neutral.

Event-time layout mirrors the reference's epochs: 50 events per logical
second (one block), `date_time = BASE + epoch seconds`. The slot within a
block picks the event type: slot 0 → person, 1-3 → auction, 4-49 → bid.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from flock_spark.registry import register

# Stream length in events: default 20 s at 1000 events/s (20k events = 400
# persons, 1200 auctions, 18400 bids) so correctness sweeps stay cheap
# (generation + oracle re-generation happen once per registered NEXMark
# query on BOTH engines); bench.py pins 50000 (the full 50 s stream) so
# benchmark numbers stay comparable across rounds. Both the Spark and DuckDB
# generators read this one constant at import time, so any override stays
# cross-engine consistent.
N_EVENTS = int(os.environ.get("FLOCK_SPARK_NEXMARK_EVENTS", "20000"))
BLOCK = 50
PERSONS_PER_BLOCK = 1
AUCTIONS_PER_BLOCK = 3
BASE_TS = "TIMESTAMP '2024-01-01 00:00:00'"

N_CAMPAIGNS = 100
ADS_PER_CAMPAIGN = 10

# portable 60-bit md5 hash of a string expression (see operators/hashing.py);
# Spark spells hex→int as conv(), DuckDB as a 0x-prefixed cast.
_H_SPARK = "CAST(conv(substring(md5({x}), 1, 15), 16, 10) AS BIGINT)"
_H_DUCK = "(('0x' || substring(md5({x}), 1, 15))::BIGINT)"

_STATES = ["or", "id", "ca", "az", "wa"]
_CITIES = ["Phoenix", "Seattle", "Portland", "Boise", "Sacramento"]
_ITEMS = ["toaster", "bicycle", "guitar", "laptop", "couch"]


def _pick(options: list[str], h: str) -> str:
    """CASE expression choosing options[hash % len] — portable verbatim."""
    n = len(options)
    arms = " ".join(
        f"WHEN ({h} % {n}) = {i} THEN '{v}'" for i, v in enumerate(options)
    )
    return f"(CASE {arms} END)"


def _nexmark_sql(h: str, from_clause: str) -> dict[str, str]:
    """The three table-generation queries; `h` is the engine's md5-long
    template, `from_clause` yields a relation with column `id` (0..n-1)."""

    def hh(x: str) -> str:
        return h.format(x=x)

    # Spark has no // operator and DuckDB no DIV — use integer CAST(floor)
    blk = f"CAST(floor(id / {BLOCK}) AS BIGINT)"
    slot = f"(id % {BLOCK})"

    person = f"""
    SELECT CAST({blk} AS BIGINT)                       AS p_id,
           'person_' || CAST({blk} AS STRING)          AS name,
           'p' || CAST({blk} AS STRING) || '@mail.com' AS email_address,
           substring(md5('cc' || CAST(id AS STRING)), 1, 16) AS credit_card,
           {_pick(_CITIES, hh("'city' || CAST(id AS STRING)"))} AS city,
           {_pick(_STATES, hh("'state' || CAST(id AS STRING)"))} AS state,
           {BASE_TS} + {blk} * INTERVAL 1 SECOND       AS p_date_time
    FROM {from_clause}
    WHERE {slot} = 0
    """

    a_local = f"({blk} * {AUCTIONS_PER_BLOCK} + ({slot} - {PERSONS_PER_BLOCK}))"
    n_persons = N_EVENTS // BLOCK
    auction = f"""
    SELECT CAST({a_local} AS BIGINT)                   AS a_id,
           {_pick(_ITEMS, hh("'item' || CAST(id AS STRING)"))} AS item_name,
           'desc_' || CAST(id AS STRING)               AS description,
           CAST(100 + {hh("'ib' || CAST(id AS STRING)")} % 900 AS BIGINT)   AS initial_bid,
           CAST(1000 + {hh("'rv' || CAST(id AS STRING)")} % 9000 AS BIGINT) AS reserve,
           {BASE_TS} + {blk} * INTERVAL 1 SECOND       AS a_date_time,
           {BASE_TS} + ({blk} + 10 + {hh("'ex' || CAST(id AS STRING)")} % 20) * INTERVAL 1 SECOND AS expires,
           CAST({hh("'sl' || CAST(id AS STRING)")} % {n_persons} AS BIGINT) AS seller,
           CAST(10 + {hh("'ct' || CAST(id AS STRING)")} % 5 AS BIGINT)      AS category
    FROM {from_clause}
    WHERE {slot} BETWEEN {PERSONS_PER_BLOCK} AND {PERSONS_PER_BLOCK + AUCTIONS_PER_BLOCK - 1}
    """

    n_auctions = (N_EVENTS // BLOCK) * AUCTIONS_PER_BLOCK
    hot = f"({blk} * {AUCTIONS_PER_BLOCK})"  # first auction of the current block
    bid_h = hh("'au' || CAST(id AS STRING)")
    # hot-key skew mirroring event.rs:355-364: half the bids hit the block's
    # first auction, the rest spread uniformly
    bid = f"""
    SELECT CAST(CASE WHEN {bid_h} % 2 = 0 THEN {hot}
                     ELSE {bid_h} % {n_auctions} END AS BIGINT) AS auction,
           CAST({hh("'bd' || CAST(id AS STRING)")} % {n_persons} AS BIGINT) AS bidder,
           CAST(100 + {hh("'pr' || CAST(id AS STRING)")} % 9999900 AS BIGINT) AS price,
           {BASE_TS} + {blk} * INTERVAL 1 SECOND AS b_date_time
    FROM {from_clause}
    WHERE {slot} >= {PERSONS_PER_BLOCK + AUCTIONS_PER_BLOCK}
    """
    return {"person": person, "auction": auction, "bid": bid}


def _ysb_sql(h: str, from_clause: str) -> dict[str, str]:
    def hh(x: str) -> str:
        return h.format(x=x)

    n_ads = N_CAMPAIGNS * ADS_PER_CAMPAIGN
    campaign = f"""
    SELECT 'ad_' || CAST(id AS STRING) AS c_ad_id,
           'camp_' || CAST(CAST(floor(id / {ADS_PER_CAMPAIGN}) AS BIGINT) AS STRING) AS campaign_id
    FROM {from_clause}
    """
    ad_event = f"""
    SELECT 'u' || CAST({hh("'u' || CAST(id AS STRING)")} % 10000 AS STRING) AS user_id,
           'pg' || CAST({hh("'p' || CAST(id AS STRING)")} % 1000 AS STRING) AS page_id,
           'ad_' || CAST({hh("'a' || CAST(id AS STRING)")} % {n_ads} AS STRING) AS ad_id,
           {_pick(["banner", "modal", "sponsored"], hh("'t' || CAST(id AS STRING)"))} AS ad_type,
           {_pick(["view", "click", "purchase"], hh("'e' || CAST(id AS STRING)"))} AS event_type,
           {BASE_TS} + CAST(floor(id / 1000) AS BIGINT) * INTERVAL 1 SECOND AS event_time,
           '10.0.' || CAST(id % 256 AS STRING) || '.1' AS ip_address
    FROM {from_clause}
    """
    return {"campaign": campaign, "ad_event": ad_event}


def _spark_range_view(spark: SparkSession, n: int, name: str) -> None:
    spark.range(n).createOrReplaceTempView(name)


# Generated tables are staged ONCE to parquet and every consumer reads the
# files — the same durable-fixture contract as the staged WARC/ORC/kafka-wire
# bytes (staging.py). This replaced a session-lifetime `.cache()` memo in
# round 13: after the r12 cross-run-caching sweep (wave E) a cached generator
# was the one remaining warm-input inconsistency — bench best-of-3 paid
# generation on run 1 and reused the materialization on runs 2-3, whereas
# every computed relation rebuilds per run (r12 VERDICT item 3). As a staged
# fixture the cost is identical every run (a parquet scan, like every other
# base table). The version string hashes the generator SQL + row count, so
# any derivation change rebuilds the fixture instead of silently reusing
# stale bytes.


def _staged_gen_table(
    spark: SparkSession, kind: str, table: str, n: int, sql: str
) -> DataFrame:
    import hashlib as _hl

    from flock_spark.staging import stage_once

    version = _hl.md5(f"{n}:{sql}".encode()).hexdigest()[:12]

    def write(tmp: str) -> None:
        spark.sql(sql).repartition(4).write.mode("overwrite").parquet(tmp)

    path = stage_once(f"gen_{kind}_{table}", version, write)
    # analysing the SQL launches no job, unlike parquet schema inference;
    # the path is versioned by the SQL, so the schema matches the files
    return spark.read.schema(spark.sql(sql).schema).parquet(path)


def nexmark_table(spark: SparkSession, table: str) -> DataFrame:
    """One NEXMark table (person/auction/bid): staged parquet fixture of the
    deterministic projection over range(n)."""
    _spark_range_view(spark, N_EVENTS, "nexmark_ids")
    sql = _nexmark_sql(_H_SPARK, "nexmark_ids")[table]
    return _staged_gen_table(spark, "nexmark", table, N_EVENTS, sql)


def ysb_table(spark: SparkSession, table: str) -> DataFrame:
    n = N_CAMPAIGNS * ADS_PER_CAMPAIGN if table == "campaign" else N_EVENTS
    _spark_range_view(spark, n, f"ysb_ids_{table}")
    sql = _ysb_sql(_H_SPARK, f"ysb_ids_{table}")[table]
    return _staged_gen_table(spark, "ysb", table, n, sql)


def _duck_nexmark(table: str) -> str:
    return _nexmark_sql(_H_DUCK, f"range({N_EVENTS}) t(id)")[table]


def _duck_ysb(table: str) -> str:
    n = N_CAMPAIGNS * ADS_PER_CAMPAIGN if table == "campaign" else N_EVENTS
    return _ysb_sql(_H_DUCK, f"range({n}) t(id)")[table]


# --------------------------------------------------------------------------
# Registered queries: the generators themselves + the NEXMark queries that
# need the real person/auction/bid schemas (q1 currency, q2 mod-filter over
# auction ids, q5 hot items, YSB campaign counts).
# --------------------------------------------------------------------------


@register(
    "nexmark_gen_bid",
    oracle=f"""
    SELECT auction, bidder, price, b_date_time
    FROM ({_duck_nexmark("bid")}) b
    """,
    tags=("nexmark", "source"),
    doc="Deterministic NEXMark bid generator: projection over range(n), "
    "seeded md5 hashing, 46/50 of events, hot-auction skew — the Spark table "
    "and the DuckDB-generated table are identical row sets "
    "(nexmark.rs:285-398 parity).",
)
def nexmark_gen_bid(spark: SparkSession, sf_dir: str) -> DataFrame:
    return nexmark_table(spark, "bid")


@register(
    "nexmark_gen_person_auction",
    oracle=f"""
    SELECT p.p_id, p.name, p.state, p.p_date_time, a.a_id, a.seller, a.category
    FROM ({_duck_nexmark("person")}) p
    JOIN ({_duck_nexmark("auction")}) a ON a.seller = p.p_id
    """,
    tags=("nexmark", "source", "join"),
    doc="Person ⋈ auction over the generated tables (seller FK integrity "
    "check is the join itself).",
)
def nexmark_gen_person_auction(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = nexmark_table(spark, "person")
    a = nexmark_table(spark, "auction")
    return p.join(a, a.seller == p.p_id).select(
        "p_id", "name", "state", "p_date_time", "a_id", "seller", "category"
    )


@register(
    "nexmark_q1_currency",
    oracle=f"""
    SELECT auction, bidder, round(0.908 * CAST(price AS DOUBLE), 6) AS price_eur, b_date_time
    FROM ({_duck_nexmark("bid")}) b
    """,
    tags=("nexmark", "projection"),
    doc="NEXMark q1: dollar→euro conversion 0.908*price "
    "(benchmarks/src/nexmark/query/q1.sql) over the generated bid stream.",
)
def nexmark_q1_currency(spark: SparkSession, sf_dir: str) -> DataFrame:
    b = nexmark_table(spark, "bid")
    return b.selectExpr(
        "auction", "bidder", "round(0.908 * CAST(price AS DOUBLE), 6) AS price_eur", "b_date_time"
    )


@register(
    "nexmark_q2_mod_filter",
    oracle=f"""
    SELECT auction, price FROM ({_duck_nexmark("bid")}) b
    WHERE auction % 123 = 0
    """,
    tags=("nexmark", "filter"),
    doc="NEXMark q2: auction %% 123 = 0 selection "
    "(benchmarks/src/nexmark/query/q2.sql).",
)
def nexmark_q2_mod_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    b = nexmark_table(spark, "bid")
    return b.filter("auction % 123 = 0").select("auction", "price")


@register(
    "nexmark_q5_hot_items",
    oracle=f"""
    WITH counts AS (
      SELECT auction, b_date_time AS wstart, count(*) AS num
      FROM ({_duck_nexmark("bid")}) b
      GROUP BY auction, b_date_time)
    SELECT c.auction, c.wstart, c.num
    FROM counts c
    JOIN (SELECT wstart, max(num) AS mx FROM counts GROUP BY wstart) m
      ON c.wstart = m.wstart AND c.num = m.mx
    """,
    tags=("nexmark", "aggregate", "join"),
    doc="NEXMark q5: hottest auction per window — per-epoch bid counts "
    "self-joined with the per-window max (benchmarks/src/nexmark/query/"
    "q5.sql; epochs are already 1 s so the epoch timestamp IS the window).",
)
def nexmark_q5_hot_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    # window-max instead of the SQL's agg self-join: the generated bid table
    # is scanned once (the join formulation re-generates it for each side)
    # and the per-window max needs no second aggregate + join shuffle
    b = nexmark_table(spark, "bid")
    counts = b.groupBy("auction", F.col("b_date_time").alias("wstart")).agg(
        F.count("*").alias("num")
    )
    mx = F.max("num").over(W.partitionBy("wstart"))
    return (
        counts.withColumn("mx", mx)
        .filter(F.col("num") == F.col("mx"))
        .select("auction", "wstart", "num")
    )


@register(
    "ysb_campaign_counts",
    oracle=f"""
    SELECT campaign_id, count(*) AS n_views
    FROM ({_duck_ysb("ad_event")}) e
    JOIN ({_duck_ysb("campaign")}) c ON e.ad_id = c.c_ad_id
    WHERE event_type = 'view'
    GROUP BY campaign_id
    """,
    tags=("ysb", "join", "aggregate"),
    doc="The YSB query (benchmarks/src/ysb/ysb.sql): view-filtered ad events "
    "joined to the 1000-row campaign dimension (broadcast — no shuffle of "
    "the event stream), counted per campaign. Generators mirror "
    "ysb/generator.rs:43-50 (100 campaigns × 10 ads).",
)
def ysb_campaign_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    e = ysb_table(spark, "ad_event").filter(F.col("event_type") == "view")
    c = ysb_table(spark, "campaign")
    return (
        e.join(F.broadcast(c), e.ad_id == c.c_ad_id)
        .groupBy("campaign_id")
        .agg(F.count("*").alias("n_views"))
    )


def _bid_stream(spark: SparkSession) -> DataFrame:
    """The generated bid table staged once as multi-file parquet, read back
    as a bounded file stream (micro-batches of 2 files) — the generator →
    worker stream loop (nexmark/source.rs:32-77)."""
    import hashlib

    from flock_spark.staging import stage_once

    def write_bids(tmp: str) -> None:
        nexmark_table(spark, "bid").repartition(4).write.mode("overwrite").parquet(tmp)

    # version = hash of the generator SQL: any change to bid derivation (or
    # to N_EVENTS, which the SQL embeds) invalidates the staged stream so it
    # can never drift from the freshly-regenerated oracle
    version = hashlib.md5(
        _nexmark_sql(_H_SPARK, "ids")["bid"].encode()
    ).hexdigest()[:10]
    path = stage_once("nexmark_bid_stream", version, write_bids)
    return (
        spark.readStream.schema(
            "auction bigint, bidder bigint, price bigint, b_date_time timestamp"
        )
        .option("maxFilesPerTrigger", 2)
        .parquet(path)
    )


@register(
    "streaming_nexmark_q1",
    oracle=f"""
    SELECT auction, bidder, round(0.908 * CAST(price AS DOUBLE), 6) AS price_eur, b_date_time
    FROM ({_duck_nexmark("bid")}) b
    """,
    tags=("nexmark", "streaming", "source"),
    doc="NEXMark q1 executed as a real Structured Streaming query fed by the "
    "generator (the reference's source-function → worker loop, "
    "nexmark/source.rs:32-77): generated bids land in parquet, stream in "
    "as micro-batches, and the drained append-mode result equals the batch "
    "generator oracle exactly.",
)
def streaming_nexmark_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flock_spark.streaming.runner import run_to_memory

    out = _bid_stream(spark).selectExpr(
        "auction", "bidder", "round(0.908 * CAST(price AS DOUBLE), 6) AS price_eur", "b_date_time"
    )
    return run_to_memory(out, output_mode="append")


@register(
    "streaming_nexmark_native_q7",
    oracle=f"""
    WITH b AS ({_duck_nexmark("bid")}),
    w AS (SELECT auction, bidder, price, b_date_time,
                 TIMESTAMP '2024-01-01 00:00:00'
                   + CAST(floor(date_diff('second',
                                          TIMESTAMP '2024-01-01 00:00:00',
                                          b_date_time) / 10) * 10 AS BIGINT)
                     * INTERVAL 1 SECOND AS wstart
          FROM b)
    SELECT w.wstart, w.auction, w.bidder, w.price
    FROM w JOIN (SELECT wstart AS w2, max(price) AS mp FROM w GROUP BY wstart) m
      ON w.wstart = m.w2 AND w.price = m.mp
    """,
    tags=("nexmark", "native", "streaming", "window_time"),
    doc="NEXMark q7 over the native bid stream as a REAL streaming query: "
    "the reference's Tumbling(10 s) driver re-runs the max-join per window "
    "(benchmarks/src/nexmark/main.rs:116-123, q7.sql); here micro-batches "
    "stage to parquet executor-side (runner.stage_batches — the scale-safe "
    "full-recompute model) and the per-window max join runs distributed "
    "over everything staged. Emits every bid tied at its window's max.",
)
def streaming_nexmark_native_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from flock_spark.streaming.runner import stage_batches

    s = _bid_stream(spark)
    staged = stage_batches(s)
    w = staged.withColumn("wstart", F.window("b_date_time", "10 seconds").start)
    mx = w.groupBy(F.col("wstart").alias("w2")).agg(F.max("price").alias("mp"))
    return (
        w.join(mx, (w.wstart == mx.w2) & (w.price == mx.mp))
        .select("wstart", "auction", "bidder", "price")
    )


@register(
    "nexmark_q10_date_format",
    oracle=f"""
    SELECT auction, bidder, price, b_date_time,
           strftime(b_date_time, '%Y-%m-%d') AS dt,
           strftime(b_date_time, '%H:%M') AS hm
    FROM ({_duck_nexmark("bid")}) b
    WHERE auction % 11 = 0
    """,
    tags=("nexmark", "projection"),
    doc="NEXMark q10 (log to partitioned file system, "
    "flock/src/datasource/nexmark/queries/q10.sql): bids with DATE_FORMAT "
    "partition columns — at scale the dt/hm columns are the write "
    "partitionBy keys, so downstream readers prune by day/minute. Spark "
    "date_format and DuckDB strftime spell the same formatting.",
)
def nexmark_q10_date_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    b = nexmark_table(spark, "bid").filter("auction % 11 = 0")
    return b.select(
        "auction",
        "bidder",
        "price",
        "b_date_time",
        F.date_format("b_date_time", "yyyy-MM-dd").alias("dt"),
        F.date_format("b_date_time", "HH:mm").alias("hm"),
    )


@register(
    "nexmark_q0_passthrough",
    oracle=f"""
    SELECT auction, bidder, price, b_date_time
    FROM ({_duck_nexmark("bid")}) b
    """,
    tags=("nexmark", "projection"),
    doc="NEXMark q0: raw passthrough of the bid stream "
    "(benchmarks/src/nexmark/query/q0.sql) — the no-op baseline the "
    "reference uses to price pure invocation/transport overhead. Here it "
    "prices generation + scan: a single narrow projection, no shuffle.",
)
def nexmark_q0_passthrough(spark: SparkSession, sf_dir: str) -> DataFrame:
    return nexmark_table(spark, "bid").select("auction", "bidder", "price", "b_date_time")


@register(
    "nexmark_q11_session_bids",
    oracle=f"""
    WITH b AS ({_duck_nexmark("bid")}),
    gaps AS (
      SELECT bidder, b_date_time,
             CASE WHEN b_date_time - lag(b_date_time)
                       OVER (PARTITION BY bidder ORDER BY b_date_time)
                       > INTERVAL '10 seconds'
                  THEN 1 ELSE 0 END AS brk
      FROM b
    ), sessions AS (
      SELECT bidder, b_date_time,
             sum(brk) OVER (PARTITION BY bidder ORDER BY b_date_time
                            ROWS UNBOUNDED PRECEDING) AS sess_id
      FROM gaps
    )
    SELECT bidder, min(b_date_time) AS starttime, count(*) AS bid_count
    FROM sessions
    GROUP BY bidder, sess_id
    """,
    tags=("nexmark", "session", "window_time"),
    doc="NEXMark q11: bids per bidder per session, gap 10 s "
    "(flock/src/datasource/nexmark/queries/q11.sql, driven by the Session "
    "window driver session.rs:187-321). The reference dedicates one Lambda "
    "per distinct bidder via the fork's HashDiff partitioning; Spark's "
    "session_window + groupBy(bidder) gives the same per-key co-location "
    "through the hash shuffle, scaling with executors instead of keys. "
    "Oracle: gaps-and-islands rewrite (lag + running sum).",
)
def nexmark_q11_session_bids(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    b = nexmark_table(spark, "bid")
    return (
        b.groupBy(F.session_window("b_date_time", "10 seconds").alias("w"), "bidder")
        .agg(F.count("*").alias("bid_count"))
        .select("bidder", F.col("w.start").alias("starttime"), "bid_count")
    )


@register(
    "nexmark_q12_proctime_tumble",
    oracle=f"""
    SELECT bidder,
           TIMESTAMP '2024-01-01 00:00:00'
             + CAST(floor(date_diff('second',
                                    TIMESTAMP '2024-01-01 00:00:00',
                                    b_date_time) / 10) * 10 AS BIGINT)
               * INTERVAL 1 SECOND AS p_window,
           count(*) AS bid_count
    FROM ({_duck_nexmark("bid")}) b
    GROUP BY 1, 2
    """,
    tags=("nexmark", "window_time", "aggregate"),
    doc="NEXMark q12: bids per bidder per 10 s processing-time window "
    "(benchmarks/src/nexmark/query/q12.sql; the reference injects "
    "p_time = now() per batch, global.rs:226-232). Arrival order equals "
    "generation order here, so the injected processing clock is the "
    "deterministic epoch timestamp — same plan shape (tumble on an "
    "injected column), reproducible results. The streaming twin with a "
    "real wall clock is streaming_proctime_agg.",
)
def nexmark_q12_proctime_tumble(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    b = nexmark_table(spark, "bid").withColumn("p_time", F.col("b_date_time"))
    return (
        b.groupBy("bidder", F.window("p_time", "10 seconds").alias("w"))
        .agg(F.count("*").alias("bid_count"))
        .select("bidder", F.col("w.start").alias("p_window"), "bid_count")
    )


@register(
    "nexmark_q13_side_input",
    oracle=f"""
    SELECT auction, bidder, price, b_date_time, s.value AS side_value
    FROM ({_duck_nexmark("bid")}) b
    JOIN (SELECT id AS key, id * 10 AS value FROM range(25) t(id)) s
      ON b.auction % 25 = s.key
    """,
    tags=("nexmark", "join", "source"),
    doc="NEXMark q13: bid stream enriched from the CSV side input on "
    "auction mod N (benchmarks/src/nexmark/query/q13.sql, worker-side CSV "
    "load actor.rs:575-629). The dimension is broadcast so the bid side "
    "keeps its scan partitioning — no shuffle at any scale; the side input "
    "re-reads per batch in streaming, giving the reference's per-function "
    "reload semantics.",
)
def nexmark_q13_side_input(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from flock_spark.sources.side_input import side_input

    b = nexmark_table(spark, "bid")
    s = side_input(spark).select("key", F.col("value").alias("side_value"))
    return b.join(F.broadcast(s), b.auction % 25 == s.key).select(
        "auction", "bidder", "price", "b_date_time", "side_value"
    )


def _auction_stream(spark: SparkSession) -> DataFrame:
    """The generated auction table staged once as multi-file parquet, read
    back as a bounded file stream — the generator → worker loop for the
    auction side (nexmark/source.rs:32-77)."""
    import hashlib

    from flock_spark.staging import stage_once

    def write_auctions(tmp: str) -> None:
        nexmark_table(spark, "auction").repartition(4).write.mode("overwrite").parquet(tmp)

    version = hashlib.md5(
        _nexmark_sql(_H_SPARK, "ids")["auction"].encode()
    ).hexdigest()[:10]
    path = stage_once("nexmark_auction_stream", version, write_auctions)
    return (
        spark.readStream.schema(
            "a_id bigint, item_name string, description string,"
            " initial_bid bigint, reserve bigint, a_date_time timestamp,"
            " expires timestamp, seller bigint, category bigint"
        )
        .option("maxFilesPerTrigger", 2)
        .parquet(path)
    )


@register(
    "streaming_nexmark_native_q3",
    oracle=f"""
    SELECT p.name, p.city, p.state, a.a_id
    FROM ({{auction}}) a
    JOIN ({{person}}) p ON a.seller = p.p_id
    WHERE a.category = 10
      AND (p.state = 'or' OR p.state = 'id' OR p.state = 'ca')
    """.format(auction=_duck_nexmark("auction"), person=_duck_nexmark("person")),
    tags=("nexmark", "native", "streaming", "join"),
    doc="NEXMark q3 in its streaming mode: the auction stream enriched "
    "incrementally against the bounded person relation (stream-static "
    "broadcast join — the reference's q3 joins the NEXMarkSource's "
    "auction events against persons the same way, q3.sql via "
    "flock/src/datasource/nexmark/queries/). The static side re-resolves "
    "per micro-batch; the stream never shuffles. Drained append-mode "
    "result equals the batch join (nexmark_native_q3's oracle).",
)
def streaming_nexmark_native_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from flock_spark.streaming.runner import run_to_memory

    a = _auction_stream(spark).filter(F.col("category") == 10)
    p = nexmark_table(spark, "person").filter(F.col("state").isin("or", "id", "ca"))
    out = a.join(F.broadcast(p), F.col("seller") == F.col("p_id")).select(
        "name", "city", "state", "a_id"
    )
    return run_to_memory(out, output_mode="append")
