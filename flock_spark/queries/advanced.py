"""Advanced aggregate / semi-structured / skew-handling coverage.

Beyond the reference's operator surface (SURVEY §2 lists none of these), but
required of a complete analytics engine: JSON extraction over the events
props column, ordered collect/string aggregation, exact percentiles, moment
statistics computed from exact sums (deterministic cross-engine, unlike
naive stddev/corr whose float accumulation order differs), a salted-join
skew mitigation whose result provably equals the plain join, and a two-level
rollup demonstrating the continuous-aggregate (hypertable-style) pattern of
answering coarse windows from a fine-grained rollup without rescanning facts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flock_spark.catalog import tbl
from flock_spark.registry import register

SALT = 8


@register(
    "json_extract_props",
    oracle="""
    SELECT k_val, count(*) AS cnt
    FROM (SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val
          FROM events) t
    GROUP BY k_val
    """,
    tags=("json", "scalar"),
    doc="JSON field extraction from the props column (the reference decodes "
    "JSON events via arrow::json — flock/src/transmute.rs:255+; Spark reads "
    "the path with get_json_object, JVM-side).",
)
def json_extract_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = tbl(spark, sf_dir, "events")
    return (
        e.select(F.get_json_object("props", "$.k").cast("long").alias("k_val"))
        .groupBy("k_val")
        .agg(F.count("*").alias("cnt"))
    )


@register(
    "agg_collect_sorted",
    oracle="""
    SELECT event_type,
           array_to_string(list_sort(list(DISTINCT user_id % 25)), ',')
             AS user_buckets
    FROM events
    GROUP BY event_type
    """,
    tags=("aggregate", "array"),
    doc="Array aggregation: collect_set sorted for deterministic comparison "
    "(collect order is partition-dependent; the sort pins it). The sorted "
    "array is serialized to a CSV string at the output boundary — LIST "
    "output columns are banned (r6 driver finding: its canonicalizer "
    "cannot hash list cells; the serialization is canonical because the "
    "array is already sorted).",
)
def agg_collect_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = tbl(spark, sf_dir, "events")
    buckets = F.array_sort(F.collect_set(F.col("user_id") % 25))
    return e.groupBy("event_type").agg(
        F.array_join(F.transform(buckets, lambda x: x.cast("string")), ",").alias(
            "user_buckets"
        )
    )


@register(
    "agg_string_concat",
    oracle="""
    SELECT c_mktsegment, string_agg(c_name, ',' ORDER BY c_name) AS members
    FROM customer
    GROUP BY c_mktsegment
    """,
    tags=("aggregate", "string"),
    doc="Ordered string aggregation (string_agg ≈ array_join of the sorted "
    "collect list).",
)
def agg_string_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = tbl(spark, sf_dir, "customer")
    return c.groupBy("c_mktsegment").agg(
        F.array_join(F.array_sort(F.collect_list("c_name")), ",").alias("members")
    )


@register(
    "agg_percentiles",
    oracle="""
    SELECT l_returnflag,
           round(quantile_cont(l_extendedprice, 0.25), 6) AS p25,
           round(quantile_cont(l_extendedprice, 0.50), 6) AS p50,
           round(quantile_cont(l_extendedprice, 0.75), 6) AS p75
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("aggregate", "stats"),
    doc="Exact interpolated percentiles per group (Spark percentile() ≡ "
    "DuckDB quantile_cont; rounded to absorb interpolation-arithmetic ulps). "
    "At scale, percentile_approx (t-digest) replaces the exact sort — "
    "engine-specific sketches can't hash-match an oracle, so the exact form "
    "is the verified one.",
)
def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = tbl(spark, sf_dir, "lineitem")  # noqa: E741
    return l.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_extendedprice, 0.25)"), 6).alias("p25"),
        F.round(F.expr("percentile(l_extendedprice, 0.50)"), 6).alias("p50"),
        F.round(F.expr("percentile(l_extendedprice, 0.75)"), 6).alias("p75"),
    )


_STATS_SUMS = """
      SELECT l_returnflag,
             count(*) AS n,
             CAST(sum(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sx,
             CAST(sum(CAST(l_quantity * l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sxx,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS sy,
             CAST(sum(CAST(l_extendedprice * l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS syy,
             CAST(sum(CAST(l_quantity * l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS sxy
      FROM lineitem
      GROUP BY l_returnflag
"""

_STATS_SELECT = """
    SELECT l_returnflag, n,
           round(sqrt((n * sxx - sx * sx) / (n * (n - 1))), 6)  AS qty_stddev,
           round((n * sxy - sx * sy)
                 / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 6) AS qty_price_corr
    FROM sums
"""


@register(
    "agg_stats_exact",
    oracle=f"WITH sums AS ({_STATS_SUMS}) {_STATS_SELECT}",
    tags=("aggregate", "stats"),
    doc="Sample stddev + Pearson correlation computed from exact decimal "
    "moment sums (n, Σx, Σx², Σy, Σy², Σxy) instead of the built-in "
    "accumulators — the builtins' float accumulation order differs across "
    "engines/partitionings; moment sums are exact and order-insensitive, so "
    "the derived statistics are bit-deterministic. Same trick keeps stddev "
    "reproducible across cluster re-partitionings at 100 TB.",
)
def agg_stats_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    tbl(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(f"WITH sums AS ({_STATS_SUMS}) {_STATS_SELECT}")


@register(
    "approx_count_distinct_hll",
    oracle="""
    SELECT event_type,
           count(DISTINCT user_id) AS exact_users,
           count(*) AS cnt,
           TRUE AS within_3rsd
    FROM events GROUP BY event_type
    """,
    tags=("aggregate", "approx"),
    doc="HyperLogLog distinct estimate per event_type (Spark "
    "approx_count_distinct, rsd 5%), certified the only way an "
    "engine-specific sketch can be: the RAW estimate never leaves the "
    "query (each engine's HLL differs at equal inputs), but the exact "
    "count(DISTINCT) twin is emitted beside a within_3rsd verdict — "
    "integer arithmetic |approx - exact| * 100 <= 15 * exact, i.e. the "
    "estimate inside three times its advertised relative standard "
    "deviation — and the oracle asserts that verdict is literally TRUE. "
    "Spark's sketch is deterministic for a given input, so if the "
    "estimate ever left its error envelope the boolean flips and the "
    "driver's hash gate catches it: the exact column is hash-verified "
    "and the approx path is bound-verified, closing the one formerly "
    "oracle-less registry entry. The exact twin costs the "
    "count-distinct Expand; at 100 TB the point of the sketch is to "
    "SKIP that — production drops the exact column and keeps the "
    "estimate, auditing the bound on samples exactly like "
    "ann_ivf_recall_audit does for ANN. NOTE (intentional tripwire): "
    "within_3rsd depends on pyspark's HLL++ implementation (pinned here: "
    "pyspark 4.1.2, rsd floor 0.01, Aggregator in "
    "o.a.s.sql.catalyst.expressions.aggregate.HyperLogLogPlusPlus); a "
    "Spark upgrade that changes the sketch, or a regenerated fixture "
    "with an unlucky group, flips the boolean and fails this row even "
    "though nothing is semantically wrong — that is the desired alarm, "
    "and tests/test_engine.py::test_builtin_hll_estimate_within_rsd "
    "reproduces the bound check standalone for diagnosis.",
)
def approx_count_distinct_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = tbl(spark, sf_dir, "events")
    agg = e.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", 0.05).alias("approx_users"),
        F.count_distinct("user_id").alias("exact_users"),
        F.count("*").alias("cnt"),
    )
    within = (
        F.abs(F.col("approx_users") - F.col("exact_users")) * 100
        <= F.col("exact_users") * 15
    )
    return agg.select(
        "event_type", "exact_users", "cnt", within.alias("within_3rsd")
    )


@register(
    "join_salted",
    oracle="""
    SELECT c_mktsegment, count(*) AS cnt
    FROM events JOIN customer ON user_id = c_custkey
    GROUP BY c_mktsegment
    """,
    tags=("join", "skew"),
    doc=f"Skew-mitigated join: the build side is replicated {SALT}× with a "
    "salt column and the probe side joins on (key, deterministic salt), "
    "splitting each hot key across {SALT} reducers. The oracle is the plain "
    "join — salting must be semantics-preserving. (AQE's skew-join handles "
    "this automatically for sort-merge joins; explicit salting is the "
    "portable fallback for stateful/streaming joins where AQE can't help.)",
)
def join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = tbl(spark, sf_dir, "events").withColumn("salt", (F.col("event_id") % SALT).cast("int"))
    c = tbl(spark, sf_dir, "customer").crossJoin(
        spark.range(SALT).select(F.col("id").cast("int").alias("salt"))
    )
    j = e.join(c, (e.user_id == c.c_custkey) & (e.salt == c.salt))
    return j.groupBy("c_mktsegment").agg(F.count("*").alias("cnt"))


@register(
    "rollup_two_level",
    oracle="""
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS d_start,
           count(*) AS cnt,
           (CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS DOUBLE) / 1000000.0) AS sum_value
    FROM events
    GROUP BY 1
    """,
    tags=("aggregate", "window_time", "rollup"),
    doc="Continuous-aggregate pattern (hypertable rollup): facts aggregate "
    "once into an hourly rollup keeping integer micro-unit sums; the daily "
    "answer re-aggregates the 24× smaller rollup instead of rescanning "
    "facts. Integer sums re-aggregate exactly — the oracle computes daily "
    "directly from facts and must match bit-for-bit.",
)
def rollup_two_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = tbl(spark, sf_dir, "events")
    hourly = e.groupBy(F.window("ts", "1 hour").alias("w")).agg(
        F.count("*").alias("cnt"),
        F.sum(F.expr("CAST(round(value * 1000000) AS BIGINT)")).alias("sum_micro"),
    )
    daily = (
        hourly.groupBy(F.date_trunc("day", F.col("w.start")).alias("d_start"))
        .agg(
            F.sum("cnt").alias("cnt"),
            (F.sum("sum_micro").cast("double") / 1000000.0).alias("sum_value"),
        )
    )
    return daily


@register(
    "grouping_sets_agg",
    oracle="""
    SELECT c_mktsegment, c_nationkey, count(*) AS cnt,
           CAST(grouping(c_mktsegment) AS BIGINT) AS g_seg,
           CAST(grouping(c_nationkey) AS BIGINT) AS g_nat
    FROM customer
    GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey), ())
    """,
    tags=("aggregate", "grouping"),
    doc="Explicit GROUPING SETS with grouping() indicators (SURVEY §2.4 "
    "lists cube/rollup/grouping-sets as absent in the reference; provided "
    "here). Plans as one Expand + single aggregation — one pass over the "
    "fact table for all three groupings.",
)
def grouping_sets_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    tbl(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(
        """
        SELECT c_mktsegment, c_nationkey, count(*) AS cnt,
               CAST(grouping(c_mktsegment) AS BIGINT) AS g_seg,
               CAST(grouping(c_nationkey) AS BIGINT) AS g_nat
        FROM customer
        GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey), ())
        """
    )


def _roundtrip(spark: SparkSession, sf_dir: str, fmt: str) -> DataFrame:
    """Stage a 4-column orders projection once per (sf_dir, fmt) in the given
    file format, then scan it back with an explicit schema — the executed
    evidence that the format's write AND read paths work (reference sink
    formats, flock/src/datasink/mod.rs:47-63). Types are chosen to be
    roundtrip-exact in text formats (long/double/string; Java double
    serialization is shortest-roundtrip)."""
    from flock_spark.staging import stage_once

    def write_rt(tmp: str) -> None:
        o = tbl(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
        )
        w = o.repartition(2).write.mode("overwrite")
        if fmt == "csv":
            w = w.option("header", "true")
        getattr(w, fmt)(tmp)

    path = stage_once(f"rt_{fmt}_{sf_dir}", "v1-orders4col", write_rt)
    r = spark.read
    schema = "o_orderkey bigint, o_custkey bigint, o_orderstatus string, o_totalprice double"
    if fmt == "csv":
        return r.schema(schema).option("header", "true").csv(path)
    return r.schema(schema).format(fmt).load(path)


_RT_ORACLE = """
    SELECT o_orderstatus, count(*) AS cnt,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents,
           CAST(sum(o_orderkey) AS BIGINT) AS key_sum
    FROM orders
    GROUP BY o_orderstatus
"""


@register(
    "csv_roundtrip_scan",
    oracle=_RT_ORACLE,
    tags=("source", "format", "csv"),
    doc="CSV write→read round trip over orders (header, explicit schema on "
    "read — no inference pass), aggregated to prove value fidelity "
    "including doubles (shortest-roundtrip serialization).",
)
def csv_roundtrip_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _roundtrip(spark, sf_dir, "csv")
    return df.groupBy("o_orderstatus").agg(
        F.count("*").alias("cnt"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("cents"),
        F.sum("o_orderkey").alias("key_sum"),
    )


@register(
    "orc_roundtrip_scan",
    oracle=_RT_ORACLE,
    tags=("source", "format", "orc"),
    doc="ORC write→read round trip over orders (columnar alternative to "
    "parquet; binary format, exact by construction), same fidelity check.",
)
def orc_roundtrip_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _roundtrip(spark, sf_dir, "orc")
    return df.groupBy("o_orderstatus").agg(
        F.count("*").alias("cnt"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("cents"),
        F.sum("o_orderkey").alias("key_sum"),
    )


@register(
    "join_inequality_only",
    oracle="""
    SELECT a.n_name AS lo_nation, b.n_name AS hi_nation,
           b.n_nationkey - a.n_nationkey AS key_gap
    FROM nation a JOIN nation b
      ON a.n_nationkey < b.n_nationkey
    """,
    tags=("join", "theta"),
    doc="Pure inequality join — no equi-key at all, so Catalyst plans a "
    "BroadcastNestedLoopJoin (the join shape join_range_theta's "
    "equi+residual form never reaches). Valid only when one side is small "
    "enough to broadcast: O(n*m) comparisons is the unavoidable cost of a "
    "keyless theta join, and at 100 TB the correct plan is exactly this — "
    "broadcast the small side, never shuffle the big one. Reference "
    "context: Flock's theta joins always carry an equi component "
    "(benchmarks/src/nexmark/query/q4.sql BETWEEN rides on the "
    "auction-id equi join); this entry covers the degenerate case it "
    "cannot express.",
)
def join_inequality_only(spark: SparkSession, sf_dir: str) -> DataFrame:
    a = tbl(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("lo_key"), F.col("n_name").alias("lo_nation")
    )
    b = tbl(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("hi_key"), F.col("n_name").alias("hi_nation")
    )
    return (
        a.join(F.broadcast(b), F.col("lo_key") < F.col("hi_key"))
        .select(
            "lo_nation",
            "hi_nation",
            (F.col("hi_key") - F.col("lo_key")).cast("int").alias("key_gap"),
        )
    )


@register(
    "events_funnel_steps",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'signup' THEN ts END) AS first_signup,
             min(CASE WHEN event_type = 'purchase' THEN ts END) AS first_purchase
      FROM events
      GROUP BY user_id
    )
    SELECT count(*) AS n_users,
           count(first_signup) AS step_signup,
           CAST(sum(CASE WHEN first_purchase > first_signup
                         THEN 1 ELSE 0 END) AS BIGINT) AS step_purchase_after
    FROM per_user
    """,
    tags=("funnel", "aggregate", "window"),
    doc="Ordered-funnel analysis: users who signed up, then purchased "
    "strictly after — the event-sequence query behind conversion metrics. "
    "One conditional-min aggregate per step (single shuffle on user_id), "
    "then a global roll-up; no self-join of the event log, which is the "
    "naive plan that dies at 100 TB (events x events on user_id).",
)
def events_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = tbl(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias("first_signup"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "first_purchase"
        ),
    )
    return per_user.agg(
        F.count("*").alias("n_users"),
        F.count("first_signup").alias("step_signup"),
        F.sum(
            F.when(F.col("first_purchase") > F.col("first_signup"), 1).otherwise(0)
        )
        .cast("long")
        .alias("step_purchase_after"),
    )


@register(
    "pandas_udaf_weighted_mean",
    oracle="""
    SELECT user_id,
           (CAST(sum(CAST(round(value * 1000000) AS BIGINT)
                     * (event_id % 7 + 1)) AS DOUBLE)
            / CAST(sum(event_id % 7 + 1) AS DOUBLE)) / 1000000.0
             AS wavg_value
    FROM events
    GROUP BY user_id
    """,
    tags=("aggregate", "udf", "pandas"),
    doc="Custom UDAF via a GROUPED_AGG pandas_udf (Arrow-batched, one "
    "scalar per group) — the one Python-UDF family the other entries "
    "don't exercise (mapInPandas, applyInPandas, cogroup, and "
    "applyInPandasWithState cover the rest). Weighted mean with exact "
    "int64 accumulation inside the UDF (inputs pre-quantized to "
    "micro-units JVM-side), so the Python aggregate is order-insensitive "
    "and bit-matches the SQL oracle — the same fixed-point discipline "
    "fsum applies JVM-side, carried across the Arrow boundary. Note the "
    "scale caveat of any Python UDAF: no map-side partial aggregation, "
    "every group's rows cross the shuffle — fine for genuinely custom "
    "aggregates, wrong for anything expressible with builtins.",
)
def pandas_udaf_weighted_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _wavg(micro, w):
        num = int((micro.astype("int64") * w.astype("int64")).sum())
        den = int(w.astype("int64").sum())
        return float(num) / float(den)

    # the module's `from __future__ import annotations` stringifies inline
    # annotations, which pandas_udf can't interpret — attach real objects
    _wavg.__annotations__ = {"micro": pd.Series, "w": pd.Series, "return": float}
    wavg_micro = pandas_udf(_wavg, "double")

    e = tbl(spark, sf_dir, "events").select(
        "user_id",
        F.expr("CAST(round(value * 1000000) AS BIGINT)").alias("micro"),
        F.expr("event_id % 7 + 1").alias("w"),
    )
    # a GROUPED_AGG pandas UDF cannot mix with builtin aggregates in one
    # agg() (INVALID_PANDAS_UDF_PLACEMENT) — emit the custom aggregate alone
    return e.groupBy("user_id").agg(
        (wavg_micro("micro", "w") / 1000000.0).alias("wavg_value")
    )


@register(
    "events_retention_cohorts",
    oracle="""
    WITH first_seen AS (
      SELECT user_id, CAST(date_trunc('week', min(ts)) AS TIMESTAMP) AS cohort_week
      FROM events GROUP BY user_id
    ), activity AS (
      SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS TIMESTAMP) AS act_week
      FROM events
    )
    SELECT f.cohort_week,
           CAST(date_diff('day', f.cohort_week, a.act_week) // 7 AS BIGINT)
             AS week_offset,
           count(*) AS n_active_users
    FROM activity a JOIN first_seen f ON a.user_id = f.user_id
    GROUP BY 1, 2
    """,
    tags=("aggregate", "cohort", "window_time"),
    doc="Cohort retention matrix: users bucketed by first-seen week, counted "
    "in each later activity week by offset — the analysis behind every "
    "retention curve. Two aggregates on user_id (first-seen and distinct "
    "activity weeks) share one shuffle key, then the cohort matrix is a "
    "tiny |weeks|^2 aggregate; both week columns are week-truncated, so "
    "the day difference is an exact multiple of 7 and the offset is "
    "integer arithmetic on both engines. No per-cohort scans, no "
    "self-join of the raw log.",
)
def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = tbl(spark, sf_dir, "events")
    first_seen = e.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    activity = e.select(
        "user_id", F.date_trunc("week", "ts").alias("act_week")
    ).distinct()
    return (
        activity.join(first_seen, "user_id")
        .select(
            "cohort_week",
            F.expr("CAST(datediff(act_week, cohort_week) div 7 AS BIGINT)").alias(
                "week_offset"
            ),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count("*").alias("n_active_users"))
    )


_PROFILE_COLS = ["event_id", "user_id", "value", "event_type"]


def _profile_branch(col: str) -> str:
    return f"""
      SELECT '{col}' AS col,
             count(*) AS n_rows,
             count({col}) AS n_nonnull,
             CAST(count(DISTINCT {col}) AS BIGINT) AS n_distinct,
             CAST(min(CAST({col} AS DOUBLE)) AS DOUBLE) AS min_num,
             CAST(max(CAST({col} AS DOUBLE)) AS DOUBLE) AS max_num
      FROM events"""


def _profile_sql() -> str:
    branches = []
    for c in _PROFILE_COLS:
        b = _profile_branch(c)
        if c == "event_type":  # non-numeric: profile counts only
            b = b.replace(
                f"CAST(min(CAST({c} AS DOUBLE)) AS DOUBLE) AS min_num",
                "CAST(NULL AS DOUBLE) AS min_num",
            ).replace(
                f"CAST(max(CAST({c} AS DOUBLE)) AS DOUBLE) AS max_num",
                "CAST(NULL AS DOUBLE) AS max_num",
            )
        branches.append(b)
    return "\n      UNION ALL\n".join(branches)


@register(
    "table_profile_stats",
    oracle=_profile_sql(),
    tags=("aggregate", "profiling"),
    doc="ANALYZE-style column profile: per column, row/non-null/distinct "
    "counts plus numeric min/max — the statistics pass every ingestion "
    "pipeline runs before trusting a new table (and what a cost-based "
    "optimizer feeds on). One aggregate per column over a shared scan; at "
    "100 TB each branch is a two-phase aggregate whose exchange carries "
    "one row, and the distinct counts would switch to the HLL sketch "
    "(hll_sketch_portable) when exactness isn't required.",
)
def table_profile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    tbl(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_profile_sql())


HIST_BUCKET = 50.0


@register(
    "events_value_histogram",
    oracle=f"""
    SELECT CAST(floor(value / {HIST_BUCKET}) AS BIGINT) AS bucket,
           CAST(floor(value / {HIST_BUCKET}) * {HIST_BUCKET} AS DOUBLE) AS bucket_lo,
           count(*) AS cnt,
           CAST(min(value) AS DOUBLE) AS min_v,
           CAST(max(value) AS DOUBLE) AS max_v
    FROM events
    GROUP BY 1, 2
    """,
    tags=("aggregate", "profiling", "histogram"),
    doc=f"Equi-width numeric histogram (width {HIST_BUCKET}): the binned "
    "distribution profile behind data-quality dashboards and optimizer "
    "range statistics. Bucketing is floor division (exact on both "
    "engines), one two-phase aggregate, |buckets| output rows.",
)
def events_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = tbl(spark, sf_dir, "events")
    b = F.floor(F.col("value") / HIST_BUCKET)
    return (
        e.groupBy(
            b.cast("long").alias("bucket"),
            (b * HIST_BUCKET).cast("double").alias("bucket_lo"),
        )
        .agg(
            F.count("*").alias("cnt"),
            F.min("value").cast("double").alias("min_v"),
            F.max("value").cast("double").alias("max_v"),
        )
    )


@register(
    "array_hof_funcs",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(trim(text), ' ') AS toks FROM documents)
    SELECT doc_id,
           CAST(len(list_filter(toks, x -> length(x) > 4)) AS BIGINT) AS n_long,
           COALESCE(CAST(list_sum(list_transform(list_filter(toks, x -> length(x) > 4),
                                                 x -> length(x))) AS BIGINT),
                    0) AS len_long,
           COALESCE(array_to_string(list_sort(list_filter(toks, x -> length(x) > 4))[1:3],
                                    '|'), '') AS top3_sorted
    FROM t
    """,
    tags=("functions", "array", "hof"),
    doc="Higher-order array functions — filter / transform / aggregate / "
    "array_sort / slice — over a tokenized text column, entirely inside "
    "whole-stage codegen (no UDF, no explode): the per-row lambda pipeline "
    "the reference would express as nested DataFusion scalar functions. "
    "Staying lambda-side instead of explode+groupBy avoids materializing "
    "one row per token (a ~100× pre-shuffle blowup on real corpora); the "
    "plan is a pure narrow projection — no shuffle at all.",
)
def array_hof_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tbl(spark, sf_dir, "documents")
    toks = F.split(F.trim("text"), " ")
    long_toks = F.filter(toks, lambda x: F.length(x) > 4)
    return d.select(
        "doc_id",
        F.size(long_toks).cast("bigint").alias("n_long"),
        # COALESCE mirrors the oracle: a NULL text makes split() NULL and
        # the whole lambda pipeline NULL-propagates, where the oracle pins
        # 0 / '' — unreachable with the current generator (no NULL texts)
        # but kept aligned so a future NULL row can't silently diverge
        F.coalesce(
            F.aggregate(
                F.transform(long_toks, lambda x: F.length(x).cast("bigint")),
                F.lit(0).cast("bigint"),
                lambda acc, x: acc + x,
            ),
            F.lit(0).cast("bigint"),
        ).alias("len_long"),
        F.coalesce(
            F.array_join(F.slice(F.array_sort(long_toks), 1, 3), "|"), F.lit("")
        ).alias("top3_sorted"),
    )


@register(
    "udtf_long_tokens",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(trim(text), ' ') AS toks FROM documents),
    ix AS (SELECT doc_id, toks, unnest(generate_series(1, len(toks))) AS pos FROM t)
    SELECT doc_id, CAST(pos AS BIGINT) AS pos, toks[pos] AS token
    FROM ix WHERE length(toks[pos]) > 4
    """,
    tags=("functions", "udtf", "pandas_udf"),
    doc="Python UDTF (table function) surface: a lateral-joined generator "
    "that expands each document into (position, token) rows for tokens "
    "longer than 4 chars — completing the UDF/UDAF/UDTF machinery triad "
    "(SURVEY §2.11; the reference registers no UDFs at all, so this whole "
    "surface is beyond-reference). The UDTF is the API-parity "
    "demonstration; the SAME expansion at 100 TB belongs in explode() or "
    "mapInPandas (array_hof_funcs / text entries show both) because "
    "row-at-a-time Python UDTF evaluation is the slow path — the docstring "
    "IS the warning label. Tokenization (trim spaces, split on single "
    "space, 1-based positions) matches the SQL oracle exactly.",
)
def udtf_long_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos bigint, token string")
    class LongTokens:
        def eval(self, text: str):
            if text is None:
                # NULL text expands to zero rows (the oracle's unnest over a
                # NULL list) — same NULL-skip convention as mm_phash64
                return
            # strip/split must mirror SQL trim()/string_split(' ') exactly:
            # strip SPACES only, and keep empty tokens from double spaces
            for i, tok in enumerate(text.strip(" ").split(" "), start=1):
                if len(tok) > 4:
                    yield i, tok

    spark.udtf.register("flock_long_tokens", LongTokens)
    tbl(spark, sf_dir, "documents").createOrReplaceTempView("udtf_docs_src")
    return spark.sql(
        "SELECT d.doc_id, t.pos, t.token "
        "FROM udtf_docs_src d, LATERAL flock_long_tokens(d.text) t"
    )


_SPEARMAN_SQL = """
    WITH ranked AS (
      SELECT l_returnflag,
             row_number() OVER (PARTITION BY l_returnflag
                                ORDER BY l_quantity, l_orderkey, l_linenumber) AS rx,
             row_number() OVER (PARTITION BY l_returnflag
                                ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS ry
      FROM lineitem),
    agg AS (
      -- rank difference widened to BIGINT BEFORE squaring: Spark row_number
      -- is INT and d^2 overflows int32 past ~46k rows/group (raises under
      -- ANSI, silently wraps without it); the BIGINT square is exact to
      -- ~3e9 rows/group and the DECIMAL(38,0) sum is exact beyond that
      SELECT l_returnflag, count(*) AS n,
             CAST(sum(CAST((CAST(rx AS BIGINT) - ry) * (CAST(rx AS BIGINT) - ry)
                           AS DECIMAL(38,0))) AS DOUBLE) AS sd2
      FROM ranked GROUP BY l_returnflag)
    SELECT l_returnflag, n,
           round(1 - 6 * sd2 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) - 1)),
                 6) AS spearman_rho
    FROM agg
"""


@register(
    "agg_spearman_rank_corr",
    oracle=_SPEARMAN_SQL,
    tags=("aggregate", "stats", "window"),
    doc="Spearman rank correlation per group from INTEGER rank differences: "
    "both variables rank via row_number with a full unique tie-break "
    "(quantity/price, then orderkey, linenumber — deterministic tie "
    "resolution rather than average ranks; documented, not hidden), so "
    "Σd² is an exact integer (DECIMAL(38,0) accumulation — "
    "order-insensitive at any partitioning) and ρ = 1 − 6Σd²/(n(n²−1)) is "
    "one double expression over exact inputs — bit-identical cross-engine "
    "where Pearson-on-ranks built-ins drift with float accumulation order. "
    "Cost: two window sorts over one group shuffle, then a partial-final "
    "integer aggregate.",
)
def agg_spearman_rank_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    tbl(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(_SPEARMAN_SQL)


@register(
    "anomaly_zscore_flags",
    oracle="""
    WITH sums AS (
      SELECT event_type, count(*) AS n,
             CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sx,
             CAST(sum(CAST(value * value AS DECIMAL(38,6))) AS DOUBLE) AS sxx
      FROM events GROUP BY event_type),
    stats AS (
      SELECT event_type, sx / n AS mu,
             sqrt((n * sxx - sx * sx) / (n * (n - 1))) AS sd
      FROM sums)
    SELECT e.event_id, e.event_type, e.value,
           round((e.value - s.mu) / s.sd, 6) AS z
    FROM events e JOIN stats s ON e.event_type = s.event_type
    WHERE e.value > s.mu + 2 * s.sd
    """,
    tags=("stats", "join", "scale-pattern"),
    doc="Two-pass anomaly detection: per-key mean/stddev from exact decimal "
    "moment sums (pass 1 — a partial-final aggregate to a KEYS-sized "
    "relation), broadcast back against the fact table to flag rows beyond "
    "mean + 2σ (pass 2 — a map-side filter, no shuffle of the fact). "
    "Because the stats derive from exact order-insensitive sums, the "
    "flagged SET is deterministic under any partitioning — naive "
    "stddev accumulation would make the boundary rows partitioning-"
    "dependent. The standard outlier sweep a data-quality pipeline runs "
    "per ingest batch.",
)
def anomaly_zscore_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = tbl(spark, sf_dir, "events")
    sums = e.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast("decimal(38,6)")).cast("double").alias("sx"),
        F.sum((F.col("value") * F.col("value")).cast("decimal(38,6)")).cast("double").alias("sxx"),
    )
    stats = sums.select(
        "event_type",
        (F.col("sx") / F.col("n")).alias("mu"),
        F.sqrt((F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
               / (F.col("n") * (F.col("n") - 1))).alias("sd"),
    )
    j = e.join(F.broadcast(stats), "event_type")
    return j.filter(F.col("value") > F.col("mu") + 2 * F.col("sd")).select(
        "event_id",
        "event_type",
        "value",
        F.round((F.col("value") - F.col("mu")) / F.col("sd"), 6).alias("z"),
    )


_TRANSITION_SQL = """
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events),
    cnt AS (
      SELECT prev_type, event_type AS next_type, count(*) AS n
      FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2)
    SELECT prev_type, next_type, n,
           round(CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY prev_type),
                 6) AS p
    FROM cnt
"""


@register(
    "events_transition_matrix",
    oracle=_TRANSITION_SQL,
    tags=("events", "window", "aggregate"),
    doc="First-order Markov transition matrix of user behavior: each user's "
    "event stream is ordered (ts, event_id — unique tie-break) and lag() "
    "pairs every event with its predecessor, grouped into (prev, next) "
    "counts with row-normalized transition probabilities (one window over "
    "the tiny counts relation). The sequential-pattern primitive of "
    "product analytics. One user-keyed shuffle for the sequencing — the "
    "same shuffle the funnel and sessionization entries ride — then the "
    "transition aggregate is states² rows at any corpus size; the "
    "probability is a single division of identical exact integers, so the "
    "matrix is bit-deterministic cross-engine.",
)
def events_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    tbl(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_TRANSITION_SQL)


@register(
    "arrow_grouped_minmax",
    oracle="""
    SELECT event_type,
           count(*) AS cnt,
           CAST(round(min(value) * 100) AS BIGINT) AS min_cents,
           CAST(round(max(value) * 100) AS BIGINT) AS max_cents,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
    FROM events
    GROUP BY event_type
    """,
    tags=("functions", "arrow_udf", "aggregate"),
    doc="Grouped-map via applyInArrow — the zero-copy sibling of "
    "applyInPandas added in Spark 4: the handler receives each group as a "
    "raw pyarrow.Table (no pandas conversion, no index materialization — "
    "measurably cheaper for wide/numeric groups) and returns a pyarrow "
    "Table. Completes the Python-interop surface next to pandas_udf / "
    "applyInPandas[WithState] / mapInPandas / cogroup / UDTF. Arithmetic "
    "is fixed-point cents computed with pyarrow.compute kernels "
    "(vectorized C++, matching the SQL oracle's integer math exactly). "
    "Same scale shape as any grouped-map: one shuffle on the key, then "
    "per-group Arrow batches.",
)
def arrow_grouped_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pyarrow as pa
    import pyarrow.compute as pc

    e = tbl(spark, sf_dir, "events").select("event_type", "value")

    def minmax(table: pa.Table) -> pa.Table:
        # pc.round defaults to half-to-even; SQL round() is half away from
        # zero — a value landing exactly on a half-cent would diverge
        cents = pc.cast(
            pc.round(
                pc.multiply(table["value"], pa.scalar(100.0)),
                options=pc.RoundOptions(round_mode="half_towards_infinity"),
            ),
            pa.int64(),
        )
        return pa.table(
            {
                "event_type": [table["event_type"][0].as_py()],
                "cnt": pa.array([table.num_rows], pa.int64()),
                "min_cents": pa.array([pc.min(cents).as_py()], pa.int64()),
                "max_cents": pa.array([pc.max(cents).as_py()], pa.int64()),
                "sum_cents": pa.array([pc.sum(cents).as_py()], pa.int64()),
            }
        )

    return e.groupBy("event_type").applyInArrow(
        minmax,
        schema="event_type string, cnt long, min_cents long, max_cents long, sum_cents long",
    )


_CUM_UNIQUE_SQL = """
    WITH first_day AS (
      SELECT user_id, min(CAST(date_trunc('day', ts) AS TIMESTAMP)) AS d0
      FROM events GROUP BY user_id),
    new_users AS (
      SELECT d0 AS day, count(*) AS n_new FROM first_day GROUP BY d0)
    SELECT day, n_new,
           CAST(sum(n_new) OVER (ORDER BY day
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS cum_unique_users
    FROM new_users
"""


@register(
    "events_cumulative_unique_users",
    oracle=_CUM_UNIQUE_SQL,
    tags=("events", "window", "aggregate", "scale-pattern"),
    doc="Cumulative unique users per day — the growth curve every product "
    "dashboard draws. A running COUNT(DISTINCT) window is not directly "
    "computable (distinct state per frame), so it lowers to the standard "
    "first-occurrence rewrite: min(day) per user (one user-keyed "
    "aggregate), new-user counts per day (a days-sized relation), and a "
    "running sum over days. The expensive distinct work happens ONCE in "
    "the per-user aggregate — map-side combinable, linear — and the "
    "window runs over |days| rows regardless of corpus size; the naive "
    "per-day COUNT(DISTINCT user WHERE day <= d) rescans the corpus "
    "per day, O(days × corpus).",
)
def events_cumulative_unique_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    tbl(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_CUM_UNIQUE_SQL)


_RFM_SQL = """
    WITH m AS (
      SELECT user_id,
             max(ts) AS last_ts,
             count(*) AS freq,
             sum(CAST(round(value * 100) AS BIGINT)) AS monetary_cents
      FROM events WHERE event_type = 'purchase' GROUP BY user_id),
    seg AS (
      SELECT user_id, freq, monetary_cents,
             CASE WHEN last_ts >= TIMESTAMP '2024-01-25 00:00:00'
                  THEN 'recent' ELSE 'lapsed' END AS r,
             CASE WHEN freq >= 13 THEN 'hi' ELSE 'lo' END AS f,
             CASE WHEN monetary_cents >= 60000 THEN 'hi' ELSE 'lo' END AS mseg
      FROM m)
    SELECT r, f, mseg,
           count(*) AS n_users,
           CAST(sum(freq) AS BIGINT) AS total_purchases,
           CAST(sum(monetary_cents) AS BIGINT) AS total_cents
    FROM seg GROUP BY r, f, mseg
"""


@register(
    "events_rfm_segments",
    oracle=_RFM_SQL,
    tags=("events", "aggregate", "pipeline"),
    doc="RFM (recency / frequency / monetary) customer segmentation over "
    "purchase events: per-user metrics in one keyed aggregate, then fixed "
    "threshold buckets (constants, not data-dependent ntiles — thresholds "
    "derived from quantiles drift between runs and engines; production "
    "RFM pins them per campaign exactly like this) rolled up to the 8 "
    "segments. Two aggregates, the second over a users-sized relation; "
    "monetary is fixed-point cents so the segment totals are exact. The "
    "standard activation/churn slicing a marketing warehouse runs daily.",
)
def events_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    tbl(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_RFM_SQL)


def _nullsafe_sql(json_fn: str, nullsafe_eq: str) -> str:
    """One template, two dialects — a one-sided edit can't desync them."""
    key = f"nullif(CAST({json_fn}(props, '$.k') AS BIGINT) % 7, 0)"
    return f"""
    WITH a AS (SELECT {key} AS k, count(*) AS cnt_a
               FROM events WHERE event_id % 2 = 0 GROUP BY 1),
    b AS (SELECT {key} AS k, count(*) AS cnt_b
          FROM events WHERE event_id % 2 = 1 GROUP BY 1)
    SELECT a.k, cnt_a, cnt_b
    FROM a JOIN b ON a.k {nullsafe_eq} b.k
"""


_NULLSAFE_SQL_SPARK = _nullsafe_sql("get_json_object", "<=>")
_NULLSAFE_SQL_DUCK = _nullsafe_sql("json_extract_string", "IS NOT DISTINCT FROM")


@register(
    "join_null_safe_eq",
    oracle=_NULLSAFE_SQL_DUCK,
    tags=("join", "semantics"),
    doc="Null-safe equality join (Spark `<=>` ≡ ANSI IS NOT DISTINCT FROM): "
    "two halves of the event stream aggregate on a DELIBERATELY nullable "
    "key (nullif(k % 7, 0) — the k≡0 bucket becomes NULL on both sides), "
    "and the null-safe join matches the NULL groups that a plain equi-join "
    "silently drops — the row the hash comparison would miss is exactly "
    "the one under test. Null-safe joins still hash-partition (NULL is a "
    "partitionable key value under <=>), so the plan is a normal shuffle "
    "join; the semantic trap is correctness, not scale: a plain = here "
    "loses a 1/7 slice of the data without erroring.",
)
def join_null_safe_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    tbl(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_NULLSAFE_SQL_SPARK)


_CUSUM_SQL = """
    WITH d AS (
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events GROUP BY 1),
    c AS (
      -- n/total as unbounded windows over the days relation (NOT a scalar
      -- CTE: inlining a scalar subquery would re-scan events and recompute
      -- the daily aggregate — the plan showed two full Scan+Aggregate
      -- subtrees); the window runs over ~|days| rows, one corpus pass total
      SELECT day, cents,
             count(*) OVER () AS n,
             CAST(sum(cents) OVER () AS BIGINT) AS total
      FROM d),
    c2 AS (
      SELECT day, cents,
             CAST(sum(cents * n - total) OVER (
               ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cusum_scaled
      FROM c)
    SELECT day, cents, cusum_scaled,
           abs(cusum_scaled) > 5000000 AS drift_flag
    FROM c2
"""


@register(
    "events_cusum_drift",
    oracle=_CUSUM_SQL,
    tags=("events", "stats", "window", "timeseries"),
    doc="CUSUM drift detection over the daily revenue series, entirely in "
    "integer arithmetic: the classic cumulative sum of deviations from the "
    "period mean is rescaled by n (cusum_k = Σ(n·x_i − total)) so no "
    "division ever happens — the statistic is an exact BIGINT at every "
    "step, bit-identical cross-engine where a float CUSUM depends on "
    "accumulation order. Days exceeding a fixed threshold flag as drift. "
    "Two passes (daily aggregate, then a scalar total broadcast back) and "
    "one window over the days-sized relation — the monitoring shape a "
    "data-quality pipeline runs per partition per day at 100 TB.",
)
def events_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    tbl(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_CUSUM_SQL)


def _streak_sql(day_no_expr: str) -> str:
    """Dialect template: Spark datediff(end, start) vs DuckDB
    date_diff('day', start, end) — only the day-number expression differs."""
    return f"""
    WITH days AS (
      SELECT DISTINCT user_id,
             CAST(date_trunc('day', ts) AS TIMESTAMP) AS day
      FROM events),
    serial AS (
      SELECT user_id, day,
             CAST({day_no_expr} AS BIGINT) AS day_no
      FROM days),
    islands AS (
      SELECT user_id, day_no,
             day_no - row_number() OVER (PARTITION BY user_id
                                         ORDER BY day_no) AS grp
      FROM serial),
    runs AS (
      SELECT user_id, count(*) AS streak_len, min(day_no) AS start_day_no
      FROM islands GROUP BY user_id, grp)
    SELECT user_id,
           max(streak_len) AS max_streak,
           count(*) AS n_streaks,
           min(start_day_no) AS first_day_no
    FROM runs GROUP BY user_id
"""


_EPOCH_TS = "TIMESTAMP '2024-01-01 00:00:00'"


@register(
    "events_max_active_streak",
    oracle=_streak_sql(f"date_diff('day', {_EPOCH_TS}, day)"),
    tags=("events", "window", "aggregate"),
    doc="Longest consecutive-active-days streak per user — the classic "
    "gaps-and-islands on day serials: distinct active days, a day number "
    "(integer date diff from a fixed epoch), and the identity that "
    "day_no − row_number() is CONSTANT within a consecutive run, so one "
    "user-keyed window plus two aggregates finds every streak without a "
    "self-join or recursion. Retention/engagement's core metric. The "
    "distinct-days reduction happens first (map-side combinable), so the "
    "window runs over user-days, not raw events; everything after is "
    "integer-exact.",
)
def events_max_active_streak(spark: SparkSession, sf_dir: str) -> DataFrame:
    tbl(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_streak_sql(f"datediff(day, {_EPOCH_TS})"))


# ---------------------------------------------------------------------------
# Blocked fuzzy join (edit distance) + sequence-pattern window
# ---------------------------------------------------------------------------

FUZZY_MAXDIST = 2
FUZZY_TITLE_LEN = 12
FUZZY_BLOCK_LEN = 2
FUZZY_SAMPLE_MOD = 2  # deterministic 1/2 subset keeps the oracle's
# within-block pair count bounded at every SF while the match set stays
# dense enough to verify (26/34/2207 pairs at sf0.001/0.01/0.1; 1/10
# sampling left only 2 pairs at sf<=0.01 — near-vacuous driver evidence)


@register(
    "join_fuzzy_levenshtein",
    oracle=f"""
    WITH titles AS (
      SELECT doc_id, substring(trim(text), 1, {FUZZY_TITLE_LEN}) AS title
      FROM documents WHERE doc_id % {FUZZY_SAMPLE_MOD} = 0),
    blocked AS (
      SELECT doc_id, title,
             substring(title, 1, {FUZZY_BLOCK_LEN}) AS blk
      FROM titles)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(levenshtein(a.title, b.title) AS BIGINT) AS dist
    FROM blocked a JOIN blocked b
      ON a.blk = b.blk AND a.doc_id < b.doc_id
    WHERE levenshtein(a.title, b.title) BETWEEN 1 AND {FUZZY_MAXDIST}
    """,
    tags=("join", "dedup", "fuzzy", "scale-pattern"),
    doc=f"Blocked fuzzy join: {FUZZY_TITLE_LEN}-char title keys match when "
    f"their edit distance is 1..{FUZZY_MAXDIST} (0 = exact dup, covered by "
    "dedup_exact), candidates generated by equi-joining on a "
    f"{FUZZY_BLOCK_LEN}-char prefix block — the standard entity-resolution "
    "lowering: the quadratic edit-distance predicate only ever runs INSIDE "
    "blocks, so the join is a keyed shuffle whose cost tracks true "
    "near-matches, never |rows|². Blocking is lossy by design (an edit "
    "inside the block prefix escapes; production stacks 2-3 "
    "complementary blockings — prefix, suffix, length-band — and unions, "
    "exactly like the multi-signal MinHash ∪ SimHash ER entry). Both "
    "engines' levenshtein() agree exactly (integer DP), so the oracle "
    "replays the identical blocked join.",
)
def join_fuzzy_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tbl(spark, sf_dir, "documents")
    titles = d.filter(F.col("doc_id") % FUZZY_SAMPLE_MOD == 0).select(
        "doc_id", F.substring(F.trim("text"), 1, FUZZY_TITLE_LEN).alias("title")
    )
    blocked = titles.withColumn("blk", F.substring("title", 1, FUZZY_BLOCK_LEN))
    a = blocked.alias("a")
    b = blocked.alias("b")
    dist = F.levenshtein(F.col("a.title"), F.col("b.title"))
    return (
        a.join(b, (F.col("a.blk") == F.col("b.blk")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .filter(dist.between(1, FUZZY_MAXDIST))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            dist.cast("long").alias("dist"),
        )
    )


PATTERN_GAP_S = 86400  # max seconds between consecutive steps (1 day:
# the synthetic event stream is sparse per user — a 30-min gap matched
# ~0 triples at sf<=0.01, making the entry vacuous as driver evidence)


@register(
    "events_pattern_3step",
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
      AND ts <= prev_ts + INTERVAL {PATTERN_GAP_S} SECOND
      AND next_ts <= ts + INTERVAL {PATTERN_GAP_S} SECOND
    """,
    tags=("events", "window", "pattern"),
    doc="Sequence-pattern detection (MATCH_RECOGNIZE-lite): strictly "
    "consecutive view → click → purchase triples per user, each step "
    f"within {PATTERN_GAP_S} s of the previous — one lag/lead window over "
    "the (user, time)-ordered event stream, so the whole pattern matcher "
    "is ONE user-keyed shuffle + sort regardless of corpus size (the "
    "event-log self-join formulation shuffles the log once per pattern "
    "step and dies at scale; events_funnel_steps is the non-consecutive "
    "variant of the same discipline). Deterministic ordering via the "
    "(ts, event_id) tie-break; gap tests compare full-microsecond "
    "timestamps against an INTERVAL bound identically on both engines "
    "(never second-floored epochs, whose truncation differs between "
    "Spark unix_timestamp and DuckDB epoch for sub-second gaps near the "
    "boundary).",
)
def events_pattern_3step(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    e = tbl(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "user_id",
        "ts",
        "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
        F.lag("ts").over(w).alias("prev_ts"),
        F.lead("event_type").over(w).alias("next_type"),
        F.lead("ts").over(w).alias("next_ts"),
    )
    gap = F.expr(f"INTERVAL {PATTERN_GAP_S} SECOND")
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


# ---------------------------------------------------------------------------
# Data-quality constraint audit (Deequ-style)
# ---------------------------------------------------------------------------

_DQ_COUNTERS = """
      SELECT count(*) AS n_rows,
             CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS v_null_custkey,
             CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT)
               AS v_dup_orderkey,
             CAST(sum(CASE WHEN o_totalprice > 400000 THEN 1 ELSE 0 END) AS BIGINT)
               AS v_price_range,
             CAST(sum(CASE WHEN o_orderstatus NOT IN ('O', 'F') THEN 1 ELSE 0 END) AS BIGINT)
               AS v_status_set,
             CAST(sum(CASE WHEN o_orderdate >= TIMESTAMP '2001-01-01 00:00:00'
                           THEN 1 ELSE 0 END) AS BIGINT)
               AS v_stale_date
      FROM orders
"""


@register(
    "table_quality_checks",
    oracle=f"""
    WITH c AS ({_DQ_COUNTERS})
    SELECT rule, n_rows, n_violations,
           round(CAST(n_violations AS DOUBLE) / n_rows, 6) AS violation_rate
    FROM (
      SELECT 'not_null_custkey' AS rule, n_rows, v_null_custkey AS n_violations FROM c
      UNION ALL SELECT 'unique_orderkey', n_rows, v_dup_orderkey FROM c
      UNION ALL SELECT 'price_le_400k', n_rows, v_price_range FROM c
      UNION ALL SELECT 'status_in_O_F', n_rows, v_status_set FROM c
      UNION ALL SELECT 'date_before_2001', n_rows, v_stale_date FROM c) t
    """,
    tags=("aggregate", "audit", "pipeline"),
    doc="Declarative data-quality constraint audit (the Deequ/dbt-test "
    "shape): five rules — completeness (no NULL keys), uniqueness (no "
    "duplicate order keys, via the count-minus-distinct identity), a "
    "numeric range, set membership, and date freshness — evaluated in ONE "
    "pass over the table as conditional partial sums, then unpivoted to "
    "one audit row per rule. Three rules genuinely fire on this corpus "
    "(range, set, freshness), so the hash gate checks real violation "
    "counts. A rule-per-query formulation scans the table once per rule; "
    "the single-aggregate form is the only shape that holds at 100 TB, "
    "and new rules are new counter columns, not new scans (the "
    "COUNT(DISTINCT) uniqueness counter adds the one Expand the plan "
    "needs; everything else is map-side partial sums).",
)
def table_quality_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    tbl(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    counters = spark.sql(_DQ_COUNTERS)
    stacked = counters.selectExpr(
        "n_rows",
        "stack(5, "
        "'not_null_custkey', v_null_custkey, "
        "'unique_orderkey', v_dup_orderkey, "
        "'price_le_400k', v_price_range, "
        "'status_in_O_F', v_status_set, "
        "'date_before_2001', v_stale_date) AS (rule, n_violations)",
    )
    return stacked.select(
        "rule",
        "n_rows",
        "n_violations",
        F.round(F.col("n_violations").cast("double") / F.col("n_rows"), 6).alias(
            "violation_rate"
        ),
    )

@register(
    "events_pattern_kleene",
    oracle=f"""
    WITH seq AS (
      SELECT user_id, ts, event_type,
             row_number() OVER w AS rn,
             lag(event_type) OVER w AS prev_type,
             lag(ts) OVER w AS prev_ts
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    clicks AS (
      SELECT user_id, rn, ts, prev_type, prev_ts,
             CASE WHEN prev_type = 'click'
                   AND ts <= prev_ts + INTERVAL {PATTERN_GAP_S} SECOND
                  THEN 0 ELSE 1 END AS brk
      FROM seq WHERE event_type = 'click'),
    runs0 AS (
      SELECT user_id, rn, ts, prev_type, prev_ts, brk,
             sum(brk) OVER (PARTITION BY user_id ORDER BY rn) AS run_id
      FROM clicks),
    runs AS (
      SELECT user_id, run_id, max(rn) AS last_rn,
             CAST(count(*) AS BIGINT) AS n_clicks,
             max(CASE WHEN brk = 1 THEN prev_type END) AS head_type,
             max(CASE WHEN brk = 1 THEN prev_ts END) AS head_ts,
             max(CASE WHEN brk = 1 THEN
                   CASE WHEN prev_ts IS NOT NULL
                         AND ts <= prev_ts + INTERVAL {PATTERN_GAP_S} SECOND
                        THEN 1 ELSE 0 END END) AS head_ok
      FROM runs0 GROUP BY user_id, run_id),
    purch AS (
      SELECT user_id, rn, ts, prev_type, prev_ts
      FROM seq
      WHERE event_type = 'purchase' AND prev_ts IS NOT NULL
        AND ts <= prev_ts + INTERVAL {PATTERN_GAP_S} SECOND)
    SELECT p.user_id, r.head_ts AS t_view, r.n_clicks, p.ts AS t_purchase
    FROM purch p JOIN runs r
      ON p.user_id = r.user_id AND r.last_rn = p.rn - 1
    WHERE p.prev_type = 'click' AND r.head_type = 'view' AND r.head_ok = 1
    UNION ALL
    SELECT user_id, prev_ts AS t_view, CAST(0 AS BIGINT) AS n_clicks,
           ts AS t_purchase
    FROM purch WHERE prev_type = 'view'
    """,
    tags=("events", "window", "pattern"),
    doc="Kleene-star pattern matching (MATCH_RECOGNIZE `view click* "
    "purchase`): strictly-consecutive matches where any NUMBER of clicks "
    "may sit between the view and the purchase, every adjacent gap ≤ "
    f"{PATTERN_GAP_S} s. The star is compiled to gaps-and-islands: one "
    "lag window marks click-run breaks (non-click predecessor or "
    "over-gap), a running sum names the runs, and a purchase joins the "
    "run ending immediately before it — so arbitrary-length matches "
    "cost ONE user-keyed window pass plus one join of the (tiny) run "
    "summary, where the naive per-length self-join family explodes "
    "combinatorially and a backtracking NFA (the MATCH_RECOGNIZE "
    "default) cannot distribute at all. Head/zero-click cases are exact; "
    "gap tests compare full-microsecond timestamps with INTERVAL bounds "
    "identically on both engines (events_pattern_3step's discipline). "
    "At 100 TB: the event log shuffles ONCE on user_id; run summaries "
    "are |runs| rows, orders of magnitude smaller.",
)
def events_pattern_kleene(spark: SparkSession, sf_dir: str) -> DataFrame:
    return kleene_match(tbl(spark, sf_dir, "events"))


def kleene_match(e: DataFrame) -> DataFrame:
    """Shared lowering for the batch entry and its streaming twin
    (streaming_pattern_kleene): input needs (user_id, ts, event_id,
    event_type) columns."""
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.expr(f"INTERVAL {PATTERN_GAP_S} SECOND")
    seq = e.select(
        "user_id",
        "ts",
        "event_type",
        F.row_number().over(w).alias("rn"),
        F.lag("event_type").over(w).alias("prev_type"),
        F.lag("ts").over(w).alias("prev_ts"),
    )
    if not e.isStreaming:
        # seq feeds three consumers (click runs, the starred purchase
        # probe, the zero-click purchase probe) and Spark re-plans the
        # user-keyed window per consumer — pin the windowed log so the
        # sort+window runs once (the streaming twin stays lazy: a
        # checkpoint is illegal mid-stream, and its micro-batches are
        # bounded anyway)
        seq = seq.localCheckpoint(eager=True)
    in_gap = F.col("ts") <= F.col("prev_ts") + gap
    clicks = seq.filter(F.col("event_type") == "click").withColumn(
        "brk",
        F.when((F.col("prev_type") == "click") & in_gap, F.lit(0)).otherwise(F.lit(1)),
    )
    wr = W.partitionBy("user_id").orderBy("rn")
    runs0 = clicks.withColumn("run_id", F.sum("brk").over(wr))
    head_ok = F.when(
        F.col("brk") == 1,
        F.when(F.col("prev_ts").isNotNull() & in_gap, F.lit(1)).otherwise(F.lit(0)),
    )
    runs = runs0.groupBy("user_id", "run_id").agg(
        F.max("rn").alias("last_rn"),
        F.count("*").cast("long").alias("n_clicks"),
        F.max(F.when(F.col("brk") == 1, F.col("prev_type"))).alias("head_type"),
        F.max(F.when(F.col("brk") == 1, F.col("prev_ts"))).alias("head_ts"),
        F.max(head_ok).alias("head_ok"),
    )
    purch = seq.filter(
        (F.col("event_type") == "purchase") & F.col("prev_ts").isNotNull() & in_gap
    )
    starred = (
        purch.alias("p")
        .join(
            runs.alias("r"),
            (F.col("p.user_id") == F.col("r.user_id"))
            & (F.col("r.last_rn") == F.col("p.rn") - 1),
        )
        .filter(
            (F.col("p.prev_type") == "click")
            & (F.col("r.head_type") == "view")
            & (F.col("r.head_ok") == 1)
        )
        .select(
            F.col("p.user_id").alias("user_id"),
            F.col("r.head_ts").alias("t_view"),
            F.col("r.n_clicks").alias("n_clicks"),
            F.col("p.ts").alias("t_purchase"),
        )
    )
    zero = purch.filter(F.col("prev_type") == "view").select(
        "user_id",
        F.col("prev_ts").alias("t_view"),
        F.lit(0).cast("long").alias("n_clicks"),
        F.col("ts").alias("t_purchase"),
    )
    return starred.unionByName(zero)

@register(
    "anomaly_mad_flags",
    oracle="""
    WITH med AS (
      SELECT event_type, round(quantile_cont(value, 0.50), 6) AS med
      FROM events GROUP BY event_type),
    dev AS (
      SELECT e.event_type, e.event_id, e.value,
             abs(e.value - m.med) AS absdev, m.med
      FROM events e JOIN med m ON e.event_type = m.event_type),
    mad AS (
      SELECT event_type, round(quantile_cont(absdev, 0.50), 6) AS mad
      FROM dev GROUP BY event_type)
    SELECT d.event_type,
           CAST(count(*) AS BIGINT) AS n,
           max(d.med) AS med,
           max(m.mad) AS mad,
           CAST(count(*) FILTER (WHERE d.absdev > 4.4478 * m.mad) AS BIGINT)
             AS n_flagged,
           round(max(CASE WHEN d.absdev > 4.4478 * m.mad THEN d.value END), 6)
             AS max_flagged_value
    FROM dev d JOIN mad m ON d.event_type = m.event_type
    GROUP BY d.event_type
    """,
    tags=("stats", "join", "scale-pattern"),
    doc="Robust anomaly detection via median absolute deviation — the "
    "companion to anomaly_zscore_flags for the case z-scores silently "
    "fail: outliers inflate mean AND stddev, masking themselves, while "
    "median/MAD have a 50% breakdown point. Flag threshold |x−med| > "
    "3·1.4826·MAD (1.4826 scales MAD to σ under normality; folded into "
    "the 4.4478 literal so both engines compare the same double). Two "
    "keyed aggregate passes (median, then MAD of deviations), each a "
    "KEYS-sized result broadcast back — the fact table never shuffles. "
    "Spark percentile() ≡ DuckDB quantile_cont, rounded to absorb "
    "interpolation ulps (agg_percentiles' discipline). At 100 TB the "
    "exact medians become t-digest/KLL sketches (percentile_approx) "
    "with identical plan shape; the exact form is the certifiable one.",
)
def anomaly_mad_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = tbl(spark, sf_dir, "events")
    med = e.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.50)"), 6).alias("med")
    )
    dev = e.join(F.broadcast(med), "event_type").select(
        "event_type",
        "event_id",
        "value",
        F.abs(F.col("value") - F.col("med")).alias("absdev"),
        "med",
    )
    mad = dev.groupBy("event_type").agg(
        F.round(F.expr("percentile(absdev, 0.50)"), 6).alias("mad")
    )
    j = dev.join(F.broadcast(mad), "event_type")
    flagged = F.col("absdev") > 4.4478 * F.col("mad")
    return j.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.max("med").alias("med"),
        F.max("mad").alias("mad"),
        F.sum(F.when(flagged, 1).otherwise(0)).cast("long").alias("n_flagged"),
        F.round(F.max(F.when(flagged, F.col("value"))), 6).alias("max_flagged_value"),
    )


_DRIFT_SQL = """
    WITH snap AS (
      SELECT CAST(floor(n_chars / 50.0) AS BIGINT) AS bin,
             CASE WHEN doc_id % 2 = 0 THEN 'a' ELSE 'b' END AS snap
      FROM documents),
    hist AS (
      SELECT bin,
             CAST(sum(CASE WHEN snap = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS c_a,
             CAST(sum(CASE WHEN snap = 'b' THEN 1 ELSE 0 END) AS BIGINT) AS c_b
      FROM snap GROUP BY bin),
    tot AS (
      SELECT CAST(sum(c_a) AS BIGINT) AS n_a,
             CAST(sum(c_b) AS BIGINT) AS n_b
      FROM hist)
    SELECT CAST(count(*) AS BIGINT) AS n_bins,
           max(t.n_a) AS n_a, max(t.n_b) AS n_b,
           CAST(sum(abs(h.c_a * t.n_b - h.c_b * t.n_a)) AS BIGINT) AS tvd_num,
           round(sum(CAST(h.c_a * t.n_b - h.c_b * t.n_a AS DOUBLE)
                     * CAST(h.c_a * t.n_b - h.c_b * t.n_a AS DOUBLE)
                     / (CAST(t.n_a AS DOUBLE) * t.n_b * (h.c_a + h.c_b))), 6)
             AS chi2,
           (CAST(sum(abs(h.c_a * t.n_b - h.c_b * t.n_a)) AS BIGINT) * 10
              > t.n_a * t.n_b) AS drift_flag
    FROM hist h CROSS JOIN tot t
    GROUP BY t.n_a, t.n_b
    """


@register(
    "table_snapshot_drift",
    oracle=_DRIFT_SQL,
    tags=("stats", "quality", "scale-pattern"),
    doc="Distribution-drift monitoring between two table snapshots (split "
    "here by doc_id parity; in production: yesterday's vs today's "
    "partition): fixed-width histograms of n_chars compared with (1) "
    "total variation distance as an INTEGER cross-multiplied numerator "
    "(t-closeness' no-ratio discipline — drift_flag tests TVD > 5% "
    "without ever dividing) and (2) the two-sample chi-squared "
    "statistic, whose one double division is exactly-rounded IEEE on "
    "identical int64 inputs on both engines. PSI, the industry's usual "
    "drift score, needs ln(p/q) — libm ln is NOT cross-engine "
    "bit-stable (the HLL linear-counting table exists for the same "
    "reason), so the certified metrics are the ln-free pair; a "
    "production PSI would bolt onto the same histogram. At 100 TB: two "
    "map-side histogram partials (|bins| rows each), everything after "
    "is arithmetic on an audit-sized relation. Identical SQL text runs "
    "on both engines.",
)
def table_snapshot_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    tbl(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(_DRIFT_SQL)


@register(
    "events_ab_test_zstat",
    oracle="""
    WITH assign AS (
      SELECT user_id,
             (('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT)
               % 2 AS variant,
             CASE WHEN sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    >= 15 THEN 1 ELSE 0 END AS converted
      FROM events
      GROUP BY user_id),
    arms AS (
      SELECT variant,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(converted) AS BIGINT) AS conv
      FROM assign GROUP BY variant),
    piv AS (
      SELECT max(CASE WHEN variant = 0 THEN n END) AS n0,
             max(CASE WHEN variant = 0 THEN conv END) AS c0,
             max(CASE WHEN variant = 1 THEN n END) AS n1,
             max(CASE WHEN variant = 1 THEN conv END) AS c1
      FROM arms)
    SELECT n0, c0, n1, c1,
           round(CAST(c1 AS DOUBLE) / n1 - CAST(c0 AS DOUBLE) / n0, 6)
             AS lift,
           round((CAST(c1 AS DOUBLE) / n1 - CAST(c0 AS DOUBLE) / n0)
                 / sqrt((CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
                        * (1 - CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
                        * (1.0 / n0 + 1.0 / n1)), 6) AS z_stat
    FROM piv
    """,
    tags=("events", "stats", "experiment"),
    doc="Two-sample proportions z-test — the experimentation readout an "
    "analytics engine runs constantly: variant assignment is the "
    "DETERMINISTIC portable user-id hash (md5 family, hashing.py), so "
    "both engines assign identical arms and re-runs are reproducible "
    "(the property real experiment systems get from bucket hashing); "
    "conversion is a >=15-purchase engagement threshold per user; the pooled-variance z uses "
    "IEEE division/sqrt on identical inputs (correctly rounded, "
    "bit-stable across engines), rounded at the boundary. Plan shape at "
    "100 TB: one user-keyed aggregate (map-side partial over the event "
    "log), then a 2-row arm pivot — the z-test itself is arithmetic on "
    "4 integers, which is why experiment analysis parallelizes "
    "trivially over ANY number of simultaneous experiments (one "
    "grouped agg per metric×experiment, no joins of row data).",
)
def events_ab_test_zstat(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flock_spark.operators.hashing import spark_md5_long

    e = tbl(spark, sf_dir, "events")
    assign = e.groupBy("user_id").agg(
        F.when(
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)) >= 15,
            1,
        )
        .otherwise(0)
        .alias("converted")
    ).select(
        (F.expr(spark_md5_long("CAST(user_id AS STRING)")) % 2).alias("variant"),
        "converted",
    )
    arms = assign.groupBy("variant").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("converted").cast("long").alias("conv"),
    )
    piv = arms.agg(
        F.max(F.when(F.col("variant") == 0, F.col("n"))).alias("n0"),
        F.max(F.when(F.col("variant") == 0, F.col("conv"))).alias("c0"),
        F.max(F.when(F.col("variant") == 1, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("variant") == 1, F.col("conv"))).alias("c1"),
    )
    p1 = F.col("c1").cast("double") / F.col("n1")
    p0 = F.col("c0").cast("double") / F.col("n0")
    pp = (F.col("c0") + F.col("c1")).cast("double") / (F.col("n0") + F.col("n1"))
    return piv.select(
        "n0",
        "c0",
        "n1",
        "c1",
        F.round(p1 - p0, 6).alias("lift"),
        F.round(
            (p1 - p0)
            / F.sqrt(pp * (1 - pp) * (1.0 / F.col("n0") + 1.0 / F.col("n1"))),
            6,
        ).alias("z_stat"),
    )


@register(
    "csv_corrupt_tolerant_read",
    oracle="""
    SELECT event_type, count(*) AS cnt
    FROM events WHERE event_id % 89 <> 0
    GROUP BY event_type
    UNION ALL
    SELECT '_CORRUPT_' AS event_type, count(*) AS cnt
    FROM events WHERE event_id % 89 = 0
    """,
    tags=("source", "csv", "robustness"),
    doc="Malformed-record tolerance on the CSV path — the delimited-text "
    "twin of json_wire_corrupt_tolerant (the reference's CSV source is "
    "flock/src/datasource/memory.rs + arrow CSV; quarantine behavior is "
    "Spark's PERMISSIVE mode): every 89th record is written as an "
    "unparseable non-numeric token, from_csv yields NULL for its typed "
    "lead column, and the reader quarantines it under '_CORRUPT_' "
    "instead of failing the scan. The oracle replays the corruption "
    "rule over the clean table, value-verifying the quarantine count. "
    "Same 100 TB posture: a bad row costs one bucket increment, never "
    "the job.",
)
def csv_corrupt_tolerant_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flock_spark.staging import stage_once

    def write_feed(tmp: str) -> None:
        e = tbl(spark, sf_dir, "events")
        payload = F.concat_ws(
            ",",
            F.col("event_id").cast("string"),
            F.col("user_id").cast("string"),
            F.col("event_type"),
        )
        line = F.when(F.col("event_id") % 89 == 0, F.lit("#corrupt#")).otherwise(
            payload
        )
        e.select(line.alias("value")).repartition(4).write.mode("overwrite").text(tmp)

    path = stage_once(f"csv_corrupt_{sf_dir}", "v1-mod89-token", write_feed)
    lines = spark.read.text(path)
    parsed = lines.select(
        F.from_csv(
            "value", "event_id bigint, user_id bigint, event_type string"
        ).alias("r")
    )
    good = (
        parsed.filter(F.col("r.event_id").isNotNull())
        .groupBy(F.col("r.event_type").alias("event_type"))
        .agg(F.count("*").alias("cnt"))
    )
    bad = parsed.filter(F.col("r.event_id").isNull()).agg(
        F.lit("_CORRUPT_").alias("event_type"), F.count("*").alias("cnt")
    )
    return good.unionByName(bad)


@register(
    "variant_json_shred",
    oracle="""
    SELECT CAST(json_extract(props, '$.k') AS BIGINT) % 10 AS k_mod,
           CAST(count(*) AS BIGINT) AS cnt,
           CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
             AS k_sum
    FROM events
    WHERE json_valid(props)
    GROUP BY CAST(json_extract(props, '$.k') AS BIGINT) % 10
    """,
    tags=("json", "scalar", "sql-surface"),
    doc="Semi-structured shredding through Spark 4's native VARIANT type "
    "(SPARK-45827): parse_json lifts the props payload into the binary "
    "VARIANT encoding once, variant_get extracts typed paths — the "
    "engine-native path for schema-on-read JSON at scale, where "
    "get_json_object (json_extract_props) re-parses the string per "
    "extraction and a thousand-column shred pays a thousand parses. "
    "try_parse_json gives the same quarantine posture as the corrupt-"
    "tolerant readers (bad JSON → NULL, never a failed job). The oracle "
    "shreds the identical paths with DuckDB's JSON type. At 100 TB "
    "VARIANT additionally vectorizes extraction and supports shredded "
    "parquet storage — same query text, columnar access.",
)
def variant_json_shred(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = tbl(spark, sf_dir, "events")
    v = e.select(F.expr("try_parse_json(props)").alias("v")).filter(
        F.col("v").isNotNull()
    )
    k = F.expr("variant_get(v, '$.k', 'bigint')")
    return (
        v.select(k.alias("k"))
        .groupBy((F.col("k") % 10).alias("k_mod"))
        .agg(
            F.count("*").cast("long").alias("cnt"),
            F.sum("k").cast("long").alias("k_sum"),
        )
    )


@register(
    "udtf_table_arg_sessionize",
    oracle="""
    WITH seq AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                   OR ts > lag(ts) OVER w + INTERVAL 10 MINUTE
                  THEN 1 ELSE 0 END AS brk
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    tagged AS (
      SELECT user_id, ts,
             sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1
               AS session_id
      FROM seq)
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           CAST(count(*) AS BIGINT) AS n_events,
           min(ts) AS t_start, max(ts) AS t_end
    FROM tagged
    GROUP BY user_id, session_id
    """,
    tags=("functions", "udtf", "streaming", "window"),
    doc="Polymorphic Python UDTF with a TABLE argument (Spark 4, "
    "SPARK-44503): the function consumes TABLE(events) PARTITION BY "
    "user_id ORDER BY ts — the engine feeds each partition's rows in "
    "order to a fresh UDTF instance, eval() accumulates the open "
    "session, terminate() flushes the last one — i.e. the exact "
    "custom-stateful-operator lifecycle applyInPandasWithState exposes, "
    "but on the SQL surface. Certified against the declarative "
    "gaps-and-islands sessionization (10-min gap, the session rule "
    "session_window_agg pins elsewhere), so the imperative per-"
    "partition accumulator provably equals the window-algebra form. "
    "At 100 TB the partition-ordered feed costs the same user-keyed "
    "shuffle+sort as the window form; the UDTF adds Python transfer, "
    "which is why it is the API demonstration and the window form is "
    "the hot path.",
)
def udtf_table_arg_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import udtf

    @udtf(
        returnType="user_id bigint, session_id bigint, n_events bigint,"
        " t_start timestamp, t_end timestamp"
    )
    class Sessionize:
        def __init__(self):
            self.user = None
            self.sid = -1
            self.n = 0
            self.start = None
            self.end = None

        def eval(self, row):
            from datetime import timedelta

            ts = row["ts"]
            if self.n and ts > self.end + timedelta(minutes=10):
                yield self.user, self.sid, self.n, self.start, self.end
                self.n = 0
            if self.n == 0:
                self.sid += 1
                self.start = ts
            self.user = row["user_id"]
            self.end = ts
            self.n += 1

        def terminate(self):
            if self.n:
                yield self.user, self.sid, self.n, self.start, self.end

    spark.udtf.register("flock_sessionize", Sessionize)
    tbl(spark, sf_dir, "events").createOrReplaceTempView("udtf_sess_src")
    return spark.sql(
        "SELECT * FROM flock_sessionize("
        "TABLE(SELECT user_id, ts, event_id FROM udtf_sess_src)"
        " PARTITION BY user_id ORDER BY (ts, event_id))"
    )


@register(
    "timeseries_seasonal_baseline",
    oracle="""
    WITH cell AS (
      SELECT event_type, hour(ts) AS hod,
             CAST(count(*) AS BIGINT) AS cnt,
             sum(CAST(value AS DECIMAL(38,6))) AS ssum
      FROM events GROUP BY 1, 2)
    SELECT e.event_type, hour(e.ts) AS hod,
           CAST(max(c.cnt) AS BIGINT) AS cnt,
           CAST(round(max(c.ssum), 2) AS DOUBLE) AS sum_value,
           CAST(sum(CASE WHEN e.value > CAST(c.ssum AS DOUBLE) / c.cnt
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_above
    FROM events e JOIN cell c
      ON e.event_type = c.event_type AND hour(e.ts) = c.hod
    GROUP BY e.event_type, hour(e.ts)
    """,
    tags=("timeseries", "stats"),
    doc="Seasonal-baseline decomposition (STL-lite): the seasonal component "
    "is the per-(event_type, hour-of-day) mean; each event is compared "
    "against its cell's baseline and the above-baseline counts come back "
    "per cell. Two-pass shape done right for scale: pass 1 is one grouped "
    "aggregate producing a |types|×24 cell table; pass 2 joins it back "
    "BROADCAST (pinned) — the raw events never shuffle for the comparison. "
    "The baseline division happens in IEEE double on an exactly-summed "
    "DECIMAL numerator, so both engines compute bit-identical thresholds; "
    "the emitted sum goes through the repo's round-to-double boundary "
    "convention. The same two-pass broadcast shape computes residuals for "
    "any seasonal grid (day-of-week, month) at 100 TB.",
)
def timeseries_seasonal_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = tbl(spark, sf_dir, "events")
    cell = (
        e.groupBy("event_type", F.hour("ts").alias("hod"))
        .agg(
            F.count("*").cast("long").alias("cnt"),
            F.sum(F.col("value").cast("decimal(38,6)")).alias("ssum"),
        )
    )
    j = e.withColumn("hod", F.hour("ts")).join(
        F.broadcast(cell), ["event_type", "hod"]
    )
    above = F.col("value") > F.col("ssum").cast("double") / F.col("cnt")
    return j.groupBy("event_type", "hod").agg(
        F.max("cnt").cast("long").alias("cnt"),
        F.round(F.max("ssum"), 2).cast("double").alias("sum_value"),
        F.sum(F.when(above, 1).otherwise(0)).cast("long").alias("n_above"),
    )


@register(
    "agg_approx_percentile_audit",
    oracle="""
    SELECT l_returnflag,
           round(quantile_cont(l_extendedprice, 0.25), 6) AS p25,
           round(quantile_cont(l_extendedprice, 0.50), 6) AS p50,
           round(quantile_cont(l_extendedprice, 0.75), 6) AS p75,
           TRUE AS approx_within_iqr
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("aggregate", "approx"),
    doc="approx_percentile certified the approx_count_distinct_hll way: the "
    "engine-specific sketch estimate (Greenwald-Khanna, accuracy 1000) "
    "never leaves the query; the exact interpolated quartiles are emitted "
    "hash-verified beside a boolean verdict that the approximate median "
    "lands inside the exact interquartile range, and the oracle asserts "
    "the verdict is literally TRUE. GK guarantees rank error <= n/accuracy "
    "(~0.1% of rows here), far inside the IQR for any non-degenerate "
    "distribution — if a Spark upgrade changed the sketch enough to leave "
    "the envelope, the boolean flips and the driver's hash gate fires. At "
    "100 TB the sketch replaces the exact sort entirely (mergeable "
    "map-side partials); this audit is the spot-check run on samples, "
    "like ann_ivf_recall_audit for ANN.",
)
def agg_approx_percentile_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = tbl(spark, sf_dir, "lineitem")  # noqa: E741
    agg = l.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_extendedprice, 0.25)"), 6).alias("p25"),
        F.round(F.expr("percentile(l_extendedprice, 0.50)"), 6).alias("p50"),
        F.round(F.expr("percentile(l_extendedprice, 0.75)"), 6).alias("p75"),
        F.expr("approx_percentile(l_extendedprice, 0.5, 1000)").alias("ap50"),
    )
    return agg.select(
        "l_returnflag",
        "p25",
        "p50",
        "p75",
        ((F.col("ap50") >= F.col("p25")) & (F.col("ap50") <= F.col("p75"))).alias(
            "approx_within_iqr"
        ),
    )


@register(
    "events_funnel_time_to_convert",
    oracle="""
    WITH fc AS (
      SELECT user_id, min(CASE WHEN event_type = 'click' THEN ts END) AS c_ts
      FROM events GROUP BY user_id),
    conv AS (
      SELECT e.user_id,
             date_diff('second', fc.c_ts, min(e.ts)) AS lat_sec
      FROM events e JOIN fc ON e.user_id = fc.user_id
      WHERE e.event_type = 'purchase' AND e.ts >= fc.c_ts
      GROUP BY e.user_id, fc.c_ts)
    SELECT CAST(count(*) AS BIGINT) AS n_converted,
           round(quantile_cont(lat_sec, 0.5), 6) AS lat_p50,
           round(quantile_cont(lat_sec, 0.9), 6) AS lat_p90,
           CAST(max(lat_sec) AS BIGINT) AS lat_max
    FROM conv
    """,
    tags=("events", "funnel", "stats"),
    doc="Time-to-convert funnel: per-user latency from FIRST click to the "
    "first purchase at-or-after it, reduced to the latency distribution "
    "(count, exact p50/p90, max) — the companion to events_funnel_steps, "
    "which counts who converts but not how fast. One user-keyed window "
    "pass computes the first-click watermark, the purchase filter and "
    "per-user min reuse the SAME partitioning (no second exchange — the "
    "shuffle-reuse discipline that matters when the event log is 100 TB), "
    "and the final distribution folds a 150-row relation. Latencies are "
    "integer seconds (unix_timestamp truncation == date_diff boundary "
    "count), interpolated percentiles per agg_percentiles' convention.",
)
def events_funnel_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    e = tbl(spark, sf_dir, "events")
    w = W.partitionBy("user_id")
    with_fc = e.withColumn(
        "c_ts", F.min(F.when(F.col("event_type") == "click", F.col("ts"))).over(w)
    )
    conv = (
        with_fc.filter(
            (F.col("event_type") == "purchase") & (F.col("ts") >= F.col("c_ts"))
        )
        .groupBy("user_id", "c_ts")
        .agg(F.min("ts").alias("p_ts"))
        .select(
            (F.unix_timestamp("p_ts") - F.unix_timestamp("c_ts")).alias("lat_sec")
        )
    )
    return conv.agg(
        F.count("*").cast("long").alias("n_converted"),
        F.round(F.expr("percentile(lat_sec, 0.5)"), 6).alias("lat_p50"),
        F.round(F.expr("percentile(lat_sec, 0.9)"), 6).alias("lat_p90"),
        F.max("lat_sec").cast("long").alias("lat_max"),
    )


@register(
    "parquet_zstd_roundtrip",
    oracle=_RT_ORACLE,
    tags=("source", "format", "parquet"),
    doc="Parquet write→read round trip under the ZSTD codec (the 100 TB "
    "default: ~30-40% smaller than snappy at similar scan cost, so scans "
    "are IO-bound less often). Same fidelity aggregate as the CSV/ORC "
    "round trips; the codec-actually-compresses claim is pinned by a "
    "size-comparison test against an uncompressed write of the identical "
    "rows.",
)
def parquet_zstd_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flock_spark.staging import stage_once

    def write_rt(tmp: str) -> None:
        o = tbl(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
        )
        o.repartition(2).write.mode("overwrite").option(
            "compression", "zstd"
        ).parquet(tmp)

    path = stage_once(f"rt_zstd_{sf_dir}", "v1-orders4col", write_rt)
    df = spark.read.schema(
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
        "o_totalprice double"
    ).parquet(path)
    return df.groupBy("o_orderstatus").agg(
        F.count("*").alias("cnt"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("cents"),
        F.sum("o_orderkey").alias("key_sum"),
    )
