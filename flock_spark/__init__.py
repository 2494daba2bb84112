"""flock_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of flock-lab/flock (reference: /root/reference).

Architecture (Spark-first, NOT a port):

The reference is a streaming SQL engine on AWS Lambda that delegates all
relational execution to a DataFusion fork and adds stage-splitting, payload
shipping, window drivers, and window-reassembly arenas on top
(reference: flock/src/distributed_plan/stage.rs:269-367,
flock/src/runtime/payload.rs:132-157). On Spark, every one of those layers is
subsumed by Catalyst + the shuffle service + Structured Streaming, so this
package keeps only the *observable semantics*:

- ``flock_spark.catalog``     — declared schemas + parquet loaders for the test tables
- ``flock_spark.session``     — tuned SparkSession builder (AQE, UTC, arrow)
- ``flock_spark.registry``    — query registry: name -> (Spark callable, DuckDB oracle SQL)
- ``flock_spark.queries``     — relational / NEXMark-shaped / TPC-H / time-window queries
- ``flock_spark.operators``   — dedup, similarity search, text analysis, as-of join,
                                multimodal plumbing (the LLM-pipeline extensions)
- ``flock_spark.sources``     — deterministic NEXMark/YSB generators (seeded md5 over
                                range(n)) and the CSV side-input table
- ``flock_spark.streaming``   — Structured Streaming sources/runners mirroring the
                                reference's window drivers (flock-function/src/aws/window/)
- ``flock_spark.sinks``       — batch/streaming writers + foreachBatch KV sinks
- ``flock_spark.engine``      — flock-like declarative Query API
                                (reference: flock/src/query.rs:82-103)
- ``flock_spark.worker_daemon`` — Python worker daemon on the installed pyspark

Every operator is expressed declaratively (DataFrame/SQL) so Catalyst applies
predicate pushdown, column pruning, partial aggregation, and AQE; Python UDFs
appear only where semantics genuinely require them (multimodal decode stubs).
"""

__version__ = "0.1.0"
