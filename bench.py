#!/usr/bin/env python3
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": <total_sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": <sf>,
   "cold": {name: first-run sec, ...},
   "spreads": {name: warm worst/best, ...}, "worst_spread": ...,
   "spread_outliers": [...],
   "host_foreign_cpu_share": ..., "host_steal_share": ...,
   "contended": bool, "suspect": bool}

Each query is forced with a noop-format write (full pipeline execution, no
driver-side collect). Timings are per-query wall clock after a warm-up query
that pays one-time session/JIT costs; `queries` is the best of 3 runs and
`cold` the first. The two host shares cover the suite window: busy CPU of
processes outside this one's tree, and hypervisor steal, as fractions of
the machine's ticks. `contended` is their sum above CONTENDED_SHARE;
`suspect` is `contended` or any warm spread above 3x.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Bench always generates the full 50 s NEXMark/YSB stream so round-over-round
# numbers stay comparable (verification sweeps default to a smaller stream —
# see sources/nexmark_gen.py). Must be set before flock_spark imports: the
# generator SQL (and its DuckDB oracle) bake N_EVENTS in at import time.
os.environ.setdefault("FLOCK_SPARK_NEXMARK_EVENTS", "50000")

from flock_spark.registry import REGISTRY, get_queries  # noqa: E402
from flock_spark.session import get_spark  # noqa: E402
from perfbench.measure import CLK_TCK, tree_cpu_s  # noqa: E402

HEADLINE = [
    "tpch_q1",
    "tpch_q3",
    "tpch_q5",
    "tpch_q6",
    "tpch_q9",
    "tpch_q10",
    "tpch_q18",
    "tpch_q21",
    "nexmark_q4_avg_of_max",
    "nexmark_q6_double_rownum",
    "nexmark_native_q4",
    "nexmark_native_q6",
    "join_range_theta",
    "tumbling_window_agg",
    "session_window_by_key",
    "dedup_minhash_lsh_pairs",
    "ann_topk_bruteforce",
    "asof_join_window",
    "text_quality_score",
    "nexmark_q5_hot_items",
    "ysb_campaign_counts",
    "corpus_decontaminate",
    "kmeans_two_iterations",
    "dedup_semdedup_prune",
    "cdc_upsert_latest",
    "text_inverted_index",
    "corpus_bigram_counts",
    "hll_sketch_portable",
    "bloom_membership_probe",
    # streaming path: full micro-batch drain is the measured cost
    "streaming_tumbling_agg",
    "streaming_kafka_wire_decode",
    # round-3 scale-pattern additions
    "join_range_binned",
    "ann_pq_adc_topk",
    "dpp_star_join",
    "agg_salted_two_stage",
    "mm_phash64",
    # round-4 LLM-pipeline additions
    "text_bm25_doc_ranking",
    "corpus_quality_resample",
    "corpus_lm_score_proxy",
    "corpus_cross_source_dup_matrix",
    # round-5 additions: incremental ingest dedup, composed ANN index,
    # filter attrition funnel
    "dedup_incremental_new_batch",
    "ann_ivfpq_topk",
    "corpus_filter_funnel",
    # late-round-5 additions: cross-doc diversity audit, IVM under deletes
    "corpus_ngram_diversity",
    "ivm_agg_delta",
    # round-5 additions: CDC chunk dedup, Kleene patterns, robust anomaly,
    # basket co-occurrence
    "dedup_chunk_shared",
    "events_pattern_kleene",
    "anomaly_mad_flags",
    "items_cooccurrence_jaccard",
    # round-6 additions: CCNet block boilerplate, hashed linear quality
    # filter, deterministic LPA communities, runtime bloom join
    "dedup_line_hash_boilerplate",
    "text_hashed_linear_quality",
    "graph_label_prop_communities",
    "join_runtime_bloom_filter",
    # round-6 additions: one-pass attribution, two-phase skyline, cell-join
    # spatial radius, KMV distinct merge
    "events_attribution_touch_matrix",
    "analytics_pareto_frontier",
    "geo_radius_cell_join",
    "kmv_bottomk_distinct_merge",
    # round-8 additions: real integer resample, one-pass gap sweep,
    # truncated-embedding recall, partition-scoped window IVM
    "mm_resize_nearest",
    "events_session_gap_sweep",
    "embedding_matryoshka_recall_audit",
    "ivm_window_delta",
    # round-9 additions: genuinely compressed payload decode (GIF LZW
    # roundtrip; full RFC 1951 inflate of real zlib compressor output)
    "mm_gif_lzw_decode",
    "mm_zlib_inflate_dynamic",
    # round-9b additions: bounded-memory heavy hitters with union merge,
    # sorted-suffix exact-substring dedup, closed-form per-key reservoir
    "sketch_space_saving_topk",
    "dedup_suffix_lcp_pairs",
    "events_reservoir_per_key",
    # round-9b second wave: EOCD-first ZIP walk, one-pass Aho-Corasick
    # blocklist screening
    "mm_zip_central_dir_walk",
    "text_blocklist_multimatch",
    # round-10 additions: WARC record walk (the Common-Crawl ingest shape),
    # declarative jusText-style boilerplate removal, baseline JPEG entropy
    # decode, from-spec parquet page read (snappy + RLE/bit-packed dict)
    "mm_warc_record_walk",
    "text_boilerplate_linefilter",
    "mm_jpeg_baseline_decode",
    "scan_parquet_page_decode",
    # round-11 additions: file-true WARC ingest over on-disk shards,
    # wildcard robots matching as data, CDX/SURT index dedup, LZ4_RAW
    # parquet pages through the from-spec LZ4 decoder, unigram Viterbi
    # segmentation
    "mm_warc_file_ingest",
    "text_robots_wildcard_match",
    "text_cdx_surt_dedup",
    "scan_parquet_lz4_page_decode",
    "tokenizer_unigram_viterbi",
    # round-12 additions: from-spec zstd frame decode (the modern default
    # codec) both standalone and as parquet pages, from-spec Arrow IPC
    # stream walk, the arena completeness audit, and the composed
    # end-to-end crawl-discovery chain
    "mm_zstd_frame_roundtrip",
    "scan_parquet_zstd_page_decode",
    "scan_arrow_ipc_stream_walk",
    "arena_window_completeness_audit",
    "crawl_chain_end_to_end",
    # round-12 second wave: the Avro container read (fourth byte-level
    # format, real-Java-writer fixture) and the XZ/LZMA decode (seventh
    # compression family, real-liblzma certification in the UDF)
    "scan_avro_container_decode",
    "mm_xz_lzma_decode",
    # round-12 third wave: the write direction — four-writer consensus
    # (each from-spec writer's file replayed by its from-spec reader)
    # and the DataPageV2 + delta-encoding parquet write (pure-JVM read)
    "scan_own_writers_consensus",
    "scan_parquet_own_writer_v2_roundtrip",
]


# Contention: the warm-spread guard below catches BURSTY load (one warm run
# slow, the other fast) but is blind to STEADY background load, which
# inflates both warm runs uniformly (round 7: a "clean" run totaled 79 s vs
# 46 s on an idle box with every per-query spread under 3x). So the bench
# reads the machine over the suite window instead: the busy ticks of
# /proc/stat that this process tree (driver, JVM, Python workers) did not
# spend, plus hypervisor steal, as shares of all the machine's ticks.
# A quiet 4-core box reads 0.05-0.09 together (foreign 0.012, steal
# 0.04-0.07); two busy loops beside the suite read 0.5.
CONTENDED_SHARE = 0.15


def cpu_ticks(stat_line: str) -> list[int]:
    """The eight tick counters of /proc/stat's aggregate "cpu" line (guest
    time is already inside user and nice)."""
    return [int(x) for x in stat_line.split()[1:9]]


def host_sample() -> tuple[list[int], float]:
    """The machine's cumulative CPU ticks and this process tree's CPU
    seconds, read together."""
    with open("/proc/stat") as f:
        ticks = cpu_ticks(f.readline())
    return ticks, tree_cpu_s(os.getpid())


def host_shares(
    before: tuple[list[int], float], after: tuple[list[int], float]
) -> tuple[float, float]:
    """(foreign CPU share, steal share) of the machine's ticks between two
    host_sample()s. Ticks are user nice system idle iowait irq softirq
    steal; foreign is busy time (all but idle, iowait and steal) minus this
    process tree's CPU."""
    d = [a - b for a, b in zip(after[0], before[0])]
    total = sum(d)
    if total <= 0:
        return 0.0, 0.0
    steal = d[7]
    busy = total - d[3] - d[4] - steal
    own = (after[1] - before[1]) * CLK_TCK
    foreign = max(busy - own, 0.0)
    return round(foreign / total, 4), round(steal / total, 4)


def time_entry(spark, name: str, sf_dir: str, runs: int = 3) -> list[float]:
    """Wall seconds of each of `runs` executions of one registry entry,
    forced with a noop-format write (full pipeline, no driver collect)."""
    ts = []
    for _ in range(runs):
        t0 = time.perf_counter()
        REGISTRY[name].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        ts.append(time.perf_counter() - t0)
    return ts


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    get_queries()
    spark = get_spark("flock_spark_bench")

    # warm-up: JVM/codegen/parquet-footer costs paid once
    time_entry(spark, "tpch_q6", sf_dir, runs=1)

    # best of 3: first run pays per-query JIT/compile; the min of the rest
    # measures repeatable throughput (JVM GC/JIT run-to-run variance at
    # sub-second query times is ±2× — observed q9 0.77 s vs 2.24 s across
    # otherwise-identical runs)
    timings: dict[str, float] = {}
    cold: dict[str, float] = {}
    spreads: dict[str, float] = {}
    host_before = host_sample()
    for name in HEADLINE:
        runs = time_entry(spark, name, sf_dir)
        timings[name] = round(min(runs), 3)
        cold[name] = round(runs[0], 3)
        # spread = worst/best over the WARM runs only (runs 2..3). Run 1
        # legitimately pays 5-25x compile/codegen cost on sub-second
        # queries, so including it would flag every healthy run; two warm
        # runs of the same plan should agree within ~2x on an idle box.
        # Best-of-3 absorbs JIT noise but NOT a concurrently loaded box
        # (round-6 finding: a contended machine inflated unchanged queries
        # 20-30x even at best-of-3); the warm spread makes a polluted run
        # machine-detectable.
        warm = runs[1:]
        spreads[name] = round(max(warm) / min(warm), 2) if min(warm) > 0 else 1.0
    foreign, steal = host_shares(host_before, host_sample())

    total = round(sum(timings.values()), 3)
    worst_spread = max(spreads.values()) if spreads else 1.0
    contended = foreign + steal > CONTENDED_SHARE
    # >3x between two warm runs of any single query means something else
    # was using the box mid-measurement; flag the whole run as suspect.
    # (Every flagged run so far proved genuinely contaminated on absolute
    # deltas — multi-second stalls, not GC blips — so the strict
    # single-violation rule stands; spread_outliers names the culprits.)
    spread_outliers = sorted(k for k, v in spreads.items() if v > 3.0)
    suspect = worst_spread > 3.0 or contended
    line = json.dumps(
            {
                "metric": "headline_suite_total_sec",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                "cold": cold,
                "spreads": spreads,
                "worst_spread": round(worst_spread, 2),
                "spread_outliers": spread_outliers,
                "host_foreign_cpu_share": foreign,
                "host_steal_share": steal,
                "contended": contended,
                "suspect": suspect,
            }
    )
    print(line)
    # Artifact hardening (round-13): the stdout capture of this one line is
    # the round's graded artifact, and it has already been lost once to a
    # truncated tail (BENCH_r11.json `parsed: null` voided the r12
    # round-over-round comparison). Write the identical line to a file as
    # well — additions-only, after every timed region, so the timing
    # methodology is untouched and a clipped stdout can be recovered from
    # the file copy.
    out_path = os.environ.get(
        "SPARK_GRAFT_BENCH_OUT",
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "bench_result.json"),
    )
    try:
        with open(out_path, "w") as f:
            f.write(line + "\n")
    except OSError:
        pass  # an unwritable artifact path must never fail the bench itself
    spark.stop()


if __name__ == "__main__":
    main()
