"""The benchmark's workloads: which registry entries each one runs, and why.

Every workload is a closed loop with one client: the driver thread submits
an entry only after the previous one has returned. The seed permutes the
entry order of every pass; the entries themselves read only the package's
fixed parquet and generator inputs.
"""

from __future__ import annotations

from dataclasses import dataclass

# Run at the end of set-up so the first timed pass does not pay the JVM's
# first-query costs alone. Not an entry of any workload, so every entry's
# cold execution is its first.
WARMUP_ENTRY = "tpch_q1"


@dataclass(frozen=True)
class Workload:
    name: str
    entries: tuple[str, ...]
    # Nominal warm-pass wall time on a 4-core box. The warm phase runs
    # ceil(seconds / pass_s) passes, so the sample count is fixed for a given
    # --seconds and the same on every commit.
    pass_s: float
    why: str


# Entries' warm latencies form one cluster per entry. Each workload has an odd
# number of entries and enough passes that the median and the tail sample
# fall inside one entry's cluster; on the gap between two clusters they would
# jump from run to run.
WORKLOADS: dict[str, Workload] = {
    w.name: w
    for w in (
        Workload(
            "olap_stream",
            (
                "tpch_q3",
                "tpch_q6",
                "ysb_campaign_counts",
                "streaming_tumbling_agg",
                "streaming_q5_foreachbatch",
            ),
            pass_s=3.9,
            why="JVM-only: Catalyst, shuffle, state stores and micro-batch commits do the work; no Python UDF",
        ),
        Workload(
            "pyudf_pipeline",
            (
                "mm_zlib_inflate_dynamic",
                "mm_gif_lzw_decode",
                "scan_parquet_zstd_page_decode",
            ),
            pass_s=2.5,
            why="from-spec byte codecs in Python workers do the work; Catalyst and shuffle are small",
        ),
    )
}
