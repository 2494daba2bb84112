#!/usr/bin/env python3
"""Time individual registry entries with the bench methodology: bench.py's
session, warm-up query and per-entry timing loop, N runs each, first run
reported separately.

Usage: python tools/time_query.py name [name ...] [--runs N] [--sf DIR]
Prints one line per query: name first=<s> warm=[s,s,...] best=<s>
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402


def main() -> None:
    names = []
    runs = 4
    sf_dir = "/root/testdata/sf0.1"
    args = sys.argv[1:]
    while args:
        a = args.pop(0)
        if a == "--runs":
            runs = int(args.pop(0))
        elif a == "--sf":
            sf_dir = args.pop(0)
        else:
            names.append(a)
    if runs < 2:
        sys.exit("--runs must be at least 2: the first run is reported apart")

    bench.get_queries()
    spark = bench.get_spark("time_query")
    bench.time_entry(spark, "tpch_q6", sf_dir, runs=1)  # warm-up

    for name in names:
        spark.sparkContext.setJobDescription(f"time:{name}")
        ts = bench.time_entry(spark, name, sf_dir, runs)
        warm = ts[1:]
        print(
            f"{name} first={ts[0]:.3f} warm={[round(t, 3) for t in warm]} "
            f"best={min(warm):.3f}",
            flush=True,
        )
    spark.stop()


if __name__ == "__main__":
    main()
