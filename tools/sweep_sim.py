"""Simulate the driver's CORRECTNESS sweep locally, with per-entry timing.

Runs every registry entry at the given sf dir (default sf0.01): executes the
Spark query, collects, runs the DuckDB oracle, and checks the result with
flock_spark.oracle.check_result, the same checks flock_spark.oracle.compare
makes (output-type bans, column names, row count, order-insensitive value
multiset). Prints a per-entry line `name  spark_s  duck_s  ok`
and a sorted summary of the slowest entries, so the full-sweep wall cost the
external driver pays is visible and optimizable.

Usage: python tools/sweep_sim.py [sf_dir] [--only substr] [--limit N] [--offset N]
                                 [--plain] [--restart-every N] [--out PATH]

The per-entry results go to PATH as JSON (default /tmp/sweep_sim.json).
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from flock_spark.session import get_spark
from flock_spark import oracle as orc
from flock_spark.registry import get_queries, get_oracles


def main() -> None:
    sf_dir = "/root/testdata/sf0.01"
    only = None
    limit = None
    offset = 0
    plain = False
    restart_every = 0  # 0 = never; N>0 restarts the JVM every N entries
    out = "/tmp/sweep_sim.json"
    args = sys.argv[1:]
    while args:
        a = args.pop(0)
        if a == "--only":
            only = args.pop(0)
        elif a == "--limit":
            limit = int(args.pop(0))
        elif a == "--offset":
            offset = int(args.pop(0))
        elif a == "--plain":
            plain = True
        elif a == "--out":
            out = args.pop(0)
        elif a == "--restart-every":
            # long single-session sf0.1 audits accumulate cached/memoized
            # relations until the JVM dies (round-8 finding: crash after 92
            # heavy entries); a periodic restart keeps the audit one command
            restart_every = int(args.pop(0))
        else:
            sf_dir = a

    if plain:
        # mirror the external driver exactly: a default session with none of
        # flock_spark.session's tuning (200 shuffle partitions, no minPartitionNum)
        from pyspark.sql import SparkSession

        def make_session():
            s = (
                SparkSession.builder.master("local[*]")
                .config("spark.sql.session.timeZone", "UTC")
                .config("spark.ui.enabled", "false")
                .getOrCreate()
            )
            s.sparkContext.setLogLevel("WARN")
            return s

        spark = make_session()
    else:

        def make_session():
            return get_spark()

        spark = make_session()
    queries = get_queries()
    oracles = get_oracles()

    rows = []
    t_total = time.time()
    # --only takes a comma-separated list of substrings (OR-matched)
    subs = only.split(",") if only else None
    names = [n for n in queries if subs is None or any(s in n for s in subs)]
    names = names[offset:]
    if limit:
        names = names[:limit]
    def jvm_alive(s) -> bool:
        try:
            s.sql("SELECT 1").collect()
            return True
        except Exception:  # noqa: BLE001
            return False

    def run_one(s, name: str):
        """(spark_s, duck_s, status) for one entry against one session."""
        fn = queries[name]
        t0 = time.time()
        status = "ok"
        spark_s = duck_s = 0.0
        try:
            sdf = fn(s, sf_dir)
            s_rows = sdf.collect()
            spark_s = time.time() - t0
            if name in oracles:
                t1 = time.time()
                o_cols, o_rows = orc.run_oracle(oracles[name], sf_dir)
                duck_s = time.time() - t1
                orc.check_result(sdf.schema, s_rows, o_cols, o_rows)
            else:
                status = "ok(rows-only)"
        except AssertionError as e:
            status = f"FAIL {str(e).splitlines()[0]}"
        except Exception as e:  # noqa: BLE001
            status = f"ERR {type(e).__name__}: {e}"
            traceback.print_exc()
        return spark_s, duck_s, status

    for idx, name in enumerate(names):
        if restart_every and idx and idx % restart_every == 0:
            # fresh JVM: memo dicts are keyed by session and self-evict
            spark.stop()
            spark = make_session()
        t0 = time.time()
        spark_s, duck_s, status = run_one(spark, name)
        if status.startswith("ERR") and not jvm_alive(spark):
            # the r8/r9 failure class: a heavy entry OOMs or kills the JVM
            # mid-audit after accumulated cached/memoized state. That is an
            # operational death, not a correctness verdict — recreate the
            # session and retry the entry ONCE in a fresh JVM so the audit
            # self-heals and the entry gets a real verdict.
            print(f"{name:42s} JVM died ({status[:60]}); restarting + retrying", flush=True)
            try:
                spark.stop()
            except Exception:  # noqa: BLE001
                pass
            spark = make_session()
            t0 = time.time()
            spark_s, duck_s, status = run_one(spark, name)
            status = f"{status} (after JVM restart)" if status.startswith("ok") else status
        total = time.time() - t0
        rows.append((name, spark_s, duck_s, total, status))
        print(f"{name:42s} {spark_s:7.2f} {duck_s:7.2f} {total:7.2f}  {status}", flush=True)

    wall = time.time() - t_total
    print(f"\nTOTAL {wall:.1f}s for {len(rows)} entries")
    bad = [r for r in rows if not r[4].startswith("ok")]
    print(f"FAILURES: {len(bad)}")
    for r in bad:
        print("  ", r[0], r[4])
    print("\nSLOWEST 15:")
    for r in sorted(rows, key=lambda r: -r[3])[:15]:
        print(f"  {r[0]:42s} {r[3]:7.2f}  (spark {r[1]:.2f} duck {r[2]:.2f})")
    with open(out, "w") as f:
        json.dump(
            {r[0]: {"spark_s": r[1], "duck_s": r[2], "total_s": r[3], "status": r[4]} for r in rows},
            f,
            indent=1,
        )


if __name__ == "__main__":
    main()
