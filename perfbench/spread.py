#!/usr/bin/env python3
"""Run a workload once per seed and report, per end-to-end metric, the median
and the quartile spread (IQR as a share of the median) next to the metric's
bound in BENCHMARK.json.

    python3 perfbench/spread.py --workload pyudf_pipeline --seeds 1-10
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
from pathlib import Path

import measure

ROOT = Path(__file__).resolve().parent.parent


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", required=True, help="first-last, e.g. 1-10")
    args = p.parse_args(argv)
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    values: dict[str, list[float]] = {m["name"]: [] for m in bench["end_to_end"]}
    for seed in seeds(args.seeds):
        cmd = [*bench["command"], "--workload", args.workload, "--seed", str(seed),
               "--seconds", str(bench["run_seconds"]), "--trace", "0"]
        out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=180, check=True)
        result = json.loads(out.stdout.strip().splitlines()[-1])
        if not result["correct"]:
            print(f"seed {seed}: incorrect result", file=sys.stderr)
            return 1
        for name in values:
            values[name].append(result["metrics"][name]["value"])
        print(f"seed {seed}: " + " ".join(f"{k}={v[-1]:.4g}" for k, v in values.items()), flush=True)
    if len(values["setup_s"]) < 2:
        return 0
    for m in bench["end_to_end"]:
        v = values[m["name"]]
        share = measure.iqr_share(v)
        flag = "ok" if share < m["bound"] / 3 else "WIDE"
        print(f"{m['name']:18s} median {measure.median(v):10.4f} {m['unit']:5s} "
              f"spread {share:.3f} bound {m['bound']} {flag}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
