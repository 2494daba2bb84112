#!/usr/bin/env python3
"""Run one benchmark workload against the flock_spark package in this checkout.

    python3 perfbench/run.py --workload olap_stream --seed 1 --seconds 20 --trace 0

A run sets up a session (get_spark, registry load, warm-up query), makes one
cold pass over the workload's entries, then a fixed number of warm passes,
each entry a closed-loop call of ``REGISTRY[name].fn`` followed by
``sinks.write_batch(df, "noop", ...)``. After the timed regions it checks
every cold result against its DuckDB oracle with ``oracle.compare``.

End-to-end metrics (``--trace 0``):

- ``setup_s``: process start until the session is up, the registry is
  loaded and the warm-up query has run;
- ``cold_pass_s``: summed latency of the first pass in the fresh session;
- ``latency_p50_s``, ``latency_tail_s``: latency of one entry on the warm
  passes, from calling ``fn`` until ``write_batch`` returns. The tail is the
  highest percentile with at least ten samples beyond it;
- ``queries_per_s``: warm entries per second of warm wall time;
- ``cpu_s_per_query``: CPU seconds of the JVM, the processes it started
  (Python workers, reaped ones included) and this driver, per warm entry.

``failed`` / ``attempted`` on the result line is the failed fraction: entry
executions that raised plus oracle checks that failed. With ``--trace 1``
the result line carries the per-layer metrics instead, read from spans
around the same calls, the Spark status store, the Catalyst phase tracker,
a streaming query listener, /proc, and Spark-free codec timings; the spans
go to ``.perfbench_out/``. The line before the last one holds the details:
sample counts, the tail percentile, peak memory, the environment, errors.

All scratch files (Spark local dirs, checkpoints, staged inputs) go to a
per-run directory under ``.perfbench_run/`` that is removed at exit.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402
from pathlib import Path  # noqa: E402

import measure  # noqa: E402
from codec_bench import CODECS  # noqa: E402
from workloads import WARMUP_ENTRY, WORKLOADS, Workload  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
OUT_DIR = ROOT / ".perfbench_out"
RUN_DIR = ROOT / ".perfbench_run"
NEXMARK_EVENTS = "50000"  # as bench.py: the full 50 s NEXMark/YSB stream
# Per entry span, the queries.build and sinks.write spans must account for
# its duration to within this much.
ACCOUNTING_TOLERANCE_S = 0.005

E2E_UNITS = {
    "setup_s": "s",
    "cold_pass_s": "s",
    "latency_p50_s": "s",
    "latency_tail_s": "s",
    "queries_per_s": "1/s",
    "cpu_s_per_query": "s",
}

PER_LAYER_UNITS = {
    "session.get_spark_s": "s",
    "registry.load_s": "s",
    "queries.warm_entries": "count",
    "queries.build_s": "s",
    "driver.cpu_s": "s",
    "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "sinks.write_s": "s",
    "executor.jobs": "count",
    "executor.stages": "count",
    "executor.tasks": "count",
    "executor.failed_tasks": "count",
    "executor.run_s": "s",
    "executor.cpu_s": "s",
    "executor.wait_s": "s",
    "executor.gc_s": "s",
    "executor.busy_frac": "ratio",
    "scan.input_bytes": "bytes",
    "shuffle.read_bytes": "bytes",
    "shuffle.write_bytes": "bytes",
    "shuffle.fetch_wait_s": "s",
    "executor.spill_bytes": "bytes",
    "jvm.cpu_s": "s",
    "jvm.driver_cpu_s": "s",
    "jvm.helpers_cpu_s": "s",
    "pyworker.cpu_s": "s",
    "pyworker.spawned": "count",
    "memory.peak_rss_mb": "MB",
    "streaming.batches": "count",
    "streaming.input_rows": "count",
    "streaming.trigger_s": "s",
    "streaming.add_batch_s": "s",
    "streaming.commit_s": "s",
    "streaming.query_planning_s": "s",
    "streaming.latest_offset_s": "s",
    "streaming.state_rows": "count",
    "streaming.state_memory_bytes": "bytes",
    "streaming.state_commit_s": "s",
    "streaming.batch_latency_p50_s": "s",
    "streaming.batch_latency_tail_s": "s",
    "streaming.drain_rows_per_s": "1/s",
    "oracle.check_s": "s",
    "oracle.checked": "count",
    "oracle.mismatches": "count",
    **{f"codec.{c}_mb_s": "MB/s" for c in CODECS},
}


def warm_passes(workload: Workload, seconds: float) -> int:
    return max(1, math.ceil(seconds / workload.pass_s))


def pass_orders(workload: Workload, seed: int, passes: int) -> list[list[str]]:
    """Entry order of the cold pass and each warm pass, permuted by the seed."""
    rng = random.Random(seed)
    orders = []
    for _ in range(passes + 1):
        order = list(workload.entries)
        rng.shuffle(order)
        orders.append(order)
    return orders


def e2e_metrics(setup_s, cold, warm, warm_wall_s, cpu_s) -> tuple[dict, dict]:
    """End-to-end metrics and their sample counts, from entry records."""
    lat = [r["latency_s"] for r in warm]
    tail_s, tail_pct = measure.tail(lat)
    values = {
        "setup_s": setup_s,
        "cold_pass_s": sum(r["latency_s"] for r in cold if r["latency_s"] is not None),
        "latency_p50_s": measure.median(lat),
        "latency_tail_s": tail_s,
        "queries_per_s": len(warm) / warm_wall_s,
        "cpu_s_per_query": cpu_s / len(warm),
    }
    samples = {
        "setup_s": 1,
        "cold_pass_s": len(cold),
        "latency_p50_s": len(lat),
        "latency_tail_s": len(lat),
        "queries_per_s": len(warm),
        "cpu_s_per_query": len(warm),
    }
    return values, {"samples": samples, "latency_tail_pct": tail_pct}


def layer_metrics(
    spans, warm, checks, codec_mb_s, warm_wall_s, cores, cpu, spawned, peak_rss_mb
) -> dict:
    """Per-layer metrics of a traced run. Sums are over the warm passes."""
    setup_s = {s["name"]: s["end_s"] - s["start_s"] for s in spans if s["trace_id"] == "setup"}

    def total(path: str) -> float:
        out = 0.0
        for r in warm:
            node = r["layers"]
            for part in path.split("."):
                node = node[part]
            out += node
        return out

    ex = {k: total("executor." + k) for k in (
        "jobs", "stages", "tasks", "failed_tasks", "run_s", "cpu_s", "gc_s",
        "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes", "fetch_wait_s", "spill_bytes",
    )}
    st = {k: total("streaming." + k) for k in (
        "batches", "input_rows", "trigger_s", "add_batch_s", "commit_s", "query_planning_s",
        "latest_offset_s", "state_rows", "state_commit_s",
    )}
    batch_lat = [x for r in warm for x in r["layers"]["streaming"]["batch_latency_s"]]
    drain_s = sum(r["build_s"] for r in warm if r["layers"]["streaming"]["queries"])
    v = {
        "session.get_spark_s": setup_s["session.get_spark"],
        "registry.load_s": setup_s["registry.load"],
        "queries.warm_entries": len(warm),
        "queries.build_s": sum(r["build_s"] for r in warm),
        "driver.cpu_s": cpu["driver"],
        "catalyst.analysis_s": total("catalyst.analysis_s"),
        "catalyst.optimization_s": total("catalyst.optimization_s"),
        "catalyst.planning_s": total("catalyst.planning_s"),
        "sinks.write_s": sum(r["write_s"] for r in warm),
        "executor.jobs": ex["jobs"],
        "executor.stages": ex["stages"],
        "executor.tasks": ex["tasks"],
        "executor.failed_tasks": ex["failed_tasks"],
        "executor.run_s": ex["run_s"],
        "executor.cpu_s": ex["cpu_s"],
        "executor.wait_s": ex["run_s"] - ex["cpu_s"],
        "executor.gc_s": ex["gc_s"],
        "executor.busy_frac": ex["run_s"] / (warm_wall_s * cores),
        "scan.input_bytes": ex["input_bytes"],
        "shuffle.read_bytes": ex["shuffle_read_bytes"],
        "shuffle.write_bytes": ex["shuffle_write_bytes"],
        "shuffle.fetch_wait_s": ex["fetch_wait_s"],
        "executor.spill_bytes": ex["spill_bytes"],
        "jvm.cpu_s": cpu["jvm"],
        "jvm.driver_cpu_s": cpu["jvm"] - ex["cpu_s"],
        "jvm.helpers_cpu_s": cpu["jvm_helpers"],
        "pyworker.cpu_s": cpu["pyworker"],
        "pyworker.spawned": spawned,
        "memory.peak_rss_mb": peak_rss_mb,
        "streaming.batches": st["batches"],
        "streaming.input_rows": st["input_rows"],
        "streaming.trigger_s": st["trigger_s"],
        "streaming.add_batch_s": st["add_batch_s"],
        "streaming.commit_s": st["commit_s"],
        "streaming.query_planning_s": st["query_planning_s"],
        "streaming.latest_offset_s": st["latest_offset_s"],
        "streaming.state_rows": st["state_rows"],
        "streaming.state_memory_bytes": max(
            (r["layers"]["streaming"]["state_memory_bytes"] for r in warm), default=0
        ),
        "streaming.state_commit_s": st["state_commit_s"],
        "streaming.batch_latency_p50_s": measure.median(batch_lat) if batch_lat else 0.0,
        "streaming.batch_latency_tail_s": (
            measure.tail(batch_lat)[0] if len(batch_lat) > 2 * measure.TAIL_BEYOND else 0.0
        ),
        "streaming.drain_rows_per_s": st["input_rows"] / drain_s if drain_s else 0.0,
        "oracle.check_s": sum(c["check_s"] for c in checks),
        "oracle.checked": len(checks),
        "oracle.mismatches": sum(1 for c in checks if c["error"]),
        **{f"codec.{c}_mb_s": mb for c, mb in codec_mb_s.items()},
    }
    return {k: {"value": v[k], "unit": unit} for k, unit in PER_LAYER_UNITS.items()}


class WorkerSampler:
    """Samples the live Python workers every 50 ms while active, to count the
    distinct worker processes a phase used (traced runs only)."""

    def __init__(self, procs: measure.ProcessSet) -> None:
        self.procs = procs
        self.seen: set[tuple[int, int]] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.wait(0.05):
            self.seen |= self.procs.workers()

    def __enter__(self) -> WorkerSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.seen |= self.procs.workers()


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_environment(run_dir: Path) -> None:
    """Everything the program reads from the environment, set before pyspark
    or flock_spark are imported."""
    os.environ["FLOCK_SPARK_NEXMARK_EVENTS"] = NEXMARK_EVENTS
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    # Python workers are started by the JVM and do not see sys.path edits.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
    )
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    sys.path.insert(0, str(ROOT))
    os.chdir(run_dir)  # spark-warehouse, derby and DuckDB spill files land here


def environment(spark, load_before: list[float]) -> dict:
    import pyarrow

    jvm = spark.sparkContext._jvm
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "spark": spark.version,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "pyarrow": pyarrow.__version__,
        "python": platform.python_version(),
        "loadavg_before": load_before,
    }


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    workload = WORKLOADS[args.workload]
    if not (ROOT / "flock_spark" / "__init__.py").is_file():
        print(f"no flock_spark package next to {Path(__file__).parent}", file=sys.stderr)
        return 2
    run_dir = RUN_DIR / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        prepare_environment(run_dir)
        return run(args, workload)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)
        if run_dir.parent.is_dir() and not any(run_dir.parent.iterdir()):
            run_dir.parent.rmdir()


def run(args: argparse.Namespace, workload: Workload) -> int:
    load_before = loadavg()
    tracer = measure.Tracer(T_START, enabled=bool(args.trace))
    with tracer.span("imports", "setup"):
        from flock_spark import catalog, oracle, registry, session, sinks
    with tracer.span("session.get_spark", "setup"):
        spark = session.get_spark("perfbench")
    gateway = spark.sparkContext._gateway
    try:
        with tracer.span("registry.load", "setup"):
            registry.get_queries()
        sf = catalog.DEFAULT_SF_DIR
        with tracer.span("warmup", "setup"):
            sinks.write_batch(registry.REGISTRY[WARMUP_ENTRY].fn(spark, sf), "noop", "")
        setup_s = time.perf_counter() - T_START
        bench = Bench(spark, sf, tracer, registry.REGISTRY, sinks.write_batch, args.trace)
        result = bench.measure(workload, args.seed, warm_passes(workload, args.seconds))
        checks = bench.check(workload, oracle.compare)
        env = environment(spark, load_before)
    finally:
        spark.stop()
        gateway.shutdown()
        # The JVM exits once its stdin closes; wait for it and its workers.
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
    report(args, workload, bench, result, checks, setup_s, env)
    return 0


class Bench:
    """The closed loop of one run: one client submits each entry only after
    the previous one has returned."""

    def __init__(self, spark, sf, tracer, registry, write_batch, trace: int) -> None:
        self.spark = spark
        self.sf = sf
        self.tracer = tracer
        self.registry = registry
        self.write_batch = write_batch
        self.procs = measure.ProcessSet(os.getpid())
        self.probe = None
        if trace:
            from sparkprobe import SparkProbe

            self.probe = SparkProbe(spark)
        self.errors: list[dict] = []
        self.cold_dfs: dict = {}

    def execute(self, name: str, phase: str, pass_no: int) -> dict:
        """One entry: fn, then the noop write. Returns its record; a traced
        run adds the entry's layer counters outside the timed region."""
        trace_id = f"{phase}{pass_no}-{name}"
        rec = {
            "trace_id": trace_id, "name": name, "phase": phase, "pass": pass_no,
            "latency_s": None, "build_s": None, "write_s": None, "layers": {},
        }
        tr, probe = self.tracer, self.probe
        if probe:
            mark, cpu0 = probe.mark(trace_id), self.procs.cpu()
        try:
            with tr.span("entry", trace_id):
                t0 = time.perf_counter()
                with tr.span("queries.build"):
                    df = self.registry[name].fn(self.spark, self.sf)
                t1 = time.perf_counter()
                with tr.span("sinks.write"):
                    self.write_batch(df, "noop", "")
                t2 = time.perf_counter()
        except Exception:
            self.errors.append({"name": name, "phase": phase, "error": traceback.format_exc(limit=3)})
            return rec
        rec.update(latency_s=t2 - t0, build_s=t1 - t0, write_s=t2 - t1)
        if phase == "cold":
            self.cold_dfs[name] = df
        if probe:
            with tr.span("trace.collect", trace_id):
                cpu1 = self.procs.cpu()
                diff = probe.diff(mark)
                rec["layers"] = {
                    "executor": {k: v for k, v in diff.items() if k != "streaming"},
                    "streaming": diff["streaming"],
                    "catalyst": probe.catalyst(df),
                    "cpu": {k: cpu1[k] - cpu0[k] for k in cpu1},
                }
        return rec

    def measure(self, workload: Workload, seed: int, passes: int) -> dict:
        orders = pass_orders(workload, seed, passes)
        cold = [self.execute(name, "cold", 0) for name in orders[0]]
        sampler = WorkerSampler(self.procs) if self.probe else contextlib.nullcontext()
        with sampler:
            cpu0, host0 = self.procs.cpu(), measure.host_ticks()
            t = time.perf_counter()
            warm = [
                self.execute(name, "warm", p)
                for p, order in enumerate(orders[1:], start=1)
                for name in order
            ]
            warm_wall_s = time.perf_counter() - t
            cpu1, host1 = self.procs.cpu(), measure.host_ticks()
        return {
            "passes": passes,
            "cold": cold,
            "warm": warm,
            "warm_wall_s": warm_wall_s,
            "warm_steal_frac": measure.steal_frac(host0, host1),
            "cpu": {k: cpu1[k] - cpu0[k] for k in cpu1},
            "peak_rss_mb": self.procs.peak_rss_mb(),
            "spawned": len(sampler.seen) if self.probe else 0,
        }

    def check(self, workload: Workload, compare) -> list[dict]:
        """Correctness, outside the timed regions: every entry's cold result
        (the DataFrame whose write was timed, executed again) against its
        DuckDB oracle. An entry whose cold run raised is built afresh."""
        checks = []
        for name in workload.entries:
            spec = self.registry[name]
            df = self.cold_dfs.get(name)
            fn = spec.fn if df is None else (lambda _spark, _sf, df=df: df)
            error = None
            t = time.perf_counter()
            try:
                with self.tracer.span("oracle.compare", f"check-{name}"):
                    compare(self.spark, fn, spec.oracle, self.sf)
            except Exception:
                error = traceback.format_exc(limit=3)
                self.errors.append({"name": name, "phase": "check", "error": error})
            checks.append({"name": name, "check_s": time.perf_counter() - t, "error": error})
        return checks


def report(args, workload, bench, result, checks, setup_s, env) -> None:
    """Print the detail line and the result line; a traced run also measures
    the codecs and writes its trace."""
    records = result["cold"] + result["warm"]
    ok = [r for r in result["warm"] if r["latency_s"] is not None]
    attempted = len(records)
    failed = sum(1 for r in records if r["latency_s"] is None) + sum(1 for c in checks if c["error"])
    detail = {
        "workload": workload.name,
        "seed": args.seed,
        "trace": args.trace,
        "warm_passes": result["passes"],
        "warm_wall_s": result["warm_wall_s"],
        "warm_steal_frac": result["warm_steal_frac"],
    }
    if args.trace:
        with bench.tracer.span("codec.measure", "codec"):
            import codec_bench

            codec_mb_s, wrong = codec_bench.measure(args.seed)
        attempted += len(codec_mb_s)
        failed += len(wrong)
        bench.errors.extend(
            {"name": f"codec.{c}", "phase": "codec", "error": "output != source"} for c in wrong
        )
        cores = int(os.environ["SPARK_GRAFT_CPUS"])
        metrics = layer_metrics(
            bench.tracer.spans, ok, checks, codec_mb_s, result["warm_wall_s"], cores, result["cpu"],
            result["spawned"], result["peak_rss_mb"],
        )
    else:
        values, extra = e2e_metrics(
            setup_s, result["cold"], ok, result["warm_wall_s"], sum(result["cpu"].values())
        )
        detail.update(extra, peak_rss_mb=result["peak_rss_mb"])
        metrics = {k: {"value": values[k], "unit": u} for k, u in E2E_UNITS.items()}
    detail.update(failed_frac=failed / attempted, errors=bench.errors)
    env["loadavg_after"] = loadavg()
    detail["env"] = env
    OUT_DIR.mkdir(exist_ok=True)
    stem = f"{workload.name}-seed{args.seed}-trace{args.trace}"
    if args.trace:
        doc = trace_doc(workload.name, args.seed, env, bench.tracer.spans, records, metrics, detail)
        measure.validate_trace(doc)
        (OUT_DIR / f"{stem}.json").write_text(json.dumps(doc, indent=1))
        detail.update(trace_file=f"{OUT_DIR.name}/{stem}.json", overhead=doc["overhead"],
                      accounting=doc["accounting"])
    else:
        (OUT_DIR / f"{stem}.json").write_text(json.dumps({"detail": detail, "metrics": metrics}, indent=1))
    print(json.dumps(detail))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))


def trace_doc(workload: str, seed: int, env, spans, records, metrics, detail) -> dict:
    """The traced run's output: spans, per-entry layer counters, self time per
    span name, per-layer metrics, the build + write accounting of each entry
    span, and the tracing overhead against the untraced run of the same
    workload and seed, if one ran in this checkout."""
    overhead = {"traced_warm_wall_s": detail["warm_wall_s"], "untraced_warm_wall_s": None, "frac": None}
    untraced = OUT_DIR / f"{workload}-seed{seed}-trace0.json"
    if untraced.is_file():
        base = json.loads(untraced.read_text())["detail"]["warm_wall_s"]
        overhead.update(untraced_warm_wall_s=base, frac=detail["warm_wall_s"] / base - 1)
    worst = measure.worst_self_s(spans, "entry")
    return {
        "schema": measure.TRACE_SCHEMA,
        "workload": workload,
        "seed": seed,
        "env": env,
        "spans": spans,
        "entries": records,
        "self_time_s": measure.self_times(spans),
        "per_layer": metrics,
        "overhead": overhead,
        "accounting": {
            "tolerance_s": ACCOUNTING_TOLERANCE_S,
            "worst_unaccounted_s": worst,
            "ok": worst <= ACCOUNTING_TOLERANCE_S,
        },
    }


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
