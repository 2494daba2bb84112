"""Self-tests of the benchmark's own code: the tail rule, the /proc CPU
reader, the workload entries, and the traced output's schema.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import subprocess
import sys
import textwrap
from pathlib import Path

import pytest

import measure
import run
from codec_bench import CODECS
from workloads import WARMUP_ENTRY, WORKLOADS

ROOT = Path(__file__).resolve().parent.parent
BENCHMARK = json.loads((ROOT / "BENCHMARK.json").read_text())


# --- tail rule --------------------------------------------------------------


@pytest.mark.parametrize("n", [21, 24, 25, 100])
def test_tail_is_highest_percentile_with_ten_samples_beyond(n):
    samples = [float(x) for x in range(n, 0, -1)]  # unsorted on purpose
    value, pct = measure.tail(samples)
    ordered = sorted(samples)
    beyond = [x for x in ordered if x > value]
    assert len(beyond) == measure.TAIL_BEYOND
    # one rank higher would leave fewer than ten beyond it
    assert len([x for x in ordered if x > ordered[ordered.index(value) + 1]]) < measure.TAIL_BEYOND
    assert pct == pytest.approx(100.0 * (n - measure.TAIL_BEYOND) / n)


def test_tail_must_lie_above_the_median():
    with pytest.raises(ValueError):
        measure.tail([1.0] * 2 * measure.TAIL_BEYOND)
    for w in WORKLOADS.values():
        n = len(w.entries) * run.warm_passes(w, BENCHMARK["run_seconds"])
        _, pct = measure.tail(list(range(n)))
        assert pct > 50, (w.name, n, pct)


# --- /proc CPU reader -------------------------------------------------------

_BURN = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.3:\n    pass\n"
_PARENT = textwrap.dedent(
    f"""
    import subprocess, sys
    burn = {_BURN!r} + "print('burnt', flush=True)\\nsys.stdin.read()\\n"
    child = subprocess.Popen([sys.executable, "-c", "import sys\\n" + burn],
                             stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
    child.stdout.readline()
    print("live", flush=True)
    sys.stdin.readline()
    child.stdin.close()
    child.wait()
    print("reaped", flush=True)
    sys.stdin.readline()
    """
)


def test_proc_cpu_counts_live_and_reaped_children():
    parent = subprocess.Popen(
        [sys.executable, "-c", _PARENT], stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True
    )
    try:
        assert parent.stdout.readline().strip() == "live"
        own, reaped = measure.cpu_s(parent.pid)
        assert reaped < 0.1  # the busy child is alive, not yet in cutime
        assert measure.tree_cpu_s(parent.pid) >= 0.25
        parent.stdin.write("\n")
        parent.stdin.flush()
        assert parent.stdout.readline().strip() == "reaped"
        own, reaped = measure.cpu_s(parent.pid)
        assert reaped >= 0.25
        assert measure.children(parent.pid) == []
        assert measure.tree_cpu_s(parent.pid) >= 0.25
    finally:
        parent.stdin.close()
        parent.wait(timeout=10)


# --- workloads --------------------------------------------------------------


def test_every_workload_entry_is_registered_with_an_oracle():
    sys.path.insert(0, str(ROOT))
    from flock_spark.registry import REGISTRY, get_queries

    get_queries()
    assert WARMUP_ENTRY in REGISTRY
    for w in WORKLOADS.values():
        assert WARMUP_ENTRY not in w.entries, "the warm-up would make its cold run warm"
        assert len(set(w.entries)) == len(w.entries)
        for name in w.entries:
            assert name in REGISTRY, name
            assert REGISTRY[name].oracle, f"{name} has no DuckDB oracle"


def test_benchmark_json_matches_the_code():
    assert [(w["name"], w["why"]) for w in BENCHMARK["workloads"]] == [
        (w.name, w.why) for w in WORKLOADS.values()
    ]
    assert {m["name"]: m["unit"] for m in BENCHMARK["end_to_end"]} == run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in BENCHMARK["per_layer"]} == run.PER_LAYER_UNITS


def test_pass_orders_depend_only_on_the_seed():
    w = WORKLOADS["pyudf_pipeline"]
    assert run.pass_orders(w, 7, 3) == run.pass_orders(w, 7, 3)
    assert run.pass_orders(w, 7, 3) != run.pass_orders(w, 8, 3)
    assert all(sorted(o) == sorted(w.entries) for o in run.pass_orders(w, 7, 3))


# --- traced output ----------------------------------------------------------


def _record(name, phase, pass_no, latency, streaming_queries=0):
    layers = {
        "executor": {
            "jobs": 2, "tagged_jobs": 2, "stages": 3, "tasks": 8, "failed_tasks": 0,
            "run_s": 0.4, "cpu_s": 0.3, "gc_s": 0.01, "input_bytes": 100,
            "shuffle_read_bytes": 10, "shuffle_write_bytes": 10, "fetch_wait_s": 0.0,
            "spill_bytes": 0,
        },
        "streaming": {
            "queries": streaming_queries, "unterminated": 0, "batches": streaming_queries,
            "input_rows": 1000 * streaming_queries, "trigger_s": 0.2, "add_batch_s": 0.1,
            "commit_s": 0.05, "query_planning_s": 0.02, "latest_offset_s": 0.01,
            "state_rows": 5, "state_memory_bytes": 4096, "state_commit_s": 0.01,
            "batch_latency_s": [0.2] * streaming_queries,
        },
        "catalyst": {"analysis_s": 0.01, "optimization_s": 0.02, "planning_s": 0.01},
        "cpu": {"jvm": 0.5, "jvm_helpers": 0.01, "pyworker": 0.0, "driver": 0.05},
    }
    return {
        "trace_id": f"{phase}{pass_no}-{name}", "name": name, "phase": phase, "pass": pass_no,
        "latency_s": latency, "build_s": latency / 4, "write_s": latency * 3 / 4, "layers": layers,
    }


def _traced_doc():
    tracer = measure.Tracer(0.0, enabled=True)
    for name in ("session.get_spark", "registry.load"):
        with tracer.span(name, "setup"):
            pass
    records = []
    for p in range(3):
        for name in ("a", "b"):
            rec = _record(name, "cold" if p == 0 else "warm", p, 0.01, streaming_queries=int(name == "b"))
            with tracer.span("entry", rec["trace_id"]):
                with tracer.span("queries.build"):
                    pass
                with tracer.span("sinks.write"):
                    pass
            records.append(rec)
    warm = [r for r in records if r["phase"] == "warm"]
    metrics = run.layer_metrics(
        tracer.spans, warm,
        [{"name": "a", "check_s": 0.5, "error": None}],
        {c: 1.0 for c in CODECS},
        warm_wall_s=1.0, cores=4,
        cpu={"jvm": 2.0, "jvm_helpers": 0.1, "pyworker": 0.0, "driver": 0.2}, spawned=0,
        peak_rss_mb=900.0,
    )
    detail = {"warm_wall_s": 1.0}
    return run.trace_doc("nonexistent_workload", 1, {"nproc": 4}, tracer.spans, records, metrics, detail)


def test_traced_output_schema():
    doc = _traced_doc()
    measure.validate_trace(doc)
    assert set(doc["per_layer"]) == set(run.PER_LAYER_UNITS)
    assert doc["per_layer"]["streaming.batches"]["value"] == 2
    assert doc["per_layer"]["executor.wait_s"]["value"] == pytest.approx(4 * 0.1)
    assert doc["accounting"]["ok"]
    assert doc["overhead"]["frac"] is None  # no untraced run of this workload
    json.dumps(doc)


def test_self_time_subtracts_children():
    doc = _traced_doc()
    entry = [s for s in doc["spans"] if s["name"] == "entry"]
    covered = sum(s["end_s"] - s["start_s"] for s in doc["spans"] if s["parent_id"] is not None)
    total = sum(s["end_s"] - s["start_s"] for s in entry)
    assert doc["self_time_s"]["entry"] == pytest.approx(total - covered)


@pytest.mark.parametrize(
    "breakage",
    [
        lambda d: d.pop("overhead"),
        lambda d: d["spans"][3].update(parent_id=10_000),
        lambda d: d["entries"][0].pop("layers"),
        lambda d: d["per_layer"]["executor.jobs"].update(value="2"),
    ],
)
def test_validate_trace_rejects_broken_documents(breakage):
    doc = _traced_doc()
    breakage(doc)
    with pytest.raises(ValueError):
        measure.validate_trace(doc)


# --- codec corpora ----------------------------------------------------------


def test_codec_corpora_decode_to_their_source():
    sys.path.insert(0, str(ROOT))
    import codec_bench

    cases = codec_bench.corpora(3)
    assert tuple(cases) == CODECS
    for name, (enc, decode, expected) in cases.items():
        assert len(enc) < len(expected), f"{name} corpus does not compress"
        assert decode(enc) == expected, name
    assert codec_bench.text_corpus(3) == codec_bench.text_corpus(3) != codec_bench.text_corpus(4)


def test_codec_output_must_match_before_its_speed_counts(monkeypatch):
    import codec_bench

    src = b"abc" * 100
    monkeypatch.setattr(codec_bench, "corpora", lambda seed: {
        "good": (src, bytes, src),
        "bad": (src, lambda b: b[:-1], src),
    })
    mb_s, wrong = codec_bench.measure(0)
    assert wrong == ["bad"]
    assert mb_s["bad"] == 0.0 and mb_s["good"] > 0


def test_median_and_tail_fall_inside_one_entry_cluster():
    """With one latency cluster per entry (ranks j*p .. j*p+p-1 after sorting),
    the median's two middle ranks share a cluster and the tail rank is not a
    cluster's last one."""
    for w in WORKLOADS.values():
        p = run.warm_passes(w, BENCHMARK["run_seconds"])
        n = len(w.entries) * p
        lo, hi = (n - 1) // 2, n // 2
        assert lo // p == hi // p, (w.name, n)
        tail_rank = n - measure.TAIL_BEYOND - 1
        assert tail_rank % p != p - 1, (w.name, n)
