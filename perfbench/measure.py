"""Spark-free measurement helpers: /proc readers, percentiles and spans.

Nothing here imports pyspark, so the self-tests exercise it without a JVM.
"""

from __future__ import annotations

import contextlib
import itertools
import os
import statistics
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")
TAIL_BEYOND = 10  # a tail percentile needs at least this many samples beyond it


# ---------------------------------------------------------------------------
# /proc readers
# ---------------------------------------------------------------------------


def _stat_fields(pid: int) -> list[str]:
    with open(f"/proc/{pid}/stat") as f:
        raw = f.read()
    # comm may hold spaces or parentheses: split after the last ')'.
    return raw[raw.rindex(")") + 2 :].split()


def cpu_s(pid: int) -> tuple[float, float]:
    """(own CPU seconds, CPU seconds of reaped children) of one process.

    Fields 14-17 of /proc/<pid>/stat: utime, stime, cutime, cstime. A child's
    time moves into its parent's cutime/cstime only once the parent waits on
    it, so live children must be read separately (see tree_cpu_s)."""
    f = _stat_fields(pid)
    own = (int(f[11]) + int(f[12])) / CLK_TCK
    reaped = (int(f[13]) + int(f[14])) / CLK_TCK
    return own, reaped


def start_ticks(pid: int) -> int:
    """Process start time in clock ticks since boot (field 22): with the pid
    it identifies one process even after pid reuse."""
    return int(_stat_fields(pid)[19])


def children(pid: int) -> list[int]:
    out: list[int] = []
    try:
        tasks = os.listdir(f"/proc/{pid}/task")
    except FileNotFoundError:
        return out
    for tid in tasks:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
        except FileNotFoundError:
            continue
    return out


def cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except FileNotFoundError:
        return ""


def tree_cpu_s(pid: int) -> float:
    """CPU seconds of a process, its reaped children and every live
    descendant. A descendant that exits between two reads can be missed or
    counted twice for that instant; the error is one worker's last tick."""
    try:
        own, reaped = cpu_s(pid)
    except FileNotFoundError:
        return 0.0
    return own + reaped + sum(tree_cpu_s(c) for c in children(pid))


def status_kb(pid: int, key: str) -> int:
    """A kB field of /proc/<pid>/status (VmHWM = peak RSS, VmRSS = RSS)."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except FileNotFoundError:
        pass
    return 0


def host_ticks() -> tuple[int, int]:
    """(steal ticks, all ticks) of the whole machine from /proc/stat. Steal
    is time the hypervisor ran other guests while this one had work."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def steal_frac(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total else 0.0


class ProcessSet:
    """The processes of one Spark-on-Python program: this driver, the JVM it
    launched, and the Python worker processes the JVM forks (the
    ``pyspark.daemon`` and its workers)."""

    def __init__(self, driver_pid: int) -> None:
        self.driver = driver_pid
        jvms = [c for c in children(driver_pid) if "java" in cmdline(c).split(" ", 1)[0]]
        if len(jvms) != 1:
            raise RuntimeError(f"expected one JVM child of pid {driver_pid}, found {jvms}")
        self.jvm = jvms[0]

    def python_roots(self) -> list[int]:
        """Live Python processes the JVM started (pyspark.daemon or workers)."""
        return [c for c in children(self.jvm) if "python" in cmdline(c)]

    def workers(self) -> set[tuple[int, int]]:
        """(pid, start tick) of every live Python worker under the JVM. With
        the daemon, workers are its forked children and share its command
        line; without it, the JVM's Python children are the workers."""
        out = set()
        stack = []
        for root in self.python_roots():
            if "pyspark.daemon" in cmdline(root):
                stack.extend(children(root))
            else:
                stack.append(root)
        while stack:
            pid = stack.pop()
            stack.extend(children(pid))
            with contextlib.suppress(FileNotFoundError):
                out.add((pid, start_ticks(pid)))
        return out

    def cpu(self) -> dict[str, float]:
        """CPU seconds so far, per role. ``pyworker`` is the live Python
        processes under the JVM with everything they reaped (the daemon and
        its workers). ``jvm_helpers`` is what the JVM itself reaped: the
        file-system helpers Hadoop's local file system runs (chmod,
        readlink) and any Python process that exited before the JVM."""
        jvm_own, jvm_reaped = cpu_s(self.jvm)
        drv = os.times()
        return {
            "jvm": jvm_own,
            "jvm_helpers": jvm_reaped,
            "pyworker": sum(tree_cpu_s(p) for p in self.python_roots()),
            "driver": drv.user + drv.system,
        }

    def peak_rss_mb(self) -> float:
        """Sum of peak RSS (VmHWM) of the driver, the JVM and the live Python
        workers: an upper bound of the peak of their sum."""
        pids = [self.driver, self.jvm]
        stack = self.python_roots()
        while stack:
            pid = stack.pop()
            pids.append(pid)
            stack.extend(children(pid))
        return sum(status_kb(p, "VmHWM") for p in pids) / 1024.0


# ---------------------------------------------------------------------------
# Percentiles
# ---------------------------------------------------------------------------


def tail(samples: list[float]) -> tuple[float, float]:
    """The highest percentile that still has TAIL_BEYOND samples beyond it:
    returns (value, percentile). With n samples sorted ascending that is the
    sample at 0-based index n - TAIL_BEYOND - 1, i.e. percentile
    100 * (n - TAIL_BEYOND) / n. Needs n > 2 * TAIL_BEYOND, so that the
    percentile lies above the median."""
    n = len(samples)
    if n <= 2 * TAIL_BEYOND:
        raise ValueError(f"a tail above the median needs more than {2 * TAIL_BEYOND} samples, got {n}")
    i = n - TAIL_BEYOND - 1
    return sorted(samples)[i], 100.0 * (i + 1) / n


def median(samples: list[float]) -> float:
    return statistics.median(samples)


def iqr_share(values: list[float]) -> float:
    """Distance between the first and third quartile, as a share of the
    median (statistics.quantiles with n=4)."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


# ---------------------------------------------------------------------------
# Spans
# ---------------------------------------------------------------------------


class Tracer:
    """In-memory spans: name, start, end, parent span and trace id. One trace
    id per entry execution; the set-up spans share trace id "setup".
    Times are seconds since ``t0``. When disabled, ``span`` records nothing."""

    def __init__(self, t0: float, enabled: bool) -> None:
        self.t0 = t0
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._ids = itertools.count(1)

    @contextlib.contextmanager
    def span(self, name: str, trace_id: str | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "span_id": next(self._ids),
            "parent_id": parent["span_id"] if parent else None,
            "trace_id": trace_id or (parent["trace_id"] if parent else "run"),
            "name": name,
            "start_s": time.perf_counter() - self.t0,
            "end_s": None,
        }
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end_s"] = time.perf_counter() - self.t0
            self._stack.pop()
            self.spans.append(rec)


def _child_s(spans: list[dict]) -> dict[int, float]:
    """Per span id, the summed duration of its children. Children of one
    span run one after another, so the sum is the part of it they cover."""
    out: dict[int, float] = {}
    for s in spans:
        if s["parent_id"] is not None:
            out[s["parent_id"]] = out.get(s["parent_id"], 0.0) + s["end_s"] - s["start_s"]
    return out


def self_times(spans: list[dict]) -> dict[str, float]:
    """Total self time per span name: each span's duration minus the part its
    children cover."""
    child_s = _child_s(spans)
    out: dict[str, float] = {}
    for s in spans:
        own = s["end_s"] - s["start_s"] - child_s.get(s["span_id"], 0.0)
        out[s["name"]] = out.get(s["name"], 0.0) + own
    return out


def worst_self_s(spans: list[dict], name: str) -> float:
    """Largest self time of the spans called ``name``: for an entry span, the
    part of its latency that its build and write spans do not account for."""
    child_s = _child_s(spans)
    return max(
        (s["end_s"] - s["start_s"] - child_s.get(s["span_id"], 0.0) for s in spans if s["name"] == name),
        default=0.0,
    )


TRACE_SCHEMA = "perfbench.trace/1"
SPAN_KEYS = {"span_id", "parent_id", "trace_id", "name", "start_s", "end_s"}
ENTRY_KEYS = {"trace_id", "name", "phase", "pass", "latency_s", "build_s", "write_s", "layers"}
TRACE_KEYS = {
    "schema", "workload", "seed", "env", "spans", "entries", "self_time_s",
    "per_layer", "overhead", "accounting",
}


def validate_trace(doc: dict) -> None:
    """Raise ValueError if a trace document does not have the schema that
    run.py writes and readers of the trace rely on."""
    if set(doc) != TRACE_KEYS:
        raise ValueError(f"trace keys {sorted(doc)} != {sorted(TRACE_KEYS)}")
    if doc["schema"] != TRACE_SCHEMA:
        raise ValueError(f"schema {doc['schema']!r}")
    ids = {s["span_id"] for s in doc["spans"]}
    for s in doc["spans"]:
        if set(s) != SPAN_KEYS:
            raise ValueError(f"span keys {sorted(s)}")
        if s["parent_id"] is not None and s["parent_id"] not in ids:
            raise ValueError(f"span {s['span_id']} has unknown parent {s['parent_id']}")
        if not s["end_s"] >= s["start_s"]:
            raise ValueError(f"span {s['span_id']} ends before it starts")
    for e in doc["entries"]:
        if set(e) != ENTRY_KEYS:
            raise ValueError(f"entry keys {sorted(e)}")
    for name, m in doc["per_layer"].items():
        if set(m) != {"value", "unit"} or not isinstance(m["value"], (int, float)):
            raise ValueError(f"per-layer metric {name}: {m}")
