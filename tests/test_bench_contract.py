"""Contract tests for bench.py's measurement-integrity guards.

The bench JSON is the round's graded artifact; these pins keep the two
anti-contamination guards (warm-spread flag, host-contention shares over
the suite window) from silently regressing. The suite itself is NOT run
here — only the guard logic and the headline registry wiring.
"""

from __future__ import annotations

import importlib
import time

import pytest


def _bench():
    return importlib.import_module("bench")


def test_headline_queries_all_registered():
    b = _bench()
    from flock_spark.registry import REGISTRY, get_queries

    get_queries()
    missing = [n for n in b.HEADLINE if n not in REGISTRY]
    assert not missing, f"bench HEADLINE names not in registry: {missing}"
    assert len(set(b.HEADLINE)) == len(b.HEADLINE), "duplicate headline entries"


# Synthetic /proc/stat "cpu" lines (user nice system idle iowait irq softirq
# steal guest guest_nice). Over the window: 10000 ticks; steal 700, idle
# 5000 + iowait 200 (quiet) or 2000 + 200 (loaded); this process tree spent
# 4000 ticks, so other processes kept 100 (quiet) or 3100 (loaded) busy.
BEFORE = "cpu  1000 10 500 80000 100 0 20 300 0 0"


@pytest.mark.parametrize("after, shares, contended", [
    ("cpu  4000 10 1500 85000 300 0 120 1000 0 0", (0.01, 0.07), False),
    ("cpu  7000 10 1500 82000 300 0 120 1000 0 0", (0.31, 0.07), True),
], ids=["quiet", "loaded"])
def test_window_shares_and_contended(after, shares, contended):
    b = _bench()
    own_s = 4000 / b.CLK_TCK
    got = b.host_shares((b.cpu_ticks(BEFORE), 5.0), (b.cpu_ticks(after), 5.0 + own_s))
    assert got == shares
    assert (sum(got) > b.CONTENDED_SHARE) is contended


def test_live_window_shares_are_fractions():
    b = _bench()
    before = b.host_sample()
    time.sleep(0.3)
    shares = b.host_shares(before, b.host_sample())
    assert all(0.0 <= s <= 1.0 for s in shares), shares
