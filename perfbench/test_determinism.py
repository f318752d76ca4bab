"""Self-checks of the benchmark itself (slow: each case starts Spark).

    python -m pytest perfbench/test_determinism.py -q

A traced run compares every operation's counters between its traced
passes (``trace.nondeterministic_ops``): job counts must repeat exactly
and shuffle bytes within 0.1%.  These tests run each workload traced and
require that (bar the listed known shuffle drift), correct outputs, and
the full per-layer metric set.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

sys.path.insert(0, HERE)

import run  # noqa: E402
import workloads  # noqa: E402


def _bench(*args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), *args],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )


def _declared(section: str) -> set[str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"] for m in json.load(f)[section]}


# Operations whose shuffle bytes legitimately drift between passes.
KNOWN_SHUFFLE_DRIFT = {
    # re-reads the CSV files it just wrote; their read order varies, so
    # the compressed shuffle blocks differ by a few percent
    "csv_roundtrip",
}


@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_traced_counters_repeat(workload):
    proc = _bench("--workload", workload, "--seed", "7", "--seconds", "0",
                  "--trace", "1")
    assert proc.returncode == 0, proc.stderr[-2000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["correct"] and out["failed"] == 0
    assert set(out["metrics"]) == _declared("per_layer")
    m = re.search(r"counters differ between traced passes: (\{.*\})",
                  proc.stderr)
    drift = json.loads(m.group(1)) if m else {}
    assert out["metrics"]["trace.nondeterministic_ops"]["value"] == len(drift)
    assert {op: why for op, why in drift.items()
            if why == "jobs" or op not in KNOWN_SHUFFLE_DRIFT} == {}


def test_untraced_metrics_match_declaration():
    proc = _bench("--workload", "queries", "--seed", "3", "--seconds", "0",
                  "--trace", "0")
    assert proc.returncode == 0, proc.stderr[-2000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["correct"] and out["attempted"] >= 1
    assert set(out["metrics"]) == _declared("end_to_end")
    assert all(v["value"] > 0 for v in out["metrics"].values())


def test_tail_has_ten_samples_beyond():
    lat = [float(i) for i in range(1, 101)]
    value, pct, n = run.tail(lat)
    assert (value, pct, n) == (90.0, 90.0, 100)
    assert sum(x > value for x in lat) == 10
    assert run.tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)
