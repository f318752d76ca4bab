"""bench.py helpers that run without Spark: the prior-round picker and
the shared min-of-N timing loop."""

from __future__ import annotations

import json
from types import SimpleNamespace

from bench import load_prior_timings, time_queries


def _write(tmp_path, name, queries):
    (tmp_path / f"{name}.json").write_text(
        json.dumps({"parsed": {"queries": queries}})
    )


def test_prior_timings_pick_newest_parsed_round(tmp_path):
    # unpadded r9 sorts lexicographically AFTER r10
    _write(tmp_path, "BENCH_r9", {"q": 9.0})
    _write(tmp_path, "BENCH_r10", {"q": 10.0})
    assert load_prior_timings(str(tmp_path)) == ({"q": 10.0}, "BENCH_r10.json")
    # a core-count variant of the newest round is never the baseline
    _write(tmp_path, "BENCH_r16", {"q": 290.9})
    _write(tmp_path, "BENCH_r16_c8", {"q": 266.6})
    assert load_prior_timings(str(tmp_path)) == ({"q": 290.9}, "BENCH_r16.json")


def test_prior_timings_skip_records_without_parsed_queries(tmp_path):
    _write(tmp_path, "BENCH_r3", {"q": 3.0})
    (tmp_path / "BENCH_r4.json").write_text(
        json.dumps({"parsed": None, "tail": '"q": 4.0'})
    )
    assert load_prior_timings(str(tmp_path)) == ({"q": 3.0}, "BENCH_r3.json")
    assert load_prior_timings(str(tmp_path / "missing")) == ({}, None)


def test_time_queries_min_of_passes_and_error_only_if_never_timed(
    monkeypatch,
):
    monkeypatch.setenv("SPARK_GRAFT_WARMUP", "0")
    calls: dict[str, int] = {}

    def query(name, fail_on):
        def run(spark, sf_dir):
            calls[name] = calls.get(name, 0) + 1
            if calls[name] in fail_on:
                raise RuntimeError(f"{name} pass {calls[name]}")
            return SimpleNamespace(collect=lambda: [])

        return SimpleNamespace(spark=run)

    registry = {
        "ok": query("ok", fail_on=()),
        "flaky": query("flaky", fail_on=(1,)),
        "broken": query("broken", fail_on=(1, 2)),
    }
    clears = []
    spark = SimpleNamespace(
        catalog=SimpleNamespace(clearCache=lambda: clears.append(1))
    )
    timings, errors = time_queries(
        spark, registry, [*registry, "unregistered"], "sf", repeats=2
    )
    assert set(timings) == {"ok", "flaky"}
    assert set(errors) == {"broken", "unregistered"}
    assert errors["broken"] == "RuntimeError: broken pass 1"
    assert calls == {"ok": 2, "flaky": 2, "broken": 2}
    assert len(clears) == 8  # after every attempt, failed ones too
