"""Benchmark harness — runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {...}, "sf": ...}.

Session startup is amortized across all queries (one SparkSession, one
warm-up action) so the numbers measure query execution, not JVM boot —
SURVEY.md §6's note that fixed overhead, not data volume, is the local
risk.  Each query is executed via ``df.foreach(noop)``-free
``count()``-less ``collect()`` on its (small) result — the work is in the
scan/shuffle, results are aggregate-sized.
"""

from __future__ import annotations

import glob
import json
import os
import re
import time


def _bench_rounds(repo_dir: str) -> list[tuple[int, str]]:
    """``(round, path)`` of every driver ``BENCH_r{N}.json``, oldest
    first by PARSED round number (lexicographic order breaks at r9/r10).
    Core-count variants (``BENCH_r16_c8.json``) are skipped: they time
    the same round on a different machine shape."""
    return sorted(
        (int(m.group(1)), p)
        for p in glob.glob(os.path.join(repo_dir, "BENCH_r*.json"))
        if (m := re.search(r"BENCH_r(\d+)\.json$", p))
    )


def load_prior_timings(repo_dir: str) -> tuple[dict[str, float], str | None]:
    """Per-query timings (``parsed.queries``) from the newest driver
    ``BENCH_r{N}.json``, for round-over-round regression diffing.
    Returns ({}, None) when no record carries them; the bench must never
    fail because history is missing."""
    for _, path in reversed(_bench_rounds(repo_dir)):
        try:
            with open(path) as f:
                queries = (json.load(f).get("parsed") or {}).get("queries")
        except (OSError, json.JSONDecodeError, AttributeError):
            continue
        if isinstance(queries, dict) and queries:
            return (
                {k: float(v) for k, v in queries.items()},
                os.path.basename(path),
            )
    return {}, None


def time_queries(spark, registry, names, sf_dir, repeats):
    """Min-of-``repeats`` wall seconds of ``collect()`` for each name.

    Warm-up first, not counted: every name runs once at
    ``$SPARK_GRAFT_WARMUP`` (default sf0.001; "0" disables) so plan
    caches, the Python worker daemon's start and whole-stage-codegen
    compilation are paid before timing.  Codegen stays paid: the
    session's code cache holds a whole corpus pass (4,595 classes at
    sf0.001) and class names no longer carry adaptive execution's
    run-varying stage ids, so a timed pass compiles only the code its
    own scale factor plans differently (say, a shuffle join where the
    warm-up broadcast).  The minimum over passes
    is the steady-state estimator: single shots on a shared machine
    carry ±15% scheduler/GC noise.  Returns ``(timings, errors)``; a
    name is an error only if NO pass succeeded.  Shared with
    ``tools/ab_bench.py`` so both A/B sides run this exact loop."""
    warm_dir = os.environ.get("SPARK_GRAFT_WARMUP", "/root/testdata/sf0.001")
    if warm_dir not in ("0", ""):
        for name in names:
            try:
                registry[name].spark(spark, warm_dir).collect()
            except Exception:
                pass  # a warmup failure must never sink the bench
        # warmup queries persist intermediates too — release them so the
        # first timed query starts with a clean storage-memory budget
        spark.catalog.clearCache()
    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    for _ in range(repeats):
        for name in names:
            t0 = time.perf_counter()
            try:
                registry[name].spark(spark, sf_dir).collect()
                t = round(time.perf_counter() - t0, 4)
                timings[name] = min(timings.get(name, t), t)
            except Exception as exc:  # fault-isolate: one broken query
                # must never zero out the whole round's perf signal
                errors.setdefault(
                    name, f"{type(exc).__name__}: {exc}"[:500]
                )
            finally:
                # Queries that persist intermediates must not leak
                # storage memory into the next query's execution-memory
                # budget — each entry is timed standalone.
                spark.catalog.clearCache()
    errors = {n: e for n, e in errors.items() if n not in timings}
    return timings, errors


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    except ValueError:
        sf = None

    from big_data_lab_three_spark.queries import load_all
    from big_data_lab_three_spark.session import get_spark

    registry = load_all()
    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Warm up, not counted: JVM JIT + parquet footers, the broadcast
    # machinery, and the Python worker pool (first mapInPandas pays
    # worker fork + Arrow init — a per-process cost, not a per-query one).
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    li.count()
    from pyspark.sql import functions as F

    small = li.limit(100)
    small.join(F.broadcast(small.select("l_orderkey")), "l_orderkey").count()
    small.select("l_quantity").mapInPandas(
        lambda it: it, schema="l_quantity double"
    ).count()

    # SPARK_GRAFT_REPEATS=1 restores single-shot timing
    try:
        repeats = max(1, int(os.environ.get("SPARK_GRAFT_REPEATS", "2")))
    except ValueError:
        repeats = 2  # a malformed env var must never sink the bench
    timings, errors = time_queries(
        spark, registry, sorted(registry), sf_dir, repeats
    )
    total = round(sum(timings.values()), 4)
    out = {
        "metric": "query_corpus_total_runtime",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
    }
    if errors:
        out["errors"] = errors

    # Round-over-round regression diff, DRIFT-NORMALIZED: absolute
    # timings shift 18-30% between rounds with machine state, uniformly
    # across queries — so the raw >20% rule once flagged 23 "regressions"
    # that were all the same slower-machine constant.  The median
    # now/prev ratio across shared queries IS that constant (a plan
    # regression moves one query, not the median); a query regresses
    # when it is >20% slower than drift-adjusted expectation AND >0.15s
    # absolute (20% of a 50ms query is noise).
    repo = os.path.dirname(os.path.abspath(__file__))
    prior, prior_src = load_prior_timings(repo)
    shared = {
        name: t / prior[name]
        for name, t in timings.items()
        if name in prior and prior[name] > 0
    }
    if shared:
        drift = sorted(shared.values())[len(shared) // 2]
        regressions = {
            name: {
                "prev": prior[name],
                "now": timings[name],
                "ratio_vs_drift": round(r / drift, 3),
            }
            for name, r in shared.items()
            if r > drift * 1.2
            and timings[name] - prior[name] * drift > 0.15
        }
        out["machine_drift"] = round(drift, 3)
        # The median CANNOT distinguish machine state from a regression
        # that slows EVERY query (a session-conf or engine-level change)
        # — both raise all ratios uniformly.  Surface the ambiguity
        # instead of absorbing it: a large drift value demands the
        # same-day A/B (tools/ab_bench.py vs the prior commit), which
        # is immune to machine state by construction.
        if drift > 1.2:
            out["drift_note"] = (
                f"median ratio {drift:.2f} vs {prior_src} — machine "
                "state OR a global regression; confirm with "
                "tools/ab_bench.py before trusting either reading"
            )
        out["regressions"] = regressions
        out["regressions_vs"] = prior_src

    # Persist the FULL record in-repo: the driver's BENCH_r{N}.json keeps
    # only a 2,000-char stdout tail, which truncates the per-query head —
    # cross-round judging then depends on tail reconstruction.  The round
    # number is inferred as newest-recorded + 1: the driver records
    # BENCH_r{N} at round CLOSE, so any run before that belongs to round
    # N, and a run after it is round-N+1 work by definition (re-running
    # in the same session after the driver recorded simply pre-writes
    # the next round's file — overwritten by that round's own pre-flight).
    # Override with SPARK_GRAFT_ROUND.  Best-effort: a read-only
    # checkout must not sink the bench.
    try:
        rounds = _bench_rounds(repo)
        n_round = int(
            os.environ.get(
                "SPARK_GRAFT_ROUND", (rounds[-1][0] if rounds else 0) + 1
            )
        )
        with open(
            os.path.join(repo, f"bench_full_r{n_round:02d}.json"), "w"
        ) as f:
            json.dump(out, f, indent=1, sort_keys=True)
    except (OSError, ValueError):
        pass
    print(json.dumps(out))


if __name__ == "__main__":
    main()
