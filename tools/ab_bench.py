"""Same-day A/B bench — the measurement discipline EXPERIMENTS.md
prescribes, automated.

Cross-round absolute timings drift 18-30% with machine state, so "is
this plan change faster?" is only answerable by running BOTH versions
on the same box, same day, interleaved.  This tool:

1. exports ``<ref>`` (``git archive``) into a scratch directory;
2. times the current tree (A) and the export (B), ALTERNATING
   A,B,A,B… so slow-machine phases hit both sides equally.  Both sides
   run the current checkout's ``bench.time_queries`` loop over their
   own registry, so a ref older than that function still works;
3. takes the per-query minimum per side across rounds (steady-state
   estimator, same as bench.py) and prints per-query A/B deltas.

Usage::

    python tools/ab_bench.py <ref> [query ...]        # default: all
    SPARK_GRAFT_AB_ROUNDS=3 python tools/ab_bench.py HEAD~1 quantile_profile

Each side runs in its OWN subprocess/SparkSession (no classpath or
conf bleed between versions).  Exit code 0 always — this is a
measurement tool, not a gate.
"""

from __future__ import annotations

import importlib.util
import json
import os
import shutil
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def side(tree: str, sf_dir: str, names: list[str]) -> None:
    """One A/B side, in its own process: this checkout's timing loop
    over ``tree``'s registry and session."""
    spec = importlib.util.spec_from_file_location(
        "bench", os.path.join(REPO, "bench.py")
    )
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)
    sys.path.insert(0, tree)
    os.chdir(tree)
    from big_data_lab_three_spark.queries import load_all
    from big_data_lab_three_spark.session import get_spark

    reg = load_all()
    spark = get_spark("ab_bench")
    spark.sparkContext.setLogLevel("ERROR")
    timings, _ = bench.time_queries(
        spark, reg, names or sorted(reg), sf_dir, repeats=1
    )
    print("ABJSON:" + json.dumps(timings))


def run_side(tree: str, sf_dir: str, names: list[str]) -> dict:
    try:
        proc = subprocess.run(
            [sys.executable, __file__, "--side", tree, sf_dir, *names],
            capture_output=True,
            text=True,
            timeout=3600,
        )
    except subprocess.TimeoutExpired:
        # a hung side must not discard the other rounds' measurements —
        # report nothing for this pass and keep going
        sys.stderr.write(f"side timed out after 3600s: {tree}\n")
        return {}
    for line in reversed(proc.stdout.splitlines()):
        if line.startswith("ABJSON:"):
            return json.loads(line[len("ABJSON:") :])
    sys.stderr.write(proc.stderr[-2000:] + "\n")
    return {}


def main() -> int:
    if len(sys.argv) < 2:
        print(__doc__)
        return 0
    if sys.argv[1] == "--side":
        side(sys.argv[2], sys.argv[3], sys.argv[4:])
        return 0
    ref = sys.argv[1]
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    rounds = max(1, int(os.environ.get("SPARK_GRAFT_AB_ROUNDS", "2")))

    wt = tempfile.mkdtemp(prefix="ab_bench_")
    try:
        archive = subprocess.run(
            ["git", "-C", REPO, "archive", ref],
            check=True,
            capture_output=True,
        ).stdout
        subprocess.run(["tar", "-x", "-C", wt], input=archive, check=True)
        a_best: dict = {}
        b_best: dict = {}
        for r in range(rounds):
            for label, tree, best in (
                ("A(current)", REPO, a_best),
                (f"B({ref})", wt, b_best),
            ):
                print(f"round {r + 1}/{rounds} {label} ...", flush=True)
                got = run_side(tree, sf_dir, names)
                for k, v in got.items():
                    best[k] = min(best.get(k, v), v)
        keys = sorted(set(a_best) | set(b_best))
        print(f"\n{'query':<32} {'A=now':>8} {'B=' + ref:>10} {'A/B':>6}")
        for k in keys:
            a, b = a_best.get(k), b_best.get(k)
            ratio = f"{a / b:.2f}" if a and b else "-"
            fa = f"{a:.3f}" if a is not None else "ERR"
            fb = f"{b:.3f}" if b is not None else "ERR"
            print(f"{k:<32} {fa:>8} {fb:>10} {ratio:>6}")
        # totals over the INTERSECTION only: with no query filter the
        # current tree may register queries the older ref lacks (or a
        # query may error on one side), and summing each side over its
        # own set would report a phantom regression
        both = [k for k in keys if a_best.get(k) and b_best.get(k)]
        ta = sum(a_best[k] for k in both)
        tb = sum(b_best[k] for k in both)
        if ta and tb:
            print(
                f"\ntotal over {len(both)} shared queries: "
                f"A={ta:.2f}s  B={tb:.2f}s  A/B={ta / tb:.2f}"
            )
    finally:
        shutil.rmtree(wt, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
