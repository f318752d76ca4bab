"""Benchmark for the spark-graft engine (``big_data_lab_three_spark``).

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Runs one workload from ``workloads.py`` against the engine's public entry
points (``session.get_spark``, ``queries.load_all`` and the registered
query constructors, ``serve.app.Service``), checks every output, and
prints one JSON object as the last line of stdout:
``{"correct", "attempted", "failed", "metrics"}``.

Protocol, per run:

1. generate the input tables (``datagen.py``, fixed data seed) into a
   scratch directory under ``perfbench/_work/``, which is also the
   working directory, temp directory and Spark local directory; the
   directory is removed on exit;
2. set up ``SETUPS`` times: import the engine, build the SparkSession,
   ``load_all()``, run the warm-up (for ``serve_predict`` also build the
   ``Service`` and train both models).  Set-ups after the first stop the
   session and re-import the engine.  ``setup_s`` is their median;
3. run ``WARM_PASSES`` untimed passes of the workload (caches fill,
   first-call work finishes, the JVM compiles), then whole timed passes,
   started until ``--seconds`` have passed.  Every operation is followed
   by a fixed reference Spark job (``Bench.reference``), timed apart;
4. outside the timed region, compare every result with the query's
   DuckDB oracle through ``oracle_compare`` (``serve_predict``: row
   counts and labels).  A wrong result or an exception counts as failed.

``--trace 0`` prints the end-to-end metrics: ``setup_s``, and
``wall_ref``, one pass with every operation at its median latency,
where each latency is in units of the median reference job of its pass
(unit ``ref``).  On a few shared virtual CPUs the hypervisor's steal
time slows a whole run by up to 2x; the engine and the reference job
slow down together, so their ratio spreads far less between runs than
seconds do.  The summary line before the result also gives
``latency_p50_ref`` (the median operation), the same figures in
seconds, ``latency_tail_s`` (the highest percentile with ten samples
beyond it), ``failed_frac`` and the share of CPU time stolen during the
timed phase.

``--trace 1`` interleaves untraced and traced passes and prints the
per-layer metrics, including the seconds behind the ``ref`` figures
(``e2e.*``) and ``trace.overhead_frac`` (traced vs untraced pass time).
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import importlib  # noqa: E402
import io  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import types  # noqa: E402

import datagen  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "big_data_lab_three_spark"
SETUPS = 3
WARM_PASSES = 2
# One Spark core and a single-threaded collector: on a few shared vCPUs,
# every extra runnable thread adds scheduler waits to the timings.
CORES = 1
JVM_OPTS = "-XX:+UseSerialGC -XX:CICompilerCount=2"

pc = time.perf_counter


def log(msg: str) -> None:
    print(f"[perfbench {pc() - PROCESS_START:7.2f}s] {msg}", file=sys.stderr,
          flush=True)


def cpu_ticks() -> tuple[int, int]:
    """(busy, stolen) clock ticks of the machine so far, from /proc/stat.
    Stolen ticks are time the hypervisor ran another guest instead of
    this one's virtual CPUs."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    return v[0] + v[1] + v[2] + v[5] + v[6], v[7]


def tail(latencies: list[float]) -> tuple[float, float, int]:
    """(value, percentile, samples) of the highest percentile with at
    least ten samples beyond it; the maximum when there are ten or fewer
    samples."""
    s = sorted(latencies)
    n = len(s)
    if n > 10:
        return s[n - 11], 100.0 * (n - 10) / n, n
    return s[-1], 100.0, n


def rel_latency(rec: dict) -> float:
    """An operation's latency in units of the median reference job of
    its pass (see ``Bench.reference``)."""
    return rec["latency"] / rec["pass_ref"]


def typical_pass(recs: list[dict], n_passes: int, value=None) -> float:
    """One pass with every operation at its median: the sum over
    operations of their median ``value`` (default: latency in seconds),
    each weighted by how often it ran per pass."""
    by_key: dict[str, list[float]] = {}
    for r in recs:
        by_key.setdefault(r["key"], []).append(
            r["latency"] if value is None else value(r)
        )
    return sum(
        statistics.median(v) * len(v) for v in by_key.values()
    ) / max(n_passes, 1)


class Bench:
    def __init__(self, args, wl: workloads.Workload, work: str) -> None:
        self.args = args
        self.wl = wl
        self.data = os.path.join(work, "data")
        self.rng = random.Random(args.seed)
        self.calls = tracing.CallCounter() if args.trace else None
        self.counters = None
        self.spark = None
        self.registry = {}
        self.service = None
        self.steal_frac = 0.0
        self.confs = {
            "spark.driver.memory": "2g",
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": (
                JVM_OPTS + " -Duser.timezone=UTC -Djava.io.tmpdir="
                + os.path.join(work, "tmp")
            ),
        }

    # ---------------------------------------------------------------- setup

    def setup(self, first: bool) -> dict[str, float]:
        t0 = pc()
        if not first:
            self.spark.stop()
            for mod in [m for m in sys.modules if m.split(".")[0] == PKG]:
                del sys.modules[mod]
        session = importlib.import_module(f"{PKG}.session")
        queries = importlib.import_module(f"{PKG}.queries")
        if self.calls is not None:
            tracing.install_engine_wrappers(self.calls)
            self.calls.new_session()
        t1 = pc()
        self.spark = session.get_spark("perfbench", extra_confs=self.confs)
        self.spark.sparkContext.setLogLevel("ERROR")
        t2 = pc()
        self.registry = queries.load_all()
        t3 = pc()
        extra = self.warm_up()
        t4 = pc()
        return {
            "total": t4 - t0,
            "session.start_s": t2 - t1,
            "queries.load_all_s": t3 - t2,
            "session.warmup_s": t4 - t3,
            **extra,
        }

    def warm_up(self) -> dict[str, float]:
        if self.wl.ops:
            self.registry[workloads.WARMUP_QUERY].spark(
                self.spark, self.data
            ).collect()
            self.spark.catalog.clearCache()
            return {}
        app = importlib.import_module(f"{PKG}.serve.app")
        self.service = app.Service(self.data)
        out = {}
        for model in workloads.SERVE_MODELS:
            t0 = pc()
            self.service.train(model, save_model=False)
            out[f"ml.train_s.{model}"] = pc() - t0
            self.service.predict("upload", model, self.csv(1))
        return out

    # ----------------------------------------------------------- operations

    def csv(self, n: int) -> bytes:
        r = self.rng
        buf = io.StringIO()
        buf.write(",".join(workloads.SERVE_FEATURES) + "\n")
        for _ in range(n):
            buf.write(
                f"{r.randint(1, 50)}.0,{r.uniform(900, 105000):.2f},"
                f"{r.randint(0, 10) / 100},{r.randint(0, 8) / 100}\n"
            )
        return buf.getvalue().encode()

    def plan(self, k: int) -> list[tuple]:
        """One pass: (op name, argument) pairs in seed-permuted order."""
        if self.wl.ops:
            ops = [(name, None) for name in self.wl.ops]
        else:
            ops = [
                (f"upload_{n}", (model, n))
                for model in workloads.SERVE_MODELS
                for n in workloads.SERVE_UPLOAD_ROWS
            ]
            smoke_model = workloads.SERVE_MODELS[k % 2]
            ops.append(("smoke", (smoke_model, 0)))
        self.rng.shuffle(ops)
        if not self.wl.ops:
            ops = [
                (name, (model, self.csv(n) if n else None))
                for name, (model, n) in ops
            ]
        return ops

    def group(self, name: str, traced: bool):
        if traced:
            return self.counters.group(name)
        return contextlib.nullcontext()

    def run_op(self, name: str, arg, tag: str, traced: bool) -> dict:
        key = name if arg is None else f"{name}:{arg[0]}"
        rec = {"name": name, "key": key, "tag": tag, "traced": traced}
        t0 = pc()
        try:
            if arg is None:
                with self.group(f"{tag}:construct", traced):
                    df = self.registry[name].spark(self.spark, self.data)
                t1 = pc()
                with self.group(f"{tag}:execute", traced):
                    rows = [tuple(r) for r in df.collect()]
                    self.spark.catalog.clearCache()
                rec.update(
                    construct=t1 - t0, columns=df.columns,
                    schema=df.schema, rows=rows, df=df,
                )
            else:
                model, payload = arg
                with self.group(f"{tag}:execute", traced):
                    mode = "smoke" if payload is None else "upload"
                    rec["response"] = self.service.predict(
                        mode, model, payload
                    )
                rec["expect_rows"] = (
                    None if payload is None else payload.count(b"\n") - 1
                )
        except Exception as exc:  # noqa: BLE001 — counted as failed
            rec["problems"] = [f"{type(exc).__name__}: {exc}"[:400]]
            if self.spark is not None:
                self.spark.catalog.clearCache()
        rec["latency"] = pc() - t0
        rec["ref"] = self.reference()
        return rec

    def reference(self) -> float:
        """Seconds of one fixed Spark job (a one-partition range summed
        through one shuffle), run right after every operation.

        It passes through the same py4j calls, scheduler, task launch and
        shuffle as an operation but through no engine code, so it slows
        down with the machine and not with the engine.  The median over a
        pass follows the machine's speed over seconds and ignores a
        single slow reference."""
        t0 = pc()
        self.spark.range(0, 50_000, 1, 1).selectExpr("sum(id % 13)").collect()
        return pc() - t0

    def run_pass(self, k: int, traced: bool) -> list[dict]:
        ops = self.plan(k)
        if self.calls is not None:
            self.calls.reset()
        recs = [
            self.run_op(name, arg, f"{name}:{k}", traced) for name, arg in ops
        ]
        pass_ref = statistics.median(r["ref"] for r in recs)
        for r in recs:
            r["pass_ref"] = pass_ref
        if traced:
            self.attach_trace(recs)
        return recs

    def attach_trace(self, recs: list[dict]) -> None:
        from big_data_lab_three_spark.plans.inspect import explain_str

        groups = [
            f"{r['tag']}:{phase}" for r in recs
            for phase in ("construct", "execute")
        ]
        stats = self.counters.collect(groups)
        for r in recs:
            for phase in ("construct", "execute"):
                r[phase + "_stats"] = stats[f"{r['tag']}:{phase}"]
            if "df" in r:
                r["python_nodes"] = tracing.python_nodes(explain_str(r["df"]))
        recs[0]["calls"] = dict(self.calls.calls)
        recs[0]["call_s"] = dict(self.calls.seconds)

    # --------------------------------------------------------------- checks

    def check(self, recs: list[dict]) -> None:
        """Set ``problems`` on every record whose output is wrong."""
        if self.wl.ops:
            self.check_queries(recs)
            return
        for r in recs:
            if "problems" in r:
                continue
            resp, problems = r["response"], []
            if r["expect_rows"] is None:
                score = resp.get("test_score")
                if not (isinstance(score, float) and 0.0 <= score <= 1.0):
                    problems.append(f"smoke test_score {score!r}")
            else:
                preds = resp.get("predictions", [])
                if resp.get("n_rows") != r["expect_rows"] or len(preds) != (
                    r["expect_rows"]
                ):
                    problems.append(
                        f"n_rows {resp.get('n_rows')} != {r['expect_rows']}"
                    )
                if not set(preds) <= {0, 1}:
                    problems.append(f"labels {sorted(set(preds))[:5]}")
            r["problems"] = problems

    def check_queries(self, recs: list[dict]) -> None:
        import duckdb

        from big_data_lab_three_spark.oracle_compare import (
            compare,
            register_oracle_views,
        )

        con = duckdb.connect()
        register_oracle_views(con, self.data)
        oracle: dict[str, object] = {}
        first: dict[str, dict] = {}
        for r in recs:
            if "problems" in r:
                continue
            sql = self.registry[r["name"]].oracle
            if sql is None:
                # no oracle: row count and schema must repeat every run
                ref = first.setdefault(r["name"], r)
                same = (ref["schema"], len(ref["rows"])) == (
                    r["schema"], len(r["rows"])
                )
                r["problems"] = [] if same else ["rows/schema changed"]
                continue
            if r["name"] not in oracle:
                oracle[r["name"]] = con.execute(sql).arrow()
            tbl = oracle[r["name"]]
            stored = types.SimpleNamespace(
                columns=r["columns"], schema=r["schema"],
                collect=lambda r=r: r["rows"],
            )
            r["problems"], _ = compare(
                stored, types.SimpleNamespace(arrow=lambda t=tbl: t)
            )
        con.close()

    # ------------------------------------------------------------------ run

    def run(self, pre_setup_s: float) -> dict:
        setups = []
        for i in range(SETUPS):
            setups.append(self.setup(first=i == 0))
            log(f"set-up {i + 1}/{SETUPS}: {setups[-1]['total']:.2f} s")
        setups[0]["total"] += pre_setup_s
        launch_s = setups[0]["session.start_s"]
        if self.args.trace:
            self.counters = tracing.SparkCounters(self.spark)
        # Untimed passes: caches fill and the JVM compiles the hot paths.
        # The first pass after the cold one is still about a quarter
        # slower than later ones, hence two.
        for k in range(-1, -1 - WARM_PASSES, -1):
            self.run_pass(k, traced=False)
        log(f"{WARM_PASSES} untimed passes done")

        # Whole passes, started until --seconds have passed.  A traced
        # run orders its passes untraced, traced, traced, untraced
        # (repeating), so a drift in pass time over the run cancels out
        # of the overhead; it runs at least those four.
        passes = []  # (traced, records)
        busy0, stolen0 = cpu_ticks()
        deadline = pc() + self.args.seconds
        k = 0
        while pc() < deadline or k < (4 if self.args.trace else 1):
            traced = bool(self.args.trace) and k % 4 in (1, 2)
            t0 = pc()
            passes.append((traced, self.run_pass(k, traced)))
            log(f"pass {k} {'traced' if traced else 'untraced'}: "
                f"{pc() - t0:.2f} s")
            k += 1
        busy, stolen = (b - a for a, b in zip((busy0, stolen0), cpu_ticks()))
        self.steal_frac = stolen / ((busy + stolen) or 1)
        log(f"timed phase: {self.steal_frac:.1%} of busy CPU time stolen "
            "by the hypervisor")

        recs = [r for _, rs in passes for r in rs]
        self.check(recs)
        log("outputs checked")
        failed = [r for r in recs if r["problems"]]
        by_op: dict[str, list[float]] = {}
        for r in recs:
            by_op.setdefault(r["name"], []).append(r["latency"])
        log("median latency per op: " + ", ".join(
            f"{n} {statistics.median(v):.3f} s" for n, v in by_op.items()
        ))
        for r in failed[:10]:
            print(f"FAILED {r['tag']}: {'; '.join(r['problems'])}",
                  file=sys.stderr)
        if self.args.trace:
            metrics = self.layer_metrics(setups, passes, launch_s)
        else:
            metrics = self.e2e_metrics(setups, passes, recs, failed)
        return {
            "correct": not failed,
            "attempted": len(recs),
            "failed": len(failed),
            "metrics": metrics,
        }

    def e2e_metrics(self, setups, passes, recs, failed) -> dict:
        ok = [r for r in recs if not r["problems"]]
        lat = [r["latency"] for r in ok] or [0.0]
        rel = [rel_latency(r) for r in ok] or [0.0]
        tail_v, tail_pct, n = tail(lat)
        values = {
            "setup_s": (statistics.median(s["total"] for s in setups), "s"),
            "wall_ref": (typical_pass(ok, len(passes), rel_latency), "ref"),
        }
        frac = len(failed) / len(recs)
        print(
            f"{self.wl.name}: "
            + " | ".join(f"{k} {v:.4f} {u}" for k, (v, u) in values.items())
            + f" | latency_p50_ref {statistics.median(rel):.4f} ref"
            + f" | wall_s {typical_pass(ok, len(passes)):.4f} s"
            + f" | latency_p50_s {statistics.median(lat):.4f} s"
            + f" | latency_tail_s {tail_v:.4f} s (p{tail_pct:.1f} of {n} samples)"
            + f" | reference_s {statistics.median(r['ref'] for r in recs):.4f} s"
            + f" | failed_frac {frac:.4f} ({len(failed)}/{len(recs)})"
            + f" | steal_frac {self.steal_frac:.3f}"
        )
        return {k: {"value": v, "unit": u} for k, (v, u) in values.items()}

    def layer_metrics(self, setups, passes, launch_s) -> dict:
        med = lambda xs: statistics.median(xs) if xs else 0.0  # noqa: E731
        mean = lambda xs: statistics.fmean(xs) if xs else 0.0  # noqa: E731
        traced = [rs for t, rs in passes if t]
        plain = [r for t, rs in passes if not t for r in rs]
        m: dict[str, tuple[float, str]] = {
            "session.launch_s": (launch_s, "s"),
            "session.start_s": (med([s["session.start_s"] for s in setups]), "s"),
            "session.warmup_s": (
                med([s["session.warmup_s"] for s in setups]), "s"
            ),
            "queries.load_all_s": (
                med([s["queries.load_all_s"] for s in setups]), "s"
            ),
            "session.driver_peak_rss_mb": (
                tracing.peak_rss_mb([os.getpid(), self.jvm_pid()]), "MB"
            ),
        }
        for model in workloads.SERVE_MODELS:
            key = f"ml.train_s.{model}"
            m[key] = (med([s.get(key, 0.0) for s in setups]), "s")

        # Per-pass figures: sums over the traced passes' records, divided
        # by the number of traced passes.
        recs = [r for rs in traced for r in rs]
        n_plain = len(passes) - len(traced)
        m["e2e.wall_s"] = (typical_pass(plain, n_plain), "s")
        m["e2e.latency_p50_s"] = (med([r["latency"] for r in plain]), "s")
        m["e2e.reference_s"] = (med([r["ref"] for r in plain]), "s")
        m["host.steal_frac"] = (self.steal_frac, "frac")

        def per_pass(value) -> float:
            return sum(value(r) for r in recs) / len(traced)

        def stat(phase: str, key: str) -> float:
            return per_pass(lambda r: r[f"{phase}_stats"].get(key, 0))

        def layer(name: str, field: str) -> float:
            return per_pass(lambda r: r.get(field, {}).get(name, 0))

        construct_s = per_pass(lambda r: r.get("construct", 0.0))
        execute_s = per_pass(lambda r: r["latency"]) - construct_s
        m["queries.construct_s"] = (construct_s, "s")
        m["queries.construct_jobs"] = (stat("construct", "jobs"), "count")
        m["queries.construct_share"] = (
            construct_s / ((construct_s + execute_s) or 1.0), "frac"
        )
        m["sources.table_calls"] = (layer("sources.table", "calls"), "count")
        m["sources.table_s"] = (layer("sources.table", "call_s"), "s")
        m["sources.plan_cache_hit_frac"] = (
            self.calls.repeat_frac("sources.table"), "frac"
        )
        for phase, wall in (("construct", construct_s), ("execute", execute_s)):
            m[f"spark.jobs.{phase}"] = (stat(phase, "jobs"), "count")
            m[f"spark.stages.{phase}"] = (stat(phase, "stages"), "count")
            for key, _, unit in tracing.STAGE_FIELDS[:-1]:
                m[f"spark.{key}.{phase}"] = (stat(phase, key), unit)
            run_s = stat(phase, "executor_run_ms") / 1000.0
            m[f"spark.executor_run_s.{phase}"] = (run_s, "s")
            m[f"spark.core_busy_frac.{phase}"] = (
                run_s / ((wall * CORES) or 1.0), "frac"
            )
        m["functions.python_nodes"] = (
            per_pass(lambda r: r.get("python_nodes", 0)), "count"
        )
        m["sinks.write_calls"] = (layer("sinks.write", "calls"), "count")
        m["sinks.write_s"] = (layer("sinks.write", "call_s"), "s")

        serve = [r for r in recs if "response" in r]
        for n in workloads.SERVE_UPLOAD_ROWS:
            m[f"serve.request_s.upload_{n}"] = (
                med([r["latency"] for r in serve if r["name"] == f"upload_{n}"]),
                "s",
            )
        m["serve.request_s.smoke"] = (
            med([r["latency"] for r in serve if r["name"] == "smoke"]), "s"
        )
        m["serve.jobs_per_request"] = (
            mean([r["execute_stats"]["jobs"] for r in serve]), "count"
        )
        m["serve.cache_hit_frac"] = (
            mean([float(r["response"].get("from_cache", False)) for r in serve]),
            "frac",
        )
        unsteady = tracing.nondeterministic_ops(recs)
        if unsteady:
            log(f"counters differ between traced passes: {json.dumps(unsteady)}")
        m["trace.nondeterministic_ops"] = (len(unsteady), "count")
        m["trace.overhead_frac"] = (
            typical_pass(recs, len(traced)) / typical_pass(plain, n_plain)
            - 1.0,
            "frac",
        )
        return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}

    def jvm_pid(self) -> int:
        return int(self.spark._jvm.java.lang.ProcessHandle.current().pid())

    def close(self) -> None:
        """Stop Spark and wait for the JVM it launched to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.spark.stop()
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PKG, "__init__.py")):
        print(f"perfbench: engine package {PKG}/ not found in {ROOT}",
              file=sys.stderr)
        return 2
    wl = workloads.WORKLOADS[args.workload]

    os.makedirs(os.path.join(HERE, "_work"), exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=os.path.join(HERE, "_work"))
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub))
    # Set before the JVM starts: the JVM and its Python workers inherit
    # this environment, so the engine imports on workers from any cwd
    # and every temp file lands in the run's own directory.
    os.environ.update({
        "PYTHONPATH": os.pathsep.join(
            x for x in (ROOT, os.environ.get("PYTHONPATH")) if x
        ),
        "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": os.path.join(work, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "LOG_FILE": os.path.join(work, "engine.log"),
        "SPARK_GRAFT_CPUS": str(CORES),
        "REDIS_HOST": "localhost",
    })
    tempfile.tempdir = None
    sys.path.insert(0, ROOT)
    os.chdir(work)

    bench = Bench(args, wl, work)
    try:
        t0 = pc()
        datagen.write(bench.data, wl.sf, workloads.DATA_SEED)
        log("inputs generated")
        pre_setup_s = t0 - PROCESS_START  # interpreter start and imports
        result = bench.run(pre_setup_s)
    finally:
        bench.close()
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
        log("stopped")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
