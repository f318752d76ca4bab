"""Per-layer tracing, measured from outside the engine.

Spark work is attributed with ``SparkContext.setJobGroup`` (one group
per operation and phase) and read back through the public status APIs:
``statusTracker().getJobIdsForGroup`` / ``getJobInfo`` for jobs and
their stages, and the status store's ``lastStageAttempt`` for task
counts, shuffle, spill, I/O bytes and executor run time.  No scheduler
state (such as the DAG scheduler's job ids) is read.

Engine-side counters (``sources.table`` calls, sink writes) come from
wrapping the engine's public functions at their module attribute before
the query modules import them; the wrappers only count and time.
"""

from __future__ import annotations

import contextlib
import functools
import re
import time
from collections import Counter, defaultdict

from py4j.protocol import Py4JJavaError

# (counter, StageData getter, unit), summed over a group's stages
STAGE_FIELDS = (
    ("tasks", "numTasks", "count"),
    ("shuffle_write_bytes", "shuffleWriteBytes", "B"),
    ("shuffle_read_bytes", "shuffleReadBytes", "B"),
    ("spill_bytes", "diskBytesSpilled", "B"),
    ("input_bytes", "inputBytes", "B"),
    ("output_bytes", "outputBytes", "B"),
    ("executor_run_ms", "executorRunTime", "ms"),
)
PYTHON_NODES = re.compile(
    r"\b(ArrowEvalPython|MapInPandas|FlatMapGroupsInPandas|BatchEvalPython)\b"
)


class SparkCounters:
    """Job / stage / task counters per job group."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.store = self.sc._jsc.sc().statusStore()
        self._flushes = 0

    @contextlib.contextmanager
    def group(self, name: str):
        self.sc.setJobGroup(name, name)
        try:
            yield
        finally:
            self.sc.setJobGroup("perfbench.idle", "perfbench.idle")

    def _drain(self) -> None:
        """Wait until the status store has seen every event posted so far.

        A job's end event is posted before its action returns, but the
        status listener consumes events asynchronously and in order.  A
        one-row marker job in its own group is therefore the last event
        in the queue: once the store reports it SUCCEEDED, every earlier
        job and stage is complete in the store too."""
        self._flushes += 1
        g = f"perfbench.drain:{self._flushes}"
        with self.group(g):
            self.sc.parallelize([0], 1).count()
        deadline = time.monotonic() + 30
        while time.monotonic() < deadline:
            ids = self.tracker.getJobIdsForGroup(g)
            if ids and all(
                (info := self.tracker.getJobInfo(j)) is not None
                and info.status == "SUCCEEDED"
                for j in ids
            ):
                return
            time.sleep(0.002)
        raise TimeoutError("Spark status store did not drain in 30 s")

    def collect(self, groups: list[str]) -> dict[str, dict[str, int]]:
        """Counters per group: jobs, stages that ran, and STAGE_FIELDS
        summed over those stages.  Skipped stages (shuffle reuse) are
        not counted."""
        self._drain()
        out = {}
        for g in groups:
            c = Counter(jobs=0, stages=0)
            stage_ids = set()
            for j in self.tracker.getJobIdsForGroup(g):
                c["jobs"] += 1
                info = self.tracker.getJobInfo(j)
                if info is not None:
                    stage_ids.update(info.stageIds)
            for sid in stage_ids:
                try:
                    sd = self.store.lastStageAttempt(sid)
                except Py4JJavaError:  # NoSuchElementException
                    continue  # never submitted
                if sd.status().toString() != "COMPLETE":
                    continue
                c["stages"] += 1
                for key, getter, _ in STAGE_FIELDS:
                    c[key] += int(getattr(sd, getter)())
            out[g] = dict(c)
        return out


def nondeterministic_ops(recs: list[dict]) -> dict[str, str]:
    """Operations whose counters differ between traced passes, with the
    counter that differs ("jobs" or "shuffle").

    For a fixed plan and input, job counts must repeat exactly and
    shuffle bytes within 0.1%; task counts may move under adaptive
    execution and are not compared."""
    first: dict[str, list[tuple[int, int]]] = {}
    bad: dict[str, str] = {}
    for r in recs:
        sig = [
            (r[f"{phase}_stats"].get("jobs", 0),
             r[f"{phase}_stats"].get("shuffle_write_bytes", 0))
            for phase in ("construct", "execute")
        ]
        ref = first.setdefault(r["key"], sig)
        for (j0, b0), (j1, b1) in zip(ref, sig):
            if j0 != j1:
                bad[r["key"]] = "jobs"
            elif abs(b0 - b1) > 0.001 * max(b0, b1):
                bad.setdefault(r["key"], "shuffle")
    return bad


def python_nodes(plan_text: str) -> int:
    """Python/Arrow evaluation nodes in an explained plan."""
    return len(PYTHON_NODES.findall(plan_text))


class CallCounter:
    """Counts and times calls to wrapped engine functions."""

    def __init__(self) -> None:
        self.calls: Counter = Counter()  # per pass, see reset()
        self.seconds: defaultdict = defaultdict(float)
        self.session_calls: Counter = Counter()  # per session
        self.session_keys: defaultdict = defaultdict(set)

    def wrap(self, layer: str, fn, key=None):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            self.session_calls[layer] += 1
            if key is not None:
                self.session_keys[layer].add(key(*args, **kwargs))
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                self.seconds[layer] += time.perf_counter() - t0
                self.calls[layer] += 1

        return wrapper

    def repeat_frac(self, layer: str) -> float:
        """Share of this session's calls whose key was seen before."""
        n = self.session_calls[layer]
        return (n - len(self.session_keys[layer])) / n if n else 0.0

    def reset(self) -> None:
        self.calls.clear()
        self.seconds.clear()

    def new_session(self) -> None:
        self.reset()
        self.session_calls.clear()
        self.session_keys.clear()


def _table_key(spark, sf_dir, name, *args, **kwargs):
    return (sf_dir, name)


def install_engine_wrappers(counter: CallCounter) -> None:
    """Wrap ``sources.table`` and the public ``sources.sinks`` writers.

    Must run after the engine's ``sources`` package is imported and
    before ``queries.load_all()`` imports the query modules, which bind
    these names at import time."""
    from big_data_lab_three_spark import sources
    from big_data_lab_three_spark.sources import readers, sinks

    table = counter.wrap("sources.table", readers.table, key=_table_key)
    readers.table = table
    sources.table = table
    for name in dir(sinks):
        if name.startswith(("write_", "compact_")):
            fn = getattr(sinks, name)
            if callable(fn):
                setattr(sinks, name, counter.wrap("sinks.write", fn))


def peak_rss_mb(pids) -> float:
    """Sum of peak resident set sizes (VmHWM) of the given processes."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0
