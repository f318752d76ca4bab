"""SparkSession factory.

The reference has no session concept — each CLI entry point re-reads and
re-fits everything eagerly (reference ``src/train.py:26-114``,
``src/app.py:54`` constructs a ``MultiModel`` per HTTP request).  Here the
session is an explicit, process-wide singleton: build once, share across
queries, never per-request.

Scale notes
-----------
The configs below are chosen for correctness-on-local AND sanity-at-scale:

- AQE on (coalesce post-shuffle partitions, skew-join splitting, runtime
  broadcast demotion) — on a 1000-executor cluster this is what adapts the
  static plan to real data sizes.
- ``spark.sql.shuffle.partitions`` defaults to 32 locally; on a real cluster
  AQE's coalescing makes the initial number mostly a ceiling, so a deployment
  would raise it (e.g. 2000) and let AQE shrink.
- Arrow enabled so any Pandas-UDF path (SMOTE, embedding ops, multimodal
  decode) moves columnar batches, not pickled rows.
- Session timezone pinned to UTC so timestamp semantics are stable across
  driver machines (and match DuckDB's naive timestamps in the oracle
  comparisons).

Fixed per-query costs
---------------------
At small scale factors a query's wall time is mostly fixed costs, so
three settings make them once-per-session costs:

- ``spark.python.daemon.module`` forks Python workers from
  ``pyworker``, which stops each task from re-reading the central
  directory of every zip archive on the worker path (``pyspark.zip``,
  1,328 entries, and the ``spark-core`` jar, 5,359 entries, through 16
  importers) on CPython < 3.13.  A 500-row ``mapInPandas`` in a reused
  worker went from 0.30 s to 0.12 s (a plain collect: 0.03 s).  The
  engine package must be importable on the worker path, as engine UDFs
  pickled by reference already require; if it is not, the daemon fails
  to start and every Python task fails with that error.
- ``spark.sql.codegen.cache.maxEntries`` sizes the generated-class cache
  above the working set: one sf0.001 corpus pass compiles 4,595 classes
  (2.9 KB mean bytecode), perfbench's 9 ``queries`` operations need about
  100, and with Spark's default of 100 entries 52 of them recompiled on
  every warm pass.  At 8192 a warm pass compiles none.
- ``spark.sql.codegen.useIdInClassName=false`` names every whole-stage
  class ``GeneratedIterator`` instead of suffixing its codegen stage id.
  Adaptive execution numbers stages in the order they are planned,
  which varies between runs of one query, so identical code got a new
  class name and recompiled.  With an unbounded cache, a second run of
  each name at sf0.001 recompiled 302 classes over 30 names
  (``curation_pipeline_census`` 58); without the suffix, 24 over 6.
  Identical stages of different queries now also share one class: the
  first run's execute phases compile 2,917 classes instead of 3,642.
  Plans still show the id as ``*(n)``.

The daemon module is read when the worker factory starts and the cache
size once per JVM at its first codegen, so those two take effect only
here, never through ``spark.conf.set``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CONFS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # PySpark 4 wraps EVERY Column/DataFrame op with a call-site capture
    # (inspect.stack walk + an extra JVM round-trip per op) to enrich
    # error messages with user line numbers.  On expression-heavy plans
    # this is the DOMINANT DataFrame-construction cost — measured 3.5s →
    # 0.7s building dedup_simhash's 60-bit signature plan, and it taxes
    # every one of the registry's 277 queries on every invocation (driver
    # Python, so it costs the same on a real cluster).  Pure debugging
    # metadata: plans, results, and error *classes* are unchanged — only
    # the "was at <file>:<line>" enrichment is dropped.  r15 optimization.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
    "spark.sql.session.timeZone": "UTC",
    # Keep broadcast threshold at default 10MB: region/nation/supplier-sized
    # dims broadcast automatically; at 100TB the fact side never does.
    "spark.ui.enabled": "false",
    # local[N] runs every executor thread inside the driver JVM — the 1g
    # default heap is the first thing to die under a 32-thread suite.
    # Applies only when this factory creates the JVM (a cluster deploy or
    # the round driver's own session sets its own sizing).
    "spark.driver.memory": "16g",
    "spark.driver.maxResultSize": "4g",
    "spark.driver.extraJavaOptions": "-Duser.timezone=UTC",
    "spark.executor.extraJavaOptions": "-Duser.timezone=UTC",
    # See "Fixed per-query costs" above.
    "spark.python.daemon.module": "big_data_lab_three_spark.pyworker",
    "spark.sql.codegen.cache.maxEntries": "8192",
    "spark.sql.codegen.useIdInClassName": "false",
}


def get_spark(
    app_name: str = "big_data_lab_three_spark",
    master: str | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the process-wide SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default ``*``)
    for local runs; under ``spark-submit`` on a cluster the submitted master
    wins because ``SparkSession.builder`` ignores ``master`` once a context
    exists.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    for k, v in {**DEFAULT_CONFS, **(extra_confs or {})}.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
