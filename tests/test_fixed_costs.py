"""Per-query fixed costs are paid once per session, not once per query.

Python tasks run in workers forked from ``pyworker``, which re-reads a zip
archive's directory only when the archive changed; generated classes stay
in a code cache sized above one corpus pass, under names that do not
depend on the order adaptive execution plans stages in.  Archive reads
are counted on the worker side (``pyworker.reads``), compiles by Spark's
``CodegenMetrics``.
"""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
import zipfile

import pytest
from pyspark import cloudpickle

from big_data_lab_three_spark.queries import load_all

# The helpers below run inside Python tasks, where this module is not
# importable: ship them by value.
cloudpickle.register_pickle_by_value(sys.modules[__name__])

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

needs_patch = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="CPython 3.13 re-reads zip archives lazily; the daemon patches nothing",
)


def _zip(path, **modules) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, source in modules.items():
            z.writestr(f"{name}.py", source)


def _in_worker(spark, fn):
    """``fn()`` evaluated inside one Python task."""
    return spark.sparkContext.parallelize([0], 1).map(lambda _: fn()).collect()[0]


def _reads():
    from big_data_lab_three_spark import pyworker

    return dict(pyworker.reads)


@needs_patch
def test_second_python_task_rereads_no_unchanged_archive(spark):
    first = _in_worker(spark, _reads)
    second = _in_worker(spark, _reads)
    # the two tasks may run in different workers; both inherit the
    # daemon's reads of Spark's own archives
    shared = first.keys() & second.keys()
    assert any(a.endswith("pyspark.zip") for a in shared), first
    assert {a: second[a] for a in shared} == {a: first[a] for a in shared}


def test_pyfile_added_after_a_task_is_importable_in_the_next(spark, tmp_path):
    _in_worker(spark, _reads)
    path = tmp_path / "graft_late_pyfile.zip"
    _zip(path, graft_late_pyfile="VALUE = 41\n")
    spark.sparkContext.addPyFile(str(path))

    def late():
        import graft_late_pyfile

        return graft_late_pyfile.VALUE + 1

    assert _in_worker(spark, late) == 42


@needs_patch
def test_archive_rewritten_in_place_is_reread(spark, tmp_path):
    """The worker imports from a zip, the zip is rewritten with other
    content, and the next ``importlib.invalidate_caches()`` (the call
    every task starts with) must list the new content."""
    path = str(tmp_path / "graft_rewritten.zip")

    def rewrite():
        import importlib

        from big_data_lab_three_spark import pyworker

        _zip(path, graft_before="VALUE = 1\n")
        sys.path.insert(0, path)
        try:
            import graft_before

            importlib.invalidate_caches()
            before = pyworker.reads[path]
            _zip(path, graft_after="VALUE = 2\n", padding="# other size\n")
            importlib.invalidate_caches()
            import graft_after

            return graft_before.VALUE, graft_after.VALUE, pyworker.reads[path] - before
        finally:
            sys.path.remove(path)
            sys.path_importer_cache.pop(path, None)

    assert _in_worker(spark, rewrite) == (1, 2, 1)


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_registered_query_stays_compiled_past_100_other_classes(spark, sf_dir):
    query = load_all()["scan_project"]
    query.spark(spark, sf_dir).collect()
    before = _compiles(spark)
    for i in range(120):
        # an integer literal is inlined into the generated code, so every
        # plan compiles its own class (``toRdd`` compiles without a job)
        spark.range(1).selectExpr(f"id * {i + 2} AS x")._jdf.queryExecution().toRdd()
    filled = _compiles(spark)
    assert filled - before > 100
    query.spark(spark, sf_dir).collect()
    assert _compiles(spark) == filled


def test_code_planned_under_another_stage_id_is_not_recompiled(spark):
    """Adaptive execution numbers codegen stages in planning order, which
    varies between runs; the class name must not carry that number."""
    alone = spark.range(7).selectExpr("id * 7919 AS x")
    second = spark.range(3).selectExpr("id * 7927 AS x").unionByName(alone)
    before = _compiles(spark)
    alone._jdf.queryExecution().toRdd()  # codegen stage 1
    second._jdf.queryExecution().toRdd()  # stages 1 (new code) and 2 (alone's)
    assert _compiles(spark) - before == 2


def test_unimportable_daemon_module_fails_the_task_loudly(tmp_path):
    """Without the engine on the worker path the daemon cannot start, and
    the Python task fails with the worker's start error."""
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {ROOT!r})
        from big_data_lab_three_spark.session import get_spark
        spark = get_spark("daemon_missing")
        spark.sparkContext.setLogLevel("OFF")
        try:
            spark.sparkContext.parallelize([1], 1).map(lambda x: x).collect()
        except Exception as exc:
            print("FAILED:", exc)
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_CPUS"] = "1"
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    ).stdout
    assert "FAILED:" in out
    assert "Error from python worker" in out
    assert "No module named 'big_data_lab_three_spark'" in out
