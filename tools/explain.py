"""Dump the formatted physical plan (and plan-quality facts) for any
registered query — the plan-review loop as a one-liner:

    python tools/explain.py pricing_summary [sf_dir]
    python tools/explain.py --list

Prints the `.explain("formatted")` output plus the facts
`tests/test_plans.py` pins: pushed filters, per-scan read schemas,
broadcast/shuffle counts, codegen spans; then collects the query and
prints the Spark jobs its constructor and its `collect()` launched (one
job group each, read back through the public status tracker), the
Python/Arrow stages of the plan the collect ran, and the classes each
phase compiled (count and milliseconds, from Spark's
`CodegenMetrics` and `CodeGenerator.compileTime`; a class already in the
session's code cache costs nothing).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _codegen(spark) -> tuple[int, float]:
    """Classes compiled so far in this JVM, and their compile ms."""
    jvm = spark._jvm
    count = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()
    ns = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime()
    return count, ns / 1e6


def main() -> int:
    args = [a for a in sys.argv[1:] if a]
    from big_data_lab_three_spark.queries import load_all

    registry = load_all()
    if not args or args[0] in ("--list", "-l"):
        for name in sorted(registry):
            q = registry[name]
            oracle = "oracle" if q.oracle else "rows-only"
            print(f"{name:28s} [{oracle}] {q.ids}")
        return 0

    name = args[0]
    sf_dir = args[1] if len(args) > 1 else "/root/testdata/sf0.01"
    if name not in registry:
        print(f"unknown query {name!r}; --list shows all", file=sys.stderr)
        return 2

    from big_data_lab_three_spark.plans import (
        broadcast_join_count,
        codegen_stage_count,
        final_plan,
        pushed_filters,
        scan_columns,
        shuffle_count,
    )
    from big_data_lab_three_spark.plans.inspect import explain_str
    from big_data_lab_three_spark.session import get_spark
    from perfbench.tracing import SparkCounters, python_nodes

    spark = get_spark("explain")
    spark.sparkContext.setLogLevel("ERROR")
    counters = SparkCounters(spark)
    c0 = _codegen(spark)
    with counters.group("construct"):
        df = registry[name].spark(spark, sf_dir)
    c1 = _codegen(spark)

    print(explain_str(df))
    print("—— plan facts " + "—" * 50)
    print(f"shuffle exchanges : {shuffle_count(df)}")
    print(f"broadcast joins   : {broadcast_join_count(df)}")
    print(f"codegen spans     : {codegen_stage_count(df)}")
    print(f"pushed filters    : {pushed_filters(df)}")
    for cols in scan_columns(df):
        print(f"scan reads        : {cols}")
    c2 = _codegen(spark)
    with counters.group("execute"):
        df.collect()
    c3 = _codegen(spark)
    jobs = counters.collect(["construct", "execute"])
    print(
        f"spark jobs        : {jobs['construct']['jobs']} construct, "
        f"{jobs['execute']['jobs']} execute"
    )
    print(f"python stages     : {python_nodes(final_plan(df))}")
    print(
        f"compiled classes  : {c1[0] - c0[0]} construct ({c1[1] - c0[1]:.0f} ms), "
        f"{c3[0] - c2[0]} execute ({c3[1] - c2[1]:.0f} ms)"
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
