"""Local stand-in for the driver's correctness gate.

Runs every registered query through Spark AND its DuckDB oracle at the
given scale factor, then compares row count, column names, TYPED column
schemas (the driver hashes Arrow-typed values — see
``big_data_lab_three_spark.oracle_compare``), and order-insensitive
canonical values.  Exit code 1 on any mismatch.

Usage: python tools/verify_local.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from big_data_lab_three_spark.oracle_compare import (  # noqa: E402
    compare,
    register_oracle_views,
)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    from big_data_lab_three_spark.queries import load_all
    from big_data_lab_three_spark.session import get_spark

    registry = load_all()

    unknown = only - set(registry)
    if unknown:
        # A misspelled filter must not produce a green "0/0 ok" run.
        print(f"FAIL unknown query name(s): {sorted(unknown)}")
        return 1

    spark = get_spark("verify_local")
    con = duckdb.connect()
    register_oracle_views(con, sf_dir)

    failures = []
    for name, q in sorted(registry.items()):
        if only and name not in only:
            continue
        try:
            sdf = q.spark(spark, sf_dir)
            # Plan lint, free at this point: a CartesianProduct (both
            # sides materialized, no broadcast) in ANY registered plan
            # is a scale-killer regardless of local correctness.
            # (BroadcastNestedLoopJoin over a 1-row scalar frame is the
            # accepted scalar-subquery pattern and stays allowed.)
            plan = sdf._jdf.queryExecution().executedPlan().toString()
            if "CartesianProduct" in plan:
                failures.append((name, "plan lint: CartesianProduct"))
                print(f"FAIL {name}: plan lint: CartesianProduct in plan", flush=True)
                continue
            if q.oracle is None:
                n = len(sdf.collect())
                print(f"ok   {name}: rows-only ({n} rows)", flush=True)
                continue
            try:
                res = con.execute(q.oracle)
            except Exception as e:  # noqa: BLE001
                failures.append((name, f"duckdb error: {e}"))
                print(f"FAIL {name}: duckdb error: {e}", flush=True)
                continue
            # compare() touches both engines (DuckDB arrow fetch, Spark
            # collect) — label its failures neutrally, not "spark error".
            try:
                problems, n_rows = compare(sdf, res)
            except Exception as e:  # noqa: BLE001
                failures.append((name, f"compare error: {e}"))
                print(f"FAIL {name}: compare error: {e}", flush=True)
                continue
        except Exception as e:  # noqa: BLE001
            failures.append((name, f"spark error: {e}"))
            print(f"FAIL {name}: spark error: {e}", flush=True)
            continue
        finally:
            # don't leak persisted intermediates into later queries
            spark.catalog.clearCache()
        if problems:
            failures.append((name, "; ".join(problems)))
            print(f"FAIL {name}: {'; '.join(problems)}", flush=True)
        else:
            print(f"ok   {name}: {n_rows} rows match oracle", flush=True)

    n_run = len(only) if only else len(registry)
    print(f"\n{n_run - len(failures)}/{n_run} queries ok")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
