"""Physical-plan inspection: the 100 TB guardrails.

Correctness says a query returns the right rows; these helpers say it
returns them with the right PLAN — filters reaching the parquet scan,
scans reading only needed columns, small dimensions broadcast, hot
expressions inside whole-stage codegen.  Tests pin those properties so a
refactor that silently de-optimizes a plan fails CI, not the cluster.
"""

from big_data_lab_three_spark.plans.inspect import (  # noqa: F401
    broadcast_join_count,
    codegen_stage_count,
    explain_str,
    final_plan,
    pushed_filters,
    scan_columns,
    shuffle_count,
)
