"""Parse ``explain("formatted")`` output into checkable facts.

String-parsing the formatted plan is deliberate: it is the same stable,
user-facing surface a human reads, it needs no private APIs, and it
works identically under AQE (which rewrites the operator tree but not
the formatted-section grammar).
"""

from __future__ import annotations

import contextlib
import io
import re

from pyspark.sql import DataFrame


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def final_plan(df: DataFrame) -> str:
    """The physical plan ``df``'s last action ran: the ``== Final Plan
    ==`` section of the adaptive plan (call after an action).  The
    executed plan's string repeats the initial plan below the final
    one, so a node count over all of it counts most nodes twice."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    if "== Final Plan ==" not in plan:
        return plan
    return plan.split("== Final Plan ==")[1].split("== Initial Plan ==")[0]


def scan_columns(df: DataFrame, table_hint: str = "") -> list[list[str]]:
    """Column lists read by each parquet scan (from ``ReadSchema``),
    optionally filtered to scans whose Location mentions ``table_hint``.
    A scan reading columns the query never uses is a pruning failure —
    at 100 TB that is the difference between reading 2 columns and 85.
    """
    plan = explain_str(df)
    out = []
    for section in re.split(r"\n\n", plan):
        if "Scan parquet" not in section and "Location:" not in section:
            continue
        if table_hint and not re.search(
            rf"Location:.*{re.escape(table_hint)}", section
        ):
            continue
        m = re.search(r"ReadSchema: struct<([^>]*)>", section)
        if m:
            cols = [
                c.split(":")[0].strip()
                for c in m.group(1).split(",")
                if c.strip()
            ]
            out.append(cols)
    return out


def pushed_filters(df: DataFrame) -> list[str]:
    """All data-source-pushed filters (``PushedFilters: [...]``)."""
    plan = explain_str(df)
    out = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", plan):
        out.extend(
            f.strip() for f in m.group(1).split(",") if f.strip()
        )
    return out


def broadcast_join_count(df: DataFrame) -> int:
    """Number of broadcast joins (hash or nested-loop) in the plan."""
    plan = explain_str(df)
    return len(
        re.findall(
            r"Broadcast(HashJoin|NestedLoopJoin)", plan
        )
    )


def exchange_args(df: DataFrame) -> list[str]:
    """The ``Arguments:`` line of every shuffle Exchange section —
    i.e. each shuffle's partitioning expression."""
    out = []
    for section in re.split(r"\n\n", explain_str(df)):
        if re.match(r"\(\d+\) Exchange\b", section.strip()):
            m = re.search(r"Arguments: (.*)", section)
            out.append(m.group(1) if m else "")
    return out


def exchange_inputs(df: DataFrame) -> list[list[str]]:
    """Column names carried THROUGH each shuffle Exchange (its
    ``Input [...]`` list).  A wide payload column here — document text,
    media bytes — is the classic scale killer: the shuffle rewrites it
    all over the network."""
    out = []
    for section in re.split(r"\n\n", explain_str(df)):
        if re.match(r"\(\d+\) Exchange\b", section.strip()):
            m = re.search(r"Input \[\d+\]: \[([^\]]*)\]", section)
            cols = (
                [c.strip().split("#")[0] for c in m.group(1).split(",")]
                if m
                else []
            )
            out.append(cols)
    return out


def shuffle_count(df: DataFrame) -> int:
    """Number of shuffle exchanges (broadcast exchanges excluded).
    Every one is a full network rewrite of its input at scale — the
    first thing to count in any plan review."""
    return len(exchange_args(df))


def codegen_stage_count(df: DataFrame) -> int:
    """Whole-stage-codegen span count — the ``*(N)`` markers of the
    static physical plan.  AQE hides them until execution (explain on a
    DataFrame handle always re-plans), so AQE is switched off for the
    one explain call and restored.  Zero for a non-trivial plan means
    everything fell back to interpreted evaluation."""
    spark = df.sparkSession
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        # A DataFrame caches its QueryExecution at first use, so if the
        # handle was already explained under AQE the `*(N)` markers are
        # gone for good on it.  Wrap in a no-op filter (constant-folded
        # away) to force a fresh plan under the AQE-off conf.
        from pyspark.sql import functions as F

        fresh = df.where(F.lit(True))
        ids = set(re.findall(r"\*\((\d+)\)", explain_str(fresh, "simple")))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)
    return len(ids)


def window_over_raw_scan(df: DataFrame) -> bool:
    """True if any logical Window node's input subtree reaches a raw
    FILE source relation without an Aggregate in between — the
    single-task global-window-over-the-fact anti-shape.

    Walks the OPTIMIZED LOGICAL plan tree (no AQE wrapper ambiguity,
    unlike the physical-plan string): descent is CUT at ``Aggregate``
    (a window over any aggregate consumes a census, which is the legal
    shape), and constant sources (``LocalRelation``, ``Range``) and
    in-memory sinks (``LogicalRDD``) are not raw scans.  Nested windows
    below an aggregate are still scanned independently."""
    raw = {"LogicalRelation", "Relation", "UnresolvedRelation"}

    def children(node):
        ch = node.children()
        return [ch.apply(i) for i in range(ch.size())]

    def reaches_raw(node) -> bool:
        name = node.nodeName()
        if name == "Aggregate":
            return False
        if name in raw:
            return True
        return any(reaches_raw(c) for c in children(node))

    def scan(node) -> bool:
        bad = node.nodeName() == "Window" and any(
            reaches_raw(c) for c in children(node)
        )
        return bad or any(scan(c) for c in children(node))

    return scan(df._jdf.queryExecution().optimizedPlan())
