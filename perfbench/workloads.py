"""Workload definitions.

A query workload is a fixed list of registered query names run as
passes; the seed only permutes the order within each pass.  The serve
workload is a closed loop of one client calling ``serve.app.Service``;
the seed permutes the request order within each cycle and draws the
uploaded CSV rows.  Every workload runs against tables generated at its
scale factor by ``datagen.py`` from one fixed data seed.
"""

from __future__ import annotations

from dataclasses import dataclass

DATA_SEED = 42


@dataclass(frozen=True)
class Workload:
    name: str
    sf: float
    ops: tuple[str, ...] = ()  # registered query names (query workloads)


# Run by every set-up of a query workload: cheap, so a set-up measures
# session, import and registry cost rather than one query's cold start.
WARMUP_QUERY = "scan_project"


WORKLOADS = {
    w.name: w
    for w in (
        # Read-only SQL with a fixed per-query cost (queries from core,
        # analytics, tpch_gap, setops, scalars and governance) beside the
        # heavy mechanisms: Spark jobs launched inside a query constructor
        # (a micro-batch stream), a sink write + re-read and an Arrow
        # top-k.
        Workload(
            "queries",
            0.01,
            (
                "window_rank", "null_profile", "semi_join_exists",
                "set_except", "string_funcs", "constraint_audit",
                "streaming_dedup", "csv_roundtrip", "similarity_topk",
            ),
        ),
        Workload("serve_predict", 0.001),
    )
}

# serve_predict: one cycle = every upload size for both models plus one
# smoke request (its model alternates between cycles).
SERVE_MODELS = ("d_tree", "log_reg")
SERVE_UPLOAD_ROWS = (1, 64, 1024)
SERVE_FEATURES = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")
