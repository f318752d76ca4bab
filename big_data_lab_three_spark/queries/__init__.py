"""Query registry — the engine's judge-visible surface.

Every SQL-expressible operator from SURVEY.md §2 (the ✓/t2 rows) is
registered here as a named query: a Spark callable ``(spark, sf_dir) ->
DataFrame`` paired with an ANSI-SQL oracle string that DuckDB runs on the
same parquet tables.  The driver hash-compares the two at sf0.01
(row count + schema + order-insensitive value hash).

Hash-parity rules applied throughout (SURVEY.md §7.4):

- every computed column is aliased identically on both sides;
- floating aggregates are ``round``-ed the same on both sides (engines sum
  in different orders; rounding removes last-bit drift);
- every ``limit`` is paired with a fully deterministic ``orderBy``
  including a unique tiebreak column;
- no nondeterministic expressions (``monotonically_increasing_id`` etc.)
  in compared output.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

SparkQuery = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Query:
    name: str
    ids: str  # SURVEY.md §2 operator IDs this query exercises
    spark: SparkQuery
    oracle: str | None  # DuckDB SQL twin; None → driver rows-only check


REGISTRY: dict[str, Query] = {}

_MODULES = (
    "big_data_lab_three_spark.queries.core",
    "big_data_lab_three_spark.queries.analytics",
    "big_data_lab_three_spark.queries.tpch_gap",
    "big_data_lab_three_spark.queries.temporal",
    "big_data_lab_three_spark.queries.scalars",
    "big_data_lab_three_spark.queries.setops",
    "big_data_lab_three_spark.queries.robust",
    "big_data_lab_three_spark.queries.governance",
    "big_data_lab_three_spark.queries.graph",
    "big_data_lab_three_spark.queries.io",
    "big_data_lab_three_spark.queries.text",
    "big_data_lab_three_spark.queries.dedup",
    "big_data_lab_three_spark.queries.vector",
    "big_data_lab_three_spark.queries.multimodal",
    "big_data_lab_three_spark.queries.streaming",
    "big_data_lab_three_spark.queries.extras",
    "big_data_lab_three_spark.queries.stats",
    "big_data_lab_three_spark.queries.curation",
    "big_data_lab_three_spark.queries.pipeline",
    "big_data_lab_three_spark.queries.corpus",
)


def register(name: str, ids: str = "", oracle: str | None = None):
    """Decorator: add a ``(spark, sf_dir) -> DataFrame`` callable to the
    registry under ``name``."""

    def deco(fn: SparkQuery) -> SparkQuery:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        REGISTRY[name] = Query(name=name, ids=ids, spark=fn, oracle=oracle)
        return fn

    return deco


def _evidence_rounds(root: str | None = None) -> dict[str, int]:
    """Per-name LATEST driver evidence: the highest round whose
    ``CORRECTNESS_r*.json`` row passed, or -1 when the latest recorded
    row is a failure (row-count mismatch, schema/hash False, or error).
    A later failure overwrites an earlier pass — the regressed query
    must re-enter the driver re-verify prefix.  Missing/unreadable
    records degrade to the empty dict — ordering then falls back to
    registration order."""
    import glob
    import json
    import os
    import re

    if root is None:
        root = os.path.dirname(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        )
    # "latest wins" compares PARSED round numbers, not glob order:
    # lexicographic order breaks on the first unpadded filename
    # ("r9" > "r10") or at round 100 ("r100" < "r11"), and a stale
    # record overwriting a newer one inverts the re-verify decision.
    latest: dict[str, tuple[int, bool]] = {}
    for path in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        rnd = int(m.group(1)) if m else 0
        try:
            with open(path) as f:
                rec = json.load(f)
        except (OSError, json.JSONDecodeError):
            continue
        if not isinstance(rec, dict):
            continue
        for name, row in rec.items():
            if not isinstance(row, dict):
                continue
            good = bool(
                row.get("rows_match")
                # schema/hash may be absent on rows-only checks, but a
                # recorded False means the evidence is a FAILURE — such
                # names must stay in the re-verify prefix
                and row.get("schema_match") is not False
                and row.get("hash_match") is not False
                and not row.get("err")
            )
            if name not in latest or rnd >= latest[name][0]:
                latest[name] = (rnd, good)
    return {
        name: (rnd if good else -1)
        for name, (rnd, good) in latest.items()
    }


def load_all() -> dict[str, Query]:
    """Import every query module (idempotent) and return the registry in
    driver-facing order, stalest evidence first.  The driver
    correctness-checks a 50-name prefix, so names whose latest
    ``CORRECTNESS_r*.json`` row failed or is missing lead, then the
    oldest passing round; registration order breaks ties (the sort is
    stable).  A module that fails to import raises — it must never
    silently drop its queries."""
    for mod in _MODULES:
        importlib.import_module(mod)
    evidence = _evidence_rounds()
    order = sorted(REGISTRY, key=lambda n: evidence.get(n, -1))
    return {n: REGISTRY[n] for n in order}
