"""Schemas and schema-contract utilities.

The reference's schema system is "infer, then normalize": CSVs load with
inferred dtypes, column names arrive with leading spaces and are stripped
(reference ``src/preprocess.py:62``), and serving re-aligns any incoming
frame to a saved 47-column feature contract with null fill
(``src/predict.py:138`` — ``reindex(columns=..., fill_value=np.nan)``).

Spark-first mapping: ``conform(df, contract)`` replaces pandas
``reindex``: project present columns, materialize missing ones as DOUBLE
NULL literals.  This is a pure ``Project`` node — Catalyst prunes the scan
to only the needed columns, so conforming a 1000-column parquet to a
47-column contract reads 47 columns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Identity columns the reference drops before modeling
# (``src/preprocess.py:65``): string keys + the unparsed timestamp + label.
IDENTITY_COLUMNS: list[str] = [
    "Flow ID", "Source IP", "Destination IP", "Timestamp", "Label",
]


def conform(df: DataFrame, contract: list[str]) -> DataFrame:
    """Project ``df`` onto ``contract`` columns; absent columns become DOUBLE
    NULLs (Spark analogue of pandas ``reindex(columns=..., fill_value=nan)``,
    reference ``src/predict.py:138``).

    Pure projection — no shuffle, scan pruned to the intersection.
    """
    present = set(df.columns)
    return df.select(
        *[
            F.col(c).alias(c) if c in present
            else F.lit(None).cast("double").alias(c)
            for c in contract
        ]
    )


def strip_column_names(df: DataFrame) -> DataFrame:
    """Normalize column names by stripping whitespace (reference
    ``src/preprocess.py:62`` — CICIDS headers ship with leading spaces).

    Metadata-only rename: zero jobs, zero shuffle.
    """
    return df.toDF(*[c.strip() for c in df.columns])
