"""The reference's domain pipeline (network-flow preprocessing) as Spark
transformations — entry points V4 (SURVEY.md §3.1).

``preprocess_flows`` reproduces ``DataMaker.preprocess_data``
(``src/preprocess.py:60-90``): strip column names → binarize label →
±inf→NULL → drop identity + low-importance columns.  One Project node —
Catalyst fuses all four steps into a single pass.

``split_data`` reproduces ``DataMaker.split_data``
(``src/preprocess.py:140-166``) with one deliberate divergence: the
reference writes positionally-aligned X and y CSVs (alignment = pandas
index); here both sides carry an explicit ``row_id`` key, because
positional alignment does not survive a shuffle (SURVEY.md §1.1/§4.3).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from big_data_lab_three_spark.catalog import Catalog
from big_data_lab_three_spark.logger import get_logger
from big_data_lab_three_spark.operators import (
    binarize_label,
    drop_columns,
    nullify_nonfinite,
)
from big_data_lab_three_spark.operators.relational import coerce_numeric
from big_data_lab_three_spark.schemas import IDENTITY_COLUMNS, strip_column_names
from big_data_lab_three_spark.sources import read_csv

log = get_logger(__name__)

# The reference's 33-column low-importance drop-list
# (src/preprocess.py:65-78, derived in nb cells 26-29).
LOW_IMPORTANCE_COLUMNS = [
    "Total Fwd Packets", "Fwd Packet Length Min", "Fwd Packet Length Std",
    "Bwd Packet Length Std", "Flow IAT Mean", "Fwd IAT Total",
    "Fwd IAT Mean", "Fwd IAT Min", "Bwd IAT Total", "Bwd IAT Mean",
    "Bwd IAT Std", "Bwd IAT Max", "Bwd IAT Min", "Fwd PSH Flags",
    "Bwd PSH Flags", "Fwd URG Flags", "Bwd URG Flags", "FIN Flag Count",
    "SYN Flag Count", "RST Flag Count", "CWE Flag Count", "ECE Flag Count",
    "Down/Up Ratio", "Fwd Avg Bytes/Bulk", "Fwd Avg Packets/Bulk",
    "Fwd Avg Bulk Rate", "Bwd Avg Bytes/Bulk", "Bwd Avg Packets/Bulk",
    "Bwd Avg Bulk Rate", "Active Mean", "Active Std", "Active Max",
    "Active Min",
]


def preprocess_flows(df: DataFrame) -> DataFrame:
    """Strip → binarize(State) → inf/NaN→NULL → prune.  Keeps features
    and label in ONE DataFrame (the engine's X/y design)."""
    out = strip_column_names(df)
    if "Label" in out.columns:
        out = binarize_label(out, src="Label", positive="BENIGN", out="State")
    # Feature columns Spark's CSV inference left as strings (e.g. rate
    # columns containing 'inf') get pandas-compatible numeric coercion.
    out = coerce_numeric(
        out, [c for c in out.columns if c not in IDENTITY_COLUMNS]
    )
    out = nullify_nonfinite(out)
    return drop_columns(out, IDENTITY_COLUMNS + LOW_IMPORTANCE_COLUMNS)


def split_data(
    spark: SparkSession,
    catalog: Catalog,
    out_dir: str = "data",
) -> bool:
    """Read the configured train/test CSVs, preprocess, and write X/y
    CSV pairs keyed by ``row_id``; write the ``[PREPROCESSED_DATA]``
    section back (reference ``src/preprocess.py:140-166``).  Returns the
    reference's all-outputs-exist bool."""
    os.makedirs(out_dir, exist_ok=True)
    paths = {}
    for split in ("train", "test"):
        src = catalog.get("DATA", f"{split}_file") or catalog.get(
            "UTEST_DATA", f"{split}_file"
        )
        if src is None:
            log.warning("no %s_file configured", split)
            return False
        df = preprocess_flows(read_csv(spark, src))
        keyed = df.withColumn("row_id", F.monotonically_increasing_id())
        x_path = os.path.join(out_dir, f"{split}_x_csv")
        y_path = os.path.join(out_dir, f"{split}_y_csv")
        feature_cols = [c for c in df.columns if c != "State"]
        keyed.select("row_id", *feature_cols).write.mode("overwrite").option(
            "header", True
        ).csv(x_path)
        keyed.select("row_id", "State").write.mode("overwrite").option(
            "header", True
        ).csv(y_path)
        paths[f"{split}_x"] = x_path
        paths[f"{split}_y"] = y_path
    catalog.set_section("PREPROCESSED_DATA", paths)
    return all(os.path.isdir(p) for p in paths.values())
