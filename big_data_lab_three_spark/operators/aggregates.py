"""Aggregations (SURVEY.md §2.3): profiling, scaling, metrics.

The pandas reference computes per-column statistics with one full pass per
column (85 passes for an 85-column null profile).  Every profile here is a
SINGLE wide ``agg(*exprs)`` — Catalyst fuses all columns into one
hash-aggregate stage, one scan, with map-side partial aggregation.

Scaling deliberately avoids ``avg(...) over ()`` empty-frame
windows: a global window funnels the whole table through ONE task.  Instead
the tiny statistics row is computed with an ``agg`` and broadcast-joined
back — the fact table never shuffles.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import NumericType


def _numeric_cols(df: DataFrame, cols: Sequence[str] | None) -> list[str]:
    if cols is not None:
        return list(cols)
    return [
        f.name for f in df.schema.fields
        if isinstance(f.dataType, NumericType)
    ]


def null_profile(df: DataFrame, cols: Sequence[str] | None = None) -> DataFrame:
    """A3+A8 — per-column null count and proportion (reference nb cells
    17/22/37: ``df.isna().sum()``, ``isnull().sum()/len``) in ONE pass.

    Returns one row per profiled column: (column, null_count, null_frac).
    """
    cols = cols or df.columns
    agg = df.agg(
        F.count(F.lit(1)).alias("_n"),
        *[
            F.sum(F.col(c).isNull().cast("long")).alias(f"n_{i}")
            for i, c in enumerate(cols)
        ],
    )
    # Unpivot the single stats row driver-side-free via stack().
    pairs = ", ".join(
        f"'{c}', n_{i}" for i, c in enumerate(cols)
    )
    return agg.selectExpr(
        "_n", f"stack({len(cols)}, {pairs}) as (column, null_count)"
    ).select(
        "column",
        "null_count",
        (F.col("null_count") / F.col("_n")).alias("null_frac"),
    )


def distinct_profile(df: DataFrame, cols: Sequence[str] | None = None) -> DataFrame:
    """A2 — per-column exact distinct count (reference nb cells 15-16:
    ``{c: df[c].nunique()}``), one wide agg."""
    cols = cols or df.columns
    agg = df.agg(
        *[F.countDistinct(F.col(c)).alias(f"d_{i}") for i, c in enumerate(cols)]
    )
    pairs = ", ".join(f"'{c}', d_{i}" for i, c in enumerate(cols))
    return agg.selectExpr(
        f"stack({len(cols)}, {pairs}) as (column, distinct_count)"
    )


def zscore(df: DataFrame, cols: Sequence[str] | None = None) -> DataFrame:
    """A6 — z-score standardization (reference ``src/train.py:61-66``
    ``StandardScaler``: ``(x - mean) / std`` per column, sample std).

    Means and stds come from one wide agg; the single stats row is
    broadcast cross-joined back (a ``BroadcastNestedLoopJoin`` over ONE
    row — free), so scaling is a pure projection and the fact table is
    never funneled through a global window partition.  The
    ``pyspark.ml`` pipeline variant is ``ml.pipeline.build_preprocessing``.
    """
    cols = _numeric_cols(df, cols)
    aggs = []
    for i, c in enumerate(cols):
        aggs.append(F.avg(F.col(c)).alias(f"_mean_{i}"))
        aggs.append(F.stddev_samp(F.col(c)).alias(f"_std_{i}"))
    stats = df.agg(*aggs)
    joined = df.crossJoin(F.broadcast(stats))
    idx = {c: i for i, c in enumerate(cols)}
    exprs = []
    for c in df.columns:
        if c in idx:
            i = idx[c]
            e = (F.col(c) - F.col(f"_mean_{i}")) / F.col(f"_std_{i}")
            exprs.append(e.alias(c))
        else:
            exprs.append(F.col(c))
    return joined.select(*exprs)


def value_counts(df: DataFrame, col: str) -> DataFrame:
    """A7 — group-count descending (reference nb cell 43:
    ``value_counts()``), ties broken by ascending value."""
    return df.groupBy(col).count().orderBy(F.desc("count"), F.asc(col))


def confusion_matrix(
    df: DataFrame, label: str = "label", prediction: str = "prediction"
) -> DataFrame:
    """A10 — confusion counts (reference nb cell 49): one groupBy, returns
    (label, prediction, n)."""
    return (
        df.groupBy(label, prediction)
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(label, prediction)
    )


def classification_report(df: DataFrame) -> DataFrame:
    """A11 — per-class precision/recall/F1 (reference nb cell 51) of
    ``df``'s ``label``/``prediction`` columns, derived relationally from
    the confusion counts (tiny frame — per-class rows)."""
    label, prediction = "label", "prediction"
    cm = confusion_matrix(df, label, prediction)
    per_label = cm.groupBy(label).agg(F.sum("n").alias("support"))
    per_pred = cm.groupBy(prediction).agg(F.sum("n").alias("predicted_n"))
    tp = cm.where(F.col(label) == F.col(prediction)).select(
        F.col(label).alias("class"), F.col("n").alias("tp")
    )
    rep = (
        per_label.select(F.col(label).alias("class"), "support")
        .join(
            per_pred.select(F.col(prediction).alias("class"), "predicted_n"),
            on="class", how="full",
        )
        .join(tp, on="class", how="left")
        .fillna(0, subset=["tp", "support", "predicted_n"])
        .select(
            "class",
            (F.col("tp") / F.col("predicted_n")).alias("precision"),
            (F.col("tp") / F.col("support")).alias("recall"),
            "support",
        )
        .withColumn(
            "f1",
            F.when(
                (F.col("precision") + F.col("recall")) > 0,
                2 * F.col("precision") * F.col("recall")
                / (F.col("precision") + F.col("recall")),
            ).otherwise(F.lit(0.0)),
        )
    )
    return rep.orderBy("class")
