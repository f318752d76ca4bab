"""Deterministic k-fold cross-validation (extends SURVEY.md §2.10 —
the reference stops at a single ``train_test_split``,
``src/preprocess.py:150``; CV is the evaluation loop its users run
next).

Fold membership is a CONTENT-HASH rule, not a random split: the same
idiom as the registered ``stratified_sample`` holdout (a pure scan
predicate — no shuffle, no window, no cached assignment table).  That
buys three things a 100 TB pipeline needs:

- **reproducibility**: a row's fold is a pure function of its key
  columns and the seed — stable across runs, engines, partitionings,
  and file layouts (no ``randomSplit`` re-draw hazards);
- **scale**: assignment is one codegen'd projection; each fold's
  train/test split is a scan filter that parquet evaluates without
  materializing k copies of the data;
- **auditability**: any engine (or the DuckDB oracle) can recompute
  membership to verify no train/test leakage.

``cross_validate`` then trains the existing §2.10 pipeline
(``train_classifier``) per fold and reports per-fold accuracy — k
sequential Spark jobs, each fully distributed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from big_data_lab_three_spark.ml.models import score, train_classifier


def fold_assignments(
    df: DataFrame,
    k: int = 5,
    key_cols: list[str] | None = None,
    seed: int = 0,
    portable: bool = False,
) -> DataFrame:
    """Attach a deterministic ``fold`` id in ``[0, k)``: a content hash of
    the key columns (all columns when unspecified) and the seed, mod k.
    Pure projection — evaluated in the scan stage wherever it's used
    as a filter.

    ``portable=False`` (default) hashes with ``xxhash64`` — fastest,
    but Spark-specific.  ``portable=True`` derives the fold from md5
    (bit-identical in every engine), so any system — including the
    DuckDB oracle — can recompute membership to audit train/test
    leakage: ``('0x' || substr(md5(key || '|cv' || seed), 1, 15))
    :: BIGINT % k`` is the exact ANSI-ish twin."""
    keys = key_cols if key_cols else df.columns
    if portable:
        tag = F.concat_ws(
            "\x1f", *[F.col(c).cast("string") for c in keys]
        )
        h15 = F.substring(
            F.md5(F.encode(F.concat(tag, F.lit(f"|cv{seed}")), "UTF-8")),
            1,
            15,
        )
        fold = F.conv(h15, 16, 10).cast("long") % F.lit(k)
    else:
        fold = F.pmod(F.xxhash64(*keys, F.lit(seed)), F.lit(k))
    return df.withColumn("fold", fold.cast("int"))


def cross_validate(
    df: DataFrame,
    feature_cols: list[str],
    model_type: str = "d_tree",
    k: int = 5,
) -> list[dict]:
    """k-fold CV of the §2.10 training pipeline with default params: for
    each fold i (hashed over all columns, seed 0), train on rows with
    ``fold != i``, evaluate accuracy on ``fold == i``.  Returns one dict
    per fold (fold, n_train, n_test, accuracy)
    — aggregate-sized, so a driver-side list is the honest return type.

    The input is persisted with its fold column for the duration (k
    passes over the same frame); callers with a long-lived pipeline
    should pass an already-persisted df."""
    folded = fold_assignments(df, k=k)
    folded.persist()
    try:
        results = []
        for i in range(k):
            train = folded.where(F.col("fold") != i)
            test = folded.where(F.col("fold") == i)
            model = train_classifier(train, feature_cols, model_type=model_type)
            results.append(
                {
                    "fold": i,
                    "n_train": train.count(),
                    "n_test": test.count(),
                    "accuracy": score(model, test),
                }
            )
        return results
    finally:
        folded.unpersist()
