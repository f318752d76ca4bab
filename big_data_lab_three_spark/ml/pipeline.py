"""M1 — preprocessing pipeline (SURVEY.md §2.10).

Reference (``src/train.py:61-66``): sklearn ``Pipeline([SimpleImputer
(strategy='mean'), StandardScaler()])`` fit on train, applied to both
splits.  Spark mapping adds a ``VectorAssembler`` because MLlib scalers
operate on vector columns; feature names survive in the vector's ML
attrs metadata (unlike sklearn, which loses them at the ndarray
boundary — SURVEY.md §1.1).

Critically the features and label stay in ONE DataFrame end-to-end: the
reference's positionally-aligned X/y split would silently corrupt under
a shuffle (SURVEY.md §4.3), so it is designed away rather than ported.
"""

from __future__ import annotations

from pyspark.ml import Pipeline
from pyspark.ml.feature import Imputer, StandardScaler, VectorAssembler


def build_preprocessing(feature_cols: list[str]) -> Pipeline:
    """Imputer(mean) → VectorAssembler → StandardScaler(mean, std) into
    ``features``, as an unfitted Pipeline — ``fit`` on train only,
    ``transform`` everywhere (the reference's fit-on-train/transform-both
    contract).

    All three stages are single-pass aggregations + projections — two
    jobs to fit (imputer means, scaler moments), zero shuffles.
    """
    imputed = [f"{c}__imp" for c in feature_cols]
    return Pipeline(
        stages=[
            Imputer(
                strategy="mean",
                inputCols=list(feature_cols),
                outputCols=imputed,
            ),
            VectorAssembler(
                inputCols=imputed, outputCol="__features_raw",
                handleInvalid="keep",
            ),
            StandardScaler(
                inputCol="__features_raw",
                outputCol="features",
                withMean=True,
                withStd=True,
            ),
        ]
    )
