"""M3-M9 — classifiers, scoring, persistence (SURVEY.md §2.10).

The API accepts the REFERENCE'S sklearn parameter names (``solver``,
``max_iter``, ``n_estimators``, ``criterion``, ``max_depth``,
``min_samples_split``) and translates to MLlib params, documenting the
semantic deltas instead of chasing bit-parity (SURVEY.md §4.3):

- LogReg: MLlib is lbfgs-family; ``solver`` is accepted for API compat
  only (reference ``src/train.py:116-126``).
- DecisionTree: sklearn's ``min_samples_split`` gates the split, MLlib's
  ``minInstancesPerNode`` gates the children — close, not identical
  (reference ``src/train.py:149-159``).
- GaussianNB → ``NaiveBayes(modelType='gaussian')``
  (reference ``src/train.py:140-147``).

Model artifacts are Spark-native ``PipelineModel.save`` directories
(Parquet + JSON metadata) instead of pickles, with the feature contract
as a JSON sidecar and a catalog write-back mirroring the reference's
``save_model`` contract (``src/train.py:161-188``: write section, save
artifact, return file-exists bool).
"""

from __future__ import annotations

import json
import os

from pyspark.ml import Pipeline, PipelineModel
from pyspark.ml.classification import (
    DecisionTreeClassifier,
    LogisticRegression,
    NaiveBayes,
    RandomForestClassifier,
)
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from big_data_lab_three_spark.catalog import Catalog, resolve_artifact_dir
from big_data_lab_three_spark.logger import get_logger
from big_data_lab_three_spark.ml.balance import class_weights
from big_data_lab_three_spark.ml.pipeline import build_preprocessing

log = get_logger(__name__)

MODEL_SECTIONS = {
    "log_reg": "LOG_REG",
    "rand_forest": "RAND_FOREST",
    "gnb": "GNB",
    "d_tree": "D_TREE",
}


def _make_classifier(model_type: str, params: dict):
    """Translate reference param names → an MLlib classifier stage."""
    common = dict(featuresCol="features", labelCol="label", weightCol="weight")
    if model_type == "log_reg":
        return LogisticRegression(
            maxIter=int(params.get("max_iter", 100)), **common
        )  # 'solver' accepted but MLlib picks its own (lbfgs/owlqn)
    if model_type == "rand_forest":
        return RandomForestClassifier(
            numTrees=int(params.get("n_estimators", 100)),
            impurity=str(params.get("criterion", "gini")),
            seed=int(params.get("random_state", 42)),
            **common,
        )
    if model_type == "gnb":
        gnb_common = {k: v for k, v in common.items()}
        return NaiveBayes(modelType="gaussian", **gnb_common)
    if model_type == "d_tree":
        return DecisionTreeClassifier(
            maxDepth=int(params.get("max_depth", 10)),
            minInstancesPerNode=int(params.get("min_samples_split", 2)),
            seed=int(params.get("random_state", 42)),
            **common,
        )
    raise ValueError(f"unknown model type: {model_type}")


def train_classifier(
    train_df: DataFrame,
    feature_cols: list[str],
    model_type: str = "d_tree",
    params: dict | None = None,
) -> PipelineModel:
    """Fit preprocessing + classifier as ONE PipelineModel on
    ``train_df``'s ``label`` column (cast to double).

    Balanced class weights apply the reference's SMOTE *intent* (equal
    class influence) via instance weights — the scale-preferred tier of
    M2 (``ml.balance``).
    """
    params = params or {}
    df = train_df.withColumn("label", F.col("label").cast("double"))
    df = class_weights(df, "label")
    stages = build_preprocessing(feature_cols).getStages()
    stages.append(_make_classifier(model_type, params))
    return Pipeline(stages=stages).fit(df)


def score(model: PipelineModel, df: DataFrame) -> float:
    """M7 — accuracy against ``df``'s ``label`` column (reference
    ``classifier.score``, ``src/train.py:210-212``); rows with a null
    label are not counted, and a frame with no labelled row is a
    ``ValueError``."""
    pred = model.transform(
        df.withColumn("label", F.col("label").cast("double"))
    )
    row = pred.agg(
        F.avg((F.col("prediction") == F.col("label")).cast("double")).alias("acc")
    ).first()
    if row["acc"] is None:
        raise ValueError("no labelled rows to score")
    return float(row["acc"])


def feature_importances(model: PipelineModel, feature_cols: list[str]) -> list[tuple[str, float]]:
    """M9 — (feature, importance) sorted desc (reference nb cells 26-29);
    empty for models without importances (LR/GNB)."""
    clf = model.stages[-1]
    if not hasattr(clf, "featureImportances"):
        return []
    imps = clf.featureImportances.toArray().tolist()
    return sorted(zip(feature_cols, imps), key=lambda t: -t[1])


def save_model(
    model: PipelineModel,
    model_type: str,
    feature_cols: list[str],
    params: dict | None = None,
    catalog: Catalog | None = None,
    artifact_dir: str | None = None,
) -> bool:
    """M8 — persist + catalog write-back, returning the reference's
    file-exists bool contract (``src/train.py:161-188``)."""
    artifact_dir = artifact_dir or resolve_artifact_dir()
    path = os.path.join(artifact_dir, f"{model_type}.sparkml")
    model.write().overwrite().save(path)
    with open(os.path.join(artifact_dir, f"{model_type}.contract.json"), "w") as f:
        json.dump({"feature_columns": feature_cols}, f)
    if catalog is not None:
        catalog.set_section(
            MODEL_SECTIONS.get(model_type, model_type.upper()),
            {**(params or {}), "path": path},
        )
    return os.path.isdir(path)


def load_model(model_type: str, artifact_dir: str | None = None) -> tuple[PipelineModel, list[str]]:
    """Load a saved model + its feature contract sidecar
    (reference ``src/predict.py:108-116`` unpickle + contract)."""
    artifact_dir = artifact_dir or resolve_artifact_dir()
    path = os.path.join(artifact_dir, f"{model_type}.sparkml")
    with open(os.path.join(artifact_dir, f"{model_type}.contract.json")) as f:
        contract = json.load(f)["feature_columns"]
    return PipelineModel.load(path), contract


class MultiModel:
    """V3/V4-style orchestrator (reference ``MultiModel``,
    ``src/train.py:26-114``) — but lazy and session-shared where the
    reference re-reads and re-fits everything per call (SURVEY.md §3.2
    flags that as an anti-pattern to fix, not copy)."""

    def __init__(
        self,
        spark: SparkSession,
        train_df: DataFrame,
        test_df: DataFrame,
        feature_cols: list[str],
        catalog: Catalog | None = None,
        artifact_dir: str | None = None,
    ) -> None:
        self.spark = spark
        self.train_df = train_df
        self.test_df = test_df
        self.feature_cols = feature_cols
        self.catalog = catalog
        self.artifact_dir = artifact_dir or resolve_artifact_dir()
        self.models: dict[str, PipelineModel] = {}

    def train(self, model_type: str, params: dict | None = None, save: bool = True) -> bool:
        model = train_classifier(
            self.train_df, self.feature_cols, model_type, params
        )
        self.models[model_type] = model
        acc = score(model, self.test_df)
        log.info("trained %s: test accuracy %.4f", model_type, acc)
        if save:
            return save_model(
                model, model_type, self.feature_cols, params,
                self.catalog, self.artifact_dir,
            )
        return True

    # Reference method name (src/train.py:149-159)
    def d_tree(self, **params) -> bool:
        return self.train("d_tree", params)

    def predict(
        self,
        model_type: str,
        mode: str = "smoke",
        fixtures_dir: str | None = None,
    ) -> dict:
        """V3 self-test dispatch (reference ``src/predict.py:118-169``):
        ``smoke`` scores the held-out split; ``func`` replays the JSON
        fixtures under ``fixtures_dir`` through the serving path and
        writes one S9 experiment record per fixture; ``db`` scores like
        smoke (the Redis sink is the caller's concern, as in the
        reference where it wraps this scoring)."""
        model = self.models.get(model_type)
        # the contract that matches THIS model: a session-trained model
        # was assembled from self.feature_cols; a loaded artifact must
        # score against ITS persisted sidecar contract (names/order may
        # differ from this MultiModel's configuration)
        contract = self.feature_cols
        if model is None:
            model, contract = load_model(model_type, self.artifact_dir)
        if mode == "func":
            from big_data_lab_three_spark.ml.experiment import (
                run_func_fixtures,
            )

            params = {}
            if self.catalog is not None:
                section = MODEL_SECTIONS.get(model_type, model_type.upper())
                if self.catalog.config.has_section(section):
                    params = dict(self.catalog.config.items(section))
            artifact = os.path.join(
                self.artifact_dir, f"{model_type}.sparkml"
            )
            runs = run_func_fixtures(
                self.spark, model, model_type, contract,
                fixtures_dir or "unit_tests", self.artifact_dir,
                model_params=params,
                model_artifact_path=artifact if os.path.isdir(artifact) else None,
            )
            return {
                "model": model_type,
                "mode": mode,
                "fixture_scores": {r["fixture"]: r["score"] for r in runs},
                "experiment_dirs": [r["experiment_dir"] for r in runs],
            }
        acc = score(model, self.test_df)
        return {"model": model_type, "mode": mode, "test_score": acc}
