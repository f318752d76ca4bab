"""Driver-local scoring of a fitted classifier pipeline (SURVEY.md §2.11).

A request-sized upload launches no Spark job, yet scoring it through
``PipelineModel.transform`` still pays a pandas → JVM copy, plan
analysis of four stages and a ``collect`` on every call.  This module
reads the fitted parameters out of the JVM once and replays the
``build_preprocessing`` stages plus the classifier head in NumPy, with
Spark's own arithmetic so the predictions are identical:

- ``ImputerModel``: NaN or missing → the column's surrogate.
- ``VectorAssembler``: the model's column order.
- ``StandardScalerModel``: ``(x - mean) * (std == 0 ? 0 : 1/std)``.
- ``LogisticRegressionModel`` (binary): ``margin > log(t / (1 - t))``,
  the margin summed feature by feature in vector order, as
  ``raw2prediction`` does.
- ``DecisionTreeClassificationModel``: the tree flattened into node
  arrays, parsed from ``toDebugString`` (Java prints each threshold in
  a form that round-trips exactly); go left when ``x <= threshold``.

Other heads return no scorer: a random forest's prediction needs the
per-leaf class statistics that ``toDebugString`` does not print, and
Gaussian naive Bayes is not compiled.  Their callers keep the Spark
transform, which also stays the parity reference in the tests.

``accuracy`` is ``models.score``'s aggregate in NumPy, so a held-out
split scored by a compiled pipeline gets the same figure as Spark's.
"""

from __future__ import annotations

import math
import re
from collections.abc import Callable, Iterator
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.ml import PipelineModel
from pyspark.ml.classification import (
    DecisionTreeClassificationModel,
    LogisticRegressionModel,
)

_SPLIT = re.compile(r"If \(feature (\d+) <= (\S+)\)$")
_LEAF = re.compile(r"Predict: (\S+)$")


@dataclass(frozen=True)
class LocalScorer:
    """Predictions of one fitted pipeline for a pandas frame of raw
    feature columns; absent columns count as missing, extra ones are
    ignored (the ``schemas.conform`` contract)."""

    columns: list[str]
    surrogates: np.ndarray
    shift: np.ndarray
    scale: np.ndarray
    head: Callable[[np.ndarray], np.ndarray]

    def predict(self, pdf: pd.DataFrame) -> np.ndarray:
        x = pdf.reindex(columns=self.columns).to_numpy(np.float64)
        x = np.where(np.isnan(x), self.surrogates, x)
        # ±inf inputs can give inf - inf = NaN, as they do in Spark
        with np.errstate(invalid="ignore"):
            return self.head((x - self.shift) * self.scale)


def compile_scorer(model: PipelineModel) -> LocalScorer | None:
    """Compile a ``train_classifier`` pipeline, or None when its head
    has no local form."""
    imputer, assembler, scaler, clf = model.stages
    if isinstance(clf, LogisticRegressionModel) and clf.numClasses == 2:
        head = _logistic_head(clf)
    elif isinstance(clf, DecisionTreeClassificationModel):
        head = _tree_head(clf)
    else:
        return None
    raw_of = dict(zip(imputer.getOutputCols(), imputer.getInputCols()))
    columns = [raw_of[c] for c in assembler.getInputCols()]
    surrogate_row = imputer.surrogateDF.first().asDict()
    n = len(columns)
    mean = scaler.mean.toArray() if scaler.getWithMean() else np.zeros(n)
    std = scaler.std.toArray()
    if scaler.getWithStd():
        scale = np.array([0.0 if s == 0 else 1.0 / s for s in std])
    else:
        scale = np.ones(n)
    return LocalScorer(
        columns,
        np.array([surrogate_row[c] for c in columns], dtype=np.float64),
        mean,
        scale,
        head,
    )


def accuracy(
    predictions: np.ndarray, labels: pa.Array | pa.ChunkedArray
) -> float:
    """Spark's ``avg(cast(prediction = label AS double))`` over Arrow
    labels, where a null stays apart from NaN: a null label drops out
    of both the count of hits and the count of rows, a NaN label is a
    miss.  No labelled row is a ``ValueError``, where Spark's average
    would be NULL."""
    known = ~labels.is_null().to_numpy(zero_copy_only=False)
    n = int(known.sum())
    if n == 0:
        raise ValueError("no labelled rows to score")
    y = labels.to_numpy(zero_copy_only=False)[known]
    hits = np.asarray(predictions)[known] == y
    return int(hits.sum()) / n


def _logistic_head(clf: LogisticRegressionModel):
    coef = clf.coefficients.toArray()
    intercept = clf.intercept
    t = clf.getThreshold()
    if t == 0.0:
        raw_threshold = -math.inf
    elif t == 1.0:
        raw_threshold = math.inf
    else:
        raw_threshold = math.log(t / (1.0 - t))

    def head(x: np.ndarray) -> np.ndarray:
        margin = np.zeros(len(x))
        for j, c in enumerate(coef):  # Spark's summation order, no FMA
            margin = margin + x[:, j] * c
        return ((margin + intercept) > raw_threshold).astype(np.int64)

    return head


def _tree_head(clf: DecisionTreeClassificationModel):
    feature: list[int] = []
    threshold: list[float] = []
    left: list[int] = []
    right: list[int] = []
    prediction: list[float] = []

    def parse(lines: Iterator[str]) -> int:
        line = next(lines)
        node = len(feature)
        feature.append(-1)
        threshold.append(math.nan)
        left.append(node)
        right.append(node)
        leaf = _LEAF.match(line)
        if leaf:
            prediction.append(float(leaf.group(1)))
            return node
        split = _SPLIT.match(line)
        if split is None:
            raise ValueError(f"unsupported tree split: {line!r}")
        prediction.append(math.nan)
        feature[node] = int(split.group(1))
        threshold[node] = float(split.group(2))
        left[node] = parse(lines)
        if not next(lines).startswith("Else "):
            raise ValueError("malformed tree: missing Else branch")
        right[node] = parse(lines)
        return node

    lines = iter([ln.strip() for ln in clf.toDebugString.splitlines()[1:]])
    parse(lines)
    feature_a = np.array(feature)
    inner = feature_a >= 0
    column = np.where(inner, feature_a, 0)
    threshold_a = np.array(threshold)
    left_a, right_a = np.array(left), np.array(right)
    prediction_a = np.array(prediction)

    def head(x: np.ndarray) -> np.ndarray:
        rows = np.arange(len(x))
        node = np.zeros(len(x), dtype=np.intp)
        while inner[node].any():
            go_left = x[rows, column[node]] <= threshold_a[node]
            node = np.where(go_left, left_a[node], right_a[node])
        return prediction_a[node].astype(np.int64)

    return head
