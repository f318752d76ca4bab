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
- ``DecisionTreeClassificationModel``: the tree read by one pre-order
  walk over its JVM nodes into node arrays; a row goes left when
  ``x <= threshold`` (so NaN goes right) and is predicted as the argmax
  of its leaf's class weights, Spark's ``predictRaw``.
- ``RandomForestClassificationModel``: every tree read the same way;
  each tree's leaf weights divided by their total (a zero-total leaf
  adds nothing), summed over the trees in order, then the argmax, as in
  Spark's ``predictRaw`` (which ignores the tree weights, all 1.0).
- ``NaiveBayesModel`` (gaussian): Spark's ``gaussianCalculation``,
  ``pi[i] - (Σ_j (x_j - θ_ij)² / σ_ij + Σ_j log σ_ij) / 2`` summed in
  feature order, then the argmax.

Every argmax is Spark's ``DenseVector.argmax``: the first index on a
tie.  A head outside this list is a ``ValueError`` at compile time;
``PipelineModel.transform`` stays the parity reference in the tests.

``accuracy`` is ``models.score``'s aggregate in NumPy, so a held-out
split scored by a compiled pipeline gets the same figure as Spark's.
"""

from __future__ import annotations

import math
from collections.abc import Callable
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.ml import PipelineModel
from pyspark.ml.classification import (
    DecisionTreeClassificationModel,
    LogisticRegressionModel,
    NaiveBayesModel,
    RandomForestClassificationModel,
)


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


def compile_scorer(model: PipelineModel) -> LocalScorer:
    """Compile a ``train_classifier`` pipeline; a head with no local
    form is a ``ValueError`` naming it."""
    imputer, assembler, scaler, clf = model.stages
    if isinstance(clf, LogisticRegressionModel) and clf.numClasses == 2:
        head = _logistic_head(clf)
    elif isinstance(clf, DecisionTreeClassificationModel):
        head = _tree_head(_read_trees([clf._java_obj.rootNode()]))
    elif isinstance(clf, RandomForestClassificationModel):
        roots = [t.rootNode() for t in clf._java_obj.trees()]
        head = _forest_head(_read_trees(roots))
    elif isinstance(clf, NaiveBayesModel) and clf.getModelType() == "gaussian":
        head = _gaussian_nb_head(
            clf.pi.toArray(), clf.theta.toArray(), clf.sigma.toArray()
        )
    else:
        raise ValueError(f"cannot compile a {type(clf).__name__} head")
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


def _argmax(raw: np.ndarray) -> np.ndarray:
    """Spark's ``DenseVector.argmax`` of each row: a later index wins
    only when strictly greater, so a tie (or a NaN) keeps the first."""
    best = raw[:, 0]
    index = np.zeros(len(raw), dtype=np.int64)
    for i in range(1, raw.shape[1]):
        better = raw[:, i] > best
        index = np.where(better, i, index)
        best = np.where(better, raw[:, i], best)
    return index


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


@dataclass(frozen=True)
class _Trees:
    """Trees laid end to end in node arrays: ``roots[t]`` is tree
    ``t``'s root, a leaf is its own left and right child, and ``weights``
    holds each leaf's class weights (zeros at a split node)."""

    roots: np.ndarray
    inner: np.ndarray
    feature: np.ndarray
    threshold: np.ndarray
    left: np.ndarray
    right: np.ndarray
    weights: np.ndarray

    def leaves(self, x: np.ndarray) -> np.ndarray:
        """The leaf each row reaches in each tree, shape (rows, trees)."""
        rows = np.arange(len(x))[:, None]
        node = np.tile(self.roots, (len(x), 1))
        while self.inner[node].any():
            go_left = x[rows, self.feature[node]] <= self.threshold[node]
            node = np.where(go_left, self.left[node], self.right[node])
        return node


def _read_trees(roots) -> _Trees:
    """One pre-order walk over each JVM tree (``InternalNode`` /
    ``LeafNode``); only continuous splits have a compiled form."""
    feature: list[int] = []
    threshold: list[float] = []
    left: list[int] = []
    right: list[int] = []
    stats: dict[int, list[float]] = {}

    def visit(node) -> int:
        i = len(feature)
        feature.append(0)
        threshold.append(math.nan)
        left.append(i)
        right.append(i)
        if node.getClass().getSimpleName() == "LeafNode":
            stats[i] = list(node.impurityStats().stats())
            return i
        split = node.split()
        kind = split.getClass().getSimpleName()
        if kind != "ContinuousSplit":
            raise ValueError(f"unsupported tree split: {kind}")
        feature[i] = split.featureIndex()
        threshold[i] = split.threshold()
        left[i] = visit(node.leftChild())
        right[i] = visit(node.rightChild())
        return i

    starts = [visit(root) for root in roots]
    leaves = list(stats)
    inner = np.ones(len(feature), dtype=bool)
    inner[leaves] = False
    weights = np.zeros((len(feature), len(stats[leaves[0]])))
    weights[leaves] = [stats[i] for i in leaves]
    return _Trees(
        np.array(starts),
        inner,
        np.array(feature),
        np.array(threshold),
        np.array(left),
        np.array(right),
        weights,
    )


def _tree_head(tree: _Trees):
    prediction = _argmax(tree.weights)

    def head(x: np.ndarray) -> np.ndarray:
        return prediction[tree.leaves(x)[:, 0]]

    return head


def _forest_head(forest: _Trees):
    total = np.zeros(len(forest.weights))
    for c in range(forest.weights.shape[1]):  # Scala's left-to-right sum
        total = total + forest.weights[:, c]
    votes_of = np.zeros_like(forest.weights)
    counted = total != 0
    votes_of[counted] = forest.weights[counted] / total[counted, None]

    def head(x: np.ndarray) -> np.ndarray:
        leaves = forest.leaves(x)
        votes = np.zeros((len(x), votes_of.shape[1]))
        for t in range(leaves.shape[1]):  # Spark adds tree by tree
            votes = votes + votes_of[leaves[:, t]]
        return _argmax(votes)

    return head


def _gaussian_nb_head(pi: np.ndarray, theta: np.ndarray, sigma: np.ndarray):
    # libm's log may differ from Java's Math.log in the last bit, which
    # moves a row only when its class scores agree to that bit
    log_var_sum = [sum(math.log(s) for s in row) for row in sigma]

    def head(x: np.ndarray) -> np.ndarray:
        raw = np.empty((len(x), len(pi)))
        for i in range(len(pi)):
            s = np.zeros(len(x))
            for j in range(theta.shape[1]):  # feature order, no FMA
                d = x[:, j] - theta[i, j]
                s = s + d * d / sigma[i, j]
            raw[:, i] = pi[i] - (s + log_var_sum[i]) / 2
        return _argmax(raw)

    return head
