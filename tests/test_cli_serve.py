"""CLI (V3/V4) and serving-core (V1/V2) parity tests.

FastAPI/Redis aren't in this container, so the framework-free
``Service`` core is tested directly (the FastAPI wrapper is a thin
import-gated shim) and the Redis sink exercises its JSON fallback.
"""

from __future__ import annotations

import contextlib
import json
import math
import os
from types import SimpleNamespace

import pytest

from big_data_lab_three_spark.flows import preprocess_flows, split_data
from big_data_lab_three_spark.catalog import Catalog
from big_data_lab_three_spark.serve.app import VALID_MODELS


@pytest.fixture(scope="module")
def flow_csv(tmp_path_factory):
    """Synthetic CICIDS-style CSV: leading-space headers, BENIGN/attack
    labels, ±inf rates (FIXTURES.md §1)."""
    p = tmp_path_factory.mktemp("flows") / "flows.csv"
    rows = [
        "Flow ID, Source IP, Label, Source Port,Flow Bytes/s, Flow Duration",
        "f1,10.0.0.1,BENIGN,80,125.5,10",
        "f2,10.0.0.2,DoS Hulk,443,inf,20",
        "f3,10.0.0.3,BENIGN,80,-inf,30",
        "f4,10.0.0.4,PortScan,22,88.1,40",
    ]
    p.write_text("\n".join(rows))
    return str(p)


def test_preprocess_flows_semantics(spark, flow_csv):
    from big_data_lab_three_spark.sources import read_csv

    out = preprocess_flows(read_csv(spark, flow_csv))
    rows = {r["Source Port"]: r.asDict() for r in out.collect()}
    # identity cols dropped, names stripped
    assert "Flow ID" not in out.columns and "Label" not in out.columns
    assert "Source Port" in out.columns  # leading space stripped
    # label binarized: BENIGN→1 else 0
    assert rows[80]["State"] == 1 and rows[443]["State"] == 0
    # ±inf → NULL
    assert rows[443]["Flow Bytes/s"] is None
    assert all(
        v is None or not math.isinf(v)
        for r in rows.values()
        for v in r.values()
        if isinstance(v, float)
    )


def test_split_data_writes_catalog(spark, flow_csv, tmp_path):
    cfg = str(tmp_path / "config.ini")
    cat = Catalog(cfg)
    cat.set_section("DATA", {"train_file": flow_csv, "test_file": flow_csv})
    ok = split_data(spark, cat, out_dir=str(tmp_path / "data"))
    assert ok
    cat2 = Catalog(cfg)
    assert cat2.get("PREPROCESSED_DATA", "train_x") is not None
    assert os.path.isdir(cat2.get("PREPROCESSED_DATA", "train_x"))


def test_cli_train_and_predict(tmp_path, monkeypatch, capsys):
    from big_data_lab_three_spark import cli

    monkeypatch.chdir(tmp_path)
    rc = cli.main(
        ["--config", str(tmp_path / "c.ini"), "train", "-m", "D_TREE",
         "--params", '{"max_depth": 3}', "--no-save"]
    )
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out == {"model_trained": True, "model_type": "d_tree"}

    rc = cli.main(
        ["--config", str(tmp_path / "c.ini"), "predict", "-m", "GNB",
         "-t", "smoke"]
    )
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["model"] == "gnb" and 0.0 <= out["test_score"] <= 1.0


@pytest.fixture(scope="module")
def service(tmp_path_factory):
    """One serving core shared by the module's serve tests (building
    one splits the training frame); a test that needs a fresh model
    retrains it."""
    from big_data_lab_three_spark.serve.app import Service

    with pytest.MonkeyPatch.context() as mp:
        mp.chdir(tmp_path_factory.mktemp("serve"))
        return Service()


class _FakeRedis:
    """Dict-backed stand-in for the Redis connection, logging calls."""

    def __init__(self):
        self.data, self.calls = {}, []

    def get(self, key):
        self.calls.append(("get", key))
        return self.data.get(key)

    def set(self, key, value):
        self.calls.append(("set", key))
        self.data[key] = value

    def delete(self, key):
        self.calls.append(("delete", key))
        self.data.pop(key, None)


UPLOAD_CSV = (
    "l_quantity,l_extendedprice,l_discount,l_tax,extra_col\n"
    "10,1000.5,0.05,0.02,ignored\n"
    "40,99999.0,0.09,0.01,ignored\n"
).encode()


@pytest.mark.parametrize("model_type", VALID_MODELS)
def test_service_train_predict_upload(service, model_type):
    result = service.train(model_type, save_model=False, predict_flag=True)
    assert result["model_trained"] and not result["model_saved"]
    assert 0.0 <= result["test_score"] <= 1.0

    with pytest.raises(ValueError):
        service.train("not_a_model")

    smoke = service.predict("smoke", model_type)
    assert smoke["from_cache"] is False  # no redis in container

    up = service.predict("upload", model_type, file_contents=UPLOAD_CSV)
    assert up["n_rows"] == 2
    assert all(p in (0, 1) for p in up["predictions"])

    with pytest.raises(ValueError):
        service.predict("upload", model_type, file_contents=None)


def test_cache_key_names_the_model_and_retrain_drops_it(
    service, monkeypatch
):
    """A log_reg smoke must never be served d_tree's cached score, and a
    retrain must never be served the score of the model it replaced."""
    fake = _FakeRedis()
    monkeypatch.setattr(service.cache, "conn", fake)
    service.train("d_tree", save_model=False)
    assert service.predict("smoke", "d_tree")["from_cache"] is False
    assert service.predict("smoke", "log_reg")["from_cache"] is False
    assert service.predict("smoke", "d_tree")["from_cache"] is True
    service.train("d_tree", save_model=False)
    assert service.predict("smoke", "d_tree")["from_cache"] is False


def test_upload_neither_reads_nor_writes_the_cache(service, monkeypatch):
    fake = _FakeRedis()
    monkeypatch.setattr(service.cache, "conn", fake)
    service.predict("upload", "d_tree", file_contents=UPLOAD_CSV)
    assert fake.calls == []


@pytest.mark.parametrize("model_type", ["d_tree", "rand_forest"])
def test_upload_header_only_csv_scores_no_rows(service, model_type):
    """A single tree and a forest both score an empty frame."""
    out = service.predict(
        "upload", model_type,
        file_contents=b"l_quantity,l_extendedprice,l_discount,l_tax\n",
    )
    assert out["n_rows"] == 0 and out["predictions"] == []


@pytest.mark.parametrize("model_type", ["d_tree", "rand_forest"])
def test_upload_non_numeric_feature_is_a_value_error(service, model_type):
    """A 400 naming the column, never a JVM type error or an imputed
    guess in place of the caller's value."""
    csv_bytes = (
        "l_quantity,l_extendedprice,l_discount,l_tax\n"
        "10,1000.5,0.05,0.02\n"
        "12,lots,0.05,0.02\n"
    ).encode()
    with pytest.raises(ValueError, match="l_extendedprice"):
        service.predict("upload", model_type, file_contents=csv_bytes)


PARITY_SEED = 20261017


def _parity_frames(n=1200, seed=PARITY_SEED):
    """Two seeded upload frames, parsed the way the service parses them:
    ``l_quantity`` integer-typed; the other features with 5% empty
    cells, 2% +inf and 2% -inf; the second frame lacks ``l_tax`` and
    carries an extra text column."""
    import io

    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(seed)
    frames = []
    for drop_tax in (False, True):
        cols = {
            "l_quantity": rng.integers(1, 51, n).astype(str),
            "l_extendedprice": np.round(rng.uniform(900, 105000, n), 2),
            "l_discount": rng.integers(0, 11, n) / 100,
            "l_tax": rng.integers(0, 9, n) / 100,
        }
        for c in ("l_extendedprice", "l_discount", "l_tax"):
            v = cols[c].astype(str).astype(object)
            u = rng.random(n)
            v[u < 0.05] = ""
            v[(u >= 0.05) & (u < 0.07)] = "inf"
            v[(u >= 0.07) & (u < 0.09)] = "-inf"
            cols[c] = v
        text = pd.DataFrame(cols)
        if drop_tax:
            text = text.drop(columns=["l_tax"]).assign(note="free text")
        csv_bytes = text.to_csv(index=False).encode()
        frames.append(pd.read_csv(io.BytesIO(csv_bytes)))
    return frames


@pytest.mark.parametrize("model_type", VALID_MODELS)
def test_compiled_scorer_matches_spark_transform(service, model_type):
    """The NumPy scorer is exact: 0 of 2,400 seeded rows differ from
    ``PipelineModel.transform(...).prediction``."""
    import numpy as np

    from big_data_lab_three_spark.ml.local import compile_scorer
    from big_data_lab_three_spark.schemas import conform

    full, partial = _parity_frames()
    assert str(full["l_quantity"].dtype) == "int64"
    assert full.isna().any().any() and np.isinf(full["l_tax"]).any()
    service.train(model_type, save_model=False)
    model = service.mm.models[model_type]
    scorer = compile_scorer(model)
    for pdf in (full, partial):
        local = scorer.predict(pdf)
        df = conform(service.spark.createDataFrame(pdf), service.feature_cols)
        spark = np.array([
            int(r["prediction"])
            for r in model.transform(df).select("prediction").collect()
        ])
        assert len(local) == len(pdf)
        assert int((local != spark).sum()) == 0
        assert 0 < local.sum() < len(pdf)  # both classes occur


# Stand-ins for the py4j handles of Spark's tree nodes; the reader tells
# them apart by their JVM class names, so the classes carry those names.
class _JavaStub:
    def getClass(self):
        return SimpleNamespace(getSimpleName=lambda: type(self).__name__)


class LeafNode(_JavaStub):
    def __init__(self, *weights):
        self.weights = list(weights)

    def impurityStats(self):
        return SimpleNamespace(stats=lambda: self.weights)


class InternalNode(_JavaStub):
    def __init__(self, split, left, right):
        self._split, self._left, self._right = split, left, right

    def split(self):
        return self._split

    def leftChild(self):
        return self._left

    def rightChild(self):
        return self._right


class ContinuousSplit(_JavaStub):
    def __init__(self, feature, threshold):
        self._feature, self._threshold = feature, threshold

    def featureIndex(self):
        return self._feature

    def threshold(self):
        return self._threshold


class CategoricalSplit(_JavaStub):
    def featureIndex(self):
        return 0


def test_tree_reader_goes_left_on_equal_and_right_on_nan_and_inf():
    """Spark's continuous split sends ``x <= threshold`` left: a value
    equal to the threshold goes left, NaN and +inf go right.  A leaf
    predicts the argmax of its class weights, the first class on a
    tie."""
    import numpy as np

    from big_data_lab_three_spark.ml.local import _read_trees, _tree_head

    tree = InternalNode(
        ContinuousSplit(0, 0.0),
        InternalNode(ContinuousSplit(1, 0.5), LeafNode(2.0, 2.0),
                     LeafNode(1.0, 2.0)),
        LeafNode(0.0, 5.0),
    )
    trees = _read_trees([tree])
    assert trees.left.tolist() == [1, 2, 2, 3, 4]  # pre-order
    assert trees.right.tolist() == [4, 3, 2, 3, 4]
    x = np.array([[0.0, 0.5], [0.0, 0.5000001], [0.0, np.nan],
                  [0.0, np.inf], [0.0, -np.inf], [1.0, 0.0],
                  [np.nan, 0.0], [np.inf, 0.0]])
    assert _tree_head(trees)(x).tolist() == [0, 1, 1, 1, 0, 1, 1, 1]


def test_tree_reader_rejects_categorical_splits():
    """A categorical split has no compiled form and must fail loudly."""
    from big_data_lab_three_spark.ml.local import _read_trees

    tree = InternalNode(CategoricalSplit(), LeafNode(1.0, 0.0),
                        LeafNode(0.0, 1.0))
    with pytest.raises(ValueError, match="CategoricalSplit"):
        _read_trees([tree])


def test_forest_head_skips_zero_total_leaves_and_ties_to_class_0():
    """Each tree votes its leaf's weights over their total; a leaf whose
    total is 0 adds nothing (no NaN), and an exact tie is class 0."""
    import numpy as np

    from big_data_lab_three_spark.ml.local import _forest_head, _read_trees

    forest = _read_trees([
        InternalNode(ContinuousSplit(0, 0.0), LeafNode(0.0, 0.0),
                     LeafNode(3.0, 1.0)),
        InternalNode(ContinuousSplit(0, 0.0), LeafNode(1.0, 3.0),
                     LeafNode(1.0, 3.0)),
    ])
    # row 0: 0 + (0.25, 0.75); row 1: (0.75, 0.25) + (0.25, 0.75) = (1, 1)
    assert _forest_head(forest)(np.array([[-1.0], [1.0]])).tolist() == [1, 0]


def test_gaussian_nb_head_matches_a_hand_computed_example():
    """``pi[i] - (Σ (x-θ)²/σ + Σ log σ) / 2``: with equal priors, class 1
    (θ=1, σ=(1, 4)) is nearer at x=(0.8, 0.8) but its wider variance
    costs log 4 / 2, so class 0 (θ=0, σ=1) wins there."""
    import numpy as np

    from big_data_lab_three_spark.ml.local import _gaussian_nb_head

    pi = np.log([0.5, 0.5])
    head = _gaussian_nb_head(
        pi, np.array([[0.0, 0.0], [1.0, 1.0]]),
        np.array([[1.0, 1.0], [1.0, 4.0]]),
    )
    # x=(1, 1):     class 0: -(1 + 1)/2 = -1;      class 1: -log(4)/2 = -0.69
    # x=(0.8, 0.8): class 0: -(0.64 + 0.64)/2 = -0.64;
    #               class 1: -(0.04 + 0.01 + log 4)/2 = -0.72
    # x=(0, 0):     class 0: 0;                    class 1: -(1 + 0.25 + log 4)/2
    x = np.array([[1.0, 1.0], [0.8, 0.8], [0.0, 0.0]])
    assert head(x).tolist() == [1, 0, 0]
    skewed = _gaussian_nb_head(
        np.log([0.1, 0.9]), np.array([[0.0, 0.0], [1.0, 1.0]]),
        np.array([[1.0, 1.0], [1.0, 4.0]]),
    )
    # x=(0.8, 0.8): class 0: log 0.1 - 0.64 = -2.94; class 1: log 0.9 - 0.72
    assert skewed(x[1:2]).tolist() == [1]


def test_compile_scorer_names_a_head_it_cannot_compile():
    from big_data_lab_three_spark.ml.local import compile_scorer

    class LinearSVCModel:
        pass

    pipeline = SimpleNamespace(stages=[None, None, None, LinearSVCModel()])
    with pytest.raises(ValueError, match="LinearSVCModel"):
        compile_scorer(pipeline)


@contextlib.contextmanager
def _no_spark_jobs(sc, group):
    """Fail unless the block launches no Spark job."""
    sc.setJobGroup(group, group)
    try:
        yield
        assert sc.statusTracker().getJobIdsForGroup(group) == []
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)


def test_compiled_uploads_never_reach_spark(service):
    """Once a model is compiled, its uploads run no Spark job."""
    for model_type in VALID_MODELS:
        if model_type not in service.mm.models:
            service.train(model_type, save_model=False)
        service.predict("upload", model_type, file_contents=UPLOAD_CSV)

    with _no_spark_jobs(service.spark.sparkContext, "compiled-upload"):
        for model_type in VALID_MODELS:
            out = service.predict(
                "upload", model_type, file_contents=UPLOAD_CSV
            )
            assert out["n_rows"] == 2


# gnb takes no parameters: its retrain fits the same model again
RETRAIN_PARAMS = {
    "d_tree": {"max_depth": 3},
    "rand_forest": {"n_estimators": 5},
    "log_reg": {"max_iter": 1},
    "gnb": {},
}


@pytest.mark.parametrize("model_type", VALID_MODELS)
def test_compiled_smoke_matches_spark_score(service, model_type):
    """The driver-local smoke is Spark's ``score`` exactly, and a retrain
    is scored by its own model, never by the scorer of the one it
    replaced."""
    from big_data_lab_three_spark.ml.models import score

    service.train(model_type, save_model=False)
    before = service.predict("smoke", model_type)["test_score"]
    assert before == score(service.mm.models[model_type], service.mm.test_df)

    service.train(model_type, save_model=False,
                  params=RETRAIN_PARAMS[model_type])
    after = service.predict("smoke", model_type)["test_score"]
    assert after == score(service.mm.models[model_type], service.mm.test_df)
    if RETRAIN_PARAMS[model_type]:  # told apart from its predecessor
        assert after != before


def test_compiled_smoke_follows_a_replaced_held_out_split(
    service, monkeypatch
):
    """A new ``mm.test_df`` is collected again; rows with a null label
    drop out exactly as in Spark's average, and a split with no
    labelled row is a ``ValueError`` on both paths."""
    from pyspark.sql import functions as F

    from big_data_lab_three_spark.ml.models import score

    if "d_tree" not in service.mm.models:
        service.train("d_tree", save_model=False)
    model = service.mm.models["d_tree"]
    full = service.predict("smoke", "d_tree")["test_score"]
    holed = service.mm.test_df.withColumn(
        "label", F.when(F.col("l_quantity") > 25, F.col("label"))
    )
    monkeypatch.setattr(service.mm, "test_df", holed)
    smoke = service.predict("smoke", "d_tree")["test_score"]
    assert smoke == score(model, holed) and smoke != full

    unlabelled = holed.withColumn("label", F.lit(None).cast("int"))
    monkeypatch.setattr(service.mm, "test_df", unlabelled)
    with pytest.raises(ValueError, match="no labelled rows"):
        service.predict("smoke", "d_tree")
    with pytest.raises(ValueError, match="no labelled rows"):
        score(model, unlabelled)


def test_compiled_smoke_never_reaches_spark(service):
    """Once the held-out split is collected and a model is compiled, its
    smokes run no Spark job."""
    for model_type in VALID_MODELS:
        if model_type not in service.mm.models:
            service.train(model_type, save_model=False)
        service.predict("smoke", model_type)

    with _no_spark_jobs(service.spark.sparkContext, "compiled-smoke"):
        for model_type in VALID_MODELS:
            out = service.predict("smoke", model_type)
            assert 0.0 <= out["test_score"] <= 1.0


def test_accuracy_drops_null_labels_and_rejects_an_unlabelled_split():
    """``avg(cast(prediction = label AS double))`` in NumPy: a null label
    leaves numerator and denominator, a NaN label is a miss, and no
    labelled row is an error, never NaN."""
    import numpy as np
    import pyarrow as pa

    from big_data_lab_three_spark.ml.local import accuracy

    def labels(*values):
        return pa.array(values, type=pa.float64())

    assert accuracy(np.array([1, 1, 1]), labels(1, None, 0)) == 0.5
    assert accuracy(np.array([0, 1]), labels(float("nan"), 1)) == 0.5
    chunks = pa.chunked_array([[1.0, None], [0.0, 1.0]], type=pa.float64())
    assert accuracy(np.array([1, 0, 0, 1]), chunks) == 1.0
    for empty in (labels(), labels(None, None)):
        with pytest.raises(ValueError, match="no labelled rows"):
            accuracy(np.ones(len(empty), dtype=np.int64), empty)


def _write_fixture(path, rows=8):
    """A func-mode fixture in the reference shape (FIXTURES.md §2):
    lineitem-feature X records (one with a missing key, one with +inf)
    positionally aligned with y State records."""
    xs, ys = [], []
    for i in range(rows):
        x = {
            "l_quantity": float(5 + i * 7),
            "l_extendedprice": 1000.0 + 11000.0 * i,
            "l_discount": 0.01 * (i % 10),
            "l_tax": 0.02,
        }
        if i == 1:
            del x["l_tax"]  # missing key → NULL fill via conform
        if i == 2:
            x["l_discount"] = float("inf")  # ±inf → NULL (P4)
        xs.append(x)
        ys.append({"State": i % 2})
    with open(path, "w") as f:
        json.dump({"X": xs, "y": ys}, f)


def test_predict_func_mode_writes_experiment_records(
    spark, tmp_path, monkeypatch, capsys
):
    """V3 func + S9 (reference src/predict.py:127-169): fixture replay
    through json-normalize → conform → score, one experiment dir per
    fixture with exp_config.yaml + log copy + model copy."""
    import yaml

    from big_data_lab_three_spark import cli

    monkeypatch.chdir(tmp_path)
    monkeypatch.setenv("ARTIFACT_DIR", str(tmp_path / "experiments"))
    monkeypatch.setenv("LOG_FILE", str(tmp_path / "logfile.log"))
    fx = tmp_path / "unit_tests"
    fx.mkdir()
    _write_fixture(fx / "test_a.json")
    _write_fixture(fx / "test_b.json", rows=5)

    rc = cli.main(
        ["--config", str(tmp_path / "c.ini"), "predict", "-m", "D_TREE",
         "-t", "func", "--fixtures-dir", str(fx)]
    )
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["mode"] == "func"
    assert sorted(out["fixture_scores"]) == ["test_a.json", "test_b.json"]
    assert all(0.0 <= s <= 1.0 for s in out["fixture_scores"].values())
    assert len(out["experiment_dirs"]) == 2

    for exp_dir, fixture in zip(
        sorted(out["experiment_dirs"]), ["test_a.json", "test_b.json"]
    ):
        assert os.path.basename(exp_dir).startswith("exp_test_a") or \
            os.path.basename(exp_dir).startswith("exp_test_b")
        with open(os.path.join(exp_dir, "exp_config.yaml")) as f:
            rec = yaml.safe_load(f)
        # reference record keys (src/predict.py:147-154)
        assert rec["model"] == "d_tree" and rec["tests"] == "func"
        assert rec["X_test_path"] == rec["y_test_path"] == fixture
        assert 0.0 <= float(rec["score"]) <= 1.0
        assert isinstance(rec["model_params"], dict)
        # log + model artifact copies (src/predict.py:161-169)
        assert os.path.isfile(os.path.join(exp_dir, "exp_logfile.log"))
        assert os.path.isdir(os.path.join(exp_dir, "exp_d_tree.sparkml"))


def test_func_mode_missing_fixtures_dir_fails_cleanly(
    tmp_path, monkeypatch, capsys
):
    from big_data_lab_three_spark import cli

    monkeypatch.chdir(tmp_path)
    # absolute: the JVM resolves relative save paths against ITS startup
    # cwd, not the monkeypatched Python cwd
    monkeypatch.setenv("ARTIFACT_DIR", str(tmp_path / "experiments"))
    rc = cli.main(
        ["--config", str(tmp_path / "c.ini"), "predict", "-m", "GNB",
         "-t", "func", "--fixtures-dir", str(tmp_path / "nope")]
    )
    assert rc == 1
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert "error" in out


def test_load_func_fixture_alignment_and_conform(spark, tmp_path):
    """Positional X[i]↔y[i] pairing survives the distributed explode;
    missing keys fill NULL; ±inf nullified (src/predict.py:134-138)."""
    from big_data_lab_three_spark.ml.experiment import load_func_fixture

    p = tmp_path / "fx.json"
    _write_fixture(p, rows=6)
    contract = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    df = load_func_fixture(spark, str(p), contract)
    rows = df.collect()
    assert [r["label"] for r in rows] == [float(i % 2) for i in range(6)]
    assert [r["l_quantity"] for r in rows] == [5.0 + 7 * i for i in range(6)]
    assert rows[1]["l_tax"] is None        # missing key → NULL
    assert rows[2]["l_discount"] is None   # +inf → NULL


def test_load_func_fixture_rejects_misaligned_and_empty(spark, tmp_path):
    """Positional pairing is the fixture contract: a length mismatch
    must fail loudly (never silently truncate), and an empty fixture
    must not surface as a NULL score downstream."""
    from big_data_lab_three_spark.ml.experiment import load_func_fixture

    contract = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    bad = tmp_path / "misaligned.json"
    with open(bad, "w") as f:
        json.dump(
            {"X": [{"l_quantity": 1.0}, {"l_quantity": 2.0}],
             "y": [{"State": 1}]},
            f,
        )
    with pytest.raises(ValueError, match="misaligned"):
        load_func_fixture(spark, str(bad), contract)

    empty = tmp_path / "empty.json"
    with open(empty, "w") as f:
        json.dump({"X": [], "y": []}, f)
    with pytest.raises(ValueError, match="empty"):
        load_func_fixture(spark, str(empty), contract)
