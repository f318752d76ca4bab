"""Serving layer — V1/V2 parity (SURVEY.md §2.11), FastAPI + Redis
read-through cache (S5) + working upload scoring (fixing the
reference's dangling ``predict_upload`` endpoint, S10).

Differences from the reference, by design (SURVEY.md §4.3):
- ONE SparkSession and model registry for the process — the reference
  constructs a ``MultiModel``/``Predictor`` per HTTP request
  (``src/app.py:54``), re-reading and re-fitting everything.
- ``upload`` mode actually works: CSV bytes → pandas → score (the
  reference's endpoint 500s because ``predict_upload`` does not exist —
  ``src/app.py:97,120-124``).
- Every model scores driver-local: on first use the fitted pipeline is
  compiled once into a NumPy scorer (``ml/local.py``) with the same
  predictions as ``transform``, so a request never crosses into the
  JVM.  ``smoke`` collects the held-out split once through Arrow (its
  feature columns and label as doubles, so rows × 5 doubles of driver
  memory), keeps it while ``mm.test_df`` is the same frame, and takes
  the accuracy in NumPy (``ml.local.accuracy``, the figure Spark's
  ``score`` gives).
- Upload input is checked before scoring: a header-only CSV scores
  zero rows, and a non-numeric feature column is a ``ValueError``
  (HTTP 400), never coerced.
- The cache key names the model, and a retrain drops that model's
  cached smoke score.  Uploads neither read nor write the cache.

FastAPI/redis are optional imports (not baked into every container);
``create_app`` raises a clear error if FastAPI is missing, and caching
degrades to a no-op without Redis — mirroring the reference's graceful
degradation.
"""

from __future__ import annotations

import io
import json
import weakref

import pandas as pd
from pyspark.sql import functions as F

from big_data_lab_three_spark.catalog import Catalog
from big_data_lab_three_spark.logger import get_logger
from big_data_lab_three_spark.ml import MultiModel
from big_data_lab_three_spark.ml.local import accuracy, compile_scorer
from big_data_lab_three_spark.session import get_spark
from big_data_lab_three_spark.sources.sinks import redis_client

log = get_logger(__name__)

VALID_MODELS = ("d_tree", "rand_forest", "log_reg", "gnb")


class _Cache:
    """S5 — Redis read-through cache on ``predict:{mode}:{model}`` keys
    (reference ``src/app.py:98-115``); silently disabled without a
    reachable Redis."""

    def __init__(self) -> None:
        self.conn = redis_client()
        if self.conn is not None:
            try:
                self.conn.ping()
            except Exception:  # noqa: BLE001
                self.conn = None

    def get(self, key: str):
        if self.conn is None:
            return None
        raw = self.conn.get(key)
        return json.loads(raw) if raw else None

    def set(self, key: str, value: dict) -> None:
        if self.conn is not None:
            self.conn.set(key, json.dumps(value))

    def delete(self, key: str) -> None:
        if self.conn is not None:
            self.conn.delete(key)


class Service:
    """Framework-free core so the API logic is testable without
    FastAPI: ``train`` and ``predict`` implement V1/V2 semantics."""

    def __init__(self, sf_dir: str = "/root/testdata/sf0.001") -> None:
        self.spark = get_spark("serve")
        self.catalog = Catalog()
        self.cache = _Cache()
        from big_data_lab_three_spark.cli import _labeled_testdata

        df, feats = _labeled_testdata(self.spark, sf_dir)
        train, test = df.randomSplit([0.7, 0.3], seed=42)
        self.feature_cols = feats
        self.mm = MultiModel(
            self.spark, train, test, feats, catalog=self.catalog
        )
        # fitted model → its compiled scorer; a retrain puts a new model
        # object in ``mm.models``, so the old entry drops with the old model
        self._scorers = weakref.WeakKeyDictionary()
        # (test frame, its features as pandas, its labels as Arrow),
        # collected on the first compiled smoke
        self._held_out_split = None

    def train(
        self,
        model_type: str = "d_tree",
        save_model: bool = True,
        params: dict | None = None,
        predict_flag: bool = False,
    ) -> dict:
        """V1 — POST /train/ behavior: unknown type → ValueError
        (mapped to 400), result dict matches the reference's
        ``{model_trained, model_type, model_saved}``."""
        if model_type not in VALID_MODELS:
            raise ValueError(f"unknown model type: {model_type}")
        ok = self.mm.train(model_type, params or {}, save=save_model)
        self.cache.delete(f"predict:smoke:{model_type}")
        result = {
            "model_trained": ok,
            "model_type": model_type,
            "model_saved": bool(save_model and ok),
        }
        if predict_flag:
            result["test_score"] = self._smoke(model_type)["test_score"]
        return result

    def predict(
        self,
        mode: str = "smoke",
        model_type: str = "d_tree",
        file_contents: bytes | None = None,
    ) -> dict:
        """V2 — POST /predict/: read-through cache; smoke scores the
        held-out split, upload scores caller-supplied CSV bytes."""
        if mode == "upload":
            if file_contents is None:
                raise ValueError("upload mode requires file contents")
            if model_type not in self.mm.models:
                self.mm.train(model_type, save=False)
            return {
                "from_cache": False,
                **self._predict_upload(model_type, file_contents),
            }
        if mode != "smoke":
            raise ValueError(f"unknown mode: {mode}")

        cache_key = f"predict:{mode}:{model_type}"
        cached = self.cache.get(cache_key)
        if cached is not None:
            return {"from_cache": True, **cached}
        if model_type not in self.mm.models:
            self.mm.train(model_type, save=False)
        result = self._smoke(model_type)
        self.cache.set(cache_key, result)
        return {"from_cache": False, **result}

    def _scorer(self, model):
        """The fitted model's compiled scorer, compiled on first use."""
        if model not in self._scorers:
            self._scorers[model] = compile_scorer(model)
        return self._scorers[model]

    def _smoke(self, model_type: str) -> dict:
        """Accuracy of the compiled scorer on the collected held-out
        split."""
        scorer = self._scorer(self.mm.models[model_type])
        features, labels = self._held_out()
        return {
            "model": model_type,
            "mode": "smoke",
            "test_score": accuracy(scorer.predict(features), labels),
        }

    def _held_out(self):
        """The held-out split's feature columns (pandas) and labels
        (Arrow, so a null label stays apart from NaN), both as doubles
        the way ``score`` casts them; collected again only when
        ``mm.test_df`` is another frame."""
        test_df = self.mm.test_df
        cached = self._held_out_split
        if cached is None or cached[0] is not test_df:
            label = "__label"
            table = test_df.select(
                *[F.col(c).cast("double").alias(c) for c in self.feature_cols],
                F.col("label").cast("double").alias(label),
            ).toArrow()
            self._held_out_split = (
                test_df,
                table.drop_columns([label]).to_pandas(),
                table.column(label),
            )
        return self._held_out_split[1:]

    def _predict_upload(self, model_type: str, file_contents: bytes) -> dict:
        """S10 fixed: CSV bytes → pandas → the compiled scorer, which
        treats an absent feature column as missing and ignores extras."""
        pdf = self._read_upload(file_contents)
        preds = self._scorer(self.mm.models[model_type]).predict(pdf).tolist()
        return {
            "model": model_type,
            "mode": "upload",
            "n_rows": len(preds),
            "predictions": preds,
        }

    def _read_upload(self, file_contents: bytes) -> pd.DataFrame:
        """Parse upload CSV bytes; a feature column must be numeric
        (empty cells and ±inf are fine): coercing it would impute over
        the caller's data."""
        pdf = pd.read_csv(io.BytesIO(file_contents))
        if pdf.empty:
            return pdf
        for c in self.feature_cols:
            if c in pdf.columns and (
                not pd.api.types.is_numeric_dtype(pdf[c])
                or pd.api.types.is_bool_dtype(pdf[c])
            ):
                raise ValueError(f"upload column {c!r} is not numeric")
        return pdf


def create_app(sf_dir: str = "/root/testdata/sf0.001"):
    """Build the FastAPI app (import-gated: raises ImportError with a
    clear message when FastAPI isn't installed)."""
    from fastapi import FastAPI, HTTPException, UploadFile

    app = FastAPI(title="big_data_lab_three_spark")
    service = Service(sf_dir)

    @app.post("/train/")
    def train(
        model_type: str = "d_tree",
        save_model: bool = True,
        predict_flag: bool = False,
    ):
        try:
            return service.train(
                model_type, save_model, predict_flag=predict_flag
            )
        except ValueError as e:
            raise HTTPException(status_code=400, detail=str(e)) from e
        except Exception as e:  # noqa: BLE001
            raise HTTPException(status_code=500, detail=str(e)) from e

    @app.post("/predict/")
    async def predict(mode: str = "smoke", file: UploadFile | None = None):
        try:
            contents = await file.read() if file is not None else None
            return service.predict(mode, file_contents=contents)
        except ValueError as e:
            raise HTTPException(status_code=400, detail=str(e)) from e
        except Exception as e:  # noqa: BLE001
            raise HTTPException(status_code=500, detail=str(e)) from e

    return app
