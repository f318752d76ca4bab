"""V3 ``func`` mode + S9 experiment sink (SURVEY.md §2.1 S9, §2.11 V3).

The reference's ``predict.py -t func`` (``src/predict.py:127-169``)
replays JSON fixtures through the serving path and records each run:

1. load ``{"X": [...], "y": [...]}`` from every ``*.json`` under a
   fixtures dir (``:130-135`` — ``pd.json_normalize(record_path=['X'])``
   / ``['y']``, positionally aligned);
2. ``±inf → NaN`` (``:136``), reindex to the trained feature contract
   with NULL fill (``:138``), transform + score (``:139-141``);
3. write a per-fixture experiment dir ``exp_{test[:6]}_{timestamp}``
   containing ``exp_config.yaml`` (model, model_params, tests, score,
   fixture paths — insertion order preserved, ``:146-160``), a copy of
   the log file as ``exp_logfile.log`` (``:161-165``, tolerated if
   missing), and a copy of the model artifact (``:166-169``).

Spark-first mapping: the fixture read is ``spark.read.json`` (multiline
object, non-numeric numbers allowed) followed by ``posexplode`` on both
record arrays and a positional broadcast join — the distributed analogue
of ``json_normalize``'s positional alignment that also works when a
fixture is too large to assemble on the driver.  Conform/±inf reuse the
P4/P6 operators, so the scoring plan is one Project + the model's own
pipeline.  The experiment record itself is driver-side metadata
(kilobytes), exactly like the reference.
"""

from __future__ import annotations

import os
import shutil
from datetime import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from big_data_lab_three_spark.logger import get_logger, log_file_path
from big_data_lab_three_spark.operators.relational import nullify_nonfinite
from big_data_lab_three_spark.schemas import conform

log = get_logger(__name__)


def load_func_fixture(
    spark: SparkSession, path: str, contract: list[str]
) -> DataFrame:
    """One fixture file → a frame with the contract columns + ``label``.

    ``X[i]`` pairs with ``y[i]`` (reference positional alignment,
    ``src/predict.py:134-135``): both arrays are ``posexplode``-d and
    joined on position.  Fixtures are request-sized, so the join is a
    broadcast; the plan stays a single narrow stage.
    """
    from pyspark.sql.types import ArrayType, StructType

    raw = (
        spark.read.option("multiLine", "true")
        .option("allowNonNumericNumbers", "true")
        .json(path)
    )
    if "_corrupt_record" in raw.columns:
        raise ValueError(f"fixture {path!r} is not valid JSON")
    if "X" not in raw.columns or "y" not in raw.columns:
        raise ValueError(f"fixture {path!r} lacks X/y record arrays")
    # Validate element shapes BEFORE posexplode: scalar/array elements
    # would otherwise surface as AnalysisException/AttributeError deep in
    # the plan instead of the documented ValueError contract.
    for field in ("X", "y"):
        dt = raw.schema[field].dataType
        if not (
            isinstance(dt, ArrayType)
            and isinstance(dt.elementType, StructType)
        ):
            raise ValueError(
                f"fixture {path!r}: {field} must be an array of JSON "
                f"objects, got {dt.simpleString()}"
            )
    sizes = raw.select(
        F.size("X").alias("nx"), F.size("y").alias("ny")
    ).first()
    # positional X[i]↔y[i] pairing is the fixture's contract — a length
    # mismatch must fail loudly (pandas json_normalize + score would),
    # never silently truncate to the intersection; empty fixtures score
    # nothing and would surface as a NULL accuracy downstream
    if sizes["nx"] != sizes["ny"]:
        raise ValueError(
            f"fixture {path!r} misaligned: len(X)={sizes['nx']} != "
            f"len(y)={sizes['ny']}"
        )
    if sizes["nx"] == 0:
        raise ValueError(f"fixture {path!r} is empty")
    xs = raw.select(F.posexplode("X").alias("pos", "x")).select("pos", "x.*")
    # ±inf/NaN → NULL BEFORE conforming (reference :136 precedes :138)
    xs = conform(
        nullify_nonfinite(xs, [c for c in xs.columns if c != "pos"]),
        ["pos", *contract],
    )
    ys = raw.select(F.posexplode("y").alias("pos", "yrec"))
    y_fields = ys.schema["yrec"].dataType.names
    # spark.read.json orders struct fields lexicographically, so "first
    # field" on a multi-field record would silently pick the
    # alphabetically-first key, not the intended label — require exactly
    # one (the fixtures' contract: a single label key, e.g. "State")
    if len(y_fields) != 1:
        raise ValueError(
            f"fixture {path!r}: y records must carry exactly one label "
            f"field, got {y_fields}"
        )
    label_field = y_fields[0]
    ys = ys.select(
        "pos", F.col(f"yrec.{label_field}").cast("double").alias("label")
    )
    return (
        xs.join(F.broadcast(ys), "pos", "inner")
        .orderBy("pos")
        .drop("pos")
    )


def write_experiment_record(
    exp_root: str,
    fixture_name: str,
    model_type: str,
    model_params: dict,
    score: float,
    model_artifact_path: str | None = None,
) -> str:
    """S9 — per-run experiment dir (reference ``src/predict.py:146-169``).

    Contents match the reference record key-for-key (``exp_config.yaml``
    with insertion-ordered keys, the copied log as ``exp_logfile.log``,
    the copied model artifact); the model copy is a ``.sparkml``
    directory tree instead of a pickle (documented delta, SURVEY §4.3).
    """
    import yaml

    stamp = datetime.now().strftime("%Y_%m_%d_%H_%M_%S")
    # reference naming (test[:6] + second-granularity stamp) collides for
    # fixtures sharing a 6-char prefix scored in the same second — the
    # reference silently overwrites; uniquify with a suffix instead
    base_dir = os.path.join(exp_root, f"exp_{fixture_name[:6]}_{stamp}")
    exp_dir, n = base_dir, 0
    while True:
        try:
            os.makedirs(exp_dir, exist_ok=False)
            break
        except FileExistsError:
            n += 1
            exp_dir = f"{base_dir}_{n}"

    exp_data = {
        "model": model_type,
        "model_params": {str(k): str(v) for k, v in (model_params or {}).items()},
        "tests": "func",
        "score": str(score),
        "X_test_path": fixture_name,
        "y_test_path": fixture_name,
    }
    with open(os.path.join(exp_dir, "exp_config.yaml"), "w") as f:
        yaml.safe_dump(exp_data, f, sort_keys=False)

    try:
        shutil.copy(log_file_path(), os.path.join(exp_dir, "exp_logfile.log"))
    except OSError:
        log.warning("could not copy log file to experiment dir")
    if model_artifact_path:
        dest = os.path.join(
            exp_dir, f"exp_{model_type}{os.path.splitext(model_artifact_path)[1] or '.sparkml'}"
        )
        try:
            if os.path.isdir(model_artifact_path):
                shutil.copytree(model_artifact_path, dest, dirs_exist_ok=True)
            else:
                shutil.copy(model_artifact_path, dest)
        except OSError:
            log.warning("could not copy model artifact to experiment dir")
    return exp_dir


def run_func_fixtures(
    spark: SparkSession,
    model,
    model_type: str,
    contract: list[str],
    fixtures_dir: str,
    exp_root: str,
    model_params: dict | None = None,
    model_artifact_path: str | None = None,
) -> list[dict]:
    """Replay every ``*.json`` fixture through the model and write one
    experiment record per fixture (the reference loop,
    ``src/predict.py:130-169``).  Returns per-fixture result dicts.
    """
    from big_data_lab_three_spark.ml.models import score

    if not os.path.isdir(fixtures_dir):
        raise FileNotFoundError(f"fixtures dir not found: {fixtures_dir}")
    results: list[dict] = []
    for name in sorted(os.listdir(fixtures_dir)):
        if not name.endswith(".json"):
            continue
        df = load_func_fixture(
            spark, os.path.join(fixtures_dir, name), contract
        )
        acc = score(model, df)
        log.info("%s has %s score on %s", model_type, acc, name)
        exp_dir = write_experiment_record(
            exp_root, name, model_type, model_params or {}, acc,
            model_artifact_path,
        )
        results.append(
            {"fixture": name, "score": acc, "experiment_dir": exp_dir}
        )
    return results
