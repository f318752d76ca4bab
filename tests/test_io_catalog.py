"""Sinks, catalog, logger — the reference's infra surface (S2/S4/S6/S8/V5)."""

from __future__ import annotations

import json
import os

from big_data_lab_three_spark.catalog import Catalog, resolve_artifact_dir
from big_data_lab_three_spark.logger import clear_log_file, get_logger
from big_data_lab_three_spark.sources import table
from big_data_lab_three_spark.sources.sinks import (
    write_predictions_fallback_json,
    write_predictions_redis,
)


def test_redis_sink_degrades_to_json_fallback(spark, sf_dir, tmp_path):
    """No redis server in this container → the sink must fall back to the
    local JSON payload exactly like reference src/predict.py:248-262."""
    df = (
        table(spark, sf_dir, "orders")
        .limit(10)
        .selectExpr("CAST(o_orderkey % 2 AS INT) AS prediction")
    )
    fallback = str(tmp_path / "preds.json")
    status = write_predictions_redis(df, fallback_path=fallback)
    assert status["sink"] == "json"
    assert status["count"] == 10
    payload = json.loads(open(fallback).read())
    assert set(payload) == {"predictions", "created_at"}
    assert all(p in (0, 1) for p in payload["predictions"])


def test_fallback_payload_shape(tmp_path):
    p = write_predictions_fallback_json([1, 0, 1], str(tmp_path / "f.json"))
    payload = json.loads(open(p).read())
    assert payload["predictions"] == [1, 0, 1]


def test_catalog_write_back_roundtrip(tmp_path):
    path = str(tmp_path / "config.ini")
    cat = Catalog(path)
    cat.set_section("PREPROCESSED_DATA", {"train_x": "/data/tx.csv"})
    cat.set_section("D_TREE", {"max_depth": 10, "path": "/m/dt.bin"})
    # re-read from disk like a fresh process
    cat2 = Catalog(path)
    assert cat2.get("PREPROCESSED_DATA", "train_x") == "/data/tx.csv"
    assert cat2.get("D_TREE", "max_depth") == "10"
    assert "D_TREE" in cat2.sections()


def test_resolve_artifact_dir_env_override(tmp_path, monkeypatch):
    target = str(tmp_path / "artifacts")
    monkeypatch.setenv("ARTIFACT_DIR", target)
    assert resolve_artifact_dir() == target
    assert os.path.isdir(target)


def test_logger_writes_file(tmp_path, monkeypatch):
    monkeypatch.setenv("LOG_FILE", str(tmp_path / "log.txt"))
    log = get_logger("test_mod_xyz")
    log.info("hello-sink")
    content = open(tmp_path / "log.txt").read()
    assert "hello-sink" in content
    clear_log_file()
    assert open(tmp_path / "log.txt").read() == ""


def test_sql_front_door_matches_dataframe_api(spark, sf_dir):
    """spark.sql over registered views must equal the DataFrame form —
    Catalyst sees through temp views, same plan, same answer."""
    from big_data_lab_three_spark.sources import sql, table
    from pyspark.sql import functions as F

    got = sql(
        spark,
        sf_dir,
        """
        SELECT l_returnflag, round(sum(l_quantity), 2) AS sum_qty
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
        """,
    ).collect()
    want = (
        table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
        .orderBy("l_returnflag")
        .collect()
    )
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_table_plan_cache_follows_a_rewritten_table(spark, tmp_path):
    """The cached plan of a table fixes its file listing, so a table
    rewritten in place must get a fresh plan, not the old rows."""
    path = str(tmp_path / "orders.parquet")
    rows = lambda n: spark.createDataFrame(  # noqa: E731
        [(i,) for i in range(n)], "o_orderkey long"
    )
    rows(3).write.parquet(path)
    assert table(spark, str(tmp_path), "orders").count() == 3
    rows(5).write.mode("overwrite").parquet(path)
    assert table(spark, str(tmp_path), "orders").count() == 5


def test_plan_caches_drop_stopped_sessions(spark, tmp_path):
    """A cache miss drops the entries of sessions whose SparkContext
    has stopped, in both the table-plan and the probed-schema cache;
    the live session's entries stay."""
    from types import SimpleNamespace

    from big_data_lab_three_spark.sources import readers

    class StoppedSession:
        sparkContext = SimpleNamespace(_jsc=None)

    stopped = StoppedSession()
    readers._TABLE_CACHE[(stopped, "", "orders", True)] = ((), None)
    readers._SCHEMA_CACHE[(stopped, "")] = ((), None)
    path = str(tmp_path / "orders.parquet")
    spark.createDataFrame([(1,)], "o_orderkey long").write.parquet(path)
    table(spark, str(tmp_path), "orders")
    readers.probe_schema(spark, path)
    for cache in (readers._TABLE_CACHE, readers._SCHEMA_CACHE):
        sessions = {key[0] for key in cache}
        assert stopped not in sessions
        assert spark in sessions


def test_round_trip_scratch_dir_is_removed_at_exit(tmp_path):
    """The per-process scratch dir of the round-trip queries is gone once
    the process that made it exits."""
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = (
        "import os\n"
        "from big_data_lab_three_spark.queries.io import _scratch\n"
        "path = _scratch('x')\n"
        "open(path, 'w').close()\n"
        "print(os.path.dirname(path))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=root, check=True,
        capture_output=True, text=True,
        env={**os.environ, "TMPDIR": str(tmp_path), "PYTHONPATH": root},
    )
    scratch = out.stdout.strip().splitlines()[-1]
    assert os.path.basename(scratch).startswith("spark_graft_io_")
    assert os.path.dirname(scratch) == str(tmp_path)
    assert not os.path.exists(scratch)
