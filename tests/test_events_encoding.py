"""The driver has shipped ``events.parquet`` with BOTH timestamp
encodings — TIMESTAMP(NANOS) (arrives as LongType under nanosAsLong)
and TIMESTAMP(MICROS) (arrives as a timestamp column).  Round 1's worst
regression was code paths silently disagreeing on the unit after a
format flip (1000× collapsed windows, wrong SCD2 lifetimes).  These
fixtures pin the contract for BOTH encodings on BOTH the batch and the
streaming path so a future flip fails here, not in the driver bench.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from big_data_lab_three_spark.sources.readers import table
from big_data_lab_three_spark.streaming.jobs import events_stream

# epoch micros spanning several hours, sub-second offsets included
_US = [
    1_700_000_000_000_000,
    1_700_000_000_123_456,
    1_700_003_600_000_001,
    1_700_007_200_999_999,
    1_700_010_800_500_000,
]


def _write_events(dirname: str, unit: str) -> str:
    os.makedirs(dirname, exist_ok=True)
    scale = {"us": 1, "ns": 1000}[unit]
    t = pa.table(
        {
            "event_id": pa.array(range(len(_US)), pa.int64()),
            "ts": pa.array([u * scale for u in _US], pa.timestamp(unit)),
            "user_id": pa.array([1, 1, 2, 2, 1], pa.int64()),
            "event_type": pa.array(["a", "b", "a", "b", "a"]),
            "value": pa.array([1.0, 2.0, 3.0, 4.0, 5.0], pa.float64()),
            "props": pa.array(["{}"] * len(_US)),
        }
    )
    path = os.path.join(dirname, "events.parquet")
    pq.write_table(t, path, version="2.6")
    return dirname


@pytest.fixture(scope="module", params=["us", "ns"])
def enc_dir(request, tmp_path_factory):
    d = tmp_path_factory.mktemp(f"events_{request.param}")
    return _write_events(str(d), request.param)


def test_batch_table_normalizes_ts_to_epoch_nanos(spark, enc_dir):
    df = table(spark, enc_dir, "events")
    assert dict(df.dtypes)["ts"] == "bigint"
    got = sorted(r.ts for r in df.select("ts").collect())
    assert got == sorted(u * 1000 for u in _US)


def _assert_stream_contract(spark, enc_dir, name):
    from pyspark.sql import functions as F

    from big_data_lab_three_spark.streaming.jobs import run_stream_to_table

    stream = events_stream(
        spark,
        enc_dir,
        probe_path=os.path.join(enc_dir, "events.parquet"),
        pathGlobFilter="events.parquet",
    )
    assert dict(stream.dtypes)["ts"] == "bigint"
    assert dict(stream.dtypes)["ts_utc"] == "timestamp"
    out = run_stream_to_table(
        spark,
        stream.select("event_id", "ts", F.unix_micros("ts_utc").alias("us")),
        name,
        output_mode="append",
    )
    rows = {(r.event_id, r.ts, r.us) for r in out.collect()}
    assert rows == {
        (i, u * 1000, u) for i, u in enumerate(_US)
    }, "stream ts/ts_utc must be exact epoch nanos/micros for any encoding"


def test_stream_matches_batch_contract(spark, enc_dir):
    _assert_stream_contract(spark, enc_dir, "enc_contract")


def test_stream_schema_probe_runs_once_per_file_version(spark, tmp_path):
    """A stream over an unchanged file reuses its probed schema (no
    Spark job), and a file rewritten in the other encoding is probed
    again rather than read with the stale ``ts`` type."""
    from big_data_lab_three_spark.streaming.jobs import read_events_stream

    d = _write_events(str(tmp_path), "ns")
    read_events_stream(spark, d)
    sc = spark.sparkContext
    sc.setJobGroup("schema-probe", "schema-probe")
    try:
        read_events_stream(spark, d)
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert sc.statusTracker().getJobIdsForGroup("schema-probe") == []

    _write_events(d, "us")
    _assert_stream_contract(spark, d, "enc_reprobed")


# ---------------------------------------------------------------------------
# Query-level insurance: the ts-heavy queries must match their oracles on a
# nanos-RE-ENCODED copy of the test data (the driver has flipped encodings
# between rounds before; tools/verify_local.py confirmed all 106 pass — this
# pins the ts-sensitive subset in CI).
# ---------------------------------------------------------------------------

_TS_SENSITIVE = [
    "scd2_intervals",
    "latest_snapshot",
    "asof_join_events",
    "sessionize_batch",
    "streaming_window_counts",
    "retention_cohorts",
    "lttb_downsample",
]


@pytest.fixture(scope="module")
def ns_sf_dir(tmp_path_factory, sf_dir):
    import shutil

    d = str(tmp_path_factory.mktemp("testdata_ns"))
    for f in os.listdir(sf_dir):
        if not f.endswith(".parquet"):
            continue
        s, dest = os.path.join(sf_dir, f), os.path.join(d, f)
        if f == "events.parquet":
            t = pq.read_table(s)
            i = t.schema.get_field_index("ts")
            t = t.set_column(i, "ts", t["ts"].cast(pa.timestamp("ns")))
            pq.write_table(t, dest, version="2.6")
        else:
            shutil.copy(s, dest)
    return d


@pytest.mark.parametrize("qname", _TS_SENSITIVE)
def test_ts_queries_match_oracle_on_nanos_encoding(spark, ns_sf_dir, qname):
    import duckdb

    from big_data_lab_three_spark.oracle_compare import (
        compare,
        register_oracle_views,
    )
    from big_data_lab_three_spark.queries import load_all

    q = load_all()[qname]
    con = duckdb.connect()
    register_oracle_views(con, ns_sf_dir)
    try:
        problems, n = compare(q.spark(spark, ns_sf_dir), con.execute(q.oracle))
    finally:
        spark.catalog.clearCache()
    assert not problems, f"{qname} on ns-encoded events: " + "; ".join(problems)
    assert n > 0


def test_lttb_keeps_endpoints_and_monotone_x(spark, sf_dir):
    """LTTB contract: exactly 8 picks per user, pick 1 / pick 8 are the
    series endpoints (x-offset 0 and the per-user max), and selected
    x-offsets are strictly increasing — bucket selection can never
    reorder time."""
    from big_data_lab_three_spark.queries import load_all

    rows = load_all()["lttb_downsample"].spark(spark, sf_dir).collect()
    by_user: dict = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r)
    assert by_user
    for picks in by_user.values():
        picks.sort(key=lambda r: r.pick)
        assert [r.pick for r in picks] == list(range(1, 9))
        xs = [r.x_us for r in picks]
        assert xs[0] == 0
        assert xs == sorted(xs) and len(set(xs)) == 8
