"""Streaming semantics the single-batch oracle replay can't prove:
state carry-over across microbatches, watermark late-data dropping,
checkpoint recovery, and which batches a drain runs.

The batch-boundary tests re-shard ``events.parquet`` into two
chronological files in a tmpdir and stream them with
``maxFilesPerTrigger=1`` so the engine runs two data microbatches, plus
the trailing no-data batch when the plan can emit on it (sessionize and
the append-mode windowed aggregate can; the inner interval join cannot,
so its drain stops after the data)."""

from __future__ import annotations

import os

import threading

import duckdb
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest
from pyspark import SparkContext
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

from big_data_lab_three_spark.oracle_compare import (
    compare,
    register_oracle_views,
)
from big_data_lab_three_spark.queries import load_all
from big_data_lab_three_spark.streaming import (
    dedup_within_watermark,
    interval_join_attribution,
    read_events_stream,
    run_stream_to_table,
    sessionize,
    windowed_event_counts,
)
from big_data_lab_three_spark.streaming.jobs import (
    _emits_only_on_data,
    events_stream,
)

REG = load_all()


def _shard_dir(tmp_path, sf_dir, first_mask):
    """events.parquet split into two files (first_mask rows, then the
    rest) in one directory, mtimes forced apart so the file source
    drains them in order.  pyarrow round-trip keeps the driver file's
    timestamp encoding (nanos or micros) — events_stream handles both."""
    t = pq.read_table(f"{sf_dir}/events.parquet")
    mask = first_mask(t)
    d = str(tmp_path / "stream_src")
    os.makedirs(d)
    f1, f2 = f"{d}/events1.parquet", f"{d}/events2.parquet"
    pq.write_table(t.filter(mask), f1, version="2.6")
    pq.write_table(t.filter(pc.invert(mask)), f2, version="2.6")
    os.utime(f1, (1_000_000, 1_000_000))
    os.utime(f2, (2_000_000, 2_000_000))
    return d, t


def _stream(spark, d):
    return events_stream(
        spark, d, maxFilesPerTrigger="1", latestFirst="false"
    )


def test_sessionize_state_survives_batch_boundary(spark, sf_dir, tmp_path):
    d, t = _shard_dir(
        tmp_path,
        sf_dir,
        lambda t: pc.less_equal(
            t["ts"].cast("int64"),
            int(pc.quantile(t["ts"].cast("int64"), q=0.5)[0].as_py()),
        ),
    )
    result = run_stream_to_table(
        spark,
        sessionize(_stream(spark, d), gap_minutes=720),
        "sess_multibatch",
        output_mode="append",
    )
    cols = ("user_id", "session_id", "n_events", "start_us", "end_us")
    multi = {tuple(r) for r in result.select(*cols).collect()}
    single = {
        tuple(r)
        for r in REG["streaming_sessionize"]
        .spark(spark, sf_dir)
        .select(*cols)
        .collect()
    }
    # chronological sharding ⇒ no late data ⇒ sessions crossing the
    # batch boundary merge through state ⇒ identical output
    assert multi == single
    assert len(multi) > 0


def test_watermark_finalizes_windows_append_mode(spark, sf_dir, tmp_path):
    """Append mode emits a window exactly once its end passes the final
    watermark (max event time − 2 h): trailing windows are withheld.

    Measured Spark 4.1 behavior worth pinning: late rows arriving AFTER
    the watermark passed their window are still aggregated (fresh state,
    finalized at batch end) rather than dropped —
    ``numRowsDroppedByWatermark`` stays 0 for aggregations — so the
    expected count covers ALL events in finalized windows, both shards.
    """
    # batch 1 = NEWER half (advances the watermark to max−2h);
    # batch 2 = older half, entirely "late" relative to that watermark.
    d, t = _shard_dir(
        tmp_path,
        sf_dir,
        lambda t: pc.greater(
            t["ts"].cast("int64"),
            int(pc.quantile(t["ts"].cast("int64"), q=0.5)[0].as_py()),
        ),
    )
    result = run_stream_to_table(
        spark,
        windowed_event_counts(_stream(spark, d), "1 hour", "2 hours"),
        "win_finalize",
        output_mode="append",  # emits only watermark-finalized windows
    )
    total = result.agg(F.sum("n")).first()[0]
    expected = duckdb.sql(
        f"""
        WITH e AS (SELECT * FROM '{d}/*.parquet'),
        m AS (SELECT (max(epoch_us(ts)) // 1000) * 1000
                     - CAST(2 AS BIGINT) * 3600 * 1000000 AS wm FROM e)
        SELECT count(*) FROM e, m
        WHERE epoch_us(date_trunc('hour', ts))
              + CAST(3600 AS BIGINT) * 1000000 <= wm
        """
    ).fetchall()[0][0]
    assert total == expected
    assert total < t.num_rows  # trailing unfinalized windows withheld


def test_foreach_batch_parquet_sink_matches_memory_sink(spark, sf_dir, tmp_path):
    """The durable foreachBatch parquet sink must produce exactly the
    rows the memory sink sees, and replaying the same drained stream
    (same checkpoint) must NOT duplicate them (idempotent overwrite)."""
    from big_data_lab_three_spark.streaming.jobs import (
        read_events_stream,
        run_stream_foreach_batch_parquet,
        run_stream_to_table,
        windowed_event_counts,
    )

    mem = run_stream_to_table(
        spark,
        windowed_event_counts(read_events_stream(spark, sf_dir)),
        "wc_mem_fb",
    )
    expected = sorted(tuple(r) for r in mem.collect())

    out = str(tmp_path / "wc_parquet")
    ckpt = str(tmp_path / "ckpt")
    got1 = run_stream_foreach_batch_parquet(
        spark,
        windowed_event_counts(read_events_stream(spark, sf_dir)),
        out,
        ckpt,
        output_mode="complete",
    )
    assert sorted(tuple(r) for r in got1.collect()) == expected

    # Re-run with the SAME checkpoint: source offsets are committed, no
    # new batch runs, and the table on disk is unchanged.
    got2 = run_stream_foreach_batch_parquet(
        spark,
        windowed_event_counts(read_events_stream(spark, sf_dir)),
        out,
        ckpt,
        output_mode="complete",
    )
    assert sorted(tuple(r) for r in got2.collect()) == expected


def test_streaming_sessions_agree_with_batch_sessionization(spark, sf_dir):
    """Two independent implementations of the same semantics — the
    stateful streaming operator and the batch lag+running-sum window —
    must agree: every session the streaming engine finalized appears
    verbatim in the batch answer."""
    from big_data_lab_three_spark.queries import load_all

    reg = load_all()
    streamed = {
        (r.user_id, r.n_events, round(r.total_value, 4), r.start_us, r.end_us)
        for r in reg["streaming_sessionize"].spark(spark, sf_dir).collect()
    }
    batch = {
        (r.user_id, r.n_events, round(r.total_value, 4), r.start_us, r.end_us)
        for r in reg["sessionize_batch"].spark(spark, sf_dir).collect()
    }
    assert streamed, "streaming produced no finalized sessions"
    assert streamed <= batch, (
        f"streaming emitted sessions the batch answer lacks: "
        f"{sorted(streamed - batch)[:3]}"
    )


def test_interval_join_state_survives_batch_boundary(spark, sf_dir, tmp_path):
    """Stream-stream join correctness across microbatches: clicks from
    batch 1 must stay buffered in join state so purchases arriving in
    batch 2 still match them.  Chronological sharding ⇒ no late drops ⇒
    the two-batch drain equals the single-batch (= batch oracle) set."""
    from big_data_lab_three_spark.streaming.jobs import (
        interval_join_attribution,
        run_stream_to_table,
    )

    d, t = _shard_dir(
        tmp_path,
        sf_dir,
        lambda t: pc.less_equal(
            t["ts"].cast("int64"),
            int(pc.quantile(t["ts"].cast("int64"), q=0.5)[0].as_py()),
        ),
    )
    cols = ("user_id", "trigger_us", "outcome_us", "outcome_value")
    multi = {
        tuple(r)
        for r in run_stream_to_table(
            spark,
            interval_join_attribution(_stream(spark, d)),
            "ijoin_multibatch",
            output_mode="append",
        )
        .select(*cols)
        .collect()
    }
    single = {
        tuple(r)
        for r in REG["streaming_interval_join"]
        .spark(spark, sf_dir)
        .select(*cols)
        .collect()
    }
    assert len(multi) > 0
    assert multi == single


def test_checkpoint_recovery_restart_with_new_files(spark, sf_dir, tmp_path):
    """Stop/restart-from-checkpoint recovery — the contract the 100 TB
    streaming story leans on, which the batch-boundary tests above do
    NOT cover: phase 1 drains two chronological shards through the
    stateful sessionizer into the durable foreachBatch parquet sink
    (``AvailableNow`` termination = a clean stop), a THIRD shard lands
    AFTER the stop, and a brand-new query object restarts from the SAME
    checkpoint.  Recovery must (a) not replay the committed shards —
    exactly-once, pinned by duplicate-freedom of the appended sink —
    and (b) restore the state store, so sessions spanning the
    stop/restart boundary merge exactly as in an uninterrupted run."""
    from big_data_lab_three_spark.streaming.jobs import (
        run_stream_foreach_batch_parquet,
    )

    t = pq.read_table(f"{sf_dir}/events.parquet")
    ts = t["ts"].cast("int64")
    q1 = int(pc.quantile(ts, q=1 / 3)[0].as_py())
    q2 = int(pc.quantile(ts, q=2 / 3)[0].as_py())
    shards = [
        t.filter(pc.less_equal(ts, q1)),
        t.filter(pc.and_(pc.greater(ts, q1), pc.less_equal(ts, q2))),
        t.filter(pc.greater(ts, q2)),
    ]
    d = str(tmp_path / "stream_src")
    os.makedirs(d)
    paths = [f"{d}/events{i}.parquet" for i in range(3)]
    for i in range(2):
        pq.write_table(shards[i], paths[i], version="2.6")
        os.utime(paths[i], ((i + 1) * 1_000_000,) * 2)

    out = str(tmp_path / "sessions_parquet")
    ckpt = str(tmp_path / "ckpt")
    got1 = run_stream_foreach_batch_parquet(
        spark,
        sessionize(_stream(spark, d), gap_minutes=720),
        out,
        ckpt,
        output_mode="append",
    )
    n_phase1 = got1.count()

    # the stream is stopped; now the third shard lands
    pq.write_table(shards[2], paths[2], version="2.6")
    os.utime(paths[2], (3_000_000,) * 2)

    got2 = run_stream_foreach_batch_parquet(
        spark,
        sessionize(_stream(spark, d), gap_minutes=720),
        out,
        ckpt,
        output_mode="append",
    )
    # Compare session CONTENT — (user, boundaries, count, sum) — not
    # the session_id counter: the stop's trailing no-data batch fires
    # event-time timeouts for every past-due key (correctly: their gap
    # HAS passed, so the emitted boundaries match the uninterrupted
    # run), and `state.remove()` discards the per-user counter with the
    # state, so post-restart sessions renumber from 1.  Stable-across-
    # restart ids would have to be content-derived (e.g. keyed on
    # (user_id, start_us)) instead of a volatile counter — the
    # boundaries below prove exactly that content contract holds.
    cols = ("user_id", "n_events", "total_value", "start_us", "end_us")
    multi = sorted(
        (r.user_id, r.n_events, round(r.total_value, 4), r.start_us, r.end_us)
        for r in got2.select(*cols).collect()
    )
    single = sorted(
        (r.user_id, r.n_events, round(r.total_value, 4), r.start_us, r.end_us)
        for r in REG["streaming_sessionize"]
        .spark(spark, sf_dir)
        .select(*cols)
        .collect()
    )
    # exactly-once: a replayed shard would duplicate its sessions
    # ((user_id, start_us) is unique per true session)
    assert len(multi) == len({(m[0], m[3]) for m in multi})
    # restored state + new shard: identical to the uninterrupted answer
    assert multi == single
    # the restart genuinely processed the new shard (phase 1 alone is
    # incomplete — trailing sessions were still open at the stop)
    assert 0 < n_phase1 < len(multi)


def test_minhash_admission_survives_stop_restart(spark, sf_dir, tmp_path):
    """The admission index (admitted sink + band-key index) must
    continue EXACTLY across a stop/restart: drain shards 0-1
    (AvailableNow = clean stop), land shards 2-3, restart from the same
    checkpoint — the final admitted set must equal the uninterrupted
    4-shard run, and the restart must not re-admit committed shards
    (exactly-once on the sink appends)."""
    from big_data_lab_three_spark.queries.curation import (
        admission_base,
        admitted_table,
        run_admission_stream,
        stage_admission_shards,
    )

    base = admission_base(spark, sf_dir)
    base.persist()

    # phase 1: only the first two shards exist
    r1 = str(tmp_path / "resumed")
    os.makedirs(r1)
    stage_admission_shards(base, r1, range(2))
    run_admission_stream(spark, base.schema, r1)
    phase1 = {
        (r["id"], r["shard"]) for r in admitted_table(spark, r1).collect()
    }

    # stop happened (AvailableNow drained); shards 2-3 land; restart
    stage_admission_shards(base, r1, range(2, 4))
    run_admission_stream(spark, base.schema, r1)
    resumed = sorted(
        (r["id"], r["shard"]) for r in admitted_table(spark, r1).collect()
    )

    # uninterrupted control run
    r2 = str(tmp_path / "oneshot")
    os.makedirs(r2)
    stage_admission_shards(base, r2, range(4))
    run_admission_stream(spark, base.schema, r2)
    oneshot = sorted(
        (r["id"], r["shard"]) for r in admitted_table(spark, r2).collect()
    )

    assert resumed == oneshot
    # no duplicates: a replayed shard would double its admitted rows
    assert len(resumed) == len(set(resumed))
    # the restart genuinely processed the new shards (phase 1 alone is
    # a strict subset)
    assert phase1 < set(resumed)
    base.unpersist()


def test_et_admission_watermark_survives_stop_restart(
    spark, sf_dir, tmp_path
):
    """The event-time variant adds durable WATERMARK state on top of
    the admission index: drain shards 0-1 (AvailableNow = clean stop),
    land shards 2-3, restart from the same checkpoint — admitted AND
    late sets must equal the uninterrupted 4-shard run (a lost
    watermark would under-classify lateness after the restart), and
    the run must actually exercise the late-drop policy."""
    from big_data_lab_three_spark.queries.curation import (
        stage_admission_shards,
    )
    from big_data_lab_three_spark.queries.pipeline import (
        admission_et_base,
        run_admission_stream_et,
    )

    def read_pairs(root, sub):
        p = os.path.join(root, sub)
        if not os.path.isdir(p):
            return set()
        return {
            (r["id"], r["shard"])
            for r in spark.read.parquet(p).select("id", "shard").collect()
        }

    base = admission_et_base(spark, sf_dir)
    base.persist()

    # phase 1: only the first two shards exist
    r1 = str(tmp_path / "resumed")
    os.makedirs(r1)
    stage_admission_shards(base, r1, range(2))
    run_admission_stream_et(spark, base.schema, r1)
    phase1_adm = read_pairs(r1, "admitted")

    # stop happened (AvailableNow drained); shards 2-3 land; restart
    stage_admission_shards(base, r1, range(2, 4))
    run_admission_stream_et(spark, base.schema, r1)
    resumed_adm = read_pairs(r1, "admitted")
    resumed_late = read_pairs(r1, "late")

    # uninterrupted control run
    r2 = str(tmp_path / "oneshot")
    os.makedirs(r2)
    stage_admission_shards(base, r2, range(4))
    run_admission_stream_et(spark, base.schema, r2)
    oneshot_adm = read_pairs(r2, "admitted")
    oneshot_late = read_pairs(r2, "late")

    assert resumed_adm == oneshot_adm
    # watermark state resumed exactly: identical late classification
    assert resumed_late == oneshot_late
    # the policy genuinely fired, and late docs were never admitted
    assert len(resumed_late) > 0
    assert not (resumed_late & resumed_adm)
    # the restart genuinely processed the new shards
    assert phase1_adm < resumed_adm
    base.unpersist()

def test_admission_index_replay_after_midbatch_crash(
    spark, sf_dir, tmp_path
):
    """Kill-mid-batch + redelivery on the SHARED admission chain: a
    crash can strike between the admitted and band-key writes, and the
    restarted stream redelivers the batch.  Because every probe reads
    only strictly-earlier ``batch_id`` partitions and every write
    overwrites its own partition, the replay must reconstruct exactly
    the uninterrupted run's sinks — no duplicates, no lost band keys,
    no self-blocking on the crashed attempt's partial writes."""
    import shutil

    from big_data_lab_three_spark.queries.curation import (
        admission_base,
        batch_partition,
        index_admit_batch,
    )

    base = admission_base(spark, sf_dir)
    batches = [
        base.where(F.col("shard") == s).repartition(8).localCheckpoint()
        for s in range(4)
    ]

    def snap(root):
        out = {}
        for sub in ("admitted", "idx_bands"):
            p = os.path.join(root, sub)
            out[sub] = sorted(
                tuple(r) for r in spark.read.parquet(p).collect()
            )
        return out

    rc = str(tmp_path / "clean")
    for k, b in enumerate(batches):
        index_admit_batch(spark, b, rc, k)
    clean = snap(rc)

    rx = str(tmp_path / "crashy")
    for k in (0, 1):
        index_admit_batch(spark, batches[k], rx, k)
    # attempt 1 of batch 2 runs, but the "crash" lands between its two
    # sink writes: the band-key partition is lost entirely and the
    # admitted partition survives only half-written
    index_admit_batch(spark, batches[2], rx, 2)
    shutil.rmtree(batch_partition(os.path.join(rx, "idx_bands"), 2))
    adm2 = batch_partition(os.path.join(rx, "admitted"), 2)
    half = spark.read.parquet(adm2).limit(3).localCheckpoint()
    half.write.mode("overwrite").parquet(adm2)
    # redelivery (what the restarted stream does), then the next batch
    index_admit_batch(spark, batches[2], rx, 2)
    index_admit_batch(spark, batches[3], rx, 3)
    assert snap(rx) == clean


def test_et_admission_replay_after_midbatch_crash(spark, sf_dir, tmp_path):
    """Event-time twin of the kill-mid-batch test, with the watermark
    hazard on top: the crashed attempt of batch 2 already wrote its own
    max-event-time row, and a replay that read it would classify batch
    2's documents against a watermark from the FUTURE (its own data),
    over-dropping lates.  The strictly-earlier ``batch_id`` filter must
    make the replay's late split identical to the uninterrupted run's,
    and a redelivered COMPLETE batch must be skipped outright."""
    import shutil

    from big_data_lab_three_spark.queries.curation import (
        batch_partition,
    )
    from big_data_lab_three_spark.queries.pipeline import (
        admission_et_base,
        admit_batch_et,
    )

    base = admission_et_base(spark, sf_dir)
    batches = [
        base.where(F.col("shard") == s).repartition(8).localCheckpoint()
        for s in range(4)
    ]

    def snap(root):
        out = {}
        for sub in ("admitted", "idx_bands", "late", "wm"):
            p = os.path.join(root, sub)
            out[sub] = (
                sorted(tuple(r) for r in spark.read.parquet(p).collect())
                if os.path.isdir(p)
                else []
            )
        return out

    rc = str(tmp_path / "clean")
    for k, b in enumerate(batches):
        admit_batch_et(spark, b, k, rc)
    clean = snap(rc)
    assert len(clean["late"]) > 0  # the policy genuinely fires

    rx = str(tmp_path / "crashy")
    for k in (0, 1):
        admit_batch_et(spark, batches[k], k, rx)
    # attempt 1 of batch 2 completes its writes, then the "crash" is
    # simulated by losing the wm completion marker and half of the
    # admitted partition — late/idx_bands partials survive as-is
    admit_batch_et(spark, batches[2], 2, rx)
    shutil.rmtree(batch_partition(os.path.join(rx, "wm"), 2))
    adm2 = batch_partition(os.path.join(rx, "admitted"), 2)
    half = spark.read.parquet(adm2).limit(2).localCheckpoint()
    half.write.mode("overwrite").parquet(adm2)
    # redelivery recomputes batch 2 against the pre-crash index state
    admit_batch_et(spark, batches[2], 2, rx)
    # batch 3 arrives; then batch 3 itself is redelivered COMPLETE —
    # the _SUCCESS skip path must leave every sink untouched
    admit_batch_et(spark, batches[3], 3, rx)
    before = snap(rx)
    admit_batch_et(spark, batches[3], 3, rx)
    assert snap(rx) == before
    assert snap(rx) == clean


def test_admission_replay_after_first_batch_crash(spark, sf_dir, tmp_path):
    """ADVICE r11 gap: a crash mid-FIRST-write leaves the sink with a
    single uncommitted ``batch_id=0`` partition — a torn file, no
    ``_SUCCESS``, no readable footer.  The retry's probes must see the
    empty index (``read_index_before`` reads only committed
    strictly-earlier partitions as explicit paths) instead of failing
    whole-directory schema inference, and the replay must reconstruct
    exactly the uninterrupted run's sinks."""
    from big_data_lab_three_spark.queries.curation import (
        admission_base,
        batch_partition,
        index_admit_batch,
        read_index_before,
    )

    base = admission_base(spark, sf_dir)
    batches = [
        base.where(F.col("shard") == s).repartition(8).localCheckpoint()
        for s in range(2)
    ]

    def snap(root):
        out = {}
        for sub in ("admitted", "idx_bands"):
            out[sub] = sorted(
                tuple(r)
                for r in spark.read.parquet(
                    os.path.join(root, sub)
                ).collect()
            )
        return out

    rc = str(tmp_path / "clean")
    for k, b in enumerate(batches):
        index_admit_batch(spark, b, rc, k)
    clean = snap(rc)

    rx = str(tmp_path / "crashy")
    adm0 = batch_partition(os.path.join(rx, "admitted"), 0)
    os.makedirs(adm0)
    with open(os.path.join(adm0, "part-00000.snappy.parquet"), "wb") as f:
        f.write(b"PAR1torn-not-a-footer")
    ddl = "id long, shard long, d string"
    # the retry of batch 0 AND a hypothetical batch 1 probe must both
    # treat the torn partition as nonexistent, not raise
    assert read_index_before(spark, adm0.rsplit("/", 1)[0], ddl, 0).count() == 0
    assert read_index_before(spark, adm0.rsplit("/", 1)[0], ddl, 1).count() == 0
    for k, b in enumerate(batches):
        index_admit_batch(spark, b, rx, k)
    assert snap(rx) == clean


class _Progress(StreamingQueryListener):
    """Every progress event of the queries started while registered;
    ``done`` is set once one terminates (the listener bus delivers a
    query's progress events before its termination event)."""

    def __init__(self):
        self.events = []
        self.done = threading.Event()

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        self.events.append(event.progress)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        self.done.set()


def _drain_registered(spark, sf_dir, qname):
    """Run the registered streaming query ``qname``; return its progress
    events and its mismatches against the DuckDB oracle."""
    listener = _Progress()
    spark.streams.addListener(listener)
    try:
        q = REG[qname]
        out = q.spark(spark, sf_dir)
        assert listener.done.wait(60), f"{qname}: no termination event"
    finally:
        spark.streams.removeListener(listener)
    con = duckdb.connect()
    register_oracle_views(con, sf_dir)
    problems, n = compare(out, con.execute(q.oracle))
    assert n > 0
    return listener.events, problems


def test_trailing_batch_rule_over_plan_shapes(spark, sf_dir):
    """The no-data batch is skipped only where it can just evict state:
    dedup and inner stream-stream joins.  Timeouts, append-mode
    aggregates and outer joins emit on eviction, so they keep it."""
    stream = read_events_stream(spark, sf_dir)
    clicks = (
        stream.where(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("t_user"), F.col("ts_utc").alias("t_ts")
        )
        .withWatermark("t_ts", "2 hours")
    )
    buys = (
        stream.where(F.col("event_type") == "purchase")
        .select("user_id", "ts_utc")
        .withWatermark("ts_utc", "2 hours")
    )
    left_outer = buys.join(
        clicks,
        F.expr(
            "user_id = t_user AND ts_utc >= t_ts"
            " AND ts_utc <= t_ts + interval 1 hour"
        ),
        "left_outer",
    )
    shapes = {
        "dedup": dedup_within_watermark(stream),
        "inner interval join": interval_join_attribution(stream),
        "sessionize": sessionize(stream),
        "windowed aggregate": windowed_event_counts(stream),
        "left-outer stream-stream join": left_outer,
    }
    got = {
        name: _emits_only_on_data(df._jdf.queryExecution().analyzed())
        for name, df in shapes.items()
    }
    assert got == {
        "dedup": True,
        "inner interval join": True,
        "sessionize": False,
        "windowed aggregate": False,
        "left-outer stream-stream join": False,
    }


@pytest.mark.parametrize(
    "qname, batches", [("streaming_dedup", 1), ("streaming_sessionize", 2)]
)
def test_drain_runs_trailing_batch_only_when_it_can_emit(
    spark, sf_dir, qname, batches
):
    """Dedup drains in its one data batch; sessionize keeps the no-data
    batch whose event-time timeouts emit the sessions the final
    watermark closes.  Both stay oracle-equal, on the session's state
    partition count capped at 4."""
    progress, problems = _drain_registered(spark, sf_dir, qname)
    assert not problems, f"{qname}: " + "; ".join(problems)
    assert [p.batchId for p in progress] == list(range(batches))
    assert progress[0].stateOperators[0].numShufflePartitions == min(
        4, spark.sparkContext.defaultParallelism
    )


@pytest.mark.parametrize("qname", ["streaming_dedup", "streaming_sessionize"])
def test_one_core_drain_runs_one_state_partition(
    spark, sf_dir, monkeypatch, qname
):
    """A 1-core session sizes stream state to one partition: one state
    store commit per batch, still oracle-equal."""
    monkeypatch.setattr(
        SparkContext, "defaultParallelism", property(lambda self: 1)
    )
    progress, problems = _drain_registered(spark, sf_dir, qname)
    assert not problems, f"{qname}: " + "; ".join(problems)
    assert progress[0].stateOperators[0].numShufflePartitions == 1


def test_memory_sink_drain_leaves_no_view(spark, sf_dir):
    """The memory sink registers a session-global view holding the
    sink's rows; the drain drops it, and the returned frame keeps the
    rows."""
    sf_dir = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    if not os.path.isdir(sf_dir):
        pytest.skip(f"{sf_dir} not generated")
    out = REG["streaming_dedup"].spark(spark, sf_dir)
    assert len(out.collect()) == 750
    views = [t.name for t in spark.catalog.listTables()]
    assert not [v for v in views if v.startswith("stream_dedup_")]
    assert out.count() == 750
