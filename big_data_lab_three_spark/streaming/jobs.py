"""Streaming jobs over the ``events`` table.

Replay model: the parquet file source reads ``events.parquet`` as a
stream and ``Trigger.AvailableNow`` drains it to a sink, so every job
here is verifiable in-batch (the DuckDB oracle recomputes the answer on
the same file).  On a real cluster the same plans run unchanged against
a Kafka/file-drop source — only ``read_events_stream`` swaps.

Scale notes: windowed aggregation state is (window × event_type) —
bounded, watermark-evictable; sessionization state is one small struct
per active user, evicted on event-time timeout.  Neither ever holds raw
events: the 100 TB concern is state size, not input size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import DataStreamWriter

from big_data_lab_three_spark.sources.readers import (
    normalize_events_ts,
    probe_schema,
)


def events_stream(
    spark: SparkSession,
    directory: str,
    probe_path: str | None = None,
    **reader_options: str,
) -> DataFrame:
    """A parquet file-source stream of events honoring the engine-wide
    contract of :func:`big_data_lab_three_spark.sources.readers.table`:
    ``ts`` = BIGINT epoch nanoseconds, plus an event-time column
    ``ts_utc`` (µs-truncated TimestampType), whatever the files encode.

    The streaming file source cannot infer a schema, so the batch
    reader probes it first from ``probe_path`` (default: the directory
    itself) through :func:`probe_schema`, which runs the probe's footer
    job once per session and file version.  Hardcoding either
    encoding's schema makes the other arrive as raw longs at the wrong
    unit — silently wrong windows; the probe + shared
    ``normalize_events_ts`` make both paths agree by construction."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    schema = probe_schema(spark, probe_path or directory)
    reader = spark.readStream.schema(schema)
    for key, value in reader_options.items():
        reader = reader.option(key, value)
    return normalize_events_ts(reader.parquet(directory), with_ts_utc=True)


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``events`` as an unbounded stream from a test-data directory.
    The file stream source wants a DIRECTORY; pathGlobFilter narrows it
    to the events file (the other tables' schemas differ)."""
    import os

    return events_stream(
        spark,
        sf_dir,
        probe_path=os.path.join(sf_dir, "events.parquet"),
        pathGlobFilter="events.parquet",
    )


def windowed_event_counts(
    stream: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
    slide: str | None = None,
) -> DataFrame:
    """Tumbling — or, with ``slide``, SLIDING — event-time window per
    event_type: count + value sum.  The watermark bounds aggregation
    state: windows older than (max event time − watermark) finalize and
    evict.  A sliding window assigns each event to
    ``window/slide`` overlapping windows (state grows by the same
    factor — the watermark matters proportionally more)."""
    win = (
        F.window("ts_utc", window, slide)
        if slide
        else F.window("ts_utc", window)
    )
    return (
        stream.withWatermark("ts_utc", watermark)
        .groupBy(win, "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(
            F.unix_micros("window.start").alias("window_start_us"),
            "event_type",
            "n",
            "total_value",
        )
    )


SESSION_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType(), False),
        T.StructField("session_id", T.IntegerType(), False),
        T.StructField("n_events", T.IntegerType(), False),
        T.StructField("total_value", T.DoubleType(), False),
        T.StructField("start_us", T.LongType(), False),
        T.StructField("end_us", T.LongType(), False),
    ]
)

_STATE_SCHEMA = T.StructType(
    [
        T.StructField("sessions_emitted", T.IntegerType(), False),
        T.StructField("start_us", T.LongType(), False),
        T.StructField("last_us", T.LongType(), False),
        T.StructField("n_events", T.IntegerType(), False),
        T.StructField("total_value", T.DoubleType(), False),
    ]
)


def sessionize(stream: DataFrame, gap_minutes: int = 720) -> DataFrame:
    """Custom stateful operator: per-user sessionization with a
    ``gap_minutes`` inactivity split, via ``applyInPandasWithState``.

    Per key the state is one open-session struct (start, last-seen,
    count, value sum, sessions emitted so far).  Each batch folds its
    rows in timestamp order into that struct, emitting a session row
    whenever a gap exceeds the threshold; the open session is emitted by
    EVENT-TIME TIMEOUT once the watermark passes ``last + gap`` (the
    engine's trailing no-data microbatch fires these on an
    ``AvailableNow`` replay).  Streaming semantics, faithfully: a user's
    final session appears iff ``end + gap < max event time`` — it might
    still receive events otherwise — and the oracle encodes exactly
    that rule."""
    gap_us = gap_minutes * 60_000_000

    def fn(key, pdfs, state):
        import pandas as pd

        (user_id,) = key
        if state.hasTimedOut:
            emitted, start, last, n, tot = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [user_id],
                    "session_id": [emitted + 1],
                    "n_events": [n],
                    "total_value": [tot],
                    "start_us": [start],
                    "end_us": [last],
                }
            )
            return

        rows = pd.concat(list(pdfs), ignore_index=True)
        rows = rows.sort_values("us")
        if state.exists:
            emitted, start, last, n, tot = state.get
        else:
            emitted, start, last, n, tot = 0, None, None, 0, 0.0

        out = {k: [] for k in (
            "user_id", "session_id", "n_events", "total_value",
            "start_us", "end_us",
        )}
        for us, val in zip(rows["us"], rows["value"]):
            us = int(us)
            if start is None:
                start, last, n, tot = us, us, 1, float(val)
                continue
            if us - last > gap_us:
                emitted += 1
                out["user_id"].append(user_id)
                out["session_id"].append(emitted)
                out["n_events"].append(n)
                out["total_value"].append(tot)
                out["start_us"].append(start)
                out["end_us"].append(last)
                start, last, n, tot = us, us, 1, float(val)
            else:
                last, n, tot = us, n + 1, tot + float(val)

        state.update((emitted, start, last, n, tot))
        # Event-time timeout: fires once the watermark passes last+gap —
        # or when an AvailableNow replay drains, closing the tail session.
        state.setTimeoutTimestamp(last // 1000 + gap_minutes * 60_000)
        if out["user_id"]:
            yield pd.DataFrame(out)

    prepared = stream.select(
        "user_id",
        F.col("ts_utc"),
        F.unix_micros("ts_utc").alias("us"),
        "value",
    ).withWatermark("ts_utc", "0 seconds")

    return prepared.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType=SESSION_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf="EventTimeTimeout",
    )


# Plan nodes a no-data micro-batch cannot make emit: stateless streaming
# steps, and the stateful ones whose watermark eviction only forgets
# state (dedup keys; inner-join buffers, see _emits_only_on_data).
_NO_EMIT_ON_EVICTION = frozenset(
    {
        "Project",
        "Filter",
        "SubqueryAlias",
        "EventTimeWatermark",
        "StreamingRelation",
        "StreamingRelationV2",
        "Deduplicate",
        "DeduplicateWithinWatermark",
    }
)


def _emits_only_on_data(plan) -> bool:
    """Whether a no-data micro-batch over the analyzed JVM ``plan`` can
    only evict state, never emit a row.

    True iff every streaming node is in ``_NO_EMIT_ON_EVICTION`` or is
    an inner join (stream-static joins hold no state; an inner
    stream-stream join emits a pair only when a new row arrives).
    Static subtrees hold no streaming state and are not walked.  Any
    other node keeps the trailing batch: an append-mode aggregate emits
    the windows its watermark finalizes, ``applyInPandasWithState``
    fires event-time timeouts, an outer join emits its null-padded
    rows, and a node this list does not know may do the same."""
    if not plan.isStreaming():
        return True
    name = plan.nodeName()
    if name == "Join":
        if plan.joinType().sql() != "INNER":
            return False
    elif name not in _NO_EMIT_ON_EVICTION:
        return False
    children = plan.children()
    return all(
        _emits_only_on_data(children.apply(i)) for i in range(children.size())
    )


def _drain(
    spark: SparkSession, result: DataFrame, writer: DataStreamWriter
) -> None:
    """Start ``writer`` (a sink over ``result``) as a
    ``Trigger.AvailableNow`` drain and wait for it to finish.

    The query copies the session conf when it starts, so two confs are
    set for the start only and the caller's values restored at once:
    the stateful partition count (see :func:`run_stream_to_table`) and,
    when :func:`_emits_only_on_data` holds, no trailing no-data batch."""
    confs = {
        "spark.sql.shuffle.partitions": str(
            min(4, spark.sparkContext.defaultParallelism)
        )
    }
    if _emits_only_on_data(result._jdf.queryExecution().analyzed()):
        confs["spark.sql.streaming.noDataMicroBatches.enabled"] = "false"
    prev = {key: spark.conf.get(key) for key in confs}
    try:
        for key, value in confs.items():
            spark.conf.set(key, value)
        q = writer.trigger(availableNow=True).start()
    finally:
        for key, value in prev.items():
            spark.conf.set(key, value)
    q.awaitTermination()


def run_stream_to_table(
    spark: SparkSession,
    result: DataFrame,
    name: str,
    output_mode: str = "complete",
) -> DataFrame:
    """Drain a streaming result into an in-memory table with
    ``Trigger.AvailableNow`` and return it as a batch DataFrame.  The
    memory sink holds only the (small, aggregated) RESULT — raw events
    never collect anywhere.  The sink's session-global view ``name`` is
    dropped once the frame is resolved; the frame keeps the rows.

    The drain runs only work that can change the sink:

    - Stateful operators run on ``min(4, defaultParallelism)``
      partitions, fixed for the query at start.  Streaming state cannot
      be AQE-coalesced and every state partition pays a per-batch store
      commit, so a 1-core session commits once rather than four times;
      4 cores and up keep the ceiling of 4.  On a cluster this would be
      sized to executors × cores.
    - After its data batches, Spark runs one more batch with no input
      whenever the watermark moved, to evict state and emit what the
      eviction finalizes.  When every stateful node only forgets state
      on eviction (dedup, inner stream-stream join) that batch cannot
      change the sink, so it is not run.  Aggregates, timeouts and outer
      joins keep it; complete mode never runs it.  On a durable
      checkpoint the skipped eviction happens at the end of the next
      run's first batch instead, so a dedup key seen again in that
      batch is still dropped (within-watermark dedup only promises to
      drop duplicates inside the delay)."""
    _drain(
        spark,
        result,
        result.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode),
    )
    drained = spark.table(name)
    spark.catalog.dropTempView(name)
    return drained


def run_stream_foreach_batch_parquet(
    spark: SparkSession,
    result: DataFrame,
    path: str,
    checkpoint_dir: str,
    output_mode: str = "append",
) -> DataFrame:
    """Drain a streaming result to a DURABLE parquet sink via
    ``foreachBatch``, idempotently, and return the written table.  The
    drain is sized and trimmed as in :func:`run_stream_to_table`.

    Exactly-once-ish recipe: each micro-batch overwrites its own
    ``_batch_id=N`` partition (dynamic partition overwrite), so a batch
    replayed after a failure rewrites the same directory instead of
    duplicating rows; the checkpoint ties batch ids to source offsets.
    This is the standard pattern for sinks without native streaming
    transactions — the same ``foreachBatch`` body could RPUSH to Redis
    (sinks.write_predictions_redis) or upsert to a JDBC table."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.withColumn("_batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_batch_id")
            .parquet(path)
        )

    _drain(
        spark,
        result,
        result.writeStream.foreachBatch(write_batch)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir),
    )
    return spark.read.parquet(path).drop("_batch_id")


def dedup_within_watermark(
    stream: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """Streaming late-duplicate suppression: emit the FIRST event per
    (user_id, event_type) key, holding per-key state only until the
    watermark passes the first occurrence plus the delay
    (``dropDuplicatesWithinWatermark`` — the streaming face of the
    batch dedup family in ``operators/dedup.py``).

    State is one (key, expiry) entry per distinct key seen within the
    watermark horizon — bounded by key cardinality × delay, never by
    input size, which is what makes it runnable against a 100 TB/day
    firehose where plain ``dropDuplicates`` state would grow forever.

    Only the key columns are emitted: which physical row arrives first
    is batch-order-dependent, but the key set itself is deterministic,
    so the DuckDB ``SELECT DISTINCT`` oracle is exact on an
    ``AvailableNow`` single-file replay (one microbatch, watermark 0
    throughout — no evictions mid-drain; on a multi-batch production
    run a key re-emits only after its state evicts, by design)."""
    return (
        stream.withWatermark("ts_utc", watermark)
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )


def interval_join_attribution(stream: DataFrame) -> DataFrame:
    """True STREAM-STREAM join (not stream-static): attribute each
    ``purchase`` event to every same-user ``click`` event in the
    preceding hour — the classic click→purchase attribution shape, and
    the join Structured Streaming buffers BOTH sides of.

    Both branches carry a 2-hour watermark and the join condition bounds
    event-time distance, which is exactly what lets the engine evict a
    buffered row once the other side's watermark passes its horizon —
    state is watermark-window-sized, never stream-sized.  At 100 TB/day
    the state store holds one horizon of each side per key partition;
    without the time bound Spark (rightly) refuses the query.

    Inner join + ``AvailableNow`` drain emits the complete pair set, so
    the batch self-join is the exact oracle."""
    trig = (
        stream.where(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("t_user"),
            F.col("ts_utc").alias("trigger_ts"),
        )
        .withWatermark("trigger_ts", "2 hours")
    )
    out = (
        stream.where(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.col("ts_utc").alias("outcome_ts"),
            F.col("value").alias("outcome_value"),
        )
        .withWatermark("outcome_ts", "2 hours")
    )
    joined = out.join(
        trig,
        F.expr(
            """
            user_id = t_user
            AND outcome_ts >= trigger_ts
            AND outcome_ts <= trigger_ts + interval 1 hour
            """
        ),
    )
    return joined.select(
        "user_id",
        F.unix_micros("trigger_ts").alias("trigger_us"),
        F.unix_micros("outcome_ts").alias("outcome_us"),
        "outcome_value",
    )


def enrich_with_dimension(stream: DataFrame, dim: DataFrame) -> DataFrame:
    """Stream-static join on ``user_id``: each micro-batch of the stream
    joins the static dimension snapshot.  The static side is broadcast — per
    batch Spark re-plans the join, so a dimension refresh (re-read of
    the table) is picked up without restarting the query; the stream
    side never shuffles for the join itself."""
    return stream.join(F.broadcast(dim), "user_id")
