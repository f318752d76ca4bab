"""Sinks (SURVEY.md §2.1): CSV (S2), JSON fallback (S6), Redis list (S4).

The Redis sink reproduces the reference's semantics
(``src/predict.py:219-262``): wholesale rewrite of a list key —
``DELETE`` then ``RPUSH`` per prediction — with graceful degradation to a
local JSON file when Redis is unreachable.  Spark-first shape: the DELETE
happens once on the driver, the RPUSHes happen inside
``foreachPartition`` (executor-side, pipelined per partition), so the
write parallelizes with the data instead of looping on the driver.
At-least-once on retry, like the reference (documented, SURVEY.md §4.3).
"""

from __future__ import annotations

import datetime as _dt
import json
import os
from collections.abc import Iterator, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_csv(df: DataFrame, path: str) -> None:
    """CSV sink, S2 (reference ``df.to_csv(path, index=True)``,
    ``src/preprocess.py:106-119``): a leading ``row_id`` column
    (``monotonically_increasing_id``: unique, not dense) stands in for
    the pandas index.  One file per partition — the scalable layout.
    """
    out = df.withColumn("row_id", F.monotonically_increasing_id())
    out = out.select("row_id", *df.columns)
    out.write.mode("overwrite").option("header", True).csv(path)


def write_predictions_fallback_json(
    predictions: list[int], path: str
) -> str:
    """S6 — the reference's local JSON fallback payload
    (``src/predict.py:248-262``): ``{"predictions": [...],
    "created_at": iso}`` written driver-side."""
    payload = {
        "predictions": [int(p) for p in predictions],
        "created_at": _dt.datetime.now(_dt.timezone.utc).isoformat(),
    }
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    with open(path, "w", encoding="utf-8") as f:
        json.dump(payload, f)
    return path


def redis_client(
    host: str | None = None,
    port: int | None = None,
    password: str | None = None,
    db: int | None = None,
    timeout_s: float = 5.0,
):
    """Redis connection with the reference's 5 s connect/socket timeouts
    (``src/predict.py:193-204``) and env-var config
    (REDIS_HOST/PORT/PASSWORD/DB, ``src/predict.py:180-190``).
    Returns None if the ``redis`` package is unavailable (not baked into
    this container — callers fall through to the JSON sink)."""
    try:
        import redis  # noqa: PLC0415
    except ImportError:
        return None
    return redis.Redis(
        host=host or os.environ.get("REDIS_HOST", "localhost"),
        port=int(port or os.environ.get("REDIS_PORT", 6379)),
        password=password or os.environ.get("REDIS_PASSWORD") or None,
        db=int(db if db is not None else os.environ.get("REDIS_DB", 0)),
        socket_connect_timeout=timeout_s,
        socket_timeout=timeout_s,
    )


def write_predictions_redis(
    df: DataFrame, fallback_path: str = "predictions_fallback.json"
) -> dict:
    """S4 — Redis list sink with S6 fallback: ``df``'s ``prediction``
    column rewrites the ``predictions`` list.

    Driver: DELETE the key once (idempotent rewrite).  Executors:
    ``foreachPartition`` RPUSH via a pipeline (one round-trip per
    partition).  On any Redis failure — including no redis package — the
    predictions are collected and written to the local JSON fallback,
    mirroring ``src/predict.py:248-262``.

    Returns a status dict ``{"sink": "redis"|"json", "count": n}``.
    """
    preds = df.select(F.col("prediction").cast("int").alias("p"))
    key = "predictions"

    conn = redis_client()
    if conn is not None:
        try:
            conn.ping()
            conn.delete(key)

            def push(rows: Iterator) -> None:
                c = redis_client()
                pipe = c.pipeline()
                for r in rows:
                    pipe.rpush(key, int(r["p"]))
                pipe.execute()

            preds.foreachPartition(push)
            return {"sink": "redis", "count": int(conn.llen(key))}
        except Exception:  # noqa: BLE001 — degrade like the reference
            pass

    values = [int(r["p"]) for r in preds.collect()]
    write_predictions_fallback_json(values, fallback_path)
    return {"sink": "json", "count": len(values), "path": fallback_path}


def write_bucketed_table(
    df: DataFrame,
    name: str,
    bucket_col: str,
    num_buckets: int = 8,
    path: str | None = None,
) -> None:
    """Persist ``df`` as a bucketed (and bucket-sorted) parquet table.

    Bucketing is the pre-shuffle: rows are hash-partitioned by
    ``bucket_col`` into ``num_buckets`` files at WRITE time, so every
    later join or aggregation on that key reads co-located data and
    plans with ZERO exchanges (see
    ``tests/test_plans.py::test_bucketed_join_is_shuffle_free``).  At
    100 TB this converts the nightly fact⋈fact join from the cluster's
    biggest shuffle into a file-aligned merge — you pay the shuffle once
    at ingest instead of on every query.  ``sortBy`` additionally lets
    SortMergeJoin skip its per-task sort."""
    w = (
        df.write.mode("overwrite")
        .bucketBy(num_buckets, bucket_col)
        .sortBy(bucket_col)
        .format("parquet")
    )
    if path is not None:
        w = w.option("path", path)
    w.saveAsTable(name)


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: Sequence[str],
) -> None:
    """Hive-style partitioned parquet layout (`.../col=value/part-*.parquet`).

    Partition columns become directories, so a filter on them prunes at
    the FILE LISTING level — a query over one day of a 100 TB
    date-partitioned table never opens the other days' files (shows as
    ``PartitionFilters`` in the scan, see
    ``tests/test_plans.py::test_partitioned_write_prunes_partitions``).
    Choose low-cardinality columns (date, region, event_type); never
    partition by a high-cardinality key — millions of tiny files kill
    the listing."""
    df.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)


def zorder_value(a, b, a_min, a_max, b_min, b_max):
    """Z-order (Morton) key of two numeric columns as a single LONG:
    each dimension min-max normalized to 16 bits, then bit-interleaved.
    All codegen'd column arithmetic (shift/or over 32 terms) — no UDF.

    ``a_min``/``a_max``/... are COLUMNS (typically from a broadcast
    1-row min/max aggregate), so the normalization is data-driven
    without a driver round-trip."""
    from pyspark.sql import functions as F

    bits = 16
    levels = (1 << bits) - 1

    def quant(x, lo, hi):
        span = F.when(hi > lo, hi - lo).otherwise(F.lit(1.0))
        q = ((x.cast("double") - lo) / span * levels).cast("long")
        return F.greatest(F.lit(0), F.least(F.lit(levels), q))

    qa, qb = quant(a, a_min, a_max), quant(b, b_min, b_max)
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = z.bitwiseOR(
            F.shiftleft(
                F.shiftright(qa, i).bitwiseAND(F.lit(1)), 2 * i + 1
            )
        ).bitwiseOR(
            F.shiftleft(F.shiftright(qb, i).bitwiseAND(F.lit(1)), 2 * i)
        )
    return z


def write_zordered(
    df: DataFrame,
    path: str,
    cols: tuple[str, str],
    num_files: int = 8,
) -> None:
    """Z-ORDERED parquet layout: range-partition and sort by the Morton
    interleave of two filter columns, so every file's min/max footer
    stats are narrow in BOTH dimensions and a predicate on EITHER
    column prunes most row groups.

    This is the data-skipping layout a single-column sort cannot give:
    sorting by ``a`` makes files narrow in ``a`` but full-width in
    ``b`` — a ``b`` predicate then reads everything.  At 100 TB this
    is the difference between a dashboard filter touching one file and
    touching the whole table (the technique behind Delta/Iceberg
    OPTIMIZE ZORDER; implemented here with plain Spark expressions).
    ``tests/test_layout.py`` verifies the claim from the written
    parquet footers themselves."""
    from pyspark.sql import functions as F

    a, b = cols
    bounds = df.agg(
        F.min(a).cast("double").alias("_amin"),
        F.max(a).cast("double").alias("_amax"),
        F.min(b).cast("double").alias("_bmin"),
        F.max(b).cast("double").alias("_bmax"),
    )
    z = df.crossJoin(F.broadcast(bounds)).withColumn(
        "_z",
        zorder_value(
            F.col(a),
            F.col(b),
            F.col("_amin"),
            F.col("_amax"),
            F.col("_bmin"),
            F.col("_bmax"),
        ),
    )
    (
        z.repartitionByRange(num_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z", "_amin", "_amax", "_bmin", "_bmax")
        .write.mode("overwrite")
        .parquet(path)
    )


def compact_small_files(
    spark,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int:
    """OPTIMIZE-style compaction: rewrite a parquet directory into
    ``ceil(total_bytes / target_file_bytes)`` right-sized files and
    atomically swap it into place.  Returns the new file count.

    Small-file sprawl is the classic lakehouse failure mode — streaming
    and per-batch ingest leave thousands of KB-scale files whose
    open/footer costs dominate scans and whose listing chokes the
    driver.  Nightly compaction to ~128 MB (one HDFS block / one scan
    task) restores scan throughput.  The rewrite goes to a sibling
    directory first and replaces the original only after success, so a
    failed compaction never corrupts the table (on object stores, swap
    the directory pointer / use a format with a transaction log
    instead of the filesystem rename)."""
    import math
    import os
    import shutil

    total = sum(
        os.path.getsize(os.path.join(dirpath, f))
        for dirpath, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )
    n_files = max(1, math.ceil(total / target_file_bytes))
    tmp = path.rstrip("/") + "._compacting"
    # coalesce, not repartition: reducing file count needs no shuffle
    spark.read.parquet(path).coalesce(n_files).write.mode(
        "overwrite"
    ).parquet(tmp)
    old = path.rstrip("/") + "._old"
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)
    return n_files
