"""Sources (SURVEY.md §2.1): parquet test tables, CSV scan (S1), JSON
record source (S3).

Scale notes: parquet reads get vectorized scan + predicate pushdown +
column pruning for free; the CSV path infers its schema in one extra job
(the flow CSVs arrive without a declared schema, like the reference's
``low_memory=False`` pandas read).
"""

from __future__ import annotations

import os
from typing import Callable, TypeVar

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# The driver's TPC-H-ish star schema + events/documents/embeddings
# (TESTDATA.md).
TABLE_NAMES: tuple[str, ...] = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


# Tables whose downstream work is CPU-bound per row (tokenization,
# shingle hashing) rather than scan-bound.  See :func:`spread`.
# ``embeddings`` is deliberately NOT here: its consumers are Arrow-batched
# matmuls whose throughput comes from LARGE batches, and every extra
# partition is one more Python task.  Spreading it over 32 partitions made
# ``similarity_topk``, ``mmr_rerank``, ``similarity_lsh_recall`` and
# ``semdedup_prune`` 1.3–1.7× slower at sf0.1 on 4 cores (1.5–3.5× before
# Python workers stopped re-reading their zip archives on every task).
_CPU_BOUND_TABLES = frozenset({"documents"})


def spread(df: DataFrame) -> DataFrame:
    """Round-robin repartition a NARROW scan before CPU-heavy per-row
    work — gated, so it is a no-op whenever the scan already has enough
    splits.

    Why: Spark fuses per-row projections into the scan stage, so a
    single-row-group parquet file (the test tables here have exactly
    one) runs its entire tokenize/hash/matmul pipeline in ONE task while
    the other 31 cores idle.  A cheap shuffle of the raw column
    re-establishes parallelism.  At 100 TB inputs carry thousands of
    row groups, `getNumPartitions() >= cores`, and this returns the
    input unchanged — the extra exchange exists only in the degenerate
    small-file case."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def normalize_events_ts(df: DataFrame, with_ts_utc: bool = False) -> DataFrame:
    """Enforce the engine-wide ``events.ts`` contract — BIGINT epoch
    **nanoseconds** — whatever the input frame's encoding:

    - TIMESTAMP(MICROS) files arrive as a timestamp column → derive the
      epoch instant (NTZ→TZ cast is identity under the UTC-pinned
      session) and scale ``unix_micros * 1000`` (exact long math).
    - TIMESTAMP(NANOS) files arrive as LongType nanos (under
      ``spark.sql.legacy.parquet.nanosAsLong``) → already conformant.

    With ``with_ts_utc`` also emit a µs-truncated TimestampType column
    ``ts_utc`` (`div`, not `/`: double's 53-bit mantissa cannot hold
    1.7e18 ns and truncates off-by-one µs on cast).  Shared by the batch
    reader and the streaming source so the two paths can never diverge
    on a driver file-encoding change again."""
    if isinstance(
        df.schema["ts"].dataType, (T.TimestampType, T.TimestampNTZType)
    ):
        df = df.withColumn("ts_utc", F.col("ts").cast("timestamp"))
        df = df.withColumn(
            "ts", F.unix_micros(F.col("ts_utc")) * F.lit(1000)
        )
        if not with_ts_utc:
            df = df.drop("ts_utc")
        return df
    if with_ts_utc:
        df = df.withColumn(
            "ts_utc", F.timestamp_micros(F.expr("ts div 1000"))
        )
    return df


# Catalog-style PLAN cache (r16): one immutable DataFrame per
# (session, dir, table) — what a production engine gets by registering
# tables in a catalog once instead of re-resolving the reader per
# query.  Each `spark.read.parquet` costs ~60ms of driver work
# (DataSource resolution, footer/schema read, file listing, py4j
# round-trips) — a FIXED per-query tax across all 277 registered
# queries.  The cache holds LAZY PLANS only: no rows, no results, no
# persisted data — every action still scans the parquet files (the
# bench's clearCache() is unaffected).  A plan's file listing is fixed
# when it is built, so each entry carries the table's stat fingerprint
# and a rewritten table replaces its entry instead of being served the
# old listing.  Keyed by the live session OBJECT (identity) so
# cloned/new sessions never share plans across conf boundaries.
_TABLE_CACHE: dict[tuple, tuple[tuple, DataFrame]] = {}
# The same for a parquet path's probed schema (see probe_schema).
_SCHEMA_CACHE: dict[tuple, tuple[tuple, T.StructType]] = {}
_V = TypeVar("_V")


def _fingerprint(path: str) -> tuple:
    """``(mtime_ns, size)`` of a table path and, for a directory, of
    each entry — any rewrite of the table changes it."""
    st = os.stat(path)
    fp = [("", st.st_mtime_ns, st.st_size)]
    if os.path.isdir(path):
        for entry in os.scandir(path):
            est = entry.stat()
            fp.append((entry.name, est.st_mtime_ns, est.st_size))
    return tuple(sorted(fp))


def _cached(cache: dict, key: tuple, path: str, build: Callable[[], _V]) -> _V:
    """``cache[key]`` while ``path`` keeps the fingerprint it was built
    from, else a fresh ``build()`` stored there.  A miss also drops the
    entries of sessions (``key[0]``) whose SparkContext has stopped:
    they can never run again, and their entries pin the session."""
    fp = _fingerprint(path)
    hit = cache.get(key)
    if hit is not None and hit[0] == fp:
        return hit[1]
    for stale in [k for k in cache if k[0].sparkContext._jsc is None]:
        cache.pop(stale, None)
    value = build()
    cache[key] = (fp, value)
    return value


def table(
    spark: SparkSession, sf_dir: str, name: str, spread_ok: bool = True
) -> DataFrame:
    """One test table as a DataFrame (lazy parquet scan).

    ``events.ts`` is normalized to LongType **nanoseconds since the
    epoch** whatever the file encodes — the driver has shipped both
    TIMESTAMP(NANOS) (pyarrow; needs the legacy nanos-as-long conf, set
    here runtime-settable so it works under any session) and
    TIMESTAMP(MICROS) (arrives as a timestamp column; converted via
    ``unix_micros`` — exact, the session is pinned UTC so NTZ wall-clock
    == epoch instant).  Downstream ns arithmetic (`ts div …` binning,
    as-of ranges) is engine-portable long math either way.  Use
    :func:`events` for a converted timestamp column.

    ``documents`` is returned through :func:`spread`: every consumer
    does CPU-bound per-row text work, and the driver's single-row-group
    file would otherwise pin it to one core (``spread_ok=False`` opts
    out — used where the frame grows blob columns).
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    return _cached(
        _TABLE_CACHE,
        (spark, os.path.realpath(sf_dir), name, spread_ok),
        path,
        lambda: _read_table(spark, path, name, spread_ok),
    )


def _read_table(
    spark: SparkSession, path: str, name: str, spread_ok: bool
) -> DataFrame:
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        # ENGINE-WIDE INVARIANT: sessions run UTC (session factory sets
        # it; pinned again here so a caller-made local-timezone session
        # cannot shift micros-encoded NTZ ts).  The set is deliberately
        # NOT restored — the conversion executes lazily at action time,
        # so a restore would corrupt it; a session that needs local-time
        # DISPLAY should format with an explicit timezone argument
        # rather than an ambient session default.
    df = spark.read.parquet(path)
    if name == "events":
        df = normalize_events_ts(df)
    if spread_ok and name in _CPU_BOUND_TABLES:
        df = spread(df)
    return df


def probe_schema(spark: SparkSession, path: str) -> T.StructType:
    """The schema ``spark.read.parquet(path)`` infers, probed once per
    (session, path) and file version.  Inference runs a footer-reading
    Spark job; a streaming source needs the schema at every start, so
    each stream over an unchanged file would pay that job again.  The
    probe reads under the caller's session conf (``events_stream`` pins
    ``nanosAsLong`` first, so the cached ``ts`` type always matches)."""
    path = os.path.realpath(path)
    return _cached(
        _SCHEMA_CACHE,
        (spark, path),
        path,
        lambda: spark.read.parquet(path).schema,
    )


def events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events table with ``ts`` additionally exposed as a proper
    microsecond TimestampType column ``ts_utc`` (Spark has no nanosecond
    timestamps; nanos stay available in the raw ``ts`` long)."""
    return normalize_events_ts(
        table(spark, sf_dir, "events"), with_ts_utc=True
    )


def read_csv(spark: SparkSession, path: str) -> DataFrame:
    """CSV scan with a header row and an inferred schema, S1 (reference
    ``src/preprocess.py:103``: ``pd.read_csv(path, encoding='latin1',
    low_memory=False)`` — pandas' ``latin1`` is the charset Spark spells
    ``iso-8859-1``).  Inference runs one Spark job before the scan.
    """
    return (
        spark.read.option("header", True)
        .option("encoding", "iso-8859-1")
        .option("mode", "PERMISSIVE")
        .option("inferSchema", True)
        .csv(path)
    )


def read_json_records(
    spark: SparkSession, path: str, record_path: str = "X"
) -> DataFrame:
    """JSON record source, S3 (reference ``src/predict.py:133-135``:
    ``json.load`` + ``pd.json_normalize(data, record_path=['X'])``).

    The fixture shape is one JSON document ``{"X": [{...}], "y": [{...}]}``;
    flattening is ``explode`` + struct-star projection — both Catalyst
    generators, no Python in the loop.
    """
    doc = spark.read.option("multiLine", True).json(path)
    return (
        doc.select(F.explode(F.col(record_path)).alias("_rec"))
        .select("_rec.*")
    )


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every test table as a temp view so callers can use plain
    ``spark.sql`` — the engine's SQL front door.  Views are lazy scans;
    Catalyst sees straight through them (pushdown/pruning identical to
    the DataFrame API), so the SQL surface costs nothing."""
    for name in TABLE_NAMES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)


def sql(spark: SparkSession, sf_dir: str, query: str) -> DataFrame:
    """Run an ANSI-SQL query against the registered tables (register on
    demand).  Demonstrates full-SQL parity: any DuckDB oracle in the
    corpus also runs here verbatim, modulo dialect."""
    register_views(spark, sf_dir)
    return spark.sql(query)


_MEDIA_EXT_CODECS = {
    "png": ("image", "image/png"),
    "jpg": ("image", "image/jpeg"),
    "jpeg": ("image", "image/jpeg"),
    "txt": ("image", "raw-text"),  # the deterministic test codec
    "wav": ("audio", "audio/wav"),
    "mp4": ("video", "video/mp4"),
}


def read_media_dir(spark: SparkSession, path: str) -> DataFrame:
    """Media-file ingest via Spark's built-in ``binaryFile`` source:
    one row per file with the payload as a binary column — the ingest
    half of the multimodal pipeline (the processing half is
    ``multimodal.decode``'s Arrow-batched stages, whose codec registry
    decides per-row whether a payload is decodable).

    Output conforms to ``multimodal.MEDIA_SCHEMA``: media_id is a
    portable content+name hash (xxhash64 of path ⊕ length — stable
    across re-listing orders), media_type/codec come from the file
    extension, and dimension metadata is left NULL for the decode
    stage to fill (a real catalog stores it; ingest does not sniff).

    At 100 TB: ``binaryFile`` splits by FILE (each blob is one row,
    never split mid-payload), honors ``pathGlobFilter`` /
    ``recursiveFileLookup``, prunes the ``content`` column when a query
    reads only metadata (length/path census costs no byte reads), and
    rides the same `spark.sql.files.maxPartitionBytes` packing as any
    file source — blobs stay columnar, never shuffle (SCALE.md
    multimodal rules)."""
    raw = (
        spark.read.format("binaryFile")
        .option("recursiveFileLookup", "true")
        .load(path)
    )
    ext = F.lower(F.element_at(F.split(F.col("path"), r"\."), -1))
    kv = F.create_map(
        *[
            F.lit(x)
            for pair in (
                (e, f"{t}\x00{c}") for e, (t, c) in _MEDIA_EXT_CODECS.items()
            )
            for x in pair
        ]
    )
    tc = F.split(kv[ext], "\x00")
    return raw.where(kv[ext].isNotNull()).select(
        F.xxhash64("path", "length").alias("media_id"),
        F.element_at(tc, 1).alias("media_type"),
        F.col("content").alias("payload"),
        F.struct(
            F.element_at(tc, 2).alias("codec"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("int").alias("sample_rate"),
            F.lit(None).cast("int").alias("duration_ms"),
            F.col("length").alias("n_bytes"),
        ).alias("meta"),
    )
