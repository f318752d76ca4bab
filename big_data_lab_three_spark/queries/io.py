"""IO query corpus: CSV round-trip (S2/P8) and the JSON record source
(S3) — the reference's file-based dataflow edges, exercised end-to-end.
"""

from __future__ import annotations

import atexit
import json
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from big_data_lab_three_spark.operators.rankstats import (
    N_COL,
    RANK_COL,
    global_ranks,
    ntile_from_rank,
)
from big_data_lab_three_spark.queries import register
from big_data_lab_three_spark.sources import read_json_records, table
from big_data_lab_three_spark.sources.sinks import write_csv


_REMOVED_AT_EXIT: set[str] = set()


def _scratch(name: str) -> str:
    """Per-process STABLE scratch path for round-trip sinks.  A fresh
    ``mkdtemp`` per invocation leaks one table slice per run — bench
    repeats, verify gates, and A/B rounds each compound it.  A fixed
    per-process path + ``mode=overwrite`` bounds the footprint to one
    copy per sink per process, and the directory is removed when the
    process exits; the PID suffix keeps concurrent bench/verify
    processes from clobbering each other's files mid-read."""
    d = os.path.join(tempfile.gettempdir(), f"spark_graft_io_{os.getpid()}")
    os.makedirs(d, exist_ok=True)
    if d not in _REMOVED_AT_EXIT:
        _REMOVED_AT_EXIT.add(d)
        atexit.register(shutil.rmtree, d, ignore_errors=True)
    return os.path.join(d, name)


@register(
    "csv_roundtrip",
    ids="S1,S2,P8",
    oracle="""
SELECT count(*) AS n,
       count(*) AS n_row_ids,
       count(DISTINCT l_orderkey) AS n_orders,
       round(sum(l_extendedprice), 2) AS revenue,
       round(sum(l_quantity), 2) AS total_qty,
       round(min(l_extendedprice), 2) AS min_price,
       round(max(l_extendedprice), 2) AS max_price
FROM lineitem
WHERE l_quantity < 5
""",
)
def csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2+P8 — CSV sink with explicit row-id (the pandas ``index=True``
    analogue, reference ``src/preprocess.py:106-119``) then re-read and
    re-aggregated.  The oracle computes the same profile from the
    ORIGINAL table — passing proves the round-trip is lossless column
    by column (Spark's shortest-repr double formatting round-trips
    exactly): full-precision sums/extrema of every written column,
    the key cardinality, and — since the oracle's ``n_row_ids`` is
    ``count(*)`` — that the sink assigned every row a DISTINCT row id
    (``monotonically_increasing_id`` ids are partition-gapped, so
    distinctness, not density, is the contract)."""
    li = table(spark, sf_dir, "lineitem").where(F.col("l_quantity") < 5)
    out = _scratch("lineitem_csv")
    write_csv(li.select("l_orderkey", "l_quantity", "l_extendedprice"), out)
    back = (
        spark.read.option("header", True)
        .schema("row_id long, l_orderkey long, l_quantity double, l_extendedprice double")
        .csv(out)
    )
    return back.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("row_id").alias("n_row_ids"),
        F.countDistinct("l_orderkey").alias("n_orders"),
        F.round(F.sum("l_extendedprice"), 2).alias("revenue"),
        F.round(F.sum("l_quantity"), 2).alias("total_qty"),
        F.round(F.min("l_extendedprice"), 2).alias("min_price"),
        F.round(F.max("l_extendedprice"), 2).alias("max_price"),
    )


@register(
    "json_records",
    ids="S3",
    oracle="""
SELECT CAST(f1 AS DOUBLE) AS f1, CAST(f2 AS DOUBLE) AS f2
FROM (VALUES (1.5, 2.0), (3.0, NULL), (-0.25, 7.5)) AS t(f1, f2)
""",
)
def json_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3 — the reference's ``{"X": [...], "y": [...]}`` functional-test
    fixture (``src/predict.py:133-135``): one multi-line JSON document,
    flattened via explode + struct-star (no ``pd.json_normalize``, no
    Python loop)."""
    fixture = {
        "X": [
            {"f1": 1.5, "f2": 2.0},
            {"f1": 3.0, "f2": None},
            {"f1": -0.25, "f2": 7.5},
        ],
        "y": [{"State": 1}, {"State": 0}, {"State": 1}],
    }
    path = _scratch("fixture.json")
    with open(path, "w", encoding="utf-8") as f:
        json.dump(fixture, f)
    return read_json_records(spark, path, record_path="X").select(
        F.col("f1").cast("double"), F.col("f2").cast("double")
    )


@register(
    "orc_roundtrip",
    ids="S1-family: columnar sink/source beyond parquet (ORC write→read→verify)",
    oracle="""
SELECT CAST(count(*) AS BIGINT) AS n,
       CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
       round(sum(l_extendedprice), 2) AS revenue,
       round(sum(l_discount), 4) AS total_discount,
       round(min(l_extendedprice), 2) AS min_price,
       round(max(l_extendedprice), 2) AS max_price
FROM lineitem
WHERE l_quantity >= 45 AND l_discount > 0.05
""",
)
def orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC round-trip: write a lineitem slice to ORC (zlib, Spark's
    built-in columnar alternative to parquet), read it back WITH a
    further predicate, and re-aggregate.  The oracle computes the same
    profile from the ORIGINAL parquet — passing proves the ORC
    writer/reader pair is value-lossless for longs and doubles AND that
    the read-back predicate (``l_discount > 0.05``, applied only on the
    ORC side in Spark but in the oracle's WHERE) selects the identical
    row set, i.e. predicate evaluation agrees across the format
    boundary.  At scale ORC pushes that filter to stripe/row-group
    indexes exactly like parquet does — the scan-side contract the
    engine's pushdown guarantees rely on is format-portable."""
    li = table(spark, sf_dir, "lineitem").where(F.col("l_quantity") >= 45)
    out = _scratch("lineitem_orc")
    li.select(
        "l_orderkey", "l_quantity", "l_extendedprice", "l_discount"
    ).write.mode("overwrite").orc(out)
    back = spark.read.orc(out).where(F.col("l_discount") > 0.05)
    return back.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("l_orderkey").alias("n_orders"),
        F.round(F.sum("l_extendedprice"), 2).alias("revenue"),
        F.round(F.sum("l_discount"), 4).alias("total_discount"),
        F.round(F.min("l_extendedprice"), 2).alias("min_price"),
        F.round(F.max("l_extendedprice"), 2).alias("max_price"),
    )


@register(
    "partitioned_prune_roundtrip",
    ids="S1-family: hive-partitioned parquet layout write→read with partition pruning (the 100 TB access-path contract)",
    oracle="""
SELECT CAST(year(o_orderdate) AS INT) AS o_year,
       CAST(count(*) AS BIGINT) AS n_orders,
       round(sum(o_totalprice), 2) AS revenue,
       CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers
FROM orders
WHERE year(o_orderdate) IN (1994, 1995)
GROUP BY 1
ORDER BY o_year
""",
)
def partitioned_prune_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned layout round-trip: write orders partitioned by
    order YEAR (the canonical time-partitioned ingest layout), read the
    directory back, and aggregate ONLY two partitions.  The oracle
    recomputes from the original parquet, so passing proves the
    partition column round-trips losslessly through the directory
    encoding AND the pruned read selects exactly the original rows.

    This is the single most important layout decision at 100 TB: a
    year (or date) partition key turns every time-bounded query into a
    directory prune — the scan lists 2 of ~7 partitions and never opens
    the rest (the plan pin asserts ``PartitionFilters`` carries the
    year predicate, i.e. pruning happens at PLANNING time, not as a
    row-level filter).  Partition count stays bounded (years, not
    days·customers) — the classic over-partitioning trap (millions of
    tiny files) is the inverse failure mode, documented here as the
    reason the key is coarse."""
    o = table(spark, sf_dir, "orders")
    out = _scratch("orders_by_year")
    o.withColumn(
        "o_year", F.year("o_orderdate").cast("int")
    ).write.mode("overwrite").partitionBy("o_year").parquet(out)
    back = spark.read.parquet(out).where(
        F.col("o_year").isin(1994, 1995)
    )
    return (
        back.groupBy(F.col("o_year").cast("int").alias("o_year"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.countDistinct("o_custkey").alias("n_customers"),
        )
        .orderBy("o_year")
    )


def _spread16(x):
    """Interleave-ready bit spread of a 16-bit value (Morton/Z-order):
    inserts a zero between consecutive bits via the classic
    magic-number cascade, BIGINT-safe on both engines."""
    x = x.bitwiseAND(F.lit(65535))
    x = x.bitwiseOR(F.shiftleft(x, 8)).bitwiseAND(F.lit(16711935))
    x = x.bitwiseOR(F.shiftleft(x, 4)).bitwiseAND(F.lit(252645135))
    x = x.bitwiseOR(F.shiftleft(x, 2)).bitwiseAND(F.lit(858993459))
    x = x.bitwiseOR(F.shiftleft(x, 1)).bitwiseAND(F.lit(1431655765))
    return x


@register(
    "zorder_layout",
    ids="layout: Z-order (Morton) multi-dim clustering vs insertion order — file-skipping census",
    oracle="""
WITH li AS (
    SELECT l_orderkey AS okey, l_linenumber AS lineno,
           l_partkey AS pk, l_suppkey AS sk
    FROM lineitem
), b AS (
    SELECT min(pk) AS pmin, max(pk) AS pmax,
           min(sk) AS smin, max(sk) AS smax,
           min(pk) + CAST(floor((max(pk) - min(pk)) / 20.0) AS BIGINT)
               AS phi,
           min(sk) + CAST(floor((max(sk) - min(sk)) / 20.0) AS BIGINT)
               AS shi
    FROM li
), m0 AS (
    SELECT okey, lineno, pk, sk,
           pk % 65536 AS u0, sk % 65536 AS v0
    FROM li
), m1 AS (
    SELECT *, (u0 | (u0 << 8)) & 16711935 AS u1,
              (v0 | (v0 << 8)) & 16711935 AS v1 FROM m0
), m2 AS (
    SELECT *, (u1 | (u1 << 4)) & 252645135 AS u2,
              (v1 | (v1 << 4)) & 252645135 AS v2 FROM m1
), m3 AS (
    SELECT *, (u2 | (u2 << 2)) & 858993459 AS u3,
              (v2 | (v2 << 2)) & 858993459 AS v3 FROM m2
), m4 AS (
    SELECT *, ((u3 | (u3 << 1)) & 1431655765)
              | (((v3 | (v3 << 1)) & 1431655765) << 1) AS morton
    FROM m3
), f AS (
    SELECT 'zorder' AS layout,
           CAST(ntile(64) OVER (ORDER BY morton, okey, lineno) AS BIGINT)
               AS file_id,
           pk, sk
    FROM m4
    UNION ALL
    SELECT 'linear',
           CAST(ntile(64) OVER (ORDER BY okey, lineno) AS BIGINT),
           pk, sk
    FROM m4
), fs AS (
    SELECT layout, file_id,
           min(pk) AS fpmin, max(pk) AS fpmax,
           min(sk) AS fsmin, max(sk) AS fsmax
    FROM f GROUP BY 1, 2
), scans AS (
    SELECT layout, 'partkey' AS dim,
           CAST(count(*) AS BIGINT) AS files_total,
           CAST(sum(CASE WHEN fpmin <= b.phi AND fpmax >= b.pmin
                         THEN 1 ELSE 0 END) AS BIGINT) AS files_scanned
    FROM fs, b GROUP BY 1, 2
    UNION ALL
    SELECT layout, 'suppkey',
           CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN fsmin <= b.shi AND fsmax >= b.smin
                         THEN 1 ELSE 0 END) AS BIGINT)
    FROM fs, b GROUP BY 1, 2
), rm AS (
    SELECT 'partkey' AS dim, CAST(count(*) AS BIGINT) AS rows_matched
    FROM li, b WHERE pk BETWEEN b.pmin AND b.phi
    UNION ALL
    SELECT 'suppkey', CAST(count(*) AS BIGINT)
    FROM li, b WHERE sk BETWEEN b.smin AND b.shi
)
SELECT s.layout, s.dim, s.files_total, s.files_scanned,
       round(CAST(s.files_scanned AS DOUBLE) / s.files_total, 4)
           AS scanned_frac,
       rm.rows_matched
FROM scans s JOIN rm ON s.dim = rm.dim
""",
)
def zorder_layout_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton-curve) clustering census: write-order simulation
    of `OPTIMIZE ... ZORDER BY (l_partkey, l_suppkey)` vs the naive
    insertion-order layout, measured by the ONLY metric that matters at
    100 TB — how many of the 64 simulated files a min/max-pruned scan
    must open for a 5%-band predicate on EACH dimension.

    Morton codes interleave the low 16 bits of the two keys with the
    classic magic-number spread (`_spread16`); rows land in 64
    equal-size "files" via the distributed exact-ntile path
    (`global_ranks` + `ntile_from_rank` — no single-task window over
    raw rows on the Spark side), with (morton, orderkey, linenumber) as
    the deterministic total order.  Per-file min/max footers are then
    intersected with the predicate band exactly as parquet row-group
    pruning would.  Z-order's defining property — BOTH dimensions get
    sublinear scan fractions, where linear order serves only its sort
    prefix — is what the output table exhibits.

    All arithmetic is BIGINT (bit ops, integer counts); the only
    doubles are the shared `floor((max-min)/20.0)` band edge and the
    round(4) scan fraction.

    Scale shape: two range-partition rank shuffles over the fact (one
    per layout), one groupBy onto 128 file-stat rows, broadcast bounds;
    4-row output."""
    li = table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("okey"),
        F.col("l_linenumber").alias("lineno"),
        F.col("l_partkey").alias("pk"),
        F.col("l_suppkey").alias("sk"),
    )
    b = li.agg(
        F.min("pk").alias("pmin"),
        F.max("pk").alias("pmax"),
        F.min("sk").alias("smin"),
        F.max("sk").alias("smax"),
    ).select(
        "*",
        (
            F.col("pmin")
            + F.floor((F.col("pmax") - F.col("pmin")) / F.lit(20.0))
        ).alias("phi"),
        (
            F.col("smin")
            + F.floor((F.col("smax") - F.col("smin")) / F.lit(20.0))
        ).alias("shi"),
    )
    m = li.withColumn(
        "morton",
        _spread16(F.col("pk") % 65536).bitwiseOR(
            F.shiftleft(_spread16(F.col("sk") % 65536), 1)
        ),
    )
    layouts = []
    for name, order in (
        ("zorder", ["morton", "okey", "lineno"]),
        ("linear", ["okey", "lineno"]),
    ):
        r = global_ranks(m, order)
        layouts.append(
            r.select(
                F.lit(name).alias("layout"),
                ntile_from_rank(F.col(RANK_COL), F.col(N_COL), 64)
                .cast("long")
                .alias("file_id"),
                "pk",
                "sk",
            )
        )
    f = layouts[0].unionByName(layouts[1])
    fs = f.groupBy("layout", "file_id").agg(
        F.min("pk").alias("fpmin"),
        F.max("pk").alias("fpmax"),
        F.min("sk").alias("fsmin"),
        F.max("sk").alias("fsmax"),
    )
    fsb = fs.crossJoin(F.broadcast(b))
    scans = fsb.groupBy("layout").agg(
        F.count(F.lit(1)).alias("files_total"),
        F.sum(
            (
                (F.col("fpmin") <= F.col("phi"))
                & (F.col("fpmax") >= F.col("pmin"))
            ).cast("long")
        ).alias("scanned_pk"),
        F.sum(
            (
                (F.col("fsmin") <= F.col("shi"))
                & (F.col("fsmax") >= F.col("smin"))
            ).cast("long")
        ).alias("scanned_sk"),
    )
    scans = scans.select(
        "layout",
        F.lit("partkey").alias("dim"),
        "files_total",
        F.col("scanned_pk").alias("files_scanned"),
    ).unionByName(
        scans.select(
            "layout",
            F.lit("suppkey").alias("dim"),
            "files_total",
            F.col("scanned_sk").alias("files_scanned"),
        )
    )
    lib = li.crossJoin(F.broadcast(b))
    rm = (
        lib.agg(
            F.sum(
                (
                    (F.col("pk") >= F.col("pmin"))
                    & (F.col("pk") <= F.col("phi"))
                ).cast("long")
            ).alias("rm_pk"),
            F.sum(
                (
                    (F.col("sk") >= F.col("smin"))
                    & (F.col("sk") <= F.col("shi"))
                ).cast("long")
            ).alias("rm_sk"),
        )
    )
    rm = rm.select(
        F.lit("partkey").alias("dim"), F.col("rm_pk").alias("rows_matched")
    ).unionByName(
        rm.select(F.lit("suppkey").alias("dim"), F.col("rm_sk").alias("rows_matched"))
    )
    return scans.join(F.broadcast(rm), "dim").select(
        "layout",
        "dim",
        "files_total",
        "files_scanned",
        F.round(
            F.col("files_scanned").cast("double") / F.col("files_total"), 4
        ).alias("scanned_frac"),
        "rows_matched",
    )


@register(
    "bucketed_join_roundtrip",
    ids="layout: bucketed write → co-located zero-key-exchange join roundtrip",
    oracle="""
SELECT c.c_mktsegment AS segment,
       CAST(count(*) AS BIGINT) AS n_orders,
       round(sum(o.o_totalprice), 2) AS revenue
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY 1
ORDER BY 1
""",
)
def bucketed_join_roundtrip_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed-layout roundtrip: write orders AND customer bucketed by
    the customer key (8 buckets, bucket-sorted), read them back, and
    run the fact⋈dim revenue rollup — the pay-the-shuffle-once-at-
    ingest pattern that turns a 100 TB repeated join's exchange into a
    file-aligned merge.  The oracle recomputes from the ORIGINAL
    parquet, so a hash-match proves the bucketed write/read round-trips
    every row and value; the plan pin
    (`test_bucketed_roundtrip_no_key_exchange`) separately proves the
    join plans with no exchange on the key.

    Table names are (process, sf)-scoped like the memory sinks; the
    in-memory catalog is session-local, so no cross-process metastore
    state."""
    import re

    suffix = f"{re.sub(r'[^A-Za-z0-9]', '_', sf_dir)}_{os.getpid()}"
    o = table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    from big_data_lab_three_spark.sources.sinks import write_bucketed_table

    on, cn = f"orders_bkt_{suffix}", f"customer_bkt_{suffix}"
    write_bucketed_table(o, on, "o_custkey", 8, _scratch(on))
    write_bucketed_table(c, cn, "c_custkey", 8, _scratch(cn))
    ob, cb = spark.table(on), spark.table(cn)
    return (
        ob.join(cb, ob.o_custkey == cb.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
        .orderBy("segment")
    )
