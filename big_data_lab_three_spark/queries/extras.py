"""Late-round extension queries — binding the newest operator families
(Count-Min Sketch, portable k-fold CV, deterministic weighted sampling,
the vendored real-PNG codec, binaryFile media ingest) into the
oracle-checked registry.

The md5-derived arithmetic used here is bit-portable across engines:
Spark's ``conv(substr(md5(x), 1, 15), 16, 10)`` equals DuckDB's
``('0x' || substr(md5(x), 1, 15))::BIGINT`` exactly (60-bit value,
verified in tests/test_properties.py for the weighted-sample priority).
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from big_data_lab_three_spark.queries import register
from big_data_lab_three_spark.sources import table

if TYPE_CHECKING:  # executor-side imports happen inside the stages
    import pandas as pd


def _dot(a, b):
    """Left-to-right fold dot product over ``array<double>`` columns.
    Matches DuckDB's ``list_dot_product`` bit-for-bit in practice (the
    census oracles compare the two at four scale factors), which is
    what lets quantize-then-compare thresholds stay engine-portable."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _nearest_seed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared content-keyed centroid-assignment pass behind
    ``ivf_assign_census`` and ``semantic_prune_census``: every
    embedding is assigned to its max-cosine seed (the 8 embeddings
    with ``vec_id < 8``; cosines quantized to 6 decimals BEFORE the
    argmax so the comparison is engine-portable, ties → lowest seed).
    Returns ``(vec_id, cluster_id, cq)``.

    Scale shape: 8-row codebook broadcast; the ×8 expansion collapses
    through a map-side partial ``max(struct)`` before the only wide
    exchange, which carries one row per vector."""
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("ev")
    )
    seeds = e.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("seed_id"), F.col("ev").alias("sv")
    )
    cq = F.round(
        _dot(F.col("ev"), F.col("sv"))
        / (
            F.sqrt(_dot(F.col("ev"), F.col("ev")))
            * F.sqrt(_dot(F.col("sv"), F.col("sv")))
        ),
        6,
    )
    scored = e.crossJoin(F.broadcast(seeds)).select(
        "vec_id",
        "seed_id",
        cq.alias("cq"),
    )
    best = scored.groupBy("vec_id").agg(
        F.max(
            F.struct(
                F.col("cq").alias("cq"),
                (-F.col("seed_id")).alias("negseed"),
            )
        ).alias("b")
    )
    return best.select(
        "vec_id",
        (-F.col("b.negseed")).alias("cluster_id"),
        F.col("b.cq").alias("cq"),
    )


@register(
    "cms_heavy_hitters",
    ids="sketches: Count-Min point queries + exact shard-merge audit",
    oracle="""
SELECT l_suppkey,
       CAST(count(*) AS BIGINT) AS exact_cnt,
       TRUE AS overcount_ok,
       TRUE AS merge_ok
FROM lineitem
GROUP BY l_suppkey
ORDER BY exact_cnt DESC, l_suppkey
LIMIT 10
""",
)
def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter suppliers with a Count-Min Sketch audit riding the
    exact answer: the output pins the exact top-10 counts (full value
    oracle) plus two deterministic CMS invariants per key —
    ``overcount_ok`` (a CMS NEVER under-counts: est ≥ true, the
    one-sided guarantee) and ``merge_ok`` (two half-corpus sketches,
    split on l_orderkey parity so both shards carry every hot key,
    merged by counter addition, estimate EXACTLY what the whole-corpus
    sketch does — the mergeability that makes per-shard sketching +
    reduce correct at 100 TB).

    Scale shape: each sketch build is one explode + map-side-combining
    rollup whose exchange carries ≤ depth·width counter rows per task
    (never the data); estimates broadcast the KB-sized sketch tables to
    a 10-row key frame.  xxhash64 positions never leave the Spark plan
    — the oracle pins the exact side and the invariant booleans, which
    hold under ANY hash."""
    from big_data_lab_three_spark.operators.sketches import (
        cms_build,
        cms_estimate,
        cms_merge,
    )

    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    top = (
        li.groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("exact_cnt"))
        .orderBy(F.desc("exact_cnt"), F.asc("l_suppkey"))
        .limit(10)
    )
    whole = cms_build(li, "l_suppkey")
    even = cms_build(li.where(F.col("l_orderkey") % 2 == 0), "l_suppkey")
    odd = cms_build(li.where(F.col("l_orderkey") % 2 == 1), "l_suppkey")
    merged = cms_merge(even, odd)
    keys = top.select("l_suppkey")
    est_w = cms_estimate(whole, keys, "l_suppkey", out_col="est_w")
    est_m = cms_estimate(merged, keys, "l_suppkey", out_col="est_m")
    return (
        top.join(est_w, "l_suppkey")
        .join(est_m, "l_suppkey")
        .select(
            "l_suppkey",
            "exact_cnt",
            (F.col("est_w") >= F.col("exact_cnt")).alias("overcount_ok"),
            (F.col("est_m") == F.col("est_w")).alias("merge_ok"),
        )
        .orderBy(F.desc("exact_cnt"), F.asc("l_suppkey"))
    )


@register(
    "cv_fold_balance",
    ids="ml: engine-portable content-hash k-fold assignment census",
    oracle="""
SELECT fold,
       CAST(count(*) AS BIGINT) AS n,
       round(avg(c_acctbal), 4) AS avg_bal,
       min(c_custkey) AS min_key,
       max(c_custkey) AS max_key
FROM (
    SELECT c_custkey, c_acctbal,
           CAST(CAST(('0x' || substr(
                    md5(CAST(c_custkey AS VARCHAR) || '|cv0'), 1, 15))
                AS BIGINT) % 5 AS INTEGER) AS fold
    FROM customer
)
GROUP BY fold
ORDER BY fold
""",
)
def cv_fold_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-fold census of the PORTABLE content-hash k-fold assignment
    (``ml.cv.fold_assignments(portable=True)``): row count, mean
    account balance, and key extrema per fold.  The oracle RECOMPUTES
    fold membership from scratch via the md5 twin — the leakage-audit
    property the cv module promises ("any engine can recompute
    membership") demonstrated literally: DuckDB independently assigns
    every row and must land the identical 5-way partition.

    Scale shape: assignment is a codegen'd scan projection (md5 + mod,
    no shuffle, no assignment table); the census is one hash
    aggregation over 5 groups."""
    from big_data_lab_three_spark.ml.cv import fold_assignments

    c = table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    folded = fold_assignments(c, k=5, key_cols=["c_custkey"], portable=True)
    return (
        folded.groupBy("fold")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("c_acctbal"), 4).alias("avg_bal"),
            F.min("c_custkey").alias("min_key"),
            F.max("c_custkey").alias("max_key"),
        )
        .orderBy("fold")
    )


@register(
    "weighted_sample_topk",
    ids="sampling: Efraimidis-Spirakis weighted without-replacement",
    oracle="""
SELECT doc_id, n_chars
FROM documents
WHERE n_chars > 0
ORDER BY ln((CAST(CAST(('0x' || substr(
                 md5(CAST(doc_id AS VARCHAR) || 'es1'), 1, 15))
             AS BIGINT) AS DOUBLE) + 1.0) / 1152921504606846976.0)
         / CAST(n_chars AS DOUBLE) DESC,
         doc_id
LIMIT 50
""",
)
def weighted_sample_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A 50-document weighted sample ∝ ``n_chars`` via the
    deterministic Efraimidis-Spirakis operator
    (``operators.relational.weighted_sample``) — the training-data-mix
    primitive ("sample documents proportional to quality/length").
    The md5-derived priorities are a pure function of the data, so the
    oracle re-derives the SAME sample independently: u from the first
    15 md5 hex digits (+1, /16^15 ∈ (0,1]), priority ln(u)/w, top-k.

    Scale shape: priority is one scan projection; top-k is
    TakeOrderedAndProject (per-partition heaps, then a k-row merge) —
    never a global sort or window over the corpus (plan-pinned)."""
    from big_data_lab_three_spark.operators.relational import weighted_sample

    d = table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return weighted_sample(
        d, 50, weight_col="n_chars", key_cols=["doc_id"], seed="es1"
    )


#: Pixel-generation formulas (doc_id, pixel_index) -> 0..255, one per
#: query so their stats differ; each must stay expressible in ANSI SQL.
_PIXELS_STATS = (31, 7)  # png_pixel_stats: (id*31 + i*7) % 256
_PIXELS_INGEST = (17, 5)  # media_ingest_stats: (id*17 + i*5) % 256
_SIDE = 8  # 8x8 grayscale images, 64 samples each


def _png_payload(doc_id: int, mults: tuple[int, int]) -> bytes:
    """Deterministic 8×8 grayscale PNG for a doc id — pixel i is
    ``(doc_id·a + i·b) mod 256``, a formula the DuckDB oracle evaluates
    directly (PNG is lossless, so decode ∘ encode is the identity and
    pixel statistics are computable WITHOUT a SQL-side decoder)."""
    import numpy as np

    from big_data_lab_three_spark.multimodal.png import encode_png

    a, b = mults
    i = np.arange(_SIDE * _SIDE, dtype=np.int64)
    px = ((doc_id * a + i * b) % 256).astype(np.uint8).reshape(_SIDE, _SIDE)
    return encode_png(px)


def _media_frame_pngs(docs: DataFrame) -> DataFrame:
    """documents(doc_id) -> MEDIA_SCHEMA rows with real PNG payloads."""
    from big_data_lab_three_spark.multimodal.media import MEDIA_SCHEMA

    def gen(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        import pandas as pd

        for b in batches:
            if len(b) == 0:
                continue
            payloads = [
                _png_payload(int(did), _PIXELS_STATS) for did in b["doc_id"]
            ]
            yield pd.DataFrame(
                {
                    "media_id": b["doc_id"].astype("int64"),
                    "media_type": "image",
                    "payload": payloads,
                    "meta": [
                        {
                            "codec": "image/png",
                            "width": _SIDE,
                            "height": _SIDE,
                            "sample_rate": None,
                            "duration_ms": None,
                            "n_bytes": len(p),
                        }
                        for p in payloads
                    ],
                }
            )

    return docs.select("doc_id").mapInPandas(gen, MEDIA_SCHEMA)


@register(
    "png_pixel_stats",
    ids="multimodal: REAL PNG decode (vendored codec) with value oracle",
    oracle="""
SELECT CAST(doc_id % 4 AS INTEGER) AS bucket,
       CAST(count(*) AS BIGINT) AS n_imgs,
       CAST(sum(n_px) AS BIGINT) AS total_samples,
       round(avg(m), 6) AS avg_level,
       round(min(m), 6) AS min_level,
       round(max(m), 6) AS max_level
FROM (
    SELECT d.doc_id,
           count(*) AS n_px,
           avg((d.doc_id * 31 + t.i * 7) % 256) AS m
    FROM documents d, range(64) t(i)
    GROUP BY d.doc_id
)
GROUP BY bucket
ORDER BY bucket
""",
)
def png_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end REAL image decode with a full value oracle: every
    document becomes an 8×8 grayscale PNG (pixel i =
    ``(doc_id·31 + i·7) mod 256``) encoded by the vendored pure-Python
    codec, shipped as a binary payload through the standard
    ``multimodal.decode_media`` Arrow stage (PNG parse → inflate →
    unfilter → grayscale samples — Pillow when importable, vendored
    codec otherwise, identical values either way since grayscale PNG is
    lossless), then bucket-aggregated.  The oracle evaluates the pixel
    formula directly in SQL — no decoder needed — so any corruption
    anywhere in encode, Arrow binary transfer, decode, or the stats
    arithmetic breaks the hash.

    Scale shape: two Arrow-batched ``mapInPandas`` stages (encode,
    decode) with no shuffle between them — blobs never shuffle; the
    only exchange carries (bucket, partial aggregates)."""
    from big_data_lab_three_spark.multimodal.decode import decode_media

    docs = table(spark, sf_dir, "documents", spread_ok=False)
    dec = decode_media(_media_frame_pngs(docs))
    return (
        dec.groupBy((F.col("media_id") % 4).cast("int").alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_imgs"),
            F.sum("n_samples").cast("bigint").alias("total_samples"),
            F.round(F.avg("mean_level"), 6).alias("avg_level"),
            F.round(F.min("mean_level"), 6).alias("min_level"),
            F.round(F.max("mean_level"), 6).alias("max_level"),
        )
        .orderBy("bucket")
    )


@register(
    "media_ingest_stats",
    ids="multimodal: binaryFile ingest -> real decode, value oracle",
    oracle="""
SELECT CAST(count(*) AS BIGINT) AS n_files,
       CAST(sum(n_px) AS BIGINT) AS total_samples,
       round(avg(m), 6) AS avg_level,
       round(min(m), 6) AS min_level,
       round(max(m), 6) AS max_level
FROM (
    SELECT d.doc_id,
           count(*) AS n_px,
           avg((d.doc_id * 17 + t.i * 5) % 256) AS m
    FROM documents d, range(64) t(i)
    WHERE d.doc_id < 200
    GROUP BY d.doc_id
)
""",
)
def media_ingest_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ingest half of the multimodal pipeline, end to end with a
    value oracle: 200 deterministic PNG files (pixel i =
    ``(doc_id·17 + i·5) mod 256``) are written to a scratch directory
    by the EXECUTORS (``foreachPartition`` — the distributed shape;
    no driver-side file loop), ingested back through the ``binaryFile``
    source (``sources.read_media_dir``: one row per file, codec from
    extension), decoded by the real PNG path, and profiled.  The oracle
    recomputes the corpus profile from the pixel formula — count, total
    samples, and the exact min/mean/max of the per-image means — so a
    byte lost anywhere in encode → file → binaryFile → decode breaks
    the hash.

    The scratch dir is per-process AND per-SF (concurrent gates and
    multi-SF processes never cross-read); rewrites are idempotent —
    identical bytes — so re-listing a warm dir is safe."""
    import tempfile

    from big_data_lab_three_spark.multimodal.decode import decode_media
    from big_data_lab_three_spark.sources.readers import read_media_dir

    out = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_media_{os.getpid()}_{os.path.basename(sf_dir)}",
    )
    os.makedirs(out, exist_ok=True)

    def write_part(rows) -> None:
        for r in rows:
            payload = _png_payload(int(r.doc_id), _PIXELS_INGEST)
            path = os.path.join(out, f"doc_{int(r.doc_id):05d}.png")
            with open(path, "wb") as f:
                f.write(payload)

    docs = table(spark, sf_dir, "documents", spread_ok=False)
    docs.select("doc_id").where(F.col("doc_id") < 200).foreachPartition(
        write_part
    )
    dec = decode_media(read_media_dir(spark, out))
    return dec.agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum("n_samples").cast("bigint").alias("total_samples"),
        F.round(F.avg("mean_level"), 6).alias("avg_level"),
        F.round(F.min("mean_level"), 6).alias("min_level"),
        F.round(F.max("mean_level"), 6).alias("max_level"),
    )


@register(
    "dup_cluster_census",
    ids="dedup: exact-duplicate cluster-size census (linear oracle — the sf1-verifiable dedup shape)",
    oracle="""
SELECT sz,
       CAST(count(*) AS BIGINT) AS n_clusters,
       CAST(sum(sz) AS BIGINT) AS n_docs
FROM (
    SELECT CAST(count(*) AS BIGINT) AS sz
    FROM (
        SELECT text FROM documents
        UNION ALL
        SELECT text FROM documents WHERE doc_id % 7 = 0
    )
    GROUP BY md5(text)
)
GROUP BY sz
ORDER BY sz
""",
)
def dup_cluster_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplicate cluster-size distribution — the first dedup
    report every corpus audit produces (how much of the corpus is
    copies, and in how large cliques).  A seeded replica of every 7th
    document guarantees multi-member clusters at every SF; natural
    duplicates (sf0.1 has 8) fold in identically on both engines.

    Unlike the near-dup family, BOTH sides of this check are linear —
    digest groupBy, then a size rollup — so it is the dedup query that
    runs the full value oracle at the sf1 tier (where the replicated
    texts make all-pairs ground truths quadratic; see EXPERIMENTS.md).

    Scale shape: the first exchange carries 16-byte digests (never
    text), partial-aggregated map-side; the second carries
    |distinct sizes| rows."""
    d = table(spark, sf_dir, "documents", spread_ok=False)
    seeded = d.select("text").unionByName(
        d.where(F.col("doc_id") % 7 == 0).select("text")
    )
    sizes = seeded.groupBy(
        F.md5(F.encode(F.col("text"), "UTF-8")).alias("_d")
    ).agg(F.count(F.lit(1)).alias("sz"))
    return (
        sizes.groupBy("sz")
        .agg(
            F.count(F.lit(1)).alias("n_clusters"),
            F.sum("sz").alias("n_docs"),
        )
        .orderBy("sz")
    )


_DIM = 64  # embeddings fixture dimension (pinned by array_funcs_census)
_CENTROID_ORACLE = """
SELECT label,
       CAST(count(*) AS BIGINT) AS n_vecs,
       round(sqrt({norm_terms}), 4) AS centroid_norm,
       round(({mean_terms}) / {dim}, 4) AS centroid_mean,
       round(greatest({avg_terms}), 4) AS centroid_max
FROM embeddings
GROUP BY label
ORDER BY label
""".format(
    norm_terms=" + ".join(
        f"pow(avg(embedding[{i}]), 2)" for i in range(1, _DIM + 1)
    ),
    mean_terms=" + ".join(
        f"avg(embedding[{i}])" for i in range(1, _DIM + 1)
    ),
    avg_terms=", ".join(
        f"avg(embedding[{i}])" for i in range(1, _DIM + 1)
    ),
    dim=float(_DIM),
)


@register(
    "label_centroids",
    ids="vector: per-label centroid aggregation without explode (class prototypes / drift monitoring)",
    oracle=_CENTROID_ORACLE,
)
def label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids — the class-prototype /
    drift-monitoring aggregate (and k-means' update step): elementwise
    mean over every vector of a label, reported as centroid norm, mean
    component, and max component.

    Scale shape: the naive plan explodes 64× the row count and
    shuffles (label, dim) pairs; here each dimension is its own
    ``avg(element_at(v, i))`` inside ONE hash aggregate — 64 parallel
    aggregates, partial-combined map-side, pure codegen, no explode,
    one |labels|-group exchange.  The oracle spells the identical 64
    per-dimension averages in SQL, so the elementwise arithmetic is
    value-checked end to end (the derived norm/mean/max are rounded:
    per-dimension sums commute differently across engines)."""
    e = table(spark, sf_dir, "embeddings")
    v = F.col("embedding")
    avgs = [
        F.avg(F.element_at(v, i).cast("double")).alias(f"_a{i}")
        for i in range(1, _DIM + 1)
    ]
    acols = [F.col(f"_a{i}") for i in range(1, _DIM + 1)]
    norm = None
    mean = None
    for c in acols:
        norm = F.pow(c, 2) if norm is None else norm + F.pow(c, 2)
        mean = c if mean is None else mean + c
    agg = e.groupBy("label").agg(F.count(F.lit(1)).alias("n_vecs"), *avgs)
    return agg.select(
        "label",
        "n_vecs",
        F.round(F.sqrt(norm), 4).alias("centroid_norm"),
        F.round(mean / F.lit(float(_DIM)), 4).alias("centroid_mean"),
        F.round(F.greatest(*acols), 4).alias("centroid_max"),
    ).orderBy("label")


@register(
    "group_weighted_sample",
    ids="sampling: per-stratum Efraimidis-Spirakis (fixed per-language budgets, weighted within)",
    oracle="""
SELECT lang, doc_id, n_chars
FROM (
    SELECT lang, doc_id, n_chars,
           row_number() OVER (
               PARTITION BY lang
               ORDER BY ln((CAST(CAST(('0x' || substr(
                                md5(CAST(doc_id AS VARCHAR) || 'es1'),
                                1, 15)) AS BIGINT) AS DOUBLE) + 1.0)
                           / 1152921504606846976.0)
                        / CAST(n_chars AS DOUBLE) DESC,
                        doc_id
           ) AS rn
    FROM documents
    WHERE n_chars > 0
)
WHERE rn <= 5
ORDER BY lang, doc_id
""",
)
def group_weighted_sample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Five documents PER LANGUAGE sampled ∝ ``n_chars`` — the
    stratified data-mix primitive (fixed per-stratum budgets, weighted
    selection within each stratum) via
    ``operators.relational.group_weighted_sample``.  The oracle
    re-derives the identical per-language samples from the md5
    priority formula with its own window.

    Scale shape: one exchange keyed on the strata for the
    ``row_number`` window; priorities are a scan projection (see the
    operator docstring for the few-huge-strata pre-prune idiom)."""
    from big_data_lab_three_spark.operators.relational import (
        group_weighted_sample,
    )

    d = table(spark, sf_dir, "documents").select("lang", "doc_id", "n_chars")
    return group_weighted_sample(
        d, 5, weight_col="n_chars", key_cols=["doc_id"],
        group_cols=["lang"], seed="es1",
    ).orderBy("lang", "doc_id")


@register(
    "simhash_band_census",
    ids="dedup: SimHash pigeonhole bucket-size census (linear oracle — the sf1-scale witness for the simhash family)",
    oracle="""
WITH base AS (
  SELECT doc_id AS id, text FROM documents
  UNION ALL
  SELECT doc_id + 3000000, text FROM documents WHERE doc_id % 7 = 0
), tok AS (
  SELECT id, list_filter(regexp_split_to_array(text, '\\s+'),
                         x -> x != '') AS toks
  FROM base
), sh AS (
  SELECT id,
         unnest([array_to_string(toks[i:i+2], ' ')
                 for i in range(1, len(toks) - 1)]) AS s
  FROM tok
), h AS (
  SELECT id, CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) AS h FROM sh
), votes AS (
  SELECT id, g.b AS b,
         sum(CASE WHEN (h >> g.b) & 1 = 1 THEN 1 ELSE -1 END) AS c
  FROM h CROSS JOIN generate_series(0, 59) AS g(b)
  GROUP BY id, g.b
), sig AS (
  SELECT id,
         CAST(sum(CASE WHEN c > 0 THEN CAST(1 AS BIGINT) << b
                       ELSE 0 END) AS BIGINT) AS sig
  FROM votes GROUP BY id
), keys AS (
  SELECT id, CAST(g.t AS INTEGER) AS t,
         (sig >> (g.t * 15)) & 32767 AS k
  FROM sig CROSS JOIN generate_series(0, 3) AS g(t)
), buckets AS (
  SELECT t, k, count(*) AS sz FROM keys GROUP BY t, k
)
SELECT t, CAST(sz AS BIGINT) AS bucket_size,
       CAST(count(*) AS BIGINT) AS n_buckets,
       CAST(sum(sz) AS BIGINT) AS n_docs
FROM buckets
GROUP BY t, sz
ORDER BY t, bucket_size
""",
)
def simhash_band_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket-size distribution of the SimHash pigeonhole tables over
    the FULL corpus (+ exact-duplicate seeds, ``doc_id % 7``): per
    table ``t`` (4 tables keyed on one 15-bit signature segment), how
    many buckets hold 1, 2, … documents.

    This is the LINEAR-oracle witness for the simhash family at large
    SF: ``dedup_simhash``'s all-pairs oracle goes quadratic on sf1's
    10×-replicated texts, while this census recomputes the 60-bit
    md5-portable signatures AND the exact bucket structure with one
    GROUP BY per stage — docs × shingles work on both engines, no pair
    join anywhere.  A value-hash match pins signature bits and
    candidate-generation keying end-to-end; the pair stage it omits is
    exactly the part ``dedup_simhash`` already value-checks at driver
    scale.

    Scale shape: explode + two hash-aggregates; shuffles carry
    (id, 60 counters) then (t, k) longs — never text.  The exact-copy
    seeds guarantee size-≥2 buckets in every table at every SF."""
    from big_data_lab_three_spark.operators.dedup import (
        simhash_bucket_keys,
        simhash_signatures,
    )

    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    seeded = d.unionByName(
        d.where(F.col("doc_id") % 7 == 0).select(
            (F.col("doc_id") + 3000000).alias("doc_id"), "text"
        )
    )
    sigs = simhash_signatures(seeded, shingle_k=3)
    keyed = simhash_bucket_keys(sigs, max_hamming=3)
    buckets = keyed.groupBy("t", "k").agg(F.count(F.lit(1)).alias("sz"))
    return (
        buckets.groupBy("t", F.col("sz").alias("bucket_size"))
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.sum("sz").alias("n_docs"),
        )
        .orderBy("t", "bucket_size")
    )


@register(
    "minhash_band_census",
    ids="dedup: portable-MinHash band bucket-size census (linear oracle — the sf1-scale witness for the minhash family)",
    oracle="""
WITH base AS (
  SELECT doc_id AS id, text FROM documents
  UNION ALL
  SELECT doc_id + 3000000, text || ' zzz'
  FROM documents WHERE doc_id % 7 = 0
), tok AS (
  SELECT id, list_filter(regexp_split_to_array(text, '\\s+'),
                         x -> x != '') AS toks
  FROM base
), sh AS (
  SELECT id,
         unnest([array_to_string(toks[i:i+2], ' ')
                 for i in range(1, len(toks) - 1)]) AS s
  FROM tok
), hp AS (
  SELECT id, g.i AS i,
         CAST(('0x' || substr(md5(s || '|' || CAST(g.i AS VARCHAR)),
                              1, 15)) AS BIGINT) AS h
  FROM sh CROSS JOIN generate_series(0, 7) AS g(i)
), sig AS (
  SELECT id,
         min(h) FILTER (WHERE i = 0) AS m0,
         min(h) FILTER (WHERE i = 1) AS m1,
         min(h) FILTER (WHERE i = 2) AS m2,
         min(h) FILTER (WHERE i = 3) AS m3,
         min(h) FILTER (WHERE i = 4) AS m4,
         min(h) FILTER (WHERE i = 5) AS m5,
         min(h) FILTER (WHERE i = 6) AS m6,
         min(h) FILTER (WHERE i = 7) AS m7
  FROM hp GROUP BY id
), banded AS (
  SELECT id, b.band AS band,
         CAST(('0x' || substr(md5(
             CASE b.band
               WHEN 0 THEN CAST(m0 AS VARCHAR) || ',' || CAST(m1 AS VARCHAR)
               WHEN 1 THEN CAST(m2 AS VARCHAR) || ',' || CAST(m3 AS VARCHAR)
               WHEN 2 THEN CAST(m4 AS VARCHAR) || ',' || CAST(m5 AS VARCHAR)
               ELSE CAST(m6 AS VARCHAR) || ',' || CAST(m7 AS VARCHAR)
             END), 1, 15)) AS BIGINT) AS k
  FROM sig CROSS JOIN (VALUES (0), (1), (2), (3)) AS b(band)
), buckets AS (
  SELECT band, k, count(*) AS sz FROM banded GROUP BY band, k
)
SELECT CAST(band AS INTEGER) AS band, CAST(sz AS BIGINT) AS bucket_size,
       CAST(count(*) AS BIGINT) AS n_buckets,
       CAST(sum(sz) AS BIGINT) AS n_docs
FROM buckets
GROUP BY band, sz
ORDER BY band, bucket_size
""",
)
def minhash_band_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket-size distribution of MinHash LSH bands over the FULL
    corpus (+ near-duplicate seeds: ``doc_id % 7`` copies with one
    appended token) using the ENGINE-PORTABLE md5 minhash
    (``operators.dedup.portable_minhash_signatures``, 8 perms → 4
    bands × 2 rows).

    This is the LINEAR-oracle witness for the minhash family at large
    SF: the production pipeline's correctness oracle
    (``dedup_minhash_lsh``) is the exact all-pairs Jaccard — quadratic
    on sf1's replicated texts — while this census recomputes signatures
    and band buckets with docs × shingles × perms work only.  A
    value-hash match pins the shingle→minhash→band keying exactly;
    near-dup seeds make the histogram discriminating (a one-token edit
    preserves some band minima but not others, so seeded pairs collide
    in SOME bands — sizes 2+ — while unrelated docs stay singletons).

    Scale shape: explode to (id, shingle, perm), ONE map-side-combining
    hash-aggregate to 8 minima per doc, band keys as a projection, then
    two small GROUP BYs; shuffles carry ids + longs, never text."""
    from big_data_lab_three_spark.operators.dedup import (
        portable_minhash_signatures,
    )

    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    seeded = d.unionByName(
        d.where(F.col("doc_id") % 7 == 0).select(
            (F.col("doc_id") + 3000000).alias("doc_id"),
            F.concat("text", F.lit(" zzz")).alias("text"),
        )
    )
    sig = portable_minhash_signatures(seeded, num_perms=8, shingle_k=3)
    bands = [
        F.struct(
            F.lit(b).alias("band"),
            F.conv(
                F.substring(
                    F.md5(F.concat_ws(",", f"m{2 * b}", f"m{2 * b + 1}")),
                    1,
                    15,
                ),
                16,
                10,
            )
            .cast("long")
            .alias("k"),
        )
        for b in range(4)
    ]
    banded = sig.select(
        "id", F.explode(F.array(*bands)).alias("bk")
    ).select("id", F.col("bk.band").alias("band"), F.col("bk.k").alias("k"))
    buckets = banded.groupBy("band", "k").agg(
        F.count(F.lit(1)).alias("sz")
    )
    return (
        buckets.groupBy("band", F.col("sz").alias("bucket_size"))
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.sum("sz").alias("n_docs"),
        )
        .orderBy("band", "bucket_size")
    )


@register(
    "ivf_assign_census",
    ids="similarity: content-keyed nearest-centroid assignment census (linear oracle — the sf1-scale witness for the IVF family)",
    oracle="""
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings
), s AS (
  SELECT vec_id AS seed_id, CAST(embedding AS DOUBLE[]) AS sv
  FROM embeddings WHERE vec_id < 8
), sc AS (
  SELECT vec_id, seed_id,
         round(list_dot_product(ev, sv)
               / (sqrt(list_dot_product(ev, ev))
                  * sqrt(list_dot_product(sv, sv))), 6) AS cq
  FROM v CROSS JOIN s
), best AS (
  SELECT vec_id, seed_id, cq,
         row_number() OVER (
             PARTITION BY vec_id ORDER BY cq DESC, seed_id ASC) AS rn
  FROM sc
)
SELECT seed_id AS cluster_id,
       CAST(count(*) AS BIGINT) AS n_vecs,
       round(CAST(sum(CAST(round(cq * 1000000.0) AS BIGINT)) AS DOUBLE)
             / count(*) / 1000000.0, 4) AS avg_cos,
       min(vec_id) AS min_vec,
       max(vec_id) AS max_vec
FROM best WHERE rn = 1
GROUP BY seed_id
ORDER BY cluster_id
""",
)
def ivf_assign_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse-quantizer assignment census with a CONTENT-KEYED
    codebook: the 8 centroids are the embeddings with ``vec_id < 8``
    (deterministic, recomputable by any engine — no sampled k-means
    state), every vector is assigned to its max-cosine centroid
    (tie → lowest seed), and the output is per-cluster size, mean
    cosine, and vec_id extrema.

    This is the LINEAR-oracle witness for the IVF/ANN family at large
    SF: the recall-audit oracles (``similarity_ivf``/``_pq``) need the
    exact all-pairs baseline — quadratic — while this census costs
    rows × 8 on both engines and pins the distributed
    nearest-centroid assignment (the partitioning step every IVF build
    rests on) with a full value oracle.  Cosines are quantized to 6
    decimals BEFORE the argmax on both sides so the comparison is
    engine-portable; cross-centroid gaps sit far above 1e-6 for random
    vectors, and exact quantized ties fall to the seed-id tiebreak.
    ``avg_cos`` is aggregated EXACTLY from the quantized values —
    ``sum(round(cq·1e6) as long)`` (order-independent integer sum) then
    one double division per group — because a float ``avg`` has
    nondeterministic partial-sum order and a group mean near a 5e-5
    rounding boundary could flip the 4th decimal between engines.

    Scale shape: the 8-row codebook broadcasts; the ×8 expansion is
    collapsed by a map-side-combining ``max(struct)`` partial aggregate
    BEFORE the only wide exchange, which carries one
    (vec_id, cq, seed) row per vector; the census aggregate is 8 rows.
    At 100 TB this is exactly the IVF build's assignment pass."""
    return (
        _nearest_seed(spark, sf_dir)
        .select(
            "vec_id",
            "cluster_id",
            F.round(F.col("cq") * 1e6).cast("long").alias("cql"),
        )
        .groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(
                F.sum("cql").cast("double")
                / F.count(F.lit(1))
                / F.lit(1000000.0),
                4,
            ).alias("avg_cos"),
            F.min("vec_id").alias("min_vec"),
            F.max("vec_id").alias("max_vec"),
        )
        .orderBy("cluster_id")
    )


@register(
    "embedding_sign_census",
    ids="dedup: hyperplane-sign bucket census over embeddings (linear oracle — the sf1-scale witness for embedding-LSH)",
    oracle="""
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings
), s AS (
  SELECT vec_id AS seed_id, CAST(embedding AS DOUBLE[]) AS sv
  FROM embeddings WHERE vec_id < 8
), bits AS (
  SELECT vec_id, seed_id,
         CASE WHEN list_dot_product(ev, sv) > 0
              THEN CAST(1 AS BIGINT) << CAST(seed_id AS INTEGER)
              ELSE 0 END AS bit
  FROM v CROSS JOIN s
), keys AS (
  SELECT vec_id, CAST(sum(bit) AS BIGINT) AS bucket
  FROM bits GROUP BY vec_id
), buckets AS (
  SELECT bucket, count(*) AS sz FROM keys GROUP BY bucket
)
SELECT CAST(sz AS BIGINT) AS bucket_size,
       CAST(count(*) AS BIGINT) AS n_buckets,
       CAST(sum(sz) AS BIGINT) AS n_vecs,
       CAST(min(bucket) AS BIGINT) AS min_bucket,
       CAST(max(bucket) AS BIGINT) AS max_bucket
FROM buckets
GROUP BY sz
ORDER BY bucket_size
""",
)
def embedding_sign_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH bucket-size census over embeddings with
    CONTENT-DERIVED hyperplanes: the normals are the 8 embeddings with
    ``vec_id < 8`` (no RNG state to share with the oracle), a vector's
    bucket is the 8-bit sign pattern of its dot products against them,
    and the output is the bucket-size histogram plus bucket-id extrema.

    This is the LINEAR-oracle witness for the embedding-LSH near-dup
    family at large SF: ``dedup_embedding``'s all-pairs cosine oracle
    goes quadratic on sf1's 10×-replicated vectors, while this census
    costs rows × 8 dot products on both engines and pins the
    sign-bucket structure that hyperplane LSH
    (``operators.similarity.hyperplane_keys``) rests on — identical
    vectors land in identical buckets, so sf1's replication shows up as
    size-≥10 buckets in the histogram.

    Sign portability: a dot product is identically zero only for
    orthogonal-by-construction data (random floats: never), so
    ``> 0`` agrees across engines despite summation-order ULPs.

    Scale shape: 8-row broadcast, ×8 expansion collapsed by map-side
    partial ``sum`` before the per-vector exchange, then two tiny
    aggregates; shuffles carry (vec_id, long) pairs only."""
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("ev")
    )
    seeds = e.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("seed_id"), F.col("ev").alias("sv")
    )

    bit = F.when(
        _dot(F.col("ev"), F.col("sv")) > 0,
        # SQL shiftleft takes a column shift amount (the DataFrame
        # helper F.shiftleft only accepts a Python int)
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(seed_id AS INT))"),
    ).otherwise(F.lit(0).cast("long"))
    keys = (
        e.crossJoin(F.broadcast(seeds))
        .select("vec_id", bit.alias("bit"))
        .groupBy("vec_id")
        .agg(F.sum("bit").alias("bucket"))
    )
    buckets = keys.groupBy("bucket").agg(F.count(F.lit(1)).alias("sz"))
    return (
        buckets.groupBy(F.col("sz").alias("bucket_size"))
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.sum("sz").alias("n_vecs"),
            F.min("bucket").alias("min_bucket"),
            F.max("bucket").alias("max_bucket"),
        )
        .orderBy("bucket_size")
    )


@register(
    "cc_chain_census",
    ids="dedup: planted-chain connected-components census (linear oracle — the sf1-scale witness for iterative CC)",
    oracle="""
WITH m AS (
  SELECT CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
              AS BIGINT) % 97 AS b,
         count(*) AS sz, min(doc_id) AS mn
  FROM documents
  GROUP BY 1
  HAVING count(*) >= 2
)
SELECT CAST(sz AS BIGINT) AS cluster_size,
       CAST(count(*) AS BIGINT) AS n_clusters,
       CAST(sum(sz) AS BIGINT) AS n_docs,
       CAST(sum(mn) AS BIGINT) AS sum_cluster_id
FROM m GROUP BY sz ORDER BY cluster_size
""",
)
def cc_chain_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Planted-CHAIN census for the large-star/small-star connected
    components: every document is assigned a bucket by portable md5
    arithmetic, consecutive doc_ids within a bucket are linked into a
    PATH graph (diameter = bucket size — the worst case for label
    propagation, the exact shape the O(log n) contraction exists for),
    the REAL ``connected_components_star`` operator resolves the
    components, and the output is the cluster-size histogram with the
    sum of canonical labels.

    This is the LINEAR-oracle witness for the iterative-CC family at
    large SF: ``dedup_clusters``/``_star``'s ground-truth oracle is a
    recursive-CTE transitive closure over all-pairs Jaccard — quadratic
    on sf1's corpus — while here the planted components ARE the md5
    buckets, so the oracle just groups by bucket: size = bucket count,
    canonical label = bucket min.  ``sum_cluster_id`` pins the actual
    labels the operator emitted (any mislabeled node changes the sum),
    not just the size distribution; singleton buckets produce no edge
    and are excluded on both sides.

    Scale shape: the edge build is one window ``lag`` over
    (bucket, doc_id); the iteration runs on the pair-bounded edge table
    at pinned loop width (see ``connected_components_star``) and
    converges in O(log diameter) contraction rounds — ~500-long chains
    at sf1 resolve in ~10 rounds where propagation would need 500."""
    from pyspark.sql.window import Window

    from big_data_lab_three_spark.operators.dedup import (
        connected_components_star,
    )

    d = table(spark, sf_dir, "documents").select("doc_id")
    b = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15),
            16,
            10,
        ).cast("long")
        % 97
    )
    keyed = d.select("doc_id", b.alias("b"))
    w = Window.partitionBy("b").orderBy("doc_id")
    edges = keyed.select(
        F.lag("doc_id").over(w).alias("id_a"),
        F.col("doc_id").alias("id_b"),
    ).where(F.col("id_a").isNotNull())
    labels = connected_components_star(edges, max_iters=40)
    sizes = labels.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("sz")
    )
    return (
        sizes.groupBy(F.col("sz").alias("cluster_size"))
        .agg(
            F.count(F.lit(1)).alias("n_clusters"),
            F.sum("sz").alias("n_docs"),
            F.sum("cluster_id").alias("sum_cluster_id"),
        )
        .orderBy("cluster_size")
    )


@register(
    "cc_star_census",
    ids="dedup: planted-star connected-components census (linear oracle — min-label propagation witness)",
    oracle="""
WITH m AS (
  SELECT CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 's'), 1, 15))
              AS BIGINT) % 53 AS b,
         count(*) AS sz, min(doc_id) AS mn
  FROM documents
  GROUP BY 1
  HAVING count(*) >= 2
)
SELECT CAST(sz AS BIGINT) AS cluster_size,
       CAST(count(*) AS BIGINT) AS n_clusters,
       CAST(sum(sz) AS BIGINT) AS n_docs,
       CAST(sum(mn) AS BIGINT) AS sum_cluster_id
FROM m GROUP BY sz ORDER BY cluster_size
""",
)
def cc_star_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Planted-STAR census for min-label-propagation connected
    components — the complement of ``cc_chain_census``: documents are
    bucketed by (differently-salted) md5 arithmetic, every non-minimum
    member is linked directly to its bucket's minimum id (a STAR —
    diameter 2, the shallow shape near-dup cliques collapse to, where
    propagation converges in 2 rounds), the REAL
    ``connected_components`` operator labels the graph, and the output
    is the same histogram + label-sum census.

    Together the two censuses give BOTH independent CC implementations
    a linear-oracle witness at sf1 on their respective favorable
    shapes, value-pinning emitted labels (via ``sum_cluster_id``)
    against planted ground truth the oracle derives by grouping — no
    transitive closure anywhere.

    Scale shape: hub extraction is one groupBy(min) over (bucket, id)
    pairs, broadcast back over the bucket key; the propagation loop
    touches only the edge table at pinned loop width."""
    from big_data_lab_three_spark.operators.dedup import (
        connected_components,
    )

    d = table(spark, sf_dir, "documents").select("doc_id")
    b = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("s"))),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        % 53
    )
    keyed = d.select("doc_id", b.alias("b"))
    hubs = keyed.groupBy("b").agg(F.min("doc_id").alias("hub"))
    edges = (
        keyed.join(F.broadcast(hubs), "b")
        .where(F.col("doc_id") != F.col("hub"))
        .select(F.col("hub").alias("id_a"), F.col("doc_id").alias("id_b"))
    )
    labels = connected_components(edges)
    sizes = labels.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("sz")
    )
    return (
        sizes.groupBy(F.col("sz").alias("cluster_size"))
        .agg(
            F.count(F.lit(1)).alias("n_clusters"),
            F.sum("sz").alias("n_docs"),
            F.sum("cluster_id").alias("sum_cluster_id"),
        )
        .orderBy("cluster_size")
    )


@register(
    "jaccard_pair_census",
    ids="dedup: planted-pair exact n-gram Jaccard census (linear oracle — the sf1-scale witness for the Jaccard rescore)",
    oracle="""
WITH seeds AS (
  SELECT doc_id AS id, text, 'hi' AS level, text || ' zzz' AS vtext
  FROM documents WHERE doc_id % 7 = 0
  UNION ALL
  SELECT doc_id, text, 'lo', text || ' qq rr ss tt ww vv uu aa'
  FROM documents WHERE doc_id % 7 = 3
), tok AS (
  SELECT id, level,
         list_filter(regexp_split_to_array(text, '\\s+'),
                     x -> x != '') AS ta,
         list_filter(regexp_split_to_array(vtext, '\\s+'),
                     x -> x != '') AS tb
  FROM seeds
), sets AS (
  SELECT id, level,
         list_distinct([array_to_string(ta[i:i+2], ' ')
                        for i in range(1, len(ta) - 1)]) AS sha,
         list_distinct([array_to_string(tb[i:i+2], ' ')
                        for i in range(1, len(tb) - 1)]) AS shb
  FROM tok
  WHERE len(ta) >= 3
), j AS (
  SELECT id, level,
         CAST(len(list_intersect(sha, shb)) AS DOUBLE)
           / len(list_distinct(list_concat(sha, shb))) AS jac
  FROM sets
)
SELECT level, CAST(floor(jac * 20) AS INTEGER) AS band,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(id) AS BIGINT) AS sum_id_a,
       CAST(sum(CAST(round(jac * 1000000.0) AS BIGINT)) AS BIGINT)
         AS sum_j_micro
FROM j GROUP BY level, band ORDER BY level, band
""",
)
def jaccard_pair_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Planted-pair exact-Jaccard census: two mutation levels are
    seeded over the corpus (``doc_id % 7 == 0`` → one appended token,
    J ≈ n/(n+2); ``doc_id % 7 == 3`` → eight appended tokens,
    J ≈ n/(n+10)), each (original, variant) pair is rescored with the
    REAL shingle pipeline (``functions.text.tokens``/``shingles`` +
    array_intersect/union — the exact expressions
    ``ngram_jaccard_pairs`` and the MinHash rescore stage evaluate),
    and the census reports per (level, 0.05-wide Jaccard band): pair
    count, sum of original ids, and the EXACT integer sum of the
    µ-quantized Jaccards.

    This is the LINEAR-oracle witness for the Jaccard family at large
    SF: ``dedup_ngram_jaccard``/``near_dedup_apply``'s oracles join all
    pairs — quadratic — while the planted pairs here are keyed by id
    arithmetic, so both engines do docs/7 × 2 set comparisons.
    ``sum_j_micro`` is an order-independent sum of
    ``round(J·1e6)`` longs, so a single pair's Jaccard deviating
    anywhere in the corpus breaks the hash — per-pair exactness with an
    aggregate-sized result.  The quantized values are deterministic
    cross-engine: each J is ONE int/int double division (correctly
    rounded, no aggregation-order dependence).

    Scale shape: the rescore is an id-equi-join of the variant
    shingle-set table against the base table — the same key→payload
    lookup shape as ``minhash_lsh_pairs``' rescore stage — followed by
    a two-level aggregate; no pair explosion anywhere."""
    from big_data_lab_three_spark.functions.text import shingles, tokens

    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    hi = d.where(F.col("doc_id") % 7 == 0).select(
        F.col("doc_id").alias("orig_id"),
        F.lit("hi").alias("level"),
        F.concat(F.col("text"), F.lit(" zzz")).alias("vtext"),
    )
    lo = d.where(F.col("doc_id") % 7 == 3).select(
        F.col("doc_id").alias("orig_id"),
        F.lit("lo").alias("level"),
        F.concat(
            F.col("text"), F.lit(" qq rr ss tt ww vv uu aa")
        ).alias("vtext"),
    )
    base_sets = (
        d.where((F.col("doc_id") % 7).isin(0, 3))
        .select(
            "doc_id",
            F.array_distinct(
                shingles(tokens(F.col("text")), 3)
            ).alias("sh_a"),
        )
        .where(F.size("sh_a") > 0)
    )
    var_sets = hi.unionByName(lo).select(
        "orig_id",
        "level",
        F.array_distinct(shingles(tokens(F.col("vtext")), 3)).alias("sh_b"),
    )
    joined = base_sets.join(
        var_sets, base_sets["doc_id"] == var_sets["orig_id"]
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    jac = inter.cast("double") / union
    scored = joined.select(
        "level",
        F.floor(jac * 20).cast("int").alias("band"),
        F.col("doc_id").alias("id_a"),
        F.round(jac * 1e6).cast("long").alias("j_micro"),
    )
    return (
        scored.groupBy("level", "band")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum("id_a").alias("sum_id_a"),
            F.sum("j_micro").alias("sum_j_micro"),
        )
        .orderBy("level", "band")
    )


@register(
    "repeated_span_census",
    ids="dedup: cross-document repeated-span census (exact-substring dedup shape, linear oracle)",
    oracle="""
WITH base AS (
  SELECT doc_id AS id, text FROM documents
  UNION ALL
  SELECT doc_id + 5000000, text FROM documents WHERE doc_id % 13 = 0
), tok AS (
  SELECT id, list_filter(regexp_split_to_array(text, '\\s+'),
                         x -> x != '') AS toks
  FROM base
), spans AS (
  SELECT id,
         unnest([array_to_string(toks[i:i+7], ' ')
                 for i in range(1, len(toks) - 6)]) AS span
  FROM tok
), per_span AS (
  SELECT span,
         count(DISTINCT id) AS n_docs,
         count(*) AS n_occ
  FROM spans GROUP BY span
  HAVING count(DISTINCT id) >= 2
)
SELECT CAST(n_docs AS BIGINT) AS docs_per_span,
       CAST(count(*) AS BIGINT) AS n_spans,
       CAST(sum(n_occ) AS BIGINT) AS total_occurrences
FROM per_span GROUP BY n_docs ORDER BY docs_per_span
""",
)
def repeated_span_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document REPEATED-SPAN census — the exact-substring dedup
    primitive ("Deduplicating Training Data Makes Language Models
    Better", Lee et al., 2022: repeated spans across documents are the
    memorization risk exact-dedup misses): every 8-token window of
    every document (+ full-copy seeds, ``doc_id % 13``) is hashed, and
    spans occurring in ≥2 distinct documents are rolled into a
    histogram of (documents-per-span → span count, total occurrences).
    A real pipeline would use these span hashes to mask or drop the
    repeated regions; the census pins the detection math.

    Linear both sides: docs × spans rows, two hash aggregates, no pair
    join (a suffix-array formulation is the compact-index alternative;
    the hashed-window formulation is the shuffle-friendly one).  The
    full-copy seeds guarantee ≥2-doc spans at every SF; natural
    cross-doc repeats count identically in both engines because the
    grouping key is the span CONTENT (Spark groups on its md5 — same
    partition function, 16-byte shuffle rows).

    Scale shape: explode + groupBy(span_md5) with map-side partial
    aggregation — the shuffle carries (16-byte digest, id) rows, never
    text windows; the census aggregate is histogram-sized."""
    from big_data_lab_three_spark.functions.text import shingles, tokens
    from big_data_lab_three_spark.queries.dedup import _seed_id

    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    # ADVICE r12: seed ids route through the fail-loud _seed_id guard
    # (k=5 → the same +5_000_000 offset, outputs unchanged).
    seeded = d.unionByName(
        d.where(F.col("doc_id") % 13 == 0).select(
            _seed_id(F.col("doc_id"), k=5).alias("doc_id"), "text"
        )
    )
    spans = seeded.select(
        F.col("doc_id").alias("id"),
        F.explode(shingles(tokens(F.col("text")), 8)).alias("span"),
    ).select("id", F.md5(F.encode("span", "UTF-8")).alias("span_h"))
    per_span = (
        spans.groupBy("span_h")
        .agg(
            F.countDistinct("id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occ"),
        )
        .where(F.col("n_docs") >= 2)
    )
    return (
        per_span.groupBy(F.col("n_docs").alias("docs_per_span"))
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum("n_occ").alias("total_occurrences"),
        )
        .orderBy("docs_per_span")
    )


@register(
    "semantic_prune_census",
    ids="dedup: SemDeDup-style cluster-then-prune census (linear oracle)",
    oracle="""
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings
), s AS (
  SELECT vec_id AS seed_id, CAST(embedding AS DOUBLE[]) AS sv
  FROM embeddings WHERE vec_id < 8
), sc AS (
  SELECT vec_id, seed_id,
         round(list_dot_product(ev, sv)
               / (sqrt(list_dot_product(ev, ev))
                  * sqrt(list_dot_product(sv, sv))), 6) AS cq
  FROM v CROSS JOIN s
), best AS (
  SELECT vec_id, seed_id, cq,
         row_number() OVER (
             PARTITION BY vec_id ORDER BY cq DESC, seed_id ASC) AS rn
  FROM sc
), flagged AS (
  SELECT vec_id, seed_id AS cluster_id, cq,
         CASE WHEN cq >= 0.95 AND vec_id != seed_id
              THEN 1 ELSE 0 END AS pruned
  FROM best WHERE rn = 1
)
SELECT cluster_id,
       CAST(count(*) AS BIGINT) AS n_vecs,
       CAST(sum(pruned) AS BIGINT) AS n_pruned,
       CAST(count(*) - sum(pruned) AS BIGINT) AS n_kept,
       CAST(sum(CASE WHEN pruned = 1 THEN vec_id ELSE 0 END) AS BIGINT)
         AS sum_pruned_ids
FROM flagged GROUP BY cluster_id ORDER BY cluster_id
""",
)
def semantic_prune_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic pruning census (Abbas et al., 2023,
    "SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication" — cluster the embedding space, then drop members too
    similar to their cluster representative): vectors are assigned to
    their max-cosine content-keyed centroid (same deterministic 8-seed
    codebook as ``ivf_assign_census``), and any member with cosine
    ≥ 0.95 to its cluster's seed — other than the seed itself — is
    marked pruned.  Output: per-cluster member/pruned/kept counts plus
    the sum of pruned ids (pins exactly WHICH vectors prune, not just
    how many).

    At the replicated sf1 tier every seed's exact copies land in its
    cluster at quantized cosine 1.0 and prune — the precise behavior
    SemDeDup exists for — while the unreplicated SFs pin the
    no-false-positive side (random vectors stay far below 0.95).
    Linear both sides: rows × 8 assignment cosines, threshold, one
    8-group aggregate; the cosine quantization (6 decimals before
    compare) makes the threshold engine-portable.

    Scale shape: identical to the IVF assignment pass — 8-row codebook
    broadcast, map-side partial ``max(struct)`` before the per-vector
    exchange — plus a constant-size census aggregate.  At 100 TB this
    is one corpus scan; the prune list would be anti-joined against
    the corpus exactly like ``near_dedup_apply``."""
    flagged = _nearest_seed(spark, sf_dir).select(
        "vec_id",
        "cluster_id",
        F.when(
            (F.col("cq") >= 0.95)
            & (F.col("vec_id") != F.col("cluster_id")),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("pruned"),
    )
    return (
        flagged.groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum("pruned").alias("n_pruned"),
            (F.count(F.lit(1)) - F.sum("pruned")).alias("n_kept"),
            F.sum(
                F.when(F.col("pruned") == 1, F.col("vec_id")).otherwise(
                    F.lit(0)
                )
            ).alias("sum_pruned_ids"),
        )
        .orderBy("cluster_id")
    )


@register(
    "pq_code_census",
    ids="similarity: content-keyed product-quantization code census (linear oracle — the sf1-scale witness for the PQ family)",
    oracle="""
WITH r AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS raw FROM embeddings
), v AS (
  SELECT vec_id, raw,
         sqrt(list_dot_product(raw, raw)) AS vn,
         [list_dot_product(raw[j*8+1 : j*8+8], raw[j*8+1 : j*8+8])
            / list_dot_product(raw, raw) for j in range(0, 8)] AS pa
  FROM r
), s AS (
  SELECT vec_id AS code, raw AS sraw, vn AS sn, pa AS pb
  FROM v WHERE vec_id < 16
), d AS (
  SELECT vec_id, CAST(g.j AS INTEGER) AS subspace, code,
         round(pa[g.j+1]
               - 2 * (list_dot_product(raw[g.j*8+1 : g.j*8+8],
                                       sraw[g.j*8+1 : g.j*8+8])
                      / (vn * sn))
               + pb[g.j+1], 6) AS dq
  FROM v CROSS JOIN s CROSS JOIN generate_series(0, 7) AS g(j)
), best AS (
  SELECT vec_id, subspace, code, dq,
         row_number() OVER (
             PARTITION BY vec_id, subspace
             ORDER BY dq ASC, code ASC) AS rn
  FROM d
)
SELECT subspace, code,
       CAST(count(*) AS BIGINT) AS n_vecs,
       CAST(sum(vec_id) AS BIGINT) AS sum_vec_ids
FROM best WHERE rn = 1
GROUP BY subspace, code
ORDER BY subspace, code
""",
)
def pq_code_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ENCODE census with content-keyed codebooks:
    the 16 per-subspace centroids of subspace ``j`` are the j-th
    8-dim slices of the (unit-normalized) embeddings with
    ``vec_id < 16`` — deterministic, recomputable by any engine, no
    k-means state — and every vector is encoded as its min-squared-
    distance code per subspace (tie → lowest code).  Output: per
    (subspace, code) member count and the sum of member vec_ids (any
    single mis-encoded vector anywhere breaks the hash).

    This closes the witness matrix for the ANN stack at large SF:
    ``similarity_pq``/``_recall`` pin the end-to-end PQ pipeline with
    recall audits at driver scale, but their exact-baseline oracles go
    quadratic on sf1 — while this census costs rows × 8 subspaces × 16
    codes on both engines and value-pins the ENCODE step (argmin per
    subspace — the pass a 100 TB deployment runs once at ingest and
    every ADC scan depends on).  Distances are quantized to 6 decimals
    before the argmin on both sides via the same dot-product
    primitives the IVF census already proved engine-portable; exact
    quantized ties fall to the code-id tiebreak.

    Arithmetic layout (identical on both engines, so the doubles agree
    bit-for-bit): distances expand over RAW dot products —
    ``dq_j = da_j/|v|² − 2·dab_j/(|v|·|s|) + db_j/|s|²`` — with the
    per-row terms (norm, the 8 normalized self-dots) hoisted into the
    scan projection BEFORE the codebook crossJoin.  A per-element
    ``transform`` normalization would be re-inlined by projection
    collapse into every one of the 16×8 slice expressions
    (higher-order array functions are CodegenFallback — interpreted),
    which measured ~3× slower at sf0.1.

    Scale shape: the 16-row codebook broadcasts; the ×(8·16) expansion
    collapses through a map-side partial ``min(struct)`` before the
    per-(vector, subspace) exchange; the census aggregate is 128 rows.
    Cites the same ADC construction as ``operators.similarity.pq_topk``
    (Jégou et al., "Product Quantization for Nearest Neighbor
    Search")."""
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("raw")
    )

    n2 = _dot(F.col("raw"), F.col("raw"))
    v = e.select(
        "vec_id",
        "raw",
        F.sqrt(n2).alias("vn"),
        *[
            (
                _dot(
                    F.slice("raw", j * 8 + 1, 8),
                    F.slice("raw", j * 8 + 1, 8),
                )
                / n2
            ).alias(f"pa{j}")
            for j in range(8)
        ],
    )
    seeds = v.where(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("code"),
        F.col("raw").alias("sraw"),
        F.col("vn").alias("sn"),
        *[F.col(f"pa{j}").alias(f"pb{j}") for j in range(8)],
    )
    pairs = v.crossJoin(F.broadcast(seeds))
    subs = []
    for j in range(8):
        dab = _dot(
            F.slice("raw", j * 8 + 1, 8), F.slice("sraw", j * 8 + 1, 8)
        ) / (F.col("vn") * F.col("sn"))
        dq = F.round(
            F.col(f"pa{j}") - 2 * dab + F.col(f"pb{j}"), 6
        )
        subs.append(
            F.struct(
                F.lit(j).alias("subspace"),
                dq.alias("dq"),
            )
        )
    scored = pairs.select(
        "vec_id",
        "code",
        F.explode(F.array(*subs)).alias("s"),
    ).select(
        "vec_id",
        F.col("s.subspace").alias("subspace"),
        F.col("code").alias("code"),
        F.col("s.dq").alias("dq"),
    )
    best = scored.groupBy("vec_id", "subspace").agg(
        F.min(
            F.struct(F.col("dq").alias("dq"), F.col("code").alias("code"))
        ).alias("b")
    )
    return (
        best.select("vec_id", "subspace", F.col("b.code").alias("code"))
        .groupBy("subspace", "code")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum("vec_id").alias("sum_vec_ids"),
        )
        .orderBy("subspace", "code")
    )


@register(
    "cluster_quality_census",
    ids="similarity: per-cluster assignment-quality census (mean cosine + best-vs-second margin) — the SemDeDup cluster-quality audit",
    oracle="""
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings
), s AS (
  SELECT vec_id AS seed_id, CAST(embedding AS DOUBLE[]) AS sv
  FROM embeddings WHERE vec_id < 8
), sc AS (
  SELECT vec_id, seed_id,
         round(list_dot_product(ev, sv)
               / (sqrt(list_dot_product(ev, ev))
                  * sqrt(list_dot_product(sv, sv))), 6) AS cq
  FROM v CROSS JOIN s
), ranked AS (
  SELECT vec_id, seed_id, cq,
         row_number() OVER (
             PARTITION BY vec_id ORDER BY cq DESC, seed_id ASC) AS rn
  FROM sc
), pv AS (
  SELECT b.vec_id, b.seed_id AS cluster_id,
         CAST(round(b.cq * 1000000.0) AS BIGINT) AS cql,
         CAST(round(b.cq * 1000000.0) AS BIGINT)
           - CAST(round(s2.cq * 1000000.0) AS BIGINT) AS mgl
  FROM ranked b
  JOIN ranked s2 ON b.vec_id = s2.vec_id AND s2.rn = 2
  WHERE b.rn = 1
)
SELECT cluster_id,
       CAST(count(*) AS BIGINT) AS n_members,
       round(CAST(sum(cql) AS BIGINT) / count(*) / 1000000.0, 4)
           AS avg_cos,
       round(CAST(sum(mgl) AS BIGINT) / count(*) / 1000000.0, 4)
           AS avg_margin,
       CAST(sum(CASE WHEN mgl < 10000 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_ambiguous
FROM pv
GROUP BY cluster_id
ORDER BY cluster_id
""",
)
def cluster_quality_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-quality audit over the content-keyed assignment (same
    8-seed codebook as ``ivf_assign_census``): per cluster, the mean
    cosine to the assigned centroid AND the mean best-vs-second-best
    MARGIN — the silhouette-style signal a SemDeDup/IVF build monitors.
    A cluster with high ``avg_cos`` but low ``avg_margin`` sits on a
    centroid boundary (its members would reassign under small codebook
    drift); ``n_ambiguous`` counts members within 0.01 of the decision
    boundary — the reassignment-risk population.

    Everything after the quantized cosines is INTEGER-exact: margins
    are differences of ``round(cq·1e6)`` longs (no float subtraction of
    rounded values), and both means are order-independent integer sums
    with one double division — the ``ivf_assign_census`` convention, so
    the hash is safe at any SF.

    Scale shape: the 8-row codebook broadcasts; the top-2 selection
    aggregates a ``sort_array(collect_list(...))`` whose payload is
    bounded by the CODEBOOK size (8 structs per vector), not the corpus
    — the exchange carries one bounded row per vector, then an 8-row
    census."""
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("ev")
    )
    seeds = e.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("seed_id"), F.col("ev").alias("sv")
    )
    cq = F.round(
        _dot(F.col("ev"), F.col("sv"))
        / (
            F.sqrt(_dot(F.col("ev"), F.col("ev")))
            * F.sqrt(_dot(F.col("sv"), F.col("sv")))
        ),
        6,
    )
    scored = e.crossJoin(F.broadcast(seeds)).select(
        "vec_id",
        "seed_id",
        cq.alias("cq"),
    )
    top2 = scored.groupBy("vec_id").agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col("cq").alias("cq"),
                    (-F.col("seed_id")).alias("negseed"),
                )
            ),
            asc=False,
        ).alias("arr")
    )
    first = F.element_at("arr", 1)
    second = F.element_at("arr", 2)
    per_vec = top2.select(
        "vec_id",
        (-first.getField("negseed")).alias("cluster_id"),
        F.round(first.getField("cq") * 1e6).cast("long").alias("cql"),
        (
            F.round(first.getField("cq") * 1e6).cast("long")
            - F.round(second.getField("cq") * 1e6).cast("long")
        ).alias("mgl"),
    )
    return (
        per_vec.groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.round(
                F.sum("cql").cast("double")
                / F.count(F.lit(1))
                / F.lit(1000000.0),
                4,
            ).alias("avg_cos"),
            F.round(
                F.sum("mgl").cast("double")
                / F.count(F.lit(1))
                / F.lit(1000000.0),
                4,
            ).alias("avg_margin"),
            F.sum((F.col("mgl") < 10000).cast("long")).alias(
                "n_ambiguous"
            ),
        )
        .orderBy("cluster_id")
    )
