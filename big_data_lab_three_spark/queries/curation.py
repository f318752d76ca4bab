"""Round-9 corpus-curation layer: substring-level decontamination,
streaming index admission, and mergeable sketch parity.

These extend the LLM-training-data families (SURVEY.md §2 extensions):
``contamination_check`` flags WHOLE documents sharing 8-grams with a
benchmark suite; ``span_decontaminate`` locates the contaminated token
SPANS inside each document — the mask-don't-drop primitive of modern
pipelines.  ``streaming_minhash_admission`` is the streaming twin of
``dedup_incremental``'s batch admission.  ``quantile_sketch_merge`` is
the shard-summary → merge quantile path every 100 TB profile job runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from big_data_lab_three_spark.functions.numeric import quantized_sum as _qsum
from big_data_lab_three_spark.functions.text import shingles, tokens
from big_data_lab_three_spark.queries import register
from big_data_lab_three_spark.queries.stats import _EWMA_W, _EWMA_W_SQL
from big_data_lab_three_spark.queries.text import _DUCK_TOKS
from big_data_lab_three_spark.sources import table


def _contamination_hits(spark: SparkSession, sf_dir: str):
    """Shared by ``span_decontaminate`` / ``span_mask_apply``:
    (corpus-with-seeded-leaks, flagged 8-gram windows).  The benchmark
    gram set broadcasts; ``hits`` is (doc_id, pos) rows for corpus
    windows appearing anywhere in the benchmark suite."""
    d = table(spark, sf_dir, "documents")
    bench = d.where(F.col("doc_id") % 13 == 0).select("doc_id", "text")
    leaks = bench.where(F.col("doc_id") % 26 == 0).select(
        (F.col("doc_id") + 3000000).alias("doc_id"),
        F.concat(
            F.lit("alpha beta gamma delta "),
            F.col("text"),
            F.lit(" omega psi"),
        ).alias("text"),
    )
    corpus = (
        d.where(F.col("doc_id") % 13 != 0)
        .select("doc_id", "text")
        .unionByName(leaks)
    )
    bg = (
        bench.select(
            F.explode(F.array_distinct(shingles(tokens(F.col("text")), 8)))
            .alias("g")
        )
        .distinct()
    )
    cw = corpus.select(
        "doc_id",
        F.posexplode(shingles(tokens(F.col("text")), 8)).alias("pos0", "g"),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "g")
    hits = cw.join(F.broadcast(bg), "g", "left_semi")
    return corpus, hits


@register(
    "span_decontaminate",
    ids="text safety: substring-level decontamination — per-document contaminated token-span extents (mask, don't drop)",
    oracle=f"""
WITH bench AS (
    SELECT doc_id, text FROM documents WHERE doc_id % 13 = 0
), corpus AS (
    SELECT doc_id, text FROM documents WHERE doc_id % 13 != 0
    UNION ALL
    SELECT doc_id + 3000000,
           'alpha beta gamma delta ' || text || ' omega psi'
    FROM bench WHERE doc_id % 26 = 0
), bg AS (
    SELECT DISTINCT unnest(list_distinct(
               [array_to_string(toks[i:i+7], ' ')
                for i in range(1, len(toks) - 6)])) AS g
    FROM (SELECT {_DUCK_TOKS} AS toks FROM bench)
), cw AS (
    SELECT doc_id, u.pos AS pos, u.g AS g FROM (
        SELECT doc_id,
               unnest([{{'pos': i, 'g': array_to_string(toks[i:i+7], ' ')}}
                       for i in range(1, len(toks) - 6)]) AS u
        FROM (SELECT doc_id, {_DUCK_TOKS} AS toks FROM corpus)
    )
), hit AS (
    SELECT doc_id, pos,
           lead(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
    FROM cw WHERE g IN (SELECT g FROM bg)
)
SELECT doc_id AS corpus_doc,
       CAST(count(*) AS BIGINT) AS n_flagged_windows,
       CAST(sum(CASE WHEN nxt IS NULL THEN 8
                     ELSE least(8, nxt - pos) END) AS BIGINT)
           AS n_tokens_covered,
       CAST(min(pos) AS INTEGER) AS first_tok,
       CAST(max(pos) + 7 AS INTEGER) AS last_tok
FROM hit
GROUP BY doc_id
ORDER BY corpus_doc
""",
)
def span_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-LEVEL benchmark decontamination: where
    ``contamination_check`` reports contaminated document PAIRS, this
    locates the contaminated token extents inside each corpus document
    — per doc: flagged 8-gram window count, exact union-of-intervals
    token coverage, and the first/last contaminated token positions —
    the table a mask-don't-drop pipeline feeds to its span scrubber
    ("Deduplicating Training Data Makes Language Models Better",
    Lee et al. 2022, applies the same windows-to-extents reduction for
    exact substring dedup).  Seeded leaks embed a benchmark document
    MID-TEXT (4-token prefix, 2-token suffix) so the extents are
    interior and the interval arithmetic is exercised, not just
    whole-doc hits.

    Interval union without an interval type: flagged window positions
    are sorted per doc and each contributes ``min(8, next_pos − pos)``
    tokens (8 for the last) — one ``lead`` window over hit rows only.
    All-integer output → exact hash parity.

    Scale shape: the benchmark 8-gram set is tiny and broadcasts, so
    the corpus explode streams through a map-side semi-join with NO
    corpus shuffle; only (doc_id, pos) hit rows — vanishingly few —
    reach the per-doc window + aggregate.  Same plan class as
    ``contamination_check``, plus a hits-only exchange."""
    corpus, hits = _contamination_hits(spark, sf_dir)
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy("pos")
    spans = hits.withColumn("nxt", F.lead("pos").over(w)).select(
        "doc_id",
        "pos",
        F.when(F.col("nxt").isNull(), F.lit(8))
        .otherwise(F.least(F.lit(8), F.col("nxt") - F.col("pos")))
        .alias("covered"),
    )
    return (
        spans.groupBy(F.col("doc_id").alias("corpus_doc"))
        .agg(
            F.count(F.lit(1)).alias("n_flagged_windows"),
            F.sum("covered").alias("n_tokens_covered"),
            F.min("pos").cast("int").alias("first_tok"),
            (F.max("pos") + 7).cast("int").alias("last_tok"),
        )
        .orderBy("corpus_doc")
    )


@register(
    "quantile_sketch_merge",
    ids="agg: mergeable per-shard quantile summaries -> merged estimate (GK/KLL shard-merge shape, full value oracle)",
    oracle="""
WITH t AS (
    SELECT l_extendedprice AS v, l_orderkey AS k1, l_linenumber AS k2,
           l_orderkey % 16 AS shard
    FROM lineitem
), r AS (
    SELECT v, k1, k2, shard,
           row_number() OVER (PARTITION BY shard ORDER BY v, k1, k2) AS rn,
           count(*) OVER (PARTITION BY shard) AS ns
    FROM t
), s AS (
    SELECT shard, v, rn,
           rn - coalesce(lag(rn) OVER (PARTITION BY shard ORDER BY rn), 0)
               AS w
    FROM r
    WHERE rn % ((ns + 63) // 64) = 0 OR rn = ns
), m AS (
    SELECT v, shard, rn, w,
           sum(w) OVER (ORDER BY v, shard, rn
                        ROWS UNBOUNDED PRECEDING) AS cumw
    FROM s
), tot AS (
    SELECT CAST(count(*) AS BIGINT) AS n,
           (SELECT CAST(count(*) AS BIGINT) FROM s) AS n_samples
    FROM t
), est AS (
    SELECT (SELECT min(v) FROM m, tot WHERE cumw >= (n + 1) // 2)
               AS est_p50,
           (SELECT min(v) FROM m, tot WHERE cumw >= (19 * n + 19) // 20)
               AS est_p95
), realized AS (
    SELECT CAST(sum(CASE WHEN t.v <= est.est_p50 THEN 1 ELSE 0 END)
                AS BIGINT) AS le50,
           CAST(sum(CASE WHEN t.v <= est.est_p95 THEN 1 ELSE 0 END)
                AS BIGINT) AS le95,
           CAST(sum(CASE WHEN t.v < est.est_p50 THEN 1 ELSE 0 END)
                AS BIGINT) AS lt50,
           CAST(sum(CASE WHEN t.v < est.est_p95 THEN 1 ELSE 0 END)
                AS BIGINT) AS lt95
    FROM t, est
)
SELECT tot.n AS n,
       tot.n_samples AS n_samples,
       CAST(est.est_p50 AS DOUBLE) AS est_p50,
       CAST(est.est_p95 AS DOUBLE) AS est_p95,
       realized.le50 AS le50,
       realized.le95 AS le95,
       (realized.lt50 + 1 <= (tot.n + 1) // 2 + tot.n // 16 + 32
        AND realized.le50 >= (tot.n + 1) // 2 - tot.n // 16 - 32)
           AS p50_ok,
       (realized.lt95 + 1 <= (19 * tot.n + 19) // 20 + tot.n // 16 + 32
        AND realized.le95 >= (19 * tot.n + 19) // 20 - tot.n // 16 - 32)
           AS p95_ok
FROM tot, est, realized
""",
)
def quantile_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile summaries, shard-merge parity — the two-level
    path a 100 TB profile job actually runs (GK/KLL-style: executors
    keep bounded summaries, the driver merges summaries, never rows):

    1. per-shard (``l_orderkey % 16``) EQUI-DEPTH SUMMARY: every
       ``ceil(n_s/64)``-th order statistic plus the shard maximum, each
       carrying its exact covered-row weight (rank deltas) — a
       deterministic ε=1/64 quantile summary;
    2. MERGE: the ≤ 16×65 summary rows are ordered globally by
       ``(value, shard, rn)`` with a running weight sum — the weighted
       union of summaries;
    3. QUERY: the p50/p95 estimates are the first merged entries whose
       cumulative weight reaches ``ceil(q·N)`` (exact integer targets);
    4. AUDIT: the estimates are re-ranked against the full table and
       gated on the summary's rank-error bound (±(N/16 + 32), twice
       the design bound Σ_s step_s ≈ N/64 + shards).

    Unlike ``gk_quantile_check`` (opaque JVM sketch, TRUE-pinned
    bounds), every step here is deterministic integer rank algebra, so
    the DuckDB oracle recomputes the per-shard summaries, the merge,
    the estimates, AND the realized ranks — full value-hash parity on
    the whole shard-merge pipeline.

    Scale shape: one exchange partitions rows by shard for the summary
    windows (at 100 TB, shards = executor-sized ranges and this pass
    is the existing scan); the merge and query run on summary rows
    only (KB-sized — the single-partition running-sum window is over
    ≤ shards×65 rows BY CONSTRUCTION, which is the entire point of a
    sketch); the audit is one scan with a broadcast 1-row join."""
    from pyspark.sql import Window

    li = table(spark, sf_dir, "lineitem").select(
        F.col("l_extendedprice").alias("v"),
        F.col("l_orderkey").alias("k1"),
        F.col("l_linenumber").alias("k2"),
        F.pmod("l_orderkey", F.lit(16)).alias("shard"),
    )
    w_ord = Window.partitionBy("shard").orderBy("v", "k1", "k2")
    w_all = Window.partitionBy("shard")
    ranked = li.withColumn("rn", F.row_number().over(w_ord)).withColumn(
        "ns", F.count(F.lit(1)).over(w_all)
    )
    step = F.expr("div(ns + 63, 64)")
    samples = ranked.where(
        (F.pmod(F.col("rn"), step) == 0) | (F.col("rn") == F.col("ns"))
    ).select(
        "shard",
        "v",
        "rn",
        (
            F.col("rn")
            - F.coalesce(
                F.lag("rn").over(
                    Window.partitionBy("shard").orderBy("rn")
                ),
                F.lit(0),
            )
        ).alias("w"),
    )
    merged = samples.withColumn(
        "cumw",
        F.sum("w").over(
            Window.orderBy("v", "shard", "rn").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        ),
    )
    merged = merged.localCheckpoint()  # summary is KB-sized; reused 3×
    tot = li.agg(F.count(F.lit(1)).alias("n")).crossJoin(
        F.broadcast(
            samples.agg(F.count(F.lit(1)).alias("n_samples"))
        )
    )
    t50 = F.expr("div(n + 1, 2)")
    t95 = F.expr("div(19 * n + 19, 20)")
    targets = tot.select("n", "n_samples", t50.alias("t50"), t95.alias("t95"))
    est = (
        merged.crossJoin(F.broadcast(targets))
        .agg(
            F.min(F.when(F.col("cumw") >= F.col("t50"), F.col("v"))).alias(
                "est_p50"
            ),
            F.min(F.when(F.col("cumw") >= F.col("t95"), F.col("v"))).alias(
                "est_p95"
            ),
        )
    )
    audited = li.crossJoin(F.broadcast(est)).agg(
        F.sum((F.col("v") <= F.col("est_p50")).cast("long")).alias("le50"),
        F.sum((F.col("v") <= F.col("est_p95")).cast("long")).alias("le95"),
        F.sum((F.col("v") < F.col("est_p50")).cast("long")).alias("lt50"),
        F.sum((F.col("v") < F.col("est_p95")).cast("long")).alias("lt95"),
        F.min("est_p50").alias("est_p50"),
        F.min("est_p95").alias("est_p95"),
    )
    out = audited.crossJoin(F.broadcast(targets))
    tol = F.expr("div(n, 16)") + F.lit(32)
    return out.select(
        "n",
        "n_samples",
        F.col("est_p50").cast("double").alias("est_p50"),
        F.col("est_p95").cast("double").alias("est_p95"),
        "le50",
        "le95",
        (
            (F.col("lt50") + 1 <= F.col("t50") + tol)
            & (F.col("le50") >= F.col("t50") - tol)
        ).alias("p50_ok"),
        (
            (F.col("lt95") + 1 <= F.col("t95") + tol)
            & (F.col("le95") >= F.col("t95") - tol)
        ).alias("p95_ok"),
    )


# Shared DuckDB fragment: portable-MinHash band keys (8 md5 perms → 4
# bands), bit-identical to ``operators.dedup.portable_minhash_signatures``
# + the band projection below — the same construction
# ``minhash_band_census`` pins at sf1.
_DUCK_BANDS = """
  SELECT id, b.band AS band,
         CAST(('0x' || substr(md5(
             CASE b.band
               WHEN 0 THEN CAST(m0 AS VARCHAR) || ',' || CAST(m1 AS VARCHAR)
               WHEN 1 THEN CAST(m2 AS VARCHAR) || ',' || CAST(m3 AS VARCHAR)
               WHEN 2 THEN CAST(m4 AS VARCHAR) || ',' || CAST(m5 AS VARCHAR)
               ELSE CAST(m6 AS VARCHAR) || ',' || CAST(m7 AS VARCHAR)
             END), 1, 15)) AS BIGINT) AS k
  FROM sig CROSS JOIN (VALUES (0), (1), (2), (3)) AS b(band)
"""


def _portable_band_keys(sig: DataFrame) -> DataFrame:
    """(id, band, k) band keys from a portable-minhash signature frame
    — the Spark twin of ``_DUCK_BANDS`` (and of the inline construction
    in ``extras.minhash_band_census``)."""
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
    return sig.select("id", F.explode(F.array(*bands)).alias("bk")).select(
        "id", F.col("bk.band").alias("band"), F.col("bk.k").alias("k")
    )


# --- streaming-admission machinery (module-level so the stop/restart
# --- recovery test can drive the same pipeline in phases) -----------


def admission_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded admission stream content: corpus docs (shard = id mod 4)
    plus an exact copy (``doc_id % 8 == 0``) and a near-dup
    (``% 8 == 1``) of corpus docs placed TWO shards after their
    originals (the +2 offsets keep ``shard == id mod 4`` true for the
    seeds as well)."""
    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    return (
        d.select(
            F.col("doc_id").alias("id"),
            "text",
            F.pmod("doc_id", F.lit(4)).alias("shard"),
        )
        .unionByName(
            d.where(F.col("doc_id") % 8 == 0).select(
                (F.col("doc_id") + 5000002).alias("id"),
                "text",
                F.pmod(F.col("doc_id") + 2, F.lit(4)).alias("shard"),
            )
        )
        .unionByName(
            d.where(F.col("doc_id") % 8 == 1).select(
                (F.col("doc_id") + 6000002).alias("id"),
                F.concat("text", F.lit(" zz qq")).alias("text"),
                F.pmod(F.col("doc_id") + 2, F.lit(4)).alias("shard"),
            )
        )
    )


def stage_admission_shards(base: DataFrame, root: str, shards) -> None:
    """Land one parquet file per shard under ``root/src`` with mtimes
    forced ascending so the file source drains them in shard order
    (test scaffolding, not the measured operator).

    One partitioned write stages every shard (r16: was one filtered
    ``coalesce(1)`` write job PER shard — 4 jobs re-scanning ``base``
    where one suffices).  ``_pk`` duplicates the shard value as the
    partition key so the data files keep the ``shard`` column the
    stream schema declares; hash-repartitioning by ``shard`` puts each
    shard's rows in exactly one task, hence exactly one file per
    ``_pk=<s>`` directory."""
    import os
    import shutil

    src = os.path.join(root, "src")
    os.makedirs(src, exist_ok=True)
    shards = list(shards)
    stage = os.path.join(root, "stage_all")
    (
        base.where(F.col("shard").isin(shards))
        .withColumn("_pk", F.col("shard"))
        .repartition(len(shards), "shard")
        .write.mode("overwrite")
        .partitionBy("_pk")
        .parquet(stage)
    )
    for s in shards:
        sdir = os.path.join(stage, f"_pk={s}")
        dest = os.path.join(src, f"shard_{s}.parquet")
        if os.path.isdir(sdir):
            part = [f for f in os.listdir(sdir) if f.endswith(".parquet")][0]
            shutil.move(os.path.join(sdir, part), dest)
        else:
            # a shard with zero rows writes no partition directory —
            # stage an explicit empty file so the drain still sees a
            # micro-batch per shard (matches the old per-shard writer)
            base.where(F.col("shard") == s).coalesce(1).write.mode(
                "overwrite"
            ).parquet(sdir)
            part = [f for f in os.listdir(sdir) if f.endswith(".parquet")][0]
            shutil.move(os.path.join(sdir, part), dest)
        os.utime(dest, (1_000_000 * (s + 1), 1_000_000 * (s + 1)))
    shutil.rmtree(stage)


def admitted_table(spark: SparkSession, root: str) -> DataFrame:
    """The admitted sink (which doubles as the digest index: one
    ``batch_id=<k>`` partition per batch carries id + shard + digest;
    the partition column rides along when reading the whole sink)."""
    import os

    return spark.read.parquet(os.path.join(root, "admitted"))


def batch_partition(path: str, batch_id: int) -> str:
    """The per-batch partition directory of a batch-keyed sink."""
    import os

    return os.path.join(path, f"batch_id={batch_id}")


def batch_complete(path: str, batch_id: int) -> bool:
    """True iff batch ``batch_id``'s partition of ``path`` finished
    writing (Spark's ``_SUCCESS`` marker).  Because each admission
    batch writes its sinks SEQUENTIALLY, the marker on the
    LAST-written sink proves the whole batch's writes completed — the
    replay-skip test for a redelivered micro-batch."""
    import os

    return os.path.isfile(
        os.path.join(batch_partition(path, batch_id), "_SUCCESS")
    )


def read_index_before(
    spark: SparkSession,
    path: str,
    ddl: str,
    batch_id: int,
    ttl: int | None = None,
) -> DataFrame:
    """Rows of the batch-keyed sink ``path`` written by batches
    STRICTLY BEFORE ``batch_id`` (the ``batch_id`` partition column is
    dropped after filtering).  Excluding the current batch makes a
    replayed batch's probes deterministic: a crashed attempt's partial
    writes under ``batch_id=<k>`` are invisible to attempt k+1, which
    recomputes the identical admission set and overwrites them.

    ``ttl`` additionally bounds the lookback to the last ``ttl``
    batches (``batch_id >= k - ttl``) — the state-eviction window of
    the TTL admission variant; partition pruning turns expiry into
    simply not reading old partitions (nothing is rewritten).

    Only partitions carrying Spark's ``_SUCCESS`` marker are read, as
    explicit paths with the declared schema (ADVICE r11): if the FIRST
    batch crashes mid-first-write, the sink holds a single uncommitted
    ``batch_id=0`` partition with no readable footers, and a
    whole-directory ``spark.read.parquet(path)`` would fail schema
    inference instead of giving the retry the empty frame the
    idempotence contract promises.  The strictly-earlier + TTL window
    is applied at the listing, so expiry is still "don't read the
    directory" — no filter over a partition column is needed."""
    import os

    if not os.path.isdir(path):
        return spark.createDataFrame([], ddl)
    lo = batch_id - ttl if ttl is not None else None
    parts = []
    for entry in sorted(os.listdir(path)):
        if not entry.startswith("batch_id="):
            continue
        try:
            k = int(entry.split("=", 1)[1])
        except ValueError:
            continue
        if k >= batch_id or (lo is not None and k < lo):
            continue
        if os.path.isfile(os.path.join(path, entry, "_SUCCESS")):
            parts.append(os.path.join(path, entry))
    if not parts:
        return spark.createDataFrame([], ddl)
    return spark.read.schema(ddl).parquet(*parts)


def index_admit_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    root: str,
    batch_id: int,
    ttl: int | None = None,
) -> None:
    """The SHARED per-batch admission chain (file-order and event-time
    variants both call this, so the index logic can never drift
    between them): probe the accumulating digest + band-key index
    under ``root``, reject collisions, append the survivors' digests
    and band keys.  ``batch_df`` must carry (id, shard, text).

    CRASH/RETRY-SAFE (r11, the r10 verdict's production gap): every
    sink write lands in its own ``batch_id=<k>`` partition with
    ``overwrite`` mode, and every index probe reads only partitions of
    batches STRICTLY BEFORE ``k``.  A batch replayed after a crash
    between the two appends therefore (a) probes exactly the state the
    first attempt probed — its own partial writes are filtered out —
    so it recomputes the identical admission set, and (b) overwrites
    the partial partitions instead of duplicating rows.  Idempotence
    holds at ANY crash point, not just clean AvailableNow stops.

    ``ttl`` bounds the probe lookback to the last ``ttl`` batches —
    the bounded-state variant (``corpus.streaming_admission_ttl``):
    index entries older than the window are simply not read (partition
    pruning IS the eviction), so a duplicate arriving after its
    original expired is re-admitted and re-registers its keys."""
    import os

    from big_data_lab_three_spark.operators.dedup import (
        portable_minhash_signatures,
    )

    idx_bands = os.path.join(root, "idx_bands")
    admitted_dir = os.path.join(root, "admitted")
    # the signature fan-out (r9 lesson): a one-file micro-batch is ONE
    # partition, and the md5 × perms × shingles work is the batch's
    # dominant cost — spread it before the explode.  Centralized here
    # (r16) instead of a caller-side repartition().localCheckpoint():
    # the digest projection below is trivial and re-reads the tiny
    # batch file instead of paying a whole materialization job.
    digs = batch_df.select(
        "id", "shard", F.md5(F.encode("text", "UTF-8")).alias("d")
    )
    # one signature pass per batch: blocked-check AND the index
    # append both reuse the checkpointed band keys
    bands = _portable_band_keys(
        portable_minhash_signatures(
            batch_df.repartition(16), id_col="id", num_perms=8
        )
    ).localCheckpoint()
    old_d = read_index_before(
        spark,
        admitted_dir,
        "id long, shard long, d string",
        batch_id,
        ttl=ttl,
    ).select("d")
    old_b = read_index_before(
        spark, idx_bands, "band int, k long", batch_id, ttl=ttl
    )
    blocked = (
        bands.join(old_b, ["band", "k"], "left_semi")
        .select("id")
        .distinct()
    )
    blocked_ids = (
        digs.join(old_d, "d", "left_semi")
        .select("id")
        .distinct()
        .unionByName(blocked)
        .distinct()
    )
    admitted = digs.join(blocked_ids, "id", "left_anti")
    # write the admitted sink directly and read the committed partition
    # back for the band append (r16: was an extra localCheckpoint job
    # before the write — the write IS the materialization; the
    # read-back costs a file open, not a job).  Sequencing is
    # unchanged: admitted lands before idx_bands, whose _SUCCESS
    # remains the batch-complete marker.  The read-back uses the schema
    # just written, so schema drift fails loudly instead of reading
    # null columns.
    part = batch_partition(admitted_dir, batch_id)
    out = admitted.select("id", "shard", "d")
    out.write.mode("overwrite").parquet(part)
    admitted_ids = spark.read.schema(out.schema).parquet(part).select("id")
    bands.join(admitted_ids, "id", "left_semi").select(
        "band", "k"
    ).write.mode("overwrite").parquet(batch_partition(idx_bands, batch_id))


def run_foreachbatch_stream(
    spark: SparkSession, schema, root: str, admit
) -> None:
    """Shared stream scaffold: drain everything staged under
    ``root/src`` through ``admit`` (AvailableNow, one file per
    micro-batch, oldest first), resuming from ``root/ckpt`` if it
    exists."""
    import os

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("latestFirst", "false")
        .parquet(os.path.join(root, "src"))
    )
    # batch-sized shuffles: 32 default partitions is pure per-task
    # overhead for the tiny per-batch joins (same sizing rationale as
    # the stateful partition count in streaming.jobs.run_stream_to_table)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = (
            stream.writeStream.foreachBatch(admit)
            .outputMode("append")
            .option("checkpointLocation", os.path.join(root, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def run_admission_stream(spark: SparkSession, schema, root: str) -> None:
    """Drain everything currently staged under ``root/src`` through the
    foreachBatch admission pipeline (AvailableNow), resuming from
    ``root/ckpt`` if it exists — a second call after more files land
    continues the index exactly where the first stopped."""

    def admit(batch_df: DataFrame, batch_id: int) -> None:
        import os

        # redelivered batch whose writes all completed (crash landed
        # between the last sink write and the checkpoint commit):
        # the LAST-written sink's _SUCCESS proves the earlier ones —
        # skip the recompute entirely, as the docstring promises
        if batch_complete(os.path.join(root, "idx_bands"), batch_id):
            return
        # signature fan-out + batch re-reads are handled inside
        # index_admit_batch (r16): the old repartition(16)
        # .localCheckpoint() here paid a full materialization job per
        # batch to save two re-reads of a single tiny parquet file
        index_admit_batch(spark, batch_df, root, batch_id)

    run_foreachbatch_stream(spark, schema, root, admit)


@register(
    "streaming_minhash_admission",
    ids="streaming: stateful MinHash index admission — per-micro-batch dedup against an accumulating signature index (streaming twin of dedup_incremental)",
    oracle="""
WITH base AS (
  SELECT doc_id AS id, text, doc_id % 4 AS shard FROM documents
  UNION ALL
  SELECT doc_id + 5000002, text, (doc_id + 2) % 4
  FROM documents WHERE doc_id % 8 = 0
  UNION ALL
  SELECT doc_id + 6000002, text || ' zz qq', (doc_id + 2) % 4
  FROM documents WHERE doc_id % 8 = 1
), dig AS (
  SELECT id, md5(text) AS d FROM base
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
), banded AS (""" + _DUCK_BANDS + """
), collide AS (
  SELECT DISTINCT x.id AS a, y.id AS b
  FROM dig x JOIN dig y ON x.d = y.d AND x.id <> y.id
  UNION
  SELECT DISTINCT x.id, y.id
  FROM banded x JOIN banded y
    ON x.band = y.band AND x.k = y.k AND x.id <> y.id
), i0 AS (
  SELECT id FROM base WHERE shard = 0
), i1 AS (
  SELECT id FROM base WHERE shard = 1
  AND id NOT IN (SELECT c.b FROM collide c JOIN i0 ON c.a = i0.id)
), idx1 AS (SELECT id FROM i0 UNION ALL SELECT id FROM i1
), i2 AS (
  SELECT id FROM base WHERE shard = 2
  AND id NOT IN (SELECT c.b FROM collide c JOIN idx1 ON c.a = idx1.id)
), idx2 AS (SELECT id FROM idx1 UNION ALL SELECT id FROM i2
), i3 AS (
  SELECT id FROM base WHERE shard = 3
  AND id NOT IN (SELECT c.b FROM collide c JOIN idx2 ON c.a = idx2.id)
), adm AS (
  SELECT 0 AS shard, id FROM i0
  UNION ALL SELECT 1, id FROM i1
  UNION ALL SELECT 2, id FROM i2
  UNION ALL SELECT 3, id FROM i3
)
SELECT CAST(b.shard AS INTEGER) AS shard,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(adm.id) AS BIGINT) AS n_admitted,
       CAST(coalesce(sum(adm.id), 0) AS BIGINT) AS sum_admitted_id
FROM base b LEFT JOIN adm ON adm.id = b.id
GROUP BY b.shard
ORDER BY shard
""",
)
def streaming_minhash_admission(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming index admission — the streaming twin of
    ``dedup_incremental``: documents arrive as chronological
    micro-batches, and each batch is admitted against an ACCUMULATING
    dedup index holding only content digests and portable-MinHash band
    keys (16-byte digests + (band, long) rows — never text, the
    production index shape).  A batch document is rejected when its
    digest or ANY band key already exists in the index; admitted
    documents append their digests/band keys to the index within the
    same ``foreachBatch`` invocation.  The two sink writes are
    BATCH-IDEMPOTENT (r11): each lands in its own ``batch_id=<k>``
    partition in overwrite mode and index probes read only
    strictly-earlier partitions, so a batch replayed after a crash at
    ANY point recomputes the identical admission set and overwrites
    its partial writes — crash/retry-safe, not merely
    clean-AvailableNow-stop recoverable (both are tested in
    ``tests/test_streaming.py``).  Seeds plant an exact copy
    (``doc_id % 8 == 0``) and a near-dup (``% 8 == 1``, two appended
    tokens) of corpus docs two shards after their originals, so both
    rejection gates fire across batch boundaries.

    First-wins semantics are deterministic because the file source
    drains the four forced-mtime shards in order; the oracle replays
    the same four admission rounds as chained CTEs over a precomputed
    collision relation (digest-equal ∪ band-equal pairs — the exact
    predicate the index lookups implement).

    Scale shape: per batch, the index probes are two key joins
    (digest, (band, k)) — at 100 TB the index is a bucketed table and
    the probes shuffle only batch-sized sides; band keys mean the
    near-dup check never rescans corpus text (reference point:
    ``dedup_incremental`` recomputes cross-side LSH per batch, this
    variant persists the index — the encode-at-ingest trade)."""
    import shutil
    import tempfile

    base = admission_base(spark, sf_dir)
    base.persist()

    root = tempfile.mkdtemp(prefix="minhash_admission_")
    stage_admission_shards(base, root, range(4))
    run_admission_stream(spark, base.schema, root)

    adm = admitted_table(spark, root).select(
        F.col("id").alias("aid"), F.col("shard").alias("ashard")
    )
    out = (
        base.join(adm, base["id"] == adm["aid"], "left")
        .groupBy(F.col("shard").cast("int").alias("shard"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count("aid").alias("n_admitted"),
            F.coalesce(F.sum("aid"), F.lit(0)).alias("sum_admitted_id"),
        )
        .orderBy("shard")
    )
    out = out.localCheckpoint()
    base.unpersist()
    shutil.rmtree(root, ignore_errors=True)  # out is checkpointed
    return out


@register(
    "ivf_cost_census",
    ids="similarity: IVF build-vs-probe cost census — per-nprobe candidate workload over content-keyed cells (full value oracle)",
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
  SELECT vec_id, seed_id,
         row_number() OVER (
             PARTITION BY vec_id ORDER BY cq DESC, seed_id ASC) AS rn
  FROM sc
), cells AS (
  SELECT seed_id AS cell, CAST(count(*) AS BIGINT) AS sz
  FROM best WHERE rn = 1 GROUP BY seed_id
), probe AS (
  SELECT vec_id, seed_id AS cell,
         row_number() OVER (
             PARTITION BY vec_id ORDER BY cq DESC, seed_id ASC) AS prank
  FROM sc WHERE vec_id % 100 = 0
), np AS (
  SELECT CAST(n AS INTEGER) AS nprobe FROM (VALUES (1), (2), (4)) AS t(n)
), work AS (
  SELECT np.nprobe, probe.vec_id, cells.sz
  FROM probe JOIN cells ON cells.cell = probe.cell
  CROSS JOIN np
  WHERE probe.prank <= np.nprobe
), tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n_corpus FROM v
)
SELECT work.nprobe,
       CAST(count(DISTINCT work.vec_id) AS BIGINT) AS n_queries,
       tot.n_corpus AS n_corpus,
       CAST(sum(work.sz) AS BIGINT) AS total_candidates,
       round(CAST(sum(work.sz) AS DOUBLE)
             / count(DISTINCT work.vec_id) / tot.n_corpus, 6)
           AS avg_scan_frac
FROM work, tot
GROUP BY work.nprobe, tot.n_corpus
ORDER BY nprobe
""",
)
def ivf_cost_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF BUILD-vs-PROBE cost census — the encode-at-ingest story in
    numbers: with the content-keyed 8-cell coarse quantizer (same
    construction as ``ivf_assign_census``), how much of the corpus does
    a query actually scan at nprobe ∈ {1, 2, 4}?  Per nprobe: query
    count, summed candidate workload (the sizes of each query's
    top-nprobe cells), and the average scanned fraction — the cost
    model that justifies paying the assignment pass once at ingest
    (FAISS ``IndexIVF`` nprobe/nlist trade; at 8 cells, nprobe=1 scans
    ~1/8 of the corpus, nprobe=4 ~half — the census pins the actual
    skew-adjusted numbers).

    Fully deterministic: assignments and probe rankings use cosines
    quantized to 6 decimals BEFORE the argmax/ordering (ties → lowest
    seed), exactly the ``ivf_assign_census`` convention, so the DuckDB
    oracle recomputes cell sizes, probe order, and workload
    identically — a full value hash over the cost model itself.

    Scale shape: the 8-row codebook broadcasts twice (assignment pass
    and probe-ranking pass over the tiny query sample); the only wide
    exchange carries one (vec_id, cell) row per vector into the 8-row
    cell-size census; workload joins are queries×8 against a broadcast
    8-row table.  At 100 TB this is the IVF planner's costing query —
    no vector data moves at all."""
    from big_data_lab_three_spark.functions.vector import dot as _dot
    from pyspark.sql import Window

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

    def scored(frame: DataFrame) -> DataFrame:
        return frame.crossJoin(F.broadcast(seeds)).select(
            "vec_id", "seed_id", cq.alias("cq")
        )

    best = scored(e).groupBy("vec_id").agg(
        F.max(
            F.struct(
                F.col("cq").alias("cq"),
                (-F.col("seed_id")).alias("negseed"),
            )
        ).alias("b")
    )
    cells = (
        best.select((-F.col("b.negseed")).alias("cell"))
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("sz"))
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.desc("cq"), F.asc("seed_id")
    )
    probe = (
        scored(e.where(F.col("vec_id") % 100 == 0))
        .withColumn("prank", F.row_number().over(w))
        .select("vec_id", F.col("seed_id").alias("cell"), "prank")
    )
    np_df = spark.createDataFrame([(1,), (2,), (4,)], "nprobe int")
    work = (
        probe.join(F.broadcast(cells), "cell")
        .crossJoin(F.broadcast(np_df))
        .where(F.col("prank") <= F.col("nprobe"))
    )
    tot = e.agg(F.count(F.lit(1)).alias("n_corpus"))
    return (
        work.groupBy("nprobe")
        .agg(
            F.countDistinct("vec_id").alias("n_queries"),
            F.sum("sz").alias("total_candidates"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "nprobe",
            "n_queries",
            "n_corpus",
            "total_candidates",
            F.round(
                F.col("total_candidates").cast("double")
                / F.col("n_queries")
                / F.col("n_corpus"),
                6,
            ).alias("avg_scan_frac"),
        )
        .orderBy("nprobe")
    )



def order_day_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(day_id, n)`` daily order-count census — the shared first
    stage of every seasonal/trend query (seasonal_smooth,
    holt_trend_smooth, and the pipeline module's Holt-Winters /
    seasonal-strength readouts), factored so the day grid can never
    drift between them."""
    return (
        table(spark, sf_dir, "orders")
        .groupBy(
            F.datediff(
                F.to_date("o_orderdate"), F.lit("1970-01-01").cast("date")
            )
            .cast("long")
            .alias("day_id")
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )


def dow_seasonal_factors(dw: DataFrame) -> DataFrame:
    """``(dow, sfm)`` micro-quantized day-of-week seasonal factors
    from a ``(day_id, n, dow)`` census — mean(n | dow) / mean(n),
    quantized to integer micro-units right after its single double
    expression (the shared portability convention)."""
    sfac = dw.groupBy("dow").agg(
        F.sum("n").alias("sum_dow"), F.count(F.lit(1)).alias("cnt_dow")
    )
    tt = dw.agg(F.sum("n").alias("total"), F.count(F.lit(1)).alias("days"))
    return sfac.crossJoin(F.broadcast(tt)).select(
        "dow",
        F.round(
            F.lit(1e6)
            * F.col("sum_dow")
            * F.col("days")
            / (F.col("total") * F.col("cnt_dow"))
        )
        .cast("long")
        .alias("sfm"),
    )


def deseason_dm():
    """The deseasonalized micro-unit Column: round(1e6·n/(sfm/1e6))."""
    return (
        F.round(F.lit(1e6) * F.col("n") / (F.col("sfm") / F.lit(1e6)))
        .cast("long")
        .alias("dm")
    )



@register(
    "seasonal_smooth",
    ids="timeseries: seasonal decomposition smoothing — day-of-week indices + truncated EWMA of the deseasonalized daily series (Holt-Winters shape, literal weights)",
    oracle=f"""
WITH d AS (
    SELECT CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)
               AS day_id,
           CAST(count(*) AS BIGINT) AS n
    FROM orders GROUP BY 1
), dw AS (
    SELECT day_id, n, day_id % 7 AS dow FROM d
), sf AS (
    SELECT dow, CAST(sum(n) AS BIGINT) AS sum_dow,
           CAST(count(*) AS BIGINT) AS cnt_dow
    FROM dw GROUP BY dow
), tt AS (
    SELECT CAST(sum(n) AS BIGINT) AS total,
           CAST(count(*) AS BIGINT) AS days
    FROM dw
), fac AS (
    SELECT dow,
           CAST(round(1e6 * sum_dow * days / (total * cnt_dow)) AS BIGINT)
               AS sfm
    FROM sf, tt
), ds AS (
    SELECT dw.day_id, dw.n, dw.dow, fac.sfm,
           CAST(round(1e6 * dw.n / (fac.sfm / 1e6)) AS BIGINT) AS dm
    FROM dw JOIN fac USING (dow)
), m AS (
    SELECT max(day_id) AS mx FROM dw
), w AS (
    SELECT CAST(i AS BIGINT) AS lag, CAST(wt AS DOUBLE) AS wt
    FROM (VALUES {_EWMA_W_SQL}) AS v(i, wt)
), tgt AS (
    SELECT ds.* FROM ds, m WHERE ds.day_id > m.mx - 10
), j AS (
    SELECT tgt.day_id, tgt.n, tgt.dow, tgt.sfm, w.wt, src.dm AS lag_dm
    FROM tgt JOIN w ON TRUE
    JOIN ds src ON src.day_id = tgt.day_id - w.lag
), s AS (
    SELECT day_id,
           CAST(max(n) AS BIGINT) AS n,
           CAST(max(dow) AS INTEGER) AS dow,
           CAST(max(sfm) AS BIGINT) AS sfm,
           CAST(count(*) AS BIGINT) AS n_lags,
           CAST(sum(CAST(floor(wt * lag_dm + 0.5) AS BIGINT)) AS BIGINT)
               AS numq,
           CAST(sum(CAST(floor(wt * 1000000000 + 0.5) AS BIGINT)) AS BIGINT)
               AS denq
    FROM j GROUP BY day_id
)
SELECT day_id, n, dow,
       round(CAST(sfm AS DOUBLE) / 1e6, 6) AS s_factor,
       n_lags,
       round(CAST(numq AS DOUBLE)
             / (CAST(denq AS DOUBLE) / 1000000000) / 1e6, 4)
           AS deseason_ewma,
       round(CAST(numq AS DOUBLE)
             / (CAST(denq AS DOUBLE) / 1000000000) / 1e6
             * (CAST(sfm AS DOUBLE) / 1e6), 4) AS smoothed
FROM s ORDER BY day_id
""",
)
def seasonal_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt-Winters-SHAPE seasonal smoothing of the daily order-count
    series, declaratively: (1) day-of-week seasonal indices
    ``mean(n | dow) / mean(n)`` from exact integer sums (one double
    division per dow, quantized to micro-units so both engines agree
    bit-for-bit); (2) the deseasonalized series (micro-quantized, one
    identical double expression per day); (3) the 32-lag truncated EWMA
    of the deseasonalized series for the final 10 days — the
    ``ewma_smooth`` closed form with the same ``0.3·0.7^i`` literal
    weights and adjust-normalization; (4) re-seasonalized ``smoothed``
    = level × seasonal factor.  This replaces the seasonal RECURSION
    (the part of Holt-Winters no engine should replay row-by-row) with
    two bounded joins — the deferred r8-plan candidate.

    Portability: counts are exact integers; seasonal factors and
    deseasonalized values quantize to integer micro-units immediately
    after their single double expression (shared literal text on both
    engines — the ``ewma_smooth``/``psi_drift`` convention); the EWMA
    is per-term-quantized integer sums; final readouts are one double
    division chain each, ``round(…, 4/6)``.

    Scale shape: one rollup shuffle onto the ~2400-day census; dow
    factors are a 7-row broadcast; the 10-target × 32-lag expansion is
    a broadcast join of the census; ≤10-row output."""
    d = order_day_census(spark, sf_dir)
    dw = d.select("day_id", "n", F.pmod("day_id", F.lit(7)).alias("dow"))
    # day-census is KB-sized and reused 3× — localCheckpoint (eager,
    # lineage-truncating, GC-released) instead of a persist the returned
    # lazy frame would pin in executor storage for the whole session
    dw = dw.localCheckpoint()
    fac = dow_seasonal_factors(dw)
    ds = dw.join(F.broadcast(fac), "dow").select(
        "day_id", "n", "dow", "sfm", deseason_dm()
    )
    ds = ds.localCheckpoint()  # same KB-sized census, reused 3×
    m = ds.agg(F.max("day_id").alias("mx"))
    w = spark.createDataFrame(list(_EWMA_W), schema="lag long, wt double")
    tgt = ds.crossJoin(F.broadcast(m)).where(
        F.col("day_id") > F.col("mx") - 10
    )
    src = ds.select(
        F.col("day_id").alias("src_day"), F.col("dm").alias("lag_dm")
    )
    j = tgt.crossJoin(F.broadcast(w)).join(
        F.broadcast(src),
        F.col("src_day") == F.col("day_id") - F.col("lag"),
    )
    s = j.groupBy("day_id").agg(
        F.max("n").alias("n"),
        F.max("dow").cast("int").alias("dow"),
        F.max("sfm").alias("sfm"),
        F.count(F.lit(1)).alias("n_lags"),
        _qsum(F.col("wt") * F.col("lag_dm"), 1).alias("numq"),
        _qsum(F.col("wt"), 1000000000).alias("denq"),
    )
    level = (
        F.col("numq").cast("double")
        / (F.col("denq").cast("double") / F.lit(1000000000))
        / F.lit(1e6)
    )
    return s.select(
        "day_id",
        "n",
        "dow",
        F.round(F.col("sfm").cast("double") / F.lit(1e6), 6).alias(
            "s_factor"
        ),
        "n_lags",
        F.round(level, 4).alias("deseason_ewma"),
        F.round(
            level * (F.col("sfm").cast("double") / F.lit(1e6)), 4
        ).alias("smoothed"),
    ).orderBy("day_id")


@register(
    "record_linkage_blocking",
    ids="dedup/entity-resolution: two-table record linkage — sorted-token blocking keys with frequency pruning, exact token-set Jaccard match scoring",
    oracle=f"""
WITH tok AS (
    SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents
), eligible AS (
    SELECT doc_id, toks FROM tok WHERE len(toks) >= 8
), a AS (
    SELECT doc_id AS id, toks[1:4] AS name FROM eligible
), b AS (
    SELECT doc_id + 4000000 AS id, toks[1:1] || toks[3:4] AS name
    FROM eligible WHERE doc_id % 3 = 0
    UNION ALL
    SELECT doc_id + 4000000, toks[2:2] || toks[1:1] || toks[3:4]
    FROM eligible WHERE doc_id % 3 = 1
    UNION ALL
    SELECT doc_id + 4000000,
           toks[len(toks)-3:len(toks)]
    FROM eligible WHERE doc_id % 3 = 2
), an AS (
    SELECT id, list_sort(list_distinct(name)) AS s FROM a
), bn AS (
    SELECT id, list_sort(list_distinct(name)) AS s FROM b
), ak AS (
    SELECT id, unnest(s[1:2]) AS k FROM an
), bk AS (
    SELECT id, unnest(s[1:2]) AS k FROM bn
), kfreq AS (
    SELECT k, count(*) AS c FROM (
        SELECT k FROM ak UNION ALL SELECT k FROM bk
    ) GROUP BY k
), live AS (
    SELECT k FROM kfreq WHERE c <= 50
), cand AS (
    SELECT DISTINCT ak.id AS a_id, bk.id AS b_id
    FROM ak JOIN live USING (k) JOIN bk USING (k)
), scored AS (
    SELECT cand.a_id, cand.b_id,
           CAST(len(list_intersect(an.s, bn.s)) AS BIGINT) * 1000000
               // CAST(len(list_distinct(list_concat(an.s, bn.s)))
                       AS BIGINT) AS j_micro
    FROM cand JOIN an ON an.id = cand.a_id JOIN bn ON bn.id = cand.b_id
)
SELECT a_id, b_id, CAST(j_micro AS BIGINT) AS j_micro
FROM scored WHERE j_micro >= 500000
ORDER BY a_id, b_id
""",
)
def record_linkage_blocking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-table record linkage — the entity-resolution shape (Fellegi-
    Sunter blocking + comparison): table A holds 4-token "names"
    (leading document tokens); table B holds perturbed twins (every 3rd
    doc: 2nd token DROPPED; 3rd+1: first two tokens SWAPPED — token-set
    identical; 3rd+2: unrelated trailing tokens — true negatives).

    1. BLOCKING: each record emits its 2 lexicographically-smallest
       distinct tokens as block keys (multi-pass blocking — robust to
       single-token drops/swaps where a single-key scheme misses);
    2. FREQUENCY PRUNING: keys occurring > 50 times across both sides
       are dropped — the standard stop-word guard that keeps block
       sizes bounded (the decision is derived from the data
       identically on both engines, so pruning is part of the
       verified semantics);
    3. MATCHING: candidates sharing a surviving key are scored by
       EXACT token-set Jaccard in integer micro-units
       (``inter·1e6 div union`` — no float), matched at ≥ 0.5.

    Swapped twins score 1.0, dropped-token twins 3/4, unrelated names
    almost never reach 0.5 — all three outcomes exercised at every SF.

    Scale shape: blocking keys shuffle (key, id) pairs only; the
    frequency table is key-cardinality-sized and pruning bounds every
    block at 50², so candidate generation is linear in matches, never
    |A|×|B|; the score join fetches exactly the candidate rows.  At
    100 TB this is the bucketed-LSH shape with blocking keys in place
    of band hashes."""
    tok = table(spark, sf_dir, "documents").select(
        "doc_id", tokens(F.col("text")).alias("toks")
    )
    eligible = tok.where(F.size("toks") >= 8)
    t = F.col("toks")
    a = eligible.select(
        F.col("doc_id").alias("id"), F.slice(t, 1, 4).alias("name")
    )
    b = (
        eligible.where(F.col("doc_id") % 3 == 0)
        .select(
            (F.col("doc_id") + 4000000).alias("id"),
            F.concat(F.slice(t, 1, 1), F.slice(t, 3, 2)).alias("name"),
        )
        .unionByName(
            eligible.where(F.col("doc_id") % 3 == 1).select(
                (F.col("doc_id") + 4000000).alias("id"),
                F.concat(
                    F.slice(t, 2, 1), F.slice(t, 1, 1), F.slice(t, 3, 2)
                ).alias("name"),
            )
        )
        .unionByName(
            eligible.where(F.col("doc_id") % 3 == 2).select(
                (F.col("doc_id") + 4000000).alias("id"),
                F.slice(t, -4, 4).alias("name"),
            )
        )
    )
    an = a.select(
        "id", F.array_sort(F.array_distinct("name")).alias("s")
    )
    bn = b.select(
        "id", F.array_sort(F.array_distinct("name")).alias("s")
    )
    # both sides are reused 2× (key explode + score join); eager
    # localCheckpoint releases with the RDD instead of pinning storage
    an = an.localCheckpoint()
    bn = bn.localCheckpoint()
    ak = an.select("id", F.explode(F.slice("s", 1, 2)).alias("k"))
    bk = bn.select("id", F.explode(F.slice("s", 1, 2)).alias("k"))
    live = (
        ak.select("k")
        .unionByName(bk.select("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") <= 50)
        .select("k")
    )
    cand = (
        ak.join(live, "k")
        .select(F.col("id").alias("a_id"), "k")
        .join(bk.withColumnRenamed("id", "b_id"), "k")
        .select("a_id", "b_id")
        .distinct()
    )
    scored = (
        cand.join(an.select(F.col("id").alias("a_id"),
                            F.col("s").alias("as")), "a_id")
        .join(bn.select(F.col("id").alias("b_id"),
                        F.col("s").alias("bs")), "b_id")
        .select(
            "a_id",
            "b_id",
            F.expr("div(size(array_intersect(`as`, bs)) * 1000000L, "
                   "size(array_union(`as`, bs)))").alias("j_micro"),
        )
    )
    return (
        scored.where(F.col("j_micro") >= 500000)
        .select("a_id", "b_id", F.col("j_micro").cast("long").alias("j_micro"))
        .orderBy("a_id", "b_id")
    )


@register(
    "hll_sketch_merge",
    ids="agg: HLL sketch shard-merge — per-shard hll_sketch_agg united by hll_union_agg, relative-error gate vs exact distinct",
    oracle="""
WITH t AS (
    SELECT o_custkey, o_custkey % 16 AS shard FROM orders
)
SELECT CAST(16 AS INTEGER) AS n_shards,
       CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_exact,
       TRUE AS union_within_5pct,
       TRUE AS direct_within_5pct
FROM t
""",
)
def hll_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL distinct-count SHARD-MERGE — the mergeable-sketch companion
    to ``quantile_sketch_merge`` using Spark's native Apache
    DataSketches HLL: each of 16 shards aggregates its own
    ``hll_sketch_agg`` (lgConfigK=12 ⇒ σ ≈ 1.04/√4096 ≈ 1.6%), the 16
    binary sketches merge through ``hll_union_agg``, and BOTH the
    merged estimate and the single-pass direct sketch are gated within
    ±5% (≈3σ) of the exact distinct count.  (Measured: union/direct
    errors 0–2.1% across the four tiers.  The union and direct
    estimates are NOT asserted equal: DataSketches' union keeps its
    own HLL_8 accumulator, so the two paths can differ by a fraction
    of σ even though both honor the error bound — the merge is
    sound, not bit-identical.)

    The sketch internals are JVM-opaque, so the oracle is the
    ``gk_quantile_check``/``hll_distinct_check`` TRUE-pin idiom: exact
    count from SQL, quality booleans pinned TRUE and verified
    Spark-side under the same value hash.

    Scale shape: per-shard partial aggregation collapses each shard to
    one ~2 KB sketch before the exchange; the union is 16 rows; the
    exact-count audit is the only full-width aggregate (and exists
    only for the gate — production keeps the sketches)."""
    t = table(spark, sf_dir, "orders").select(
        "o_custkey", F.pmod("o_custkey", F.lit(16)).alias("shard")
    )
    per_shard = t.groupBy("shard").agg(
        F.hll_sketch_agg("o_custkey", F.lit(12)).alias("sk")
    )
    merged = per_shard.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"),
        F.count(F.lit(1)).alias("n_shards"),
    )
    direct = t.agg(
        F.hll_sketch_estimate(
            F.hll_sketch_agg("o_custkey", F.lit(12))
        ).alias("est_direct")
    )
    exact = t.agg(F.countDistinct("o_custkey").alias("n_exact"))
    return (
        merged.crossJoin(F.broadcast(direct))
        .crossJoin(F.broadcast(exact))
        .select(
            F.col("n_shards").cast("int").alias("n_shards"),
            "n_exact",
            (
                F.abs(
                    F.col("est").cast("double")
                    - F.col("n_exact").cast("double")
                )
                <= F.lit(0.05) * F.col("n_exact").cast("double")
            ).alias("union_within_5pct"),
            (
                F.abs(
                    F.col("est_direct").cast("double")
                    - F.col("n_exact").cast("double")
                )
                <= F.lit(0.05) * F.col("n_exact").cast("double")
            ).alias("direct_within_5pct"),
        )
    )


@register(
    "minhash_estimate_vs_exact",
    ids="dedup: MinHash Jaccard-estimator calibration census — signature agreement vs exact Jaccard on seeded near-dup pairs (full value oracle)",
    oracle="""
WITH base AS (
  SELECT doc_id AS id, text FROM documents
), var AS (
  SELECT doc_id AS id, text || ' zz qq mm' AS text
  FROM documents WHERE doc_id % 5 = 0
), pairs AS (
  SELECT b.id, b.text AS ta, v.text AS tb
  FROM base b JOIN var v ON v.id = b.id
), tk AS (
  SELECT id,
         list_filter(regexp_split_to_array(ta, '\\s+'), x -> x != '') AS xa,
         list_filter(regexp_split_to_array(tb, '\\s+'), x -> x != '') AS xb
  FROM pairs
), sh AS (
  SELECT id,
         list_distinct([array_to_string(xa[i:i+2], ' ')
                        for i in range(1, len(xa) - 1)]) AS sa,
         list_distinct([array_to_string(xb[i:i+2], ' ')
                        for i in range(1, len(xb) - 1)]) AS sb
  FROM tk WHERE len(xa) >= 3
), ha AS (
  SELECT sh.id, g.i AS i,
         min(CAST(('0x' || substr(md5(s || '|' || CAST(g.i AS VARCHAR)),
                                  1, 15)) AS BIGINT)) AS ma
  FROM sh CROSS JOIN unnest(sa) AS u(s)
  CROSS JOIN generate_series(0, 7) AS g(i)
  GROUP BY sh.id, g.i
), hb AS (
  SELECT sh.id, g.i AS i,
         min(CAST(('0x' || substr(md5(s || '|' || CAST(g.i AS VARCHAR)),
                                  1, 15)) AS BIGINT)) AS mb
  FROM sh CROSS JOIN unnest(sb) AS u(s)
  CROSS JOIN generate_series(0, 7) AS g(i)
  GROUP BY sh.id, g.i
), agree AS (
  SELECT ha.id,
         CAST(sum(CASE WHEN ha.ma = hb.mb THEN 1 ELSE 0 END) AS INTEGER)
             AS n_match
  FROM ha JOIN hb ON ha.id = hb.id AND ha.i = hb.i
  GROUP BY ha.id
), exact AS (
  SELECT id,
         CAST(len(list_intersect(sa, sb)) AS BIGINT) * 1000000
             // CAST(len(list_distinct(list_concat(sa, sb))) AS BIGINT)
             AS j_micro
  FROM sh
)
SELECT agree.n_match,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(exact.j_micro) AS BIGINT) AS sum_j_micro,
       CAST(min(agree.id) AS BIGINT) AS min_id,
       CAST(max(agree.id) AS BIGINT) AS max_id
FROM agree JOIN exact ON exact.id = agree.id
GROUP BY agree.n_match
ORDER BY n_match
""",
)
def minhash_estimate_vs_exact(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MinHash ESTIMATOR-CALIBRATION census: for seeded near-dup pairs
    (every 5th document vs itself with three appended tokens — a
    corpus-wide spread of true Jaccards), compare the 8-perm portable
    MinHash agreement count (the estimator: ĵ = matches/8) against the
    EXACT 3-gram Jaccard, rolled up by agreement count with the exact
    Jaccard mass per bucket.  This pins the estimator the whole
    MinHash-LSH family relies on — E[matches/perms] = J — as a
    verifiable table (higher agreement buckets must carry higher exact
    Jaccard mass), not a trusted property.

    Fully recomputable both engines: signatures are the md5-portable
    minhash (``portable_minhash_signatures``), exact Jaccard is
    integer micro-units (``inter·1e6 div union``) — full value hash.

    Scale shape: signatures cost docs × shingles × 8 with map-side
    combine (the ``minhash_band_census`` plan); the pair join is
    id-keyed (each doc to its own variant); the census output is ≤ 9
    rows."""
    from big_data_lab_three_spark.operators.dedup import (
        portable_minhash_signatures,
    )

    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    seeds = d.where(F.col("doc_id") % 5 == 0)
    base_sh = seeds.select(
        F.col("doc_id").alias("id"),
        F.array_distinct(shingles(tokens(F.col("text")), 3)).alias("sa"),
        "text",
    ).where(F.size(F.col("sa")) > 0)
    var = seeds.select(
        "doc_id", F.concat("text", F.lit(" zz qq mm")).alias("text")
    )
    sig_a = portable_minhash_signatures(
        seeds, num_perms=8, shingle_k=3
    ).select("id", *[F.col(f"m{i}").alias(f"a{i}") for i in range(8)])
    sig_b = portable_minhash_signatures(
        var, num_perms=8, shingle_k=3
    ).select("id", *[F.col(f"m{i}").alias(f"b{i}") for i in range(8)])
    n_match = sum(
        (F.col(f"a{i}") == F.col(f"b{i}")).cast("int") for i in range(8)
    )
    agree = sig_a.join(sig_b, "id").select(
        "id", n_match.cast("int").alias("n_match")
    )
    var_sh = var.select(
        F.col("doc_id").alias("id"),
        F.array_distinct(shingles(tokens(F.col("text")), 3)).alias("sb"),
    )
    exact = base_sh.select("id", "sa").join(var_sh, "id").select(
        "id",
        F.expr(
            "div(size(array_intersect(sa, sb)) * 1000000L, "
            "size(array_union(sa, sb)))"
        ).alias("j_micro"),
    )
    return (
        agree.join(exact, "id")
        .groupBy("n_match")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum("j_micro").alias("sum_j_micro"),
            F.min("id").alias("min_id"),
            F.max("id").alias("max_id"),
        )
        .orderBy("n_match")
    )


@register(
    "mix_temperature_allocation",
    ids="training-data: temperature-reweighted data-mix allocation — sqrt(tau=0.5) domain weights, exact largest-remainder apportionment",
    oracle="""
WITH c AS (
    SELECT source, CAST(count(*) AS BIGINT) AS n_docs
    FROM documents GROUP BY source
), wq AS (
    SELECT source, n_docs,
           CAST(round(sqrt(n_docs) * 1e6) AS BIGINT) AS w_micro
    FROM c
), tot AS (
    SELECT CAST(sum(w_micro) AS BIGINT) AS w_total,
           CAST(count(*) AS BIGINT) AS n_domains
    FROM wq
), fl AS (
    SELECT wq.source, wq.n_docs, wq.w_micro,
           100000 * wq.w_micro // tot.w_total AS floor_alloc,
           100000 * wq.w_micro % tot.w_total AS rem,
           tot.w_total AS w_total
    FROM wq, tot
), lo AS (
    SELECT CAST(100000 - sum(floor_alloc) AS BIGINT) AS leftover FROM fl
), rk AS (
    SELECT fl.*,
           row_number() OVER (ORDER BY rem DESC, source ASC) AS pri
    FROM fl
)
SELECT rk.source,
       rk.n_docs,
       rk.w_micro,
       CAST(rk.floor_alloc
            + CASE WHEN rk.pri <= lo.leftover THEN 1 ELSE 0 END
            AS BIGINT) AS alloc
FROM rk, lo
ORDER BY source
""",
)
def mix_temperature_allocation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Temperature-reweighted DATA-MIX allocation — the sampling-weight
    computation every multi-source pretraining run does (upsample small
    domains, downsample the web crawl): each source's weight is
    ``n_docs^τ`` with τ = 0.5, and a budget of 100 000 samples is
    apportioned by the LARGEST-REMAINDER method (exact floors from
    integer division, leftovers to the largest remainders, ties by
    source name) so the allocations sum to the budget exactly.

    τ = 0.5 is deliberate: ``sqrt`` is correctly rounded under IEEE-754
    on both engines (general ``pow``/``exp·ln`` is NOT ULP-portable —
    the ``ewma_smooth`` literal-weights lesson), and quantizing the
    weight to integer micro-units immediately after the single sqrt
    keeps every downstream step — totals, floors, remainders, ranking
    — in exact integer arithmetic on both engines.

    Scale shape: one rollup to |sources| rows; everything after is
    census-sized.  At 100 TB this 6-row table IS the sampler config the
    ``data_mix_interleave``/``weighted sampling`` operators consume."""
    from pyspark.sql import Window

    c = (
        table(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    wq = c.select(
        "source",
        "n_docs",
        F.round(F.sqrt(F.col("n_docs")) * F.lit(1e6))
        .cast("long")
        .alias("w_micro"),
    )
    tot = wq.agg(
        F.sum("w_micro").alias("w_total"),
        F.count(F.lit(1)).alias("n_domains"),
    )
    fl = wq.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "w_micro",
        F.expr("div(100000 * w_micro, w_total)").alias("floor_alloc"),
        F.pmod(F.lit(100000) * F.col("w_micro"), F.col("w_total")).alias(
            "rem"
        ),
    )
    lo = fl.agg(
        (F.lit(100000) - F.sum("floor_alloc")).alias("leftover")
    )
    rk = fl.withColumn(
        "pri",
        F.row_number().over(
            Window.orderBy(F.desc("rem"), F.asc("source"))
        ),
    )
    return (
        rk.crossJoin(F.broadcast(lo))
        .select(
            "source",
            "n_docs",
            "w_micro",
            (
                F.col("floor_alloc")
                + F.when(F.col("pri") <= F.col("leftover"), 1).otherwise(0)
            )
            .cast("long")
            .alias("alloc"),
        )
        .orderBy("source")
    )


@register(
    "token_fertility_census",
    ids="text: tokenizer-fertility census — chars-per-token (whitespace and BPE-ish) in exact integer micro-units, per language",
    oracle=f"""
WITH t AS (
    SELECT lang,
           CAST(length(text) AS BIGINT) AS n_chars,
           CAST(len({_DUCK_TOKS}) AS BIGINT) AS n_ws,
           CAST(len(regexp_extract_all(
                text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT)
               AS n_bpe
    FROM documents
), f AS (
    SELECT lang, n_chars, n_ws, n_bpe,
           n_chars * 1000000 // n_ws AS ws_fert,
           n_chars * 1000000 // n_bpe AS bpe_fert
    FROM t WHERE n_ws > 0 AND n_bpe > 0
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       CAST(sum(n_ws) AS BIGINT) AS total_ws_tokens,
       CAST(sum(n_bpe) AS BIGINT) AS total_bpe_tokens,
       CAST(sum(ws_fert) AS BIGINT) AS sum_ws_fert_micro,
       CAST(sum(bpe_fert) AS BIGINT) AS sum_bpe_fert_micro,
       CAST(min(bpe_fert) AS BIGINT) AS min_bpe_fert_micro,
       CAST(max(bpe_fert) AS BIGINT) AS max_bpe_fert_micro
FROM f GROUP BY lang ORDER BY lang
""",
)
def token_fertility_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-FERTILITY census — chars per token, the compression
    metric multilingual pipelines track per language (a language whose
    tokenizer yields low fertility is over-segmented and over-billed in
    the token budget): per document, exact integer chars-per-token in
    micro-units (``chars·1e6 div tokens``) for both the whitespace and
    the BPE-ish regex tokenizer, rolled up per language with exact sums
    and extrema — all-integer output, full value hash.

    Scale shape: one codegen projection per document (two tokenizers,
    no explode — ``size`` over the token arrays), one rollup to
    |langs| rows.  The same single-scan class as ``text_quality``."""
    from big_data_lab_three_spark.operators.text import BPE_ISH_PATTERN

    t = table(spark, sf_dir, "documents").select(
        "lang",
        F.length("text").cast("long").alias("n_chars"),
        F.size(tokens(F.col("text"))).cast("long").alias("n_ws"),
        F.size(F.regexp_extract_all("text", F.lit(BPE_ISH_PATTERN), F.lit(0)))
        .cast("long")
        .alias("n_bpe"),
    )
    f = t.where((F.col("n_ws") > 0) & (F.col("n_bpe") > 0)).select(
        "lang",
        "n_chars",
        "n_ws",
        "n_bpe",
        F.expr("div(n_chars * 1000000, n_ws)").alias("ws_fert"),
        F.expr("div(n_chars * 1000000, n_bpe)").alias("bpe_fert"),
    )
    return (
        f.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.sum("n_ws").alias("total_ws_tokens"),
            F.sum("n_bpe").alias("total_bpe_tokens"),
            F.sum("ws_fert").alias("sum_ws_fert_micro"),
            F.sum("bpe_fert").alias("sum_bpe_fert_micro"),
            F.min("bpe_fert").alias("min_bpe_fert_micro"),
            F.max("bpe_fert").alias("max_bpe_fert_micro"),
        )
        .orderBy("lang")
    )


@register(
    "join_cardinality_estimate",
    ids="planner costing: self-join cardinality estimation from a deterministic md5 key sample vs the exact sum-of-squares (full value oracle)",
    oracle="""
WITH c AS (
    SELECT l_partkey AS k, CAST(count(*) AS BIGINT) AS cnt
    FROM lineitem GROUP BY 1
), e AS (
    SELECT CAST(count(*) AS BIGINT) AS n_keys,
           CAST(sum(cnt * cnt) AS BIGINT) AS exact_pairs
    FROM c
), s AS (
    SELECT CAST(count(*) AS BIGINT) AS n_sampled,
           CAST(16 * sum(cnt * cnt) AS BIGINT) AS est_pairs
    FROM c
    WHERE CAST(('0x' || substr(md5(CAST(k AS VARCHAR)), 1, 15)) AS BIGINT)
              % 16 = 0
)
SELECT e.n_keys, e.exact_pairs, s.n_sampled, s.est_pairs,
       (abs(s.est_pairs - e.exact_pairs) * 100 <= 25 * e.exact_pairs)
           AS within_25pct
FROM e, s
""",
)
def join_cardinality_estimate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """JOIN-CARDINALITY estimation — the planner-costing primitive
    behind every join-order decision: the size of the lineitem
    self-join on ``l_partkey`` is exactly ``Σ_k c_k²``, and an engine
    that cannot afford the full key census estimates it from a key
    SAMPLE.  The sample here is the engine-portable deterministic one
    (keys whose 60-bit md5 ≡ 0 mod 16 — the ``training_shards`` md5
    convention, a pure function of the key), scaled by 16; the output
    carries the exact count, the estimate, and the realized ±25% gate
    — all exact integers, so DuckDB recomputes the census, the sample,
    AND the estimate identically (full value hash on the cost model).

    Scale shape: one map-side-combining groupBy(key) census (the
    statistics pass ANALYZE runs), one filtered sum over it; the
    sample filter is a projection on the census, not a second scan.
    At 100 TB the census itself is the expensive pass — the md5-sample
    variant drops to sampled keys only when pushed into the scan."""
    c = (
        table(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_partkey").alias("k"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    c = c.localCheckpoint()  # key census reused by exact + sampled arms
    e = c.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum(F.col("cnt") * F.col("cnt")).alias("exact_pairs"),
    )
    sampled = c.where(
        F.pmod(
            F.conv(
                F.substring(F.md5(F.col("k").cast("string")), 1, 15), 16, 10
            ).cast("long"),
            F.lit(16),
        )
        == 0
    )
    s = sampled.agg(
        F.count(F.lit(1)).alias("n_sampled"),
        (F.lit(16) * F.sum(F.col("cnt") * F.col("cnt"))).alias("est_pairs"),
    )
    return (
        e.crossJoin(F.broadcast(s))
        .select(
            "n_keys",
            "exact_pairs",
            "n_sampled",
            "est_pairs",
            (
                F.abs(F.col("est_pairs") - F.col("exact_pairs")) * 100
                <= F.lit(25) * F.col("exact_pairs")
            ).alias("within_25pct"),
        )
    )


@register(
    "span_mask_apply",
    ids="text safety: apply substring-level decontamination — rewrite contaminated token spans to a mask token (full value oracle over the rewritten text)",
    oracle=f"""
WITH bench AS (
    SELECT doc_id, text FROM documents WHERE doc_id % 13 = 0
), corpus AS (
    SELECT doc_id, text FROM documents WHERE doc_id % 13 != 0
    UNION ALL
    SELECT doc_id + 3000000,
           'alpha beta gamma delta ' || text || ' omega psi'
    FROM bench WHERE doc_id % 26 = 0
), bg AS (
    SELECT DISTINCT unnest(list_distinct(
               [array_to_string(toks[i:i+7], ' ')
                for i in range(1, len(toks) - 6)])) AS g
    FROM (SELECT {_DUCK_TOKS} AS toks FROM bench)
), cw AS (
    SELECT doc_id, u.pos AS pos, u.g AS g FROM (
        SELECT doc_id,
               unnest([{{'pos': i, 'g': array_to_string(toks[i:i+7], ' ')}}
                       for i in range(1, len(toks) - 6)]) AS u
        FROM (SELECT doc_id, {_DUCK_TOKS} AS toks FROM corpus)
    )
), hit AS (
    SELECT doc_id, pos FROM cw WHERE g IN (SELECT g FROM bg)
), contam AS (
    SELECT DISTINCT doc_id FROM hit
), toks AS (
    SELECT c.doc_id, u.pos AS pos, u.tok AS tok FROM (
        SELECT doc_id,
               unnest([{{'pos': i, 'tok': t[i]}}
                       for i in range(1, len(t) + 1)]) AS u
        FROM (SELECT doc_id, {_DUCK_TOKS} AS t FROM corpus
              WHERE doc_id IN (SELECT doc_id FROM contam))
    ) c
), marked AS (
    SELECT t.doc_id, t.pos,
           CASE WHEN EXISTS (
               SELECT 1 FROM hit h
               WHERE h.doc_id = t.doc_id
                 AND t.pos BETWEEN h.pos AND h.pos + 7)
                THEN '<MASK>' ELSE t.tok END AS tok,
           CASE WHEN EXISTS (
               SELECT 1 FROM hit h
               WHERE h.doc_id = t.doc_id
                 AND t.pos BETWEEN h.pos AND h.pos + 7)
                THEN 1 ELSE 0 END AS masked
    FROM toks t
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(masked) AS BIGINT) AS n_masked,
       md5(string_agg(tok, ' ' ORDER BY pos)) AS masked_md5
FROM marked
GROUP BY doc_id
ORDER BY doc_id
""",
)
def span_mask_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPLY the substring-level decontamination: rewrite each
    contaminated document with its flagged 8-token windows replaced by
    ``<MASK>`` tokens — the mask-don't-drop rewrite that keeps the
    clean remainder of a document in the training set (the
    ``span_decontaminate`` extents, executed).  Output per contaminated
    doc: token count, masked-token count (== the covered-token figure
    the extents query reports), and the md5 of the REWRITTEN text — a
    full value hash over the actual rewrite, not just its statistics.

    The rewrite never explodes tokens on the Spark side: each doc's
    flagged positions aggregate into an in-row interval array (hit
    rows are rare), and one ``transform`` + ``exists`` over the token
    array rewrites in place inside codegen — the masked text is
    reassembled with ``concat_ws`` in one projection.  The DuckDB
    oracle reaches the identical strings through an indexed-token
    range join + ordered ``string_agg``.

    Scale shape: same broadcast-semi-join plan as
    ``span_decontaminate`` for finding hits; the rewrite joins the
    (rare) contaminated docs to their interval arrays and stays a
    projection — no token-level shuffle anywhere."""
    corpus, hits = _contamination_hits(spark, sf_dir)
    iv = hits.groupBy("doc_id").agg(
        F.collect_list(
            F.struct(
                F.col("pos").alias("lo"), (F.col("pos") + 7).alias("hi")
            )
        ).alias("iv")
    )
    toks = tokens(F.col("text"))
    masked_tok = F.transform(
        toks,
        lambda x, i: F.when(
            F.exists(
                F.col("iv"),
                lambda v: (F.lit(1) + i >= v["lo"])
                & (F.lit(1) + i <= v["hi"]),
            ),
            F.lit("<MASK>"),
        ).otherwise(x),
    )
    n_masked = F.aggregate(
        F.transform(
            toks,
            lambda x, i: F.exists(
                F.col("iv"),
                lambda v: (F.lit(1) + i >= v["lo"])
                & (F.lit(1) + i <= v["hi"]),
            ).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    return (
        corpus.join(iv, "doc_id")
        .select(
            "doc_id",
            F.size(toks).cast("long").alias("n_tokens"),
            n_masked.alias("n_masked"),
            F.md5(
                F.encode(F.concat_ws(" ", masked_tok), "UTF-8")
            ).alias("masked_md5"),
        )
        .orderBy("doc_id")
    )


@register(
    "charclass_entropy_census",
    ids="text quality: character-class entropy per language — exact class counts, psi-convention smoothed-share entropy (bounded ln grid)",
    oracle="""
WITH t AS (
    SELECT lang,
           CAST(length(text) AS BIGINT) AS n_all,
           CAST(length(text) - length(regexp_replace(text, '[a-z]', '', 'g'))
               AS BIGINT) AS n_lower,
           CAST(length(text) - length(regexp_replace(text, '[A-Z]', '', 'g'))
               AS BIGINT) AS n_upper,
           CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
               AS BIGINT) AS n_digit,
           CAST(length(text) - length(regexp_replace(text, '[ \\t\\n]', '', 'g'))
               AS BIGINT) AS n_space
    FROM documents
), c AS (
    SELECT lang,
           CAST(sum(n_all) AS BIGINT) AS n_chars,
           CAST(sum(n_lower) AS BIGINT) AS c_lower,
           CAST(sum(n_upper) AS BIGINT) AS c_upper,
           CAST(sum(n_digit) AS BIGINT) AS c_digit,
           CAST(sum(n_space) AS BIGINT) AS c_space,
           CAST(sum(n_all - n_lower - n_upper - n_digit - n_space)
               AS BIGINT) AS c_other
    FROM t GROUP BY lang
), u AS (
    SELECT lang, n_chars, c_lower, c_upper, c_digit, c_space, c_other,
           unnest([c_lower, c_upper, c_digit, c_space, c_other]) AS cnt
    FROM c
), k AS (
    SELECT lang, n_chars, c_lower, c_upper, c_digit, c_space, c_other,
           (CAST(cnt AS DOUBLE) + 0.5) / (CAST(n_chars AS DOUBLE) + 2.5)
               AS share
    FROM u
), q AS (
    SELECT lang,
           CAST(max(n_chars) AS BIGINT) AS n_chars,
           CAST(max(c_lower) AS BIGINT) AS c_lower,
           CAST(max(c_upper) AS BIGINT) AS c_upper,
           CAST(max(c_digit) AS BIGINT) AS c_digit,
           CAST(max(c_space) AS BIGINT) AS c_space,
           CAST(max(c_other) AS BIGINT) AS c_other,
           CAST(sum(CAST(floor(-share * ln(share) * 1000000 + 0.5)
                         AS BIGINT)) AS BIGINT) AS entq
    FROM k GROUP BY lang
)
SELECT lang, n_chars, c_lower, c_upper, c_digit, c_space, c_other,
       round(CAST(entq AS DOUBLE) / 1000000, 4) AS entropy_nats
FROM q ORDER BY lang
""",
)
def charclass_entropy_census(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Character-class ENTROPY per language — the compact corpus-shape
    signal (a language bucket whose class distribution collapses —
    all-digits, no-whitespace — is boilerplate or mis-identified):
    exact per-language counts of {lower, upper, digit, whitespace,
    other} characters (regex strip-and-diff, codegen), then the
    Shannon entropy of the 5-class distribution with Laplace-smoothed
    shares ``(c+0.5)/(n+2.5)``.

    ``ln`` is the one transcendental the statistic needs; the
    ``psi_drift``/``benford_census`` convention applies — the ln grid
    is BOUNDED (|langs|×5 cells), each cell quantizes to 1e-6
    immediately, and only exact integers are summed across cells, so
    partial-sum order cannot flip the readout on either engine.

    Scale shape: one codegen projection per document (4 regex strips),
    one rollup to |langs| rows; the entropy arithmetic runs on the
    census only."""
    t = table(spark, sf_dir, "documents").select(
        "lang",
        F.length("text").cast("long").alias("n_all"),
        (
            F.length("text")
            - F.length(F.regexp_replace("text", "[a-z]", ""))
        ).cast("long").alias("n_lower"),
        (
            F.length("text")
            - F.length(F.regexp_replace("text", "[A-Z]", ""))
        ).cast("long").alias("n_upper"),
        (
            F.length("text")
            - F.length(F.regexp_replace("text", "[0-9]", ""))
        ).cast("long").alias("n_digit"),
        (
            F.length("text")
            - F.length(F.regexp_replace("text", "[ \\t\\n]", ""))
        ).cast("long").alias("n_space"),
    )
    c = t.groupBy("lang").agg(
        F.sum("n_all").alias("n_chars"),
        F.sum("n_lower").alias("c_lower"),
        F.sum("n_upper").alias("c_upper"),
        F.sum("n_digit").alias("c_digit"),
        F.sum("n_space").alias("c_space"),
        F.sum(
            F.col("n_all")
            - F.col("n_lower")
            - F.col("n_upper")
            - F.col("n_digit")
            - F.col("n_space")
        ).alias("c_other"),
    )
    u = c.select(
        "lang", "n_chars", "c_lower", "c_upper", "c_digit", "c_space",
        "c_other",
        F.explode(
            F.array("c_lower", "c_upper", "c_digit", "c_space", "c_other")
        ).alias("cnt"),
    )
    share = (F.col("cnt").cast("double") + F.lit(0.5)) / (
        F.col("n_chars").cast("double") + F.lit(2.5)
    )
    q = u.select(
        "lang", "n_chars", "c_lower", "c_upper", "c_digit", "c_space",
        "c_other",
        share.alias("share"),
    ).groupBy("lang").agg(
        F.max("n_chars").alias("n_chars"),
        F.max("c_lower").alias("c_lower"),
        F.max("c_upper").alias("c_upper"),
        F.max("c_digit").alias("c_digit"),
        F.max("c_space").alias("c_space"),
        F.max("c_other").alias("c_other"),
        _qsum(-F.col("share") * F.log(F.col("share")), 1000000).alias(
            "entq"
        ),
    )
    return q.select(
        "lang", "n_chars", "c_lower", "c_upper", "c_digit", "c_space",
        "c_other",
        F.round(F.col("entq").cast("double") / F.lit(1000000.0), 4).alias(
            "entropy_nats"
        ),
    ).orderBy("lang")


# Brown double-smoothing weights: first-order 0.3·0.7^i (the shared
# _EWMA_W literals) and their self-convolution truncated at 32 lags —
# Python-generated decimal literals, never runtime pow (the
# ewma_smooth ULP-portability rule).
_BROWN_W1 = _EWMA_W
_BROWN_W2 = tuple(
    (k, round(sum(0.3 * 0.7**i * 0.3 * 0.7 ** (k - i)
                  for i in range(0, k + 1)), 12))
    for k in range(32)
)
_BROWN_W1_SQL = ", ".join(f"({i}, {w!r})" for i, w in _BROWN_W1)
_BROWN_W2_SQL = ", ".join(f"({i}, {w!r})" for i, w in _BROWN_W2)


@register(
    "holt_trend_smooth",
    ids="timeseries: Brown double exponential smoothing — level + trend + one-step forecast from composed literal weight kernels",
    oracle="""
WITH d AS (
    SELECT CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)
               AS day_id,
           CAST(count(*) AS BIGINT) AS n
    FROM orders GROUP BY 1
), m AS (
    SELECT max(day_id) AS mx FROM d
), w1 AS (
    SELECT CAST(i AS BIGINT) AS lag, CAST(wt AS DOUBLE) AS wt
    FROM (VALUES {W1}) AS v(i, wt)
), w2 AS (
    SELECT CAST(i AS BIGINT) AS lag, CAST(wt AS DOUBLE) AS wt
    FROM (VALUES {W2}) AS v(i, wt)
), tgt AS (
    SELECT d.day_id, d.n FROM d, m WHERE d.day_id > m.mx - 10
), j1 AS (
    SELECT tgt.day_id, tgt.n, w1.wt, src.n AS lag_n
    FROM tgt JOIN w1 ON TRUE
    JOIN d src ON src.day_id = tgt.day_id - w1.lag
), s1 AS (
    SELECT day_id, CAST(max(n) AS BIGINT) AS n,
           CAST(sum(CAST(floor(wt * lag_n * 1000000 + 0.5) AS BIGINT))
               AS BIGINT) AS numq1,
           CAST(sum(CAST(floor(wt * 1000000000 + 0.5) AS BIGINT))
               AS BIGINT) AS denq1
    FROM j1 GROUP BY day_id
), j2 AS (
    SELECT tgt.day_id, w2.wt, src.n AS lag_n
    FROM tgt JOIN w2 ON TRUE
    JOIN d src ON src.day_id = tgt.day_id - w2.lag
), s2 AS (
    SELECT day_id,
           CAST(sum(CAST(floor(wt * lag_n * 1000000 + 0.5) AS BIGINT))
               AS BIGINT) AS numq2,
           CAST(sum(CAST(floor(wt * 1000000000 + 0.5) AS BIGINT))
               AS BIGINT) AS denq2
    FROM j2 GROUP BY day_id
), z AS (
    SELECT s1.day_id, s1.n,
           (CAST(s1.numq1 AS DOUBLE) / 1000000)
               / (CAST(s1.denq1 AS DOUBLE) / 1000000000) AS e1,
           (CAST(s2.numq2 AS DOUBLE) / 1000000)
               / (CAST(s2.denq2 AS DOUBLE) / 1000000000) AS e2
    FROM s1 JOIN s2 ON s2.day_id = s1.day_id
)
SELECT day_id, n,
       round(e1, 4) AS s1,
       round(e2, 4) AS s2,
       round(2 * e1 - e2, 4) AS level,
       round(0.428571428571 * (e1 - e2), 4) AS trend,
       round(2 * e1 - e2 + 0.428571428571 * (e1 - e2), 4) AS forecast_1
FROM z ORDER BY day_id
""".format(W1=_BROWN_W1_SQL, W2=_BROWN_W2_SQL),
)
def holt_trend_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BROWN double exponential smoothing of the daily order-count
    series — the trend-aware forecasting readout (`seasonal_smooth`'s
    sibling from the r8-plan deferred list): the first smoothing uses
    the shared ``0.3·0.7^i`` literal kernel, the second uses the
    kernel's SELF-CONVOLUTION (also precomputed Python literals —
    runtime ``pow`` is not ULP-portable), both truncated at 32 lags
    and adjust-normalized by the present-lag weight mass.  Level
    ``2·S1 − S2``, trend ``α/(1−α)·(S1 − S2)`` with the ratio as a
    shared 12-digit literal, and the one-step forecast — the recursion
    replaced by two bounded broadcast joins, no engine replays any
    iteration.

    Portability: counts are exact integers; every weight×lag product
    quantizes at 1e-6 and integer-sums (the ``ewma_smooth``
    convention); the final level/trend/forecast are identical double
    chains rounded at 4.

    Scale shape: one rollup shuffle to the ~2400-day census; two
    10-target × 32-lag broadcast expansions; ≤10-row output."""
    d = order_day_census(spark, sf_dir)
    d = d.localCheckpoint()  # KB-sized day census, reused 3×
    m = d.agg(F.max("day_id").alias("mx"))
    tgt = d.crossJoin(F.broadcast(m)).where(
        F.col("day_id") > F.col("mx") - 10
    )
    src = d.select(
        F.col("day_id").alias("src_day"), F.col("n").alias("lag_n")
    )

    def smooth(w_literals, num_alias, den_alias):
        w = spark.createDataFrame(
            list(w_literals), schema="lag long, wt double"
        )
        j = tgt.crossJoin(F.broadcast(w)).join(
            F.broadcast(src),
            F.col("src_day") == F.col("day_id") - F.col("lag"),
        )
        return j.groupBy("day_id").agg(
            F.max("n").alias("n"),
            _qsum(F.col("wt") * F.col("lag_n"), 1000000).alias(num_alias),
            _qsum(F.col("wt"), 1000000000).alias(den_alias),
        )

    s1 = smooth(_BROWN_W1, "numq1", "denq1")
    s2 = smooth(_BROWN_W2, "numq2", "denq2").drop("n")
    z = s1.join(s2, "day_id")
    e1 = (F.col("numq1").cast("double") / F.lit(1000000.0)) / (
        F.col("denq1").cast("double") / F.lit(1000000000.0)
    )
    e2 = (F.col("numq2").cast("double") / F.lit(1000000.0)) / (
        F.col("denq2").cast("double") / F.lit(1000000000.0)
    )
    ratio = F.lit(0.428571428571)
    return z.select(
        "day_id",
        "n",
        F.round(e1, 4).alias("s1"),
        F.round(e2, 4).alias("s2"),
        F.round(F.lit(2) * e1 - e2, 4).alias("level"),
        F.round(ratio * (e1 - e2), 4).alias("trend"),
        F.round(F.lit(2) * e1 - e2 + ratio * (e1 - e2), 4).alias(
            "forecast_1"
        ),
    ).orderBy("day_id")
