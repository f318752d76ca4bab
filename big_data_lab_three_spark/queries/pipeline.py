"""Round-10 training-data-pipeline layer: full Holt-Winters
forecasting, DSIR-style importance resampling, and event-time
admission.

These extend the LLM-training-data families (SURVEY.md §2 extensions):
``dsir_importance_resample`` is the data-selection shape of Xie et
al.'s DSIR (hashed-n-gram importance weights + Gumbel-top-k resample)
re-expressed as two token scans and a bounded feature table;
``holt_winters_forecast`` composes the r9 seasonal/trend smoothers into
the standard additive level+trend+seasonal readout.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from big_data_lab_three_spark.functions.numeric import quantized_sum as _qsum
from big_data_lab_three_spark.queries import register
from big_data_lab_three_spark.queries.curation import (
    _BROWN_W1,
    _BROWN_W1_SQL,
    _BROWN_W2,
    _BROWN_W2_SQL,
    _DUCK_BANDS,
    deseason_dm,
    dow_seasonal_factors,
    order_day_census,
)
from big_data_lab_three_spark.functions.text import tokens
from big_data_lab_three_spark.queries.dedup import _DUCK_SHINGLES
from big_data_lab_three_spark.queries.text import _DUCK_TOKS
from big_data_lab_three_spark.sources import table

_SIXTEEN_POW_15 = float(16**15)  # md5-15-hex-digit uniform denominator


@register(
    "holt_winters_forecast",
    ids="timeseries: full additive Holt-Winters — level + trend + day-of-week seasonal with a re-seasonalized one-step forecast",
    oracle="""
WITH d AS (
    SELECT CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)
               AS day_id,
           CAST(count(*) AS BIGINT) AS n
    FROM orders GROUP BY 1
), dw AS (
    SELECT day_id, n, day_id % 7 AS dow FROM d
), sfac AS (
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
    FROM sfac, tt
), ds AS (
    SELECT dw.day_id, dw.n, dw.dow, fac.sfm,
           CAST(round(1e6 * dw.n / (fac.sfm / 1e6)) AS BIGINT) AS dm
    FROM dw JOIN fac USING (dow)
), m AS (
    SELECT max(day_id) AS mx FROM ds
), w1 AS (
    SELECT CAST(i AS BIGINT) AS lag, CAST(wt AS DOUBLE) AS wt
    FROM (VALUES {W1}) AS v(i, wt)
), w2 AS (
    SELECT CAST(i AS BIGINT) AS lag, CAST(wt AS DOUBLE) AS wt
    FROM (VALUES {W2}) AS v(i, wt)
), tgt AS (
    SELECT ds.* FROM ds, m WHERE ds.day_id > m.mx - 10
), j1 AS (
    SELECT tgt.day_id, tgt.n, tgt.dow, tgt.sfm, w1.wt, src.dm AS lag_dm
    FROM tgt JOIN w1 ON TRUE
    JOIN ds src ON src.day_id = tgt.day_id - w1.lag
), s1 AS (
    SELECT day_id,
           CAST(max(n) AS BIGINT) AS n,
           CAST(max(dow) AS INTEGER) AS dow,
           CAST(max(sfm) AS BIGINT) AS sfm,
           CAST(sum(CAST(floor(wt * lag_dm + 0.5) AS BIGINT)) AS BIGINT)
               AS numq1,
           CAST(sum(CAST(floor(wt * 1000000000 + 0.5) AS BIGINT)) AS BIGINT)
               AS denq1
    FROM j1 GROUP BY day_id
), j2 AS (
    SELECT tgt.day_id, w2.wt, src.dm AS lag_dm
    FROM tgt JOIN w2 ON TRUE
    JOIN ds src ON src.day_id = tgt.day_id - w2.lag
), s2 AS (
    SELECT day_id,
           CAST(sum(CAST(floor(wt * lag_dm + 0.5) AS BIGINT)) AS BIGINT)
               AS numq2,
           CAST(sum(CAST(floor(wt * 1000000000 + 0.5) AS BIGINT)) AS BIGINT)
               AS denq2
    FROM j2 GROUP BY day_id
), z AS (
    SELECT s1.day_id, s1.n, s1.dow, s1.sfm,
           (CAST(s1.numq1 AS DOUBLE))
               / (CAST(s1.denq1 AS DOUBLE) / 1000000000) / 1e6 AS e1,
           (CAST(s2.numq2 AS DOUBLE))
               / (CAST(s2.denq2 AS DOUBLE) / 1000000000) / 1e6 AS e2
    FROM s1 JOIN s2 ON s2.day_id = s1.day_id
)
SELECT z.day_id, z.n, z.dow,
       round(CAST(z.sfm AS DOUBLE) / 1e6, 6) AS s_factor,
       round(2 * e1 - e2, 4) AS level,
       round(0.428571428571 * (e1 - e2), 4) AS trend,
       CAST((z.day_id + 1) % 7 AS INTEGER) AS next_dow,
       round(CAST(nf.sfm AS DOUBLE) / 1e6, 6) AS next_s_factor,
       round((2 * e1 - e2 + 0.428571428571 * (e1 - e2))
             * (CAST(nf.sfm AS DOUBLE) / 1e6), 4) AS forecast_1
FROM z JOIN fac nf ON nf.dow = (z.day_id + 1) % 7
ORDER BY z.day_id
""".format(W1=_BROWN_W1_SQL, W2=_BROWN_W2_SQL),
)
def holt_winters_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL additive Holt-Winters readout over the daily order-count
    series — the capstone composing the two r9 smoothers
    (``seasonal_smooth``'s day-of-week seasonal indices +
    ``holt_trend_smooth``'s Brown double smoothing): (1) dow seasonal
    factors from exact integer sums, micro-quantized; (2) the
    deseasonalized series ``dm``; (3) Brown double smoothing OF THE
    DESEASONALIZED series with the shared ``0.3·0.7^i`` literal kernel
    and its self-convolution (never runtime ``pow`` — not
    ULP-portable) giving level ``2·S1−S2`` and trend
    ``α/(1−α)·(S1−S2)``; (4) the one-step forecast RE-SEASONALIZED by
    the NEXT day's dow factor — the standard HW forecast equation
    ``(level + h·trend) · s[t+h mod m]`` at h=1.  Every recursion is
    replaced by bounded broadcast joins; no engine replays any
    iteration.

    Portability: counts are exact integers; seasonal factors and
    deseasonalized values quantize to integer micro-units right after
    their single double expression; the smoothing sums are
    per-term-quantized integers (``_qsum``); level/trend/forecast are
    identical double chains rounded at 4.

    Scale shape: one rollup shuffle to the ~2400-day census; the dow
    factor table is a 7-row broadcast used twice (deseasonalize +
    re-seasonalize); two 10-target × 32-lag broadcast expansions;
    ≤10-row output."""
    d = order_day_census(spark, sf_dir)
    dw = d.select("day_id", "n", F.pmod("day_id", F.lit(7)).alias("dow"))
    dw = dw.localCheckpoint()  # KB-sized day census, reused 3×
    fac = dow_seasonal_factors(dw)
    fac = fac.localCheckpoint()  # 7 rows, reused twice (de/re-season)
    ds = dw.join(F.broadcast(fac), "dow").select(
        "day_id", "n", "dow", "sfm", deseason_dm()
    )
    ds = ds.localCheckpoint()  # deseasonalized census, reused 3×
    m = ds.agg(F.max("day_id").alias("mx"))
    tgt = ds.crossJoin(F.broadcast(m)).where(
        F.col("day_id") > F.col("mx") - 10
    )
    src = ds.select(
        F.col("day_id").alias("src_day"), F.col("dm").alias("lag_dm")
    )

    def smooth(w_literals, num_alias, den_alias, keep_meta):
        w = spark.createDataFrame(
            list(w_literals), schema="lag long, wt double"
        )
        j = tgt.crossJoin(F.broadcast(w)).join(
            F.broadcast(src),
            F.col("src_day") == F.col("day_id") - F.col("lag"),
        )
        aggs = []
        if keep_meta:
            aggs += [
                F.max("n").alias("n"),
                F.max("dow").cast("int").alias("dow"),
                F.max("sfm").alias("sfm"),
            ]
        aggs += [
            _qsum(F.col("wt") * F.col("lag_dm"), 1).alias(num_alias),
            _qsum(F.col("wt"), 1000000000).alias(den_alias),
        ]
        return j.groupBy("day_id").agg(*aggs)

    s1 = smooth(_BROWN_W1, "numq1", "denq1", keep_meta=True)
    s2 = smooth(_BROWN_W2, "numq2", "denq2", keep_meta=False)
    z = s1.join(s2, "day_id")
    e1 = (
        F.col("numq1").cast("double")
        / (F.col("denq1").cast("double") / F.lit(1000000000.0))
        / F.lit(1e6)
    )
    e2 = (
        F.col("numq2").cast("double")
        / (F.col("denq2").cast("double") / F.lit(1000000000.0))
        / F.lit(1e6)
    )
    ratio = F.lit(0.428571428571)
    level = F.lit(2) * e1 - e2
    trend = ratio * (e1 - e2)
    nfac = fac.select(
        F.col("dow").alias("next_dow"), F.col("sfm").alias("next_sfm")
    )
    out = z.withColumn(
        "next_dow", F.pmod(F.col("day_id") + 1, F.lit(7))
    ).join(F.broadcast(nfac), "next_dow")
    return out.select(
        "day_id",
        "n",
        "dow",
        F.round(F.col("sfm").cast("double") / F.lit(1e6), 6).alias(
            "s_factor"
        ),
        F.round(level, 4).alias("level"),
        F.round(trend, 4).alias("trend"),
        F.col("next_dow").cast("int").alias("next_dow"),
        F.round(F.col("next_sfm").cast("double") / F.lit(1e6), 6).alias(
            "next_s_factor"
        ),
        F.round(
            (level + trend)
            * (F.col("next_sfm").cast("double") / F.lit(1e6)),
            4,
        ).alias("forecast_1"),
    ).orderBy("day_id")


# shared DSIR scoring chain (SQL side): hashed-unigram log-likelihood
# ratios → per-doc exact-integer z → Gumbel key.  Consumed by both the
# resample and the domain census so their scores are one definition.
_DUCK_DSIR = f"""toks AS (
    SELECT doc_id, lang, source, unnest({_DUCK_TOKS}) AS tok
    FROM documents
), bt AS (
    SELECT doc_id, lang, source,
           CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) % 256 AS b
    FROM toks
), raw AS (
    SELECT b, CAST(count(*) AS BIGINT) AS tf_r FROM bt GROUP BY b
), tgt AS (
    SELECT b, CAST(count(*) AS BIGINT) AS tf_t
    FROM bt WHERE lang = 'en' GROUP BY b
), tot AS (
    SELECT CAST(sum(tf_r) AS BIGINT) AS tr FROM raw
), ttot AS (
    SELECT CAST(sum(tf_t) AS BIGINT) AS tw FROM tgt
), lrq AS (
    SELECT raw.b,
           CAST(floor(
               (ln((coalesce(tgt.tf_t, 0) + 0.5) / (ttot.tw + 128.0))
                - ln((raw.tf_r + 0.5) / (tot.tr + 128.0))) * 1000000
               + 0.5) AS BIGINT) AS qc
    FROM raw LEFT JOIN tgt USING (b), tot, ttot
), z AS (
    SELECT bt.doc_id, bt.lang, bt.source,
           CAST(count(*) AS BIGINT) AS n_toks,
           CAST(sum(lrq.qc) AS BIGINT) AS zq
    FROM bt JOIN lrq USING (b)
    GROUP BY bt.doc_id, bt.lang, bt.source
), k AS (
    SELECT doc_id, lang, source, n_toks, zq,
           CAST(zq AS DOUBLE) / 1000000 / 2.0
           - ln(-ln((CAST(('0x' || substr(
                 md5('dsir:' || CAST(doc_id AS VARCHAR)), 1, 15))
                 AS BIGINT) + 0.5) / 1152921504606846976.0)) AS gkey
    FROM z
)"""


def _dsir_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of ``_DUCK_DSIR``: one row per document with
    ``(doc_id, lang, source, n_toks, zq, gkey)`` — the hashed-unigram
    importance score ``zq`` (exact integer micro-units) and the
    deterministic Gumbel-top-k key ``gkey``."""
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "text"
    )
    toks = docs.select(
        "doc_id",
        "lang",
        "source",
        F.explode(
            tokens(F.col("text"))
        ).alias("tok"),
    )
    bt = toks.select(
        "doc_id",
        "lang",
        "source",
        F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10)
        .cast("long")
        .__mod__(256)
        .alias("b"),
    )
    # NOT checkpointed: the token→bucket stream is corpus-sized — at
    # scale, re-scanning (the explode is a cheap projection) beats
    # pinning corpus-scale blocks in executor storage
    raw = bt.groupBy("b").agg(F.count(F.lit(1)).alias("tf_r"))
    tgt = (
        bt.where(F.col("lang") == "en")
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("tf_t"))
    )
    tot = raw.agg(F.sum("tf_r").alias("tr"))
    ttot = tgt.agg(F.sum("tf_t").alias("tw"))
    lrq = (
        raw.join(tgt, "b", "left")
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(ttot))
        .select(
            "b",
            F.floor(
                (
                    F.log(
                        (F.coalesce(F.col("tf_t"), F.lit(0)) + F.lit(0.5))
                        / (F.col("tw") + F.lit(128.0))
                    )
                    - F.log(
                        (F.col("tf_r") + F.lit(0.5))
                        / (F.col("tr") + F.lit(128.0))
                    )
                )
                * F.lit(1000000)
                + F.lit(0.5)
            )
            .cast("long")
            .alias("qc"),
        )
    )
    z = (
        bt.join(F.broadcast(lrq), "b")
        .groupBy("doc_id", "lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_toks"),
            F.sum("qc").alias("zq"),
        )
    )
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(F.lit("dsir:"), F.col("doc_id").cast("string"))
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("double")
        + F.lit(0.5)
    ) / F.lit(_SIXTEEN_POW_15)
    gkey = F.col("zq").cast("double") / F.lit(1000000.0) / F.lit(
        2.0
    ) - F.log(-F.log(u))
    return z.withColumn("gkey", gkey)


@register(
    "dsir_importance_resample",
    ids="curation: DSIR-style data selection — hashed-unigram importance weights (target vs raw unigram LM log-likelihood ratio) + deterministic Gumbel-top-k resample",
    oracle=f"""
WITH {_DUCK_DSIR}
SELECT doc_id, lang, n_toks,
       round(CAST(zq AS DOUBLE) / 1000000, 6) AS logratio_sum,
       round(gkey, 6) AS priority
FROM k ORDER BY gkey DESC, doc_id LIMIT 50
""",
)
def dsir_importance_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-shaped data selection (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every document
    by the log-likelihood ratio of a TARGET-domain unigram LM (here:
    the ``lang='en'`` slice) against the RAW-corpus unigram LM over a
    HASHED feature space (md5 → 256 buckets — the paper's hashed
    n-grams, and the device that keeps the feature table bounded at
    any corpus size), then draw a 50-document resample ∝
    ``exp(z/λ)`` (λ=2) WITHOUT replacement via the deterministic
    Gumbel-top-k trick — the log-space twin of the registry's
    Efraimidis-Spirakis sampler (``operators.relational.es_priority``),
    with the Gumbel noise an md5-pure function of ``doc_id`` so the
    oracle re-derives the identical sample.

    Portability: bucket counts are exact integers; each bucket's
    smoothed log-ratio ``ln((tf_t+0.5)/(T_t+B/2)) −
    ln((tf_r+0.5)/(T_r+B/2))`` is one double chain from exact integers,
    quantized to integer micro-units BEFORE the per-document sum (so
    ``zq`` is an order-free exact integer); the Gumbel key is one
    identical double expression; ties broken by ``doc_id``.

    Scale shape: two token-scan aggregations onto a ≤256-row feature
    table (Zipf-free by construction — hashing bounds it); scoring is
    a broadcast join of that table against the token stream with a
    map-side-combining groupBy(doc_id); the resample is
    TakeOrderedAndProject (per-partition heaps, k-row merge) — never a
    global sort.  At 100 TB: the feature table stays 256 rows, the two
    scans pipeline, and nothing quadratic or driver-side exists."""
    z = _dsir_scores(spark, sf_dir)
    return (
        z.orderBy(F.desc("gkey"), "doc_id")
        .limit(50)
        .select(
            "doc_id",
            "lang",
            "n_toks",
            F.round(
                F.col("zq").cast("double") / F.lit(1000000.0), 6
            ).alias("logratio_sum"),
            F.round("gkey", 6).alias("priority"),
        )
    )


# --- event-time admission machinery (module-level so the stop/restart
# --- recovery test can drive the same pipeline in phases) -----------


def admission_et_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``admission_base`` content + a deterministic EVENT-TIME column:
    each arrival shard owns the event-time window ``[10000·s,
    10000·s+9999]`` with the within-window position md5-derived from
    the id (uniform at ANY corpus size — a modular position would
    collapse below the window width at small SFs and no document would
    ever be late), except a late cohort (md5-selected ~20%, shards
    1-3, deliberately uncorrelated with ``shard = id mod 4``) whose
    event times belong to the PREVIOUS shard's window — documents that
    arrive one batch later than their event time says they should."""
    from big_data_lab_three_spark.queries.curation import admission_base

    def _md5_mod(tag: str, mod: int):
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(tag), F.col("id").cast("string"))),
                    1,
                    15,
                ),
                16,
                10,
            )
            .cast("long")
            .__mod__(mod)
        )

    b = admission_base(spark, sf_dir)
    et_shard = F.when(
        (_md5_mod("lc:", 5) == 0) & (F.col("shard") > 0),
        F.col("shard") - 1,
    ).otherwise(F.col("shard"))
    return b.select(
        "id",
        "text",
        "shard",
        (F.lit(10000) * et_shard + _md5_mod("et:", 10000)).alias("et"),
    )


# Watermark delay of the event-time admission stream, in event-time units.
_ET_DELAY = 5000


def run_admission_stream_et(spark: SparkSession, schema, root: str) -> None:
    """Drain everything staged under ``root/src`` through the
    WATERMARKED foreachBatch admission pipeline (AvailableNow),
    resuming from ``root/ckpt`` — and from the PERSISTED watermark
    state under ``root/wm`` — if they exist.

    Watermark semantics (the standard Structured Streaming contract,
    tracked explicitly so the state is durable and the policy
    auditable): the watermark in effect for batch ``k`` is
    ``max(event time over batches < k) − _ET_DELAY``; a document older
    than that is LATE — dropped to the ``root/late`` sink, never
    deduped, never indexed.  On-time documents flow through the same
    digest/band-key admission as ``streaming_minhash_admission``.
    Every batch writes its own max event time (late rows included —
    watermarks advance on every observed event) to ``root/wm``, so a
    stop/restart resumes the watermark exactly.

    CRASH/RETRY-SAFE (r11): all four sinks (late, admitted, idx_bands,
    wm) land in per-batch ``batch_id=<k>`` partitions in overwrite
    mode, and every read — the watermark max included — filters to
    strictly-earlier batches, so a replayed batch classifies lates
    against exactly the watermark its first attempt saw (never its own
    partially-written max) and overwrites any partial sink partitions.
    A redelivery whose writes all completed is skipped outright via
    the last-written sink's ``_SUCCESS`` marker."""
    from big_data_lab_three_spark.queries.curation import (
        run_foreachbatch_stream,
    )

    def admit(batch_df: DataFrame, batch_id: int) -> None:
        admit_batch_et(spark, batch_df, batch_id, root)

    run_foreachbatch_stream(spark, schema, root, admit)


def admit_batch_et(
    spark: SparkSession,
    batch_df: DataFrame,
    batch_id: int,
    root: str,
) -> None:
    """One event-time admission micro-batch (module-level so the
    kill-mid-batch/replay test can redeliver a batch directly, exactly
    as a restarted stream would)."""
    import os

    from big_data_lab_three_spark.queries.curation import (
        batch_complete,
        batch_partition,
        index_admit_batch,
        read_index_before,
    )

    late_dir = os.path.join(root, "late")
    wm_dir = os.path.join(root, "wm")
    # redelivered batch whose writes all completed: wm is written
    # LAST, so its _SUCCESS proves late/admitted/idx_bands too
    if batch_complete(wm_dir, batch_id):
        return
    # signature fan-out happens inside index_admit_batch (r16); the
    # other consumers here (wm max, late split) are trivial projections
    # that re-read the single tiny batch file — cheaper than the old
    # repartition(16).localCheckpoint() materialization job per batch
    wm_row = (
        read_index_before(spark, wm_dir, "mx long", batch_id)
        .agg(F.max("mx"))
        .first()[0]
    )
    if wm_row is None:
        ontime = batch_df  # no prior batch → no watermark → no lates
    else:
        wm = wm_row - _ET_DELAY
        late = batch_df.where(F.col("et") < F.lit(wm))
        ontime = batch_df.where(~(F.col("et") < F.lit(wm)))
        late.select("id", "shard").write.mode("overwrite").parquet(
            batch_partition(late_dir, batch_id)
        )
    # the SHARED admission chain — identical to the file-order
    # variant by construction (curation.index_admit_batch)
    index_admit_batch(spark, ontime, root, batch_id)
    # advance the durable watermark LAST: the wm in effect for a
    # batch must come from strictly-earlier batches only (the
    # read_index_before filter enforces it even under replay), and
    # wm's _SUCCESS doubles as the batch's completion marker
    batch_df.agg(F.max("et").alias("mx")).write.mode("overwrite").parquet(
        batch_partition(wm_dir, batch_id)
    )


# the sig/band/collide chain of the file-order admission oracle,
# parameterized over the on-time relation (late docs never reach the
# index, so signatures are computed for on-time docs only)
_ET_SIG_CHAIN = """
dig AS (
  SELECT id, md5(text) AS d FROM ontime
), tok AS (
  SELECT id, list_filter(regexp_split_to_array(text, '\\s+'),
                         x -> x != '') AS toks
  FROM ontime
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
), banded AS ({BANDS}
), collide AS (
  SELECT DISTINCT x.id AS a, y.id AS b
  FROM dig x JOIN dig y ON x.d = y.d AND x.id <> y.id
  UNION
  SELECT DISTINCT x.id, y.id
  FROM banded x JOIN banded y
    ON x.band = y.band AND x.k = y.k AND x.id <> y.id
)"""


@register(
    "streaming_minhash_admission_et",
    ids="streaming: EVENT-TIME watermarked MinHash admission — late-data policy + durable watermark state over the accumulating dedup index",
    oracle="""
WITH base AS (
  SELECT id, text, shard,
         10000 * (CASE WHEN CAST(('0x' || substr(
                      md5('lc:' || CAST(id AS VARCHAR)), 1, 15))
                      AS BIGINT) % 5 = 0 AND shard > 0
                  THEN shard - 1 ELSE shard END)
         + CAST(('0x' || substr(md5('et:' || CAST(id AS VARCHAR)), 1, 15))
               AS BIGINT) % 10000 AS et
  FROM (
    SELECT doc_id AS id, text, doc_id % 4 AS shard FROM documents
    UNION ALL
    SELECT doc_id + 5000002, text, (doc_id + 2) % 4
    FROM documents WHERE doc_id % 8 = 0
    UNION ALL
    SELECT doc_id + 6000002, text || ' zz qq', (doc_id + 2) % 4
    FROM documents WHERE doc_id % 8 = 1
  )
), cum AS (
  SELECT shard, max(et) AS mx FROM base GROUP BY shard
), wm AS (
  SELECT s.shard, max(c.mx) - 5000 AS w
  FROM (VALUES (1), (2), (3)) AS s(shard) JOIN cum c ON c.shard < s.shard
  GROUP BY s.shard
), late AS (
  SELECT b.id, b.shard FROM base b JOIN wm ON wm.shard = b.shard
  WHERE b.et < wm.w
), ontime AS (
  SELECT b.* FROM base b WHERE b.id NOT IN (SELECT id FROM late)
), """ + _ET_SIG_CHAIN.lstrip().format(BANDS=_DUCK_BANDS) + """, i0 AS (
  SELECT id FROM ontime WHERE shard = 0
), i1 AS (
  SELECT id FROM ontime WHERE shard = 1
  AND id NOT IN (SELECT c.b FROM collide c JOIN i0 ON c.a = i0.id)
), idx1 AS (SELECT id FROM i0 UNION ALL SELECT id FROM i1
), i2 AS (
  SELECT id FROM ontime WHERE shard = 2
  AND id NOT IN (SELECT c.b FROM collide c JOIN idx1 ON c.a = idx1.id)
), idx2 AS (SELECT id FROM idx1 UNION ALL SELECT id FROM i2
), i3 AS (
  SELECT id FROM ontime WHERE shard = 3
  AND id NOT IN (SELECT c.b FROM collide c JOIN idx2 ON c.a = idx2.id)
), adm AS (
  SELECT 0 AS shard, id FROM i0
  UNION ALL SELECT 1, id FROM i1
  UNION ALL SELECT 2, id FROM i2
  UNION ALL SELECT 3, id FROM i3
)
SELECT CAST(b.shard AS INTEGER) AS shard,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(l.id) AS BIGINT) AS n_late,
       CAST(count(adm.id) AS BIGINT) AS n_admitted,
       CAST(coalesce(sum(adm.id), 0) AS BIGINT) AS sum_admitted_id
FROM base b LEFT JOIN adm ON adm.id = b.id
            LEFT JOIN late l ON l.id = b.id
GROUP BY b.shard
ORDER BY shard
""",
)
def streaming_minhash_admission_et(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """EVENT-TIME twin of ``streaming_minhash_admission`` — the piece
    the r9 verdict ranked first among streaming gaps: micro-batches
    arrive in FILE order but documents carry an event time that can
    belong to an earlier batch's window (an md5-selected ~20% late
    cohort is time-stamped one window behind its arrival).  A durable
    watermark (``max event time over prior batches − 5000``, persisted
    under ``root/wm`` so stop/restart resumes it exactly) enforces the
    late-data policy: documents older than the watermark are dropped
    to a late sink — never deduped, never indexed — and everything
    on time flows through the accumulating digest/band-key admission.
    Within-delay stragglers (late cohort members young enough to beat
    the watermark) are admitted normally, so the query pins BOTH
    policy outcomes per shard.

    The oracle replays the watermark arithmetic (per-shard prefix max
    − delay), the late classification, and the four admission rounds
    as chained CTEs — full value parity on n_docs / n_late /
    n_admitted / sum_admitted_id per arrival shard.

    Scale shape: identical to the file-order variant (two key joins
    per batch against a bucketed index, batch-sized shuffle sides)
    plus one KB-sized watermark read/append per batch; the late filter
    is a scan predicate.  At 100 TB the watermark table is per-batch
    metadata, exactly like a checkpoint offset log."""
    import os
    import shutil
    import tempfile

    from big_data_lab_three_spark.queries.curation import (
        stage_admission_shards,
    )

    base = admission_et_base(spark, sf_dir)
    base.persist()

    root = tempfile.mkdtemp(prefix="minhash_admission_et_")
    stage_admission_shards(base, root, range(4))
    run_admission_stream_et(spark, base.schema, root)

    adm = spark.read.parquet(os.path.join(root, "admitted")).select(
        F.col("id").alias("aid")
    )
    late_dir = os.path.join(root, "late")
    if os.path.isdir(late_dir):
        late = spark.read.parquet(late_dir).select(
            F.col("id").alias("lid")
        )
    else:  # no batch produced late rows
        late = spark.createDataFrame([], "lid long")
    out = (
        base.join(adm, base["id"] == adm["aid"], "left")
        .join(late, base["id"] == late["lid"], "left")
        .groupBy(F.col("shard").cast("int").alias("shard"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count("lid").alias("n_late"),
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
    "dsir_domain_census",
    ids="curation: DSIR domain-composition census — which sources the importance resample selects, with an exact largest-remainder budget from the selection counts",
    oracle=f"""
WITH {_DUCK_DSIR}, sel AS (
    SELECT source, zq FROM k ORDER BY gkey DESC, doc_id LIMIT 200
), per AS (
    SELECT source, CAST(count(*) AS BIGINT) AS n_selected,
           CAST(sum(zq) AS BIGINT) AS sel_zq
    FROM sel GROUP BY source
), alldocs AS (
    SELECT source, CAST(count(*) AS BIGINT) AS n_docs
    FROM documents GROUP BY source
), j AS (
    SELECT a.source, a.n_docs,
           coalesce(p.n_selected, 0) AS n_selected,
           coalesce(p.sel_zq, 0) AS sel_zq
    FROM alldocs a LEFT JOIN per p USING (source)
), fl AS (
    SELECT source, n_docs, n_selected, sel_zq,
           99991 * n_selected // 200 AS floor_alloc,
           99991 * n_selected % 200 AS rem
    FROM j
), lo AS (
    SELECT CAST(99991 - sum(floor_alloc) AS BIGINT) AS leftover FROM fl
), rk AS (
    SELECT fl.*, row_number() OVER (ORDER BY rem DESC, source ASC) AS pri
    FROM fl
)
SELECT rk.source, rk.n_docs,
       CAST(rk.n_selected AS BIGINT) AS n_selected,
       round(CAST(rk.sel_zq AS DOUBLE) / 1000000, 4) AS selected_logratio,
       CAST(rk.floor_alloc
            + CASE WHEN rk.pri <= lo.leftover THEN 1 ELSE 0 END
            AS BIGINT) AS alloc
FROM rk, lo ORDER BY rk.source
""",
)
def dsir_domain_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-composition readout of the DSIR selection — the
    diagnostic the DSIR paper itself reports (which sources the
    importance resample favors): take the global Gumbel-top-200
    sample from the shared ``_dsir_scores`` chain, count selections
    per source, and apportion a 99 991-sample budget by the exact
    largest-remainder method ∝ selection counts (the
    ``mix_temperature_allocation`` idiom — a prime budget so the
    remainders genuinely tie-break).  Everything after the scoring is
    exact integers: selection counts, floors, remainders; the only
    doubles are the Gumbel ordering keys (identical chains on both
    engines) and the reported logratio sum.

    Scale shape: the scoring chain is the DSIR query's (bounded
    feature table, broadcast join); the census is a 20-row rollup;
    allocation is census-sized window arithmetic."""
    from pyspark.sql import Window

    z = _dsir_scores(spark, sf_dir)
    sel = (
        z.orderBy(F.desc("gkey"), "doc_id")
        .limit(200)
        .select("source", "zq")
    )
    per = sel.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_selected"),
        F.sum("zq").alias("sel_zq"),
    )
    alldocs = (
        table(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    j = alldocs.join(F.broadcast(per), "source", "left").select(
        "source",
        "n_docs",
        F.coalesce(F.col("n_selected"), F.lit(0)).alias("n_selected"),
        F.coalesce(F.col("sel_zq"), F.lit(0)).alias("sel_zq"),
    )
    fl = j.select(
        "source",
        "n_docs",
        "n_selected",
        "sel_zq",
        F.expr("div(99991 * n_selected, 200)").alias("floor_alloc"),
        F.pmod(F.lit(99991) * F.col("n_selected"), F.lit(200)).alias(
            "rem"
        ),
    )
    lo = fl.agg((F.lit(99991) - F.sum("floor_alloc")).alias("leftover"))
    rk = fl.withColumn(
        "pri",
        F.row_number().over(Window.orderBy(F.desc("rem"), F.asc("source"))),
    )
    return (
        rk.crossJoin(F.broadcast(lo))
        .select(
            "source",
            "n_docs",
            F.col("n_selected").cast("long").alias("n_selected"),
            F.round(
                F.col("sel_zq").cast("double") / F.lit(1000000.0), 4
            ).alias("selected_logratio"),
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
    "quality_filter_funnel",
    ids="curation: sequential quality-rule funnel census (Gopher-style min-length / lexical-diversity / repetition / stopword gates) with per-rule attrition per language",
    oracle=f"""
WITH toks AS (
    SELECT doc_id, lang, unnest({_DUCK_TOKS}) AS tok
    FROM documents
), tc AS (
    SELECT doc_id, lang, tok, CAST(count(*) AS BIGINT) AS c
    FROM toks GROUP BY doc_id, lang, tok
), d AS (
    SELECT doc_id, lang,
           CAST(sum(c) AS BIGINT) AS n,
           CAST(count(*) AS BIGINT) AS nd,
           CAST(max(c) AS BIGINT) AS topc,
           CAST(coalesce(sum(CASE WHEN tok IN ('the','a','of','and','is')
                                  THEN c END), 0) AS BIGINT) AS stopc
    FROM tc GROUP BY doc_id, lang
), r AS (
    SELECT lang,
           n >= 20 AS r1,
           n >= 20 AND nd * 1000000 // n >= 500000 AS r2,
           n >= 20 AND nd * 1000000 // n >= 500000
               AND topc * 1000000 // n <= 100000 AS r3,
           n >= 20 AND nd * 1000000 // n >= 500000
               AND topc * 1000000 // n <= 100000
               AND stopc * 1000000 // n >= 40000 AS r4
    FROM d
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN r1 THEN 1 ELSE 0 END) AS BIGINT) AS pass_minlen,
       CAST(sum(CASE WHEN r2 THEN 1 ELSE 0 END) AS BIGINT) AS pass_diversity,
       CAST(sum(CASE WHEN r3 THEN 1 ELSE 0 END) AS BIGINT) AS pass_repetition,
       CAST(sum(CASE WHEN r4 THEN 1 ELSE 0 END) AS BIGINT) AS pass_stopword,
       round(CAST(sum(CASE WHEN r4 THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 4) AS keep_rate
FROM r GROUP BY lang ORDER BY lang
""",
)
def quality_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential quality-rule FUNNEL — the per-rule attrition report
    every corpus-curation pipeline publishes (Gopher-rule style):
    R1 min length (≥20 tokens) → R2 lexical diversity (distinct-token
    ratio ≥ 0.5) → R3 repetition (top-token share ≤ 0.1) → R4
    stopword floor (≥ 4%).  Rules compound (a doc must pass every
    earlier gate), so the four cumulative counts per language ARE the
    funnel.  All ratios are exact integer micro-unit divisions
    (``x * 1e6 div n``), so rule verdicts are bit-identical across
    engines; the only double is the final keep rate.

    Scale shape: one token explode → per-(doc,token) count →
    per-doc profile (two combiner-friendly shuffles, both keyed by
    doc_id), then a ≤|langs| census.  No UDFs, no collect."""
    toks = table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.explode(
            tokens(F.col("text"))
        ).alias("tok"),
    )
    tc = toks.groupBy("doc_id", "lang", "tok").agg(
        F.count(F.lit(1)).alias("c")
    )
    d = tc.groupBy("doc_id", "lang").agg(
        F.sum("c").alias("n"),
        F.count(F.lit(1)).alias("nd"),
        F.max("c").alias("topc"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("tok").isin("the", "a", "of", "and", "is"),
                    F.col("c"),
                )
            ),
            F.lit(0),
        ).alias("stopc"),
    )
    r1 = F.col("n") >= 20
    r2 = r1 & (F.expr("div(nd * 1000000, n)") >= 500000)
    r3 = r2 & (F.expr("div(topc * 1000000, n)") <= 100000)
    r4 = r3 & (F.expr("div(stopc * 1000000, n)") >= 40000)
    return (
        d.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(r1.cast("int")).alias("pass_minlen"),
            F.sum(r2.cast("int")).alias("pass_diversity"),
            F.sum(r3.cast("int")).alias("pass_repetition"),
            F.sum(r4.cast("int")).alias("pass_stopword"),
            F.round(
                F.sum(r4.cast("int")).cast("double")
                / F.count(F.lit(1)),
                4,
            ).alias("keep_rate"),
        )
        .orderBy("lang")
    )


@register(
    "bpe_merge_census",
    ids="text: BPE first-merge census — adjacent character-pair frequencies within tokens (the statistic BPE training's first iteration maximizes), exact top-20",
    oracle=f"""
WITH t AS (
    SELECT unnest({_DUCK_TOKS}) AS tok FROM documents
), p AS (
    SELECT unnest([substr(tok, i, 2) for i in range(1, length(tok))])
               AS pair
    FROM t WHERE length(tok) >= 2
), pc AS (
    SELECT pair, CAST(count(*) AS BIGINT) AS cnt FROM p GROUP BY pair
), tot AS (
    SELECT CAST(sum(cnt) AS BIGINT) AS total FROM pc
)
SELECT pc.pair, pc.cnt,
       CAST(pc.cnt * 1000000 // tot.total AS BIGINT) AS share_micro
FROM pc, tot
ORDER BY pc.cnt DESC, pc.pair LIMIT 20
""",
)
def bpe_merge_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE FIRST-MERGE census — the statistic byte-pair-encoding
    training maximizes on its first iteration: frequencies of adjacent
    character pairs WITHIN tokens, exact top-20 with each pair's
    corpus share in integer micro-units.  The tokenizer-construction
    sibling of ``token_fertility_census`` (which measured how an
    existing tokenizer performs; this measures what a new one would
    learn first).

    Everything is exact integers (counts, integer-division shares);
    ordering ties break on the pair string.

    Scale shape: token explode → per-position pair projection (one
    codegen scan; positions come from ``sequence``, no UDF) → one
    combiner-friendly groupBy on the ≤|alphabet|² pair domain —
    bounded at any corpus size — then TakeOrderedAndProject."""
    toks = table(spark, sf_dir, "documents").select(
        F.explode(
            tokens(F.col("text"))
        ).alias("tok")
    )
    pairs = (
        toks.where(F.length("tok") >= 2)
        .select(
            "tok",
            F.explode(
                F.sequence(F.lit(1), F.length("tok") - 1)
            ).alias("i"),
        )
        .select(F.col("tok").substr(F.col("i"), F.lit(2)).alias("pair"))
    )
    pc = pairs.groupBy("pair").agg(F.count(F.lit(1)).alias("cnt"))
    tot = pc.agg(F.sum("cnt").alias("total"))
    return (
        pc.crossJoin(F.broadcast(tot))
        .select(
            "pair",
            "cnt",
            F.expr("div(cnt * 1000000, total)").alias("share_micro"),
        )
        .orderBy(F.desc("cnt"), "pair")
        .limit(20)
    )


# Shared DuckDB fragment: the interpolated-bigram-LM per-document
# scorer (doc_id, lang, avg_lp, n_bigrams) — used by bigram_logprob
# here and corpus.ccnet_perplexity_buckets, so the two oracles can
# never drift from one model definition.
_DUCK_BIGRAM_SC = f"""d AS (
    SELECT doc_id, lang, {_DUCK_TOKS} AS toks FROM documents
), uni AS (
    SELECT tok, CAST(count(*) AS BIGINT) AS c1
    FROM (SELECT unnest(toks) AS tok FROM d) GROUP BY tok
), tt AS (
    SELECT CAST(sum(c1) AS BIGINT) AS total FROM uni
), bg AS (
    SELECT doc_id, lang,
           unnest([{{'w1': toks[i], 'w2': toks[i+1]}}
                   for i in range(1, len(toks))],
                  recursive := true)
    FROM d WHERE len(toks) >= 2
), b2 AS (
    SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2 FROM bg GROUP BY w1, w2
), sc AS (
    SELECT bg.doc_id, bg.lang,
           sum(CAST(floor(ln(0.75 * b2.c2 / ua.c1
                             + 0.25 * ub.c1 / tt.total)
                          * 1000000 + 0.5) AS BIGINT))
               / count(*) / 1000000.0 AS avg_lp,
           CAST(sum(CAST(floor(ln(0.75 * b2.c2 / ua.c1
                                  + 0.25 * ub.c1 / tt.total)
                               * 1000000 + 0.5) AS BIGINT))
                AS BIGINT) AS lp_micro,
           CAST(count(*) AS BIGINT) AS n_bigrams
    FROM bg JOIN b2 USING (w1, w2)
         JOIN uni ua ON ua.tok = bg.w1
         JOIN uni ub ON ub.tok = bg.w2, tt
    GROUP BY bg.doc_id, bg.lang
)"""


def bigram_doc_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document interpolated bigram-LM scores — the SHARED scorer
    behind ``bigram_logprob``, ``corpus.ccnet_perplexity_buckets`` and
    the curation funnel's LM gate:
    (doc_id, lang, avg_lp, lp_micro, n_bigrams) where ``avg_lp`` is the mean of
    micro-quantized per-bigram log terms (order-free integer sum, see
    ``bigram_logprob``'s portability note).  DuckDB twin:
    ``_DUCK_BIGRAM_SC``'s ``sc`` relation."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        tokens(F.col("text")).alias("toks"),
    )
    toks = d.select(F.explode("toks").alias("tok"))
    uni = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c1"))
    uni = uni.localCheckpoint()  # model table, reused for w1 AND w2
    tt = uni.agg(F.sum("c1").alias("total"))
    n = F.size("toks")
    st = (
        d.where(n >= 2)
        .select(
            "doc_id",
            "lang",
            F.explode(
                F.zip_with(
                    F.slice("toks", 1, n - 1),
                    F.slice("toks", 2, n - 1),
                    lambda a, b: F.struct(
                        a.alias("w1"), b.alias("w2")
                    ),
                )
            ).alias("p"),
        )
        .select("doc_id", "lang", F.col("p.w1"), F.col("p.w2"))
    )
    b2 = st.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    ua = uni.select(F.col("tok").alias("w1"), F.col("c1").alias("c1a"))
    ub = uni.select(F.col("tok").alias("w2"), F.col("c1").alias("c1b"))
    return (
        st.join(b2, ["w1", "w2"])
        .join(ua, "w1")
        .join(ub, "w2")
        .crossJoin(F.broadcast(tt))
        .groupBy("doc_id", "lang")
        .agg(
            F.sum(
                F.floor(
                    F.log(
                        F.lit(0.75) * F.col("c2") / F.col("c1a")
                        + F.lit(0.25) * F.col("c1b") / F.col("total")
                    )
                    * F.lit(1000000.0)
                    + F.lit(0.5)
                )
            ).alias("lp_micro"),
            F.count(F.lit(1)).alias("n_bigrams"),
        )
        .select(
            "doc_id",
            "lang",
            (
                F.col("lp_micro").cast("double")
                / F.col("n_bigrams")
                / F.lit(1000000.0)
            ).alias("avg_lp"),
            # the raw micro-quantized integer sum, for consumers that
            # need engine-portable integer arithmetic downstream (the
            # curation funnel's LM gate, r14) — order-free BIGINT, no
            # double averaging; existing consumers project it away
            "lp_micro",
            "n_bigrams",
        )
    )


@register(
    "bigram_logprob",
    ids="text quality: interpolated bigram-LM log-probability census (order-2 CCNet-style perplexity proxy)",
    oracle=f"""
WITH {_DUCK_BIGRAM_SC}
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       round(avg(avg_lp), 4) AS mean_logprob,
       round(min(avg_lp), 4) AS worst_logprob,
       CAST(sum(CASE WHEN avg_lp < -3.45 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_below_threshold
FROM sc GROUP BY lang ORDER BY lang
""",
)
def bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated BIGRAM-LM scoring census — ``unigram_logprob``'s
    order-2 sibling and the closer proxy for CCNet-style LM-perplexity
    filtering: each in-document bigram scores ``ln(0.75·c₂(w₁w₂)/c₁(w₁)
    + 0.25·c₁(w₂)/T)`` (conditional bigram probability interpolated
    with the unigram fallback — unseen continuations can't zero out),
    documents average their bigram scores, and the census reports
    per-language mean / worst / below-threshold counts with the
    ``unigram_logprob`` rounding conventions.

    Scale shape: one token explode builds the unigram table, one
    bigram explode (``zip_with`` over the token array — no shuffle)
    builds the bigram table; scoring joins the bigram stream to the
    two Zipf-bounded model tables (dimension-shaped; Spark broadcasts
    when they fit) and aggregates per doc, then per language.  All
    model counts are exact integers; ``ln`` on identical doubles is
    bit-identical, and each bigram's log term quantizes to integer
    micro-units BEFORE the per-doc mean (``floor(x·1e6 + 0.5)``,
    negative-safe because both engines floor identically), so the
    per-doc average — and therefore the ``< -3.45`` threshold count —
    is immune to partial-sum ordering on either engine."""
    scored = bigram_doc_scores(spark, sf_dir)
    return (
        scored.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("avg_lp"), 4).alias("mean_logprob"),
            F.round(F.min("avg_lp"), 4).alias("worst_logprob"),
            F.sum((F.col("avg_lp") < -3.45).cast("int"))
            .cast("long")
            .alias("n_below_threshold"),
        )
        .orderBy("lang")
    )


@register(
    "boilerplate_prefix_census",
    ids="curation: boilerplate-prefix census — the most common 3-token document prefix per source with its share (header/template detection)",
    oracle=f"""
WITH t AS (
    SELECT source, {_DUCK_TOKS} AS toks FROM documents
), p AS (
    SELECT source, array_to_string(toks[1:3], ' ') AS prefix
    FROM t WHERE len(toks) >= 3
), c AS (
    SELECT source, prefix, CAST(count(*) AS BIGINT) AS cnt
    FROM p GROUP BY source, prefix
), n AS (
    SELECT source, CAST(count(*) AS BIGINT) AS n_docs FROM p GROUP BY source
), rk AS (
    SELECT c.source, c.prefix, c.cnt,
           row_number() OVER (PARTITION BY c.source
                              ORDER BY c.cnt DESC, c.prefix ASC) AS pri
    FROM c
)
SELECT rk.source, n.n_docs, rk.prefix AS top_prefix, rk.cnt AS prefix_count,
       CAST(rk.cnt * 1000000 // n.n_docs AS BIGINT) AS share_micro
FROM rk JOIN n USING (source)
WHERE rk.pri = 1
ORDER BY rk.source
""",
)
def boilerplate_prefix_census(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Boilerplate-PREFIX detection census — the RefinedWeb-style
    template audit: for every source, the single most common 3-token
    document prefix and the share of that source's documents carrying
    it (a high share flags injected headers/templates the cleaner
    should strip).  Exact integer counts and micro-unit shares; the
    top-1 tie breaks on the prefix string.

    Scale shape: prefix is one codegen projection (``slice`` of the
    token array, no explode); the census is a (source, prefix) rollup
    and a per-source top-1 window over prefix-count rows — the window
    partitions by source, so no global sort; output ≤|sources| rows."""
    from pyspark.sql import Window

    t = table(spark, sf_dir, "documents").select(
        "source",
        tokens(F.col("text")).alias("toks"),
    )
    p = t.where(F.size("toks") >= 3).select(
        "source",
        F.concat_ws(" ", F.slice("toks", 1, 3)).alias("prefix"),
    )
    c = p.groupBy("source", "prefix").agg(F.count(F.lit(1)).alias("cnt"))
    n = p.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    rk = c.withColumn(
        "pri",
        F.row_number().over(
            Window.partitionBy("source").orderBy(
                F.desc("cnt"), F.asc("prefix")
            )
        ),
    ).where(F.col("pri") == 1)
    return (
        rk.join(F.broadcast(n), "source")
        .select(
            "source",
            "n_docs",
            F.col("prefix").alias("top_prefix"),
            F.col("cnt").alias("prefix_count"),
            F.expr("div(cnt * 1000000, n_docs)").alias("share_micro"),
        )
        .orderBy("source")
    )


@register(
    "split_leakage_census",
    ids="curation: train/val split-leakage audit — 8-gram overlap between md5-assigned folds, with contaminated-doc counts",
    oracle=f"""
WITH d AS (
    SELECT doc_id, {_DUCK_TOKS} AS toks,
           CAST(('0x' || substr(md5('sl:' || CAST(doc_id AS VARCHAR)),
                                1, 15)) AS BIGINT) % 10 < 8 AS is_train
    FROM documents
), g AS (
    SELECT doc_id, is_train,
           unnest([array_to_string(toks[i:i+7], ' ')
                   for i in range(1, len(toks) - 6)]) AS gram
    FROM d WHERE len(toks) >= 8
), tg AS (
    SELECT DISTINCT gram FROM g WHERE is_train
), vg AS (
    SELECT DISTINCT gram FROM g WHERE NOT is_train
), shared AS (
    SELECT tg.gram FROM tg JOIN vg USING (gram)
), contam AS (
    SELECT DISTINCT g.doc_id
    FROM g JOIN shared USING (gram)
    WHERE NOT g.is_train
), docs AS (
    SELECT CAST(sum(CASE WHEN is_train THEN 1 ELSE 0 END) AS BIGINT)
               AS n_train_docs,
           CAST(sum(CASE WHEN is_train THEN 0 ELSE 1 END) AS BIGINT)
               AS n_val_docs
    FROM d
)
SELECT docs.n_train_docs, docs.n_val_docs,
       (SELECT CAST(count(*) AS BIGINT) FROM tg) AS n_train_grams,
       (SELECT CAST(count(*) AS BIGINT) FROM vg) AS n_val_grams,
       (SELECT CAST(count(*) AS BIGINT) FROM shared) AS n_shared_grams,
       (SELECT CAST(count(*) AS BIGINT) FROM contam)
           AS n_contaminated_val_docs,
       round((SELECT CAST(count(*) AS DOUBLE) FROM contam)
             / docs.n_val_docs, 4) AS leak_rate
FROM docs
""",
)
def split_leakage_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/validation SPLIT-LEAKAGE audit — the check every
    held-out-set construction should run before trusting its eval:
    assign documents to train (80%) / val (20%) folds by an md5 hash
    of the id (so the oracle recomputes membership independently —
    the ``cv_fold_balance`` convention), collect each fold's DISTINCT
    8-gram set, and report the overlap: shared grams and how many val
    documents carry at least one of them (those docs' eval signal is
    contaminated by memorizable training text).

    Scale shape: gram extraction is ``shingles`` (no explode until
    the gram stream, which aggregates to DISTINCT immediately —
    combiner-friendly); the overlap is one equi-join of two
    gram-keyed sets; nothing quadratic, nothing driver-side.  At
    100 TB the gram sets would carry 8-byte ``xxhash64`` digests
    instead of strings — same plan shape."""
    from big_data_lab_three_spark.functions.text import shingles

    d = table(spark, sf_dir, "documents").select(
        "doc_id",
        tokens(F.col("text")).alias("toks"),
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit("sl:"), F.col("doc_id").cast("string")
                        )
                    ),
                    1,
                    15,
                ),
                16,
                10,
            )
            .cast("long")
            .__mod__(10)
            < 8
        ).alias("is_train"),
    )
    g = d.where(F.size("toks") >= 8).select(
        "doc_id",
        "is_train",
        F.explode(shingles(F.col("toks"), 8)).alias("gram"),
    )
    tg = g.where("is_train").select("gram").distinct()
    vg = g.where(~F.col("is_train")).select("gram").distinct()
    shared = tg.join(vg, "gram")
    shared = shared.localCheckpoint()  # reused by count + contam join
    contam = (
        g.where(~F.col("is_train"))
        .join(shared, "gram", "left_semi")
        .select("doc_id")
        .distinct()
    )
    docs = d.agg(
        F.sum(F.col("is_train").cast("int")).alias("n_train_docs"),
        F.sum((~F.col("is_train")).cast("int")).alias("n_val_docs"),
    )
    counts = (
        docs.crossJoin(
            F.broadcast(tg.agg(F.count(F.lit(1)).alias("n_train_grams")))
        )
        .crossJoin(
            F.broadcast(vg.agg(F.count(F.lit(1)).alias("n_val_grams")))
        )
        .crossJoin(
            F.broadcast(
                shared.agg(F.count(F.lit(1)).alias("n_shared_grams"))
            )
        )
        .crossJoin(
            F.broadcast(
                contam.agg(
                    F.count(F.lit(1)).alias("n_contaminated_val_docs")
                )
            )
        )
    )
    return counts.select(
        "n_train_docs",
        "n_val_docs",
        "n_train_grams",
        "n_val_grams",
        "n_shared_grams",
        "n_contaminated_val_docs",
        F.round(
            F.col("n_contaminated_val_docs").cast("double")
            / F.col("n_val_docs"),
            4,
        ).alias("leak_rate"),
    )


@register(
    "woe_iv_census",
    ids="ml-prim: weight-of-evidence / information-value census per feature bucket (scorecard feature selection), smoothed exact-integer inputs",
    oracle="""
WITH b AS (
    SELECT CAST(floor((l_quantity - 1) / 5) AS BIGINT) AS bucket,
           CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS bad
    FROM lineitem
), c AS (
    SELECT bucket,
           CAST(sum(1 - bad) AS BIGINT) AS n_good,
           CAST(sum(bad) AS BIGINT) AS n_bad
    FROM b GROUP BY bucket
), t AS (
    SELECT CAST(sum(n_good) AS BIGINT) AS g,
           CAST(sum(n_bad) AS BIGINT) AS bd
    FROM c
)
SELECT c.bucket, c.n_good, c.n_bad,
       round(ln(((c.n_good + 0.5) / (t.g + 5.0))
                / ((c.n_bad + 0.5) / (t.bd + 5.0))), 6) AS woe,
       round(((c.n_good + 0.5) / (t.g + 5.0)
              - (c.n_bad + 0.5) / (t.bd + 5.0))
             * ln(((c.n_good + 0.5) / (t.g + 5.0))
                  / ((c.n_bad + 0.5) / (t.bd + 5.0))), 6) AS iv_term
FROM c, t
ORDER BY c.bucket
""",
)
def woe_iv_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-evidence / information-value census — the scorecard
    feature-selection primitive (credit-risk lineage, now standard for
    any binary-label feature audit): bucket ``l_quantity`` into ten
    width-5 bins, label rows bad when ``l_returnflag = 'R'``, and per
    bucket report WOE ``ln((good%)/(bad%))`` and its IV contribution
    ``(good% − bad%)·WOE``, both with +0.5/bucket smoothing so empty
    cells can't produce infinities.  All inputs are exact integer
    counts; WOE/IV are single double chains from them, rounded at 6 —
    so the value hash pins the whole computation.

    Scale shape: one map-side-combining rollup to ten buckets; the
    totals row broadcasts back; 10-row output."""
    b = table(spark, sf_dir, "lineitem").select(
        F.floor((F.col("l_quantity") - 1) / 5)
        .cast("long")
        .alias("bucket"),
        (F.col("l_returnflag") == "R").cast("int").alias("bad"),
    )
    c = b.groupBy("bucket").agg(
        F.sum(F.lit(1) - F.col("bad")).alias("n_good"),
        F.sum("bad").alias("n_bad"),
    )
    t = c.agg(F.sum("n_good").alias("g"), F.sum("n_bad").alias("bd"))
    good_pct = (F.col("n_good") + F.lit(0.5)) / (F.col("g") + F.lit(5.0))
    bad_pct = (F.col("n_bad") + F.lit(0.5)) / (F.col("bd") + F.lit(5.0))
    woe = F.log(good_pct / bad_pct)
    return (
        c.crossJoin(F.broadcast(t))
        .select(
            "bucket",
            "n_good",
            "n_bad",
            F.round(woe, 6).alias("woe"),
            F.round((good_pct - bad_pct) * woe, 6).alias("iv_term"),
        )
        .orderBy("bucket")
    )


@register(
    "runs_test",
    ids="hypothesis test: Wald-Wolfowitz runs test for randomness of the daily revenue series around its median",
    oracle="""
WITH d AS (
    SELECT CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)
               AS day_id,
           CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
                         AS BIGINT)) AS BIGINT) AS n
    FROM orders GROUP BY 1
), st AS (
    SELECT day_id, n,
           row_number() OVER (ORDER BY n, day_id) AS rn,
           count(*) OVER () AS cnt
    FROM d
), med AS (
    SELECT n AS m FROM st WHERE rn = (cnt + 1) // 2
), s AS (
    SELECT day_id, n > med.m AS above
    FROM d, med WHERE n <> med.m
), r AS (
    SELECT above,
           lag(above) OVER (ORDER BY day_id) AS prev
    FROM s
), agg AS (
    SELECT CAST(count(*) AS BIGINT) AS n_obs,
           CAST(sum(CASE WHEN above THEN 1 ELSE 0 END) AS BIGINT) AS n1,
           CAST(sum(CASE WHEN above THEN 0 ELSE 1 END) AS BIGINT) AS n2,
           CAST(1 + sum(CASE WHEN prev IS NOT NULL AND above <> prev
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_runs
    FROM r
)
SELECT n_obs, n1, n2, n_runs,
       round(1 + 2.0 * n1 * n2 / (n1 + n2), 4) AS mu_runs,
       round((n_runs - (1 + 2.0 * n1 * n2 / (n1 + n2)))
             / sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)
                    / ((n1 + n2) * (n1 + n2) * 1.0 * (n1 + n2 - 1))),
             4) AS z_stat
FROM agg
""",
)
def runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz RUNS test — is the daily REVENUE series random
    around its median, or does it trend/cluster?  The
    distribution-free randomness check that complements the registry's
    location tests (``mann_whitney_u``) and drift monitors
    (``cusum_changepoint``): days are marked above/below the series
    median (exact lower order statistic; ties dropped, the standard
    treatment), runs of equal signs are counted by one ``lag``
    comparison, and the normal-approximation z-statistic comes from
    the exact integer run/sign counts (``sqrt`` is correctly rounded
    under IEEE-754 — the τ=0.5 rule — so the chain is portable).
    Revenue (exact integer cents) rather than order COUNTS because
    small-SF daily counts are nearly constant — the median absorbs
    almost every day as a tie and one sign class empties, which
    degenerates σ to 0.

    Scale shape: one rollup to the ~2400-day census; the median and
    the run count are windows ON THE CENSUS (the documented
    census-window class, never over the fact table); 1-row output."""
    from pyspark.sql import Window

    d = (
        table(spark, sf_dir, "orders")
        .groupBy(
            F.datediff(
                F.to_date("o_orderdate"), F.lit("1970-01-01").cast("date")
            )
            .cast("long")
            .alias("day_id")
        )
        .agg(
            F.sum(
                (F.col("o_totalprice").cast("decimal(12,2)") * 100).cast(
                    "long"
                )
            ).alias("n")
        )
    )
    d = d.localCheckpoint()  # KB-sized census, reused by median + signs
    st = d.select(
        "n",
        F.row_number().over(Window.orderBy("n", "day_id")).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("cnt"),
    )
    med = st.where(
        F.col("rn") == F.expr("div(cnt + 1, 2)")
    ).select(F.col("n").alias("m"))
    s = (
        d.crossJoin(F.broadcast(med))
        .where(F.col("n") != F.col("m"))
        .select("day_id", (F.col("n") > F.col("m")).alias("above"))
    )
    r = s.select(
        "above",
        F.lag("above").over(Window.orderBy("day_id")).alias("prev"),
    )
    agg = r.agg(
        F.count(F.lit(1)).alias("n_obs"),
        F.sum(F.col("above").cast("int")).alias("n1"),
        F.sum((~F.col("above")).cast("int")).alias("n2"),
        (
            F.lit(1)
            + F.sum(
                (
                    F.col("prev").isNotNull()
                    & (F.col("above") != F.col("prev"))
                ).cast("int")
            )
        )
        .cast("long")
        .alias("n_runs"),
    )
    n1, n2 = F.col("n1"), F.col("n2")
    mu = F.lit(1) + F.lit(2.0) * n1 * n2 / (n1 + n2)
    var = (
        F.lit(2.0)
        * n1
        * n2
        * (F.lit(2.0) * n1 * n2 - n1 - n2)
        / ((n1 + n2) * (n1 + n2) * F.lit(1.0) * (n1 + n2 - F.lit(1)))
    )
    return agg.select(
        "n_obs",
        "n1",
        "n2",
        "n_runs",
        F.round(mu, 4).alias("mu_runs"),
        F.round((F.col("n_runs") - mu) / F.sqrt(var), 4).alias("z_stat"),
    )


@register(
    "jaccard_threshold_sweep",
    ids="dedup: near-dup threshold-sensitivity sweep — pair counts and mean Jaccard at 0.7/0.8/0.9 over the LSH pipeline's rescored pairs",
    oracle=f"""
WITH reps AS (
  SELECT min(doc_id) AS id, min(text) AS text
  FROM documents WHERE doc_id % 5 = 0
  GROUP BY md5(text)
), base AS (
  SELECT id, text FROM reps
  UNION ALL
  SELECT id + 1000000, text || ' zzz' FROM reps
), t AS ({_DUCK_SHINGLES}), pairs AS (
  SELECT a.id AS id_a, b.id AS id_b,
         CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
           / len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
  FROM t a JOIN t b ON a.id < b.id
  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
          / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.7
), th AS (
  SELECT CAST(v AS DOUBLE) AS threshold FROM (VALUES (0.7), (0.8), (0.9))
      AS x(v)
)
SELECT th.threshold,
       CAST(count(p.jaccard) AS BIGINT) AS n_pairs,
       round(CAST(coalesce(sum(CAST(floor(p.jaccard * 1000000 + 0.5)
                                    AS BIGINT)), 0) AS DOUBLE)
             / nullif(count(p.jaccard), 0) / 1000000, 6) AS mean_jaccard
FROM th LEFT JOIN pairs p ON p.jaccard >= th.threshold
GROUP BY th.threshold
ORDER BY th.threshold
""",
)
def jaccard_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup THRESHOLD-sensitivity sweep — the calibration table a
    dedup pipeline publishes before committing to a cutoff: run the
    verified MinHash+LSH pipeline once at its banding-safe 0.7 floor
    (over the same exact-deduped seeded base as ``dedup_minhash_lsh``),
    then report pair count and mean exact Jaccard at 0.7 / 0.8 / 0.9.
    Sweeping UPWARD from the banded threshold keeps LSH recall
    identical to the verified query (tightening a rescore filter can't
    miss candidates); per-pair Jaccards quantize to micro-units before
    the mean so the sums are order-free.

    Scale shape: one LSH pipeline run (band-keyed shuffles only — no
    corpus pairs), a 3-row threshold broadcast against the rescored
    pair table, census-sized output."""
    from big_data_lab_three_spark.operators.dedup import minhash_lsh_pairs
    from big_data_lab_three_spark.queries.dedup import collapsed_seeded_base

    pairs = minhash_lsh_pairs(
        collapsed_seeded_base(spark, sf_dir),
        num_perms=32,
        bands=16,
        jaccard_threshold=0.7,
    ).select("jaccard")
    # ONE conditional aggregation over the pair table, then stack to
    # rows — a threshold⋈pairs outer join would have to BUILD the
    # unbounded pair side (a broadcast hint on the preserved side of a
    # left join is unsatisfiable), which caps at memory; this is one
    # scan and no join at any scale
    jq = F.floor(F.col("jaccard") * F.lit(1000000) + F.lit(0.5))
    aggs = []
    for tag, th in (("7", 0.7), ("8", 0.8), ("9", 0.9)):
        hit = F.col("jaccard") >= F.lit(th)
        aggs.append(F.sum(hit.cast("long")).alias(f"n{tag}"))
        aggs.append(F.sum(F.when(hit, jq)).alias(f"s{tag}"))
    a = pairs.agg(*aggs)
    return (
        a.selectExpr(
            "stack(3, 0.7D, n7, s7, 0.8D, n8, s8, 0.9D, n9, s9)"
            " as (threshold, n_pairs, sq)"
        )
        .select(
            "threshold",
            F.coalesce(F.col("n_pairs"), F.lit(0)).alias("n_pairs"),
            F.round(
                F.col("sq").cast("double")
                / F.nullif(F.col("n_pairs"), F.lit(0))
                / F.lit(1000000),
                6,
            ).alias("mean_jaccard"),
        )
        .orderBy("threshold")
    )


@register(
    "seasonal_strength_census",
    ids="timeseries: seasonal-strength census — variance explained by the day-of-week component, exact-integer sums of squares",
    oracle="""
WITH d AS (
    SELECT CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)
               AS day_id,
           CAST(count(*) AS BIGINT) AS n
    FROM orders GROUP BY 1
), dw AS (
    SELECT day_id, n, day_id % 7 AS dow FROM d
), sfac AS (
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
    FROM sfac, tt
), ds AS (
    SELECT dw.day_id, dw.n,
           CAST(round(1e6 * dw.n / (fac.sfm / 1e6)) AS BIGINT) // 1000
               AS vdm
    FROM dw JOIN fac USING (dow)
), agg AS (
    SELECT CAST(count(*) AS BIGINT) AS nd,
           CAST(sum(n) AS BIGINT) AS s1,
           CAST(sum(n * n) AS BIGINT) AS s2,
           CAST(sum(vdm) AS BIGINT) AS t1,
           CAST(sum(vdm * vdm) AS BIGINT) AS t2
    FROM ds
)
SELECT nd AS n_days,
       round((nd * 1.0 * s2 - s1 * 1.0 * s1) / (nd * 1.0 * nd), 4)
           AS var_raw,
       round((nd * 1.0 * t2 - t1 * 1.0 * t1) / (nd * 1.0 * nd) / 1e6, 4)
           AS var_deseason,
       round(1 - ((nd * 1.0 * t2 - t1 * 1.0 * t1) / (nd * 1.0 * nd) / 1e6)
                 / ((nd * 1.0 * s2 - s1 * 1.0 * s1) / (nd * 1.0 * nd)),
             6) AS seasonal_strength
FROM agg
""",
)
def seasonal_strength_census(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Seasonal-STRENGTH readout — how much of the daily order-count
    variance the day-of-week component explains (``1 −
    Var(deseasonalized)/Var(raw)``, the STL-style strength statistic
    that decides whether seasonal modeling is worth running at all):
    reuses ``seasonal_smooth``'s micro-quantized dow factors and
    deseasonalized series, with both variances computed from EXACT
    integer sums of squares (``(N·Σx² − (Σx)²)/N²``) — the
    deseasonalized values step down to milli-units first so Σx² stays
    inside int64 at 100× this scale.

    Scale shape: one rollup to the day census, a 7-row factor
    broadcast, one exact-integer aggregate; 1-row output."""
    d = order_day_census(spark, sf_dir)
    dw = d.select("day_id", "n", F.pmod("day_id", F.lit(7)).alias("dow"))
    dw = dw.localCheckpoint()  # KB-sized census, reused for factors
    fac = dow_seasonal_factors(dw)
    ds = dw.join(F.broadcast(fac), "dow").select(
        "n",
        F.expr(
            "div(cast(round(1e6 * n / (sfm / 1e6)) as bigint), 1000)"
        ).alias("vdm"),
    )
    agg = ds.agg(
        F.count(F.lit(1)).alias("nd"),
        F.sum("n").alias("s1"),
        F.sum(F.col("n") * F.col("n")).alias("s2"),
        F.sum("vdm").alias("t1"),
        F.sum(F.col("vdm") * F.col("vdm")).alias("t2"),
    )
    nd = F.col("nd").cast("double")
    var_raw = (
        F.col("nd") * F.lit(1.0) * F.col("s2")
        - F.col("s1") * F.lit(1.0) * F.col("s1")
    ) / (F.col("nd") * F.lit(1.0) * F.col("nd"))
    var_d = (
        F.col("nd") * F.lit(1.0) * F.col("t2")
        - F.col("t1") * F.lit(1.0) * F.col("t1")
    ) / (F.col("nd") * F.lit(1.0) * F.col("nd")) / F.lit(1e6)
    return agg.select(
        F.col("nd").alias("n_days"),
        F.round(var_raw, 4).alias("var_raw"),
        F.round(var_d, 4).alias("var_deseason"),
        F.round(F.lit(1) - var_d / var_raw, 6).alias("seasonal_strength"),
    )


@register(
    "gains_table",
    ids="ml-eval: cumulative gains / lift table by exact score decile (distributed exact ranks, no global window)",
    oracle="""
WITH o AS (
    SELECT o_orderkey,
           CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
               AS score,
           CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS pos
    FROM orders
), r AS (
    SELECT score, pos,
           row_number() OVER (ORDER BY score DESC, o_orderkey) AS rk,
           count(*) OVER () AS n_total
    FROM o
), d AS (
    SELECT (rk - 1) * 10 // n_total AS decile, pos FROM r
), c AS (
    SELECT decile,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(pos) AS BIGINT) AS n_pos
    FROM d GROUP BY decile
), t AS (
    SELECT CAST(sum(n) AS BIGINT) AS nt, CAST(sum(n_pos) AS BIGINT) AS pt
    FROM c
), cum AS (
    SELECT decile, n, n_pos,
           CAST(sum(n) OVER (ORDER BY decile) AS BIGINT) AS cum_n,
           CAST(sum(n_pos) OVER (ORDER BY decile) AS BIGINT) AS cum_pos
    FROM c
)
SELECT cum.decile, cum.n, cum.n_pos,
       round(CAST(cum.cum_pos AS DOUBLE) / t.pt, 6) AS capture_rate,
       round((CAST(cum.cum_pos AS DOUBLE) / cum.cum_n)
             / (CAST(t.pt AS DOUBLE) / t.nt), 6) AS cum_lift
FROM cum, t ORDER BY cum.decile
""",
)
def gains_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative GAINS / LIFT table — the campaign-targeting readout
    every scoring model ships with (``woe_iv_census``'s evaluation-side
    sibling): rank orders by score (total price in exact cents,
    order-key tiebreak), cut EXACT deciles from distributed ranks
    (``operators.rankstats.global_ranks`` — range-partitioned offsets,
    never a global window over the fact), and report each decile's
    positive capture rate and cumulative lift for the
    ``1-URGENT``-priority label.

    Exactness: ranks and decile cuts are integers; capture/lift are
    single double chains from exact counts, rounded at 6.

    Scale shape: one ranked scan (sample-based range partitioning +
    per-partition offsets), a 10-row census, census-sized cumulative
    windows; 10-row output."""
    from pyspark.sql import Window

    from big_data_lab_three_spark.operators.rankstats import global_ranks

    o = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        (F.col("o_totalprice").cast("decimal(12,2)") * 100)
        .cast("long")
        .alias("score"),
        (F.col("o_orderpriority") == "1-URGENT").cast("int").alias("pos"),
    )
    r = global_ranks(
        o.withColumn("neg", -F.col("score")),
        order_cols=["neg", "o_orderkey"],
    )
    d = r.select(
        F.expr("div((_rank - 1) * 10, _n)").alias("decile"), "pos"
    )
    c = d.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n"), F.sum("pos").alias("n_pos")
    )
    c = c.localCheckpoint()  # 10-row census, reused by totals + cum
    # the checkpoint above consumed the ranked scan — release the
    # fact-sized frame global_ranks persists (by design, for rank
    # determinism) so a full-registry run doesn't pin it
    r.unpersist()
    t = c.agg(F.sum("n").alias("nt"), F.sum("n_pos").alias("pt"))
    w = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = c.select(
        "decile",
        "n",
        "n_pos",
        F.sum("n").over(w).alias("cum_n"),
        F.sum("n_pos").over(w).alias("cum_pos"),
    )
    return (
        cum.crossJoin(F.broadcast(t))
        .select(
            "decile",
            "n",
            "n_pos",
            F.round(
                F.col("cum_pos").cast("double") / F.col("pt"), 6
            ).alias("capture_rate"),
            F.round(
                (F.col("cum_pos").cast("double") / F.col("cum_n"))
                / (F.col("pt").cast("double") / F.col("nt")),
                6,
            ).alias("cum_lift"),
        )
        .orderBy("decile")
    )


@register(
    "ngram_novelty_decay",
    ids="curation: corpus-growth novelty decay — per shard, the share of 8-grams never seen in earlier shards (dataset-saturation diagnostic)",
    oracle=f"""
WITH d AS (
    SELECT doc_id % 4 AS shard, {_DUCK_TOKS} AS toks FROM documents
), g AS (
    SELECT DISTINCT shard,
           unnest([array_to_string(toks[i:i+7], ' ')
                   for i in range(1, len(toks) - 6)]) AS gram
    FROM d WHERE len(toks) >= 8
), per AS (
    SELECT shard, CAST(count(*) AS BIGINT) AS n_grams FROM g GROUP BY shard
), firsts AS (
    SELECT gram, CAST(min(shard) AS BIGINT) AS fs FROM g GROUP BY gram
), news AS (
    SELECT fs AS shard, CAST(count(*) AS BIGINT) AS n_new
    FROM firsts GROUP BY fs
)
SELECT CAST(per.shard AS INTEGER) AS shard, per.n_grams,
       coalesce(news.n_new, 0) AS n_new,
       round(CAST(coalesce(news.n_new, 0) AS DOUBLE) / per.n_grams, 6)
           AS novelty_rate
FROM per LEFT JOIN news ON news.shard = per.shard
ORDER BY shard
""",
)
def ngram_novelty_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-growth NOVELTY-decay curve — the saturation diagnostic a
    data-acquisition team reads before paying for the next crawl: split
    the corpus into four chronological shards (``doc_id mod 4`` as the
    arrival proxy), take each shard's DISTINCT 8-gram set, and report
    what fraction of it never appeared in any earlier shard.  A
    flattening curve means new data is mostly repeating old data.
    First-occurrence is computed as ``min(shard)`` per gram — one
    aggregate, not a per-shard-pair comparison.

    Scale shape: gram extraction via ``shingles`` (array projection,
    no corpus self-join); two combiner-friendly gram-keyed aggregates
    (DISTINCT + min-shard); 4-row output.  At 100 TB the grams would
    carry ``xxhash64`` digests — same plan."""
    from big_data_lab_three_spark.functions.text import shingles

    d = table(spark, sf_dir, "documents").select(
        F.pmod("doc_id", F.lit(4)).alias("shard"),
        tokens(F.col("text")).alias("toks"),
    )
    g = (
        d.where(F.size("toks") >= 8)
        .select("shard", F.explode(shingles(F.col("toks"), 8)).alias("gram"))
        .distinct()
    )
    g = g.localCheckpoint()  # (shard, gram) set, reused 2×
    per = g.groupBy("shard").agg(F.count(F.lit(1)).alias("n_grams"))
    firsts = g.groupBy("gram").agg(F.min("shard").alias("fs"))
    news = firsts.groupBy(F.col("fs").alias("shard")).agg(
        F.count(F.lit(1)).alias("n_new")
    )
    return (
        per.join(F.broadcast(news), "shard", "left")
        .select(
            F.col("shard").cast("int").alias("shard"),
            "n_grams",
            F.coalesce(F.col("n_new"), F.lit(0)).alias("n_new"),
            F.round(
                F.coalesce(F.col("n_new"), F.lit(0)).cast("double")
                / F.col("n_grams"),
                6,
            ).alias("novelty_rate"),
        )
        .orderBy("shard")
    )


@register(
    "ab_power_mde",
    ids="experimentation: A/B design power census — minimum detectable effect at alpha=.05 / power=.8 from exact arm counts (z literals, sqrt-only chain)",
    oracle="""
WITH arms AS (
    SELECT CASE WHEN CAST(('0x' || substr(
               md5('ab:' || CAST(c_custkey AS VARCHAR)), 1, 15))
               AS BIGINT) % 2 = 0 THEN 'A' ELSE 'B' END AS arm,
           CASE WHEN c_acctbal > 5000 THEN 1 ELSE 0 END AS conv
    FROM customer
), c AS (
    SELECT CAST(sum(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_a,
           CAST(sum(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_b,
           CAST(sum(CASE WHEN arm = 'A' THEN conv ELSE 0 END) AS BIGINT)
               AS conv_a,
           CAST(sum(CASE WHEN arm = 'B' THEN conv ELSE 0 END) AS BIGINT)
               AS conv_b
    FROM arms
)
SELECT n_a, n_b, conv_a, conv_b,
       round((conv_a + conv_b * 1.0) / (n_a + n_b), 6) AS p_pool,
       round(2.8016
             * sqrt(2.0 * ((conv_a + conv_b * 1.0) / (n_a + n_b))
                    * (1 - (conv_a + conv_b * 1.0) / (n_a + n_b))
                    / least(n_a, n_b)), 6) AS mde_abs,
       round((2.8016
              * sqrt(2.0 * ((conv_a + conv_b * 1.0) / (n_a + n_b))
                     * (1 - (conv_a + conv_b * 1.0) / (n_a + n_b))
                     / least(n_a, n_b)))
             / ((conv_a + conv_b * 1.0) / (n_a + n_b)), 6) AS mde_rel
FROM c
""",
)
def ab_power_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment DESIGN census — the minimum detectable effect
    the current sample could resolve (``ab_test_ztest``'s design-time
    sibling: that query judges a result, this one says whether the
    experiment was even powered to find one): customers md5-split
    into two arms (oracle-recomputable assignment), pooled conversion
    from exact integer counts, and
    ``MDE = (z_{{α/2}} + z_{{power}})·sqrt(2·p·(1−p)/n)`` with the
    standard 1.96 + 0.8416 = 2.8016 LITERAL (normal quantiles are not
    computable portably at runtime — same rationale as the literal
    smoothing kernels) and the conservative smaller arm as n.

    Scale shape: one codegen scan → 1-row aggregate; sqrt is the only
    non-arithmetic function (correctly rounded under IEEE-754)."""
    arms = table(spark, sf_dir, "customer").select(
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit("ab:"), F.col("c_custkey").cast("string")
                        )
                    ),
                    1,
                    15,
                ),
                16,
                10,
            )
            .cast("long")
            .__mod__(2)
            == 0
        ).alias("is_a"),
        (F.col("c_acctbal") > 5000).cast("int").alias("conv"),
    )
    c = arms.agg(
        F.sum(F.col("is_a").cast("int")).alias("n_a"),
        F.sum((~F.col("is_a")).cast("int")).alias("n_b"),
        F.sum(F.when(F.col("is_a"), F.col("conv")).otherwise(0)).alias(
            "conv_a"
        ),
        F.sum(F.when(~F.col("is_a"), F.col("conv")).otherwise(0)).alias(
            "conv_b"
        ),
    )
    p = (F.col("conv_a") + F.col("conv_b") * F.lit(1.0)) / (
        F.col("n_a") + F.col("n_b")
    )
    mde = F.lit(2.8016) * F.sqrt(
        F.lit(2.0)
        * p
        * (F.lit(1) - p)
        / F.least(F.col("n_a"), F.col("n_b"))
    )
    return c.select(
        "n_a",
        "n_b",
        "conv_a",
        "conv_b",
        F.round(p, 6).alias("p_pool"),
        F.round(mde, 6).alias("mde_abs"),
        F.round(mde / p, 6).alias("mde_rel"),
    )


@register(
    "heaps_law_fit",
    ids="text: Heaps'-law vocabulary-growth fit — cumulative distinct vocabulary vs corpus size across chronological shards, micro-quantized log-log regression",
    oracle=f"""
WITH d AS (
    SELECT doc_id % 4 AS shard, unnest({_DUCK_TOKS}) AS tok
    FROM documents
), pershard AS (
    SELECT shard, CAST(count(*) AS BIGINT) AS n_toks FROM d GROUP BY shard
), firsts AS (
    SELECT tok, CAST(min(shard) AS BIGINT) AS fs FROM d GROUP BY tok
), newv AS (
    SELECT fs AS shard, CAST(count(*) AS BIGINT) AS n_new
    FROM firsts GROUP BY fs
), cum AS (
    SELECT p.shard,
           CAST(sum(p.n_toks) OVER (ORDER BY p.shard) AS BIGINT) AS nn,
           CAST(sum(coalesce(v.n_new, 0)) OVER (ORDER BY p.shard)
               AS BIGINT) AS vv
    FROM pershard p LEFT JOIN newv v ON v.shard = p.shard
), q AS (
    SELECT shard, nn, vv,
           CAST(floor(ln(nn) * 1000000 + 0.5) AS BIGINT) AS xq,
           CAST(floor(ln(vv) * 1000000 + 0.5) AS BIGINT) AS yq
    FROM cum
), s AS (
    SELECT CAST(count(*) AS BIGINT) AS np,
           CAST(sum(xq) AS BIGINT) AS sx,
           CAST(sum(yq) AS BIGINT) AS sy,
           CAST(sum(xq * yq) AS BIGINT) AS sxy,
           CAST(sum(xq * xq) AS BIGINT) AS sxx
    FROM q
), fit AS (
    SELECT (np * 1.0 * sxy - sx * 1.0 * sy)
               / (np * 1.0 * sxx - sx * 1.0 * sx) AS beta,
           (sy * 1.0 - ((np * 1.0 * sxy - sx * 1.0 * sy)
                        / (np * 1.0 * sxx - sx * 1.0 * sx)) * sx)
               / np / 1000000 AS lnk
    FROM s
)
SELECT q.shard, q.nn AS cum_tokens, q.vv AS cum_vocab,
       round(fit.beta, 6) AS heaps_beta,
       round(fit.lnk, 6) AS heaps_lnk
FROM q, fit ORDER BY q.shard
""",
)
def heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law VOCABULARY-GROWTH fit — ``V = K·N^β`` over the
    cumulative corpus (``zipf_fit``'s growth-side twin and
    ``ngram_novelty_decay``'s token-level sibling): the four
    chronological shard prefixes give four (total tokens, distinct
    vocabulary) points — cumulative vocabulary from one
    min-shard-per-token aggregate, never a re-scan per prefix — and
    the log-log least-squares slope is β.  Both logs quantize to
    integer micro-units BEFORE the regression sums (4-point Σxy would
    otherwise inherit partial-sum order), so the closed-form slope is
    one double chain from exact integers.

    Scale shape: one token explode, two combiner-friendly token-keyed
    aggregates, census-sized windows; 4-row output (each row carries
    the shared fit — the ``mix_temperature_allocation`` readout
    shape)."""
    from pyspark.sql import Window

    d = table(spark, sf_dir, "documents").select(
        F.pmod("doc_id", F.lit(4)).alias("shard"),
        F.explode(
            tokens(F.col("text"))
        ).alias("tok"),
    )
    pershard = d.groupBy("shard").agg(F.count(F.lit(1)).alias("n_toks"))
    firsts = d.groupBy("tok").agg(F.min("shard").alias("fs"))
    newv = firsts.groupBy(F.col("fs").alias("shard")).agg(
        F.count(F.lit(1)).alias("n_new")
    )
    w = Window.orderBy("shard").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = (
        pershard.join(F.broadcast(newv), "shard", "left")
        .select(
            "shard",
            F.sum("n_toks").over(w).alias("nn"),
            F.sum(F.coalesce(F.col("n_new"), F.lit(0)))
            .over(w)
            .alias("vv"),
        )
    )
    q = cum.select(
        "shard",
        "nn",
        "vv",
        F.floor(F.log("nn") * F.lit(1000000) + F.lit(0.5))
        .cast("long")
        .alias("xq"),
        F.floor(F.log("vv") * F.lit(1000000) + F.lit(0.5))
        .cast("long")
        .alias("yq"),
    )
    q = q.localCheckpoint()  # 4 rows, reused by fit + readout
    s = q.agg(
        F.count(F.lit(1)).alias("np"),
        F.sum("xq").alias("sx"),
        F.sum("yq").alias("sy"),
        F.sum(F.col("xq") * F.col("yq")).alias("sxy"),
        F.sum(F.col("xq") * F.col("xq")).alias("sxx"),
    )
    np_, sx, sy = F.col("np"), F.col("sx"), F.col("sy")
    beta = (np_ * F.lit(1.0) * F.col("sxy") - sx * F.lit(1.0) * sy) / (
        np_ * F.lit(1.0) * F.col("sxx") - sx * F.lit(1.0) * sx
    )
    lnk = (sy * F.lit(1.0) - beta * sx) / np_ / F.lit(1000000)
    fit = s.select(
        F.round(beta, 6).alias("heaps_beta"),
        F.round(lnk, 6).alias("heaps_lnk"),
    )
    return (
        q.crossJoin(F.broadcast(fit))
        .select(
            "shard",
            F.col("nn").alias("cum_tokens"),
            F.col("vv").alias("cum_vocab"),
            "heaps_beta",
            "heaps_lnk",
        )
        .orderBy("shard")
    )


@register(
    "burstiness_census",
    ids="events: burstiness (Fano factor) census — hourly-count variance-to-mean per event type from exact integer sums of squares",
    oracle="""
WITH h AS (
    SELECT event_type,
           epoch_ns(ts) // 3600000000000 AS hour_id
    FROM events
), c AS (
    SELECT event_type, hour_id, CAST(count(*) AS BIGINT) AS n
    FROM h GROUP BY event_type, hour_id
), agg AS (
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_hours,
           CAST(sum(n) AS BIGINT) AS s1,
           CAST(sum(n * n) AS BIGINT) AS s2
    FROM c GROUP BY event_type
)
SELECT event_type, n_hours, s1 AS n_events,
       round(CAST(s1 AS DOUBLE) / n_hours, 6) AS mean_per_hour,
       round((n_hours * 1.0 * s2 - s1 * 1.0 * s1)
             / (n_hours * 1.0 * n_hours), 6) AS var_per_hour,
       round(((n_hours * 1.0 * s2 - s1 * 1.0 * s1)
              / (n_hours * 1.0 * n_hours))
             / (CAST(s1 AS DOUBLE) / n_hours), 6) AS fano_factor
FROM agg ORDER BY event_type
""",
)
def burstiness_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BURSTINESS census — the Fano factor (variance-to-mean of hourly
    event counts, over hours with traffic) per event type: ≈1 means
    Poisson-like arrivals, ≫1 means bursts — the statistic that sizes
    streaming-ingest buffers and autoscaling headroom, complementing
    the registry's drift monitors (which watch level, not clumping).
    Variance comes from exact integer sums of squares
    (``(N·Σn² − (Σn)²)/N²``) so every readout is one double chain.

    Scale shape: one rollup to (type, hour) — map-side combining
    absorbs the per-event fan-in — then a ≤|types| census; hour ids
    are exact integer division of the epoch-ns contract column."""
    h = table(spark, sf_dir, "events").select(
        "event_type",
        F.expr("div(ts, 3600000000000)").alias("hour_id"),
    )
    c = h.groupBy("event_type", "hour_id").agg(
        F.count(F.lit(1)).alias("n")
    )
    agg = c.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_hours"),
        F.sum("n").alias("s1"),
        F.sum(F.col("n") * F.col("n")).alias("s2"),
    )
    nh, s1 = F.col("n_hours"), F.col("s1")
    var = (nh * F.lit(1.0) * F.col("s2") - s1 * F.lit(1.0) * s1) / (
        nh * F.lit(1.0) * nh
    )
    return agg.select(
        "event_type",
        "n_hours",
        s1.alias("n_events"),
        F.round(s1.cast("double") / nh, 6).alias("mean_per_hour"),
        F.round(var, 6).alias("var_per_hour"),
        F.round(var / (s1.cast("double") / nh), 6).alias("fano_factor"),
    ).orderBy("event_type")


@register(
    "epoch_cap_allocation",
    ids="training-data: data-constrained token-budget allocation — waterfilling a budget across sources under a 4-epoch repetition cap, exact integer micro-unit waterline",
    oracle=f"""
WITH c AS (
    SELECT source, CAST(sum(len({_DUCK_TOKS})) AS BIGINT) AS n_toks
    FROM documents GROUP BY source
), caps AS (
    SELECT source, n_toks, 4 * n_toks AS cap,
           row_number() OVER (ORDER BY 4 * n_toks, source) AS rk,
           count(*) OVER () AS ns,
           CAST(3 * sum(n_toks) OVER () AS BIGINT) AS budget
    FROM c
), pre AS (
    SELECT caps.*,
           CAST(coalesce(sum(cap) OVER (ORDER BY rk
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS p_before
    FROM caps
), cand AS (
    SELECT rk - 1 AS k,
           (budget - p_before) * 1000000 // (ns - rk + 1) AS lamq,
           cap * 1000000 AS capq
    FROM pre
), pick AS (
    SELECT min(k) AS kstar FROM cand WHERE lamq <= capq
), lam AS (
    SELECT cand.lamq FROM cand, pick WHERE cand.k = pick.kstar
)
SELECT pre.source, pre.n_toks, pre.cap,
       CAST(least(pre.cap * 1000000, lam.lamq) // 1000000 AS BIGINT)
           AS alloc_tokens,
       CAST(least(pre.cap * 1000000, lam.lamq) // 1000000 AS BIGINT)
           * 1000000 // pre.n_toks AS epochs_micro,
       pre.cap * 1000000 <= lam.lamq AS capped
FROM pre, lam ORDER BY pre.source
""",
)
def epoch_cap_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DATA-CONSTRAINED token-budget allocation — the
    repetition-capped mix plan (the Muennighoff et al. scaling setup:
    repeating a source beyond ~4 epochs stops helping): waterfill a
    budget of 3× the corpus token count across sources, each capped at
    4 epochs of its own tokens.  The waterline λ is found exactly on
    the cap-sorted census — for k capped sources the candidate level
    is ``(B − Σ smallest k caps)/(n−k)`` in integer micro-tokens, and
    k* is the smallest k whose level fits under the next cap — so both
    engines pick the identical waterline and allocations with no
    iteration and no floats.

    Scale shape: one projection-only rollup to |sources| rows (token
    counts from ``size(split(…))`` — no explode), census windows, a
    2-row broadcast pick; |sources|-row output."""
    from pyspark.sql import Window

    c = (
        table(spark, sf_dir, "documents")
        .select(
            "source",
            F.size(
                tokens(F.col("text"))
            ).alias("nt"),
        )
        .groupBy("source")
        .agg(F.sum("nt").alias("n_toks"))
    )
    wall = Window.partitionBy()
    caps = c.select(
        "source",
        "n_toks",
        (F.lit(4) * F.col("n_toks")).alias("cap"),
        F.row_number()
        .over(Window.orderBy(F.lit(4) * F.col("n_toks"), F.col("source")))
        .alias("rk"),
        F.count(F.lit(1)).over(wall).alias("ns"),
        (F.lit(3) * F.sum("n_toks").over(wall)).alias("budget"),
    )
    wcum = Window.orderBy("rk").rowsBetween(
        Window.unboundedPreceding, -1
    )
    pre = caps.withColumn(
        "p_before", F.coalesce(F.sum("cap").over(wcum), F.lit(0))
    )
    pre = pre.localCheckpoint()  # |sources| rows, reused 2×
    cand = pre.select(
        (F.col("rk") - 1).alias("k"),
        F.expr(
            "div((budget - p_before) * 1000000, ns - rk + 1)"
        ).alias("lamq"),
        (F.col("cap") * F.lit(1000000)).alias("capq"),
    )
    pick = cand.where(F.col("lamq") <= F.col("capq")).agg(
        F.min("k").alias("kstar")
    )
    lam = cand.join(
        F.broadcast(pick), cand["k"] == pick["kstar"]
    ).select("lamq")
    allocq = F.least(F.col("cap") * F.lit(1000000), F.col("lamq"))
    return (
        pre.crossJoin(F.broadcast(lam))
        .select(
            "source",
            "n_toks",
            "cap",
            F.expr(
                "cast(div(least(cap * 1000000, lamq), 1000000) as bigint)"
            ).alias("alloc_tokens"),
            F.expr(
                "div(cast(div(least(cap * 1000000, lamq), 1000000) as bigint)"
                " * 1000000, n_toks)"
            ).alias("epochs_micro"),
            (F.col("cap") * F.lit(1000000) <= F.col("lamq")).alias(
                "capped"
            ),
        )
        .orderBy("source")
    )


@register(
    "context_window_histogram",
    ids="training-data: context-window truncation census — docs fitting vs truncated and tokens kept vs lost at 32/64/128-token windows",
    oracle=f"""
WITH d AS (
    SELECT CAST(len({_DUCK_TOKS}) AS BIGINT) AS n_toks FROM documents
), w AS (
    SELECT CAST(v AS BIGINT) AS window_size
    FROM (VALUES (32), (64), (128)) AS x(v)
)
SELECT w.window_size,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN d.n_toks <= w.window_size THEN 1 ELSE 0 END)
           AS BIGINT) AS n_fit,
       CAST(sum(CASE WHEN d.n_toks > w.window_size THEN 1 ELSE 0 END)
           AS BIGINT) AS n_truncated,
       CAST(sum(least(d.n_toks, w.window_size)) AS BIGINT) AS tokens_kept,
       CAST(sum(greatest(d.n_toks - w.window_size, 0)) AS BIGINT)
           AS tokens_lost,
       round(CAST(sum(greatest(d.n_toks - w.window_size, 0)) AS DOUBLE)
             / sum(d.n_toks), 6) AS loss_rate
FROM w CROSS JOIN d
GROUP BY w.window_size
ORDER BY w.window_size
""",
)
def context_window_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CONTEXT-WINDOW truncation census — the sizing table read before
    choosing a training sequence length: at each candidate window
    (32/64/128 tokens — spanning this corpus's 10-99 token range),
    how many documents fit whole, how many truncate, and what share of
    corpus tokens a hard truncation would discard
    (``sequence_packing``'s planning-side sibling: packing tells you
    bin efficiency AFTER choosing a length, this prices the choice).
    Token counts are ``size(split(…))`` — a projection, no explode;
    everything is exact integers but the loss rate.

    Scale shape: one projection scan to per-doc counts, a 3-row
    window broadcast, one grouped aggregate; 3-row output."""
    d = table(spark, sf_dir, "documents").select(
        F.size(
            tokens(F.col("text"))
        ).alias("n_toks")
    )
    w = spark.createDataFrame(
        [(32,), (64,), (128,)], schema="window_size long"
    )
    j = d.crossJoin(F.broadcast(w))
    return (
        j.groupBy("window_size")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                (F.col("n_toks") <= F.col("window_size")).cast("int")
            ).alias("n_fit"),
            F.sum(
                (F.col("n_toks") > F.col("window_size")).cast("int")
            ).alias("n_truncated"),
            F.sum(F.least("n_toks", "window_size")).alias("tokens_kept"),
            F.sum(
                F.greatest(
                    F.col("n_toks") - F.col("window_size"), F.lit(0)
                )
            ).alias("tokens_lost"),
            F.round(
                F.sum(
                    F.greatest(
                        F.col("n_toks") - F.col("window_size"), F.lit(0)
                    )
                ).cast("double")
                / F.sum("n_toks"),
                6,
            ).alias("loss_rate"),
        )
        .orderBy("window_size")
    )


@register(
    "interevent_latency_census",
    ids="events: inter-event latency census — exact p50/p95/p99 of per-user event gaps per event type via distributed ranks (no global window)",
    oracle="""
WITH g AS (
    SELECT event_type, event_id,
           epoch_ns(ts) - lag(epoch_ns(ts)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS gap
    FROM events
), r AS (
    SELECT event_type, gap,
           row_number() OVER (PARTITION BY event_type
                              ORDER BY gap, event_id) AS rk,
           count(*) OVER (PARTITION BY event_type) AS n
    FROM g WHERE gap IS NOT NULL
)
SELECT event_type,
       CAST(max(n) AS BIGINT) AS n_gaps,
       CAST(max(CASE WHEN rk = (n * 50 + 99) // 100 THEN gap END)
           AS BIGINT) AS p50_ns,
       CAST(max(CASE WHEN rk = (n * 95 + 99) // 100 THEN gap END)
           AS BIGINT) AS p95_ns,
       CAST(max(CASE WHEN rk = (n * 99 + 99) // 100 THEN gap END)
           AS BIGINT) AS p99_ns,
       round(CAST(sum(gap) AS DOUBLE) / max(n), 4) AS mean_ns
FROM r GROUP BY event_type ORDER BY event_type
""",
)
def interevent_latency_census(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """INTER-EVENT latency census — exact p50/p95/p99 of the gap
    between a user's consecutive events, per event type (the SLO/
    session-timeout sizing table; ``gapfill``'s measurement-side
    sibling).  Gaps come from a ``lag`` window PARTITIONED BY USER
    (bounded per-user state — the scalable window class), and the
    percentiles are EXACT order statistics at ``ceil(q·n)`` from the
    distributed-ranks operator partitioned by event type — never a
    partition-less window over the fact.

    Everything is exact integer nanoseconds but the reported mean.

    Scale shape: one user-keyed window pass, one type-grouped ranked
    scan (range-partitioned offsets), a ≤|types| census."""
    from pyspark.sql import Window

    from big_data_lab_three_spark.operators.rankstats import global_ranks

    e = table(spark, sf_dir, "events").select(
        "event_type", "event_id", "user_id", "ts"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    g = e.select(
        "event_type",
        "event_id",
        (F.col("ts") - F.lag("ts").over(w)).alias("gap"),
    ).where(F.col("gap").isNotNull())
    r = global_ranks(g, order_cols=["gap", "event_id"],
                     group_cols=["event_type"])
    pick = lambda pct: F.max(  # noqa: E731 — census-sized projection
        F.when(
            F.col("_rank") == F.expr(f"div(_n * {pct} + 99, 100)"),
            F.col("gap"),
        )
    ).cast("long")
    out = r.groupBy("event_type").agg(
        F.max("_n").alias("n_gaps"),
        pick(50).alias("p50_ns"),
        pick(95).alias("p95_ns"),
        pick(99).alias("p99_ns"),
        F.round(
            F.sum("gap").cast("double") / F.max("_n"), 4
        ).alias("mean_ns"),
    ).orderBy("event_type")
    out = out.localCheckpoint()  # ≤|types| rows; release the rank cache
    r.unpersist()
    return out


@register(
    "watermark_delay_sweep",
    ids="streaming design: watermark-delay sweep — late-drop counts per (delay, arrival shard) over the event-time admission base, the delay-tuning table",
    oracle="""
WITH base AS (
  SELECT id, shard,
         10000 * (CASE WHEN CAST(('0x' || substr(
                      md5('lc:' || CAST(id AS VARCHAR)), 1, 15))
                      AS BIGINT) % 5 = 0 AND shard > 0
                  THEN shard - 1 ELSE shard END)
         + CAST(('0x' || substr(md5('et:' || CAST(id AS VARCHAR)), 1, 15))
               AS BIGINT) % 10000 AS et
  FROM (
    SELECT doc_id AS id, doc_id % 4 AS shard FROM documents
    UNION ALL
    SELECT doc_id + 5000002, (doc_id + 2) % 4
    FROM documents WHERE doc_id % 8 = 0
    UNION ALL
    SELECT doc_id + 6000002, (doc_id + 2) % 4
    FROM documents WHERE doc_id % 8 = 1
  )
), cum AS (
  SELECT shard, max(et) AS mx FROM base GROUP BY shard
), wm AS (
  SELECT s.shard, max(c.mx) AS prior_max
  FROM (VALUES (1), (2), (3)) AS s(shard) JOIN cum c ON c.shard < s.shard
  GROUP BY s.shard
), delays AS (
  SELECT CAST(v AS BIGINT) AS delay FROM (VALUES (2000), (5000), (8000))
      AS x(v)
)
SELECT d.delay, CAST(b.shard AS INTEGER) AS shard,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(coalesce(sum(CASE WHEN b.et < wm.prior_max - d.delay
                              THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_late,
       round(CAST(coalesce(sum(CASE WHEN b.et < wm.prior_max - d.delay
                                    THEN 1 ELSE 0 END), 0) AS DOUBLE)
             / count(*), 6) AS late_rate
FROM base b CROSS JOIN delays d
LEFT JOIN wm ON wm.shard = b.shard
GROUP BY d.delay, b.shard
ORDER BY d.delay, shard
""",
)
def watermark_delay_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WATERMARK-DELAY tuning sweep — the table read before choosing
    ``streaming_minhash_admission_et``'s delay: over the same
    event-time admission base, how many documents each candidate delay
    (2 000 / 5 000 / 8 000) would drop as late, per arrival shard.
    This is the BATCH replay of the stream's watermark arithmetic
    (prior-shard max event time − delay), so the 5 000 row of this
    census must agree with the live stream's late counts — the design
    table and the runtime share one definition.

    Scale shape: one rollup to the 4-row shard census, a triangular
    4×4 prefix-max join and a 3-row delay broadcast against the base
    scan; 12-row output."""
    b = admission_et_base(spark, sf_dir).select("id", "shard", "et")
    cum = b.groupBy("shard").agg(F.max("et").alias("mx"))
    shards = spark.createDataFrame([(1,), (2,), (3,)], schema="shard long")
    wm = (
        shards.join(
            cum.select(F.col("shard").alias("cs"), "mx"),
            F.col("cs") < F.col("shard"),
        )
        .groupBy("shard")
        .agg(F.max("mx").alias("prior_max"))
    )
    delays = spark.createDataFrame(
        [(2000,), (5000,), (8000,)], schema="delay long"
    )
    late = F.when(
        F.col("et") < F.col("prior_max") - F.col("delay"), 1
    ).otherwise(0)
    return (
        b.crossJoin(F.broadcast(delays))
        .join(F.broadcast(wm), "shard", "left")
        .groupBy("delay", F.col("shard").cast("int").alias("shard"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.coalesce(F.sum(late), F.lit(0)).alias("n_late"),
            F.round(
                F.coalesce(F.sum(late), F.lit(0)).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("late_rate"),
        )
        .orderBy("delay", "shard")
    )


@register(
    "dedup_method_agreement",
    ids="dedup: detector-agreement census — MinHash-LSH (J>=0.7) vs SimHash (Hamming<=3) pair sets over the shared exact-deduped seeded base",
    oracle=f"""
WITH reps AS (
  SELECT min(doc_id) AS id, min(text) AS text
  FROM documents WHERE doc_id % 5 = 0
  GROUP BY md5(text)
), base AS (
  SELECT id, text FROM reps
  UNION ALL
  SELECT id + 1000000, text || ' zzz' FROM reps
), t AS ({{SH}}), m AS (
  SELECT a.id AS id_a, b.id AS id_b
  FROM t a JOIN t b ON a.id < b.id
  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
          / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.7
), tok AS (
  SELECT id, list_filter(regexp_split_to_array(text, '\\s+'),
                         x -> x != '') AS toks
  FROM base
), shg AS (
  SELECT id,
         unnest([array_to_string(toks[i:i+2], ' ')
                 for i in range(1, len(toks) - 1)]) AS s
  FROM tok
), h AS (
  SELECT id, CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) AS h FROM shg
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
), s AS (
  SELECT a.id AS id_a, b.id AS id_b
  FROM sig a JOIN sig b ON a.id < b.id
  WHERE bit_count(xor(a.sig, b.sig)) <= 3
), u AS (
  SELECT coalesce(m.id_a, s.id_a) AS id_a,
         m.id_a IS NOT NULL AS in_m,
         s.id_a IS NOT NULL AS in_s
  FROM m FULL OUTER JOIN s ON m.id_a = s.id_a AND m.id_b = s.id_b
)
SELECT CAST(sum(CASE WHEN in_m THEN 1 ELSE 0 END) AS BIGINT) AS n_minhash,
       CAST(sum(CASE WHEN in_s THEN 1 ELSE 0 END) AS BIGINT) AS n_simhash,
       CAST(sum(CASE WHEN in_m AND in_s THEN 1 ELSE 0 END) AS BIGINT)
           AS n_both,
       CAST(sum(CASE WHEN in_m AND NOT in_s THEN 1 ELSE 0 END) AS BIGINT)
           AS n_only_minhash,
       CAST(sum(CASE WHEN in_s AND NOT in_m THEN 1 ELSE 0 END) AS BIGINT)
           AS n_only_simhash,
       round(CAST(sum(CASE WHEN in_m AND in_s THEN 1 ELSE 0 END)
                 AS DOUBLE) / count(*), 6) AS set_jaccard
FROM u
""".format(SH=_DUCK_SHINGLES),
)
def dedup_method_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Detector-AGREEMENT census — how much the two near-dup detectors
    overlap on the SAME corpus (the meta-evaluation a pipeline runs
    before trusting one detector as the cheap filter for the other):
    MinHash-LSH pairs rescored at Jaccard ≥ 0.7 vs SimHash pairs at
    Hamming ≤ 3, both over the shared exact-deduped seeded base
    (``collapsed_seeded_base`` — the collapse also keeps both all-pairs
    ORACLES linear under sf1 replication, unlike the standalone
    ``dedup_simhash``).  The census reports each set's size, the
    intersection, each side's exclusive pairs, and the Jaccard of the
    two pair SETS.  Both pipelines are md5-portable, so the oracle
    recomputes both detectors exactly — this is a full value gate on
    the agreement numbers, not a smoke check.

    Scale shape: two bucketed pipelines (band-keyed / pigeonhole-keyed
    exchanges, never corpus pairs), one full-outer join of two
    pair-key tables, a 1-row census."""
    from big_data_lab_three_spark.operators.dedup import (
        minhash_lsh_pairs,
        simhash_pairs,
    )
    from big_data_lab_three_spark.queries.dedup import collapsed_seeded_base

    base = collapsed_seeded_base(spark, sf_dir)
    base = base.localCheckpoint()  # reps-sized; feeds BOTH pipelines
    m = minhash_lsh_pairs(
        base, num_perms=32, bands=16, jaccard_threshold=0.7
    ).select("id_a", "id_b", F.lit(True).alias("in_m"))
    s = simhash_pairs(base, max_hamming=3).select(
        "id_a", "id_b", F.lit(True).alias("in_s")
    )
    u = m.join(s, ["id_a", "id_b"], "full_outer").select(
        F.coalesce(F.col("in_m"), F.lit(False)).alias("in_m"),
        F.coalesce(F.col("in_s"), F.lit(False)).alias("in_s"),
    )
    return u.agg(
        F.sum(F.col("in_m").cast("int")).alias("n_minhash"),
        F.sum(F.col("in_s").cast("int")).alias("n_simhash"),
        F.sum((F.col("in_m") & F.col("in_s")).cast("int")).alias("n_both"),
        F.sum((F.col("in_m") & ~F.col("in_s")).cast("int")).alias(
            "n_only_minhash"
        ),
        F.sum((F.col("in_s") & ~F.col("in_m")).cast("int")).alias(
            "n_only_simhash"
        ),
        F.round(
            F.sum((F.col("in_m") & F.col("in_s")).cast("int")).cast(
                "double"
            )
            / F.count(F.lit(1)),
            6,
        ).alias("set_jaccard"),
    )
