"""Similarity-search query corpus over the ``embeddings`` table."""

from __future__ import annotations

from functools import partial

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from big_data_lab_three_spark.operators.similarity import (
    brute_force_topk,
    cosine_score_pairs,
    imi_topk,
    ivf_topk,
    ivfpq_topk,
    lsh_bucketed_topk,
    mmr_select,
    pq_topk,
)
from big_data_lab_three_spark.operators.text import bm25_topk
from big_data_lab_three_spark.queries import register
from big_data_lab_three_spark.queries.text import _DUCK_TOKS
from big_data_lab_three_spark.sources import table


def _rounded_topk(df: DataFrame) -> DataFrame:
    return df.select(
        "query_id", "neighbor_id", F.round("cos_sim", 4).alias("cos_sim"),
        "rank",
    )


@register(
    "similarity_topk",
    ids="similarity: brute-force cosine top-k (exact baseline)",
    oracle="""
WITH q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id % 100 = 0
), c AS (
  SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
  FROM embeddings
), s AS (
  SELECT query_id, neighbor_id,
         list_cosine_similarity(qv, cv) AS cos
  FROM c, q
  WHERE query_id <> neighbor_id
)
SELECT query_id, neighbor_id, round(cos, 4) AS cos_sim,
       CAST(rn AS INT) AS rank
FROM (
  SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rn
  FROM s
)
WHERE rn <= 5
""",
)
def similarity_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 for a deterministic query sample: broadcast
    queries × one corpus scan × per-query window rank.  This is the ANN
    correctness baseline; at 100 TB the same plan is a broadcast join
    over a partitioned corpus — linear, no shuffle of the corpus."""
    e = table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") % 100 == 0)
    return _rounded_topk(brute_force_topk(q, e, k=5))


# Shared oracle for the three ANN recall-audit gates below: everything
# the SQL side can know a priori (query-set size, exact-baseline size)
# plus TRUE pins for the properties the Spark side measures.  Same
# boolean-gate idiom as gk_quantile_check / hll_distinct_check — the
# approximate method's quality guarantee rides the value hash even
# though its candidate sets are not SQL-expressible.
_ANN_AUDIT_ORACLE = """
SELECT CAST(count(*) AS BIGINT) AS n_queries,
       CAST(5 * count(*) AS BIGINT) AS n_exact,
       TRUE AS recall_floor_ok,
       TRUE AS scores_match_exact
FROM embeddings WHERE vec_id % 100 = 0
"""


def _jvm_cosine(a, b):
    """Exact cosine of two (float-)array columns, evaluated inside
    whole-stage codegen — the cross-check path for the Arrow rescore."""
    da, db = F.transform(a, lambda x: x.cast("double")), F.transform(
        b, lambda x: x.cast("double")
    )
    dot = F.aggregate(
        F.zip_with(da, db, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    n1 = F.sqrt(
        F.aggregate(da, F.lit(0.0), lambda acc, v: acc + v * v)
    )
    n2 = F.sqrt(
        F.aggregate(db, F.lit(0.0), lambda acc, v: acc + v * v)
    )
    return dot / F.greatest(n1 * n2, F.lit(1e-12))


def _ann_recall_audit(
    ann: DataFrame, exact: DataFrame, corpus: DataFrame, queries: DataFrame,
    recall_floor: float = 0.4,
) -> DataFrame:
    """One-row audit of an ANN result against the exact baseline:
    pinnable sizes, a recall@5 floor, and an independent JVM-side
    rescore check of every reported cosine: the numpy/Arrow rescore
    (float32 inputs upcast to float64, engine-order summation) and the
    codegen ``zip_with`` double-precision dot product must agree to
    1e-4 — loose enough for float32-vs-float64 accumulation differences
    on 64-dim unit vectors (~1e-6), tight enough that a wrong pair or a
    sign/normalization bug (≥1e-2) always trips it.

    Scale shape: ``exact`` is the broadcast-queries brute-force pass
    (linear in corpus, no corpus shuffle), the hit join is bounded by
    |queries|·k rows, and the score cross-check joins the tiny ANN
    result back to corpus/query vectors on their keys.  ``ann`` and
    ``exact`` each feed two audit branches; Spark's ReuseExchange
    deduplicates those subplans ON ITS OWN here (measured: adding
    ``persist()`` on both made all three audits 1.30–1.44× SLOWER —
    same-day A/B r4 — because the cache materialization is pure
    overhead once reuse fires), so they are deliberately NOT
    persisted.  If a future Spark version stops reusing these
    mapInPandas subplans, re-measure before re-adding persists."""
    hits = ann.select("query_id", "neighbor_id").join(
        exact.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"]
    )
    checked = (
        ann.select("query_id", "neighbor_id", "cos_sim")
        .join(
            queries.select(
                F.col("vec_id").alias("query_id"),
                F.col("embedding").alias("_qv"),
            ),
            "query_id",
        )
        .join(
            corpus.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("embedding").alias("_cv"),
            ),
            "neighbor_id",
        )
        .select(
            (
                F.abs(
                    F.col("cos_sim") - _jvm_cosine(F.col("_qv"), F.col("_cv"))
                )
                <= F.lit(1e-4)
            ).alias("_score_ok")
        )
        .agg(F.min("_score_ok").alias("scores_match_exact"))
    )
    totals = exact.agg(
        F.countDistinct("query_id").alias("n_queries"),
        F.count(F.lit(1)).alias("n_exact"),
    )
    n_hits = hits.agg(F.count(F.lit(1)).alias("_n_hits"))
    return (
        totals.crossJoin(F.broadcast(n_hits))
        .crossJoin(F.broadcast(checked))
        .select(
            "n_queries",
            "n_exact",
            (
                F.col("_n_hits").cast("double")
                / F.col("n_exact").cast("double")
                >= F.lit(recall_floor)
            ).alias("recall_floor_ok"),
            F.coalesce(F.col("scores_match_exact"), F.lit(False)).alias(
                "scores_match_exact"
            ),
        )
    )


def _ann_audit(spark: SparkSession, sf_dir: str, ann) -> DataFrame:
    """Recall-audit driver shared by the ``similarity_{lsh,ivf,imi,pq,
    ivfpq}`` gates: ``ann(queries, corpus)`` top-5 over the
    ``vec_id % 100 == 0`` query sample, audited against the exact
    ``brute_force_topk`` baseline by :func:`_ann_recall_audit`."""
    e = table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") % 100 == 0)
    return _ann_recall_audit(ann(q, e), brute_force_topk(q, e, k=5), e, q)


# The LSH family's 32 seeded hyperplanes (8 tables × 4 bits over d=64).
_LSH_PLANES = np.random.default_rng(7).standard_normal((32, 64)).tolist()


@register(
    "similarity_lsh",
    ids="similarity: random-hyperplane LSH bucketed ANN — recall-audit gate (full value oracle)",
    oracle=_ANN_AUDIT_ORACLE,
)
def similarity_lsh_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-5 (32 seeded hyperplanes as 8
    tables × 4 bits, candidates from any colliding table), audited
    in-query against the brute-force baseline: the output row carries
    the pinnable sizes, a recall@5 ≥ 0.4 gate (measured 0.56–0.76
    across the three SFs; floor leaves margin for testdata reseeds),
    and the independent codegen rescore check.  Upgraded in r4 from a
    rows-only check to this full value hash; ``similarity_lsh_recall``
    still pins the exact-duplicate slice row-by-row."""
    ann = partial(lsh_bucketed_topk, planes=_LSH_PLANES, tables=8, k=5)
    return _ann_audit(spark, sf_dir, ann)


@register(
    "similarity_ivf",
    ids="similarity: IVF coarse-quantizer ANN (KMeans cells + nprobe) — recall-audit gate (full value oracle)",
    oracle=_ANN_AUDIT_ORACLE,
)
def similarity_ivf_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-5 (seeded KMeans coarse quantizer, 16 cells,
    nprobe=4, exact cosine rescore on candidates), audited in-query
    against the brute-force baseline — same gate design as
    ``similarity_lsh`` (measured recall 0.57–0.72 across SFs)."""
    return _ann_audit(
        spark, sf_dir, partial(ivf_topk, nlist=16, nprobe=4, k=5)
    )


# --------------------------------------------------------------------------
# Planted-probe recall witnesses (shared by the four *_recall gates)
# --------------------------------------------------------------------------

# Planted targets live at +1M, probes at +2M — both far above any tier's
# natural vec_id space (sf1 tops out ~50k) and disjoint from each other.
_TARGET_OFFSET = 1_000_000
_PROBE_OFFSET = 2_000_000

_PLANTED_RECALL_ORACLE = """
SELECT vec_id + 2000000 AS query_id,
       vec_id + 1000000 AS neighbor_id,
       CAST(1.0 AS DOUBLE) AS cos_sim,
       CAST(1 AS INTEGER) AS rank
FROM embeddings
WHERE vec_id % 10 = 0
ORDER BY query_id
"""


def _planted_probe_frames(e: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(corpus ∪ planted targets, probes) for the recall gates.

    Every tenth corpus vector spawns a TARGET: the vector plus
    id-keyed pseudo-noise (per-dim ``xxhash64(vec_id, dim)`` uniform in
    ±0.05 — pure JVM ``transform``, no Python), re-keyed to +1M.
    Because the noise is keyed on ``vec_id`` — unique even when vector
    CONTENT is replicated (the sf1 tier is the sf0.1 corpus ×10) —
    every target is a globally unique vector, so its exact-duplicate
    PROBE (+2M) has cosine 1.0 with the target and strictly less with
    everything else: the top-1 answer is deterministic at EVERY tier.
    This replaces the r4 re-keyed-copy design, whose cos=1.0 tie across
    sf1's replicated originals made the family unrunnable there
    (EXPERIMENTS.md r4/r7 artifact note).

    The plant is a pure projection + union — no shuffle beyond what the
    ANN operator itself does; at 100 TB the witness adds 10% corpus
    rows and zero new exchanges."""
    base = e.where(F.col("vec_id") % 10 == 0)
    noise_vec = F.transform(
        F.col("embedding"),
        lambda x, i: (
            x.cast("double")
            + (
                F.pmod(F.xxhash64(F.col("vec_id"), i), F.lit(2001))
                - F.lit(1000)
            ).cast("double")
            / F.lit(20000.0)
        ).cast("float"),
    )
    targets = base.select(
        (F.col("vec_id") + _TARGET_OFFSET).alias("vec_id"),
        noise_vec.alias("embedding"),
        F.col("label"),
    )
    corpus = e.unionByName(targets)
    probes = targets.select(
        (F.col("vec_id") + (_PROBE_OFFSET - _TARGET_OFFSET)).alias("vec_id"),
        "embedding",
    )
    return corpus, probes


def _planted_probe_topk(spark: SparkSession, sf_dir: str, ann) -> DataFrame:
    """Planted-probe driver shared by the ``similarity_*_recall``
    gates: ``ann(probes, corpus)`` over :func:`_planted_probe_frames`,
    cos_sim rounded to 4 places, ordered by query_id."""
    corpus, probes = _planted_probe_frames(table(spark, sf_dir, "embeddings"))
    return _rounded_topk(ann(probes, corpus)).orderBy("query_id")


@register(
    "similarity_lsh_recall",
    ids="similarity: LSH ANN planted-probe retrieval (deterministic full oracle, all tiers)",
    oracle=_PLANTED_RECALL_ORACLE,
)
def similarity_lsh_recall_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The value-checkable slice of hyperplane-LSH ANN: unique planted
    targets (see ``_planted_probe_frames``) are queried by their exact
    duplicates, and an identical vector shares every sign bit, so it
    collides with its target in EVERY table — recall 1 by construction,
    not by probability — while cosine 1.0 is the unique maximum because
    the id-keyed plant is globally unique even in a content-replicated
    corpus.  The whole pipeline — signature computation, multi-table
    bucket join, candidate dedup, Arrow-batched rescore, ranked window —
    gets a DuckDB value hash at all four tiers, complementing
    ``similarity_lsh``'s probabilistic audit gate."""
    ann = partial(lsh_bucketed_topk, planes=_LSH_PLANES, tables=8, k=1)
    return _planted_probe_topk(spark, sf_dir, ann)


@register(
    "similarity_ivf_recall",
    ids="similarity: IVF ANN planted-probe retrieval (deterministic full oracle, all tiers)",
    oracle=_PLANTED_RECALL_ORACLE,
)
def similarity_ivf_recall_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF twin of ``similarity_lsh_recall``: an identical vector maps
    to the same nearest centroid as its planted target (the
    content-keyed quantizer is deterministic), so the target's cell is
    always probed and planted-probe recall is 1 regardless of nprobe,
    with the unique-plant construction making the top-1 value
    deterministic at every tier.  Pins the KMeans assignment,
    inverted-file probe, candidate rescore, and ranking with a full
    value hash."""
    return _planted_probe_topk(
        spark, sf_dir, partial(ivf_topk, nlist=16, nprobe=4, k=1)
    )


@register(
    "similarity_imi",
    ids="similarity: inverted multi-index ANN (two half-space codebooks, "
    "ksub² joint cells) — recall-audit gate (full value oracle)",
    oracle=_ANN_AUDIT_ORACLE,
)
def similarity_imi_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-MULTI-INDEX approximate top-5 (Babenko & Lempitsky
    2012): two codebooks of 16 centroids (32 centroid rows total) over
    the two vector halves span 256 joint cells — the scale path PAST
    the flat-IVF ``_MAX_CELLS`` cap (cells grow multiplicatively while
    codebooks and per-vector assignment cost stay constant; at
    ksub=65k the index spans 4.3B cells, enough for ~1T vectors at
    expected-256 lists).  Queries probe the 64 best joint cells in
    ascending sum-of-half-distances order (the paper's multi-sequence
    traversal — r14, replacing the cartesian grid that wasted probes
    on near×far pairs), exact cosine rescore on candidates — same
    audit design and the same 0.4 recall floor as the rest of the ANN
    family.  r15: ksub 8 → 16 with nprobe 4 → 8 holds the probe
    FRACTION at 25% (64/256 vs the old 16/64) while the finer cells
    lift measured recall@5 from 0.80/0.72/0.51 to a flat
    0.80/0.80/0.80 across the tiers — the multiplicative-cell
    granularity win the IMI design exists for."""
    return _ann_audit(
        spark, sf_dir, partial(imi_topk, ksub=16, nprobe=8, k=5, opq=True)
    )


@register(
    "similarity_imi_recall",
    ids="similarity: inverted multi-index ANN planted-probe retrieval "
    "(deterministic full oracle, all tiers)",
    oracle=_PLANTED_RECALL_ORACLE,
)
def similarity_imi_recall_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IMI twin of ``similarity_ivf_recall``: an identical vector
    yields identical half-distances and hence the same per-half argmin
    cells as its planted target, so the target's JOINT cell is always
    among the probe's ``nprobe²`` cells and planted-probe recall is 1
    by construction — pinning codebook training, per-half assignment,
    the joint-cell probe join, candidate rescore, and ranking with a
    full value hash at every tier."""
    return _planted_probe_topk(
        spark, sf_dir, partial(imi_topk, ksub=16, nprobe=2, k=1, opq=True)
    )


@register(
    "array_funcs_census",
    ids="§2.6 array family: higher-order functions over embedding arrays (transform/aggregate/exists/filter)",
    oracle="""
SELECT label,
       CAST(count(*) AS BIGINT) AS n_vecs,
       CAST(min(len(embedding)) AS INTEGER) AS dim_min,
       CAST(max(len(embedding)) AS INTEGER) AS dim_max,
       round(avg(CAST(list_max(embedding) AS DOUBLE)), 4) AS mean_max_elem,
       round(avg(CAST(list_min(embedding) AS DOUBLE)), 4) AS mean_min_elem,
       round(avg(CAST(embedding[1] AS DOUBLE)), 4) AS mean_first_elem,
       CAST(sum(CASE WHEN len(list_filter(embedding, x -> x > 1.5)) > 0
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_with_spike,
       CAST(sum(len(list_filter(embedding, x -> x < 0)) ) AS BIGINT)
           AS n_negative_elems
FROM embeddings
GROUP BY label
ORDER BY label
""",
)
def array_funcs_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array-function census over the embedding column —
    the §2.6 family the reference never needs (pandas has no array
    column) but any vector-bearing corpus does: ``array_max/min``,
    element extraction, ``exists`` (any element above a spike
    threshold), and ``filter``+``size`` (per-vector negative-element
    count), rolled up per label.

    Every array op here evaluates INSIDE whole-stage codegen as a pure
    projection — no explode, no shuffle of unrolled elements (64×
    row-count rows at 100 TB); the only exchange is the ~|labels|-group
    rollup.  Comparisons use exact float predicates and extractions
    (element_at is Spark's 1-based twin of DuckDB's ``embedding[1]``),
    so only the averaged extrema carry the corpus float-rounding."""
    e = table(spark, sf_dir, "embeddings")
    v = F.col("embedding")
    return (
        e.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.min(F.size(v)).alias("dim_min"),
            F.max(F.size(v)).alias("dim_max"),
            F.round(F.avg(F.array_max(v).cast("double")), 4).alias(
                "mean_max_elem"
            ),
            F.round(F.avg(F.array_min(v).cast("double")), 4).alias(
                "mean_min_elem"
            ),
            F.round(F.avg(F.element_at(v, 1).cast("double")), 4).alias(
                "mean_first_elem"
            ),
            F.sum(
                F.exists(v, lambda x: x > 1.5).cast("long")
            ).alias("n_with_spike"),
            F.sum(
                F.size(F.filter(v, lambda x: x < 0)).cast("long")
            ).alias("n_negative_elems"),
        )
        .orderBy("label")
    )


@register(
    "similarity_pq",
    ids="similarity: product-quantization ANN (8-byte codes, ADC scan) — recall-audit gate (full value oracle)",
    oracle=_ANN_AUDIT_ORACLE,
)
def similarity_pq_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ approximate top-5 over the shared deterministic query sample,
    audited in-query against the brute-force baseline — same gate
    design as ``similarity_lsh``.  OPQ rotation on (r14): the learned
    orthogonal pre-rotation lifted measured recall@5 from 0.72/0.72/
    0.56 to 0.88/0.84/0.64 across the three SFs at the identical
    8×4-bit code budget; the r15 candidate-pool widening (64 → 256
    exact-rescore candidates — the knob the r14 verdict ranked, cost
    bounded by |queries|·candidates, corpus-independent) lifted it
    again to 1.00/1.00/0.88 (EXPERIMENTS.md).  Exercises rotation +
    codebook training, encoding, the ADC candidate scan, and the exact
    rescore under a full value hash."""
    ann = partial(pq_topk, m=8, ksub=16, k=5, opq=True, candidates=256)
    return _ann_audit(spark, sf_dir, ann)


@register(
    "similarity_pq_recall",
    ids="similarity: PQ ANN planted-probe retrieval (deterministic full oracle, all tiers)",
    oracle=_PLANTED_RECALL_ORACLE,
)
def similarity_pq_recall_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ twin of the LSH/IVF recall queries: the probe is an exact
    duplicate of its planted target, so it attains the per-subspace
    minimum of every ADC table term — its approximate distance is the
    global lower bound and it survives every candidate cut
    deterministically (only same-code vectors can tie, and the
    256-deep cut — the audit query's r15 pool — keeps all of them),
    after which the exact rescore ranks the globally unique target
    first.  Pins codebook training, encoding, the ADC scan, candidate
    cuts, and rescore under a full value hash.  OPQ on (r14): the
    rotation applies identically to probe and target, so the duplicate
    still attains every per-subspace minimum — the guarantee is
    rotation-invariant."""
    ann = partial(pq_topk, m=8, ksub=16, k=1, opq=True, candidates=256)
    return _planted_probe_topk(spark, sf_dir, ann)


@register(
    "similarity_ivfpq",
    ids="similarity: combined IVF-PQ ANN (coarse cells + residual PQ codes, per-cell ADC) — recall-audit gate (full value oracle)",
    oracle=_ANN_AUDIT_ORACLE,
)
def similarity_ivfpq_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ approximate top-5 over the shared deterministic query
    sample, audited in-query against the brute-force baseline — same
    gate design as ``similarity_lsh``/``similarity_ivf``/
    ``similarity_pq``.  This is the FAISS ``IndexIVFPQ`` composition
    (coarse-cell pruning × residual-PQ byte compression) that
    billion-scale deployments actually run; exercising it end-to-end
    under the recall floor + independent codegen rescore check closes
    the ANN family.  ksub=64 (6-bit codes, 48 bits/vector) with a
    256-deep candidate cut measured recall@5 0.52–0.76 across the three
    SFs — the coarser ksub=16 fell to 0.36 at sf0.1 because the ADC
    noise floor with 4-bit codes swamps the top-64 cut once cells hold
    hundreds of vectors.  r15: nprobe 4 → 6 and candidates 256 → 512
    lifted recall@5 to 0.84/0.80/0.73 (measured, all tiers); nlist=32
    at np=8 was tried and REJECTED — it pinned sf0.001 to the exact
    0.40 floor (500 vectors over 32 cells over-partitions the small
    tier).  The 6/16 probe fraction is a small-fixture artifact: at
    production nlist (thousands of cells) nprobe stays a few dozen and
    the scan fraction falls, not rises."""
    ann = partial(
        ivfpq_topk, nlist=16, nprobe=6, m=8, ksub=64, k=5, candidates=512
    )
    return _ann_audit(spark, sf_dir, ann)


@register(
    "similarity_ivfpq_recall",
    ids="similarity: IVF-PQ ANN planted-probe retrieval (deterministic full oracle, all tiers)",
    oracle=_PLANTED_RECALL_ORACLE,
)
def similarity_ivfpq_recall_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ twin of the LSH/IVF/PQ recall queries: the planted target
    is assigned to the probe's first probed cell (same argmax over the
    same content-keyed centroids), where its residual equals the
    probe's residual, so its ADC table sum is the strict per-term lower
    bound over that cell — it survives the candidate cuts and the exact
    rescore ranks the globally unique target first (see
    ``operators.similarity.ivfpq_topk``).  Pins coarse training, cell
    assignment, residual PQ encoding, the per-cell ADC scan, candidate
    cuts, and rescore under a full value hash at every tier."""
    ann = partial(
        ivfpq_topk, nlist=16, nprobe=6, m=8, ksub=64, k=1, candidates=512
    )
    return _planted_probe_topk(spark, sf_dir, ann)


@register(
    "hybrid_rrf_rank",
    ids="retrieval: hybrid lexical+vector search — BM25 and cosine legs fused by reciprocal-rank fusion (RRF, k=60)",
    oracle=f"""
WITH t AS (
    SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents
), base AS (
    SELECT doc_id, len(toks) AS dl FROM t
), st AS (
    SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM base
), tk AS (
    SELECT doc_id, unnest(toks) AS term FROM t
), tf AS (
    SELECT tk.doc_id, term, count(*) AS tf, max(base.dl) AS dl
    FROM tk JOIN base USING (doc_id)
    WHERE term IN ('spark', 'hash', 'merge')
    GROUP BY tk.doc_id, term
), dfreq AS (
    SELECT term, count(*) AS df FROM tf GROUP BY term
), lexscore AS (
    SELECT doc_id,
           round(sum(
               ln(1 + (n_docs - df + 0.5) / (df + 0.5))
               * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
           ), 4) AS bm25
    FROM tf JOIN dfreq USING (term) CROSS JOIN st
    GROUP BY doc_id
), lex AS (
    SELECT doc_id, CAST(rn AS INT) AS lex_rank FROM (
        SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rn
        FROM lexscore)
    WHERE rn <= 50
), qv AS (
    SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id = 0
), vecscore AS (
    SELECT vec_id AS doc_id,
           list_cosine_similarity(CAST(embedding AS DOUBLE[]), qv.v) AS cos
    FROM embeddings, qv WHERE vec_id <> 0
), vec AS (
    SELECT doc_id, CAST(rn AS INT) AS vec_rank FROM (
        SELECT doc_id, row_number() OVER (ORDER BY cos DESC, doc_id) AS rn
        FROM vecscore)
    WHERE rn <= 50
), fused AS (
    SELECT COALESCE(lex.doc_id, vec.doc_id) AS doc_id,
           lex.lex_rank AS lex_rank, vec.vec_rank AS vec_rank,
           round(COALESCE(1.0 / (60 + lex.lex_rank), 0.0)
                 + COALESCE(1.0 / (60 + vec.vec_rank), 0.0), 6) AS rrf
    FROM lex FULL OUTER JOIN vec ON lex.doc_id = vec.doc_id
)
SELECT doc_id, lex_rank, vec_rank, rrf, CAST(rn AS INT) AS rank
FROM (
    SELECT *, row_number() OVER (ORDER BY rrf DESC, doc_id) AS rn FROM fused
)
WHERE rn <= 20
ORDER BY rank
""",
)
def hybrid_rrf_rank_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval, the RAG-era front door: the top-50 lexical leg
    (Okapi BM25 for the fixed query ``spark hash merge`` — see
    ``operators.text.bm25_topk``) and the top-50 dense leg (exact
    cosine against doc 0's embedding, ``vec_id`` aligned with
    ``doc_id`` in the testdata) are fused by reciprocal-rank fusion
    (Cormack et al. 2009): ``score(d) = Σ_leg 1/(60 + rank_leg(d))``,
    missing legs contribute 0.  RRF needs no score calibration between
    BM25 and cosine — only ranks cross the fusion, which is why it is
    the default hybrid combiner in production search engines.

    Engine portability: both legs rank deterministically (BM25 rounds
    to 4 decimals before ranking, doc_id tiebreaks everywhere), the RRF
    sum is two exact rationals of small integers evaluated in float64
    identically on both engines, and the fused top-20 re-ranks with a
    doc_id tiebreak.

    Scale shape: each leg is its own bounded pipeline (map-side posting
    filter + broadcast stats for BM25, broadcast-query matmul scan for
    the dense leg); the fusion joins two ≤50-row frames — at 100 TB the
    legs dominate and the fusion is free."""
    d = table(spark, sf_dir, "documents")
    e = table(spark, sf_dir, "embeddings")
    lex = bm25_topk(d, ["spark", "hash", "merge"], k=50).select(
        "doc_id", F.col("rank").alias("lex_rank")
    )
    qv = e.where(F.col("vec_id") == 0)
    vec = brute_force_topk(qv, e, k=50).select(
        F.col("neighbor_id").alias("doc_id"),
        F.col("rank").alias("vec_rank"),
    )
    fused = lex.join(vec, "doc_id", "full_outer").select(
        "doc_id",
        "lex_rank",
        "vec_rank",
        F.round(
            F.coalesce(
                F.lit(1.0) / (F.lit(60) + F.col("lex_rank")), F.lit(0.0)
            )
            + F.coalesce(
                F.lit(1.0) / (F.lit(60) + F.col("vec_rank")), F.lit(0.0)
            ),
            6,
        ).alias("rrf"),
    )
    top = fused.orderBy(F.desc("rrf"), "doc_id").limit(20)
    w = Window.orderBy(F.desc("rrf"), "doc_id")
    return top.withColumn(
        "rank", F.row_number().over(w).cast("int")
    ).orderBy("rank")


@register(
    "filtered_ann_topk",
    ids="retrieval: metadata-filtered vector search (label predicate pushed to the scan, then exact top-k)",
    oracle="""
WITH q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id % 100 = 0
), c AS (
  SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
  FROM embeddings WHERE label = 3
), s AS (
  SELECT query_id, neighbor_id,
         list_cosine_similarity(qv, cv) AS cos
  FROM c, q
  WHERE query_id <> neighbor_id
)
SELECT query_id, neighbor_id, round(cos, 4) AS cos_sim,
       CAST(rn AS INT) AS rank
FROM (
  SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rn
  FROM s
)
WHERE rn <= 5
""",
)
def filtered_ann_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-filtered vector search — the production shape behind
    "nearest neighbors WHERE label = 3" (tenant, language, or license
    filters on a vector index).  This is PRE-filter semantics: the
    predicate restricts the corpus BEFORE the similarity scan, so top-k
    is exact over the eligible set (post-filtering an unfiltered ANN
    result can starve a query whose neighbors all fail the predicate —
    the classic filtered-search bug).  The plan pin asserts the label
    predicate reaches the parquet scan: at 100 TB a label-partitioned
    corpus turns it into partition pruning and the scan never reads
    ineligible row groups."""
    e = table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") % 100 == 0)
    return _rounded_topk(
        brute_force_topk(q, e.where(F.col("label") == 3), k=5)
    )


@register(
    "mmr_rerank",
    ids="retrieval: maximal-marginal-relevance diversification re-rank (greedy λ·rel − μ·redundancy) — iterative algorithm under a recursive-CTE value oracle",
    oracle="""
WITH RECURSIVE q AS (
  SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0
), scored AS (
  SELECT vec_id AS id,
         round(list_cosine_similarity(CAST(embedding AS DOUBLE[]), qv), 6)
             AS simq
  FROM embeddings, q WHERE vec_id <> 0
), cand AS (
  SELECT id, simq FROM (
    SELECT *, row_number() OVER (ORDER BY simq DESC, id) AS rn FROM scored
  ) WHERE rn <= 20
), pair AS (
  SELECT a.id AS ia, b.id AS ib,
         round(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
                                      CAST(eb.embedding AS DOUBLE[])), 6)
             AS sim
  FROM cand a JOIN cand b ON a.id <> b.id
  JOIN embeddings ea ON ea.vec_id = a.id
  JOIN embeddings eb ON eb.vec_id = b.id
), pick(step, id, mmr_score, sel) AS (
  SELECT 1, t.id, t.s, [t.id] FROM (
    SELECT id, round(0.7 * simq, 6) AS s FROM cand
    ORDER BY round(0.7 * simq, 6) DESC, id LIMIT 1
  ) t
  UNION ALL
  SELECT p.step + 1, nxt.id, nxt.s, list_append(p.sel, nxt.id)
  FROM pick p, LATERAL (
    SELECT c.id,
           round(0.7 * c.simq - 0.3 * (
              SELECT max(sim) FROM pair
              WHERE ia = c.id AND list_contains(p.sel, ib)), 6) AS s
    FROM cand c WHERE NOT list_contains(p.sel, c.id)
    ORDER BY s DESC, c.id LIMIT 1
  ) nxt
  WHERE p.step < 10
)
SELECT id AS vec_id, mmr_score, CAST(step AS INT) AS pick
FROM pick ORDER BY pick
""",
)
def mmr_rerank_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversification over the top-20 cosine pool for query
    vector 0: greedily select 10 results maximizing
    ``0.7·sim(q,d) − 0.3·max_{s∈selected} sim(d,s)`` — the re-rank a
    retrieval stack runs between ANN and a context window so
    near-duplicate hits don't crowd out coverage.

    The iterative-algorithm class usually gets a rows-only check; here
    the DuckDB twin replays the greedy loop EXACTLY with a recursive
    CTE (the selected set rides a list column, each step's argmax is a
    LATERAL order-by-limit-1), so the pick sequence, scores, and order
    all hash.  Portability: every similarity is rounded to 6 decimals
    before entering the recursion, each MMR score re-rounds with SQL
    half-away rounding on both engines (see ``mmr_select``), weights
    0.7/0.3 parse from identical decimal text, ids break all ties.

    Scale shape: candidate gen is the broadcast-query matmul scan;
    pairwise sims are a ≤20²-row join; the sequential greedy runs in
    ONE Arrow batch per query via ``cogroup().applyInPandas`` —
    distributed across queries, bounded per query, never a driver
    loop."""
    e = table(spark, sf_dir, "embeddings")
    qv = e.where(F.col("vec_id") == 0).select(
        F.lit(0).cast("long").alias("query_id"),
        F.col("embedding").alias("qvec"),
    )
    c = e.where(F.col("vec_id") != 0).select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("cvec")
    )
    scored = cosine_score_pairs(
        c.crossJoin(F.broadcast(qv)), "qvec", "cvec", ["query_id", "id"],
        score_col="simq",
    ).withColumn("simq", F.round("simq", 6))
    w = Window.partitionBy("query_id").orderBy(F.desc("simq"), F.asc("id"))
    cand = (
        scored.withColumn("_r", F.row_number().over(w))
        .where(F.col("_r") <= 20)
        .drop("_r")
    )
    va = e.select(F.col("vec_id").alias("ia"), F.col("embedding").alias("va"))
    vb = e.select(F.col("vec_id").alias("ib"), F.col("embedding").alias("vb"))
    pool_a = cand.select("query_id", F.col("id").alias("ia")).join(
        va, "ia"
    )
    pool_b = cand.select("query_id", F.col("id").alias("ib")).join(
        vb, "ib"
    )
    pairs = cosine_score_pairs(
        pool_a.join(pool_b, "query_id").where(F.col("ia") != F.col("ib")),
        "va", "vb", ["query_id", "ia", "ib"], score_col="sim",
    ).withColumn("sim", F.round("sim", 6))
    sel = mmr_select(
        cand.select("query_id", "id", "simq"), pairs,
        k_select=10, lam=0.7, mu=0.3,
    )
    return sel.select(
        F.col("id").alias("vec_id"), "mmr_score", "pick"
    ).orderBy("pick")
