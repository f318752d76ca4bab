"""M2 — class rebalancing (SURVEY.md §2.10).

Reference (``src/train.py:70-71``): ``SMOTE(random_state=42)
.fit_resample`` — synthesize minority rows by interpolating toward
k-NN neighbors until classes balance.  Three fidelity/cost tiers, per
SURVEY.md M2's staged plan:

(a) :func:`oversample_minority` — duplicate minority rows by sampling
    with replacement (cheapest; distributionally equivalent for tree
    models).
(b) :func:`class_weights` — a ``weightCol`` for classifiers that
    support it (all four reference models do in MLlib); zero data
    growth, the 100 TB-preferred option.
(c) :func:`smote` — true distributed SMOTE: per-class k-NN via
    BucketedRandomProjectionLSH ``approxSimilarityJoin`` (the scalable
    neighbor search), interpolation as a JVM vector expression.
    Seed-stable: neighbor choice and λ derive from ``xxhash64`` of the
    pair ids, not an RNG.
"""

from __future__ import annotations

from pyspark.ml.feature import BucketedRandomProjectionLSH
from pyspark.ml.functions import array_to_vector, vector_to_array
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


# Seed of the SMOTE neighbour search and of its hash-derived choices.
_SEED = 42


def _sampled_knn_radius(pts, k: int) -> float:
    """95th-percentile k-th-NN Euclidean distance within a (small) point
    sample — the finite ``approxSimilarityJoin`` radius for
    :func:`smote`.  Returns +inf when the sample is too small for a
    k-NN estimate (candidate pairs are then trivially bounded)."""
    import numpy as np

    pts = np.asarray(pts, dtype=np.float64)
    if len(pts) <= k + 1:
        return float("inf")
    d2 = ((pts[:, None, :] - pts[None, :, :]) ** 2).sum(axis=2)
    kth = np.sqrt(np.partition(d2, k, axis=1)[:, k])  # k-th NN (self=0th)
    return float(np.quantile(kth, 0.95)) or 1.0


def _class_counts(df: DataFrame, label_col: str) -> dict:
    return {
        r[label_col]: r["n"]
        for r in df.groupBy(label_col).agg(F.count(F.lit(1)).alias("n")).collect()
    }


def oversample_minority(
    df: DataFrame, label_col: str = "label", seed: int = 42
) -> DataFrame:
    """(a) Random oversampling to balance: minority classes are sampled
    with replacement at rate (majority/n_c - 1) and unioned back.
    Executor-local sampling — no shuffle."""
    counts = _class_counts(df, label_col)
    majority = max(counts.values())
    out = df
    for cls, n in counts.items():
        extra = majority / n - 1.0
        if extra <= 0:
            continue
        boost = df.where(F.col(label_col) == cls).sample(
            withReplacement=True, fraction=float(extra), seed=seed
        )
        out = out.unionByName(boost)
    return out


def class_weights(df: DataFrame, label_col: str = "label") -> DataFrame:
    """(b) Balanced instance weights in ``weight``: w_c = n_total / (k · n_c)
    (sklearn's ``class_weight='balanced'`` formula).  The weight map is
    broadcast via a literal CASE — no join, no shuffle."""
    counts = _class_counts(df, label_col)
    total, k = sum(counts.values()), len(counts)
    expr = F.lit(1.0)
    for cls, n in counts.items():
        expr = F.when(F.col(label_col) == cls, F.lit(total / (k * n))).otherwise(expr)
    return df.withColumn("weight", expr)


def smote(df: DataFrame, minority_class=None, k: int = 5) -> DataFrame:
    """(c) Distributed SMOTE over ``features`` (a vector column) and
    ``label``, seeded with ``_SEED``.

    Synthesizes ``majority - minority`` rows for the minority class:

    1. approx k-NN within the minority class via
       BucketedRandomProjectionLSH self-join (LSH buckets shuffle only
       minority rows — never the majority).  The join radius is FINITE,
       estimated from a bounded sample (≤ ``radius_sample`` rows): the
       95th percentile of sampled k-th-NN distances.  An infinite radius
       would keep every LSH bucket collision, degrading toward quadratic
       pairs inside hot buckets at large minority sizes; the sampled
       radius bounds candidate pairs while the sample's sparsity makes
       the estimate conservative (sample k-NN distances upper-bound
       full-data ones).
    2. per base row keep the k nearest (window on distance),
    3. pick a neighbor and an interpolation λ ∈ (0,1) deterministically
       from ``xxhash64(base_id, neighbor_id, replica)`` — seed-stable
       without any RNG state on executors,
    4. synthetic vector = base + λ·(neighbor − base) as a
       ``zip_with`` array expression (JVM-side).

    Output: input rows + synthetic minority rows (same schema:
    features + label only for synthetic rows' other columns =
    NULL-free subset — callers select the needed columns first).  If the
    finite radius leaves some isolated base rows with zero neighbors and
    the interpolated pool comes up short, the remainder is topped up by
    deterministic duplication of minority rows so the class balance is
    still exact.
    """
    counts = _class_counts(df, "label")
    if minority_class is None:
        minority_class = min(counts, key=counts.get)
    n_min = counts[minority_class]
    n_need = max(counts.values()) - n_min
    if n_need <= 0:
        return df

    base_cols = ["features", "label"]
    minority = (
        df.where(F.col("label") == minority_class)
        .select(*base_cols)
        .withColumn("__id", F.monotonically_increasing_id())
    )

    lsh = BucketedRandomProjectionLSH(
        inputCol="features",
        outputCol="__hashes",
        bucketLength=2.0,
        numHashTables=3,
        seed=_SEED,
    )
    model = lsh.fit(minority)

    # Finite join radius from a bounded sample: collect ≤ radius_sample
    # minority vectors (deterministic hash order) and take the 95th
    # percentile of each sampled point's k-th-NN distance within the
    # sample.  Sample sparsity upper-bounds the true k-NN distance, so
    # the radius is generous without being infinite.
    radius_sample = 500
    sampled = (
        minority.select(vector_to_array("features").alias("__arr"), "__id")
        .orderBy(F.xxhash64("__id", F.lit(_SEED)))
        .limit(radius_sample)
        .collect()
    )
    radius = _sampled_knn_radius([r["__arr"] for r in sampled], k)

    pairs = model.approxSimilarityJoin(
        minority, minority, radius, distCol="__dist"
    ).where(F.col("datasetA.__id") != F.col("datasetB.__id"))

    w = Window.partitionBy("datasetA.__id").orderBy(
        F.asc("__dist"), F.asc("datasetB.__id")
    )
    knn = (
        pairs.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .withColumn("__cnt", F.count(F.lit(1)).over(Window.partitionBy("datasetA.__id")))
        .select(
            F.col("datasetA.__id").alias("base_id"),
            F.col("datasetA.features").alias("base_vec"),
            F.col("datasetB.__id").alias("nbr_id"),
            F.col("datasetB.features").alias("nbr_vec"),
            "__rn",
            "__cnt",
        )
    )

    # Replicate each base row ceil(n_need/n_min) times, then keep n_need.
    # Neighbor choice is modulo the base row's ACTUAL neighbor count (≤ k)
    # so bases with fewer-than-k in-radius neighbors still contribute.
    reps = -(-n_need // n_min)
    replicas = knn.sparkSession.range(reps).withColumnRenamed("id", "__rep")
    replicated = knn.crossJoin(F.broadcast(replicas))
    h = F.xxhash64("base_id", "nbr_id", "__rep", F.lit(_SEED))
    chosen = replicated.where(
        F.pmod(F.xxhash64("base_id", "__rep", F.lit(_SEED)), F.col("__cnt"))
        == F.col("__rn") - 1
    )
    lam = (F.pmod(h, F.lit(10_000)) + 0.5) / 10_000.0
    base_arr = vector_to_array("base_vec")
    nbr_arr = vector_to_array("nbr_vec")
    synth_vec = array_to_vector(
        F.zip_with(base_arr, nbr_arr, lambda b, n: b + lam * (n - b))
    )
    synthetic = (
        chosen.select(
            synth_vec.alias("features"),
            F.lit(minority_class).alias("label"),
        )
        .limit(n_need)
    )
    # Exact-balance guarantee: isolated bases (zero in-radius neighbors)
    # can leave the interpolated pool short — top up with deterministic
    # duplicates of minority rows.  `synthetic` is localCheckpointed
    # (eager) before the count so the LSH self-join pipeline is computed
    # exactly once; unlike `.persist()` the blocks are released by the
    # ContextCleaner as soon as the frame becomes unreachable, so
    # repeated smote() calls don't accumulate cached blocks for the
    # session lifetime.
    synthetic = synthetic.localCheckpoint(eager=True)
    n_synth = synthetic.count()
    out = df.select(*base_cols).unionByName(synthetic)
    if n_synth < n_need:
        short = n_need - n_synth
        # Full duplicate passes as ONE crossJoin against a broadcast
        # range (mirroring the `replicas` pattern above) — a Python
        # while-loop of unionByName would create O(short/n_min) plan
        # nodes and risk Catalyst analysis blowup when the pool is badly
        # short relative to a small minority class.
        passes = (short - 1) // n_min
        rem = short - passes * n_min  # final partial pass, in [1, n_min]
        if passes:
            pass_ids = minority.sparkSession.range(passes).withColumnRenamed(
                "id", "__pass"
            )
            full_passes = (
                minority.select(*base_cols)
                .crossJoin(F.broadcast(pass_ids))
                .select(*base_cols)
            )
            out = out.unionByName(full_passes)
        topup = (
            minority.select(*base_cols)
            .orderBy(F.xxhash64("__id", F.lit(_SEED + 1)))
            .limit(rem)
        )
        out = out.unionByName(topup)
    return out
