"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup.

The reference's only dedup is full-row ``drop_duplicates`` (nb cells 5/7,
SURVEY.md U3).  This module adds the near-dup family a training-data
pipeline needs, each designed around its 100 TB shuffle profile:

- exact: hash-groupBy on a content digest — one shuffle of (digest, id),
  never of the documents themselves.
- MinHash+LSH: per-doc signature (projection, no shuffle) → band keys →
  self-join on band key (shuffle of small keys) → exact-Jaccard rescore
  of candidates only.  The candidate join is the only quadratic-risk
  step and LSH bounds it to colliding bands.
- SimHash: 64-bit signature, near-dup = small Hamming distance; bucket
  on bit-prefix to avoid the all-pairs join.
- embedding cosine: exact brute-force for small candidate sets; the LSH
  bucketed variant lives in ``operators.similarity``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from big_data_lab_three_spark.functions.text import shingles, tokens
from big_data_lab_three_spark.operators.iterate import Rounds

# Every document operator reads the ``documents`` table's columns and
# shingles on word 3-grams.
_TEXT_COL = "text"
_ID_COL = "doc_id"
_SHINGLE_K = 3


def exact_dedup(df: DataFrame) -> DataFrame:
    """Exact dedup via content-digest groupBy: returns one row per
    distinct content with the smallest id kept and the duplicate count.

    Grouping on ``md5(text)`` instead of the raw text keeps shuffle rows
    at 16 bytes + id regardless of document size — the difference between
    shuffling 100 TB of text and ~2 TB of digests.
    """
    return (
        df.groupBy(F.md5(F.encode(F.col(_TEXT_COL), "UTF-8")).alias("content_md5"))
        .agg(
            F.min(_ID_COL).alias("kept_id"),
            F.count(F.lit(1)).alias("copies"),
        )
    )


def minhash_lsh_pairs(
    df: DataFrame,
    num_perms: int = 32,
    bands: int = 16,
    jaccard_threshold: float = 0.7,
    candidate_filter: Column | None = None,
) -> DataFrame:
    """MinHash+LSH near-duplicate pairs with exact-Jaccard rescoring.

    Pipeline: distinct shingle sets (ONE tokenize+shingle pass — r16:
    signatures now derive from the persisted sets the rescore already
    needed, instead of re-tokenizing the corpus; ``min`` is idempotent
    so distinct shingles produce bit-identical signatures) → signature
    → explode ``bands`` band-hash keys → self-join on (band, band_hash)
    → distinct candidate pairs → exact shingle-set Jaccard filter ≥
    threshold.

    ``candidate_filter`` (optional, a predicate over ``id_a``/``id_b``)
    prunes candidate pairs BEFORE the rescore joins — for callers that
    only consume a subset of pairs (e.g. ``dedup_incremental``'s
    cross-side gate), filtering early keeps the rescore's id-equi-joins
    from fetching shingle sets for pairs that would be discarded anyway
    (guide §2.3: shuffle fewer bytes).  Semantically identical to
    filtering the returned frame when the filter is a pure function of
    the pair ids.

    With r = num_perms/bands rows per band, a pair with Jaccard j
    collides in ≥1 band w.p. 1-(1-j^r)^bands — at the defaults (r=4,
    b=16) j=0.9 is caught w.p. >0.999999 and j=0.2 only ~2.5% (then
    discarded by the exact rescore), so the output equals the exact
    all-pairs answer for thresholds ≥ ~0.5 with near-certainty while the
    join only ever touches colliding buckets.
    """
    rows = num_perms // bands
    # Shingle sets: computed once, persisted, and feeding BOTH the
    # signature pipeline and the rescore joins (it previously ran as
    # two independent tokenize+shingle passes over the corpus).
    sets = df.select(
        F.col(_ID_COL).alias("id"),
        F.array_distinct(
            shingles(tokens(F.col(_TEXT_COL)), _SHINGLE_K)
        ).alias("sh"),
    ).where(F.size("sh") > 0).persist()
    hashed = sets.select(
        "id", F.explode("sh").alias("t")
    ).select("id", F.xxhash64("t").alias("h"))
    g = hashed.groupBy("id").agg(
        *[
            F.min(F.xxhash64(F.col("h"), F.lit(i))).alias(f"_m{i}")
            for i in range(num_perms)
        ]
    )
    sig = g.select(
        "id", F.array(*[f"_m{i}" for i in range(num_perms)]).alias("sig")
    )

    # Band table carries ONLY (id, band, bucket) — three longs per row.
    # Keeping the shingle arrays out of the band explode means the
    # candidate self-join shuffles 24-byte keys instead of `bands`
    # replicated copies of every document's shingle set.
    banded = sig.select(
        "id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.xxhash64(
                        F.concat_ws(
                            ",", F.slice("sig", b * rows + 1, rows)
                        )
                    ).alias("bucket"),
                ),
            )
        ).alias("bk"),
    ).select("id", "bk.band", "bk.bucket")

    # Materialize the band table once: it feeds BOTH sides of the
    # candidate self-join, and without a persist the whole
    # tokenize→shingle→minhash pipeline runs twice.  At 100 TB this is
    # "write the signature table to storage, then self-join it" — the
    # standard two-job LSH layout; persist() is its single-job form.
    banded = banded.persist()

    left = banded.alias("a")
    right = banded.alias("b")
    candidates = (
        left.join(
            right,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    if candidate_filter is not None:
        candidates = candidates.where(candidate_filter)

    # Rescore: fetch each side's shingle set by id-equi-join (the only
    # joins that touch document-sized payloads, both key→payload
    # lookups, both broadcast-able when the dedup-candidate set is
    # small relative to the corpus).  The persisted `sets` frame above
    # feeds both id-equi-joins.
    scored = (
        candidates.join(
            sets.select(
                F.col("id").alias("id_a"), F.col("sh").alias("sh_a")
            ),
            "id_a",
        )
        .join(
            sets.select(
                F.col("id").alias("id_b"), F.col("sh").alias("sh_b")
            ),
            "id_b",
        )
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return scored.select(
        "id_a",
        "id_b",
        (inter.cast("double") / union).alias("jaccard"),
    ).where(F.col("jaccard") >= jaccard_threshold)


def ngram_jaccard_pairs(df: DataFrame) -> DataFrame:
    """Exact all-pairs n-gram Jaccard (brute force).  Quadratic — the
    CORRECTNESS baseline for :func:`minhash_lsh_pairs`, only ever run on
    samples or within LSH candidate buckets at scale."""
    sets = df.select(
        F.col(_ID_COL).alias("id"),
        F.array_distinct(shingles(tokens(F.col(_TEXT_COL)), _SHINGLE_K)).alias(
            "sh"
        ),
    ).where(F.size("sh") > 0).persist()
    a, b = sets.alias("a"), sets.alias("b")
    inter = F.size(F.array_intersect("a.sh", "b.sh"))
    union = F.size(F.array_union("a.sh", "b.sh"))
    return a.join(b, F.col("a.id") < F.col("b.id")).select(
        F.col("a.id").alias("id_a"),
        F.col("b.id").alias("id_b"),
        (inter.cast("double") / union).alias("jaccard"),
    )


# SimHash width: 60 bits = 15 hex digits of md5, the widest truncation
# that stays positive in a signed 64-bit long on EVERY engine (no
# sign-bit special case).  md5 (not xxhash64) so the whole pipeline —
# shingle hash, bit votes, signature, Hamming — is bit-identical in any
# engine with md5, which is what lets the DuckDB oracle recompute the
# signatures exactly instead of settling for a rows-only check.  md5
# costs more CPU than xxhash64 per shingle; for a pure-Spark deployment
# that never cross-verifies, swap the one hash expression back.
_SIMHASH_BITS = 60
_SIMHASH_MASKS = [1 << b for b in range(_SIMHASH_BITS)]


def simhash_signatures(df: DataFrame, shingle_k: int = 3) -> DataFrame:
    """60-bit SimHash per document as ``(id, sig)``: per bit position,
    sum +1/-1 over shingle hashes by whether the bit is set; positive
    sum → signature bit 1.  Documents with fewer than ``shingle_k``
    tokens produce no row (nothing to fingerprint).

    Map-reduce formulation: explode shingle hashes to 16-byte
    ``(id, hash)`` rows, then ONE hash-aggregate with 60 plain ``sum``
    expressions.  Everything stays in whole-stage codegen; partial
    (map-side) aggregation collapses each document to one 60-counter
    row before the only shuffle, which carries ids + counters — never
    text.  An expression-level fold over array columns (higher-order
    ``aggregate``/``zip_with``) is CodegenFallback in Spark —
    interpreted, boxed — and measured 20ms/row (~20× slower) on the
    sf0.1 corpus."""
    hashed = df.select(
        F.col(_ID_COL).alias("id"),
        F.explode(shingles(tokens(F.col(_TEXT_COL)), shingle_k)).alias("t"),
    ).select(
        "id",
        # engine-portable 60-bit hash: first 15 hex digits of md5
        F.conv(F.substring(F.md5("t"), 1, 15), 16, 10)
        .cast("long")
        .alias("h"),
    )
    counts = hashed.groupBy("id").agg(
        *[
            F.sum(
                F.when(F.col("h").bitwiseAND(F.lit(m)) != 0, 1).otherwise(-1)
            ).alias(f"_b{i}")
            for i, m in enumerate(_SIMHASH_MASKS)
        ]
    )
    sig = F.lit(0).cast("long")
    for i, m in enumerate(_SIMHASH_MASKS):
        # Disjoint positive masks: summing them composes the signature.
        sig = sig + F.when(F.col(f"_b{i}") > 0, F.lit(m).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return counts.select("id", sig.alias("sig"))


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit signatures (popcount of XOR)."""
    return F.bit_count(a.bitwiseXOR(b))


def simhash_bucket_keys(sigs: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Pigeonhole bucket keys for a SimHash signature table — the
    candidate-generation half of :func:`simhash_pairs`, exposed so
    census/audit queries can inspect the bucket structure WITHOUT the
    pair join (the join is the only quadratic-risk step; everything
    here is a projection + explode, linear at any corpus size).

    Input: ``(id, sig)``; output: ``(id, sig, t, k)`` — one row per
    (document, table), where the signature is cut into
    ``max_hamming + 1`` equal segments, table ``t`` keys on a distinct
    combination of all but ``max_hamming`` of them and ``k`` packs those
    segments' bits.  Any pair within Hamming ``max_hamming`` shares
    (t, k) for some t — recall 1 by the pigeonhole argument (Manku et
    al., WWW'07)."""
    from itertools import combinations

    d = max_hamming
    b = d + 1
    if _SIMHASH_BITS % b != 0:
        raise ValueError(f"max_hamming+1 must divide {_SIMHASH_BITS}")
    seg_bits = _SIMHASH_BITS // b
    seg_mask = (1 << seg_bits) - 1

    def combo_key(combo: tuple[int, ...]):
        key = F.lit(0).cast("long")
        for i in combo:
            seg = F.shiftright("sig", i * seg_bits).bitwiseAND(
                F.lit(seg_mask)
            )
            key = F.shiftleft(key, seg_bits) + seg
        return key

    return sigs.select(
        "id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("t"), combo_key(c).alias("k")
                    )
                    for t, c in enumerate(combinations(range(b), b - d))
                ]
            )
        ).alias("tk"),
    ).select("id", "sig", F.col("tk.t").alias("t"), F.col("tk.k").alias("k"))


def portable_minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    num_perms: int = 8,
    shingle_k: int = 3,
) -> DataFrame:
    """Engine-portable MinHash signatures as ``(id, m0..m{P-1})``: the
    permutation-i hash of shingle ``s`` is the 60-bit truncated md5 of
    ``s || '|' || i`` — bit-identical in DuckDB as
    ``('0x' || substr(md5(s || '|' || i), 1, 15))::BIGINT`` — so a SQL
    oracle can recompute signatures LINEARLY (docs × shingles × perms),
    unlike the xxhash64 production path (:func:`minhash_lsh_pairs`)
    whose correctness witness is the quadratic all-pairs Jaccard.

    Same scale shape as the production path: explode to (id, shingle,
    perm) rows, one hash-aggregate with ``num_perms`` conditional mins;
    map-side partial aggregation collapses each document to one
    signature row before the shuffle.  md5-per-(shingle, perm) costs
    ~P× the xxhash64 path — use it for audit/census queries, not the
    hot dedup path."""
    hashed = (
        df.select(
            F.col(id_col).alias("id"),
            F.explode(shingles(tokens(F.col(_TEXT_COL)), shingle_k)).alias(
                "s"
            ),
        )
        .select(
            "id",
            "s",
            F.explode(F.sequence(F.lit(0), F.lit(num_perms - 1))).alias("i"),
        )
        .select(
            "id",
            "i",
            F.conv(
                F.substring(F.md5(F.concat_ws("|", "s", "i")), 1, 15), 16, 10
            )
            .cast("long")
            .alias("h"),
        )
    )
    return hashed.groupBy("id").agg(
        *[
            F.min(F.when(F.col("i") == j, F.col("h"))).alias(f"m{j}")
            for j in range(num_perms)
        ]
    )


def simhash_pairs(df: DataFrame, max_hamming: int = 3) -> DataFrame:
    """SimHash near-dup pairs via multi-segment (pigeonhole) bucketing
    — Manku et al., WWW'07: split the 60-bit signature into
    ``max_hamming + 1`` equal segments and bucket each document once per
    segment, keyed on that segment's bits.  Any pair within Hamming
    ``max_hamming`` differs in at most ``max_hamming`` segments, so it
    agrees exactly on at least one — candidate recall is 1 BY
    CONSTRUCTION (the r2 prefix scheme missed pairs whose differing bits
    fell in the prefix).

    Bucket math: at ``max_hamming = 3`` that is 4 tables keyed on one
    15-bit segment, which keeps keying cost minimal and suits corpora up
    to ~10⁷ docs; at 10⁹ docs a 15-bit key leaves ~30k docs/bucket, and
    keying on combinations of more segments (6 segments → C(6,3)=20
    tables keyed on 30 bits → ~1 doc/bucket) bounds the buckets at the
    price of table count times keying rows.
    Shuffles carry (id, sig, table, key) — never text.
    """
    # Shingle-level (not token-level) simhash: token sets collapse
    # when the corpus shares one vocabulary; shingles are
    # order-sensitive and spread unrelated docs to Hamming ≈ 32.
    sigs = simhash_signatures(df, shingle_k=3)
    # Signature table feeds both sides of the self-join — persist so the
    # explode + 64-sum aggregation runs once, not twice (measured 2x).
    sigs = sigs.persist()
    keyed = simhash_bucket_keys(sigs, max_hamming=max_hamming)
    a, bb = keyed.alias("a"), keyed.alias("b")
    return (
        a.join(
            bb,
            (F.col("a.t") == F.col("b.t"))
            & (F.col("a.k") == F.col("b.k"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            hamming64(F.col("a.sig"), F.col("b.sig")).alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        # a pair may collide in several tables — emit it once
        .dropDuplicates(["id_a", "id_b"])
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.99,
    max_rows: int = 100_000,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs — BRUTE-FORCE BASELINE for
    explicitly-sampled inputs only.  The scale path is
    :func:`embedding_near_dup_pairs_lsh` (bucket join, no driver
    materialization); this one materializes the input to the driver and
    raises if it exceeds ``max_rows``, so a pipeline can never silently
    feed it a full corpus.

    Broadcast-matrix design: the candidate matrix is small BY
    CONSTRUCTION (O(n²) scoring is only ever run on a sample or inside
    an LSH/IVF bucket), so it ships to every worker once as a numpy
    broadcast — kilobytes — and each Arrow batch of the corpus scores
    against it with ONE matmul.  The previous pair-table formulation
    (self-join, then per-pair einsum) shipped both vectors for every
    one of the n²/2 candidate pairs through the exchange and Arrow —
    measured ~330 MB and 7 s where this runs in <1 s on the same
    input.  Only above-threshold (id_a < id_b) pairs re-cross Arrow."""
    import numpy as np
    import pandas as pd  # noqa: F401  (mapInPandas batch type)

    v = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("vec"),
    )
    local = v.limit(max_rows + 1).toPandas()
    if len(local) > max_rows:
        raise ValueError(
            f"brute-force near-dup got > {max_rows} rows; sample the "
            "input or use embedding_near_dup_pairs_lsh"
        )
    id_field = v.schema["id"].dataType
    out_schema = T.StructType(
        [
            T.StructField("id_a", id_field, True),
            T.StructField("id_b", id_field, True),
            T.StructField("cos_sim", T.DoubleType(), True),
        ]
    )
    spark = df.sparkSession
    if len(local) == 0:
        return spark.createDataFrame([], out_schema)

    all_ids = local["id"].to_numpy()
    mat = np.stack(local["vec"].to_numpy()).astype(np.float64)
    norms = np.linalg.norm(mat, axis=1)
    sc = spark.sparkContext
    b_ids, b_mat, b_norms = (
        sc.broadcast(all_ids),
        sc.broadcast(mat),
        sc.broadcast(norms),
    )

    def run(batches):
        for b in batches:
            if len(b) == 0:
                continue
            a_ids = b["id"].to_numpy()
            a_m = np.stack(b["vec"].to_numpy()).astype(np.float64)
            a_norms = np.linalg.norm(a_m, axis=1)
            num = a_m @ b_mat.value.T
            den = np.outer(a_norms, b_norms.value)
            with np.errstate(invalid="ignore", divide="ignore"):
                cos = np.where(den > 0, num / den, np.nan)
            keep = (cos >= threshold) & (
                a_ids[:, None] < b_ids.value[None, :]
            )
            rows, cols = np.nonzero(keep)
            if len(rows) == 0:
                continue
            yield pd.DataFrame(
                {
                    "id_a": a_ids[rows],
                    "id_b": b_ids.value[cols],
                    "cos_sim": cos[rows, cols],
                }
            )

    return v.mapInPandas(run, out_schema)


def embedding_near_dup_pairs_lsh(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.99,
    dim: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs at scale: hyperplane-LSH
    bucket both copies of the corpus, equi-join on (table, signature),
    dedup candidate pairs, then exact cosine rescore ≥ ``threshold``.

    Nothing ever materializes on the driver: candidates come from a
    bucket-key shuffle join whose per-bucket size is set by the sign
    bits per table (16 ⇒ ~65k buckets per table), and only colliding pairs
    are scored — O(Σ bucket²) work instead of O(n²).  The exact rescore
    means false candidates cost time, never correctness; recall is the
    only approximation.  Near-duplicate vectors are near-COLINEAR, and
    sign-LSH collision probability is 1 − θ/π per bit (θ = angle), so a
    cos ≥ 0.99 pair (θ ≤ 8.1°) agrees per-bit w.p. ≥ 0.955, hits one
    16-bit table w.p. ≥ 0.955¹⁶ ≈ 0.48, and ≥1 of 4 tables w.p.
    ≈ 0.93 with 4 tables; exactly-colinear duplicates
    (rescaled/requantized copies, the dominant real-world case) collide
    in EVERY table — recall 1.  More tables (recall 1−(1−0.48)^L) or
    fewer bits buy more recall at proportional candidate cost.

    The plane matrix is a tiny seeded (bits·tables × d) constant shipped
    in the task closure — deterministic, never a shuffle.  ``dim`` is
    probed from one row if not given."""
    import numpy as np

    from big_data_lab_three_spark.operators.similarity import (
        cosine_score_pairs,
        hyperplane_keys,
    )

    v = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("vec"),
    ).where(F.col("vec").isNotNull())
    if dim is None:
        # Probing executes the upstream pipeline — checkpoint first so
        # the probe materializes the SAME frame the bucket join reads
        # (one upstream pass total, and a NULL first row can no longer
        # yield dim = -1 thanks to the isNotNull projection above).
        # Callers that know the dimensionality pass `dim` and skip this.
        v = v.localCheckpoint()
        first = v.select(F.size("vec").alias("d")).first()
        if first is None:
            return df.sparkSession.createDataFrame(
                [],
                T.StructType(
                    [
                        T.StructField("id_a", v.schema["id"].dataType, True),
                        T.StructField("id_b", v.schema["id"].dataType, True),
                        T.StructField("cos_sim", T.DoubleType(), True),
                    ]
                ),
            )
        dim = first["d"]
    bits, tables = 16, 4
    rng = np.random.default_rng(13)
    planes = rng.normal(size=(bits * tables, dim)).tolist()
    keyed = hyperplane_keys(v, planes, tables, vec_col="vec")
    a = keyed.select(
        "key", F.col("id").alias("id_a"), F.col("vec").alias("vec_a")
    )
    b = keyed.select(
        "key", F.col("id").alias("id_b"), F.col("vec").alias("vec_b")
    )
    candidates = (
        a.join(b, "key")
        .where(F.col("id_a") < F.col("id_b"))
        # a pair colliding in several tables must be scored once, not L
        # times — dedup BEFORE the (mapInPandas) rescore
        .dropDuplicates(["id_a", "id_b"])
        .select("id_a", "id_b", "vec_a", "vec_b")
    )
    return cosine_score_pairs(
        candidates,
        "vec_a",
        "vec_b",
        ["id_a", "id_b"],
        threshold=threshold,
    )


def connected_components(
    pairs: DataFrame, max_iters: int = 20, loop_partitions: int = 8
) -> DataFrame:
    """Cluster the near-duplicate pair graph: every id is labeled with
    the MINIMUM id reachable through the pairs — the canonical member of
    its connected component (what a dedup pipeline keeps).

    Distributed min-label propagation: per round, each node takes the
    smallest label among itself and its neighbors (one join + one
    groupBy over the EDGE table — never the corpus), converging in
    graph-diameter rounds; near-dup components are small cliques/chains,
    so 2-3 rounds in practice.  The driver-side loop runs one count()
    per round purely as the convergence test — O(rounds) scheduler
    round-trips, data stays distributed.  At 100 TB scale-out, swap the
    propagation for the large-star/small-star contraction
    (Kiveris et al., "Connected Components in MapReduce and Beyond"),
    which converges in O(log n) rounds on the same edge-table shape.

    ``loop_partitions`` pins the shuffle width for the iteration (same
    pattern as the streaming drains' stateful partition count): the tables in
    the loop are bounded by the candidate-PAIR set, typically orders of
    magnitude smaller than the corpus, and every extra partition is pure
    per-round scheduler overhead multiplied by the round count.  The
    edge table is also hash-partitioned by the probe key up front, so
    its side of the per-round join reuses the cached partitioning
    instead of re-exchanging each round.  A 100 TB deployment raises
    ``loop_partitions`` to its pair-table size, nothing else changes.

    **Thread-safety**: the loop runs in a CLONED SparkSession
    (``newSession()`` — own SQLConf, shared SparkContext) with
    ``spark.sql.shuffle.partitions`` pinned there, bridged through
    global temp views (JVM-side — no data crosses Python), so
    concurrent work on the caller's session keeps its own shuffle
    width.  See :func:`_run_at_loop_width`.
    """
    return _run_at_loop_width(
        pairs,
        loop_partitions,
        lambda p: _connected_components_loop(p, max_iters, loop_partitions),
    )


def _run_at_loop_width(pairs: DataFrame, loop_partitions: int, run):
    """Execute ``run(pairs)`` with ``spark.sql.shuffle.partitions``
    pinned to ``loop_partitions`` WITHOUT mutating the caller's session:
    the loop gets a cloned session (per-session SQLConf, same
    SparkContext/executors), and frames cross sessions via global temp
    views — a name bridge, not a data movement.  The upstream pair
    pipeline is materialized at the CALLER's width first (the MinHash
    band join etc. must not run with loop-sized reducers), and the
    result is materialized at LOOP width before being handed back."""
    import uuid

    spark = pairs.sparkSession
    pairs = pairs.localCheckpoint()
    loop_spark = spark.newSession()
    loop_spark.conf.set(
        "spark.sql.shuffle.partitions", str(loop_partitions)
    )
    tag = uuid.uuid4().hex[:12]
    in_view, out_view = f"cc_in_{tag}", f"cc_out_{tag}"
    pairs.createOrReplaceGlobalTempView(in_view)
    out_made = False
    try:
        result = run(loop_spark.table(f"global_temp.{in_view}"))
        # Force the whole iteration to EXECUTE under the loop session's
        # width; the caller's session then only scans the checkpointed
        # result.
        result = result.localCheckpoint()
        result.createOrReplaceGlobalTempView(out_view)
        out_made = True
        return spark.table(f"global_temp.{out_view}")
    finally:
        spark.catalog.dropGlobalTempView(in_view)
        if out_made:
            spark.catalog.dropGlobalTempView(out_view)


def _connected_components_loop(
    pairs: DataFrame, max_iters: int, loop_partitions: int
) -> DataFrame:
    fwd = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    # localCheckpoint (not persist): iterative DataFrame algorithms grow
    # their LOGICAL plan multiplicatively per round — the cache serves
    # results, but Catalyst still re-analyzes the whole unrolled lineage
    # every iteration, which turns round k into O(b^k) planning time.
    # Checkpointing truncates the plan to the materialized RDD.  On a
    # cluster with executor churn swap for checkpoint(reliable dir).
    edges = (
        fwd.unionByName(
            fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .repartition(loop_partitions, "dst")
        .localCheckpoint()
    )
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .select("id", F.col("id").alias("cluster_id"))
        .localCheckpoint()
    )
    rounds = Rounds(
        pairs.sparkSession,
        "connected_components",
        max_iters,
        unconverged="graph diameter exceeds it; use "
        "connected_components_star for long-chained graphs",
    )
    for _ in rounds:
        nbr_min = (
            edges.join(
                labels.select(
                    F.col("id").alias("_nid"),
                    F.col("cluster_id").alias("_nlabel"),
                ),
                F.col("dst") == F.col("_nid"),
            )
            .groupBy("src")
            .agg(F.min("_nlabel").alias("_nbr_min"))
        )
        # Carry the previous label alongside the new one so convergence
        # detection is a filter over the SAME cached pass — not a second
        # join of labels against itself (halves per-round join work).
        # That count also materializes the round's checkpoint.
        labels = rounds.checkpoint(
            labels.join(nbr_min, labels.id == nbr_min.src, "left").select(
                "id",
                F.col("cluster_id").alias("_prev"),
                F.least(
                    F.col("cluster_id"),
                    F.coalesce(F.col("_nbr_min"), F.col("cluster_id")),
                ).alias("cluster_id"),
            )
        )
        if labels.where(F.col("cluster_id") < F.col("_prev")).count() == 0:
            break
    return labels.select("id", "cluster_id")


def connected_components_star(
    pairs: DataFrame, max_iters: int = 30, loop_partitions: int = 8
) -> DataFrame:
    """Connected components via alternating **large-star / small-star**
    contraction (Kiveris et al., "Connected Components in MapReduce and
    Beyond") — the O(log n)-round algorithm for graphs whose diameter
    is NOT small, where plain min-label propagation
    (:func:`connected_components`) would need diameter-many rounds.

    Per round, two neighborhood contractions over the edge table only:

    - **large-star**: each node u links every LARGER neighbor directly
      to m(u) = min(N(u) ∪ {u}) — halves long chains upward;
    - **small-star**: orient edges (larger → smaller); each node links
      all its smaller neighbors and itself to its minimum neighbor —
      collapses the local minima found by large-star into stars.

    Both phases are one groupBy(min) + one equi-join over the EDGE
    table; the fixpoint is a forest of stars (every node points at its
    component's minimum id), read off as the label table.  Same output
    contract as :func:`connected_components`: (id, cluster_id) with
    cluster_id = min reachable id.

    Convergence test: a (count, 64-bit ``xxhash64`` xor) signature of
    the edge set — one tiny aggregate per round instead of a
    set-difference join — confirmed by an EXACT set-difference check on
    the terminating round only, so a hash collision can at worst defer
    termination a round, never exit early with wrong labels.
    ``loop_partitions`` plays the same role as in
    :func:`connected_components`, and the width is likewise pinned in
    an isolated cloned session (:func:`_run_at_loop_width`) —
    thread-safe with respect to concurrent work on the caller's
    session (iteration tables are pair-bounded, not corpus-bounded).
    """
    return _run_at_loop_width(
        pairs,
        loop_partitions,
        lambda p: _connected_components_star_loop(p, max_iters),
    )


def _connected_components_star_loop(pairs: DataFrame, max_iters: int) -> DataFrame:
    edges = (
        pairs.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )
    # no checkpoint (r16): consumed exactly once by the final read-off
    # join, and its lineage is already one hop off the checkpointed
    # initial edge table — materializing it was a pure extra job
    nodes = (
        edges.select(F.col("u").alias("id"))
        .unionByName(edges.select(F.col("v").alias("id")))
        .distinct()
    )

    def signature(e: DataFrame) -> tuple:
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            # Order-insensitive 64-bit xor — a HEURISTIC equality probe
            # only: a collision here would terminate before the
            # star-forest fixpoint and read off silently wrong labels,
            # so a signature match must be CONFIRMED by the exact
            # set-equality check below before the loop breaks.
            F.expr("coalesce(bit_xor(xxhash64(u, v)), 0)").alias("h"),
        ).first()
        return (row["n"], row["h"])

    sig = signature(edges)
    from pyspark.sql import Window

    rounds = Rounds(
        pairs.sparkSession,
        "connected_components_star",
        max_iters,
        unconverged="raise max_iters (O(log n) rounds suffice for any "
        "graph, so this indicates n >> expected)",
    )
    for _ in rounds:
        # Both stars are "attach min(N(u) ∪ {u}) to every edge of u" —
        # ONE window exchange per star (r16; was a groupBy + an
        # equi-join back, i.e. two exchanges of the edge table per
        # star, plus an intermediate distinct).  Duplicate rows the
        # dropped intermediate distinct would have removed cannot
        # change any min and are collapsed by the final distinct —
        # the emitted edge SET is identical (guide §2.4).  Skew
        # trade-off: the window buffers all of a node's edges in one
        # task and has no map-side partial aggregation (the groupBy
        # form combined per map task and could broadcast a small min
        # table), so a hot node is one sorting, possibly spilling,
        # task.  The old sort-merge join co-located the same rows, so
        # the loss is that combine step, on heavily skewed graphs only.
        by_u = Window.partitionBy("u")
        # ---- large-star ----------------------------------------------
        sym = edges.unionByName(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        lm = sym.withColumn(
            "m", F.least(F.min("v").over(by_u), F.col("u"))
        )
        large = (
            lm.where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
        )
        # ---- small-star ----------------------------------------------
        oriented = large.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        ow = oriented.withColumn("m", F.min("v").over(by_u))
        # the signature job below materializes the round's checkpoint
        new_edges = rounds.checkpoint(
            ow.select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionByName(ow.select("u", F.col("m").alias("v")))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )
        new_sig = signature(new_edges)
        prev_edges = edges
        edges = new_edges
        if new_sig == sig:
            # Signatures matched — confirm exactly before terminating.
            # Both sides are distinct sets with equal counts (count is
            # part of the signature), so a one-direction set difference
            # being empty proves equality.  This runs only on the
            # candidate terminating round, so its cost is one extra
            # pair-table anti-join per full loop, not per round.
            if prev_edges.exceptAll(new_edges).limit(1).count() == 0:
                break
        sig = new_sig

    # Fixpoint edges form stars (child → component min); roots and any
    # isolated-by-contraction nodes label themselves.
    child_labels = edges.select(
        F.col("u").alias("id"), F.col("v").alias("cluster_id")
    )
    labels = nodes.join(child_labels, "id", "left").select(
        "id", F.coalesce("cluster_id", F.col("id")).alias("cluster_id")
    )
    return labels
