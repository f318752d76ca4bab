"""Projections, filters, per-column transforms, unions, sorts
(SURVEY.md §2.2, §2.4, §2.5).

Everything here is a narrow transformation or a declarative shuffle — no
Python UDFs, so the whole surface stays inside Catalyst/codegen.  Functions
take and return DataFrames and compose; citations point at the reference
behavior each one re-expresses.
"""

from __future__ import annotations

import functools
from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import NumericType, StringType


def drop_columns(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """P2 — drop-list projection (reference ``src/preprocess.py:65-88``,
    ``errors='ignore'``).  Spark's ``drop`` natively ignores absent names;
    dedup-preserving-order mirrors the reference's ``dict.fromkeys``."""
    return df.drop(*dict.fromkeys(cols))


def binarize_label(
    df: DataFrame,
    src: str = "Label",
    positive: str = "BENIGN",
    out: str = "State",
) -> DataFrame:
    """P3 — label binarization (reference ``src/preprocess.py:81-84``:
    ``1 if a == 'BENIGN' else 0``; NULL label → 0)."""
    return df.withColumn(
        out, F.when(F.col(src) == positive, F.lit(1)).otherwise(F.lit(0))
    )


def nullify_nonfinite(
    df: DataFrame, cols: Sequence[str] | None = None
) -> DataFrame:
    """P4 — ±inf/NaN → NULL (reference ``src/preprocess.py:85``:
    ``df.replace([inf,-inf], nan)``; plus NaN→NULL so Spark's NaN≠NULL
    distinction doesn't diverge from pandas semantics, SURVEY.md §1.2).

    One ``select`` over all columns — a single Project node, no extra pass
    per column (the pandas reference rewrites the whole frame in place).
    """
    if cols is None:
        cols = [
            f.name for f in df.schema.fields
            if isinstance(f.dataType, NumericType)
        ]
    targets = set(cols)
    exprs = []
    for f_ in df.schema.fields:
        c = f_.name
        if c in targets and isinstance(f_.dataType, NumericType):
            col = F.col(c)
            exprs.append(
                F.when(
                    F.isnan(col)
                    | (col == F.lit(float("inf")))
                    | (col == F.lit(float("-inf"))),
                    F.lit(None),
                )
                .otherwise(col)
                .alias(c)
            )
        else:
            exprs.append(F.col(c))
    return df.select(*exprs)


def coerce_numeric(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Parse string columns to double with pandas-compatible ``inf``
    handling (pandas' CSV reader accepts ``inf``/``-inf``/``Infinity``;
    Spark's schema inference leaves such columns as strings).  Values
    that parse to neither number nor infinity become NULL — the same
    end state the reference reaches via NaN."""
    exprs = []
    targets = set(cols)
    for f_ in df.schema.fields:
        c = f_.name
        if c not in targets or not isinstance(f_.dataType, StringType):
            exprs.append(F.col(c))
            continue
        low = F.lower(F.trim(F.col(c)))
        exprs.append(
            F.when(low.isin("inf", "+inf", "infinity"), F.lit(float("inf")))
            .when(low.isin("-inf", "-infinity"), F.lit(float("-inf")))
            .otherwise(F.col(c).cast("double"))
            .alias(c)
        )
    return df.select(*exprs)


def label_encode(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """P9 — string → dense int codes in ``<col>_code`` (reference nb
    cell 23, ``LabelEncoder``: codes are the 0-based rank of the sorted
    distinct values).

    Implemented as a broadcast join per column against the tiny distinct
    dictionary — the dictionary aggregation shuffles only distinct values
    (map-side partial agg), and the join back is broadcast, so the fact
    table never shuffles.  ``pyspark.ml.feature.StringIndexer`` is the ML
    pipeline variant (frequency-ordered); this one matches sklearn's
    lexicographic contract.
    """
    out = df
    for c in cols:
        dictionary = (
            df.select(F.col(c).alias(c)).where(F.col(c).isNotNull()).distinct()
            .select(
                c,
                (F.dense_rank().over(Window.orderBy(F.col(c))) - 1).alias(
                    f"{c}_code"
                ),
            )
        )
        out = out.join(F.broadcast(dictionary), on=c, how="left")
    return out


def union_by_name(
    dfs: Sequence[DataFrame], allow_missing_columns: bool = False
) -> DataFrame:
    """U1/U2 — vertical union by column name (reference nb cell 4
    ``pd.concat`` of the 8 day-files; nb cells 33-37 outer union of
    mismatched schemas with NULL fill).

    Pure plan-level union: no shuffle, partitions are concatenated.
    """
    return functools.reduce(
        lambda a, b: a.unionByName(
            b, allowMissingColumns=allow_missing_columns
        ),
        dfs,
    )


def topk(
    df: DataFrame,
    order: Sequence, k: int,
) -> DataFrame:
    """O1+O2 — sort desc + head (reference nb cell 26
    ``sort_values(ascending=False)`` + ``head``).

    ``orderBy(...).limit(k)`` compiles to ``TakeOrderedAndProject`` — a
    per-partition top-k + driver merge, NOT a global sort; this is the plan
    that survives 100 TB.  Callers must include a unique tiebreak column so
    top-k is well-defined (SURVEY.md §7.4).
    """
    return df.orderBy(*order).limit(k)


def salted_join(
    big: DataFrame,
    small: DataFrame,
    big_key: str,
    small_key: str,
    salt_buckets: int = 8,
) -> DataFrame:
    """Skew-mitigating join: salt the big (skewed) side into
    ``salt_buckets`` sub-keys and replicate the small side once per salt
    value, so one hot key's rows spread over ``salt_buckets`` reducers
    instead of melting a single one.  Semantics-preserving — the salt
    column never reaches the output, so results are identical to a plain
    equi-join (DuckDB-oracle-checkable).

    This is the manual fallback for the case AQE's skew-join split
    (``spark.sql.adaptive.skewJoin``) can't fix: skew concentrated in a
    SINGLE key value, which cannot be partition-split without changing
    the key.  The salt is random (seeded) because it only routes rows;
    the join result is salt-invariant."""
    salt = F.floor(F.rand(42) * salt_buckets).cast("int")
    b = big.withColumn("_salt", salt)
    s = small.withColumn(
        "_salt_arr",
        F.array([F.lit(i) for i in range(salt_buckets)]),
    ).withColumn("_salt", F.explode("_salt_arr")).drop("_salt_arr")
    joined = b.join(
        s,
        (b[big_key] == s[small_key]) & (b["_salt"] == s["_salt"]),
        "inner",
    )
    return joined.drop(b["_salt"]).drop(s["_salt"])


def skyline_2d(
    df: DataFrame, minimize_col: str, maximize_col: str
) -> DataFrame:
    """2-D skyline (Pareto frontier): rows no other row dominates,
    where q dominates p iff q.minimize ≤ p.minimize AND q.maximize ≥
    p.maximize with at least one strict.  Equal points never dominate
    each other, so duplicates of a frontier point all survive.

    Distributed sort-filter-skyline shape (Börzsönyi et al., ICDE'01):

    1. LOCAL PRUNE (``mapInPandas`` per input partition): sort by
       (minimize asc, maximize desc), drop rows strictly below the
       partition's running max — conservative, keeps every global
       candidate, shrinks each partition to its local frontier
       (O(log n) expected rows for independent dimensions).
    2. EXACT SWEEP on the tiny pruned union: one (minimize)-grouped
       max aggregate, then the strictly-smaller running max via a
       single ordered window with a −1 row lag frame.  The global
       window is safe ONLY because the prune ran first.
    3. REJOIN: the frontier (minimize, maximize) pairs broadcast back
       to the input so every matching row (duplicates included)
       surfaces — the fact side never shuffles.

    Output: the input rows that are on the frontier, original schema.
    Comparisons are pass-through (no arithmetic) — engine-portable.

    ORACLE CONTRACT for callers on NULLABLE columns: rows with NULL in
    either skyline column are silently DROPPED here (the max aggregate
    ignores them and the equality rejoin never matches NULL), whereas
    a SQL NOT-EXISTS dominance oracle KEEPS them (NULL comparisons are
    UNKNOWN, so no dominator is ever found).  Pair this operator with
    an explicit ``WHERE both IS NOT NULL`` on the oracle side, or
    pre-filter NULLs on both.  The registered caller
    (``skyline_pareto``) runs on NOT-NULL part columns, where the two
    conventions coincide."""
    lo, hi = minimize_col, maximize_col

    def local_prune(batches):
        for b in batches:
            if len(b) == 0:
                continue
            s = b.sort_values([lo, hi], ascending=[True, False])
            cummax_before = s[hi].cummax().shift(1)
            yield s[~(s[hi] < cummax_before)]

    pruned = df.mapInPandas(local_prune, schema=df.schema)
    per_key = pruned.groupBy(lo).agg(F.max(hi).alias("_best"))
    w = Window.orderBy(lo).rowsBetween(Window.unboundedPreceding, -1)
    sky = (
        per_key.withColumn("_cm", F.max("_best").over(w))
        .where(F.col("_cm").isNull() | (F.col("_best") > F.col("_cm")))
        .select(F.col(lo).alias("_lo"), F.col("_best"))
    )
    return df.join(
        F.broadcast(sky),
        (df[lo] == sky["_lo"]) & (df[hi] == sky["_best"]),
    ).select(*[df[c] for c in df.columns])


def es_priority(weight_col: str, key_cols: Sequence[str], seed: str):
    """Efraimidis–Spirakis sampling priority as a pure Column:
    ``ln(u)/w`` with ``u`` md5-derived from the key columns + seed tag
    (first 15 hex digits, +1, /16^15 ∈ (0,1] — engine-bit-portable;
    the SQL twin is ``ln((('0x' || substr(md5(k || seed), 1, 15))
    ::BIGINT::DOUBLE + 1.0) / 16^15) / w``).  Shared by
    :func:`weighted_sample` (global top-k) and
    :func:`group_weighted_sample` (per-stratum top-k)."""
    key = F.concat_ws("\x1f", *[F.col(c).cast("string") for c in key_cols])
    hex15 = F.substring(
        F.md5(F.encode(F.concat(key, F.lit(seed)), "UTF-8")), 1, 15
    )
    # (int+1) / 16^15 ∈ (0, 1] — the +1 excludes u=0 (ln(0) = -inf)
    u = (F.conv(hex15, 16, 10).cast("double") + 1.0) / F.lit(float(16**15))
    return F.log(u) / F.col(weight_col).cast("double")


def weighted_sample(
    df: DataFrame,
    k: int,
    weight_col: str,
    key_cols: Sequence[str],
    seed: str = "es1",
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement — the
    Efraimidis–Spirakis (2006) one-pass scheme: each row gets priority
    ``u^(1/w)`` for a uniform ``u`` and weight ``w``; the k rows with
    the highest priorities are a weighted sample without replacement.
    The training-data-mix primitive ("sample 10M docs ∝ quality
    score") next to the equal-probability content-hash holdout
    (``stratified_sample``).

    ``u`` is NOT random: it derives from md5 of the key columns + the
    seed tag (first 15 hex digits → uniform in (0,1]) — so the sample
    is a pure function of the DATA, reproducible across runs, engines
    (md5 is bit-portable; an ANSI-SQL oracle can recompute it),
    partitionings, and file layouts, and changes wholesale with the
    seed tag.  Equivalently rank by ``ln(u)/w`` (monotone transform —
    avoids underflow for tiny weights).

    Scale shape: priority is one codegen projection; top-k is
    ``orderBy·limit`` (per-partition top-k, then merge — never a
    global window over the corpus).  Zero-or-negative weights are
    excluded (they can never be sampled under ES semantics)."""
    w = F.col(weight_col).cast("double")
    return (
        df.where(w > 0)
        .withColumn("_pri", es_priority(weight_col, key_cols, seed))
        .orderBy(F.desc("_pri"), *key_cols)
        .limit(k)
        .drop("_pri")
    )


def group_weighted_sample(
    df: DataFrame,
    k: int,
    weight_col: str,
    key_cols: Sequence[str],
    group_cols: Sequence[str],
    seed: str = "es1",
) -> DataFrame:
    """Per-stratum weighted sampling without replacement: the k
    highest Efraimidis–Spirakis priorities WITHIN each ``group_cols``
    group — "sample k documents per language ∝ quality", the
    stratified counterpart of :func:`weighted_sample` and the
    data-mix-construction primitive (fixed per-stratum budgets with
    weighted selection inside each stratum).  Deterministic for the
    same reason: priorities are a pure md5 function of the data.

    Scale shape: priority is a scan projection; selection is one
    ``row_number`` window partitioned by the strata — one exchange
    keyed on ``group_cols``, per-group sort, nothing global.  With
    MANY strata (languages × sources × shards) the exchange balances
    naturally; for a FEW huge strata, pre-prune with a per-partition
    local top-k (the ``skew_salted_join`` two-phase idiom) before the
    window — the priorities make the two phases agree exactly."""
    w = F.col(weight_col).cast("double")
    win = Window.partitionBy(*group_cols).orderBy(
        F.desc("_pri"), *key_cols
    )
    return (
        df.where(w > 0)
        .withColumn("_pri", es_priority(weight_col, key_cols, seed))
        .withColumn("_rn", F.row_number().over(win))
        .where(F.col("_rn") <= k)
        .drop("_pri", "_rn")
    )
