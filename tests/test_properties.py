"""Property-based tests (hypothesis) — semantic invariants that must
hold for ARBITRARY inputs, not just the fixture tables.  The reference
has nothing of this kind (SURVEY.md §5: its tests assert "pipeline ran");
these pin the algebraic contracts the operators advertise.

Examples are kept small (≤40 rows) and few — each one is a real Spark
job, so the budget goes to input diversity, not volume.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from big_data_lab_three_spark.operators.relational import (
    binarize_label,
    salted_join,
)
from big_data_lab_three_spark.schemas import conform

SETTINGS = settings(
    max_examples=8,
    deadline=None,  # Spark job latency is not the property under test
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

keys = st.integers(min_value=0, max_value=5)
vals = st.integers(min_value=-100, max_value=100)


@SETTINGS
@given(
    big=st.lists(st.tuples(keys, vals), min_size=0, max_size=40),
    small=st.lists(st.tuples(keys, vals), min_size=0, max_size=8),
    buckets=st.integers(min_value=1, max_value=5),
)
def test_salted_join_equals_plain_join(spark, big, small, buckets):
    """The salt must never change the result: for any two relations and
    any bucket count, salted_join ≡ plain inner equi-join (as multisets
    — duplicate keys fan out identically)."""
    b = spark.createDataFrame(
        [(k, v) for k, v in big] or [(None, None)], "bk int, bv int"
    ).where(F.col("bk").isNotNull())
    s = spark.createDataFrame(
        [(k, v) for k, v in small] or [(None, None)], "sk int, sv int"
    ).where(F.col("sk").isNotNull())
    got = sorted(
        tuple(r)
        for r in salted_join(b, s, "bk", "sk", salt_buckets=buckets)
        .select("bk", "bv", "sk", "sv")
        .collect()
    )
    want = sorted(
        tuple(r)
        for r in b.join(s, b.bk == s.sk).select("bk", "bv", "sk", "sv").collect()
    )
    assert got == want


@SETTINGS
@given(
    labels=st.lists(
        st.one_of(st.none(), st.sampled_from(["BENIGN", "ATTACK", "", "x"])),
        min_size=0,
        max_size=40,
    )
)
def test_binarize_label_is_total_and_binary(spark, labels):
    """P3's contract: output is exactly {0,1}; 'BENIGN' → 1; everything
    else INCLUDING NULL → 0 (the reference's NaN→attack rule,
    src/preprocess.py:84)."""
    df = spark.createDataFrame([(v,) for v in labels] or [(None,)], "Label string")
    if not labels:
        df = df.limit(0)
    rows = binarize_label(df).collect()
    assert len(rows) == len(labels)
    for r in rows:
        assert r.State == (1 if r.Label == "BENIGN" else 0)


@SETTINGS
@given(
    present=st.sets(st.sampled_from(["a", "b", "c", "d"]), max_size=4),
    contract=st.lists(
        st.sampled_from(["a", "b", "c", "d", "e", "f"]),
        min_size=1,
        max_size=6,
        unique=True,
    ),
)
def test_conform_always_yields_contract_schema(spark, present, contract):
    """P6's contract: for ANY input column set and ANY contract, the
    output has exactly the contract's columns in order; missing columns
    are all-NULL, present ones pass through."""
    cols = sorted(present) or ["z"]
    df = spark.createDataFrame(
        [tuple(1.0 for _ in cols)], ", ".join(f"{c} double" for c in cols)
    )
    out = conform(df, contract)
    assert out.columns == list(contract)
    row = out.first()
    for c in contract:
        if c in present:
            assert row[c] == 1.0
        else:
            assert row[c] is None


texts = st.text(
    alphabet=st.sampled_from("ab c\t\nxyz.!"), min_size=0, max_size=80
)


@SETTINGS
@given(
    docs=st.lists(texts, min_size=1, max_size=12),
    chunk=st.integers(min_value=2, max_value=8),
)
def test_chunk_documents_covers_and_bounds(spark, docs, chunk):
    """For stride ≤ chunk: (a) every chunk has 1..chunk tokens, (b) the
    concatenation of stride-strided chunk starts covers every token
    index (no token lost before the last full window), (c) chunk_text
    round-trips the sliced tokens."""
    from big_data_lab_three_spark.operators.text import chunk_documents

    stride = max(1, chunk // 2)
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(docs)], "doc_id int, text string"
    )
    rows = chunk_documents(
        df, chunk_tokens=chunk, stride=stride
    ).collect()
    toks_by_doc = {
        i: [w for w in t.split() if w] for i, t in enumerate(docs)
    }
    assert rows, "every document must emit at least one chunk"
    for r in rows:
        n = len(toks_by_doc[r.doc_id])
        assert 0 <= r.n_chunk_tokens <= chunk
        got = r.chunk_text.split() if r.chunk_text else []
        want = toks_by_doc[r.doc_id][
            r.chunk_start - 1 : r.chunk_start - 1 + chunk
        ]
        assert got == want, f"chunk mismatch at {r.doc_id}:{r.chunk_start}"
        # starts advance by stride from 1
        assert (r.chunk_start - 1) % stride == 0
    # coverage: union of [start, start+chunk) covers all token indices
    for i, toks in toks_by_doc.items():
        covered = set()
        for r in rows:
            if r.doc_id == i:
                covered.update(
                    range(r.chunk_start - 1, r.chunk_start - 1 + chunk)
                )
        assert set(range(len(toks))) <= covered, f"doc {i} tokens dropped"


@SETTINGS
@given(docs=st.lists(texts, min_size=1, max_size=12))
def test_shard_assignment_is_stable_and_in_range(spark, docs):
    """Shards are in [0, n); equal content ⇒ equal shard regardless of
    row order (content-hash, not positional)."""
    from big_data_lab_three_spark.operators.text import shard_assignments

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(docs)], "doc_id int, text string"
    )
    a = {r.doc_id: r.shard for r in shard_assignments(df, n_shards=7).collect()}
    rev = spark.createDataFrame(
        [(i, t) for i, t in reversed(list(enumerate(docs)))],
        "doc_id int, text string",
    )
    b = {
        r.doc_id: r.shard for r in shard_assignments(rev, n_shards=7).collect()
    }
    assert a == b, "shard must not depend on row order"
    assert all(0 <= s < 7 for s in a.values())
    by_text: dict[str, set[int]] = {}
    for i, t in enumerate(docs):
        by_text.setdefault(t, set()).add(a[i])
    assert all(len(s) == 1 for s in by_text.values()), (
        "equal content must land in one shard"
    )


@SETTINGS
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),  # group (heavy ties)
            st.integers(min_value=-5, max_value=5),  # value (heavy ties)
        ),
        min_size=0,
        max_size=40,
    ),
    parts=st.integers(min_value=1, max_value=6),
)
def test_global_ranks_is_a_permutation_per_group(spark, rows, parts):
    """For ANY input and partition count, the distributed rank operator
    must assign each group exactly the ranks 1..n (a permutation —
    exact, gapless, duplicate-free), `_n` must equal the true group
    size, and equal values must occupy a contiguous rank range (range
    partitioning may not split ties across rank discontinuities)."""
    from collections import Counter

    from big_data_lab_three_spark.operators.rankstats import (
        N_COL,
        RANK_COL,
        global_ranks,
    )

    df = spark.createDataFrame(
        [(i, g, v) for i, (g, v) in enumerate(rows)],
        "id long, g int, v int",
    )
    got = global_ranks(
        df, order_cols=("v",), group_cols=("g",), num_partitions=parts
    ).collect()
    sizes = Counter(g for g, _ in rows)
    by_group: dict[int, list] = {}
    for r in got:
        by_group.setdefault(r["g"], []).append(r)
    assert sum(len(v) for v in by_group.values()) == len(rows)
    for g, members in by_group.items():
        n = sizes[g]
        assert sorted(m[RANK_COL] for m in members) == list(
            range(1, n + 1)
        )
        assert all(m[N_COL] == n for m in members)
        # ranks must be order-consistent: sort by rank → values ascend
        vals_by_rank = [
            m["v"] for m in sorted(members, key=lambda m: m[RANK_COL])
        ]
        assert vals_by_rank == sorted(vals_by_rank)


@SETTINGS
@given(
    pts=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=20),  # price
            st.integers(min_value=0, max_value=20),  # size
        ),
        min_size=1,
        max_size=40,
    )
)
def test_skyline_matches_quadratic_definition(spark, pts):
    """For ANY point set, the distributed SFS skyline (local prune +
    exact sweep + rejoin) must equal the quadratic dominance
    definition — including duplicate points, which never dominate each
    other and must all surface."""
    rows = [(i, int(s), float(p)) for i, (p, s) in enumerate(pts)]
    df = spark.createDataFrame(
        rows, "p_partkey long, p_size int, p_retailprice double"
    ).repartition(3)

    # quadratic ground truth
    def dominated(i):
        pi, si = pts[i]
        return any(
            (pq <= pi and sq >= si and (pq < pi or sq > si))
            for pq, sq in pts
        )

    expect = sorted(i for i in range(len(pts)) if not dominated(i))

    from big_data_lab_three_spark.operators.relational import skyline_2d

    got = sorted(
        r.p_partkey for r in skyline_2d(
            df, "p_retailprice", "p_size"
        ).collect()
    )
    assert got == expect


@SETTINGS
@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["a", "bb", "ccc", "d"]), min_size=0, max_size=8
        ),
        min_size=1,
        max_size=12,
    )
)
def test_ngram_counts_match_python_reference(spark, docs):
    """Bigram census over arbitrary token streams ≡ a direct Python
    count: every adjacent pair, docs shorter than n contribute
    nothing, reach counts distinct docs."""
    from collections import Counter

    from big_data_lab_three_spark.operators.text import ngram_counts

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.ngram: (r.n_occurrences, r.n_docs)
        for r in ngram_counts(df, n=2).collect()
    }
    occ, reach = Counter(), {}
    for i, toks in enumerate(docs):
        grams = [f"{a} {b}" for a, b in zip(toks, toks[1:])]
        occ.update(grams)
        for g in set(grams):
            reach.setdefault(g, set()).add(i)
    expect = {g: (occ[g], len(reach[g])) for g in occ}
    assert got == expect


@SETTINGS
@given(
    data=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=255),
            st.integers(min_value=0, max_value=255),
        ),
        min_size=4,
        max_size=16,
    )
)
def test_vendored_png_roundtrip_property(data):
    """encode∘decode is the identity for any uint8 grayscale image
    (shape inferred from the sample list)."""
    import numpy as np

    from big_data_lab_three_spark.multimodal.png import (
        decode_png,
        encode_png,
    )

    flat = np.asarray([v for pair in data for v in pair], dtype=np.uint8)
    w = 2
    a = flat.reshape(-1, w)
    b = decode_png(encode_png(a))
    assert b.shape == a.shape and (a == b).all()


@SETTINGS
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10_000),  # key
            st.floats(
                min_value=0.01, max_value=100.0,
                allow_nan=False, allow_infinity=False,
            ),
        ),
        min_size=1,
        max_size=30,
        unique_by=lambda t: t[0],
    ),
    k=st.integers(min_value=1, max_value=10),
)
def test_weighted_sample_matches_python_reference(spark, rows, k):
    """The Efraimidis-Spirakis sample is a PURE FUNCTION of the data:
    an independent Python implementation of the same md5-derived
    priority rule must select the identical k rows."""
    import hashlib
    import math

    from big_data_lab_three_spark.operators.relational import (
        weighted_sample,
    )

    df = spark.createDataFrame(rows, "key long, w double").repartition(3)
    got = sorted(
        r.key for r in weighted_sample(df, k, "w", ["key"]).collect()
    )

    def pri(key, w):
        hex15 = hashlib.md5(f"{key}es1".encode()).hexdigest()[:15]
        u = (int(hex15, 16) + 1.0) / 16**15
        return math.log(u) / w

    expect = sorted(
        key
        for key, _ in sorted(
            rows, key=lambda t: (-pri(t[0], t[1]), t[0])
        )[:k]
    )
    assert got == expect


def test_weighted_sample_prefers_heavy_rows(spark):
    """Statistical sanity on structured input: with two weight classes
    1000:1, a k covering half the heavy class must be all-heavy (the
    probability of any light row outranking a heavy one is ~1e-3)."""
    from big_data_lab_three_spark.operators.relational import (
        weighted_sample,
    )

    rows = [(i, 1000.0 if i < 40 else 0.001) for i in range(400)]
    df = spark.createDataFrame(rows, "key long, w double")
    got = weighted_sample(df, 20, "w", ["key"]).collect()
    assert all(r.key < 40 for r in got)


@SETTINGS
@given(
    keys=st.lists(
        st.integers(min_value=-(2**40), max_value=2**40),
        min_size=1,
        max_size=40,
        unique=True,
    ),
    k=st.integers(min_value=2, max_value=9),
    seed=st.integers(min_value=0, max_value=3),
)
def test_portable_fold_matches_duckdb_twin(spark, keys, k, seed):
    """The portable=True fold rule's documented DuckDB twin —
    ``('0x' || substr(md5(key || '|cv' || seed), 1, 15))::BIGINT % k``
    — must assign the IDENTICAL fold to every key (negative keys
    included): the engine-independent-membership claim cv.py makes,
    differential-tested on arbitrary inputs rather than just the
    fixture tables."""
    import duckdb

    from big_data_lab_three_spark.ml.cv import fold_assignments

    df = spark.createDataFrame([(x,) for x in keys], "key long")
    got = {
        r.key: r.fold
        for r in fold_assignments(
            df, k=k, key_cols=["key"], seed=seed, portable=True
        ).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t (key BIGINT)")
    con.executemany("INSERT INTO t VALUES (?)", [(x,) for x in keys])
    expect = dict(
        con.execute(
            f"""
            SELECT key,
                   CAST(CAST(('0x' || substr(
                        md5(CAST(key AS VARCHAR) || '|cv{seed}'), 1, 15))
                    AS BIGINT) % {k} AS INTEGER)
            FROM t
            """
        ).fetchall()
    )
    assert got == expect


@SETTINGS
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=-(2**40), max_value=2**40),  # key
            st.integers(min_value=-5, max_value=10_000),  # int weight
        ),
        min_size=1,
        max_size=40,
        unique_by=lambda t: t[0],
    ),
    k=st.integers(min_value=1, max_value=12),
)
def test_weighted_sample_matches_duckdb_oracle_formula(spark, rows, k):
    """The registered oracle's SQL re-derivation of the ES sample
    (hex-cast, +1, /16^15, ln, /w, top-k) must select the identical
    key set on arbitrary data — including parity of the w>0 exclusion
    rule.  Integer weights keep the two engines' value representations
    identical; ln/division are IEEE-identical on identical inputs."""
    import duckdb

    from big_data_lab_three_spark.operators.relational import (
        weighted_sample,
    )

    df = spark.createDataFrame(rows, "key long, w long").repartition(3)
    got = sorted(r.key for r in weighted_sample(df, k, "w", ["key"]).collect())
    con = duckdb.connect()
    con.execute("CREATE TABLE t (key BIGINT, w BIGINT)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    expect = sorted(
        x
        for (x,) in con.execute(
            f"""
            SELECT key FROM t
            WHERE w > 0
            ORDER BY ln((CAST(CAST(('0x' || substr(
                             md5(CAST(key AS VARCHAR) || 'es1'), 1, 15))
                         AS BIGINT) AS DOUBLE) + 1.0)
                        / 1152921504606846976.0)
                     / CAST(w AS DOUBLE) DESC,
                     key
            LIMIT {k}
            """
        ).fetchall()
    )
    assert got == expect


@given(
    st.lists(
        st.tuples(st.integers(0, 9), st.booleans()),
        min_size=2,
        max_size=60,
    ).filter(
        lambda xs: any(g for _, g in xs) and any(not g for _, g in xs)
    )
)
@settings(max_examples=200, deadline=None)
def test_mann_whitney_census_identity(data):
    """Pure-math pin of the `mann_whitney_u` rank algebra: the census
    identity `2·R1 = Σ_v n1(v)·(2·cum(v) + t(v) + 1)` must equal twice
    the naive midrank sum for ANY grouped multiset — no engine
    involved, so a regression in the formula (not just its Spark/SQL
    transliteration) fails here."""
    # naive midranks over the pooled sorted sample
    pooled = sorted(v for v, _ in data)
    ranks = {}
    i = 0
    while i < len(pooled):
        j = i
        while j < len(pooled) and pooled[j] == pooled[i]:
            j += 1
        ranks[pooled[i]] = (i + 1 + j) / 2  # midrank of the tie run
        i = j
    naive_2r1 = round(2 * sum(ranks[v] for v, g in data if g))
    # census identity
    from collections import Counter

    t = Counter(v for v, _ in data)
    n1 = Counter(v for v, g in data if g)
    cum, census_2r1 = 0, 0
    for v in sorted(t):
        census_2r1 += n1[v] * (2 * cum + t[v] + 1)
        cum += t[v]
    assert census_2r1 == naive_2r1


@given(
    st.lists(
        st.tuples(st.integers(1, 50), st.integers(0, 50)),
        min_size=1,
        max_size=12,
    ).filter(lambda bins: all(p <= n for n, p in bins))
)
@settings(max_examples=200, deadline=None)
def test_isotonic_minimax_equals_pava(bins):
    """Pure-math pin of `isotonic_calibration`'s closed form: the
    minimax `iso_i = max_{j≤i} min_{k≥i} wavg(j..k)` must equal the
    iterative pool-adjacent-violators fit for ANY weighted bin
    sequence (Fractions — no float tolerance)."""
    from fractions import Fraction

    ns = [n for n, _ in bins]
    ps = [p for _, p in bins]
    m = len(bins)
    # PAVA: pool adjacent violators until monotone
    pools = [[ns[i], ps[i]] for i in range(m)]
    i = 0
    while i < len(pools) - 1:
        if Fraction(pools[i][1], pools[i][0]) > Fraction(
            pools[i + 1][1], pools[i + 1][0]
        ):
            pools[i][0] += pools[i + 1][0]
            pools[i][1] += pools[i + 1][1]
            del pools[i + 1]
            i = max(i - 1, 0)
        else:
            i += 1
    # expand pools back to per-bin fitted values
    pava = []
    idx = 0
    for n_total, p_total in pools:
        acc = 0
        while acc < n_total:
            acc += ns[idx]
            pava.append(Fraction(p_total, n_total))
            idx += 1
    assert len(pava) == m
    # minimax closed form
    pre_n = [0]
    pre_p = [0]
    for n, p in bins:
        pre_n.append(pre_n[-1] + n)
        pre_p.append(pre_p[-1] + p)

    def wavg(j, k):  # bins j..k inclusive, 0-based
        return Fraction(pre_p[k + 1] - pre_p[j], pre_n[k + 1] - pre_n[j])

    for i in range(m):
        minimax = max(
            min(wavg(j, k) for k in range(i, m)) for j in range(i + 1)
        )
        assert minimax == pava[i], (i, bins)


@given(st.integers(0, 65535), st.integers(0, 65535))
@settings(max_examples=300, deadline=None)
def test_morton_spread_matches_naive_interleave(u, v):
    """Pure-math pin of `zorder_layout`'s magic-number bit spread: the
    cascade must equal the naive per-bit interleave for every 16-bit
    pair (the SQL/Spark transliterations share these exact masks)."""

    def spread(x):
        x &= 0xFFFF
        x = (x | (x << 8)) & 0x00FF00FF
        x = (x | (x << 4)) & 0x0F0F0F0F
        x = (x | (x << 2)) & 0x33333333
        x = (x | (x << 1)) & 0x55555555
        return x

    morton = spread(u) | (spread(v) << 1)
    naive = 0
    for i in range(16):
        naive |= ((u >> i) & 1) << (2 * i)
        naive |= ((v >> i) & 1) << (2 * i + 1)
    assert morton == naive


def _py_bpe_merge(syms: list[str], a: str, b: str) -> list[str]:
    """Reference greedy left-to-right non-overlapping BPE merge
    (Sennrich's algorithm, the readable O(n) form)."""
    out: list[str] = []
    i = 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


@SETTINGS
@given(
    words=st.lists(
        st.lists(
            st.sampled_from(["a", "b", "c", "ab", "ba"]),
            min_size=0,
            max_size=10,
        ),
        min_size=1,
        max_size=12,
    ),
    pair=st.tuples(
        st.sampled_from(["a", "b", "c", "ab"]),
        st.sampled_from(["a", "b", "c", "ba"]),
    ),
)
def test_bpe_merge_fold_matches_reference(words, pair):
    """The trainer's merge must agree with the sequential reference
    merge on arbitrary symbol sequences — including runs of the merged
    pair, multi-char symbols, and symbols that EQUAL the merged token
    (e.g. pair (a,b) with 'ab' already present in the sequence)."""
    from big_data_lab_three_spark.queries.corpus import _bpe_merge

    a, b = pair
    for w in words:
        got = _bpe_merge(w, a, b)
        assert got == _py_bpe_merge(w, a, b), (
            f"pair={pair} syms={w}: merge {got} != "
            f"reference {_py_bpe_merge(w, a, b)}"
        )


@SETTINGS
@given(
    d0=st.lists(
        st.floats(min_value=0.0, max_value=10.0, allow_nan=False),
        min_size=4,
        max_size=4,
    ),
    d1=st.lists(
        st.floats(min_value=0.0, max_value=10.0, allow_nan=False),
        min_size=4,
        max_size=4,
    ),
    nprobe=st.integers(min_value=1, max_value=3),
)
def test_imi_multisequence_emits_k_smallest_sums(spark, d0, d1, nprobe):
    """For ARBITRARY half-distance profiles the multi-sequence
    traversal must emit exactly the T = nprobe² joint cells with the
    smallest d0[i] + d1[j] (ties broken any way, but the SET of
    emitted sums must equal the T smallest sums — the Babenko &
    Lempitsky contract; a grid or an incomplete frontier both break
    it on asymmetric profiles)."""
    import numpy as np

    from big_data_lab_three_spark.operators.similarity import _imi_keys

    # place centroids at exact distances from the normalized halves of
    # a fixed query vector: c = half + [sqrt(d), 0]
    vec = [1.0, 0.0, 0.0, 1.0]
    nv = np.asarray(vec) / np.sqrt(2.0)
    b0 = [(nv[:2] + [np.sqrt(x), 0.0]).tolist() for x in d0]
    b1 = [(nv[2:] + [np.sqrt(x), 0.0]).tolist() for x in d1]
    df = spark.createDataFrame(
        [(1, vec)], "query_id: long, qvec: array<double>"
    )
    got = [
        r.cell
        for r in _imi_keys(df, [b0, b1], nprobe=nprobe, vec_col="qvec")
        .collect()
    ]
    t = nprobe * nprobe
    assert len(got) == t and len(set(got)) == t
    a0 = np.asarray([((nv[:2] - np.asarray(c)) ** 2).sum() for c in b0])
    a1 = np.asarray([((nv[2:] - np.asarray(c)) ** 2).sum() for c in b1])
    sums = np.sort((a0[:, None] + a1[None, :]).ravel())
    got_sums = np.sort([a0[c // 4] + a1[c % 4] for c in got])
    assert np.allclose(got_sums, sums[:t], atol=1e-9)


def test_opq_rotation_is_orthogonal_and_guarantee_preserving():
    """The learned OPQ matrix must be ORTHOGONAL (R·Rᵀ = I — the
    property that makes the rotation distance-preserving, hence the
    exact-duplicate guarantee rotation-invariant), and two identical
    vectors must encode to identical codes under (R, books) — pure
    numpy, no Spark."""
    import numpy as np

    from big_data_lab_three_spark.operators.similarity import _train_opq

    rng = np.random.default_rng(20260816)
    mat = rng.standard_normal((500, 16))
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    rot, books = _train_opq(mat, m=4, ksub=8, seed=7, max_iter=4)
    assert np.allclose(rot @ rot.T, np.eye(16), atol=1e-9)
    # duplicate → identical codes
    v = mat[3] @ rot
    dsub = 16 // 4
    codes = [
        (((v[j * dsub : (j + 1) * dsub] - books[j]) ** 2).sum(axis=1))
        .argmin()
        for j in range(4)
    ]
    v2 = mat[3].copy() @ rot
    codes2 = [
        (((v2[j * dsub : (j + 1) * dsub] - books[j]) ** 2).sum(axis=1))
        .argmin()
        for j in range(4)
    ]
    assert codes == codes2
    # rotation preserves pairwise distances (isometry)
    a, b = mat[0], mat[1]
    assert np.isclose(
        np.linalg.norm(a - b), np.linalg.norm(a @ rot - b @ rot)
    )


def test_ulm_fallback_floor_separates_sentinel_paths():
    """The frozen unigram apply's fallback detector: a token whose
    every segmentation crosses an unscored (sentinel) piece must land
    BELOW `_ULM_FALLBACK_FLOOR`, and a token with any fully-scored
    path must land ABOVE it — exercised on a crafted score table where
    'ab' has a clean path and 'ax' does not ('x' unscored)."""
    from big_data_lab_three_spark.queries.corpus import (
        _ULM_FALLBACK_FLOOR,
        _ulm_viterbi,
    )

    ps = {"a": -5_000_000, "b": -6_000_000, "ab": -4_000_000}
    got = {w: _ulm_viterbi(w, ps)[0] for w in ("ab", "ax")}
    assert got["ab"] > _ULM_FALLBACK_FLOOR
    # best clean path for 'ab' is the single piece: 16·s('ab') − 1
    assert got["ab"] == 16 * -4_000_000 - 1
    assert got["ax"] <= _ULM_FALLBACK_FLOOR
