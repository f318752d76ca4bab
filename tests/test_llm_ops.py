"""Ground-truth assertions for the approximate/rows-only LLM-pipeline
ops (the oracle-matched ones are covered by test_queries_oracle).

Each dedup query seeds its own duplicates, so the expected pair set is
known exactly — stronger than the driver's rows-only check.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from big_data_lab_three_spark.operators.similarity import brute_force_topk
from big_data_lab_three_spark.queries import load_all
from big_data_lab_three_spark.sources import table

REG = load_all()


def test_simhash_finds_all_seeded_duplicates(spark, sf_dir):
    rows = REG["dedup_simhash"].spark(spark, sf_dir).collect()
    seeded = {(i, i + 1000000) for i in range(0, 500, 5)}
    found = {(r.id_a, r.id_b) for r in rows}
    assert seeded <= found
    assert all(r.hamming == 0 for r in rows if (r.id_a, r.id_b) in seeded)


def test_minhash_lsh_finds_all_seeded_near_dups(spark, sf_dir):
    rows = REG["dedup_minhash_lsh"].spark(spark, sf_dir).collect()
    seeded = {(i, i + 1000000) for i in range(0, 500, 5)}
    found = {(r.id_a, r.id_b) for r in rows}
    assert seeded <= found
    assert all(r.jaccard >= 0.7 for r in rows)


def test_lsh_similarity_recall_against_brute_force(spark, sf_dir):
    """The registered query is now the one-row recall-audit gate (r4);
    per-row ranking invariants move to the operator itself."""
    import numpy as np

    from big_data_lab_three_spark.operators.similarity import (
        lsh_bucketed_topk,
    )

    audit = REG["similarity_lsh"].spark(spark, sf_dir).collect()
    assert len(audit) == 1
    assert audit[0].recall_floor_ok and audit[0].scores_match_exact

    rng = np.random.default_rng(7)
    planes = rng.standard_normal((32, 64)).tolist()
    e = table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") % 100 == 0)
    approx_rows = lsh_bucketed_topk(q, e, planes, tables=8, k=5).collect()
    assert len(approx_rows) > 0
    for r in approx_rows:
        assert 1 <= r.rank <= 5
        assert -1.0001 <= r.cos_sim <= 1.0001


def test_brute_force_topk_self_query_is_exact(spark, sf_dir):
    from big_data_lab_three_spark.sources import table

    e = table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") == 0)
    top = brute_force_topk(q, e, k=3).collect()
    assert len(top) == 3
    sims = [r.cos_sim for r in top]
    assert sims == sorted(sims, reverse=True)
    assert all(r.neighbor_id != 0 for r in top)


def test_embedding_near_dup_threshold_separates(spark, sf_dir):
    rows = REG["dedup_embedding"].spark(spark, sf_dir).collect()
    # exactly the 100 seeded rescaled copies, cosine ≈ 1
    assert len(rows) == 100
    assert all(r.cos_sim > 0.999 for r in rows)


def test_ivf_similarity_recall_against_brute_force(spark, sf_dir):
    """Audit gate booleans + per-query dense-rank invariants on the
    operator output (registered query is the one-row gate since r4)."""
    from big_data_lab_three_spark.operators.similarity import ivf_topk

    audit = REG["similarity_ivf"].spark(spark, sf_dir).collect()
    assert len(audit) == 1
    assert audit[0].recall_floor_ok and audit[0].scores_match_exact

    e = table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") % 100 == 0)
    approx_rows = ivf_topk(q, e, nlist=16, nprobe=4, k=5).collect()
    per_query = {}
    for r in approx_rows:
        assert 1 <= r.rank <= 5
        assert -1.0001 <= r.cos_sim <= 1.0001
        per_query.setdefault(r.query_id, []).append(r.rank)
    for ranks in per_query.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


def test_pq_similarity_recall_against_brute_force(spark, sf_dir):
    """PQ candidates come from 8-byte-code ADC distances; with 64
    candidates re-ranked exactly, the audit gate must pass, and the
    operator's returned ranks must be dense per query."""
    from big_data_lab_three_spark.operators.similarity import pq_topk

    audit = REG["similarity_pq"].spark(spark, sf_dir).collect()
    assert len(audit) == 1
    assert audit[0].recall_floor_ok and audit[0].scores_match_exact

    e = table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") % 100 == 0)
    approx_rows = pq_topk(q, e, m=8, ksub=16, k=5).collect()
    per_query = {}
    for r in approx_rows:
        assert 1 <= r.rank <= 5
        assert -1.0001 <= r.cos_sim <= 1.0001
        per_query.setdefault(r.query_id, []).append(r.rank)
    for ranks in per_query.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


def test_ivfpq_similarity_recall_against_brute_force(spark, sf_dir):
    """IVF-PQ composes cell pruning with residual-PQ byte compression;
    the audit gate (recall floor + independent rescore check) must pass
    and ranks must be dense per query — and an exact duplicate must
    come back at rank 1 (its ADC table sum is the strict lower bound
    within its own probed cell, see ivfpq_topk's docstring)."""
    from big_data_lab_three_spark.operators.similarity import ivfpq_topk

    audit = REG["similarity_ivfpq"].spark(spark, sf_dir).collect()
    assert len(audit) == 1
    assert audit[0].recall_floor_ok and audit[0].scores_match_exact

    e = table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") % 100 == 0)
    approx_rows = ivfpq_topk(
        q, e, nlist=16, nprobe=4, m=8, ksub=64, k=5, candidates=256
    ).collect()
    per_query = {}
    for r in approx_rows:
        assert 1 <= r.rank <= 5
        assert -1.0001 <= r.cos_sim <= 1.0001
        per_query.setdefault(r.query_id, []).append(r.rank)
    for ranks in per_query.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))

    dup_q = e.where(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"), "embedding"
    )
    top1 = ivfpq_topk(
        dup_q, e, nlist=16, nprobe=4, m=8, ksub=64, k=1, candidates=256
    ).collect()
    assert all(r.query_id - 1000000 == r.neighbor_id for r in top1)
    assert all(r.cos_sim > 0.9999 for r in top1)


def test_hybrid_rrf_fuses_both_legs(spark, sf_dir):
    """RRF output must carry contributions from BOTH legs: every row's
    rrf equals 1/(60+lex) + 1/(60+vec) for its (possibly null) leg
    ranks, at least one doc must appear in both legs at rank ≤ 50, and
    fused ordering must be rrf-desc with doc_id tiebreak."""
    rows = REG["hybrid_rrf_rank"].spark(spark, sf_dir).collect()
    assert 0 < len(rows) <= 20
    for r in rows:
        expect = sum(
            1.0 / (60 + rk)
            for rk in (r.lex_rank, r.vec_rank)
            if rk is not None
        )
        assert abs(r.rrf - round(expect, 6)) < 1e-9
        assert r.lex_rank is not None or r.vec_rank is not None
    assert any(
        r.lex_rank is not None and r.vec_rank is not None for r in rows
    ), "no doc ranked by both legs — fusion degenerate on this corpus"
    keys = [(-r.rrf, r.doc_id) for r in rows]
    assert keys == sorted(keys)


def test_mmr_select_diversifies(spark, sf_dir):
    """Synthetic pool with known geometry: two near-identical top
    candidates and one weaker-but-orthogonal one.  Relevance-only
    ranking returns the near-duplicate second; MMR (λ=0.7, μ=0.3) must
    defer it behind the orthogonal pick.  Also pins the negative-sim
    contract: an ANTI-correlated candidate's redundancy term must stay
    negative (a 0-floor bug would demote it)."""
    from big_data_lab_three_spark.operators.similarity import mmr_select

    # simq: a=.95, b=.94 (near-dup of a), c=.60 (orthogonal), d=.50
    # (anti-correlated with everything picked)
    cand = spark.createDataFrame(
        [(0, 1, 0.95), (0, 2, 0.94), (0, 3, 0.60), (0, 4, 0.50)],
        "query_id long, id long, simq double",
    )
    sims = {
        (1, 2): 0.99, (1, 3): 0.0, (1, 4): -0.8,
        (2, 3): 0.0, (2, 4): -0.8, (3, 4): -0.8,
    }
    pairs = spark.createDataFrame(
        [
            (0, a, b, s)
            for (x, y), s in sims.items()
            for a, b in ((x, y), (y, x))
        ],
        "query_id long, ia long, ib long, sim double",
    )
    rows = {
        r.pick: r
        for r in mmr_select(cand, pairs, k_select=4, lam=0.7, mu=0.3)
        .collect()
    }
    assert rows[1].id == 1  # pure relevance
    # near-dup of 1 scores .7*.94-.3*.99=.361; orthogonal c scores
    # .7*.60-0=.42; anti-correlated d scores .7*.50+.3*.8=.59 — the
    # negative redundancy term must PROMOTE d above both
    assert rows[2].id == 4 and abs(rows[2].mmr_score - 0.59) < 1e-9
    assert rows[3].id == 3
    assert rows[4].id == 2  # the near-duplicate comes last


def test_filtered_ann_respects_predicate(spark, sf_dir):
    """Every neighbor returned by the filtered search must satisfy the
    metadata predicate (pre-filter semantics, never post-filter)."""
    from big_data_lab_three_spark.sources import table as t

    rows = REG["filtered_ann_topk"].spark(spark, sf_dir).collect()
    assert rows
    eligible = {
        r.vec_id
        for r in t(spark, sf_dir, "embeddings")
        .where(F.col("label") == 3)
        .select("vec_id")
        .collect()
    }
    assert all(r.neighbor_id in eligible for r in rows)


def test_brute_force_near_dup_caps_driver_materialization(spark, sf_dir):
    """The brute-force baseline must refuse a frame larger than its
    explicit cap instead of silently collecting a corpus to the driver."""
    import pytest

    from big_data_lab_three_spark.operators.dedup import (
        embedding_near_dup_pairs,
    )

    e = table(spark, sf_dir, "embeddings")
    with pytest.raises(ValueError, match="brute-force"):
        embedding_near_dup_pairs(e, max_rows=10).collect()


def test_lsh_near_dup_matches_brute_force(spark, sf_dir):
    """The LSH-bucketed scale path must find exactly the pairs the
    exact brute-force baseline finds on the same (small) input —
    colinear duplicates collide in every table, so recall is 1 here."""
    from big_data_lab_three_spark.operators.dedup import (
        embedding_near_dup_pairs,
        embedding_near_dup_pairs_lsh,
    )

    e = table(spark, sf_dir, "embeddings").where(F.col("vec_id") % 7 == 0)
    dup = e.select(
        (F.col("vec_id") + 500000).alias("vec_id"),
        F.transform(F.col("embedding"), lambda x: x * 0.5).alias("embedding"),
    )
    u = e.select("vec_id", "embedding").unionByName(dup)
    exact = {
        (r.id_a, r.id_b)
        for r in embedding_near_dup_pairs(u, threshold=0.99).collect()
    }
    approx = {
        (r.id_a, r.id_b)
        for r in embedding_near_dup_pairs_lsh(u, threshold=0.99).collect()
    }
    assert exact == approx
    assert len(exact) > 0


def test_star_contraction_equals_label_propagation(spark):
    """On a mixed graph (short path + clique + tree) the star
    contraction and min-label propagation must produce identical
    labelings, and both must match ground truth."""
    from big_data_lab_three_spark.operators.dedup import (
        connected_components,
        connected_components_star,
    )

    chain = [(i, i + 1) for i in range(100, 108)]          # 9-node path
    clique = [(a, b) for a in range(5) for b in range(5) if a < b]
    extra = [(200, 205), (205, 201), (201, 209)]           # small tree
    pairs = spark.createDataFrame(
        chain + clique + extra, "id_a long, id_b long"
    )
    prop = {
        (r.id, r.cluster_id) for r in connected_components(pairs).collect()
    }
    star = {
        (r.id, r.cluster_id)
        for r in connected_components_star(pairs).collect()
    }
    assert star == prop
    assert {(i, 100) for i in range(100, 109)} <= star
    assert {(i, 0) for i in range(5)} <= star
    assert {(200, 200), (205, 200), (201, 200), (209, 200)} <= star


def test_star_contraction_handles_deep_chain_where_propagation_raises(spark):
    """A path whose diameter exceeds the propagation round budget: the
    label-prop variant must refuse (not silently mislabel), while the
    star contraction converges in O(log n) rounds with correct labels —
    and refuses too when even that budget is cut below O(log n)."""
    import pytest

    from big_data_lab_three_spark.operators.dedup import (
        connected_components,
        connected_components_star,
    )

    chain = [(i, i + 1) for i in range(100, 140)]          # 41-node path
    pairs = spark.createDataFrame(chain, "id_a long, id_b long")
    star = {
        (r.id, r.cluster_id)
        for r in connected_components_star(pairs).collect()
    }
    assert star == {(i, 100) for i in range(100, 141)}
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(pairs, max_iters=5).collect()
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components_star(pairs, max_iters=1).collect()


def test_sequence_packing_fills_and_partitions_exactly(spark, sf_dir):
    """Packing invariants the oracle can't state directly: every
    training sequence is exactly full except possibly each stream's
    last, and each document's per-sequence spans partition its token
    count with no loss and no overlap."""
    from pyspark.sql import Window

    from big_data_lab_three_spark.operators.text import (
        pack_sequences,
        token_count,
    )

    d = table(spark, sf_dir, "documents")
    packed = pack_sequences(d, seq_tokens=64, n_streams=8).persist()

    fill = (
        packed.groupBy("stream", "seq_id")
        .agg(F.sum("n_seq_tokens").alias("fill"))
        .withColumn(
            "is_last",
            F.col("seq_id")
            == F.max("seq_id").over(Window.partitionBy("stream")),
        )
    )
    bad = fill.where(~F.col("is_last") & (F.col("fill") != 64)).count()
    assert bad == 0, "a non-final sequence is not exactly full"

    per_doc = packed.groupBy("doc_id").agg(
        F.sum("n_seq_tokens").alias("covered")
    )
    truth = d.select(
        "doc_id", token_count(F.col("text")).cast("long").alias("n_tokens")
    ).where(F.col("n_tokens") > 0)
    mismatch = (
        per_doc.join(truth, "doc_id", "full")
        .where(
            F.col("covered").isNull()
            | F.col("n_tokens").isNull()
            | (F.col("covered") != F.col("n_tokens"))
        )
        .count()
    )
    assert mismatch == 0, "doc spans must partition its tokens exactly"
    packed.unpersist()


def test_pack_sequences_giant_document_fan_out(spark):
    """A document far longer than one sequence must fan out to exactly
    ceil(n/L) sequences with a full span in each interior one — the
    explode path the real-corpus test (short docs) barely exercises."""
    from big_data_lab_three_spark.operators.text import pack_sequences

    giant = " ".join(f"w{i}" for i in range(1000))  # 1000 tokens
    tiny = "a b c"
    df = spark.createDataFrame(
        [(1, giant), (2, tiny)], "doc_id long, text string"
    )
    out = pack_sequences(df, seq_tokens=64, n_streams=1).collect()
    g = sorted(
        (r.seq_id, r.seq_off, r.n_seq_tokens) for r in out if r.doc_id == 1
    )
    # 1003 total tokens; doc order within the stream is by doc_id, so
    # the giant doc occupies [0, 1000) → sequences 0..15
    assert len(g) == 16
    assert sum(n for _, _, n in g) == 1000
    interior = g[:-1]
    assert all(n == 64 for _, _, n in interior)
    assert g[-1][2] == 1000 - 15 * 64
    t = [(r.seq_id, r.seq_off, r.n_seq_tokens) for r in out if r.doc_id == 2]
    # tiny doc starts at offset 1000 in the stream: seq 15, off 40
    assert t == [(15, 1000 - 15 * 64, 3)]


def test_interleave_mix_is_proportional_in_prefix(spark):
    """While every group still has supply, each consecutive window of
    sum(weights) output positions contains exactly `weight` rows of
    each group — the defining property of stride scheduling."""
    from big_data_lab_three_spark.operators.text import interleave_mix

    rows = [(i, ["en", "fr"][i % 2]) for i in range(400)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = interleave_mix(
        df, {"en": 3, "fr": 1}, n_streams=1
    ).collect()
    # window = sum(weights) = 4 ranks: 3 en + 1 fr until fr runs long
    first = sorted((r.mix_rank, r.lang) for r in out)[:40]
    for w in range(10):
        window = [lang for _, lang in first[w * 4:(w + 1) * 4]]
        assert window.count("en") == 3 and window.count("fr") == 1


def test_connected_components_leaves_caller_conf_alone(spark):
    """r3: the CC loop pins its shuffle width in a CLONED session —
    the caller's spark.sql.shuffle.partitions must never change, even
    transiently observable after the call (the r2 implementation
    mutated the session-global conf for the loop's duration)."""
    from big_data_lab_three_spark.operators.dedup import (
        connected_components,
        connected_components_star,
    )

    before = spark.conf.get("spark.sql.shuffle.partitions")
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    for fn in (connected_components, connected_components_star):
        got = {
            (r.id, r.cluster_id)
            for r in fn(pairs, loop_partitions=3).collect()
        }
        assert got == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)}
        assert (
            spark.conf.get("spark.sql.shuffle.partitions") == before
        )


def test_span_mask_apply_matches_decontaminate_extents(spark, sf_dir):
    """The rewrite and the extents report are two views of one
    computation: per contaminated doc, span_mask_apply's masked-token
    count must equal span_decontaminate's union-of-intervals coverage."""
    ext = {
        r["corpus_doc"]: r["n_tokens_covered"]
        for r in REG["span_decontaminate"].spark(spark, sf_dir).collect()
    }
    msk = {
        r["doc_id"]: r["n_masked"]
        for r in REG["span_mask_apply"].spark(spark, sf_dir).collect()
    }
    assert ext == msk


def test_bpe_merge_fold_is_greedy_nonoverlapping():
    """The BPE merge must implement Sennrich's greedy left-to-right
    non-overlapping replacement exactly: runs of the merged pair
    collapse every OTHER position, and a merged token never re-matches
    as the left symbol."""
    from big_data_lab_three_spark.queries.corpus import _bpe_merge

    cases = [
        (["a", "a", "a"], "a", "a", ["aa", "a"]),
        (["a", "a", "a", "a"], "a", "a", ["aa", "aa"]),
        (["a", "b", "a", "b"], "a", "b", ["ab", "ab"]),
        (["x", "a", "b", "y"], "a", "b", ["x", "ab", "y"]),
        (["a", "b", "b"], "a", "b", ["ab", "b"]),
        (["b", "a"], "a", "b", ["b", "a"]),
        (["ab", "c"], "ab", "c", ["abc"]),
    ]
    for i, (syms, a, b, want) in enumerate(cases):
        got = _bpe_merge(syms, a, b)
        assert got == want, f"case {i}: {got} != {want}"


def _bpe_fixture_train(spark, fix, k):
    """``_bpe_train`` over a fixture's documents: the merge rows as
    tuples in rank order, and the final segmentation frame."""
    from big_data_lab_three_spark.queries.corpus import _bpe_train, _bpe_words

    docs = table(spark, str(fix), "documents")
    merges, seg = _bpe_train(_bpe_words(docs), k)
    return [tuple(r) for r in merges.orderBy("merge_rank").collect()], seg


def test_bpe_oracle_run_parity_uses_dense_span_index(spark, tmp_path):
    """ADVICE r11 regression: from round 2 onward surviving span
    positions have gaps, so a self-pair argmax over >=3 consecutive
    copies (('ab','ab') over the spans of 'abababab' after round 1)
    split into separate pos-based run groups and the oracle selected
    BOTH overlapping sites, deleting symbols from the span table.  The
    dense-seq run grouping must keep the DuckDB chain in lockstep with
    the (hypothesis-pinned) training stage, round by round."""
    import duckdb

    from big_data_lab_three_spark.queries.corpus import _bpe_oracle_rounds

    fix = tmp_path / "bpe_selfpair"
    fix.mkdir()
    spark.createDataFrame(
        [(1, "abababab xy"), (2, "abababab")],
        "doc_id bigint, text string",
    ).coalesce(1).write.parquet(str(fix / "documents.parquet"))

    k = 3
    merges, vocab = _bpe_fixture_train(spark, fix, k)

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{fix}/documents.parquet/*.parquet')"
    )
    sel = "\nUNION ALL ".join(
        f"SELECT CAST({r} AS INTEGER) AS rank, a, b, a || b AS merged, c "
        f"FROM t{r}"
        for r in range(1, k + 1)
    )
    want = [
        tuple(row)
        for row in con.execute(
            _bpe_oracle_rounds(k) + sel + " ORDER BY rank"
        ).fetchall()
    ]
    # round 2's argmax IS the self-pair run; round 3 diverges if the
    # oracle dropped a span (the pre-fix behavior picked (x,y) here)
    assert want == merges
    assert merges[1][1:3] == ("ab", "ab")
    assert merges[2][1:4] == ("abab", "abab", "abababab")

    # and the final span tables agree symbol-for-symbol
    oracle_syms = [
        tuple(row)
        for row in con.execute(
            _bpe_oracle_rounds(k)
            + f" SELECT w, list(sym ORDER BY pos) AS syms FROM s{k} "
            "GROUP BY w ORDER BY w"
        ).fetchall()
    ]
    spark_syms = sorted(
        (r["tok"], r["syms"]) for r in vocab.select("tok", "syms").collect()
    )
    assert oracle_syms == spark_syms


def test_bpe_fit_matches_oracle_on_a_large_vocabulary():
    """Scale evidence the test tiers (31 types) cannot give: 10^5
    generated types (16-letter alphabet, lengths 2-12, Zipf-weighted
    counts) trained by ``_bpe_fit`` and by the DuckDB chained-CTE
    oracle over the same table must agree on the merge table and on
    every word's final symbols.  Both times are printed."""
    import random
    import time

    import duckdb
    import pandas as pd

    from big_data_lab_three_spark.queries.corpus import (
        _bpe_fit,
        _bpe_merges_select,
        _bpe_oracle_rounds,
    )

    rng = random.Random(20261019)
    words: dict[str, int] = {}
    while len(words) < 100_000:
        w = "".join(
            rng.choice("abcdefghijklmnop") for _ in range(rng.randint(2, 12))
        )
        words.setdefault(w, 10_000 // (len(words) + 1) or 1)
    k = 10

    t0 = time.perf_counter()
    merges, segs = _bpe_fit(words, k)
    fit_s = time.perf_counter() - t0

    con = duckdb.connect()
    src = pd.DataFrame({"text": [" ".join([w] * c) for w, c in words.items()]})
    con.register("generated", src)
    sql = _bpe_oracle_rounds(k, "generated")
    t0 = time.perf_counter()
    want_merges = con.execute(
        f"{sql}\n{_bpe_merges_select(k)}\nORDER BY merge_rank"
    ).fetchall()
    want_segs = con.execute(
        f"{sql} SELECT w, list(sym ORDER BY pos) FROM s{k} GROUP BY w"
    ).fetchall()
    oracle_s = time.perf_counter() - t0
    print(f"10^5 types, K={k}: _bpe_fit {fit_s:.1f} s, DuckDB {oracle_s:.1f} s")

    assert len(merges) == k
    assert [tuple(m) for m in want_merges] == merges
    assert dict(want_segs) == segs


def test_ulm_fit_matches_oracle_on_a_large_vocabulary():
    """The unigram-LM twin of the BPE scale test: 10^5 generated types
    (16-letter alphabet, lengths 2-8, Zipf-weighted counts) trained
    for K=3 EM rounds by ``_ulm_fit`` and by the DuckDB convergence
    oracle over the same table must agree on every round's history
    row — model size, corpus-weighted piece count and score.  Both
    times are printed."""
    import random
    import time

    import duckdb
    import pandas as pd

    from big_data_lab_three_spark.queries.corpus import (
        _ULM_K_ROUNDS,
        _ulm_convergence_oracle,
        _ulm_fit,
    )

    rng = random.Random(20261020)
    words: dict[str, int] = {}
    while len(words) < 100_000:
        w = "".join(
            rng.choice("abcdefghijklmnop") for _ in range(rng.randint(2, 8))
        )
        words.setdefault(w, 10_000 // (len(words) + 1) or 1)
    k = _ULM_K_ROUNDS

    t0 = time.perf_counter()
    hist, segs = _ulm_fit(words, k)
    fit_s = time.perf_counter() - t0

    con = duckdb.connect()
    src = pd.DataFrame({"text": [" ".join([w] * c) for w, c in words.items()]})
    con.register("documents", src)
    t0 = time.perf_counter()
    want = con.execute(_ulm_convergence_oracle()).fetchall()
    oracle_s = time.perf_counter() - t0
    print(f"10^5 types, K={k}: _ulm_fit {fit_s:.1f} s, DuckDB {oracle_s:.1f} s")

    assert [tuple(r) for r in want] == hist
    assert hist[1][4] > 0  # the prune bites
    assert len(segs) == len(words)


def test_seeded_id_guards_fail_loud_on_collision(spark):
    """The seeded-id helpers (dedup._seed_id, corpus._cohort_id) must
    shift ids below their offset and ABORT — not silently alias — the
    moment a source id reaches the offset domain."""
    import pytest
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import SparkRuntimeException

    from big_data_lab_three_spark.queries.corpus import _cohort_id
    from big_data_lab_three_spark.queries.dedup import _seed_id

    ok = spark.createDataFrame([(7,)], "doc_id long")
    assert ok.select(_seed_id(F.col("doc_id")).alias("i")).first()["i"] == 1_000_007
    assert (
        ok.select(_cohort_id(F.col("doc_id"), 7_000_002).alias("i")).first()["i"]
        == 7_000_009
    )
    bad_seed = spark.createDataFrame([(1_000_000,)], "doc_id long")
    # ADVICE r13: the guard counts only ARITHMETICALLY COLLIDABLE
    # inter-offset gaps — a gap can alias two mod-8-filtered cohorts
    # only when (o_b - o_a) ≡ (r_a - r_b) (mod 8).  For the current
    # spec (all offsets ≡ 2 mod 8, residues 0/4/1/5) no pair
    # qualifies, so the guard binds at the smallest offset and a
    # doc_id at the old unconditional 500_000 min-gap bound (≈ the
    # sf10 tier's max doc_id) is safe, not an abort.
    from big_data_lab_three_spark.queries.corpus import (
        _COHORT_COLLIDABLE_GAPS,
        _COHORT_GUARD,
        _COHORT_SMALLEST_OFFSET,
    )

    assert _COHORT_COLLIDABLE_GAPS == ()
    assert _COHORT_GUARD == _COHORT_SMALLEST_OFFSET == 7_000_002
    sf10_like = spark.createDataFrame([(500_000,)], "doc_id long")
    assert (
        sf10_like.select(
            _cohort_id(F.col("doc_id"), 9_500_002).alias("i")
        ).first()["i"]
        == 10_000_002
    )
    bad_cohort = spark.createDataFrame([(7_000_002,)], "doc_id long")
    with pytest.raises((SparkRuntimeException, Py4JJavaError)):
        bad_seed.select(_seed_id(F.col("doc_id")).alias("i")).collect()
    with pytest.raises((SparkRuntimeException, Py4JJavaError)):
        bad_cohort.select(
            _cohort_id(F.col("doc_id"), 7_000_002).alias("i")
        ).collect()


def test_bpe_oracle_differential_on_random_corpora(spark, tmp_path):
    """DIFFERENTIAL pin for the whole BPE oracle construction (two
    advisor-found bugs lived here: run-parity grouping and, earlier,
    the greedy-window parity itself): on random small corpora drawn
    from a 2-letter alphabet — the regime where overlapping self-pair
    runs are common — the DuckDB chained-CTE oracle must match the
    training stage round-for-round, merges AND final span tables.
    Deterministic seed; a handful of adversarial corpora beats one
    hand-picked case."""
    import random

    import duckdb

    from big_data_lab_three_spark.queries.corpus import _bpe_oracle_rounds

    rng = random.Random(20260816)
    k = 2
    for case in range(6):
        words = [
            "".join(rng.choice("ab") for _ in range(rng.randint(1, 9)))
            for _ in range(rng.randint(2, 6))
        ]
        text = " ".join(words)
        fix = tmp_path / f"bpe_diff_{case}"
        fix.mkdir()
        spark.createDataFrame(
            [(1, text)], "doc_id bigint, text string"
        ).coalesce(1).write.parquet(str(fix / "documents.parquet"))

        merges, vocab = _bpe_fixture_train(spark, fix, k)

        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{fix}/documents.parquet/*.parquet')"
        )
        sel = "\nUNION ALL ".join(
            f"SELECT CAST({r} AS INTEGER) AS rank, a, b, a || b, c "
            f"FROM t{r}"
            for r in range(1, k + 1)
        )
        want = [
            tuple(row)
            for row in con.execute(
                _bpe_oracle_rounds(k) + sel + " ORDER BY rank"
            ).fetchall()
        ]
        assert want == merges, f"case {case} corpus {text!r}"
        oracle_syms = [
            tuple(row)
            for row in con.execute(
                _bpe_oracle_rounds(k)
                + f" SELECT w, list(sym ORDER BY pos) AS syms FROM s{k} "
                "GROUP BY w ORDER BY w"
            ).fetchall()
        ]
        spark_syms = sorted(
            (r["tok"], r["syms"])
            for r in vocab.select("tok", "syms").collect()
        )
        assert oracle_syms == spark_syms, f"case {case} corpus {text!r}"


def test_unigram_lm_convergence_improves_monotonically(spark, sf_dir):
    """The K=3 EM trajectory must show non-decreasing corpus-weighted
    segmentation score (prune + re-estimate cannot hurt the Viterbi
    optimum under the re-normalized model in this corpus — the
    convergence evidence r12 verdict item 5 asked for) and a
    consistent model-size accounting."""
    rows = (
        REG["unigram_lm_convergence"].spark(spark, sf_dir)
        .orderBy("round")
        .collect()
    )
    assert [r["round"] for r in rows] == [1, 2, 3]
    scores = [r["sum_score_weighted"] for r in rows]
    assert scores[0] <= scores[1] <= scores[2], scores
    assert scores[0] < scores[1], "round 2 must strictly improve"
    for r in rows:
        assert r["kept_pieces"] + r["pruned_pieces"] == (
            rows[0]["kept_pieces"]  # round 1 keeps the full inventory
        )
        assert r["corpus_cnt"] == rows[0]["corpus_cnt"]
    assert rows[1]["pruned_pieces"] > 0  # the prune actually bites


def test_bpe_corpus_apply_census_consistent_with_fertility(spark, sf_dir):
    """The corpus-level apply must agree with the (lang, tok)-rollup
    fertility query on the per-language totals — same merges, same
    corpus, two different plans."""
    apply_rows = {
        r["lang"]: r
        for r in REG["bpe_corpus_apply_census"].spark(spark, sf_dir).collect()
    }
    fert_rows = {
        r["lang"]: r
        for r in REG["bpe_fertility_by_lang"].spark(spark, sf_dir).collect()
    }
    assert set(apply_rows) == set(fert_rows)
    for lang, a in apply_rows.items():
        f = fert_rows[lang]
        assert a["n_tokens"] == f["n_tokens"]
        assert a["n_pieces"] == f["n_syms"]
        assert a["fertility_micro"] == f["fertility_micro"]
        # per-doc tail is at least the mean
        assert a["worst_doc_fertility_micro"] >= a["fertility_micro"]


def test_quality_classifier_separates_seeded_cohorts(spark, sf_dir):
    """The NB-weighted linear score must recover the seeded good/bad
    split with high held-out accuracy, keep honest false negatives
    (markerless bad docs), and avoid false positives (no good doc
    carries spam markers, so none should be dropped)."""
    rows = (
        REG["quality_classifier_census"].spark(spark, sf_dir).collect()
    )
    ho = {}
    for r in rows:
        key = (r["cohort"], r["predicted"])
        ho[key] = ho.get(key, 0) + r["n_heldout"]
    correct = ho.get(("good", "good"), 0) + ho.get(("bad", "bad"), 0)
    total = sum(ho.values())
    assert total > 0
    assert correct / total >= 0.9, ho
    assert ho.get(("good", "bad"), 0) == 0, (
        "good docs carry no markers — none should be dropped"
    )
    assert ho.get(("bad", "bad"), 0) > 0, "the signal must be learned"


def test_tokenizer_families_apply_to_same_corpus_grain(spark, sf_dir):
    """The BPE and unigram corpus applies must agree on everything
    that does not depend on the trained model (doc counts, token
    counts, char counts) — two tokenizer families, one corpus."""
    bpe = {
        r["lang"]: r
        for r in REG["bpe_corpus_apply_census"].spark(spark, sf_dir).collect()
    }
    ulm = {
        r["lang"]: r
        for r in REG["unigram_corpus_apply_census"]
        .spark(spark, sf_dir)
        .collect()
    }
    assert set(bpe) == set(ulm)
    for lang in bpe:
        for col in ("n_docs", "n_tokens", "n_chars", "tokens_per_doc_micro"):
            assert bpe[lang][col] == ulm[lang][col], (lang, col)
        assert ulm[lang]["n_pieces"] >= ulm[lang]["n_tokens"]


def test_imi_similarity_audit_and_duplicate_guarantee(spark, sf_dir):
    """The inverted multi-index gate must pass its audit row, and the
    operator must honor the exact-duplicate guarantee: a query vector
    identical to a corpus vector shares both half-argmin cells, so
    the duplicate always survives the joint-cell probe and ranks
    first on the exact rescore."""
    from big_data_lab_three_spark.operators.similarity import imi_topk

    audit = REG["similarity_imi"].spark(spark, sf_dir).collect()
    assert len(audit) == 1
    assert audit[0].recall_floor_ok and audit[0].scores_match_exact

    e = table(spark, sf_dir, "embeddings")
    # self-query: every vector's top-1 (excluding itself) under a
    # duplicate-free probe set; plant explicit duplicates instead
    dup = e.where(F.col("vec_id") % 50 == 0).select(
        (F.col("vec_id") + 9_000_000).alias("vec_id"), "embedding"
    )
    rows = imi_topk(dup, e, ksub=8, nprobe=1, k=1).collect()
    got = {r.query_id: r for r in rows}
    want = {r["vec_id"] + 9_000_000 for r in
            e.where(F.col("vec_id") % 50 == 0).select("vec_id").collect()}
    assert set(got) == want
    for qid, r in got.items():
        assert r.neighbor_id == qid - 9_000_000
        assert abs(r.cos_sim - 1.0) < 1e-6


def test_imi_multisequence_probes_best_sum_cells(spark):
    """The query-side probe set must be the T = nprobe² joint cells
    with the SMALLEST d0[i] + d1[j] (Babenko & Lempitsky 2012 §3
    multi-sequence traversal), not the cartesian top-nprobe-per-half
    grid: with asymmetric half-distances the grid provably picks a
    near×far pair over a better-sum cell, so the two orders differ on
    this fixture and the test fails against the r13 grid code."""
    import numpy as np

    from big_data_lab_three_spark.operators.similarity import _imi_keys

    # 4-dim vectors, halves of 2; centroids placed at controlled
    # squared distances from the NORMALIZED query halves so the sums
    # interleave: best-4-by-sum = {(0,0) 0.0, (2,0) 0.1, (0,1) 0.2,
    # (0,2) 0.25} while the top-2-per-half grid takes (2,1) 0.3
    # instead of (0,2) — the exact near×far waste the traversal fixes.
    vec = [1.0, 0.0, 0.0, 1.0]
    nv = np.asarray(vec) / np.sqrt(2.0)
    q0, q1 = nv[:2], nv[2:]
    b0 = [(q0 + [np.sqrt(d), 0.0]).tolist() for d in (0.0, 5.0, 0.1, 100.0)]
    b1 = [(q1 + [np.sqrt(d), 0.0]).tolist() for d in (0.0, 0.2, 0.25, 100.0)]
    df = spark.createDataFrame(
        [(1, vec)], "query_id: long, qvec: array<double>"
    )
    got = {
        r.cell
        for r in _imi_keys(df, [b0, b1], nprobe=2, vec_col="qvec")
        .collect()
    }
    v = np.asarray(vec, dtype=np.float64)
    v = v / np.linalg.norm(v)
    d0 = ((v[:2] - np.asarray(b0)) ** 2).sum(axis=1)
    d1 = ((v[2:] - np.asarray(b1)) ** 2).sum(axis=1)
    sums = d0[:, None] + d1[None, :]
    want = {
        int(i) * 4 + int(j)
        for i, j in zip(*np.unravel_index(np.argsort(sums, axis=None)[:4],
                                          sums.shape))
    }
    assert got == want
    # and the grid order would have differed (fixture sanity check):
    grid = {
        int(i) * 4 + int(j)
        for i in np.argsort(d0)[:2]
        for j in np.argsort(d1)[:2]
    }
    assert grid != want


def test_unigram_oracle_differential_on_random_corpora(spark, tmp_path):
    """DIFFERENTIAL pin for the whole unigram-LM oracle construction
    (DP, packed-state argmax, traceback re-derivation, prune +
    re-estimate across 3 rounds): the registry fixture's vocabulary is
    only ~31 words, so random small corpora from a 2-letter alphabet —
    the regime where segmentations tie and the packed (score, pieces)
    lexicographic argmax does real work — must match between the Spark
    loop and the DuckDB chained-CTE oracle, round-for-round."""
    import random

    import duckdb

    from big_data_lab_three_spark.queries import load_all

    reg = load_all()
    q = reg["unigram_lm_convergence"]
    rng = random.Random(20260816)
    for case in range(4):
        words = [
            "".join(rng.choice("ab") for _ in range(rng.randint(1, 8)))
            for _ in range(rng.randint(2, 7))
        ]
        # one out-of-unroll word: both engines must EXCLUDE it from the
        # in-scope census identically, never crash or miscount
        words.append("abababababab")
        text = " ".join(words)
        fix = tmp_path / f"ulm_diff_{case}"
        fix.mkdir()
        spark.createDataFrame(
            [(1, text)], "doc_id bigint, text string"
        ).coalesce(1).write.parquet(str(fix / "documents.parquet"))

        got = [
            tuple(r)
            for r in q.spark(spark, str(fix)).orderBy("round").collect()
        ]
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{fix}/documents.parquet/*.parquet')"
        )
        want = [tuple(r) for r in con.execute(q.oracle).fetchall()]
        assert got == want, f"case {case} corpus {text!r}"


def _tie_corpus(spark):
    """Query 10 plus a corpus holding it, two neighbours (3 and 2, in
    that order) at the identical cosine 1/√2, one orthogonal and one
    opposite vector."""
    rows = [
        (10, [1.0, 0.0, 0.0, 0.0]),
        (3, [1.0, 1.0, 0.0, 0.0]),
        (2, [1.0, 0.0, 1.0, 0.0]),
        (1, [0.0, 0.0, 0.0, 1.0]),
        (5, [-1.0, 0.0, 0.0, 0.0]),
    ]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    return corpus.where(F.col("vec_id") == 10), corpus


def test_topk_tail_breaks_cosine_ties_on_lower_neighbor_id(spark):
    q, corpus = _tie_corpus(spark)
    top = brute_force_topk(q, corpus, k=2).orderBy("rank").collect()
    assert [(r.neighbor_id, r.rank) for r in top] == [(2, 1), (3, 2)]
    assert top[0].cos_sim == top[1].cos_sim


def test_topk_tail_excludes_the_self_match(spark):
    q, corpus = _tie_corpus(spark)
    top = brute_force_topk(q, corpus, k=1).collect()
    assert [(r.query_id, r.neighbor_id) for r in top] == [(10, 2)]


def test_topk_tail_k_above_candidate_count_returns_every_candidate(spark):
    q, corpus = _tie_corpus(spark)
    top = brute_force_topk(q, corpus, k=10).orderBy("rank").collect()
    assert [(r.neighbor_id, r.rank) for r in top] == [
        (2, 1), (3, 2), (1, 3), (5, 4)
    ]


def _lsh(q, e, k):
    import numpy as np

    from big_data_lab_three_spark.operators.similarity import (
        lsh_bucketed_topk,
    )

    planes = np.random.default_rng(7).standard_normal((32, 64)).tolist()
    return lsh_bucketed_topk(q, e, planes, tables=8, k=k)


def _ann_operators():
    from big_data_lab_three_spark.operators import similarity as s

    return {
        "brute_force_topk": lambda q, e: s.brute_force_topk(q, e, k=5),
        "lsh_bucketed_topk": lambda q, e: _lsh(q, e, k=5),
        "ivf_topk": lambda q, e: s.ivf_topk(q, e, nlist=16, nprobe=4, k=5),
        "pq_topk": lambda q, e: s.pq_topk(q, e, m=8, ksub=16, k=5),
        "ivfpq_topk": lambda q, e: s.ivfpq_topk(
            q, e, nlist=16, nprobe=4, m=8, ksub=16, k=5
        ),
        "imi_topk": lambda q, e: s.imi_topk(q, e, ksub=8, nprobe=2, k=5),
    }


@pytest.mark.parametrize("op", sorted(_ann_operators()))
def test_ann_operator_output_schema(spark, sf_dir, op):
    """Every ``*_topk`` operator returns the shared tail's schema."""
    e = table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") % 100 == 0)
    df = _ann_operators()[op](q, e)
    assert df.dtypes == [
        ("query_id", "bigint"),
        ("neighbor_id", "bigint"),
        ("cos_sim", "double"),
        ("rank", "int"),
    ]


@pytest.mark.parametrize("n_planes, tables", [(30, 8), (64, 1)])
def test_hyperplane_keys_rejects_bad_plane_split(spark, n_planes, tables):
    """Leftover planes (30 over 8 tables) and a table wider than 63
    bits (64 over 1) both raise instead of silently mis-keying."""
    from big_data_lab_three_spark.operators.similarity import hyperplane_keys

    df = spark.createDataFrame([(1, [1.0, 0.0])], "id long, v array<double>")
    planes = [[1.0, 0.0]] * n_planes
    with pytest.raises(ValueError):
        hyperplane_keys(df, planes, tables, vec_col="v")
