"""Text-analysis operators for training-data pipelines: token counting,
quality scoring, language ID, document fingerprinting.

These extend the reference (whose only text op is label binarization,
``src/preprocess.py:84``) with the ops a 100 TB document pipeline needs.
Everything is built-in-function Spark — per-document work is a pure
projection (embarrassingly parallel, no shuffle), so throughput scales
linearly with executors.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from big_data_lab_three_spark.functions.text import md5_hex, shingles, tokens

# Tiny per-language stopword/marker sets for the n-gram-free heuristic
# language ID.  Deterministic tie-break: language list order.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "is"],
    "fr": ["le", "la", "les", "et", "est"],
    "de": ["der", "die", "und", "ist", "das"],
    "es": ["el", "los", "las", "y", "es"],
}

# Every document operator reads the ``documents`` table's columns.
_TEXT_COL = "text"
_ID_COL = "doc_id"

# Okapi BM25 term-saturation and length-normalization constants.
_BM25_K1 = 1.2
_BM25_B = 0.75

# A BPE-ish word/number/punctuation splitter: runs of letters, runs of
# digits, or single non-space symbols — the common pre-tokenizer shape.
BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def token_count(text: Column, bpe: bool = False) -> Column:
    """Token count: whitespace tokens, or BPE-ish regex pieces."""
    if bpe:
        return F.size(F.regexp_extract_all(text, F.lit(BPE_ISH_PATTERN), 0))
    return F.size(tokens(text))


def quality_metrics(df: DataFrame) -> DataFrame:
    """Per-document quality signals: char/token counts, average token
    length, stopword fraction, punctuation fraction.

    One projection pass; all ratios are exact integer divisions so the
    numbers are reproducible bit-for-bit across engines.
    """
    t = F.col(_TEXT_COL)
    toks = tokens(t)
    n_toks = F.size(toks)
    tok_chars = F.aggregate(
        F.transform(toks, lambda x: F.length(x)), F.lit(0), lambda a, x: a + x
    )
    stop = F.size(
        F.filter(toks, lambda x: x.isin(*LANG_MARKERS["en"]))
    )
    punct = F.length(t) - F.length(F.regexp_replace(t, r"[.,!?;:]", ""))
    return df.withColumns(
        {
            "n_chars": F.length(t).cast("long"),
            "n_tokens": n_toks.cast("long"),
            "avg_token_len": tok_chars.cast("double") / n_toks,
            "stopword_frac": stop.cast("double") / n_toks,
            "punct_frac": punct.cast("double") / F.length(t),
        }
    )


def repetition_metrics(df: DataFrame) -> DataFrame:
    """Per-document repetition and shape signals — the Gopher-style
    quality rules (Rae et al. 2021, "Scaling Language Models", App. A)
    a pretraining pipeline applies before anything model-based:

    - ``dup_2gram_frac``: fraction of word-2-grams that are repeats of
      an earlier 2-gram (boilerplate / keyword-stuffing detector);
    - ``mean_tok_len``: mean word length (gibberish and symbol-soup
      drift far from natural-language 3-10);
    - ``symbol_frac``: non-alphanumeric, non-whitespace characters over
      all characters (markup and encoding-junk detector).

    One projection pass over built-in array/string expressions — no
    shuffle, no Python; throughput is scan-bound and scales with
    executors.  All three are ratios of exact integer counts, so both
    engines reproduce them bit-for-bit before any rounding."""
    t = F.col(_TEXT_COL)
    toks = tokens(t)
    n_toks = F.size(toks)
    sh2 = shingles(toks, 2)
    n_sh = F.size(sh2)
    tok_chars = F.aggregate(
        F.transform(toks, lambda x: F.length(x)), F.lit(0), lambda a, x: a + x
    )
    symbols = F.length(t) - F.length(
        F.regexp_replace(t, r"[A-Za-z0-9\s]", "")
    )
    return df.withColumns(
        {
            "n_tokens": n_toks.cast("long"),
            "dup_2gram_frac": F.when(
                n_sh > 0,
                1.0 - F.size(F.array_distinct(sh2)).cast("double") / n_sh,
            ).otherwise(F.lit(0.0)),
            "mean_tok_len": F.when(
                n_toks > 0, tok_chars.cast("double") / n_toks
            ).otherwise(F.lit(0.0)),
            "symbol_frac": F.when(
                F.length(t) > 0,
                symbols.cast("double") / F.length(t),
            ).otherwise(F.lit(0.0)),
        }
    )


# Gopher-inspired keep-rules over repetition_metrics (documented
# thresholds, tuned to the synthetic corpus's 10-99-token documents).
GOPHER_MIN_TOKENS = 30
GOPHER_MEAN_TOK_LEN = (3.0, 12.0)
GOPHER_MAX_DUP_2GRAM = 0.2
GOPHER_MAX_SYMBOL = 0.1


def gopher_keep(df: DataFrame) -> DataFrame:
    """Boolean ``keep`` column from the Gopher-style rules — expects
    :func:`repetition_metrics` columns on ``df``."""
    lo, hi = GOPHER_MEAN_TOK_LEN
    return df.withColumn(
        "keep",
        (F.col("n_tokens") >= GOPHER_MIN_TOKENS)
        & F.col("mean_tok_len").between(lo, hi)
        & (F.col("dup_2gram_frac") <= GOPHER_MAX_DUP_2GRAM)
        & (F.col("symbol_frac") <= GOPHER_MAX_SYMBOL),
    )


def lang_id_table(df: DataFrame) -> DataFrame:
    """Language ID as ``(id, predicted_lang)`` via explode + one
    hash-aggregate: token rows get one conditional-sum per candidate
    language, argmax runs over the four post-aggregation COLUMNS
    (attribute refs, not re-derived expressions), ties going to the
    first language in ``LANG_MARKERS`` order.  Everything stays in
    whole-stage codegen — an argmax over per-row marker-count
    expressions re-tokenizes per CASE branch through duplicated
    higher-order-function subtrees (CodegenFallback, interpreted).
    Token-less and marker-less documents fall back to ``"en"``."""
    toks = df.select(
        F.col(_ID_COL).alias("_lid_id"),
        F.explode(tokens(F.lower(F.col(_TEXT_COL)))).alias("_tok"),
    )
    scores = toks.groupBy("_lid_id").agg(
        *[
            F.sum(F.col("_tok").isin(*markers).cast("int")).alias(f"_s_{lang}")
            for lang, markers in LANG_MARKERS.items()
        ]
    )
    langs = list(LANG_MARKERS)
    best = F.greatest(*[F.col(f"_s_{lang}") for lang in langs])
    expr = F.lit("en")
    for lang in reversed(langs):
        expr = F.when(
            (best > 0) & (F.col(f"_s_{lang}") == best), F.lit(lang)
        ).otherwise(expr)
    scored = scores.select("_lid_id", expr.alias("predicted_lang"))
    return (
        df.select(F.col(_ID_COL))
        .join(scored, F.col(_ID_COL) == F.col("_lid_id"), "left")
        .select(
            _ID_COL,
            F.coalesce("predicted_lang", F.lit("en")).alias(
                "predicted_lang"
            ),
        )
    )


def fingerprint(df: DataFrame) -> DataFrame:
    """Document fingerprinting: whole-content md5 plus a min-shingle
    fingerprint (md5 over 3-gram shingles, minimum taken — the 1-perm
    minhash / winnowing-lite sketch).  Portable: md5 is identical across
    engines, so fingerprints computed here match any other stack's.

    Shingle hashing runs as explode + ``min`` hash-aggregate (codegen,
    map-side combined); documents with <3 tokens fall back to the
    content hash via the left join's NULL."""
    t = F.col(_TEXT_COL)
    base = df.withColumn("content_md5", md5_hex(t))
    mins = (
        df.select(
            F.col(_ID_COL).alias("_fp_id"),
            F.explode(shingles(tokens(t), 3)).alias("_sh"),
        )
        .groupBy("_fp_id")
        .agg(F.min(md5_hex(F.col("_sh"))).alias("_min_md5"))
    )
    return (
        base.join(mins, F.col(_ID_COL) == F.col("_fp_id"), "left")
        .withColumn(
            "min_shingle_md5",
            F.coalesce(F.col("_min_md5"), F.col("content_md5")),
        )
        .drop("_fp_id", "_min_md5")
    )


def tfidf_top_terms(df: DataFrame, k: int = 3) -> DataFrame:
    """Top-``k`` TF-IDF terms per document as ``(doc_id, term, rank,
    tfidf)`` — the classic corpus-weighting step of a training-data
    pipeline (keyword extraction, quality filtering, near-dup features).

    Smoothed IDF: ``ln((N + 1) / (df + 1)) + 1`` (sklearn's
    ``smooth_idf`` formula — never divides by zero, never goes
    negative).

    Shuffle profile at 100 TB: explode happens map-side; the (doc,
    term) frequency aggregate partially combines before its exchange;
    document frequency aggregates the ALREADY-distinct (doc, term)
    pairs, so the vocabulary exchange carries term+count only; the
    corpus size N broadcasts as a one-row cross join (never a
    driver-side collect); the tf⋈idf join shuffles on term
    (vocabulary-sized, AQE will broadcast it when small); the final
    top-k is one window pass per document partition.  Ranking is
    deterministic across engines: equal document frequencies give
    bit-identical idf doubles (exact ties, broken by term), and
    unequal ones differ by far more than the 1-ULP libm drift.
    """
    toks = df.select(
        F.col(_ID_COL).alias("doc_id"),
        F.explode(tokens(F.col(_TEXT_COL))).alias("term"),
    )
    # tf feeds BOTH the document-frequency aggregate and the scoring
    # join — persist it so the corpus-wide explode+aggregate (the
    # expensive stage at 100 TB) runs once, not once per branch.
    tf = (
        toks.groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .persist()
    )
    docfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = df.agg(F.count(F.lit(1)).alias("n_docs"))
    idf = docfreq.crossJoin(F.broadcast(n)).select(
        F.col("term").alias("idf_term"),
        (
            F.log((F.col("n_docs") + F.lit(1.0)) / (F.col("df") + F.lit(1)))
            + F.lit(1.0)
        ).alias("idf"),
    )
    scored = tf.join(idf, F.col("term") == F.col("idf_term")).select(
        "doc_id", "term", (F.col("tf") * F.col("idf")).alias("tfidf")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("doc_id", "term", "rank", "tfidf")
    )


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int = 32,
    stride: int = 16,
) -> DataFrame:
    """Sliding-window document chunking — the sequence-packing step of
    an LLM training pipeline: each document becomes overlapping
    ``chunk_tokens``-token windows advancing by ``stride``.

    Window starts are ``1, 1+stride, …``; the last start is the first
    one whose window reaches the end of the document, so EVERY token is
    covered (the final window overlaps more than ``stride`` when the
    token count isn't stride-aligned — never silently drops the tail).
    A document shorter than one window yields a single partial chunk.
    All of it is one generated-column
    projection — ``sequence`` builds the starts, ``transform`` slices
    each window, ``explode`` emits chunk rows map-side.  No shuffle, no
    UDF: chunking 100 TB scales with input splits, and the downstream
    (doc_id, chunk_start) key is deterministic for exactly-once
    re-runs."""
    toks = tokens(F.col(_TEXT_COL))
    n = F.size(toks)
    # last window index: ceil((n - chunk) / stride) in integer math,
    # clamped at 0 — its window [1 + stride*k, +chunk) always reaches n
    k_last = F.greatest(
        F.floor(
            (n - F.lit(chunk_tokens) + F.lit(stride - 1)) / F.lit(stride)
        ).cast("int"),
        F.lit(0),
    )
    starts = F.sequence(
        F.lit(1), F.lit(1) + F.lit(stride) * k_last, F.lit(stride)
    )
    chunk = F.explode(
        F.transform(
            starts,
            lambda s: F.struct(
                s.alias("chunk_start"),
                F.slice(toks, s, chunk_tokens).alias("ctoks"),
            ),
        )
    )
    return df.select(F.col(_ID_COL).alias("doc_id"), chunk.alias("ch")).select(
        "doc_id",
        F.col("ch.chunk_start").alias("chunk_start"),
        F.size("ch.ctoks").alias("n_chunk_tokens"),
        F.concat_ws(" ", "ch.ctoks").alias("chunk_text"),
    )


def pack_sequences(
    df: DataFrame,
    seq_tokens: int = 64,
    n_streams: int = 8,
) -> DataFrame:
    """Sequence packing — concatenate documents into a token stream and
    map each onto fixed-length training sequences (the GPT-style "pack
    then split at exact boundaries" layout, the complement of
    :func:`chunk_documents`' per-document windows).

    Every document is assigned to one of ``n_streams`` parallel token
    streams by content hash (same portability rationale as
    :func:`shard_assignments`), ordered deterministically inside its
    stream, and given its absolute token interval [tok_start, tok_end)
    via a running sum.  A training sequence is tokens
    [k·L, (k+1)·L) of a stream, so the document overlaps sequences
    floor(tok_start/L) … floor((tok_end−1)/L) — emitted with
    ``sequence``+``explode`` and per-sequence token spans, exactly what
    a loader needs to assemble attention-masked packed batches.

    Scale shape: ONE window (the per-stream running sum — streams keep
    every partition's sort local-sized and the whole corpus parallel;
    at 100 TB raise ``n_streams`` to executor count) + a map-side
    explode whose fan-out is ⌈doc_tokens/L⌉.  No Python, no second
    shuffle; output is keyed (stream, seq_id) so shard writes are
    ``repartition + partitionBy`` file-pruned reads."""
    n_tok = F.size(tokens(F.col(_TEXT_COL)))
    stream = F.pmod(
        F.conv(F.substring(md5_hex(F.col(_TEXT_COL)), 1, 8), 16, 10).cast(
            "long"
        ),
        F.lit(n_streams),
    ).cast("int")
    base = df.select(
        F.col(_ID_COL).alias("doc_id"),
        stream.alias("stream"),
        n_tok.alias("n_tokens"),
    ).where(F.col("n_tokens") > 0)
    w = (
        Window.partitionBy("stream")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    spans = base.select(
        "doc_id",
        "stream",
        "n_tokens",
        (F.sum("n_tokens").over(w) - F.col("n_tokens")).alias("tok_start"),
        F.sum("n_tokens").over(w).alias("tok_end"),
    )
    L = F.lit(seq_tokens)
    # `div` (integral), not `/`: float division floors incorrectly once
    # a stream's token offset exceeds double's 53-bit mantissa.
    seq = F.explode(
        F.sequence(
            F.expr(f"tok_start div {seq_tokens}"),
            F.expr(f"(tok_end - 1) div {seq_tokens}"),
        )
    ).alias("seq_id")
    return spans.select("doc_id", "stream", "tok_start", "tok_end", seq).select(
        "stream",
        F.col("seq_id").cast("long").alias("seq_id"),
        "doc_id",
        # the document's token span WITHIN this sequence
        F.greatest(F.col("tok_start") - F.col("seq_id") * L, F.lit(0))
        .cast("long")
        .alias("seq_off"),
        (
            F.least(F.col("tok_end") - F.col("seq_id") * L, L)
            - F.greatest(F.col("tok_start") - F.col("seq_id") * L, F.lit(0))
        )
        .cast("long")
        .alias("n_seq_tokens"),
    )


def interleave_mix(
    df: DataFrame,
    weights: dict[str, int],
    n_streams: int = 8,
) -> DataFrame:
    """Deterministic proportional data-mix interleaving — the sampling
    schedule of a training pipeline: order documents so that every
    window of the output stream contains the sources in ``weights``
    proportion (stride scheduling, the same scheme WFQ/SMOOTH-WRR use),
    with no RNG so re-runs and engines agree row-for-row.

    Each group's k-th document gets virtual position
    ``(2k−1) · (W/w_g)`` (W = lcm of weights — INTEGER positions, so
    cross-engine float ties cannot exist); sorting by position yields
    the proportional interleave.  Groups are ``lang`` values; a group's
    documents stay in ``doc_id`` order; unlisted groups default to
    weight 1.

    Scale shape: the schedule is computed independently per
    ``doc_id % n_streams`` stream, so the only windows are
    stream-partitioned (parallelism = n_streams; raise it to executor
    count at scale — training consumes shards independently anyway).
    Two stream-local window passes, no global sort, no shuffle beyond
    the stream partitioning."""
    import math

    W = math.lcm(*weights.values()) if weights else 1
    stride = F.lit(W)  # default weight 1 → stride W
    for g, wgt in weights.items():
        stride = F.when(F.col("lang") == g, F.lit(W // wgt)).otherwise(
            stride
        )
    stream = F.pmod(F.col(_ID_COL), F.lit(n_streams)).cast("int")
    base = df.select(
        F.col(_ID_COL).alias("doc_id"),
        F.col("lang").alias("grp"),
        stream.alias("stream"),
        stride.alias("_stride"),
    )
    w_grp = Window.partitionBy("stream", "grp").orderBy("doc_id")
    # row_number() is IntegerType — cast to long BEFORE the arithmetic,
    # or the product wraps at 2^31 (~270M rows/group at stride 4) and
    # silently scrambles the interleave.
    rn = F.row_number().over(w_grp).cast("long")
    pos = (2 * rn - 1) * F.col("_stride").cast("long")
    ranked = base.select("stream", "grp", "doc_id", pos.alias("_pos"))
    w_mix = Window.partitionBy("stream").orderBy("_pos", "grp", "doc_id")
    return ranked.select(
        "stream",
        F.row_number().over(w_mix).cast("long").alias("mix_rank"),
        F.col("grp").alias("lang"),
        "doc_id",
    )


def shard_assignments(
    df: DataFrame,
    n_shards: int = 64,
) -> DataFrame:
    """Deterministic training-shard assignment: shard = first 8 hex
    digits of md5(content), mod ``n_shards``.

    Content-hash sharding (not ``monotonically_increasing_id``, not
    round-robin) so the assignment is (a) reproducible across runs,
    partitionings, and engines — md5 is bit-portable, unlike
    xxhash64/``F.hash`` — and (b) stable under corpus re-ordering:
    re-running the pipeline after an upstream re-shuffle lands every
    document in the same shard, which makes shard-level incremental
    re-builds possible.  Writing the shards is then
    ``df.repartition(n_shards, 'shard').write.partitionBy('shard')``."""
    return df.select(
        F.col(_ID_COL).alias("doc_id"),
        shard_expr(F.col(_TEXT_COL), n_shards).alias("shard"),
    )


def shard_expr(text: Column, n_shards: int = 64) -> Column:
    """The shard rule of :func:`shard_assignments` as a reusable column
    expression — first 8 hex digits of md5(content), mod ``n_shards``
    (engine-portable; one rule, every consumer)."""
    return F.pmod(
        F.conv(F.substring(md5_hex(text), 1, 8), 16, 10).cast("long"),
        F.lit(n_shards),
    ).cast("int")


def bm25_topk(
    docs: DataFrame,
    terms: Sequence[str],
    k: int = 20,
) -> DataFrame:
    """Okapi BM25 retrieval scoring for a fixed query-term set — the
    lexical ranking half of a retrieval pipeline (the dense half is
    ``operators.similarity``), and the standard relevance baseline a
    training-data search index serves.

    score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)),
    with the customary k1 = 1.2, b = 0.75 (``_BM25_K1``, ``_BM25_B``),
    idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5))   (Robertson/Sparck Jones)

    Scale shape — the part that matters at 100 TB:

    - document length ``dl`` is a pure projection (``size(tokens)``),
      NO explode and NO corpus-wide length join: the token explode
      carries ``dl`` alongside each term row;
    - the posting filter ``term IN query`` evaluates MAP-SIDE, directly
      on the exploded iterator, so only the query terms' postings ever
      shuffle (the inverted-index lookup, not an index build);
    - ``df`` (|terms| rows) and the (N, avgdl) scalar ride broadcasts;
    - the final top-k is ``orderBy·limit`` (per-partition top-k then
      merge under AQE), with ``row_number`` assigned on the k-row
      result — never a global window over the corpus.

    Ranking determinism: the score is rounded to 4 decimals BEFORE
    ordering (idf is transcendental — libm vs JVM ``ln`` may differ in
    the last bit) with ``doc_id`` as tiebreak, so the selected top-k
    set is engine-portable."""
    toks = tokens(F.col(_TEXT_COL))
    base = docs.select(F.col(_ID_COL), toks.alias("_toks")).select(
        _ID_COL, "_toks", F.size("_toks").alias("dl")
    )
    stats = base.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    tf = (
        base.select(_ID_COL, "dl", F.explode("_toks").alias("term"))
        .where(F.col("term").isin(*terms))
        .groupBy(_ID_COL, "term")
        .agg(F.count(F.lit(1)).alias("tf"), F.max("dl").alias("dl"))
    )
    # tf feeds BOTH the df aggregate and the score join — persist the
    # (small: docs containing query terms) posting table so the corpus
    # is not re-scanned per branch (SCALE.md "compute shared
    # intermediates once").
    tf.persist()
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    k1, b = _BM25_K1, _BM25_B
    denom = F.col("tf") + F.lit(k1) * (
        F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl")
    )
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .select(
            _ID_COL,
            (idf * F.col("tf") * F.lit(k1 + 1.0) / denom).alias("_s"),
        )
        .groupBy(_ID_COL)
        .agg(F.round(F.sum("_s"), 4).alias("bm25"))
    )
    top = scored.orderBy(F.desc("bm25"), _ID_COL).limit(k)
    w = Window.orderBy(F.desc("bm25"), _ID_COL)
    return top.withColumn("rank", F.row_number().over(w).cast("int"))


def ngram_counts(docs: DataFrame, n: int = 2) -> DataFrame:
    """Corpus n-gram census: one row per distinct n-gram with its
    occurrence count and document reach — the table behind contamination
    checks, Kneser-Ney style LM estimation, and boilerplate mining.

    The n-grams are built as a GENERATED COLUMN (``sequence`` +
    ``element_at`` inside codegen) and exploded once; no self-join of a
    token table (the naive bigram SQL) and no window.  The only
    shuffle is the final (ngram) rollup, which partial-aggregates
    map-side — at 100 TB the exchange carries one row per distinct
    n-gram per task, not one per occurrence."""
    toks = tokens(F.col(_TEXT_COL))
    grams = F.when(
        F.size("_toks") >= n,
        F.transform(
            F.sequence(F.lit(1), F.size("_toks") - (n - 1)),
            lambda i: F.concat_ws(
                " ", *[F.element_at(F.col("_toks"), i + j) for j in range(n)]
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        docs.select(F.col(_ID_COL), toks.alias("_toks"))
        .select(_ID_COL, F.explode(grams).alias("ngram"))
        .groupBy("ngram")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct(_ID_COL).alias("n_docs"),
        )
    )
