"""Text-analysis query corpus over the ``documents`` table: token
counting, quality scoring, language ID, fingerprinting.

All fingerprints use md5 (portable across engines), so even the hashing
queries have exact DuckDB oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from big_data_lab_three_spark.operators.text import (
    BPE_ISH_PATTERN,
    bm25_topk,
    ngram_counts,
    fingerprint,
    lang_id_table,
    chunk_documents,
    interleave_mix,
    pack_sequences,
    quality_metrics,
    shard_assignments,
    tfidf_top_terms,
    token_count,
)
from big_data_lab_three_spark.functions.numeric import quantized_sum
from big_data_lab_three_spark.functions.text import tokens
from big_data_lab_three_spark.queries import register
from big_data_lab_three_spark.sources import table

# DuckDB-side tokenizer fragment shared by the oracles below.
_DUCK_TOKS = (
    "list_filter(regexp_split_to_array(text, '\\s+'), x -> x != '')"
)

# PII patterns shared by pii_scan / pii_redact / the curation funnel's
# redaction stage — portable between Spark's and DuckDB's regex engines
# (no lookaround, no engine-specific classes).
_PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_IP_RE = r"\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}"
_PII_URL_RE = r"https?://[^ ]+"


def pii_redact_col(col):
    """Spark column: ``col`` with emails → <EMAIL>, IPv4s → <IP>,
    URLs → <URL> (the pii_redact replacement chain, shared so the
    funnel's redaction stage is the SAME expression)."""
    return F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(col, _PII_EMAIL_RE, "<EMAIL>"),
            _PII_IP_RE,
            "<IP>",
        ),
        _PII_URL_RE,
        "<URL>",
    )


def duck_pii_redact(expr: str) -> str:
    """The DuckDB twin of :func:`pii_redact_col` around ``expr``
    (regexes single-quoted for SQL; backslashes pass through
    verbatim)."""
    return (
        "regexp_replace(regexp_replace(regexp_replace("
        f"{expr}, '{_PII_EMAIL_RE}', '<EMAIL>', 'g'), "
        f"'{_PII_IP_RE}', '<IP>', 'g'), "
        f"'{_PII_URL_RE}', '<URL>', 'g')"
    )


@register(
    "token_count",
    ids="text: token counting (whitespace + BPE-ish regex)",
    oracle=f"""
SELECT doc_id,
       CAST(len({_DUCK_TOKS}) AS BIGINT) AS n_tokens,
       CAST(len(regexp_extract_all(
              text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT)
         AS n_bpe_tokens,
       CAST(length(text) AS BIGINT) AS n_chars_measured
FROM documents
""",
)
def token_count_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens + BPE-ish regex pieces per
    document.  Pure projection — scales linearly, no shuffle."""
    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        token_count(F.col("text")).cast("long").alias("n_tokens"),
        token_count(F.col("text"), bpe=True).cast("long").alias("n_bpe_tokens"),
        F.length("text").cast("long").alias("n_chars_measured"),
    )


@register(
    "text_quality",
    ids="text: quality scoring (length/stopword/punct ratios)",
    oracle=f"""
WITH t AS (
  SELECT doc_id, text, {_DUCK_TOKS} AS toks FROM documents
)
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_chars,
       CAST(len(toks) AS BIGINT)    AS n_tokens,
       CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE)
         / len(toks) AS avg_token_len,
       CAST(len(list_filter(toks,
              x -> list_contains(['the','a','of','and','is'], x)))
            AS DOUBLE) / len(toks) AS stopword_frac,
       CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g'))
            AS DOUBLE) / length(text) AS punct_frac
FROM t
""",
)
def text_quality_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality signals; all ratios are exact integer
    divisions, reproducible bit-for-bit across engines."""
    d = table(spark, sf_dir, "documents")
    return quality_metrics(d).select(
        "doc_id", "n_chars", "n_tokens", "avg_token_len",
        "stopword_frac", "punct_frac",
    )


@register(
    "lang_id",
    ids="text: language ID (stopword-marker heuristic)",
    oracle="""
WITH t AS (
  SELECT lang,
         list_filter(regexp_split_to_array(lower(text), '\\s+'),
                     x -> x != '') AS toks
  FROM documents
), s AS (
  SELECT lang,
    len(list_filter(toks, x -> list_contains(['the','a','of','and','is'], x))) AS s_en,
    len(list_filter(toks, x -> list_contains(['le','la','les','et','est'], x))) AS s_fr,
    len(list_filter(toks, x -> list_contains(['der','die','und','ist','das'], x))) AS s_de,
    len(list_filter(toks, x -> list_contains(['el','los','las','y','es'], x))) AS s_es
  FROM t
), p AS (
  SELECT lang,
    CASE WHEN greatest(s_en, s_fr, s_de, s_es) = 0 THEN 'en'
         WHEN s_en = greatest(s_en, s_fr, s_de, s_es) THEN 'en'
         WHEN s_fr = greatest(s_en, s_fr, s_de, s_es) THEN 'fr'
         WHEN s_de = greatest(s_en, s_fr, s_de, s_es) THEN 'de'
         ELSE 'es' END AS predicted_lang
  FROM s
)
SELECT lang, predicted_lang, count(*) AS n
FROM p GROUP BY lang, predicted_lang
ORDER BY lang, predicted_lang
""",
)
def lang_id_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID (marker-stopword argmax, deterministic
    tie-break) cross-tabulated against the labeled ``lang`` column,
    through :func:`~big_data_lab_three_spark.operators.text.lang_id_table`'s
    explode+aggregate form (codegen path)."""
    d = table(spark, sf_dir, "documents")
    return (
        lang_id_table(d)
        .join(d.select("doc_id", "lang"), "doc_id")
        .groupBy("lang", "predicted_lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("lang", "predicted_lang")
    )


@register(
    "doc_fingerprint",
    ids="text: document fingerprinting (md5 + min-shingle sketch)",
    oracle=f"""
WITH t AS (
  SELECT doc_id, text, {_DUCK_TOKS} AS toks FROM documents
)
SELECT doc_id,
       md5(text) AS content_md5,
       CASE WHEN len(toks) >= 3
            THEN list_min([md5(array_to_string(toks[i:i+2], ' '))
                           for i in range(1, len(toks) - 1)])
            ELSE md5(text) END AS min_shingle_md5
FROM t
""",
)
def doc_fingerprint_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprints: whole-document md5 + min-shingle md5 (the
    1-permutation minhash).  md5 is engine-portable, so the oracle
    reproduces the sketch exactly."""
    d = table(spark, sf_dir, "documents")
    return fingerprint(d).select("doc_id", "content_md5", "min_shingle_md5")


@register(
    "corpus_clean",
    ids="text+dedup composition: quality gate → exact dedup → language composition report",
    oracle="""
WITH toks AS (
  SELECT doc_id, text,
         list_filter(regexp_split_to_array(text, '\\s+'), x -> x != '')
           AS toks,
         list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x != '')
           AS ltoks
  FROM documents
),
gated AS (
  SELECT t.doc_id, t.text, len(t.toks) AS n_tokens, t.ltoks, d.lang
  FROM toks t JOIN documents d ON d.doc_id = t.doc_id
  WHERE len(t.toks) BETWEEN 30 AND 90
),
scored AS (
  SELECT doc_id, text, n_tokens, lang,
    len(list_filter(ltoks, x -> list_contains(['the','a','of','and','is'], x))) AS s_en,
    len(list_filter(ltoks, x -> list_contains(['le','la','les','et','est'], x))) AS s_fr,
    len(list_filter(ltoks, x -> list_contains(['der','die','und','ist','das'], x))) AS s_de,
    len(list_filter(ltoks, x -> list_contains(['el','los','las','y','es'], x))) AS s_es
  FROM gated
),
pred AS (
  SELECT doc_id, text, n_tokens, lang,
    CASE WHEN greatest(s_en, s_fr, s_de, s_es) = 0 THEN 'en'
         WHEN s_en = greatest(s_en, s_fr, s_de, s_es) THEN 'en'
         WHEN s_fr = greatest(s_en, s_fr, s_de, s_es) THEN 'fr'
         WHEN s_de = greatest(s_en, s_fr, s_de, s_es) THEN 'de'
         ELSE 'es' END AS predicted_lang
  FROM scored
),
dedup AS (
  SELECT md5(text) AS content_md5,
         min(doc_id) AS kept_id,
         min(lang) AS lang,
         min(predicted_lang) AS predicted_lang,
         min(n_tokens) AS n_tokens
  FROM pred
  GROUP BY md5(text)
)
SELECT lang,
       predicted_lang,
       count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens
FROM dedup
GROUP BY lang, predicted_lang
ORDER BY lang, predicted_lang
""",
)
def corpus_clean_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-corpus cleaning pass — the composition the
    individual operators exist for: quality gate (token-count band) →
    exact content dedup (digest groupBy, smallest doc_id kept; all
    per-group reducers are ``min`` so survivors are deterministic) →
    labeled-vs-predicted language composition report of the surviving
    corpus (docs + total tokens per cell).

    Pipeline shape matters at 100 TB: the cheap projection-only gate
    runs FIRST so the explode-based language scorer and the dedup
    shuffle see only survivors; the dedup exchange carries
    (16-byte digest, id, lang, token count) — never text; and the final
    report is a 4-row reduce.  Two passes over the gated corpus (one
    for language scores, one for digests), both scan-bound."""
    d = table(spark, sf_dir, "documents")
    # Gate on token_count() directly (split+size, whole-stage codegen)
    # rather than full quality_metrics(): the unused ratio metrics ride
    # on interpreted higher-order functions and cost ~2s/100k docs.
    gated = d.select(
        "doc_id", "text", "lang",
        token_count(F.col("text")).cast("long").alias("n_tokens"),
    ).where(F.col("n_tokens").between(30, 90))
    lang = lang_id_table(gated)
    per_digest = (
        gated.join(lang, "doc_id")
        .groupBy(
            F.md5(F.encode(F.col("text"), "UTF-8")).alias("content_md5")
        )
        .agg(
            F.min("doc_id").alias("kept_id"),
            F.min("lang").alias("lang"),
            F.min("predicted_lang").alias("predicted_lang"),
            F.min("n_tokens").alias("n_tokens"),
        )
    )
    return (
        per_digest.groupBy("lang", "predicted_lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
        )
        .orderBy("lang", "predicted_lang")
    )


@register(
    "tfidf_topterms",
    ids="text: TF-IDF corpus weighting, top-3 terms per document",
    oracle=f"""
WITH toks AS (
    SELECT doc_id, unnest({_DUCK_TOKS}) AS term FROM documents
), tf AS (
    SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term
), dfreq AS (
    SELECT term, count(*) AS df FROM tf GROUP BY term
), n AS (
    SELECT count(*) AS n_docs FROM documents
), scored AS (
    SELECT doc_id, term,
           tf * (ln((n_docs + 1.0) / (df + 1)) + 1.0) AS tfidf
    FROM tf JOIN dfreq USING (term) CROSS JOIN n
)
SELECT doc_id, term, CAST(rank AS INT) AS rank,
       CAST(round(tfidf, 4) AS DOUBLE) AS tfidf
FROM (
    SELECT doc_id, term, tfidf,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY tfidf DESC, term) AS rank
    FROM scored
)
WHERE rank <= 3
ORDER BY doc_id, rank
""",
)
def tfidf_topterms_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document (smoothed-idf keyword
    extraction).  See ``operators.text.tfidf_top_terms`` for the
    shuffle profile; the score is rounded to 4 decimals on both
    engines because idf is transcendental (libm vs JVM ln may differ
    in the last bit) while the RANKING is drift-safe (equal df ⇒
    bit-identical idf; unequal df ⇒ gaps far above 1 ULP)."""
    d = table(spark, sf_dir, "documents")
    return (
        tfidf_top_terms(d, k=3)
        .select(
            "doc_id", "term", "rank",
            F.round("tfidf", 4).cast("double").alias("tfidf"),
        )
        .orderBy("doc_id", "rank")
    )


@register(
    "doc_chunks",
    ids="text: sliding-window chunking (LLM sequence packing)",
    oracle=f"""
WITH t AS (
    SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents
), c AS (
    SELECT doc_id, toks,
           unnest(generate_series(
               1,
               1 + 16 * greatest((len(toks) - 32 + 15) // 16, 0),
               16)) AS chunk_start
    FROM t
)
SELECT doc_id,
       CAST(chunk_start AS INT) AS chunk_start,
       CAST(len(list_slice(toks, chunk_start, chunk_start + 31)) AS INT)
           AS n_chunk_tokens,
       array_to_string(list_slice(toks, chunk_start, chunk_start + 31), ' ')
           AS chunk_text
FROM c
ORDER BY doc_id, chunk_start
""",
)
def doc_chunks_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-token windows, stride 16, per document — generated-column
    explode, no shuffle (see ``operators.text.chunk_documents``)."""
    d = table(spark, sf_dir, "documents")
    return (
        chunk_documents(d, chunk_tokens=32, stride=16)
        .select(
            "doc_id",
            F.col("chunk_start").cast("int").alias("chunk_start"),
            F.col("n_chunk_tokens").cast("int").alias("n_chunk_tokens"),
            "chunk_text",
        )
        .orderBy("doc_id", "chunk_start")
    )


@register(
    "sequence_packing",
    ids="text: GPT-style sequence packing (concat streams -> fixed-token windows)",
    oracle=f"""
WITH d AS (
    SELECT doc_id,
           CAST(CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) % 8
                AS INT) AS stream,
           CAST(len({_DUCK_TOKS}) AS BIGINT) AS n_tokens
    FROM documents
    WHERE len({_DUCK_TOKS}) > 0
), spans AS (
    SELECT doc_id, stream, n_tokens,
           CAST(sum(n_tokens) OVER w - n_tokens AS BIGINT) AS tok_start,
           CAST(sum(n_tokens) OVER w AS BIGINT)            AS tok_end
    FROM d
    WINDOW w AS (PARTITION BY stream ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), e AS (
    SELECT doc_id, stream, tok_start, tok_end,
           unnest(generate_series(tok_start // 64, (tok_end - 1) // 64))
               AS seq_id
    FROM spans
)
SELECT stream,
       CAST(seq_id AS BIGINT) AS seq_id,
       doc_id,
       CAST(greatest(tok_start - seq_id * 64, 0) AS BIGINT) AS seq_off,
       CAST(least(tok_end - seq_id * 64, 64)
            - greatest(tok_start - seq_id * 64, 0) AS BIGINT)
           AS n_seq_tokens
FROM e
ORDER BY stream, seq_id, doc_id
""",
)
def sequence_packing_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack documents into 8 parallel token streams and emit each
    document's span within every 64-token training sequence it
    overlaps (see ``operators.text.pack_sequences``).  The oracle
    recomputes the whole layout relationally — stream hash, running
    offsets, window membership, and per-sequence spans must all agree
    exactly."""
    d = table(spark, sf_dir, "documents")
    return pack_sequences(d, seq_tokens=64, n_streams=8).orderBy(
        "stream", "seq_id", "doc_id"
    )


@register(
    "data_mix_interleave",
    ids="text: deterministic proportional data-mix interleave (stride scheduling)",
    oracle="""
WITH base AS (
    SELECT doc_id, lang,
           CAST(doc_id % 8 AS INT) AS stream,
           CASE lang WHEN 'en' THEN 1 WHEN 'fr' THEN 2 WHEN 'de' THEN 4
                     WHEN 'es' THEN 4 ELSE 4 END AS stride
    FROM documents
), ranked AS (
    SELECT stream, lang AS grp, doc_id,
           CAST((2 * row_number() OVER (PARTITION BY stream, lang
                                        ORDER BY doc_id) - 1) * stride
                AS BIGINT) AS pos
    FROM base
)
SELECT stream,
       CAST(row_number() OVER (PARTITION BY stream
                               ORDER BY pos, grp, doc_id) AS BIGINT)
           AS mix_rank,
       grp AS lang,
       doc_id
FROM ranked
ORDER BY stream, mix_rank
""",
)
def data_mix_interleave_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Proportional training-mix schedule over ``documents``: weights
    en:4 fr:2 de:1 es:1 (zh defaults to 1), stride-scheduled into 8
    parallel streams (see ``operators.text.interleave_mix``).  The
    oracle pins the exact row order of every stream — integer virtual
    positions make the interleave bit-identical across engines."""
    d = table(spark, sf_dir, "documents")
    return interleave_mix(
        d, {"en": 4, "fr": 2, "de": 1, "es": 1}, n_streams=8
    ).orderBy("stream", "mix_rank")


@register(
    "training_shards",
    ids="text: deterministic content-hash shard assignment + balance census",
    oracle="""
WITH s AS (
    SELECT doc_id,
           CAST(CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) % 64
                AS INT) AS shard
    FROM documents
)
SELECT shard, count(*) AS n_docs, min(doc_id) AS first_doc
FROM s GROUP BY shard ORDER BY shard
""",
)
def training_shards_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard-balance census over the content-hash assignment (64
    shards).  The md5-based shard is bit-portable across engines and
    runs — the property that makes shard-level incremental rebuilds
    safe (see ``operators.text.shard_assignments``)."""
    d = table(spark, sf_dir, "documents")
    return (
        shard_assignments(d, n_shards=64)
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("first_doc"),
        )
        .orderBy("shard")
    )


@register(
    "stratified_sample",
    ids="sampling: deterministic content-hash systematic sample (eval-holdout selection)",
    oracle="""
SELECT lang,
       count(*) AS n_sampled,
       min(doc_id) AS first_doc,
       max(doc_id) AS last_doc
FROM documents
WHERE CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) % 10 = 0
GROUP BY lang
ORDER BY lang
""",
)
def stratified_sample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling — how a training pipeline
    carves a reproducible eval holdout: membership is the content-hash
    systematic rule ``md5(text) mod 10 == 0`` (no RNG, so re-runs,
    engines, and audits agree on the exact member set; contrast
    ``sampleBy``, whose membership is seed- and
    partitioning-dependent).  Summarized per stratum for the judged
    output; the pre-aggregation frame IS the holdout.

    Scale path (the registered one since r3): the rule is a pure scan
    predicate — a single codegen pass, NO window — so it is immune to
    the low-cardinality-partition trap the previous per-stratum
    ``row_number`` form had (∼5 ``lang`` strata → giant window
    partitions at corpus scale).  Content addressing also keeps the
    holdout stable under corpus reordering and resharding, which a
    positional every-10th rule is not.  The 60-bit truncated-md5 is the
    engine-portable hash idiom shared with SimHash (both engines agree
    on md5 hex; `conv`/`'0x'||` cast to the same BIGINT)."""
    d = table(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("text")), 1, 15), 16, 10)
        .cast("long") % 10
    )
    return (
        d.where(bucket == 0)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("lang")
    )


@register(
    "pii_scan",
    ids="text safety: PII detection census (emails / IPs / URLs via portable regex)",
    oracle="""
WITH seeded AS (
    SELECT doc_id, lang,
           CASE WHEN doc_id % 7 = 0
                THEN text || ' contact user' || doc_id ||
                     '@example.com at 10.0.' || (doc_id % 250) ||
                     '.1 see https://ex.com/d/' || doc_id
                ELSE text END AS text
    FROM documents
), scanned AS (
    SELECT doc_id, lang,
           len(regexp_extract_all(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))
               AS n_emails,
           len(regexp_extract_all(text,
               '\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}')) AS n_ips,
           len(regexp_extract_all(text, 'https?://[^ ]+')) AS n_urls
    FROM seeded
)
SELECT lang,
       count(*) AS n_docs,
       CAST(sum(CASE WHEN n_emails + n_ips + n_urls > 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_with_pii,
       CAST(sum(n_emails) AS BIGINT) AS total_emails,
       CAST(sum(n_ips) AS BIGINT)    AS total_ips,
       CAST(sum(n_urls) AS BIGINT)   AS total_urls
FROM scanned
GROUP BY lang
ORDER BY lang
""",
)
def pii_scan_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII census — the safety-filtering stage of a training-data
    pipeline: regex detectors for emails / IPv4s / URLs per document
    (every 7th document is seeded with synthetic PII so the expected
    counts are exactly computable), rolled up per language.  The regex
    subset used is portable between Java (Spark) and RE2 (DuckDB), so
    the oracle reproduces the detector exactly.

    Scale shape: pure projection (regexp_extract_all inside codegen) +
    one small hash aggregate — linear, no shuffle beyond the ~5-group
    rollup.  A production pass would add redaction (regexp_replace with
    the same patterns) in the same single scan."""
    d = table(spark, sf_dir, "documents")
    seeded = d.select(
        "doc_id",
        "lang",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"), F.col("doc_id"),
                F.lit("@example.com at 10.0."), F.col("doc_id") % 250,
                F.lit(".1 see https://ex.com/d/"), F.col("doc_id"),
            ),
        ).otherwise(F.col("text")).alias("text"),
    )
    # function form with literal columns — an F.expr SQL string would
    # re-process the regex backslashes as SQL escapes
    email_re, ip_re, url_re = _PII_EMAIL_RE, _PII_IP_RE, _PII_URL_RE
    scanned = seeded.select(
        "lang",
        F.size(F.regexp_extract_all("text", F.lit(email_re), F.lit(0))).alias("n_emails"),
        F.size(F.regexp_extract_all("text", F.lit(ip_re), F.lit(0))).alias("n_ips"),
        F.size(F.regexp_extract_all("text", F.lit(url_re), F.lit(0))).alias("n_urls"),
    )
    has_pii = (F.col("n_emails") + F.col("n_ips") + F.col("n_urls")) > 0
    return (
        scanned.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(has_pii.cast("long")).alias("n_with_pii"),
            F.sum("n_emails").cast("long").alias("total_emails"),
            F.sum("n_ips").cast("long").alias("total_ips"),
            F.sum("n_urls").cast("long").alias("total_urls"),
        )
        .orderBy("lang")
    )


@register(
    "contamination_check",
    ids="text safety: benchmark decontamination — 8-gram overlap between corpus and a held-out suite",
    oracle=f"""
WITH bench AS (
    SELECT doc_id, text FROM documents WHERE doc_id % 13 = 0
), corpus AS (
    SELECT doc_id, text FROM documents WHERE doc_id % 13 != 0
    UNION ALL
    -- seeded leaks: a benchmark document's text embedded verbatim
    SELECT doc_id + 3000000, text || ' extra trailing words here'
    FROM bench WHERE doc_id % 26 = 0
), bg AS (
    SELECT doc_id, unnest(list_distinct(
               [array_to_string(toks[i:i+7], ' ')
                for i in range(1, len(toks) - 6)])) AS g
    FROM (SELECT doc_id, {_DUCK_TOKS} AS toks FROM bench)
), cg AS (
    SELECT doc_id, unnest(list_distinct(
               [array_to_string(toks[i:i+7], ' ')
                for i in range(1, len(toks) - 6)])) AS g
    FROM (SELECT doc_id, {_DUCK_TOKS} AS toks FROM corpus)
)
SELECT c.doc_id AS corpus_doc,
       b.doc_id AS bench_doc,
       count(*) AS n_shared_8grams
FROM cg c JOIN bg b ON c.g = b.g
GROUP BY c.doc_id, b.doc_id
HAVING count(*) >= 8
ORDER BY corpus_doc, bench_doc
""",
)
def contamination_check_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination — the check every serious pretraining
    pipeline runs before training: find corpus documents sharing ≥8
    distinct 8-grams with any document of a held-out evaluation suite
    (every 13th document stands in for the benchmark; seeded verbatim
    leaks guarantee known positives).  Output is the contamination pair
    table a pipeline would use to drop or flag corpus members.

    Scale shape: the benchmark side is TINY relative to the corpus (a
    few thousand eval documents vs billions) — its distinct-8-gram
    table broadcasts, so the corpus side streams through a map-side
    hash join with NO corpus shuffle at all; the per-pair aggregate is
    bounded by actual overlaps.  The corpus 8-gram explode is the same
    map-side generate the dedup family uses; grams never leave the
    executor except for the (rare) matches."""
    from big_data_lab_three_spark.functions.text import shingles, tokens

    d = table(spark, sf_dir, "documents")
    bench = d.where(F.col("doc_id") % 13 == 0).select("doc_id", "text")
    leaks = bench.where(F.col("doc_id") % 26 == 0).select(
        (F.col("doc_id") + 3000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extra trailing words here")).alias(
            "text"
        ),
    )
    corpus = (
        d.where(F.col("doc_id") % 13 != 0)
        .select("doc_id", "text")
        .unionByName(leaks)
    )

    def grams(df: DataFrame, out: str) -> DataFrame:
        return df.select(
            F.col("doc_id").alias(out),
            F.explode(
                F.array_distinct(shingles(tokens(F.col("text")), 8))
            ).alias("g"),
        )

    cg = grams(corpus, "corpus_doc")
    bg = grams(bench, "bench_doc")
    return (
        cg.join(F.broadcast(bg), "g")
        .groupBy("corpus_doc", "bench_doc")
        .agg(F.count(F.lit(1)).alias("n_shared_8grams"))
        .where(F.col("n_shared_8grams") >= 8)
        .orderBy("corpus_doc", "bench_doc")
    )


@register(
    "repetition_filter",
    ids="text safety: Gopher-style repetition/shape quality rules (Rae et al. 2021)",
    oracle=f"""
WITH seeded AS (
    SELECT doc_id, lang,
           CASE WHEN doc_id % 9 = 0
                THEN text || ' spam spam spam spam spam spam spam spam'
                WHEN doc_id % 13 = 0
                THEN text || ' ####$$$$!!!!@@@@%%%%&&&&****(((())))'
                ELSE text END AS text
    FROM documents
), toks AS (
    SELECT doc_id, lang, text,
           {_DUCK_TOKS} AS t
    FROM seeded
), m AS (
    SELECT doc_id, lang,
           len(t) AS n_tokens,
           CASE WHEN len(t) >= 2 THEN
             1.0 - CAST(len(list_distinct(
                 [array_to_string(t[i:i+1], ' ')
                  for i in range(1, len(t))])) AS DOUBLE)
                 / (len(t) - 1)
           ELSE 0.0 END AS dup_2gram_frac,
           CASE WHEN len(t) > 0 THEN
             CAST(list_sum(list_transform(t, x -> length(x))) AS DOUBLE)
                 / len(t)
           ELSE 0.0 END AS mean_tok_len,
           CASE WHEN length(text) > 0 THEN
             CAST(length(text)
                  - length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))
                  AS DOUBLE) / length(text)
           ELSE 0.0 END AS symbol_frac
    FROM toks
)
SELECT lang,
       count(*) AS n_docs,
       CAST(sum(CASE WHEN n_tokens >= 30
                      AND mean_tok_len BETWEEN 3.0 AND 12.0
                      AND dup_2gram_frac <= 0.2
                      AND symbol_frac <= 0.1
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       round(avg(dup_2gram_frac), 4) AS avg_dup_2gram,
       round(avg(symbol_frac), 4) AS avg_symbol_frac,
       round(max(mean_tok_len), 4) AS max_mean_tok_len
FROM m
GROUP BY lang
ORDER BY lang
""",
)
def repetition_filter_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style quality filtering census (Rae et al. 2021, App. A):
    repetition (duplicate word-2-gram fraction), shape (mean word
    length), and symbol-junk rules, rolled up per language.  Seeding
    plants both failure modes deterministically — every 9th document
    gets a repeated-2-gram tail ('spam' x8 pushes dup_2gram_frac past
    the 0.2 ceiling), every 13th a symbol tail — so the kept/filtered
    split is non-trivial and exactly recomputable by the oracle.

    Scale shape: pure projection (tokenize + array arithmetic in
    codegen) + one rollup shuffle of 5 tiny rows per partition — the
    same embarrassingly-parallel profile as the rest of the quality
    family.  The pre-aggregation ``keep`` frame IS the filter a real
    pipeline would write back."""
    from big_data_lab_three_spark.operators.text import (
        gopher_keep,
        repetition_metrics,
    )

    d = table(spark, sf_dir, "documents")
    seeded = d.select(
        "doc_id",
        "lang",
        F.when(
            F.col("doc_id") % 9 == 0,
            F.concat(
                F.col("text"),
                F.lit(" spam spam spam spam spam spam spam spam"),
            ),
        )
        .when(
            F.col("doc_id") % 13 == 0,
            F.concat(
                F.col("text"),
                F.lit(" ####$$$$!!!!@@@@%%%%&&&&****(((())))"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    m = gopher_keep(repetition_metrics(seeded))
    return (
        m.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("keep").cast("int")).cast("long").alias("n_kept"),
            F.round(F.avg("dup_2gram_frac"), 4).alias("avg_dup_2gram"),
            F.round(F.avg("symbol_frac"), 4).alias("avg_symbol_frac"),
            F.round(F.max("mean_tok_len"), 4).alias("max_mean_tok_len"),
        )
        .orderBy("lang")
    )


@register(
    "domain_census",
    ids="text provenance: URL extraction + registered-domain census",
    oracle="""
WITH seeded AS (
    SELECT doc_id, lang,
           CASE WHEN doc_id % 7 = 0
                THEN text || ' see https://sub' || (doc_id % 5)
                     || '.example-' || (doc_id % 3) || '.org/d/' || doc_id
                     || ' and http://www.mirror-' || (doc_id % 2)
                     || '.net/x'
                ELSE text END AS text
    FROM documents
), urls AS (
    SELECT doc_id, unnest(regexp_extract_all(text, 'https?://[^ ]+')) AS url
    FROM seeded
), hosts AS (
    SELECT doc_id,
           regexp_replace(lower(regexp_extract(url, 'https?://([^/ ]+)', 1)),
                          '^www\\.', '') AS host
    FROM urls
), domains AS (
    SELECT doc_id,
           regexp_extract(host, '([A-Za-z0-9-]+\\.[A-Za-z0-9-]+)$', 1)
             AS domain
    FROM hosts
)
SELECT domain,
       count(*) AS n_urls,
       count(DISTINCT doc_id) AS n_docs
FROM domains
GROUP BY domain
ORDER BY domain
""",
)
def domain_census_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL provenance census — the per-registered-domain rollup a
    pretraining pipeline runs for source weighting, blocklist
    filtering, and robots accounting.  Seeded URLs (every 7th document
    carries one https URL with rotating subdomain/domain plus one
    www-prefixed http URL) make the extraction, host parsing,
    www-stripping, and eTLD+1-style suffix grouping all observable in
    the output.

    Scale shape: regexp extraction and host parsing are a generated-
    column explode in the scan stage (fan-out is map-side, never
    shuffled); the only exchange carries (domain, doc_id) pairs for the
    distinct-count rollup — at corpus scale that is the URL table, a
    small fraction of text volume."""
    d = table(spark, sf_dir, "documents")
    seeded = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.col("text"),
                F.lit(" see https://sub"),
                (F.col("doc_id") % 5).cast("string"),
                F.lit(".example-"),
                (F.col("doc_id") % 3).cast("string"),
                F.lit(".org/d/"),
                F.col("doc_id").cast("string"),
                F.lit(" and http://www.mirror-"),
                (F.col("doc_id") % 2).cast("string"),
                F.lit(".net/x"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    urls = seeded.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(
                F.col("text"), F.lit(r"https?://[^ ]+"), 0
            )
        ).alias("url"),
    )
    domains = urls.select(
        "doc_id",
        F.regexp_extract(
            F.regexp_replace(
                F.lower(F.regexp_extract("url", r"https?://([^/ ]+)", 1)),
                r"^www\.",
                "",
            ),
            r"([A-Za-z0-9-]+\.[A-Za-z0-9-]+)$",
            1,
        ).alias("domain"),
    )
    return (
        domains.groupBy("domain")
        .agg(
            F.count(F.lit(1)).alias("n_urls"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .orderBy("domain")
    )


@register(
    "training_order",
    ids="text: deterministic per-shard training order (seeded content-hash shuffle)",
    oracle="""
WITH s AS (
    SELECT doc_id,
           CAST(CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) % 64
                AS INT) AS shard,
           CAST(('0x' || substr(md5('epoch0:' || text), 1, 15)) AS BIGINT)
             AS h
    FROM documents
), ordered AS (
    SELECT shard, doc_id, h,
           row_number() OVER (PARTITION BY shard ORDER BY h, doc_id)
             AS pos
    FROM s
)
SELECT shard,
       count(*) AS n_docs,
       CAST(min(CASE WHEN pos = 1 THEN doc_id END) AS BIGINT)
         AS first_doc,
       CAST(sum(pos * doc_id) AS BIGINT) AS order_checksum
FROM ordered
GROUP BY shard
ORDER BY shard
""",
)
def training_order_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-order shuffle — the 'seeded random'
    permutation a training run needs to be REPRODUCIBLE across reruns,
    engines, and restarts: within each content-hash shard, documents
    are ordered by a salted content hash (``md5('epoch0:' || text)`` —
    change the salt, get an independent permutation for the next
    epoch).  No RNG state anywhere; the order is a pure function of
    the bytes.  ``order_checksum`` (Σ position·doc_id) pins the ENTIRE
    permutation per shard in one value, so the oracle verifies every
    position without emitting per-doc rows.

    Scale shape: one window per shard — shard count (64 here) is an
    input knob that GROWS with the corpus (a real run uses thousands),
    so window partitions stay bounded at epoch-shard size, exactly the
    unit a trainer streams sequentially anyway."""
    from big_data_lab_three_spark.operators.text import shard_expr
    from pyspark.sql import Window

    d = table(spark, sf_dir, "documents")
    s = d.select(
        "doc_id",
        shard_expr(F.col("text"), 64).alias("shard"),
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("epoch0:"), F.col("text"))), 1, 15
            ),
            16,
            10,
        )
        .cast("long")
        .alias("h"),
    )
    w = Window.partitionBy("shard").orderBy("h", "doc_id")
    ordered = s.withColumn("pos", F.row_number().over(w))
    return (
        ordered.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min(F.when(F.col("pos") == 1, F.col("doc_id")))
            .cast("long")
            .alias("first_doc"),
            F.sum(F.col("pos") * F.col("doc_id"))
            .cast("long")
            .alias("order_checksum"),
        )
        .orderBy("shard")
    )


@register(
    "pii_redact",
    ids="text safety: span-level PII redaction, content-checksum-pinned",
    oracle="""
WITH seeded AS (
    SELECT doc_id, lang,
           CASE WHEN doc_id % 7 = 0
                THEN text || ' contact user' || doc_id ||
                     '@example.com at 10.0.' || (doc_id % 250) ||
                     '.1 see https://ex.com/d/' || doc_id
                ELSE text END AS text
    FROM documents
), red AS (
    SELECT doc_id, lang, text,
           regexp_replace(
             regexp_replace(
               regexp_replace(text,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                 '<EMAIL>', 'g'),
               '\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}', '<IP>', 'g'),
             'https?://[^ ]+', '<URL>', 'g') AS redacted
    FROM seeded
)
SELECT lang,
       count(*) AS n_docs,
       CAST(sum(CASE WHEN redacted != text THEN 1 ELSE 0 END) AS BIGINT)
         AS n_redacted,
       CAST(sum(length(text) - length(redacted)) AS BIGINT)
         AS chars_removed,
       CAST(bit_xor(CAST(('0x' || substr(md5(redacted), 1, 15)) AS BIGINT))
         AS BIGINT) AS content_checksum
FROM red
GROUP BY lang
ORDER BY lang
""",
)
def pii_redact_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level PII REDACTION — the enforcement half of the safety
    pass (``pii_scan`` is the detection half): emails, IPv4s, and URLs
    rewritten to typed placeholder tokens in one chained
    ``regexp_replace`` projection.  ``content_checksum`` — an
    order-insensitive xor of each redacted document's truncated-md5 —
    pins the EXACT BYTES of every redacted text against the oracle,
    not just how many documents changed; a one-character divergence in
    any replacement flips the hash.

    Scale shape: identical to the scan — one codegen projection over
    the corpus, one ~5-group rollup; no shuffle carries text."""
    d = table(spark, sf_dir, "documents")
    seeded = d.select(
        "doc_id",
        "lang",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"), F.col("doc_id"),
                F.lit("@example.com at 10.0."), F.col("doc_id") % 250,
                F.lit(".1 see https://ex.com/d/"), F.col("doc_id"),
            ),
        ).otherwise(F.col("text")).alias("text"),
    )
    red = seeded.withColumn("redacted", pii_redact_col(F.col("text")))
    return (
        red.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                (F.col("redacted") != F.col("text")).cast("int")
            ).cast("long").alias("n_redacted"),
            F.sum(F.length("text") - F.length("redacted"))
            .cast("long")
            .alias("chars_removed"),
            F.expr(
                "bit_xor(cast(conv(substring(md5(redacted), 1, 15), 16, 10)"
                " as bigint))"
            ).alias("content_checksum"),
        )
        .orderBy("lang")
    )


@register(
    "unigram_logprob",
    ids="text quality: corpus-unigram log-probability score (LM-perplexity proxy)",
    oracle=f"""
WITH toks AS (
    SELECT doc_id, lang, unnest({_DUCK_TOKS}) AS tok
    FROM documents
), freq AS (
    SELECT tok, count(*) AS tf FROM toks GROUP BY tok
), corpus AS (
    SELECT CAST(sum(tf) AS DOUBLE) AS total FROM freq
), scored AS (
    SELECT t.doc_id, t.lang,
           avg(ln(f.tf / c.total)) AS avg_logprob,
           count(*) AS n_toks
    FROM toks t JOIN freq f ON f.tok = t.tok CROSS JOIN corpus c
    GROUP BY t.doc_id, t.lang
)
SELECT lang,
       count(*) AS n_docs,
       round(avg(avg_logprob), 4) AS mean_logprob,
       round(min(avg_logprob), 4) AS worst_logprob,
       CAST(sum(CASE WHEN avg_logprob < -8.0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_below_threshold
FROM scored
GROUP BY lang
ORDER BY lang
""",
)
def unigram_logprob_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-unigram log-probability scoring — the model-free stand-in
    for CCNet-style LM-perplexity filtering: a document whose tokens
    are rare *in this corpus* scores low (gibberish, wrong-language,
    boilerplate-ID strings), one whose tokens are common scores high.
    Two passes over the exploded token table: (1) unigram frequencies
    (vocabulary-sized aggregate), (2) per-document mean of
    ``ln(tf / corpus_total)`` via a token-frequency join, then a
    per-language census with a fixed keep threshold.

    Scale shape: the token explode shuffles once to build the
    vocabulary table and once for the score join — both keyed on the
    token, both combiner-friendly (partial aggregation collapses
    repeats map-side).  At 100 TB the vocabulary table is Zipf-bounded
    (≪ corpus), and the scoring join is the classic fact-to-dimension
    shape Spark picks broadcast for when vocab fits.  ``ln`` on
    identical doubles is bit-identical across engines; the per-doc
    mean is rounded only after the final census aggregate."""
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        "lang",
        F.explode(
            F.array_remove(F.split(F.col("text"), r"\s+"), "")
        ).alias("tok"),
    )
    toks.persist()  # feeds the vocab build AND the scoring join
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("tf"))
    total = freq.agg(F.sum("tf").cast("double").alias("total"))
    scored = (
        toks.join(freq, "tok")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id", "lang")
        .agg(
            F.avg(F.log(F.col("tf") / F.col("total"))).alias(
                "avg_logprob"
            ),
            F.count(F.lit(1)).alias("n_toks"),
        )
    )
    return (
        scored.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("avg_logprob"), 4).alias("mean_logprob"),
            F.round(F.min("avg_logprob"), 4).alias("worst_logprob"),
            F.sum(
                (F.col("avg_logprob") < -8.0).cast("int")
            ).cast("long").alias("n_below_threshold"),
        )
        .orderBy("lang")
    )


@register(
    "line_dedup",
    ids="text: corpus-frequency span removal (C4/RefinedWeb line dedup), checksum-pinned",
    oracle="""
WITH w AS (
    SELECT doc_id, lang,
           unnest(string_split(text, ' ')) AS word,
           generate_subscripts(string_split(text, ' '), 1) - 1 AS pos
    FROM documents
), c AS (
    SELECT doc_id, lang, pos // 8 AS cid,
           string_agg(word, ' ' ORDER BY pos) AS chunk
    FROM w
    GROUP BY doc_id, lang, pos // 8
), f AS (
    SELECT chunk FROM c GROUP BY chunk HAVING count(DISTINCT doc_id) >= 2
), k AS (
    SELECT doc_id, lang, cid, chunk,
           chunk IN (SELECT chunk FROM f) AS dup
    FROM c
), clean AS (
    SELECT doc_id, lang,
           coalesce(
               string_agg(chunk, ' ' ORDER BY cid) FILTER (WHERE NOT dup),
               '') AS text2,
           count(*) AS n_chunks,
           sum(CASE WHEN dup THEN 1 ELSE 0 END) AS n_rm
    FROM k
    GROUP BY doc_id, lang
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chunks) AS BIGINT) AS n_chunks,
       CAST(sum(n_rm) AS BIGINT) AS n_removed,
       CAST(sum(CASE WHEN n_rm > 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_docs_changed,
       CAST(bit_xor(CAST(('0x' || substr(md5(text2), 1, 15)) AS BIGINT))
           AS BIGINT) AS content_checksum
FROM clean
GROUP BY lang
ORDER BY lang
""",
)
def line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-frequency span removal — the C4 / RefinedWeb "line dedup"
    pass: segment every document into fixed 8-word spans (the driver
    corpus has no newlines, so spans stand in for lines), drop every
    span whose exact text occurs in ≥2 DISTINCT documents corpus-wide,
    and reassemble the survivors in order.  Boilerplate (headers,
    navigation, license blobs) dies corpus-wide in one pass; the
    ``content_checksum`` (order-insensitive xor of each cleaned
    document's truncated md5, the ``pii_redact`` convention) pins the
    exact reassembled bytes, not just counts.

    Scale shape: spans come from ``slice``/``transform`` over the split
    array — a generated-column explode, NO shuffle to build them; the
    span-frequency aggregate shuffles 16-byte md5 digests, never span
    text; the frequent set (boilerplate is rare by count) BROADCASTS
    back, so flagging is map-side; reassembly is one doc_id shuffle with
    per-doc ``array_sort(collect_list(struct))`` bounded by document
    length.  Two data shuffles total, both carrying bounded payloads."""
    d = table(spark, sf_dir, "documents")
    arr = F.split(F.col("text"), " ")
    nchunks = F.ceil(F.size(arr) / F.lit(8)).cast("int")
    chunk_arr = F.transform(
        F.sequence(F.lit(0), nchunks - 1),
        lambda i: F.array_join(F.slice(arr, i * 8 + 1, 8), " "),
    )
    c = d.select(
        "doc_id", "lang", F.posexplode(chunk_arr).alias("cid", "chunk")
    )
    frequent = (
        c.groupBy(F.md5("chunk").alias("dig"))
        .agg(F.countDistinct("doc_id").alias("df"))
        .where(F.col("df") >= 2)
        .select("dig")
    )
    flagged = c.join(
        F.broadcast(frequent), F.md5(c["chunk"]) == F.col("dig"), "left"
    ).select(
        "doc_id",
        "lang",
        "cid",
        "chunk",
        F.col("dig").isNotNull().alias("dup"),
    )
    clean = flagged.groupBy("doc_id", "lang").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum(F.col("dup").cast("long")).alias("n_rm"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            ~F.col("dup"), F.struct("cid", "chunk")
                        )
                    )
                ),
                lambda s: s.chunk,
            ),
            " ",
        ).alias("text2"),
    )
    return (
        clean.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chunks").alias("n_chunks"),
            F.sum("n_rm").alias("n_removed"),
            F.sum((F.col("n_rm") > 0).cast("long")).alias("n_docs_changed"),
            F.expr(
                "bit_xor(cast(conv(substring(md5(text2), 1, 15), 16, 10)"
                " as bigint))"
            ).alias("content_checksum"),
        )
        .orderBy("lang")
    )


@register(
    "bm25_rank",
    ids="text: Okapi BM25 retrieval ranking for a fixed query (lexical search baseline)",
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
), scored AS (
    SELECT doc_id,
           round(sum(
               ln(1 + (n_docs - df + 0.5) / (df + 0.5))
               * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
           ), 4) AS bm25
    FROM tf JOIN dfreq USING (term) CROSS JOIN st
    GROUP BY doc_id
)
SELECT doc_id, bm25, CAST(rn AS INT) AS rank
FROM (
    SELECT doc_id, bm25,
           row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rn
    FROM scored
)
WHERE rn <= 20
ORDER BY rank
""",
)
def bm25_rank_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 documents for the fixed query ``spark hash merge`` under
    Okapi BM25 (k1=1.2, b=0.75) — see ``operators.text.bm25_topk`` for
    the formula and the map-side-posting-filter scale shape.  The
    oracle replays the identical arithmetic; scores round(4) before
    ranking on both engines so the selected set is engine-portable."""
    d = table(spark, sf_dir, "documents")
    return bm25_topk(d, ["spark", "hash", "merge"], k=20).select(
        "doc_id", "bm25", "rank"
    ).orderBy("rank")


@register(
    "ngram_census",
    ids="text: corpus bigram census (top-30 by occurrence) — LM estimation / boilerplate mining table",
    oracle=f"""
WITH t AS (
    SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents
), b AS (
    SELECT doc_id,
           unnest(list_transform(range(1, len(toks)),
                                 i -> toks[i] || ' ' || toks[i + 1]))
               AS ngram
    FROM t
), c AS (
    SELECT ngram,
           CAST(count(*) AS BIGINT) AS n_occurrences,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM b GROUP BY ngram
)
SELECT ngram, n_occurrences, n_docs, CAST(rn AS INT) AS rank
FROM (
    SELECT *, row_number() OVER (
        ORDER BY n_occurrences DESC, ngram) AS rn
    FROM c
)
WHERE rn <= 30
ORDER BY rank
""",
)
def ngram_census_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-30 corpus bigrams with occurrence counts and document reach
    — the n-gram table contamination checks and boilerplate mining read
    (see ``operators.text.ngram_counts``: generated-column explode, one
    partial-aggregating rollup shuffle, no token self-join).  Counts
    are exact integers, so ranking with the bigram tiebreak is fully
    deterministic."""
    d = table(spark, sf_dir, "documents")
    c = ngram_counts(d, n=2)
    top = c.orderBy(F.desc("n_occurrences"), "ngram").limit(30)
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("n_occurrences"), "ngram")
    return top.withColumn(
        "rank", F.row_number().over(w).cast("int")
    ).orderBy("rank")


@register(
    "token_entropy",
    ids="text: per-document token-distribution Shannon entropy + type-token ratio (gibberish/boilerplate filter)",
    oracle=f"""
WITH t AS (
    SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents
), tk AS (
    SELECT doc_id, unnest(toks) AS term FROM t
), tf AS (
    SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS c
    FROM tk GROUP BY doc_id, term
)
SELECT doc_id,
       CAST(sum(c) AS BIGINT) AS n_tokens,
       CAST(count(*) AS BIGINT) AS n_types,
       round(ln(sum(c)) - sum(c * ln(c)) / sum(c), 6) AS entropy,
       round(count(*) / sum(c), 6) AS type_token_ratio
FROM tf
GROUP BY doc_id
ORDER BY doc_id
""",
)
def token_entropy_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Shannon entropy of the token distribution plus the
    type-token ratio — the statistical gibberish/boilerplate filters a
    pretraining pipeline applies next to the Gopher rules: near-zero
    entropy flags repeated-token spam, abnormally HIGH entropy with low
    TTR never co-occurs (entropy ≤ ln(types)), and low TTR alone flags
    template boilerplate.  Computed via the factored identity
    H = ln(n) − (Σ c·ln c)/n, so one (doc, term) rollup feeds both
    metrics.

    Scale shape: explode → two partial-aggregating shuffles, keyed by
    (doc_id, term) then doc_id — both high-cardinality keys; no window,
    no driver materialization.  Docs with zero tokens drop out of the
    explode on both engines.  The per-doc Σ c·ln c sums in engine
    order → round(6)."""
    d = table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    tf = (
        d.select("doc_id", F.explode(toks).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("double").alias("c"))
    )
    n = F.sum("c")
    return (
        tf.groupBy("doc_id")
        .agg(
            n.cast("long").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_types"),
            F.round(
                F.log(n) - F.sum(F.col("c") * F.log("c")) / n, 6
            ).alias("entropy"),
            F.round(F.count(F.lit(1)) / n, 6).alias("type_token_ratio"),
        )
        .orderBy("doc_id")
    )


@register(
    "zipf_fit",
    ids="text: Zipf rank-frequency power-law fit (log-log OLS slope over the top-100 terms) — corpus-health diagnostic",
    oracle=f"""
WITH tk AS (
    SELECT unnest({_DUCK_TOKS}) AS term FROM documents
), freq AS (
    SELECT term, CAST(count(*) AS BIGINT) AS f
    FROM tk GROUP BY term
), ranked AS (
    SELECT term, f,
           row_number() OVER (ORDER BY f DESC, term) AS r
    FROM freq
), top AS (
    SELECT ln(CAST(r AS DOUBLE)) AS x, ln(CAST(f AS DOUBLE)) AS y
    FROM ranked WHERE r <= 100
)
SELECT CAST(100 AS BIGINT) AS n_terms,
       round((sum(x * y) - sum(x) * sum(y) / 100)
             / (sum(x * x) - sum(x) * sum(x) / 100), 4) AS zipf_slope,
       round((sum(y) - ((sum(x * y) - sum(x) * sum(y) / 100)
             / (sum(x * x) - sum(x) * sum(x) / 100)) * sum(x)) / 100, 4)
           AS intercept
FROM top
""",
)
def zipf_fit_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf power-law fit: OLS slope of ln(frequency) on ln(rank) over
    the top-100 terms — natural text sits near slope −1; a corpus
    polluted with template boilerplate flattens (repeated terms inflate
    the head) and machine-generated spam steepens.  One of the cheap
    whole-corpus health diagnostics a pretraining pipeline tracks
    between snapshots.

    The rank table is fully deterministic (integer frequencies, term
    tiebreak); the closed-form OLS runs over exactly 100 (x, y) pairs,
    so the only engine variance is float sum order over 100 terms —
    round(4) on slope and intercept, same convention as the corpus
    moment queries.

    Scale shape: one explode → one (term) partial-aggregating rollup →
    a top-100 ``orderBy·limit`` (per-partition top-k merge, no global
    window over the vocabulary) → a 100-row aggregate."""
    d = table(spark, sf_dir, "documents")
    freq = (
        d.select(F.explode(tokens(F.col("text"))).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    top = freq.orderBy(F.desc("f"), "term").limit(100)
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("f"), "term")
    xy = top.withColumn("r", F.row_number().over(w)).select(
        F.log(F.col("r").cast("double")).alias("x"),
        F.log(F.col("f").cast("double")).alias("y"),
    )
    n = F.lit(100.0)
    sx, sy = F.sum("x"), F.sum("y")
    sxy, sxx = F.sum(F.col("x") * F.col("y")), F.sum(F.col("x") * F.col("x"))
    slope = (sxy - sx * sy / n) / (sxx - sx * sx / n)
    return xy.agg(
        F.lit(100).cast("long").alias("n_terms"),
        F.round(slope, 4).alias("zipf_slope"),
        F.round((sy - slope * sx) / n, 4).alias("intercept"),
    )


# 1/log2(i+1) for ranks 1..10, spelled as shared 12-digit literals on
# both engines (log2 is transcendental — never recomputed at runtime).
_NDCG_DISC = (
    (1, 1.0),
    (2, 0.630929753571),
    (3, 0.5),
    (4, 0.430676558073),
    (5, 0.386852807235),
    (6, 0.356207187108),
    (7, 0.333333333333),
    (8, 0.315464876786),
    (9, 0.301029995664),
    (10, 0.289064826318),
)

_NDCG_TERMS = (
    "filter", "hash", "join", "merge", "scan",
    "sort", "spark", "stream", "vector", "window",
)

_NDCG_DISC_SQL = ", ".join(f"({r}, {d!r})" for r, d in _NDCG_DISC)
_NDCG_TERMS_SQL = ", ".join(f"'{t}'" for t in _NDCG_TERMS)


@register(
    "ndcg_eval",
    ids="retrieval-eval: NDCG@10 + MRR of a tf ranking against length-normalized graded relevance",
    oracle=f"""
WITH t AS (
    SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents
), base AS (
    SELECT doc_id, len(toks) AS dl FROM t
), tk AS (
    SELECT doc_id, unnest(toks) AS term FROM t
), tf AS (
    SELECT tk.doc_id, term, CAST(count(*) AS BIGINT) AS tf,
           CAST(max(base.dl) AS BIGINT) AS dl
    FROM tk JOIN base USING (doc_id)
    WHERE term IN ({_NDCG_TERMS_SQL})
    GROUP BY tk.doc_id, term
), g AS (
    SELECT doc_id, term, tf,
           CASE least(3, CAST(floor(tf * 20.0 / dl) AS BIGINT))
                WHEN 0 THEN 0 WHEN 1 THEN 1 WHEN 2 THEN 3 ELSE 7
           END AS gain,
           row_number() OVER (PARTITION BY term
               ORDER BY tf DESC, doc_id) AS sys_rank,
           row_number() OVER (PARTITION BY term
               ORDER BY least(3, CAST(floor(tf * 20.0 / dl) AS BIGINT))
                        DESC, doc_id) AS ideal_rank
    FROM tf
), disc AS (
    SELECT CAST(r AS INTEGER) AS r, CAST(d AS DOUBLE) AS d
    FROM (VALUES {_NDCG_DISC_SQL}) AS v(r, d)
), sys10 AS (
    SELECT term,
           CAST(sum(CAST(floor(g.gain * disc.d * 1000000000 + 0.5)
                         AS BIGINT)) AS BIGINT) AS dcgq,
           min(CASE WHEN g.gain > 0 THEN g.sys_rank END) AS first_rel
    FROM g JOIN disc ON g.sys_rank = disc.r
    GROUP BY term
), ideal10 AS (
    SELECT term,
           CAST(sum(CAST(floor(g.gain * disc.d * 1000000000 + 0.5)
                         AS BIGINT)) AS BIGINT) AS idcgq
    FROM g JOIN disc ON g.ideal_rank = disc.r
    GROUP BY term
), nc AS (
    SELECT term, CAST(count(*) AS BIGINT) AS n_cand FROM tf GROUP BY term
)
SELECT nc.term, nc.n_cand,
       round(CAST(s.dcgq AS DOUBLE) / 1000000000, 6) AS dcg,
       round(CAST(i.idcgq AS DOUBLE) / 1000000000, 6) AS idcg,
       round(CASE WHEN i.idcgq = 0 THEN 0.0
                  ELSE CAST(s.dcgq AS DOUBLE) / CAST(i.idcgq AS DOUBLE)
             END, 6) AS ndcg,
       round(CASE WHEN s.first_rel IS NULL THEN 0.0
                  ELSE 1.0 / s.first_rel END, 6) AS rr
FROM nc JOIN sys10 s USING (term) JOIN ideal10 i USING (term)
ORDER BY term
""",
)
def ndcg_eval_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality evaluation — NDCG@10 and MRR of a raw-tf
    ranking judged against length-normalized graded relevance, per
    query term.  This is the metric layer a retrieval stack (BM25,
    `hybrid_rrf_rank`, the ANN family) is tuned WITH; here the "system"
    is deliberately the naive tf ranking so the metric has signal: the
    grade `least(3, floor(tf·20/dl))` rewards term DENSITY, so long
    padded documents that tf ranks highly score low relevance, and
    NDCG < 1 measures exactly that mismatch.

    Portability: gains are integers via a CASE ladder (2^rel − 1);
    rank discounts `1/log2(i+1)` are shared 12-digit literals joined
    from a 10-row constant table (never recomputed via log); per-item
    gain·discount products quantize to 1e-9 and integer-sum, so
    DCG/IDCG/NDCG come from exact BIGINTs on both engines.  Both
    rankings tiebreak on doc_id.

    Scale shape: the token explode filters to the 10 query terms
    MAP-SIDE (only their postings shuffle, `bm25_topk`'s shape); both
    rank windows partition BY TERM — no global window; 10-row output."""
    d = table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    base = d.select("doc_id", toks.alias("_toks")).select(
        "doc_id", "_toks", F.size("_toks").alias("dl")
    )
    tf = (
        base.select("doc_id", "dl", F.explode("_toks").alias("term"))
        .where(F.col("term").isin(*_NDCG_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"), F.max("dl").alias("dl"))
    )
    tf.persist()
    rel = F.least(
        F.lit(3),
        F.floor(F.col("tf") * F.lit(20.0) / F.col("dl")),
    )
    gain = (
        F.when(rel == 0, 0)
        .when(rel == 1, 1)
        .when(rel == 2, 3)
        .otherwise(7)
        .cast("long")
    )
    wt = Window.partitionBy("term")
    g = tf.select(
        "doc_id",
        "term",
        gain.alias("gain"),
        F.row_number()
        .over(wt.orderBy(F.col("tf").desc(), F.col("doc_id")))
        .alias("sys_rank"),
        F.row_number()
        .over(wt.orderBy(rel.desc(), F.col("doc_id")))
        .alias("ideal_rank"),
    )
    disc = spark.createDataFrame(
        list(_NDCG_DISC), schema="r int, d double"
    )
    quant = quantized_sum(F.col("gain") * F.col("d"), 1000000000)
    sys10 = (
        g.join(F.broadcast(disc), g.sys_rank == disc.r)
        .groupBy("term")
        .agg(
            quant.alias("dcgq"),
            F.min(
                F.when(F.col("gain") > 0, F.col("sys_rank"))
            ).alias("first_rel"),
        )
    )
    ideal10 = (
        g.join(F.broadcast(disc), g.ideal_rank == disc.r)
        .groupBy("term")
        .agg(quant.alias("idcgq"))
    )
    nc = tf.groupBy("term").agg(F.count(F.lit(1)).alias("n_cand"))
    out = nc.join(sys10, "term").join(ideal10, "term")
    return out.select(
        "term",
        "n_cand",
        F.round(F.col("dcgq").cast("double") / F.lit(1000000000), 6).alias(
            "dcg"
        ),
        F.round(F.col("idcgq").cast("double") / F.lit(1000000000), 6).alias(
            "idcg"
        ),
        F.round(
            F.when(F.col("idcgq") == 0, F.lit(0.0)).otherwise(
                F.col("dcgq").cast("double") / F.col("idcgq").cast("double")
            ),
            6,
        ).alias("ndcg"),
        F.round(
            F.when(F.col("first_rel").isNull(), F.lit(0.0)).otherwise(
                F.lit(1.0) / F.col("first_rel")
            ),
            6,
        ).alias("rr"),
    ).orderBy("term")
