"""Text-analysis and LLM-curation contract queries + oracles.

Split out of the monolithic contract.py (r3 verdict: no file > ~800
lines); registry order lives in contract.py and is unchanged.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from datamine_v2_0_spark.operators import bpe
from datamine_v2_0_spark.operators import similarity as sim
from datamine_v2_0_spark.operators import text as tx
from datamine_v2_0_spark.queries.base import _t


def q_text_tokens(spark, sf_dir):
    df = _t(spark, sf_dir, "documents")
    c = F.col("text")
    return df.select(
        "doc_id",
        F.length(c).cast("long").alias("n_chars"),
        tx.token_count_ws(c).cast("long").alias("n_tokens_ws"),
        tx.token_count_bpe(c).cast("long").alias("n_tokens_bpe"),
        F.round(tx.punct_ratio(c), 6).alias("punct_ratio"),
        F.round(tx.stopword_ratio(c), 6).alias("stopword_ratio_en"),
        tx.quality_score(c).alias("quality"),
    )

_SW_EN = r"\b(the|and|of|to|is|in|that|it|for|with)\b"

SQL_TEXT_TOKENS = f"""
SELECT doc_id,
       CAST(LENGTH(text) AS BIGINT) AS n_chars,
       CAST(CASE WHEN text IS NULL OR TRIM(text) = '' THEN 0
            ELSE LEN(regexp_split_to_array(TRIM(text), '\\s+')) END AS BIGINT)
           AS n_tokens_ws,
       CAST(LEN(regexp_extract_all(text, '[A-Za-z]+'))
          + LEN(regexp_extract_all(text, '\\d+'))
          + LEN(regexp_extract_all(text, '[^\\sA-Za-z0-9]')) AS BIGINT)
           AS n_tokens_bpe,
       ROUND(CASE WHEN LENGTH(text) > 0
             THEN LEN(regexp_extract_all(text, '[^\\sA-Za-z0-9]'))
                  / CAST(LENGTH(text) AS DOUBLE) ELSE 0.0 END, 6) AS punct_ratio,
       ROUND(CASE WHEN (CASE WHEN text IS NULL OR TRIM(text) = '' THEN 0
                  ELSE LEN(regexp_split_to_array(TRIM(text), '\\s+')) END) > 0
             THEN LEN(regexp_extract_all(LOWER(text), '{_SW_EN}'))
                  / CAST(CASE WHEN text IS NULL OR TRIM(text) = '' THEN 0
                     ELSE LEN(regexp_split_to_array(TRIM(text), '\\s+')) END
                     AS DOUBLE)
             ELSE 0.0 END, 6) AS stopword_ratio_en,
       ROUND((
         LEAST(CAST(LENGTH(text) AS DOUBLE) / 500.0, 1.0)
       + LEAST((CASE WHEN (CASE WHEN text IS NULL OR TRIM(text) = '' THEN 0
                  ELSE LEN(regexp_split_to_array(TRIM(text), '\\s+')) END) > 0
             THEN LEN(regexp_extract_all(LOWER(text), '{_SW_EN}'))
                  / CAST(CASE WHEN text IS NULL OR TRIM(text) = '' THEN 0
                     ELSE LEN(regexp_split_to_array(TRIM(text), '\\s+')) END
                     AS DOUBLE)
             ELSE 0.0 END) * 4.0, 1.0)
       + GREATEST(0.0, 1.0 - (CASE WHEN LENGTH(text) > 0
             THEN LEN(regexp_extract_all(text, '[^\\sA-Za-z0-9]'))
                  / CAST(LENGTH(text) AS DOUBLE) ELSE 0.0 END) * 4.0)
       ) / 3.0, 6) AS quality
FROM documents
"""

_PROFILES_SQL = {
    "en": _SW_EN,
    "de": r"\b(der|die|und|das|ist|nicht|ein|mit|für|von)\b",
    "fr": r"\b(le|la|les|et|est|une|pour|dans|que|pas)\b",
    "es": r"\b(el|la|los|que|es|una|por|con|para|del)\b",
}

def q_text_lang(spark, sf_dir):
    df = _t(spark, sf_dir, "documents")
    return df.select("doc_id", tx.lang_id(F.col("text")).alias("lang_pred"))

SQL_TEXT_LANG = f"""
WITH s AS (
  SELECT doc_id,
         LEN(regexp_extract_all(LOWER(text), '{_PROFILES_SQL["en"]}')) AS s_en,
         LEN(regexp_extract_all(LOWER(text), '{_PROFILES_SQL["de"]}')) AS s_de,
         LEN(regexp_extract_all(LOWER(text), '{_PROFILES_SQL["fr"]}')) AS s_fr,
         LEN(regexp_extract_all(LOWER(text), '{_PROFILES_SQL["es"]}')) AS s_es
  FROM documents
)
SELECT doc_id,
       CASE WHEN GREATEST(s_en, s_de, s_fr, s_es) = 0 THEN 'und'
            WHEN s_fr = GREATEST(s_en, s_de, s_fr, s_es) THEN 'fr'
            WHEN s_es = GREATEST(s_en, s_de, s_fr, s_es) THEN 'es'
            WHEN s_en = GREATEST(s_en, s_de, s_fr, s_es) THEN 'en'
            ELSE 'de' END AS lang_pred
FROM s
"""

def q_text_fingerprint(spark, sf_dir):
    df = _t(spark, sf_dir, "documents")
    return df.select("doc_id", tx.fingerprint(F.col("text")).alias("fingerprint"))

SQL_TEXT_FINGERPRINT = r"""
SELECT doc_id,
       sha256(array_to_string(list_sort(list_distinct(
           string_split(TRIM(regexp_replace(LOWER(text), '\s+', ' ', 'g')), ' ')
       )), ' ')) AS fingerprint
FROM documents
"""

def q_text_bm25(spark, sf_dir):
    """BM25 top-5 per probe: every 100th document queries the full corpus
    through the inverted index (contamination-audit shape)."""
    from datamine_v2_0_spark.operators import retrieval as rt

    df = _t(spark, sf_dir, "documents")
    probes = df.filter(F.col("doc_id") % 100 == 0).select(
        F.col("doc_id").alias("qid"), F.col("text").alias("qtext")
    )
    return rt.bm25_topk(df, probes, "text", "doc_id", "qtext", "qid", k=5)

SQL_TEXT_BM25 = r"""
WITH tokens AS (
  SELECT doc_id,
         unnest(string_split(TRIM(regexp_replace(LOWER(text), '\s+', ' ', 'g')),
                             ' ')) AS term
  FROM documents
), tok AS (
  SELECT doc_id, term FROM tokens WHERE term <> ''
), tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term
), dl AS (
  SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY doc_id
), dfreq AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY term
), stats AS (
  SELECT COUNT(*) AS n_docs, AVG(CAST(dl AS DOUBLE)) AS avgdl FROM dl
), qterms AS (
  SELECT DISTINCT doc_id AS query_id, term FROM tok WHERE doc_id % 100 = 0
), scored AS (
  SELECT q.query_id, tf.doc_id,
         ROUND(SUM(
           LN(1.0 + (CAST(s.n_docs - d.df AS DOUBLE) + 0.5)
                    / (CAST(d.df AS DOUBLE) + 0.5))
           * (CAST(tf.tf AS DOUBLE) * 2.2)
           / (CAST(tf.tf AS DOUBLE)
              + 1.2 * (0.25 + 0.75 * CAST(dl.dl AS DOUBLE) / s.avgdl))
         ), 6) AS score
  FROM tf
  JOIN qterms q USING (term)
  JOIN dfreq d USING (term)
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats s
  GROUP BY q.query_id, tf.doc_id
)
SELECT query_id, doc_id, score, CAST(rn AS INT) AS rank FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY score DESC, doc_id) AS rn
  FROM scored
) WHERE rn <= 5
"""

def q_text_tfidf(spark, sf_dir):
    df = _t(spark, sf_dir, "documents")
    return tx.tfidf_top_terms(df, "text", "doc_id", k=3)

SQL_TEXT_TFIDF = r"""
WITH tokens AS (
  SELECT doc_id,
         unnest(string_split(TRIM(regexp_replace(LOWER(text), '\s+', ' ', 'g')),
                             ' ')) AS term
  FROM documents
), tok AS (
  SELECT doc_id, term FROM tokens WHERE term <> ''
), tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term
), dfreq AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY term
), n AS (
  SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents
), scored AS (
  SELECT tf.doc_id, tf.term,
         ROUND(tf.tf * (LN(CAST(n.n_docs + 1 AS DOUBLE) / (dfreq.df + 1)) + 1.0),
               6) AS tfidf
  FROM tf JOIN dfreq USING (term) CROSS JOIN n
)
SELECT doc_id, term, tfidf FROM scored
QUALIFY ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) <= 3
"""

def q_text_quality(spark, sf_dir):
    """Corpus quality-filter signals (C4/Gopher-style): token count,
    punctuation ratio, stopword ratio, composite quality score — pure
    Column algebra, zero Python."""
    df = _t(spark, sf_dir, "documents")
    c = F.col("text")
    return df.select(
        "doc_id",
        tx.token_count_ws(c).alias("n_tokens"),
        F.round(tx.punct_ratio(c), 6).alias("punct_ratio"),
        F.round(tx.stopword_ratio(c), 6).alias("stopword_ratio"),
        tx.quality_score(c).alias("quality"),
    )

SQL_TEXT_QUALITY = r"""
WITH t AS (
  SELECT doc_id, text,
         CASE WHEN trim(text) IS NULL OR trim(text) = '' THEN 0
              ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tokens,
         CASE WHEN len(text) > 0
              THEN len(regexp_extract_all(text, '[^\sA-Za-z0-9]'))
                   / CAST(len(text) AS DOUBLE)
              ELSE CAST(0.0 AS DOUBLE) END AS praw
  FROM documents
), s AS (
  SELECT doc_id, text, n_tokens, praw,
         CASE WHEN n_tokens > 0
              THEN len(regexp_extract_all(lower(text),
                       '\b(the|and|of|to|is|in|that|it|for|with)\b'))
                   / CAST(n_tokens AS DOUBLE)
              ELSE CAST(0.0 AS DOUBLE) END AS sraw
  FROM t
)
SELECT doc_id, n_tokens,
       ROUND(praw, 6) AS punct_ratio,
       ROUND(sraw, 6) AS stopword_ratio,
       ROUND((LEAST(len(text) / CAST(500.0 AS DOUBLE), CAST(1.0 AS DOUBLE))
              + LEAST(sraw * CAST(4.0 AS DOUBLE), CAST(1.0 AS DOUBLE))
              + GREATEST(CAST(0.0 AS DOUBLE),
                         CAST(1.0 AS DOUBLE) - praw * CAST(4.0 AS DOUBLE)))
             / CAST(3.0 AS DOUBLE), 6) AS quality
FROM s
"""

def q_text_redact(spark, sf_dir):
    """PII scrub over text with deterministic injected PII (the synthetic
    corpus has none, so the query plants an email/URL/phone per doc from
    doc_id and redacts — exercising every rule for real)."""
    df = _t(spark, sf_dir, "documents")
    sid = F.col("doc_id").cast("string")
    dirty = F.concat(
        F.lit("u"), sid, F.lit("@example.com said: "), F.col("text"),
        F.lit(" see https://ex.org/d/"), sid,
        F.lit(" or call +1 555-000-"), sid,
    )
    return df.select("doc_id", tx.redact_pii(dirty).alias("redacted"))

SQL_TEXT_REDACT = r"""
SELECT doc_id,
       regexp_replace(regexp_replace(regexp_replace(
           'u' || CAST(doc_id AS VARCHAR) || '@example.com said: ' || text
               || ' see https://ex.org/d/' || CAST(doc_id AS VARCHAR)
               || ' or call +1 555-000-' || CAST(doc_id AS VARCHAR),
           'https?://\S+', '<URL>', 'g'),
           '[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
           '\+?\d[\d\-\s()]{7,}\d', '<PHONE>', 'g') AS redacted
FROM documents
"""

def q_text_ngrams(spark, sf_dir):
    """Corpus bigram vocabulary: top-20 by occurrence count."""
    df = _t(spark, sf_dir, "documents")
    return tx.top_ngrams(df, "text", n=2, k=20)

SQL_TEXT_NGRAMS = r"""
WITH norm AS (
  SELECT string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
  FROM documents
), grams AS (
  SELECT unnest([w[i] || ' ' || w[i+1]
                 for i in generate_series(1, len(w) - 1)]) AS ngram
  FROM norm WHERE len(w) >= 2
)
SELECT ngram, COUNT(*) AS n_occur FROM grams
GROUP BY ngram ORDER BY n_occur DESC, ngram LIMIT 20
"""

def q_text_chunks(spark, sf_dir):
    """Overlapping context-window chunking: 24-token windows, 8-token
    overlap (stride 16); last window reaches the doc end."""
    df = _t(spark, sf_dir, "documents")
    return tx.chunk_documents(df, "text", "doc_id", chunk_tokens=24, overlap=8)

SQL_TEXT_CHUNKS = r"""
WITH norm AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS w
  FROM documents
  WHERE len(trim(regexp_replace(text, '\s+', ' ', 'g'))) > 0
), sized AS (
  SELECT doc_id, w, len(w) AS n,
         CASE WHEN len(w) <= 24 THEN 1
              ELSE CAST(CEIL((len(w) - 24) / CAST(16 AS DOUBLE)) + 1 AS INTEGER)
         END AS nw
  FROM norm
), ex AS (
  SELECT doc_id, w, n, unnest(range(0, nw)) AS chunk_idx FROM sized
)
SELECT doc_id, CAST(chunk_idx AS INTEGER) AS chunk_idx,
       array_to_string(w[chunk_idx * 16 + 1 : chunk_idx * 16 + 24], ' ')
           AS chunk_text,
       CAST(LEAST(24, n - chunk_idx * 16) AS INTEGER) AS n_tokens
FROM ex
"""

def q_text_packed(spark, sf_dir):
    """Chunk -> shard -> first-fit-decreasing sequence packing (stateful
    greedy inside applyInPandas — genuinely non-SQL, rows-only check;
    invariants are pytest-enforced in test_binning_text)."""
    df = _t(spark, sf_dir, "documents")
    chunks = tx.chunk_documents(df, "text", "doc_id", chunk_tokens=24, overlap=8)
    sharded = chunks.withColumn("shard", F.pmod(F.col("doc_id"), F.lit(8)))
    return tx.pack_chunks(
        sharded, "shard", ["doc_id", "chunk_idx"], "n_tokens", capacity=64
    )

def q_text_packed_nextfit(spark, sf_dir):
    """Order-preserving next-fit sequence packing over the chunked
    corpus; the sequential bin recurrence is replayed exactly by a
    DuckDB recursive CTE, making this the oracle-checked packing
    variant (FFD reorders by size and stays rows-only)."""
    df = _t(spark, sf_dir, "documents")
    chunks = tx.chunk_documents(df, "text", "doc_id", chunk_tokens=24, overlap=8)
    sharded = chunks.withColumn("shard", F.pmod(F.col("doc_id"), F.lit(8)))
    return tx.pack_chunks_nextfit(
        sharded, "shard", ["doc_id", "chunk_idx"], "n_tokens", capacity=64
    )

SQL_TEXT_PACKED_NEXTFIT = r"""
WITH RECURSIVE norm AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS w
  FROM documents
  WHERE len(trim(regexp_replace(text, '\s+', ' ', 'g'))) > 0
), sized AS (
  SELECT doc_id, len(w) AS n,
         CASE WHEN len(w) <= 24 THEN 1
              ELSE CAST(CEIL((len(w) - 24) / CAST(16 AS DOUBLE)) + 1 AS INTEGER)
         END AS nw
  FROM norm
), ex AS (
  SELECT doc_id, n, unnest(range(0, nw)) AS chunk_idx FROM sized
), items AS (
  SELECT CAST(doc_id % 8 AS BIGINT) AS shard, doc_id,
         CAST(chunk_idx AS INTEGER) AS chunk_idx,
         CAST(LEAST(24, n - chunk_idx * 16) AS INTEGER) AS n_tokens,
         ROW_NUMBER() OVER (PARTITION BY doc_id % 8
                            ORDER BY doc_id, chunk_idx) AS rn
  FROM ex
), packed AS (
  SELECT shard, doc_id, chunk_idx, n_tokens, rn,
         CAST(1 AS BIGINT) AS bin_id, CAST(n_tokens AS BIGINT) AS fill
  FROM items WHERE rn = 1
  UNION ALL
  SELECT i.shard, i.doc_id, i.chunk_idx, i.n_tokens, i.rn,
         CASE WHEN p.fill + i.n_tokens <= 64 THEN p.bin_id
              ELSE p.bin_id + 1 END,
         CASE WHEN p.fill + i.n_tokens <= 64 THEN p.fill + i.n_tokens
              ELSE CAST(i.n_tokens AS BIGINT) END
  FROM packed p JOIN items i ON i.shard = p.shard AND i.rn = p.rn + 1
)
SELECT shard, doc_id, chunk_idx, n_tokens, bin_id FROM packed
"""

def q_text_repetition(spark, sf_dir):
    """Gopher-style per-doc repetition signals: duplicate-word fraction,
    duplicate-word char fraction, top-bigram char fraction."""
    df = _t(spark, sf_dir, "documents")
    return tx.repetition_signals(df, "text", "doc_id")

SQL_TEXT_REPETITION = r"""
WITH norm AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
  FROM documents WHERE len(trim(text)) > 0
), u AS (
  SELECT doc_id, unnest(w) AS unit FROM norm
), pu AS (
  SELECT doc_id, unit, COUNT(*) AS c FROM u GROUP BY doc_id, unit
), du AS (
  SELECT doc_id,
         CAST(SUM(c) AS BIGINT) AS n_units,
         CAST(SUM(c) - COUNT(*) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS dup_f,
         CAST(SUM((c - 1) * len(unit)) AS DOUBLE)
             / CAST(SUM(c * len(unit)) AS DOUBLE) AS dupc_f,
         CAST(SUM(c * len(unit)) AS BIGINT) AS total_chars
  FROM pu GROUP BY doc_id
), g AS (
  SELECT doc_id, unnest([w[i] || ' ' || w[i+1]
                 for i in generate_series(1, len(w) - 1)]) AS gram
  FROM norm WHERE len(w) >= 2
), pg AS (
  SELECT doc_id, gram, COUNT(*) AS c FROM g GROUP BY doc_id, gram
), tg AS (
  SELECT doc_id, gram, c,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY c DESC, gram DESC) AS rn
  FROM pg
)
SELECT du.doc_id, du.n_units,
       ROUND(du.dup_f, 6) AS dup_unit_frac,
       ROUND(du.dupc_f, 6) AS dup_unit_char_frac,
       ROUND(LEAST(1.0, COALESCE(
           CAST(t.c * (len(t.gram) - 1) AS DOUBLE)
               / CAST(du.total_chars AS DOUBLE),
           0.0)), 6) AS top_bigram_char_frac
FROM du LEFT JOIN (SELECT doc_id, gram, c FROM tg WHERE rn = 1) t
  USING (doc_id)
"""

def q_text_decontaminate(spark, sf_dir):
    """Benchmark decontamination: docs with doc_id % 29 == 0 act as the
    eval set; every remaining (training) doc is scored by distinct
    4-gram overlap with it. Eval grams broadcast; train side never
    shuffles its exploded grams."""
    df = _t(spark, sf_dir, "documents")
    ev = df.filter(F.col("doc_id") % 29 == 0)
    tr = df.filter(F.col("doc_id") % 29 != 0)
    return tx.decontaminate(tr, ev, "text", "doc_id", n=4)

SQL_TEXT_DECONTAMINATE = r"""
WITH norm AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
  FROM documents WHERE len(trim(text)) > 0
), g AS (
  SELECT doc_id, unnest(list_distinct([array_to_string(w[i:i+3], ' ')
                 for i in generate_series(1, len(w) - 3)])) AS gram
  FROM norm WHERE len(w) >= 4
), eg AS (
  SELECT DISTINCT gram FROM g WHERE doc_id % 29 = 0
), h AS (
  SELECT g.doc_id, COUNT(*) AS n_hits
  FROM g JOIN eg USING (gram)
  WHERE g.doc_id % 29 <> 0
  GROUP BY g.doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_eval_grams,
       COALESCE(h.n_hits, 0) > 0 AS contaminated
FROM documents d LEFT JOIN h USING (doc_id)
WHERE d.doc_id % 29 <> 0
"""

def q_text_quality_gate(spark, sf_dir):
    """Gopher/MassiveText document-quality gate: per-doc signals (word
    count, mean word length, symbol ratio, alpha-word fraction,
    bullet/ellipsis line fractions, required-stopword count) plus the
    published threshold verdict. The synthetic corpus has no bullets or
    ellipses, so the query plants them deterministically from doc_id —
    every rule fires for real on some slice of the data."""
    df = _t(spark, sf_dir, "documents")
    sid = F.col("doc_id")
    staged = F.concat(
        F.when(sid % 3 == 0, F.lit("- bullet item\n")).otherwise(F.lit("")),
        F.col("text"),
        F.when(sid % 5 == 0, F.lit("\nto be continued...")).otherwise(
            F.lit("")
        ),
        F.when(sid % 7 == 0, F.lit(" ## #")).otherwise(F.lit("")),
    )
    base = df.select("doc_id", staged.alias("text"))
    return tx.gopher_gate(base, "text", "doc_id", min_words=10)

SQL_TEXT_QUALITY_GATE = r"""
WITH staged AS (
  SELECT doc_id,
         (CASE WHEN doc_id % 3 = 0 THEN '- bullet item' || chr(10) ELSE '' END)
         || text
         || (CASE WHEN doc_id % 5 = 0 THEN chr(10) || 'to be continued...' ELSE '' END)
         || (CASE WHEN doc_id % 7 = 0 THEN ' ## #' ELSE '' END) AS text
  FROM documents
), base AS (
  SELECT doc_id, text,
         CASE WHEN len(trim(text)) > 0
              THEN string_split_regex(trim(text), '\s+')
              ELSE [] END AS w,
         string_split(text, chr(10)) AS l
  FROM staged
), sig AS (
  SELECT doc_id,
         len(w) AS n_words,
         ROUND(CASE WHEN len(w) > 0
               THEN list_aggregate(list_transform(w, x -> length(x)), 'sum')
                    / CAST(len(w) AS DOUBLE) ELSE 0.0 END, 6) AS mean_word_len,
         ROUND(CASE WHEN len(w) > 0
               THEN (len(regexp_extract_all(text, '#'))
                     + len(regexp_extract_all(text, '(\.\.\.|…)')))
                    / CAST(len(w) AS DOUBLE) ELSE 0.0 END, 6) AS symbol_word_ratio,
         ROUND(CASE WHEN len(w) > 0
               THEN len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]')))
                    / CAST(len(w) AS DOUBLE) ELSE 0.0 END, 6) AS alpha_word_frac,
         ROUND(CASE WHEN len(l) > 0
               THEN len(list_filter(l, x -> regexp_matches(trim(x), '^[-*•]')))
                    / CAST(len(l) AS DOUBLE) ELSE 0.0 END, 6) AS bullet_line_frac,
         ROUND(CASE WHEN len(l) > 0
               THEN len(list_filter(l, x -> regexp_matches(trim(x), '(\.\.\.|…)$')))
                    / CAST(len(l) AS DOUBLE) ELSE 0.0 END, 6) AS ellipsis_line_frac,
         len(list_intersect(list_distinct(list_transform(w, x -> lower(x))),
             ['the','be','to','of','and','that','have','with'])) AS n_required_stopwords
  FROM base
)
SELECT doc_id, n_words, mean_word_len, symbol_word_ratio, alpha_word_frac,
       bullet_line_frac, ellipsis_line_frac, n_required_stopwords,
       (n_words >= 10 AND n_words <= 100000
        AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
        AND symbol_word_ratio <= 0.1
        AND bullet_line_frac <= 0.9
        AND ellipsis_line_frac <= 0.3
        AND alpha_word_frac >= 0.8
        AND n_required_stopwords >= 2) AS passes
FROM sig
"""

def q_text_lm_score(spark, sf_dir):
    """Corpus-self-trained unigram LM score per document (CCNet-style
    perplexity filtering, cheapest member): mean log10 word probability
    under the corpus unigram distribution."""
    df = _t(spark, sf_dir, "documents")
    return tx.unigram_logprob(df, "text", "doc_id")

SQL_TEXT_LM_SCORE = r"""
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS w
  FROM documents WHERE len(trim(text)) > 0
), counted AS (
  SELECT doc_id, COUNT(*) OVER (PARTITION BY w) AS c FROM toks
), per_doc AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
         AVG(log10(CAST(c AS DOUBLE))) AS avg_log_c
  FROM counted GROUP BY doc_id
), tot AS (
  SELECT CAST(SUM(n_words) AS DOUBLE) AS tot FROM per_doc
)
SELECT doc_id, n_words,
       ROUND(avg_log_c - log10(tot), 6) AS avg_logp
FROM per_doc CROSS JOIN tot
"""

def q_text_bpe(spark, sf_dir):
    """Learned BPE tokenization end-to-end: train 30 merges from the
    corpus word-frequency table (one groupBy; driver loop is
    corpus-size-independent), broadcast the ranks, tokenize every doc
    with the cached Arrow-batched apply kernel. Genuinely non-SQL
    (iterative merge learning) → rows-only check; semantics are pinned
    by hand-verified merge tests and the reconstruction invariant
    (tests/test_bpe.py)."""
    df = _t(spark, sf_dir, "documents")
    merges = bpe.train_bpe(df, "text", num_merges=30)
    return bpe.apply_bpe(df, "text", "doc_id", merges).select(
        "doc_id", "n_tokens"
    )

def q_text_rrf(spark, sf_dir):
    """Hybrid retrieval: BM25 top-10 (inverted index) and dense cosine
    top-10 (same probe ids against the embeddings table) fused by
    reciprocal-rank fusion into one top-5 — the standard hybrid-search
    merge. Both candidate lists are top-k-per-query sized, so the fusion
    union/aggregate is bounded by queries·k·2 regardless of corpus size."""
    from datamine_v2_0_spark.operators import retrieval as rt

    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    probes = docs.filter(F.col("doc_id") % 100 == 0).select(
        F.col("doc_id").alias("qid"), F.col("text").alias("qtext")
    )
    lex = rt.bm25_topk(docs, probes, "text", "doc_id", "qtext", "qid", k=10)
    qvecs = emb.filter(F.col("vec_id") % 100 == 0)
    dense = sim.cosine_topk(emb, qvecs, "embedding", "vec_id", k=10)
    wd = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.col("neighbor_id").asc()
    )
    dense_ranked = dense.select(
        "query_id",
        F.col("neighbor_id").alias("doc_id"),
        F.row_number().over(wd).alias("rank"),
    )
    return rt.rrf_fuse([lex, dense_ranked], k=5)

SQL_TEXT_RRF = r"""
WITH tokens AS (
  SELECT doc_id,
         unnest(string_split(TRIM(regexp_replace(LOWER(text), '\s+', ' ', 'g')),
                             ' ')) AS term
  FROM documents
), tok AS (
  SELECT doc_id, term FROM tokens WHERE term <> ''
), tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term
), dl AS (
  SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY doc_id
), dfreq AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY term
), stats AS (
  SELECT COUNT(*) AS n_docs, AVG(CAST(dl AS DOUBLE)) AS avgdl FROM dl
), qterms AS (
  SELECT DISTINCT doc_id AS query_id, term FROM tok WHERE doc_id % 100 = 0
), scored AS (
  SELECT q.query_id, tf.doc_id,
         ROUND(SUM(
           LN(1.0 + (CAST(s.n_docs - d.df AS DOUBLE) + 0.5)
                    / (CAST(d.df AS DOUBLE) + 0.5))
           * (CAST(tf.tf AS DOUBLE) * 2.2)
           / (CAST(tf.tf AS DOUBLE)
              + 1.2 * (0.25 + 0.75 * CAST(dl.dl AS DOUBLE) / s.avgdl))
         ), 6) AS score
  FROM tf
  JOIN qterms q USING (term)
  JOIN dfreq d USING (term)
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats s
  GROUP BY q.query_id, tf.doc_id
), lex AS (
  SELECT query_id, doc_id, rn AS rank FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY query_id ORDER BY score DESC, doc_id) AS rn
    FROM scored
  ) WHERE rn <= 10
), qv AS (
  SELECT vec_id AS query_id, embedding AS qe
  FROM embeddings WHERE vec_id % 100 = 0
), dscored AS (
  SELECT qv.query_id, e.vec_id AS doc_id,
         ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                      CAST(qv.qe AS DOUBLE[])), 6) AS cs
  FROM embeddings e CROSS JOIN qv
  WHERE e.vec_id <> qv.query_id
), dense AS (
  SELECT query_id, doc_id, rn AS rank FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY query_id ORDER BY cs DESC, doc_id) AS rn
    FROM dscored
  ) WHERE rn <= 10
), u AS (
  SELECT query_id, doc_id, 1.0 / (60.0 + rank) AS contrib FROM lex
  UNION ALL
  SELECT query_id, doc_id, 1.0 / (60.0 + rank) AS contrib FROM dense
), fused AS (
  SELECT query_id, doc_id, ROUND(SUM(contrib), 6) AS rrf_score,
         CAST(COUNT(*) AS INT) AS n_lists
  FROM u GROUP BY 1, 2
)
SELECT query_id, doc_id, rrf_score, n_lists, CAST(rn AS INT) AS rank FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY rrf_score DESC, doc_id) AS rn
  FROM fused
) WHERE rn <= 5
"""

def q_text_lm_bigram(spark, sf_dir):
    """Interpolated bigram LM scoring (operators/text.bigram_logprob):
    leave-one-out counts (the doc's own contributions removed before
    scoring) with an add-α unigram backoff; row-local bigram
    construction, one explode, one pre-aggregation, six shared window
    sums over the aggregated relation, 1-row broadcast (N, V)."""
    df = _t(spark, sf_dir, "documents")
    return tx.bigram_logprob(df, "text", "doc_id", lam=0.7, alpha=1.0)

SQL_TEXT_LM_BIGRAM = r"""
WITH base AS (
  SELECT doc_id, string_split_regex(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS w
  FROM documents
), eligible AS (
  SELECT * FROM base WHERE len(w) >= 2
), bgr AS (
  SELECT doc_id, w[i] AS w1, w[i+1] AS w2
  FROM eligible, unnest(generate_series(1, len(w)-1)) AS t(i)
), bg AS (
  SELECT doc_id, w1, w2, CAST(COUNT(*) AS DOUBLE) AS n
  FROM bgr GROUP BY 1, 2, 3
), counted AS (
  SELECT doc_id, n,
         SUM(n) OVER (PARTITION BY w1, w2) AS c12,
         SUM(n) OVER (PARTITION BY w1) AS c1,
         SUM(n) OVER (PARTITION BY w2) AS c2,
         SUM(n) OVER (PARTITION BY doc_id, w1) AS n1d,
         SUM(n) OVER (PARTITION BY doc_id, w2) AS n2d,
         SUM(n) OVER (PARTITION BY doc_id) AS nd
  FROM bg
), tot AS (
  SELECT SUM(n) AS nn, CAST(COUNT(DISTINCT w2) AS DOUBLE) AS v FROM bg
)
SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_bigrams,
       ROUND(SUM(n * log10(
         0.7 * (CASE WHEN c1 - n1d > 0 THEN (c12 - n) / (c1 - n1d) ELSE 0.0 END)
         + 0.3 * (c2 - n2d + 1.0) / (nn - nd + 1.0 * v)
       )) / SUM(n), 6) AS avg_logp
FROM counted CROSS JOIN tot GROUP BY doc_id
"""

def q_text_decontaminate_embed(spark, sf_dir):
    """Embedding-space decontamination vs a broadcast eval set
    (operators/semantic.decontaminate_by_embedding): eval matrix in the
    Arrow kernel closure, corpus scanned once, zero shuffles."""
    from datamine_v2_0_spark.operators import semantic as sem

    emb = _t(spark, sf_dir, "embeddings")
    eval_df = emb.orderBy("vec_id").limit(20)
    train = emb.join(eval_df.select("vec_id"), "vec_id", "left_anti")
    return sem.decontaminate_by_embedding(
        train, eval_df, "embedding", "vec_id", threshold=0.35
    )

SQL_TEXT_DECONTAMINATE_EMBED = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
ev AS (SELECT vec_id AS eval_id, v AS evv FROM e ORDER BY vec_id LIMIT 20),
tr AS (SELECT * FROM e WHERE vec_id NOT IN (SELECT eval_id FROM ev)),
s AS (
  SELECT tr.vec_id, ev.eval_id,
         list_cosine_similarity(tr.v, ev.evv) AS cos,
         ROW_NUMBER() OVER (
           PARTITION BY tr.vec_id
           ORDER BY ROUND(list_cosine_similarity(tr.v, ev.evv), 6) DESC,
                    ev.eval_id) AS rn
  FROM tr CROSS JOIN ev
)
SELECT vec_id, eval_id, ROUND(cos, 6) AS cos_sim
FROM s WHERE rn = 1 AND cos >= 0.35
"""


def q_text_retrieval_eval(spark, sf_dir):
    """Ranked-retrieval quality loop: BM25 top-5 per probe (every 100th
    doc queries the corpus), judged against a same-source relevance set
    — per query nDCG@5 / MRR@5 / recall@5. Binary gains keep every DCG
    term 1/log2(i+1), engine-exact at 6 dp; the oracle recomputes BM25
    AND the metrics in SQL."""
    from datamine_v2_0_spark.operators import retrieval as rt

    df = _t(spark, sf_dir, "documents")
    probes = df.filter(F.col("doc_id") % 100 == 0).select(
        F.col("doc_id").alias("qid"), F.col("text").alias("qtext")
    )
    results = rt.bm25_topk(df, probes, "text", "doc_id", "qtext", "qid", k=5)
    qd = probes.join(
        df.select("doc_id", "source"),
        probes["qid"] == F.col("doc_id"),
    ).select(F.col("qid").alias("query_id"), "source")
    qrels = (
        qd.join(df.select("doc_id", "source"), "source")
        .filter(F.col("doc_id") != F.col("query_id"))
        .select("query_id", "doc_id")
    )
    return rt.retrieval_eval(results, qrels, k=5)


SQL_TEXT_RETRIEVAL_EVAL = r"""
WITH tokens AS (
  SELECT doc_id,
         unnest(string_split(TRIM(regexp_replace(LOWER(text), '\s+', ' ', 'g')),
                             ' ')) AS term
  FROM documents
), tok AS (
  SELECT doc_id, term FROM tokens WHERE term <> ''
), tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term
), dl AS (
  SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY doc_id
), dfreq AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY term
), stats AS (
  SELECT COUNT(*) AS n_docs, AVG(CAST(dl AS DOUBLE)) AS avgdl FROM dl
), qterms AS (
  SELECT DISTINCT doc_id AS query_id, term FROM tok WHERE doc_id % 100 = 0
), scored AS (
  SELECT q.query_id, tf.doc_id,
         ROUND(SUM(
           LN(1.0 + (CAST(s.n_docs - d.df AS DOUBLE) + 0.5)
                    / (CAST(d.df AS DOUBLE) + 0.5))
           * (CAST(tf.tf AS DOUBLE) * 2.2)
           / (CAST(tf.tf AS DOUBLE)
              + 1.2 * (0.25 + 0.75 * CAST(dl.dl AS DOUBLE) / s.avgdl))
         ), 6) AS score
  FROM tf
  JOIN qterms q USING (term)
  JOIN dfreq d USING (term)
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats s
  GROUP BY q.query_id, tf.doc_id
), res AS (
  SELECT query_id, doc_id, rn AS rank FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY query_id ORDER BY score DESC, doc_id) AS rn
    FROM scored
  ) WHERE rn <= 5
), qr AS (
  SELECT q.doc_id AS query_id, d.doc_id
  FROM documents q
  JOIN documents d ON d.source = q.source AND d.doc_id <> q.doc_id
  WHERE q.doc_id % 100 = 0
), rel AS (
  SELECT query_id, COUNT(*) AS n_rel FROM qr GROUP BY query_id
), icum AS (
  SELECT t.i, SUM(1.0 / log2(s.i + 1.0)) AS cum
  FROM range(1, 6) t(i) JOIN range(1, 6) s(i) ON s.i <= t.i
  GROUP BY t.i
), idcg AS (
  SELECT rel.query_id, rel.n_rel, icum.cum AS idcg_v
  FROM rel JOIN icum ON icum.i = LEAST(5, rel.n_rel)
), hit AS (
  SELECT r.query_id, r.rank,
         CASE WHEN qr.doc_id IS NOT NULL THEN 1 ELSE 0 END AS rel
  FROM res r
  LEFT JOIN qr ON qr.query_id = r.query_id AND qr.doc_id = r.doc_id
), pq AS (
  SELECT query_id,
         SUM(CASE WHEN rel = 1 THEN 1.0 / log2(rank + 1.0) ELSE 0.0 END) AS dcg,
         MAX(CASE WHEN rel = 1 THEN 1.0 / rank END) AS mrr,
         SUM(rel) AS nhit
  FROM hit GROUP BY query_id
)
SELECT query_id,
       ROUND(CASE WHEN coalesce(idcg_v, 0) > 0
                  THEN coalesce(dcg, 0) / idcg_v ELSE 0 END, 6) AS ndcg,
       ROUND(coalesce(mrr, 0), 6) AS mrr,
       ROUND(CASE WHEN coalesce(n_rel, 0) > 0
                  THEN CAST(coalesce(nhit, 0) AS DOUBLE) / n_rel
                  ELSE 0 END, 6) AS recall,
       CAST(coalesce(n_rel, 0) AS BIGINT) AS n_rel
FROM pq FULL OUTER JOIN idcg USING (query_id)
"""


def q_text_js_divergence(spark, sf_dir):
    """Vocabulary drift between two sources: base-2 Jensen-Shannon
    divergence of src0's vs src1's unigram token distributions, with
    token totals and joint vocabulary size. The per-term contributions
    are independent (partial-aggregatable), so the plan is explode ->
    per-term groupBy -> 1-row totals fold -> sum."""
    df = _t(spark, sf_dir, "documents")
    return tx.vocab_js_divergence(df, "text", "source", "src0", "src1")


SQL_TEXT_JS_DIVERGENCE = r"""
WITH toks AS (
  SELECT source = 'src0' AS a,
         unnest(string_split(TRIM(regexp_replace(LOWER(text), '\s+', ' ', 'g')),
                             ' ')) AS t
  FROM documents WHERE source IN ('src0', 'src1')
), tok AS (
  SELECT a, t FROM toks WHERE t <> ''
), per AS (
  SELECT t,
         SUM(CASE WHEN a THEN 1 ELSE 0 END) AS ca,
         SUM(CASE WHEN a THEN 0 ELSE 1 END) AS cb
  FROM tok GROUP BY t
), tot AS (
  SELECT SUM(ca) AS na, SUM(cb) AS nb FROM per
), terms AS (
  SELECT CAST(ca AS DOUBLE) / na AS p, CAST(cb AS DOUBLE) / nb AS q
  FROM per, tot
)
SELECT (SELECT CAST(coalesce(na, 0) AS BIGINT) FROM tot) AS n_tokens_a,
       (SELECT CAST(coalesce(nb, 0) AS BIGINT) FROM tot) AS n_tokens_b,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM per) AS vocab,
       ROUND(SUM(
         0.5 * CASE WHEN p > 0 THEN p * log2(p / ((p + q) / 2)) ELSE 0 END
         + 0.5 * CASE WHEN q > 0 THEN q * log2(q / ((p + q) / 2)) ELSE 0 END
       ), 6) AS jsd
FROM terms
"""
