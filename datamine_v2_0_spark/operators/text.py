"""Text-analysis operators for training-data pipelines.

Language ID (stopword-profile heuristic), quality scoring (length / punct /
stopword ratios), token counting (whitespace + BPE-ish regex), and document
fingerprinting (normalize → sort distinct tokens → hash; the classic
key-collision fingerprint). All pure JVM-side Column algebra — these run
inside whole-stage codegen over a 100 TB corpus with zero Python cost.
"""

from __future__ import annotations

from typing import Sequence

import pandas as pd
from pyspark.sql import Column, DataFrame, Window, functions as F

from datamine_v2_0_spark.operators.ckpt import iter_checkpoint
from datamine_v2_0_spark.operators.dedup import normalize_text

# Minimal high-frequency stopword profiles. Scoring = count of profile-word
# occurrences; the language with the max score wins ('und' = undetermined).
_LANG_PROFILES: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is", "in", "that", "it", "for", "with"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "ein", "mit", "für", "von"],
    "fr": ["le", "la", "les", "et", "est", "une", "pour", "dans", "que", "pas"],
    "es": ["el", "la", "los", "que", "es", "una", "por", "con", "para", "del"],
}


def token_count_ws(col: Column) -> Column:
    """Whitespace token count; empty/NULL → 0."""
    t = F.trim(col)
    return F.when(
        t.isNull() | (t == ""), F.lit(0)
    ).otherwise(F.size(F.split(t, r"\s+")))


def token_count_bpe(col: Column) -> Column:
    """BPE-ish subword proxy: count word chunks, digit runs, and
    punctuation marks (a deterministic stand-in for a real tokenizer's
    token count; gpt-2-style pre-tokenizer split classes).

    ONE regexp pass over a disjoint alternation — identical count to
    summing the three patterns separately (the classes are disjoint, so
    leftmost-longest matching splits runs exactly the same way), but
    measured 28x faster at 6M docs: Spark 4's regexp_count on a LONE
    negated character class ran ~20 µs/doc (OPS_AT_SCALE_r12 round-12
    profiling — the single largest cost in text_profile at scale) while
    the same class as an alternation branch runs at full scan speed."""
    return F.coalesce(
        F.regexp_count(col, F.lit(r"[A-Za-z]+|\d+|[^\sA-Za-z0-9]")), F.lit(0)
    )


# Every ASCII alphanumeric + the Java-regex ASCII \s set
# [ \t\n\x0B\f\r]: the exact complement of the punct class
# [^\sA-Za-z0-9], spelled as a translate deletion list so the punct
# count is a char-map pass instead of a regexp scan (50x at 6M docs —
# see token_count_bpe's note). Spark's length()/translate() count
# Unicode code points, matching java-regex per-code-point class
# semantics on astral chars.
_ALNUM_WS = (
    "0123456789"
    "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
    "abcdefghijklmnopqrstuvwxyz"
    " \t\n\x0b\x0c\r"
)


def punct_count(col: Column) -> Column:
    """Count of chars outside [A-Za-z0-9] and ASCII whitespace —
    bit-identical to regexp_count(col, '[^\\sA-Za-z0-9]') (see
    _ALNUM_WS), as a translate char-map pass: delete every alnum/ws
    char and count what survives."""
    return F.length(F.translate(col, _ALNUM_WS, ""))


def punct_ratio(col: Column) -> Column:
    n = F.length(col)
    return F.when(n > 0, punct_count(col) / n).otherwise(F.lit(0.0))


def stopword_ratio(col: Column, lang: str = "en") -> Column:
    words = _LANG_PROFILES[lang]
    pattern = r"\b(" + "|".join(words) + r")\b"
    total = token_count_ws(col)
    hits = F.regexp_count(F.lower(col), F.lit(pattern))
    return F.when(total > 0, hits / total).otherwise(F.lit(0.0))


def quality_score(col: Column) -> Column:
    """Composite [0,1] quality heuristic: rewards reasonable length and
    stopword presence, penalizes punctuation soup. Deterministic, tunable;
    the shape (length/punct/stopword signals) follows standard corpus
    quality-filter practice (e.g. C4/Gopher rules)."""
    n = F.length(col).cast("double")
    length_term = F.least(n / F.lit(500.0), F.lit(1.0))
    sw_term = F.least(stopword_ratio(col) * 4.0, F.lit(1.0))
    punct_pen = F.greatest(F.lit(0.0), F.lit(1.0) - punct_ratio(col) * 4.0)
    return F.round((length_term + sw_term + punct_pen) / 3.0, 6)


def lang_id(col: Column) -> Column:
    """Argmax language over the stopword profiles; 'und' when no profile
    matches at all."""
    lower = F.lower(col)
    scores = []
    for lang, words in _LANG_PROFILES.items():
        pattern = r"\b(" + "|".join(words) + r")\b"
        scores.append(
            F.struct(
                F.coalesce(F.regexp_count(lower, F.lit(pattern)), F.lit(0)).alias("s"),
                F.lit(lang).alias("lang"),
            )
        )
    best = F.greatest(*scores) if len(scores) > 1 else scores[0]
    return F.when(best["s"] > 0, best["lang"]).otherwise(F.lit("und"))


# PII patterns restricted to the regex subset Java and RE2 agree on
# (no lookarounds): ORDER MATTERS — URLs first so an email-shaped
# substring inside a URL isn't half-redacted
_PII_RULES: list[tuple[str, str]] = [
    (r"https?://\S+", "<URL>"),
    (r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\+?\d[\d\-\s()]{7,}\d", "<PHONE>"),
]


def redact_pii(col: Column) -> Column:
    """Replace emails / URLs / phone-shaped digit runs with typed
    placeholder tokens — the standard pre-training scrub pass. Pure
    regexp_replace chain (codegen, no Python); patterns avoid lookarounds
    so any RE2-based engine applies them identically."""
    out = col
    for pat, repl in _PII_RULES:
        out = F.regexp_replace(out, pat, repl)
    return out


def word_grams(words: Column, n: int) -> Column:
    """Array of word n-grams (space-joined) from an array-of-words
    column; shorter-than-n arrays yield an empty array. Pure JVM
    higher-order functions — no explode until the caller wants one."""
    cnt = F.size(words) - F.lit(n - 1)
    idx = F.when(cnt > 0, F.sequence(F.lit(0), cnt - 1)).otherwise(
        F.array().cast("array<int>")
    )
    return F.transform(idx, lambda i: F.array_join(F.slice(words, i + 1, n), " "))


def _norm_words(text_col: str) -> tuple[Column, Column]:
    """(normalized text, words array): collapse whitespace runs, trim."""
    t = F.trim(F.regexp_replace(F.col(text_col), r"\s+", " "))
    return t, F.split(t, " ")


def top_ngrams(
    df: DataFrame, text_col: str, n: int = 2, k: int = 20
) -> DataFrame:
    """Corpus-level n-gram vocabulary: the k most frequent word n-grams
    with occurrence counts (NOT per-doc distinct — vocab building counts
    every occurrence). Plan: map-side gram explode → one count shuffle →
    top-k (rank window over the tiny aggregated gram table). Ties break
    on the gram string for cross-engine determinism."""
    from datamine_v2_0_spark.operators.dedup import _spread

    df = _spread(df)
    t = F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))
    words = F.split(t, " ")
    # empty/whitespace-only docs split to [''] (size 1): without the
    # length guard, n=1 would count an empty-string "unigram" per doc
    grams = F.when(F.length(t) > 0, word_grams(words, n)).otherwise(
        F.array().cast("array<string>")
    )
    exploded = df.select(F.explode(grams).alias("ngram"))
    counted = exploded.groupBy("ngram").agg(F.count(F.lit(1)).alias("n_occur"))
    # orderBy+limit compiles to TakeOrderedAndProject (per-partition heap
    # + driver merge of k rows) — no global sort, no one-partition window
    return counted.orderBy(F.desc("n_occur"), F.col("ngram")).limit(k)


def chunk_documents(
    df: DataFrame,
    text_col: str,
    id_col: str,
    chunk_tokens: int = 128,
    overlap: int = 16,
) -> DataFrame:
    """Split each document into overlapping token windows — the
    context-window preparation stage before tokenization/packing.
    Windows start every ``chunk_tokens - overlap`` tokens; the count is
    ``1 + ceil((n - chunk)/stride)`` so the final window reaches the end
    without emitting a trailing window that adds no new tokens.

    One-row-in/many-rows-out via sequence+explode — pure JVM, no UDTF.
    Returns (id, chunk_idx, chunk_text, n_tokens); empty docs yield no
    rows."""
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be smaller than chunk_tokens")
    stride = chunk_tokens - overlap
    t = F.trim(F.regexp_replace(F.col(text_col), r"\s+", " "))
    words = F.split(t, " ")
    n = F.size(words)
    n_win = F.when(
        n <= chunk_tokens, F.lit(1)
    ).otherwise(
        (F.ceil((n - F.lit(chunk_tokens)) / F.lit(stride)) + 1).cast("int")
    )
    base = df.select(
        F.col(id_col), words.alias("__w"), n.alias("__n"), n_win.alias("__nw")
    ).filter(F.length(t) > 0)
    out = base.select(
        F.col(id_col),
        F.col("__w"),
        F.col("__n"),
        F.explode(
            F.sequence(F.lit(0), F.col("__nw") - 1)
        ).alias("chunk_idx"),
    )
    start = F.col("chunk_idx") * stride
    return out.select(
        F.col(id_col),
        F.col("chunk_idx"),
        F.array_join(
            F.slice(F.col("__w"), start + 1, chunk_tokens), " "
        ).alias("chunk_text"),
        F.least(F.lit(chunk_tokens), F.col("__n") - start).alias("n_tokens"),
    )


def pack_chunks(
    df: DataFrame,
    shard_col: str,
    id_cols: list[str],
    tokens_col: str,
    capacity: int = 2048,
) -> DataFrame:
    """Pack chunks into fixed-capacity training sequences: within each
    shard, first-fit-decreasing bin packing (sort by token count
    descending, drop each chunk into the first bin with room). Greedy
    packing is inherently stateful, so it runs as an Arrow-batched
    ``applyInPandas`` kernel per shard — the standard layout: shards are
    the parallelism unit (a date, a source file, a hash bucket), packing
    is exact within a shard, and no cross-shard coordination exists by
    design. Chunks larger than capacity get a bin of their own.

    Returns the input id columns plus (bin_id, bin_tokens): bin_id is
    dense per shard, bin_tokens the bin's post-packing total."""
    import pandas as pd

    from pyspark.sql.types import (
        LongType, StructField, StructType,
    )

    out_schema = StructType(
        [f for f in df.select(shard_col, *id_cols, tokens_col).schema.fields]
        + [StructField("bin_id", LongType()), StructField("bin_tokens", LongType())]
    )

    def _pack(pdf: pd.DataFrame) -> pd.DataFrame:
        order = pdf.sort_values(
            [tokens_col] + id_cols, ascending=[False] + [True] * len(id_cols)
        )
        bins: list[int] = []  # remaining room per bin
        assigned = []
        for t in order[tokens_col]:
            t = int(t)
            for b, room in enumerate(bins):
                if t <= room:
                    bins[b] = room - t
                    assigned.append(b)
                    break
            else:
                # oversize chunks close their bin (room -1, not 0) so a
                # later zero-token chunk can't slip into an over-capacity
                # bin and break the one-oversize-chunk-per-bin invariant
                bins.append(capacity - t if t <= capacity else -1)
                assigned.append(len(bins) - 1)
        order = order.assign(bin_id=assigned)
        totals = order.groupby("bin_id")[tokens_col].sum().rename("bin_tokens")
        order = order.join(totals, on="bin_id")
        cols = [shard_col] + id_cols + [tokens_col, "bin_id", "bin_tokens"]
        return order[cols]

    return df.select(shard_col, *id_cols, tokens_col).groupBy(shard_col).applyInPandas(
        _pack, schema=out_schema
    )


def pack_chunks_nextfit(
    df: DataFrame,
    shard_col: str,
    id_cols: list[str],
    tokens_col: str,
    capacity: int = 2048,
) -> DataFrame:
    """Next-fit sequence packing: walk chunks in id order within each
    shard, keep filling the current bin until the next chunk would
    overflow, then open a new one. Order-preserving and single-pass —
    the streaming-friendly packing (FFD in :func:`pack_chunks` packs
    tighter but reorders by size). An oversize chunk lands alone: its
    fill already exceeds capacity, so the very next chunk opens a new
    bin. Sequential state per shard → applyInPandas kernel; unlike FFD
    the sequential recurrence is SQL-expressible (recursive CTE), so
    this variant is oracle-checkable.

    Returns the input columns plus bin_id (1-based, dense per shard)."""
    import pandas as pd

    from pyspark.sql.types import LongType, StructField, StructType

    out_schema = StructType(
        [f for f in df.select(shard_col, *id_cols, tokens_col).schema.fields]
        + [StructField("bin_id", LongType())]
    )

    def _pack(pdf: pd.DataFrame) -> pd.DataFrame:
        order = pdf.sort_values(id_cols)
        assigned = []
        bin_id, fill = 0, 0
        for t in order[tokens_col]:
            t = int(t)
            if bin_id == 0 or fill + t > capacity:
                bin_id += 1
                fill = t
            else:
                fill += t
            assigned.append(bin_id)
        out = order.assign(bin_id=assigned)
        return out[[shard_col] + id_cols + [tokens_col, "bin_id"]]

    return df.select(shard_col, *id_cols, tokens_col).groupBy(shard_col).applyInPandas(
        _pack, schema=out_schema
    )


def fingerprint(col: Column) -> Column:
    """Key-collision fingerprint: lowercase → split → distinct → sort →
    join → sha256. Word-order-insensitive duplicate key."""
    t = F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))
    words = F.array_sort(F.array_distinct(F.split(t, " ")))
    return F.sha2(F.array_join(words, " "), 256)


def tfidf_top_terms(
    df: DataFrame, text_col: str, id_col: str, k: int = 5, round_to: int = 6
) -> DataFrame:
    """Top-k TF-IDF terms per document, fully declarative:

    scan → explode tokens → per-(doc, term) TF → per-term document
    frequency → smoothed IDF ``ln((N+1)/(df+1)) + 1`` (sklearn smoothing)
    → score → rank-k per doc.

    Plan shape at scale: two shuffles (doc-term groupBy, term groupBy) +
    one shuffle join tf⋈idf on term + the per-doc top-k window. N is
    carried via a 1-row aggregate crossJoin (broadcast), not a driver
    collect, so the whole thing is one lazy plan."""
    norm = F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))
    tokens = (
        df.select(F.col(id_col), F.explode(F.split(norm, " ")).alias("term"))
        .filter(F.col("term") != "")
    )
    # the TF table feeds BOTH the df aggregation and the scoring join,
    # and Catalyst gives the two branches no exchange reuse (different
    # downstream groupings; plan-audited: the corpus scan+tokenize ran
    # twice) — materialize the inverted index once, the BM25 recipe.
    tf = iter_checkpoint(
        tokens.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    total = df.select(F.countDistinct(id_col).alias("n_docs"))
    idf = dfreq.crossJoin(F.broadcast(total)).select(
        "term",
        (
            F.log((F.col("n_docs") + 1).cast("double") / (F.col("df") + 1))
            + F.lit(1.0)
        ).alias("idf"),
    )
    scored = tf.join(idf, "term").select(
        F.col(id_col),
        "term",
        F.round(F.col("tf") * F.col("idf"), round_to).alias("tfidf"),
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("tfidf"), F.col("term"))
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def text_profile(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """One-pass text-analysis projection: token counts, ratios, quality,
    language, fingerprint."""
    c = F.col(text_col)
    return df.select(
        F.col(id_col),
        F.length(c).alias("n_chars"),
        token_count_ws(c).alias("n_tokens_ws"),
        token_count_bpe(c).alias("n_tokens_bpe"),
        F.round(punct_ratio(c), 6).alias("punct_ratio"),
        F.round(stopword_ratio(c), 6).alias("stopword_ratio_en"),
        quality_score(c).alias("quality"),
        lang_id(c).alias("lang_pred"),
        fingerprint(c).alias("fingerprint"),
    )


def repetition_signals(
    df: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """Per-document repetition quality signals (the Gopher/MassiveText
    repetition-filter family): fraction of duplicate word occurrences,
    fraction of characters inside duplicate word occurrences, and the
    character fraction claimed by the single most frequent word bigram.
    High values flag boilerplate / keyword-stuffed / degenerate docs.

    Plan shape at scale: explode words → partial-agg groupBy
    (doc, word) → groupBy doc; bigram branch mirrors it and joins back
    on doc. Three shuffles total, all map-side-combinable, no Python.
    Empty docs are excluded (no units to measure).

    Returns (id, n_units, dup_unit_frac, dup_unit_char_frac,
    top_bigram_char_frac), fractions rounded to 6.
    """
    t, words = _norm_words(text_col)
    base = df.select(F.col(id_col), words.alias("__w")).filter(F.length(t) > 0)

    units = base.select(F.col(id_col), F.explode("__w").alias("unit"))
    per_unit = units.groupBy(id_col, "unit").agg(F.count(F.lit(1)).alias("c"))
    ulen = F.length("unit")
    doc_units = per_unit.groupBy(id_col).agg(
        F.sum("c").cast("long").alias("n_units"),
        (
            (F.sum("c") - F.count(F.lit(1))) / F.sum("c")
        ).alias("__dup_f"),
        (
            F.sum((F.col("c") - 1) * ulen) / F.sum(F.col("c") * ulen)
        ).alias("__dupc_f"),
        F.sum(F.col("c") * ulen).cast("long").alias("__total_chars"),
    )

    grams = base.select(
        F.col(id_col), F.explode(word_grams(F.col("__w"), 2)).alias("gram")
    )
    per_gram = grams.groupBy(id_col, "gram").agg(F.count(F.lit(1)).alias("c"))
    w = Window.partitionBy(id_col).orderBy(F.desc("c"), F.desc("gram"))
    top = (
        per_gram.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        # gram length minus the joiner space = chars of the two words
        .select(
            F.col(id_col),
            (F.col("c") * (F.length("gram") - 1)).alias("__top_chars"),
        )
    )

    # occurrences of the top bigram can OVERLAP ('a a a a' has three
    # 'a a' occurrences sharing words), so count x chars over-counts
    # coverage — cap at 1.0 to keep the documented [0, 1] fraction
    # (exact de-overlapped coverage needs positional bookkeeping the
    # Gopher-style gate doesn't require)
    return doc_units.join(top, id_col, "left").select(
        F.col(id_col),
        "n_units",
        F.round("__dup_f", 6).alias("dup_unit_frac"),
        F.round("__dupc_f", 6).alias("dup_unit_char_frac"),
        F.round(
            F.least(
                F.lit(1.0),
                F.coalesce(
                    F.col("__top_chars") / F.col("__total_chars"),
                    F.lit(0.0),
                ),
            ),
            6,
        ).alias("top_bigram_char_frac"),
    )


# Gopher's required-stopword rule: a clean natural-language doc contains
# at least 2 of these (Rae et al. 2021, MassiveText filtering).
_GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_signals(
    df: DataFrame,
    text_col: str,
    id_col: str,
    keep: Sequence[str] = (),
) -> DataFrame:
    """Per-document Gopher/MassiveText document-quality signals: word
    count, mean word length, symbol-to-word ratio (# and ellipsis),
    fraction of words with an alphabetic character, fraction of lines
    that are bullets / end in ellipsis, and the count of required
    stopwords present. Pure Column algebra over arrays (split + HOF
    filter/aggregate) — whole-stage codegen, zero shuffles, zero Python;
    the scan is the only exchange-free stage a 100 TB filter pass needs.

    Returns (id, n_words, mean_word_len, symbol_word_ratio,
    alpha_word_frac, bullet_line_frac, ellipsis_line_frac,
    n_required_stopwords) plus any ``keep`` passthrough columns (so a
    downstream stage can filter-then-continue without re-joining the
    source — the signals are a projection, not a new lineage); ratios
    rounded to 6, empty docs → zeros.
    """
    c = F.col(text_col)
    t, words_all = _norm_words(text_col)
    words = F.when(F.length(t) > 0, words_all).otherwise(
        F.array().cast("array<string>")
    )
    n_words = F.size(words)
    safe_n = F.when(n_words > 0, n_words.cast("double"))
    mean_len = F.coalesce(
        F.aggregate(
            words, F.lit(0).cast("long"), lambda a, w: a + F.length(w)
        )
        / safe_n,
        F.lit(0.0),
    )
    alpha_frac = F.coalesce(
        F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]"))) / safe_n,
        F.lit(0.0),
    )
    symbols = F.coalesce(F.regexp_count(c, F.lit("#")), F.lit(0)) + F.coalesce(
        F.regexp_count(c, F.lit(r"(\.\.\.|…)")), F.lit(0)
    )
    symbol_ratio = F.coalesce(symbols / safe_n, F.lit(0.0))

    lines = F.split(c, "\n")
    n_lines = F.size(lines)
    safe_l = F.when(n_lines > 0, n_lines.cast("double"))
    bullet_frac = F.coalesce(
        F.size(F.filter(lines, lambda l: F.trim(l).rlike("^[-*•]"))) / safe_l,
        F.lit(0.0),
    )
    ellipsis_frac = F.coalesce(
        F.size(F.filter(lines, lambda l: F.trim(l).rlike("(\\.\\.\\.|…)$")))
        / safe_l,
        F.lit(0.0),
    )

    # distinct required stopwords present as whole tokens: ONE pass over
    # the already-split words array (set intersection), not 8 full-text
    # regex scans — same single-projection plan, ~3× cheaper gate
    stop_hits: Column = F.size(
        F.array_intersect(
            F.array_distinct(F.transform(words, F.lower)),
            F.array(*[F.lit(wd) for wd in _GOPHER_STOPWORDS]),
        )
    )

    return df.select(
        F.col(id_col),
        n_words.alias("n_words"),
        F.round(mean_len, 6).alias("mean_word_len"),
        F.round(symbol_ratio, 6).alias("symbol_word_ratio"),
        F.round(alpha_frac, 6).alias("alpha_word_frac"),
        F.round(bullet_frac, 6).alias("bullet_line_frac"),
        F.round(ellipsis_frac, 6).alias("ellipsis_line_frac"),
        stop_hits.alias("n_required_stopwords"),
        *[F.col(k) for k in keep],
    )


def gopher_gate(
    df: DataFrame,
    text_col: str,
    id_col: str,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    max_bullet_frac: float = 0.9,
    max_ellipsis_frac: float = 0.3,
    min_alpha_frac: float = 0.8,
    min_stopwords: int = 2,
    keep: Sequence[str] = (),
) -> DataFrame:
    """Gopher quality-filter verdict: signals plus a ``passes`` boolean
    applying the published MassiveText thresholds (all parameterized).
    One narrow projection — composable in front of dedup/tokenize stages
    without forcing an exchange."""
    s = gopher_signals(df, text_col, id_col, keep=keep)
    return s.withColumn(
        "passes",
        (F.col("n_words") >= min_words)
        & (F.col("n_words") <= max_words)
        & (F.col("mean_word_len") >= min_mean_word_len)
        & (F.col("mean_word_len") <= max_mean_word_len)
        & (F.col("symbol_word_ratio") <= max_symbol_ratio)
        & (F.col("bullet_line_frac") <= max_bullet_frac)
        & (F.col("ellipsis_line_frac") <= max_ellipsis_frac)
        & (F.col("alpha_word_frac") >= min_alpha_frac)
        & (F.col("n_required_stopwords") >= min_stopwords),
    )


def unigram_logprob(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Corpus-self-trained unigram language-model score per document —
    the CCNet/perplexity-filter family's cheapest member: documents whose
    mean per-word log10 probability under the corpus unigram
    distribution is far below typical are gibberish / boilerplate
    candidates.

    Plan shape at scale: explode words ONCE → per-word occurrence count
    as a window over the word exchange (same shuffle volume as a
    vocab-join plan, but the corpus-sized token stream is scanned and
    shuffled exactly once — a groupBy-vocab + join would re-derive the
    explode on both join branches) → per-doc aggregation → the global
    token total folds back in as a 1-row broadcast cross join over the
    ALREADY doc-sized aggregate (avg log p(w) = avg log c − log total).

    Returns (id, n_words, avg_logp) for non-empty docs, rounded to 6.
    """
    from pyspark.sql import Window

    t, words = _norm_words(text_col)
    toks = (
        df.select(F.col(id_col), words.alias("__w"))
        .filter(F.length(t) > 0)
        .select(F.col(id_col), F.explode("__w").alias("__word"))
    )
    wc = Window.partitionBy("__word")
    per_doc = (
        toks.withColumn("__c", F.count(F.lit(1)).over(wc))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.avg(F.log10(F.col("__c").cast("double"))).alias("__avg_log_c"),
        )
    )
    # global token total from size(words) BEFORE the explode: the
    # second pass this scalar costs is a scan + array-size sum, not a
    # replay of the explode/shuffle lineage (Catalyst can't reuse the
    # doc exchange here — it prunes the window out of the total branch,
    # which un-canonicalizes the exchange)
    total = (
        df.select(words.alias("__w"))
        .filter(F.length(t) > 0)
        .agg(F.sum(F.size("__w")).cast("double").alias("__tot"))
    )
    return per_doc.crossJoin(F.broadcast(total)).select(
        id_col,
        "n_words",
        F.round(
            F.col("__avg_log_c") - F.log10(F.col("__tot")), 6
        ).alias("avg_logp"),
    )


def word_ngram_set(
    df: DataFrame, text_col: str, id_col: str, n: int
) -> DataFrame:
    """Distinct word n-grams per document as (id, gram) rows — the
    building block for overlap-based decontamination. Distinctness is
    applied inside the array (array_distinct) BEFORE the explode, so
    the shuffle-free exploded stream is already per-doc-unique.

    Grams are LOWERCASED: overlap decontamination must be
    case-insensitive or a trivially re-cased copy of a benchmark item
    sails through (the GPT-3 protocol normalizes before matching)."""
    t, words = _norm_words(text_col)
    words = F.transform(words, F.lower)
    return (
        df.select(F.col(id_col), words.alias("__w"))
        .filter(F.length(t) > 0)
        .select(
            F.col(id_col),
            F.explode(F.array_distinct(word_grams(F.col("__w"), n))).alias(
                "gram"
            ),
        )
    )


def decontaminate(
    train_df: DataFrame,
    eval_df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 13,
) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    word n-gram with an evaluation/benchmark set (the GPT-3/Llama
    n-gram-overlap protocol; n=13 is the customary production value).

    Plan shape at scale: the eval side collapses to a distinct-gram set
    — benchmarks are tiny relative to a training corpus, so it is
    BROADCAST and the training side never shuffles its exploded grams;
    the only exchange is the per-doc hit-count aggregation (small). For
    corpora where even the gram strings are too wide, pre-hash both
    sides with xxhash64 — counts are unchanged modulo 64-bit collisions.

    Returns every training doc: (id, n_eval_grams, contaminated)."""
    train_grams = word_ngram_set(train_df, text_col, id_col, n)
    eval_grams = (
        word_ngram_set(eval_df, text_col, id_col, n)
        .select("gram")
        .distinct()
    )
    # train_grams is per-doc-distinct → count(*) == distinct grams hit
    hits = (
        train_grams.join(F.broadcast(eval_grams), "gram")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_eval_grams"))
    )
    return train_df.select(F.col(id_col)).join(hits, id_col, "left").select(
        F.col(id_col),
        F.coalesce("n_eval_grams", F.lit(0)).cast("long").alias(
            "n_eval_grams"
        ),
        (F.coalesce("n_eval_grams", F.lit(0)) > 0).alias("contaminated"),
    )


def compression_ratio(
    df: DataFrame, text_col: str, id_col: str, level: int = 6
) -> DataFrame:
    """Per-document zlib compression ratio (compressed/raw bytes) — the
    classic corpus-quality signal: highly compressible text is
    repetitive boilerplate (menus, tag soup, keyword stuffing), nearly
    incompressible text is noise/binary; natural prose sits in between.
    Public pipelines gate on exactly this (the deflate-ratio heuristic
    in C4/RefinedWeb-family cleaning).

    Returns (id, n_bytes, n_compressed, compression_ratio); empty/NULL
    docs yield NULL ratio. One Arrow-batched kernel — zlib is
    CPU-bound per doc, so the batch UDF (not per-row Python) is the
    only acceptable form; upstream `_spread` callers apply when the
    scan is under-partitioned."""
    import zlib

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("struct<n_bytes:long,n_compressed:long>")
    def _comp(texts: pd.Series) -> pd.DataFrame:
        raw = [
            t.encode("utf-8") if isinstance(t, str) else None for t in texts
        ]
        return pd.DataFrame(
            {
                "n_bytes": [len(b) if b else None for b in raw],
                "n_compressed": [
                    len(zlib.compress(b, level)) if b else None for b in raw
                ],
            }
        )

    from datamine_v2_0_spark.operators.dedup import _spread

    out = _spread(df).select(
        F.col(id_col), _comp(F.col(text_col)).alias("__c")
    )
    return out.select(
        id_col,
        F.col("__c.n_bytes").alias("n_bytes"),
        F.col("__c.n_compressed").alias("n_compressed"),
        F.round(
            F.col("__c.n_compressed") / F.col("__c.n_bytes"), 6
        ).alias("compression_ratio"),
    )


def bigram_logprob(
    df: DataFrame,
    text_col: str,
    id_col: str,
    lam: float = 0.7,
    alpha: float = 1.0,
    round_to: int = 6,
) -> DataFrame:
    """Interpolated bigram language-model score per document — one step
    up the CCNet perplexity-filter ladder from `unigram_logprob`:
    avg log10( λ·P(w2|w1) + (1−λ)·P(w2) ) over the document's bigram
    stream, with the model trained LEAVE-ONE-OUT: each document is
    scored against the corpus with its OWN counts removed. Without
    leave-one-out a document of corpus-unique bigrams self-trains
    c12 = c1 = 1 ⇒ P(w2|w1) = 1 and gibberish outscores fluent text
    (the round-4 defect); with it, doc-unique bigrams fall through to
    the α-smoothed unigram backoff and score near log10(α/(N+αV)).

    Per bigram instance of document d:
      P_cond = (c12 − n12_d) / (c1 − n1_d)   (0 when the doc owns all
               of w1's stream — denominator guard)
      P_back = (c2 − n2_d + α) / (N − n_d + α·V)   (add-α over the
               held-out stream; strictly positive, strictly < 1+)
      p      = λ·P_cond + (1−λ)·P_back
    where c* are corpus bigram-stream counts, n*_d the document's own
    contributions, N the stream total and V the second-word vocabulary.

    Plan shape at scale: bigram arrays are built INSIDE the row
    (arrays_zip of two slices — no window, no self-join), exploded
    once, then pre-aggregated to (doc, w1, w2, n) so every later pass
    runs on the distinct-bigram-per-doc table, not the raw stream. The
    six count passes are window SUMs sharing that one aggregated
    relation; (N, V) fold back as a 1-row broadcast. Docs need ≥ 2
    words; returns (id, n_bigrams, avg_logp) with avg weighted by
    instance multiplicity, identical to averaging the raw stream."""
    from pyspark.sql import Window

    t, words = _norm_words(text_col)
    base = df.select(F.col(id_col), words.alias("__w")).filter(
        F.size(F.col("__w")) >= 2
    )
    # consumed by BOTH the six-window pass and the (N, V) totals —
    # materialize the aggregated bigram table once (no exchange reuse
    # across the branches; same recipe as the BM25/tfidf index)
    bg = iter_checkpoint(
        base.select(
            F.col(id_col),
            F.explode(
                F.arrays_zip(
                    F.slice("__w", 1, F.size("__w") - 1).alias("w1"),
                    F.slice("__w", 2, F.size("__w") - 1).alias("w2"),
                )
            ).alias("__bg"),
        )
        .select(
            F.col(id_col),
            F.col("__bg.w1").alias("__w1"),
            F.col("__bg.w2").alias("__w2"),
        )
        .groupBy(id_col, "__w1", "__w2")
        .agg(F.count(F.lit(1)).cast("double").alias("__n"))
    )

    def wsum(*cols: str):
        return F.sum("__n").over(Window.partitionBy(*cols))

    # Window ORDER: a window whose partition keys are a SUPERSET of the
    # established hash partitioning needs no new exchange
    # (HashPartitioning(w1) satisfies ClusteredDistribution([w1, w2]),
    # same for the id-keyed trio), so the six windows run on THREE
    # exchanges, and ending with the id-keyed group leaves the table
    # hash(id)-partitioned for the final groupBy(id) (no fourth
    # exchange). Catalyst's TransposeWindow happens to derive this
    # layout from the unordered select too (plan-audited: the r14
    # before/after plans are shape-identical) — the explicit prefix
    # stacking just stops depending on that rule firing.
    counted = (
        bg
        .withColumn("__c1", wsum("__w1"))
        .withColumn("__c12", wsum("__w1", "__w2"))
        .withColumn("__c2", wsum("__w2"))
        .withColumn("__nd", wsum(id_col))
        .withColumn("__n1d", wsum(id_col, "__w1"))
        .withColumn("__n2d", wsum(id_col, "__w2"))
        .select(
            F.col(id_col), "__n", "__c12", "__c1", "__c2",
            "__n1d", "__n2d", "__nd",
        )
    )
    totals = bg.agg(
        F.sum("__n").alias("__ctot"),
        F.countDistinct("__w2").cast("double").alias("__V"),
    )
    lam_c, a = F.lit(float(lam)), F.lit(float(alpha))
    cond = F.when(
        F.col("__c1") - F.col("__n1d") > 0,
        (F.col("__c12") - F.col("__n")) / (F.col("__c1") - F.col("__n1d")),
    ).otherwise(F.lit(0.0))
    back = (F.col("__c2") - F.col("__n2d") + a) / (
        F.col("__ctot") - F.col("__nd") + a * F.col("__V")
    )
    p = lam_c * cond + (F.lit(1.0) - lam_c) * back
    return (
        counted.crossJoin(F.broadcast(totals))
        .groupBy(id_col)
        .agg(
            F.sum("__n").cast("long").alias("n_bigrams"),
            F.round(
                F.sum(F.col("__n") * F.log10(p)) / F.sum("__n"), round_to
            ).alias("avg_logp"),
        )
    )


def vocab_js_divergence(
    df: DataFrame,
    text_col: str,
    group_col: str,
    group_a,
    group_b,
    round_to: int = 6,
) -> DataFrame:
    """Jensen-Shannon divergence (base 2, in [0, 1]) between the unigram
    TOKEN distributions of two sub-corpora — the text cousin of the PSI
    monitor: "did this source's vocabulary drift between snapshots?" /
    "how far is crawl B's language from crawl A's?". 0 = identical
    distributions, 1 = disjoint vocabularies. One row:
    (n_tokens_a, n_tokens_b, vocab, jsd); NULL jsd when either side has
    no tokens (no silent 0 for "nothing vs something").

    Tokenization is the shared `normalize_text` split, so the measured
    vocabulary agrees with the fingerprint/TF-IDF/BM25 family.
    Scale shape: one explode + one per-term groupBy (partial-agg;
    shuffle carries the distinct vocabulary, not tokens), a 1-row
    totals fold-in, and a final sum — JSD's per-term contributions are
    independent, so the whole thing is partial-aggregatable; no UDFs,
    no collect."""
    toks = (
        df.filter(F.col(group_col).isin([group_a, group_b]))
        .select(
            (F.col(group_col) == F.lit(group_a)).alias("__a"),
            F.explode(
                F.split(normalize_text(F.col(text_col)), " ")
            ).alias("__t"),
        )
        .filter(F.col("__t") != "")
    )
    per_term = toks.groupBy("__t").agg(
        F.sum(F.when(F.col("__a"), 1).otherwise(0)).alias("__ca"),
        F.sum(F.when(F.col("__a"), 0).otherwise(1)).alias("__cb"),
    )
    tot = per_term.agg(
        F.sum("__ca").alias("__na"), F.sum("__cb").alias("__nb")
    )
    j = per_term.join(F.broadcast(tot), F.lit(True))
    p = F.try_divide(F.col("__ca").cast("double"), F.col("__na"))
    q = F.try_divide(F.col("__cb").cast("double"), F.col("__nb"))
    m = (p + q) / 2
    contrib = (
        F.when(p > 0, p * F.log2(p / m) * 0.5).otherwise(F.lit(0.0))
        + F.when(q > 0, q * F.log2(q / m) * 0.5).otherwise(F.lit(0.0))
    )
    out = j.agg(
        F.max("__na").cast("bigint").alias("n_tokens_a"),
        F.max("__nb").cast("bigint").alias("n_tokens_b"),
        F.count(F.lit(1)).cast("bigint").alias("vocab"),
        F.sum(contrib).alias("__jsd"),
    )
    return out.select(
        F.coalesce(F.col("n_tokens_a"), F.lit(0)).alias("n_tokens_a"),
        F.coalesce(F.col("n_tokens_b"), F.lit(0)).alias("n_tokens_b"),
        "vocab",
        F.round(
            F.when(
                (F.col("n_tokens_a") > 0) & (F.col("n_tokens_b") > 0),
                F.col("__jsd"),
            ),
            round_to,
        ).alias("jsd"),
    )
