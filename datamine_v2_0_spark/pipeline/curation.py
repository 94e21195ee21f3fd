"""End-to-end training-corpus curation: quality gate → exact dedup →
benchmark decontamination → per-doc token/quality stats.

The canonical pre-training data pipeline (the C4 / MassiveText /
RefinedWeb recipe) expressed as a composition of this engine's
operators, each stage keeping its scale contract:

1. **Quality gate** (`text.gopher_gate`) — pure Column algebra over the
   scan, zero exchanges; drops boilerplate/gibberish before anything
   pays a shuffle for it.
2. **Exact dedup** (`dedup.exact_dedup`) — rank-1 per content hash via
   one window exchange; the minimal possible plan for keep-lowest-id
   exact dedup (and single-computation of its input, unlike
   groupBy+join).
3. **Decontamination** — the eval set collapses to a broadcast
   distinct-gram set, so the (huge) training side never shuffles its
   exploded grams; the contaminated-id set is tiny and anti-joins back.
4. **Stats projection** — token counts + composite quality, again pure
   codegen over the surviving rows.

Nothing in the chain collects or re-reads eagerly: it is one lazy
DataFrame lineage. The dedup stage is a single hash exchange (window
rank-1, not groupBy+join), and the contamination stage anti-joins a
tiny hit-id set. One caveat by construction: the anti join's two
branches both derive from the deduped frame, and Catalyst cannot
canonical-match their exchanges after per-branch column pruning — so
with ``barrier=None`` the scan+gate+dedup prefix executes twice. At
test scale that is two cheap scans; on a 100 TB run pass
``barrier='checkpoint'`` (or ``'table'`` with a staging path) and the
deduped survivors materialize once, while the DataFrame is built.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from datamine_v2_0_spark.operators import dedup as dd
from datamine_v2_0_spark.operators import text as tx
from datamine_v2_0_spark.operators.ckpt import iter_checkpoint


def curate_corpus(
    train_df: DataFrame,
    eval_df: DataFrame,
    text_col: str,
    id_col: str,
    min_words: int = 10,
    ngram: int = 4,
    min_stopwords: int = 2,
    barrier: str | None = None,
    staging_path: str | None = None,
) -> DataFrame:
    """Run the full curation chain; returns the surviving documents as
    (id, n_tokens, quality) — the rows a tokenizer stage would consume.

    ``barrier`` inserts a materialization point between dedup and
    decontamination, so the scan→gate→dedup prefix executes ONCE even
    though the decontamination anti join branches from it twice:

    - ``None`` (default): fully lazy — the prefix runs twice; fine when
      the gated scan is cheap relative to the shuffles.
    - ``'checkpoint'``: a lineage cut (``ckpt.iter_checkpoint``) —
      materializes the prefix once while the DataFrame is built, to
      executor-local storage (or durably, when the session has a
      checkpoint directory), and every later branch reads the
      checkpoint, not the lineage. The right default on a live cluster.
    - ``'table'``: write the deduped survivors to ``staging_path`` as
      parquet and re-read — the durable form for multi-job pipelines
      (survives executor loss; doubles as the dedup-stage output).
    """
    if barrier not in (None, "checkpoint", "table"):
        raise ValueError(f"barrier must be None/'checkpoint'/'table', got {barrier!r}")
    if barrier == "table" and not staging_path:
        raise ValueError("barrier='table' requires staging_path")
    gated = tx.gopher_gate(
        train_df,
        text_col,
        id_col,
        min_words=min_words,
        min_stopwords=min_stopwords,
        keep=[text_col],
    ).filter(F.col("passes"))

    deduped = dd.exact_dedup(gated, text_col, id_col)
    if barrier == "checkpoint":
        deduped = iter_checkpoint(deduped)
    elif barrier == "table":
        deduped.write.mode("overwrite").parquet(staging_path)
        deduped = deduped.sparkSession.read.parquet(staging_path)

    # contaminated ids only (not per-doc flags): the training side's
    # gram stream joins the broadcast eval gram set, and the resulting
    # hit-id set — tiny by construction — anti-joins the corpus. The
    # flag-reporting form (text.decontaminate) would re-derive the
    # whole upstream chain a second time just to emit the zero rows.
    eval_grams = (
        tx.word_ngram_set(eval_df, text_col, id_col, ngram)
        .select("gram")
        .distinct()
    )
    dirty_ids = (
        tx.word_ngram_set(deduped, text_col, id_col, ngram)
        .join(F.broadcast(eval_grams), "gram")
        .select(id_col)
        .distinct()
    )
    clean = deduped.join(dirty_ids, id_col, "left_anti")

    c = F.col(text_col)
    return clean.select(
        F.col(id_col),
        tx.token_count_ws(c).alias("n_tokens"),
        tx.quality_score(c).alias("quality"),
    )
