"""Deduplication operators for large-scale training-data pipelines.

Exact dedup, MinHash+LSH near-dup, SimHash, and n-gram Jaccard — the four
standard document-dedup families (Broder 1997 resemblance/minhash; Charikar
2002 simhash; banded LSH per Leskovec/Rajaraman/Ullman, "Mining of Massive
Datasets" ch.3), plus embedding-cosine near-dup. Exact/Jaccard paths are
pure JVM-side Column algebra; the per-doc signature kernels (MinHash,
pair-cosine) are fused Arrow-batched numpy UDFs — Spark's higher-order
functions are interpreted per element, so a single vectorized eval node
beats a 64-transform expression tree. Either way a stage is one shuffle
(the groupBy on hash / band bucket).

Candidate generation NEVER does all-pairs: pairs come from equality
buckets (exact hash or LSH band bucket), so the join is an equi shuffle
join on the bucket key.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Observation, Window, functions as F
from pyspark.sql.functions import pandas_udf

from datamine_v2_0_spark.operators.ckpt import iter_checkpoint


def normalize_text(col: Column) -> Column:
    """Canonical text form for dedup: lowercase, collapse whitespace, trim."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def content_hash(col: Column) -> Column:
    """sha256 of the normalized text — the exact-dedup key."""
    return F.sha2(normalize_text(col), 256)


def _spread(df: DataFrame) -> DataFrame:
    """Give compute-bound narrow stages full cluster parallelism.

    A small corpus parquet arrives as ONE input split (file size <
    ``maxPartitionBytes``), so the expensive per-doc stage downstream
    (shingling, signature kernels) runs on a single core — measured 32×
    under-parallelized on local[32]. If the scan yields fewer partitions
    than half the target parallelism, round-robin repartition; at real
    scale inputs already carry ≫ target splits and this is a no-op (no
    shuffle inserted). The target comes from _plan_parallelism (the
    configured shuffle partitioning, max'd with defaultParallelism) —
    the instantaneous executor count under-spreads before dynamic
    allocation registers executors, the same hazard the pair-family
    crossover had (round-9 ADVICE)."""
    target = _plan_parallelism(df.sparkSession)
    if df.rdd.getNumPartitions() < max(1, target // 2):
        return df.repartition(target)
    return df


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact near-duplicate removal: keep the lowest id per content hash.

    ONE shuffle and ONE computation of the input: rank-1 per hash via a
    window instead of groupBy-min + semi join. The join form computes
    the upstream lineage twice (once per join branch) — ruinous when the
    input is itself an unmaterialized transform chain — and pays a
    second exchange; the window pays the same hash exchange once and
    its sort-within-partition is over tiny per-hash groups. AQE handles
    bucket skew (e.g. empty docs)."""
    w = Window.partitionBy("__h").orderBy(F.col(id_col).asc())
    return (
        df.withColumn("__h", content_hash(F.col(text_col)))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__h", "__rn")
    )


def word_shingles_from_words(words: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles from a MATERIALIZED words-array
    column: sliding windows via transform(sequence(...)).

    ``words`` MUST be a projected column (same contract as
    :func:`hashed_shingles_from_words`):
    the transform lambda references ``words`` per gram index, and an
    inline expression there re-evaluates its whole subtree — for the
    normalize+split pipeline that measured ~28 ms/doc (one regexp +
    split per shingle) vs ~0.4 ms/doc through a projected column."""
    k = F.size(words) - F.lit(n - 1)
    idx = F.when(k > 0, F.sequence(F.lit(0), k - 1)).otherwise(
        F.array().cast("array<int>")
    )
    grams = F.transform(idx, lambda i: F.array_join(F.slice(words, i + 1, n), " "))
    return F.array_distinct(grams)


def word_shingles(col: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles as an array<string>, JVM-side.

    Convenience one-expression form. HOT PATHS must not use this:
    the split+normalize lands inside the transform lambda and is
    re-evaluated once per gram (O(words) regexp passes per doc) —
    project the words array first and call
    :func:`word_shingles_from_words` on the column."""
    return word_shingles_from_words(F.split(normalize_text(col), " "), n)


def word_hashes(col: Column) -> Column:
    """xxhash64 per word of the normalized text — the base layer for
    hashed shingling."""
    return F.transform(F.split(normalize_text(col), " "), lambda w: F.xxhash64(w))


def hashed_shingles_from_words(wh: Column, n: int = 3) -> Column:
    """Distinct n-gram shingle hashes composed from word hashes:
    ``xxhash64(wh[i], …, wh[i+n-1])`` — never materializes shingle strings
    (string slice+join was ~half the MinHash cost).

    ``wh`` MUST be a projected column (e.g. from :func:`word_hashes` in a
    prior select): referencing an inline expression would re-evaluate the
    word-hash array once per gram (O(words²))."""
    k = F.size(wh) - F.lit(n - 1)
    idx = F.when(k > 0, F.sequence(F.lit(0), k - 1)).otherwise(
        F.array().cast("array<int>")
    )
    grams = F.transform(
        idx, lambda i: F.xxhash64(*[F.get(wh, i + j) for j in range(n)])
    )
    return F.array_distinct(grams)


def minhash_text_udf(num_hashes: int = 64, shingle_n: int = 3):
    """Fused text→MinHash-signature pandas UDF: normalize, word-hash
    (crc32), compose n-gram shingle hashes, dedup, splitmix64 ×
    num_hashes min — all inside one Arrow batch.

    Versus the layered Column pipeline (regexp → split → transform ×
    xxhash → shingle transform → 64 rehash transforms), this collapses
    an enormous interpreted/codegen expression tree into one Python
    eval node: ~2× faster steady-state and much cheaper to plan/compile,
    which dominates one-shot query latency. Same API contract, different
    (still deterministic, seed-free) hash family.

    The returned UDF is marked ``asNondeterministic()`` — the kernel is
    pure, but the marker pins ONE evaluation per row (filter pushdown
    otherwise re-evaluates the UDF below the exchange: two
    ArrowEvalPython nodes, the kernel run twice per doc). Consequence
    for callers: Spark only allows nondeterministic expressions in
    Project / Filter / Aggregate / Window, so use the UDF in a
    projection and reference the result column in joins or grouping
    keys — embedding the call directly in a join condition raises
    AnalysisException."""
    import zlib

    C1 = np.uint64(0x9E3779B97F4A7C15)
    C2 = np.uint64(0xBF58476D1CE4E5B9)
    C3 = np.uint64(0x94D049BB133111EB)
    offs = np.arange(1, num_hashes + 1, dtype=np.uint64) * C1
    # odd multipliers positionally mix the word hashes inside a shingle
    wmul = (C2 * np.arange(1, shingle_n + 1, dtype=np.uint64)) | np.uint64(1)

    def _mix(z: np.ndarray) -> np.ndarray:
        z = (z ^ (z >> np.uint64(30))) * C2
        z = (z ^ (z >> np.uint64(27))) * C3
        return z ^ (z >> np.uint64(31))

    @pandas_udf("array<long>")
    def _sig(texts: pd.Series) -> pd.Series:
        empty = [None] * num_hashes
        norm = (
            texts.fillna("")
            .str.lower()
            .str.replace(r"\s+", " ", regex=True)
            .str.strip()
        )
        out = []
        with np.errstate(over="ignore"):
            for doc in norm:
                words = doc.split(" ") if doc else []
                if len(words) < shingle_n:
                    out.append(empty)
                    continue
                wh = np.array(
                    [zlib.crc32(w.encode("utf-8")) for w in words],
                    dtype=np.uint64,
                )
                sh = np.zeros(len(words) - shingle_n + 1, dtype=np.uint64)
                for j in range(shingle_n):
                    sh += wmul[j] * wh[j : len(wh) - shingle_n + 1 + j]
                sh = np.unique(_mix(sh))
                z = _mix(sh[:, None] + offs)
                out.append(z.min(axis=0).view(np.int64).tolist())
        return pd.Series(out)

    # asNondeterministic: the callers filter on the signature column
    # (all-null → unshingleable), and filter pushdown re-evaluates a
    # deterministic UDF below the exchange — one ArrowEvalPython for the
    # pushed filter, a second for the projection (guide §4.4 shape;
    # plan-audited: dedup_minhash_lsh ran the signature kernel TWICE per
    # doc). The kernel is pure; the marker only pins a single evaluation.
    return _sig.asNondeterministic()


def lsh_bands(signature: Column, bands: int, rows_per_band: int) -> Column:
    """Band the signature: array of (band_id, band_hash) structs. Docs
    sharing ANY band bucket are candidate pairs (banding amplifies the
    Jaccard s-curve: P(candidate) = 1-(1-s^r)^b)."""
    entries = [
        F.struct(
            F.lit(b).alias("band"),
            F.xxhash64(
                F.concat_ws(
                    ",",
                    *[
                        F.element_at(signature, b * rows_per_band + r + 1).cast("string")
                        for r in range(rows_per_band)
                    ],
                )
            ).alias("bucket"),
        )
        for b in range(bands)
    ]
    return F.array(*entries)


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """Candidate near-duplicate pairs via banded MinHash-LSH.

    Plan shape: scan → signature (map-only) → explode bands → self equi-join
    on (band, bucket) → distinct pairs. The join key is the band bucket, so
    this is shuffle-on-bucket — never a cross join. Returns (id_a, id_b)
    with id_a < id_b."""
    df = _spread(df)
    sig_udf = minhash_text_udf(num_hashes, shingle_n)
    sig = df.select(F.col(id_col), sig_udf(F.col(text_col)).alias("__sig"))
    # docs too short to shingle get an all-null signature; they can't be
    # MinHash near-dups of anything, and left in they'd all share the
    # same (null-skipping) band buckets — a quadratic false-pair blowup
    # on corpora with many tiny docs
    sig = sig.filter(F.get(F.col("__sig"), 0).isNotNull())
    rows_per_band = num_hashes // bands
    banded = sig.select(
        F.col(id_col),
        F.explode(lsh_bands(F.col("__sig"), bands, rows_per_band)).alias("bb"),
    ).select(id_col, "bb.band", "bb.bucket")
    # pairs come from grouping each (band, bucket) and expanding in-bucket
    # combinations with higher-order functions — NOT a banded self-join:
    # the join form scans the corpus and evaluates the signature UDF TWICE
    # (once per side) and shuffles both copies; this form is one UDF pass
    # and one shuffle. Bucket pair-count is quadratic in bucket size either
    # way — that's the LSH operating point's job to keep small.
    buckets = (
        banded.groupBy("band", "bucket")
        .agg(F.array_sort(F.collect_list(F.col(id_col))).alias("__ids"))
        .filter(F.size("__ids") >= 2)
    )
    n = F.size("__ids")
    pairs = F.flatten(
        F.transform(
            "__ids",
            lambda x, i: F.transform(
                F.slice(F.col("__ids"), i + 2, n - i - 1),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    return (
        buckets.select(F.explode(pairs).alias("p"))
        .select("p.id_a", "p.id_b")
        .distinct()
    )


def ngram_jaccard_pairs(
    candidates: DataFrame,
    docs: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int = 3,
    threshold: float = 0.0,
) -> DataFrame:
    """Verify candidate pairs with exact n-gram Jaccard similarity
    (JVM-side array_intersect/array_union on hashed shingle arrays —
    64-bit collisions are negligible vs string sets and ~2× cheaper).

    Only docs that appear in a candidate pair are shingled: the semi
    join prunes the (expensive, map-side) shingle computation to the
    candidate set, which LSH already shrank by orders of magnitude —
    at corpus scale verifying is proportional to candidates, not docs."""
    # the candidate plan is referenced three times (both union arms and
    # the pair join) — checkpoint it so LSH candidate generation runs
    # once, not three times (it's the expensive upstream)
    candidates = iter_checkpoint(candidates)
    cand_ids = (
        candidates.select(F.col("id_a").alias(id_col))
        .union(candidates.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    sh = docs.join(cand_ids, id_col, "left_semi").select(
        F.col(id_col), word_hashes(F.col(text_col)).alias("__wh")
    ).select(
        F.col(id_col),
        hashed_shingles_from_words(F.col("__wh"), shingle_n).alias("__sh"),
    )
    out = (
        candidates.join(sh.withColumnRenamed(id_col, "id_a").withColumnRenamed("__sh", "sh_a"), "id_a")
        .join(sh.withColumnRenamed(id_col, "id_b").withColumnRenamed("__sh", "sh_b"), "id_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.size(F.array_union("sh_a", "sh_b")),
        )
        .drop("sh_a", "sh_b")
    )
    return out.filter(F.col("jaccard") >= threshold)


def minhash_near_dup_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.2,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    round_to: int = 6,
    duplicate_collapse: str = "auto",
) -> DataFrame:
    """Banded MinHash-LSH candidates → exact n-gram Jaccard verify, with
    heavy duplicate groups routed through one representative
    (``duplicate_collapse``, see :func:`_rep_groups`; result-exact by
    :func:`_fan_out`'s argument).

    Why the routing exists: every member of an exact-duplicate group
    lands in the same band buckets, so a g-copy group puts g² candidate
    pairs into ONE bucket (one task, serial) and each pays a full
    shingle-set intersection in the verify. Routed, LSH and verify see
    one representative for the group and only the (inherently
    output-sized) member fan-out scales with its size.
    """
    df = _spread(df)
    df, members = _rep_groups(
        df, text_col, id_col,
        _min_copies(duplicate_collapse),
    )
    cands = minhash_lsh_candidates(
        df, text_col, id_col, num_hashes, bands, shingle_n
    )
    out = ngram_jaccard_pairs(
        cands, df, text_col, id_col, shingle_n, threshold
    ).select("id_a", "id_b", F.round("jaccard", round_to).alias("jaccard"))
    if members is not None and threshold <= 1.0:
        # self-pairs of heavy representatives: a text scores Jaccard 1.0
        # with itself iff it has >= 1 shingle, i.e. >= n words (the
        # all-null signature filter keeps shingle-less docs out of banding)
        words = F.split(normalize_text(F.col(text_col)), " ")
        out = out.unionByName(
            df.join(_heavy_reps(members, id_col).select(id_col), id_col, "left_semi")
            .filter(F.size(words) >= shingle_n)
            .select(
                F.col(id_col).alias("id_a"), F.col(id_col).alias("id_b"),
                F.lit(1.0).alias("jaccard"),
            )
        )
    return _fan_out(out, members)


def dup_stats(df: DataFrame, text_col: str) -> tuple[int, float, int]:
    """(n, blowup, cmax) of ``text_col``'s raw-byte xxhash64 duplicate
    groups: n rows, blowup = Σ|group|²/n (the candidate-work multiplier
    of a plan that does not route duplicates) and cmax = the largest
    group. A plain aggregate (one job per call); no operator reads it."""
    g = df.groupBy(F.xxhash64(F.col(text_col)).alias("__h")).agg(
        F.count(F.lit(1)).alias("__c")
    )
    r = g.agg(
        F.sum(F.col("__c") * F.col("__c")).alias("__ss"),
        F.sum("__c").alias("__n"),
        F.max("__c").alias("__mx"),
    ).first()
    n = r["__n"] or 0
    return n, (r["__ss"] / n) if n else 0.0, r["__mx"] or 0


def _plan_scan_bytes(df: DataFrame) -> int | None:
    """Catalyst's optimized-plan size estimate in bytes (for file-scan
    frames: total input file size × the configured compression factor),
    or None where plan statistics aren't reachable (e.g. Spark
    Connect). Driver-side plan metadata only — launches no job."""
    try:
        size = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        # py4j converts scala.math.BigInt to a Python int when it fits;
        # fall back to the string rendering for a boxed object
        return size if isinstance(size, int) else int(size.toString())
    except Exception:  # pragma: no cover - Connect/analysis corner
        return None


def _plan_parallelism(spark) -> int:
    """Target parallelism P of :func:`_spread`: the configured shuffle
    partitioning — the stable statement of intended parallelism, and
    the partition count the operator's own shuffles will run at (the
    instantaneous ``sparkContext.defaultParallelism`` is tiny before
    dynamic allocation registers executors) — maxed with
    defaultParallelism so an interactive local session with
    shuffle.partitions lowered still sees its real core count."""
    sc = spark.sparkContext
    try:
        conf_p = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (ValueError, TypeError):  # e.g. "auto" under some AQE setups
        conf_p = 0
    return max(conf_p, sc.defaultParallelism, 1)


_BYTE_SUFFIX = {
    "": 1, "b": 1,
    "k": 1 << 10, "kb": 1 << 10,
    "m": 1 << 20, "mb": 1 << 20,
    "g": 1 << 30, "gb": 1 << 30,
    "t": 1 << 40, "tb": 1 << 40,
}


def _parse_bytes(raw, name: str) -> int:
    """Byte count from a plain integer or one with a b/k/m/g/t(b)
    suffix, as Spark renders size confs (negative = disabled → 0).
    A malformed value raises a ValueError naming ``name``."""
    import re

    m = re.fullmatch(r"\s*(-?\d+)\s*([a-zA-Z]*)\s*", str(raw))
    if not m or m.group(2).lower() not in _BYTE_SUFFIX:
        raise ValueError(f"{name}: not a byte size: {raw!r}")
    return max(int(m.group(1)), 0) * _BYTE_SUFFIX[m.group(2).lower()]


def _broadcast_threshold_bytes(spark) -> int:
    """``spark.sql.autoBroadcastJoinThreshold`` in bytes (-1 = disabled
    → 0; unreadable or malformed → 0)."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    try:
        return _parse_bytes(spark.conf.get(key), key)
    except Exception:  # pragma: no cover - Connect/conf corner
        return 0


def _cluster_pair_stream(ex: DataFrame, id_col: str) -> DataFrame:
    """Hash-partition the STREAM side of the posting self-join by doc id
    — exactly when the planner will broadcast the build side.

    In the broadcast regime the join preserves the stream side's
    partitioning, and ``HashPartitioning(id)`` satisfies the pair
    aggregation's ``ClusteredDistribution([id_a, id_b])`` — so the pair
    exchange (69 MiB / 1.13 M rows at sf0.1, and the largest shuffle
    left in the posting family; partial agg combines <11% because most
    candidate pairs share exactly one shingle) disappears outright,
    replaced by one much narrower posting shuffle. The repartition must
    come AFTER the checkpoint: a checkpointed leaf reports
    UnknownPartitioning under AQE, so partitioning established upstream
    does not survive it.

    Gated on the SAME statistic the planner's broadcast decision reads
    (optimized-plan sizeInBytes vs autoBroadcastJoinThreshold): when the
    posting table is too big to broadcast the join is SMJ/SHJ keyed on
    the shingle, the join output is shingle-partitioned regardless, and
    a doc-keyed repartition would be a pure extra corpus-sized shuffle —
    at scale this helper is a no-op by construction."""
    spark = ex.sparkSession
    size = _plan_scan_bytes(ex)
    if size is not None and 0 < size <= _broadcast_threshold_bytes(spark):
        return ex.repartition(F.col(id_col))
    return ex


# The group size H from which duplicate_collapse="auto" routes an exact
# duplicate group through one representative (see _rep_groups). Fixed,
# with no corpus statistic: routing a g-copy group removes its duplicate
# work (~g² posting-join rows per shingle, g² candidate pairs in one LSH
# bucket) for ~g member-map and fan-out rows, so only small groups stay
# direct. Corpora of uniform g-copy groups measured the posting join
# tied at g = 4 and 4.7x faster routed at g = 8 on a 32-core host
# (COLLAPSE_BAND.jsonl); SCALING.md "One routed plan per operator" has
# the band of every operator on a 4-core host.
_MIN_COPIES = 8


def _min_copies(duplicate_collapse: str) -> int | None:
    """The routing threshold H that ``duplicate_collapse`` sets:
    ``_MIN_COPIES`` for "auto", 2 (every duplicate group) for "always",
    None (no group, no routing stage) for "never"."""
    modes = {"auto": _MIN_COPIES, "always": 2, "never": None}
    if duplicate_collapse not in modes:
        raise ValueError(f"duplicate_collapse: {duplicate_collapse!r}")
    return modes[duplicate_collapse]


def _rep_groups(
    df: DataFrame, key_col: str, id_col: str, min_copies: int | None,
    fingerprint=content_hash,
):
    """(routed, members): the routing stage every collapse-capable
    operator runs inside its plan.

    Rows with a NULL id are dropped (a NULL id never pairs or ranks).
    The rest are grouped by ``fingerprint(key_col)`` — the sha256 of
    the normalized text, or ``F.xxhash64`` of an embedding. A group of
    at least ``min_copies`` copies is heavy: ``routed`` keeps only its
    representative (the min id), and ``members`` maps the
    representative to every copy as (``__rep``, ``__m``, ``__cnt`` =
    the group size). Every other row stands for itself and has no
    member row. ``min_copies=None`` routes nothing: ``routed`` is the
    non-NULL-id rows and ``members`` is None.

    One window over the thin (id, fingerprint) pairs counts the groups.
    The member map is cut (one eager job), because the routing, the
    self-pairs and the fan-out read it in different jobs. The same job
    counts the member rows (``DataFrame.observe``). When there are none,
    no group is heavy and the result is the unrouted plan of
    ``min_copies=None``: no routing join, no fan-out, no extra job.

    The non-representative copies of heavy groups leave by a left anti
    join. It keeps ``df``'s size estimate; an outer join would estimate
    the product of both sides and turn every later join of the operator
    into a sort-merge join."""
    df = df.filter(F.col(id_col).isNotNull())
    if min_copies is None:
        return df, None
    w = Window.partitionBy("__fp")
    obs = Observation()
    members = iter_checkpoint(
        df.select(
            F.col(id_col).alias("__m"), fingerprint(F.col(key_col)).alias("__fp")
        )
        .select(
            "__m",
            F.min("__m").over(w).alias("__rep"),
            F.count(F.lit(1)).over(w).alias("__cnt"),
        )
        .filter(F.col("__cnt") >= min_copies)
        .observe(obs, F.count(F.lit(1)).alias("n"))
    )
    if obs.get["n"] == 0:
        return df, None
    copies = members.filter(F.col("__m") != F.col("__rep"))
    routed = df.join(copies.select(F.col("__m").alias(id_col)), id_col, "left_anti")
    return routed, members


def _heavy_reps(members: DataFrame, id_col: str) -> DataFrame:
    """(``id_col``, ``__cnt``): one row per heavy representative."""
    return members.filter(F.col("__m") == F.col("__rep")).select(
        F.col("__rep").alias(id_col), "__cnt"
    )


def _member_ids(
    df: DataFrame, members: DataFrame, col: str, out: str | None = None,
) -> DataFrame:
    """One row per document that ``df``'s routed id ``col`` stands for
    (see :func:`_rep_groups`): every copy of a heavy representative,
    the id itself otherwise, in ``col`` or, if given, a new column
    ``out``."""
    m = members.select(F.col("__rep").alias(col), F.col("__m").alias("__mid"))
    return (
        df.join(m, col, "left")
        .withColumn(out or col, F.coalesce("__mid", col))
        .drop("__mid")
    )


def _fan_out(
    pairs: DataFrame, members: DataFrame | None,
    swap: tuple[str, str] | None = None,
) -> DataFrame:
    """Expand pairs ``(id_a, id_b)``, ``id_a <= id_b``, of a routed
    corpus to pairs of the documents they stand for, ``(least,
    greatest)`` with ``id_a < id_b``, each once, every other column
    carried as is. A pair with no heavy representative passes through
    the two left joins unchanged; ``members`` None returns ``pairs``.
    ``swap`` names two direction-dependent score columns that trade
    places when member-id order inverts the pair's order (containment
    is asymmetric).

    Why the routed plan is result-exact: an operator's candidacy and
    score are functions of the text (or vector) alone — shingles,
    signatures, band keys and similarities never read the id — so every
    copy of a representative r pairs with a document x exactly as r
    does. A representative's pair with itself, (r, r), stands for its
    group's within-group pairs: identical content, scored the way the
    direct plan scores two identical docs, and present only when the
    direct plan would pair them at all (a text that shingles, a
    non-zero vector). Document-frequency caps weight a representative by
    its group size, so they count what the direct plan counts."""
    if members is None:
        return pairs
    out = _member_ids(
        _member_ids(pairs, members, "id_a", "__ma"), members, "id_b", "__mb"
    )
    fwd = F.col("__ma") < F.col("__mb")
    cols = []
    for c in pairs.columns:
        if c in ("id_a", "id_b"):
            continue
        if swap and c in swap:
            other = swap[1] if c == swap[0] else swap[0]
            cols.append(F.when(fwd, F.col(c)).otherwise(F.col(other)).alias(c))
        else:
            cols.append(F.col(c))
    return (
        # (r, r) meets each member pair twice, once per order: keep one
        out.filter((F.col("id_a") < F.col("id_b")) | fwd)
        .select(
            F.least("__ma", "__mb").alias("id_a"),
            F.greatest("__ma", "__mb").alias("id_b"),
            *cols,
        )
    )


def _posting_pairs(
    df: DataFrame, text_col: str, id_col: str, shingle_n: int,
    max_shingle_freq: int | None, capped_sizes: bool,
    members: DataFrame | None,
) -> DataFrame:
    """Shared inverted-index kernel of the posting-join family over a
    routed corpus and its member map (see :func:`_rep_groups`):
    (id_a, id_b, __sza, __szb, __i) per doc pair sharing >= 1 shingle,
    ``__i`` the shared-shingle count and ``__sz*`` each doc's size —
    over the capped universe when ``capped_sizes`` (Jaccard), else the
    true pre-cap size (containment). ``max_shingle_freq`` drops
    shingles whose document frequency exceeds it from the join; a heavy
    representative counts for its whole group there. A heavy
    representative also pairs with itself (see :func:`_fan_out`)."""
    # two-step projection: words materialize once, shingles build from
    # the column (word_shingles_from_words contract). No size(__g) > 0
    # filter — explode already emits nothing for empty/null arrays, and
    # the filter predicate was pushdown-duplicated below the _spread
    # exchange, re-running the whole shingle pipeline per doc in the
    # (single-task at small inputs) scan stage.
    sh = df.select(
        F.col(id_col),
        F.split(normalize_text(F.col(text_col)), " ").alias("__w"),
    ).select(
        F.col(id_col),
        word_shingles_from_words(F.col("__w"), shingle_n).alias("__g"),
    )
    size = [] if capped_sizes and max_shingle_freq is not None else [
        F.size("__g").alias("__sz")
    ]
    ex = sh.select(F.col(id_col), *size, F.explode("__g").alias("__s"))
    heavy = None if members is None else _heavy_reps(members, id_col)
    if max_shingle_freq is not None:
        weighted, copies = ex, F.lit(1)
        if heavy is not None:
            weighted = ex.join(heavy, id_col, "left")
            copies = F.coalesce("__cnt", F.lit(1))
        rare = weighted.groupBy("__s").agg(F.sum(copies).alias("__df")).filter(
            F.col("__df") <= max_shingle_freq
        )
        ex = ex.join(rare.select("__s"), "__s")
        if capped_sizes:
            # per-doc sizes over the SAME capped universe as the
            # intersection counts — uncapped sizes would bias Jaccard
            # downward for pairs whose overlap includes capped shingles
            sizes = ex.groupBy(id_col).agg(F.count(F.lit(1)).alias("__sz"))
            ex = ex.join(sizes, id_col)
    # the self-join's two branches carry different aliases above the
    # exchange, so Catalyst gets no ReusedExchange and would scan +
    # shingle + explode the corpus TWICE (plan-audited). Materialize the
    # posting table once — same recipe as the BM25 inverted index.
    ex = iter_checkpoint(ex)
    # stream side doc-clustered in the broadcast regime: the pair
    # aggregation below then needs NO exchange (see _cluster_pair_stream)
    a = _cluster_pair_stream(ex, id_col).select(
        F.col(id_col).alias("id_a"), F.col("__sz").alias("__sza"), "__s"
    )
    b = ex.select(
        F.col(id_col).alias("id_b"), F.col("__sz").alias("__szb"), "__s"
    )
    pairs = (
        a.join(b, "__s")
        .filter(F.col("id_a") < F.col("id_b"))
        # sizes ride as grouping keys (functionally dependent on the ids,
        # so groups are unchanged): no first() agg buffers, and in the
        # SMJ regime the pair-exchange row narrows 7 -> 5 fields
        .groupBy("id_a", "id_b", "__sza", "__szb")
        .agg(F.count(F.lit(1)).alias("__i"))
    )
    if heavy is None:
        return pairs
    own = (
        ex.join(heavy.select(id_col), id_col, "left_semi")
        .groupBy(id_col, "__sz")
        .agg(F.count(F.lit(1)).alias("__i"))
    )
    return pairs.unionByName(
        own.select(
            F.col(id_col).alias("id_a"), F.col(id_col).alias("id_b"),
            F.col("__sz").alias("__sza"), F.col("__sz").alias("__szb"), "__i",
        )
    )


def jaccard_pairs_inverted(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int = 3,
    threshold: float = 0.2,
    max_shingle_freq: int | None = None,
    round_to: int = 6,
    duplicate_collapse: str = "auto",
) -> DataFrame:
    """Exact n-gram Jaccard pairs via an inverted-index join: explode
    distinct shingles, equi-join on the shingle, count shared shingles
    per pair, Jaccard = |∩| / (|A| + |B| - |∩|).

    Fully SQL-expressible (unlike the MinHash candidate path), so it is
    the oracle-checkable exact-dedup variant. The join key is the
    shingle string — the classic blocking layout; at corpus scale,
    stop-shingles (n-grams appearing in thousands of docs) dominate the
    join, so pass ``max_shingle_freq`` to drop shingles with document
    frequency above the cap; the Jaccard is then measured over the
    CAPPED shingle universe — sizes and intersections consistently
    exclude the dropped shingles, so the score is the similarity of the
    docs' informative content (mixing capped intersections with uncapped
    sizes would bias every affected pair downward).

    ``duplicate_collapse`` (result-exact on every input, see
    :func:`_fan_out`): on duplicate-heavy corpora the posting join was
    the repo's highest scaling exponent (α 0.68 — every duplicate
    multiplies every posting list, so join work grows ~quadratically
    in the duplication factor). The plan routes every exact-duplicate
    group of at least H copies through one REPRESENTATIVE (see
    :func:`_rep_groups`; "auto" H = ``_MIN_COPIES``, "always" 2,
    "never" no routing), shingles and joins the routed corpus, then
    fans pairs of representatives back out to member pairs — the join
    is sized by distinct content, and only the (inherently
    output-sized) member fan-out scales with duplication."""
    pairs, members = _jaccard_pairs_core(
        df, text_col, id_col, shingle_n, threshold, max_shingle_freq,
        round_to, duplicate_collapse,
    )
    return _fan_out(pairs, members)


def _jaccard_pairs_core(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int = 3,
    threshold: float = 0.2,
    max_shingle_freq: int | None = None,
    round_to: int = 6,
    duplicate_collapse: str = "auto",
) -> tuple[DataFrame, DataFrame | None]:
    """:func:`jaccard_pairs_inverted` before the member fan-out:
    ``(pairs, members)`` — pairs of the routed corpus, ``id_a <= id_b``,
    and :func:`_rep_groups`' member map (None under "never" and when no
    group is heavy)."""
    df, members = _rep_groups(
        _spread(df), text_col, id_col,
        _min_copies(duplicate_collapse),
    )
    inter = _posting_pairs(
        df, text_col, id_col, shingle_n, max_shingle_freq, True, members,
    )
    j = F.col("__i") / (F.col("__sza") + F.col("__szb") - F.col("__i"))
    out = (
        inter.withColumn("jaccard", F.round(j, round_to))
        .filter(j >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return out, members


def _star_edges(pairs: DataFrame, members: DataFrame | None) -> DataFrame:
    """Connected-components edges with the components of the fanned-out
    pair graph, in O(Σ|g|) rows instead of O(Σ|g|²).

    ``(pairs, members)`` is what :func:`_jaccard_pairs_core` returns;
    ``pairs`` pass through unchanged when ``members`` is None ("never",
    or no heavy group).
    Otherwise the edges are every routed pair ``(r, s)`` with ``r < s``,
    plus one star edge ``(r, m)`` for each member ``m != r`` of a heavy
    representative ``r`` that appears in any pair, its self-pair
    ``(r, r)`` included.

    One pass over ``pairs`` builds both: a left join of the
    non-representative members on ``id_a = id_b = __rep`` turns each
    heavy self-pair ``(r, r)`` into its star ``(r, m)``, every other
    pair meets no member and keeps ``id_b``, and ``id_a < id_b`` then
    drops the self-pairs (a star edge passes it: the representative is
    its group's minimum id). That a heavy ``r`` appears in some pair
    exactly when ``(r, r)`` is present holds because a pair ``(r, s)``
    means ``r`` shingles (over the capped universe, when there is a
    cap), and a heavy representative that shingles pairs with itself at
    Jaccard 1 (:func:`_posting_pairs`). So ``pairs``, whose posting
    self-join is the costly part of the plan, is read once.

    Why the components are identical: :func:`_fan_out` turns a pair
    ``(r, s)`` into all of ``members(r) × members(s)`` (a light
    document's members are itself) and a self-pair ``(r, r)`` into a
    clique on ``members(r)``. ``r`` is itself a member of its group
    (the representative is the group's minimum non-NULL id), so in the
    fanned graph a member joins a component exactly when its
    representative has a pair, and two routed documents share a
    component exactly when a chain of routed pairs links them. The star
    graph has the same two properties, so the same components; each
    component's minimum id is a routed document in both, so
    :func:`connected_components` labels them alike. A representative
    with no pair (a text that does not shingle) leaves its copies as
    singletons in both graphs."""
    if members is None:
        return pairs
    copies = members.filter(F.col("__m") != F.col("__rep")).select("__rep", "__m")
    self_pair = (F.col("id_a") == F.col("id_b")) & (F.col("id_a") == F.col("__rep"))
    return (
        pairs.join(copies, self_pair, "left")
        .select("id_a", F.coalesce("__m", "id_b").alias("id_b"))
        .filter(F.col("id_a") < F.col("id_b"))
    )


def containment_pairs_inverted(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int = 3,
    threshold: float = 0.5,
    max_shingle_freq: int | None = None,
    round_to: int = 6,
    duplicate_collapse: str = "auto",
) -> DataFrame:
    """Asymmetric n-gram containment pairs via the same inverted-index
    join as :func:`jaccard_pairs_inverted`:
    ``cont_a_in_b = |A∩B| / |A|`` and ``cont_b_in_a = |A∩B| / |B|``.

    Containment is the subset-duplication detector Jaccard structurally
    misses: a 100-word quote fully embedded in a 10k-word article has
    Jaccard ≈ 0.01 but containment 1.0 (Broder 1997 distinguishes the
    two resemblance measures). Pairs emit when EITHER direction clears
    ``threshold``; both scores are returned so callers can pick the
    smaller doc as the duplicate.

    With ``max_shingle_freq`` set, the intersection is counted over the
    frequency-pruned shingle universe (stop-shingles never join) but the
    denominators stay the TRUE |A| and |B|, computed before the prune —
    containment's meaning is "what fraction of A appears in B", and
    dividing by the pruned size would inflate scores for docs dominated
    by common shingles (unlike Jaccard, where capped-universe semantics
    are consistent on both numerator and denominator). The pruned
    intersection makes capped containment a lower bound on the true
    score.

    ``duplicate_collapse``: the same routing of heavy duplicate groups
    as :func:`jaccard_pairs_inverted` (result-exact, see
    :func:`_fan_out`) — this operator carried the repo's second-highest
    scaling exponent (α 0.61) on duplicate-heavy growth before it."""
    df, members = _rep_groups(
        _spread(df), text_col, id_col,
        _min_copies(duplicate_collapse),
    )
    inter = _posting_pairs(
        df, text_col, id_col, shingle_n, max_shingle_freq, False, members,
    )
    ca = F.col("__i") / F.col("__sza")
    cb = F.col("__i") / F.col("__szb")
    out = (
        inter.filter((ca >= threshold) | (cb >= threshold))
        .select(
            "id_a",
            "id_b",
            F.round(ca, round_to).alias("cont_a_in_b"),
            F.round(cb, round_to).alias("cont_b_in_a"),
        )
    )
    return _fan_out(out, members, swap=("cont_a_in_b", "cont_b_in_a"))


def _bucket_cosine_verify(threshold: float):
    """applyInPandas kernel for per-bucket cosine verification: normalized
    matmul screens all in-bucket pairs (with a 1e-9 margin for the
    different summation order), then the survivors are recomputed with
    the exact einsum arithmetic of :func:`similarity.cosine_pairs_udf` so
    emitted doubles are bit-identical to the pair-table verify path (and
    its oracle). Emits (id_a, id_b, __cos) with id_a < id_b."""
    empty = pd.DataFrame({"id_a": [], "id_b": [], "__cos": []})

    def _verify(pdf: pd.DataFrame) -> pd.DataFrame:
        # always a fresh frame: callers (e.g. the SemDeDup wrapper) may
        # insert grouping columns in place, and one Arrow task handles
        # many groups — a shared empty would be mutated across groups
        pdf = pdf[pdf["__vec"].notna()]  # belt-and-braces: a None row
        # would turn the batch into an object array and break the einsum
        m = len(pdf)
        if m < 2:
            return empty.copy()
        order = np.argsort(pdf["__id"].to_numpy(), kind="stable")
        ids = pdf["__id"].to_numpy()[order]
        V = np.array(pdf["__vec"].tolist(), dtype=np.float64)[order]
        with np.errstate(divide="ignore", invalid="ignore"):
            norms = np.sqrt(np.einsum("ij,ij->i", V, V))
            Vn = V / norms[:, None]
            C = Vn @ Vn.T
            ia, ib = np.triu_indices(m, 1)
            screen = C[ia, ib] >= threshold - 1e-9
            ia, ib = ia[screen], ib[screen]
            if not len(ia):
                return empty.copy()
            A, B = V[ia], V[ib]
            num = np.einsum("ij,ij->i", A, B)
            den = np.sqrt(np.einsum("ij,ij->i", A, A)) * np.sqrt(
                np.einsum("ij,ij->i", B, B)
            )
            cos = num / den
        keep = cos >= threshold
        return pd.DataFrame(
            {"id_a": ids[ia[keep]], "id_b": ids[ib[keep]], "__cos": cos[keep]}
        )

    return _verify


def embedding_neardup_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    dim: int,
    threshold: float = 0.9,
    num_planes: int = 32,
    bands: int = 16,
    seed: int = 42,
    round_to: int = 6,
    exact: bool = False,
    duplicate_collapse: str = "auto",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a, id_b, cos_sim) for
    every pair with cosine >= threshold, id_a < id_b.

    Two modes, per the ANN playbook:
    - ``exact=True``: brute-force all-pairs — the O(n²) correctness
      baseline, only for small corpora / oracle checks.
    - default: random-hyperplane LSH prefilter (same banding machinery as
      :mod:`similarity`) — candidates are pairs sharing >=1 band bucket,
      then exact cosine verification. The candidate join is an equi join
      on (band, key): at 100 TB the corpus shuffles once on the bucket
      key and no all-pairs product ever forms. Recall is tuned by
      (num_planes, bands): for pair similarity s the per-pair miss
      probability is (1-(1-acos(s)/pi)^r)^b with r = num_planes/bands.

    ``duplicate_collapse`` (LSH mode): identical-vector groups of at
    least H copies route through one representative (see
    :func:`_rep_groups`, fingerprint ``xxhash64`` of the vector; "auto"
    H = ``_MIN_COPIES``): band and verify the routed vectors, then
    fan verified pairs out to member pairs (result-exact, see
    :func:`_fan_out`) — without it a g-strong identical-embedding group
    lands whole in each of its ``bands`` buckets, so ONE task runs a
    serial g×g verify matmul and the distinct shuffles the group's g²
    passing pairs once per band. The exact brute-force mode never
    routes — it is the small-corpus oracle baseline.

    Rows with a NULL id or a NULL vector never pair."""
    from datamine_v2_0_spark.operators.similarity import (
        banded_keys_udf,
        cosine_pairs_udf,
        make_hyperplanes,
    )

    min_copies = _min_copies(duplicate_collapse)
    # NULL vectors can't hash into a band or verify a cosine, and a NULL
    # id can't order a pair — drop both
    base = df.filter(
        F.col(vec_col).isNotNull() & F.col(id_col).isNotNull()
    ).select(F.col(id_col), F.col(vec_col))
    if exact:
        a = base.select(
            F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va")
        )
        b = base.select(
            F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb")
        )
        pairs = a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
        pair_cos = cosine_pairs_udf()
        return (
            pairs.withColumn("__cos", pair_cos(F.col("__va"), F.col("__vb")))
            .filter(F.col("__cos") >= threshold)
            .select(
                "id_a", "id_b", F.round("__cos", round_to).alias("cos_sim")
            )
        )
    base, members = _rep_groups(base, vec_col, id_col, min_copies, F.xxhash64)
    # verify INSIDE the bucket: each (band, key) group runs one
    # vectorized kernel (normalized matmul screen with an ulp margin,
    # then the exact per-pair einsum recompute — bit-identical to
    # cosine_pairs_udf) and emits only the pairs clearing the
    # threshold. The previous form expanded every in-bucket
    # combination into (id_a, id_b) rows, distinct-ed them, and
    # re-joined the vectors twice: at a high-recall operating point
    # (few planes per band => big buckets) the candidate table is
    # quadratic in bucket size — measured 50M pair rows for 5k
    # vectors at 32/16 — while the passing set is 1000× smaller.
    # Emitting post-verify pairs keeps the shuffle linear
    # (bands × corpus vector rows in, passing pairs out).
    keys = banded_keys_udf(make_hyperplanes(dim, num_planes, seed), bands)
    banded = base.select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).alias("__vec"),
        F.posexplode(keys(F.col(vec_col))).alias("__band", "__key"),
    )
    id_type = dict(df.dtypes)[id_col]
    verify = _bucket_cosine_verify(threshold)
    pairs_v = banded.groupBy("__band", "__key").applyInPandas(
        verify, schema=f"id_a {id_type}, id_b {id_type}, __cos double"
    )
    # the same pair from different bands carries the identical double
    # (same arithmetic on the same vectors), so distinct dedups bands
    pairs = pairs_v.distinct().select(
        "id_a", "id_b", F.round("__cos", round_to).alias("cos_sim")
    )
    if members is not None and threshold <= 1.0:
        # self-pairs of heavy representatives: identical non-zero
        # vectors score 1.0 on the direct path (num == den up to
        # rounding); a zero vector verifies NaN there and never passes
        sq = F.aggregate(
            F.col(vec_col).cast("array<double>"), F.lit(0.0),
            lambda acc, x: acc + x * x,
        )
        pairs = pairs.unionByName(
            base.join(
                _heavy_reps(members, id_col).select(id_col), id_col, "left_semi"
            ).filter(sq > 0).select(
                F.col(id_col).alias("id_a"), F.col(id_col).alias("id_b"),
                F.lit(1.0).alias("cos_sim"),
            )
        )
    return _fan_out(pairs, members)


# hops per connected-components block: the convergence check rides on
# the block's eager checkpoint job, so a block costs one job however
# many hops it holds; 2 keeps a dense near-dup component to one block
_CC_BLOCK_HOPS = 2


def _cc_hop(edges: DataFrame, lab: DataFrame | None) -> DataFrame:
    """One min-label propagation hop: every node adopts the minimum of
    its own label and its 1-hop neighborhood's labels. Returns
    ``(node, comp, old_comp)``, where ``old_comp`` is the node's label
    before this hop, so ``comp < old_comp`` counts this hop's changes.

    ``lab`` None is the first hop, from the labelling every node starts
    with, its own id: the neighborhood's labels are then the neighbors'
    ids, so the hop is one aggregate of ``edges`` by ``src``,
    ``least(node, min(dst))``, with no join and no distinct node list.
    That aggregate carries a ``shuffle_hash`` hint, which plans the next
    hop's join as a shuffled hash join built on it (one row per node, so
    a partition's table is bounded by nodes / partitions; the edge set
    streams and is not sorted). Its shuffle stage runs at the same time
    as that join's edge shuffle, and unhinted AQE broadcasts whichever
    side finishes first, so the build side, and the row order every
    later shuffle writes, changed between runs. Later hops read a
    checkpointed or join-fed ``lab`` and leave the strategy to AQE.

    ``edges`` is the symmetrized edge set that
    :func:`connected_components` cuts once with an eager checkpoint;
    its join on ``dst`` re-shuffles that cut every hop (a checkpointed
    LogicalRDD reports no output partitioning under AQE).

    PRECONDITION: every ``edges.src`` must appear in ``lab.node``
    (src ⊆ lab). The union-based fold keys the output on nbr ∪ own
    rather than lab alone, so an edge whose src is absent from lab
    would inject a new node with a NULL old_comp row that evades the
    ``comp < old_comp`` convergence check. True by construction for the
    one caller (:func:`connected_components` symmetrizes edges and
    derives labels from src); any new caller must guarantee it."""
    if lab is None:
        return edges.groupBy(F.col("src").alias("node")).agg(
            F.least("src", F.min("dst")).alias("comp"),
            F.col("src").alias("old_comp"),
        ).hint("shuffle_hash")
    # neighbor labels UNIONed with each node's own row, then ONE min
    # aggregate: min over (own ∪ neighborhood) == least(own,
    # min(neighbors)) exactly, so this folds the old `lab LEFT JOIN
    # nbr_min` (a second label-sized exchange + join per hop) into the
    # same exchange as the neighborhood aggregation (guide §2.4).
    # old_comp rides as max-ignoring-nulls: each node has exactly one
    # own row carrying it; neighbor rows contribute null.
    comp_t = dict(lab.dtypes)["comp"]
    nbr = edges.join(
        lab.select(F.col("node").alias("dst"), F.col("comp").alias("__c")),
        "dst",
    ).select(
        F.col("src").alias("node"), "__c",
        F.lit(None).cast(comp_t).alias("old_comp"),
    )
    # the join infers isnotnull(dst) on the neighbor read of lab; the same
    # (always true) filter here makes both reads plan alike, so when lab
    # is the first hop's aggregate AQE shuffles it once and reuses it
    own = lab.filter(F.col("node").isNotNull()).select(
        "node", F.col("comp").alias("__c"), F.col("comp").alias("old_comp")
    )
    return nbr.unionAll(own).groupBy("node").agg(
        F.min("__c").alias("comp"), F.max("old_comp").alias("old_comp")
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 25,
) -> DataFrame:
    """Resolve near-duplicate candidate PAIRS into duplicate GROUPS:
    returns (node, comp) where comp is the minimum node id reachable
    through the pair graph — the canonical-representative labeling a
    dedup pipeline needs (pairs alone can't tell you which docs to keep
    when A~B and B~C but A!~C). Pairs with a NULL endpoint are dropped,
    so a NULL id never becomes a labelled node; an id seen only in such
    pairs gets no row (:func:`dedup_groups` gives it its own group).

    Algorithm: iterative min-label propagation — each hop every node
    adopts the minimum label in its 1-hop neighborhood, so the component
    minimum travels one hop per round. Hops run in blocks of two; each
    block ends in an eager checkpoint of the label table whose job also
    counts (``DataFrame.observe``) the labels the block's last hop
    lowered. Zero is a fixpoint of min-propagation, so the labels are
    exact and the loop stops. Hops needed = component diameter + 1;
    near-dup components are small dense clusters (diameter 1-3), so
    this settles in 1-2 blocks. A component wider than
    ``max_iterations`` hops raises ``RuntimeError`` rather than return
    wrong groups.

    The symmetrized edge set — the LARGEST relation here, touched by
    every hop's join on ``dst`` — reads ``pairs`` once: each pair
    explodes into both of its directions (a union of two reads would
    plan and run the whole pair subtree twice). It is cut once with an
    eager checkpoint and the hops read its blocks. The first hop starts
    from every node labelled with its own id, so it is one aggregate of
    the edge set (see :func:`_cc_hop`). A checkpoint, not
    ``persist``: a persisted frame keeps the whole pair-graph subtree
    in the logical plan and re-pays its analysis/AQE cost on every
    block's job (measured +~1.4 s per run at sf0.1), while the
    checkpointed LogicalRDD is a constant-size plan leaf. The cuts are
    durable exactly when the session has a checkpoint directory (see
    operators/ckpt).

    NOT LAZY: construction runs Spark jobs (the edge materialization
    and one checkpoint job per block), so building the DataFrame
    without executing it still pays the pair-graph and propagation
    cost, and re-building the plan pays it again. Build once, reuse the
    returned DataFrame."""
    if max_iterations < 1:
        raise ValueError("max_iterations must be >= 1")
    both = F.array(
        F.struct(F.col(id_a).alias("src"), F.col(id_b).alias("dst")),
        F.struct(F.col(id_b).alias("src"), F.col(id_a).alias("dst")),
    )
    edges = iter_checkpoint(
        pairs.select(F.explode(both).alias("__e"))
        .select("__e.src", "__e.dst")
        .dropna()
        .distinct()
    )
    labels = None
    hops = 0
    while hops < max_iterations:
        for _ in range(min(_CC_BLOCK_HOPS, max_iterations - hops)):
            labels = _cc_hop(edges, labels)
            hops += 1
        obs = Observation()
        labels = iter_checkpoint(
            labels.observe(
                obs,
                F.count(F.when(F.col("comp") < F.col("old_comp"), 1)).alias("n"),
            )
        )
        if obs.get["n"] == 0:
            return labels.select("node", "comp")
    # silently-wrong groups would make a keep-one-per-group dedup
    # retain duplicates; refuse instead
    raise RuntimeError(
        f"connected_components did not converge in {max_iterations} "
        "hops (component diameter exceeds the budget); raise "
        "max_iterations"
    )


def dedup_groups(
    docs: DataFrame,
    id_col: str,
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """(id, group_id) for EVERY doc: near-dup components share a group_id
    (the component's minimum id); unpaired docs group with themselves.
    Keeping ``group_id == id`` rows yields the deduplicated corpus with
    the smallest-id representative per duplicate cluster."""
    comp = connected_components(pairs, id_a, id_b)
    return (
        docs.select(F.col(id_col))
        .join(comp.withColumnRenamed("node", id_col), id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("comp"), F.col(id_col)).alias("group_id"),
        )
    )


def canonical_ids(groups: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deduplicated-corpus ids from a ``dedup_groups`` output: keep the
    smallest-id representative per duplicate cluster (the rows where
    ``group_id == id``).

    This is THE one-pass pattern for 'groups AND canonical corpus':
    compute ``dedup_groups`` once (persist/write it), then derive the
    canonical set with this narrow filter — NOT by re-running the pair
    graph + connected components. At corpus scale the pair graph is
    hours of work; this filter is a single scan of the (id, group_id)
    relation."""
    return groups.filter(F.col("group_id") == F.col(id_col)).select(id_col)


# SimHash signature width: the md5-60 shingle family (15 hex chars)
SIMHASH_BITS = 60


def simhash_text_udf(shingle_n: int = 2):
    """Fused text→SimHash pandas UDF: normalize, shingle, hash, and the
    full 60-bit vote inside one Arrow batch — one (shingles × bits)
    numpy matrix op per doc instead of one interpreted ``aggregate()``
    fold per bit (measured ~15 s for 5k docs at sf0.1 in the fold form).

    The shingle hash is the first 15 hex chars of md5, base 16 (60 bits,
    always non-negative), so any ANSI-SQL engine reproduces the
    signature bit-for-bit and the SimHash queries are oracle-checked.
    Docs too short to shingle return NULL; callers decide whether that
    means "drop" or "signature 0".

    Like :func:`minhash_text_udf`, the returned UDF is marked
    ``asNondeterministic()`` to pin one evaluation per row (the kernel
    itself is pure) — use it in a projection, not directly inside a
    join condition or grouping key (Spark restricts nondeterministic
    expressions to Project/Filter/Aggregate/Window)."""
    import hashlib

    bit_idx = np.arange(SIMHASH_BITS, dtype=np.uint64)

    @pandas_udf("long")
    def _sig(texts: pd.Series) -> pd.Series:
        norm = (
            texts.fillna("")
            .str.lower()
            .str.replace(r"\s+", " ", regex=True)
            .str.strip()
        )
        out = []
        for doc in norm:
            words = doc.split(" ") if doc else []
            if len(words) < shingle_n:
                out.append(None)
                continue
            grams = {
                " ".join(words[i : i + shingle_n])
                for i in range(len(words) - shingle_n + 1)
            }
            h = np.array(
                [
                    int(hashlib.md5(g.encode("utf-8")).hexdigest()[:15], 16)
                    for g in grams
                ],
                dtype=np.uint64,
            )
            bits = (h[:, None] >> bit_idx) & np.uint64(1)
            votes = (2 * bits.astype(np.int64) - 1).sum(axis=0)
            out.append(int(((votes > 0).astype(np.uint64) << bit_idx).sum()))
        return pd.Series(out, dtype="object")

    # same single-evaluation pin as minhash_text_udf: drop_empty filters
    # on the signature column and pushdown would re-run the kernel below
    # the exchange (guide §4.4)
    return _sig.asNondeterministic()


def simhash_candidates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 3,
    shingle_n: int = 2,
) -> DataFrame:
    """SimHash near-dup pairs: band the signature into
    ``max_hamming + 1`` block keys; by pigeonhole, any pair within
    Hamming distance ≤ max_hamming has all differing bits confined to at
    most max_hamming blocks, so it shares ≥1 identical block — candidates
    come from an equi join on (block index, block value), never
    all-pairs — then an exact ``bit_count(xor)`` verify. Fully JVM-side.

    Returns (id_a, id_b, hamming) with id_a < id_b."""
    n_blocks = max_hamming + 1
    if not 1 <= n_blocks <= SIMHASH_BITS:
        raise ValueError(f"max_hamming must be in [0, {SIMHASH_BITS - 1}]")
    width = SIMHASH_BITS // n_blocks
    # drop docs too short to shingle: their empty hash set gives simhash 0,
    # and left in they'd all join into one hamming-0 clique — the same
    # quadratic tiny-doc blowup the MinHash path filters above
    sigs = simhash_signatures(
        df, text_col, id_col, shingle_n, drop_empty=True
    )

    def _block(i: int) -> Column:
        # block i covers bits [i*width, ...); the last block takes the
        # remaining high bits so all SIMHASH_BITS are covered
        shift = i * width
        w = SIMHASH_BITS - shift if i == n_blocks - 1 else width
        if n_blocks == 1:  # single block = the whole signature
            return F.col("simhash")
        # mask also clears the sign-extension bits of the arithmetic shift
        return F.shiftright(F.col("simhash"), shift).bitwiseAND(
            F.lit((1 << w) - 1)
        )

    blocks = sigs.select(
        F.col(id_col),
        F.col("simhash"),
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(i).alias("bi"), _block(i).alias("bv"))
                    for i in range(n_blocks)
                ]
            )
        ).alias("b"),
    ).select(id_col, "simhash", "b.bi", "b.bv")
    # in-bucket combination expansion, not a blocked self-join: the join
    # form evaluates the (60-64-term bit-vote) signature expression twice
    # — once per side — and shuffles both copies; grouping each block
    # bucket and expanding pairs with higher-order functions is one
    # signature pass and one shuffle. array_sort on struct(id, sig)
    # orders by id, so emitted pairs already satisfy id_a < id_b.
    buckets = (
        blocks.groupBy("bi", "bv")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col(id_col).alias("id"), "simhash"))
            ).alias("__e")
        )
        .filter(F.size("__e") >= 2)
    )
    n = F.size("__e")
    pairs = F.flatten(
        F.transform(
            "__e",
            lambda x, i: F.transform(
                F.slice(F.col("__e"), i + 2, n - i - 1),
                lambda y: F.struct(
                    x["id"].alias("id_a"),
                    y["id"].alias("id_b"),
                    F.bit_count(
                        x["simhash"].bitwiseXOR(y["simhash"])
                    ).alias("hamming"),
                ),
            ),
        )
    )
    return (
        buckets.select(F.explode(pairs).alias("p"))
        .select("p.id_a", "p.id_b", "p.hamming")
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def simhash_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int = 2,
    drop_empty: bool = False,
) -> DataFrame:
    """(id, simhash) table; near-dups = signatures within small Hamming
    distance, found by banding the bits into max_hamming+1 block keys
    (any equal block ⇒ candidate, by pigeonhole).

    ``drop_empty=True`` removes docs with no shingles (fewer than
    shingle_n words) — they all share simhash 0 and have no meaningful
    similarity to anything.

    Signatures come from the fused Arrow kernel
    (:func:`simhash_text_udf`): 60-bit md5 shingle hashes, reproducible
    bit-for-bit in any ANSI-SQL engine."""
    df = _spread(df)
    sig = simhash_text_udf(shingle_n)
    out = df.select(F.col(id_col), sig(F.col(text_col)).alias("__sig"))
    if drop_empty:
        out = out.filter(F.col("__sig").isNotNull())
    return out.select(
        F.col(id_col),
        F.coalesce(F.col("__sig"), F.lit(0).cast("long")).alias("simhash"),
    )


def remove_common_units(
    df: DataFrame,
    text_col: str,
    id_col: str,
    min_doc_frac: float = 0.5,
    delim: str = r"\n",
    joiner: str = "\n",
) -> DataFrame:
    """Corpus-frequency unit removal: split every document into units
    (lines by default — RefinedWeb-style line-level dedup; pass
    ``delim=r"\\s+"``/``joiner=" "`` for corpus-adaptive token scrub),
    drop every unit that occurs in at least ``min_doc_frac`` of all
    documents (boilerplate: nav bars, cookie banners, license headers),
    and reassemble each document preserving original unit order.

    Plan shape at scale: posexplode → groupBy(unit) distinct-doc count
    (partial-agg) → the common-unit set is SMALL by construction (only
    units crossing the corpus-wide threshold), so AQE turns the
    left_anti into a broadcast; reassembly is one shuffle on id with
    array_sort(collect_list(struct(pos, unit))) — no global sort. The
    document count rides in as a broadcast 1-row aggregate, never a
    driver collect.

    Returns every (non-empty) document: (id, clean_text, n_removed)."""
    t = F.trim(F.col(text_col))
    base = df.select(
        F.col(id_col), F.split(t, delim).alias("__u")
    ).filter(F.length(t) > 0)
    units = base.select(
        F.col(id_col), F.posexplode("__u").alias("pos", "unit")
    )
    total = base.select(F.count(F.lit(1)).alias("__n_docs"))
    freq = units.groupBy("unit").agg(
        F.count_distinct(F.col(id_col)).alias("__nd")
    )
    common = (
        freq.crossJoin(F.broadcast(total))
        .filter(F.col("__nd") >= F.col("__n_docs") * F.lit(min_doc_frac))
        .select("unit")
    )
    kept = units.join(common, "unit", "left_anti")
    clean = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "unit"))),
                lambda x: x["unit"],
            ),
            joiner,
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("__n_kept"),
    )
    return base.select(F.col(id_col), F.size("__u").alias("__n_units")).join(
        clean, id_col, "left"
    ).select(
        F.col(id_col),
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        (F.col("__n_units") - F.coalesce("__n_kept", F.lit(0)))
        .cast("long")
        .alias("n_removed"),
    )


def dedup_against(
    new_df: DataFrame,
    ref_df: DataFrame,
    text_col: str,
    id_col: str,
    method: str = "near",
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    duplicate_collapse: str = "auto",
) -> DataFrame:
    """Cross-corpus dedup: drop ``new_df`` docs that duplicate ANY
    ``ref_df`` doc — the incremental-ingest shape (dedup a fresh crawl
    against the corpus you already trained on).

    ``duplicate_collapse`` (``method='near'`` only; the exact path is
    already hash-collapsed by construction): a match is a function of
    the normalized text alone, so each side routes its exact-duplicate
    groups of at least H copies through one representative (see
    :func:`_rep_groups`; "auto" H = ``_MIN_COPIES``) and every
    member of a matched new-side representative is removed — without
    it, a duplicated text pays its cross-side bucket product and a
    shingle verify per member pair for an ANY-match answer the first
    pair already settles (the skewed-replica bench measured 3.8×
    uniform time). Result-exact on every input (see :func:`_fan_out`).

    ``method='exact'``: content-hash left-anti join — one shuffle on the
    hash, ref side reduced to distinct hashes first.

    ``method='near'``: one MinHash signature pass over the tagged union
    of both corpora, banded buckets expanded to CROSS-SIDE pairs only
    (new x ref inside each bucket — in-corpus pairs are never emitted),
    exact hashed-shingle Jaccard verify on the candidates, then an
    anti join removes matched new docs. Candidates come from (band,
    bucket) equality — never all-pairs — and the signature UDF runs
    once over each corpus.

    Returns the surviving ``new_df`` rows (original columns); a doc
    with a NULL id or a NULL text never matches, so it survives.
    """
    if method == "exact":
        rh = ref_df.select(content_hash(F.col(text_col)).alias("__h")).distinct()
        return (
            new_df.withColumn("__h", content_hash(F.col(text_col)))
            .join(rh, "__h", "left_anti")
            .drop("__h")
        )
    if method != "near":
        raise ValueError(f"method must be 'exact' or 'near', got {method!r}")
    min_copies = _min_copies(duplicate_collapse)
    new_in, members = _rep_groups(new_df, text_col, id_col, min_copies)
    ref_in, _ = _rep_groups(ref_df, text_col, id_col, min_copies)

    sig_udf = minhash_text_udf(num_hashes, shingle_n)
    tagged = new_in.select(
        F.col(id_col), F.col(text_col), F.lit(True).alias("__is_new")
    ).unionByName(
        ref_in.select(
            F.col(id_col), F.col(text_col), F.lit(False).alias("__is_new")
        )
    )
    sig = tagged.select(
        id_col, "__is_new", sig_udf(F.col(text_col)).alias("__sig")
    ).filter(F.get(F.col("__sig"), 0).isNotNull())  # unshingleable docs out
    rows_per_band = num_hashes // bands
    banded = sig.select(
        id_col,
        "__is_new",
        F.explode(lsh_bands(F.col("__sig"), bands, rows_per_band)).alias("bb"),
    ).select(id_col, "__is_new", "bb.band", "bb.bucket")
    # per-bucket arrays of each side; expand new x ref pairs in place —
    # same single-pass layout as minhash_lsh_candidates, but the
    # expansion is the cross-side product only
    buckets = (
        banded.groupBy("band", "bucket")
        .agg(
            F.sort_array(
                F.collect_list(F.when(F.col("__is_new"), F.col(id_col)))
            ).alias("__new"),
            F.sort_array(
                F.collect_list(F.when(~F.col("__is_new"), F.col(id_col)))
            ).alias("__ref"),
        )
        .filter((F.size("__new") > 0) & (F.size("__ref") > 0))
    )
    pairs = F.flatten(
        F.transform(
            "__new",
            lambda x: F.transform(
                F.col("__ref"),
                lambda y: F.struct(x.alias("id_new"), y.alias("id_ref")),
            ),
        )
    )
    cands = iter_checkpoint(
        buckets.select(F.explode(pairs).alias("p"))
        .select("p.id_new", "p.id_ref")
        .distinct()
    )
    # exact verify: shingle only candidate docs, per side
    def _shingles(side_df, ids, alias):
        pruned = side_df.join(ids, id_col, "left_semi")
        # two-step select: materialize the word-hash array as a column
        # FIRST (hashed_shingles_from_words' documented precondition) —
        # inlining it re-evaluates the array once per gram, O(words^2)
        wh = pruned.select(
            F.col(id_col).alias(alias),
            word_hashes(F.col(text_col)).alias("__wh"),
        )
        return wh.select(
            F.col(alias),
            hashed_shingles_from_words(F.col("__wh"), shingle_n).alias(
                f"__sh_{alias}"
            ),
        )

    sh_new = _shingles(
        new_in, cands.select(F.col("id_new").alias(id_col)).distinct(), "id_new"
    )
    sh_ref = _shingles(
        ref_in, cands.select(F.col("id_ref").alias(id_col)).distinct(), "id_ref"
    )
    matched = (
        cands.join(sh_new, "id_new")
        .join(sh_ref, "id_ref")
        .withColumn(
            "__j",
            F.size(F.array_intersect("__sh_id_new", "__sh_id_ref"))
            / F.size(F.array_union("__sh_id_new", "__sh_id_ref")),
        )
        .filter(F.col("__j") >= threshold)
        .select(F.col("id_new").alias(id_col))
        .distinct()
    )
    if members is not None:
        # matched representatives -> every member of their group
        matched = _member_ids(matched, members, id_col)
    return new_df.join(matched, id_col, "left_anti")


def _token_kgrams(df: DataFrame, text_col: str, id_col: str, k: int) -> DataFrame:
    """(id, pos, gram-hash) for every token k-gram, 1-based positions.

    The gram travels as xxhash64 of the joined token window — 8 bytes
    through the shuffle instead of a k-token string (collision odds
    ~n²/2⁶⁴: immaterial against corpus sizes, and any collision only
    ever ADDS a candidate span, mirroring the hashed variants of the
    suffix-array protocol)."""
    words = F.split(normalize_text(F.col(text_col)), " ")
    base = _spread(df).select(F.col(id_col), words.alias("__w")).filter(
        F.size("__w") >= k
    )
    idx = F.sequence(F.lit(1), F.size("__w") - F.lit(k - 1))
    grams = F.transform(
        idx,
        lambda i: F.struct(
            i.alias("pos"),
            F.xxhash64(F.array_join(F.slice("__w", i, k), " ")).alias("h"),
        ),
    )
    return (
        base.select(F.col(id_col), F.explode(grams).alias("__g"))
        .select(F.col(id_col), F.col("__g.pos").alias("pos"), F.col("__g.h").alias("h"))
    )


def duplicate_substring_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 8,
    scope: str = "cross",
) -> DataFrame:
    """Exact-substring duplicate spans — the suffix-array dedup protocol
    of Lee et al. 2022 ("Deduplicating Training Data Makes Language
    Models Better"), re-expressed Spark-first for a fixed minimum match
    length ``k``: any span of ≥ k consecutive tokens that also appears
    in another document is reported as a duplicated region.

    A span of length L ≥ k is shared iff ALL of its L-k+1 token k-grams
    are shared, so a k-gram posting join finds exactly the same regions
    a corpus suffix array would for match threshold k: explode token
    k-grams with positions, keep grams seen in ≥ 2 distinct documents
    (``scope='cross'``) or ≥ 2 occurrences anywhere incl. within-doc
    repeats (``scope='any'``), then merge consecutive shared positions
    per document (gaps-and-islands) into maximal spans.

    Plan shape at 100 TB: one explode (rows ≈ corpus token count, but
    only (id, pos, hash8) wide), one partial-agg groupBy on the gram
    hash, one equi join back, one window on (id) — three linear
    shuffles, no all-pairs, no global sort. Skew: a stop-gram shared by
    millions of docs costs groupBy+join fan-out; AQE skew-join splits
    it, and the count-distinct partial agg caps the groupBy side.

    Returns (id, start_pos, end_pos, span_tokens), positions 1-based
    over whitespace tokens of the normalized text.
    """
    if scope not in ("cross", "any"):
        raise ValueError(f"scope must be cross/any, got {scope!r}")
    # the posting table feeds TWO consumers (the shared-gram aggregate
    # and the join back) with different downstream shapes, so Catalyst
    # gets no exchange reuse and the scan+normalize+k-gram explode ran
    # twice (plan-audited: two Generate nodes over the corpus scan).
    # Materialize once — the same recipe as the jaccard posting table
    # and the BM25 inverted index.
    ex = iter_checkpoint(_token_kgrams(df, text_col, id_col, k))
    if scope == "cross":
        # "gram appears in >= 2 DISTINCT docs" == min(id) != max(id):
        # count_distinct plans as TWO aggregation exchanges (a (h, id)
        # dedup pass, then the count by h — 2 x 5.4 MiB / 235k records
        # at sf0.1, the operator's dominant shuffles); min/max is one
        # exchange with perfect map-side combining. Result-identical,
        # null-identical (min/max and count_distinct both ignore nulls).
        shared = (
            ex.groupBy("h")
            .agg(F.min(F.col(id_col)).alias("__lo"), F.max(F.col(id_col)).alias("__hi"))
            .filter(F.col("__lo") != F.col("__hi"))
        )
    else:
        shared = (
            ex.groupBy("h")
            .agg(F.count(F.lit(1)).alias("__nd"))
            .filter(F.col("__nd") >= 2)
        )
    # left_semi, not inner: identical rows (shared has one row per h),
    # but the semi join pins the BUILD side to the aggregated gram set —
    # as a plain inner join the planner built the hash relation from the
    # FULL posting table (24 MB broadcast at sf0.1, plan-audited) because
    # the post-filter aggregate side carries no usable size estimate.
    marked = ex.join(shared.select("h"), "h", "left_semi")
    # islands must merge OVERLAPPING/adjacent covered regions, not only
    # CONSECUTIVE gram positions: shared grams at positions p and p+2
    # (gap < k) cover one contiguous token range, and pos - row_number
    # split them into two overlapping "maximal" spans that double-count
    # tokens. Break only when the gap exceeds k (regions [p, p+k-1] and
    # [q, q+k-1] are disjoint with a hole iff q > p + k).
    w = Window.partitionBy(id_col).orderBy(F.col("pos").asc())
    brk = F.when(
        F.lag("pos").over(w).isNull()
        | (F.col("pos") - F.lag("pos").over(w) > k),
        F.lit(1),
    ).otherwise(F.lit(0))
    islands = marked.withColumn(
        "__grp",
        F.sum(brk).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        islands.groupBy(id_col, "__grp")
        .agg(
            F.min("pos").cast("long").alias("start_pos"),
            (F.max("pos") + F.lit(k - 1)).cast("long").alias("end_pos"),
            (F.max("pos") - F.min("pos") + F.lit(k)).cast("long").alias("span_tokens"),
        )
        .drop("__grp")
    )


def strip_duplicate_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 8,
    scope: str = "cross",
) -> DataFrame:
    """Remove every token covered by a duplicated ≥ k-token span (see
    :func:`duplicate_substring_spans`) and reassemble the document —
    the destructive half of the Lee et al. 2022 ExactSubstr protocol
    (their tool likewise cuts ALL copies of a duplicated byte range;
    dropping all occurrences is the conservative-contamination variant).

    Spans per doc are few and short (they are merged maximal islands),
    so they ride back to the document as ONE collected array per doc —
    an equi join on id, never a positions×tokens blow-up — and the
    token filter is a zero-shuffle higher-order expression over the
    token array.

    Returns (id, n_tokens, n_removed, text_clean) for EVERY input doc.
    Span DETECTION runs on normalized (lowercased) tokens, but
    reconstruction keeps the ORIGINAL token casing — positions align
    1:1 because normalization only lowercases and collapses whitespace,
    so a doc with no duplicated span passes through with its casing
    intact (newline runs still collapse to single spaces: tokenization
    is whitespace-collapsing by construction).
    """
    spans = duplicate_substring_spans(df, text_col, id_col, k, scope)
    per_doc = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("start_pos", "end_pos")).alias("__spans")
    )
    words = F.split(
        F.trim(F.regexp_replace(F.col(text_col), r"\s+", " ")), " "
    )
    base = df.select(F.col(id_col), words.alias("__w"))
    joined = base.join(per_doc, id_col, "left").withColumn(
        "__spans",
        F.coalesce(
            "__spans",
            F.array().cast("array<struct<start_pos:bigint,end_pos:bigint>>"),
        ),
    )

    def _kept(i):
        return ~F.exists(
            "__spans",
            lambda s: (i >= s["start_pos"]) & (i <= s["end_pos"]),
        )

    kept_idx = F.filter(
        F.sequence(F.lit(1), F.size("__w")).cast("array<bigint>"), _kept
    )
    kept = F.transform(kept_idx, lambda i: F.element_at("__w", i.cast("int")))
    return joined.select(
        F.col(id_col),
        F.size("__w").cast("long").alias("n_tokens"),
        (F.size("__w") - F.size(kept)).cast("long").alias("n_removed"),
        F.array_join(kept, " ").alias("text_clean"),
    )
