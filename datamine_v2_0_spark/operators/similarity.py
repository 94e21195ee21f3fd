"""Similarity search over embedding columns (array<float>).

Two tiers, per the standard ANN playbook:
- `cosine_topk`: brute-force exact top-k — the correctness baseline.
  Dot products are JVM-side (`zip_with` + `aggregate`), ranking is a
  window rank over (query, candidate) pairs.
- `lsh_topk`: random-hyperplane LSH (Charikar 2002) — sign-bit signatures
  bucket the corpus; only same-bucket pairs are scored. This is the
  100 TB path: candidate generation is an equi join on the bucket key,
  never all-pairs.

The hyperplanes are deterministic (seeded NumPy), generated driver-side
(KB of data), and inlined as literals — the same pattern as broadcasting.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window, functions as F
from pyspark.sql.functions import pandas_udf


def dot(a: Column, b: Column) -> Column:
    """JVM-side dot product of two array<float/double> columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
        )
    )


def cosine(a: Column, b: Column) -> Column:
    """try_divide: an all-zero vector (failed/padded embedding) yields
    NULL similarity instead of an ANSI DIVIDE_BY_ZERO that aborts the
    whole job; NULLs sort last under the desc rank ordering, so zero
    vectors simply never make a top-k."""
    return F.try_divide(dot(a, b), l2_norm(a) * l2_norm(b))


def cosine_pairs_udf():
    """Vectorized pair-cosine: one numpy einsum per Arrow batch.

    Spark's higher-order functions (`zip_with`/`aggregate`) are
    interpreted per element — on a candidate-pair table they cost
    ~dim interpreted ops per row. This computes a whole batch with
    three einsums; use it wherever the pair table is the hot path."""

    @pandas_udf("double")
    def _cos(a: pd.Series, b: pd.Series) -> pd.Series:
        A = np.array(a.tolist(), dtype=np.float64)
        B = np.array(b.tolist(), dtype=np.float64)
        num = np.einsum("ij,ij->i", A, B)
        den = np.sqrt(np.einsum("ij,ij->i", A, A)) * np.sqrt(
            np.einsum("ij,ij->i", B, B)
        )
        return pd.Series(num / den)

    return _cos


def vector_rep_groups(df: DataFrame, vec_col: str, id_col: str):
    """(rep_corpus, members) — the shared first stage of every
    ``duplicate_collapse="always"`` plan in the ANN family: one
    representative row per DISTINCT vector (rep = min member id over
    the raw-byte xxhash64 fingerprint of the vector) and the
    (neighbor_id = rep, __m = member id) fan-out map. Two narrow
    aggregates/joins over (id, 8-byte hash) columns — the vectors
    themselves never shuffle here."""
    fp = df.select(F.col(id_col), F.xxhash64(F.col(vec_col)).alias("__fp"))
    reps = fp.groupBy("__fp").agg(F.min(id_col).alias("__rep"))
    rep_corpus = df.join(reps.select(F.col("__rep").alias(id_col)), id_col)
    members = fp.join(reps, "__fp").select(
        F.col("__rep").alias("neighbor_id"), F.col(id_col).alias("__m")
    )
    return rep_corpus, members


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 5,
    round_to: int = 6,
    duplicate_collapse: str = "never",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Queries are broadcast (small side); the corpus streams map-side, so the
    only shuffle is the per-query top-k window. Scores are rounded before
    ranking (with id tiebreak) for cross-engine determinism.

    ``duplicate_collapse="always"``: score one representative per
    DISTINCT vector and fan the per-query winners back out to duplicate
    members — on a mass-duplicate corpus (the skew replica carries 40%
    of its vectors on one point) the expensive per-pair cosine kernel
    runs over distinct vectors only. Result-exact by a group-cover
    argument: every member of a duplicate group shares its rep's score,
    so the direct member ordering (score desc, id asc) draws its top-k
    from at most k groups, and any such group must sit within the top-k
    groups ordered by (score desc, min-member-id asc) — a group ranked
    below k is preceded by k groups that each put at least one member
    (all members, when the score is strictly higher; their min member,
    on a rounded-score tie) ahead of everything it could contribute.
    One extra group (k+1) covers the member the self-exclusion drops;
    exclusion itself is applied at MEMBER level after the fan-out, like
    pq_rerank_topk. ``"never"`` (default — the uniform-corpus fixture
    has no duplicates to harvest, and the exact tier is the recall
    baseline everything else is judged against, so the registered plan
    stays the simplest one): direct scan.

    Returns (query_id, neighbor_id, cos_sim) excluding self-matches."""
    if duplicate_collapse not in ("always", "never"):
        raise ValueError(
            f"duplicate_collapse must be 'always' or 'never' for the "
            f"exact tier (no auto probe — the decision statistic costs "
            f"the same as the fingerprint pass it would gate), got "
            f"{duplicate_collapse!r}"
        )
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qvec")
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.col("neighbor_id")
    )
    if duplicate_collapse == "always":
        rep_corpus, members = vector_rep_groups(corpus, vec_col, id_col)
        rep_vecs = rep_corpus.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cvec")
        )
        rep_scored = rep_vecs.crossJoin(q).select(
            "query_id",
            "neighbor_id",
            F.round(
                cosine(F.col("__cvec"), F.col("__qvec")), round_to
            ).alias("cos_sim"),
        )
        # top-(k+1) groups by (score, rep id = min member id): the
        # group-cover bound plus one for the self-excluded member
        rep_top = (
            rep_scored.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= k + 1)
            .drop("__rn")
        )
        scored = (
            rep_top.join(members, "neighbor_id")
            .select("query_id", F.col("__m").alias("neighbor_id"), "cos_sim")
            .filter(F.col("neighbor_id") != F.col("query_id"))
        )
    else:
        pairs = corpus.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cvec")
        ).crossJoin(q)
        scored = pairs.filter(F.col("neighbor_id") != F.col("query_id")).select(
            "query_id",
            "neighbor_id",
            F.round(
                cosine(F.col("__cvec"), F.col("__qvec")), round_to
            ).alias("cos_sim"),
        )
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def bucketed_topk(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    bucket_col: str,
    k: int = 3,
    round_to: int = 6,
) -> DataFrame:
    """IVF-style partitioned ANN: score only candidates in the query's
    bucket (a coarse-quantizer cell / cluster id). The probe is an equi
    join on the bucket key — the canonical 100 TB layout: partition the
    corpus by bucket, broadcast the queries, never all-pairs."""
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cvec"),
        F.col(bucket_col).alias("__bkt"),
    )
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("__qvec"),
            F.col(bucket_col).alias("__bkt"),
        )
    )
    pairs = c.join(q, "__bkt").filter(F.col("neighbor_id") != F.col("query_id"))
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        F.round(cosine(F.col("__cvec"), F.col("__qvec")), round_to).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.col("neighbor_id"))
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def _lloyd_fit(X: np.ndarray, k: int, max_iter: int) -> np.ndarray:
    """Seeded driver-side Lloyd iterations on a bounded sample.

    Deterministic farthest-point init (start at row 0, greedily add the
    sample point farthest from its nearest chosen center — no RNG, so
    the cell layout is reproducible across runs and layouts), then plain
    Lloyd updates with the standard empty-cluster rule (keep the old
    centroid). Degenerate inputs need no special casing: an all-identical
    sample yields duplicate centroids, ties assign to the lowest cell id,
    and the nprobe=n_cells operating point stays exact regardless.

    Replaces the round-7 full-corpus MLlib KMeans fit, whose fixed JVM
    cost dominated the query at small scale (7.57 s at sf0.001 vs 2.77 s
    at sf0.01 — inverse scaling). A coarse quantizer only needs cells
    good enough to bucket the corpus; a few-thousand-row sample is the
    classical IVF training recipe (faiss trains coarse quantizers on
    bounded samples for the same reason)."""
    C = np.empty((k, X.shape[1]), dtype=np.float64)
    C[0] = X[0]
    d2 = ((X - C[0]) ** 2).sum(axis=1)
    for j in range(1, k):
        C[j] = X[int(d2.argmax())]
        d2 = np.minimum(d2, ((X - C[j]) ** 2).sum(axis=1))
    for _ in range(max_iter):
        dists = (
            (X * X).sum(axis=1, keepdims=True)
            - 2.0 * (X @ C.T)
            + (C * C).sum(axis=1)[None, :]
        )
        assign = dists.argmin(axis=1)
        newC = C.copy()
        for j in range(k):
            members = X[assign == j]
            if len(members):
                newC[j] = members.mean(axis=0)
        if np.allclose(newC, C):
            break
        C = newC
    return C


def ivf_index(
    corpus: DataFrame,
    vec_col: str,
    id_col: str,
    dim: int,
    n_cells: int = 8,
    seed: int = 42,
    max_iter: int = 8,
    fit_fraction: float | None = None,
    fit_sample_cap: int = 4096,
) -> tuple[DataFrame, np.ndarray]:
    """BUILD phase of the IVF index: fit the coarse quantizer and assign
    every corpus vector to its nearest cell. Returns ``(cells,
    centroids)`` where ``cells`` has columns ``[id_col, vec_col,
    "cell"]`` and ``centroids`` is the ``(n_cells, dim)`` float64 array
    the quantizer learned.

    This is the half of ``ivf_topk`` whose cost scales with the CORPUS
    (one full pass to assign cells — the dominant term at 1M+ vectors,
    measured 10-100x the per-batch query cost in ANN_AT_SCALE_r13), so
    a pipeline that answers many query batches builds it ONCE —
    written partitioned BY cell, ``cells`` read back lets ``ivf_query``
    scan only the probed cells' partitions (Spark prunes cell
    directories via dynamic partition pruning on the broadcast probe
    join). ``ivf_topk`` remains the
    one-shot composition ``ivf_query(*ivf_index(...), ...)`` and is
    unchanged result-wise.

    The quantizer is fit DRIVER-SIDE on a deterministic hash-ordered
    sample of at most ``fit_sample_cap`` vectors (a top-N over
    xxhash64(id) — a bounded KB-scale collect, same budget discipline as
    train_pq's codebook sample), with deterministic farthest-point init:
    the cell assignment is reproducible for a fixed corpus, with no RNG
    and no full-corpus fit job. ``fit_fraction`` optionally pre-thins
    the sample pool before the cap (kept for API compatibility; the cap
    already bounds the fit).

    Vectors are L2-normalized before clustering and cell assignment
    (spherical quantization): cosine ranking equals Euclidean ranking on
    the unit sphere, so cells align with cosine neighborhoods — without
    this, Euclidean cells on unnormalized data fragment each query's
    cosine neighborhood across many cells and recall collapses.
    Degenerate inputs degrade gracefully: an empty corpus returns an
    empty frame with a ``(0, dim)`` centroid array, a 1-row corpus one
    all-zero centroid and a single cell 0."""
    # norm computed ONCE per row (not per element inside the transform
    # lambda — that was O(dim^2) per row) and floored to 1 for all-zero
    # vectors so normalization can't raise DIVIDE_BY_ZERO under ANSI
    arr = F.col(vec_col).cast("array<double>")
    norm_raw = F.sqrt(
        F.aggregate(arr, F.lit(0.0), lambda a, v: a + v * v)
    )
    va = (
        corpus.filter(F.col(vec_col).isNotNull()).select(
            F.col(id_col).alias("__vid"),
            F.col(vec_col).alias("__cvec"),
            F.when(norm_raw > 0, norm_raw).otherwise(F.lit(1.0)).alias(
                "__norm"
            ),
        )
        .select(
            "__vid",
            "__cvec",
            F.transform(
                F.col("__cvec").cast("array<double>"),
                lambda x: x / F.col("__norm"),
            ).alias("__nvec"),
        )
    )
    # tiny corpus: probe min(n, n_cells) with a bounded take (never a
    # full scan) and degrade gracefully (an empty/1-row ingest day is
    # routine, not an error). Not limit().count(): Spark names a
    # code-generated limit's counter from a JVM-global sequence, so that
    # plan compiles a new class on every call.
    n_bounded = len(va.select("__vid").take(n_cells))
    if n_bounded == 0:
        ct = dict(corpus.dtypes)
        cells = corpus.sparkSession.createDataFrame(
            [], f"`{id_col}` {ct[id_col]}, `{vec_col}` {ct[vec_col]}, cell int"
        )
        return cells, np.zeros((0, dim))
    if n_bounded < 2:
        # one cell holds everything, every query probes it — correct at
        # any size (scoring always uses the real vectors)
        cells = va.select(
            F.col("__vid").alias(id_col),
            F.col("__cvec").alias(vec_col),
            F.lit(0).alias("cell"),
        )
        return cells, np.zeros((1, dim))
    k_eff = min(n_cells, n_bounded)
    pool = (
        va.sample(fraction=fit_fraction, seed=seed)
        if fit_fraction is not None
        else va
    )
    # deterministic spread sample: top-N over a seeded id hash is a
    # TakeOrdered (bounded heap per partition, k rows to the driver),
    # independent of file layout and row order
    samp = (
        pool.select("__vid", "__nvec")
        .orderBy(F.xxhash64(F.col("__vid"), F.lit(seed)))
        .limit(fit_sample_cap)
        .collect()
    )
    if len(samp) < k_eff:  # fit_fraction thinned below k: refill
        samp = (
            va.select("__vid", "__nvec")
            .orderBy(F.xxhash64(F.col("__vid"), F.lit(seed)))
            .limit(fit_sample_cap)
            .collect()
        )
    X = np.array([r["__nvec"] for r in samp], dtype=np.float64)
    C = _lloyd_fit(X, min(k_eff, len(X)), max_iter)

    @pandas_udf("int")
    def _assign_cell(v: pd.Series) -> pd.Series:
        M = np.array(v.tolist(), dtype=np.float64)  # (n, dim) normalized
        d2 = (
            (M * M).sum(axis=1, keepdims=True)
            - 2.0 * (M @ C.T)
            + (C * C).sum(axis=1)[None, :]
        )
        return pd.Series(d2.argmin(axis=1).astype(np.int32))

    cells = va.select(
        F.col("__vid").alias(id_col),
        F.col("__cvec").alias(vec_col),
        _assign_cell(F.col("__nvec")).alias("cell"),
    )
    return cells, C


def ivf_query(
    cells: DataFrame,
    centroids: np.ndarray,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 5,
    nprobe: int = 3,
    round_to: int = 6,
    cell_col: str = "cell",
) -> DataFrame:
    """QUERY phase of the IVF index: each query probes its ``nprobe``
    nearest centroids and scores only same-cell candidates. ``cells``
    and ``centroids`` come from ``ivf_index``;
    per-batch cost is ~``nprobe / n_cells`` of the corpus — independent
    of how many batches reuse the index, which is the whole point of
    the split (ANN_AT_SCALE_r13: the 1.05M-vector index builds+persists
    once — 398 s in the round-13 run, of which the write is ~10 s after
    the one-file-per-cell compaction — and a 21-query batch then
    answers in 5-8 s).

    The probe join is an equi join on the cell id with the exploded
    query probes broadcast: at scale ``cells`` is stored partitioned by
    cell, so the scan prunes to the probed cells'
    directories. ``nprobe >= n_cells`` probes every cell, which is
    provably exact (the cells partition the corpus)."""
    if len(centroids) == 0:
        qt = dict(queries.dtypes)[id_col]
        ct = dict(cells.dtypes)[id_col]
        return cells.sparkSession.createDataFrame(
            [], f"query_id {qt}, neighbor_id {ct}, cos_sim double"
        )
    C = np.asarray(centroids, dtype=np.float64)
    probe = min(nprobe, len(C))

    @pandas_udf("array<int>")
    def _probe_cells(v: pd.Series) -> pd.Series:
        M = np.array(v.tolist(), dtype=np.float64)          # (n, dim)
        norms = np.linalg.norm(M, axis=1, keepdims=True)
        M = M / np.where(norms == 0, 1.0, norms)
        d2 = ((M[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        order = np.argsort(d2, axis=1)[:, :probe].astype(np.int32)
        return pd.Series(list(order))

    c = cells.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cvec"),
        F.col(cell_col).alias("__cell"),
    )
    q = queries.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qvec"),
        F.explode(_probe_cells(F.col(vec_col))).alias("__cell"),
    )
    pairs = c.join(F.broadcast(q), "__cell").filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        F.round(cosine(F.col("__cvec"), F.col("__qvec")), round_to).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.col("neighbor_id"))
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    dim: int,
    k: int = 5,
    n_cells: int = 8,
    nprobe: int = 3,
    seed: int = 42,
    round_to: int = 6,
    max_iter: int = 8,
    fit_fraction: float | None = None,
    fit_sample_cap: int = 4096,
) -> DataFrame:
    """IVF ANN with a LEARNED coarse quantizer: k-means cells partition
    the corpus, each query probes its ``nprobe`` nearest centroids, and
    only same-cell candidates are scored — the canonical
    inverted-file layout (`bucketed_topk` is the same plan with a
    user-supplied cell column). One-shot composition of ``ivf_index``
    (build: fit + full-corpus cell assignment) and ``ivf_query``
    (probe: broadcast equi join on the cell id, never all-pairs);
    pipelines that answer many query batches should call the two halves
    directly and reuse (or persist) the index — at 1M+
    vectors the build is 10-100x the per-batch query cost.

    ``nprobe = n_cells`` probes every cell, which is provably exact
    (the cells partition the corpus) while keeping the IVF plan shape;
    smaller nprobe trades recall for a ~nprobe/n_cells scan fraction.
    See ``ivf_index`` for quantizer-fit determinism and the spherical
    normalization argument."""
    cells, C = ivf_index(
        corpus,
        vec_col,
        id_col,
        dim,
        n_cells=n_cells,
        seed=seed,
        max_iter=max_iter,
        fit_fraction=fit_fraction,
        fit_sample_cap=fit_sample_cap,
    )
    return ivf_query(
        cells,
        C,
        queries,
        vec_col,
        id_col,
        k=k,
        nprobe=nprobe,
        round_to=round_to,
    )


def make_hyperplanes(dim: int, num_planes: int = 12, seed: int = 42) -> np.ndarray:
    return np.random.RandomState(seed).standard_normal((num_planes, dim))


def banded_keys_udf(planes: np.ndarray, bands: int):
    """Vectorized band-key computation: ONE numpy matmul per Arrow batch
    instead of num_planes interpreted dot-product expressions per row
    (Spark higher-order functions don't participate in codegen — the
    expression form was ~50× slower). Returns array<long>, one key per
    band; pair with posexplode for the (band, key) join."""
    r = len(planes) // bands
    P = planes[: bands * r].T.astype(np.float64)          # (dim, bands*r)
    weights = (1 << np.arange(r)).astype(np.int64)

    @pandas_udf("array<long>")
    def _keys(v: pd.Series) -> pd.Series:
        M = np.array(v.tolist(), dtype=np.float64)        # (n, dim)
        bits = (M @ P) >= 0                               # (n, bands*r)
        ks = np.stack(
            [bits[:, b * r : (b + 1) * r] @ weights for b in range(bands)],
            axis=1,
        )                                                 # (n, bands)
        return pd.Series(list(ks))

    return _keys


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    dim: int,
    k: int = 5,
    num_planes: int = 24,
    bands: int = 8,
    seed: int = 42,
    round_to: int = 6,
    probe: int = 0,
    duplicate_collapse: str = "never",
) -> DataFrame:
    """Approximate top-k via banded random-hyperplane LSH: candidates are
    corpus vectors sharing >=1 of the query's band buckets. The join is an
    equi join on (band, key) — the scale path; tune recall/cost with
    (num_planes, bands): more bits per band → smaller buckets, more bands
    → more probes. 24 planes / 8 bands (3 bits per band) hit ~0.84
    recall@5 on the sf0.01 embeddings fixture; with multi-probe
    ``probe=3`` recall is 1.0 there (see test_lsh_topk_recall).

    SCALE THE BITS WITH THE CORPUS: expected bucket size is
    ~n / 2^(planes/bands) per band, so keep ``planes/bands`` near
    ``log2(n / target_bucket_rows)`` (target a few thousand rows).
    Measured at 1.05M vectors (ANN_AT_SCALE_r13): the small-scale
    3-bit/band shape degenerates into ~131k-row buckets — 27-79 s per
    21-query batch — while 6 bits/band answers in 4-12 s at 0.70-0.93
    recall@10 (probe 0/1/3). The certified exactness points are
    bit-count-independent (identical vectors share every band at any
    shape).

    ``probe``: multi-probe depth — additionally look up each query band
    key with bit j flipped, for j < probe (the classic multi-probe LSH
    trick: a near He miss usually differs by exactly one close-to-margin
    bit). Probing is QUERY-side only, so it multiplies the tiny broadcast
    side by (1+probe) and leaves the corpus-side index untouched.

    ``duplicate_collapse="always"``: index one representative per
    DISTINCT vector and fan per-query winners out to duplicate members —
    RESULT-IDENTICAL to the direct plan at every (planes, bands, probe)
    setting, because the hyperplanes are fixed (seeded) so a member's
    band keys equal its rep's (candidacy transfers) and scores are
    vector-determined (the cosine_topk group-cover bound then applies
    within the candidate pool; self-exclusion moves to member level,
    rep depth k+1). On a mass-duplicate corpus this keeps a g-strong
    identical group from contributing g rows to every one of its band
    buckets. Opt-in like cosine_topk; the IVF tier deliberately does
    NOT offer this knob — its coarse quantizer is TRAINED on the
    corpus, so a distinct-vector fit shifts cell boundaries and changes
    the partial-probe operating point (at the certified nprobe=n_cells
    point the cells partition the corpus and collapsing is pointless);
    dedup the corpus explicitly (dedup.exact_dedup) before an IVF build
    instead."""
    if duplicate_collapse not in ("always", "never"):
        raise ValueError(
            f"duplicate_collapse must be 'always' or 'never', got "
            f"{duplicate_collapse!r}"
        )
    planes = make_hyperplanes(dim, num_planes, seed)
    keys = banded_keys_udf(planes, bands)
    members = None
    index_corpus = corpus
    if duplicate_collapse == "always":
        index_corpus, members = vector_rep_groups(corpus, vec_col, id_col)
    # NULL vectors have no signature and would crash the numpy kernel
    # (a None row turns the Arrow batch into an object array)
    c = index_corpus.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cvec"),
        F.posexplode(keys(F.col(vec_col))).alias("__band", "__key"),
    )
    q_exact = queries.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qvec"),
        F.posexplode(keys(F.col(vec_col))).alias("__band", "__key"),
    )
    if probe > 0:
        r = num_planes // bands
        variants = F.array(
            F.col("__key"),
            *[
                F.col("__key").bitwiseXOR(F.lit(1 << j))
                for j in range(min(probe, r))
            ],
        )
        q_exact = q_exact.select(
            "query_id", "__qvec", "__band",
            F.explode(variants).alias("__key"),
        )
    q = F.broadcast(q_exact)
    # score BEFORE the dedup shuffle: the band join is broadcast
    # (map-side), so computing cosine right there means the distinct
    # shuffles 3 narrow columns instead of two dim-wide float vectors
    # per candidate hit — cos_sim is deterministic per pair, so
    # distinct-on-(pair, score) equals distinct-on-pair
    scored = c.join(q, ["__band", "__key"])
    if members is None:
        scored = scored.filter(F.col("neighbor_id") != F.col("query_id"))
    scored = scored.select(
        "query_id",
        "neighbor_id",
        F.round(
            cosine(F.col("__cvec"), F.col("__qvec")), round_to
        ).alias("cos_sim"),
    ).distinct()
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.col("neighbor_id"))
    if members is not None:
        # rep-level top-(k+1) (group-cover bound + the self-excluded
        # row), fan out to members, member-level self-exclusion, then
        # the final member-level top-k below
        scored = (
            scored.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= k + 1)
            .drop("__rn")
            .join(members, "neighbor_id")
            .select("query_id", F.col("__m").alias("neighbor_id"), "cos_sim")
            .filter(F.col("neighbor_id") != F.col("query_id"))
        )
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


# ---------------------------------------------------------------- PQ tier

def train_pq(
    corpus: DataFrame,
    vec_col: str,
    dim: int,
    m: int = 8,
    k_codes: int = 16,
    seed: int = 42,
    sample_n: int = 20_000,
    iters: int = 12,
) -> np.ndarray:
    """Train product-quantization codebooks: split the vector into ``m``
    subspaces and k-means each subspace to ``k_codes`` centroids
    (Jégou et al. 2011). Training reads a BOUNDED deterministic sample
    (lowest ids) — codebooks for a 100 TB corpus are learned from KBs
    of driver data, like every quantizer in the IVF family. Vectors are
    L2-normalized first (spherical PQ): inner-product ADC then ranks by
    cosine. Returns float64 codebooks of shape (m, k_codes, dim//m)."""
    assert dim % m == 0, "dim must divide into m equal subspaces"
    dsub = dim // m
    rows = (
        corpus.filter(F.col(vec_col).isNotNull())
        .select(F.col(vec_col).alias("v"))
        .orderBy(F.col("v").getItem(0))  # any deterministic order works
        .limit(sample_n)
        .collect()
    )
    if not rows:
        # empty corpus: zero codebooks — pq_encode/pq_topk over the same
        # empty corpus then yield empty codes/results instead of raising
        return np.zeros((m, k_codes, dsub), dtype=np.float64)
    X = np.array([r["v"] for r in rows], dtype=np.float64)
    norms = np.linalg.norm(X, axis=1, keepdims=True)
    X = X / np.where(norms == 0, 1.0, norms)
    rng = np.random.default_rng(seed)
    books = np.empty((m, k_codes, dsub), dtype=np.float64)
    for j in range(m):
        S = X[:, j * dsub : (j + 1) * dsub]
        k_eff = min(k_codes, len(S))
        C = S[rng.choice(len(S), size=k_eff, replace=False)].copy()
        for _ in range(iters):
            d2 = ((S[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(k_eff):
                mask = assign == c
                if mask.any():
                    C[c] = S[mask].mean(axis=0)
        if k_eff < k_codes:  # degenerate tiny sample: pad by repetition
            C = np.vstack([C, C[rng.integers(0, k_eff, k_codes - k_eff)]])
        books[j] = C
    return books


def pq_encode(
    corpus: DataFrame, vec_col: str, id_col: str, codebooks: np.ndarray
) -> DataFrame:
    """Encode each vector to ``m`` small-int codes (argmin centroid per
    subspace, after L2 normalization). This is the PQ value at scale:
    m bytes per vector instead of 4·dim — a 64-dim float corpus
    compresses 32× and the ANN scan touches only codes. Arrow-batched;
    codebooks ship in the closure (KBs)."""
    B = np.ascontiguousarray(codebooks)
    m, _, dsub = B.shape
    corpus = corpus.filter(F.col(vec_col).isNotNull())

    @pandas_udf("array<int>")
    def _enc(v: pd.Series) -> pd.Series:
        M = np.array(v.tolist(), dtype=np.float64)
        norms = np.linalg.norm(M, axis=1, keepdims=True)
        M = M / np.where(norms == 0, 1.0, norms)
        out = np.empty((len(M), m), dtype=np.int32)
        for j in range(m):
            S = M[:, j * dsub : (j + 1) * dsub]
            d2 = ((S[:, None, :] - B[j][None, :, :]) ** 2).sum(axis=2)
            out[:, j] = d2.argmin(axis=1)
        return pd.Series(list(out))

    return corpus.select(
        F.col(id_col).alias("neighbor_id"), _enc(F.col(vec_col)).alias("code")
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    dim: int,
    k: int = 5,
    m: int = 8,
    k_codes: int = 16,
    seed: int = 42,
    round_to: int = 6,
    max_queries: int = 10_000,
    exclude_self: bool = True,
) -> DataFrame:
    """ANN top-k by asymmetric-distance PQ search: corpus vectors live
    only as m-code rows; each query precomputes an inner-product lookup
    table against the codebooks (m × k_codes floats, driver-side — the
    queries DataFrame is the small side by contract) and scoring a
    candidate is m table lookups instead of a dim-wide dot product.

    The per-query LUTs are built on the driver, so the probe-set
    contract is enforced, not assumed: more than ``max_queries`` rows
    raises instead of silently collecting an unbounded frame into
    driver memory (the same explicit bound ``train_pq`` puts on its
    codebook sample). Raise the cap deliberately if your probe set
    really is that large — at 10k queries the LUTs are ~10 MB.

    This is the IndexPQ scan: at 100 TB the wins are the 32× smaller
    scan and the O(m) per-candidate cost; compose with the IVF cell
    layout (`ivf_topk`) to also cut the candidate count — the code
    table partitions by cell exactly like the raw vectors do.

    Approximate by nature (quantization error) → no exactness oracle;
    recall is measured against `cosine_topk` in tests. Deterministic
    for fixed corpus/seed. Returns (query_id, neighbor_id, adc_score)."""
    books = train_pq(
        corpus, vec_col, dim, m=m, k_codes=k_codes, seed=seed
    )
    codes = pq_encode(corpus, vec_col, id_col, books)

    qframe = queries.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col), F.col(vec_col)
    )
    n_queries = len(qframe.select(id_col).take(max_queries + 1))
    if n_queries > max_queries:
        raise ValueError(
            f"pq_topk collects the query frame driver-side to build ADC "
            f"lookup tables; got > {max_queries} query rows. Shrink the "
            f"probe set or raise max_queries explicitly."
        )
    qrows = qframe.collect()
    luts: dict = {}
    for r in qrows:
        qv = np.asarray(r[vec_col], dtype=np.float64)
        n = np.linalg.norm(qv)
        qv = qv / (n if n else 1.0)
        dsub = dim // m
        lut = np.empty((m, books.shape[1]), dtype=np.float64)
        for j in range(m):
            lut[j] = books[j] @ qv[j * dsub : (j + 1) * dsub]
        luts[r[id_col]] = lut

    @pandas_udf("double")
    def _adc(code: pd.Series, qid: pd.Series) -> pd.Series:
        C = np.array(code.tolist(), dtype=np.int64)          # (B, m)
        out = np.empty(len(C), dtype=np.float64)
        rows_idx = np.arange(C.shape[1])
        for q in qid.unique():
            lut = luts[q]
            mask = (qid == q).to_numpy()
            out[mask] = lut[rows_idx, C[mask]].sum(axis=1)
        return pd.Series(out)

    qids = F.broadcast(
        queries.select(F.col(id_col).alias("query_id"))
    )
    pairs = codes.crossJoin(qids)
    if exclude_self:
        # representative-collapsed callers (pq_rerank_topk) disable this
        # and re-apply it at MEMBER level after fan-out: rep-level id
        # equality both drops a whole duplicate group when the query IS
        # its rep and misses nothing when the query is a non-rep member
        pairs = pairs.filter(F.col("neighbor_id") != F.col("query_id"))
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        F.round(_adc(F.col("code"), F.col("query_id")), round_to).alias(
            "adc_score"
        ),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("adc_score"), F.col("neighbor_id")
    )
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def pq_rerank_topk(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    dim: int,
    k: int = 5,
    m: int = 8,
    k_codes: int = 16,
    rerank_from: int = 50,
    seed: int = 42,
    round_to: int = 6,
    duplicate_collapse: str = "always",
) -> DataFrame:
    """Two-stage PQ search (the production FAISS shape): the compressed
    ADC scan shortlists ``rerank_from`` candidates per query, then ONLY
    those ids join back to their full vectors for an exact cosine
    re-rank. At 100 TB the corpus-wide pass touches m-byte codes (32×
    smaller than float vectors) and the expensive exact math runs on
    rerank_from × n_queries rows — the candidate join is an equi join
    on id against a shortlist that is tiny by construction.

    Quantization error only costs recall if a true neighbor falls out
    of the top-``rerank_from`` shortlist; at the contract operating
    point the shortlist provably contains the exact top-k (verified by
    the exact-SQL oracle), the same candidates→exact-verify
    certification pattern as the LSH and IVF tiers.

    SCALE THE DEPTH WITH THE CORPUS: the shortlist is a fixed-size
    window over an ADC ranking whose noise floor grows with n, so
    recall at a given ``rerank_from`` decays as the corpus grows.
    Measured at 1.05M vectors (ANN_AT_SCALE_r13): rerank_from=100 —
    which certifies recall 1.0 at 2k vectors — reads 0.80;
    depth-scaling to 400/1000 restores 0.92/0.99. Keep
    ``rerank_from ≈ n / 1000`` (and >= 100) as the measured rule of
    thumb; exact cost stays rerank_from × n_queries either way.

    ``duplicate_collapse="always"`` (default): the index is built over
    DISTINCT vectors and the shortlist fans out to duplicate members at
    query time. The round-10 skewed-replica recall run (ANN.md) showed
    why the direct form distorts under mass duplication, through two
    mechanisms at once: a g-strong identical-vector group shares one
    code, so it occupies up to g shortlist slots carrying ONE distinct
    vector's information (effective depth shrinks by g−1 — on the
    40%-duplicate corpus true neighbors sat at ADC positions 207–286
    behind a 200-wide duplicate block and a 100-deep shortlist read
    recall 0.95 at the certified point), and codebook training mass
    concentrates on the duplicated point, coarsening quantization of
    the unique remainder. Collapsed, ``rerank_from`` counts distinct
    vectors (strictly stronger), codebooks train on the distinct set,
    and the scan/encode shrink by the duplication factor. Result-exact:
    cosine is a function of the vector, so member score == rep score
    and the member-level (score desc, id asc) rank reproduces the
    direct ordering. Unlike the text family there is NO "auto" probe
    mode: the decision statistic (a fingerprint aggregate) costs the
    same as the remedy itself, and the fan-out join is shortlist-sized
    — the break-even favors collapse at ANY duplication.
    ``"never"`` keeps the raw direct scan (one narrow aggregate + one
    shortlist join cheaper on a provably duplicate-free corpus)."""
    if duplicate_collapse not in ("always", "never"):
        raise ValueError(
            f"duplicate_collapse must be 'always' or 'never' for the PQ "
            f"tier (no auto probe — see docstring), got "
            f"{duplicate_collapse!r}"
        )
    members = None
    index_corpus = corpus
    if duplicate_collapse == "always":
        index_corpus, members = vector_rep_groups(corpus, vec_col, id_col)
    # collapsed: shortlist reps WITHOUT rep-level self-exclusion (a
    # query inside a duplicate group would otherwise lose its whole
    # group when it IS the rep, or gain a self-pair via fan-out when it
    # is not) at depth+1 so the post-filter still leaves rerank_from
    # non-self candidates; the member-level filter below restores the
    # exclusion contract exactly
    shortlist = pq_topk(
        index_corpus,
        queries,
        vec_col,
        id_col,
        dim,
        k=rerank_from if members is None else rerank_from + 1,
        m=m,
        k_codes=k_codes,
        seed=seed,
        round_to=round_to,
        exclude_self=members is None,
    ).select("query_id", "neighbor_id")
    if members is not None:
        # fan representative hits out to duplicate members BEFORE the
        # exact re-rank: members share their rep's vector, so candidacy
        # transfers and the rank window below restores id tiebreaks
        shortlist = (
            shortlist.join(members, "neighbor_id")
            .select("query_id", F.col("__m").alias("neighbor_id"))
            .filter(F.col("neighbor_id") != F.col("query_id"))
        )

    vecs = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cvec")
    )
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qvec")
        )
    )
    scored = (
        shortlist.join(vecs, "neighbor_id")
        .join(q, "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("__cvec"), F.col("__qvec")), round_to).alias(
                "cos_sim"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.col("neighbor_id")
    )
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )
