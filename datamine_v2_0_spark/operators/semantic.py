"""Semantic (embedding-cluster) deduplication — the SemDeDup protocol.

Abbas et al. 2023 ("SemDeDup: Data-efficient learning at web-scale
through semantic deduplication"): k-means-cluster the corpus embeddings,
then search for near-duplicates ONLY within each cluster — the cluster
assignment prunes the O(n²) pair space to O(sum of cluster sizes²),
which with k ∝ n / target_cluster_size is linear in the corpus.

This file is the cluster-pruned tier of the embedding-dedup family
(`dedup.embedding_neardup_pairs` is the LSH-pruned tier; both verify
candidates with the same exact-cosine kernel so their outputs are
interchangeable at equal recall).

Scale design (100 TB):
- centroids are tiny (k × dim doubles) and live driver-side, exactly
  like the LSH hyperplanes and PQ codebooks in :mod:`similarity` —
  assignment inlines them as literal arrays so the argmax runs inside
  whole-stage codegen with ZERO exchange;
- each Lloyd iteration is one partial-aggregatable groupBy over
  (cluster, dimension) plus a k-row collect — the same data movement
  MLlib's KMeans performs per iteration;
- the within-cluster pair search shuffles the corpus ONCE on the
  cluster key and runs the vectorized screen-then-verify kernel per
  cluster (`dedup._bucket_cosine_verify`): no all-pairs product ever
  forms, and per-cluster work is bounded by choosing k so clusters stay
  small (SemDeDup uses k = 110k for LAION-440M, ~4k docs/cluster).

Reference parity note: the reference repo has no semantic-dedup
counterpart (its dedup surface is exact-hash only); this operator is
part of the beyond-reference LLM-data surface the build brief asks for.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, functions as F

from datamine_v2_0_spark.operators.dedup import _bucket_cosine_verify
from datamine_v2_0_spark.operators.similarity import cosine


def _centroid_lit(vec: np.ndarray) -> Column:
    return F.array(*[F.lit(float(x)) for x in vec])


def assign_to_centroids(
    df: DataFrame,
    vec_col: str,
    centroids: list[np.ndarray],
    out_col: str = "cluster_id",
    round_to: int = 6,
) -> DataFrame:
    """Nearest-centroid (max-cosine) assignment with centroids inlined as
    literals: an `array_max` over k (sim, -cluster) structs — pure
    codegen projection, no join, no exchange. Ties on the rounded
    similarity break to the LOWEST cluster id (the -cluster struct
    field), which is what makes the assignment reproducible in ANSI SQL.
    """
    if not centroids:
        # no centroids only happens for an empty/over-clustered input:
        # a NULL assignment keeps the (empty) frame flowing instead of
        # an untyped array_max(array()) analysis error
        return df.withColumn(out_col, F.lit(None).cast("int"))
    v = F.col(vec_col)
    cands = [
        F.struct(
            F.round(cosine(v, _centroid_lit(c)), round_to).alias("s"),
            F.lit(-i).alias("negc"),
        )
        for i, c in enumerate(centroids)
    ]
    best = F.array_max(F.array(*cands))
    return df.withColumn(out_col, (-best["negc"]).cast("int"))


def seed_centroids_lowest_ids(
    df: DataFrame, vec_col: str, id_col: str, k: int
) -> list[np.ndarray]:
    """Deterministic seeding: the k vectors with the smallest ids.

    Chosen over random init because it is (a) reproducible across
    engines — an ANSI `ORDER BY id LIMIT k` — which is what lets the
    n_iter=0 operating point be certified against an exact SQL oracle,
    and (b) a bounded k-row driver collect, same as `train_pq`'s capped
    codebook sample."""
    rows = (
        df.filter(F.col(vec_col).isNotNull())
        .select(id_col, vec_col)
        .orderBy(id_col)
        .limit(k)
        .collect()
    )
    return [np.asarray(r[1], dtype=np.float64) for r in rows]


def lloyd_step(
    assigned: DataFrame,
    vec_col: str,
    centroids: list[np.ndarray],
    cluster_col: str = "cluster_id",
) -> list[np.ndarray]:
    """One Lloyd update: per-dimension mean of each cluster's members.

    posexplode → groupBy(cluster, dim) avg → re-pack. Both aggregations
    are partial (map-side combine); the collect is k rows of dim
    doubles. Clusters that lost all members keep their old centroid
    (the standard empty-cluster rule)."""
    dim_means = (
        assigned.select(
            F.col(cluster_col), F.posexplode(vec_col).alias("__pos", "__val")
        )
        .groupBy(cluster_col, "__pos")
        .agg(F.avg(F.col("__val").cast("double")).alias("__m"))
        .groupBy(cluster_col)
        .agg(
            F.array_sort(
                F.collect_list(F.struct("__pos", "__m"))
            ).alias("__pm")
        )
        .select(
            cluster_col,
            F.transform("__pm", lambda s: s["__m"]).alias("__centroid"),
        )
        .collect()
    )
    out = [c.copy() for c in centroids]
    for r in dim_means:
        out[r[0]] = np.asarray(r[1], dtype=np.float64)
    return out


def kmeans_fit_assign(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    n_clusters: int,
    n_iter: int = 0,
    cluster_col: str = "cluster_id",
) -> DataFrame:
    """Spherical-ish k-means (cosine argmax assignment, mean update):
    seed from the k lowest ids, run `n_iter` Lloyd iterations, return
    the input with a `cluster_col` column. n_iter=0 is the
    SQL-certifiable operating point (pure nearest-seed assignment)."""
    cents = seed_centroids_lowest_ids(df, vec_col, id_col, n_clusters)
    for _ in range(n_iter):
        assigned = assign_to_centroids(df, vec_col, cents, cluster_col)
        cents = lloyd_step(assigned, vec_col, cents, cluster_col)
    return assign_to_centroids(df, vec_col, cents, cluster_col)


def semantic_neardup_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    n_clusters: int,
    threshold: float,
    n_iter: int = 0,
    round_to: int = 6,
) -> DataFrame:
    """SemDeDup candidate generation + exact verify: near-duplicate pairs
    (cluster_id, id_a, id_b, cos_sim) with cosine >= threshold, searched
    ONLY within each k-means cluster.

    The pair search reuses the screen-then-verify Arrow kernel of the
    LSH tier (one normalized matmul per cluster, exact einsum recompute
    for survivors), so emitted doubles are bit-identical to
    `embedding_neardup_pairs` and the exact-SQL oracle. One shuffle on
    the cluster key; per-cluster cost is bounded by cluster size — pick
    n_clusters ≈ corpus / target_cluster_size at scale.
    """
    # NULL vectors can't cluster or verify — drop them up front
    df = df.filter(F.col(vec_col).isNotNull())
    assigned = kmeans_fit_assign(
        df, vec_col, id_col, n_clusters, n_iter=n_iter
    )
    id_type = dict(df.dtypes)[id_col]
    members = assigned.select(
        F.col("cluster_id"),
        F.col(id_col).alias("__id"),
        F.col(vec_col).alias("__vec"),
    )
    base_verify = _bucket_cosine_verify(threshold)

    def _verify(pdf):
        # base_verify returns a FRESH frame for every group (including
        # the degenerate empty case — see _bucket_cosine_verify), so the
        # in-place insert below can never touch a frame shared with
        # another group in the same Arrow task
        out = base_verify(pdf)
        out.insert(0, "cluster_id", pdf["cluster_id"].iloc[0] if len(out) else [])
        return out

    # clusters partition the corpus, so a pair appears in at most one
    # cluster (no cross-band distinct needed, unlike the LSH tier), and
    # the grouping key is carried through the kernel — no join back
    pairs = members.groupBy("cluster_id").applyInPandas(
        _verify,
        schema=f"cluster_id int, id_a {id_type}, id_b {id_type}, __cos double",
    )
    return pairs.select(
        "cluster_id",
        "id_a",
        "id_b",
        F.round("__cos", round_to).alias("cos_sim"),
    )


def decontaminate_by_embedding(
    train: DataFrame,
    eval_df: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float,
    max_eval: int = 1_000_000,
    round_to: int = 6,
) -> DataFrame:
    """Embedding-space decontamination: flag every training document
    whose cosine similarity to ANY eval-set embedding reaches
    ``threshold`` — the semantic sibling of n-gram decontamination
    (`text.decontaminate`): paraphrased eval leakage that shares no
    13-gram still lands next to its source in embedding space.

    Returns (id, eval_id, cos_sim): one row per contaminated train doc
    with its closest eval item (ties at the rounded similarity break to
    the lowest eval id). Anti join the result against the corpus to
    drop.

    Scale shape: the eval matrix is bounded driver state (like the PQ
    codebooks — ``max_eval`` guards the contract explicitly) shipped
    once inside the Arrow kernel closure; the corpus streams through
    ``mapInPandas`` with ONE normalized-matmul screen per batch and an
    exact einsum recompute for rows near the threshold/argmax margin —
    zero joins, zero shuffles, the corpus is scanned exactly once.
    """
    import pandas as pd

    n_eval = eval_df.count()
    if n_eval > max_eval:
        raise ValueError(
            f"eval set has {n_eval} rows > max_eval={max_eval}; "
            "decontamination broadcasts the eval matrix driver-side — "
            "raise max_eval only with executor memory to match"
        )
    eval_rows = (
        eval_df.filter(F.col(vec_col).isNotNull())
        .select(id_col, vec_col)
        .orderBy(id_col)
        .collect()
    )
    id_type = dict(train.dtypes)[id_col]
    eid_type = dict(eval_df.dtypes)[id_col]
    if not eval_rows:
        # empty eval set: nothing can be contaminated — empty result,
        # not a zero-dim einsum crash at operator-build time
        return train.sparkSession.createDataFrame(
            [], f"{id_col} {id_type}, eval_id {eid_type}, cos_sim double"
        )
    eval_ids = np.array([r[0] for r in eval_rows])
    E = np.array([list(r[1]) for r in eval_rows], dtype=np.float64)
    En = E / np.sqrt(np.einsum("ij,ij->i", E, E))[:, None]

    def scan(it):
        for pdf in it:
            if not len(pdf):
                continue
            V = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            vnorm = np.sqrt(np.einsum("ij,ij->i", V, V))
            with np.errstate(divide="ignore", invalid="ignore"):
                S = (V / vnorm[:, None]) @ En.T
            rowmax = S.max(axis=1)
            hit = rowmax >= threshold - 1e-9
            if not hit.any():
                continue
            out_id, out_eid, out_cos = [], [], []
            for i in np.flatnonzero(hit):
                # exact einsum recompute for the near-max candidates so
                # emitted doubles are bit-identical to the oracle. The
                # candidate margin must cover a FULL rounding quantum
                # (the tie rule is "lowest eval_id at the round_to-dp
                # ROUNDED similarity"): two values on opposite sides of
                # a rounding boundary midpoint can round equal while
                # sitting up to 10^-round_to apart (e.g. 0.40000049 and
                # 0.39999951 both round to 0.400000), far beyond the
                # 1e-9 float-summation margin.
                q = 10.0 ** (-round_to) + 1e-9
                cand = np.flatnonzero(S[i] >= rowmax[i] - q)
                num = np.einsum("j,ij->i", V[i], E[cand])
                den = np.sqrt(np.einsum("j,j->", V[i], V[i])) * np.sqrt(
                    np.einsum("ij,ij->i", E[cand], E[cand])
                )
                cos = num / den
                best = np.lexsort((eval_ids[cand], -np.round(cos, round_to)))[0]
                if cos[best] >= threshold:
                    out_id.append(pdf[id_col].iloc[i])
                    out_eid.append(eval_ids[cand][best])
                    out_cos.append(round(float(cos[best]), round_to))
            if out_id:
                yield pd.DataFrame(
                    {id_col: out_id, "eval_id": out_eid, "cos_sim": out_cos}
                )

    return train.filter(F.col(vec_col).isNotNull()).select(
        id_col, vec_col
    ).mapInPandas(
        scan,
        schema=f"{id_col} {id_type}, eval_id {eid_type}, cos_sim double",
    )
