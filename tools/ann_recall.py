"""Measured recall/latency curves for the approximate ANN operating points.

The contract certifies each ANN tier at its provably-full-recall setting
(IVF nprobe=n_cells, LSH probe=3, PQ with a deep exact rerank); a user
tuning for throughput needs the trade-off BELOW those points measured,
not guessed. This tool runs every cheap operating point against the exact
top-k baseline and writes ANN.md.

Two corpora per run (round-9 verdict task 1): the uniform embeddings
fixture AND the skewed replica (tools/make_skewed.py — 200 identical
embeddings, ~40% duplicate mass). Mass-duplicate vectors are precisely
the composition where banded-LSH bucket occupancy and IVF cell balance
distort — identical vectors share every band bucket and collapse into
one IVF cell — so the certified operating points must be re-proven
there, not just argued.

recall@k = |approx hits ∩ exact top-k| / |exact top-k|, with the same
(rounded score, id) tiebreak everywhere. Latencies are min-of-2 warm
passes — relative cost across settings is the signal, not absolute sec.

Usage: python tools/ann_recall.py [uniform_sf_dir] [n_queries] [skew_dir]
(skew_dir defaults to /tmp/skewdata when it exists; pass '-' to skip)
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from datamine_v2_0_spark.operators import similarity as sim
from datamine_v2_0_spark.session import get_spark

K = 5
DIM = 64


def pairs(df) -> set:
    return {(r[0], r[1]) for r in df.select("query_id", "neighbor_id").collect()}


def timed(fn, n_pass: int = 2):
    best, out = float("inf"), None
    for _ in range(n_pass):
        t0 = time.time()
        out = fn()
        best = min(best, time.time() - t0)
    return out, best


def collect_rows(spark, sf_dir: str, n_q: int):
    """All operating points for one corpus: list of row dicts + corpus n."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").cache()
    n_corpus = emb.count()
    queries = emb.orderBy("vec_id").limit(n_q)

    exact, t_exact = timed(
        lambda: pairs(sim.cosine_topk(emb, queries, "embedding", "vec_id", k=K))
    )
    denom = len(exact)

    def run(label, fn):
        got, sec = timed(lambda: pairs(fn()))
        rec = round(len(got & exact) / denom, 4)
        row = {"variant": label, "recall_at_k": rec, "sec": round(sec, 2)}
        print(json.dumps({"sf_dir": sf_dir, **row}))
        return row

    rows = [
        {
            "variant": f"exact cosine_topk (baseline, k={K})",
            "recall_at_k": 1.0,
            "sec": round(t_exact, 2),
        }
    ]
    for nprobe in (1, 2, 4, 8):
        rows.append(
            run(
                f"ivf_topk n_cells=8 nprobe={nprobe}"
                + (" (certified exact)" if nprobe == 8 else ""),
                lambda np_=nprobe: sim.ivf_topk(
                    emb, queries, "embedding", "vec_id", dim=DIM, k=K,
                    n_cells=8, nprobe=np_,
                ),
            )
        )
    for probe in (0, 1, 3):
        rows.append(
            run(
                f"lsh_topk planes=24 bands=8 probe={probe}"
                + (" (certified point)" if probe == 3 else ""),
                lambda p_=probe: sim.lsh_topk(
                    emb, queries, "embedding", "vec_id", dim=DIM, k=K,
                    num_planes=24, bands=8, probe=p_,
                ),
            )
        )
    rows.append(
        run(
            "pq_topk m=16 k_codes=32 (ADC only, no rerank)",
            lambda: sim.pq_topk(
                emb, queries, "embedding", "vec_id", dim=DIM, k=K,
                m=16, k_codes=32,
            ),
        )
    )
    for rf in (20, max(100, n_corpus // 10)):
        rows.append(
            run(
                f"pq_rerank_topk m=16 k_codes=32 rerank_from={rf}"
                + (" (certified point)" if rf >= 100 else ""),
                lambda rf_=rf: sim.pq_rerank_topk(
                    emb, queries, "embedding", "vec_id", dim=DIM, k=K,
                    m=16, k_codes=32, rerank_from=rf_,
                ),
            )
        )
    # the pre-round-10 direct form at the certified depth: on the skew
    # corpus this documents the shortlist-clogging distortion the
    # default representative collapse fixes (identical row on uniform)
    rf_cert = max(100, n_corpus // 10)
    rows.append(
        run(
            f"pq_rerank_topk rerank_from={rf_cert} duplicate_collapse=never"
            " (pre-r10 direct form)",
            lambda: sim.pq_rerank_topk(
                emb, queries, "embedding", "vec_id", dim=DIM, k=K,
                m=16, k_codes=32, rerank_from=rf_cert,
                duplicate_collapse="never",
            ),
        )
    )
    emb.unpersist()
    return rows, n_corpus


def table(rows) -> str:
    return "| variant | recall@5 | sec (warm) |\n|---|---|---|\n" + "\n".join(
        f"| {r['variant']} | {r['recall_at_k']} | {r['sec']} |" for r in rows
    )


def main() -> None:
    # --append LABEL: add a section to the existing ANN.md instead of
    # regenerating it — the round-11 sf0.1-scale re-certification
    # (uniform n=2000 + an sf0.1-built skew replica) lands as its own
    # section under the sf0.01 tables.
    argv = list(sys.argv[1:])
    append_label = None
    if "--append" in argv:
        i = argv.index("--append")
        append_label = argv[i + 1]
        del argv[i : i + 2]
    sf_dir = argv[0] if len(argv) > 0 else "/root/testdata/sf0.01"
    n_q = int(argv[1]) if len(argv) > 1 else 20
    skew_dir = argv[2] if len(argv) > 2 else "/tmp/skewdata"
    if skew_dir == "-" or not os.path.isdir(skew_dir):
        skew_dir = None

    spark = get_spark("ann_recall")
    uni_rows, n_uni = collect_rows(spark, sf_dir, n_q)

    out = [
        "# ANN — measured recall/latency at every operating point\n",
        f"Generated by `tools/ann_recall.py` at `{sf_dir}` "
        f"({n_uni} corpus vectors, {n_q} probe queries, k={K}, "
        "min-of-2 warm passes on local[32]).\n",
        "The contract certifies each tier at its full-recall setting; this",
        "table is the throughput trade-off BELOW those points. Recall is",
        "against the exact cosine top-k with identical (rounded score, id)",
        "tiebreaks. Latency is relative signal only (shared host).\n",
        "Scale reading: IVF cost scales ~nprobe/n_cells of the corpus scan;",
        "LSH probe multiplies only the broadcast query side; PQ-without-",
        "rerank pays zero exact math but caps recall at quantization",
        "fidelity — rerank_from recovers it for shortlist-resident",
        "neighbors at O(rerank_from x n_queries) exact ops.\n",
        table(uni_rows),
    ]

    if skew_dir:
        skew_rows, n_skew = collect_rows(spark, skew_dir, n_q)
        uni_by = {r["variant"]: r for r in uni_rows}
        delta_lines = []
        for r in skew_rows:
            u = uni_by.get(r["variant"])
            if u is None:
                continue
            delta_lines.append(
                f"| {r['variant']} | {u['recall_at_k']} | {r['recall_at_k']} "
                f"| {round(r['recall_at_k'] - u['recall_at_k'], 4):+} |"
            )
        out += [
            "\n## Skewed replica (adversarial duplicate mass)\n",
            f"Same operating points at `{skew_dir}` ({n_skew} corpus "
            f"vectors; tools/make_skewed.py plants ~200 IDENTICAL "
            "embeddings — ~40% duplicate mass — the composition where "
            "identical vectors share every LSH band bucket and collapse "
            "into one IVF cell).\n",
            table(skew_rows),
            "\n### Uniform vs skew recall delta\n",
            "| variant | uniform | skew | Δ |\n|---|---|---|---|",
            "\n".join(delta_lines),
            "\nReading: the certified points (IVF nprobe=n_cells, LSH "
            "probe=3, PQ rerank_from>=100) must hold recall 1.0 on BOTH "
            "corpora — they are exactness claims, not tuning points. "
            "Cheap-point recall may move in either direction under mass "
            "duplication: duplicate neighbors concentrate in few "
            "cells/buckets (easier to find), while cell/bucket imbalance "
            "starves probes pointed elsewhere.\n\n"
            "This run is what caught the round-10 PQ fix: the PRE-r10 "
            "direct PQ form (last row of each table) reads <1.0 at the "
            "certified depth on the skew corpus — a g-strong "
            "identical-vector group shares one code and occupies up to g "
            "shortlist slots (true neighbors measured at ADC positions "
            "207-286 behind the 200-wide duplicate block), and codebook "
            "mass concentrates on the duplicated point. The operator now "
            "indexes DISTINCT vectors and fans the shortlist out to "
            "members at query time (result-exact; "
            "operators/similarity.pq_rerank_topk duplicate_collapse), "
            "which restores recall 1.0 at the certified depth — the "
            "structural fix, since at 100 TB a viral embedding group can "
            "be wider than ANY affordable shortlist.",
        ]

    if append_label is not None:
        out = ["\n---\n", f"## {append_label}\n"] + [
            line.replace("## ", "### ") for line in out[1:]
        ]
        mode = "a"
    else:
        mode = "w"
    with open(os.path.join(REPO, "ANN.md"), mode) as f:
        f.write("\n".join(out) + "\n")
    n_pts = len(uni_rows)
    print(f"wrote ANN.md ({n_pts} operating points"
          + (", uniform + skew" if skew_dir else "") + ")")


if __name__ == "__main__":
    main()
