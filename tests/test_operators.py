"""Spark-level operator tests on tiny in-memory frames: windows,
dedup, joins, smoothing, multimodal plumbing."""

from __future__ import annotations

from datetime import datetime, timezone

import pytest
from pyspark.sql import Row, functions as F

from datamine_v2_0_spark.operators import dedup as dd
from datamine_v2_0_spark.operators import joins as jn
from datamine_v2_0_spark.operators import multimodal as mm
from datamine_v2_0_spark.operators import smoothing as sm
from datamine_v2_0_spark.operators import spatial as sp
from datamine_v2_0_spark.operators import windows as win
from datamine_v2_0_spark.schemas import ZONES


def _ts(s):
    return datetime.fromisoformat(s).replace(tzinfo=timezone.utc)


@pytest.fixture(scope="module")
def seq_df(spark):
    rows = [
        Row(dev="a", ts=_ts(f"2025-01-01 00:00:{i:02d}"), state=s, v=float(v))
        for i, (s, v) in enumerate(
            [("idle", 1), ("idle", 2), ("move", 3), ("move", 4), ("idle", 5)]
        )
    ]
    return spark.createDataFrame(rows)


def test_block_id_gaps_and_islands(spark, seq_df):
    w = win.ordered_window(["dev"], ["ts"])
    got = seq_df.select("state", win.block_id("state", w).alias("b")).collect()
    assert [r["b"] for r in got] == [1, 1, 2, 2, 3]


def test_ffill(spark):
    rows = [
        Row(dev="a", i=1, v=1.0), Row(dev="a", i=2, v=None),
        Row(dev="a", i=3, v=None), Row(dev="a", i=4, v=4.0),
    ]
    df = spark.createDataFrame(rows, "dev string, i int, v double")
    w = win.ordered_window(["dev"], ["i"])
    got = df.select(win.ffill("v", w).alias("f")).orderBy("i").collect()
    assert [r["f"] for r in got] == [1.0, 1.0, 1.0, 4.0]


def test_lag_default_current(spark, seq_df):
    w = win.ordered_window(["dev"], ["ts"])
    got = seq_df.select(win.lag_default_current(F.col("v"), w).alias("l")).orderBy(
        "ts"
    ).collect()
    # first row has no predecessor -> its own value
    assert [r["l"] for r in got] == [1.0, 1.0, 2.0, 3.0, 4.0]


def test_time_delta_seconds(spark, seq_df):
    w = win.ordered_window(["dev"], ["ts"])
    got = seq_df.select(win.time_delta_seconds("ts", w).alias("d")).orderBy(
        "ts"
    ).collect()
    assert got[0]["d"] is None
    assert [r["d"] for r in got[1:]] == [1.0, 1.0, 1.0, 1.0]


def test_keep_rank1(spark, seq_df):
    got = win.keep_rank1(seq_df, ["dev"], [F.desc("v")]).collect()
    assert len(got) == 1 and got[0]["v"] == 5.0


def test_exact_dedup_keeps_lowest_id(spark):
    rows = [
        Row(doc_id=1, text="Hello  world"),
        Row(doc_id=2, text="hello world"),   # same after normalization
        Row(doc_id=3, text="different"),
    ]
    df = spark.createDataFrame(rows)
    got = sorted(r["doc_id"] for r in dd.exact_dedup(df, "text", "doc_id").collect())
    assert got == [1, 3]


def test_minhash_lsh_finds_near_dups(spark):
    base = "spark is a unified analytics engine for large scale data processing " * 3
    rows = [
        Row(doc_id=1, text=base),
        Row(doc_id=2, text=base + " tiny suffix change"),
        Row(doc_id=3, text="completely unrelated words about cooking pasta dishes"),
    ]
    df = spark.createDataFrame(rows)
    pairs = {
        (r["id_a"], r["id_b"])
        for r in dd.minhash_lsh_candidates(
            df, "text", "doc_id", num_hashes=32, bands=8
        ).collect()
    }
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_minhash_near_dup_collapsed_matches_direct(spark):
    # the composed LSH->verify operator's representative collapse must be
    # result-exact on a duplicate-heavy corpus, including shingle-less
    # duplicate groups (which the direct path's null-signature filter
    # drops from banding — the collapse must not resurrect them)
    base = "the quick brown fox jumps over the lazy dog near the river bank"
    rows = [Row(doc_id=i, text=base) for i in range(8)]
    rows += [Row(doc_id=8 + i, text=base + f" suffix {i % 2}") for i in range(4)]
    rows += [Row(doc_id=12 + i, text="hi") for i in range(3)]
    rows += [
        Row(doc_id=15 + i,
            text=f"unrelated cooking text {i * 7} with pasta {i * 13} sauce here today")
        for i in range(5)
    ]
    df = spark.createDataFrame(rows)
    out = {}
    for mode in ("never", "always", "auto"):
        out[mode] = sorted(
            map(tuple, dd.minhash_near_dup_pairs(
                df, "text", "doc_id", threshold=0.2,
                num_hashes=32, bands=8, duplicate_collapse=mode,
            ).collect())
        )
    assert out["never"] == out["always"] == out["auto"]
    ids_in_pairs = {i for p in out["never"] for i in p[:2]}
    assert not ids_in_pairs & {12, 13, 14}  # shingle-less dups never pair
    assert {i for i in range(8)} <= ids_in_pairs  # identical group pairs


def test_minhash_short_docs_never_pair(spark):
    # docs too short to shingle must not bucket together via their
    # all-null signatures
    rows = [
        Row(doc_id=1, text="hello"),
        Row(doc_id=2, text="world"),
        Row(doc_id=3, text="hi there"),
    ]
    df = spark.createDataFrame(rows)
    got = dd.minhash_lsh_candidates(
        df, "text", "doc_id", num_hashes=32, bands=8
    ).collect()
    assert got == []


def test_ngram_jaccard_identical_is_one(spark):
    txt = "a b c d e f g h i j"
    df = spark.createDataFrame([Row(doc_id=1, text=txt), Row(doc_id=2, text=txt)])
    cands = spark.createDataFrame([Row(id_a=1, id_b=2)])
    got = dd.ngram_jaccard_pairs(cands, df, "text", "doc_id").collect()
    assert got[0]["jaccard"] == pytest.approx(1.0)


def test_simhash_close_for_near_dups(spark):
    base = "one two three four five six seven eight nine ten " * 4
    df = spark.createDataFrame(
        [Row(doc_id=1, text=base), Row(doc_id=2, text=base + " eleven"),
         Row(doc_id=3, text="totally different content about other topics entirely")]
    )
    got = {r["doc_id"]: r["simhash"] for r in
           dd.simhash_signatures(df, "text", "doc_id").collect()}
    ham12 = bin(got[1] ^ got[2]).count("1")
    ham13 = bin(got[1] ^ got[3]).count("1")
    assert ham12 < ham13


def test_jaccard_inverted_exact_and_freq_cap(spark):
    boiler = "terms of service apply here"  # shared by all three docs
    rows = [
        Row(doc_id=1, text=f"alpha beta gamma delta epsilon {boiler}"),
        Row(doc_id=2, text=f"alpha beta gamma delta zeta {boiler}"),
        Row(doc_id=3, text=f"completely different body text {boiler}"),
    ]
    df = spark.createDataFrame(rows)
    full = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dd.jaccard_pairs_inverted(
            df, "text", "doc_id", threshold=0.0
        ).collect()
    }
    # every pair shares the boilerplate trigrams; 1-2 overlap far more
    assert set(full) == {(1, 2), (1, 3), (2, 3)}
    assert full[(1, 2)] > full[(1, 3)]
    # capping shingle document-frequency at 2 drops the boilerplate-only
    # pairs but keeps the true near-dup
    capped = {
        (r["id_a"], r["id_b"])
        for r in dd.jaccard_pairs_inverted(
            df, "text", "doc_id", threshold=0.0, max_shingle_freq=2
        ).collect()
    }
    assert (1, 2) in capped and (1, 3) not in capped and (2, 3) not in capped
    # capped Jaccard is a consistent measure over the capped universe:
    # docs 1/2 keep 5 informative trigrams each, sharing 2
    # ("alpha beta gamma", "beta gamma delta") -> 2 / (5 + 5 - 2)
    capped_scores = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dd.jaccard_pairs_inverted(
            df, "text", "doc_id", threshold=0.0, max_shingle_freq=2
        ).collect()
    }
    assert capped_scores[(1, 2)] == pytest.approx(2 / 8)


def test_embedding_neardup_planted_pair(spark):
    # a planted near-duplicate vector pair must surface; orthogonal must not
    rows = [
        Row(vec_id=1, embedding=[1.0, 0.0, 0.0, 0.0]),
        Row(vec_id=2, embedding=[0.99, 0.14, 0.0, 0.0]),  # cos ~ 0.990
        Row(vec_id=3, embedding=[0.0, 0.0, 1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows)
    got = {
        (r["id_a"], r["id_b"]): r["cos_sim"]
        for r in dd.embedding_neardup_pairs(
            df, "embedding", "vec_id", dim=4, threshold=0.9,
            num_planes=16, bands=16,
        ).collect()
    }
    assert set(got) == {(1, 2)}
    assert got[(1, 2)] == pytest.approx(0.990, abs=1e-3)


def test_embedding_neardup_lsh_matches_exact_on_fixture(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    kw = dict(dim=64, threshold=0.35, num_planes=32, bands=16)
    exact = {
        (r["id_a"], r["id_b"])
        for r in dd.embedding_neardup_pairs(
            emb, "embedding", "vec_id", exact=True, **kw
        ).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"])
        for r in dd.embedding_neardup_pairs(
            emb, "embedding", "vec_id", **kw
        ).collect()
    }
    assert exact and lsh == exact


def test_exact_percentiles_sorted_matches_hashmap_variant(spark):
    from datamine_v2_0_spark.operators import aggregates as agg

    rows = [Row(g=g, v=float(v)) for g in ("a", "b") for v in range(1, 8)]
    rows += [Row(g="a", v=100.0), Row(g="b", v=None)]  # uneven n + a null
    rows += [Row(g="c", v=None)]  # all-NULL group -> NULL percentiles
    rows += [Row(g=None, v=1.0), Row(g=None, v=3.0)]  # NULL group key
    df = spark.createDataFrame(rows, "g string, v double")
    qs = (0.25, 0.5, 0.75, 0.95)
    a = {r["g"]: r for r in agg.exact_percentiles(df, ["g"], "v", qs).collect()}
    assert a[None]["p50"] == 2.0
    for two_pass in ("never", "always"):
        out = agg.exact_percentiles_sorted(df, ["g"], "v", qs, two_pass=two_pass)
        got = out.collect()
        b = {r["g"]: r for r in got}
        assert len(got) == len(b), two_pass  # one row per group
        assert set(a) == set(b) == {"a", "b", "c", None}, two_pass
        for g in a:
            for q in qs:
                c = f"p{int(q * 100)}"
                if a[g][c] is None:
                    assert b[g][c] is None, (two_pass, g, c)
                else:
                    assert b[g][c] == pytest.approx(a[g][c], abs=1e-9), (two_pass, g, c)


def test_interval_contain_join(spark):
    left = spark.createDataFrame(
        [Row(k=1, ts=_ts("2025-01-01 00:05:00")),
         Row(k=1, ts=_ts("2025-01-01 01:00:00"))]
    )
    iv = spark.createDataFrame(
        [Row(ik=1, s=_ts("2025-01-01 00:00:00"), e=_ts("2025-01-01 00:10:00"),
             label="x")]
    )
    got = jn.interval_contain_join(
        left, iv, [("k", "ik")], "ts", "s", "e", how="left"
    ).orderBy("ts").collect()
    assert got[0]["label"] == "x" and got[1]["label"] is None


def test_asof_nearest_join_picks_closest(spark):
    left = spark.createDataFrame([Row(id=1, k="a", ts=_ts("2025-01-01 00:01:00"))])
    right = spark.createDataFrame(
        [Row(rid=10, rk="a", rts=_ts("2025-01-01 00:00:00")),
         Row(rid=11, rk="a", rts=_ts("2025-01-01 00:01:30")),
         Row(rid=12, rk="a", rts=_ts("2025-01-01 03:00:00"))]
    )
    got = jn.asof_nearest_join(
        left, right, [("k", "rk")], "ts", "rts", 3600.0, "id"
    ).collect()
    assert len(got) == 1 and got[0]["rid"] == 11


def test_point_in_polygon_join(spark):
    df = spark.createDataFrame(
        [Row(lon=-97.83007, lat=33.25793), Row(lon=-97.0, lat=33.0)]
    )
    got = sp.point_in_polygon_join(df, "lon", "lat", ZONES).orderBy("lon").collect()
    assert got[0]["location_type"] == "Crusher"
    assert got[1]["location_type"] == "Haul Road / Other"


def test_savgol_smooth_grouped(spark):
    rows = [
        Row(g="a", i=i, v=3.0 + 0.5 * i - 0.02 * i * i) for i in range(30)
    ]
    df = spark.createDataFrame(rows, "g string, i int, v double")
    got = sm.savgol_smooth(df, ["g"], "i", "v", window=11, polyorder=3).orderBy(
        "i"
    ).collect()
    for r in got:
        assert r["smoothed"] == pytest.approx(r["v"], abs=1e-6)


def test_multimodal_resize_and_frames(spark):
    docs = spark.createDataFrame(
        [Row(doc_id=1, text="abcdefghij"), Row(doc_id=2, text="")],
        "doc_id long, text string",
    )
    media = mm.media_table_from_documents(docs)

    frames = mm.sample_frames(media, frame_size=4, every=2).collect()
    got = {(r["media_id"], r["frame_idx"]): r for r in frames}
    # doc 1: 10 chars -> 3 frames (abcd efgh ij), sampled idx 0 and 2
    assert set(got) == {(1, 0), (1, 2)}
    assert got[(1, 0)]["frame_payload"] == "abcd"
    assert got[(1, 2)]["frame_payload"] == "ij"
    assert got[(1, 0)]["n_frames"] == 3


def test_multimodal_features_deterministic(spark):
    docs = spark.createDataFrame(
        [Row(doc_id=1, text="abc"), Row(doc_id=2, text="")],
        "doc_id long, text string",
    )
    media = mm.media_table_from_documents(docs)
    got = {r["media_id"]: r for r in mm.extract_media_features(media).collect()}
    import hashlib

    assert got[1]["n_bytes"] == 3
    assert got[1]["content_sha256"] == hashlib.sha256(b"abc").hexdigest()
    assert got[2]["n_bytes"] == 0
    assert len(got[1]["features"]) == 8


def _tiny_ppm() -> bytes:
    # 2x2 P6: 12 raster bytes 100..210 step 10 — deliberately including
    # values >= 0x80 (a utf-8 round-trip would corrupt those), with a
    # header comment to exercise parsing
    return b"P6\n# tiny\n2 2\n255\n" + bytes(range(100, 220, 10))


def _tiny_bmp() -> bytes:
    # 2x1 24-bit bottom-up BI_RGB BMP, pixels RGB = [(1,2,3),(4,5,6)]
    row = bytes([3, 2, 1, 6, 5, 4, 0, 0])  # BGR + pad to 4-byte boundary
    dib = (
        (40).to_bytes(4, "little") + (2).to_bytes(4, "little", signed=True)
        + (1).to_bytes(4, "little", signed=True) + (1).to_bytes(2, "little")
        + (24).to_bytes(2, "little") + (0).to_bytes(4, "little")
        + bytes(20)
    )
    header = b"BM" + (14 + 40 + len(row)).to_bytes(4, "little") + bytes(4) \
        + (14 + 40).to_bytes(4, "little")
    return header + dib + row


def test_decode_image_ppm_bmp():
    img = mm._decode_image(_tiny_ppm())
    assert img.shape == (2, 2, 3)
    assert img.ravel().tolist() == list(range(100, 220, 10))
    bmp = mm._decode_image(_tiny_bmp())
    assert bmp.shape == (1, 2, 3)
    assert bmp.ravel().tolist() == [1, 2, 3, 4, 5, 6]
    with pytest.raises(ValueError):
        mm._decode_image(b"\x89PNG....")


def test_multimodal_real_decode_end_to_end(spark):
    """decode_stub=False drives the actual PPM decoder through the full
    mapInPandas path: features are the first 8 decoded pixel values."""
    ppm = _tiny_ppm()
    media = spark.createDataFrame(
        [(1, "image", ppm.decode("latin-1"))],
        "media_id long, media_type string, payload string",
    )
    got = mm.extract_media_features(media, decode_stub=False).collect()
    assert len(got) == 1
    # bytes >= 0x80 survive the string column round-trip (latin-1, not
    # utf-8, on the real-decode path)
    assert got[0]["features"] == [float(v) for v in range(100, 180, 10)]
    assert got[0]["n_bytes"] == len(ppm)


def test_rank_family_tie_semantics(spark):
    from datamine_v2_0_spark.operators import windows as win

    rows = [Row(g="a", i=i, v=v) for i, v in enumerate([10.0, 10.0, 20.0, 30.0])]
    df = spark.createDataFrame(rows, "g string, i long, v double")
    w = win.ordered_window(["g"], ["v", "i"])
    w_ties = win.ordered_window(["g"], ["v"])
    feats = win.rank_features(w_ties, F.col("v"), buckets=2)
    got = (
        df.select(
            "i",
            feats["rnk"].alias("rnk"),
            feats["drnk"].alias("drnk"),
            feats["prnk"].alias("prnk"),
        )
        .orderBy("i")
        .collect()
    )
    assert [r["rnk"] for r in got] == [1, 1, 3, 4]      # rank skips after ties
    assert [r["drnk"] for r in got] == [1, 1, 2, 3]     # dense_rank doesn't
    assert got[2]["prnk"] == pytest.approx(2 / 3)       # (rank-1)/(n-1)
    tiles = df.select(win.rank_features(w, F.col("v"), 2)["tile"].alias("t")).collect()
    assert sorted(r["t"] for r in tiles) == [1, 1, 2, 2]


def test_simhash_candidates_banded_hamming(spark):
    base = "one two three four five six seven eight nine ten " * 4
    df = spark.createDataFrame(
        [
            Row(doc_id=1, text=base),
            Row(doc_id=2, text=base),  # identical -> hamming 0
            Row(doc_id=3, text="totally different content about other topics"),
        ]
    )
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in dd.simhash_candidates(df, "text", "doc_id", max_hamming=3).collect()
    }
    assert got.get((1, 2)) == 0
    assert (1, 3) not in got and (2, 3) not in got
    # wider budgets derive more blocks (max_hamming+1) and stay correct
    wide = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in dd.simhash_candidates(
            df, "text", "doc_id", max_hamming=7
        ).collect()
    }
    assert wide.get((1, 2)) == 0


def test_connected_components_chain_and_islands(spark):
    """Pairs (1,2),(2,3) chain into one group; (10,11) is its own group;
    transitivity must hold even though (1,3) was never a pair."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    comp = {r["node"]: r["comp"] for r in dd.connected_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def _union_find_groups(pairs: list[tuple[int, int]], nodes: set[int]) -> dict:
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in nodes}


def test_connected_components_matches_union_find(spark):
    """Min-label propagation vs a driver-side union-find ground truth on
    a seeded random graph, a 32-node chain (diameter 31: beyond the
    default budget, exact with 32 hops), a self-pair singleton and
    pairs with a NULL endpoint."""
    import random

    rng = random.Random(7)
    edges = sorted({(rng.randrange(60), rng.randrange(60)) for _ in range(45)})
    edges = [(a, b) for a, b in edges if a != b]
    nodes = {x for e in edges for x in e}
    truth = _union_find_groups(edges, nodes)
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r["node"]: r["comp"]
           for r in dd.connected_components(pairs).collect()}
    assert got == truth

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(31)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        dd.connected_components(chain)
    got_chain = {r["node"]: r["comp"] for r in
                 dd.connected_components(chain, max_iterations=32).collect()}
    assert got_chain == _union_find_groups(
        [(i, i + 1) for i in range(31)], set(range(32))
    )

    # self-pair-only nodes stay in the output as their own singleton
    selfies = spark.createDataFrame(
        [(7, 7), (1, 2)], "id_a long, id_b long"
    )
    got_self = {r["node"]: r["comp"]
                for r in dd.connected_components(selfies).collect()}
    assert got_self == {7: 7, 1: 1, 2: 1}

    # a pair with a NULL endpoint is no edge: NULL is never a labelled
    # node, and the other endpoint keeps its own group in dedup_groups
    nulls = spark.createDataFrame(
        [(1, 2), (None, 3), (4, None)], "id_a long, id_b long"
    )
    got_null = {r["node"]: r["comp"]
                for r in dd.connected_components(nulls).collect()}
    assert got_null == {1: 1, 2: 1}
    docs = spark.createDataFrame(
        [(1,), (2,), (3,), (4,), (None,)], "doc_id long"
    )
    groups = {r["doc_id"]: r["group_id"]
              for r in dd.dedup_groups(docs, "doc_id", nulls).collect()}
    assert groups == {1: 1, 2: 1, 3: 3, 4: 4, None: None}


def test_connected_components_block_count(spark, monkeypatch):
    """A 4-clique settles in one block: the first hop labels every node
    with the minimum and the second hop's zero-change count, observed on
    the block's eager checkpoint, proves the fixpoint. So two hops and
    two checkpoints (edge set, one block), with no separate
    convergence job."""
    hops, ckpts = [], []
    real_hop, real_ckpt = dd._cc_hop, dd.iter_checkpoint

    def spy_hop(edges, lab):
        hops.append(1)
        return real_hop(edges, lab)

    def spy_ckpt(df):
        ckpts.append(1)
        return real_ckpt(df)

    monkeypatch.setattr(dd, "_cc_hop", spy_hop)
    monkeypatch.setattr(dd, "iter_checkpoint", spy_ckpt)
    pairs = spark.createDataFrame(
        [(a, b) for a in range(4) for b in range(a + 1, 4)],
        "id_a long, id_b long",
    )
    got = {r["node"]: r["comp"]
           for r in dd.connected_components(pairs).collect()}
    assert got == {0: 0, 1: 0, 2: 0, 3: 0}
    assert len(hops) == 2
    assert len(ckpts) == 2


def test_connected_components_raises_when_unconverged(spark):
    # a 5-chain needs 4 propagation rounds; a 1-round budget must refuse
    # rather than return silently-wrong groups
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 5)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        dd.connected_components(pairs, max_iterations=1)


def test_dedup_groups_covers_all_docs(spark):
    docs = spark.createDataFrame([(i,) for i in range(6)], "doc_id long")
    pairs = spark.createDataFrame([(0, 4), (4, 5)], "id_a long, id_b long")
    got = {r["doc_id"]: r["group_id"] for r in
           dd.dedup_groups(docs, "doc_id", pairs).collect()}
    assert got == {0: 0, 1: 1, 2: 2, 3: 3, 4: 0, 5: 0}
    # empty pair set: every doc is its own group
    empty = spark.createDataFrame([], "id_a long, id_b long")
    own = {r["doc_id"]: r["group_id"] for r in
           dd.dedup_groups(docs, "doc_id", empty).collect()}
    assert own == {i: i for i in range(6)}


def test_canonical_ids_from_groups(spark):
    """canonical_ids is the documented one-pass 'groups -> deduplicated
    corpus' filter (round-6 verdict #6): representatives only, no
    pair-graph recomputation."""
    docs = spark.createDataFrame([(i,) for i in range(6)], "doc_id long")
    pairs = spark.createDataFrame([(0, 4), (4, 5)], "id_a long, id_b long")
    groups = dd.dedup_groups(docs, "doc_id", pairs)
    kept = {r["doc_id"] for r in dd.canonical_ids(groups).collect()}
    assert kept == {0, 1, 2, 3}


def test_dedup_canonical_query_reuses_groups_cache(spark):
    """The registry pair q_dedup_groups -> q_dedup_canonical must share
    one lineage: after q_dedup_groups runs, q_dedup_canonical derives
    from the persisted memo (and matches the cold recomputation)."""
    import os

    from datamine_v2_0_spark.queries import dedup as qd

    sf = "/root/testdata/sf0.001"
    if not os.path.isdir(sf):
        pytest.skip("driver testdata absent")
    key = qd._cache_key(spark, sf)
    qd.clear_groups_cache()
    cold = {r["doc_id"] for r in qd.q_dedup_canonical(spark, sf).collect()}
    assert key not in qd._GROUPS_CACHE
    groups = qd.q_dedup_groups(spark, sf)
    assert qd._GROUPS_CACHE[key] is groups
    warm = {r["doc_id"] for r in qd.q_dedup_canonical(spark, sf).collect()}
    assert warm == cold
    n_groups = groups.count()
    assert len(warm) <= n_groups
    qd.clear_groups_cache()


def test_lsh_topk_recall(spark):
    """Multi-probe LSH: probe=3 recovers the exact top-k on the sf0.001
    embeddings fixture (this full-recall property is what lets the
    contract check sim_lsh_topk against the exact-SQL oracle)."""
    import os

    from datamine_v2_0_spark.operators import similarity as sim

    sf = "/root/testdata/sf0.001"
    if not os.path.isdir(sf):
        pytest.skip("driver testdata absent")
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    queries = emb.orderBy("vec_id").limit(5)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in sim.cosine_topk(emb, queries, "embedding", "vec_id", k=5).collect()
    }
    probed = {
        (r["query_id"], r["neighbor_id"])
        for r in sim.lsh_topk(
            emb, queries, "embedding", "vec_id", dim=64, k=5, probe=3
        ).collect()
    }
    assert probed == exact
    # without probing the same configuration misses neighbors — the
    # probe is what buys the recall
    plain = {
        (r["query_id"], r["neighbor_id"])
        for r in sim.lsh_topk(
            emb, queries, "embedding", "vec_id", dim=64, k=5
        ).collect()
    }
    assert len(plain & exact) < len(exact)


def test_simhash_candidates_filters_tiny_docs(spark):
    """Docs too short to shingle all hash to simhash 0 — without the
    empty-doc guard they'd form one hamming-0 clique of false pairs."""
    df = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(["a", "b", "c", ""])]
        + [Row(doc_id=10, text="one two three four"),
           Row(doc_id=11, text="one two three four")]
    )
    got = {
        (r["id_a"], r["id_b"])
        for r in dd.simhash_candidates(
            df, "text", "doc_id", max_hamming=3, shingle_n=2
        ).collect()
    }
    assert got == {(10, 11)}


def test_decode_crlf_header_and_empty_payload(spark):
    # spec-violating CRLF after maxval must not shift the raster
    crlf = b"P6\r\n2 2\r\n255\r\n" + bytes(range(100, 220, 10))
    assert mm._decode_image(crlf).ravel().tolist() == list(range(100, 220, 10))
    # empty payload on the real-decode path: null features, job survives
    media = spark.createDataFrame(
        [(1, "image", None)], "media_id long, media_type string, payload string"
    )
    got = mm.extract_media_features(media, decode_stub=False).collect()
    assert got[0]["features"] is None and got[0]["n_bytes"] == 0


def test_connected_components_rejects_zero_budget(spark):
    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    with pytest.raises(ValueError, match="max_iterations"):
        dd.connected_components(pairs, max_iterations=0)


def test_ivf_topk_partition_sweep_exact(spark):
    """Probing every IVF cell is provably exact (cells partition the
    corpus) — data-independent, unlike measured-recall certification."""
    import os

    from datamine_v2_0_spark.operators import similarity as sim

    sf = "/root/testdata/sf0.001"
    if not os.path.isdir(sf):
        pytest.skip("driver testdata absent")
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    queries = emb.orderBy("vec_id").limit(5)
    exact = sorted(
        map(tuple, sim.cosine_topk(emb, queries, "embedding", "vec_id", k=5).collect())
    )
    full = sorted(
        map(tuple, sim.ivf_topk(emb, queries, "embedding", "vec_id", dim=64,
                                k=5, n_cells=8, nprobe=8).collect())
    )
    assert full == exact
    # partial probe scans a fraction of the corpus; recall on this
    # structureless uniform fixture is data-limited but nonzero
    part = {(r["query_id"], r["neighbor_id"]) for r in
            sim.ivf_topk(emb, queries, "embedding", "vec_id", dim=64,
                         k=5, n_cells=8, nprobe=4).collect()}
    hit = len(part & {(a, b) for a, b, _ in exact}) / len(exact)
    assert 0.5 <= hit <= 1.0


def test_refresh_tumbling_recomputes_only_touched_buckets(spark):
    """Continuous-aggregate semantics: a poisoned materialized row in a
    delta-touched bucket is overwritten by the recompute; a poisoned row
    in an untouched bucket survives verbatim (proof the refresh did NOT
    recompute it)."""
    from datamine_v2_0_spark.operators import aggregates as agg

    rows = [
        Row(ts=_ts(f"2025-01-01 00:{m:02d}:00"), v=float(m)) for m in range(10)
    ]
    raw = spark.createDataFrame(rows)
    aggs = [F.sum("v").alias("s"), F.count(F.lit(1)).alias("n")]
    # materialized rollup with BOTH buckets poisoned
    poisoned = spark.createDataFrame(
        [(datetime(2025, 1, 1, 0, 0, tzinfo=timezone.utc), -999.0, -1),
         (datetime(2025, 1, 1, 0, 5, tzinfo=timezone.utc), -999.0, -1)],
        "bucket_start timestamp, s double, n long",
    )
    delta = raw.filter(F.minute("ts") >= 5)  # touches only the 00:05 bucket
    out = {r["bucket_start"].minute: (r["s"], r["n"]) for r in
           agg.refresh_tumbling(poisoned, raw, delta, "ts", "5 minutes",
                                aggs).collect()}
    assert out[5] == (sum(range(5, 10)), 5)   # touched: recomputed
    assert out[0] == (-999.0, -1)             # untouched: left alone


def test_asof_join_directions(spark):
    left = spark.createDataFrame(
        [Row(id=1, k="a", ts=_ts("2025-01-01 00:01:00"))]
    )
    right = spark.createDataFrame(
        [Row(rid=10, rk="a", rts=_ts("2025-01-01 00:00:30")),   # 30s before
         Row(rid=11, rk="a", rts=_ts("2025-01-01 00:01:10"))]   # 10s after
    )
    def run(direction):
        got = jn.asof_nearest_join(
            left, right, [("k", "rk")], "ts", "rts", 3600.0, "id",
            direction=direction,
        ).collect()
        return [r["rid"] for r in got]
    assert run("nearest") == [11]    # 10s beats 30s
    assert run("backward") == [10]   # only at-or-before rows qualify
    assert run("forward") == [11]
    with pytest.raises(ValueError, match="direction"):
        run("sideways")


def test_pq_encode_shape_and_determinism(spark):
    import os

    import numpy as np

    from datamine_v2_0_spark.operators import similarity as sim

    sf = "/root/testdata/sf0.001"
    if not os.path.isdir(sf):
        pytest.skip("driver testdata absent")
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    books = sim.train_pq(emb, "embedding", dim=64, m=8, k_codes=16, seed=1)
    assert books.shape == (8, 16, 8)
    again = sim.train_pq(emb, "embedding", dim=64, m=8, k_codes=16, seed=1)
    assert np.array_equal(books, again)
    codes = {r["neighbor_id"]: r["code"]
             for r in sim.pq_encode(emb, "embedding", "vec_id", books).collect()}
    assert len(codes) == emb.count()
    for c in codes.values():
        assert len(c) == 8 and all(0 <= x < 16 for x in c)


def test_pq_topk_query_collect_is_capped(spark):
    import os

    from datamine_v2_0_spark.operators import similarity as sim

    sf = "/root/testdata/sf0.001"
    if not os.path.isdir(sf):
        pytest.skip("driver testdata absent")
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    queries = emb.orderBy("vec_id").limit(3)
    # over the cap: raises instead of collecting unbounded driver state
    with pytest.raises(ValueError, match="max_queries"):
        sim.pq_topk(emb, queries, "embedding", "vec_id", dim=64, max_queries=2)
    # at the cap: runs
    out = sim.pq_topk(
        emb, queries, "embedding", "vec_id", dim=64, k=3, max_queries=3
    )
    assert out.groupBy("query_id").count().count() == 3


def test_pq_rerank_recall(spark):
    """The two-stage PQ search reaches full recall at the contract
    operating point (shortlist 100 ≥ what quantization error needs on
    this fixture); a starved shortlist loses neighbors — the re-rank
    stage is what converts ADC ordering into exact ordering."""
    import os

    from datamine_v2_0_spark.operators import similarity as sim

    sf = "/root/testdata/sf0.01"
    if not os.path.isdir(sf):
        pytest.skip("driver testdata absent")
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    queries = emb.orderBy("vec_id").limit(5)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in sim.cosine_topk(emb, queries, "embedding", "vec_id", k=5).collect()
    }
    full = {
        (r["query_id"], r["neighbor_id"])
        for r in sim.pq_rerank_topk(
            emb, queries, "embedding", "vec_id", dim=64, k=5,
            m=16, k_codes=32, rerank_from=100,
        ).collect()
    }
    assert full == exact
    starved = {
        (r["query_id"], r["neighbor_id"])
        for r in sim.pq_rerank_topk(
            emb, queries, "embedding", "vec_id", dim=64, k=5,
            m=8, k_codes=16, rerank_from=10,
        ).collect()
    }
    assert len(starved & exact) < len(exact)


def test_dedup_against_exact(spark):
    new = spark.createDataFrame(
        [
            Row(doc_id=10, text="Hello  World"),
            Row(doc_id=11, text="fresh document one"),
        ]
    )
    ref = spark.createDataFrame(
        [
            Row(doc_id=1, text="hello world"),  # same after normalization
            Row(doc_id=2, text="reference only text"),
        ]
    )
    got = sorted(
        r["doc_id"]
        for r in dd.dedup_against(new, ref, "text", "doc_id", method="exact").collect()
    )
    assert got == [11]


def test_dedup_against_near_drops_cross_dups_only(spark):
    base = "spark is a unified analytics engine for large scale data processing " * 3
    new = spark.createDataFrame(
        [
            Row(doc_id=10, text=base + " tiny suffix change"),   # near-dup of ref 1
            Row(doc_id=11, text="completely unrelated words about cooking pasta"),
            Row(doc_id=12, text=base + " another tiny variation"),  # near-dup of ref 1
            Row(doc_id=13, text="xy"),  # too short to shingle -> must survive
        ]
    )
    ref = spark.createDataFrame(
        [
            Row(doc_id=1, text=base),
            Row(doc_id=2, text="totally different reference corpus entry here"),
        ]
    )
    got = sorted(
        r["doc_id"]
        for r in dd.dedup_against(
            new, ref, "text", "doc_id", method="near",
            threshold=0.5, num_hashes=32, bands=8,
        ).collect()
    )
    assert got == [11, 13]


def test_dedup_against_collapsed_matches_direct(spark):
    # representative collapse must be survival-exact on duplicate-heavy
    # corpora: duplicated matching texts all drop, duplicated
    # non-matching texts all survive, unshingleable docs always survive
    base = "the quick brown fox jumps over the lazy dog near the river bank"
    new_rows = [Row(doc_id=2 * i, text=base) for i in range(10)]
    new_rows += [
        Row(doc_id=2 * i, text=f"fresh unique {i * 7} words {i * 13} entirely here")
        for i in range(10, 18)
    ]
    new_rows.append(Row(doc_id=90, text="hi"))
    ref_rows = [Row(doc_id=2 * i + 1, text=base) for i in range(4)]
    ref_rows += [
        Row(doc_id=2 * i + 1, text=f"ref unique {i * 11} other {i * 3} content")
        for i in range(4, 10)
    ]
    ref_rows.append(Row(doc_id=91, text="hi"))
    new, ref = spark.createDataFrame(new_rows), spark.createDataFrame(ref_rows)
    res = {}
    for mode in ("never", "always", "auto"):
        res[mode] = sorted(
            r["doc_id"]
            for r in dd.dedup_against(
                new, ref, "text", "doc_id", method="near",
                threshold=0.2, num_hashes=32, bands=8,
                duplicate_collapse=mode,
            ).collect()
        )
    assert res["never"] == res["always"] == res["auto"]
    assert all(2 * i not in res["never"] for i in range(10))  # viral dropped
    assert 90 in res["never"]  # unshingleable new survives


def test_dedup_against_near_ignores_in_corpus_dups(spark):
    """Two identical NEW docs must both survive when neither matches ref:
    only cross-side pairs are candidates."""
    txt = "the same new document text repeated across the fresh crawl batch"
    new = spark.createDataFrame(
        [Row(doc_id=10, text=txt), Row(doc_id=11, text=txt)]
    )
    ref = spark.createDataFrame(
        [Row(doc_id=1, text="reference corpus about entirely other topics")]
    )
    got = sorted(
        r["doc_id"]
        for r in dd.dedup_against(
            new, ref, "text", "doc_id", method="near",
            threshold=0.3, num_hashes=32, bands=8,
        ).collect()
    )
    assert got == [10, 11]


def test_dedup_against_plan_no_cartesian(spark):
    from datamine_v2_0_spark.plans import has_cartesian

    new = spark.createDataFrame([Row(doc_id=10, text="a b c d e f g")])
    ref = spark.createDataFrame([Row(doc_id=1, text="a b c d e f h")])
    assert not has_cartesian(
        dd.dedup_against(new, ref, "text", "doc_id", method="near")
    )


def test_containment_catches_subset_jaccard_misses(spark):
    quote = "the quick brown fox jumps over the lazy dog near the river bank"
    article = quote + " " + " ".join(f"filler{i} word{i} extra{i}" for i in range(40))
    df = spark.createDataFrame(
        [Row(doc_id=1, text=quote), Row(doc_id=2, text=article)]
    )
    got = dd.containment_pairs_inverted(df, "text", "doc_id", threshold=0.9).collect()
    assert len(got) == 1
    r = got[0]
    assert (r["id_a"], r["id_b"]) == (1, 2)
    assert r["cont_a_in_b"] == 1.0        # the quote is fully contained
    assert r["cont_b_in_a"] < 0.2         # the article is not
    # Jaccard on the same pair is far below any dedup threshold
    j = dd.jaccard_pairs_inverted(df, "text", "doc_id", threshold=0.0).collect()
    assert j and j[0]["jaccard"] < 0.15


def test_substring_dedup_planted_quote(spark):
    # a 60-token quote planted in two otherwise-unrelated documents must
    # come back as one maximal span per doc, and strip must remove
    # exactly that span from both docs (Lee et al. 2022 ExactSubstr).
    quote = " ".join(f"q{i}" for i in range(60))
    head = " ".join(f"h{i}" for i in range(10))
    tail = " ".join(f"t{i}" for i in range(15))
    df = spark.createDataFrame(
        [Row(doc_id=1, text=head + " " + quote),
         Row(doc_id=2, text=quote + " " + tail),
         Row(doc_id=3, text="nothing shared here at all " * 5)]
    )
    spans = {
        r["doc_id"]: (r["start_pos"], r["end_pos"], r["span_tokens"])
        for r in dd.duplicate_substring_spans(df, "text", "doc_id", k=8).collect()
    }
    assert spans == {1: (11, 70, 60), 2: (1, 60, 60)}  # 1-based, maximal

    out = {
        r["doc_id"]: r
        for r in dd.strip_duplicate_spans(df, "text", "doc_id", k=8).collect()
    }
    assert out[1]["n_removed"] == 60 and out[1]["text_clean"] == head
    assert out[2]["n_removed"] == 60 and out[2]["text_clean"] == tail
    assert out[3]["n_removed"] == 0  # untouched doc passes through

    # spans shorter than k are NOT reported: share only 7 tokens
    seven = " ".join(f"s{i}" for i in range(7))
    df7 = spark.createDataFrame(
        [Row(doc_id=1, text=seven + " xa xb xc xd"),
         Row(doc_id=2, text=seven + " ya yb yc yd")]
    )
    assert dd.duplicate_substring_spans(df7, "text", "doc_id", k=8).count() == 0


def test_substring_dedup_scope_any_catches_self_repeat(spark):
    block = " ".join(f"b{i}" for i in range(12))
    df = spark.createDataFrame(
        [Row(doc_id=1, text=block + " middle filler words go here " + block)]
    )
    # cross scope: single doc, nothing shared across docs
    assert dd.duplicate_substring_spans(df, "text", "doc_id", k=8).count() == 0
    # any scope: the repeated 12-token block marks both occurrences
    spans = dd.duplicate_substring_spans(
        df, "text", "doc_id", k=8, scope="any"
    ).collect()
    assert {(r["start_pos"], r["end_pos"]) for r in spans} == {(1, 12), (18, 29)}


def test_containment_freq_cap_keeps_true_denominators(spark):
    # doc 1 = a quote whose shingles ALL also appear in docs 2 and 3
    # (df = 3 for every quote shingle); doc 2 embeds the quote plus
    # unique filler. With max_shingle_freq=2 the quote shingles are
    # pruned from the JOIN, but |A|/|B| must stay the TRUE pre-prune
    # sizes — so the capped containment is a lower bound, never
    # inflated by a shrunken denominator.
    quote = "alpha bravo charlie delta echo foxtrot golf hotel"
    filler = " ".join(f"unique{i} token{i} word{i}" for i in range(10))
    df = spark.createDataFrame(
        [Row(doc_id=1, text=quote),
         Row(doc_id=2, text=quote + " " + filler),
         Row(doc_id=3, text=quote + " other tail words here")]
    )
    uncapped = {
        (r["id_a"], r["id_b"]): r["cont_a_in_b"]
        for r in dd.containment_pairs_inverted(
            df, "text", "doc_id", threshold=0.0
        ).collect()
    }
    assert uncapped[(1, 2)] == 1.0
    capped = dd.containment_pairs_inverted(
        df, "text", "doc_id", threshold=0.0, max_shingle_freq=2
    ).collect()
    for r in capped:
        key = (r["id_a"], r["id_b"])
        # lower bound on the true score, never inflated
        assert r["cont_a_in_b"] <= uncapped[key]
        assert r["cont_b_in_a"] <= 1.0
    # the (1,2) pair's shared shingles are all pruned -> no row (doc 1
    # has nothing left to join on); it must not appear with an
    # inflated score computed over a shrunken universe
    assert (1, 2) not in {(r["id_a"], r["id_b"]) for r in capped}


def test_hopping_agg_overlap(spark):
    from datetime import datetime as dt
    from datamine_v2_0_spark.operators import aggregates as agg

    df = spark.createDataFrame(
        [(dt(2024, 1, 1, 0, 20), 10.0), (dt(2024, 1, 1, 0, 50), 30.0)],
        ["ts", "value"],
    )
    out = agg.hopping_agg(
        df, "ts", "1 hour", "15 minutes",
        [F.avg("value").alias("v"), F.count(F.lit(1)).alias("n")],
    ).collect()
    got = {str(r["window_start"]): (r["v"], r["n"]) for r in out}
    # every event belongs to exactly 4 windows (1h / 15m); the :20 event
    # spans starts 23:30-00:15, the :50 event spans 00:00-00:45
    assert len(got) == 6
    assert got["2024-01-01 00:00:00"] == (20.0, 2)
    assert got["2024-01-01 00:15:00"] == (20.0, 2)
    assert got["2023-12-31 23:45:00"] == (10.0, 1)   # only the :20 event
    assert got["2024-01-01 00:45:00"] == (30.0, 1)   # only the :50 event


def test_range_bin_join_matches_naive_and_plans_equi(spark):
    from datetime import datetime as dt

    points = spark.createDataFrame(
        [(i, dt(2024, 1, 1, 0, m)) for i, m in enumerate([5, 20, 35, 50, 59])],
        ["pid", "ts"],
    )
    iv = spark.createDataFrame(
        [(100, dt(2024, 1, 1, 0, 15), dt(2024, 1, 1, 0, 40)),
         (200, dt(2024, 1, 1, 0, 55), dt(2024, 1, 1, 1, 30)),
         (300, dt(2024, 1, 2, 9, 0), dt(2024, 1, 2, 10, 0))],
        ["wid", "s", "e"],
    )
    out = jn.range_bin_join(points, iv, "ts", "s", "e", 600)
    got = sorted((r["pid"], r["wid"]) for r in out.collect())
    assert got == [(1, 100), (2, 100), (4, 200)]
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan

    # left join keeps unmatched points exactly once
    left = jn.range_bin_join(points, iv, "ts", "s", "e", 600, how="left")
    rows = left.collect()
    assert len(rows) == 5
    assert sum(1 for r in rows if r["wid"] is None) == 2  # pids 0 and 3


def test_range_bin_join_interval_spanning_many_bins(spark):
    from datetime import datetime as dt

    points = spark.createDataFrame(
        [(1, dt(2024, 1, 1, 3, 0)), (2, dt(2024, 1, 1, 23, 0))], ["pid", "ts"]
    )
    iv = spark.createDataFrame(
        [(9, dt(2024, 1, 1, 0, 0), dt(2024, 1, 1, 12, 0))], ["wid", "s", "e"]
    )
    # 1-hour bins, 12-hour interval: replicated 13x, still exactly one match
    out = jn.range_bin_join(points, iv, "ts", "s", "e", 3600).collect()
    assert [(r["pid"], r["wid"]) for r in out] == [(1, 9)]


def test_overlap_join_binned_matches_theta(spark):
    # randomized parity: the binned overlap join must equal the theta
    # form row-for-row, including touching endpoints (strict overlap),
    # zero-length intervals, and spans crossing many bins
    import random
    from datetime import datetime as dt, timedelta as td

    rng = random.Random(41)
    t0 = dt(2024, 1, 1)

    def mk(side, n):
        rows = []
        for i in range(n):
            start = t0 + td(minutes=rng.randrange(0, 5000))
            span = rng.choice([0, 7, 30, 60, 240, 1440])  # minutes
            rows.append((i, f"k{rng.randrange(3)}", start, start + td(minutes=span)))
        return spark.createDataFrame(
            rows, [f"{side}id", f"{side}k", f"{side}s", f"{side}e"]
        )

    a, b = mk("a", 120), mk("b", 120)
    theta = sorted(
        (r["aid"], r["bid"])
        for r in jn.overlap_join(
            a, b, [("ak", "bk")], "as", "ae", "bs", "be"
        ).collect()
    )
    for bin_s in (600, 3600, 86400):
        binned = sorted(
            (r["aid"], r["bid"])
            for r in jn.overlap_join_binned(
                a, b, [("ak", "bk")], "as", "ae", "bs", "be", bin_s
            ).collect()
        )
        assert binned == theta, f"bin={bin_s}"
    assert len(theta) == len(set(theta))  # anchor bin emits each pair once


def test_asof_merge_backward_semantics(spark):
    from datetime import datetime as dt

    left = spark.createDataFrame(
        [(1, "u", dt(2024, 1, 1, 10, 0)), (2, "u", dt(2024, 1, 1, 12, 0)),
         (3, "u", dt(2024, 1, 1, 9, 0)), (4, "v", dt(2024, 1, 1, 10, 0))],
        ["lid", "k", "ts"],
    )
    right = spark.createDataFrame(
        [("u", dt(2024, 1, 1, 9, 30), 100), ("u", dt(2024, 1, 1, 11, 0), 200),
         ("v", dt(2024, 1, 1, 10, 0), 300)],
        ["k", "rts", "val"],
    )
    out = jn.asof_merge_join(left, right, ["k"], "ts", "rts", ["val"])
    got = {r["lid"]: r["asof_val"] for r in out.collect()}
    assert got == {1: 100, 2: 200, 3: None, 4: 300}  # 4: equal ts inclusive


def test_asof_merge_forward_and_tolerance(spark):
    from datetime import datetime as dt

    left = spark.createDataFrame(
        [(1, "u", dt(2024, 1, 1, 10, 0)), (2, "u", dt(2024, 1, 1, 23, 0))],
        ["lid", "k", "ts"],
    )
    right = spark.createDataFrame(
        [("u", dt(2024, 1, 1, 10, 30), 7)], ["k", "rts", "val"]
    )
    fwd = jn.asof_merge_join(left, right, ["k"], "ts", "rts", ["val"], direction="forward")
    got = {r["lid"]: r["asof_val"] for r in fwd.collect()}
    assert got == {1: 7, 2: None}  # forward: at-or-after only
    tol = jn.asof_merge_join(
        left, right, ["k"], "ts", "rts", ["val"],
        direction="forward", tolerance_seconds=60.0,
    )
    got = {r["lid"]: r["asof_val"] for r in tol.collect()}
    assert got == {1: None, 2: None}  # 30 min gap > 60 s tolerance


def test_asof_merge_null_value_rows_carry_atomically(spark):
    from datetime import datetime as dt

    # Nearest right row has a NULL in one value column: ASOF semantics
    # carry that row's NULL (row-atomic), not a stale non-NULL from an
    # earlier right row — and every value column must come from the SAME
    # right row the tolerance gap is measured against.
    left = spark.createDataFrame(
        [(1, "u", dt(2024, 1, 1, 12, 0))], ["lid", "k", "ts"]
    )
    right = spark.createDataFrame(
        [("u", dt(2024, 1, 1, 9, 0), 100, 5.0),
         ("u", dt(2024, 1, 1, 11, 0), None, 9.0)],  # nearest; a is NULL
        ["k", "rts", "a", "b"],
    )
    out = jn.asof_merge_join(left, right, ["k"], "ts", "rts", ["a", "b"])
    r = out.collect()[0]
    assert r["asof_a"] is None and r["asof_b"] == 9.0

    # tolerance measured against the nearest row (11:00, 1h gap): a
    # 30-minute tolerance nulls BOTH fills — the 9:00 row must not leak
    # in as a fallback.
    tol = jn.asof_merge_join(
        left, right, ["k"], "ts", "rts", ["a", "b"], tolerance_seconds=1800.0
    )
    r = tol.collect()[0]
    assert r["asof_a"] is None and r["asof_b"] is None


def test_asof_merge_plan_single_shuffle_no_join(spark):
    from datetime import datetime as dt

    left = spark.createDataFrame([(1, "u", dt(2024, 1, 1))], ["lid", "k", "ts"])
    right = spark.createDataFrame([("u", dt(2024, 1, 1), 1)], ["k", "rts", "val"])
    out = jn.asof_merge_join(left, right, ["k"], "ts", "rts", ["val"])
    plan = out._jdf.queryExecution().executedPlan().toString()
    for node in ("SortMergeJoin", "BroadcastHashJoin", "BroadcastNestedLoopJoin",
                 "CartesianProduct"):
        assert node not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def _tiny_wav(freq=440.0, rate=8000, n=800, channels=1) -> bytes:
    import io
    import math
    import struct
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(channels)
        w.setsampwidth(2)
        w.setframerate(rate)
        frames = bytearray()
        for i in range(n):
            s = int(16000 * math.sin(2 * math.pi * freq * i / rate))
            frames += struct.pack("<h", s) * channels
        w.writeframes(bytes(frames))
    return buf.getvalue()


def test_decode_wav_features():
    wav = _tiny_wav()
    arr, fr, nch = mm._decode_wav(wav)
    assert fr == 8000 and nch == 1 and arr.size == 800
    assert abs(arr).max() <= 1.0
    feats = mm._audio_features(wav)
    dur, rate, ch, rms, peak, zcr, dc, n = feats
    assert dur == pytest.approx(0.1, abs=1e-6)       # 800 / 8000
    assert rate == 8000.0 and ch == 1.0 and n == 800.0
    # full-scale-ish sine: rms ~ A/sqrt(2), zcr ~ 2f/rate
    assert rms == pytest.approx(16000 / 32768 / 2 ** 0.5, rel=0.01)
    assert zcr == pytest.approx(2 * 440 / 8000, rel=0.05)
    assert abs(dc) < 1e-3
    # stereo mixes down
    arr2, _, nch2 = mm._decode_wav(_tiny_wav(channels=2))
    assert nch2 == 2 and arr2.size == 800
    with pytest.raises(ValueError):
        mm._decode_wav(b"RIFFnotawav")


def test_multimodal_audio_decode_end_to_end(spark):
    wav = _tiny_wav()
    media = spark.createDataFrame(
        [(1, "audio", wav.decode("latin-1")), (2, "image", _tiny_ppm().decode("latin-1"))],
        "media_id long, media_type string, payload string",
    )
    got = {r["media_id"]: r for r in
           mm.extract_media_features(media, decode_stub=False).collect()}
    assert got[1]["features"][1] == 8000.0            # framerate slot
    assert got[2]["features"] == [float(v) for v in range(100, 180, 10)]


def test_rolling_corr_trend_and_nulls(spark):
    rows = [("u", i, float(i) * 2.0 + 1.0) for i in range(5)]          # perfect up
    rows += [("d", i, -3.0 * i + 10.0) for i in range(5)]              # perfect down
    rows += [("c", i, 42.0) for i in range(5)]                         # constant
    df = spark.createDataFrame(rows, "k string, i long, v double")
    w = win.ordered_window(["k"], ["i"])
    got = df.select(
        "k", "i",
        win.rolling_corr(F.col("v"), F.col("i").cast("double"), w, 9, 0).alias("c"),
    ).collect()
    by = {(r["k"], r["i"]): r["c"] for r in got}
    assert by[("u", 4)] == pytest.approx(1.0, abs=1e-9)
    assert by[("d", 4)] == pytest.approx(-1.0, abs=1e-9)
    assert by[("c", 4)] is None      # zero variance -> NULL, not NaN
    assert by[("u", 0)] is None      # single-row window


def test_grouped_mad_known_values(spark):
    from datamine_v2_0_spark.operators import aggregates as agg

    df = spark.createDataFrame(
        [("a", v) for v in [1.0, 2.0, 3.0, 4.0, 100.0]]   # outlier-heavy
        + [("b", v) for v in [10.0, 10.0, 10.0]],
        ["g", "v"],
    )
    got = {r["g"]: r for r in agg.grouped_mad(df, ["g"], "v").collect()}
    # median 3; |dev| = [2,1,0,1,97] -> mad 1 (outlier barely moves it)
    assert got["a"]["median"] == 3.0 and got["a"]["mad"] == 1.0
    assert got["a"]["n"] == 5
    # constant group: mad 0
    assert got["b"]["median"] == 10.0 and got["b"]["mad"] == 0.0
    # interpolated median on even count
    df2 = spark.createDataFrame([("c", 1.0), ("c", 2.0)], ["g", "v"])
    got2 = agg.grouped_mad(df2, ["g"], "v").collect()[0]
    assert got2["median"] == 1.5 and got2["mad"] == 0.5


def test_hll_rollup_union_equals_direct_and_near_exact(spark):
    from datetime import datetime as dt

    from datamine_v2_0_spark.operators import aggregates as agg

    rows = [
        (dt(2024, 1, 1 + d, h), (d * 37 + h * 11) % 200)
        for d in range(7) for h in range(20)
    ]
    df = spark.createDataFrame(rows, "ts timestamp, user_id long")
    daily = agg.hll_bucket_sketches(df, "ts", "user_id", 86400)
    assert daily.count() == 7
    # epoch weeks start on Thursday: Jan 1-7 2024 straddles two periods
    weekly = {
        str(r["period_start"]): r["approx_distinct"]
        for r in agg.hll_rollup(daily, 7 * 86400).collect()
    }
    assert len(weekly) == 2
    # union-of-daily-sketches must equal sketching each period directly
    direct = {
        str(r["period_start"]): r["approx_distinct"]
        for r in agg.hll_rollup(
            agg.hll_bucket_sketches(df, "ts", "user_id", 7 * 86400), 7 * 86400
        ).collect()
    }
    assert weekly == direct
    # and the estimates must be near the exact distinct counts
    from pyspark.sql import functions as F

    exact = {
        str(r["p"]): r["n"]
        for r in df.groupBy(
            F.timestamp_seconds(
                (F.floor(F.unix_timestamp("ts") / 604800) * 604800).cast("long")
            ).alias("p")
        ).agg(F.countDistinct("user_id").alias("n")).collect()
    }
    for p, est in weekly.items():
        assert abs(est - exact[p]) / exact[p] < 0.05


def test_hll_portable_registers_exact_content_and_estimate(spark):
    """The portable-register HLL (round-11 verdict task 6): register
    rows bit-match a pure-Python md5-60 reference, daily->weekly
    rollup equals sketching the week directly (MAX associativity), and
    the corrected estimate tracks exact distinct."""
    import hashlib
    from datetime import datetime as dt

    from datamine_v2_0_spark.operators import aggregates as agg

    rows = [
        (dt(2024, 1, 1 + d, h), (d * 37 + h * 11) % 200)
        for d in range(7) for h in range(20)
    ]
    df = spark.createDataFrame(rows, "ts timestamp, user_id long")
    daily = agg.hll_portable_registers(df, "ts", "user_id", 86400, lg_k=8)
    # register content matches the reference implementation exactly
    def ref_reg_rho(uid: int) -> tuple[int, int]:
        h = int(hashlib.md5(str(uid).encode()).hexdigest()[:15], 16)
        rest = h >> 8
        return h & 255, (53 - rest.bit_length()) if rest else 53

    expect: dict[tuple, int] = {}
    for ts, uid in rows:
        day = dt.fromtimestamp((ts.timestamp() // 86400) * 86400)
        reg, rho = ref_reg_rho(uid)
        k = (day, reg)
        expect[k] = max(expect.get(k, 0), rho)
    got = {
        (r["bucket"], r["register"]): r["rho_max"] for r in daily.collect()
    }
    assert got == expect
    # union-of-daily == direct weekly, register for register
    weekly = {
        (str(r["period_start"]), r["register"]): r["rho_max"]
        for r in agg.hll_portable_rollup(
            daily, 7 * 86400, bucket_seconds=86400
        ).collect()
    }
    # nesting validation (round-12 ADVICE): a period that does not
    # nest the source buckets would silently diverge from a direct
    # sketch — the rollup refuses it when told the bucket grid
    with pytest.raises(ValueError, match="nest"):
        agg.hll_portable_rollup(daily, 100_000, bucket_seconds=86400)
    # small-m alpha constants: lg_k < 4 is out of the paper's domain
    with pytest.raises(ValueError, match="lg_k"):
        agg.hll_portable_estimate(daily.limit(1), lg_k=3)
    direct = {
        (str(r["period_start"]), r["register"]): r["rho_max"]
        for r in agg.hll_portable_rollup(
            agg.hll_portable_registers(df, "ts", "user_id", 7 * 86400),
            7 * 86400,
        ).collect()
    }
    assert weekly == direct
    # corrected estimate near exact distinct (n~140/period, m=256 ->
    # the linear-counting branch; planted accuracy well under 10%)
    from pyspark.sql import functions as F

    est = {
        str(r["period_start"]): r["approx_distinct"]
        for r in agg.hll_portable_estimate(
            agg.hll_portable_rollup(daily, 7 * 86400)
        ).collect()
    }
    exact = {
        str(r["p"]): r["n"]
        for r in df.groupBy(
            F.timestamp_seconds(
                (F.floor(F.unix_timestamp("ts") / 604800) * 604800).cast("long")
            ).alias("p")
        ).agg(F.countDistinct("user_id").alias("n")).collect()
    }
    assert set(est) == set(exact)
    for p, e in est.items():
        assert abs(e - exact[p]) / exact[p] < 0.10, (p, e, exact[p])


def test_robust_outliers_flags_planted_spike(spark):
    from datamine_v2_0_spark.operators import aggregates as agg

    rows = [("g", float(v)) for v in [10, 11, 12, 10, 11, 12, 10, 11, 500]]
    df = spark.createDataFrame(rows, ["g", "v"])
    out = agg.robust_outliers(df, ["g"], "v", z_thresh=3.5).collect()
    assert [r["v"] for r in out] == [500.0]
    assert abs(out[0]["robust_z"]) > 3.5
    assert out[0]["median"] == 11.0


def test_robust_outliers_zero_mad_group_skipped(spark):
    from datamine_v2_0_spark.operators import aggregates as agg

    # constant group: MAD = 0 -> no finite score, nothing flagged
    rows = [("c", 5.0)] * 10 + [("c", 9e9)]
    df = spark.createDataFrame(rows, ["g", "v"])
    # median 5, mad 0 (majority identical) -> the spike cannot be scored
    assert agg.robust_outliers(df, ["g"], "v").count() == 0


def test_robust_outliers_inliers_unflagged(spark):
    from datamine_v2_0_spark.operators import aggregates as agg

    rows = [("g", float(v)) for v in range(100)]
    df = spark.createDataFrame(rows, ["g", "v"])
    assert agg.robust_outliers(df, ["g"], "v", z_thresh=3.5).count() == 0


def test_bloom_prefilter_join_exact_parity(spark):
    from datamine_v2_0_spark.operators import joins as jn2

    left = spark.range(5000).selectExpr("id AS k", "id * 2 AS v")
    right = spark.range(100).selectExpr("id * 37 AS k", "id AS w")
    got = jn2.bloom_prefilter_join(
        left, right, "k", expected_items=1000, fpp=0.01
    )
    want = left.join(right, "k")
    assert sorted(r["k"] for r in got.collect()) == sorted(
        r["k"] for r in want.collect()
    )
    # the bit-test prefilter sits in the plan before the join
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan


def test_bloom_prefilter_semi_and_pruning_rate(spark):
    from datamine_v2_0_spark.operators import joins as jn2

    left = spark.range(20000).selectExpr("id AS k")
    right = spark.range(50).selectExpr("id * 401 AS k")
    got = jn2.bloom_prefilter_join(
        left, right, "k", how="semi", expected_items=50, fpp=0.01
    )
    assert sorted(r["k"] for r in got.collect()) == sorted(
        r["k"] for r in left.join(right, "k", "left_semi").collect()
    )


def test_bloom_prefilter_join_rejects_outer(spark):
    import pytest as _pt

    from datamine_v2_0_spark.operators import joins as jn2

    left = spark.range(10).selectExpr("id AS k")
    with _pt.raises(ValueError):
        jn2.bloom_prefilter_join(left, left, "k", how="left")


def test_hampel_replaces_planted_spike(spark):
    from datamine_v2_0_spark.operators import windows as win2

    rows = [("a", i, float(i)) for i in range(21)]
    rows[10] = ("a", 10, 500.0)  # spike in a linear ramp
    df = spark.createDataFrame(rows, ["k", "ts", "v"])
    out = {r["ts"]: r for r in win2.hampel_filter(
        df, ["k"], "ts", "v", half_window=5, k=3.0
    ).collect()}
    assert out[10]["is_spike"]
    # replaced by the local median of the ramp neighborhood
    assert abs(out[10]["value_clean"] - out[10]["roll_med"]) < 1e-9
    assert out[10]["value_clean"] < 20
    # ramp points are untouched
    assert not out[3]["is_spike"] and out[3]["value_clean"] == 3.0
    assert sum(1 for r in out.values() if r["is_spike"]) == 1


def test_hampel_constant_series_no_spikes(spark):
    from datamine_v2_0_spark.operators import windows as win2

    df = spark.createDataFrame(
        [("a", i, 7.0) for i in range(10)], ["k", "ts", "v"]
    )
    out = win2.hampel_filter(df, ["k"], "ts", "v").collect()
    assert all(not r["is_spike"] for r in out)
    assert all(r["value_clean"] == 7.0 for r in out)


def test_welch_ttest_known_groups(spark):
    from datamine_v2_0_spark.operators import aggregates as agg

    rows = [("a", v) for v in [1.0, 2.0, 3.0, 4.0, 5.0]] + [
        ("b", v) for v in [11.0, 12.0, 13.0, 14.0, 15.0]
    ]
    df = spark.createDataFrame(rows, ["g", "v"])
    r = agg.ab_welch_ttest(df, "g", "v", "a", "b").collect()[0]
    assert (r["n_a"], r["n_b"]) == (5, 5)
    assert r["mean_a"] == 3.0 and r["mean_b"] == 13.0
    # equal variances, n=5 each: t = -10 / sqrt(2.5/5*2) = -10
    assert r["t_stat"] == pytest.approx(-10.0, abs=1e-6)
    assert r["df_welch"] == pytest.approx(8.0, abs=0.01)


def test_welch_ttest_identical_groups_t_zero(spark):
    from datamine_v2_0_spark.operators import aggregates as agg

    rows = [(g, float(v)) for g in ("a", "b") for v in range(20)]
    df = spark.createDataFrame(rows, ["g", "v"])
    r = agg.ab_welch_ttest(df, "g", "v", "a", "b").collect()[0]
    assert r["t_stat"] == pytest.approx(0.0, abs=1e-9)


def test_topk_per_group_ranks_and_ties(spark):
    from datamine_v2_0_spark.operators import aggregates as agg

    rows = [("x", 1, 5.0), ("x", 1, 5.0), ("x", 2, 8.0), ("x", 3, 8.0),
            ("y", 9, 1.0)]
    df = spark.createDataFrame(rows, ["g", "u", "v"])
    got = {
        (r["g"], r["rank"]): (r["u"], r["metric"])
        for r in agg.topk_per_group(
            df, ["g"], ["u"], F.sum("v"), k=2
        ).collect()
    }
    # u=1 totals 10 -> rank 1; u=2 and u=3 tie at 8 -> lower id wins rank 2
    assert got[("x", 1)] == (1, 10.0)
    assert got[("x", 2)] == (2, 8.0)
    assert got[("y", 1)] == (9, 1.0)
    assert len(got) == 3


def test_histogram_bins_and_edges(spark):
    from datamine_v2_0_spark.operators import aggregates as agg

    df = spark.createDataFrame([(float(v),) for v in range(101)], ["v"])
    out = {r["bin"]: r for r in agg.histogram(df, "v", n_bins=10).collect()}
    assert len(out) == 10
    assert sum(r["n"] for r in out.values()) == 101
    assert out[0]["bin_lo"] == 0.0 and out[9]["bin_hi"] == 100.0
    assert out[9]["n"] == 11  # 90..99 plus the max value 100 at the edge
    assert all(out[i]["n"] == 10 for i in range(9))


def test_histogram_explicit_bounds_and_empty_bins(spark):
    from datamine_v2_0_spark.operators import aggregates as agg

    df = spark.createDataFrame([(5.0,), (None,)], ["v"])
    out = {r["bin"]: r["n"] for r in agg.histogram(
        df, "v", n_bins=4, lo=0.0, hi=8.0
    ).collect()}
    assert out == {0: 0, 1: 0, 2: 1, 3: 0}


def test_histogram_constant_column(spark):
    from datamine_v2_0_spark.operators import aggregates as agg

    df = spark.createDataFrame([(3.0,)] * 7, ["v"])
    out = {r["bin"]: r["n"] for r in agg.histogram(df, "v", n_bins=5).collect()}
    assert out[0] == 7 and sum(out.values()) == 7


def test_corr_matrix_known_values(spark):
    from datamine_v2_0_spark.operators import aggregates as agg

    rows = [(float(i), 2.0 * i, -1.0 * i, 5.0) for i in range(20)]
    df = spark.createDataFrame(rows, ["a", "b", "c", "d"])
    got = {(r["col_a"], r["col_b"]): r["corr"] for r in agg.corr_matrix(
        df, ["a", "b", "c", "d"]
    ).collect()}
    assert got[("a", "b")] == pytest.approx(1.0)
    assert got[("a", "c")] == pytest.approx(-1.0)
    assert got[("a", "d")] is None  # zero variance -> undefined
    assert len(got) == 6


def test_corr_matrix_needs_two_columns(spark):
    from datamine_v2_0_spark.operators import aggregates as agg

    df = spark.createDataFrame([(1.0,)], ["a"])
    with pytest.raises(ValueError):
        agg.corr_matrix(df, ["a"])


def test_ann_cheap_operating_points_recall_floors(spark):
    """ANN.md publishes the measured recall/latency trade-off below the
    certified full-recall settings (tools/ann_recall.py, sf0.01:
    IVF nprobe 1/2/4 -> 0.32/0.50/0.84, LSH probe 0/1 -> 0.87/0.99,
    PQ ADC-only 0.59, PQ rerank_from=20 -> 0.90). This pins floors a
    few points under those measurements on the sf0.001 fixture so a
    regression in bucketing/probing/quantization shows up as a recall
    cliff, not a silent doc drift."""
    import os

    from datamine_v2_0_spark.operators import similarity as sim

    sf = "/root/testdata/sf0.001"
    if not os.path.isdir(sf):
        pytest.skip("driver testdata absent")
    emb = spark.read.parquet(f"{sf}/embeddings.parquet").cache()
    queries = emb.orderBy("vec_id").limit(10)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in sim.cosine_topk(emb, queries, "embedding", "vec_id", k=5).collect()
    }

    def recall(df):
        got = {(r["query_id"], r["neighbor_id"]) for r in df.collect()}
        return len(got & exact) / len(exact)

    assert recall(sim.ivf_topk(
        emb, queries, "embedding", "vec_id", dim=64, k=5, n_cells=8, nprobe=4
    )) >= 0.6
    assert recall(sim.lsh_topk(
        emb, queries, "embedding", "vec_id", dim=64, k=5, probe=1
    )) >= 0.8
    assert recall(sim.pq_rerank_topk(
        emb, queries, "embedding", "vec_id", dim=64, k=5,
        m=16, k_codes=32, rerank_from=20,
    )) >= 0.8


def test_rolling_corr_pairwise_complete_with_null_inputs(spark):
    """Regression: stddevs over ALL rows while covar used only
    pairwise-complete rows pushed |corr| above 1 on asymmetric NULLs."""
    import datetime as dt

    from datamine_v2_0_spark.operators import windows as win

    base = dt.datetime(2024, 1, 1)
    rows = [
        ("k", base + dt.timedelta(seconds=i), x, y)
        for i, (x, y) in enumerate([(1.0, 1.0), (2.0, 2.0), (1.5, None)])
    ]
    df = spark.createDataFrame(rows, "k string, ts timestamp, x double, y double")
    w = win.ordered_window(["k"], ["ts"])
    out = df.select(
        win.rolling_corr("x", "y", w, 2, 2).alias("c")
    ).collect()
    for r in out:
        if r.c is not None:
            assert -1.0 - 1e-12 <= r.c <= 1.0 + 1e-12
    # the pairwise-complete pairs {(1,1),(2,2)} correlate perfectly
    assert any(r.c is not None and abs(r.c - 1.0) < 1e-9 for r in out)


def test_change_flag_null_runs_form_single_blocks(spark):
    """Regression: [A, NULL, NULL, A] must number blocks [1,2,2,3] —
    the old `!=` merged the NULL run into A's block and then split it."""
    import datetime as dt

    from datamine_v2_0_spark.operators import windows as win

    base = dt.datetime(2024, 1, 1)
    vals = ["A", None, None, "A"]
    rows = [("k", base + dt.timedelta(seconds=i), v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "k string, ts timestamp, v string")
    w = win.ordered_window(["k"], ["ts"])
    out = (
        df.withColumn("b", win.block_id("v", w).cast("int"))
        .orderBy("ts")
        .collect()
    )
    assert [r.b for r in out] == [1, 2, 2, 3]


def test_upsert_order_tie_prefers_update(spark):
    rows_cur = [(1, 10, "old")]
    rows_upd = [(1, 10, "new")]
    cur = spark.createDataFrame(rows_cur, "k long, o long, v string")
    upd = spark.createDataFrame(rows_upd, "k long, o long, v string")
    got = jn.upsert(cur, upd, "k", "o").collect()
    assert len(got) == 1 and got[0].v == "new"


def test_lookup_join_mixed_case_mapping_keys(spark):
    df = spark.createDataFrame([("Purchase",), ("view",)], "event_type string")
    out = jn.lookup_join(
        df, {"Purchase": "commerce", "VIEW": "content"}, "event_type", "cat"
    )
    got = {r.event_type: r.cat for r in out.collect()}
    assert got == {"Purchase": "commerce", "view": "content"}


def test_deterministic_sample_negative_keys(spark):
    from datamine_v2_0_spark.operators import filters as flt

    df = spark.createDataFrame([(-5,), (-3,), (1,), (4,)], "id long")
    got = sorted(r.id for r in flt.deterministic_sample(df, "id", 3, 1).collect())
    # pmod(-5,3)=1, pmod(-3,3)=0, pmod(1,3)=1, pmod(4,3)=1
    assert got == [-5, 1, 4]


def test_hampel_backquoted_column_name(spark):
    import datetime as dt

    from datamine_v2_0_spark.operators import windows as win

    base = dt.datetime(2024, 1, 1)
    rows = [("k", base + dt.timedelta(seconds=i), float(i)) for i in range(9)]
    df = spark.createDataFrame(
        rows, "k string, ts timestamp, `load weight` double"
    )
    out = win.hampel_filter(df, ["k"], "ts", "load weight", half_window=2)
    assert out.count() == 9


def test_bloom_bitset_built_from_packed_words(spark):
    """Semantics unchanged after the distributed word-packing rewrite:
    prefiltered join equals the plain join."""
    left = spark.range(0, 2000).selectExpr("id AS k", "id * 2 AS a")
    right = spark.range(0, 2000, 7).selectExpr("id AS k")
    got = jn.bloom_prefilter_join(left, right, "k", how="inner")
    want = left.join(right, "k", "inner")
    assert sorted(r.k for r in got.collect()) == sorted(
        r.k for r in want.collect()
    )


def test_fixed_width_bins_fp_edge_clamped(spark):
    """Regression: floor((col-lo)/width) can reach nbins for values one
    ulp under hi — must clamp into the valid 0..nbins-1 range."""
    import math

    from datamine_v2_0_spark.operators import binning as bn

    hi = 495.43559165685383
    val = math.nextafter(hi, 0)
    df = spark.createDataFrame([(val,), (hi,), (0.0,)], "v double")
    got = sorted(
        r[0]
        for r in df.select(
            bn.fixed_width_bins(F.col("v"), 0.0, hi, 30).alias("b")
        ).collect()
    )
    assert got == [0, 29, 29]


def test_lookup_join_normalized_key_collision_raises(spark):
    """Regression (round-6 advice): 'A' and 'a' collide after
    trim+lower; conflicting values would silently duplicate every
    matching input row — raise instead. Agreeing duplicates dedupe."""
    df = spark.createDataFrame([("a",)], "c string")
    with pytest.raises(ValueError, match="collide"):
        jn.lookup_join(df, {"A": "x", "a": "y"}, "c", "decoded")
    out = jn.lookup_join(df, {"A": "x", "a ": "x"}, "c", "decoded")
    rows = out.collect()
    assert len(rows) == 1 and rows[0].decoded == "x"


def test_ann_recall_floors_published_curve(spark):
    """Recall floors pinned from the published ANN.md curve (sf0.01,
    same deterministic kernels/seeds): lsh probe=1 measured 0.99 and
    pq rerank_from=20 measured 0.90 — assert comfortable floors so a
    kernel regression can't silently flatten the curve while the
    certified full-recall contract points stay green."""
    import os

    from datamine_v2_0_spark.operators import similarity as sim

    sf = "/root/testdata/sf0.01"
    if not os.path.isdir(sf):
        pytest.skip("driver testdata absent")
    emb = spark.read.parquet(f"{sf}/embeddings.parquet").cache()
    queries = emb.orderBy("vec_id").limit(20)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in sim.cosine_topk(emb, queries, "embedding", "vec_id", k=5).collect()
    }
    lsh1 = {
        (r["query_id"], r["neighbor_id"])
        for r in sim.lsh_topk(
            emb, queries, "embedding", "vec_id", dim=64, k=5,
            num_planes=24, bands=8, probe=1,
        ).collect()
    }
    assert len(lsh1 & exact) / len(exact) >= 0.95
    pq20 = {
        (r["query_id"], r["neighbor_id"])
        for r in sim.pq_rerank_topk(
            emb, queries, "embedding", "vec_id", dim=64, k=5,
            m=16, k_codes=32, rerank_from=20,
        ).collect()
    }
    assert len(pq20 & exact) / len(exact) >= 0.85
    emb.unpersist()


def test_lloyd_fit_deterministic_and_degenerate():
    """Driver-side quantizer fit: same sample -> identical centroids
    (no RNG anywhere), and an all-identical sample must not raise —
    duplicate centroids are the documented degenerate outcome."""
    import numpy as np

    from datamine_v2_0_spark.operators.similarity import _lloyd_fit

    rng = np.random.RandomState(7)
    X = rng.standard_normal((256, 16))
    X /= np.linalg.norm(X, axis=1, keepdims=True)
    a = _lloyd_fit(X, 8, max_iter=8)
    b = _lloyd_fit(X.copy(), 8, max_iter=8)
    assert np.array_equal(a, b)
    ident = np.ones((50, 16)) / 4.0
    C = _lloyd_fit(ident, 8, max_iter=8)
    assert C.shape == (8, 16)
    assert np.allclose(C, C[0])  # all duplicates of the one point


def test_iterative_ops_reliable_checkpoint_parity(spark, durable_checkpoints):
    """Durable cuts (the session has a checkpoint directory) must
    produce identical results to local ones — it is a fault-tolerance
    trade-off, never a semantic one."""
    from datamine_v2_0_spark.operators import dedup as dd
    from datamine_v2_0_spark.operators import graph as gr

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (9, 9)], "id_a long, id_b long"
    )
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4)], "src long, dst long"
    )

    def run():
        return (
            sorted(map(tuple, dd.connected_components(pairs).collect())),
            sorted(map(tuple, gr.pagerank(edges, n_iter=4).collect())),
        )

    base = run()
    with durable_checkpoints() as ckpt:
        rel = run()
    assert base == rel
    assert any(ckpt.rglob("*")), "no durable checkpoint was written"


def _dup_corpus(spark, group_sizes):
    """Corpus with exact-duplicate groups of the given sizes; texts are
    long enough to shingle."""
    rows, i = [], 0
    for g, size in enumerate(group_sizes):
        txt = f"group {g} body with several distinct words alpha beta gamma {g * 17}"
        for _ in range(size):
            rows.append(Row(doc_id=i, text=txt))
            i += 1
    return spark.createDataFrame(rows)


def test_dup_blowup_exact(spark):
    # Σ|g|²/n: groups [4,1,1,1,1] over n=8 -> (16+4)/8 = 2.5
    df = _dup_corpus(spark, [4, 1, 1, 1, 1])
    assert dd.dup_stats(df, "text")[1] == pytest.approx(2.5)
    # unique corpus -> 1.0
    uniq = _dup_corpus(spark, [1] * 6)
    assert dd.dup_stats(uniq, "text")[1] == pytest.approx(1.0)


def test_dup_stats_exact(spark):
    n, blowup, cmax = dd.dup_stats(_dup_corpus(spark, [4, 1, 1, 1, 1]), "text")
    assert (n, cmax) == (8, 4)
    assert blowup == pytest.approx(2.5)


def test_collapsed_dedup_reliable_checkpoint_parity(spark, durable_checkpoints):
    """A session checkpoint directory must reach every lineage cut in
    the representative-collapse paths (the round-9 verdict's _rep_groups
    hazard) and never change results — durable vs local checkpoint is
    a fault-tolerance trade-off only."""
    df = _dup_corpus(spark, [6, 3, 1, 1])
    new = _dup_corpus(spark, [4, 1])
    ref = _dup_corpus(spark, [2, 1])
    fns = (
        dd.minhash_near_dup_pairs,
        dd.jaccard_pairs_inverted,
        dd.containment_pairs_inverted,
    )

    def run():
        pairs = [
            sorted(map(tuple, fn(
                df, "text", "doc_id", duplicate_collapse="always"
            ).collect()))
            for fn in fns
        ]
        survivors = sorted(r[0] for r in dd.dedup_against(
            new, ref, "text", "doc_id", duplicate_collapse="always"
        ).select("doc_id").collect())
        return pairs, survivors

    base = run()
    with durable_checkpoints() as ckpt:
        rel = run()
    assert base == rel
    assert all(base[0]), "a pair operator returned no pairs"
    # the durable branch actually ran: the checkpoint dir has content
    assert any(ckpt.rglob("*")), "no durable checkpoint was written"


_BASE = "the quick brown fox jumps over the lazy dog near the river"
_QUAD = "four copies of one sentence about rivers hills and quiet valleys"


def _null_text_corpus(spark):
    """NULL ids inside and outside duplicate groups, NULL texts, a
    shingle-less duplicate group and a 4-copy group with a near-dup."""
    rows = [(1, _BASE), (None, _BASE), (5, _BASE + " x")]
    rows += [(10 + i, _QUAD) for i in range(4)] + [(14, _QUAD + " today")]
    rows += [(20, "hi there"), (21, "hi there")]
    rows += [(30, None), (31, None), (None, None)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _null_vec_corpus(spark):
    import numpy as np

    rng = np.random.RandomState(3)
    v, w = rng.standard_normal(16), rng.standard_normal(16)
    vec = lambda x: [float(t) for t in x]  # noqa: E731
    rows = [(1, vec(w)), (None, vec(w)), (5, vec(w + rng.standard_normal(16) * 0.01))]
    rows += [(10 + i, vec(v)) for i in range(4)]
    rows += [(20, [0.0] * 16), (21, [0.0] * 16), (30, None), (None, None)]
    return spark.createDataFrame(rows, "doc_id long, embedding array<float>")


_NULL_INPUT_OPS = {
    "minhash": lambda s, m: dd.minhash_near_dup_pairs(
        _null_text_corpus(s), "text", "doc_id", duplicate_collapse=m),
    "jaccard": lambda s, m: dd.jaccard_pairs_inverted(
        _null_text_corpus(s), "text", "doc_id", duplicate_collapse=m),
    "containment": lambda s, m: dd.containment_pairs_inverted(
        _null_text_corpus(s), "text", "doc_id", duplicate_collapse=m),
    "embedding": lambda s, m: dd.embedding_neardup_pairs(
        _null_vec_corpus(s), "embedding", "doc_id", dim=16, num_planes=16,
        bands=8, duplicate_collapse=m),
    "dedup_against": lambda s, m: dd.dedup_against(
        _null_text_corpus(s),
        s.createDataFrame([(100, _BASE), (None, _QUAD)], "doc_id long, text string"),
        "text", "doc_id", duplicate_collapse=m),
}


@pytest.mark.parametrize("mode", ["never", "always"])
@pytest.mark.parametrize("op", sorted(_NULL_INPUT_OPS))
def test_collapse_null_inputs_match_direct(spark, op, mode):
    """A NULL id never pairs and a NULL text never matches, on the
    direct and the representative-collapsed plan alike."""
    run = lambda m: sorted(map(tuple, _NULL_INPUT_OPS[op](spark, m).collect()), key=repr)  # noqa: E731
    got = run(mode)
    assert got == run("never")
    if op == "dedup_against":
        # survivors: the NULL-id copy of the matched text, the unmatched
        # 4-copy group (its ref twin has a NULL id) and every NULL text
        assert sorted(map(repr, (r[0] for r in got))) == sorted(map(repr, [
            None, 10, 11, 12, 13, 14, 20, 21, 30, 31, None]))
        return
    assert got
    assert all(a is not None and b is not None for a, b, *_ in got)
    assert all(a != b for a, b, *_ in got)


_HEAVY = "one viral text copied many times over the whole crawl today"


def _mixed_text_corpus(spark, copies=39):
    """One big group (``copies`` non-NULL ids: by default 40 copies,
    above both families' routing size; one copy with a NULL id and one
    upper-cased), light duplicate groups of 2 and 3 copies, a
    near-duplicate of the big group's text, singletons and NULL ids."""
    rows = [(i, _HEAVY) for i in range(1, copies)]
    rows += [(copies, _HEAVY.upper()), (None, _HEAVY), (50, _HEAVY + " again")]
    rows += [(60, _QUAD), (61, _QUAD), (62, _QUAD), (63, _QUAD + " today")]
    rows += [(70, _BASE), (71, _BASE), (None, _BASE + " x")]
    rows += [(80 + i, f"singleton {i} words alpha{i} beta{i} gamma{i} delta") for i in range(4)]
    rows += [(90, None), (None, None)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _mixed_vec_corpus(spark, copies=39):
    import numpy as np

    rng = np.random.RandomState(7)
    hv, lv = rng.standard_normal(16), rng.standard_normal(16)
    vec = lambda x: [float(t) for t in x]  # noqa: E731
    rows = [(i, vec(hv)) for i in range(1, copies + 1)] + [(None, vec(hv))]
    rows += [(50, vec(hv + rng.standard_normal(16) * 0.01))]
    rows += [(60, vec(lv)), (61, vec(lv)), (62, vec(lv))]
    rows += [(70 + i, vec(rng.standard_normal(16))) for i in range(4)]
    rows += [(80, [0.0] * 16), (81, [0.0] * 16), (90, None), (None, None)]
    return spark.createDataFrame(rows, "doc_id long, embedding array<float>")


def _mixed_bm25(s, m, c=39):
    from datamine_v2_0_spark.operators.retrieval import bm25_topk

    queries = s.createDataFrame(
        [(1, "viral text crawl"), (2, "viral text crawl"), (3, "rivers hills"),
         (4, "singleton alpha1"), (None, "viral")],
        "qid long, qtext string",
    )
    return bm25_topk(
        _mixed_text_corpus(s, c), queries, "text", "doc_id", "qtext", "qid",
        k=5, duplicate_collapse=m,
    )


# op -> fn(spark, duplicate_collapse, c): the operator over the mixed
# corpus whose big group has c non-NULL ids (dedup_against's reference
# side a group of c + 1)
_MIXED_OPS = {
    "jaccard": lambda s, m, c=39: dd.jaccard_pairs_inverted(
        _mixed_text_corpus(s, c), "text", "doc_id", duplicate_collapse=m),
    "containment": lambda s, m, c=39: dd.containment_pairs_inverted(
        _mixed_text_corpus(s, c), "text", "doc_id", duplicate_collapse=m),
    "minhash": lambda s, m, c=39: dd.minhash_near_dup_pairs(
        _mixed_text_corpus(s, c), "text", "doc_id", num_hashes=32, bands=8,
        duplicate_collapse=m),
    "dedup_against": lambda s, m, c=39: dd.dedup_against(
        _mixed_text_corpus(s, c),
        s.createDataFrame(
            [(100, _HEAVY), (101, _QUAD)] + [(102 + i, _BASE) for i in range(c + 1)],
            "doc_id long, text string"),
        "text", "doc_id", threshold=0.5, duplicate_collapse=m),
    "bm25": _mixed_bm25,
    "embedding": lambda s, m, c=39: dd.embedding_neardup_pairs(
        _mixed_vec_corpus(s, c), "embedding", "doc_id", dim=16, num_planes=16,
        bands=8, duplicate_collapse=m),
}


@pytest.mark.parametrize(
    "op,copies",
    [pytest.param(op, 39, id=op) for op in sorted(_MIXED_OPS)]
    + [pytest.param(op, dd._MIN_COPIES - 2, id=f"{op}-no_heavy") for op in sorted(_MIXED_OPS)],
)
def test_routed_plan_mixed_corpus_same_rows_in_every_mode(spark, op, copies):
    """One plan per operator: ``duplicate_collapse`` only sets the group
    size H from which a group routes through its representative. On a
    corpus with a heavy group (routed under auto and always), light
    duplicate groups (routed only under always), singletons and NULL
    ids, every H gives the same rows. With the big group shrunk below
    ``_MIN_COPIES`` ("no_heavy": 6 copies with an id, the reference
    side's 7), the member map's job finds no heavy row and "auto" builds
    the plan of "never": no routing join, no fan-out, no ``__rep``."""
    run = lambda m: sorted(map(tuple, _MIXED_OPS[op](spark, m, copies).collect()), key=repr)  # noqa: E731
    never = run("never")
    assert never
    assert run("auto") == never
    assert run("always") == never
    plan = _MIXED_OPS[op](spark, "auto", copies)._jdf.queryExecution().analyzed().toString()
    assert ("__rep" in plan) == (copies >= dd._MIN_COPIES)


@pytest.mark.parametrize(
    "fn", [dd.jaccard_pairs_inverted, dd.minhash_near_dup_pairs]
)
def test_collapsed_plan_carries_rep_marker(spark, fn):
    """The collapsed plan names its representative column ``__rep``;
    the benchmark's plan report tells the two plans apart by it."""
    df = _dup_corpus(spark, [3, 1])

    def analyzed(mode):
        out = fn(df, "text", "doc_id", duplicate_collapse=mode)
        return out._jdf.queryExecution().analyzed().toString()

    assert "__rep" in analyzed("always")
    assert "__rep" not in analyzed("never")


def _group_rows(docs, pairs):
    rows = dd.dedup_groups(docs, "doc_id", pairs).collect()
    return sorted(map(tuple, rows), key=lambda r: [(x is None, x or 0) for x in r])


def _star_groups(docs):
    """The collapsed plan's star edges, the groups over them, and the
    groups over the direct plan's pairs."""
    pairs, members = dd._jaccard_pairs_core(
        docs, "text", "doc_id", duplicate_collapse="always"
    )
    assert members is not None
    edges = dd._star_edges(pairs, members)
    direct = dd.jaccard_pairs_inverted(docs, "text", "doc_id", duplicate_collapse="never")
    return edges, _group_rows(docs, edges), _group_rows(docs, direct)


@pytest.mark.parametrize("g", [8, 64])
def test_star_edges_linear_in_group_size(spark, g):
    """A g-copy exact-duplicate group costs g - 1 connected-components
    edges, not the g(g - 1)/2 member pairs, and yields the same groups."""
    rows = [(i, _BASE) for i in range(g)]
    rows += [(1000 + i, f"solo{i} alpha{i} beta{i} gamma{i}") for i in range(3)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    edges, star, direct = _star_groups(docs)
    assert edges.count() == g - 1
    assert star == direct
    assert star == [(i, 0) for i in range(g)] + [(1000 + i, 1000 + i) for i in range(3)]


def test_star_edge_groups_match_direct_on_edge_cases(spark):
    """NULL ids and texts, a duplicated text too short to shingle, an
    upper-cased copy, and a chain A~B~C (A !~ C) of three duplicated
    texts whose groups merge only through representative pairs."""
    w = [f"w{i}" for i in range(20)]
    a, b, c = (" ".join(w[i:i + 12]) for i in (0, 4, 8))
    rows = [(1, _BASE), (None, _BASE), (2, _BASE), (3, _BASE.upper())]
    rows += [(20, "hi there"), (21, "hi there")]
    rows += [(30, None), (31, None), (None, None)]
    rows += [(44, a), (50, a), (45, b), (51, b), (46, c), (52, c)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    _, star, direct = _star_groups(docs)
    assert star == direct
    got = dict((i, g) for i, g in star if i is not None)
    assert [got[i] for i in (1, 2, 3)] == [1, 1, 1]
    assert (got[20], got[21]) == (20, 21)
    assert [got[i] for i in (44, 45, 46, 50, 51, 52)] == [44] * 6
    assert (got[30], got[31]) == (30, 31)
    assert [r for r in star if r[0] is None] == [(None, None)] * 2


_NULL_DF_OPS = {
    "jaccard": lambda df, m: dd.jaccard_pairs_inverted(
        df, "text", "doc_id", max_shingle_freq=2, duplicate_collapse=m),
    "containment": lambda df, m: dd.containment_pairs_inverted(
        df, "text", "doc_id", max_shingle_freq=2, duplicate_collapse=m),
}


@pytest.mark.parametrize("mode", ["never", "always"])
@pytest.mark.parametrize("op", sorted(_NULL_DF_OPS))
def test_null_id_docs_skip_document_frequency(spark, op, mode):
    """Under ``max_shingle_freq`` a NULL-id doc counts toward no
    shingle's document frequency, on the direct and the collapsed plan
    alike: neither a text whose every copy has a NULL id nor the NULL-id
    copy of a text with ids pushes a shared shingle over the cap."""
    t, u = "a1 a2 a3 a4 a5", "e1 e2 e3 e4 e5"
    rows = [(1, t), (2, t + " b1"), (None, t + " c1")]
    rows += [(10, u), (None, u), (11, u + " d1")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(map(tuple, _NULL_DF_OPS[op](docs, mode).collect()))
    # 3 shared trigrams of sizes 3 and 4
    score = (0.75,) if op == "jaccard" else (1.0, 0.75)
    assert got == [(1, 2, *score), (10, 11, *score)]


def test_plan_parallelism_prefers_configured_target(spark):
    """Plan-time P must come from the configured shuffle partitioning
    (stable under dynamic allocation), never fall BELOW the live core
    count, and survive a non-numeric setting."""
    sc_p = spark.sparkContext.defaultParallelism
    base = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "96")
        assert dd._plan_parallelism(spark) == 96
        spark.conf.set("spark.sql.shuffle.partitions", "1")
        assert dd._plan_parallelism(spark) == max(1, sc_p)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", base)


def test_pq_rerank_duplicate_collapse_semantics(spark):
    """The round-10 representative-collapsed PQ index: exactness with a
    mass-duplicate group in the corpus, including the self-exclusion
    edge the first draft got wrong in BOTH directions (a query that IS
    its group's rep lost the whole group to rep-level self-exclusion; a
    non-rep member gained a self-pair via fan-out)."""
    import numpy as np

    from datamine_v2_0_spark.operators import similarity as sim

    rng = np.random.RandomState(11)
    uniq = rng.standard_normal((70, 16)).astype("float64")
    uniq /= np.linalg.norm(uniq, axis=1, keepdims=True)
    rows = [(i, [float(x) for x in uniq[0]]) for i in range(50)]  # mass
    rows += [
        (50 + j, [float(x) for x in v]) for j, v in enumerate(uniq[1:])
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    # queries: the mass REP (0), non-rep mass members, and unique vecs
    q = emb.filter(F.col("vec_id").isin(0, 1, 7, 60, 80))
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in sim.cosine_topk(emb, q, "embedding", "vec_id", k=5).collect()
    }
    # rerank_from >= n_distinct (70): the collapsed shortlist holds every
    # distinct vector, so exact parity is GUARANTEED, not fixture luck
    coll = {
        (r["query_id"], r["neighbor_id"])
        for r in sim.pq_rerank_topk(
            emb, q, "embedding", "vec_id", dim=16, k=5,
            m=4, k_codes=8, rerank_from=70,
        ).collect()
    }
    assert coll == exact
    assert all(a != b for a, b in coll)  # member-level self-exclusion
    # the rep's neighbors include its own group's members (the bug
    # dropped them), the non-rep member's include the rep, no (q, q)
    assert {(0, 1), (0, 2), (1, 0)} <= coll
    # duplicate-free corpus: collapsed and direct are the same result
    # (the collapse is a physical-plan choice, never a semantic one)
    uniq_emb = emb.filter(F.col("vec_id") >= 50)
    uq = uniq_emb.orderBy("vec_id").limit(4)
    for mode in ("always", "never"):
        got = {
            (r["query_id"], r["neighbor_id"])
            for r in sim.pq_rerank_topk(
                uniq_emb, uq, "embedding", "vec_id", dim=16, k=3,
                m=4, k_codes=8, rerank_from=69, duplicate_collapse=mode,
            ).collect()
        }
        ex = {
            (r["query_id"], r["neighbor_id"])
            for r in sim.cosine_topk(
                uniq_emb, uq, "embedding", "vec_id", k=3
            ).collect()
        }
        assert got == ex, mode
    with pytest.raises(ValueError):
        sim.pq_rerank_topk(
            emb, q, "embedding", "vec_id", dim=16, k=5,
            duplicate_collapse="auto",
        )


def test_cosine_topk_duplicate_collapse_exact_with_ties(spark):
    """Distinct-vector collapse for the EXACT tier: the group-cover
    bound must hold under rounded-score ties ACROSS groups (two
    distinct vectors with identical cosine — one is a scalar multiple
    of the other — interleave members by id with a duplicate group),
    self-exclusion at member level, and every k that splits a tie."""
    from datamine_v2_0_spark.operators import similarity as sim

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),    # query
        (5, [1.0, 0.0, 0.0, 0.0]),    # exact duplicate of the query
        (20, [1.0, 0.9, 0.0, 0.0]),   # cos ~0.743, unique
        (1, [2.0, 2.0, 0.0, 0.0]),    # group B: cos == 1/sqrt(2)
        (2, [2.0, 2.0, 0.0, 0.0]),
        (10, [1.0, 1.0, 0.0, 0.0]),   # group A: SAME cosine, distinct fp
        (11, [1.0, 1.0, 0.0, 0.0]),
        (12, [1.0, 1.0, 0.0, 0.0]),
        (30, [0.0, 1.0, 0.0, 0.0]),   # cos 0
        (31, [0.0, 1.0, 0.0, 0.0]),
        (40, [-1.0, 0.0, 0.0, 0.0]),  # cos -1
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = emb.filter(F.col("vec_id").isin(0, 10, 1))  # unique-rep, rep, member
    for k in (1, 2, 3, 4, 5, 8, 11):
        direct = sorted(
            map(tuple, sim.cosine_topk(
                emb, q, "embedding", "vec_id", k=k
            ).collect())
        )
        coll = sorted(
            map(tuple, sim.cosine_topk(
                emb, q, "embedding", "vec_id", k=k,
                duplicate_collapse="always",
            ).collect())
        )
        assert coll == direct, f"k={k}"
    # spot-check the tie interleave the cover bound must survive:
    # query 0 at k=4 -> dup-of-query, the 0.743 vec, then ids 1,2 of
    # the TIED pair of groups (B before A purely by member id)
    got = [
        r["neighbor_id"]
        for r in sim.cosine_topk(
            emb, emb.filter(F.col("vec_id") == 0), "embedding", "vec_id",
            k=4, duplicate_collapse="always",
        ).orderBy(F.desc("cos_sim"), "neighbor_id").collect()
    ]
    assert got == [5, 20, 1, 2]
    with pytest.raises(ValueError):
        sim.cosine_topk(emb, q, "embedding", "vec_id", duplicate_collapse="auto")


def test_lsh_topk_duplicate_collapse_identical_to_direct(spark):
    """LSH distinct-vector collapse: hyperplanes are seeded constants,
    so a member's band keys equal its rep's and the collapsed plan must
    return EXACTLY the direct plan's rows at every probe depth — on a
    corpus with a mass-duplicate group, rep/member/unique queries."""
    import numpy as np

    from datamine_v2_0_spark.operators import similarity as sim

    rng = np.random.RandomState(3)
    uniq = rng.standard_normal((40, 16)).astype("float64")
    rows = [(i, [float(x) for x in uniq[0]]) for i in range(25)]  # mass
    rows += [(25 + j, [float(x) for x in v]) for j, v in enumerate(uniq[1:])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = emb.filter(F.col("vec_id").isin(0, 3, 30, 50))
    for probe in (0, 2):
        for k in (3, 6):
            direct = sorted(map(tuple, sim.lsh_topk(
                emb, q, "embedding", "vec_id", dim=16, k=k,
                num_planes=16, bands=4, probe=probe,
            ).collect()))
            coll = sorted(map(tuple, sim.lsh_topk(
                emb, q, "embedding", "vec_id", dim=16, k=k,
                num_planes=16, bands=4, probe=probe,
                duplicate_collapse="always",
            ).collect()))
            assert coll == direct and direct, (probe, k)
            assert all(a != b for a, b, _ in coll)
    with pytest.raises(ValueError):
        sim.lsh_topk(emb, q, "embedding", "vec_id", dim=16,
                     duplicate_collapse="auto")


def test_embedding_neardup_duplicate_collapse_parity(spark):
    """Representative-collapsed embedding near-dup must match the direct
    LSH plan exactly on a corpus with a mass-duplicate vector group, a
    zero-vector group (never emitted — NaN on the direct path), and
    near-duplicate unique vectors."""
    import numpy as np

    from datamine_v2_0_spark.operators import similarity as sim  # noqa: F401

    rng = np.random.RandomState(5)
    v = rng.standard_normal(16)
    near = v + rng.standard_normal(16) * 0.01      # cos ~0.9999 with v
    far = rng.standard_normal(16)
    rows = [(i, [float(x) for x in v]) for i in range(12)]        # mass
    rows += [(20, [float(x) for x in near]), (21, [float(x) for x in far])]
    rows += [(30, [0.0] * 16), (31, [0.0] * 16)]                  # zeros
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    kw = dict(dim=16, threshold=0.9, num_planes=16, bands=8)
    direct = sorted(map(tuple, dd.embedding_neardup_pairs(
        emb, "embedding", "vec_id", **kw
    ).collect()))
    coll = sorted(map(tuple, dd.embedding_neardup_pairs(
        emb, "embedding", "vec_id", duplicate_collapse="always", **kw
    ).collect()))
    assert coll == direct and direct
    # the mass group's within pairs are present at exactly 1.0, the
    # zero-vector pair is absent, the near-dup rep pair fans correctly
    got = set((a, b) for a, b, _ in coll)
    assert (0, 1) in got and (10, 11) in got
    assert (30, 31) not in got
    assert (0, 20) in got  # near-dup of the mass vector, via rep fan-out
    # auto routes the 12-copy group as always does and must equal both
    # plans
    auto = sorted(map(tuple, dd.embedding_neardup_pairs(
        emb, "embedding", "vec_id", duplicate_collapse="auto", **kw
    ).collect()))
    assert auto == direct
    with pytest.raises(ValueError):
        dd.embedding_neardup_pairs(
            emb, "embedding", "vec_id", dim=16, duplicate_collapse="bogus"
        )


def test_ann_collapse_paths_layout_invariant(spark):
    """The opt-in collapse plans must be layout-deterministic: the
    registry determinism sweep only exercises default modes, so the
    collapsed fan-out joins + rank windows get their own two-layout
    compare (same data, different partitioning)."""
    import numpy as np

    from datamine_v2_0_spark.operators import similarity as sim

    rng = np.random.RandomState(17)
    uniq = rng.standard_normal((30, 16)).astype("float64")
    rows = [(i, [float(x) for x in uniq[0]]) for i in range(15)]
    rows += [(15 + j, [float(x) for x in v]) for j, v in enumerate(uniq[1:])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    alt = emb.repartition(7)
    q = emb.filter(F.col("vec_id").isin(0, 2, 20))
    qa = alt.filter(F.col("vec_id").isin(0, 2, 20))

    def rows_of(df):
        return sorted(map(tuple, df.collect()))

    assert rows_of(sim.cosine_topk(
        emb, q, "embedding", "vec_id", k=4, duplicate_collapse="always"
    )) == rows_of(sim.cosine_topk(
        alt, qa, "embedding", "vec_id", k=4, duplicate_collapse="always"
    ))
    assert rows_of(sim.lsh_topk(
        emb, q, "embedding", "vec_id", dim=16, k=4, num_planes=16,
        bands=4, probe=1, duplicate_collapse="always",
    )) == rows_of(sim.lsh_topk(
        alt, qa, "embedding", "vec_id", dim=16, k=4, num_planes=16,
        bands=4, probe=1, duplicate_collapse="always",
    ))
    assert rows_of(dd.embedding_neardup_pairs(
        emb, "embedding", "vec_id", dim=16, threshold=0.9,
        duplicate_collapse="always",
    )) == rows_of(dd.embedding_neardup_pairs(
        alt, "embedding", "vec_id", dim=16, threshold=0.9,
        duplicate_collapse="always",
    ))


def test_cosine_collapse_randomized_cross_validation(spark):
    """Seeded randomized check of the group-cover proof: random corpora
    with random duplicate-group structure, random query subsets, random
    k — collapsed must equal direct on every draw. Deterministic seeds
    (no flaky CI), 6 draws x one comparison each."""
    import numpy as np

    from datamine_v2_0_spark.operators import similarity as sim

    for seed in range(6):
        rng = np.random.RandomState(100 + seed)
        n_groups = rng.randint(3, 10)
        vecs = rng.standard_normal((n_groups, 8))
        rows, vid = [], 0
        for g in range(n_groups):
            for _ in range(rng.randint(1, 8)):
                rows.append((vid, [float(x) for x in vecs[g]]))
                vid += 1
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        qids = [int(i) for i in rng.choice(vid, size=min(4, vid), replace=False)]
        q = emb.filter(F.col("vec_id").isin(qids))
        k = int(rng.randint(1, vid + 2))
        direct = sorted(map(tuple, sim.cosine_topk(
            emb, q, "embedding", "vec_id", k=k
        ).collect()))
        coll = sorted(map(tuple, sim.cosine_topk(
            emb, q, "embedding", "vec_id", k=k, duplicate_collapse="always"
        ).collect()))
        assert coll == direct, (seed, k, qids)


def test_ivf_index_query_split_matches_one_shot(spark):
    """ivf_topk is (by construction) ivf_index + ivf_query; this pins
    the contract so the halves can't drift apart, and proves the index
    REUSE story: two different query batches answered from one build
    each match their own one-shot run (the one-shot would have re-fit
    and re-assigned the corpus per batch — the 10-100x term at 1M+
    vectors that motivated the split, ANN_AT_SCALE_r13)."""
    import os

    from datamine_v2_0_spark.operators import similarity as sim

    sf = "/root/testdata/sf0.001"
    if not os.path.isdir(sf):
        pytest.skip("driver testdata absent")
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    cells, C = sim.ivf_index(emb, "embedding", "vec_id", dim=64, n_cells=8)
    assert cells.columns == ["vec_id", "embedding", "cell"]
    assert C.shape == (8, 64)
    cells = cells.cache()
    for batch in (emb.orderBy("vec_id").limit(5),
                  emb.orderBy(F.desc("vec_id")).limit(7)):
        split = sorted(map(tuple, sim.ivf_query(
            cells, C, batch, "embedding", "vec_id", k=5, nprobe=4
        ).collect()))
        one_shot = sorted(map(tuple, sim.ivf_topk(
            emb, batch, "embedding", "vec_id", dim=64, k=5,
            n_cells=8, nprobe=4,
        ).collect()))
        assert split == one_shot
    cells.unpersist()


def test_ivf_index_empty_and_single_row_corpus(spark):
    """Degenerate ingests stay graceful through the split: an empty
    corpus yields a typed empty index and typed empty query results; a
    1-row corpus one zero centroid and a single cell holding the row."""
    from datamine_v2_0_spark.operators import similarity as sim

    schema = "vec_id long, embedding array<float>"
    empty = spark.createDataFrame([], schema)
    cells, C = sim.ivf_index(empty, "embedding", "vec_id", dim=4)
    assert C.shape == (0, 4) and cells.count() == 0
    q = spark.createDataFrame([(1, [1.0, 0.0, 0.0, 0.0])], schema)
    out = sim.ivf_query(cells, C, q, "embedding", "vec_id", k=3)
    assert out.columns == ["query_id", "neighbor_id", "cos_sim"]
    assert out.count() == 0
    one = spark.createDataFrame([(7, [1.0, 0.0, 0.0, 0.0])], schema)
    cells1, C1 = sim.ivf_index(one, "embedding", "vec_id", dim=4)
    assert C1.shape == (1, 4) and not C1.any()
    got = sim.ivf_query(cells1, C1, q, "embedding", "vec_id", k=3).collect()
    assert [(r["query_id"], r["neighbor_id"]) for r in got] == [(1, 7)]


def test_exact_percentiles_sorted_skewed_parallel_shape(spark):
    """The histogram-pruned two-pass must (a) match the hashmap variant
    bit-for-bit on a skewed fixture — one giant group, one tiny group,
    one all-equal group, duplicates straddling bucket boundaries — and
    (b) contain NO per-group global sort window: the only row_number
    runs per (group, bucket), so a mega group parallelizes
    ~buckets-ways instead of serializing onto one task."""
    from datamine_v2_0_spark.operators import aggregates as agg
    from datamine_v2_0_spark.plans import executed_plan

    rows = [Row(g="big", v=float((i * 37) % 5000) / 7.0) for i in range(20000)]
    rows += [Row(g="big", v=123.456)] * 50          # heavy duplicate run
    rows += [Row(g="tiny", v=float(v)) for v in (3, 1, 2)]
    rows += [Row(g="const", v=42.0)] * 9            # min == max shortcut
    rows += [Row(g="nul", v=None)]
    df = spark.createDataFrame(rows, "g string, v double")
    qs = (0.25, 0.5, 0.75, 0.95, 0.999)
    # reference = the operator's own documented 1-based interpolation
    # (pos = 1 + (n-1)q) over a python sort; Spark's percentile() uses
    # the 0-based form of the same math, which can differ by one ulp at
    # extreme q (pre-existing, both forms are PERCENTILE_CONT)
    import math
    from collections import defaultdict

    vals = defaultdict(list)
    for r in rows:
        if r.v is not None:
            vals[r.g].append(r.v)
    expect = {}
    for g, vs in vals.items():
        vs.sort()
        row = {}
        for q in qs:
            pos = 1 + (len(vs) - 1) * q
            lo, hi = math.floor(pos), math.ceil(pos)
            frac = pos - lo
            row[agg._pct_name(q)] = vs[lo - 1] + (vs[hi - 1] - vs[lo - 1]) * frac
        expect[g] = row
    out = agg.exact_percentiles_sorted(
        df, ["g"], "v", qs, buckets=16, two_pass="always"
    )
    got = {r["g"]: r for r in out.collect()}
    assert set(got) == {"big", "tiny", "const", "nul"}
    for g in got:
        for q in qs:
            c = agg._pct_name(q)
            if g == "nul":
                assert got[g][c] is None, (g, c)
            else:
                assert got[g][c] == expect[g][c], (g, c)
    # bit-equality BETWEEN the two layouts at every tested quantile —
    # the adaptive switch must be invisible in results
    one = {
        r["g"]: r
        for r in agg.exact_percentiles_sorted(
            df, ["g"], "v", qs, two_pass="never"
        ).collect()
    }
    for g in one:
        for q in qs:
            c = agg._pct_name(q)
            assert (got[g][c] is None) if one[g][c] is None else (
                got[g][c] == one[g][c]
            ), (g, c)
    # plan shape: every row_number window partitions by (keys..., __b) —
    # a window keyed on the group alone would re-serialize the group
    plan = executed_plan(out)
    import re

    for m in re.finditer(r"row_number\(\).*?windowspecdefinition\(([^,]+),\s*([^,]+),", plan):
        assert "__b" in m.group(2), plan[:2000]

    # empty keys have never been supported here (the NULL-group
    # right-join needs a key); the error must be loud, not an
    # IndexError from join(on=[])
    import pytest as _pytest

    with _pytest.raises(ValueError, match="at least one key"):
        agg.exact_percentiles_sorted(df, [], "v", qs)
