"""Image-hash dedup / similarity-search / embedding-dedup operators vs
numpy and brute-force oracles."""

import numpy as np
import pandas as pd
import pytest

from gis_tools_spark.operators.simsearch import brute_force_topk, ivf_topk, lsh_topk


@pytest.fixture(scope="module")
def emb(spark):
    rng = np.random.default_rng(5)
    # 3 well-separated clusters so ANN recall is reliable
    centers = rng.normal(0, 1, (3, 16))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows = []
    for i in range(90):
        c = centers[i % 3]
        v = c + rng.normal(0, 0.05, 16)
        rows.append((i, (v / np.linalg.norm(v)).astype(float).tolist()))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>"), rows


def test_brute_force_topk_matches_numpy(emb):
    df, rows = emb
    got = brute_force_topk(df, df, k=3).toPandas()
    M = np.array([r[1] for r in rows])
    S = M @ M.T
    for qid in (0, 7, 33):
        s = S[qid].copy()
        s[qid] = -np.inf
        want = list(np.argsort(-s, kind="stable")[:3])
        have = list(got[got.vec_id == qid].sort_values("rank")["neighbor_id"])
        assert have == want, qid


@pytest.mark.parametrize("fn", [lsh_topk, ivf_topk])
def test_ann_recall(emb, fn):
    df, rows = emb
    kw = {"dim": 16} if fn is lsh_topk else {}
    approx = fn(df, df, k=3, **kw).toPandas()
    exact = brute_force_topk(df, df, k=3).toPandas()
    # recall@3 ≥ 0.8 on well-separated clusters
    hits = tot = 0
    for qid, grp in exact.groupby("vec_id"):
        want = set(grp["neighbor_id"])
        have = set(approx[approx.vec_id == qid]["neighbor_id"])
        hits += len(want & have)
        tot += len(want)
    assert hits / tot >= 0.8, hits / tot


def test_ivf_full_probe_is_exact(emb):
    """With injected modulo centroids and nprobe == n_centroids the IVF
    candidate set covers the whole corpus, so top-k must equal the exact
    brute-force answer — verifies the injectable-quantizer path and the
    rounded-dot deterministic assignment end-to-end."""
    from gis_tools_spark.operators.simsearch import modulo_centroids

    df, rows = emb
    C = modulo_centroids(df, n_centroids=4, round_dp=6)
    assert C.shape == (4, 16)
    assert np.allclose(np.linalg.norm(C, axis=1), 1.0, atol=1e-5)
    approx = ivf_topk(df, df, k=3, n_centroids=4, nprobe=4,
                      centroids=C, round_dp=6).toPandas()
    exact = brute_force_topk(df, df, k=3).toPandas()
    a = approx.sort_values(["vec_id", "rank"]).reset_index(drop=True)
    e = exact.sort_values(["vec_id", "rank"]).reset_index(drop=True)
    assert list(a["neighbor_id"]) == list(e["neighbor_id"])


def test_embedding_near_dups_vs_bruteforce(spark):
    """LSH near-dup pairs must be a SUBSET of brute-force pairs at the
    same threshold (no false positives after exact rescore) and catch
    the planted near-duplicates (high-cosine pairs collide with high
    probability)."""
    import numpy as np
    from gis_tools_spark.operators.simsearch import embedding_near_dups

    rng = np.random.default_rng(11)
    base = rng.normal(0, 1, (40, 16))
    rows = [(i, base[i].tolist()) for i in range(40)]
    # planted near-dups: tiny perturbations of rows 0..4
    for j in range(5):
        v = base[j] + rng.normal(0, 0.02, 16)
        rows.append((100 + j, v.tolist()))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = embedding_near_dups(df, threshold=0.9, dim=16, n_planes=6,
                              n_tables=8, seed=3).collect()
    got = {(r["id_a"], r["id_b"]) for r in out}
    # brute force in numpy
    V = np.array([r[1] for r in rows])
    V = V / np.linalg.norm(V, axis=1, keepdims=True)
    ids = [r[0] for r in rows]
    C = V @ V.T
    want = {(min(ids[i], ids[j]), max(ids[i], ids[j]))
            for i in range(len(ids)) for j in range(i + 1, len(ids))
            if round(C[i, j], 6) >= 0.9}
    assert got <= want                       # exact rescore: no extras
    planted = {(j, 100 + j) for j in range(5)}
    assert planted <= want
    assert len(got & planted) >= 4           # 8 tables: near-certain recall
    for r in out:
        assert r["cos_r"] >= 0.9


def test_exact_topk_block_pair_parity(spark):
    """Round-3 block-pair rewrite: splitting the corpus into 8 blocks
    must give bit-identical top-k to the single-block path (block-local
    top-k + global window is exact for any block count)."""
    import numpy as np
    from gis_tools_spark.operators.simsearch import exact_topk_blocked

    rng = np.random.default_rng(4)
    rows = [(i, rng.normal(0, 1, 16).tolist()) for i in range(120)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    one = exact_topk_blocked(df, k=3, vec_col="embedding").orderBy(
        "id_a", "id_b").collect()
    many = exact_topk_blocked(df, k=3, vec_col="embedding",
                              block_rows=16).orderBy("id_a", "id_b").collect()
    assert one == many
    assert len(one) == 120 * 3


def test_image_near_dups_phash(spark):
    """Perceptual-hash image near-dup: derivative images (small noise)
    pair with their source; unrelated images don't; results equal the
    brute-force Hamming filter."""
    import numpy as np
    from gis_tools_spark import fixtures
    from gis_tools_spark.operators.dedup import image_near_dups
    from gis_tools_spark.raster import codec

    rng = np.random.default_rng(5)
    rows = []
    arrs = []
    for i in range(30):
        a = rng.integers(0, 256, (32, 32), dtype=np.uint8)
        # smooth so phash is stable under mild noise
        a = (a.astype(np.float64) + np.roll(a, 1, 0) + np.roll(a, 1, 1)) / 3
        a = a.astype(np.uint8)
        arrs.append(a)
        rows.append((f"src{i:03d}", codec.phash64(a)))
    for i in range(0, 30, 3):  # every 3rd image gets a near-duplicate
        noisy = np.clip(arrs[i].astype(np.int64)
                        + rng.integers(-2, 3, arrs[i].shape), 0, 255).astype(np.uint8)
        rows.append((f"dup{i:03d}", codec.phash64(noisy)))
    df = spark.createDataFrame(rows, "image_id string, phash long")
    got = {(r.id_a, r.id_b): r.hamming
           for r in image_near_dups(df, max_hamming=8).collect()}
    # brute force oracle
    want = {}
    for i, (ida, ha) in enumerate(rows):
        for idb, hb in rows[i + 1:]:
            d = bin((ha ^ hb) & 0xFFFFFFFFFFFFFFFF).count("1")
            if d <= 8:
                k = (ida, idb) if ida < idb else (idb, ida)
                want[k] = d
    assert got == want
    # the derivative images actually pair with their sources
    paired = {a for a, _ in got} | {b for _, b in got}
    assert sum(1 for i in range(0, 30, 3)
               if f"dup{i:03d}" in paired and f"src{i:03d}" in paired) >= 8


def test_hamming_dedup_clusters_keep(spark):
    """Image-hash dedup decision: flipped-low-bit duplicates cluster
    under the lexicographically-minimum id; distant hashes survive."""
    from gis_tools_spark.operators.dedup import hamming_dedup_clusters

    import hashlib

    def h64(s):
        v = int.from_bytes(hashlib.md5(s.encode()).digest()[:8], "big")
        return v - (1 << 64) if v >= (1 << 63) else v

    rows = []
    for i in range(12):
        base = h64(f"img{i}")
        rows.append((f"a{i:02d}", base))
        if i % 2 == 0:  # near-dup: flip two low bits
            rows.append((f"z{i:02d}", base ^ 0b11))
    df = spark.createDataFrame(rows, ["image_id", "phash"])
    out = hamming_dedup_clusters(df, hash_col="phash", id_col="image_id",
                                 max_hamming=3).toPandas()
    assert sorted(out.image_id) == sorted(r[0] for r in rows)
    got = dict(zip(out.image_id, out.cluster_id))
    for i in range(12):
        if i % 2 == 0:
            assert got[f"z{i:02d}"] == f"a{i:02d}"
        assert got[f"a{i:02d}"] == f"a{i:02d}"
    keep = set(out[out.keep == 1].image_id)
    assert keep == {f"a{i:02d}" for i in range(12)}


def test_semdedup_decision_vs_bruteforce(emb):
    """SemDeDup (cluster-bounded semantic dedup): the decision agrees
    with a local union-find over brute-force within-cluster cosine
    pairs, computed from the SAME injected deterministic quantizer; the
    tight 3-cluster fixture collapses to roughly one survivor per
    semantic cluster at a 0.95 threshold."""
    from gis_tools_spark.operators.simsearch import (
        modulo_centroids, semdedup, semdedup_pairs)

    df, rows = emb
    C = modulo_centroids(df, n_centroids=4, round_dp=6)
    out = semdedup(df, threshold=0.95, centroids=C, round_dp=6).toPandas()
    assert sorted(out["vec_id"]) == [r[0] for r in rows]

    ids = np.array([r[0] for r in rows])
    V = np.array([r[1] for r in rows], dtype=np.float64)
    Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
    S0 = np.round(Vn @ C.T, 6)
    assign = np.argsort(-S0, axis=1, kind="stable")[:, 0]
    S = np.round(Vn @ Vn.T, 6)

    parent = {int(i): int(i) for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    n_pairs = 0
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            if assign[i] == assign[j] and S[i, j] >= 0.95:
                n_pairs += 1
                ra, rb = find(int(ids[i])), find(int(ids[j]))
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
    want = {d: find(d) for d in parent}

    got = dict(zip(out["vec_id"].astype(int), out["cluster_id"].astype(int)))
    assert got == want
    got_sem = dict(zip(out["vec_id"].astype(int), out["sem_cluster"]))
    assert all(got_sem[int(ids[k])] == assign[k] for k in range(len(ids)))
    for _, r in out.iterrows():
        assert int(r.keep) == int(int(r.vec_id) == int(r.cluster_id))
    # tight clusters (sigma 0.05) deduplicate hard: ≤ 12 survivors of 90
    assert out["keep"].sum() <= 12

    p = semdedup_pairs(df, threshold=0.95, centroids=C, round_dp=6).count()
    assert p == n_pairs


def test_semdedup_repartition_invariant(emb):
    """The decision is a pure function of the data — physical layout
    (partition count/order) must not change any row."""
    from gis_tools_spark.operators.simsearch import modulo_centroids, semdedup

    df, _ = emb
    C = modulo_centroids(df, n_centroids=4, round_dp=6)
    a = (semdedup(df, threshold=0.95, centroids=C, round_dp=6)
         .toPandas().sort_values("vec_id").reset_index(drop=True))
    b = (semdedup(df.repartition(7), threshold=0.95, centroids=C, round_dp=6)
         .toPandas().sort_values("vec_id").reset_index(drop=True))
    pd.testing.assert_frame_equal(a, b)


def test_semdedup_kmeans_production_path(emb):
    """The k-means quantizer path (no injected centroids) still returns
    one decision row per vector and respects the keep contract."""
    from gis_tools_spark.operators.simsearch import semdedup

    df, rows = emb
    out = semdedup(df, threshold=0.95, n_clusters=3, seed=11).toPandas()
    assert len(out) == len(rows)
    for _, r in out.iterrows():
        assert int(r.keep) == int(int(r.vec_id) == int(r.cluster_id))
    # 3 trained centroids on 3 tight blobs: heavy dedup expected
    assert out["keep"].sum() <= 12


