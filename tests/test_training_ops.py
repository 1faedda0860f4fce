"""Image-hash dedup operators vs brute-force oracles."""


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
