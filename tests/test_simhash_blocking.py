"""Scale-safe Hamming blocking (round-2 verdict #1).

1. Completeness vs brute force: the subset-key bucketing must recover
   EVERY pair within Hamming d (pigeonhole proof exercised end-to-end
   through Spark on a 64-bit hash column, as for the image phash).
2. Asymptotics (pure numpy, no Spark): on biased-bit hashes where the
   old single-16-bit-block scheme piles >1k rows into hot buckets, the
   subset-key scheme's candidate count must be orders of magnitude
   smaller — O(n)-ish per-row load, not O(n²/2^16).
"""

import numpy as np
import pytest

from gis_tools_spark.operators.dedup import hamming_near_dups, simhash_blocking


def _np_keys_subset(h: np.ndarray, d: int, n_blocks: int | None = None):
    """(blk_id, key) emissions of the NEW scheme for a hash array."""
    bounds, combos = simhash_blocking(d, n_blocks)
    blocks = [(h >> np.uint64(bounds[i]))
              & np.uint64(((1 << (bounds[i + 1] - bounds[i])) - 1)
                          & 0xFFFFFFFFFFFFFFFF)
              for i in range(len(bounds) - 1)]
    out = []
    for ci, combo in enumerate(combos):
        # exact concatenation as the key (test-side stand-in for xxhash64:
        # equal blocks <-> equal key, same bucketing; wrap-around on
        # >64-bit concatenations only ADDS collisions, never loses pairs)
        key = np.zeros_like(h)
        for j in combo:
            width = min(63, bounds[j + 1] - bounds[j])
            key = (key << np.uint64(width)) ^ blocks[j]
        out.append((ci, key))
    return out


def _np_keys_old(h: np.ndarray, d: int):
    """Emissions of the OLD scheme: single blocks, max(4, d+1) of them."""
    nb = max(4, d + 1)
    bounds = [round(i * 64 / nb) for i in range(nb + 1)]
    return [(i, (h >> np.uint64(bounds[i]))
             & np.uint64((1 << (bounds[i + 1] - bounds[i])) - 1))
            for i in range(nb)]


def _candidate_count(emissions) -> int:
    tot = 0
    for _, keys in emissions:
        _, counts = np.unique(keys, return_counts=True)
        tot += int((counts * (counts - 1) // 2).sum())
    return tot


def _max_bucket(emissions) -> int:
    mx = 0
    for _, keys in emissions:
        _, counts = np.unique(keys, return_counts=True)
        mx = max(mx, int(counts.max()))
    return mx


def test_subset_keys_pigeonhole_complete_numpy():
    """Every pair within Hamming d shares at least one (blk, key)."""
    rng = np.random.default_rng(7)
    base = rng.integers(0, 1 << 63, 200, dtype=np.uint64)
    for d in (1, 3, 5):
        # perturb each base hash by exactly d random bit flips
        flips = np.zeros_like(base)
        for i in range(len(base)):
            for b in rng.choice(64, d, replace=False):
                flips[i] |= np.uint64(1) << np.uint64(b)
        pert = base ^ flips
        ka = _np_keys_subset(base, d)
        kb = _np_keys_subset(pert, d)
        shared = np.zeros(len(base), dtype=bool)
        for (ci, key_a), (_, key_b) in zip(ka, kb):
            shared |= key_a == key_b
        assert shared.all(), f"missed pairs at d={d}"


def test_candidate_count_scales_linearly_not_quadratically():
    """Biased bits (p=0.75 per bit) make the old 16-bit buckets hot:
    the most likely block value collects ~0.75^16*n ≈ 1% of all rows
    (>1k rows at n=150k, the round-2 verdict's blow-up scenario). The
    subset scheme must cut candidates by >= 50x on the same input."""
    rng = np.random.default_rng(11)
    n = 150_000
    bits = rng.random((n, 64)) < 0.75
    h = np.zeros(n, dtype=np.uint64)
    for b in range(64):
        h |= bits[:, b].astype(np.uint64) << np.uint64(b)

    old_cands = _candidate_count(_np_keys_old(h, 3))
    new_cands = _candidate_count(_np_keys_subset(h, 3))
    assert _max_bucket(_np_keys_old(h, 3)) > 1000  # the scenario is real
    assert old_cands > 50 * max(new_cands, 1), (old_cands, new_cands)
    # per-row candidate load stays O(1): linear total, not quadratic
    assert new_cands < 20 * n, new_cands


def _signed(v: int) -> int:
    return v - (1 << 64) if v >= 1 << 63 else v


@pytest.mark.parametrize("d", [0, 3, 5])
def test_simhash_near_dups_matches_brute_force(spark, d):
    rng = np.random.default_rng(3)
    hashes = {i: int(h) for i, h in
              enumerate(rng.integers(0, 1 << 64, 120, dtype=np.uint64))}
    # plant neighbours of row i at Hamming 0..d+1, straddling the cut
    for i in range(40):
        flips = rng.choice(64, i % (d + 2), replace=False)
        hashes[200 + i] = hashes[i] ^ sum(1 << int(b) for b in flips)
    df = spark.createDataFrame([(k, _signed(v)) for k, v in hashes.items()],
                               "id long, h long")

    ids = sorted(hashes)
    expect = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            if bin(hashes[a] ^ hashes[b]).count("1") <= d:
                expect.add((a, b))
    assert len(expect) >= 2

    got = {(r["id_a"], r["id_b"])
           for r in hamming_near_dups(df, hash_col="h", id_col="id",
                                      max_hamming=d).collect()}
    assert got == expect
