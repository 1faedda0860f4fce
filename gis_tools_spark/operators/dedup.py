"""Near-duplicate detection on 64-bit hash columns: pigeonhole
subset-key blocking for Hamming-distance pairs (the image ``phash``
path) and the pairs → clusters → keep-one decision over them.

Scale design: every variant reduces to groupBy/join on small
fixed-width keys — shuffle volume is O(rows × blocks), never O(rows²);
only within-bucket candidate pairs are scored.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .core import cache_scope


def simhash_blocking(max_hamming: int, n_blocks: int | None = None
                     ) -> tuple[list[int], list[tuple[int, ...]]]:
    """Block boundaries + key subsets for Hamming-≤d bucketing.

    Pigeonhole completeness: ≤ d differing bits flip at most d of the
    n_blocks blocks, so at least (n_blocks − d) blocks AGREE — and every
    (n_blocks − d)-subset of those agreeing blocks is a key both rows
    emit. Emitting one key per (n_blocks − d)-subset therefore finds
    every pair within distance d.

    Scale (round-2 verdict #1): the old scheme joined on SINGLE
    ~16-bit blocks, so bucket population grows as n/2^16 and in-bucket
    candidate pairs as O(n²/2^16) — ~10^13 pairs at 10^9 rows. Subset
    keys concatenate (n_blocks − d) blocks: with the default
    n_blocks = d+3 (e.g. 6 blocks at d=3) each key carries
    64·(n_blocks−d)/n_blocks ≈ 32+ bits, so expected bucket load is
    n·C(n_blocks,d)/2^32 — candidates stay O(n) out to billions of
    uniformly-distributed hashes. Cost: C(n_blocks, d) emissions per row
    (20 at d=3) instead of d+1.
    """
    from itertools import combinations

    d = max_hamming
    if n_blocks is None:
        n_blocks = d + 3 if d else 1
    if n_blocks <= d:
        raise ValueError(f"n_blocks ({n_blocks}) must exceed max_hamming ({d})")
    bounds = [round(i * 64 / n_blocks) for i in range(n_blocks + 1)]
    combos = list(combinations(range(n_blocks), n_blocks - d))
    return bounds, combos


def hamming_near_dups(df: DataFrame, *, hash_col: str, id_col: str,
                      max_hamming: int = 3,
                      n_blocks: int | None = None) -> DataFrame:
    """Pairs within Hamming distance ≤ max_hamming on a 64-bit hash
    column (e.g. the image ``phash``), via pigeonhole subset-key
    blocking (see simhash_blocking): each row emits one xxhash key per
    (n_blocks − d)-subset of its blocks; equal keys equi-join; an exact
    popcount filter confirms. Key collisions can only ADD candidates,
    never lose pairs. Returns (id_a, id_b, hamming), id_a < id_b, as
    an eager local checkpoint.

    Scale note: the OUTPUT (and hence the join) is inherently quadratic
    in the size of any group of identical hashes — every pair of
    hash-equal rows is within any distance. Collapse exact duplicates
    first (groupBy(hash_col)) when the table contains mass-duplicated
    payloads; the blocking itself stays O(rows·C)."""
    if not 0 <= max_hamming < 64:
        raise ValueError(f"max_hamming must be in [0, 64), got {max_hamming}")
    bounds, combos = simhash_blocking(max_hamming, n_blocks)
    block_col = []
    for i in range(len(bounds) - 1):
        width = bounds[i + 1] - bounds[i]
        c = F.shiftrightunsigned(F.col(hash_col), bounds[i])
        if width < 64:  # width 64 = whole hash (d=0, single block)
            c = c.bitwiseAND(F.lit((1 << width) - 1))
        block_col.append(c)
    keys = F.array(*[
        F.xxhash64(F.lit(ci), *[block_col[j] for j in combo])
        for ci, combo in enumerate(combos)])
    # keep: both sides of the self-join share this lineage — without
    # it an upstream hash kernel (e.g. a phash decode) runs twice, once
    # per join side
    e = df.select(id_col, hash_col, F.posexplode(keys).alias("blk", "key"))
    a = e.select(F.col(id_col).alias("id_a"), F.col(hash_col).alias("h_a"), "blk", "key")
    b = e.select(F.col(id_col).alias("id_b"), F.col(hash_col).alias("h_b"), "blk", "key")
    cand = (a.join(b, on=["blk", "key"]).where(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", "h_a", "h_b").distinct())
    ham = F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b")))
    with cache_scope() as keep:
        keep(e)
        return (cand.withColumn("hamming", ham)
                .where(F.col("hamming") <= max_hamming)
                .select("id_a", "id_b", "hamming")
                .localCheckpoint(eager=True))


def image_near_dups(df: DataFrame, *, phash_col: str = "phash",
                    id_col: str = "image_id",
                    max_hamming: int = 6) -> DataFrame:
    """Near-duplicate IMAGE pairs: Hamming blocking on the 64-bit
    perceptual hash column every image table in the engine carries
    (raster/codec.phash64 — DCT low-frequency signs); O(rows·C)
    shuffle, no O(rows²)."""
    return hamming_near_dups(df, hash_col=phash_col, id_col=id_col,
                             max_hamming=max_hamming)


def hamming_dedup_clusters(df: DataFrame, *, hash_col: str,
                           id_col: str, max_hamming: int = 3,
                           n_blocks: int | None = None,
                           max_iter: int = 64) -> DataFrame:
    """Image near-dup dedup DECISION for 64-bit perceptual hashes:
    :func:`hamming_near_dups` pairs → connected components →
    keep-one-per-cluster (canonical = minimum id).  One row per input
    id: ``(id, cluster_id, keep)``.

    Scale plan: the pair set is pigeonhole-blocked (O(rows·C(n_blocks,d)) candidates, never
    O(rows²)), only the (much smaller) duplicate graph enters the
    O(log diameter) component rounds, and the decision is one left
    join against the corpus scan.  Collapse exact hash duplicates
    first on mass-duplicated corpora (see hamming_near_dups note)."""
    from .network import connected_components

    pairs = hamming_near_dups(df, hash_col=hash_col, id_col=id_col,
                              max_hamming=max_hamming, n_blocks=n_blocks)
    edges = pairs.select(F.col("id_a").alias("src_key"),
                         F.col("id_b").alias("dst_key"))
    comps = connected_components(edges, max_iter=max_iter)
    # min-label propagation converges to the minimum node id per
    # component, so `component` doubles as the canonical keep id
    out = (df.select(F.col(id_col))
           .join(comps.withColumnRenamed("node", id_col), on=id_col,
                 how="left")
           .select(F.col(id_col),
                   F.coalesce(F.col("component"), F.col(id_col))
                   .alias("cluster_id")))
    return out.withColumn(
        "keep", (F.col("cluster_id") == F.col(id_col)).cast("int"))
