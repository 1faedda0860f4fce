"""Similarity search over embedding columns (array<float>).

- brute_force_topk: exact cosine top-k (baseline; crossJoin — keep for
  small query sets or verification).
- lsh_topk: random-hyperplane LSH bucketing → candidate join → exact
  rescoring (the scale path: shuffle is O(rows × tables), candidates per
  query bounded by bucket sizes, never a full cross product).
- ivf_topk: IVF-style coarse quantizer (k-means-lite centroids trained
  on a sample) → probe nearest `nprobe` centroid buckets.

All vector math runs vectorized in numpy inside Arrow-batched UDFs; the
bucket joins are plain Catalyst equi-joins (sort-merge / broadcast).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F, types as T


def _cosine_expr(a: str, b: str):
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0),
                      lambda acc, x: acc + x)
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda acc, x: acc + x * x))
    return dot / (na * nb)


def brute_force_topk(queries: DataFrame, corpus: DataFrame, *, k: int = 10,
                     vec_col: str = "embedding", id_col: str = "vec_id") -> DataFrame:
    """Exact cosine top-k per query via a vectorized numpy pass with the
    corpus broadcast (matrix-matrix product per Arrow batch)."""
    rows = corpus.select(id_col, vec_col).collect()
    ids = np.array([r[id_col] for r in rows])
    M = np.array([r[vec_col] for r in rows], dtype=np.float64)
    M /= np.linalg.norm(M, axis=1, keepdims=True)
    bc = queries.sparkSession.sparkContext.broadcast((ids, M))

    out_schema = T.StructType([
        queries.schema[id_col],
        T.StructField("neighbor_id", queries.schema[id_col].dataType),
        T.StructField("cosine", T.DoubleType()),
        T.StructField("rank", T.IntegerType()),
    ])

    def _run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids_, M_ = bc.value
        for pdf in it:
            if len(pdf) == 0:
                continue
            Q = np.array(list(pdf[vec_col]), dtype=np.float64)
            Q /= np.linalg.norm(Q, axis=1, keepdims=True)
            S = Q @ M_.T                       # (nq, nc)
            qids = pdf[id_col].values
            recs = []
            for i in range(len(pdf)):
                s = S[i]
                # exclude self-match
                order = np.argsort(-s, kind="stable")
                rank = 0
                for j in order:
                    if ids_[j] == qids[i]:
                        continue
                    recs.append((qids[i], ids_[j], float(s[j]), rank))
                    rank += 1
                    if rank >= k:
                        break
            yield pd.DataFrame(recs, columns=[id_col, "neighbor_id", "cosine", "rank"])

    return queries.select(id_col, vec_col).mapInPandas(_run, schema=out_schema)


def exact_topk_blocked(corpus: DataFrame, *, k: int = 1,
                       vec_col: str = "embedding", id_col: str = "vec_id",
                       block_rows: int = 8192, round_dp: int = 6) -> DataFrame:
    """Exact cosine top-k of every corpus row vs the whole corpus with
    NO driver-side collect (fixes the round-1 embed_top1 scale-killer).

    BOTH sides are packed into bounded row-blocks (deterministic id
    hash), each block one (ids, matrix) row; the cross join is over
    BLOCK PAIRS — n_blocks² rows, each carrying two matrices exactly
    once. (Round 2 cross-joined raw query ROWS against packed blocks,
    so every joined row duplicated the whole block blob through Arrow:
    n x block_bytes of serialization — 2 GB at the 2000-row bench
    corpus, and the same per-row duplication tax at any scale.) One
    BLAS matmul scores each pair, per-query block-local top-k survives,
    and a global window picks the final k. Shuffle = O(n_blocks² ×
    block_bytes + n × n_blocks × k) — the same n²·dim·8/block_rows
    matrix volume as before, but in n_blocks² rows instead of
    n × n_blocks blob copies; executor memory is bounded by two blocks.
    Compute stays O(n²) flops — inherent to the exact baseline; the
    LSH/IVF paths are the approximate scale-out.

    Ties broken on (round(cos, round_dp) desc, neighbor_id) to match the
    SQL oracle exactly.
    """
    n = corpus.count()
    n_blocks = max(1, -(-n // block_rows))
    src = corpus.select(id_col, F.col(vec_col).cast("array<double>").alias("v"))
    blk = src.withColumn("__blk", F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)))

    pack_schema = T.StructType([
        T.StructField("__blk", T.LongType()),
        T.StructField("ids", T.BinaryType()),
        T.StructField("mat", T.BinaryType()),
    ])

    def _pack(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf[id_col].to_numpy(dtype=np.int64)
        M = np.array(list(pdf["v"]), dtype=np.float64)
        return pd.DataFrame({"__blk": [int(pdf["__blk"].iloc[0])],
                             "ids": [ids.tobytes()], "mat": [M.tobytes()]})

    # persist: both sides of the block-pair cross join share this
    # lineage — without it the pack kernel (and its shuffle) runs twice
    packed = blk.groupBy("__blk").applyInPandas(_pack, schema=pack_schema).persist()
    # block-pair cross join; repartition spreads the n_blocks² pairs
    # across the cluster (one pair per task up to 4 waves/core)
    pairs = (packed.select(F.col("ids").alias("ids_q"),
                           F.col("mat").alias("mat_q"))
             .crossJoin(packed.select(F.col("ids").alias("ids_c"),
                                      F.col("mat").alias("mat_c"))))
    sc_ = corpus.sparkSession.sparkContext
    pairs = pairs.repartition(
        max(1, min(n_blocks * n_blocks, sc_.defaultParallelism * 4)))

    out_schema = T.StructType([
        T.StructField("id_a", T.LongType()),
        T.StructField("id_b", T.LongType()),
        T.StructField("cos_r", T.DoubleType()),
    ])

    def _score(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            recs = []
            for r in range(len(pdf)):
                qids = np.frombuffer(pdf["ids_q"].iloc[r], dtype=np.int64)
                cids = np.frombuffer(pdf["ids_c"].iloc[r], dtype=np.int64)
                Q = np.frombuffer(pdf["mat_q"].iloc[r], dtype=np.float64) \
                    .reshape(len(qids), -1)
                M = np.frombuffer(pdf["mat_c"].iloc[r], dtype=np.float64) \
                    .reshape(len(cids), -1)
                Qn = np.linalg.norm(Q, axis=1)
                Mn = np.linalg.norm(M, axis=1)
                S = np.round((Q @ M.T) / (Qn[:, None] * Mn[None, :]), round_dp)
                S[qids[:, None] == cids[None, :]] = -np.inf  # self-pairs out
                kk = min(k, S.shape[1])
                for i in range(len(qids)):
                    s = S[i]
                    if kk < S.shape[1]:
                        top = np.argpartition(-s, kk - 1)[:kk]
                    else:
                        top = np.arange(S.shape[1])
                    order = np.lexsort((cids[top], -s[top]))
                    for j in top[order][:kk]:
                        if np.isfinite(s[j]):
                            recs.append((int(qids[i]), int(cids[j]),
                                         float(s[j])))
            if recs:
                yield pd.DataFrame(recs, columns=["id_a", "id_b", "cos_r"])

    local = pairs.mapInPandas(_score, schema=out_schema)
    w = Window.partitionBy("id_a").orderBy(F.col("cos_r").desc(), F.col("id_b"))
    from ..operators.core import persist_scoped

    return persist_scoped(packed,
                          local.withColumn("__rn", F.row_number().over(w))
                          .where(F.col("__rn") <= k).drop("__rn"))


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> np.ndarray:
    return np.random.default_rng(seed).normal(0, 1, (n_planes, dim))


def lsh_bucket_udf(dim: int, n_planes: int = 16, n_tables: int = 4, seed: int = 42):
    """array<vector> → array<long> of n_tables bucket keys (sign pattern
    of n_planes random hyperplanes per table)."""
    planes = [_hyperplanes(dim, n_planes, seed + t) for t in range(n_tables)]

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def _buckets(vecs: pd.Series) -> pd.Series:
        V = np.array(list(vecs), dtype=np.float64)
        out = np.empty((len(V), len(planes)), dtype=np.int64)
        for t, P in enumerate(planes):
            signs = (V @ P.T) > 0                      # (n, n_planes)
            keys = np.zeros(len(V), dtype=np.int64)
            for b in range(P.shape[0]):
                keys |= signs[:, b].astype(np.int64) << b
            out[:, t] = (np.int64(t) << 48) | keys
        return pd.Series(list(out))

    return _buckets


def lsh_topk(queries: DataFrame, corpus: DataFrame, *, k: int = 10, dim: int,
             vec_col: str = "embedding", id_col: str = "vec_id",
             n_planes: int = 14, n_tables: int = 6, seed: int = 42) -> DataFrame:
    """Approximate top-k: bucket-join on LSH keys then exact cosine rescore
    + window pick. Recall grows with n_tables; cost stays linear.

    Physical-shape note: LSH yields MANY SMALL buckets (2^n_planes per
    table), so the pair equi-join is the right plan here; the cogrouped
    per-bucket matmul used by ivf_topk wins only for few-large-bucket
    quantizers (per-group pandas overhead would dominate at 2^14+
    groups)."""
    bud = lsh_bucket_udf(dim, n_planes, n_tables, seed)
    if queries is corpus:
        # self-search: bucket the table ONCE (persisted) and derive both
        # join sides from it instead of running the hyperplane UDF twice
        shared = (queries.select(id_col,
                                 F.col(vec_col).cast("array<double>").alias("vq"))
                  .withColumn("bucket", F.explode(bud(F.col("vq")))).persist())
        qb = shared
        cb = shared.select(F.col(id_col).alias("neighbor_id"),
                           F.col("vq").alias("vc"), "bucket")
    else:
        qb = (queries.select(id_col, F.col(vec_col).cast("array<double>").alias("vq"))
              .withColumn("bucket", F.explode(bud(F.col("vq")))))
        cb = (corpus.select(F.col(id_col).alias("neighbor_id"),
                            F.col(vec_col).cast("array<double>").alias("vc"))
              .withColumn("bucket", F.explode(bud(F.col("vc")))))
    cand = (qb.join(cb, on="bucket")
            .where(F.col(id_col) != F.col("neighbor_id"))
            .dropDuplicates([id_col, "neighbor_id"]))
    scored = cand.withColumn("cosine", _cosine_expr("vq", "vc"))
    w = Window.partitionBy(id_col).orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    out = (scored.withColumn("rank", F.row_number().over(w) - 1)
           .where(F.col("rank") < k)
           .select(id_col, "neighbor_id", "cosine", "rank"))
    if queries is corpus:
        from ..operators.core import persist_scoped

        out = persist_scoped(qb, out)
    return out


def embedding_near_dups(df: DataFrame, *, threshold: float = 0.95,
                        dim: int, vec_col: str = "embedding",
                        id_col: str = "vec_id", n_planes: int = 8,
                        n_tables: int = 4, seed: int = 42) -> DataFrame:
    """Embedding-cosine near-duplicate PAIRS (the dedup-family variant
    of ANN search): LSH bucket equi-join proposes candidates, exact
    cosine rescore keeps pairs with cosine ≥ threshold. Returns
    (id_a, id_b, cos_r) with id_a < id_b, cosine rounded to 6 dp.

    Scale: O(rows × n_tables) bucket emissions + bucketed equi-join —
    never all-pairs. Recall grows with n_tables and falls with
    n_planes; near-dup pairs (cosine ≥ 0.9+) collide with high
    probability since P[plane splits pair] = arccos(cos θ)/π is small.
    Deterministic hyperplanes (seed) make the whole op reproducible in
    SQL — gated value-level against a DuckDB mirror (embed_near_dups).
    """
    bud = lsh_bucket_udf(dim, n_planes, n_tables, seed)
    # persist: both join sides share this lineage — without it the
    # hyperplane bucket UDF runs twice, once per side
    b = (df.select(id_col, F.col(vec_col).cast("array<double>").alias("v"))
         .withColumn("bucket", F.explode(bud(F.col("v")))).persist())
    a = b.select(F.col(id_col).alias("id_a"), F.col("v").alias("va"), "bucket")
    c = b.select(F.col(id_col).alias("id_b"), F.col("v").alias("vb"), "bucket")
    cand = (a.join(c, on="bucket")
            .where(F.col("id_a") < F.col("id_b"))
            .dropDuplicates(["id_a", "id_b"]))
    scored = cand.withColumn("cos_r", F.round(_cosine_expr("va", "vb"), 6))
    from ..operators.core import persist_scoped

    return persist_scoped(b, scored.where(F.col("cos_r") >= threshold)
                          .select("id_a", "id_b", "cos_r"))


def train_centroids(corpus: DataFrame, *, n_centroids: int = 16,
                    vec_col: str = "embedding", sample: int = 10_000,
                    iters: int = 10, seed: int = 42) -> np.ndarray:
    """k-means-lite on a driver-side sample (IVF coarse quantizer)."""
    rows = corpus.select(vec_col).limit(sample).collect()
    X = np.array([r[vec_col] for r in rows], dtype=np.float64)
    X /= np.linalg.norm(X, axis=1, keepdims=True)
    rng = np.random.default_rng(seed)
    C = X[rng.choice(len(X), n_centroids, replace=False)]
    for _ in range(iters):
        assign = np.argmax(X @ C.T, axis=1)
        for c in range(n_centroids):
            m = assign == c
            if m.any():
                v = X[m].mean(axis=0)
                C[c] = v / np.linalg.norm(v)
    return C


def modulo_centroids(corpus: DataFrame, *, n_centroids: int,
                     vec_col: str = "embedding", id_col: str = "vec_id",
                     round_dp: int = 6) -> np.ndarray:
    """Deterministic coarse quantizer: centroid c = normalized mean of the
    L2-normalized vectors of rows with ``id % n_centroids == c``, each
    component rounded to ``round_dp`` decimals.

    Quantization quality is worse than k-means, but the construction is a
    pure closed form over the table — exactly mirrorable in ANSI SQL — so
    an IVF plan built on it can be value-level verified end-to-end by an
    external oracle. Computed distributedly (posexplode → groupBy avg);
    only the n_centroids×dim aggregate ever reaches the driver.
    """
    e = (corpus
         .select((F.col(id_col) % n_centroids).cast("int").alias("c"),
                 F.col(vec_col).cast("array<double>").alias("v"))
         .withColumn("nrm", F.sqrt(F.aggregate("v", F.lit(0.0),
                                               lambda a, x: a + x * x)))
         .select("c", F.posexplode(F.expr("transform(v, x -> x / nrm)"))
                 .alias("pos", "val")))
    rows = (e.groupBy("c", "pos").agg(F.avg("val").alias("m"))
            .collect())
    n_dim = max(r["pos"] for r in rows) + 1
    C = np.zeros((n_centroids, n_dim), dtype=np.float64)
    for r in rows:
        C[r["c"], r["pos"]] = r["m"]
    C /= np.linalg.norm(C, axis=1, keepdims=True)
    return np.round(C, round_dp)


def ivf_topk(queries: DataFrame, corpus: DataFrame, *, k: int = 10,
             vec_col: str = "embedding", id_col: str = "vec_id",
             n_centroids: int = 16, nprobe: int = 3, seed: int = 42,
             centroids: np.ndarray | None = None,
             round_dp: int | None = None) -> DataFrame:
    """IVF: assign corpus rows to their nearest centroid bucket; queries
    probe their `nprobe` nearest centroids; exact rescore within buckets.

    ``centroids`` injects a precomputed quantizer (e.g. modulo_centroids
    for SQL-verifiable plans) instead of training k-means on a sample.
    ``round_dp`` ranks centroid dots on round(dot, dp) with centroid-id
    tie-break, making the assignment bit-stable against an external SQL
    mirror regardless of float summation order.
    """
    C = centroids if centroids is not None else train_centroids(
        corpus, n_centroids=n_centroids, vec_col=vec_col, seed=seed)
    bc = queries.sparkSession.sparkContext.broadcast(C)

    def assign_udf(nprobe_: int):
        @F.pandas_udf(T.ArrayType(T.IntegerType()))
        def _assign(vecs: pd.Series) -> pd.Series:
            C_ = bc.value
            V = np.array(list(vecs), dtype=np.float64)
            V /= np.linalg.norm(V, axis=1, keepdims=True)
            S = V @ C_.T
            if round_dp is not None:
                S = np.round(S, round_dp)
            # stable sort: ties on the (rounded) dot break by centroid id asc
            order = np.argsort(-S, axis=1, kind="stable")[:, :nprobe_]
            return pd.Series([row.astype(int).tolist() for row in order])

        return _assign

    qa = queries.select(id_col, F.col(vec_col).cast("array<double>").alias("vq"))
    ca = corpus.select(F.col(id_col).alias("neighbor_id"),
                       F.col(vec_col).cast("array<double>").alias("vc"))
    # cogroup by bucket: each side ships its vectors ONCE per bucket
    # membership (corpus ×1, queries ×nprobe) and one BLAS matmul scores
    # the whole bucket — candidate PAIRS never materialize as rows, so
    # the shuffle is O(n·nprobe·dim) instead of O(candidates·dim) (the
    # previous equi-join dragged both dim-sized arrays through every
    # candidate row; at m buckets that is n²·nprobe/m array copies)
    qb = qa.withColumn("bucket", F.explode(assign_udf(nprobe)(F.col("vq"))))
    cb = ca.withColumn("bucket", F.explode(assign_udf(1)(F.col("vc"))))

    id_t = queries.schema[id_col].dataType
    out_schema = T.StructType([
        T.StructField(id_col, id_t),
        T.StructField("neighbor_id", id_t),
        T.StructField("cosine", T.DoubleType()),
    ])

    def _score(qpdf: pd.DataFrame, cpdf: pd.DataFrame) -> pd.DataFrame:
        if len(qpdf) == 0 or len(cpdf) == 0:
            return pd.DataFrame({id_col: [], "neighbor_id": [], "cosine": []})
        qids = qpdf[id_col].to_numpy()
        cids = cpdf["neighbor_id"].to_numpy()
        Q = np.stack(qpdf["vq"].to_numpy())
        M = np.stack(cpdf["vc"].to_numpy())
        S = (Q @ M.T) / (np.linalg.norm(Q, axis=1)[:, None]
                         * np.linalg.norm(M, axis=1)[None, :])
        S[qids[:, None] == cids[None, :]] = -np.inf  # self out
        kk = min(k, S.shape[1])
        recs_q, recs_n, recs_c = [], [], []
        for i in range(len(qids)):
            s = S[i]
            top = (np.argpartition(-s, kk - 1)[:kk]
                   if kk < S.shape[1] else np.arange(S.shape[1]))
            fin = top[np.isfinite(s[top])]
            recs_q.append(np.full(len(fin), qids[i]))
            recs_n.append(cids[fin])
            recs_c.append(s[fin])
        return pd.DataFrame({id_col: np.concatenate(recs_q),
                             "neighbor_id": np.concatenate(recs_n),
                             "cosine": np.concatenate(recs_c)})

    local = (qb.groupBy("bucket").cogroup(cb.groupBy("bucket"))
             .applyInPandas(lambda key, q, c: _score(q, c), schema=out_schema))
    # a (query, neighbor) pair can surface from several probed buckets —
    # identical cosine each time, so the row_number pick dedupes it
    w = Window.partitionBy(id_col).orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (local.dropDuplicates([id_col, "neighbor_id"])
            .withColumn("rank", F.row_number().over(w) - 1)
            .where(F.col("rank") < k)
            .select(id_col, "neighbor_id", "cosine", "rank"))


def _top1_assign_udf(bc, round_dp: int | None):
    """Top-1 centroid assignment with the same rounded-dot +
    centroid-id-ascending tie-break semantics as :func:`ivf_topk`."""
    @F.pandas_udf("int")
    def _assign(vecs: pd.Series) -> pd.Series:
        C_ = bc.value
        V = np.array(list(vecs), dtype=np.float64)
        V /= np.linalg.norm(V, axis=1, keepdims=True)
        S = V @ C_.T
        if round_dp is not None:
            S = np.round(S, round_dp)
        # stable argsort keeps the lowest centroid id on rounded-dot ties
        return pd.Series(
            np.argsort(-S, axis=1, kind="stable")[:, 0].astype("int32"))

    return _assign


def semdedup_pairs(df: DataFrame, *, threshold: float = 0.95,
                   n_clusters: int = 16, vec_col: str = "embedding",
                   id_col: str = "vec_id", seed: int = 42,
                   centroids: np.ndarray | None = None,
                   round_dp: int | None = None) -> DataFrame:
    """SemDeDup candidate pairs (semantic dedup, the cluster-bounded
    published recipe): assign every vector to its single nearest coarse
    centroid, then compare vectors ONLY within a cluster, keeping pairs
    with exact cosine ≥ threshold (6-dp rounded). Returns
    (id_a, id_b, sem_cluster, cos_r) with id_a < id_b.

    Scale plan: the all-pairs comparison is confined to clusters — one
    shuffle on the cluster key, and each cluster is scored by ONE
    cogrouped BLAS matmul that ships every vector once per cluster
    (O(n·dim) movement) and emits only threshold-passing pairs, never
    materializing candidate rows. Choosing k ∝ corpus size keeps the
    per-cluster quadratic term bounded (the published setting is ~0.1–1k
    vectors per cluster at billions of rows); a skewed giant cluster is
    a quantizer-quality problem — raise n_clusters — not a join problem.
    ``centroids``/``round_dp`` inject a deterministic quantizer (see
    :func:`modulo_centroids`) so the full plan is SQL-mirrorable;
    production uses the k-means sample quantizer.
    """
    C = centroids if centroids is not None else train_centroids(
        df, n_centroids=n_clusters, vec_col=vec_col, seed=seed)
    bc = df.sparkSession.sparkContext.broadcast(C)
    b = (df.select(id_col, F.col(vec_col).cast("array<double>").alias("v"))
         .withColumn("sem_cluster", _top1_assign_udf(bc, round_dp)(F.col("v"))))

    id_t = df.schema[id_col].dataType
    out_schema = T.StructType([
        T.StructField("id_a", id_t), T.StructField("id_b", id_t),
        T.StructField("sem_cluster", T.IntegerType()),
        T.StructField("cos_r", T.DoubleType()),
    ])

    def _pairs(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return pd.DataFrame(
                {"id_a": [], "id_b": [], "sem_cluster": [], "cos_r": []})
        ids = pdf[id_col].to_numpy()
        V = np.stack(pdf["v"].to_numpy())
        Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
        S = np.round(Vn @ Vn.T, 6)
        ia, ib = np.nonzero(np.triu(S >= threshold, k=1))
        lo = np.minimum(ids[ia], ids[ib])
        hi = np.maximum(ids[ia], ids[ib])
        return pd.DataFrame({"id_a": lo, "id_b": hi,
                             "sem_cluster": np.full(len(lo), key[0],
                                                    dtype="int32"),
                             "cos_r": S[ia, ib]})

    return b.groupBy("sem_cluster").applyInPandas(_pairs, schema=out_schema)


def semdedup(df: DataFrame, *, threshold: float = 0.95,
             n_clusters: int = 16, vec_col: str = "embedding",
             id_col: str = "vec_id", seed: int = 42,
             centroids: np.ndarray | None = None,
             round_dp: int | None = None, max_iter: int = 64) -> DataFrame:
    """SemDeDup DECISION: one row per input vector with
    ``(id, sem_cluster, cluster_id, keep)`` — ``sem_cluster`` is the
    coarse-quantizer cell the vector was compared within, ``cluster_id``
    the minimum id of its semantic-duplicate component (its own id when
    unduplicated), ``keep`` the canonical-survivor flag. This is the
    embedding-space member of the dedup-decision family next to
    :func:`gis_tools_spark.operators.dedup.hamming_dedup_clusters`
    (perceptual image hashes).

    Scale plan: pairs are cluster-bounded (see :func:`semdedup_pairs`);
    only the duplicate graph enters the O(log diameter) pointer-jumping
    component rounds; the decision is one left join against the corpus
    scan plus one broadcast-sized join to re-attach ``sem_cluster``.
    """
    from .core import persist_scoped
    from .dedup import _cluster_and_keep

    C = centroids if centroids is not None else train_centroids(
        df, n_centroids=n_clusters, vec_col=vec_col, seed=seed)
    bc = df.sparkSession.sparkContext.broadcast(C)
    assigned = (df.select(id_col,
                          F.col(vec_col).cast("array<double>").alias("v"))
                .withColumn("sem_cluster",
                            _top1_assign_udf(bc, round_dp)(F.col("v")))
                .persist())
    # reuse the already-assigned frame rather than calling semdedup_pairs
    # (which would re-run the assign UDF on an unassigned input)
    id_t = df.schema[id_col].dataType
    pair_schema = T.StructType([
        T.StructField("id_a", id_t), T.StructField("id_b", id_t),
        T.StructField("cos_r", T.DoubleType()),
    ])

    def _pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return pd.DataFrame({"id_a": [], "id_b": [], "cos_r": []})
        ids = pdf[id_col].to_numpy()
        V = np.stack(pdf["v"].to_numpy())
        Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
        S = np.round(Vn @ Vn.T, 6)
        ia, ib = np.nonzero(np.triu(S >= threshold, k=1))
        lo = np.minimum(ids[ia], ids[ib])
        hi = np.maximum(ids[ia], ids[ib])
        return pd.DataFrame({"id_a": lo, "id_b": hi, "cos_r": S[ia, ib]})

    pairs = (assigned.groupBy("sem_cluster")
             .applyInPandas(lambda key, pdf: _pairs(pdf),
                            schema=pair_schema))
    dec = _cluster_and_keep(assigned, pairs, id_col, max_iter)
    out = dec.join(assigned.select(id_col, "sem_cluster"), on=id_col)
    return persist_scoped(assigned,
                          out.select(id_col, "sem_cluster", "cluster_id",
                                     "keep"))
