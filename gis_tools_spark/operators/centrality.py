"""Betweenness centrality over the engine's edge model — the published
Brandes algorithm, distributed by (component, source-batch).

Reference parity: the reference's network family (gis-tools
network.py) stops at components/Dijkstra; betweenness is the standard
next ask of a road-network toolbox (bridge detection, corridor load).

Physical plan (the part that matters at 100 TB):

1. label components (pointer-jumping, network.connected_components);
2. pick sources — all nodes (exact) or the k smallest per-component
   xxhash64(node, seed) (deterministic sample; the published
   sampled-Brandes estimator scales each component's contribution by
   n_c / k_c);
3. sources split into fixed-size batches; the per-component edge list
   is shipped once per batch (shuffle volume = E × n_batches) so ONE
   giant component still spreads across ``ceil(k / batch_size)``
   parallel tasks instead of serializing into a single solver task —
   the same escape hatch shortest_paths uses, applied to centrality;
4. each (component, batch) task runs textbook Brandes (BFS for
   unweighted, heapq Dijkstra when ``weight_col`` is set) from its
   sources only and emits per-node partial dependency sums;
5. one groupBy(node) sums partials; undirected double counting is
   halved, sampled runs rescale by n_c / k_c.

Exactness: with ``sample=None`` the result equals networkx
``betweenness_centrality(normalized=False)`` (pytest-pinned); the
driver gate mirrors the pair-counting identity
b(v) = Σ_{s<t} [d(s,v)+d(v,t)=d(s,t)]·σ(s,v)·σ(v,t)/σ(s,t)
in DuckDB over unrolled BFS level CTEs.
"""
from __future__ import annotations

import heapq
from collections import deque

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F

from .core import cache_scope, cpu_grouped
from .network import connected_components

__all__ = ["betweenness", "closeness"]


def _brandes_partial(adj: dict, srcs: list, weighted: bool) -> dict:
    """Sum of Brandes dependencies δ_s(v) for s in ``srcs`` (textbook
    accumulation; endpoints excluded)."""
    dep_sum: dict = {}
    for s in srcs:
        if s not in adj:
            continue
        sigma = {s: 1.0}
        dist = {s: 0.0}
        preds: dict = {s: []}
        order = []
        if weighted:
            seen = set()
            pq = [(0.0, s)]
            while pq:
                d, u = heapq.heappop(pq)
                if u in seen:
                    continue
                seen.add(u)
                order.append(u)
                for v, w in adj[u]:
                    nd = d + w
                    if v not in dist or nd < dist[v] - 1e-12:
                        dist[v] = nd
                        sigma[v] = sigma[u]
                        preds[v] = [u]
                        heapq.heappush(pq, (nd, v))
                    elif abs(nd - dist[v]) <= 1e-12 and u not in preds.get(v, ()):
                        sigma[v] = sigma.get(v, 0.0) + sigma[u]
                        preds.setdefault(v, []).append(u)
        else:
            q = deque([s])
            while q:
                u = q.popleft()
                order.append(u)
                for v, _ in adj[u]:
                    if v not in dist:
                        dist[v] = dist[u] + 1
                        sigma[v] = 0.0
                        preds[v] = []
                        q.append(v)
                    if dist[v] == dist[u] + 1:
                        sigma[v] += sigma[u]
                        preds[v].append(u)
        delta = {v: 0.0 for v in order}
        for u in reversed(order):
            for p in preds[u]:
                delta[p] += sigma[p] / sigma[u] * (1.0 + delta[u])
            if u != s:
                dep_sum[u] = dep_sum.get(u, 0.0) + delta[u]
    return dep_sum


def _sssp_sums(adj: dict, srcs: list, weighted: bool) -> dict:
    """Per-node (Σ_s d(s,v), Σ_s 1/d(s,v), reached-count) over the
    batch sources — the closeness/harmonic partial (d(s,v) = d(v,s)
    on the undirected graph, so pivot SSSPs accumulate per target)."""
    acc: dict = {}
    for s in srcs:
        if s not in adj:
            continue
        dist = {s: 0.0}
        if weighted:
            seen = set()
            pq = [(0.0, s)]
            while pq:
                d, u = heapq.heappop(pq)
                if u in seen:
                    continue
                seen.add(u)
                for v, w in adj[u]:
                    nd = d + w
                    if v not in dist or nd < dist[v] - 1e-12:
                        dist[v] = nd
                        heapq.heappush(pq, (nd, v))
        else:
            q = deque([s])
            while q:
                u = q.popleft()
                for v, _ in adj[u]:
                    if v not in dist:
                        dist[v] = dist[u] + 1
                        q.append(v)
        for v, d in dist.items():
            if v == s:
                continue
            sd, si, c = acc.get(v, (0.0, 0.0, 0))
            acc[v] = (sd + d, si + 1.0 / d, c + 1)
    return acc


def closeness(edges: DataFrame, *, weight_col: str | None = None,
              sample: int | None = None, seed: int = 0,
              batch_size: int = 32,
              max_component_rows: int = 5_000_000) -> DataFrame:
    """Closeness and harmonic centrality per node of the undirected
    (src_key, dst_key[, weight]) graph — same physical plan as
    ``betweenness`` (components → per-(component, source-batch) pivot
    SSSP tasks → one groupBy(node) sum).

    closeness(v) = (n_c − 1) / Σ_u d(v, u) within v's component (the
    standard per-component form); harmonic(v) = Σ_u 1/d(v, u).
    ``sample=k`` runs the published pivot estimator (sums rescaled by
    n_c/k_c — unbiased; exact when k = n).  Returns
    (node, closeness, harmonic)."""
    edges_n = edges.select(
        F.col("src_key").cast("string").alias("src_key"),
        F.col("dst_key").cast("string").alias("dst_key"),
        *([F.col(weight_col).cast("double").alias("__w")]
          if weight_col else [F.lit(1.0).alias("__w")]))
    sym = edges_n.select(F.col("src_key").alias("u"),
                         F.col("dst_key").alias("v"),
                         F.col("__w").alias("w"))
    sym = sym.where(F.col("u") != F.col("v"))
    sym = sym.unionByName(
        sym.select(F.col("v").alias("u"), F.col("u").alias("v"), "w"))
    sym = sym.groupBy("u", "v").agg(F.min("w").alias("w"))

    comp = connected_components(edges_n).select("node", "component")
    with cache_scope() as keep:
        esym = keep(sym.join(comp.withColumnRenamed("node", "u"), on="u"))
        sizes = esym.groupBy("component").agg(
            (F.count("*") / 2).alias("n_edges"),
            F.countDistinct("u").alias("n_nodes"),
            F.min("w").alias("min_w"))
        bad = sizes.where(
            (F.col("n_edges") > max_component_rows)
            | (F.col("min_w") <= 0)).limit(1).collect()
        if bad:
            if bad[0]["min_w"] is not None and bad[0]["min_w"] <= 0:
                raise ValueError(
                    "non-positive edge weight found: the Dijkstra "
                    "settled order (and the accumulation built on it) "
                    "requires strictly positive weights")
            raise ValueError(
                f"component {bad[0]['component']} has "
                f"{int(bad[0]['n_edges'])} edges > max_component_rows="
                f"{max_component_rows}; use sample=k (pivot estimator) "
                f"or raise the guard explicitly")

        nodes = comp.select("node", "component")
        ranked = nodes.select(
            "node", "component",
            F.row_number().over(
                Window.partitionBy("component")
                .orderBy(F.xxhash64("node", F.lit(seed)), "node"))
            .alias("rk"))
        chosen = ranked if sample is None else \
            ranked.where(F.col("rk") <= sample)
        src_lists = (chosen.select(
            "component", "node",
            ((F.col("rk") - 1) / batch_size).cast("long").alias("batch"))
            .groupBy("component", "batch")
            .agg(F.collect_list("node").alias("srcs")))

        work = esym.join(src_lists, on="component")
        weighted = weight_col is not None

        def _solve(pdf: pd.DataFrame) -> pd.DataFrame:
            empty = pd.DataFrame({
                "component": pd.Series(dtype=object),
                "node": pd.Series(dtype=object),
                "sum_d": pd.Series(dtype=np.float64),
                "sum_inv": pd.Series(dtype=np.float64),
                "n_reach": pd.Series(dtype=np.int64)})
            if pdf.empty:
                return empty
            adj: dict = {}
            for u, v, w in zip(pdf["u"], pdf["v"], pdf["w"]):
                adj.setdefault(u, []).append((v, float(w)))
            acc = _sssp_sums(adj, list(pdf["srcs"].iloc[0]), weighted)
            if not acc:
                return empty
            return pd.DataFrame({
                "component": pdf["component"].iloc[0],
                "node": list(acc.keys()),
                "sum_d": [a[0] for a in acc.values()],
                "sum_inv": [a[1] for a in acc.values()],
                "n_reach": [a[2] for a in acc.values()]})

        parts = cpu_grouped(work, "component", "batch").applyInPandas(
            _solve, "component string, node string, sum_d double,"
                    " sum_inv double, n_reach long")
        per_node = parts.groupBy("component", "node").agg(
            F.sum("sum_d").alias("sum_d"),
            F.sum("sum_inv").alias("sum_inv"))
        k_src = chosen.groupBy("component").agg(
            F.count("*").alias("k_src"))
        scaled = per_node.join(sizes, on="component").join(k_src,
                                                           on="component")
        # pivot estimator: E[Σ_{p∈S} d(v,p)] = (k/n)·Σ_u d(v,u) (v's
        # own zero term included), so the unbiased scale is n/k and
        # the exact mode (k = n) collapses to scale 1
        scale = F.col("n_nodes") / F.col("k_src")
        clo = F.when(F.col("sum_d") > 0,
                     (F.col("n_nodes") - 1)
                     / (F.col("sum_d") * scale)).otherwise(F.lit(0.0))
        har = F.col("sum_inv") * scale
        out = (nodes.join(scaled.select("node", clo.alias("closeness"),
                                        har.alias("harmonic")),
                          on="node", how="left")
               .select("node",
                       F.coalesce("closeness", F.lit(0.0)).alias("closeness"),
                       F.coalesce("harmonic", F.lit(0.0)).alias("harmonic")))
        return out.localCheckpoint(eager=True)


def betweenness(edges: DataFrame, *, weight_col: str | None = None,
                sample: int | None = None, seed: int = 0,
                batch_size: int = 32, normalized: bool = False,
                max_component_rows: int = 5_000_000) -> DataFrame:
    """Per-node betweenness centrality of the undirected graph given by
    (src_key, dst_key[, weight_col]) edge rows.

    ``sample=k`` runs the published sampled estimator from the k
    deterministically-hash-chosen sources per component (result scaled
    by n_c/k_c — unbiased, reproducible under repartitioning);
    ``sample=None`` is exact.  Components with more than
    ``max_component_rows`` edges raise: exact betweenness on such a
    component is quadratic — sample instead.

    Returns (node, betweenness) with one row per node that appears in
    an edge."""
    # node keys normalized to string so the Arrow solver schema is
    # type-stable regardless of the caller's key type
    edges_n = edges.select(
        F.col("src_key").cast("string").alias("src_key"),
        F.col("dst_key").cast("string").alias("dst_key"),
        *([F.col(weight_col).cast("double").alias("__w")]
          if weight_col else [F.lit(1.0).alias("__w")]))
    sym = edges_n.select(F.col("src_key").alias("u"),
                         F.col("dst_key").alias("v"), F.col("__w").alias("w"))
    sym = sym.where(F.col("u") != F.col("v"))
    sym = sym.unionByName(
        sym.select(F.col("v").alias("u"), F.col("u").alias("v"), "w"))
    sym = sym.groupBy("u", "v").agg(F.min("w").alias("w"))

    comp = connected_components(edges_n).select(
        F.col("node"), F.col("component"))
    with cache_scope() as keep:
        esym = keep(sym.join(comp.withColumnRenamed("node", "u"), on="u"))
        sizes = esym.groupBy("component").agg(
            (F.count("*") / 2).alias("n_edges"),
            F.countDistinct("u").alias("n_nodes"),
            F.min("w").alias("min_w"))
        bad = sizes.where(
            (F.col("n_edges") > max_component_rows)
            | (F.col("min_w") <= 0)).limit(1).collect()
        if bad:
            if bad[0]["min_w"] is not None and bad[0]["min_w"] <= 0:
                raise ValueError(
                    "non-positive edge weight found: the Dijkstra "
                    "settled order (and the accumulation built on it) "
                    "requires strictly positive weights")
            raise ValueError(
                f"component {bad[0]['component']} has "
                f"{int(bad[0]['n_edges'])} edges > max_component_rows="
                f"{max_component_rows}; use sample=k (sampled Brandes) "
                f"or raise the guard explicitly")

        nodes = comp.select("node", "component")
        ranked = nodes.select(
            "node", "component",
            F.row_number().over(
                Window.partitionBy("component")
                .orderBy(F.xxhash64("node", F.lit(seed)), "node"))
            .alias("rk"))
        if sample is not None:
            chosen = ranked.where(F.col("rk") <= sample)
        else:
            chosen = ranked
        batches = chosen.select(
            "component", "node",
            ((F.col("rk") - 1) / batch_size).cast("long").alias("batch"))
        src_lists = (batches.groupBy("component", "batch")
                     .agg(F.collect_list("node").alias("srcs")))

        work = esym.join(src_lists, on="component")
        weighted = weight_col is not None

        def _solve(pdf: pd.DataFrame) -> pd.DataFrame:
            if pdf.empty:
                return pd.DataFrame({"component": pd.Series(dtype=object),
                                     "node": pd.Series(dtype=object),
                                     "partial": pd.Series(dtype=np.float64)})
            adj: dict = {}
            seen_pairs = set()
            for u, v, w in zip(pdf["u"], pdf["v"], pdf["w"]):
                if (u, v) in seen_pairs:
                    continue
                seen_pairs.add((u, v))
                adj.setdefault(u, []).append((v, float(w)))
            srcs = list(pdf["srcs"].iloc[0])
            dep = _brandes_partial(adj, srcs, weighted)
            if not dep:
                return pd.DataFrame({"component": pd.Series(dtype=object),
                                     "node": pd.Series(dtype=object),
                                     "partial": pd.Series(dtype=np.float64)})
            return pd.DataFrame({
                "component": pdf["component"].iloc[0],
                "node": list(dep.keys()),
                "partial": list(dep.values())})

        parts = cpu_grouped(work, "component", "batch").applyInPandas(
            _solve, "component string, node string, partial double")

        per_node = parts.groupBy("component", "node").agg(
            F.sum("partial").alias("dep"))
        scaled = per_node.join(
            sizes.join(chosen.groupBy("component")
                       .agg(F.count("*").alias("k_src")), on="component"),
            on="component")
        bc = F.col("dep") * F.col("n_nodes") / F.col("k_src") / 2.0
        if normalized:
            denom = (F.col("n_nodes") - 1) * (F.col("n_nodes") - 2)
            bc = F.when(denom > 0, bc * 2.0 / denom).otherwise(F.lit(0.0))
        out = (nodes.join(scaled.select("node", bc.alias("betweenness")),
                          on="node", how="left")
               .select("node",
                       F.coalesce("betweenness", F.lit(0.0))
                       .alias("betweenness")))
        return out.localCheckpoint(eager=True)
