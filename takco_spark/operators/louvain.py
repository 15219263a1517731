"""Weighted Louvain graph partitioning (SURVEY.md G1, exact tier).

The reference partitions the table-similarity graph with igraph's multilevel
Louvain over edge weights ``sim ** edge_exp``
(/root/reference/takco/cluster/cluster.py:74-106, edge_exp default 6). The
engine's default G1 tier replaces it with connected components + strict
refinement (operators/components.py, operators/refine.py) — measured parity in
tests/test_components.py. This module adds the exact semantics as a
first-class distributed operator, so a reference user who relies on Louvain's
resolution-limit behavior (bridged dense clusters stay merged or split exactly
as modularity dictates, not as the CC/refine pair approximates) can ask for it.

Distribution argument (why this is exact, not an approximation):
moving node ``u`` into a community ``C`` with **zero** edge weight to ``u``
has modularity gain ``0 - Σ_C k·k_u / 2m < 0``, so the local-move phase never
merges across connected components, and neither can any coarsened level built
from those moves. Louvain communities are therefore always subsets of
connected components. We exploit that: the scalable large-star/small-star CC
(one groupBy + one join per round) computes the component partition, then the
standard sequential multilevel Louvain runs **independently inside each
component** — one bundle row per component and one vectorized UDF over the
bundles (operators/grouped.bundle_apply), the same distribution pattern as G3
refinement (operators/refine.py). One subtlety makes this exact rather than
approximate: the null-model term couples components through the GLOBAL total
weight 2m, so a single scalar aggregate computes 2m over all pairs up front
and every component kernel receives it as a constant (total weight is
invariant under Louvain coarsening, so one value serves all levels) — with a
shared m, components still never interact, and the per-component union is
byte-identical to a whole-graph sequential run
(tests/test_louvain.py::test_distributed_matches_sequential_exactly).

Scale guard: a component with more than ``max_component_size`` members (giant
component — the known failure mode of a too-loose edge threshold) would pack
O(E_component) edges into one Python group; such components PASS THROUGH with
their CC label. Guard skips are not yet counted by any pipeline run
(ROADMAP Direction 5).
At the reference's operating point components are bounded by the same
agg_threshold that bounds them for refinement (wikitables max_cluster_size
250), so the guard exists for skew defense, not as the normal path.

Labels are ``min(doc_id)`` of each final community — deterministic and stable
under re-partitioning (the kernel itself is order-deterministic: nodes are
visited in sorted order with strictly-greater gain tie-breaks).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from takco_spark.operators.components import CCResult, connected_components
from takco_spark.operators.grouped import bundle_apply, split_oversized


def louvain_phase1(
    adj: dict, selfw: dict, m2: float | None = None
) -> tuple[dict, bool]:
    """One Louvain local-move phase (weighted modularity). Deterministic:
    nodes visited in sorted order, a move requires strictly greater gain.
    ``m2`` = 2m, the total graph weight entering the null-model term — pass
    the GLOBAL value when running on a subgraph (see louvain_partition).
    Returns (community assignment, any_node_moved)."""
    nodes = sorted(adj)
    k = {u: 2.0 * selfw[u] + sum(adj[u].values()) for u in nodes}
    if m2 is None:
        m2 = sum(k.values())
    com = {u: u for u in nodes}
    ctot = {u: k[u] for u in nodes}
    if m2 <= 0:
        return com, False
    moved_any = False
    improved = True
    while improved:
        improved = False
        for u in nodes:
            cu = com[u]
            neigh: dict = {}
            for v, wt in adj[u].items():
                neigh[com[v]] = neigh.get(com[v], 0.0) + wt
            ctot[cu] -= k[u]
            best_c = cu
            best_gain = neigh.get(cu, 0.0) - ctot[cu] * k[u] / m2
            for c in sorted(neigh):
                gain = neigh[c] - ctot[c] * k[u] / m2
                if gain > best_gain + 1e-12:
                    best_c, best_gain = c, gain
            com[u] = best_c
            ctot[best_c] += k[u]
            if best_c != cu:
                improved = moved_any = True
    return com, moved_any


def louvain_partition(
    edge_sims: dict, edge_exp: float = 6.0, m2: float | None = None
) -> dict:
    """Sequential multilevel Louvain over ``{(u, v): sim}`` with weights
    ``sim ** edge_exp`` (reference cluster.py:74-106 semantics: igraph
    community_multilevel on the weighted similarity graph). Returns
    ``{node: community_label}`` where the label is the min node id of the
    community. Standard Blondel et al. two-phase scheme: local moves to
    modularity convergence, then coarsen communities to super-nodes (intra
    weight → self-loops), repeat until no move improves.

    ``m2`` (= 2m, twice the total deduped edge weight) parameterizes the
    null-model term. Default None computes it from ``edge_sims`` — correct
    when this graph IS the whole graph. When the caller runs the kernel on a
    connected component of a larger graph it MUST pass the global value:
    modularity's k_u·k_C/2m penalty couples otherwise-independent components
    through m, and only with the global constant is the per-component run
    byte-identical to the reference's whole-graph igraph call. Total weight
    is invariant under Louvain coarsening, so one value serves all levels."""
    adj: dict = {}
    selfw: dict = {}
    for (u, v), s in edge_sims.items():
        wt = float(s) ** edge_exp
        if u == v:
            selfw[u] = selfw.get(u, 0.0) + wt
            continue
        adj.setdefault(u, {})
        adj.setdefault(v, {})
        adj[u][v] = adj[u].get(v, 0.0) + wt
        adj[v][u] = adj[v].get(u, 0.0) + wt
    for u in adj:
        selfw.setdefault(u, 0.0)
    if m2 is None:
        m2 = sum(
            2.0 * selfw[u] + sum(adj[u].values()) for u in adj
        )
    node_map = {u: u for u in adj}
    while True:
        com, moved = louvain_phase1(adj, selfw, m2)
        if not moved:
            break
        node_map = {n: com[s] for n, s in node_map.items()}
        nadj: dict = {}
        nself: dict = {}
        for u, nbrs in adj.items():
            cu = com[u]
            nself[cu] = nself.get(cu, 0.0) + selfw[u]
            for v, wt in nbrs.items():
                cv = com[v]
                if cu == cv:
                    nself[cu] = nself.get(cu, 0.0) + wt / 2.0
                else:
                    nadj.setdefault(cu, {})
                    nadj[cu][cv] = nadj[cu].get(cv, 0.0) + wt
        for c in nself:
            nadj.setdefault(c, {})
        adj, selfw = nadj, nself
    # stable labels: min member id per final community
    groups: dict = {}
    for n, c in node_map.items():
        groups.setdefault(c, []).append(n)
    label = {c: min(ms) for c, ms in groups.items()}
    return {n: label[c] for n, c in node_map.items()}


@dataclass
class LouvainResult:
    labels: DataFrame  # (doc_id, cluster_id)
    cc: CCResult       # the component partition Louvain ran within


def louvain_clusters(
    pair_sims: DataFrame,
    edge_exp: float = 6.0,
    max_component_size: int = 5000,
    max_cc_iterations: int = 20,
) -> LouvainResult:
    """pair_sims(doc_id_1, doc_id_2, agg_sim) → labels(doc_id, cluster_id).

    Exact weighted Louvain, distributed by connected component (see module
    docstring). cluster_id = min doc_id of the Louvain community. Components
    larger than ``max_component_size`` keep their CC label (observable skip).
    """
    exp = float(edge_exp)
    # global 2m for the modularity null-model term, with the same per-pair
    # max-dedup the kernel applies; computed over ALL pairs (including those
    # in guarded-out components — the reference's whole-graph m). A self pair
    # (u,u) contributes 2w to Σk exactly like a distinct pair, so one sum
    # serves both. Bounded scalar aggregate — one small collect.
    deduped_w = (
        pair_sims.select(
            F.least("doc_id_1", "doc_id_2").alias("a"),
            F.greatest("doc_id_1", "doc_id_2").alias("b"),
            "agg_sim",
        )
        .groupBy("a", "b")
        .agg(F.max("agg_sim").alias("s"))
        .agg(F.sum(F.pow("s", F.lit(exp))).alias("w"))
        .first()["w"]
    )
    m2 = 2.0 * float(deduped_w or 0.0)
    edges = pair_sims.select(
        F.col("doc_id_1").alias("src"), F.col("doc_id_2").alias("dst")
    )
    cc = connected_components(edges, max_cc_iterations)
    # labels are scanned by the size split and both bundle sides
    comp = cc.labels.persist()
    members, big = split_oversized(comp, "cluster_id", max_component_size)
    grouped = bundle_apply(
        members, pair_sims, "cluster_id",
        lambda items, sims, _: louvain_partition(sims, edge_exp=exp, m2=m2),
    )
    labels = grouped.select(
        "doc_id", F.col("label").alias("cluster_id")
    ).unionByName(big.select("doc_id", "cluster_id"))
    return LouvainResult(labels=labels, cc=cc)
