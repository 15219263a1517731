"""Within-partition agglomerative refinement (SURVEY.md G3).

Reference: after graph partitioning, columns inside each partition are
clustered with complete-linkage agglomerative clustering on distance 1−sim,
with intra-table links forbidden (cluster_partition_columns / cluster_columns,
/root/reference/takco/cluster/cluster.py:434-529,652-689; sklearn
AgglomerativeClustering per partition).

Spark shape: connected components give coarse partitions (bounded by the
max-cluster-size rechunk, G2); each partition's refinement is an independent
small problem → one bundle row per cluster and one vectorized UDF over the
bundles (operators/grouped.bundle_apply, shared with Louvain), with a
self-contained complete-linkage inside (no sklearn in this environment — the
linkage loop is O(k³) on k ≤ max_cluster_size items, which the G2 bound keeps
tiny).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from takco_spark.operators.grouped import bundle_apply, split_oversized


def _complete_linkage(items: list[str], sims: dict[tuple[str, str], float],
                      forbid: dict[str, str], threshold: float) -> dict[str, int]:
    """Complete-linkage agglomeration: merge the closest pair of clusters
    while max inter-cluster distance (1 - min sim) stays <= 1 - threshold and
    no two members share a forbidden group. Deterministic tie-breaks."""
    clusters: list[list[str]] = [[x] for x in sorted(items)]

    def link_sim(a: list[str], b: list[str]) -> float:
        best = 1.0
        for x in a:
            for y in b:
                if forbid.get(x) is not None and forbid.get(x) == forbid.get(y):
                    return -1.0  # intra-source link forbidden
                key = (x, y) if x < y else (y, x)
                best = min(best, sims.get(key, 0.0))
        return best

    while len(clusters) > 1:
        best_pair, best_sim = None, threshold
        for i in range(len(clusters)):
            for j in range(i + 1, len(clusters)):
                s = link_sim(clusters[i], clusters[j])
                if s >= best_sim and (
                    best_pair is None
                    or s > best_sim
                    or (clusters[i][0], clusters[j][0])
                    < (clusters[best_pair[0]][0], clusters[best_pair[1]][0])
                ):
                    best_pair, best_sim = (i, j), s
        if best_pair is None:
            break
        i, j = best_pair
        clusters[i] = sorted(clusters[i] + clusters[j])
        del clusters[j]

    out: dict[str, int] = {}
    for ci, members in enumerate(sorted(clusters)):
        for m in members:
            out[m] = ci
    return out


def refine_clusters(
    labels: DataFrame,
    pair_sims: DataFrame,
    threshold: float = 0.8,
    source_col: str | None = None,
    max_group_size: int | None = 1000,
) -> DataFrame:
    """Split coarse CC clusters with complete-linkage at a stricter threshold.

    labels(doc_id, cluster_id [, source]) + pair_sims(doc_id_1, doc_id_2,
    agg_sim) → (doc_id, cluster_id, refined_id). refined_id =
    '{cluster_id}/{k}'. Transitive chains that CC merged but whose weakest
    link is below ``threshold`` split apart — the reference runs exactly this
    two-stage coarse→strict scheme (Louvain partition, then per-partition
    agglomerative at agg_threshold_col).

    Size guard: a coarse cluster with more than ``max_group_size`` members
    (a giant component — the known CC failure mode on a too-loose threshold)
    would pack O(k²) sims into one bundle row and run an O(k³) linkage; such
    clusters PASS THROUGH unrefined (refined_id = '{cluster_id}/0'). Guard
    skips are not yet counted by any pipeline run (ROADMAP Direction 5).
    ``max_group_size=None`` disables the guard entirely — for callers that
    ALREADY bound every cluster (the pipeline runs refine after the G2
    rechunk, whose slices can never exceed ``cfg.max_cluster_size``, so the
    guard's sizes scan and the two broadcast joins would drop exactly
    nothing; r6 measured them as pure fixed cost on the aligned headline).
    """
    passthrough = None
    if max_group_size is not None:
        labels, big = split_oversized(labels, "cluster_id", max_group_size)
        passthrough = big.select(
            "doc_id",
            "cluster_id",
            F.concat(F.col("cluster_id"), F.lit("/0")).alias("refined_id"),
        )
    grouped = bundle_apply(
        labels, pair_sims, "cluster_id",
        lambda items, sims, forbid: _complete_linkage(
            items, sims, forbid, threshold),
        attr_col=source_col,
    ).select(
        "doc_id",
        "cluster_id",
        F.concat(F.col("cluster_id"), F.lit("/"),
                 F.col("label")).alias("refined_id"),
    )
    if passthrough is None:
        return grouped
    return grouped.unionByName(passthrough)

