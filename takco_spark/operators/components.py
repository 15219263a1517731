"""Transitive clustering: iterative connected components (large-star/small-star).

The reference partitions the table-similarity graph with igraph Louvain
(/root/reference/takco/cluster/cluster.py:74-106); its own benchmark variant
uses plain connected components over thresholded edges
(partition_connected_components,
/root/reference/docs/benchmarks/snow_pipeline.py:423-436). Per the north rule
we implement the scalable CC formulation: the **large-star / small-star
hash-to-min** algorithm (Kiveris et al., "Connected Components in MapReduce
and Beyond"), a driver-side loop of DataFrame ops with ``localCheckpoint()``
per round to truncate lineage. Converges in O(log² n) rounds; every round is
one groupBy + one join — no collect, no GraphFrames dependency.

Node ids are the (zero-padded) doc_id strings; the component label is the
lexicographic MIN doc_id of the component — stable and deterministic.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from takco_spark.operators.grouped import split_oversized


@dataclass
class CCResult:
    labels: DataFrame  # (doc_id, cluster_id)
    iterations: int
    converged: bool
    edge_counts: list[int] = field(default_factory=list)


def _canonical(edges: DataFrame) -> DataFrame:
    """(src, dst) → canonical orientation src > dst, no self loops, distinct."""
    return (
        edges.select(
            F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """For each node u, connect every strictly-larger neighbor v to
    m = min(N(u) ∪ {u}). Output stays canonical (src > dst)."""
    nbrs = edges.select("src", "dst").unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    mins = nbrs.groupBy("src").agg(F.min("dst").alias("mn")).select(
        "src", F.least(F.col("src"), F.col("mn")).alias("m")
    )
    # no distinct here: duplicates are harmless to small-star's min-agg and
    # are removed by its output distinct — saves one shuffle per round
    return (
        nbrs.join(mins, "src")
        .where(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .where(F.col("src") != F.col("dst"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """For each node u (over edges oriented u > v), connect N(u) ∪ {u} to
    m = min(N(u)). Output canonical."""
    mins = edges.groupBy("src").agg(F.min("dst").alias("m"))
    with_min = edges.join(mins, "src")
    nbr_edges = with_min.where(F.col("dst") != F.col("m")).select(
        F.col("dst").alias("src"), F.col("m").alias("dst")
    )
    self_edges = mins.select("src", F.col("m").alias("dst"))
    return (
        nbr_edges.unionByName(self_edges)
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def _star_stats(edges: DataFrame) -> tuple[int, bool]:
    """(edge count, is the set already a depth-1 star forest?).

    A depth-1 star forest — every src appears exactly once and no node is
    both a src and a dst — IS a fixed point of large-star/small-star (both
    operators map it to itself; see the convergence comment in
    :func:`connected_components`), and conversely every fixed point is such
    a forest. Testing the property directly on round i's output detects
    convergence ONE ROUND EARLIER than the r5 protocol (compare consecutive
    rounds' checksums), which always paid an extra confirming round — a full
    large-star/small-star pass, ~3 shuffles + a localCheckpoint — just to
    observe that nothing changed. The test itself is one narrow shuffle of
    the 2|E| node-role rows folded into the same aggregate job that
    materializes the round's lazy checkpoint."""
    nodes = edges.select(
        F.col("src").alias("node"), F.lit(1).alias("ns"), F.lit(0).alias("nd")
    ).unionByName(
        edges.select(
            F.col("dst").alias("node"), F.lit(0).alias("ns"), F.lit(1).alias("nd")
        )
    )
    row = (
        nodes.groupBy("node")
        .agg(F.sum("ns").alias("ns"), F.sum("nd").alias("nd"))
        .agg(
            F.coalesce(F.sum("ns"), F.lit(0)).alias("n_edges"),
            F.coalesce(F.max("ns"), F.lit(0)).alias("max_out"),
            F.coalesce(
                F.sum(((F.col("ns") > 0) & (F.col("nd") > 0)).cast("int")),
                F.lit(0),
            ).alias("both_roles"),
        )
        .collect()[0]
    )
    is_star = int(row["max_out"]) <= 1 and int(row["both_roles"]) == 0
    return int(row["n_edges"]), is_star


def connected_components(
    edges: DataFrame, max_iterations: int = 20
) -> CCResult:
    """edges(src, dst) → labels(doc_id, cluster_id = component min).

    Driver-side iteration; each round localCheckpoints the edge set so the
    plan never grows (the reference's Louvain is a single-machine black box —
    this is its distributed replacement, SURVEY.md G1).
    """
    # lazy localCheckpoint: the star-stats aggregate is the action that
    # materializes each round's checkpoint — ONE Spark job per round instead
    # of two (job-count is the fixed cost that dominates small/medium runs;
    # on a cluster it's driver round-trips). There is NO standalone job for
    # the canonical edge set either: round 1's aggregate materializes both
    # checkpoints in one job (no round can converge against the raw input —
    # the input isn't canonical-star-shaped — so an initial stats job only
    # ever served as a baseline, at the cost of a driver sync). Convergence
    # is the DIRECT star-forest property test (see _star_stats) rather than
    # the r5 compare-consecutive-checksums protocol, so the loop exits at
    # the round that REACHES the fixed point instead of paying one more
    # full round to confirm it.
    cur = _canonical(edges).localCheckpoint(eager=False)
    counts: list[int] = []
    converged = False
    iterations = 0
    for i in range(max_iterations):
        iterations = i + 1
        cur = _small_star(_large_star(cur)).localCheckpoint(eager=False)
        n_edges, is_star = _star_stats(cur)
        counts.append(n_edges)
        if is_star:
            converged = True
            break

    # star graph: every src points at its component root (dst)
    roots = cur.select(F.col("dst").alias("doc_id"), F.col("dst").alias("cluster_id"))
    members = cur.select(F.col("src").alias("doc_id"), F.col("dst").alias("cluster_id"))
    if converged:
        # converged ⟺ _star_stats PROVED the set is a depth-1 star forest
        # (every member src appears exactly once, no root is a member), so
        # only the root rows need dedup — the member side passes through
        # with no shuffle (r5 ran distinct over the full 2|E| union; §2.4).
        labels = roots.distinct().unionByName(members)
    else:
        # non-star residue can carry >1 label per node — collapse to the min
        # so attach_labels never duplicates document rows
        labels = (
            roots.unionByName(members)
            .groupBy("doc_id").agg(F.min("cluster_id").alias("cluster_id"))
        )
    return CCResult(labels=labels, iterations=iterations, converged=converged,
                    edge_counts=counts)


def attach_labels(documents: DataFrame, labels: DataFrame) -> DataFrame:
    """Left-join component labels back onto the documents; unblocked
    singletons become their own cluster. The ``spans`` column passes through
    untouched (span-sequence invariant)."""
    return documents.join(labels, "doc_id", "left").withColumn(
        "cluster_id", F.coalesce(F.col("cluster_id"), F.col("doc_id"))
    )


def rechunk_oversized(labels: DataFrame, max_cluster_size: int) -> DataFrame:
    """Split clusters larger than ``max_cluster_size`` into deterministic
    slices ``{cluster_id}#{k}`` — the reference's max-cluster-size re-chunk
    (/root/reference/takco/__init__.py:385-397, wikitables cap 250).

    Uses a window row_number inside each oversized cluster only; small
    clusters bypass the shuffle via the size pre-filter join.
    """
    if max_cluster_size <= 0:
        return labels
    from pyspark.sql import Window

    small, big = split_oversized(labels, "cluster_id", max_cluster_size)
    w = Window.partitionBy("cluster_id").orderBy("doc_id")
    big_sliced = big.withColumn(
        "cluster_id",
        F.concat(
            F.col("cluster_id"),
            F.lit("#"),
            F.floor((F.row_number().over(w) - 1) / max_cluster_size).cast("string"),
        ),
    )
    return small.unionByName(big_sliced.select(*small.columns))
