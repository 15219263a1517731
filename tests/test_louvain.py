"""Distributed weighted Louvain (G1 exact tier, operators/louvain.py).

Reference semantics: igraph community_multilevel over weights sim**edge_exp
(/root/reference/takco/cluster/cluster.py:74-106). The distributed operator
runs the sequential kernel per connected component; these tests pin
(a) distributed ≡ sequential on a multi-component graph (the exactness claim),
(b) the resolution behavior CC cannot express (a weak bridge between dense
cliques splits), (c) the size-guard passthrough, (d) determinism, and
(e) the pipeline integration via cfg.cluster_method='louvain'.
"""

import random

from pyspark.sql import functions as F

from takco_spark.operators.components import connected_components
from takco_spark.operators.louvain import louvain_clusters, louvain_partition


def _planted_multi_component(seed=7):
    """12 dense planted clusters; clusters (0,1) and (2,3) are bridged by one
    weak edge each → 10 connected components, several nontrivially sized."""
    rng = random.Random(seed)
    sims = {}
    clusters = []
    for c in range(12):
        size = rng.randint(3, 7)
        ms = [f"n{c:02d}_{i}" for i in range(size)]
        clusters.append(ms)
        for i in range(size):
            for j in range(i + 1, size):
                sims[(ms[i], ms[j])] = 0.97 + 0.03 * rng.random()
    for c in (0, 2):
        sims[(rng.choice(clusters[c]), rng.choice(clusters[c + 1]))] = 0.975
    return sims, clusters


def _sims_df(spark, sims):
    return spark.createDataFrame(
        [(u, v, s) for (u, v), s in sims.items()],
        "doc_id_1 string, doc_id_2 string, agg_sim double",
    )


def test_distributed_matches_sequential_exactly(spark):
    """The per-component bundle kernel produces byte-identical labels to
    running the sequential kernel on the whole graph (min-member labels both
    sides; Louvain never moves across components, so per-component ==
    global)."""
    sims, _ = _planted_multi_component()
    seq = louvain_partition(sims, edge_exp=6.0)
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in louvain_clusters(_sims_df(spark, sims), edge_exp=6.0)
        .labels.collect()
    }
    assert got == seq
    assert len(set(seq.values())) == 11  # pinned: one bridge merged, one split


def test_resolution_split_where_cc_merges(spark):
    """Two dense K8 cliques joined by one weak bridge: CC yields ONE
    component; Louvain modularity splits the bridge — the exact reference
    behavior the CC tier approximates via refinement."""
    sims = {}
    a = [f"a{i}" for i in range(8)]
    b = [f"b{i}" for i in range(8)]
    for grp in (a, b):
        for i in range(8):
            for j in range(i + 1, 8):
                sims[(grp[i], grp[j])] = 0.99
    sims[("a0", "b0")] = 0.981
    df = _sims_df(spark, sims)

    cc = connected_components(
        df.select(F.col("doc_id_1").alias("src"), F.col("doc_id_2").alias("dst"))
    )
    assert cc.labels.select("cluster_id").distinct().count() == 1

    res = louvain_clusters(df, edge_exp=6.0)
    groups = {}
    for r in res.labels.collect():
        groups.setdefault(r["cluster_id"], set()).add(r["doc_id"])
    assert sorted(map(sorted, groups.values())) == [sorted(a), sorted(b)]
    assert res.cc.converged


def test_size_guard_passthrough(spark):
    """Components above max_component_size keep their CC label (observable
    skip, same contract as refine's guard); small ones still get Louvain."""
    sims = {}
    big = [f"g{i}" for i in range(6)]  # one 6-member chain-ish component
    for i in range(5):
        sims[(big[i], big[i + 1])] = 0.99
    small = ["s0", "s1", "s2"]
    for i in range(3):
        for j in range(i + 1, 3):
            sims[(small[i], small[j])] = 0.99
    res = louvain_clusters(_sims_df(spark, sims), max_component_size=4)
    got = {r["doc_id"]: r["cluster_id"] for r in res.labels.collect()}
    # guarded: all six docs carry the CC component label (min id = g0)
    assert all(got[d] == "g0" for d in big)
    # ungated small triangle still Louvain-labelled (min member)
    assert all(got[d] == "s0" for d in small)


def test_deterministic_across_runs(spark):
    sims, _ = _planted_multi_component(seed=23)
    df = _sims_df(spark, sims).repartition(7)
    r1 = sorted(map(tuple, louvain_clusters(df).labels.collect()))
    r2 = sorted(map(tuple, louvain_clusters(df.repartition(3)).labels.collect()))
    assert r1 == r2


def test_pipeline_cluster_method_louvain(spark):
    """cfg.cluster_method='louvain' end-to-end: planted scrambler corpus
    recovers the planted entities at full pairwise F1 (same bar as the CC
    path's e2e test) and the span column passes through untouched."""
    from takco_spark.config import PipelineConfig
    from takco_spark.datagen import synth_documents
    from takco_spark.plans.metrics import pairwise_f1
    from takco_spark.plans.pipeline import run_pipeline

    docs = synth_documents(spark, 120, seed=42).persist()
    cfg = PipelineConfig(cluster_method="louvain")
    res = run_pipeline(spark, docs.select("doc_id", "spans"), cfg)
    gold = docs.select("doc_id", "true_entity")
    f1 = pairwise_f1(res.labelled.select("doc_id", "cluster_id"), gold).f1
    assert f1 == 1.0
    assert res.stats["cc"]["converged"]
    # the report is plain JSON; serializing it reads the deferred blocking
    # rollup like any other read
    import json

    assert json.loads(json.dumps(res.stats))["blocking"] == res.stats["blocking"]
    # spans invariant
    orig = docs.select("doc_id", "spans")
    back = res.labelled.select("doc_id", "spans")
    assert orig.exceptAll(back).count() == 0
