"""The shared per-group kernel path (operators/grouped.py) under both of its
kernels: complete-linkage refine and weighted Louvain."""

import pytest

from takco_spark.operators.grouped import bundle_apply, split_oversized
from takco_spark.operators.louvain import louvain_partition
from takco_spark.operators.refine import _complete_linkage

KERNELS = {
    "refine": lambda items, sims, forbid: _complete_linkage(
        items, sims, forbid, 0.8),
    "louvain": lambda items, sims, _: louvain_partition(sims, edge_exp=6.0),
}


@pytest.mark.parametrize("kernel", sorted(KERNELS))
def test_bundle_apply_groups(spark, kernel):
    labels = spark.createDataFrame(
        [("a", "g1"), ("b", "g1"), ("c", "g1"),     # sims: a-b strong
         ("x", "g2"), ("y", "g2"),                  # members, no sims
         ("p", "big"), ("q", "big"), ("r", "big"), ("s", "big")],
        "doc_id string, cluster_id string",
    )
    sims = spark.createDataFrame(
        [("a", "b", 0.95), ("b", "a", 0.9),         # parallel edge, max kept
         ("p", "q", 0.99), ("q", "r", 0.99)],       # guarded-out component
        "doc_id_1 string, doc_id_2 string, agg_sim double",
    )
    members, big = split_oversized(labels, "cluster_id", 3)
    assert sorted(r["doc_id"] for r in big.collect()) == ["p", "q", "r", "s"]

    rows = bundle_apply(members, sims, "cluster_id", KERNELS[kernel]).collect()
    ids = [r["doc_id"] for r in rows]
    assert sorted(ids) == ["a", "b", "c", "x", "y"]  # none missing or doubled
    got = {r["doc_id"]: (r["cluster_id"], r["label"]) for r in rows}
    assert {d: g for d, (g, _) in got.items()} == {
        "a": "g1", "b": "g1", "c": "g1", "x": "g2", "y": "g2"}
    label = {d: lab for d, (_, lab) in got.items()}
    assert label["a"] == label["b"] != label["c"]
    assert label["x"] != label["y"]  # no sims: singletons
