"""End-to-end: planted duplicates → pipeline → pairwise F1 vs golden clusters.

The golden clusters are computed with reference semantics: token-set Jaccard
(celljacc arithmetic, /root/reference/takco/cluster/matchers/celljacc.py:114-117)
over pairs at shared blocking keys, thresholded, then transitive closure via a
pure-python union-find — independent of the Spark CC implementation.
"""

import json

import pytest
from pyspark.sql import functions as F

from takco_spark.config import PipelineConfig
from takco_spark.datagen import synth_documents
from takco_spark.plans.metrics import block_stats, labeled_pairs_f1, pairwise_f1
from takco_spark.plans.pipeline import run_pipeline
from takco_spark.spans import span_sequence_mismatches

N_DOCS = 240


@pytest.fixture(scope="module")
def corpus(spark):
    docs = synth_documents(spark, N_DOCS, seed=42).persist()
    docs.count()
    return docs


def _cfg(**kw):
    base = dict(
        blockers=("token", "minhash"),
        agg_expr="@mean(jaccard, @max(jw, lev_sim))",
        agg_threshold=0.6,
        max_block_size=60,
        salt_threshold=24,
    )
    base.update(kw)
    return PipelineConfig(**base)


def test_pipeline_f1_against_planted_entities(spark, corpus):
    docs = corpus.select("doc_id", "spans")
    gold = corpus.select("doc_id", "true_entity")
    res = run_pipeline(spark, docs, _cfg())
    prf = pairwise_f1(res.components, gold)
    assert prf.f1 >= 0.99, prf.as_dict()
    assert prf.precision >= 0.99 and prf.recall >= 0.99
    # the report is plain JSON; serializing it reads the deferred blocking
    # rollup like any other read
    assert json.loads(json.dumps(res.stats))["blocking"] == res.stats["blocking"]


def test_pipeline_matches_reference_semantics_golden(spark, corpus):
    """Golden = union-find over token-Jaccard >= t pairs at shared (capped)
    blocking keys — recomputed in plain Python, reference arithmetic."""
    cfg = _cfg(agg_expr="jaccard", agg_threshold=0.5, blockers=("token",))
    docs = corpus.select("doc_id", "spans")
    res = run_pipeline(spark, docs, cfg)

    # -- golden, driver-side ------------------------------------------------
    from takco_spark.spans import doc_text_features

    feats = {
        r["doc_id"]: set(r["tokens"])
        for r in doc_text_features(docs).collect()
    }
    # same blocking universe as the pipeline: its own capped blocks stage
    block_docs = {}
    for r in res.blocks.collect():
        block_docs.setdefault((r["block_key"], r["salt"]), []).append(r["doc_id"])
    cand = set()
    for members in block_docs.values():
        ms = sorted(members)
        for i in range(len(ms)):
            for j in range(i + 1, len(ms)):
                cand.add((ms[i], ms[j]))
    parent = {d: d for d in feats}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in cand:
        ta, tb = feats[a], feats[b]
        jac = len(ta & tb) / len(ta | tb) if (ta | tb) else 0.0
        if jac >= cfg.agg_threshold:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    golden = {d: find(d) for d in feats}

    got = {r["doc_id"]: r["cluster_id"] for r in res.labelled.select("doc_id", "cluster_id").collect()}
    assert got == golden


def test_span_sequence_preserved_end_to_end(spark, corpus):
    docs = corpus.select("doc_id", "spans")
    res = run_pipeline(spark, docs, _cfg())
    out_docs = res.labelled.select("doc_id", "spans")
    assert span_sequence_mismatches(docs, out_docs) == 0
    assert res.labelled.count() == N_DOCS  # every doc labelled exactly once


def test_labeled_pairs_f1_protocol(spark, corpus):
    """F1 on labeled pairs at the shared blocking key (BASELINE.json metric)."""
    docs = corpus.select("doc_id", "spans")
    gold = corpus.select("doc_id", "true_entity")
    res = run_pipeline(spark, docs, _cfg())
    # labeled pairs = candidate pairs at shared blocking key, labelled by gold
    from takco_spark.operators.blocking import candidate_pairs

    g1 = gold.select(F.col("doc_id").alias("doc_id_1"), F.col("true_entity").alias("e1"))
    g2 = gold.select(F.col("doc_id").alias("doc_id_2"), F.col("true_entity").alias("e2"))
    labeled = (
        candidate_pairs(res.blocks)
        .join(g1, "doc_id_1")
        .join(g2, "doc_id_2")
        .select(
            "doc_id_1", "doc_id_2", "block_key",
            (F.col("e1") == F.col("e2")).alias("is_match"),
        )
    )
    prf = labeled_pairs_f1(res.components.unionByName(
        # include singleton self-labels for docs not in components
        docs.select("doc_id").join(res.components, "doc_id", "left_anti")
        .select("doc_id", F.col("doc_id").alias("cluster_id"))
    ), labeled)
    assert prf.f1 >= 0.99, prf.as_dict()


def test_block_stats_reduction(spark, corpus):
    docs = corpus.select("doc_id", "spans")
    res = run_pipeline(spark, docs, _cfg())
    st = block_stats(res.blocks)
    assert st["n_docs"] == N_DOCS
    assert st["reduction_factor"] > 1.0  # blocking beats the O(n²) worst case
    assert res.stats["blocking"]  # per-blocker stats recorded


def test_pipeline_with_refinement(spark, corpus):
    """Two-stage coarse→strict: refinement at the agg threshold itself must
    not split true entities (every intra-entity link is ≥ the threshold)."""
    docs = corpus.select("doc_id", "spans")
    gold = corpus.select("doc_id", "true_entity")
    res = run_pipeline(spark, docs, _cfg(refine_threshold=0.6))
    prf = pairwise_f1(res.components, gold)
    assert prf.f1 >= 0.99, prf.as_dict()
    # refined ids carry the coarse id as prefix (lineage-friendly)
    row = res.components.first()
    assert "/" in row["cluster_id"]


def test_aligned_pipeline_on_substructured_corpus(spark):
    """A5/G3 wired into the flagship: documents with field sub-structure
    (header-delimited segments). The corpus plants, per entity, true variants
    with PERMUTED field order plus a 'scrambler' doc whose whole-document
    token set is IDENTICAL to a variant's but whose fields are re-dealt —
    whole-doc token matchers cannot reject it; greedy 1:1 segment alignment
    must (reference column-wise scheme, cluster.py:246-345)."""
    from takco_spark.datagen import synth_segmented_documents

    docs = synth_segmented_documents(spark, 30, variants=3, scramblers=1,
                                     seed=42).persist()
    gold = docs.select("doc_id", "true_entity")
    cfg = PipelineConfig(aligned=True)
    res = run_pipeline(spark, docs.select("doc_id", "spans"), cfg)
    prf = pairwise_f1(res.components, gold)
    assert prf.f1 >= 0.99, prf.as_dict()

    # the same corpus through WHOLE-DOC scoring merges the scramblers —
    # demonstrating the aligned stage is load-bearing, not decorative
    res_flat = run_pipeline(spark, docs.select("doc_id", "spans"),
                            PipelineConfig(aligned=False))
    prf_flat = pairwise_f1(res_flat.components, gold)
    assert prf_flat.precision < 0.9, prf_flat.as_dict()


def test_aligned_max1_mode(spark):
    """'max1' fast alignment (pure DataFrame aggs) also separates scramblers
    on this corpus: each left segment takes its best right match."""
    from takco_spark.datagen import synth_segmented_documents

    docs = synth_segmented_documents(spark, 20, variants=3, scramblers=1,
                                     seed=7).persist()
    gold = docs.select("doc_id", "true_entity")
    cfg = PipelineConfig(aligned=True, align_mode="max1")
    res = run_pipeline(spark, docs.select("doc_id", "spans"), cfg)
    prf = pairwise_f1(res.components, gold)
    assert prf.recall >= 0.99, prf.as_dict()
    assert json.loads(json.dumps(res.stats))["blocking"] == res.stats["blocking"]


def test_aligned_max1_with_refinement_full_f1(spark):
    """The bench-headline config (max1 alignment + strict refinement,
    q_er_pipeline_aligned_max1) reaches FULL pairwise F1 on the planted
    scrambler corpus — parity with the greedy path, so benchmarking the
    algebraic fast mode is not a quality trade."""
    from takco_spark.datagen import synth_segmented_documents

    docs = synth_segmented_documents(spark, 30, variants=3, scramblers=1,
                                     seed=42).persist()
    gold = docs.select("doc_id", "true_entity")
    cfg = PipelineConfig(aligned=True, align_mode="max1",
                         refine_threshold=0.6)
    res = run_pipeline(spark, docs.select("doc_id", "spans"), cfg)
    prf = pairwise_f1(res.components, gold)
    assert prf.f1 >= 0.99, prf.as_dict()


def test_aligned_with_refinement(spark):
    """Aligned scoring composes with G3 refinement (the reference's full
    two-stage scheme: coarse partition on aligned sims, then strict
    complete-linkage inside each partition)."""
    from takco_spark.datagen import synth_segmented_documents

    docs = synth_segmented_documents(spark, 15, variants=3, scramblers=1,
                                     seed=11).persist()
    gold = docs.select("doc_id", "true_entity")
    cfg = PipelineConfig(aligned=True, refine_threshold=0.6)
    res = run_pipeline(spark, docs.select("doc_id", "spans"), cfg)
    prf = pairwise_f1(res.components, gold)
    assert prf.f1 >= 0.99, prf.as_dict()


def test_scrambler_docs_are_distinct(spark):
    """ADVICE: multiple scramblers per entity must not be byte-identical
    (gold counts each as a singleton); >2 scramblers is rejected."""
    import pytest

    from takco_spark.datagen import synth_segmented_documents

    docs = synth_segmented_documents(spark, 3, variants=2, scramblers=2,
                                     seed=5).collect()
    by_id = {r["doc_id"]: [s["text"] for s in r["spans"]] for r in docs}
    for e in range(3):
        s0, s1 = by_id[f"e{e:06d}s0"], by_id[f"e{e:06d}s1"]
        assert s0 != s1
        assert sorted(s0) == sorted(s1)  # same token multiset, re-dealt
    with pytest.raises(ValueError):
        synth_segmented_documents(spark, 2, variants=2, scramblers=3)


def test_header_union_same_clusters_fewer_pairs(spark, corpus):
    """EP2 step 2 (reference headerunions fold, takco/__init__.py:282-291):
    with cfg.header_union, exact-duplicate docs (identical header sequences
    AND content) merge into union documents before blocking — the final
    partition over ALL doc_ids is identical to the no-union run, while the
    scored-pair count strictly drops (the duplicates' pairwise mass is
    collapsed into their unions)."""
    docs = corpus.select("doc_id", "spans")
    aug = docs
    for tag in ("dupA", "dupB"):
        aug = aug.unionByName(
            docs.orderBy("doc_id").limit(40).select(
                F.concat(F.lit(tag + "-"), "doc_id").alias("doc_id"),
                "spans",
            )
        )
    aug = aug.persist()
    aug.count()

    res_plain = run_pipeline(spark, aug, _cfg())
    res_hu = run_pipeline(spark, aug, _cfg(header_union=True))

    def partition(res):
        by: dict = {}
        for r in res.components.collect():
            by.setdefault(r["cluster_id"], set()).add(r["doc_id"])
        return {frozenset(v) for v in by.values()}

    assert partition(res_hu) == partition(res_plain)
    n_plain = res_plain.pairs_scored.count()
    n_hu = res_hu.pairs_scored.count()
    assert n_hu < n_plain, (n_hu, n_plain)
    # >= 80: the 2×40 planted dup copies, plus whatever identical-header
    # docs the synth corpus already contains (they merge too — the same
    # reference semantic — and the partition above still matches)
    assert res_hu.stats["header_union"]["merged_away"] >= 80


def _same_labels(a, b) -> bool:
    la = a.labelled.select("doc_id", "cluster_id")
    lb = b.labelled.select("doc_id", "cluster_id")
    return la.exceptAll(lb).count() == 0 and lb.exceptAll(la).count() == 0


def _check_traced(spark, docs, cfg, stage_names):
    """A traced run reports every stage in run order with its output rows,
    restores the caller's job group and labels exactly like an untraced
    run, which reports no stages."""
    sc = spark.sparkContext
    plain = run_pipeline(spark, docs, cfg)
    sc.setJobGroup("caller", "caller")
    try:
        traced = run_pipeline(spark, docs, cfg, trace=True)
        assert sc.getLocalProperty("spark.jobGroup.id") == "caller"
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        sc.setLocalProperty("spark.job.interruptOnCancel", None)
    assert "stages" not in plain.stats
    stages = traced.stats["stages"]
    assert list(stages) == stage_names
    for name, st in stages.items():
        assert st["rows"] > 0 and st["wall_s"] >= 0, (name, st)
    assert json.loads(json.dumps(traced.stats))["stages"] == stages
    assert _same_labels(plain, traced)


def test_traced_run_flat_cc(spark, corpus):
    _check_traced(spark, corpus.select("doc_id", "spans"), _cfg(),
                  ["features", "blocking", "cand_pairs", "scoring", "cc"])


def test_traced_run_aligned_max1_refine(spark):
    from takco_spark.datagen import synth_segmented_documents

    docs = synth_segmented_documents(spark, 30, variants=3, scramblers=1,
                                     seed=42).select("doc_id", "spans")
    cfg = PipelineConfig(aligned=True, align_mode="max1",
                         refine_threshold=0.6)
    _check_traced(spark, docs.persist(), cfg,
                  ["features", "blocking", "cand_pairs", "seg_features",
                   "seg_scores", "max1_agg", "cc", "refine"])
