"""Physical-plan regression tests — pin the PLANS.md claims.

These assert properties of the OPTIMIZED PLAN TEXT, not timings: filter/
column pushdown reaches the parquet scan, the scoring path keeps its Python
surface to exactly the intended Arrow UDFs, and the narrow-pair repartition
survives optimization. A plan regression (e.g. an accidental UDF in a filter
breaking pushdown) fails here long before it shows up as a slow benchmark.
"""

from takco_spark.config import PipelineConfig
from takco_spark.datagen import synth_documents
from takco_spark.operators.blocking import block_documents, candidate_pairs
from takco_spark.operators.scoring import score_pairs
from takco_spark.spans import doc_text_features


def _plan(df) -> str:
    jvm = df.sparkSession._jvm
    return jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def test_parquet_pushdown_and_pruning(spark):
    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    q = df.where("lang = 'en'").select("doc_id", "text")
    plan = _plan(q)
    assert "PushedFilters" in plan
    assert "EqualTo(lang,en)" in plan
    # 2-column projection + filter column only — not the whole table
    assert "n_chars" not in plan.split("ReadSchema")[1][:200]


def test_scoring_plan_python_surface_and_repartition(spark):
    docs = synth_documents(spark, 200, seed=42).select("doc_id", "spans")
    cfg = PipelineConfig()
    feats = doc_text_features(docs, cfg.min_token_len)
    blocks, _ = block_documents(feats, cfg)
    scored = score_pairs(candidate_pairs(blocks), feats, cfg)
    plan = _plan(scored)
    # exactly the intended Arrow surface: JW (+ the LSH band UDF upstream);
    # no row-at-a-time BatchEvalPython anywhere
    assert "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan
    # the explicit narrow-pair repartition survives optimization
    assert "REPARTITION_BY_NUM" in plan or "RoundRobinPartitioning" in plan \
        or "hashpartitioning(doc_id_1" in plan
    # whole-stage codegen spans exist (JVM-side matcher columns)
    assert "codegen id" in plan


def test_scoring_paths_evaluate_the_matcher_suite_once(spark):
    """Both scoring paths filter on matcher-derived columns (agg_sim, s).
    Scoring's Jaro-Winkler UDF is declared non-deterministic so Catalyst
    cannot copy it into a pushed-down filter: exactly ONE ArrowEvalPython
    per path (a deterministic one gives two)."""
    import re

    from takco_spark.operators.scoring import score_pairs_aligned

    feats = spark.createDataFrame(
        [("a", "alpha beta", ["alpha", "beta"]),
         ("b", "alpha bet", ["alpha", "bet"])],
        "doc_id string, name string, tokens array<string>",
    )
    seg = spark.createDataFrame(
        [("a", 0, "alpha", ["alpha"]), ("b", 0, "alpha", ["alpha"])],
        "doc_id string, seg int, seg_name string, seg_tokens array<string>",
    )
    pairs = spark.createDataFrame(
        [("a", "b", "k")], "doc_id_1 string, doc_id_2 string, block_key string"
    )
    flat = score_pairs(pairs, feats, PipelineConfig())
    aligned = score_pairs_aligned(
        pairs, seg, PipelineConfig(aligned=True, align_mode="max1"))
    for df in (flat, aligned):
        assert len(re.findall(r"\(\d+\) ArrowEvalPython", _plan(df))) == 1


def test_aligned_cap_window_shares_groupby_exchange(spark):
    """The align_max_cells top-K window partitions on the same keys as the
    per-pair aggregation, so capping adds a sort but NOT a second
    pair-keyed exchange (PLANS.md aligned-scoring claim)."""
    from takco_spark.operators.scoring import score_pairs_aligned

    seg = spark.createDataFrame(
        [("A", 0, "ax", ["xx"]), ("B", 0, "bx", ["xx"])],
        "doc_id string, seg int, seg_name string, seg_tokens array<string>",
    )
    pairs = spark.createDataFrame(
        [("A", "B", "k")], "doc_id_1 string, doc_id_2 string, block_key string"
    )
    base = dict(aligned=True, align_mode="greedy", agg_expr="jaccard",
                agg_threshold=0.1)
    plan_uncapped = _plan(score_pairs_aligned(
        pairs, seg, PipelineConfig(**base, align_max_cells=0)))
    plan_capped = _plan(score_pairs_aligned(
        pairs, seg, PipelineConfig(**base, align_max_cells=8)))
    count = lambda p: p.count("Exchange hashpartitioning(doc_id_1")
    assert count(plan_capped) == count(plan_uncapped), (
        "cap added a pair-keyed exchange")
    assert "Sort" in plan_capped


def test_knn_ivf_plan_is_equi_join(spark):
    """The IVF candidate join must be a hash EQUI-join on list_id — never a
    cartesian/nested-loop product (that would be the brute-force tier in
    disguise) — and its Python surface exactly the two Arrow assign UDFs."""
    import numpy as np

    from takco_spark.operators import similarity_search

    rng = np.random.RandomState(3)
    df = spark.createDataFrame(
        [(i, rng.normal(size=8).tolist()) for i in range(50)],
        ["vec_id", "embedding"],
    )
    out = similarity_search.knn_ivf(
        df.where("vec_id < 5"), df, k=2, n_list=4, seed=3)
    plan = _plan(out)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "list_id" in plan            # the equi-join key survived
    assert "BatchEvalPython" not in plan  # no row-at-a-time Python
    # exactly two Arrow nodes: corpus + query assign UDFs (formatted plans
    # print each node twice — tree line and "(n) Node" detail header)
    import re
    assert len(re.findall(r"\(\d+\) ArrowEvalPython", plan)) == 2


def test_louvain_plan_shape(spark):
    """The Louvain tier's Python surface must be exactly ONE Arrow UDF (the
    per-component kernel over bundle rows, shared with refine) — no
    per-group cogroup/applyInPandas, no row-at-a-time Python — and the
    member bundles must hang off an explicit repartition on the component
    key (the AQE-coalescing defense shared with refine)."""
    import re

    from takco_spark.operators.louvain import louvain_clusters

    sims = spark.createDataFrame(
        [(f"d{i}", f"d{i+1}", 0.9) for i in range(20)],
        "doc_id_1 string, doc_id_2 string, agg_sim double",
    )
    out = louvain_clusters(sims).labels
    plan = _plan(out)
    assert len(re.findall(r"\(\d+\) ArrowEvalPython", plan)) == 1
    assert "BatchEvalPython" not in plan
    assert "FlatMapCoGroupsInPandas" not in plan
    assert "FlatMapGroupsInPandas" not in plan
    # explicit repartition exchanges are exempt from AQE byte-based
    # coalescing
    assert re.search(
        r"hashpartitioning\(cluster_id#\d+, \d+\), REPARTITION_BY_NUM", plan)


def test_media_path_is_pure_jvm(spark):
    """The media blocker + media_jacc matcher must add ZERO Python to the
    plan (exact-key identity + set algebra — PLANS.md media-matcher claim)
    and keep its key namespace disjoint in both key modes."""
    from takco_spark.datagen import synth_documents
    from takco_spark.operators.blocking import (block_documents,
                                                candidate_pairs, media_blocks)
    from takco_spark.operators.scoring import score_pairs
    from takco_spark.spans import doc_media_features, doc_text_features

    docs = synth_documents(spark, 60, seed=42, partitions=2)
    media = doc_media_features(docs)
    feats = doc_text_features(docs, 2)
    cfg = PipelineConfig(blockers=("media",), hashed_keys=False,
                         use_media=True, agg_expr="media_jacc",
                         agg_threshold=0.5)
    blocks, _ = block_documents(feats, cfg, media=media)
    scored = score_pairs(candidate_pairs(blocks), feats, cfg, media=media)
    plan = _plan(scored.select("doc_id_1", "doc_id_2", "media_jacc"))
    # the datagen source is MapInPandas; the media chain itself must add no
    # Python evaluation nodes of any kind
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    # hashed media keys are namespaced BEFORE hashing (no raw-token collisions)
    hplan = _plan(media_blocks(media, hashed=True))
    assert "xxhash64" in hplan and "med:" in hplan
