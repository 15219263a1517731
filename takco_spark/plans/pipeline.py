"""The flagship ER pipeline: documents → blocks → scored pairs → components →
cluster-labelled documents.

Mirrors the reference cluster-stage lifecycle (TableSet.cluster,
/root/reference/takco/__init__.py:231-430: matcher build → block → match →
aggregate+threshold → graph partition → per-partition refinement), re-expressed
as checkpointed DataFrame stages (SURVEY.md §3 EP2, §7):

    blocks(block_key, salt, doc_id)                      checkpoint #1
    pairs_scored(doc_id_1, doc_id_2, block_key, scores…) checkpoint #2
    components(doc_id, cluster_id)                       checkpoint #3
    labelled documents (spans untouched)                 output

``run_pipeline`` is the one composition of these stages: tests, the bench
harness's per-stage attribution and the command-line runner all call it.
With ``trace=True`` each stage runs inside Spark job group
``takco:<stage>``, its output is persisted and counted there, and
``stats["stages"][<stage>] = {"wall_s", "rows"}``, in run order:

    features, blocking, cand_pairs, then
      scoring                               (whole-document path) or
      seg_features, seg_scores, <mode>_agg  (aligned: max1_agg, greedy_agg)
    cc or louvain                           (clustering + rechunk_oversized)
    refine                                  (refine_threshold set)

The materialization adds jobs, so traced walls sum above an untraced
wall. An untraced run materializes nothing beyond its own plan, and its
stats have no "stages" key; a checkpoint-resumed stage is not traced.
"""

from __future__ import annotations

import time
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from takco_spark.config import PipelineConfig
from takco_spark.operators.blocking import block_documents, candidate_pairs
from takco_spark.operators.components import (
    attach_labels,
    connected_components,
    rechunk_oversized,
)
from takco_spark.operators.scoring import (
    aggregate_aligned,
    aligned_segment_scores,
    score_pairs,
)
from takco_spark.sources.checkpoint import CheckpointManager
from takco_spark.spans import doc_text_features


def config_token(cfg: PipelineConfig) -> str:
    """Short stable hash of the output-affecting config fields — becomes part
    of checkpoint stage paths so a changed config never resumes stale stages
    (checkpoint_dir / run_id themselves don't affect stage outputs)."""
    import dataclasses
    import hashlib
    import json

    d = dataclasses.asdict(cfg)
    d.pop("checkpoint_dir", None)
    d.pop("run_id", None)
    blob = json.dumps(d, sort_keys=True, default=str).encode()
    return hashlib.sha224(blob).hexdigest()[:12]


class PipelineStats(dict):
    """``run_pipeline``'s report: a ``dict`` of JSON values, so ``json.dumps``
    needs no hook. An entry set with :meth:`defer` is computed when it is
    first read (``[]``, ``get``, ``items``, ``values`` — which is how
    ``json.dumps`` reads a dict subclass), once. The blocking rollup is
    such an entry: it is a Spark job, and a run whose caller never reads it
    pays none. ``dict(stats)`` copies only what has been read (an unread
    entry copies as None)."""

    def __init__(self) -> None:
        super().__init__()
        self._deferred: dict[str, Callable[[], object]] = {}

    def defer(self, key: str, compute: Callable[[], object]) -> None:
        self._deferred[key] = compute
        super().__setitem__(key, None)

    def __getitem__(self, key):
        if key in self._deferred:
            super().__setitem__(key, self._deferred.pop(key)())
        return super().__getitem__(key)

    def get(self, key, default=None):
        return self[key] if key in self else default

    def items(self):
        return [(k, self[k]) for k in self]

    def values(self):
        return [self[k] for k in self]


#: the local properties ``setJobGroup`` sets; a traced stage restores them
_JOB_GROUP_PROPS = ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel")


def _trace_stage(spark: SparkSession, stages: dict, name: str,
                 compute: Callable[[], DataFrame]) -> DataFrame:
    """Run one stage's ``compute`` inside Spark job group ``takco:<name>``,
    persist and count its output there, record ``{"wall_s", "rows"}`` as
    ``stages[name]`` and restore the caller's job group."""
    sc = spark.sparkContext
    saved = {k: sc.getLocalProperty(k) for k in _JOB_GROUP_PROPS}
    sc.setJobGroup(f"takco:{name}", name)
    t0 = time.perf_counter()
    try:
        out = compute()
        if not out.is_cached:
            out = out.persist()
        rows = out.count()
    finally:
        for k, v in saved.items():
            sc.setLocalProperty(k, v)
    stages[name] = {"wall_s": round(time.perf_counter() - t0, 3),
                    "rows": rows}
    return out


@dataclass
class PipelineResult:
    labelled: DataFrame                 # documents + cluster_id (spans intact)
    components: DataFrame               # (doc_id, cluster_id)
    pairs_scored: DataFrame             # scored + thresholded candidate pairs
    blocks: DataFrame                   # (block_key, salt, doc_id)
    stats: PipelineStats = field(default_factory=PipelineStats)


def run_pipeline(
    spark: SparkSession,
    documents: DataFrame,
    cfg: PipelineConfig | None = None,
    *,
    trace: bool = False,
) -> PipelineResult:
    """Run the full record-linkage pipeline on a span-structured document
    table ``(doc_id, spans)``; extra input columns pass through to the output
    unchanged. ``trace=True`` materializes and times every stage (see the
    module docstring) into ``stats["stages"]``."""
    cfg = cfg or PipelineConfig()
    # Input-layout defense: a tiny single-file scan is ONE partition and
    # serializes every narrow stage up to the first shuffle; at real scale
    # the input has >= defaultParallelism splits and this is a no-op.
    from takco_spark.sources.readers import widen_input

    documents = widen_input(documents)
    ckpt = (
        CheckpointManager(spark, cfg.checkpoint_dir, cfg.run_id,
                          config_token=config_token(cfg))
        if cfg.checkpoint_dir
        else None
    )
    stats = PipelineStats()
    stages: dict = {}

    def traced(name: str, compute: Callable[[], DataFrame]) -> DataFrame:
        return _trace_stage(spark, stages, name, compute) if trace else compute()

    def checkpointed(name: str, compute: Callable[[], DataFrame],
                     extra_metrics: dict | None = None) -> DataFrame:
        if ckpt is None:
            return compute()
        return ckpt.stage(name, compute, extra_metrics=extra_metrics)

    # optional exact-key pre-clustering (EP2 step 2, reference headerunions
    # fold): identical-header docs merge into union documents before
    # blocking; the fuzzy stages run on the (smaller) union universe and
    # members inherit their union's final cluster label.
    membership = None
    er_docs = documents
    if cfg.header_union:
        from takco_spark.operators.stitch import header_union_merge

        membership, er_docs = header_union_merge(
            documents, cfg.header_union_max_group)
        # both sides are consumed multiple times (features + seg features +
        # final expansion); the membership map is 2 narrow columns
        membership = membership.persist()
        er_docs = er_docs.persist()
        hu_stats = membership.agg(
            F.count("*").alias("docs"),
            F.countDistinct("rep_id").alias("unions"),
        ).first()
        stats["header_union"] = {
            "docs": hu_stats["docs"],
            "unions": hu_stats["unions"],
            "merged_away": hu_stats["docs"] - hu_stats["unions"],
        }

    # features feed both blocking and scoring — cache once, scan twice
    features = traced("features", lambda: doc_text_features(
        er_docs, cfg.min_token_len).persist())

    embeddings = None
    if cfg.use_embedding or "embedding" in cfg.blockers:
        from takco_spark.operators.embedding import doc_mean_embeddings

        embeddings = doc_mean_embeddings(
            er_docs, dim=cfg.embedding_dim, seed=cfg.seed,
            min_token_len=cfg.min_token_len,
        ).persist()

    media = None
    if cfg.use_media or "media" in cfg.blockers:
        from takco_spark.spans import doc_media_features

        media = doc_media_features(er_docs).persist()

    # a checkpoint-resumed run skips the blocking closure: no stats
    stats["blocking"] = []

    def _blocks() -> DataFrame:
        out, st = block_documents(features, cfg, embeddings=embeddings,
                                  media=media)
        # DEFERRED: the rollup is a driver sync the timed paths never pay;
        # the first read (tests, diagnostics, json.dumps) forces one
        # aggregate off the cached key sizes
        stats.defer("blocking", lambda: [x.as_dict() for x in st])
        return out

    blocks = checkpointed("blocks", lambda: traced("blocking", _blocks),
                          extra_metrics={"cfg": cfg.blockers})

    def _pairs_scored() -> DataFrame:
        pairs = traced("cand_pairs", lambda: candidate_pairs(blocks))
        if cfg.aligned:
            from takco_spark.spans import doc_segment_features

            # both sides of the segment-pair join (s1, s2) scan this — one
            # cache fill instead of computing the per-segment tokenize twice
            # (measured: the duplicated derivation was ~2 × 40-55 CPU-s per
            # aligned headline run before the cache)
            seg_features = traced("seg_features", lambda: doc_segment_features(
                er_docs, cfg.min_token_len).persist())
            sub = traced("seg_scores", lambda: aligned_segment_scores(
                pairs, seg_features, cfg))
            return traced(f"{cfg.align_mode}_agg", lambda: aggregate_aligned(
                sub, seg_features, cfg))
        return traced("scoring", lambda: score_pairs(
            pairs, features, cfg,
            embeddings=embeddings if cfg.use_embedding else None,
            media=media if cfg.use_media else None,
        ))

    pairs_scored = checkpointed(
        "pairs_scored",
        _pairs_scored,
        extra_metrics={"agg_expr": cfg.agg_expr, "threshold": cfg.agg_threshold},
    )
    if cfg.refine_threshold is not None and ckpt is None and not trace:
        # refinement consumes the scored pairs a SECOND time (CC edges +
        # within-cluster sims); without a checkpoint write to re-read from,
        # the whole scoring stage would otherwise recompute — measured 2×
        # the aligned path's cost. A checkpointing run is already
        # materialized on disk, and a traced stage's output is persisted,
        # so this persist is for plain uncheckpointed runs.
        pairs_scored = pairs_scored.persist()

    cc_meta: dict = {}

    def _cluster() -> DataFrame:
        if cfg.cluster_method == "louvain":
            # exact reference partitioning (weighted multilevel Louvain per
            # connected component — operators/louvain.py)
            from takco_spark.operators.louvain import louvain_clusters

            lres = louvain_clusters(
                pairs_scored.select("doc_id_1", "doc_id_2", "agg_sim"),
                edge_exp=cfg.louvain_edge_exp,
                max_component_size=cfg.louvain_max_component,
                max_cc_iterations=cfg.max_cc_iterations,
            )
            res = lres.cc
        else:
            edges = pairs_scored.select(
                F.col("doc_id_1").alias("src"), F.col("doc_id_2").alias("dst")
            )
            res = connected_components(edges, cfg.max_cc_iterations)
        cc_meta["iterations"] = res.iterations
        cc_meta["converged"] = res.converged
        cc_meta["edge_counts"] = res.edge_counts
        labels = lres.labels if cfg.cluster_method == "louvain" else res.labels
        if cfg.max_cluster_size:
            # rechunk scans its input 3× (sizes, big, small anti-join); the
            # label set is 2 narrow columns — persist beats recomputing the
            # CC union+distinct from the checkpointed edge set each scan
            labels = rechunk_oversized(labels.persist(), cfg.max_cluster_size)
        return labels

    components = checkpointed(
        "components", lambda: traced(cfg.cluster_method, _cluster))
    stats["cc"] = cc_meta
    if cfg.refine_threshold is not None and ckpt is None and not trace:
        # refine_clusters scans the coarse labels 4× (size guard + joins)
        components = components.persist()

    if cfg.refine_threshold is not None:
        from takco_spark.operators.refine import refine_clusters

        def _refined() -> DataFrame:
            # With the G2 rechunk on, every incoming cluster is already
            # bounded at max_cluster_size, so refine's own guard could drop
            # exactly nothing — skip its sizes scan + broadcast joins
            # (guard=None). Belt-and-braces guard only when the rechunk is
            # disabled (max_cluster_size=0).
            guard = None if cfg.max_cluster_size else 1000
            refined = refine_clusters(
                components.select("doc_id", "cluster_id"),
                pairs_scored.select("doc_id_1", "doc_id_2", "agg_sim"),
                threshold=cfg.refine_threshold,
                max_group_size=guard,
            )
            return refined.select(
                "doc_id", F.col("refined_id").alias("cluster_id")
            )

        components = checkpointed("components_refined",
                                  lambda: traced("refine", _refined))

    if membership is not None:
        # expand union labels back to every member document
        components = (
            membership.join(
                components.select(F.col("doc_id").alias("rep_id"),
                                  "cluster_id"),
                "rep_id",
            ).select("doc_id", "cluster_id")
        )

    if trace:
        stats["stages"] = stages
    labelled = attach_labels(documents, components)
    return PipelineResult(
        labelled=labelled,
        components=components,
        pairs_scored=pairs_scored,
        blocks=blocks,
        stats=stats,
    )
