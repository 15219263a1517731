"""The benchmark's workloads: seeded fixtures, the untraced unit of work, the
traced composition of the same layers, and the output checks.

Every workload drives the package only through its public functions. A
workload's unit of work is one ``run_pipeline`` call through the written
labelled output. Traced runs also trace the layers no workload's unit runs:
Louvain clustering on the flat workload's scored pairs, and the incremental
path on a small flat corpus in the aligned workload's run (see each
``trace_extras``).
"""

from __future__ import annotations

import shutil
import time
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from takco_spark.config import PipelineConfig
from takco_spark.datagen import synth_documents, synth_segmented_documents
from takco_spark.operators.blocking import block_documents, candidate_pairs
from takco_spark.operators.components import (
    attach_labels,
    connected_components,
    rechunk_oversized,
)
from takco_spark.operators.louvain import louvain_clusters
from takco_spark.operators.refine import refine_clusters
from takco_spark.operators.scoring import score_pairs, score_pairs_aligned
from takco_spark.plans.pipeline import run_pipeline
from takco_spark.sources.readers import widen_input
from takco_spark.spans import (
    doc_segment_features,
    doc_text_features,
    span_sequence_mismatches,
)
from takco_spark.streaming.incremental_er import (
    compact_state,
    latest_labels,
    link_batch,
)

from tracing import Tracer, dir_stats

#: the unit of work's span; layer spans directly under it make up the
#: traced wall that the tracing overhead compares with the untraced wall
UNIT_SPAN = "unit"


@dataclass
class Fixture:
    docs: DataFrame                 # (doc_id, spans): all the program sees
    gold: pd.Series                 # doc_id -> generator's true_entity
    batches: list[DataFrame] = field(default_factory=list)

    @property
    def n_docs(self) -> int:
        return len(self.gold)


@dataclass
class UnitResult:
    wall_s: float
    batch_walls: list[float]
    out_path: str                   # labelled documents, parquet
    disk_bytes: int                 # output (batch) or state (stream) bytes
    frames: dict = field(default_factory=dict)


def _materialize(df: DataFrame) -> tuple[DataFrame, int]:
    df = df.persist()
    return df, df.count()


def _fixture(docs: DataFrame) -> Fixture:
    docs = docs.persist()
    gold = docs.select("doc_id", "true_entity").toPandas()
    return Fixture(
        docs=docs.select("doc_id", "spans").persist(),
        gold=pd.Series(gold["true_entity"].to_numpy(), index=gold["doc_id"]),
    )


class BatchWorkload:
    """One ``run_pipeline`` call over a seeded corpus."""

    def __init__(self, name: str, cfg: PipelineConfig):
        self.name, self.cfg = name, cfg

    def generate(self, spark: SparkSession, seed: int) -> DataFrame:
        raise NotImplementedError

    def build(self, spark: SparkSession, seed: int) -> Fixture:
        fx = _fixture(self.generate(spark, seed))
        fx.docs.count()
        return fx

    def run(self, spark: SparkSession, fx: Fixture, out: str,
            tr: Tracer) -> UnitResult:
        if tr.enabled:
            return self._run_traced(spark, fx, out, tr)
        t0 = time.perf_counter()
        res = run_pipeline(spark, fx.docs, self.cfg)
        res.labelled.write.mode("overwrite").parquet(out)
        wall = time.perf_counter() - t0
        return UnitResult(wall, [wall], out, dir_stats(out)[1])

    def _run_traced(self, spark, fx, out, tr) -> UnitResult:
        """run_pipeline's composition, layer by layer, with its config and
        guards, each layer's output materialized inside its span so its
        Spark jobs land in its job group."""
        cfg = self.cfg
        t0 = time.perf_counter()
        with tr.span(UNIT_SPAN):
            documents = widen_input(fx.docs)
            with tr.span("spans.doc_text_features") as c:
                features, c["rows_out"] = _materialize(
                    doc_text_features(documents, cfg.min_token_len))
            with tr.span("blocking.block_documents") as blk:
                blocks, bstats = block_documents(features, cfg)
                blocks, blk["rows_out"] = _materialize(blocks)
            with tr.span("blocking.candidate_pairs") as cp:
                pairs, cp["rows_out"] = _materialize(candidate_pairs(blocks))
            if cfg.aligned:
                with tr.span("spans.doc_segment_features") as c:
                    seg, c["rows_out"] = _materialize(
                        doc_segment_features(documents, cfg.min_token_len))
                with tr.span("scoring.score_pairs_aligned") as sc:
                    scored, sc["rows_out"] = _materialize(
                        score_pairs_aligned(pairs, seg, cfg))
            else:
                with tr.span("scoring.score_pairs") as sc:
                    scored, sc["rows_out"] = _materialize(
                        score_pairs(pairs, features, cfg))
            with tr.span("components.connected_components") as cc:
                res = connected_components(
                    scored.select(F.col("doc_id_1").alias("src"),
                                  F.col("doc_id_2").alias("dst")),
                    cfg.max_cc_iterations)
                labels, cc["rows_out"] = _materialize(res.labels)
            cc["iterations"], cc["converged"] = res.iterations, int(res.converged)
            if cfg.max_cluster_size:
                with tr.span("components.rechunk_oversized") as rc:
                    labels, rc["rows_out"] = _materialize(
                        rechunk_oversized(labels, cfg.max_cluster_size))
                rechunked = labels
            if cfg.refine_threshold is not None:
                with tr.span("refine.refine_clusters") as rf:
                    refined = refine_clusters(
                        labels.select("doc_id", "cluster_id"),
                        scored.select("doc_id_1", "doc_id_2", "agg_sim"),
                        threshold=cfg.refine_threshold,
                        # run_pipeline's guard: rechunked clusters are bounded
                        max_group_size=None if cfg.max_cluster_size else 1000,
                    )
                    labels, rf["rows_out"] = _materialize(refined.select(
                        "doc_id", F.col("refined_id").alias("cluster_id")))
            with tr.span("components.attach_labels") as al:
                attach_labels(documents, labels).write.mode(
                    "overwrite").parquet(out)
                al["rows_out"] = fx.n_docs
        wall = time.perf_counter() - t0
        # counts that need extra jobs are taken after the unit's span closed
        by_ns = list(bstats)
        blk["keys_total"] = sum(s.total_keys for s in by_ns)
        blk["keys_dropped"] = sum(s.dropped_keys for s in by_ns)
        blk["keys_salted"] = sum(s.salted_keys for s in by_ns)
        n = fx.n_docs
        cp["pair_ratio"] = cp["rows_out"] / max(1, n * (n - 1) // 2)
        sc["yield"] = sc["rows_out"] / max(1, cp["rows_out"])
        if cfg.max_cluster_size:
            rc["clusters_split"] = rechunked.where(
                F.col("cluster_id").contains("#")).select(
                F.substring_index("cluster_id", "#", 1)).distinct().count()
        if cfg.refine_threshold is not None:
            rf["clusters_in"] = refined.select("cluster_id").distinct().count()
            rf["clusters_out"] = refined.select("refined_id").distinct().count()
        return UnitResult(wall, [wall], out, dir_stats(out)[1],
                          frames={"scored": scored})

    def trace_extras(self, spark, tr: Tracer, fx: Fixture, traced: UnitResult,
                     out: str, seed: int) -> dict:
        """Layers traced beside the unit; returns figures for the report."""
        return {}


class FlatWorkload(BatchWorkload):
    def __init__(self, name, cfg, n_docs: int, extra_tokens: int):
        super().__init__(name, cfg)
        self.n_docs, self.extra_tokens = n_docs, extra_tokens

    def generate(self, spark, seed):
        return synth_documents(spark, self.n_docs, seed=seed,
                               extra_tokens=self.extra_tokens)

    def trace_extras(self, spark, tr, fx, traced, out, seed):
        """Louvain on the traced unit's scored pairs: what
        cluster_method='louvain' swaps in for CC on the same upstream."""
        louvain_layer(tr, traced.frames["scored"], self.cfg)
        return {}


class AlignedWorkload(BatchWorkload):
    def __init__(self, name, cfg, n_entities: int, stream: "StreamLayers"):
        super().__init__(name, cfg)
        self.n_entities, self.stream = n_entities, stream

    def generate(self, spark, seed):
        return synth_segmented_documents(spark, self.n_entities, variants=3,
                                         scramblers=1, seed=seed)

    def trace_extras(self, spark, tr, fx, traced, out, seed):
        """The incremental path on its own flat corpus, its output checked
        like a unit's. It runs here rather than in flat_cc's traced run,
        which Louvain and the fully materialized unit already bring close
        to the time limit of one run."""
        sub = self.stream.fixture(spark, seed)
        res = self.stream.run(spark, sub, out, tr)
        return {
            "stream_batch_walls": res.batch_walls,
            "stream_state_bytes_per_doc": res.disk_bytes / sub.n_docs,
            "stream_check": check_output(spark, sub, out),
        }


class StreamLayers:
    """The incremental path on a flat corpus of ``n_docs`` docs split into
    interleaved micro-batches (doc i goes to batch i mod B, so duplicates
    cross batches), linked one batch at a time against a growing state dir,
    compacted every ``compact_every`` batches."""

    def __init__(self, cfg: PipelineConfig, n_docs: int, extra_tokens: int,
                 n_batches: int, compact_every: int):
        self.cfg, self.n_docs, self.extra_tokens = cfg, n_docs, extra_tokens
        self.n_batches, self.compact_every = n_batches, compact_every

    def fixture(self, spark: SparkSession, seed: int) -> Fixture:
        fx = _fixture(synth_documents(spark, self.n_docs, seed=seed,
                                      extra_tokens=self.extra_tokens))
        idx = F.substring("doc_id", 2, 9).cast("long") % self.n_batches
        fx.batches = [fx.docs.where(idx == b) for b in range(self.n_batches)]
        return fx

    def run(self, spark, fx: Fixture, out: str, tr: Tracer) -> UnitResult:
        state = out + "_state"
        shutil.rmtree(state, ignore_errors=True)
        walls = []
        t0 = time.perf_counter()
        for i, batch in enumerate(fx.batches):
            before = dir_stats(state)[1]
            with tr.span("incremental_er.link_batch") as lb:
                tb = time.perf_counter()
                link_batch(spark, batch, state, i, self.cfg)
                walls.append(time.perf_counter() - tb)
            lb["state_files"], after = dir_stats(state)
            lb["bytes_written"] = after - before
            lb["rows_out"] = spark.read.parquet(f"{state}/labels/batch={i}").count()
            if i > 0 and i % self.compact_every == 0:
                before = after
                with tr.span("incremental_er.compact_state") as cs:
                    compact_state(spark, state)
                cs["state_files"], after = dir_stats(state)
                cs["bytes_written"] = after - before
        wall = time.perf_counter() - t0
        state_bytes = dir_stats(state)[1]
        with tr.span("incremental_er.latest_labels") as ll:
            labels, ll["rows_out"] = _materialize(latest_labels(spark, state))
        attach_labels(fx.docs, labels).write.mode("overwrite").parquet(out)
        labels.unpersist()
        shutil.rmtree(state, ignore_errors=True)
        return UnitResult(wall, walls, out, state_bytes)


def pairwise_f1(labels: pd.DataFrame, gold: pd.Series) -> float:
    """Pairwise F1 of (doc_id, cluster_id) against the generator's entities,
    over every document; a missing or duplicated document scores 0."""
    if len(labels) != len(gold) or labels["doc_id"].duplicated().any():
        return 0.0
    entity = gold.reindex(labels["doc_id"].to_numpy())
    if entity.isna().any():
        return 0.0

    def pairs(sizes: pd.Series) -> int:
        s = sizes.to_numpy().astype("int64")
        return int((s * (s - 1) // 2).sum())

    predicted = pairs(labels.groupby("cluster_id").size())
    true = pairs(gold.value_counts())
    both = pairs(pd.DataFrame({"c": labels["cluster_id"].to_numpy(),
                               "e": entity.to_numpy()}).groupby(["c", "e"]).size())
    precision = both / predicted if predicted else 1.0
    recall = both / true if true else 1.0
    return 2 * precision * recall / (precision + recall) if both else 0.0


def check_output(spark: SparkSession, fx: Fixture, out: str) -> dict:
    """Pairwise F1 over all labelled documents and span-sequence parity with
    the input."""
    labelled = spark.read.parquet(out)
    mismatches = span_sequence_mismatches(fx.docs, labelled.select("doc_id", "spans"))
    f1 = pairwise_f1(labelled.select("doc_id", "cluster_id").toPandas(), fx.gold)
    return {"pairwise_f1": f1, "span_mismatches": mismatches,
            "ok": f1 >= 0.99 and mismatches == 0}


def labels_differ(spark: SparkSession, a: str, b: str) -> int:
    """Rows of (doc_id, cluster_id) in one labelled output but not the
    other, both directions."""
    la = spark.read.parquet(a).select("doc_id", "cluster_id")
    lb = spark.read.parquet(b).select("doc_id", "cluster_id")
    return la.exceptAll(lb).count() + lb.exceptAll(la).count()


def louvain_layer(tr: Tracer, scored: DataFrame, cfg: PipelineConfig) -> None:
    """Louvain on the traced unit's scored pairs, with run_pipeline's
    arguments for cluster_method='louvain': the layer that pipeline adds
    on top of the shared upstream stages."""
    with tr.span("louvain.louvain_clusters") as lv:
        lres = louvain_clusters(
            scored.select("doc_id_1", "doc_id_2", "agg_sim"),
            edge_exp=cfg.louvain_edge_exp,
            max_component_size=cfg.louvain_max_component,
            max_cc_iterations=cfg.max_cc_iterations,
        )
        labels, lv["rows_out"] = _materialize(lres.labels)
    sizes = lres.cc.labels.groupBy("cluster_id").count()
    lv["components"] = sizes.count()
    lv["skipped"] = sizes.where(F.col("count") > cfg.louvain_max_component).count()
    labels.unpersist()


WORKLOADS = {
    w.name: w
    for w in [
        FlatWorkload("flat_cc", PipelineConfig(), n_docs=20_000, extra_tokens=24),
        AlignedWorkload(
            "aligned_refine",
            PipelineConfig(aligned=True, align_mode="max1", refine_threshold=0.6),
            n_entities=4_000,
            stream=StreamLayers(PipelineConfig(), n_docs=6_000, extra_tokens=24,
                                n_batches=2, compact_every=1),
        ),
    ]
}
