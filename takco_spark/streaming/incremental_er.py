"""Incremental record linkage over a document stream.

The batch pipeline (plans/pipeline.py) re-clusters a full corpus; a
continuously-ingesting deployment cannot afford that per arrival. This module
is the streaming twin: ``readStream`` micro-batches of new documents are
linked INCREMENTALLY against everything seen so far —

1. features of the new batch are computed (same doc_text_features algebra);
2. the new docs' block keys are matched against a persisted BLOCK INDEX
   (block_key → doc_id of every prior doc), so each batch pays
   O(new_keys ⋈ index), never O(corpus²) — the stream analog of the batch
   blocking join. New-vs-new pairs come from the batch's own blocks;
3. candidate pairs are scored with the standard matcher suite
   (operators.scoring.score_pairs) against the union of new + stored
   features;
4. cluster labels are updated TRANSITIVELY: connected components run over
   (new edges) ∪ (prior doc→cluster assignments as edges), so a new document
   that bridges two existing clusters merges them — exactly the result a
   full batch re-run would produce for single-linkage clustering, at
   per-batch cost. (CC over accepted-edge union is associative:
   labels(E₁∪E₂) = labels(labels(E₁) ∪ E₂); the invariant the test pins.)

That is the whole-document, plain-CC pipeline: ``link_batch`` rejects a cfg
with ``aligned=True``, a ``refine_threshold``, ``cluster_method != "cc"`` or
``header_union=True`` before it writes any state, and does not rechunk
oversized clusters (``max_cluster_size``).

State layout (``state_dir``; parquet in the sandbox, Iceberg tables at
cluster scale — same downgrade story as sources/checkpoint.py). EVERY write
targets a ``batch=<id>`` directory, so a foreachBatch REPLAY after a crash
overwrites its own directories and reads only ``batch < id`` state — the
prior state is never destroyed, and re-running a batch is idempotent (the
parquet-level stand-in for Iceberg snapshot isolation):

    features/batch=<id>/   (doc_id, name, tokens[, media_refs])  delta/batch
    blocks/batch=<id>/     (ns, block_key, doc_id)    delta per batch
                           (operators.blocking.block_key_streams: the
                           union of the cfg.blockers key streams —
                           token/minhash/media, all deterministic per doc —
                           with each key's blocker namespace id)
    labels/batch=<id>/     (doc_id, cluster_id)       DELTA per batch: new
                           docs + docs whose cluster changed (r6 — the r5
                           layout wrote a FULL O(corpus) snapshot per
                           arrival, which dominates per-batch cost at
                           stream age; readers merge-on-read via
                           latest_labels, newest batch per doc wins)
    {features,blocks,labels}/_base/epoch=<k>/  compacted state <= k
                           (written by compact_state; for labels the epoch
                           is the fully-merged snapshot as of k)

One reader, ``_read_state``, holds the visibility rule for all three: the
newest complete epoch below the replay horizon plus the complete deltas
ABOVE it ("complete" = the dir carries ``_SUCCESS``). ``state_dir`` may be
any Hadoop FS path — a local directory, ``file://``, ``hdfs://`` or
``s3a://`` — because every listing and delete goes through
sources/checkpoint.HadoopPaths, like the stage checkpoints.

Without compaction the per-batch read fan-in grows O(#batches) — file
listings, parquet footers, and union width all scale with stream age, which
is untenable for a long-lived 10^12-doc ingest. ``compact_state`` is the
parquet stand-in for Iceberg's ``rewrite_data_files`` + ``expire_snapshots``
maintenance pair and keeps every batch's reads O(1 epoch + recent deltas).

Reference scope note: the reference has no streaming surface (SURVEY.md
§2.9) — this is part of the engine's Spark-native extension for continuous
web-scale ingestion, like streaming/ingest.py.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from takco_spark.config import PipelineConfig
from takco_spark.operators.blocking import (
    apply_block_caps,
    block_key_streams,
    candidate_pairs,
)
from takco_spark.operators.components import connected_components
from takco_spark.operators.scoring import score_pairs
from takco_spark.sources.checkpoint import HadoopPaths
from takco_spark.spans import DOCUMENT_SCHEMA, doc_media_features, doc_text_features


def _complete_ids(fs: HadoopPaths, root: str, prefix: str) -> list[int]:
    """Sorted ids of the ``<prefix><id>`` subdirectories of ``root`` that
    carry a ``_SUCCESS`` marker (committed writes)."""
    return sorted(
        int(name.split("=", 1)[1]) for name in fs.list_dirs(root)
        if name.startswith(prefix) and fs.exists(f"{root}/{name}/_SUCCESS")
    )


def _read_state(spark: SparkSession, root: str, schema: StructType | str,
                before_batch: int | None) -> DataFrame:
    """The state under ``root`` visible strictly before ``before_batch``
    (all of it when None): the newest complete ``_base/epoch=<k>`` below the
    horizon plus the complete ``batch=<id>`` deltas above k, each row tagged
    ``_b`` with the epoch or batch that wrote it. A crashed later batch's
    half-written dir has no _SUCCESS and is invisible to the replay that must
    not see it; a half-finished compaction is likewise invisible (an epoch
    commits via its own _SUCCESS, and leftover deltas <= k are ignored).
    ``schema`` types the empty state of a stream's first batch."""
    fs = HadoopPaths(spark)

    def visible(i: int) -> bool:
        return before_batch is None or i < before_batch

    epochs = [e for e in _complete_ids(fs, f"{root}/_base", "epoch=")
              if visible(e)]
    base = max(epochs) if epochs else None
    deltas = [i for i in _complete_ids(fs, root, "batch=")
              if visible(i) and (base is None or i > base)]
    parts = []
    if base is not None:
        parts.append(spark.read.parquet(f"{root}/_base/epoch={base}")
                     .withColumn("_b", F.lit(base)))
    if deltas:
        parts.append(
            spark.read.option("basePath", root)
            .parquet(*[f"{root}/batch={i}" for i in deltas])
            .withColumn("_b", F.col("batch").cast("int")).drop("batch")
        )
    if not parts:
        return spark.createDataFrame([], schema).withColumn(
            "_b", F.lit(None).cast("int"))
    return reduce(DataFrame.unionByName, parts)


def compact_state(spark: SparkSession, state_dir: str,
                  through_batch: int | None = None) -> dict:
    """Compact the incremental-linkage state THROUGH a batch id: fold every
    feature, block and label delta with id <= k into one
    ``_base/epoch=<k>`` dir each (for labels the fully-merged view of
    :func:`latest_labels`), then drop the folded deltas and older epochs.
    The parquet stand-in for Iceberg's ``rewrite_data_files`` +
    ``expire_snapshots`` maintenance pair.

    Default ``through_batch`` is the SECOND-newest complete label delta:
    Structured Streaming can only replay the batch after its last committed
    offset (the newest one here), and that replay must still be able to read
    state strictly below itself — so the newest batch is never folded in.
    Passing an explicit ``through_batch`` >= the newest label delta is
    rejected for the same reason.

    Crash-safe at every point: the epoch write commits via its _SUCCESS
    (readers ignore incomplete epochs), after which leftover deltas <= k are
    dead weight readers already skip — the deletion phase is pure cleanup
    and idempotent. Re-running with the same k short-circuits the write.
    """
    fs = HadoopPaths(spark)
    label_ids = _complete_ids(fs, f"{state_dir}/labels", "batch=")
    if through_batch is None:
        if len(label_ids) < 2:
            return {"compacted_through": None, "reason": "nothing to compact"}
        through_batch = label_ids[-2]
    k = through_batch
    if k not in label_ids:
        raise ValueError(
            f"no complete label snapshot for batch {k}; have {label_ids}")
    if k >= label_ids[-1]:
        raise ValueError(
            f"refusing to compact through the newest batch {label_ids[-1]} "
            "— a streaming replay of it could no longer read prior state")

    stats: dict = {"compacted_through": k}
    for sub in ("features", "blocks", "labels"):
        root = f"{state_dir}/{sub}"
        merged = [i for i in _complete_ids(fs, root, "batch=") if i <= k]
        epochs = _complete_ids(fs, f"{root}/_base", "epoch=")
        if not merged and not epochs:
            stats[sub] = {"deltas_merged": 0, "skipped": True}
            continue
        if k not in epochs:
            view = (latest_labels(spark, state_dir, before_batch=k + 1)
                    if sub == "labels"
                    # the schema only types an empty state, excluded above
                    else _read_state(spark, root, "doc_id string", k + 1)
                    .drop("_b"))
            view.write.mode("overwrite").parquet(f"{root}/_base/epoch={k}")
        # labels keep their delta k: it is what a re-run with the same k
        # validates against
        dropped = [i for i in merged if i < k or sub != "labels"]
        old_epochs = [e for e in epochs if e < k]
        for i in dropped:
            fs.delete(f"{root}/batch={i}")
        for e in old_epochs:
            fs.delete(f"{root}/_base/epoch={e}")
        if sub == "labels":
            stats["label_snapshots_dropped"] = len(dropped)
        else:
            stats[sub] = {"deltas_merged": len(merged),
                          "epochs_dropped": len(old_epochs)}
    return stats


def latest_labels(spark: SparkSession, state_dir: str,
                  before_batch: int | None = None) -> DataFrame:
    """The merged label view (strictly before ``before_batch`` when given —
    what a replayed batch must read): the visible label state of
    :func:`_read_state` reduced to each doc's latest assignment (the newest
    batch id wins — a doc appears in at most one row per delta, so the
    reduction is deterministic). Label state is written O(delta) per batch
    (see :func:`link_batch`); this view is the merge-on-read side of that
    trade."""
    return _read_state(
        spark, f"{state_dir}/labels", "doc_id string, cluster_id string",
        before_batch,
    ).groupBy("doc_id").agg(F.max_by("cluster_id", "_b").alias("cluster_id"))


def link_batch(
    spark: SparkSession,
    batch: DataFrame,
    state_dir: str,
    batch_id: int,
    cfg: PipelineConfig | None = None,
) -> DataFrame:
    """Link ONE micro-batch of documents against the accumulated state and
    return the updated full label table (doc_id, cluster_id).

    This is the foreachBatch body, callable directly for batch-shaped
    incremental loads (e.g. a nightly delta) — the streaming entry point
    below just wires it to a readStream source. ``batch_id`` must be
    strictly increasing across calls (Structured Streaming guarantees it).

    A cfg asking for aligned scoring, refine, Louvain or header unions raises
    ``ValueError`` before anything is written; oversized clusters are not
    rechunked (``max_cluster_size`` is ignored).
    """
    cfg = cfg or PipelineConfig(blockers=("token",))
    unsupported = [name for name, on in (
        ("aligned=True", cfg.aligned),
        ("refine_threshold", cfg.refine_threshold is not None),
        (f"cluster_method={cfg.cluster_method!r}", cfg.cluster_method != "cc"),
        ("header_union=True", cfg.header_union),
    ) if on]
    if unsupported:
        raise ValueError(
            f"link_batch does not implement {', '.join(unsupported)}; the "
            "stream links whole documents with connected components")
    # the feature delta carries media_refs when the media matcher/blocker is
    # on (old docs' refs must survive into later batches' scoring joins);
    # cfg must be stable across a state_dir's batches — same contract as the
    # checkpoint manager's config token in the batch pipeline
    media_on = cfg.use_media or "media" in cfg.blockers

    # -- write this batch's feature/block deltas FIRST (idempotent per-batch
    # dirs), then operate on the parquet-backed reads: clean scan plans (no
    # logical self-references into the un-materialized batch frame), and the
    # labels snapshot below stays the batch's commit point — a crash between
    # these writes and the snapshot replays harmlessly.
    feats_delta = doc_text_features(
        batch.select("doc_id", "spans"), cfg.min_token_len
    )
    if media_on:
        feats_delta = feats_delta.join(
            doc_media_features(batch.select("doc_id", "spans")), "doc_id"
        )
    # the blocker dispatch runs at plan time: planning the key streams over
    # the unwritten delta raises on a bad cfg.blockers (empty, unknown, or
    # 'embedding', whose table the stream does not keep) before anything
    # lands in state_dir
    block_key_streams(feats_delta, cfg, media=feats_delta,
                      drop_hot_tokens=False)
    feats_delta.write.mode("overwrite").parquet(
        f"{state_dir}/features/batch={batch_id}")
    new_feats = spark.read.parquet(f"{state_dir}/features/batch={batch_id}")
    # the block-key delta; media_refs ride the feature delta (media_on), so
    # the media key stream reads the already-parsed refs. No hot-token
    # exclusion: see block_key_streams on why the stream signs all tokens.
    block_key_streams(new_feats, cfg, media=new_feats,
                      drop_hot_tokens=False).write.mode(
        "overwrite"
    ).parquet(f"{state_dir}/blocks/batch={batch_id}")
    new_blocks = spark.read.parquet(f"{state_dir}/blocks/batch={batch_id}")

    # a first batch sees empty state typed like its own deltas
    old_feats = _read_state(spark, f"{state_dir}/features", new_feats.schema,
                            batch_id).drop("_b")
    old_blocks = _read_state(spark, f"{state_dir}/blocks", new_blocks.schema,
                             batch_id).drop("_b")
    old_labels = latest_labels(spark, state_dir, before_batch=batch_id)

    # -- blocking: new-vs-new from the batch's own keys; new-vs-old via the
    # block index, with the batch's (small) distinct key set broadcast as the
    # join driver. At scale the index side is an Iceberg table bucketed on
    # block_key (partition-pruned scan); the cap pass below bounds the worst
    # key exactly like the batch path (drop + salt, stats observable).
    hits = old_blocks.join(
        F.broadcast(new_blocks.select("block_key").distinct()), "block_key"
    )
    capped, _stats, block_caches = apply_block_caps(
        new_blocks.unionByName(hits), cfg)
    # keep pairs where at least one side is NEW (old-old pairs were linked in
    # prior batches; re-scoring them is pure waste). One pass with two
    # broadcast membership joins — no self-union, no distinct.
    new_ids = new_feats.select("doc_id")
    n1 = new_ids.select(F.col("doc_id").alias("doc_id_1"),
                        F.lit(True).alias("_n1"))
    n2 = new_ids.select(F.col("doc_id").alias("doc_id_2"),
                        F.lit(True).alias("_n2"))
    pairs = (
        candidate_pairs(capped)
        .join(F.broadcast(n1), "doc_id_1", "left")
        .join(F.broadcast(n2), "doc_id_2", "left")
        .where(F.col("_n1").isNotNull() | F.col("_n2").isNotNull())
        .drop("_n1", "_n2")
    )

    all_feats = old_feats.unionByName(new_feats)
    scored = score_pairs(
        pairs, all_feats, cfg,
        media=(all_feats.select("doc_id", "media_refs")
               if cfg.use_media else None),
    )

    # -- transitive label update, O(affected) per batch (r6): a component of
    # (new edges ∪ prior assignments) that contains no new-edge endpoint is
    # an unchanged prior cluster — its members keep their labels, so only
    # clusters REACHED by a new edge need to enter CC at all, and only new
    # or re-labelled docs need to be written. (Cluster ids are themselves
    # member doc ids — the CC min label — so restricting the assignment
    # edges to affected clusters preserves every merged component's min
    # exactly; the r5 shape fed ALL prior assignments to CC and wrote a
    # FULL O(corpus) snapshot per arrival, the documented per-batch floor.)
    # eager localCheckpoint on the edge set: CC's self-joining rounds must
    # not stack onto the deep scoring plan (also trips a Catalyst 4.1
    # attribute-resolution bug, NoSuchElementException key-not-found, when
    # the star-round self-joins stack onto this union un-materialized).
    new_edges = scored.select(
        F.col("doc_id_1").alias("src"), F.col("doc_id_2").alias("dst")
    ).localCheckpoint()
    # the edge set is materialized: the capped key stream and its key sizes
    # are read by nothing else this batch
    for df in block_caches:
        df.unpersist()
    old_labels = old_labels.persist()
    endpoints = (
        new_edges.select(F.col("src").alias("doc_id"))
        .unionByName(new_edges.select(F.col("dst").alias("doc_id")))
        .distinct()
    )
    affected = old_labels.join(
        old_labels.join(endpoints, "doc_id", "left_semi")
        .select("cluster_id").distinct(),
        "cluster_id", "left_semi",
    )
    label_edges = affected.select(
        F.col("doc_id").alias("src"), F.col("cluster_id").alias("dst")
    )
    labels = connected_components(
        new_edges.unionByName(label_edges).localCheckpoint(),
        cfg.max_cc_iterations,
    ).labels
    updated_ids = new_ids.unionByName(affected.select("doc_id")).distinct()
    full_updated = updated_ids.join(labels, "doc_id", "left").select(
        "doc_id", F.coalesce("cluster_id", "doc_id").alias("cluster_id")
    )
    delta = (
        full_updated.join(
            old_labels.select("doc_id", F.col("cluster_id").alias("_prev")),
            "doc_id", "left",
        )
        .where(F.col("_prev").isNull()
               | (F.col("_prev") != F.col("cluster_id")))
        .select("doc_id", "cluster_id")
    )

    # -- the batch's commit point: the label DELTA (new + re-labelled docs
    # only; deltas were written above; a replay overwrites all three
    # batch=<id> dirs and recomputes the identical delta from state < id)
    delta.write.mode("overwrite").parquet(
        f"{state_dir}/labels/batch={batch_id}"
    )
    old_labels.unpersist()
    return latest_labels(spark, state_dir, before_batch=batch_id + 1)


def incremental_er_stream(
    spark: SparkSession,
    landing_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    cfg: PipelineConfig | None = None,
    max_files_per_trigger: int = 64,
    available_now: bool = True,
    compact_every: int = 0,
):
    """readStream JSONL documents → per-micro-batch incremental linkage.

    foreachBatch + per-batch-dir idempotent writes give effective
    exactly-once state maintenance across restarts (a replayed batch
    overwrites its own directories and reads only earlier ones).
    ``compact_every=n`` folds state maintenance into the stream itself:
    after every n-th batch commits, deltas below it are compacted into a
    base epoch (see :func:`compact_state`) — compaction never touches the
    just-committed batch, so a crash-replay of it stays valid."""
    src = (
        spark.readStream.schema(DOCUMENT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(landing_dir)
    )

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        link_batch(spark, batch_df, state_dir, batch_id, cfg)
        if compact_every and batch_id > 0 and batch_id % compact_every == 0:
            compact_state(spark, state_dir)

    writer = (
        src.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
