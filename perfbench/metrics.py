"""Names, units and directions of every metric the benchmark prints.

BENCHMARK.json lists the same metrics; run.py refuses to start when the
two disagree.
"""

from __future__ import annotations

# (name, unit, better, bound): bound is the share of the parent's median by
# which the metric may worsen before a change counts as a regression.
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("wall_s", "s", "lower", 0.25),
    ("docs_per_s", "docs/s", "higher", 0.25),
    ("cpu_s", "s", "lower", 0.25),
    ("pairwise_f1", "ratio", "higher", 0.01),
    ("success_rate", "ratio", "higher", 0.01),
]

#: layers traced with the full set of Spark counters
FULL_LAYERS = [
    "spans.doc_text_features",
    "spans.doc_segment_features",
    "blocking.block_documents",
    "blocking.candidate_pairs",
    "scoring.score_pairs",
    "scoring.score_pairs_aligned",
    "components.connected_components",
    "louvain.louvain_clusters",
    "refine.refine_clusters",
    "incremental_er.link_batch",
    "incremental_er.compact_state",
]
#: cheap layers: shuffle and spill counters would read ~0 and only add rows
SMALL_LAYERS = [
    "components.rechunk_oversized",
    "components.attach_labels",
    "incremental_er.latest_labels",
]
SETUP_LAYERS = ["setup.get_spark", "setup.warmup", "setup.datagen"]

FULL_SUFFIXES = [
    ("wall_s", "s"), ("rows_out", "rows"), ("jobs", "count"), ("stages", "count"),
    ("task_cpu_s", "s"), ("shuffle_read_mb", "MB"), ("shuffle_write_mb", "MB"),
    ("spill_mb", "MB"),
]
SMALL_SUFFIXES = FULL_SUFFIXES[:3] + [("task_cpu_s", "s")]

#: (layer, count, unit, better) recorded on the layer's span
LAYER_COUNTS = [
    ("blocking.block_documents", "keys_total", "count", "lower"),
    ("blocking.block_documents", "keys_dropped", "count", "lower"),
    ("blocking.block_documents", "keys_salted", "count", "lower"),
    ("blocking.candidate_pairs", "pair_ratio", "ratio", "lower"),
    ("scoring.score_pairs", "yield", "ratio", "higher"),
    ("scoring.score_pairs_aligned", "yield", "ratio", "higher"),
    ("components.connected_components", "iterations", "count", "lower"),
    ("components.connected_components", "converged", "flag", "higher"),
    ("components.rechunk_oversized", "clusters_split", "count", "lower"),
    ("louvain.louvain_clusters", "components", "count", "lower"),
    ("louvain.louvain_clusters", "skipped", "count", "lower"),
    ("refine.refine_clusters", "clusters_in", "count", "lower"),
    ("refine.refine_clusters", "clusters_out", "count", "higher"),
    ("incremental_er.link_batch", "state_files", "files", "lower"),
    ("incremental_er.link_batch", "bytes_written", "B", "lower"),
    ("incremental_er.compact_state", "state_files", "files", "lower"),
    ("incremental_er.compact_state", "bytes_written", "B", "lower"),
]

KERNELS = [
    ("similarity.jaro_winkler_np.pairs_per_s", "pairs/s"),
    ("similarity.lsh_bands.docs_per_s", "docs/s"),
    ("louvain.louvain_partition.edges_per_s", "edges/s"),
]

#: the incremental path's own figures: per-batch latency of link_batch
#: through the written label delta, and state bytes per ingested doc
STREAM = [
    ("incremental_er.link_batch.p50_s", "s", "lower"),
    ("incremental_er.link_batch.p90_s", "s", "lower"),
    ("incremental_er.state_bytes_per_doc", "B/doc", "lower"),
]

TRACE = [
    ("trace.overhead_s", "s", "lower"),
]

#: peak resident memory of the JVM and the Python workers. It follows GC
#: heap growth and which tasks overlap, so it swings by a fifth or more
#: between runs of the same code: too wide for an end-to-end bound.
MEMORY = [
    ("peak_rss_mb", "MB", "lower"),
]


def per_layer() -> list[tuple[str, str, str]]:
    """(name, unit, better) of every per-layer metric, in print order."""
    out = []
    for layer in FULL_LAYERS + SMALL_LAYERS:
        suffixes = FULL_SUFFIXES if layer in FULL_LAYERS else SMALL_SUFFIXES
        out += [(f"{layer}.{s}", unit, "lower") for s, unit in suffixes]
    out += [(f"{layer}.wall_s", "s", "lower") for layer in SETUP_LAYERS]
    out += [(f"{layer}.{c}", unit, better) for layer, c, unit, better in LAYER_COUNTS]
    out += [(name, unit, "higher") for name, unit in KERNELS]
    out += STREAM + TRACE + MEMORY
    return out
