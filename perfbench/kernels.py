"""In-process micro-benchmarks of the Python kernels, without Spark, on
inputs sampled from the seeded workload corpus.

Each kernel runs a fixed number of operations three times; the rate is the
operation count over the median time.
"""

from __future__ import annotations

import statistics
import time

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from takco_spark.config import PipelineConfig
from takco_spark.functions.similarity import jaro_winkler_np, make_lsh_band_udf
from takco_spark.operators.louvain import louvain_partition
from takco_spark.spans import doc_text_features

SAMPLE_DOCS = 2_000
JW_PAIRS = 20_000
LSH_DOCS = 5_000
REPEATS = 3


def _median_time(fn) -> float:
    times = []
    for _ in range(REPEATS):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def sample(docs: DataFrame, cfg: PipelineConfig) -> pd.DataFrame:
    """The first SAMPLE_DOCS documents by doc_id: names and token hashes as
    the pipeline derives them. Neighbouring ids are often duplicates, which
    gives the pair kernels a realistic mix of matches and non-matches."""
    feats = doc_text_features(
        docs.orderBy("doc_id").limit(SAMPLE_DOCS), cfg.min_token_len)
    return feats.select(
        "doc_id", "name",
        F.transform("tokens", lambda t: F.xxhash64(t)).alias("hashes"),
    ).orderBy("doc_id").toPandas()


def run(sample_df: pd.DataFrame, cfg: PipelineConfig) -> dict[str, float]:
    n = len(sample_df)
    names = sample_df["name"].tolist()
    left = [names[i % n] for i in range(JW_PAIRS)]
    right = [names[(i + 1) % n] for i in range(JW_PAIRS)]
    out = {"similarity.jaro_winkler_np.pairs_per_s":
           JW_PAIRS / _median_time(lambda: jaro_winkler_np(left, right))}

    lsh = make_lsh_band_udf(cfg.num_perm, cfg.lsh_bands, cfg.minhash_seed).func
    hashes = pd.Series([np.asarray(sample_df["hashes"].iloc[i % n], dtype=np.int64)
                        for i in range(LSH_DOCS)])
    out["similarity.lsh_bands.docs_per_s"] = LSH_DOCS / _median_time(
        lambda: lsh(hashes))

    # a graph over the sample: each doc linked to its next two neighbours by
    # the Jaro-Winkler similarity of their names
    ids = sample_df["doc_id"].tolist()
    edges = {}
    for k in (1, 2):
        sims = jaro_winkler_np(names[:-k], names[k:])
        for i, s in enumerate(sims):
            if s > 0:
                edges[(ids[i], ids[i + k])] = float(s)
    out["louvain.louvain_partition.edges_per_s"] = len(edges) / _median_time(
        lambda: louvain_partition(edges, edge_exp=cfg.louvain_edge_exp))
    return out
