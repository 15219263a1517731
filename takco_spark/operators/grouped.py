"""Per-group kernels over bounded groups: the size split and the bundle apply.

The cluster stage partitions the similarity graph and then runs a small
sequential kernel inside each partition (complete-linkage refine, weighted
Louvain). Both need the same two steps: set aside groups too big for one
Python call (:func:`split_oversized`), and run the kernel once per remaining
group (:func:`bundle_apply`).
"""

from __future__ import annotations

from collections.abc import Callable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, StringType

#: kernel(items, sims, attrs) -> {doc_id: label}; items are the group's
#: doc_ids, sims maps each sorted pair (a, b) to its max agg_sim, attrs maps
#: doc_id -> the member's ``attr_col`` value (empty without one)
Kernel = Callable[[list, dict, dict], dict]


def split_oversized(df: DataFrame, key: str,
                    max_size: int) -> tuple[DataFrame, DataFrame]:
    """Rows of ``df`` whose ``key`` group has at most ``max_size`` rows, and
    the rows of the larger groups. The oversized keys are few, so both sides
    are broadcast joins against them."""
    sizes = df.groupBy(key).agg(F.count("*").alias("_size"))
    big_ids = F.broadcast(sizes.where(F.col("_size") > max_size).select(key))
    return df.join(big_ids, key, "left_anti"), df.join(big_ids, key)


def bundle_apply(members: DataFrame, pair_sims: DataFrame, key: str,
                 kernel: Kernel, attr_col: str | None = None) -> DataFrame:
    """Run ``kernel`` once per ``key`` group of ``members``.

    members(doc_id, key [, attr_col]) + pair_sims(doc_id_1, doc_id_2,
    agg_sim) → (doc_id, key, label). A pair belongs to the group of its
    doc_id_1, so pairs of docs missing from ``members`` (a guarded-out group)
    drop; a group with no pairs still reaches the kernel with empty sims. A
    member the kernel leaves unlabelled is its own label.

    Each side becomes ONE bundle row per group (collect_list over the key),
    joined group-to-group — members and sims each shuffle once and nothing is
    copied (joining sims onto MEMBER rows would copy the O(k²) payload k
    times). One vectorized UDF call then serves a whole Arrow batch of
    groups; a per-group applyInPandas/cogroup builds and validates a pandas
    frame pair per group — measured 33 core-s for 3,000 tiny refine groups at
    sf0.1, ~11 ms/group of pure overhead.
    """
    members = members.select("doc_id", key, *([attr_col] if attr_col else []))
    mem_struct = (
        F.struct(F.col("doc_id"), F.col(attr_col).alias("attr"))
        if attr_col
        else F.struct(F.col("doc_id"))
    )
    l1 = members.select(F.col("doc_id").alias("doc_id_1"), F.col(key))
    sims_b = (
        pair_sims.join(l1, "doc_id_1")
        .groupBy(key)
        .agg(F.collect_list(
            F.struct("doc_id_1", "doc_id_2", "agg_sim")).alias("simrows"))
    )

    def run_batch(mem: pd.Series, simrows: pd.Series) -> pd.Series:
        out = []
        for m, sr in zip(mem, simrows):
            items = [r["doc_id"] for r in m]
            attrs = {r["doc_id"]: r["attr"] for r in m} if attr_col else {}
            sims: dict[tuple[str, str], float] = {}
            # parallel edges (the same pair from several blocks): keep the
            # max sim, scoring's per-pair dedup semantics
            for r in sr if sr is not None else ():
                a, b = r["doc_id_1"], r["doc_id_2"]
                pk = (a, b) if a < b else (b, a)
                s = float(r["agg_sim"])
                if pk not in sims or s > sims[pk]:
                    sims[pk] = s
            assign = kernel(items, sims, attrs)
            out.append([str(assign.get(x, x)) for x in items])
        return pd.Series(out)

    kernel_udf = pandas_udf(run_batch, ArrayType(StringType()))
    # Pin the bundle shuffle's partition count: per-row cost is PYTHON
    # compute on a few hundred BYTES, so AQE's byte-based coalescing would
    # collapse the stage to a few tasks (measured: a 7.3 s single-task stage
    # at sf0.1). The explicit keyed repartition is exempt from coalescing and
    # is reused by the groupBy (same hash partitioning, same count), so it
    # costs no extra shuffle; defaultParallelism is the deployment's
    # tasks-per-core sizing. The left join keeps groups without sims.
    par = members.sparkSession.sparkContext.defaultParallelism
    bundle = (
        members.repartition(par, key)
        .groupBy(key)
        .agg(F.collect_list(mem_struct).alias("mem"))
        .join(sims_b, key, "left")
        .select(key, F.col("mem.doc_id").alias("ids"),
                kernel_udf("mem", "simrows").alias("labels"))
    )
    return bundle.select(
        key, F.explode(F.arrays_zip("ids", "labels")).alias("z")
    ).select(F.col("z.ids").alias("doc_id"), key,
             F.col("z.labels").alias("label"))
