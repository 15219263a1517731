"""Greedy 1:1 alignment total (SURVEY.md A5).

Reference semantics (greedy_align + aggregate_aligned_column_sims,
/root/reference/takco/cluster/cluster.py:246-345): within each candidate pair,
sort sub-item similarity scores descending and greedily pick 1:1 matches
(each left item and each right item used at most once); the pair's aggregate
is t / (n1 + n2 - t) ("jacc" mode) or t / max(n1,n2) / min(n1,n2) variants,
where t = Σ matched scores.

The greedy scan is sequential WITHIN a pair but independent ACROSS pairs:
scoring.aggregate_aligned packs each pair's cells into one collect_list row
and :func:`greedy_total_udf` scans a whole Arrow batch of pairs per call; the
width normalization is JVM arithmetic there. Tie-breaks replicate the
reference's sorted-iteration order: (-score, left, right), so outputs are
deterministic.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType


def _greedy_total_one(arr) -> float:
    """Reference greedy_align semantics (cluster.py:252-259): scan cells in
    (-score, l, r) order, keep a cell iff both sides unused, sum kept scores.
    Inherently sequential WITHIN one pair — but each pair's cell list is
    bounded by its segment-count product, and pairs batch through Arrow."""
    items = sorted(arr, key=lambda x: (-x["s"], x["l"], x["r"]))
    used_l: set = set()
    used_r: set = set()
    t = 0.0
    for it in items:
        if it["l"] in used_l or it["r"] in used_r:
            continue
        used_l.add(it["l"])
        used_r.add(it["r"])
        t += float(it["s"])
    return t


@pandas_udf(DoubleType())
def greedy_total_udf(cells: pd.Series) -> pd.Series:
    """array<struct<l:int,r:int,s:double>> of sub-item sims → greedy 1:1
    total score. The pipeline-friendly shape of A5: ONE aggregated row per
    pair (collect_list of bounded segment-pair cells), not one shuffle group
    per pair — pairs stream through as Arrow batches."""
    return pd.Series(
        [0.0 if a is None else _greedy_total_one(a) for a in cells]
    )
