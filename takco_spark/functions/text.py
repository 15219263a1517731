"""JVM-side text normalization Column helpers (SURVEY.md §2.8).

All of these are pure ``pyspark.sql.functions`` compositions — they stay
inside whole-stage codegen; none drop to Python.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: year pattern, reference: /root/reference/takco/link/types.py:27
YEAR_PATTERN = r"^(\d{4})([-–—]\d{2,4})?$"


def tokenize(col: Column | str) -> Column:
    """Lowercase + split on non-word chars, drop empties; text starting with
    ``_`` (context tokens like ``_pgTitle``) is kept whole, case preserved.

    Reference semantics: default_tokenize,
    /root/reference/takco/cluster/matchers/matcher.py:23-26.
    """
    c = F.col(col) if isinstance(col, str) else col
    split = F.filter(F.split(F.lower(c), r"\W+"), lambda t: t != F.lit(""))
    return F.when(c.startswith("_"), F.array(c)).otherwise(split)


def distinct_tokens(col: Column | str, min_len: int = 1) -> Column:
    c = tokenize(col)
    if min_len > 1:
        c = F.filter(c, lambda t: F.length(t) >= F.lit(min_len))
    return F.array_distinct(c)


def year_extract(col: Column | str) -> Column:
    """Extract a 4-digit year (possibly a range prefix) or empty string."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract(c, YEAR_PATTERN, 1)


def digit_mask(col: Column | str) -> Column:
    """Mask digits for TF-IDF-style matching so '1999' ≈ '2004'.

    Reference: /root/reference/docs/benchmarks/snow_pipeline.py:255-256
    (``\\d → $`` and money regex → literal token).
    """
    c = F.col(col) if isinstance(col, str) else col
    # '$' is a group reference in Java replacement strings — escape it
    money = F.regexp_replace(c, r"^[$€£]\s?[\d.,]+$|^[\d.,]+\s?[$€£]$", r"\$MONEY\$")
    return F.regexp_replace(money, r"\d", r"\$")


def normalize_surface(col: Column | str) -> Column:
    """Surface-form normalization for lookup joins: non-word → space,
    underscores → space, lowercase, trim.

    Reference: /root/reference/takco/link/db/elasticsearch.py:265-280.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(
        F.regexp_replace(F.regexp_replace(F.lower(c), r"[_\s]+", " "), r"[^\s\w]", " ")
    )


def header_id(col: Column | str) -> Column:
    """Deterministic 63-bit id of a header string: first 16 hex chars of
    SHA-224 as an unsigned int shifted into 63 bits.

    Reference: /root/reference/takco/table.py:218-225 — ``get_headerId`` uses
    ``int(sha224(...).hexdigest()[:16], 16) // 2`` so it fits a signed int64.
    Reproduced exactly so exact-key pre-clustering (header unions) can share
    blocking keys with the reference.
    """
    c = F.col(col) if isinstance(col, str) else col
    return (F.conv(F.substring(F.sha2(c, 224), 1, 16), 16, 10).cast("decimal(20,0)") / 2).cast("long")


def jaccard_tokens(a: Column, b: Column) -> Column:
    """Token-set Jaccard of two token-array columns (JVM-side).

    Reference arithmetic: /root/reference/takco/cluster/matchers/celljacc.py:114-117
    (``len(c1 & c2) / len(c1 | c2)``).
    """
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def levenshtein_sim(a: Column, b: Column, max_dist_frac: float | None = None) -> Column:
    """Normalized Levenshtein similarity ``(m - dist) / m``, m = max length.

    Reference: /root/reference/takco/link/types.py:195-201. Uses the built-in
    JVM ``levenshtein`` — no Python in the hot path.

    ``max_dist`` enables the thresholded variant (Spark 3.5+, int-only
    threshold): distances above it early-exit and score 0.0 — a similarity
    floor, sound whenever downstream only consumes sims above
    ``1 - max_dist/m`` (the pair-scoring hot path does; see PipelineConfig).
    """
    m = F.greatest(F.length(a), F.length(b))
    if max_dist_frac is None:
        return F.when(m > 0, (m - F.levenshtein(a, b)) / m).otherwise(F.lit(1.0))
    from takco_spark.spans import MAX_NAME_LEN

    max_dist = max(1, int(MAX_NAME_LEN * float(max_dist_frac)))
    d = F.levenshtein(a, b, max_dist)
    return (
        F.when(m == 0, F.lit(1.0))
        .when(d < 0, F.lit(0.0))
        .otherwise((m - d) / m)
    )
