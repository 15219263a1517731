"""Span-structured document model (the `input_hint` shape).

A document is ``(doc_id: string, spans: array<struct<kind:string, text:string,
media_ref:string, offset:int>>)`` — text interleaved with typed span
references, the Spark analog of takco's cell-with-hyperlink-spans model
(/root/reference/takco/linkedstring.py:4-88, /root/reference/takco/table.py:76-132:
a cell is a string plus offset-ordered typed links).

The span ORDER within a row is the sequence invariant the pipeline must
preserve byte-for-byte (kind, text, media_ref, order). We guarantee it
structurally: the ``spans`` column is carried through untouched and labels are
attached by join on ``doc_id``; :func:`span_sequence_mismatches` verifies it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SPANS_TYPE = "array<struct<kind:string,text:string,media_ref:string,offset:int>>"

DOCUMENT_SCHEMA = f"doc_id string, spans {SPANS_TYPE}"


def with_spans(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
               seed: int = 42) -> DataFrame:
    """Synthesize the span-structured shape from a flat-text document table.

    Deterministic pure function of (row, seed): tokenize ``text_col`` on
    non-word boundaries; token *i* becomes span *i* with ``offset = i`` and a
    kind chosen by seeded hash (mostly 'cell', occasionally
    'header'/'mention'/'media'; media spans get a deterministic media_ref).
    Used to lift the driver's flat ``documents.parquet`` into the
    `input_hint` shape (FIXTURES.md §1).
    """
    spans_expr = f"""
      transform(
        filter(split(lower(cast({text_col} as string)), '\\\\W+'), t -> t != ''),
        (t, i) -> struct(
          CASE pmod(xxhash64(cast({id_col} as string), i, {int(seed)}), 12)
            WHEN 0 THEN 'header'
            WHEN 1 THEN 'mention'
            WHEN 2 THEN 'media'
            ELSE 'cell'
          END AS kind,
          t AS text,
          CASE WHEN pmod(xxhash64(cast({id_col} as string), i, {int(seed)}), 12) = 2
               THEN concat('m', cast(pmod(xxhash64(t, {int(seed)}), 100000) as string))
               ELSE '' END AS media_ref,
          cast(i as int) AS offset))
    """
    return df.withColumn("spans", F.expr(spans_expr)).withColumn(
        "doc_id", F.col(id_col).cast("string")
    )


def explode_spans(documents: DataFrame) -> DataFrame:
    """Long-format view: one row per span — ``(doc_id, kind, text, media_ref,
    offset)``. The Spark-idiomatic equivalent of iterating LinkedString links
    (/root/reference/takco/linkedstring.py:22-49)."""
    return documents.select(
        "doc_id", F.explode("spans").alias("span")
    ).select(
        "doc_id",
        F.col("span.kind").alias("kind"),
        F.col("span.text").alias("text"),
        F.col("span.media_ref").alias("media_ref"),
        F.col("span.offset").alias("offset"),
    )


#: comparison-surface cap: string similarity (Levenshtein is O(len²) per
#: pair!) runs on the first MAX_NAME_LEN chars of the span text stream; the
#: token set still covers the whole document, so recall lives in the
#: set-level signals. Without this cap, one long-document pair costs
#: millions of DP cells inside the JVM levenshtein. Matches the Jaro-Winkler
#: kernel cap (functions.similarity.MAX_JW_LEN) so both string matchers see
#: the same surface.
MAX_NAME_LEN = 64


def doc_text_features(documents: DataFrame, min_token_len: int = 2) -> DataFrame:
    """Per-document text features used by blocking and scoring:

    - ``name``:   all non-media span texts joined in span (offset) order —
      the comparable surface string (analog of a table's cell text stream),
      capped at MAX_NAME_LEN chars;
    - ``tokens``: distinct lowercased tokens of the non-media spans, length
      >= min_token_len (tokenization per takco's default_tokenize,
      /root/reference/takco/cluster/matchers/matcher.py:23-26: lowercase,
      split on \\W+).

    One narrow projection; everything is built with JVM-side higher-order
    functions (no Python). Span order is honored via array_sort on
    (offset, text) structs — NATURAL struct ordering, not a comparator
    lambda: the lambda comparator runs interpreted per comparison and
    measured ~7× slower on the aligned corpus (1.48 s → 0.22 s for 12k
    docs at local[32]); offsets are unique per document, so the text
    tiebreak only adds determinism. The sorted array is computed ONCE in a
    sub-projection and shared by both output columns.
    """
    ordered = (
        "array_sort(transform(filter(spans, s -> s.kind != 'media'), "
        "s -> struct(s.offset as offset, s.text as text)))"
    )
    # one space-joined text per doc, split ONCE: equivalent to splitting
    # each span and flattening (the separator is itself a \W boundary and
    # empty fragments die in the length filter, so the token sequence —
    # and therefore array_distinct's first-occurrence order — is
    # identical), but it runs one regex pass over one string instead of a
    # per-span higher-order split + flatten, which Catalyst evaluates
    # interpreted per lambda call (r6; same change in doc_segment_features).
    return documents.select(
        "doc_id", F.expr(ordered).alias("_os")
    ).select(
        "doc_id", F.expr("array_join(transform(_os, s -> s.text), ' ')").alias("_txt")
    ).select(
        "doc_id",
        F.expr(f"substring(_txt, 1, {MAX_NAME_LEN})").alias("name"),
        F.expr(
            f"""array_distinct(filter(
                  split(lower(_txt), '\\\\W+'),
                  t -> length(t) >= {int(min_token_len)}))"""
        ).alias("tokens"),
    )


def doc_media_features(documents: DataFrame) -> DataFrame:
    """Per-document media-reference set: ``(doc_id, media_refs)`` where
    ``media_refs`` is the sorted distinct non-empty ``media_ref`` values of
    the document's ``kind='media'`` spans.

    The media analog of :func:`doc_text_features`'s token set — interleaved
    documents embedding the same media objects are strong duplicate
    candidates, and the signal is pure exact-key identity (no decode, no
    similarity kernel). One narrow JVM projection; sort for determinism.
    """
    return documents.select(
        "doc_id",
        F.expr(
            "array_sort(array_distinct(transform("
            "  filter(spans, s -> s.kind = 'media' AND s.media_ref != ''),"
            "  s -> s.media_ref)))"
        ).alias("media_refs"),
    )


def doc_segment_features(documents: DataFrame, min_token_len: int = 2) -> DataFrame:
    """Per-(doc, segment) features for ALIGNED scoring (SURVEY.md A5/J4).

    Segments are the document's sub-structure — the analog of a table's
    columns in the reference's column-wise matchers
    (/root/reference/takco/cluster/cluster.py:346-380: scores are computed
    per column pair, then aligned). In the span model a segment is delimited
    by 'header' spans: a header starts a new segment (field label + its
    value spans); spans before any header form segment 0. Media spans are
    excluded, as in :func:`doc_text_features`.

    Returns (doc_id, seg:int, seg_name, seg_tokens) — same feature contract
    as doc_text_features but one row per segment. Fully NARROW: the segment
    id of a span is the count of header offsets ≤ its offset, computed with
    array algebra inside each document row, and the per-segment rows come
    from a narrow explode of the distinct segment ids — no window, no
    groupBy, ZERO shuffles (the r5 shape exploded to long format and paid a
    full shuffle+sort for the running-header-count window plus the grouped
    re-collect; guide §2.4). Per-doc cost is O(spans × headers): header
    counts per document are small by construction, and the spans array is
    already resident in the row.
    """
    with_seg = documents.select(
        "doc_id",
        F.expr("filter(spans, s -> s.kind != 'media')").alias("_nm"),
    ).select(
        "doc_id", "_nm",
        F.expr(
            "transform(filter(_nm, s -> s.kind = 'header'), s -> s.offset)"
        ).alias("_h"),
    ).select(
        "doc_id",
        F.expr(
            "transform(_nm, s -> struct("
            "  size(filter(_h, h -> h <= s.offset)) as seg,"
            "  s.offset as offset, s.text as text))"
        ).alias("_ss"),
    )
    seg_rows = with_seg.select(
        "doc_id",
        "_ss",
        F.explode(
            F.expr("array_distinct(transform(_ss, x -> x.seg))")
        ).alias("seg"),
    ).select(
        "doc_id",
        F.col("seg").cast("int").alias("seg"),
        F.expr(
            "array_sort(transform(filter(_ss, x -> x.seg = seg),"
            " x -> struct(x.offset as offset, x.text as text)))"
        ).alias("xs"),
    )
    # join-then-split-once: see doc_text_features (equivalent tokens, one
    # regex pass instead of per-span interpreted lambdas)
    return seg_rows.select(
        "doc_id",
        "seg",
        F.expr("array_join(transform(xs, x -> x.text), ' ')").alias("_txt"),
    ).select(
        "doc_id",
        "seg",
        F.expr(f"substring(_txt, 1, {MAX_NAME_LEN})").alias("seg_name"),
        F.expr(
            f"""array_distinct(filter(
                  split(lower(_txt), '\\\\W+'),
                  t -> length(t) >= {int(min_token_len)}))"""
        ).alias("seg_tokens"),
    )


def span_slice(spans_col: str, start: int, end: int) -> "F.Column":
    """F16: slice a span sequence by offset range [start, end) with offsets
    re-based — the LinkedString slice semantics
    (/root/reference/takco/linkedstring.py:51-69: kept links shift by the
    slice start)."""
    return F.expr(
        f"transform(filter({spans_col}, s -> s.offset >= {int(start)} AND s.offset < {int(end)}),"
        f" s -> struct(s.kind as kind, s.text as text, s.media_ref as media_ref,"
        f" cast(s.offset - {int(start)} as int) as offset))"
    )


def span_concat(a: str, b: str) -> "F.Column":
    """F16: concatenate two span sequences, offset-shifting the right side by
    the left's length (LinkedString.__add__ semantics,
    /root/reference/takco/linkedstring.py:71-88)."""
    return F.expr(
        f"concat({a}, transform({b}, s -> struct(s.kind as kind, s.text as text,"
        f" s.media_ref as media_ref, cast(s.offset + size({a}) as int) as offset)))"
    )


def span_sequence_mismatches(a: DataFrame, b: DataFrame) -> int:
    """Count rows whose (kind, text, media_ref, order) span sequence differs
    between two document tables sharing doc_id. 0 ⇒ the per-row invariant
    holds (BASELINE.json input_hint)."""
    norm = (
        "transform(array_sort(spans, (x, y) -> case when x.offset < y.offset then -1 "
        "when x.offset > y.offset then 1 else 0 end), s -> struct(s.kind, s.text, s.media_ref))"
    )
    an = a.select("doc_id", F.expr(norm).alias("seq_a"))
    bn = b.select("doc_id", F.expr(norm).alias("seq_b"))
    joined = an.join(bn, "doc_id", "full_outer")
    return joined.where(
        ~(F.col("seq_a").eqNullSafe(F.col("seq_b")))
    ).count()


def add_context_rows(documents: DataFrame, fields: tuple[str, ...] = ("pgTitle",),
                     spans_col: str = "spans") -> DataFrame:
    """EP2 step 1 — prepend page/section context to every document before
    feature extraction (reference tables_add_context_rows,
    /root/reference/takco/cluster/context.py:8-63: each context field becomes
    a new leading column with header ``_<field>`` and the field's text in
    every data row, and annotation column indices shift right by
    ``len(fields)``).

    Span-model translation: each field contributes a leading ``header`` span
    (text ``_<field>`` — the underscore prefix that ``functions.text.tokenize``
    keeps whole, and that ``\\W+`` tokenization preserves since ``_`` is a
    word char) followed by a ``cell`` span holding the document's value of
    that field; existing spans shift by 2 per field (LinkedString.__add__
    offset semantics). The document must carry one column per entry in
    ``fields``; fields are prepended in reverse, so ``fields[0]`` ends up
    first — exactly the reference's ``list(fields)[::-1]`` loop.

    Under ``doc_segment_features`` the prepended header starts a fresh
    leading segment, so aligned (column-wise) scoring sees the context as
    its own comparable column — the reference's intent. Pure span algebra
    (one projection, no shuffle); downstream annotation streams shift via
    :func:`takco_spark.operators.triples.shift_annotation_cols`.
    """
    out = documents
    for field in reversed(list(fields)):
        prefix = F.array(
            F.struct(
                F.lit("header").alias("kind"),
                F.lit(f"_{field}").alias("text"),
                F.lit("").alias("media_ref"),
                F.lit(0).cast("int").alias("offset"),
            ),
            F.struct(
                F.lit("cell").alias("kind"),
                F.coalesce(F.col(field).cast("string"), F.lit("")).alias("text"),
                F.lit("").alias("media_ref"),
                F.lit(1).cast("int").alias("offset"),
            ),
        )
        shifted = F.expr(
            f"transform({spans_col}, s -> struct(s.kind as kind, s.text as text,"
            f" s.media_ref as media_ref, cast(s.offset + 2 as int) as offset))"
        )
        out = out.withColumn(spans_col, F.concat(prefix, shifted))
    return out
