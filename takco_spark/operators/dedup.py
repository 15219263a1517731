"""Deduplication suite over flat document tables (training-data ops).

Four tiers, all DataFrame-native:
- exact:        hash-groupBy on a normalized fingerprint (md5)
- n-gram:       character shingle Jaccard via explode + sum-product join
- MinHash-LSH:  shingle → minhash → band → bucket self-join (reuses the ER
                blocking kernels, /root/repo/takco_spark/functions/similarity.py;
                reference analog: /root/reference/takco/cluster/matchers/lsh.py)
- SimHash:      64-bit sign-of-weighted-sum fingerprint; near-dups = small
                Hamming distance within LSH-rotated buckets

All operate on ``(doc_id, text)``; outputs carry aliased, stable column names
for oracle parity.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import LongType

from takco_spark.functions.similarity import make_lsh_band_udf
from takco_spark.operators.blocking import bucket_pairs


def normalize_text(col):
    return F.regexp_replace(F.lower(col), r"\W", "")


def exact_dedup(documents: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Exact duplicate groups by md5 of normalized text.

    Returns (fingerprint, n_docs, canonical_id) — canonical = min id. One
    shuffle; at scale this is the cheapest first pass before near-dup tiers.
    """
    fp = documents.select(
        F.md5(normalize_text(F.col(text_col))).alias("fingerprint"),
        F.col(id_col).alias("doc_id"),
    )
    return fp.groupBy("fingerprint").agg(
        F.count("*").alias("n_docs"), F.min("doc_id").alias("canonical_id")
    )


def char_shingle_arrays(documents: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", k: int = 5) -> DataFrame:
    """(doc_id, shingles array<string>): distinct character k-grams of the
    normalized text, one NARROW projection (no explode, no shuffle).

    The array form is the primary representation: per-doc set sizes are
    ``size(shingles)`` and MinHash consumes ``transform(shingles, xxhash64)``
    directly, so neither ever needs the exploded stream regrouped by doc
    (the r5 shape paid a full shuffle to explode and immediately
    ``groupBy(doc_id).collect_list`` — guide §2.4, removed r6).
    """
    norm = F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " ")
    return (
        documents.select(
            F.col(id_col).alias("doc_id"), norm.alias("t")
        )
        .where(F.length("t") >= k)
        .select(
            "doc_id",
            F.array_distinct(
                F.expr(
                    f"transform(sequence(1, length(t) - {k - 1}), i -> substring(t, i, {k}))"
                )
            ).alias("shingles"),
        )
    )


def ngram_jaccard_pairs(documents: DataFrame, threshold: float = 0.5,
                        id_col: str = "doc_id", text_col: str = "text",
                        k: int = 5, max_df: int | None = None) -> DataFrame:
    """All-pairs character-k-gram Jaccard ≥ threshold.

    Sparse set-similarity join: |∩| from the shingle equi-join, |∪| from per-doc
    set sizes — never materializes per-pair shingle arrays
    (same sum-product shape as the TF-IDF cosine, SURVEY.md J7).

    Scale guard: the equi-join costs Σ_shingle df² — on corpora with shared
    vocabulary that is quadratic. ``max_df`` drops shingles occurring in more
    than that many docs from the JOIN (|∪| still counts them, so Jaccard is a
    lower bound — pairs whose overlap is only stop-shingles are the ones
    skipped). None = exact all-pairs semantics (used by the DuckDB oracle).
    """
    arrays = char_shingle_arrays(documents, id_col, text_col, k)
    if max_df is not None:
        # the array form is what both remaining consumers re-derive from —
        # persist it (smaller than the r5-persisted exploded stream by the
        # per-row doc_id duplication factor)
        arrays = arrays.persist()
    # |∪| denominators come from the NARROW array form — the r5 shape paid a
    # full groupBy shuffle of the exploded stream for the same counts.
    sizes = arrays.select("doc_id", F.size("shingles").alias("sz"))
    sh = arrays.select("doc_id", F.explode("shingles").alias("shingle"))
    if max_df is not None:
        hot = sh.groupBy("shingle").agg(F.count("*").alias("df")).where(
            F.col("df") > max_df
        ).select("shingle")
        sh_join = sh.join(F.broadcast(hot), "shingle", "left_anti")
    else:
        sh_join = sh
    # |∩| stays the streaming sum-product equi-join: the codegen'd join +
    # map-side partial count beats grouped in-row pair enumeration here —
    # measured r6: a candidate_pairs-style groupBy/collect_set/transform
    # rewrite of this stage ran 3.5× SLOWER at sf0.1 (13.9 s vs 4.1 s;
    # shingle buckets run to max_df=200 ids and Catalyst evaluates
    # higher-order lambdas interpreted, so O(df²) per-row enumeration loses
    # to the join even though it shuffles twice). Guide §1.1: the "ideal"
    # fewer-shuffles plan lost empirically; keep the join.
    a = sh_join.select(F.col("doc_id").alias("doc_id_1"), "shingle")
    b = sh_join.select(F.col("doc_id").alias("doc_id_2"), "shingle")
    inter = (
        a.join(b, "shingle")
        .where(F.col("doc_id_1") < F.col("doc_id_2"))
        .groupBy("doc_id_1", "doc_id_2")
        .agg(F.count("*").alias("inter"))
    )
    s1 = sizes.select(F.col("doc_id").alias("doc_id_1"), F.col("sz").alias("sz1"))
    s2 = sizes.select(F.col("doc_id").alias("doc_id_2"), F.col("sz").alias("sz2"))
    return (
        inter.join(s1, "doc_id_1")
        .join(s2, "doc_id_2")
        .select(
            "doc_id_1",
            "doc_id_2",
            (
                F.col("inter")
                / (F.col("sz1") + F.col("sz2") - F.col("inter"))
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def _bounded_bucket_pairs(banded: DataFrame, max_bucket_size: int | None) -> DataFrame:
    """(bucket, doc_id) → canonical candidate pairs, oversized buckets
    dropped (the no-silent-caps rule: callers surface the count via
    :func:`bucket_cap_stats` when they need the diagnostic).

    One groupBy into per-bucket id sets — the cap is the size filter on the
    grouped row (no separate hot-bucket job, no broadcast, no persist) —
    then in-row pair enumeration + a distinct, the same kernel as
    blocking.candidate_pairs. The r5 shape self-joined the persisted bucket
    stream (two scans + a join build) after a dedicated cap job; this is one
    shuffle of the bucket stream and one of the pair stream (guide §2.4).
    Bucket payload stays bounded by ``max_bucket_size``."""
    buckets = (
        banded.groupBy("bucket")
        .agg(F.sort_array(F.collect_set("doc_id")).alias("ids"))
        .where(F.size("ids") >= 2)
    )
    if max_bucket_size is not None:
        buckets = buckets.where(F.size("ids") <= max_bucket_size)
    return (
        buckets.select(F.explode(bucket_pairs()).alias("p"))
        .select(F.col("p.doc_id_1").alias("doc_id_1"),
                F.col("p.doc_id_2").alias("doc_id_2"))
        .distinct()
    )


def bucket_cap_stats(banded: DataFrame, max_bucket_size: int) -> dict:
    """Count buckets/rows excluded by a bucket cap — logged by pipelines that
    apply caps (reference analog: blocking reduction logging,
    /root/reference/takco/cluster/cluster.py:385-390)."""
    row = (
        banded.groupBy("bucket").agg(F.count("*").alias("n"))
        .agg(
            F.count("*").alias("buckets"),
            F.sum((F.col("n") > max_bucket_size).cast("long")).alias("dropped_buckets"),
            F.sum(F.when(F.col("n") > max_bucket_size, F.col("n")).otherwise(0)).alias(
                "dropped_rows"
            ),
        )
        .collect()[0]
    )
    return {k: int(row[k] or 0) for k in ("buckets", "dropped_buckets", "dropped_rows")}


def minhash_dedup_buckets(documents: DataFrame, num_perm: int = 128,
                          bands: int = 32, seed: int = 42, k: int = 5,
                          id_col: str = "doc_id", text_col: str = "text",
                          max_bucket_size: int | None = 500) -> DataFrame:
    """MinHash-LSH near-dup candidate pairs over char shingles.

    shingle → xxhash64 → banded MinHash (Arrow UDF) → bucket self-join.
    Returns (doc_id_1, doc_id_2) candidates — feed to ngram_jaccard_pairs on
    the candidate subset for exact confirmation at scale. Buckets above
    ``max_bucket_size`` are dropped (they are near-global shingle profiles —
    quadratic pair mass for near-zero dedup value); None disables.
    """
    # shingle sets stay in NARROW array form end to end: hashing is a
    # transform over the per-doc array, so the signature UDF's input needs no
    # shuffle at all (r5 exploded the shingles and paid a full
    # groupBy(doc_id).collect_list shuffle to reassemble them — guide §2.4).
    hashed = char_shingle_arrays(documents, id_col, text_col, k).select(
        "doc_id",
        F.transform(F.col("shingles"), lambda s: F.xxhash64(s)).alias(
            "token_hashes"),
    )
    lsh_udf = make_lsh_band_udf(num_perm, bands, seed)
    banded = hashed.select(
        "doc_id", F.posexplode(lsh_udf("token_hashes")).alias("band", "bh")
    ).select(
        F.concat(F.lit("b"), F.col("band"), F.lit(":"), F.col("bh")).alias("bucket"),
        "doc_id",
    )
    return _bounded_bucket_pairs(banded, max_bucket_size)


def make_simhash_udf(seed: int = 42):
    """pandas UDF: array<long> token hashes → 64-bit SimHash (long).

    Batch-vectorized: ALL rows' hashes are concatenated, bit-unpacked once
    (``np.unpackbits`` on the little-endian byte view), per-row bit counts
    taken with one ``np.add.reduceat`` over the run offsets, and the sign
    test ``2·ones > n_tokens`` packs back to 64-bit — zero per-row Python.
    """

    @pandas_udf(LongType())
    def simhash(token_hashes: pd.Series) -> pd.Series:
        n = len(token_hashes)
        out = np.zeros(n, dtype=np.uint64)
        vals = token_hashes.to_numpy()
        lens = np.fromiter(
            (0 if h is None else len(h) for h in vals),
            dtype=np.int64, count=n,
        )
        nonempty = np.nonzero(lens > 0)[0]
        if len(nonempty):
            # view (bit-reinterpret) == astype's modulo-2⁶⁴ wrap for int64 →
            # uint64, without the copy (same as _signature_chunks)
            flat = np.concatenate(
                [np.asarray(vals[i], dtype=np.int64) for i in nonempty]
            ).view(np.uint64)
            # (total_tokens, 64) bit matrix, bit j of hash at column j
            bits = np.unpackbits(
                flat.view(np.uint8).reshape(-1, 8), axis=1, bitorder="little"
            )
            nz_lens = lens[nonempty]
            starts = np.zeros(len(nonempty), dtype=np.int64)
            np.cumsum(nz_lens[:-1], out=starts[1:])
            ones = np.add.reduceat(bits.astype(np.int32), starts, axis=0)
            sig_bits = (2 * ones > nz_lens[:, None]).astype(np.uint64)
            out[nonempty] = (sig_bits << np.arange(64, dtype=np.uint64)[None, :]).sum(
                axis=1, dtype=np.uint64
            )
        return pd.Series(out.view(np.int64))

    return simhash


def simhash_docs(documents: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text", seed: int = 42) -> DataFrame:
    """(doc_id, simhash): 64-bit fingerprint over word tokens."""
    toks = documents.select(
        F.col(id_col).alias("doc_id"),
        F.expr(
            f"transform(array_distinct(filter(split(lower({text_col}), '\\\\W+'), t -> t != '')), t -> xxhash64(t))"
        ).alias("token_hashes"),
    )
    return toks.select("doc_id", make_simhash_udf(seed)("token_hashes").alias("simhash"))


def hamming64(a, b):
    """Hamming distance between two int64 SimHash columns (JVM bit ops)."""
    return F.bit_count(F.expr(f"({a} ^ {b})"))


def simhash_near_pairs(documents: DataFrame, max_hamming: int = 3,
                       id_col: str = "doc_id", text_col: str = "text",
                       max_bucket_size: int | None = 500,
                       stats_out: dict | None = None) -> DataFrame:
    """Near-dup pairs by SimHash: general pigeonhole blocking — the 64-bit
    fingerprint is split into ``max_hamming + 1`` contiguous pieces, so any
    pair within Hamming ≤ max_hamming must agree exactly on ≥ one piece
    (candidate recall = 1 before the bucket cap). Bucket on (piece index,
    piece value), self-join, then filter exact JVM ``bit_count`` Hamming.
    Oversized buckets dropped as in :func:`minhash_dedup_buckets`.

    Piece width shrinks as max_hamming grows (64/(d+1) bits → buckets get
    hotter); max_hamming > 15 would leave < 4-bit pieces and is rejected.
    The cap therefore erodes the recall=1 guarantee once the corpus outgrows
    ``max_bucket_size × 2^min_piece_width`` (every piece value saturates):
    that capacity is logged up front, and passing ``stats_out`` (a dict)
    fills in measured ``dropped_buckets`` / ``dropped_rows`` (one extra
    aggregate job) so the recall loss is observable, never silent.
    """
    if not 0 <= max_hamming <= 15:
        raise ValueError("max_hamming must be in [0, 15] for 64-bit pigeonhole blocking")
    n_pieces = max_hamming + 1
    base, rem = divmod(64, n_pieces)
    widths = [base + (1 if i < rem else 0) for i in range(n_pieces)]
    offsets = [sum(widths[:i]) for i in range(n_pieces)]
    if max_bucket_size is not None:
        import logging

        capacity = max_bucket_size * (1 << min(widths))
        logging.getLogger(__name__).info(
            "simhash pigeonhole: %d pieces (min %d bits); bucket cap %d keeps "
            "full recall up to ~%d docs — beyond that dropped buckets erode "
            "recall (pass stats_out= to measure drops)",
            n_pieces, min(widths), max_bucket_size, capacity,
        )
    sh = simhash_docs(documents, id_col, text_col)
    piece_cols = [
        F.concat(
            F.lit(f"{i}:"),
            F.shiftrightunsigned(F.col("simhash"), offsets[i])
            .bitwiseAND(F.lit((1 << widths[i]) - 1))
            .cast("string"),
        )
        for i in range(n_pieces)
    ]
    banded = sh.select(
        "doc_id", "simhash", F.explode(F.array(*piece_cols)).alias("bucket")
    ).select("bucket", "doc_id", "simhash")
    if stats_out is not None and max_bucket_size is not None:
        banded = banded.persist()
        stats_out.update(bucket_cap_stats(banded, max_bucket_size))
        if stats_out.get("dropped_buckets"):
            import logging

            logging.getLogger(__name__).warning(
                "simhash bucket cap dropped %d buckets (%d doc-piece rows) — "
                "recall < 1 at this corpus size; raise max_bucket_size or "
                "max_hamming-split granularity",
                stats_out["dropped_buckets"], stats_out["dropped_rows"],
            )
    # The 8-byte fingerprint rides along through the bucket groupBy, so the
    # Hamming filter needs NO re-join of the simhash table (r5 paid two
    # shuffle-hash joins to re-attach sh1/sh2 to the pair stream —
    # guide §2.4: decide with the bytes already in hand). Same one-shuffle
    # grouped pair enumeration + cap as :func:`_bounded_bucket_pairs`;
    # the distinct dedups identical (id, simhash) tuples, so pair semantics
    # are unchanged.
    buckets = (
        banded.groupBy("bucket")
        .agg(F.sort_array(F.collect_set(F.struct("doc_id", "simhash")))
             .alias("ids"))
        .where(F.size("ids") >= 2)
    )
    if max_bucket_size is not None:
        buckets = buckets.where(F.size("ids") <= max_bucket_size)
    pair_structs = F.expr("""
      flatten(transform(ids, (x, i) ->
        transform(slice(ids, i + 2, size(ids) - i - 1),
                  y -> struct(x.doc_id as doc_id_1, x.simhash as sh1,
                              y.doc_id as doc_id_2, y.simhash as sh2))))
    """)
    return (
        buckets.select(F.explode(pair_structs).alias("p"))
        .select("p.doc_id_1", "p.sh1", "p.doc_id_2", "p.sh2")
        .distinct()
        .withColumn("hamming", hamming64("sh1", "sh2"))
        .where(F.col("hamming") <= max_hamming)
        .select("doc_id_1", "doc_id_2", "hamming")
    )


# --------------------------------------------------------------------------
# Embedding-cosine near-duplicate mining (the fifth dedup tier)
# --------------------------------------------------------------------------

def embedding_neardup_pairs(
    embeddings: DataFrame, threshold: float = 0.9,
    id_col: str = "doc_id", emb_col: str = "emb",
) -> DataFrame:
    """EXACT all-pairs cosine near-dup mining → (id_1, id_2, cos_sim),
    canonical id_1 < id_2, cos_sim >= threshold.

    The brute-force baseline (oracle-checkable; DuckDB twin uses
    list_cosine_similarity). O(n²) compute with a single non-equi join —
    correct at any size but quadratic: at corpus scale use
    :func:`embedding_neardup_lsh`, which buckets first.
    """
    from takco_spark.functions.similarity import cosine

    a = embeddings.select(
        F.col(id_col).alias("id_1"),
        F.col(emb_col).cast("array<double>").alias("_e1"),
    )
    b = embeddings.select(
        F.col(id_col).alias("id_2"),
        F.col(emb_col).cast("array<double>").alias("_e2"),
    )
    return (
        a.join(b, F.col("id_1") < F.col("id_2"))
        .select(
            "id_1", "id_2", cosine(F.col("_e1"), F.col("_e2")).alias("cos_sim")
        )
        .where(F.col("cos_sim") >= F.lit(threshold))
    )


def _exact_cosine_pairs(pairs: DataFrame, embeddings: DataFrame,
                        threshold: float, id_col: str,
                        emb_col: str) -> DataFrame:
    """Bucketed candidate pairs (doc_id_1, doc_id_2) → (id_1, id_2, cos_sim)
    with the EXACT cosine >= ``threshold``: the vectors join onto both sides
    (shuffle-hash on the narrow pair stream), then one cosine projection."""
    from takco_spark.functions.similarity import cosine

    e1 = embeddings.select(
        F.col(id_col).alias("doc_id_1"),
        F.col(emb_col).cast("array<double>").alias("_e1"),
    )
    e2 = embeddings.select(
        F.col(id_col).alias("doc_id_2"),
        F.col(emb_col).cast("array<double>").alias("_e2"),
    )
    return (
        pairs.join(e1.hint("shuffle_hash"), "doc_id_1")
        .join(e2.hint("shuffle_hash"), "doc_id_2")
        .select(
            F.col("doc_id_1").alias("id_1"),
            F.col("doc_id_2").alias("id_2"),
            cosine(F.col("_e1"), F.col("_e2")).alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= F.lit(threshold))
    )


def embedding_neardup_lsh(
    embeddings: DataFrame, threshold: float = 0.9, n_bits: int = 8,
    seed: int = 42, max_bucket_size: int | None = 500,
    id_col: str = "doc_id", emb_col: str = "emb", dim: int | None = None,
) -> DataFrame:
    """Bucketed near-dup mining at scale: random-hyperplane LSH buckets
    (4 tables × n_bits, similarity_search.make_hyperplane_udf) → bounded
    within-bucket candidate pairs → EXACT cosine filter at ``threshold``.

    Precision is exact (every emitted pair passes the true cosine test);
    recall < 1 by LSH design — pairs whose vectors land in no common bucket
    are missed, and oversized buckets are dropped under the no-silent-caps
    rule (count observable via dedup.bucket_cap_stats on the bucket stream).
    Same candidate-generation contract as minhash_dedup_buckets: never
    all-pairs, bucket sizes bounded, one shuffle to bucket + one to dedup.
    """
    from takco_spark.operators.similarity_search import make_hyperplane_udf

    # dim=None derives the dimensionality in-plan inside the bucket UDF —
    # no driver-side .first() action hides in the operator.
    udf = make_hyperplane_udf(dim, n_bits, seed)
    banded = embeddings.select(
        F.col(id_col).alias("doc_id"),
        F.explode(udf(F.col(emb_col))).alias("bucket"),
    )
    pairs = _bounded_bucket_pairs(banded, max_bucket_size)
    return _exact_cosine_pairs(pairs, embeddings, threshold, id_col, emb_col)


def embedding_neardup_ivf(
    embeddings: DataFrame, threshold: float = 0.9, n_list: int = 16,
    nprobe: int = 2, seed: int = 42, max_bucket_size: int | None = 2000,
    sample_cap: int = 20000,
    id_col: str = "doc_id", emb_col: str = "emb",
) -> DataFrame:
    """IVF-bucketed near-dup mining: the data-adaptive sixth dedup tier.

    A seeded spherical k-means quantizer (similarity_search.
    train_ivf_centroids — bounded-sample trained, the FAISS protocol)
    assigns each vector its ``nprobe`` nearest centroid lists; candidate
    pairs share a list; exact cosine filters at ``threshold``. Where
    hyperplane LSH cuts the space with data-OBLIVIOUS planes, IVF cells
    follow the corpus's own density — on clustered corpora the same recall
    costs far fewer candidates. Precision is exact (true-cosine filter);
    recall < 1 when a near-dup pair straddles cells that probing misses —
    raise ``nprobe`` to trade cost for recall. Same no-silent-caps contract
    as the LSH tier: oversized lists are dropped via _bounded_bucket_pairs,
    observable through dedup.bucket_cap_stats on the bucket stream.
    """
    from takco_spark.operators.similarity_search import (
        make_ivf_assign_udf, train_ivf_centroids)

    centroids = train_ivf_centroids(
        embeddings, n_list=n_list, sample_cap=sample_cap, seed=seed,
        id_col=id_col, vec_col=emb_col)
    assign = make_ivf_assign_udf(centroids, nprobe=nprobe)
    banded = embeddings.select(
        F.col(id_col).alias("doc_id"),
        F.explode(assign(F.col(emb_col))).alias("bucket"),
    ).dropDuplicates(["doc_id", "bucket"])
    pairs = _bounded_bucket_pairs(banded, max_bucket_size)
    return _exact_cosine_pairs(pairs, embeddings, threshold, id_col, emb_col)
