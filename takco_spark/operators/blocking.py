"""Blocking: documents → (ns, block_key, doc_id) → capped blocks → pairs.

Reference semantics being reproduced:
- token / inverted-index blocking: tables sharing any tokenized cell become
  candidates (CellJaccMatcher.block,
  /root/reference/takco/cluster/matchers/celljacc.py:63-69,102-105);
- MinHash-LSH blocking: 128-perm MinHash, banded LSH, candidates where
  estimated Jaccard ≥ threshold (LSHMatcher,
  /root/reference/takco/cluster/matchers/lsh.py:107-144,215-226).

Spark-first shape: a blocker is DATA, not an index object — it emits
``(block_key, doc_id)`` rows; candidate pairs come from grouping on
``block_key``. Every blocking decision lives here, one function per step,
and both the batch pipeline and the incremental stream
(streaming/incremental_er.link_batch) go through the same two:

1. :func:`block_key_streams` — the only dispatch on ``cfg.blockers``: each
   blocker's key stream, tagged with its namespace id, in one union
   ``(ns, block_key, doc_id)``; optionally with the corpus-wide hot tokens
   excluded from the MinHash input (as xxhash64 token hashes);
2. :func:`apply_block_caps` — skew caps on that union (north rule):

   - **hot-key drop**: keys with > ``max_block_size`` docs are dropped
     outright (stop-word tokens — quadratic pair blowup for near-zero
     precision);
   - **salting**: keys above ``salt_threshold`` are split into
     ceil(size/salt_threshold) salt buckets by hash(doc_id); pairs form only
     within a bucket.

Neither cap is silent: :func:`apply_block_caps` returns per-blocker stats
with dropped/salted key counts, persisted into the stage's lineage metrics —
the analog of the reference's logged blocking reduction factor
(/root/reference/takco/cluster/cluster.py:385-390).
:func:`block_documents` is the batch pipeline's composition of the two.
"""

from __future__ import annotations

import logging
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from takco_spark.config import PipelineConfig
from takco_spark.functions.similarity import make_lsh_band_udf


class DeferredStats:
    """Resolve-on-first-access proxy for blocking statistics.

    The stats rollup is a driver sync (a collect over the cached key-size
    table), and the hot pipeline paths never read it — the scaling legs and
    the streaming per-batch path discard the stats entirely, and the
    headline query consumes them only when a caller actually inspects them.
    Deferring the collect removes one driver barrier per blocking pass
    (guide §5: the driver should not sync mid-pipeline for data nobody
    looks at); the observable-caps contract is unchanged — iterating,
    indexing, truth-testing or attribute access forces the same aggregate,
    once, memoized."""

    def __init__(self, fn):
        self._fn = fn
        self._val = None

    def _force(self):
        if self._val is None:
            self._val = self._fn()
        return self._val

    def __getattr__(self, name):  # proxied attribute access (e.g. .as_dict)
        return getattr(self._force(), name)

    def __iter__(self):
        return iter(self._force())

    def __len__(self):
        return len(self._force())

    def __getitem__(self, i):
        return self._force()[i]

    def __bool__(self):
        return bool(self._force())

    def __repr__(self):
        return repr(self._force())


@dataclass
class BlockingStats:
    blocker: str
    total_keys: int
    dropped_keys: int
    salted_keys: int
    #: estimated within-key pairs LOST to salting (pairs form only within a
    #: salt bucket, so a key of size n split into s buckets keeps ≈ n(n/s−1)/2
    #: of its n(n−1)/2 pairs) — makes the recall cost of the skew bound
    #: observable, never silent (ADVICE r1).
    salted_pairs_excluded_est: int = 0

    def as_dict(self) -> dict:
        return self.__dict__.copy()


def _salt_excluded_expr(salt_threshold: int, max_block_size: int):
    """Aggregate expression over the key-size table: Σ over salted keys of
    (all within-key pairs − pairs retained inside salt buckets)."""
    n = F.col("n").cast("double")
    s = F.ceil(F.col("n") / salt_threshold).cast("double")
    excluded = (n * (n - 1) - n * (n / s - 1)) / 2.0
    cond = (F.col("n") > salt_threshold) & (F.col("n") <= max_block_size)
    return F.coalesce(
        F.sum(F.when(cond, excluded).otherwise(F.lit(0.0))), F.lit(0.0)
    ).cast("long")


#: namespace ids tagging each key with its blocker (stats attribution;
#: the string keys also carry the namespace in their prefix)
NS_TOKEN, NS_MINHASH, NS_EMBEDDING, NS_MEDIA = 0, 1, 2, 3
_NS_NAMES = {NS_TOKEN: "token", NS_MINHASH: "minhash",
             NS_EMBEDDING: "embedding", NS_MEDIA: "media"}


def token_blocks(features: DataFrame, cfg: PipelineConfig,
                 hashed: bool = False) -> DataFrame:
    """(doc_id, tokens) → (block_key='tok:'+token, doc_id). One shuffle
    (explode is narrow; the distinct-per-doc is already done upstream).

    ``hashed=True`` emits ``block_key = xxhash64(token)`` (long) instead of
    the string key — the pipeline's shuffle-byte optimization (a block key
    only needs IDENTITY, not content; hashing shrinks the 37M-row key stream
    from ~12-20-byte strings to 8-byte longs and makes every downstream
    groupBy/join hash fixed-width). xxhash64(token) is exactly the hash the
    MinHash signature path uses for its token stream, so the hashed stream
    is also where the hot-token exclusion list comes from.
    64-bit collisions merge two blocks spuriously (P ≈ n²/2⁶⁵ ≈ 10⁻⁵ at 37M
    keys) — harmless: a merged block only ADDS candidate pairs, which scoring
    filters."""
    tok = features.select(
        "doc_id", F.explode("tokens").alias("token")
    ).where(F.length("token") >= cfg.min_token_len)
    key = (F.xxhash64("token") if hashed
           else F.concat(F.lit("tok:"), F.col("token")))
    return tok.select(key.alias("block_key"), "doc_id")


def media_blocks(media_features: DataFrame, hashed: bool = False) -> DataFrame:
    """(doc_id, media_refs) → (block_key='med:'+ref, doc_id) — exact-key
    blocking on shared embedded media objects (interleaved text+media
    corpora: two documents embedding the same image/video are duplicate
    candidates regardless of their text).

    Same shape and skew discipline as :func:`token_blocks`: one narrow
    explode, fixed-width ``xxhash64`` keys under ``hashed=True``, and the
    union-level drop/salt caps bound any viral media object (a meme embedded
    by millions of pages is the media analog of a stop-word)."""
    refs = media_features.select(
        "doc_id", F.explode("media_refs").alias("ref")
    ).where(F.col("ref") != "")
    key = (F.xxhash64(F.concat(F.lit("med:"), F.col("ref"))) if hashed
           else F.concat(F.lit("med:"), F.col("ref")))
    return refs.select(key.alias("block_key"), "doc_id")


def minhash_blocks(features: DataFrame, cfg: PipelineConfig,
                   exclude_hashes: list[int] | None = None,
                   hashed: bool = False) -> DataFrame:
    """(doc_id, tokens) → one block key per LSH band: 'lsh{band}:{bandhash}'.

    Token hashing (xxhash64) runs JVM-side; the signature+banding runs in one
    Arrow-batched pandas UDF (functions.similarity).

    ``exclude_hashes``: stop-tokens removed from the MinHash input, as
    xxhash64(token) values (compared after token hashing). Without this, two
    unrelated documents sharing only ubiquitous tokens have a small but
    nonzero per-band collision probability — and n²·ε spurious candidates
    grow QUADRATICALLY with corpus size (measured: 288k pairs at 120k docs →
    1.0M at 240k). Dropping tokens that are globally hot (same threshold as
    the block-size cap) zeroes the random-collision Jaccard while leaving
    true-duplicate similarity intact.

    ``hashed=True`` emits ``block_key = xxhash64(band, band_hash)`` (long)
    instead of the string key (see token_blocks on why identity-only keys
    should be fixed-width).
    """
    lsh_udf = make_lsh_band_udf(cfg.num_perm, cfg.lsh_bands, cfg.minhash_seed)
    token_hashes = F.transform("tokens", lambda t: F.xxhash64(t))
    if exclude_hashes:
        token_hashes = F.array_except(
            token_hashes,
            F.array(*[F.lit(h).cast("long") for h in exclude_hashes]),
        )
    hashed_df = features.select(
        "doc_id", token_hashes.alias("token_hashes")
    )
    banded = hashed_df.select(
        "doc_id", F.posexplode(lsh_udf("token_hashes")).alias("band", "band_hash")
    )
    key = (F.xxhash64("band", "band_hash") if hashed
           else F.concat(F.lit("lsh"), F.col("band"), F.lit(":"),
                         F.col("band_hash")))
    return banded.select(key.alias("block_key"), "doc_id")


def _hot_token_hashes(token_hashes: DataFrame, cfg: PipelineConfig,
                      cap: int = 100_000) -> list[int]:
    """xxhash64 values of the tokens whose document frequency exceeds the
    block-size cap — the MinHash stop-token list (see minhash_blocks).

    ``token_hashes`` is the hashed token key stream (token_blocks with
    hashed=True). The list is collected into the MinHash plan as literals,
    but Zipf reality bounds it (df > the block cap bounds its length at
    total_tokens/cap); ``cap`` guards pathological inputs by keeping the
    HOTTEST ``cap`` with a logged warning — ordered truncation, never an
    arbitrary silent subset."""
    rows = (
        token_hashes.groupBy("block_key").agg(F.count("*").alias("df"))
        .where(F.col("df") > cfg.max_block_size)
        .orderBy(F.col("df").desc(), "block_key")
        .limit(cap + 1).collect()
    )
    hot = [r["block_key"] for r in rows]
    if len(hot) > cap:
        logging.getLogger(__name__).warning(
            "hot-token list truncated at %d hottest (raise max_block_size "
            "for this corpus scale)", cap,
        )
        hot = hot[:cap]
    return hot


def block_key_streams(
    features: DataFrame, cfg: PipelineConfig,
    embeddings: DataFrame | None = None,
    media: DataFrame | None = None,
    *, drop_hot_tokens: bool,
) -> DataFrame:
    """The union of the ``cfg.blockers`` key streams, each row tagged with
    its blocker's namespace id: ``(ns tinyint, block_key, doc_id)``.
    ``block_key`` is a string ('tok:…', 'lsh<band>:…', 'emb:…', 'med:…') or,
    under ``cfg.hashed_keys``, its xxhash64 long.

    ``embeddings``: (doc_id, emb) table required by the 'embedding' blocker
    (random-hyperplane buckets — the FAISS-blocking analog, SURVEY.md J3).
    ``media``: (doc_id, media_refs) table required by the 'media' blocker
    (spans.doc_media_features — exact-key blocking on shared media objects).

    ``drop_hot_tokens``: exclude the tokens whose document frequency in
    ``features`` exceeds ``max_block_size`` from the MinHash input. The
    batch pipeline passes True. The incremental stream passes False — a
    stream has no finished corpus to derive the list from, so its MinHash
    signs all tokens (increment ≡ batch exactly when no token exceeds
    max_block_size; the caps still bound every key either way).

    Every blocker is a deterministic per-doc key function (same doc → same
    keys in any batch), which is what lets the stream persist these rows as
    its block index. The dispatch runs while the plan is built, so an empty
    or unknown blocker, or one whose input table is missing, raises
    ``ValueError`` before any Spark job.
    """
    if not cfg.blockers:
        raise ValueError("cfg.blockers is empty")
    hashed = cfg.hashed_keys
    token_hashes = token_blocks(features, cfg, hashed=True)
    if hashed and drop_hot_tokens and {"token", "minhash"} <= set(cfg.blockers):
        # the hashed token key stream feeds the union AND the hot-token
        # count — one explode, cached once
        token_hashes = token_hashes.persist()

    parts: list[DataFrame] = []
    for blocker in cfg.blockers:
        if blocker == "token":
            part = token_hashes if hashed else token_blocks(features, cfg)
            ns = NS_TOKEN
        elif blocker == "minhash":
            hot = (_hot_token_hashes(token_hashes, cfg) if drop_hot_tokens
                   else None)
            part = minhash_blocks(features, cfg, exclude_hashes=hot,
                                  hashed=hashed)
            ns = NS_MINHASH
        elif blocker == "embedding":
            if embeddings is None:
                raise ValueError("'embedding' blocker requires an embeddings table")
            from takco_spark.operators.embedding import embedding_blocks

            part = embedding_blocks(embeddings, cfg.embedding_dim,
                                    cfg.emb_n_bits, cfg.seed)
            if hashed:
                part = part.select(
                    F.xxhash64("block_key").alias("block_key"), "doc_id"
                )
            ns = NS_EMBEDDING
        elif blocker == "media":
            if media is None:
                raise ValueError(
                    "'media' blocker requires a media features table "
                    "(spans.doc_media_features)")
            part = media_blocks(media, hashed=hashed)
            ns = NS_MEDIA
        else:
            raise ValueError(f"unknown blocker {blocker!r}")
        parts.append(part.select(
            F.lit(ns).cast("tinyint").alias("ns"), "block_key", "doc_id"
        ))
    raw = parts[0]
    for p in parts[1:]:
        raw = raw.unionByName(p)
    return raw


def apply_block_caps(
    raw: DataFrame, cfg: PipelineConfig
) -> tuple[DataFrame, DeferredStats, list[DataFrame]]:
    """Drop oversized keys, salt hot keys of a ``(ns, block_key, doc_id)``
    key stream; returns (blocks(block_key, salt, doc_id), per-blocker
    stats, the frames it persisted). Downstream pairing keys on
    (block_key, salt). A caller that runs blocking once per batch
    unpersists the frames once blocks and stats are no longer read.

    The blockers' key namespaces are disjoint (string mode: prefixes;
    hashed mode: the ~10⁻⁵ cross-namespace collision odds documented on
    token_blocks), so one cap pass over the union is semantically identical
    to per-blocker passes but pays the sizes groupBy and the cap join ONCE,
    and max(ns) attributes each key to its blocker for the stats rollup.

    Cost discipline: the raw stream is persisted and scanned exactly TWICE
    (once to size keys, once to apply the caps). Hot keys (above
    ``salt_threshold``) are few by construction, so both caps fit ONE
    broadcast map keyed on block_key, ``nsalt = -1`` marking drop and
    ``nsalt >= 2`` a salted key — one broadcast build and one probe pass.
    All drop/salt statistics come from ONE grouped aggregate over the small
    key-size table, DEFERRED (r6): collected mid-pipeline it was a blocking
    collect that forced ``raw`` to materialize in its own job; deferred, the union, the cap broadcast and the pair generation run as
    one job, callers that never read the stats (the stream) pay nothing,
    and a later read replays from the warm sizes cache.
    """
    raw = raw.persist()
    sizes = raw.groupBy("block_key").agg(
        F.count("*").alias("n"), F.max("ns").alias("ns")
    ).persist()

    def _compute_stats() -> list[BlockingStats]:
        srows = (
            sizes.groupBy("ns")
            .agg(
                F.count("*").alias("total"),
                F.sum((F.col("n") > cfg.max_block_size).cast("long")).alias(
                    "dropped"),
                F.sum(
                    (
                        (F.col("n") > cfg.salt_threshold)
                        & (F.col("n") <= cfg.max_block_size)
                    ).cast("long")
                ).alias("salted"),
                _salt_excluded_expr(cfg.salt_threshold, cfg.max_block_size).alias(
                    "salt_excl"
                ),
            )
            .collect()
        )
        return [
            BlockingStats(
                blocker=_NS_NAMES.get(r["ns"], str(r["ns"])),
                total_keys=int(r["total"] or 0),
                dropped_keys=int(r["dropped"] or 0),
                salted_keys=int(r["salted"] or 0),
                salted_pairs_excluded_est=int(r["salt_excl"] or 0),
            )
            for r in srows
        ]

    cap_map = sizes.where(
        (F.col("n") > cfg.salt_threshold) | (F.col("n") > cfg.max_block_size)
    ).select(
        "block_key",
        F.when(F.col("n") > cfg.max_block_size, F.lit(-1))
        .otherwise(F.ceil(F.col("n") / cfg.salt_threshold))
        .cast("int").alias("nsalt"),
    )
    # NOT persisted: the pipeline consumes blocks ONCE (candidate_pairs is a
    # single groupBy scan), and `raw` is already cached — callers that scan
    # blocks repeatedly (tests, stats) recompute only the cheap cap join.
    out = (
        raw.join(F.broadcast(cap_map), "block_key", "left")
        .where(F.coalesce(F.col("nsalt"), F.lit(0)) >= 0)
        .select(
            "block_key",
            F.when(
                F.col("nsalt").isNotNull(),
                F.pmod(F.xxhash64("doc_id"), F.col("nsalt")).cast("int"),
            ).otherwise(F.lit(0)).alias("salt"),
            "doc_id",
        )
    )
    return out, DeferredStats(_compute_stats), [raw, sizes]


def block_documents(
    features: DataFrame, cfg: PipelineConfig,
    embeddings: DataFrame | None = None,
    media: DataFrame | None = None,
) -> tuple[DataFrame, list[BlockingStats]]:
    """The batch pipeline's blocking: the configured key streams with the
    corpus-wide hot tokens dropped from MinHash, capped as one union.

    Returns (blocks(block_key, salt, doc_id), per-blocker stats); see
    :func:`block_key_streams` for the ``embeddings``/``media`` tables."""
    blocks, stats, _cached = apply_block_caps(
        block_key_streams(features, cfg, embeddings, media,
                          drop_hot_tokens=True),
        cfg,
    )
    return blocks, stats


def bucket_pairs() -> Column:
    """Every unordered pair of a bucket's ascending-sorted ``ids`` array, as
    ``struct(doc_id_1, doc_id_2)`` with doc_id_1 < doc_id_2: (x, every later
    y) enumerates each pair exactly once, inside the row — no join."""
    return F.expr("""
      flatten(transform(ids, (x, i) ->
        transform(slice(ids, i + 2, size(ids) - i - 1),
                  y -> struct(x as doc_id_1, y as doc_id_2))))
    """)


def candidate_pairs(blocks: DataFrame) -> DataFrame:
    """Within-block pairing → canonical deduplicated pairs.

    ``doc_id_1 < doc_id_2`` canonicalization (reference drops self matches and
    already-seen pairs, /root/reference/takco/cluster/cluster.py:383,392-397);
    the pair may arise under many keys — we keep ONE representative
    ``block_key`` (the min) so the F1-at-shared-blocking-key metric can group
    by it, and dedup on the pair.

    Physical shape: ONE groupBy of the block stream into (key, salt) buckets
    (``collect_set`` → partial aggregation map-side), then the pair
    combinations are generated INSIDE each bucket row with array higher-order
    functions and exploded. Versus the naive self-equi-join this shuffles the
    57M-row block stream once instead of twice, builds no join hash maps,
    and lets singleton buckets (the vast majority of LSH bands) die in the
    size filter without ever reaching a join. Bucket size is bounded by the
    upstream cap/salting (``max_block_size``/``salt_threshold``), so the
    per-row combination payload is bounded too — safe at any corpus scale.
    """
    buckets = (
        blocks.groupBy("block_key", "salt")
        .agg(F.sort_array(F.collect_set("doc_id")).alias("ids"))
        .where(F.size("ids") >= 2)
    )
    exploded = buckets.select("block_key", F.explode(bucket_pairs()).alias("p"))
    return exploded.groupBy(
        F.col("p.doc_id_1").alias("doc_id_1"),
        F.col("p.doc_id_2").alias("doc_id_2"),
    ).agg(F.min("block_key").alias("block_key"))
