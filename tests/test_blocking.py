"""Blocking: token/minhash keys, hot-key drop, salting, pair canonicalization."""

import pytest
from pyspark.sql import functions as F

from takco_spark.config import PipelineConfig
from takco_spark.datagen import synth_documents
from takco_spark.operators.blocking import (
    NS_MINHASH,
    apply_block_caps,
    block_documents,
    block_key_streams,
    candidate_pairs,
    minhash_blocks,
    token_blocks,
)
from takco_spark.spans import doc_text_features


def _features(spark, n=60):
    docs = synth_documents(spark, n, seed=42)
    return doc_text_features(docs.select("doc_id", "spans"))


def test_token_blocks_share_entity_token(spark):
    cfg = PipelineConfig(blockers=("token",))
    feats = _features(spark)
    blocks = token_blocks(feats, cfg)
    # entity 0's rare token groups exactly its `variants` docs
    ent0 = blocks.where(F.col("block_key") == "tok:ent0x").count()
    assert ent0 == 3


def test_hot_key_dropped_and_salted(spark):
    cfg = PipelineConfig(blockers=("token",), max_block_size=20, salt_threshold=8)
    feats = _features(spark, n=60)  # stop-words appear in ~most of 60 docs
    raw = block_key_streams(feats, cfg, drop_hot_tokens=False)
    assert raw.columns == ["ns", "block_key", "doc_id"]
    capped, all_stats, _ = apply_block_caps(raw, cfg)
    [stats] = all_stats
    assert stats.blocker == "token"
    assert stats.dropped_keys >= 1  # at least one stop-word key dropped
    sizes = capped.groupBy("block_key", "salt").count()
    assert sizes.agg(F.max("count")).collect()[0][0] <= cfg.max_block_size
    # salted keys exist and have >1 salt bucket
    if stats.salted_keys:
        nsalts = capped.groupBy("block_key").agg(
            F.countDistinct("salt").alias("s")
        )
        assert nsalts.agg(F.max("s")).collect()[0][0] > 1


def test_minhash_blocks_collide_for_identical_docs(spark):
    cfg = PipelineConfig(blockers=("minhash",))
    feats = _features(spark)
    mh = minhash_blocks(feats, cfg)
    # identical token sets → all bands equal; doc pairs of the same entity
    # with variant perturbations must share at least one band
    pairs = (
        mh.alias("a")
        .join(mh.alias("b"), "block_key")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select("a.doc_id", "b.doc_id")
        .distinct()
    )
    assert pairs.count() > 0


@pytest.mark.parametrize("blockers,match", [
    ((), "empty"), (("token", "bogus"), "bogus"),
    (("embedding",), "embeddings table"),
], ids=["empty", "unknown", "embedding"])
def test_block_key_streams_rejects_bad_blockers(spark, blockers, match):
    """The one blocker dispatch raises at plan time, before any job."""
    with pytest.raises(ValueError, match=match):
        block_key_streams(_features(spark, n=4), PipelineConfig(blockers=blockers),
                          drop_hot_tokens=True)


def test_candidate_pairs_canonical_dedup(spark):
    cfg = PipelineConfig(blockers=("token", "minhash"))
    feats = _features(spark)
    blocks, stats = block_documents(feats, cfg)
    pairs = candidate_pairs(blocks)
    pdf = pairs.toPandas()
    assert (pdf["doc_id_1"] < pdf["doc_id_2"]).all()
    assert not pdf.duplicated(["doc_id_1", "doc_id_2"]).any()
    assert len(stats) == 2


def test_salted_pair_loss_estimate_observable(spark):
    """ADVICE r1: pairs excluded by salting must be observable. A key with
    n docs in (salt_threshold, max_block_size] is split into s=ceil(n/th)
    buckets; the stats must carry the estimated within-key pairs lost."""
    cfg = PipelineConfig(salt_threshold=4, max_block_size=100)
    # one shared key over 12 docs → s=3 buckets; lost ≈ n(n-1)/2 − n(n/s−1)/2
    rows = [(0, "tok:shared", f"d{i:02d}") for i in range(12)]
    blocks = spark.createDataFrame(
        rows, "ns tinyint, block_key string, doc_id string")
    capped, all_stats, _ = apply_block_caps(blocks, cfg)
    [stats] = all_stats
    assert stats.blocker == "token" and stats.salted_keys == 1
    n, s = 12.0, 3.0
    expected = int((n * (n - 1) - n * (n / s - 1)) / 2)
    assert stats.salted_pairs_excluded_est == expected
    # and the capped stream really forms fewer pairs than all-pairs
    pairs = (
        capped.alias("a").join(capped.alias("b"), ["block_key", "salt"])
        .where("a.doc_id < b.doc_id").count()
    )
    assert pairs < n * (n - 1) / 2


@pytest.mark.parametrize("blockers", [("token", "minhash"), ("minhash",)],
                         ids=["token_minhash", "minhash_only"])
def test_hashed_keys_equivalent_pairs_and_stats(spark, blockers):
    """cfg.hashed_keys swaps string block keys for xxhash64 longs — the
    candidate-pair SET and the per-blocker stats must be identical (key
    hashing changes identity representation, never block membership). The
    caps are low enough that tokens exceed them, so the hot-token exclusion
    from the MinHash input (token hashes in both key modes) is in play."""
    feats = _features(spark, n=80)
    base = dict(blockers=blockers, max_block_size=30, salt_threshold=10)
    b_str, st_str = block_documents(feats, PipelineConfig(hashed_keys=False, **base))
    b_hash, st_hash = block_documents(feats, PipelineConfig(hashed_keys=True, **base))
    assert dict(b_hash.dtypes)["block_key"] == "bigint"
    assert dict(b_str.dtypes)["block_key"] == "string"
    p_str = {(r["doc_id_1"], r["doc_id_2"])
             for r in candidate_pairs(b_str).collect()}
    p_hash = {(r["doc_id_1"], r["doc_id_2"])
              for r in candidate_pairs(b_hash).collect()}
    assert p_str == p_hash and p_str
    key = lambda sts: {s.blocker: (s.total_keys, s.dropped_keys, s.salted_keys,
                                   s.salted_pairs_excluded_est) for s in sts}
    assert key(st_str) == key(st_hash)
    assert set(key(st_hash)) == set(blockers)
    if "token" in blockers:
        assert key(st_hash)["token"][1] >= 1  # a stop-word key is dropped
    # hot tokens exist at these caps: excluding them changes the signatures
    cfg = PipelineConfig(hashed_keys=True, **base)
    mh = lambda drop: block_key_streams(feats, cfg, drop_hot_tokens=drop).where(
        F.col("ns") == NS_MINHASH)
    assert mh(True).exceptAll(mh(False)).count() > 0
