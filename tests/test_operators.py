"""Tests for profiling, stitching, alignment, multimodal, dedup operators."""

import pytest
from pyspark.sql import functions as F

from takco_spark.datagen import synth_documents
from takco_spark.operators import alignment, dedup, multimodal, profile, stitch


# --- profile -----------------------------------------------------------------

def test_pfd_exact_dependency(spark):
    # y = f(x) exactly → pFD 1.0; z random-ish → pFD < 1
    rows = [(i % 5, (i % 5) * 10, i % 3) for i in range(100)]
    df = spark.createDataFrame(rows, ["x", "y", "z"])
    assert profile.pfd(df, "x", "y") == pytest.approx(1.0)
    assert profile.pfd(df, "x", "z") < 1.0
    # reference arithmetic cross-check on a tiny known case:
    # x=1: a,a,b (max 2 of 3); x=2: c (1 of 1) → (2+1)/(3+1) = 0.75
    tiny = spark.createDataFrame(
        [(1, "a"), (1, "a"), (1, "b"), (2, "c")], ["x", "a"]
    )
    assert profile.pfd(tiny, "x", "a") == pytest.approx(0.75)


def test_key_column_detection(spark):
    # key determines both others; others don't determine key
    rows = [(i, i % 4, (i * 7) % 4) for i in range(40)]
    df = spark.createDataFrame(rows, ["k", "b", "c"])
    assert profile.key_column(df, ["k", "b", "c"]) == "k"


def test_uniqueness(spark):
    df = spark.createDataFrame([(i, i % 3) for i in range(30)], ["u", "v"])
    got = {r["column_name"]: r["uniqueness_ratio"] for r in
           profile.uniqueness(df, ["u", "v"]).collect()}
    assert got["u"] == pytest.approx(1.0)
    assert got["v"] == pytest.approx(0.1)


def test_column_types_majority(spark):
    cells = spark.createDataFrame(
        [("c1", "123"), ("c1", "4,567"), ("c1", "89%"), ("c1", "abc"),
         ("c2", "1999"), ("c2", "2004"), ("c2", "2010-12"),
         ("c3", "foo"), ("c3", "bar"), ("c3", "baz")],
        ["ci", "text"],
    )
    got = {r["ci"]: r["col_type"] for r in
           profile.column_types(cells, "ci", "text").collect()}
    assert got["c1"] == "numeric"
    assert got["c2"] == "year"
    assert got["c3"] == "text"


# --- stitch ------------------------------------------------------------------

def test_header_union_groups(spark):
    docs = synth_documents(spark, 30, seed=42).select("doc_id", "spans")
    keys = stitch.header_union_groups(docs)
    assert keys.count() == 30
    # identical header text ⇒ identical key (hash determinism)
    two = keys.groupBy("header_key").count().where("count > 1")
    assert two.count() >= 0  # smoke: runs; grouping key exists
    assert "header_key" in keys.columns


def test_majority_header(spark):
    cells = spark.createDataFrame(
        [("c1", "name"), ("c1", "name"), ("c1", "nom"), ("c1", ""),
         ("c2", "x"), ("c2", "y")],
        ["cluster_id", "text"],
    )
    got = {r["cluster_id"]: (r["header"], r["support"]) for r in
           stitch.majority_header(cells).collect()}
    assert got["c1"] == ("name", 2)
    assert got["c2"] == ("x", 1)  # tie → lexicographic


def test_stitch_clusters_rebases_offsets(spark):
    docs = synth_documents(spark, 12, seed=42)
    labelled = docs.select(
        "doc_id", "spans", (F.col("true_entity") % 3).cast("string").alias("cluster_id")
    )
    out = stitch.stitch_clusters(labelled)
    rows = out.collect()
    assert sum(r["n_docs"] for r in rows) == 12
    for r in rows:
        offsets = [s["offset"] for s in r["spans"]]
        assert offsets == list(range(len(offsets)))  # strictly re-based
        assert r["doc_ids"] == sorted(r["doc_ids"])


# --- alignment ---------------------------------------------------------------

def _aligned_totals(spark, cells, n1, n2, norm):
    """aggregate_aligned in greedy mode over one pair's (l, r, s) cells,
    with n1 / n2 segments on each side."""
    from takco_spark.config import PipelineConfig
    from takco_spark.operators.scoring import aggregate_aligned

    sub = spark.createDataFrame(
        [("A", "B", "k", l, r, s) for l, r, s in cells],
        "doc_id_1 string, doc_id_2 string, block_key string, "
        "l int, r int, s double",
    )
    seg = spark.createDataFrame(
        [("A", i) for i in range(n1)] + [("B", i) for i in range(n2)],
        "doc_id string, seg int",
    )
    cfg = PipelineConfig(aligned=True, align_mode="greedy",
                         align_width_norm=norm, agg_threshold=0.0)
    return [r["agg_sim"] for r in aggregate_aligned(sub, seg, cfg).collect()]


def test_greedy_align_reference_semantics(spark):
    # cells where naive max-per-left would double-use right item r1
    cells = [(1, 1, 0.9), (2, 1, 0.8), (2, 2, 0.5), (3, 3, 0.4)]
    t = 0.9 + 0.5 + 0.4
    assert alignment._greedy_total_one(
        [{"l": l, "r": r, "s": s} for l, r, s in cells]) == pytest.approx(t)
    # the jacc and max ('wide') normalizations of the same greedy total
    assert _aligned_totals(spark, cells, 3, 4, "jacc") == [
        pytest.approx(t / (3 + 4 - t))]
    assert _aligned_totals(spark, cells, 3, 4, "wide") == [pytest.approx(t / 4)]


def test_greedy_align_tie_break_deterministic(spark):
    # equal scores scan in (-score, l, r) order: l1-r1 is picked, which
    # blocks l1-r2 (l1 used) and l2-r1 (r1 used). Scanning l2-r1 first
    # would instead admit l1-r2 as well, for a total of 1.0.
    cells = [(1, 1, 0.5), (1, 2, 0.5), (2, 1, 0.5)]
    df = spark.createDataFrame(
        [([{"l": l, "r": r, "s": s} for l, r, s in cells],), (None,)],
        "cells array<struct<l:int,r:int,s:double>>",
    )
    got = [r[0] for r in df.select(alignment.greedy_total_udf("cells")).collect()]
    assert got == [pytest.approx(0.5), 0.0]


# --- multimodal --------------------------------------------------------------

def test_media_pipeline_plumbing(spark):
    docs = synth_documents(spark, 40, seed=42).select("doc_id", "spans")
    media = multimodal.synth_media_table(docs)
    assert media.schema["payload"].dataType.typeName() == "binary"
    feats = multimodal.extract_media_features(media, allow_fake=True)
    rows = feats.collect()
    assert all(len(r["feature"]) == multimodal.FEATURE_DIM for r in rows)
    assert all(r["decode_ok"] for r in rows)
    joined = multimodal.attach_media_features(docs, feats)
    assert joined.where(F.col("feature").isNull()).count() == 0

    # determinism: same ref → same feature
    f2 = multimodal.extract_media_features(media, allow_fake=True)
    assert sorted(map(tuple, ((r["media_ref"], tuple(r["feature"])) for r in rows))) == \
           sorted(map(tuple, ((r["media_ref"], tuple(r["feature"])) for r in f2.collect())))


def test_media_decode_stub_raises_without_fake(spark):
    docs = synth_documents(spark, 5, seed=42).select("doc_id", "spans")
    media = multimodal.synth_media_table(docs)
    with pytest.raises(Exception):  # NotImplementedError surfaces as PythonException
        multimodal.extract_media_features(media, allow_fake=False).collect()


def test_media_real_bmp_ppm_decode(spark):
    """The codec kernel really decodes the checked-in BMP/PPM fixtures —
    identically through the Spark mapInPandas path and allow_fake=False."""
    import numpy as np
    import os

    here = os.path.join(os.path.dirname(__file__), "data")
    bmp = open(os.path.join(here, "fixture_8x6.bmp"), "rb").read()
    ppm = open(os.path.join(here, "fixture_8x6.ppm"), "rb").read()

    # the two encodings hold the SAME image -> identical decode + features
    img_b = multimodal._decode_bmp(bmp)
    img_p = multimodal._decode_ppm(ppm)
    assert img_b.shape == img_p.shape == (6, 8, 3)
    assert np.array_equal(img_b, img_p)
    # spot-check pixels of the generator gradient: (0,0) black-ish corner
    assert tuple(img_p[0, 0]) == (0, 0, 0)
    assert img_p[0, 7][0] == 255  # right edge: full red channel

    feat = multimodal._image_features(img_b)
    assert feat.shape == (multimodal.FEATURE_DIM,)
    assert np.all((feat >= 0.0) & (feat <= 1.0)) and feat.std() > 0

    media = spark.createDataFrame(
        [("m:bmp", "image", bytearray(bmp), ("image/bmp", 8, 6, 0)),
         ("m:ppm", "image", bytearray(ppm), ("image/x-ppm", 8, 6, 0)),
         ("m:bad", "image", bytearray(b"BM" + b"\x00" * 10), ("image/bmp", 0, 0, 0))],
        multimodal.MEDIA_SCHEMA)
    rows = {r["media_ref"]: r for r in
            multimodal.extract_media_features(media, allow_fake=False).collect()}
    assert rows["m:bmp"]["decode_ok"] and rows["m:ppm"]["decode_ok"]
    assert rows["m:bmp"]["feature"] == rows["m:ppm"]["feature"]
    assert np.allclose(rows["m:bmp"]["feature"], feat, atol=1e-6)
    # corrupt payload: decode_ok=False, zero vector, job still succeeds
    assert not rows["m:bad"]["decode_ok"]
    assert all(v == 0.0 for v in rows["m:bad"]["feature"])


# --- dedup extras ------------------------------------------------------------

@pytest.fixture(scope="module")
def dup_docs(spark):
    rows = []
    for i in range(30):
        # realistic-length docs: SimHash assumes many tokens so a one-token
        # edit flips few bits
        base = " ".join(f"doc{i}tok{j}word" for j in range(50))
        rows.append((f"a{i:03d}", base))
        if i < 10:  # plant near-dups (one token replaced)
            rows.append((f"b{i:03d}", base.replace(f"doc{i}tok25word", "changedtoken")))
    return spark.createDataFrame(rows, ["doc_id", "text"]).persist()


def test_exact_dedup(spark, dup_docs):
    exact_copy = " ".join(f"doc0tok{j}word" for j in range(50))
    docs = dup_docs.unionByName(
        spark.createDataFrame([("z001", exact_copy)], ["doc_id", "text"])
    )
    groups = dedup.exact_dedup(docs)
    dup_group = groups.where(F.col("n_docs") > 1).collect()
    assert len(dup_group) == 1
    assert dup_group[0]["canonical_id"] == "a000"
    assert dup_group[0]["n_docs"] == 2


def test_minhash_buckets_find_planted_near_dups(spark, dup_docs):
    cands = {(r["doc_id_1"], r["doc_id_2"])
             for r in dedup.minhash_dedup_buckets(dup_docs, k=5).collect()}
    exact = {(r["doc_id_1"], r["doc_id_2"])
             for r in dedup.ngram_jaccard_pairs(dup_docs, threshold=0.8, k=5).collect()}
    # every true high-Jaccard pair must be recalled by LSH at threshold 0.8
    # (32 bands × 4 rows s-curve: P(recall | j=0.8) ≈ 1 - (1-0.8^4)^32 ≈ 1.0)
    assert exact, "fixture must contain true near-dup pairs"
    missed = exact - cands
    assert not missed, f"LSH missed {missed}"


def test_simhash_near_pairs(spark, dup_docs):
    pairs = dedup.simhash_near_pairs(dup_docs, max_hamming=15)
    got = {(r["doc_id_1"], r["doc_id_2"]): r["hamming"] for r in pairs.collect()}
    # planted near-dups differ by one token → small Hamming distance
    planted = {(f"a{i:03d}", f"b{i:03d}") for i in range(10)}
    found = planted & set(got)
    assert len(found) >= 8  # SimHash is approximate; most planted pairs found


def test_simhash_pigeonhole_piece_guarantee():
    """ADVICE r1 counterexample class: pairs whose differing bits are spread
    across ALL old 16-bit quarters. The general pigeonhole split
    (max_hamming+1 pieces) must still give every Hamming<=d pair one exactly
    shared piece. Pure-python brute force over adversarial bit layouts —
    mirrors the piece arithmetic in dedup.simhash_near_pairs."""
    import itertools
    import random

    rng = random.Random(7)
    for d in (3, 4, 8, 15):
        n_pieces = d + 1
        base, rem = divmod(64, n_pieces)
        widths = [base + (1 if i < rem else 0) for i in range(n_pieces)]
        offsets = [sum(widths[:i]) for i in range(n_pieces)]

        def pieces(x):
            return [
                (x >> offsets[i]) & ((1 << widths[i]) - 1)
                for i in range(n_pieces)
            ]

        for _ in range(200):
            x = rng.getrandbits(64)
            flip_bits = rng.sample(range(64), d)  # Hamming exactly d
            y = x
            for bit in flip_bits:
                y ^= 1 << bit
            px, py = pieces(x), pieces(y)
            assert any(a == b for a, b in zip(px, py)), (d, flip_bits)


def test_simhash_stats_out_observable(spark, dup_docs):
    """ADVICE: bucket-cap recall loss must be observable — stats_out gets
    dropped-bucket counts; a tiny cap drops everything measurably."""
    from takco_spark.operators.dedup import simhash_near_pairs

    stats = {}
    simhash_near_pairs(dup_docs, max_hamming=3, max_bucket_size=1,
                       stats_out=stats).count()
    assert stats["buckets"] > 0
    assert stats["dropped_buckets"] > 0  # planted dups share pieces → n >= 2
    stats2 = {}
    n = simhash_near_pairs(dup_docs, max_hamming=3, max_bucket_size=10_000,
                           stats_out=stats2).count()
    assert stats2["dropped_buckets"] == 0 and n >= 0


def test_embedding_neardup_exact_and_lsh_recall(spark):
    """The fifth dedup tier: exact brute-force pairs are the ground truth;
    the LSH-bucketed tier must emit only true pairs (exact precision) and
    recall the planted near-identical vectors (which agree on every
    hyperplane sign with overwhelming probability)."""
    import numpy as np

    from takco_spark.operators.dedup import (
        embedding_neardup_lsh,
        embedding_neardup_pairs,
    )

    rng = np.random.RandomState(7)
    base = rng.normal(size=(20, 16))
    rows = []
    for i, v in enumerate(base):
        rows.append((f"v{i:02d}", [float(x) for x in v]))
        if i < 5:  # planted near-dups: tiny perturbation of the first five
            rows.append(
                (f"v{i:02d}_dup",
                 [float(x) for x in v + rng.normal(scale=1e-3, size=16)])
            )
    emb = spark.createDataFrame(rows, "doc_id string, emb array<double>")

    exact = {(r["id_1"], r["id_2"]) for r in
             embedding_neardup_pairs(emb, threshold=0.99).collect()}
    assert len(exact) == 5  # exactly the planted pairs
    lsh = {(r["id_1"], r["id_2"]) for r in
           embedding_neardup_lsh(emb, threshold=0.99, n_bits=4,
                                 dim=16).collect()}
    assert lsh <= exact          # exact precision (true cosine filter)
    assert len(lsh) == 5         # full recall on the planted pairs

    # the IVF tier: near-identical vectors share a nearest centroid, so the
    # planted pairs are recalled; the true-cosine filter keeps precision exact
    from takco_spark.operators.dedup import embedding_neardup_ivf

    ivf = {(r["id_1"], r["id_2"]) for r in
           embedding_neardup_ivf(emb, threshold=0.99, n_list=4,
                                 nprobe=2, seed=7).collect()}
    assert ivf <= exact
    assert len(ivf) == 5
