"""TF-IDF cosine scoring (J7), ANN search (J3), MinHash estimate, streaming
ingestion."""

import json
import math
import os

import pytest
from pyspark.sql import functions as F

from takco_spark.operators import similarity_search
from takco_spark.operators.scoring import tfidf_cosine_for_pairs, tfidf_weights


def test_tfidf_cosine_matches_manual(spark):
    feats = spark.createDataFrame(
        [("d1", ["apple", "banana", "cherry"]),
         ("d2", ["apple", "banana", "durian"]),
         ("d3", ["zebra", "yak"])],
        ["doc_id", "tokens"],
    )
    pairs = spark.createDataFrame(
        [("d1", "d2"), ("d1", "d3")], ["doc_id_1", "doc_id_2"]
    )
    w = tfidf_weights(feats)
    out = {(r["doc_id_1"], r["doc_id_2"]): r["tfidf_cos"]
           for r in tfidf_cosine_for_pairs(pairs, w).collect()}

    # manual recomputation with the same smooth-idf formula
    n = 3
    df = {"apple": 2, "banana": 2, "cherry": 1, "durian": 1, "zebra": 1, "yak": 1}
    def vec(tokens):
        v = {t: math.log((n + 1) / (df[t] + 1)) + 1 for t in tokens}
        norm = math.sqrt(sum(x * x for x in v.values()))
        return {t: x / norm for t, x in v.items()}
    v1, v2 = vec(["apple", "banana", "cherry"]), vec(["apple", "banana", "durian"])
    expected = sum(v1[t] * v2[t] for t in set(v1) & set(v2))
    assert out[("d1", "d2")] == pytest.approx(expected)
    assert ("d1", "d3") not in out  # no shared tokens → no row (sparse join)


def test_score_pairs_optional_matchers(spark):
    """use_tfidf + embeddings + media: the gate and the agg both see
    tfidf_cos, emb_cos and media_jacc; a doc without an embeddings row, with
    empty media refs or without a media row scores 0.0 on that matcher."""
    from takco_spark.config import PipelineConfig
    from takco_spark.operators.scoring import score_pairs

    feats = spark.createDataFrame(
        [("d1", "apple banana cherry", ["apple", "banana", "cherry"]),
         ("d2", "apple banana durian", ["apple", "banana", "durian"]),
         ("d3", "apple zebra", ["apple", "zebra"]),
         ("d4", "cherry yak", ["cherry", "yak"])],
        "doc_id string, name string, tokens array<string>",
    )
    emb = spark.createDataFrame(
        [("d1", [1.0, 0.0]), ("d2", [1.0, 0.5]), ("d4", [1.0, 0.0])],
        "doc_id string, emb array<double>",
    )
    media = spark.createDataFrame(
        [("d1", ["m1", "m2"]), ("d2", ["m1"]), ("d3", [])],
        "doc_id string, media_refs array<string>",
    )
    pairs = spark.createDataFrame(
        [("d1", "d2", "k"), ("d1", "d3", "k"), ("d1", "d4", "k"),
         ("d3", "d4", "k")],
        "doc_id_1 string, doc_id_2 string, block_key string",
    )
    cfg = PipelineConfig(
        use_tfidf=True, agg_threshold=0.2,
        agg_expr="@max(jaccard, tfidf_cos, emb_cos, media_jacc)")
    out = score_pairs(pairs, feats, cfg, embeddings=emb, media=media)
    assert out.columns[-7:] == ["jaccard", "lev_sim", "jw", "tfidf_cos",
                                "emb_cos", "media_jacc", "agg_sim"]
    assert out.columns[:3] == ["doc_id_1", "doc_id_2", "block_key"]
    rows = {(r["doc_id_1"], r["doc_id_2"]): r for r in out.collect()}
    # (d3, d4) shares nothing: every matcher 0.0, dropped by the threshold
    assert set(rows) == {("d1", "d2"), ("d1", "d3"), ("d1", "d4")}

    expected_tfidf = {
        (r["doc_id_1"], r["doc_id_2"]): r["tfidf_cos"]
        for r in tfidf_cosine_for_pairs(pairs, tfidf_weights(feats)).collect()}
    for key, r in rows.items():
        assert r["tfidf_cos"] == pytest.approx(expected_tfidf[key])
    assert rows[("d1", "d2")]["emb_cos"] == pytest.approx(1 / math.sqrt(1.25))
    assert rows[("d1", "d2")]["media_jacc"] == pytest.approx(0.5)
    assert rows[("d1", "d3")]["emb_cos"] == 0.0  # d3: no embeddings row
    assert rows[("d1", "d3")]["media_jacc"] == 0.0  # d3: empty media refs
    assert rows[("d1", "d4")]["emb_cos"] == pytest.approx(1.0)
    assert rows[("d1", "d4")]["media_jacc"] == 0.0  # d4: no media row


def test_tfidf_cosine_runs_on_gated_pairs_only(spark, monkeypatch):
    """use_tfidf computes the cosine only for pairs that pass the cheap
    jaccard gate; the gate bounds tfidf_cos at 1.0, so the output is the
    same as scoring every candidate."""
    from takco_spark.config import PipelineConfig
    from takco_spark.operators import scoring

    seen = []

    def counting(pairs, weights):
        seen.append(pairs.count())
        return tfidf_cosine_for_pairs(pairs, weights)

    monkeypatch.setattr(scoring, "tfidf_cosine_for_pairs", counting)
    feats = spark.createDataFrame(
        [("d1", "apple banana cherry", ["apple", "banana", "cherry"]),
         ("d2", "apple banana durian", ["apple", "banana", "durian"]),
         ("d3", "apple zebra", ["apple", "zebra"]),
         ("d4", "cherry yak", ["cherry", "yak"])],
        "doc_id string, name string, tokens array<string>",
    )
    pairs = spark.createDataFrame(
        [("d1", "d2", "k"), ("d1", "d3", "k"), ("d1", "d4", "k"),
         ("d3", "d4", "k")],
        "doc_id_1 string, doc_id_2 string, block_key string",
    )
    # upper bound min(jaccard, 1.0) >= 0.2: (d3, d4) shares no token and is
    # pruned before the TF-IDF join
    cfg = PipelineConfig(use_tfidf=True, agg_threshold=0.2,
                         agg_expr="@min(jaccard, tfidf_cos)")
    out = scoring.score_pairs(pairs, feats, cfg)
    got = {(r["doc_id_1"], r["doc_id_2"]): r["agg_sim"] for r in out.collect()}
    assert seen == [3] and pairs.count() == 4

    cos = {(r["doc_id_1"], r["doc_id_2"]): r["tfidf_cos"]
           for r in tfidf_cosine_for_pairs(
               pairs, tfidf_weights(feats)).collect()}
    jacc = {("d1", "d2"): 0.5, ("d1", "d3"): 0.25, ("d1", "d4"): 0.25,
            ("d3", "d4"): 0.0}
    expected = {k: min(j, cos.get(k, 0.0)) for k, j in jacc.items()}
    expected = {k: v for k, v in expected.items() if v >= 0.2}
    assert len(expected) == 3 and got.keys() == expected.keys()
    for k, v in expected.items():
        assert got[k] == pytest.approx(v)


def test_knn_brute_force_exact(spark):
    vecs = [
        (0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.0, 1.0]), (3, [-1.0, 0.0]),
    ]
    df = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    out = similarity_search.knn_brute_force(df.where("vec_id = 0"), df, k=2)
    rows = sorted((r["rank"], r["neighbor_id"]) for r in out.collect())
    assert rows == [(1, 1), (2, 2)]


def test_knn_lsh_recall_vs_brute(spark):
    import numpy as np
    rng = np.random.RandomState(5)
    base = rng.normal(size=(40, 16))
    # plant: vec i+40 = small perturbation of vec i (high cosine)
    vecs = [(i, base[i].tolist()) for i in range(40)]
    vecs += [(i + 40, (base[i] + rng.normal(scale=0.05, size=16)).tolist())
             for i in range(10)]
    df = spark.createDataFrame(vecs, ["vec_id", "embedding"]).persist()
    queries = df.where("vec_id < 10")
    brute = {(r["query_id"], r["neighbor_id"])
             for r in similarity_search.knn_brute_force(queries, df, k=1).collect()}
    approx = {(r["query_id"], r["neighbor_id"])
              for r in similarity_search.knn_lsh(queries, df, k=1, n_bits=6).collect()}
    # top-1 is the planted twin; LSH with 4 tables must recall most of them
    recall = len(brute & approx) / len(brute)
    assert recall >= 0.8, (recall, brute - approx)


def test_knn_ivf_recall_vs_brute(spark):
    import numpy as np
    rng = np.random.RandomState(7)
    # clustered corpus: 4 well-separated centers, the regime IVF exploits
    centers = rng.normal(scale=4.0, size=(4, 16))
    vecs = [(i, (centers[i % 4] + rng.normal(scale=0.3, size=16)).tolist())
            for i in range(80)]
    df = spark.createDataFrame(vecs, ["vec_id", "embedding"]).persist()
    queries = df.where("vec_id < 10")
    brute = {(r["query_id"], r["neighbor_id"])
             for r in similarity_search.knn_brute_force(queries, df, k=3).collect()}
    approx = {(r["query_id"], r["neighbor_id"])
              for r in similarity_search.knn_ivf(
                  queries, df, k=3, n_list=8, nprobe=2, seed=7).collect()}
    recall = len(brute & approx) / len(brute)
    assert recall >= 0.9, (recall, brute - approx)


def test_knn_ivf_deterministic_and_null_safe(spark):
    import numpy as np
    rng = np.random.RandomState(11)
    vecs = [(i, rng.normal(size=8).tolist()) for i in range(30)]
    vecs.append((30, None))  # null embedding must be dropped, not crash
    df = spark.createDataFrame(vecs, "vec_id: long, embedding: array<double>")
    queries = df.where("vec_id < 5")
    a = sorted(map(tuple, similarity_search.knn_ivf(
        queries, df, k=2, n_list=4, seed=3).collect()))
    b = sorted(map(tuple, similarity_search.knn_ivf(
        queries, df, k=2, n_list=4, seed=3).collect()))
    assert a == b and len(a) == 10
    assert all(r[1] != 30 for r in a)  # null vector never surfaces


def test_minhash_estimate_column(spark):
    from takco_spark.functions.similarity import make_minhash_signature_udf, minhash_estimate
    df = spark.createDataFrame(
        [("a", ["x", "y", "z", "w"]), ("b", ["x", "y", "z", "q"])],
        ["doc_id", "tokens"],
    )
    sig = df.select(
        "doc_id",
        make_minhash_signature_udf(256, 42)(
            F.expr("transform(tokens, t -> xxhash64(t))")
        ).alias("sig"),
    )
    a = sig.where("doc_id = 'a'").select(F.col("sig").alias("sig_a"))
    b = sig.where("doc_id = 'b'").select(F.col("sig").alias("sig_b"))
    est = a.crossJoin(b).select(
        minhash_estimate(F.col("sig_a"), F.col("sig_b")).alias("j")
    ).collect()[0]["j"]
    assert est == pytest.approx(3 / 5, abs=0.15)  # true Jaccard 0.6


def test_streaming_ingest_exactly_once(spark, tmp_path):
    from takco_spark.streaming import ingest_documents_stream

    landing = tmp_path / "landing"
    bronze = tmp_path / "bronze"
    ck = tmp_path / "ck"
    os.makedirs(landing)

    def write_batch(name, ids):
        with open(landing / name, "w") as f:
            for i in ids:
                f.write(json.dumps({
                    "doc_id": f"d{i}",
                    "spans": [{"kind": "cell", "text": f"t{i}",
                               "media_ref": "", "offset": 0}],
                }) + "\n")

    write_batch("b1.jsonl", range(5))
    q = ingest_documents_stream(spark, str(landing), str(bronze), str(ck))
    q.awaitTermination(120)
    assert spark.read.parquet(str(bronze)).count() == 5

    # restart with new backlog: old file NOT re-ingested, new one appended
    write_batch("b2.jsonl", range(5, 8))
    q2 = ingest_documents_stream(spark, str(landing), str(bronze), str(ck))
    q2.awaitTermination(120)
    got = spark.read.parquet(str(bronze))
    assert got.count() == 8
    assert got.select("doc_id").distinct().count() == 8


def test_streaming_stateful_dedup_across_batches(spark, tmp_path):
    """applyInPandasWithState custom stateful op: each distinct fingerprint
    surfaces exactly once over the stream lifetime, including across a
    restart (state persisted in the streaming checkpoint)."""
    import json
    import os

    from takco_spark.streaming.ingest import dedup_documents_stream

    landing = tmp_path / "landing"; os.makedirs(landing)
    out = tmp_path / "out"; ck = tmp_path / "ck"

    def doc(doc_id, text):
        return json.dumps({
            "doc_id": doc_id,
            "spans": [{"kind": "cell", "text": t, "media_ref": "", "offset": i}
                      for i, t in enumerate(text.split())],
        })

    (landing / "b1.jsonl").write_text(
        doc("a", "red fox") + "\n" + doc("b", "red fox") + "\n" + doc("c", "blue owl") + "\n")
    q = dedup_documents_stream(spark, str(landing), str(out), str(ck))
    q.awaitTermination(120)
    rows1 = {r["doc_id"] for r in spark.read.parquet(str(out)).collect()}
    assert rows1 == {"a", "c"}  # b deduped within the batch

    # restart with new files: duplicate of 'a' suppressed ACROSS batches
    (landing / "b2.jsonl").write_text(
        doc("d", "red fox") + "\n" + doc("e", "green elk") + "\n")
    q2 = dedup_documents_stream(spark, str(landing), str(out), str(ck))
    q2.awaitTermination(120)
    rows2 = {r["doc_id"] for r in spark.read.parquet(str(out)).collect()}
    assert rows2 == {"a", "c", "e"}, rows2


def _aligned_fixture(spark):
    from pyspark.sql import functions as F

    seg = spark.createDataFrame(
        [("A", 0, "ax", ["xx", "yy"]), ("A", 1, "ap", ["pp", "qq"]),
         ("B", 0, "bx", ["xx", "yy"]), ("B", 1, "bp", ["pp", "zz"])],
        "doc_id string, seg int, seg_name string, seg_tokens array<string>",
    )
    pairs = spark.createDataFrame(
        [("A", "B", "k")], "doc_id_1 string, doc_id_2 string, block_key string"
    )
    return seg, pairs


def test_max1_is_mean_of_per_left_maxes(spark):
    """Reference parity (cluster.py:344-345): max1 = MEAN of each left
    segment's best sub-sim, NO width normalization. Here maxes are
    jacc(A0,B0)=1 and jacc(A1,B1)=1/3 -> agg_sim = 2/3."""
    from takco_spark.config import PipelineConfig
    from takco_spark.operators.scoring import score_pairs_aligned

    seg, pairs = _aligned_fixture(spark)
    cfg = PipelineConfig(aligned=True, align_mode="max1", agg_expr="jaccard",
                         agg_threshold=0.1)
    rows = score_pairs_aligned(pairs, seg, cfg).collect()
    assert len(rows) == 1
    assert abs(rows[0]["agg_sim"] - (1.0 + 1.0 / 3.0) / 2.0) < 1e-9


def test_align_max_cells_cap(spark):
    """Greedy skew guard: cap=1 keeps only the top-score cell per pair
    (total=1 -> jacc norm 1/(2+2-1)); uncapped greedy aligns both segments
    (total=4/3 -> 0.5). Exact whenever n_cells <= cap."""
    from takco_spark.config import PipelineConfig
    from takco_spark.operators.scoring import score_pairs_aligned

    seg, pairs = _aligned_fixture(spark)
    base = dict(aligned=True, align_mode="greedy", agg_expr="jaccard",
                agg_threshold=0.1)
    uncapped = score_pairs_aligned(
        pairs, seg, PipelineConfig(**base, align_max_cells=0)).collect()
    assert abs(uncapped[0]["agg_sim"] - 0.5) < 1e-9
    big_cap = score_pairs_aligned(
        pairs, seg, PipelineConfig(**base, align_max_cells=4096)).collect()
    assert abs(big_cap[0]["agg_sim"] - 0.5) < 1e-9  # exact below the cap
    capped = score_pairs_aligned(
        pairs, seg, PipelineConfig(**base, align_max_cells=1)).collect()
    assert abs(capped[0]["agg_sim"] - 1.0 / 3.0) < 1e-9
