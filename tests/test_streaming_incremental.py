"""Incremental streaming record linkage: per-batch state deltas, transitive
cluster merge, replay idempotency (streaming/incremental_er.py)."""

import pyspark.sql.functions as F
import pytest

from takco_spark.config import PipelineConfig
from takco_spark.plans.pipeline import run_pipeline
from takco_spark.spans import with_spans
from takco_spark.streaming.incremental_er import (
    incremental_er_stream,
    latest_labels,
    link_batch,
)


def _doc(spark, doc_id, text):
    return spark.createDataFrame(
        [(doc_id, [{"kind": "cell", "text": t, "media_ref": "", "offset": i}
                   for i, t in enumerate(text.split("|"))])],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    )


def _cfg():
    return PipelineConfig(blockers=("token",), agg_threshold=0.5)


#: a state dir given as a plain path and as a Hadoop FS URI: both must see
#: the prior state
STATE_URI = pytest.mark.parametrize("scheme", ["", "file://"],
                                    ids=["path", "file_uri"])


@STATE_URI
def test_incremental_matches_batch_rerun(spark, tmp_path, scheme):
    """CC-over-union associativity: linking in 3 increments must produce the
    same clusters as one batch run over the full corpus."""
    state = scheme + str(tmp_path / "state")
    a1 = _doc(spark, "a1", "alpha beta gamma|rotterdam")
    a2 = _doc(spark, "a2", "alpha beta gamma|rotterdam x")
    b1 = _doc(spark, "b1", "delta epsilon zeta|utrecht")
    b2 = _doc(spark, "b2", "delta epsilon zeta|utrecht y")
    bridge = _doc(spark, "a0", "alpha beta gamma|delta epsilon zeta")

    link_batch(spark, a1.union(b1), state, 0, _cfg())
    l1 = {r["doc_id"]: r["cluster_id"]
          for r in link_batch(spark, a2.union(b2), state, 1, _cfg()).collect()}
    # two clusters after batch 1
    assert l1["a1"] == l1["a2"] and l1["b1"] == l1["b2"]
    assert l1["a1"] != l1["b1"]

    # the bridge doc shares tokens with both groups -> everything merges
    l2 = {r["doc_id"]: r["cluster_id"]
          for r in link_batch(spark, bridge, state, 2, _cfg()).collect()}
    assert len(set(l2.values())) == 1 and len(l2) == 5

    # equivalence with a one-shot batch pipeline on the same corpus
    full = a1.union(a2).union(b1).union(b2).union(bridge)
    res = run_pipeline(spark, full, _cfg())
    batch_labels = {r["doc_id"]: r["cluster_id"]
                    for r in res.labelled.select("doc_id", "cluster_id").collect()}
    # same partition (cluster ids may differ; compare partitions)
    def parts(d):
        inv = {}
        for k, v in d.items():
            inv.setdefault(v, set()).add(k)
        return sorted(map(frozenset, inv.values()), key=sorted)
    assert parts(l2) == parts(batch_labels)


def test_replay_is_idempotent(spark, tmp_path):
    """A crashed-and-replayed batch must not duplicate state or change the
    result: re-running batch 1 reads only batch-0 state and overwrites its
    own dirs."""
    state = str(tmp_path / "state")
    d0 = _doc(spark, "d0", "aaa bbb ccc")
    d1 = _doc(spark, "d1", "aaa bbb ccc zzz")
    link_batch(spark, d0, state, 0, _cfg())
    first = sorted(map(tuple, link_batch(spark, d1, state, 1, _cfg()).collect()))
    replay = sorted(map(tuple, link_batch(spark, d1, state, 1, _cfg()).collect()))
    assert first == replay
    # feature deltas not duplicated: one dir per batch, one row per doc
    import glob
    dirs = sorted(glob.glob(f"{state}/features/batch=*"))
    assert len(dirs) == 2
    feats = spark.read.option("basePath", f"{state}/features").parquet(
        f"{state}/features/batch=0", f"{state}/features/batch=1"
    )
    assert feats.count() == 2
    assert latest_labels(spark, state).count() == 2


def test_incremental_er_stream_end_to_end(spark, tmp_path):
    """The readStream wiring: JSONL files land, availableNow drains them,
    labels accumulate across micro-batches."""
    import json as _json

    landing = tmp_path / "landing"
    landing.mkdir()
    state = str(tmp_path / "state")
    ck = str(tmp_path / "ck")

    def spans(text):
        return [{"kind": "cell", "text": t, "media_ref": "", "offset": i}
                for i, t in enumerate(text.split("|"))]

    (landing / "f0.jsonl").write_text(_json.dumps(
        {"doc_id": "s1", "spans": spans("monty python flying circus")}) + "\n")
    q = incremental_er_stream(spark, str(landing), state, ck, _cfg(),
                              max_files_per_trigger=1)
    q.awaitTermination(120)
    (landing / "f1.jsonl").write_text(_json.dumps(
        {"doc_id": "s2", "spans": spans("monty python flying circus again")}) + "\n")
    q2 = incremental_er_stream(spark, str(landing), state, ck, _cfg(),
                               max_files_per_trigger=1, compact_every=1)
    q2.awaitTermination(120)
    labels = {r["doc_id"]: r["cluster_id"]
              for r in latest_labels(spark, state).collect()}
    assert set(labels) == {"s1", "s2"}
    assert labels["s1"] == labels["s2"]  # near-dup docs linked across batches
    # compact_every fired after micro-batch 1: batch-0 deltas folded into an epoch
    import glob
    assert len(glob.glob(f"{state}/features/_base/epoch=0/_SUCCESS")) == 1
    assert glob.glob(f"{state}/features/batch=0") == []


def _media_doc(spark, doc_id, text, refs):
    spans = [{"kind": "cell", "text": t, "media_ref": "", "offset": i}
             for i, t in enumerate(text.split("|"))]
    spans += [{"kind": "media", "text": "", "media_ref": r,
               "offset": len(spans) + j} for j, r in enumerate(refs)]
    return spark.createDataFrame(
        [(doc_id, spans)],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    )


def test_incremental_multi_blocker_matches_batch(spark, tmp_path):
    """token+minhash+media blockers through the SAME persisted block index:
    increments ≡ one-shot batch (no hot tokens at this size, so the
    batch-mode MinHash exclusion deviation is inactive), and a media-only
    bridge (disjoint text, shared ref) merges clusters incrementally."""
    state = str(tmp_path / "state")
    cfg = PipelineConfig(blockers=("token", "minhash", "media"),
                         use_media=True,
                         agg_expr="@max(media_jacc, jaccard)",
                         agg_threshold=0.5)
    a = _media_doc(spark, "a", "alpha beta gamma", ["mX"])
    b = _media_doc(spark, "b", "delta epsilon zeta", ["mY"])
    # disjoint text from both, but embeds BOTH media objects
    c = _media_doc(spark, "c", "eta theta iota", ["mX", "mY"])

    link_batch(spark, a, state, 0, cfg)
    l1 = {r["doc_id"]: r["cluster_id"]
          for r in link_batch(spark, b, state, 1, cfg).collect()}
    assert l1["a"] != l1["b"]
    l2 = {r["doc_id"]: r["cluster_id"]
          for r in link_batch(spark, c, state, 2, cfg).collect()}
    # a-c: |{mX} ∩ {mX,mY}| / |{mX,mY}| = 0.5 >= 0.5 -> edge; same for b-c:
    # the media-only bridge merges everything transitively
    assert len(set(l2.values())) == 1 and len(l2) == 3

    # one-shot batch over the full corpus gives the same partition
    res = run_pipeline(spark, a.union(b).union(c), cfg)
    batch_labels = {r["doc_id"]: r["cluster_id"]
                    for r in res.labelled.select("doc_id", "cluster_id").collect()}
    assert len(set(batch_labels.values())) == 1


@pytest.mark.parametrize("cfg,match", [
    (PipelineConfig(blockers=("embedding",)), "embedding"),
    (PipelineConfig(aligned=True), "aligned"),
    (PipelineConfig(refine_threshold=0.6), "refine_threshold"),
    (PipelineConfig(cluster_method="louvain"), "cluster_method"),
    (PipelineConfig(header_union=True), "header_union"),
], ids=["embedding", "aligned", "refine", "louvain", "header_union"])
def test_incremental_rejects_unsupported_blocker(spark, tmp_path, cfg, match):
    """Blockers and clustering configs the stream does not implement raise
    instead of silently linking with whole-document scoring and plain CC."""
    d = _media_doc(spark, "x", "aaa", ["m1"])
    with pytest.raises(ValueError, match=match):
        link_batch(spark, d, str(tmp_path / "s"), 0, cfg)
    # rejected before any state write: no feature delta a later batch
    # could read without its blocks and labels
    assert not (tmp_path / "s" / "features" / "batch=0").exists()


@STATE_URI
def test_compact_state_preserves_linkage(spark, tmp_path, scheme):
    """Compaction through batch 1: same labels before/after, the NEXT batch
    links identically against the compacted state (epoch read path), delta
    dirs are physically gone, and re-compacting is an idempotent no-op."""
    from takco_spark.streaming.incremental_er import compact_state

    plain = scheme + str(tmp_path / "plain")
    comp_path = str(tmp_path / "comp")
    comp = scheme + comp_path
    batches = [
        _doc(spark, "a1", "alpha beta gamma|rotterdam"),
        _doc(spark, "b1", "delta epsilon zeta|utrecht"),
        _doc(spark, "a0", "alpha beta gamma|delta epsilon zeta"),
    ]
    for state in (plain, comp):
        link_batch(spark, batches[0], state, 0, _cfg())
        link_batch(spark, batches[1], state, 1, _cfg())

    stats = compact_state(spark, comp)  # default: through second-newest = 0
    assert stats["compacted_through"] == 0
    stats2 = compact_state(spark, comp, through_batch=0)
    assert stats2["features"]["deltas_merged"] == 0  # idempotent re-run

    # labels visible to the next batch are unchanged by compaction
    import glob
    assert (sorted(map(tuple, latest_labels(spark, comp).collect()))
            == sorted(map(tuple, latest_labels(spark, plain).collect())))
    assert glob.glob(f"{comp_path}/features/batch=0") == []  # delta gone
    assert len(glob.glob(f"{comp_path}/features/_base/epoch=0/_SUCCESS")) == 1

    # the bridge batch produces the SAME result over compacted state
    lp = sorted(map(tuple, link_batch(spark, batches[2], plain, 2, _cfg()).collect()))
    lc = sorted(map(tuple, link_batch(spark, batches[2], comp, 2, _cfg()).collect()))
    assert lp == lc and len(lc) == 3

    # compact again (through=1 now second-newest), then REPLAY the newest
    # batch: it must still read state strictly below itself and reproduce
    compact_state(spark, comp)
    replay = sorted(map(tuple, link_batch(spark, batches[2], comp, 2, _cfg()).collect()))
    assert replay == lc
    # label snapshots below the compaction point are pruned
    assert glob.glob(f"{comp_path}/labels/batch=0") == []
    assert len(glob.glob(f"{comp_path}/labels/batch=2/_SUCCESS")) == 1


def test_compact_state_refuses_newest_batch(spark, tmp_path):
    import pytest

    from takco_spark.streaming.incremental_er import compact_state

    state = str(tmp_path / "state")
    link_batch(spark, _doc(spark, "x", "aaa bbb"), state, 0, _cfg())
    assert compact_state(spark, state)["compacted_through"] is None
    link_batch(spark, _doc(spark, "y", "ccc ddd"), state, 1, _cfg())
    with pytest.raises(ValueError, match="newest"):
        compact_state(spark, state, through_batch=1)


def test_label_snapshots_are_deltas(spark, tmp_path):
    """r6: labels/batch=<id> holds only NEW + RE-LABELLED docs (O(delta)
    per batch, not the r5 O(corpus) full snapshot), while latest_labels
    still reconstructs the complete merged view."""
    state = str(tmp_path / "state")
    a = _doc(spark, "a1", "alpha beta gamma|rotterdam")
    b = _doc(spark, "b1", "delta epsilon zeta|utrecht")
    link_batch(spark, a.union(b), state, 0, _cfg())
    # batch 1: one doc near a1 — b1's cluster is untouched
    out = link_batch(
        spark, _doc(spark, "a2", "alpha beta gamma|rotterdam x"), state, 1,
        _cfg())
    d1 = {r["doc_id"] for r in
          spark.read.parquet(f"{state}/labels/batch=1").collect()}
    assert "a2" in d1          # the new doc is written
    assert "b1" not in d1      # the untouched cluster is NOT rewritten
    merged = {r["doc_id"]: r["cluster_id"] for r in out.collect()}
    assert set(merged) == {"a1", "a2", "b1"}
    assert merged["a1"] == merged["a2"] != merged["b1"]


def test_link_batch_releases_its_caches(spark, tmp_path):
    """A long-lived stream's cache must not grow with its age: after every
    batch the same number of persisted RDDs is held, local checkpoints
    aside (the JVM's context cleaner reclaims those once unreferenced, and
    a lazy one stays unmarked when only AQE map stages read it)."""
    from takco_spark.datagen import synth_documents

    jsc = spark.sparkContext._jsc

    def held() -> int:
        return sum(1 for r in jsc.getPersistentRDDs().values()
                   if not r.rdd().isLocallyCheckpointed())

    docs = synth_documents(spark, 60, seed=5).select("doc_id", "spans")
    rows = docs.orderBy("doc_id").collect()
    state = str(tmp_path / "state")
    counts = []
    for i in range(3):
        batch = spark.createDataFrame(rows[i * 20:(i + 1) * 20], docs.schema)
        link_batch(spark, batch, state, i, PipelineConfig()).count()
        counts.append(held())
    assert counts[0] == counts[1] == counts[2], counts
