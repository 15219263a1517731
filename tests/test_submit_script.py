"""The spark-submit job script (scripts/run_linkage.py) end-to-end.

North-rule packaging contract: the pipeline runs as a submitted job —
``spark-submit --py-files takco_spark.zip scripts/run_linkage.py …`` — with
the full config surface as flags. The test drives the script's own
``main()`` (same code path as a submit; ``--master ''`` defers the master,
so it attaches to the active test session exactly as a submitted driver
attaches to the cluster manager's).
"""

import importlib.util
import json
import os
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

import pytest

from pyspark.sql import functions as F

from takco_spark.datagen import synth_documents

_SCRIPT = Path(__file__).resolve().parents[1] / "scripts" / "run_linkage.py"


def _load_script():
    spec = importlib.util.spec_from_file_location("run_linkage", _SCRIPT)
    mod = importlib.util.module_from_spec(spec)
    sys.modules["run_linkage"] = mod
    spec.loader.exec_module(mod)
    return mod


def test_config_flags_round_trip():
    mod = _load_script()
    args = mod.build_parser().parse_args([
        "--input", "in.parquet", "--output", "out.parquet",
        "--blockers", "token", "--agg-threshold", "0.7", "--aligned",
        "--align-mode", "max1", "--refine-threshold", "0.8",
        "--max-block-size", "99", "--run-id", "r7",
    ])
    cfg = mod.config_from_args(args)
    assert cfg.blockers == ("token",)
    assert cfg.agg_threshold == 0.7
    assert cfg.aligned and cfg.align_mode == "max1"
    assert cfg.refine_threshold == 0.8
    assert cfg.max_block_size == 99
    assert cfg.run_id == "r7"


def test_submit_job_end_to_end(spark, tmp_path):
    mod = _load_script()
    docs = synth_documents(spark, 120, seed=42, partitions=4)
    inp, outp = str(tmp_path / "docs.parquet"), str(tmp_path / "labelled.parquet")
    docs.write.parquet(inp)

    rc = mod.main([
        "--input", inp, "--output", outp, "--master", "",
        "--checkpoint-dir", str(tmp_path / "ckpt"), "--run-id", "t1",
    ])
    assert rc == 0

    labelled = spark.read.parquet(outp)
    gold = docs.select("doc_id", "true_entity")
    # every input doc labelled exactly once; extra columns pass through
    assert labelled.count() == 120
    assert {"doc_id", "spans", "true_entity", "cluster_id"} <= set(labelled.columns)
    # span sequences byte-identical to input (the per-row invariant)
    joined = labelled.alias("l").join(docs.alias("d"), "doc_id")
    assert joined.where(F.expr("l.spans <> d.spans")).count() == 0
    # linkage quality on the synthetic gold: pairwise precision/recall of
    # same-cluster vs same-entity over duplicated docs must be high
    pred = labelled.select("doc_id", "cluster_id").join(gold, "doc_id")
    a = pred.selectExpr("doc_id id1", "cluster_id c1", "true_entity e1")
    b = pred.selectExpr("doc_id id2", "cluster_id c2", "true_entity e2")
    pairs = a.crossJoin(b).where("id1 < id2")
    stats = pairs.agg(
        F.sum((F.col("c1") == F.col("c2")).cast("long")).alias("pred"),
        F.sum((F.col("e1") == F.col("e2")).cast("long")).alias("gold"),
        F.sum(((F.col("c1") == F.col("c2")) & (F.col("e1") == F.col("e2")))
              .cast("long")).alias("both"),
    ).collect()[0]
    precision = stats["both"] / max(stats["pred"], 1)
    recall = stats["both"] / max(stats["gold"], 1)
    assert precision >= 0.99 and recall >= 0.9, (precision, recall)

    # the checkpointed stages exist → a re-run is resumable
    ckpt = tmp_path / "ckpt"
    assert any("blocks" in p.name for p in ckpt.rglob("*") if p.is_dir())


SPARK_SUBMIT = shutil.which("spark-submit") or (
    "/opt/spark/bin/spark-submit"
    if os.path.exists("/opt/spark/bin/spark-submit") else None)


@pytest.mark.skipif(SPARK_SUBMIT is None, reason="spark-submit not on PATH")
def test_real_spark_submit_py_files(spark, tmp_path):
    """The literal north-rule packaging contract, no shortcuts: zip the
    package, launch a REAL ``spark-submit --py-files takco_spark.zip``
    subprocess (its own fresh JVM + Python workers, not the test session),
    and check the labelled output it writes. Catches anything the in-process
    main() drive can't: zip importability on executors, the script's
    sys.path bootstrap, driver/worker env wiring, JSON stats emission."""
    repo = Path(__file__).resolve().parents[1]
    zip_path = tmp_path / "takco_spark.zip"
    with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_DEFLATED) as zf:
        for p in sorted((repo / "takco_spark").rglob("*.py")):
            zf.write(p, p.relative_to(repo))

    inp = str(tmp_path / "docs.parquet")
    outp = str(tmp_path / "labelled.parquet")
    synth_documents(spark, 120, seed=42, partitions=4).write.parquet(inp)

    proc = subprocess.run(
        [SPARK_SUBMIT, "--master", "local[4]",
         "--conf", "spark.sql.shuffle.partitions=8",
         "--conf", "spark.ui.enabled=false",
         "--py-files", str(zip_path),
         str(repo / "scripts" / "run_linkage.py"),
         "--input", inp, "--output", outp,
         "--checkpoint-dir", str(tmp_path / "ckpt"), "--run-id", "submit1"],
        capture_output=True, text=True, timeout=420, cwd=str(tmp_path),
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    # the job prints one JSON stats line on stdout
    stats_line = [l for l in proc.stdout.splitlines() if l.startswith("{")][-1]
    stats = json.loads(stats_line)
    assert stats["stats"]["cc"]["converged"] is True
    # blocking stats are emitted as a JSON list of per-blocker dicts
    blocking = stats["stats"]["blocking"]
    assert isinstance(blocking, list) and blocking
    assert all(isinstance(s, dict) and "blocker" in s for s in blocking)

    labelled = spark.read.parquet(outp)
    assert labelled.count() == 120
    assert {"doc_id", "spans", "true_entity", "cluster_id"} <= set(labelled.columns)
    # pairwise F1 == 1.0 on the synthetic gold through the submitted job
    pred = labelled.select("doc_id", "cluster_id", "true_entity")
    a = pred.selectExpr("doc_id id1", "cluster_id c1", "true_entity e1")
    b = pred.selectExpr("doc_id id2", "cluster_id c2", "true_entity e2")
    pairs = a.crossJoin(b).where("id1 < id2")
    row = pairs.agg(
        F.sum((F.col("c1") == F.col("c2")).cast("long")).alias("pred"),
        F.sum((F.col("e1") == F.col("e2")).cast("long")).alias("gold"),
        F.sum(((F.col("c1") == F.col("c2")) & (F.col("e1") == F.col("e2")))
              .cast("long")).alias("both"),
    ).collect()[0]
    assert row["both"] == row["pred"] == row["gold"] > 0


@pytest.mark.skipif(SPARK_SUBMIT is None, reason="spark-submit not on PATH")
def test_real_spark_submit_multi_executor_cluster(spark, tmp_path):
    """The full north-rule launch sentence in one subprocess: a REAL
    ``spark-submit --py-files takco_spark.zip`` against a MULTI-EXECUTOR
    master — ``local-cluster[2,1,1536]``, Spark's standalone test mode with
    two separate 1-core executor JVMs. The job script is COPIED outside the
    repo and PYTHONPATH is scrubbed from the child env, so the ONLY way the
    driver or the executor Python workers can import takco_spark is the
    shipped zip — this catches exactly the forgotten ``--py-files`` failure
    mode the r4 advice warned about, on a master where executors are not
    the driver's threads."""
    repo = Path(__file__).resolve().parents[1]
    zip_path = tmp_path / "takco_spark.zip"
    with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_DEFLATED) as zf:
        for p in sorted((repo / "takco_spark").rglob("*.py")):
            zf.write(p, p.relative_to(repo))
    # copy the job script OUT of the repo: its sys.path bootstrap then
    # points at tmp_path (no package there), so the zip is load-bearing
    script = tmp_path / "scripts" / "run_linkage.py"
    script.parent.mkdir()
    shutil.copy(repo / "scripts" / "run_linkage.py", script)

    inp = str(tmp_path / "docs.parquet")
    outp = str(tmp_path / "labelled.parquet")
    synth_documents(spark, 120, seed=42, partitions=4).write.parquet(inp)

    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [SPARK_SUBMIT, "--master", "local-cluster[2,1,1536]",
         "--conf", "spark.sql.shuffle.partitions=8",
         "--conf", "spark.ui.enabled=false",
         "--conf", "spark.executor.memory=1g",
         "--py-files", str(zip_path),
         str(script),
         "--input", inp, "--output", outp,
         "--checkpoint-dir", str(tmp_path / "ckpt"), "--run-id", "submit2"],
        capture_output=True, text=True, timeout=420, cwd=str(tmp_path),
        env=env,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    stats_line = [l for l in proc.stdout.splitlines() if l.startswith("{")][-1]
    stats = json.loads(stats_line)
    assert stats["stats"]["cc"]["converged"] is True

    labelled = spark.read.parquet(outp)
    assert labelled.count() == 120
    pred = labelled.select("doc_id", "cluster_id", "true_entity")
    a = pred.selectExpr("doc_id id1", "cluster_id c1", "true_entity e1")
    b = pred.selectExpr("doc_id id2", "cluster_id c2", "true_entity e2")
    pairs = a.crossJoin(b).where("id1 < id2")
    row = pairs.agg(
        F.sum((F.col("c1") == F.col("c2")).cast("long")).alias("pred"),
        F.sum((F.col("e1") == F.col("e2")).cast("long")).alias("gold"),
        F.sum(((F.col("c1") == F.col("c2")) & (F.col("e1") == F.col("e2")))
              .cast("long")).alias("both"),
    ).collect()[0]
    assert row["both"] == row["pred"] == row["gold"] > 0
