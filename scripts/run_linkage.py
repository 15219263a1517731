#!/usr/bin/env python
"""spark-submit entrypoint for the full record-linkage pipeline.

The north-rule packaging contract: the engine runs on a multi-executor
cluster via ``spark-submit --py-files takco_spark.zip`` with this script as
the job. Reference analog: the takco CLI runs the cluster stage from a TOML
config (/root/reference/takco/__init__.py:231-430 driven by
resources/pipelines/*.toml); here the config surface is argparse flags over
the same PipelineConfig dataclass.

Cluster usage (the package zip is built by ``python -m build`` or plain
``zip -r takco_spark.zip takco_spark``):

    spark-submit \
        --master yarn --deploy-mode cluster \
        --num-executors 200 --executor-cores 4 --executor-memory 48g \
        --py-files takco_spark.zip \
        scripts/run_linkage.py \
        --input  s3://bucket/docs/          \
        --output s3://bucket/clusters/      \
        --checkpoint-dir s3://bucket/ckpt/ --run-id run42 \
        --format iceberg

Local smoke (same code path the tests drive):

    python scripts/run_linkage.py --master 'local[4]' \
        --input /tmp/docs.parquet --output /tmp/labelled.parquet

The script never calls ``.master()`` when ``--master`` is unset so the
cluster manager's ``spark.master`` wins (session.get_spark(master="")).
Input contract (BASELINE.json input_hint): a table with columns
(doc_id: string, spans: array<struct<kind,text,media_ref,offset>>); extra
columns pass through to the labelled output, and span sequences are
byte-identical between input and output rows.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import sys

# Driver-side path bootstrap: a spark-submit driver runs this file from
# scripts/ with only --py-files on the executor path; a local invocation
# (`python scripts/run_linkage.py`) has neither. Either way the package
# sits one directory up — put it on sys.path if an installed copy isn't.
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def build_parser() -> argparse.ArgumentParser:
    from takco_spark.config import PipelineConfig

    d = PipelineConfig()
    p = argparse.ArgumentParser(
        description="takco_spark record-linkage pipeline (spark-submit job)"
    )
    p.add_argument("--input", required=True,
                   help="documents table: parquet path, or catalog table name "
                        "with --format iceberg")
    p.add_argument("--output", required=True,
                   help="labelled-documents sink: parquet path, or catalog "
                        "table name with --format iceberg")
    p.add_argument("--format", choices=("parquet", "iceberg"),
                   default="parquet",
                   help="input/output storage format (stage checkpoints use "
                        "Iceberg only when the takco catalog is configured — "
                        "see CheckpointManager)")
    p.add_argument("--master", default="",
                   help="Spark master for LOCAL runs; leave unset under "
                        "spark-submit so the cluster manager's spark.master "
                        "applies")
    p.add_argument("--shuffle-partitions", type=int, default=None,
                   help="spark.sql.shuffle.partitions (cluster guidance: "
                        "2-3x total executor cores)")
    p.add_argument("--checkpoint-dir", default=None,
                   help="stage checkpoint root (blocks / pairs_scored / "
                        "components become resumable, with lineage)")
    p.add_argument("--run-id", default=d.run_id)
    # --- the config surface (defaults = PipelineConfig defaults) ------------
    p.add_argument("--blockers", default=",".join(d.blockers),
                   help="comma list from {token,minhash,embedding,media}")
    p.add_argument("--max-block-size", type=int, default=d.max_block_size)
    p.add_argument("--salt-threshold", type=int, default=d.salt_threshold)
    p.add_argument("--agg-expr", default=d.agg_expr)
    p.add_argument("--agg-threshold", type=float, default=d.agg_threshold)
    p.add_argument("--aligned", action="store_true",
                   help="segment-level scoring + 1:1 alignment "
                        "(the reference's column-wise scheme)")
    p.add_argument("--align-mode", choices=("greedy", "max1"),
                   default=d.align_mode)
    p.add_argument("--refine-threshold", type=float, default=None,
                   help="enable strict within-cluster refinement at this "
                        "threshold")
    p.add_argument("--max-cluster-size", type=int, default=d.max_cluster_size)
    p.add_argument("--cluster-method", choices=("cc", "louvain"),
                   default=d.cluster_method,
                   help="graph partition: 'cc' (scalable large-star/small-"
                        "star; pair with --refine-threshold) or 'louvain' "
                        "(exact reference semantics, weighted multilevel "
                        "Louvain per connected component)")
    p.add_argument("--louvain-edge-exp", type=float,
                   default=d.louvain_edge_exp,
                   help="Louvain edge-weight exponent (reference edge_exp)")
    p.add_argument("--use-tfidf", action="store_true")
    p.add_argument("--use-embedding", action="store_true")
    p.add_argument("--use-media", action="store_true",
                   help="add the media_jacc matcher column (shared embedded-"
                        "media refs); pair with 'media' in --blockers")
    p.add_argument("--explain", action="store_true",
                   help="print the labelled plan (formatted) before writing")
    return p


def config_from_args(args: argparse.Namespace):
    from takco_spark.config import PipelineConfig

    return PipelineConfig(
        blockers=tuple(b for b in args.blockers.split(",") if b),
        max_block_size=args.max_block_size,
        salt_threshold=args.salt_threshold,
        agg_expr=args.agg_expr,
        agg_threshold=args.agg_threshold,
        aligned=args.aligned,
        align_mode=args.align_mode,
        refine_threshold=args.refine_threshold,
        max_cluster_size=args.max_cluster_size,
        cluster_method=args.cluster_method,
        louvain_edge_exp=args.louvain_edge_exp,
        use_tfidf=args.use_tfidf,
        use_embedding=args.use_embedding,
        use_media=args.use_media,
        checkpoint_dir=args.checkpoint_dir,
        run_id=args.run_id,
    )


def run(args: argparse.Namespace) -> dict:
    """Build the session, run the pipeline, write the labelled output.

    Returns the run-stats dict (also printed as one JSON line on stdout —
    the blocking cap counters and CC convergence are the operator's logged
    evidence, never silent).
    """
    from takco_spark.plans.pipeline import run_pipeline
    from takco_spark.session import get_spark

    spark = get_spark(
        app_name=f"takco-linkage-{args.run_id}",
        master=args.master,
        shuffle_partitions=args.shuffle_partitions,
    )
    cfg = config_from_args(args)
    if args.format == "iceberg":
        docs = spark.read.table(args.input)
    else:
        docs = spark.read.parquet(args.input)
    result = run_pipeline(spark, docs, cfg)
    if args.explain:
        result.labelled.explain("formatted")
    writer = result.labelled.write.mode("overwrite")
    if args.format == "iceberg":
        writer.saveAsTable(args.output)
    else:
        writer.parquet(args.output)
    stats = {
        "run_id": args.run_id,
        "output": args.output,
        "config": dataclasses.asdict(cfg),
        "stats": result.stats,
    }
    print(json.dumps(stats))
    return stats


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    run(args)
    return 0


if __name__ == "__main__":
    sys.exit(main())
