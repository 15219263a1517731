"""Sources & sinks (SURVEY.md §2.1 S1-S6).

The reference streams JSON-lines table dicts with a robust line parser
(/root/reference/takco/util.py:125-156, 12-21), per-file CSV tables
(/root/reference/takco/__init__.py:44-62) and a parquet/pickle artifact store
(/root/reference/takco/storage.py:69-133). Spark-native equivalents: schema'd
readers with PERMISSIVE corrupt-record capture, glob paths for free, and
parquet/Iceberg for every artifact (no pickles — state lives in tables).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from takco_spark.spans import DOCUMENT_SCHEMA


def widen_input(df: DataFrame) -> DataFrame:
    """Defend the map side against under-partitioned input.

    A scan's partition count comes from the INPUT LAYOUT (file count / split
    size), not from the cluster: a single small parquet file is ONE partition,
    and every narrow stage downstream of it runs serial until the first
    shuffle — measured on the aligned headline at sf0.1, where a 1.2 MB
    fixture scanned as ~3 partitions serialized a 32-core pipeline (stage
    attribution: features 42.6 s for 12k docs). At web scale the input has
    thousands of splits, the branch is false, and this is a no-op — so the
    repartition cost is only ever paid on inputs small enough for it to be
    trivial. Filters still push down: Catalyst moves predicates through
    Repartition nodes (PushDownPredicates).
    """
    sc = df.sparkSession.sparkContext
    # one task per core (the session factory records the physical core count
    # under this key; see its comment): the defense repartition restores
    # parallelism on under-partitioned SMALL inputs, where per-task fixed
    # cost — Python worker round-trips above all — makes extra waves
    # strictly worse. On a deployment that does not set the key,
    # defaultParallelism (= total executor cores on a vanilla cluster) is the
    # same one-wave sizing.
    try:
        target = int(sc.getConf().get(
            "spark.takco_spark.widen.partitions", str(sc.defaultParallelism)))
    except Exception:  # noqa: BLE001 — conf access never worth failing on
        target = sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def read_documents_jsonl(spark: SparkSession, path: str,
                         keep_corrupt: bool = False) -> DataFrame:
    """Robust JSONL → document table (S1). Bad lines are captured in
    ``_corrupt`` (PERMISSIVE mode) instead of killing the job — the analog of
    the reference's skip-bad-lines loader; ``keep_corrupt=True`` retains them
    for a quarantine sink, else they are dropped with a count available via
    ``where _corrupt is not null`` upstream."""
    if keep_corrupt:
        # PERMISSIVE + corrupt capture. Spark caveat: a query referencing ONLY
        # the corrupt column must run on a materialized cache of this frame.
        return (
            spark.read.schema(DOCUMENT_SCHEMA + ", _corrupt string")
            .option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", "_corrupt")
            .json(path)
        )
    # skip-bad-lines path (the reference's robust loader): DROPMALFORMED keeps
    # the scan fully prunable (no corrupt-column analysis restriction)
    return (
        spark.read.schema(DOCUMENT_SCHEMA)
        .option("mode", "DROPMALFORMED")
        .json(path)
    )


def write_documents_jsonl(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """JSONL sink (S5): per-partition json files (the dask
    ``to_textfiles`` analog, /root/reference/takco/util.py:301-309)."""
    df.write.mode(mode).json(path)


def write_table(df: DataFrame, path: str, partition_by: list[str] | None = None,
                mode: str = "overwrite") -> None:
    """Artifact store (S6): parquet (Iceberg ``writeTo`` when a catalog is
    configured — see sources.checkpoint for the capability probe)."""
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def read_csv_tables(spark: SparkSession, path: str, header: bool = True) -> DataFrame:
    """CSV source (S3): one document per FILE — each file's cells become the
    span sequence of a single document in row-major READING order, file path
    as doc_id; row-0 spans are kind='header' when ``header=True``, the rest
    'cell'.

    Reference semantics: ``TableSet.csvs`` builds
    ``[[{"text": c} for c in row] for row in csv.reader(f)]`` — file order,
    row-major (/root/reference/takco/__init__.py:44-62).

    Spark's CSV scan gives no per-file row index, so the order-preserving
    shape is wholetext read + Arrow-batched ``mapInPandas`` running the
    stdlib csv parser per file (quoted embedded newlines handled). One file =
    one input row = one output document; fully distributed, no driver loop.
    Each table doc is small by construction — wholetext rows are bounded.
    """
    import csv as _csv
    import io

    import pandas as pd

    raw = spark.read.text(path, wholetext=True).select(
        F.input_file_name().alias("doc_id"), "value"
    )

    def parse(batches):
        for pdf in batches:
            spans_col = []
            for content in pdf["value"]:
                spans, off = [], 0
                for ri, row in enumerate(_csv.reader(io.StringIO(content or ""))):
                    kind = "header" if (header and ri == 0) else "cell"
                    for c in row:
                        spans.append(
                            {"kind": kind, "text": c, "media_ref": "", "offset": off}
                        )
                        off += 1
                spans_col.append(spans)
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "spans": spans_col})

    return raw.mapInPandas(parse, schema=DOCUMENT_SCHEMA)
