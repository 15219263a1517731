"""Stage checkpointing with resume-skip and per-partition lineage metrics.

Reference analog: takco's step cache — each pipeline step dumps its output to
a workdir directory and is SKIPPED on re-run if that directory exists
(/root/reference/takco/__init__.py:642-694), plus per-stage artifacts like the
tablesim parquet cache (/root/reference/takco/__init__.py:300-376) and the
logged block statistics (/root/reference/takco/cluster/cluster.py:385-390).

Spark-native version: each stage is written as an Iceberg table when an
Iceberg catalog is configured, else as a parquet directory (the sandbox path).
Alongside the data we record one lineage row per (run, stage, partition):
``(run_id, stage, partition_id, rows, wall_ms, skipped, extra)`` appended as
immutable jsonl parts under ``<base>/_lineage/``. On re-run, a stage whose
`_SUCCESS` marker exists is read back instead of recomputed — mid-pipeline
resume. All path operations go through the Hadoop FileSystem API, so the
checkpoint base may be a DFS URI (``s3a://``, ``hdfs://``) as well as a
driver-local directory.
"""

from __future__ import annotations

import json
import os
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class HadoopPaths:
    """Filesystem operations routed through the Hadoop FileSystem API, so a
    base of ``s3a://`` / ``hdfs://`` / ``file:`` — or a plain path on a
    cluster whose default FS is HDFS — behaves the same as a driver-local
    directory (os.path-based checks silently never resume on DFS URIs —
    exists() is always False and makedirs creates a bogus local
    ``./s3a:/...`` tree). Shared by the stage checkpoints here and the
    incremental stream's state dir (streaming/incremental_er.py)."""

    def __init__(self, spark: SparkSession):
        self._jvm = spark.sparkContext._jvm  # type: ignore[union-attr]
        self._conf = spark.sparkContext._jsc.hadoopConfiguration()  # type: ignore[union-attr]

    def _path(self, p: str):
        return self._jvm.org.apache.hadoop.fs.Path(p)

    def _fs(self, p: str):
        return self._path(p).getFileSystem(self._conf)

    def exists(self, p: str) -> bool:
        return bool(self._fs(p).exists(self._path(p)))

    def mkdirs(self, p: str) -> None:
        self._fs(p).mkdirs(self._path(p))

    def touch(self, p: str) -> None:
        self._fs(p).create(self._path(p), True).close()

    def write_text(self, p: str, data: str, overwrite: bool = True) -> None:
        out = self._fs(p).create(self._path(p), overwrite)
        try:
            out.write(bytearray(data, "utf-8"))
        finally:
            out.close()

    def _statuses(self, dir_path: str) -> list:
        fs = self._fs(dir_path)
        d = self._path(dir_path)
        return list(fs.listStatus(d)) if fs.exists(d) else []

    def list_files(self, dir_path: str) -> list[str]:
        return [str(st.getPath().toString())
                for st in self._statuses(dir_path) if st.isFile()]

    def list_dirs(self, dir_path: str) -> list[str]:
        """Names of the subdirectories of ``dir_path`` (``[]`` if it is
        missing)."""
        return [str(st.getPath().getName())
                for st in self._statuses(dir_path) if st.isDirectory()]

    def delete(self, p: str) -> None:
        """Delete ``p`` recursively (a no-op if it is missing)."""
        self._fs(p).delete(self._path(p), True)

    def read_text(self, p: str) -> str:
        fs = self._fs(p)
        stream = fs.open(self._path(p))
        try:
            ioutils = self._jvm.org.apache.commons.io.IOUtils
            charset = self._jvm.java.nio.charset.StandardCharsets.UTF_8
            return str(ioutils.toString(stream, charset))
        finally:
            stream.close()


def _iceberg_available(spark: SparkSession) -> bool:
    try:
        cls = "org.apache.iceberg.spark.SparkCatalog"
        spark.sparkContext._jvm.java.lang.Class.forName(cls)  # type: ignore[union-attr]
        return True
    except Exception:
        return False


class CheckpointManager:
    """Write-once stage store under ``base_dir`` with lineage metrics."""

    def __init__(self, spark: SparkSession, base_dir: str, run_id: str = "run0",
                 config_token: str | None = None):
        """``config_token`` (e.g. a hash of the pipeline config) becomes part
        of every stage path, so re-running with a CHANGED config against the
        same checkpoint_dir recomputes instead of silently serving stale
        artifacts from the previous configuration."""
        self.spark = spark
        self.base_dir = base_dir.rstrip("/")
        self.run_id = run_id
        self.config_token = config_token
        self._hfs = HadoopPaths(spark)
        self._hfs.mkdirs(self.base_dir)
        self.use_iceberg = _iceberg_available(spark) and bool(
            spark.conf.get("spark.sql.catalog.takco", None)
        )
        # One immutable object per append under _lineage/ (S3 has no append;
        # a directory of small jsonl parts is the DFS-portable equivalent of
        # the old single _lineage.jsonl). Part names carry a per-INSTANCE
        # nonce: two managers sharing a run_id/base_dir in the same process
        # would otherwise produce identical {run_id}-{pid}-{seq} names and
        # silently overwrite each other's parts (r4 advice); with the nonce
        # plus overwrite=False a real collision raises instead of losing
        # rows. Wall-time prefix keeps filename sort ≈ chronological across
        # writers (exact order within a part is the row order).
        import uuid

        self._lineage_dir = f"{self.base_dir}/_lineage"
        self._lineage_seq = 0
        self._lineage_nonce = f"{int(time.time()):010d}-{uuid.uuid4().hex[:8]}"

    # -- paths --------------------------------------------------------------
    def stage_path(self, name: str) -> str:
        dirname = f"{name}-{self.config_token}" if self.config_token else name
        return f"{self.base_dir}/{dirname}"

    def exists(self, name: str) -> bool:
        return self._hfs.exists(f"{self.stage_path(name)}/_SUCCESS")

    # -- lineage ------------------------------------------------------------
    def _append_lineage(self, rows: list[dict]) -> None:
        self._lineage_seq += 1
        part = (f"{self._lineage_dir}/{self._lineage_nonce}-{self.run_id}"
                f"-{os.getpid()}-{self._lineage_seq:06d}.jsonl")
        self._hfs.mkdirs(self._lineage_dir)
        self._hfs.write_text(
            part,
            "".join(json.dumps(r, sort_keys=True) + "\n" for r in rows),
            overwrite=False,
        )

    def lineage(self) -> list[dict]:
        out: list[dict] = []
        for p in sorted(self._hfs.list_files(self._lineage_dir)):
            if not p.endswith(".jsonl"):
                continue
            out.extend(json.loads(line)
                       for line in self._hfs.read_text(p).splitlines()
                       if line.strip())
        return out

    def _partition_metrics(self, name: str, wall_ms: int, skipped: bool,
                           extra: dict | None) -> None:
        """One lineage row per file partition of the written stage (cheap: a
        count over parquet footers grouped by input file)."""
        df = self._read_stage(name)
        per_part = (
            df.groupBy(F.spark_partition_id().alias("partition_id"))
            .agg(F.count("*").alias("rows"))
            .collect()
        )
        ts = time.time()
        rows = [
            {
                "run_id": self.run_id,
                "stage": name,
                "partition_id": int(r["partition_id"]),
                "rows": int(r["rows"]),
                "wall_ms": int(wall_ms),
                "skipped": bool(skipped),
                "ts": ts,
                "extra": extra or {},
            }
            for r in per_part
        ]
        if not rows:  # empty stage still leaves a lineage trace
            rows = [{
                "run_id": self.run_id, "stage": name, "partition_id": -1,
                "rows": 0, "wall_ms": int(wall_ms), "skipped": bool(skipped),
                "ts": ts, "extra": extra or {},
            }]
        self._append_lineage(rows)

    # -- the stage combinator -------------------------------------------------
    def stage(
        self,
        name: str,
        compute: Callable[[], DataFrame],
        extra_metrics: dict | None = None,
    ) -> DataFrame:
        """Run-or-resume one stage.

        If the stage artifact exists, read it back (resume path — the compute
        closure is never invoked). Otherwise run ``compute()``, persist it,
        and append per-partition lineage rows.
        """
        if self.exists(name):
            self._partition_metrics(name, wall_ms=0, skipped=True,
                                    extra=extra_metrics)
            return self._read_stage(name)
        t0 = time.time()
        self._write_stage(compute(), name)
        wall_ms = int((time.time() - t0) * 1000)
        self._partition_metrics(name, wall_ms=wall_ms, skipped=False,
                                extra=extra_metrics)
        return self._read_stage(name)

    # -- storage dispatch -----------------------------------------------------
    def _table_ident(self, name: str) -> str:
        tok = f"_{self.config_token}" if self.config_token else ""
        return f"takco.stages.{name}{tok}"

    def _write_stage(self, df: DataFrame, name: str) -> None:
        """Iceberg ``writeTo`` when the catalog probe succeeded (a cluster
        with iceberg-spark-runtime and ``spark.sql.catalog.takco``
        configured — snapshots give time-travel over stage artifacts), else
        the parquet directory fallback. This sandbox has NO Iceberg runtime
        jar (documented downgrade, TESTDATA.md): ``use_iceberg`` is always
        False here and the fallback path is the one under test; the Iceberg
        branch is exercised only by the probe test pinning the dispatch."""
        if self.use_iceberg:
            self.spark.sql(
                "CREATE NAMESPACE IF NOT EXISTS takco.stages"
            )
            df.writeTo(self._table_ident(name)).createOrReplace()
            # the _SUCCESS convention still drives exists(): mirror a marker
            self._hfs.mkdirs(self.stage_path(name))
            self._hfs.touch(f"{self.stage_path(name)}/_SUCCESS")
        else:
            df.write.mode("overwrite").parquet(self.stage_path(name))

    def _read_stage(self, name: str) -> DataFrame:
        if self.use_iceberg:
            return self.spark.read.table(self._table_ident(name))
        return self.spark.read.parquet(self.stage_path(name))

