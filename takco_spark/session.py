"""SparkSession factory with scale-oriented defaults.

Defaults are chosen for a multi-executor cluster reading very large inputs
(AQE on, skew-join on, Arrow on); the sandbox runs the same configs on
``local[N]``. Nothing here is sandbox-specific — the same session factory is
what ``spark-submit --py-files takco_spark.zip job.py`` would use.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CONFS: dict[str, str] = {
    # Adaptive execution: runtime re-plan, partition coalescing, skew-join
    # splitting. Blocking self-joins are the skew hotspot (SURVEY.md §4).
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # parallelismFirst=true (default) floors coalescing at defaultParallelism:
    # small shuffles shrink toward one-partition-per-core, while CPU-heavy
    # UDF stages keep full parallelism. (=false coalesces by bytes only and
    # serialized byte-small-but-CPU-heavy stages — measured regression.)
    "spark.sql.adaptive.coalescePartitions.parallelismFirst": "true",
    # parallelismFirst's floor only holds while coalesced partitions stay
    # above minPartitionSize (default 1 MB) — so byte-SMALL but CPU-heavy
    # shuffles (CC label rounds, stats rollups, Python-group stages) were
    # still collapsing to 1-4 tasks. 64k keeps them wide; large shuffles are
    # unaffected (the 64 MB advisory size still governs them). Measured on
    # the 600k-doc pipeline at local[4], interleaved A/B: 162.2→120.4 s and
    # 170.2→135.7 s; local[1] unchanged (~427 s, within its noise band).
    "spark.sql.adaptive.coalescePartitions.minPartitionSize": "64k",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for pandas UDFs — every scorer is batch-vectorized (input_hint:
    # "no per-row Python").
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # Sane parquet scan granularity for wide scans.
    "spark.sql.files.maxPartitionBytes": "134217728",
    # zstd shuffle/spill compression (default lz4): the blocking/pair
    # stages shuffle tens of millions of short text keys, and at scale the
    # shuffle bytes — network + disk on a cluster, shared memory bandwidth
    # here — are the contended resource, so a denser codec beats a faster
    # one. Measured A/B (2026-08-19, 600k docs, interleaved fresh-JVM
    # runs): local[4] zstd n=7 all in 95.6-101.8 s vs lz4 n=6 min 98.0 but
    # HALF the runs degraded to 126-131 s (fewer bytes through the
    # bandwidth-weather window); local[1] zstd pays ~1.7% CPU (327.3 vs
    # 321.7 s, one pair — within noise).
    "spark.io.compression.codec": "zstd",
    # Align the small-R shuffle regime with the large-R one. With reduce
    # partitions <= 200 (the default threshold) and no map-side combine,
    # Spark's bypass-merge writer opens one file + one compression stream
    # PER REDUCE PARTITION per map task; with zstd streams and ~100-200
    # partitions that fixed cost dominated byte-small shuffles (SQL plan
    # metrics: 39 s of shuffle-write time for a 5.8 MiB exchange; ~130-200 ms
    # per map task). Above 200 partitions Spark always uses the sort-based
    # writer (one output file per map task) — so a low threshold only makes
    # small shuffles behave like big ones; it is partition-count-dependent,
    # not core-count-dependent, and a no-op at real scale where R > 200.
    # Measured (sf0.1, local[32], fresh JVM, min of 2): aligned headline
    # 14.9 -> 8.0 s, ngram 3.1 -> 1.2 s, minhash 1.8 -> 1.2 s; value sweep
    # 1/16/64 -> 8.7/8.0/9.4 s on the aligned query.
    "spark.shuffle.sort.bypassMergeThreshold": "16",
    "spark.sql.session.timeZone": "UTC",
    # Permissive (non-ANSI) SQL semantics: bad casts → null, not job-killing
    # exceptions — the right behavior for dirty web-scale text input (Spark 4
    # flipped the default to ANSI).
    "spark.sql.ansi.enabled": "false",
}


def fit_driver_memory(mem_total_kb: int | None) -> str:
    """Local-mode default ``spark.driver.memory`` for a host with
    ``mem_total_kb`` of RAM: half of it, at most 24g (24g when unknown).
    Every local "executor" thread lives in this one JVM, so a heap cap above
    what the host can back gets the JVM OOM-killed instead of collected."""
    if not mem_total_kb:
        return "24g"
    return f"{min(24 * 1024, mem_total_kb // 2048)}m"


def local_driver_memory() -> str:
    """``$SPARK_GRAFT_DRIVER_MEM``, else :func:`fit_driver_memory` of this
    host's MemTotal."""
    override = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if override:
        return override
    mem_total_kb = None
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    mem_total_kb = int(line.split()[1])
    except OSError:
        pass
    return fit_driver_memory(mem_total_kb)


def _default_master() -> str:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    return os.environ.get("SPARK_MASTER", f"local[{cpus}]")


def _ensure_package_on_worker_path() -> None:
    """Make ``takco_spark`` importable by Python workers regardless of the
    driver's cwd. Local mode workers inherit the driver env's PYTHONPATH; on a
    real cluster you ship the package with ``spark-submit --py-files
    takco_spark.zip`` instead (see README) — this is the local-mode analog."""
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    current = os.environ.get("PYTHONPATH", "")
    if pkg_root not in current.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{pkg_root}{os.pathsep}{current}" if current else pkg_root
        )


def get_spark(
    app_name: str = "takco-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession with the engine's default configs.

    ``shuffle_partitions`` defaults to 2× the local core count — on a real
    cluster you would size this to total executor cores × 2-3 instead.

    ``master=""`` (empty string) skips the ``.master()`` call entirely —
    the mode for ``spark-submit`` jobs, where the cluster manager supplies
    ``spark.master`` and the driver script must not override it
    (scripts/run_linkage.py passes this).
    """
    _ensure_package_on_worker_path()
    if master is None:
        master = _default_master()
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    confs = dict(DEFAULT_CONFS)
    if master.startswith("local"):
        # local-mode-only conveniences — under spark-submit these are the
        # submitter's/cluster's call and must not be clobbered from code:
        # a programmatic builder.config outranks spark-submit --conf, so
        # setting them unconditionally would silently override the operator.
        confs["spark.ui.enabled"] = "false"
        # Fork Python workers from a daemon that has numpy/pandas/pyarrow
        # and the engine's kernel modules preloaded (copy-on-write): worker
        # boot drops from ~1-3 s of imports (up to ~9 s under contention)
        # to the fork itself. The idle-worker pool refills asynchronously
        # after each task, so fresh forks happen throughout a multi-job
        # pipeline. LOCAL-ONLY (r4 advice): on a cluster where --py-files
        # was forgotten, a default daemon module would make executor Python
        # workers fail with an obscure import error instead of degrading to
        # the stock pyspark.daemon — cluster submissions opt in explicitly:
        #   --conf spark.python.daemon.module=takco_spark.worker_daemon
        # after shipping the package (see README/run_linkage.py).
        confs["spark.python.daemon.module"] = "takco_spark.worker_daemon"
        # Shuffle/spill files on the fastest local storage available. This
        # host's /tmp sits on a CONTENDED virtual disk (noisy neighbors);
        # /dev/shm is a large empty tmpfs. On a real cluster
        # spark.local.dir / SPARK_LOCAL_DIRS point at the executors' local
        # SSDs and are set by the deployment, never by driver code (a
        # tmpfs default there would spill shuffle data into executor RAM).
        local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
        if local_dir is None and os.path.isdir("/dev/shm"):
            local_dir = "/dev/shm/spark-local"
        if local_dir:
            os.makedirs(local_dir, exist_ok=True)
            confs["spark.local.dir"] = local_dir
    # In local mode every "executor" thread lives in the driver JVM — the 1g
    # default heap causes GC collapse at high parallelism. Only effective for
    # the process's FIRST JVM (bench runs each parallelism level in a fresh
    # process for exactly this reason). Half of physical RAM, at most 24g: a
    # 24g heap on a 15 GB host let the test JVM grow until the OOM killer
    # removed it. The 24g ceiling (r6 — was 48g, which the
    # measurements never supported): the committed interleaved A/B
    # (BENCH/mem_ab_d{600000,960000}.json, local[4]) has 24g ~25% FASTER at
    # 600k docs and a wash at 960k, and r6 local[32] headline sessions at
    # 48g showed pathological COLD walls on the aligned query (110-193 s
    # first run vs 34-38 s at 24g in adjacent windows — tens of GB of fresh
    # heap pages being committed during the first heavy shuffle phase) with
    # no steady-state benefit anywhere. The r3-era 24g spill cliff no longer
    # reproduces after the shuffle moved to /dev/shm and the AQE
    # parallelism-floor fixes. The scaling bench overrides this per child to
    # 12 GB × cores, capped at ~70% of physical RAM
    # (bench._scale_memory_per_core) — per-core memory held constant across
    # parallelism levels, the way a real cluster's per-executor memory is;
    # $SPARK_GRAFT_DRIVER_MEM remains the explicit escape hatch.
    if master.startswith("local"):
        # local-mode-only: under spark-submit the driver/executor memory is
        # the submitter's call (--driver-memory/--executor-memory), and
        # setting spark.driver.memory after JVM start is a no-op anyway
        confs["spark.driver.memory"] = local_driver_memory()
    if shuffle_partitions is None and master.startswith("local-cluster["):
        # local-cluster[nExec, coresPerExec, memMB]: REAL separate executor
        # JVMs on one host (Spark's standalone test mode) — the closest
        # sandbox analog to an N-executor cluster. Size shuffle/parallelism
        # from TOTAL executor cores exactly like the cluster guidance
        # (2-4× total cores), not Spark's 200 default — at 4 total cores a
        # 200-partition shuffle is pure scheduling overhead per CC round.
        inner = master[len("local-cluster[") : -1]
        try:
            n_exec, cores_per, _mem = (int(x.strip())
                                       for x in inner.split(","))
            total = max(1, n_exec * cores_per)
            shuffle_partitions = max(16, 4 * total)
            confs["spark.default.parallelism"] = str(3 * total)
            confs["spark.takco_spark.widen.partitions"] = str(total)
        except ValueError:
            shuffle_partitions = 64
    elif shuffle_partitions is None and master.startswith("local["):
        inner = master[len("local[") : -1]
        try:
            cores = os.cpu_count() or 8 if inner == "*" else int(inner)
            # 4× cores: bounds the straggler tail (one slow partition idles
            # the rest for 1/(4·cores) of the stage, not 1/cores); AQE
            # coalesces byte-small stages back down, parallelismFirst keeps
            # CPU-heavy ones wide. Cluster guidance unchanged (2-3× total
            # executor cores).
            shuffle_partitions = max(16, 4 * cores)
            # The widen_input defense repartition targets ONE task per core
            # (sources/readers.widen_input reads this key): it exists to
            # restore full parallelism on under-partitioned small inputs,
            # where per-task fixed costs (Python worker round-trips most of
            # all) dominate — extra waves only help under skew, and the
            # widened tables are uniform narrow rows. defaultParallelism
            # stays 3× cores for the AQE coalescing floor below, which is a
            # different trade (post-shuffle stages smooth over waves). On a
            # vanilla spark-submit cluster this key is absent and widen
            # falls back to defaultParallelism = total executor cores —
            # already one wave. Measured (sf0.1 local[32], fresh JVM, min of
            # 2, widen 96 → 32): spans 3.12 → 2.38 s, simhash 1.44 → 1.06 s,
            # minhash 1.98 → 1.47 s, aligned 7.59 → 7.13 s.
            confs["spark.takco_spark.widen.partitions"] = str(cores)
            # AQE's parallelismFirst floors coalescing at defaultParallelism
            # (= the core count in local mode), which quantizes stages into
            # uneven waves: a stage coalesced to 5-6 tasks on 4 cores runs
            # as a full wave plus a straggler, idling cores for its tail.
            # Floor at 3× cores instead so every coalesced stage still has
            # ~3 tasks per core to smooth over (measured on the 600k-doc ER
            # pipeline at local[4]: 149.9 s → 136.3 s, stage utilizations
            # 0.37-0.77 → 0.91-0.98). On a real cluster this is the
            # standard 2-3× tasks-per-core sizing, set by the deployment.
            confs["spark.default.parallelism"] = str(3 * cores)
        except ValueError:
            shuffle_partitions = 64
    if shuffle_partitions is not None:
        confs["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_conf:
        confs.update(extra_conf)
    for k, v in confs.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def stop_spark() -> None:
    """Stop the active session if any (used by the bench harness to switch
    parallelism levels between runs)."""
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
