"""Run one workload of the record-linkage benchmark and print its result.

    python3 perfbench/run.py --workload flat_cc --seed 1 --seconds 20 --trace 0

Run from the repository root. One process starts one local[4] Spark session,
generates the workload's corpus from ``--seed``, then runs units of work
(see workloads.py) until starting another would pass ``--seconds``. Every
unit's output is checked: pairwise F1 >= 0.99 over all labelled documents
and no span-sequence mismatch with the input.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` runs the unit
layer by layer inside spans, tagging Spark jobs per layer and reading the
Spark event log, then runs the untraced unit again to check the traced
labels are identical, and prints the per-layer metrics and kernel rates.

The last stdout line is the result JSON; the line before it records the
host and session settings. Scratch files live in ``.bench_work/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK_ROOT = ROOT / ".bench_work"
CORES = 4
#: trace-0 runs append their untraced wall here; a traced run measures its
#: overhead against the median of those recorded for its workload
UNTRACED_LOG = WORK_ROOT / "untraced_walls.jsonl"


def _mem_total_kb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def pin_environment(work: Path) -> dict:
    """Fit the session to this host: heap from MemTotal (a quarter, at most
    4 GiB) instead of the 24g local-mode default, and every scratch
    directory inside ``work``."""
    mem_kb = _mem_total_kb()
    heap_mb = min(4096, mem_kb // 1024 // 4)
    local, tmp = work / "spark-local", work / "tmp"
    local.mkdir(parents=True)
    tmp.mkdir()
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{heap_mb}m"
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = str(local)
    # SPARK_LOCAL_DIRS outranks spark.local.dir when set in the caller's env
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_mb": mem_kb // 1024,
        "heap": f"{heap_mb}m",
        "shuffle_dir": str(local.relative_to(ROOT)),
        "master": f"local[{CORES}]",
    }


def start_session(name: str, work: Path, event_log: Path | None):
    from takco_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'}",
    }
    if event_log is not None:
        event_log.mkdir()
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log.as_uri(),
            "spark.eventLog.compress": "false",
        })
    spark = get_spark(app_name=f"perfbench-{name}", master=f"local[{CORES}]",
                      extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers) to
    exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def warm_up(spark) -> None:
    """Start the Python worker daemon and one worker per core."""
    from pyspark.sql import functions as F

    from takco_spark.functions.similarity import jaro_winkler_udf

    s = F.col("id").cast("string")
    spark.range(CORES * 16, numPartitions=CORES).select(
        jaro_winkler_udf(s, s).alias("w")).agg(F.sum("w")).collect()


def _p90(xs: list[float]) -> float:
    return statistics.quantiles(xs, n=10, method="inclusive")[8] if len(xs) > 1 else xs[0]


def _reference_wall(workload: str) -> list[float]:
    if not UNTRACED_LOG.exists():
        return []
    walls = []
    for line in UNTRACED_LOG.read_text().splitlines():
        rec = json.loads(line)
        if rec["workload"] == workload:
            walls.append(rec["wall_s"])
    return walls


def _check_spec() -> str | None:
    from metrics import END_TO_END, per_layer

    spec_path = ROOT / "BENCHMARK.json"
    if not spec_path.exists():
        return None
    spec = json.loads(spec_path.read_text())
    mine_e2e = [list(m) for m in END_TO_END]
    theirs_e2e = [[m["name"], m["unit"], m["better"], m["bound"]] for m in spec["end_to_end"]]
    mine_layer = [list(m) for m in per_layer()]
    theirs_layer = [[m["name"], m["unit"], m["better"]] for m in spec["per_layer"]]
    if mine_e2e != theirs_e2e or mine_layer != theirs_layer:
        return "BENCHMARK.json metrics differ from perfbench/metrics.py"
    return None


class Run:
    """One benchmark process: session, fixture, units, metrics."""

    def __init__(self, args, env: dict, work: Path):
        from tracing import ProcessTree, Tracer
        from workloads import WORKLOADS

        self.args, self.env, self.work = args, env, work
        self.wl = WORKLOADS[args.workload]
        self.tree = ProcessTree()
        self.tracer = Tracer(f"{args.workload}-s{args.seed}", enabled=bool(args.trace))
        self.untraced = Tracer(self.tracer.run_id, enabled=False)
        self.setup: dict[str, float] = {}
        self.units: list[dict] = []
        self.spark = None

    def _step(self, name: str, fn):
        t0 = time.perf_counter()
        with self.tracer.span(name):
            out = fn()
        self.setup[name] = time.perf_counter() - t0
        return out

    def set_up(self):
        event_log = self.work / "eventlog" if self.args.trace else None
        self.spark = self._step("setup.get_spark", lambda: start_session(
            self.wl.name, self.work, event_log))
        self.tracer.sc = self.spark.sparkContext
        self._step("setup.warmup", lambda: warm_up(self.spark))
        self.fx = self._step("setup.datagen", lambda: self.wl.build(self.spark, self.args.seed))

    def unit(self, tag: str, tracer) -> dict:
        """One timed unit plus its (untimed) output checks."""
        from workloads import check_output

        rec = {"tag": tag, "ok": False}
        self.units.append(rec)
        try:
            cpu0 = self.tree.cpu_seconds()
            with self.tree.sampling():
                res = self.wl.run(self.spark, self.fx, str(self.work / "out" / tag), tracer)
            rec.update(cpu_s=self.tree.cpu_seconds() - cpu0, wall_s=res.wall_s,
                       out=res.out_path, result=res)
            rec.update(check_output(self.spark, self.fx, res.out_path))
        except Exception:  # noqa: BLE001 - a failed unit is counted, not fatal
            traceback.print_exc(file=sys.stderr)
        return rec

    def measure(self) -> None:
        t0 = time.perf_counter()
        while True:
            rec = self.unit(f"u{len(self.units)}", self.untraced)
            elapsed = time.perf_counter() - t0
            if not rec["ok"] or elapsed + rec["wall_s"] > self.args.seconds:
                break

    def end_to_end(self) -> dict:
        from metrics import END_TO_END

        good = [u for u in self.units if u["ok"]]
        vals = {"setup_s": sum(self.setup.values())}
        if good:
            wall = statistics.median(u["wall_s"] for u in good)
            vals.update(
                wall_s=wall,
                docs_per_s=self.fx.n_docs / wall,
                cpu_s=statistics.median(u["cpu_s"] for u in good),
                pairwise_f1=min(u["pairwise_f1"] for u in self.units if "pairwise_f1" in u),
            )
        vals["success_rate"] = len(good) / len(self.units) if self.units else 0.0
        return {name: {"value": float(vals.get(name, 0.0)), "unit": unit}
                for name, unit, _better, _bound in END_TO_END}

    def traced(self) -> tuple[dict, bool]:
        """The traced unit first, in the position the untraced runs time,
        then the untraced unit again for label parity, the workload's extra
        layers, and the kernels once Spark has stopped."""
        import kernels
        from tracing import job_group_metrics
        from workloads import UNIT_SPAN, labels_differ

        traced = self.unit("traced", self.tracer)
        untraced = self.unit("untraced", self.untraced)
        parity = traced["ok"] and untraced["ok"] and labels_differ(
            self.spark, traced["out"], untraced["out"]) == 0
        extras = self.wl.trace_extras(
            self.spark, self.tracer, self.fx, traced["result"],
            str(self.work / "out" / "extra"), self.args.seed) if traced["ok"] else {}
        sample = kernels.sample(self.fx.docs, self.wl.cfg)
        stop_session(self.spark)
        self.spark = None
        vals = kernels.run(sample, self.wl.cfg)
        groups = job_group_metrics(str(self.work / "eventlog"))
        refs = _reference_wall(self.wl.name)
        ref = statistics.median(refs) if refs else untraced["wall_s"]
        vals["trace.overhead_s"] = sum(self.tracer.walls(UNIT_SPAN)) - ref
        vals["peak_rss_mb"] = self.tree.peak_rss / 1e6
        if "stream_batch_walls" in extras:
            walls = extras["stream_batch_walls"]
            vals["incremental_er.link_batch.p50_s"] = statistics.median(walls)
            vals["incremental_er.link_batch.p90_s"] = _p90(walls)
            vals["incremental_er.state_bytes_per_doc"] = extras["stream_state_bytes_per_doc"]
        self.report_extra = {"groups": groups, "label_parity": parity,
                             "overhead_reference_s": ref,
                             "overhead_reference_runs": len(refs), "extras": extras}
        correct = parity and extras.get("stream_check", {"ok": True})["ok"]
        return self.layer_metrics(vals, groups), correct

    def layer_metrics(self, vals: dict, groups: dict) -> dict:
        from collections import defaultdict

        from metrics import FULL_LAYERS, FULL_SUFFIXES, LAYER_COUNTS, SMALL_LAYERS, per_layer

        spans = defaultdict(list)
        for s in self.tracer.spans:
            spans[s["name"]].append(s)
        for layer in FULL_LAYERS + SMALL_LAYERS:
            g = groups.get(f"bench:{layer}", {})
            ss = spans[layer]
            vals[f"{layer}.wall_s"] = sum(s["end"] - s["start"] for s in ss)
            vals[f"{layer}.rows_out"] = sum(s["counts"].get("rows_out", 0) for s in ss)
            for suffix, _unit in FULL_SUFFIXES[2:]:
                vals[f"{layer}.{suffix}"] = g.get(suffix, 0.0)
        for layer, secs in self.setup.items():
            vals[f"{layer}.wall_s"] = secs
        for layer, count, _unit, _better in LAYER_COUNTS:
            xs = [s["counts"][count] for s in spans[layer] if count in s["counts"]]
            # file counts describe the state after the last call; the rest add up
            vals[f"{layer}.{count}"] = (max(xs) if count == "state_files" else sum(xs)) if xs else 0
        # layers a workload bypasses read 0
        return {name: {"value": float(vals.get(name, 0.0)), "unit": unit}
                for name, unit, _better in per_layer()}

    def report(self, result: dict) -> None:
        units = [{k: v for k, v in u.items() if k != "result"} for u in self.units]
        data = {"env": self.env, "args": vars(self.args), "setup": self.setup,
                "units": units, "peak_rss_mb": self.tree.peak_rss / 1e6, "result": result,
                **getattr(self, "report_extra", {})}
        (self.work / "report.json").write_text(json.dumps(data, indent=1, default=str))
        if self.args.trace:
            self.tracer.write(str(self.work / "spans.json"))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "takco_spark" / "__init__.py").is_file():
        print("perfbench: takco_spark/ not found at the repository root", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    problem = _check_spec()
    if problem:
        print(f"perfbench: {problem}", file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    work = WORK_ROOT / f"{args.workload}-s{args.seed}-t{args.trace}"
    shutil.rmtree(work, ignore_errors=True)
    env = pin_environment(work)
    run = Run(args, env, work)
    try:
        run.set_up()
        if args.trace:
            metrics, correct = run.traced()
        else:
            run.measure()
            metrics = run.end_to_end()
            correct = all(u["ok"] for u in run.units)
            if correct:
                with UNTRACED_LOG.open("a") as f:
                    f.write(json.dumps({"workload": args.workload, "seed": args.seed,
                                        "wall_s": metrics["wall_s"]["value"]}) + "\n")
    finally:
        if run.spark is not None:
            stop_session(run.spark)
        for sub in ("out", "spark-local", "tmp", "eventlog"):
            shutil.rmtree(work / sub, ignore_errors=True)
    result = {
        "correct": bool(correct),
        "attempted": len(run.units),
        "failed": sum(not u["ok"] for u in run.units),
        "metrics": metrics,
    }
    run.report(result)
    print("# env " + json.dumps({**env, "workload": args.workload, "seed": args.seed,
                                 "setup": run.setup}))
    print(json.dumps(result))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
