"""Measurement plumbing for the benchmark: spans, Spark job groups, the Spark
event log, and /proc sampling of the JVM and its Python workers.

Nothing here imports pyspark, so the kernel micro-benchmarks and the
result-printing code can use it without a session.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _proc_table() -> dict[int, tuple[int, float]]:
    """pid -> (ppid, cpu seconds incl. reaped children)."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                raw = f.read()
        except OSError:  # the process exited between listdir and open
            continue
        # comm may hold spaces and parentheses: fields start after the last ')'
        fields = raw[raw.rindex(")") + 2:].split()
        ticks = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        out[int(name)] = (int(fields[1]), ticks / _CLK_TCK)
    return out


def _pss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:  # the process exited
        pass
    return 0


def _descendants(table: dict, root: int) -> list[int]:
    children = defaultdict(list)
    for pid, (ppid, _cpu) in table.items():
        children[ppid].append(pid)
    found, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            found.append(c)
            todo.append(c)
    return found


class ProcessTree:
    """CPU and resident memory of every process this driver started: the
    Spark JVM, the Python worker daemon and its forked workers.

    CPU counts user + system time including reaped children, so a worker that
    exits mid-measurement still shows up in its parent's total. Resident
    memory is sampled on a background thread while ``sampling()`` is active,
    as PSS: pages shared copy-on-write by forked workers, or by a child the
    JVM is spawning, count once rather than once per process.
    """

    def __init__(self, interval_s: float = 0.25):
        self.root = os.getpid()
        self.interval_s = interval_s
        self.peak_rss = 0

    def cpu_seconds(self) -> float:
        table = _proc_table()
        return sum(table[p][1] for p in _descendants(table, self.root))

    def rss_bytes(self) -> int:
        return sum(_pss_bytes(p) for p in _descendants(_proc_table(), self.root))

    @contextmanager
    def sampling(self):
        stop = threading.Event()

        def loop():
            while not stop.is_set():
                self.peak_rss = max(self.peak_rss, self.rss_bytes())
                stop.wait(self.interval_s)

        t = threading.Thread(target=loop, name="rss-sampler", daemon=True)
        t.start()
        try:
            yield self
        finally:
            stop.set()
            t.join(timeout=5)
            self.peak_rss = max(self.peak_rss, self.rss_bytes())


class Tracer:
    """Spans around layer calls, kept in memory and written out at the end.

    Each span tags the Spark jobs it triggers with the job group
    ``bench:<name>`` so the event log can attribute stage metrics to it. A
    disabled tracer still times nothing and tags nothing: the untraced units
    run through the same code with ``enabled=False``.
    """

    OTHER_GROUP = "bench:other"

    def __init__(self, run_id: str, sc=None, enabled: bool = True):
        self.run_id = run_id
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **counts):
        if not self.enabled:
            yield {}
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "counts": dict(counts),
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        if self.sc is not None:
            self.sc.setJobGroup(f"bench:{name}", name)
        rec["start"] = time.perf_counter()
        try:
            yield rec["counts"]
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self.sc is not None:
                outer = self.spans[self._stack[-1]]["name"] if self._stack else None
                self.sc.setJobGroup(
                    f"bench:{outer}" if outer else self.OTHER_GROUP, outer or "")

    def walls(self, parent_name: str | None = None) -> list[float]:
        """Walls of the spans directly under the (first) span named
        ``parent_name``; top-level spans when it is None."""
        parent = None
        if parent_name is not None:
            parent = next(s["id"] for s in self.spans if s["name"] == parent_name)
        return [s["end"] - s["start"] for s in self.spans if s["parent"] == parent]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1)


_STAGE_METRICS = {
    "task_cpu_s": (("internal.metrics.executorCpuTime",), 1e-9),
    "shuffle_read_mb": (("internal.metrics.shuffle.read.remoteBytesRead",
                         "internal.metrics.shuffle.read.localBytesRead"), 1e-6),
    "shuffle_write_mb": (("internal.metrics.shuffle.write.bytesWritten",), 1e-6),
    "spill_mb": (("internal.metrics.diskBytesSpilled",), 1e-6),
}


def job_group_metrics(event_log_dir: str) -> dict[str, dict[str, float]]:
    """Per job group: jobs, completed stages and summed stage metrics, read
    from the (possibly rolling) Spark event log written under
    ``event_log_dir``. Call after the session stopped, so the log is flushed.
    Skipped stages never complete and therefore count neither as stages nor
    toward the task metrics."""
    files = sorted(glob.glob(os.path.join(event_log_dir, "eventlog_v2_*", "events_*")))
    files += [p for p in glob.glob(os.path.join(event_log_dir, "*"))
              if os.path.isfile(p)]
    groups: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    stage_group: dict[int, str] = {}
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = ev.get("Properties", {}).get("spark.jobGroup.id", "")
                    groups[g]["jobs"] += 1
                elif kind == "SparkListenerStageSubmitted":
                    g = ev.get("Properties", {}).get("spark.jobGroup.id", "")
                    stage_group[ev["Stage Info"]["Stage ID"]] = g
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    g = stage_group.get(info["Stage ID"], "")
                    groups[g]["stages"] += 1
                    acc = {a["Name"]: a.get("Value") for a in info.get("Accumulables", [])}
                    for metric, (names, scale) in _STAGE_METRICS.items():
                        groups[g][metric] += scale * sum(
                            float(acc.get(n) or 0) for n in names)
    return {g: dict(v) for g, v in groups.items()}


def dir_stats(path: str) -> tuple[int, int]:
    """(parquet data files, total bytes) under ``path``."""
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(root, n))
            files += n.endswith(".parquet")
    return files, size
