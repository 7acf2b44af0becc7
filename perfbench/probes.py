"""Measurement helpers that live outside the library: /proc process-tree
CPU and RSS, host steal, in-memory spans, and Spark JSON event-log sums."""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from collections import defaultdict

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:  # the process ended between listing and reading
        return None
    # comm may hold spaces or parentheses: split after its closing paren
    return raw[raw.rindex(")") + 2:].split()


def tree_pids(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its live descendants."""
    root = root or os.getpid()
    children = defaultdict(list)
    for d in os.listdir("/proc"):
        if d.isdigit():
            f = _stat_fields(int(d))
            if f is not None:
                children[int(f[1])].append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, ()))
    return out


def tree_cpu_s() -> float:
    """user+system CPU of the process tree, reaped children included."""
    total = 0
    for pid in tree_pids():
        f = _stat_fields(pid)
        if f is not None:
            total += sum(int(x) for x in f[11:15])
    return total / _TICK


def tree_rss_mb() -> float:
    total = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1])
        except (OSError, IndexError):
            pass
    return total * _PAGE / 2**20


def steal_s() -> float:
    with open("/proc/stat") as fh:
        cpu = fh.readline().split()
    return int(cpu[8]) / _TICK


def loadavg() -> float:
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


def other_java_pids() -> list[int]:
    own = set(tree_pids())
    out = []
    for d in os.listdir("/proc"):
        if d.isdigit() and int(d) not in own:
            try:
                with open(f"/proc/{d}/comm") as fh:
                    if fh.read().strip() == "java":
                        out.append(int(d))
            except OSError:
                pass
    return out


class RssSampler:
    """Background sampler of process-tree RSS; ``peak_mb`` is the max."""

    def __init__(self, period_s: float = 0.5):
        self.period_s = period_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb())
            self._stop.wait(self.period_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_mb = max(self.peak_mb, tree_rss_mb())


class Spans:
    """In-memory spans around public library calls (never nested). With
    ``sc`` set, each span also tags the Spark jobs it runs (local property
    ``perfbench.span``) so event-log task metrics can be summed per span
    name. Disabled instances record nothing and touch no Spark state."""

    PROP = "perfbench.span"

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.sc = None
        self.records: list[dict] = []

    def span(self, name: str):
        return _Span(self, name)

    def totals(self) -> dict[str, float]:
        """Summed duration per span name."""
        out: dict[str, float] = defaultdict(float)
        for r in self.records:
            out[r["name"]] += r["end"] - r["start"]
        return dict(out)


class _Span:
    def __init__(self, spans: Spans, name: str):
        self.spans, self.name = spans, name

    def __enter__(self):
        s = self.spans
        if s.enabled and s.sc is not None:
            s.sc.setLocalProperty(Spans.PROP, self.name)
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        s = self.spans
        self.wall = time.perf_counter() - self.t0
        if s.enabled:
            s.records.append({"name": self.name, "start": self.t0,
                              "end": self.t0 + self.wall})
            if s.sc is not None:
                s.sc.setLocalProperty(Spans.PROP, None)


#: event-log accumulables of Spark's Python exec nodes (PythonSQLMetrics)
_PY_SENT = "data sent to Python workers"


def eventlog_sums(log_dir: str) -> dict[str, dict[str, float]]:
    """Sum task metrics per job label from a Spark JSON event log.

    A job's label is its ``perfbench.span`` local property, or
    ``stream`` for Structured Streaming jobs. Returns
    ``{label: {metric: total}}`` with the ``spark.*`` per-layer names."""
    files = glob.glob(os.path.join(log_dir, "*"))
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}: {files}")
    stage_label: dict[int, str] = {}
    sums: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    with open(files[0]) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                label = props.get(Spans.PROP) or (
                    "stream" if "sql.streaming.queryId" in props else "other")
                sums[label]["spark.jobs"] += 1
                for sid in ev["Stage IDs"]:
                    stage_label[sid] = label
            elif kind == "SparkListenerTaskEnd":
                acc = sums[stage_label.get(ev["Stage ID"], "other")]
                info = ev["Task Info"]
                acc["spark.tasks"] += 1
                acc["spark.tasks_failed"] += bool(info.get("Failed"))
                m = ev.get("Task Metrics") or {}
                acc["spark.executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                acc["spark.executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                acc["spark.gc_s"] += m.get("JVM GC Time", 0) / 1e3
                sw = m.get("Shuffle Write Metrics") or {}
                acc["spark.shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                sr = m.get("Shuffle Read Metrics") or {}
                acc["spark.shuffle_read_bytes"] += (
                    sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0))
                acc["spark.shuffle_fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
                acc["spark.spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                             + m.get("Disk Bytes Spilled", 0))
                for a in info.get("Accumulables") or ():
                    if a.get("Name") == _PY_SENT:
                        acc["spark.python_bytes_sent"] += int(a.get("Update", 0))
    return {k: dict(v) for k, v in sums.items()}


SPARK_METRICS = (
    "spark.jobs", "spark.tasks", "spark.tasks_failed", "spark.executor_run_s",
    "spark.executor_cpu_s", "spark.gc_s", "spark.shuffle_write_bytes",
    "spark.shuffle_read_bytes", "spark.shuffle_fetch_wait_s",
    "spark.spill_bytes", "spark.python_bytes_sent",
)
