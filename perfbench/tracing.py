"""Spans and counters recorded from the benchmark's side of each call.

Nothing inside the package is instrumented.  A span is opened around a
call into a layer; leaf spans also set a Spark job group, so the stage
metrics that Spark's own status store keeps with the UI disabled can be
attributed to the span afterwards.  Python-node metrics come from the
SQL status store of the same session.  Spans stay in memory and are
written once, when the run ends.
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
from contextlib import contextmanager

MB = 1024 * 1024

# SQL metric display names of Spark's Python nodes (PythonSQLMetrics)
_PY_METRICS = {
    "time to run Python workers": "python.total_s",
    "time to start Python workers": "python.boot_s",
    "time to initialize Python workers": "python.init_s",
    "data sent to Python workers": "python.data_sent_mb",
    "data returned from Python workers": "python.data_received_mb",
}
_TIME_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_SIZE_UNITS = {"B": 1, "KiB": 1024, "MiB": MB, "GiB": 1024 * MB, "TiB": 1024**2 * MB}
_VALUE_RE = re.compile(r"^\s*([0-9.,]+)\s*([A-Za-z]+)")


def parse_sql_metric(text: str, metric_type: str) -> float:
    """Total of one formatted SQL metric, in seconds or MB.  Spark
    formats an aggregated metric as ``total (min, med, max ...)\\n<total>
    (...)`` and a single-task one as the bare value."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _VALUE_RE.match(line)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if metric_type in ("timing", "nsTiming"):
        return value * _TIME_UNITS[unit]
    if metric_type == "size":
        return value * _SIZE_UNITS[unit] / MB
    return value


class Tracer:
    """Spans of one run: ``name, kind, start, end, parent, run_id``.
    ``enabled=False`` makes every call a no-op, so the untraced path
    runs the same code without touching Spark's job groups."""

    def __init__(self, spark, run_id: str, enabled: bool):
        self.spark = spark
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, kind: str, name: str, group: bool = False):
        """Open a span; ``group=True`` also tags every Spark job started
        inside it with a job group named after the span."""
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {
            "id": sid, "kind": kind, "name": name, "run_id": self.run_id,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(), "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        sc = self.spark.sparkContext
        if group:
            gid = f"{self.run_id}:{sid}"
            rec["job_group"] = gid
            sc.setJobGroup(gid, f"{kind} {name}")
        try:
            yield rec
        finally:
            if group:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def derived(self, parent: dict | None, kind: str, name: str, seconds: float, at_start: bool) -> None:
        """A child span whose length a call reported itself (e.g. the
        write wall a job returns), placed at the start or end of its
        parent.  Marked ``derived`` in the written trace."""
        if parent is None:
            return
        if at_start:
            start, end = parent["start"], parent["start"] + seconds
        else:
            start, end = parent["end"] - seconds, parent["end"]
        self.spans.append(
            {
                "id": len(self.spans), "kind": kind, "name": name,
                "run_id": self.run_id, "parent": parent["id"],
                "start": start, "end": end, "derived": True,
            }
        )

    def groups_under(self, rec: dict) -> list[str]:
        """Job groups of ``rec`` and of every span inside it."""
        ids = {rec["id"]}
        out = []
        for s in self.spans[rec["id"]:]:
            if s["id"] in ids or s["parent"] in ids:
                ids.add(s["id"])
                if "job_group" in s:
                    out.append(s["job_group"])
        return out

    def self_times(self) -> dict[str, float]:
        """Seconds per span kind not covered by child spans."""
        child_s: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_s[s["parent"]] = child_s.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            own = (s["end"] - s["start"]) - child_s.get(s["id"], 0.0)
            out[s["kind"]] = out.get(s["kind"], 0.0) + max(own, 0.0)
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans}, f)


def stage_metrics(spark, groups: list[str]) -> dict[str, float]:
    """JVM stage counters of every job started under ``groups``, read
    from the status store (skipped stages ran no tasks)."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    tracker = sc.statusTracker()
    out = dict.fromkeys(
        (
            "spark.jobs", "stage.count", "stage.tasks", "stage.executor_run_s",
            "stage.executor_cpu_s", "stage.shuffle_read_mb",
            "stage.shuffle_write_mb", "stage.spill_mb",
        ),
        0.0,
    )
    stage_ids: set[int] = set()
    for g in groups:
        for jid in tracker.getJobIdsForGroup(g):
            out["spark.jobs"] += 1
            ids = store.job(jid).stageIds()
            stage_ids.update(ids.apply(i) for i in range(ids.size()))
    for sid in sorted(stage_ids):
        attempts = store.stageData(sid, False, None, False, None)
        for i in range(attempts.size()):
            st = attempts.apply(i)
            if st.status().toString() == "SKIPPED":
                continue
            out["stage.count"] += 1
            out["stage.tasks"] += st.numTasks()
            out["stage.executor_run_s"] += st.executorRunTime() / 1e3
            out["stage.executor_cpu_s"] += st.executorCpuTime() / 1e9
            out["stage.shuffle_read_mb"] += st.shuffleReadBytes() / MB
            out["stage.shuffle_write_mb"] += st.shuffleWriteBytes() / MB
            out["stage.spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / MB
    return out


class SqlReader:
    """Reads each SQL execution of the session once: its plan-node
    counts and the totals of its Python-node metrics."""

    def __init__(self, spark):
        self.spark = spark
        self.seen = -1

    def new_executions(self) -> list[dict]:
        store = self.spark._jsparkSession.sharedState().statusStore()
        execs = store.executionsList()
        out = []
        for i in range(execs.size()):
            e = execs.apply(i)
            eid = e.executionId()
            if eid <= self.seen:
                continue
            rec = dict.fromkeys(_PY_METRICS.values(), 0.0)
            rec.update({"id": eid, "exchanges": 0, "python_nodes": 0})
            values = store.executionMetrics(eid)
            nodes = store.planGraph(eid).allNodes()
            for n in range(nodes.size()):
                node = nodes.apply(n)
                if node.name() in ("Exchange", "BroadcastExchange"):
                    rec["exchanges"] += 1
                metrics = node.metrics()
                is_python = False
                for k in range(metrics.size()):
                    m = metrics.apply(k)
                    key = _PY_METRICS.get(m.name())
                    if key is None:
                        continue
                    is_python = True
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        rec[key] += parse_sql_metric(v.get(), m.metricType())
                rec["python_nodes"] += is_python
            out.append(rec)
            self.seen = max(self.seen, eid)
        return out


def process_tree(root: int) -> dict[int, list[str]]:
    """``/proc/<pid>/stat`` fields (after the command name) of ``root``
    and every descendant: the driver JVM, the Python worker daemon and
    its workers."""
    stats: dict[int, list[str]] = {}
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        stats[int(d)] = fields
        children.setdefault(int(fields[1]), []).append(int(d))
    tree, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            tree[pid] = stats[pid]
        todo.extend(children.get(pid, ()))
    return tree


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds (user + system, with reaped children) used so far by
    this process and its descendants.  Time the hypervisor steals from
    the machine is not charged to them, unlike wall time."""
    tick = os.sysconf("SC_CLK_TCK")
    tree = process_tree(root or os.getpid())
    return sum(sum(int(x) for x in f[11:15]) for f in tree.values()) / tick


def steal_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the machine from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7], sum(vals)


def _rss_tree_bytes(root: int) -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    return sum(int(f[21]) * page for f in process_tree(root).values())


class RssSampler:
    """Peak summed RSS of this process and every descendant (the driver
    JVM, the Python worker daemon and its workers), sampled from /proc."""

    def __init__(self, enabled: bool, interval_s: float = 0.2):
        self.enabled = enabled
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while True:
            self.peak = max(self.peak, _rss_tree_bytes(os.getpid()))
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self):
        if self.enabled:
            self._thread.start()
        return self

    def __exit__(self, *exc):
        if self.enabled:
            self._stop.set()
            self._thread.join(timeout=10)
        return False

    @property
    def peak_mb(self) -> float:
        return self.peak / MB
