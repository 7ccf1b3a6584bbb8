"""Measurement helpers: process counters from /proc, Spark's status
stores read through py4j, a streaming-progress listener and in-memory
spans. Nothing here changes what the engine runs."""

from __future__ import annotations

import os
import re
import statistics
import threading
import time
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener

CLK_TCK = os.sysconf("SC_CLK_TCK")


# ---------------------------------------------------------------- /proc

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
            kids.setdefault(ppid, []).append(int(d))
    return kids


def tree_cpu_s(root_pid: int | None = None) -> float:
    """CPU seconds (user+sys) of this process and every live descendant
    (the JVM and its Python workers), plus the reaped children."""
    root_pid = root_pid or os.getpid()
    kids = _children_map()
    total, todo = 0.0, [root_pid]
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields[11:15] = utime stime cutime cstime
        total += sum(int(x) for x in fields[11:15]) / CLK_TCK
        todo.extend(kids.get(pid, []))
    return total


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def live_heap_mb(spark) -> float:
    """JVM heap in use after a full collection: what the engine keeps
    live between cycles (state stores, caches, status history)."""
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    rt = jvm.java.lang.Runtime.getRuntime()
    return (rt.totalMemory() - rt.freeMemory()) / 2**20


def loadavg_1m() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies across all CPUs from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7], sum(vals[:8])


def dir_stats(path: str) -> tuple[int, int]:
    """(files, bytes) of the data files under `path`, hidden and
    metadata files excluded."""
    files = size = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


# ---------------------------------------------------------- statistics

def p50(xs) -> float:
    return statistics.median(xs) if xs else float("nan")


def tail(xs) -> tuple[float, float]:
    """(percentile, value): the highest percentile that still has at
    least 10 samples beyond it, nearest-rank."""
    xs = sorted(xs)
    n = len(xs)
    if n <= 10:
        return float("nan"), float("nan")
    pct = 100.0 * (n - 10) / n
    return pct, xs[n - 11]


# ------------------------------------------------------- status stores

class StatusStore:
    """Job, stage and SQL-execution metrics from the driver's status
    stores (reachable with spark.ui.enabled=false). py4j calls are slow,
    so read once, after the measured phase."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.jvm = sc._jvm
        self.gateway = sc._gateway
        self.app = sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()

    def _java(self, seq):
        return self.jvm.scala.jdk.javaapi.CollectionConverters.asJava(seq)

    def jobs(self) -> list[dict]:
        out = []
        for j in self._java(self.app.jobsList(None)):
            g, t0, t1 = j.jobGroup(), j.submissionTime(), j.completionTime()
            out.append({
                "job": j.jobId(),
                "group": g.get() if g.isDefined() else None,
                "stages": list(self._java(j.stageIds())),
                "submitted_ms": t0.get().getTime() if t0.isDefined() else None,
                "completed_ms": t1.get().getTime() if t1.isDefined() else None,
            })
        return out

    def stages(self) -> dict[int, dict]:
        arr = self.gateway.new_array(self.jvm.double, 0)
        lst = self.app.stageList(self.jvm.java.util.ArrayList(), False, False, arr,
                                 self.jvm.java.util.ArrayList())
        out = {}
        for s in self._java(lst):
            out[s.stageId()] = {
                "tasks": s.numTasks(),
                "task_s": s.executorRunTime() / 1e3,
                "executor_cpu_s": s.executorCpuTime() / 1e9,
                "input_records": s.inputRecords(),
                "shuffle_bytes": s.shuffleReadBytes() + s.shuffleWriteBytes(),
                "spill_bytes": s.memoryBytesSpilled() + s.diskBytesSpilled(),
            }
        return out

    def writes(self) -> list[dict]:
        """One row per SQL execution that wrote files: its job ids, files,
        dynamic partitions and bytes written."""
        out = []
        for e in self._java(self.sql.executionsList()):
            names = {m.accumulatorId(): m.name() for m in self._java(e.metrics())}
            if "number of written files" not in names.values():
                continue
            vals = self._java(self.sql.executionMetrics(e.executionId()))
            row = {"jobs": list(self._java(e.jobs()).keySet())}
            for acc in vals.keySet():
                name = names.get(acc)
                if name == "number of written files":
                    row["files"] = _count(vals.get(acc))
                elif name == "number of dynamic part":
                    row["parts"] = _count(vals.get(acc))
                elif name == "written output":
                    row["bytes"] = _size(vals.get(acc))
            out.append(row)
        return out


def _count(s: str) -> int:
    return int(s.replace(",", "").split()[0])


_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}


def _size(s: str) -> float:
    # a size metric prints as "5.8 KiB", or with several tasks as
    # "total (min, med, max ...)\n9.7 KiB (...)": take the first size
    m = re.search(r"([\d.,]+) (B|KiB|MiB|GiB|TiB)", s)
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)] if m else float("nan")


def group_totals(jobs, stages, writes, groups) -> dict:
    """Sum job/stage/write metrics over the jobs whose group is in
    `groups`."""
    return job_totals([j for j in jobs if j["group"] in groups], stages, writes)


def job_totals(sel, stages, writes) -> dict:
    job_ids = {j["job"] for j in sel}
    st = [stages[s] for j in sel for s in j["stages"] if s in stages]
    tot = {"jobs": len(sel), "stages": len(st)}
    for k in ("tasks", "task_s", "executor_cpu_s", "input_records", "shuffle_bytes", "spill_bytes"):
        tot[k] = sum(s[k] for s in st)
    w = [x for x in writes if job_ids & set(x["jobs"])]
    tot["writes"] = len(w)
    tot["files_written"] = sum(x.get("files", 0) for x in w)
    tot["bytes_written"] = sum(x.get("bytes", 0.0) for x in w)
    tot["parts_written"] = [x.get("parts", 0) for x in w]
    return tot


# -------------------------------------------------------------- tracing

class Tracer:
    """Spans kept in memory: (id, parent, name, start, end, attrs).
    Disabled, `span` costs one branch."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._lock = threading.Lock()
        self.hook_s = 0.0  # time spent inside tracing code itself
        self.t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        h = time.perf_counter()
        with self._lock:
            sid = len(self.spans)
            rec = {"id": sid, "parent": self._stack[-1] if self._stack else None,
                   "name": name, "start": 0.0, "end": 0.0, **attrs}
            self.spans.append(rec)
        self._stack.append(sid)
        rec["start"] = time.perf_counter() - self.t0
        self.hook_s += rec["start"] + self.t0 - h
        try:
            yield
        finally:
            h = time.perf_counter()
            rec["end"] = h - self.t0
            self._stack.pop()
            self.hook_s += time.perf_counter() - h

    def add(self, name: str, start: float, end: float, parent=None, **attrs) -> int:
        with self._lock:
            sid = len(self.spans)
            self.spans.append({"id": sid, "parent": parent, "name": name,
                               "start": start, "end": end, **attrs})
        return sid

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the part covered by its
        children (children of one span do not overlap in this harness,
        except streaming triggers, which are clipped to their parent)."""
        kids: dict[int, list] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered, edge = 0.0, s["start"]
            for c in sorted(kids.get(s["id"], []), key=lambda c: c["start"]):
                lo, hi = max(c["start"], edge, s["start"]), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    edge = hi
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
        return out


class TriggerListener(StreamingQueryListener):
    """One span per streaming trigger, with the durationMs parts as
    child spans, parented to whichever harness span is open when the
    progress event arrives."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        h = time.perf_counter()
        p = event.progress
        d = dict(p.durationMs)
        end = h - self.tracer.t0
        start = end - d.get("triggerExecution", 0) / 1e3
        stack = self.tracer._stack
        sid = self.tracer.add(f"trigger.{p.name}", start, end,
                              parent=stack[-1] if stack else None,
                              run_id=str(p.runId), batch=p.batchId, rows=p.numInputRows)
        at = start
        for part in ("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets"):
            if part in d:
                self.tracer.add(f"trigger.{p.name}.{part}", at, at + d[part] / 1e3, parent=sid)
                at += d[part] / 1e3
        self.tracer.hook_s += time.perf_counter() - h

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass
