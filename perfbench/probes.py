"""Measurement probes used by the benchmark, all read from outside the engine.

- host: /proc/stat CPU split (kernel share of busy time) and the peak RSS of
  this process's descendants (the driver JVM and its Python workers).
- tracer: in-memory spans around calls into the engine's public functions;
  each span sets a Spark job group so status-store jobs attach to it.
- spark: stage metrics from the driver's status store and SQL row/byte
  metrics from an executed plan.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager

# ---------------------------------------------------------------------------
# host probes (/proc; psutil is not available)
# ---------------------------------------------------------------------------


def cpu_times() -> tuple[int, int]:
    """(busy, kernel) jiffies summed over all CPUs from /proc/stat."""
    with open("/proc/stat") as fh:
        f = [int(v) for v in fh.readline().split()[1:]]
    user, nice, system, _idle, _iowait, irq, softirq = f[:7]
    steal = f[7] if len(f) > 7 else 0
    kernel = system + irq + softirq
    return user + nice + kernel + steal, kernel


def sys_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    busy = after[0] - before[0]
    return (after[1] - before[1]) / busy if busy > 0 else 0.0


def descendants(root: int) -> list[int]:
    """Pids of every live descendant of `root` (from /proc/<pid>/stat)."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_peak_rss_mb(root: int) -> float:
    """Sum of VmHWM (per-process peak RSS) over root's descendants."""
    kb = 0
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024.0


class HostSampler:
    """Samples /proc around each job: kernel share of busy CPU and peak RSS.
    Storm-tainted jobs (kernel share above STORM) are kept and counted."""

    STORM = 0.10

    def __init__(self):
        self.sys_shares: list[float] = []
        self.peak_rss_mb = 0.0
        self._pid = os.getpid()

    @contextmanager
    def around(self):
        before = cpu_times()
        try:
            yield
        finally:
            self.sys_shares.append(sys_share(before, cpu_times()))
            self.peak_rss_mb = max(self.peak_rss_mb, tree_peak_rss_mb(self._pid))

    @property
    def storm_jobs(self) -> int:
        return sum(s > self.STORM for s in self.sys_shares)

    def median_sys_share(self) -> float:
        return statistics.median(self.sys_shares) if self.sys_shares else 0.0


# ---------------------------------------------------------------------------
# tracing
# ---------------------------------------------------------------------------


class NullTracer:
    """Untraced runs: spans cost nothing and record nothing."""

    @contextmanager
    def span(self, name: str):
        yield None


class Tracer:
    """Spans (name, start, end, parent, group) kept in memory; each span sets
    its id as the Spark job group so status-store jobs attach to it. Jobs
    submitted from threads the benchmark does not own (lineage's bucket
    pool) carry no group and are attached by submission time instead."""

    def __init__(self, spark, trace_id: str):
        self.sc = spark.sparkContext
        self.trace_id = trace_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.attached: dict[int, list[dict]] = {}  # span id -> Spark jobs, see attach_jobs

    def _set_group(self, span: dict | None):
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span["group"], span["name"])

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sp = {
            "id": len(self.spans),
            "trace": self.trace_id,
            "name": name,
            "parent": parent["id"] if parent else None,
            "group": f"{self.trace_id}/{len(self.spans)}",
            "start": time.time(),
            "end": None,
        }
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group(sp)
        try:
            yield sp
        finally:
            sp["end"] = time.time()
            self._stack.pop()
            self._set_group(parent)

    def add(self, name: str, start: float, end: float, parent: int | None) -> dict:
        """Record an interval timed elsewhere (set-up before the session
        existed, Spark jobs from the status store)."""
        sp = {"id": len(self.spans), "trace": self.trace_id, "name": name,
              "parent": parent, "group": None, "start": start, "end": end}
        self.spans.append(sp)
        return sp

    def children(self, span_id: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == span_id]

    def subtree(self, span_id: int) -> list[dict]:
        out, todo = [], [span_id]
        while todo:
            sid = todo.pop()
            out.append(self.spans[sid])
            todo.extend(c["id"] for c in self.children(sid))
        return out

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: duration minus the part of its
        interval covered by child spans."""
        out: dict[str, float] = {}
        for s in self.spans:
            ivs = sorted((c["start"], c["end"]) for c in self.children(s["id"]))
            covered, cur_s, cur_e = 0.0, None, None
            for a, b in ivs:
                if cur_e is None or a > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = a, b
                else:
                    cur_e = max(cur_e, b)
            if cur_e is not None:
                covered += cur_e - cur_s
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
        return out

    def write(self, path: str):
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "self_s": self.self_times()}, fh, indent=1)


# ---------------------------------------------------------------------------
# Spark status store + plan metrics (py4j; the UI is disabled but the
# driver's status store is live)
# ---------------------------------------------------------------------------


def _opt(o):
    return o.get() if o.isDefined() else None


class SparkStats:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        jvm = self.sc._jvm
        self._no_status = jvm.java.util.ArrayList()
        self._q = self.sc._gateway.new_array(jvm.double, 2)
        self._q[0], self._q[1] = 0.5, 1.0

    def jobs(self, after_job_id: int = -1) -> list[dict]:
        jl = self.store.jobsList(None)
        out = []
        for i in range(jl.size()):
            j = jl.apply(i)
            if j.jobId() <= after_job_id:
                continue
            sub, done = _opt(j.submissionTime()), _opt(j.completionTime())
            ids = j.stageIds()
            out.append({
                "job_id": j.jobId(),
                "name": j.name(),
                "group": _opt(j.jobGroup()),
                "status": j.status().toString(),
                "start": sub.getTime() / 1000.0 if sub is not None else None,
                "end": done.getTime() / 1000.0 if done is not None else None,
                "stage_ids": [ids.apply(k) for k in range(ids.size())],
            })
        return sorted(out, key=lambda r: r["job_id"])

    def last_job_id(self) -> int:
        jobs = self.jobs()
        return jobs[-1]["job_id"] if jobs else -1

    def stage(self, stage_id: int, summaries: bool = False) -> dict | None:
        try:
            sd = self.store.stageAttempt(stage_id, 0, False, self._no_status, summaries, self._q)._1()
        except Exception:  # skipped/evicted stages have no attempt 0 record
            return None
        out = {
            "status": sd.status().toString(),
            "tasks": sd.numTasks(),
            "failed_tasks": sd.numFailedTasks(),
            "run_ms": sd.executorRunTime(),
            "gc_ms": sd.jvmGcTime(),
            "deser_ms": sd.executorDeserializeTime(),
            "result_ser_ms": sd.resultSerializationTime(),
            "shuffle_write_bytes": sd.shuffleWriteBytes(),
            "shuffle_write_records": sd.shuffleWriteRecords(),
            "output_bytes": sd.outputBytes(),
        }
        if summaries:
            dist = _opt(sd.taskMetricsDistributions())
            if dist is not None:
                rt = dist.executorRunTime()
                out["task_run_p50_ms"], out["task_run_max_ms"] = rt.apply(0), rt.apply(1)
        return out


def attach_jobs(tracer: Tracer, jobs: list[dict]) -> dict[int, list[dict]]:
    """span id -> jobs it caused: by job group when the job carries one,
    else the innermost span whose interval holds the submission time."""
    by_group = {s["group"]: s["id"] for s in tracer.spans if s["group"] is not None}
    out: dict[int, list[dict]] = {}
    for j in jobs:
        sid = by_group.get(j["group"]) if j["group"] is not None else None
        if sid is None and j["start"] is not None:
            inside = [s for s in tracer.spans if s["start"] <= j["start"] <= s["end"]]
            if inside:
                sid = max(inside, key=lambda s: s["start"])["id"]
        if sid is not None:
            out.setdefault(sid, []).append(j)
    return out


def plan_metrics(df) -> list[tuple[str, dict]]:
    """(node name, {metric: value}) for every node of the executed plan,
    descending into adaptive query stages."""
    out = []

    def walk(node):
        vals = {}
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            vals[kv._1()] = kv._2().value()
        name = node.nodeName()
        out.append((name, vals))
        if name.endswith("QueryStage") or name.startswith("AdaptiveSparkPlan"):
            inner = node.plan() if name.endswith("QueryStage") else node.executedPlan()
            walk(inner)
            return
        ch = node.children().iterator()
        while ch.hasNext():
            walk(ch.next())

    walk(df._jdf.queryExecution().executedPlan())
    return out
