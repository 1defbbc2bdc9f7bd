"""Spans, Spark status-store counters and host readings for the benchmark.

Spans are recorded by the benchmark's own code around each call into a
layer's public function. Each span runs under its own Spark job group,
so every job (and through it every stage and task) is attributed to the
innermost span that launched it. Counters come from Spark's status store
(``sc._jsc.sc().statusStore()``), which is populated with the UI off;
they are read once, after the measured region, as two JSON documents.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

GROUP_PREFIX = "perfbench-"


class Tracer:
    """In-memory span recorder. With ``enabled=False`` every span is a
    no-op except that the measured region still runs under one job
    group, so untraced runs can total their counters."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.overhead_s = 0.0

    def _set_group(self, sid: int | None, name: str = "") -> None:
        if sid is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"{GROUP_PREFIX}{sid}", name)

    @contextmanager
    def span(self, name: str, op: int | None = None, force: bool = False):
        """Record ``name`` around the body. ``force`` records it even
        when tracing is off (used for the one region span of an
        untraced run)."""
        if not (self.enabled or force):
            yield None
            return
        t_in = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = self.spans[parent]["op"]
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": parent, "op": op}
        self.spans.append(rec)
        self._stack.append(sid)
        self._set_group(sid, name)
        rec["start"] = time.time()
        t0 = time.perf_counter()
        self.overhead_s += t0 - t_in
        try:
            yield rec
        finally:
            t1 = time.perf_counter()
            rec["end"] = time.time()
            rec["dur"] = t1 - t0
            self._stack.pop()
            self._set_group(parent, self.spans[parent]["name"]
                            if parent is not None else "")
            self.overhead_s += time.perf_counter() - t1

    def self_times(self) -> dict[int, float]:
        """Span duration minus the durations of its direct children
        (children of one span run one after another)."""
        out = {s["id"]: s["dur"] for s in self.spans}
        for s in self.spans:
            if s["parent"] is not None:
                out[s["parent"]] -= s["dur"]
        return out


def _mapper(jvm):
    m = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    m.registerModule(jvm.com.fasterxml.jackson.module.scala
                     .DefaultScalaModule())
    return m


def read_status_store(sc) -> tuple[list[dict], dict[int, dict]]:
    """All jobs, and the executed attempt metrics of every stage, from
    the status store as plain dicts (two JVM calls, not one per field)."""
    jvm = sc._jvm
    store = sc._jsc.sc().statusStore()
    m = _mapper(jvm)
    jobs = json.loads(m.writeValueAsString(store.jobsList(None)))
    quant = sc._gateway.new_array(jvm.double, 0)
    stages = json.loads(m.writeValueAsString(
        store.stageList(None, False, False, quant, None)))
    by_id: dict[int, dict] = {}
    for st in stages:
        if st.get("status") == "SKIPPED":
            continue
        agg = by_id.setdefault(st["stageId"], {
            "tasks": 0, "failed_tasks": 0, "task_ms": 0, "gc_ms": 0,
            "input_b": 0, "output_b": 0, "shuffle_read_b": 0,
            "shuffle_write_b": 0, "spill_b": 0})
        agg["tasks"] += st.get("numCompleteTasks", 0) \
            + st.get("numFailedTasks", 0)
        agg["failed_tasks"] += st.get("numFailedTasks", 0)
        agg["task_ms"] += st.get("executorRunTime", 0)
        agg["gc_ms"] += st.get("jvmGcTime", 0)
        agg["input_b"] += st.get("inputBytes", 0)
        agg["output_b"] += st.get("outputBytes", 0)
        agg["shuffle_read_b"] += st.get("shuffleReadBytes", 0)
        agg["shuffle_write_b"] += st.get("shuffleWriteBytes", 0)
        agg["spill_b"] += st.get("diskBytesSpilled", 0)
    return jobs, by_id


COUNTER_KEYS = ("jobs", "stages", "tasks", "failed_tasks", "task_ms",
                "gc_ms", "input_b", "output_b", "shuffle_read_b",
                "shuffle_write_b", "spill_b")


def attribute(jobs: list[dict], stages: dict[int, dict]
              ) -> tuple[dict[str, dict], dict[str, list]]:
    """Counters per job group, and each group's job intervals
    ``(submit_s, complete_s)``. A stage is charged to the first job that
    lists it: later jobs list a reused shuffle stage too, as skipped."""
    seen: set[int] = set()
    per: dict[str, dict] = {}
    spans: dict[str, list] = {}
    for j in sorted(jobs, key=lambda j: j["jobId"]):
        g = j.get("jobGroup") or ""
        c = per.setdefault(g, dict.fromkeys(COUNTER_KEYS, 0))
        c["jobs"] += 1
        for sid in j.get("stageIds", []):
            if sid in seen or sid not in stages:
                continue
            seen.add(sid)
            c["stages"] += 1
            for k, v in stages[sid].items():
                if k in c:
                    c[k] += v
        if j.get("submissionTime") and j.get("completionTime"):
            spans.setdefault(g, []).append(
                (j["submissionTime"] / 1e3, j["completionTime"] / 1e3))
    return per, spans


def union_len(intervals: list[tuple[float, float]],
              lo: float | None = None, hi: float | None = None) -> float:
    """Length of the union of intervals, clipped to ``[lo, hi]``."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(intervals):
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def peak_rss_mb(sc) -> float:
    """VmHWM of the driver JVM plus this Python process, in MB."""
    def hwm(pid) -> float:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        return 0.0
    jvm_pid = sc._jvm.java.lang.ProcessHandle.current().pid()
    return hwm(jvm_pid) + hwm(os.getpid())


def host_load() -> dict:
    """Load average, one single-thread memory-bandwidth sample (numpy sum
    over 128 MB) and the host's CPU tick counters, so a run carries its
    own contention evidence."""
    import numpy as np
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    a = np.ones(16 * 1024 * 1024, dtype=np.float64)
    t0 = time.perf_counter()
    a.sum()
    gbps = a.nbytes / 1e9 / (time.perf_counter() - t0)
    return {"loadavg": load, "membw_gbps": round(gbps, 2), "ticks": ticks}


def steal_share(start: dict, end: dict) -> float:
    """Share of CPU time the hypervisor took from this VM between two
    ``host_load`` readings (the ``steal`` column of /proc/stat)."""
    d = [b - a for a, b in zip(start["ticks"], end["ticks"])]
    return d[7] / max(1, sum(d[:8]))
