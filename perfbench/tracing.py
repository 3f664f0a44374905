"""Benchmark-side tracing: in-memory spans around each layer's public
calls, one Spark job group per operation, and Spark's own stage metrics
joined to those operations through the driver's status REST endpoint.

Nothing here touches program code.  Spans are recorded by the benchmark
around its calls into the engine; the job group lets every Spark job an
operation triggers (however deep inside the program) be attributed back
to it.  Spans stay in memory and are written once, at exit.
"""

from __future__ import annotations

import json
import time
import urllib.parse
import urllib.request
from contextlib import contextmanager


class Tracer:
    """Records spans (name, start, end, parent, op id) when ``enabled``;
    otherwise every method is a cheap no-op apart from the op timing the
    end-to-end metrics need anyway."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._op: str | None = None
        self.bookkeeping_s = 0.0

    @contextmanager
    def op(self, op_id: str, name: str):
        """One benchmark operation: its own Spark job group and a root span."""
        if self.enabled:
            t = time.perf_counter()
            self.sc.setJobGroup(op_id, name, interruptOnCancel=False)
            self.bookkeeping_s += time.perf_counter() - t
        self._op = op_id
        try:
            with self.span(name):
                yield
        finally:
            self._op = None
            if self.enabled:
                t = time.perf_counter()
                self.sc.setJobGroup("perfbench-idle", "between operations")
                self.bookkeeping_s += time.perf_counter() - t

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        t = time.perf_counter()
        rec = {
            "name": name,
            "op": self._op,
            "parent": self._stack[-1] if self._stack else None,
            "start": t,
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        self.bookkeeping_s += time.perf_counter() - t
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def durations(self, name: str) -> list[float]:
        """Durations (ms) of every finished span called ``name``."""
        return [
            (s["end"] - s["start"]) * 1000.0
            for s in self.spans
            if s["name"] == name and s["end"] is not None
        ]

    def op_spans(self) -> dict[str, dict]:
        """Root span of each operation, keyed by op id."""
        return {s["op"]: s for s in self.spans if s["op"] and s["parent"] is None}


def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as resp:
        return json.loads(resp.read())


def harvest_stage_metrics(sc, settle_s: float = 10.0) -> dict[str, dict]:
    """Spark's per-stage task metrics summed per job group.

    The status store is fed asynchronously by the listener bus, so the job
    list is polled until it stops growing before stages are read.  Returns
    ``{job_group: {jobs, stages, tasks, executor_run_ms, executor_cpu_ms,
    gc_ms, input_rows, input_bytes, shuffle_read_bytes, shuffle_write_bytes,
    spill_bytes}}``."""
    # the UI listens on every interface; ask it over loopback
    port = urllib.parse.urlsplit(sc.uiWebUrl).port
    base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"
    deadline = time.monotonic() + settle_s
    jobs, seen = [], -1
    while time.monotonic() < deadline:
        jobs = _get(f"{base}/jobs")
        running = [j for j in jobs if j.get("status") == "RUNNING"]
        if len(jobs) == seen and not running:
            break
        seen = len(jobs)
        time.sleep(0.3)
    stages = {}
    for st in _get(f"{base}/stages"):
        # a retried stage appears once per attempt; all attempts did work
        stages.setdefault(st["stageId"], []).append(st)
    out: dict[str, dict] = {}
    for job in jobs:
        group = job.get("jobGroup")
        if not group:
            continue
        acc = out.setdefault(
            group,
            {
                "jobs": 0,
                "stages": 0,
                "tasks": 0,
                "executor_run_ms": 0.0,
                "executor_cpu_ms": 0.0,
                "gc_ms": 0.0,
                "input_rows": 0,
                "input_bytes": 0,
                "shuffle_read_bytes": 0,
                "shuffle_write_bytes": 0,
                "spill_bytes": 0,
            },
        )
        acc["jobs"] += 1
        for sid in job.get("stageIds", []):
            for st in stages.get(sid, []):
                if st.get("status") == "SKIPPED":
                    continue
                acc["stages"] += 1
                acc["tasks"] += st.get("numCompleteTasks", 0) + st.get("numFailedTasks", 0)
                acc["executor_run_ms"] += st.get("executorRunTime", 0)
                acc["executor_cpu_ms"] += st.get("executorCpuTime", 0) / 1e6
                acc["gc_ms"] += st.get("jvmGcTime", 0)
                acc["input_rows"] += st.get("inputRecords", 0)
                acc["input_bytes"] += st.get("inputBytes", 0)
                acc["shuffle_read_bytes"] += st.get("shuffleReadBytes", 0)
                acc["shuffle_write_bytes"] += st.get("shuffleWriteBytes", 0)
                acc["spill_bytes"] += st.get("memoryBytesSpilled", 0) + st.get(
                    "diskBytesSpilled", 0
                )
    return out
