"""Tracing from outside the engine.

Spans (name, start, end, parent, op) are recorded around each call the
benchmark makes into an engine module's public functions and kept in
memory. Each phase of an op runs under its own Spark job group; after
the workload ends, the group's jobs and stages are read back from
Spark's status store (which works with spark.ui.enabled=false), SQL
operator metrics from the SQL status store, and persisted blocks from
the storage store. Nothing here reads engine-private state.

With tracing disabled every method is a no-op, so the end-to-end run
pays nothing.
"""

from __future__ import annotations

import os
import re
import time
from collections import defaultdict
from contextlib import contextmanager

_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
}


def metric_value(text: str) -> float:
    """Parse a SQL-metric string: '5,000', '604 ms', '580.6 KiB', or the
    per-task form 'total (min, med, max ...)\\n9.2 s (...)' (the total)."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = re.match(r"\s*(-?[\d,]*\.?\d+)\s*([A-Za-z]*)", text)
    if m is None:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[list] = []  # [name, start, end, parent, op]
        self.ops: dict[str, dict] = {}  # op id -> {"kind", "warm", "rows"}
        self.bookkeeping_s = 0.0
        self._stack: list[int] = []
        self._op: str | None = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append([name, time.perf_counter(), None, parent, self._op])
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[sid][2] = time.perf_counter()

    @contextmanager
    def op(self, kind: str, warm: bool):
        """One timed operation; its phases get job groups '<op>:<phase>'."""
        if not self.enabled:
            yield
            return
        self._op = f"op{len(self.ops)}"
        self.ops[self._op] = {"kind": kind, "warm": warm, "rows": 0}
        try:
            with self.span("op"):
                yield
        finally:
            self.spark.sparkContext.setJobGroup("bench-idle", "between ops", False)
            self._op = None

    @contextmanager
    def phase(self, name: str):
        """A span whose Spark jobs are tagged with their own job group."""
        if not self.enabled:
            yield
            return
        self.spark.sparkContext.setJobGroup(f"{self._op}:{name}", name, False)
        with self.span(name):
            yield

    def set_rows(self, n: int) -> None:
        if self.enabled and self._op is not None:
            self.ops[self._op]["rows"] = n

    # -- read-back, after the workload ---------------------------------------
    def read_back(self) -> tuple[dict, dict]:
        """Counters per '<op>:<phase>' job group, read after the workload.

        From the status store: jobs, stages run, tasks, executor run/CPU/GC
        seconds, shuffle and spill MB. From the SQL status store, on the
        final (AQE) plan of each SQL execution: rows read by scans, and
        rows and worker seconds of Python UDF operators."""
        t0 = time.perf_counter()
        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        jvm = sc._jvm
        no_quantiles = sc._gateway.new_array(jvm.double, 0)
        stages: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        job_group: dict[int, str] = {}
        for group in sorted({f"{s[4]}:{s[0]}" for s in self.spans if s[4] is not None}):
            for job in tracker.getJobIdsForGroup(group):
                job_group[job] = group
                info = tracker.getJobInfo(job)
                c = stages[group]
                c["jobs"] += 1
                for sid in info.stageIds if info else ():
                    for sd in _seq(store.stageData(sid, False, jvm.java.util.ArrayList(), False, no_quantiles)):
                        if sd.status().toString() == "SKIPPED":
                            continue
                        c["stages"] += 1
                        c["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
                        c["failed_tasks"] += sd.numFailedTasks()
                        c["exec_run_s"] += sd.executorRunTime() / 1e3
                        c["exec_cpu_s"] += sd.executorCpuTime() / 1e9
                        c["gc_s"] += sd.jvmGcTime() / 1e3
                        c["shuffle_read_mb"] += sd.shuffleReadBytes() / 2**20
                        c["shuffle_write_mb"] += sd.shuffleWriteBytes() / 2**20
                        c["spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / 2**20

        sql: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        sql_store = self.spark._jsparkSession.sharedState().statusStore()
        for ex in _seq(sql_store.executionsList()):
            jobs = [int(j) for j in _seq(ex.jobs().keys())]
            group = next((job_group[j] for j in jobs if j in job_group), None)
            if group is None:
                continue
            values = sql_store.executionMetrics(ex.executionId())
            for node in _seq(sql_store.planGraph(ex.executionId()).allNodes()):
                name = node.name()
                if name.startswith("Scan"):
                    wanted = {"number of output rows": "input_rows"}
                elif "Python" in name or "Pandas" in name:
                    wanted = {"number of output rows": "udf_rows", "time to run Python workers": "udf_s"}
                else:
                    continue
                for m in _seq(node.metrics()):
                    key = wanted.get(m.name())
                    v = values.get(m.accumulatorId())
                    if key and v.isDefined():
                        sql[group][key] += metric_value(v.get())
        self.bookkeeping_s += time.perf_counter() - t0
        return stages, sql

    def cached_blocks(self) -> tuple[int, float]:
        """(persisted RDDs, MB they hold in memory) from the storage store."""
        t0 = time.perf_counter()
        rdds = _seq(self.spark.sparkContext._jsc.sc().statusStore().rddList(True))
        mb = sum(r.memoryUsed() for r in rdds) / 2**20
        self.bookkeeping_s += time.perf_counter() - t0
        return len(rdds), mb

    def self_time(self) -> dict[tuple[str, str], float]:
        """Seconds per (op, span name) not covered by the span's children."""
        child = defaultdict(float)
        for name, start, end, parent, _ in self.spans:
            if parent is not None:
                child[parent] += end - start
        out = defaultdict(float)
        for sid, (name, start, end, _, op) in enumerate(self.spans):
            out[(op, name)] += end - start - child[sid]
        return out

    def span_time(self) -> dict[tuple[str, str], float]:
        """Seconds per (op, span name), children included."""
        out = defaultdict(float)
        for name, start, end, _, op in self.spans:
            out[(op, name)] += end - start
        return out


    def write(self, path: str) -> None:
        """Write the spans as JSON: one [name, start, end, parent, op] each."""
        import json

        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"ops": self.ops, "spans": self.spans}, f)


def _seq(scala_seq) -> list:
    """A Scala collection (or Java list) as a Python list."""
    it = scala_seq.iterator()
    out = []
    while it.hasNext():
        out.append(it.next())
    return out
