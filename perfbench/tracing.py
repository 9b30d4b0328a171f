"""Spans and counters recorded from outside the engine.

The engine is not instrumented: every span wraps one call into an
engine module from the benchmark's side, and every counter is read
from what the process already exposes (``ApplyStats``/``DmlStats``
returned by the engine, the JVM through py4j, ``/proc`` for the JVM
process, and Spark's status tracker). Spans live in memory and are
written out once, when the run ends.
"""

from __future__ import annotations

import os
import resource
import time
from collections import defaultdict
from contextlib import contextmanager

_CLK_TCK = os.sysconf("SC_CLK_TCK")


class JvmProbe:
    """Cumulative counters of the driver JVM and the Python driver."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.jvm = spark._jvm
        self.pid = self.sc._gateway.proc.pid
        self._codegen = self.jvm.org.apache.spark.metrics.source.CodegenMetrics
        self._mf = self.jvm.java.lang.management.ManagementFactory

    def codegen(self) -> tuple[int, float]:
        """(compiles, seconds) so far. The compile-time histogram keeps a
        sample reservoir, not a sum: the sum of the retained samples is
        scaled by count/retained, which is exact while fewer compiles
        than the reservoir size (1028) have happened."""
        hist = self._codegen.METRIC_COMPILATION_TIME()
        count = int(hist.getCount())
        # one py4j call for the whole array, not one per element
        text = str(self.jvm.java.util.Arrays.toString(hist.getSnapshot().getValues()))
        values = [int(v) for v in text.strip("[]").split(",") if v.strip()]
        if not values:
            return count, 0.0
        return count, sum(values) * count / len(values) / 1000.0

    def gc_s(self) -> float:
        beans = self._mf.getGarbageCollectorMXBeans()
        return sum(max(0, int(b.getCollectionTime())) for b in beans) / 1000.0

    def cpu_s(self) -> float:
        """User + system CPU of the JVM process (all its threads)."""
        with open(f"/proc/{self.pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
        return (int(fields[11]) + int(fields[12])) / _CLK_TCK

    def jvm_hwm_mb(self) -> float:
        with open(f"/proc/{self.pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        return 0.0

    @staticmethod
    def py_maxrss_mb() -> float:
        return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0

    def peak_mem_mb(self) -> float:
        """JVM VmHWM plus the Python driver's max RSS: both high-water
        marks since their process started (child processes excluded)."""
        return self.jvm_hwm_mb() + self.py_maxrss_mb()

    def sample(self) -> dict:
        compiles, codegen_s = self.codegen()
        return {
            "codegen_compiles": compiles,
            "codegen_s": codegen_s,
            "gc_s": self.gc_s(),
            "jvm_cpu_s": self.cpu_s(),
            "py_cpu_s": time.process_time(),
        }

    def job_counts(self, group: str) -> dict:
        """Jobs, stages, tasks and failed tasks Spark ran under one job
        group (the status tracker keeps the most recent 1000 jobs)."""
        st = self.sc.statusTracker()
        out = {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0}
        for jid in st.getJobIdsForGroup(group):
            info = st.getJobInfo(jid)
            if info is None:
                continue
            out["jobs"] += 1
            for sid in info.stageIds:
                stage = st.getStageInfo(sid)
                if stage is None:
                    continue
                out["stages"] += 1
                out["tasks"] += stage.numTasks
                out["failed_tasks"] += stage.numFailedTasks
        return out


class Tracer:
    """Spans (name, start, end, parent, run id) kept in memory.

    Disabled, ``span`` only yields: the untraced run pays one context
    manager per call and nothing else. Enabled, each span samples the
    JVM counters at both boundaries and runs its Spark jobs under its
    own job group, so jobs/stages/tasks are attributed to the
    innermost span that caused them.
    """

    def __init__(self, spark, enabled: bool, run_id: str) -> None:
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.overhead_s = 0.0
        self.probe = JvmProbe(spark) if enabled else None
        self.sc = spark.sparkContext

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        t_in = time.perf_counter()
        sp = {
            "id": len(self.spans),
            "parent": self._stack[-1]["id"] if self._stack else None,
            "run_id": self.run_id,
            "name": name,
            "attrs": attrs,
        }
        self.spans.append(sp)
        self._stack.append(sp)
        sp["c0"] = self.probe.sample()
        self.sc.setJobGroup(f"{self.run_id}:{sp['id']}", name)
        sp["start"] = time.perf_counter()
        self.overhead_s += sp["start"] - t_in
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            self._stack.pop()
            parent = self._stack[-1] if self._stack else None
            if parent is not None:
                self.sc.setJobGroup(f"{self.run_id}:{parent['id']}", parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            c1 = self.probe.sample()
            sp["counters"] = {k: c1[k] - sp["c0"][k] for k in c1}
            del sp["c0"]
            sp["spark"] = self.probe.job_counts(f"{self.run_id}:{sp['id']}")
            self.overhead_s += time.perf_counter() - sp["end"]

    def self_times(self, root_id: int) -> dict[str, float]:
        """Self time per span name within the subtree of ``root_id``:
        a span's duration minus the time its children cover (children
        of one span never overlap: the benchmark issues calls one at a
        time)."""
        children: dict[int, list[dict]] = defaultdict(list)
        for sp in self.spans:
            if sp["parent"] is not None:
                children[sp["parent"]].append(sp)
        out: dict[str, float] = defaultdict(float)
        todo = [self.spans[root_id]]
        while todo:
            sp = todo.pop()
            kids = children[sp["id"]]
            covered = sum(k["end"] - k["start"] for k in kids)
            out[sp["name"]] += (sp["end"] - sp["start"]) - covered
            todo.extend(kids)
        return dict(out)

    def spark_totals(self, root_id: int) -> dict[str, int]:
        """Spark job counts summed over the subtree of ``root_id``."""
        ids = {root_id}
        total = {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0}
        for sp in self.spans:  # parents precede children in the list
            if sp["id"] in ids or sp["parent"] in ids:
                ids.add(sp["id"])
                for k in total:
                    total[k] += sp["spark"][k]
        return total


def walk(table_path: str) -> dict[str, int]:
    """Relative path -> size of every file under a table directory."""
    out = {}
    for d, _, files in os.walk(table_path):
        for f in files:
            p = os.path.join(d, f)
            out[os.path.relpath(p, table_path)] = os.path.getsize(p)
    return out


def written(before: dict[str, int], after: dict[str, int]) -> tuple[int, int]:
    """(bytes, files) that appeared or changed between two walks."""
    new = [p for p, s in after.items() if before.get(p) != s]
    return sum(after[p] for p in new), len(new)


def live_files(snapshot: dict | None) -> list[str]:
    """Base and delta files the snapshot references."""
    if not snapshot:
        return []
    out = []
    for meta in snapshot["buckets"].values():
        out.extend(meta.get("files", []))
        for d in meta.get("deltas", []):
            out.extend(d.get("files", []))
    return out
