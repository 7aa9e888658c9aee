"""Traced-run instrumentation, all from outside the package.

- ``Tracer`` wraps public entry points of the engine at run time and records
  one span per call: name, start, end, parent span and trace id (the batch,
  cycle or read it belongs to). Spans stay in memory and are written out
  when the run ends. Self time is a span's duration minus its children's.
- ``StageCollector`` reads the Spark stages of one job group from the
  driver's status store right after the group finishes (the store evicts
  stages beyond ``spark.ui.retainedStages``; it is kept with the UI off).
"""

from __future__ import annotations

import functools
import importlib
import json
import statistics
from contextlib import contextmanager
from dataclasses import asdict, dataclass
from time import perf_counter

# (module, class or None for a module function, attribute, span name)
SPAN_TARGETS = [
    ("patuha_etl_dlt_spark.cdc.engine", "CdcEngine", "apply_batch", "cdc.engine.apply"),
    ("patuha_etl_dlt_spark.lake.table", "LakeTable", "merge", "lake.table.merge"),
    ("patuha_etl_dlt_spark.lake.table", "LakeTable", "compact_deltas", "lake.table.compact"),
    ("patuha_etl_dlt_spark.lake.table", "LakeTable", "lookup", "lake.table.lookup"),
    ("patuha_etl_dlt_spark.lake.metadata", None, "write_snapshot", "lake.metadata.write_snapshot"),
    ("patuha_etl_dlt_spark.lake.metadata", None, "read_snapshot", "lake.metadata.read_snapshot"),
    ("patuha_etl_dlt_spark.cdc.checkpoint", "CheckpointStore", "commit", "cdc.checkpoint.commit"),
    ("patuha_etl_dlt_spark.cdc.checkpoint", "CheckpointStore", "read", "cdc.checkpoint.read"),
    ("patuha_etl_dlt_spark.cdc.evolution", None, "evolve_table", "cdc.evolution.evolve"),
    ("patuha_etl_dlt_spark.cdc.evolution", None, "evolve_from_source", "cdc.evolution.evolve"),
    ("patuha_etl_dlt_spark.cdc.orchestrator", "SyncOrchestrator", "pull_cycle", "cdc.orchestrator.cycle"),
]


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    trace: str


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._trace: str | None = None
        self._patched: list[tuple[object, str, object]] = []

    # ------------------------------------------------------------ wrapping

    def install(self) -> None:
        for mod_name, cls, attr, name in SPAN_TARGETS:
            mod = importlib.import_module(mod_name)
            owner = getattr(mod, cls) if cls else mod
            orig = getattr(owner, attr)
            setattr(owner, attr, self._wrap(orig, name))
            self._patched.append((owner, attr, orig))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if self._trace is None:
                return fn(*args, **kwargs)
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        s = Span(name, perf_counter(), 0.0, parent, self._trace or "")
        self.spans.append(s)
        self._stack.append(idx)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = perf_counter()

    @contextmanager
    def trace(self, trace_id: str, root: str):
        """Record every wrapped call made inside the block under one root
        span named ``root``."""
        self._trace = trace_id
        try:
            with self.span(root) as s:
                yield s
        finally:
            self._trace = None

    # ------------------------------------------------------------ analysis

    def children(self) -> dict[int, list[int]]:
        kids: dict[int, list[int]] = {}
        for i, s in enumerate(self.spans):
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(i)
        return kids

    def total(self, name: str, traces: set[str]) -> float:
        return sum(s.end - s.start for s in self.spans if s.name == name and s.trace in traces)

    def count(self, name: str, traces: set[str]) -> int:
        return sum(1 for s in self.spans if s.name == name and s.trace in traces)

    def self_time(self, name: str, traces: set[str], minus: set[str] | None = None) -> float:
        """Summed duration of ``name`` spans less their direct children
        (only children named in ``minus``, when given)."""
        kids = self.children()
        out = 0.0
        for i, s in enumerate(self.spans):
            if s.name != name or s.trace not in traces:
                continue
            covered = sum(
                self.spans[c].end - self.spans[c].start
                for c in kids.get(i, [])
                if minus is None or self.spans[c].name in minus
            )
            out += (s.end - s.start) - covered
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({"id": i, **asdict(s)}) + "\n")


class StageCollector:
    """Per-job-group Spark stage metrics from the status store."""

    def __init__(self, spark, cores: int):
        self.sc = spark.sparkContext
        self.cores = cores
        self.rows: list[dict] = []

    def begin(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def end(self, group: str, wall_s: float, loop: bool) -> None:
        """Close the group; for a loop op (batch or cycle) keep its stages."""
        sc = self.sc
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        if not loop:
            return
        tracker = sc.statusTracker()
        jobs = list(tracker.getJobIdsForGroup(group))
        wanted = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                wanted.update(info.stageIds)
        jvm = sc._jvm
        store = sc._jsc.sc().statusStore()
        no_quantiles = sc._gateway.new_array(jvm.double, 0)
        stages = store.stageList(
            jvm.java.util.ArrayList(), False, False, no_quantiles, jvm.java.util.ArrayList()
        )
        row = {
            "group": group, "wall_s": wall_s, "jobs": len(jobs), "stages": 0, "tasks": 0,
            "failed_tasks": 0, "run_s": 0.0, "shuffle_write_mb": 0.0, "spill_mb": 0.0,
            "gc_s": 0.0, "skew": 1.0,
        }
        heaviest = None
        it = stages.iterator()
        while it.hasNext():
            s = it.next()
            if s.stageId() not in wanted or s.status().toString() == "SKIPPED":
                continue
            run_ms = s.executorRunTime()
            row["stages"] += 1
            row["tasks"] += s.numCompleteTasks() + s.numFailedTasks()
            row["failed_tasks"] += s.numFailedTasks()
            row["run_s"] += run_ms / 1e3
            row["shuffle_write_mb"] += s.shuffleWriteBytes() / 2**20
            row["spill_mb"] += (s.memoryBytesSpilled() + s.diskBytesSpilled()) / 2**20
            row["gc_s"] += s.jvmGcTime() / 1e3
            if s.numTasks() > 1 and (heaviest is None or run_ms > heaviest[0]):
                heaviest = (run_ms, s.stageId(), s.attemptId())
        if heaviest is not None:
            q = sc._gateway.new_array(jvm.double, 2)
            q[0], q[1] = 0.5, 1.0
            summary = store.taskSummary(heaviest[1], heaviest[2], q)
            if summary.isDefined():
                run_q = summary.get().executorRunTime()  # Scala IndexedSeq
                med, mx = run_q.apply(0), run_q.apply(1)
                row["skew"] = mx / med if med > 0 else 1.0
        row["busy_share"] = row["run_s"] / (wall_s * self.cores) if wall_s > 0 else 0.0
        self.rows.append(row)

    def summary(self) -> dict:
        rows = self.rows
        n = max(1, len(rows))

        def mean(k):
            return sum(r[k] for r in rows) / n

        return {
            "spark.jobs_per_batch": mean("jobs"),
            "spark.stages_per_batch": mean("stages"),
            "spark.tasks_per_batch": mean("tasks"),
            "spark.failed_tasks": sum(r["failed_tasks"] for r in rows),
            "spark.executor_run_s": mean("run_s"),
            "spark.core_busy_share": mean("busy_share"),
            "spark.shuffle_write_mb": mean("shuffle_write_mb"),
            "spark.spill_mb": mean("spill_mb"),
            "spark.jvm_gc_s": mean("gc_s"),
            "spark.task_skew": statistics.median([r["skew"] for r in rows]) if rows else 1.0,
        }
