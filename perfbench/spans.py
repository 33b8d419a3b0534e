"""Spans and the Spark stage ledger, recorded from the benchmark's side.

A span wraps one call into an engine layer: name, start, end, parent span
and run id. Spans live in memory and are written out when the run ends.
While a span is open its thread's Spark job group names the span, so after
it closes the jobs it ran are found with
``statusTracker().getJobIdsForGroup`` and each stage's counters are read
with ``statusStore().lastStageAttempt`` — both work with the UI disabled.
A child span sets its own group, so a span's ledger holds only the jobs it
ran itself (its self work); inclusive counts are summed over its subtree.

With tracing off, ``span`` still yields a Span that records only its wall
time: no job group is set and no ledger is read.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

LEDGER_KEYS = ("jobs", "stages", "tasks", "max_scan_tasks", "exec_run_ms", "exec_cpu_ms",
               "shuffle_read_b", "shuffle_write_b", "input_b")


@dataclass
class Span:
    name: str
    span_id: int
    parent_id: int | None
    run_id: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)
    ledger: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark, run_id: str, enabled: bool):
        self.spark = spark
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        #: seconds spent in the tracer's own bookkeeping (ledger reads)
        self.self_s = 0.0
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        parent = stack[-1] if stack else None
        sp = Span(name, next(self._ids), parent.span_id if parent else None, self.run_id,
                  time.perf_counter(), attrs=dict(attrs))
        if self.enabled:
            self._set_group(sp)
        stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            if self.enabled:
                t0 = time.perf_counter()
                sp.ledger = stage_ledger(self.spark, self._group(sp))
                self._set_group(parent)
                with self._lock:
                    self.spans.append(sp)
                    self.self_s += time.perf_counter() - t0

    def _group(self, sp: Span) -> str:
        return f"pb-{self.run_id}-{sp.span_id}"

    def _set_group(self, sp: Span | None) -> None:
        """Labels this thread's next Spark jobs with `sp`'s job group (none
        for None)."""
        sc = self.spark.sparkContext
        if sp is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(self._group(sp), sp.name)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def inclusive(self, sp: Span) -> dict:
        """The ledger summed over `sp` and every span below it."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            kids.setdefault(s.parent_id, []).append(s)
        out = dict.fromkeys(LEDGER_KEYS, 0)
        todo = [sp]
        while todo:
            s = todo.pop()
            for k in LEDGER_KEYS:
                v = s.ledger.get(k, 0)
                out[k] = max(out[k], v) if k == "max_scan_tasks" else out[k] + v
            todo.extend(kids.get(s.span_id, ()))
        return out

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s), sort_keys=True) + "\n")


def stage_ledger(spark, group: str) -> dict:
    """Counters of every job Spark ran under `group`, from the status store:
    job, stage and task counts, the largest scan stage's task count, summed
    executor run and CPU time, shuffle and input bytes."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    out = dict.fromkeys(LEDGER_KEYS, 0)
    seen: set[int] = set()
    for jid in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        out["jobs"] += 1
        for sid in info.stageIds:
            if sid in seen:
                continue
            seen.add(sid)
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 — a stage skipped or evicted from the store
                continue
            if st.status().toString() != "COMPLETE":
                continue
            tasks = st.numCompleteTasks()
            out["stages"] += 1
            out["tasks"] += tasks
            out["exec_run_ms"] += st.executorRunTime()
            out["exec_cpu_ms"] += st.executorCpuTime() / 1e6
            out["shuffle_read_b"] += st.shuffleReadBytes()
            out["shuffle_write_b"] += st.shuffleWriteBytes()
            out["input_b"] += st.inputBytes()
            if st.inputBytes() > 0:
                out["max_scan_tasks"] = max(out["max_scan_tasks"], tasks)
    return out


def progress_summary(progress: list[dict]) -> list[dict]:
    """Per-batch numbers from a StreamingQuery's recentProgress."""
    rows = []
    for p in progress:
        d = p.get("durationMs", {})
        ops = p.get("stateOperators", [])
        rows.append({
            "batch": p.get("batchId"),
            "input_rows": p.get("numInputRows", 0),
            "trigger_ms": d.get("triggerExecution", 0),
            "add_batch_ms": d.get("addBatch", 0),
            "query_planning_ms": d.get("queryPlanning", 0),
            "wal_commit_ms": d.get("walCommit", 0),
            "state_store_instances": sum(o.get("numStateStoreInstances", 0) for o in ops),
            "state_commit_ms": sum(o.get("commitTimeMs", 0) for o in ops),
            "state_rows_total": sum(o.get("numRowsTotal", 0) for o in ops),
            "state_memory_b": sum(o.get("memoryUsedBytes", 0) for o in ops),
            "rows_dropped_by_watermark": sum(o.get("numRowsDroppedByWatermark", 0) for o in ops),
        })
    return rows
