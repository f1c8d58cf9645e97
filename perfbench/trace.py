"""Spans around the benchmark's calls into each layer, and the fold of
Spark's own counters into per-layer numbers.

A span is (id, name, parent, start, end, run id).  Batch layers get one span
per call, with ``setJobGroup(<span name>)`` so the Spark event log's task
metrics group by layer.  Streams get one span per micro-batch, built from
``StreamingQueryProgress``, with its ``durationMs`` phases as child spans.
Spans stay in memory and are written once, when the run ends.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import time
from datetime import datetime

# MicroBatchExecution's phase order inside one trigger
STREAM_PHASES = (
    "latestOffset",
    "walCommit",
    "getBatch",
    "queryPlanning",
    "addBatch",
    "commitOffsets",
)


class Tracer:
    """In-memory span recorder.  ``enabled=False`` keeps the same call
    sites but records nothing and touches no Spark state."""

    def __init__(self, run_id: str, enabled: bool, spark=None):
        self.run_id = run_id
        self.enabled = enabled
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield attrs
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "start": time.time(),
            "attrs": attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        sc = self.spark.sparkContext if self.spark is not None else None
        if sc is not None:
            sc.setJobGroup(name, name)
        try:
            yield attrs
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if sc is not None:
                if self._stack:
                    outer = self.spans[self._stack[-1]]["name"]
                    sc.setJobGroup(outer, outer)
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)

    def add(self, name: str, start: float, end: float, parent: int | None, **attrs) -> int:
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent,
            "run_id": self.run_id,
            "start": start,
            "end": end,
            "attrs": attrs,
        }
        self.spans.append(rec)
        return rec["id"]

    def self_time(self, span: dict) -> float:
        """Span duration minus the part of it its children cover."""
        ivs = sorted(
            (max(c["start"], span["start"]), min(c["end"], span["end"]))
            for c in self.spans
            if c["parent"] == span["id"]
        )
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in ivs:
            if e <= s:
                continue
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return span["end"] - span["start"] - covered

    def self_times(self, root: int | None = None) -> dict[str, float]:
        """Total self time per span name, over ``root`` and the spans below
        it (all spans if ``root`` is None)."""
        inside = set() if root is not None else {sp["id"] for sp in self.spans}
        for sp in self.spans:  # a parent is recorded before its children
            if sp["id"] == root or sp["parent"] in inside:
                inside.add(sp["id"])
        out: dict[str, float] = {}
        for sp in self.spans:
            if sp["id"] in inside:
                out[sp["name"]] = out.get(sp["name"], 0.0) + self.self_time(sp)
        return out

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"run_id": self.run_id, "spans": self.spans, **extra}, fh)


# ---------------------------------------------------------------------------
# StreamingQueryProgress
# ---------------------------------------------------------------------------


def progress_time(p: dict) -> float:
    """Trigger start of one progress record, as a unix time."""
    ts = p["timestamp"].replace("Z", "+00:00")
    return datetime.fromisoformat(ts).timestamp()


def commit_time(p: dict) -> float:
    return progress_time(p) + p["durationMs"].get("triggerExecution", 0) / 1000.0


def stream_spans(tracer: Tracer, progress: list[dict], parent: int | None) -> None:
    """One span per micro-batch, its durationMs phases as children laid end
    to end in execution order."""
    for p in progress:
        t0 = progress_time(p)
        sid = tracer.add(
            "stream.batch", t0, commit_time(p), parent, batch_id=p["batchId"],
            rows=p.get("numInputRows", 0),
        )
        t = t0
        for ph in STREAM_PHASES:
            d = p["durationMs"].get(ph)
            if d is None:
                continue
            tracer.add(f"stream.{ph}", t, t + d / 1000.0, sid, batch_id=p["batchId"])
            t += d / 1000.0


def _median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def fold_progress(progress: list[dict]) -> dict[str, float]:
    """Per-batch medians of the fixed phases and state-operator counters."""
    data = [p for p in progress if p.get("numInputRows", 0) > 0]
    ops = [op for p in data for op in p.get("stateOperators", [])]
    last_ops = data[-1].get("stateOperators", []) if data else []
    return {
        "stream.batches": float(len(data)),
        "stream.latest_offset_ms": _median(p["durationMs"].get("latestOffset", 0) for p in data),
        "stream.query_planning_ms": _median(p["durationMs"].get("queryPlanning", 0) for p in data),
        "stream.add_batch_ms": _median(p["durationMs"].get("addBatch", 0) for p in data),
        "stream.wal_commit_ms": _median(p["durationMs"].get("walCommit", 0) for p in data),
        "stream.commit_offsets_ms": _median(p["durationMs"].get("commitOffsets", 0) for p in data),
        "stream.state_rows": float(sum(op.get("numRowsTotal", 0) for op in last_ops)),
        "stream.state_bytes": float(sum(op.get("memoryUsedBytes", 0) for op in last_ops)),
        "stream.state_update_ms": _median(op.get("allUpdatesTimeMs", 0) for op in ops),
        "stream.state_commit_ms": _median(op.get("commitTimeMs", 0) for op in ops),
        "stream.late_rows": float(late_rows(progress)),
    }


def late_rows(progress: list[dict]) -> int:
    return sum(
        op.get("numRowsDroppedByWatermark", 0)
        for p in progress
        for op in p.get("stateOperators", [])
    )


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------


def read_event_log(log_dir: str) -> list[dict]:
    """Events of the (uncompressed, non-rolling) application log in
    ``log_dir``; call after ``spark.stop()`` so the log is complete."""
    events = []
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name)) as fh:
            for line in fh:
                line = line.strip()
                if line:
                    events.append(json.loads(line))
    return events


def _acc(task_info: dict, name: str) -> float:
    for a in task_info.get("Accumulables", []):
        if a.get("Name") == name:
            try:
                return float(a.get("Update", 0))
            except (TypeError, ValueError):
                return 0.0
    return 0.0


class TaskFold:
    """Task metrics of one application, keyed by the job group (span name)
    or the streaming SQL execution that ran them."""

    def __init__(self, events: list[dict], cores: int, window: tuple[float, float]):
        """Keep tasks launched inside ``window`` (unix seconds)."""
        self.cores = cores
        stage_group: dict[int, str | None] = {}
        stage_exec: dict[int, int | None] = {}
        self.exec_desc: dict[int, str] = {}
        self.stage_wall: dict[int, float] = {}
        self.stage_heap: dict[int, float] = {}
        self.tasks: list[dict] = []
        for ev in events:
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                ex = props.get("spark.sql.execution.id")
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, props.get("spark.jobGroup.id"))
                    stage_exec.setdefault(sid, int(ex) if ex is not None else None)
            elif kind == "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart":
                self.exec_desc[ev["executionId"]] = ev.get("physicalPlanDescription", "")
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                if info.get("Submission Time") and info.get("Completion Time"):
                    self.stage_wall[info["Stage ID"]] = (
                        info["Completion Time"] - info["Submission Time"]
                    ) / 1000.0
            elif kind == "SparkListenerStageExecutorMetrics":
                peak = (ev.get("Executor Metrics") or {}).get("JVMHeapMemory", 0)
                sid = ev["Stage ID"]
                self.stage_heap[sid] = max(self.stage_heap.get(sid, 0), peak)
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                ti = ev.get("Task Info") or {}
                if not window[0] <= ti.get("Launch Time", 0) / 1000.0 <= window[1]:
                    continue
                sid = ev["Stage ID"]
                sw = m.get("Shuffle Write Metrics") or {}
                out = m.get("Output Metrics") or {}
                self.tasks.append(
                    {
                        "stage": sid,
                        "group": stage_group.get(sid),
                        "exec": stage_exec.get(sid),
                        "run_s": m.get("Executor Run Time", 0) / 1000.0,
                        "input_bytes": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
                        "input_records": (m.get("Input Metrics") or {}).get("Records Read", 0),
                        "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
                        "spill_bytes": m.get("Disk Bytes Spilled", 0),
                        "out_records": out.get("Records Written", 0),
                        "out_bytes": out.get("Bytes Written", 0),
                        "py_bytes_in": _acc(ti, "data sent to Python workers"),
                        "py_bytes_out": _acc(ti, "data returned from Python workers"),
                        "py_run_s": _acc(ti, "time to run Python workers") / 1000.0,
                    }
                )

    def select(self, groups=None, pred=None) -> list[dict]:
        return [
            t
            for t in self.tasks
            if (groups is None or t["group"] in groups) and (pred is None or pred(t))
        ]

    @staticmethod
    def total(tasks: list[dict], key: str) -> float:
        return float(sum(t[key] for t in tasks))

    def slot_idle_frac(self, tasks: list[dict]) -> float:
        """1 - (task run time) / (stage wall x cores) over the stages of
        ``tasks``."""
        stages = {t["stage"] for t in tasks}
        wall = sum(self.stage_wall.get(s, 0.0) for s in stages) * self.cores
        return 1.0 - self.total(tasks, "run_s") / wall if wall > 0 else 0.0

    def heap_peak_bytes(self) -> float:
        """Peak JVM heap in use over the stages that ran tasks in the
        window, as Spark's executor-metrics poller saw it."""
        stages = {t["stage"] for t in self.tasks}
        return float(max((self.stage_heap.get(s, 0) for s in stages), default=0))

    def writes_to(self, t: dict, fragment: str) -> bool:
        return t["out_records"] > 0 and fragment in self.exec_desc.get(t["exec"], "")
