"""Spans around calls into the engine's layers, tagged Spark jobs, and
the Spark event log that attributes executor work to each span.

Spans are recorded only in the traced run (``--trace 1``); the file
helpers serve both modes. A span records name, layer, start, end,
parent and the run id; while it is open every Spark job
started on the driver thread carries the span's job group
(``<run id>:<span id>``). After ``spark.stop()`` the event log is read
back and each job, stage, task and SQL execution is charged to the
span whose group it carries.

Self time of a span is its duration minus the part of it covered by
its child spans, so the self times of all spans plus the client time
outside any span add up to the measured wall time.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import time
from collections import defaultdict
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    layer: str
    name: str
    parent: int | None
    run_id: str
    start: float
    end: float = 0.0
    counts: dict = field(default_factory=lambda: defaultdict(float))


class NullTracer:
    """Tracing off: spans cost one attribute lookup and record nothing."""

    enabled = False

    def span(self, layer: str, name: str | None = None):
        return contextlib.nullcontext(None)


class Tracer:
    enabled = True

    def __init__(self, sc, run_id: str):
        self.sc = sc
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def _set_group(self, s: Span | None) -> None:
        if s is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"{self.run_id}:{s.id}", s.name)

    @contextlib.contextmanager
    def span(self, layer: str, name: str | None = None):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), layer, name or layer,
                 parent.id if parent else None, self.run_id, time.perf_counter())
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)

    def wrap(self, owner, attr: str, layer: str, stack: contextlib.ExitStack,
             hook=None) -> None:
        """Replace ``owner.attr`` by a spanned version until ``stack``
        closes. ``hook(span, args)`` runs inside the span and returns a
        callable that is given the result, for per-call counters."""
        original = getattr(owner, attr)

        @functools.wraps(original)
        def spanned(*args, **kwargs):
            with self.span(layer, f"{layer}:{attr}") as s:
                after = hook(s, args) if hook else None
                out = original(*args, **kwargs)
                if after:
                    after(out)
                return out

        setattr(owner, attr, spanned)
        stack.callback(setattr, owner, attr, original)


# -- files -------------------------------------------------------------

def tree_files(root: str) -> dict[str, int]:
    """Path → size of every regular file under ``root``."""
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            with contextlib.suppress(FileNotFoundError):
                out[p] = os.path.getsize(p)
    return out


def data_files(files: dict[str, int]) -> dict[str, int]:
    """Drop Spark's checksum and marker files."""
    return {p: n for p, n in files.items()
            if not os.path.basename(p).startswith((".", "_"))}


# -- event log ---------------------------------------------------------

_PY_MARKERS = ("Python", "Pandas", "InArrow")


def _plan_counts(info: dict, acc: dict) -> None:
    name = info.get("nodeName", "")
    if name == "Exchange":
        acc["exchanges"] += 1
    elif name == "BroadcastExchange":
        acc["broadcast_exchanges"] += 1
    elif name.startswith("Scan ExistingRDD") or name == "ExistingRDD":
        acc["rdd_scans"] += 1
    elif name == "LocalTableScan":
        acc["local_scans"] += 1
    if any(m in name for m in _PY_MARKERS):
        acc["python_nodes"] += 1
    if name == "ReusedExchange":
        return  # its child is counted where the exchange first ran
    for child in info.get("children", []):
        _plan_counts(child, acc)


def plan_counts(plan_info: dict) -> dict[str, int]:
    acc = dict.fromkeys(
        ("exchanges", "broadcast_exchanges", "rdd_scans", "local_scans", "python_nodes"), 0)
    _plan_counts(plan_info, acc)
    return acc


def read_event_log(log_dir: str) -> list[dict]:
    paths = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    if len(paths) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {paths}")
    with open(paths[0]) as f:
        return [json.loads(line) for line in f if line.strip()]


def _is_python_stage(stage_info: dict) -> bool:
    for rdd in stage_info.get("RDD Info", []):
        scope = rdd.get("Scope") or ""
        if any(m in rdd.get("Name", "") or m in scope for m in _PY_MARKERS):
            return True
    return False


def charge_events(events: list[dict], run_id: str) -> dict[int, dict]:
    """Executor and plan counters per span id, from the event log.

    Jobs map to spans by job group; stages and tasks by the job that
    first listed the stage; SQL executions by the group of their jobs,
    using the last (final, adaptive) plan posted for the execution.
    """
    stage_span: dict[int, int] = {}
    exec_span: dict[int, int] = {}
    exec_plan: dict[int, dict] = {}
    per: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    prefix = f"{run_id}:"
    for ev in events:
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            group = props.get("spark.jobGroup.id") or ""
            if not group.startswith(prefix):
                continue
            sid = int(group[len(prefix):])
            per[sid]["jobs"] += 1
            for st in ev.get("Stage IDs", []):
                stage_span.setdefault(st, sid)
            if "spark.sql.execution.id" in props:
                exec_span.setdefault(int(props["spark.sql.execution.id"]), sid)
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            sid = stage_span.get(info["Stage ID"])
            if sid is not None and info.get("Number of Tasks", 0) and _is_python_stage(info):
                per[sid]["python_stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            sid = stage_span.get(ev.get("Stage ID"))
            m = ev.get("Task Metrics")
            if sid is None or not m:
                continue
            acc = per[sid]
            acc["tasks"] += 1
            acc["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
            acc["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            sr = m.get("Shuffle Read Metrics", {})
            acc["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            acc["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
            acc["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            out = m.get("Output Metrics", {})
            acc["records_written"] += out.get("Records Written", 0)
            acc["bytes_written"] += out.get("Bytes Written", 0)
        elif kind.endswith(("SparkListenerSQLExecutionStart", "SparkListenerSQLAdaptiveExecutionUpdate")):
            exec_plan[ev["executionId"]] = ev["sparkPlanInfo"]
    for eid, sid in exec_span.items():
        if eid in exec_plan:
            for k, v in plan_counts(exec_plan[eid]).items():
                per[sid][f"plan.{k}"] += v
    return per


def self_times(spans: list[Span]) -> dict[int, float]:
    """Duration minus time covered by children (children never overlap:
    one client thread opens them in sequence)."""
    out = {s.id: s.end - s.start for s in spans}
    for s in spans:
        if s.parent is not None:
            out[s.parent] -= s.end - s.start
    return out
