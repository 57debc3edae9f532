"""Tracing for the per-layer run: spans kept in memory, the Spark event
log reduced to engine counters per job group, the in-process kernel
probe, and the peak-RSS reader."""

from __future__ import annotations

import glob
import json
import os
import statistics
import time


class Tracer:
    """Spans (name, start, end, parent, workload) held in memory and
    written out once, when the run ends."""

    def __init__(self, workload: str):
        self.workload = workload
        self.spans: list[dict] = []
        self._t0 = time.perf_counter()

    def span(self, name: str, parent: int | None = None):
        return _Span(self, name, parent)

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


class _Span:
    def __init__(self, tracer: Tracer, name: str, parent: int | None):
        self.tracer, self.name, self.parent = tracer, name, parent

    def __enter__(self):
        self.start = time.perf_counter() - self.tracer._t0
        self.id = len(self.tracer.spans)
        self.tracer.spans.append(None)  # reserve the id in start order
        return self

    def __exit__(self, *exc):
        self.tracer.spans[self.id] = {
            "id": self.id, "name": self.name, "parent": self.parent,
            "workload": self.tracer.workload, "start": self.start,
            "end": time.perf_counter() - self.tracer._t0,
            "error": exc[0].__name__ if exc[0] else None,
        }
        return False


# ── Spark event log ───────────────────────────────────────────────────

_PY_SENT = "data sent to Python workers"
_PY_RETURNED = "data returned from Python workers"


def event_log_counters(log_dir: str) -> dict:
    """Engine counters per job group (``sc.setJobGroup``) from the event
    logs under ``log_dir``: task count and failures, executor CPU, GC,
    spill, shuffle, input/output bytes, Python-worker bytes, and the
    broadcast hash joins of the group's executed plans."""
    stage_group: dict[int, str] = {}
    exec_group: dict[str, str] = {}
    plans: dict[str, dict] = {}
    out: dict[str, dict] = {}

    def group(g: str) -> dict:
        return out.setdefault(g, dict.fromkeys(
            ["tasks", "task_failures", "cpu_s", "gc_s", "spill_bytes",
             "shuffle_bytes", "bytes_read", "bytes_written", "py_bytes_sent",
             "py_bytes_returned", "broadcast_joins"], 0))

    # Spark 4 writes rolling logs: one directory per application holding
    # events_<n>_<app> files
    paths = sorted(glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True)
                   or glob.glob(os.path.join(log_dir, "*")))
    for path in paths:
        with open(path) as f:
            for raw in f:
                ev = json.loads(raw)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    g = props.get("spark.jobGroup.id")
                    if g is None:
                        continue
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = g
                    if "spark.sql.execution.id" in props:
                        exec_group[props["spark.sql.execution.id"]] = g
                elif kind.endswith("SparkListenerSQLExecutionStart") or \
                        kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                    plans[str(ev["executionId"])] = ev.get("sparkPlanInfo") or {}
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev.get("Stage ID"))
                    if g is None:
                        continue
                    c = group(g)
                    c["tasks"] += 1
                    if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                        c["task_failures"] += 1
                    m = ev.get("Task Metrics") or {}
                    c["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    c["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    c["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                         + m.get("Disk Bytes Spilled", 0))
                    c["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    c["bytes_read"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                    c["bytes_written"] += (m.get("Output Metrics") or {}).get(
                        "Bytes Written", 0)
                    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                        if acc.get("Name") == _PY_SENT:
                            c["py_bytes_sent"] += int(acc.get("Update", 0))
                        elif acc.get("Name") == _PY_RETURNED:
                            c["py_bytes_returned"] += int(acc.get("Update", 0))
    for eid, g in exec_group.items():
        c = group(g)
        c["broadcast_joins"] = max(c["broadcast_joins"],
                                   _count_nodes(plans.get(eid, {}), "BroadcastHashJoin"))
    return out


def _count_nodes(info: dict, name: str) -> int:
    n = int(info.get("nodeName", "") == name)
    return n + sum(_count_nodes(c, name) for c in info.get("children", []))


# ── kernel probe ──────────────────────────────────────────────────────


def kernel_probe(lines: list[str], spec, reps: int = 3) -> dict:
    """Time the tier-1 split kernel and the NumPy walker in this process
    (one core, no JVM) on a workload's own line mix: the split kernel on
    every line, the walker on the rows the split kernel left undecided."""
    import numpy as np
    import pyarrow as pa

    from logparser_spark.operators.fastsplit import compile_any_split_plan
    from logparser_spark.operators.walker_np import batch_walk_arrow

    arr = pa.array(lines, pa.string())
    plan = compile_any_split_plan(spec)
    rx = spec.to_fast_regex()
    split_s, walk_s = [], []
    for _ in range(reps):
        t0 = time.perf_counter()
        _, valid = plan.run(arr, rx)
        split_s.append(time.perf_counter() - t0)
        decided = np.asarray(valid.to_numpy(zero_copy_only=False), dtype=bool)
        sub = arr.filter(pa.array(~decided))
        t0 = time.perf_counter()
        batch_walk_arrow(sub, spec)
        walk_s.append(time.perf_counter() - t0)
    walked = len(sub)
    return {
        "kernel_split_lines_per_s": len(lines) / statistics.median(split_s),
        "kernel_walker_lines_per_s": walked / statistics.median(walk_s) if walked else 0.0,
        "fast_hit_frac": float(decided.sum()) / len(lines),
        "walker_lines": walked,
    }


# ── memory ────────────────────────────────────────────────────────────


def _stat(pid) -> list[str] | None:
    """Fields of ``/proc/<pid>/stat`` after the command name, or None
    when the process is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def descendants(root: int) -> list[int]:
    """Every process below ``root``: the JVM and the Python workers it
    forked."""
    children: dict[int, list[int]] = {}
    for st in glob.glob("/proc/[0-9]*/stat"):
        pid = st.split("/")[2]
        fields = _stat(pid)
        if fields:
            children.setdefault(int(fields[1]), []).append(int(pid))
    out, todo = [], [root]
    while todo:
        kids = children.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


def alive(pid: int) -> bool:
    fields = _stat(pid)
    return fields is not None and fields[0] != "Z"


def peak_rss_mb() -> float:
    """Peak RSS (``VmHWM``) summed over this process and every process
    below it."""
    total_kb = 0
    for pid in [os.getpid()] + descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024
