"""Spans around layer calls, Spark task metrics folded per span, and
process memory.

A span is opened from the benchmark's own code around a call into one
layer. While it is open, every Spark job the call submits carries the
span's name and id as its job description, so the ``SparkListenerTaskEnd``
rows of the session's event log can be folded per span afterwards. Spans
stay in memory and are written once, at exit.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from collections import defaultdict
from typing import Optional

# Spark spans the traced run reports, even where a workload never opens
# one (the value is then 0), so every workload prints the same metric set.
SPARK_SPANS = (
    "fused.annotate",
    "materialize.edges",
    "canonicalize.vertices",
    "canonicalize.edges",
    "checkpoint.run_stage",
    "graph.closure",
)
SPAN_FIELDS = {
    "s": "s",
    "self_s": "s",
    "jobs": "count",
    "tasks": "count",
    "task_run_s": "s",
    "shuffle_write_b": "B",
    "spill_b": "B",
    "failed_tasks": "count",
}


class Tracer:
    """Records spans when ``enabled``; a no-op otherwise, so the untraced
    run pays nothing for the instrumentation."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list = []
        self._stack: list = []
        self.op: Optional[int] = None

    def _describe(self, rec: Optional[dict]) -> None:
        self.sc.setJobDescription(f"{rec['name']}#{rec['id']}" if rec else None)

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": self.op,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self._describe(rec)
        rec["start"] = time.perf_counter()
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._describe(parent)

    @contextlib.contextmanager
    def wrap(self, owner, attr: str, name: str):
        """Open span ``name`` around every call of ``owner.attr`` — for a
        layer reached inside another public function (``run_pipeline``)."""
        if not self.enabled:
            yield
            return
        original = getattr(owner, attr)

        def traced(*args, **kwargs):
            with self.span(name):
                return original(*args, **kwargs)

        setattr(owner, attr, traced)
        try:
            yield
        finally:
            setattr(owner, attr, original)

    def self_times(self) -> dict:
        """span id -> duration minus the part its child spans cover."""
        own = {s["id"]: s["end"] - s["start"] for s in self.spans}
        for s in self.spans:
            if s["parent"] is not None:
                own[s["parent"]] -= s["end"] - s["start"]
        return own


def fold_event_log(log_dir: str) -> dict:
    """Fold one uncompressed Spark event log into per-description totals:
    {description: {jobs, tasks, task_run_s, shuffle_write_b, spill_b,
    failed_tasks}}. A stage is attributed to the description of the job
    that submitted it."""
    paths = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    if len(paths) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {paths}")
    stage_desc: dict = {}
    out: dict = defaultdict(lambda: defaultdict(float))
    with open(paths[0], encoding="utf-8") as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                desc = (ev.get("Properties") or {}).get("spark.job.description")
                out[desc]["jobs"] += 1
                for sid in ev["Stage IDs"]:
                    stage_desc[sid] = desc
            elif kind == "SparkListenerStageSubmitted":
                desc = (ev.get("Properties") or {}).get("spark.job.description")
                stage_desc[ev["Stage Info"]["Stage ID"]] = desc
            elif kind == "SparkListenerTaskEnd":
                agg = out[stage_desc.get(ev["Stage ID"])]
                agg["tasks"] += 1
                metrics = ev.get("Task Metrics") or {}
                agg["task_run_s"] += metrics.get("Executor Run Time", 0) / 1000.0
                agg["shuffle_write_b"] += (
                    metrics.get("Shuffle Write Metrics") or {}
                ).get("Shuffle Bytes Written", 0)
                agg["spill_b"] += metrics.get("Memory Bytes Spilled", 0) + metrics.get(
                    "Disk Bytes Spilled", 0
                )
                if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                    agg["failed_tasks"] += 1
    return out


def span_units() -> dict:
    return {
        f"{name}.{field}": unit
        for name in SPARK_SPANS
        for field, unit in SPAN_FIELDS.items()
    }


def span_metrics(tracer: Tracer, folded: dict, n_ops: int) -> dict:
    """Per-operation means of every field in SPAN_FIELDS for each span in
    SPARK_SPANS, over the spans recorded in measured operations."""
    own = tracer.self_times()
    totals = {name: defaultdict(float) for name in SPARK_SPANS}
    for s in tracer.spans:
        if s["op"] is None or s["name"] not in totals:
            continue
        t = totals[s["name"]]
        t["s"] += s["end"] - s["start"]
        t["self_s"] += own[s["id"]]
        for key, value in folded.get(f"{s['name']}#{s['id']}", {}).items():
            t[key] += value
    return {
        f"{name}.{field}": totals[name][field] / n_ops
        for name in SPARK_SPANS
        for field in SPAN_FIELDS
    }


def _tree(root_pid: int) -> dict:
    """pid -> fields after the command name of /proc/<pid>/stat, for
    ``root_pid`` and all its descendants."""
    stats: dict = {}
    kids: dict = defaultdict(list)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="utf-8") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        stats[int(entry)] = fields
        kids[int(fields[1])].append(int(entry))
    out, todo = {}, [root_pid]
    while todo:
        pid = todo.pop()
        todo.extend(kids[pid])
        if pid in stats:
            out[pid] = stats[pid]
    return out


def tree_pids(root_pid: int) -> list:
    """``root_pid`` followed by its live descendants."""
    return [root_pid] + [pid for pid in _tree(root_pid) if pid != root_pid]


def pid_alive(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat", encoding="utf-8") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def reset_tree_hwm(root_pid: int) -> None:
    """Reset VmHWM to the current resident size for ``root_pid`` and its
    descendants (``clear_refs`` 5), so a later ``tree_hwm_mb`` reads the
    peak of the phase that follows."""
    for pid in _tree(root_pid):
        try:
            with open(f"/proc/{pid}/clear_refs", "w", encoding="utf-8") as fh:
                fh.write("5")
        except OSError:
            continue


def tree_hwm_mb(root_pid: int) -> tuple:
    """VmHWM of ``root_pid`` (the JVM) and the sum of VmHWM over its
    descendants (the Python workers it forks), in MiB."""
    own = rest = 0
    for pid in _tree(root_pid):
        try:
            with open(f"/proc/{pid}/status", encoding="utf-8") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        kb = int(line.split()[1])
                        if pid == root_pid:
                            own = kb
                        else:
                            rest += kb
                        break
        except OSError:
            continue
    return own / 1024.0, rest / 1024.0
